package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Coarse quantizer for IVF-style ANN: spherical k-means fitted with
  * deterministic Lloyd iterations expressed as DataFrame aggregations, so
  * the DuckDB oracle can replicate the fit bit-for-bit (no MLlib RNG, no
  * driver-side state).
  *
  * Determinism design (per the engine's cross-engine float rules):
  *   - A centroid is the per-dimension exact DECIMAL(38,9) SUM of its
  *     members' components, not their mean — cosine similarity is
  *     scale-invariant, so argmax-cos against the sum equals argmax-cos
  *     against the mean, and the sum never re-quantizes a derived quotient.
  *   - Products x·s are quantized at scale 9 (|x·s| ≲ 1e5: position 4+
  *     digits inside the double repr), centroid norm terms s² at scale 4
  *     (|s²| up to ~1e9 — same rule as the engine's other squared sums).
  *   - Assignment ties (equal cosine) break to the lowest cell id via
  *     row_number, a total order both engines share.
  *
  * Scale shape: the fit is O(n_fit·k·d) with one shuffle per assignment
  * and per update, where n_fit is the SAMPLE size: `sampleEvery = s` fits
  * on the deterministic systematic sample id % s == 0 (oracle-replicable,
  * no RNG) and only the single FINAL assignment — one broadcast join
  * against k·d centroid rows, embarrassingly parallel — touches the full
  * corpus. That is exactly how IVF quantizers are trained in practice: at
  * 100 TB, Lloyd passes over the corpus are unaffordable and unnecessary
  * (centroids converge on a sample), so pick s to bring n/s down to
  * millions. Seeding: the k lowest-id SAMPLE vectors are the initial
  * centroids (cells are labelled by their seed vector id).
  */
object IvfQuantizer {

  /** Adaptive cell count for corpus-bounded cell sizes:
    * k = max(kmin, ceil(n / targetCell)). The operating rule for
    * every-vector audits (the label-noise shape): a FIXED k makes the
    * within-cell candidate set n/k — so an all-cells self-join enumerates
    * ~n²/k pairs, quadratic with a constant. Deriving k from the corpus
    * count pins cell size at ≤ ~targetCell, so total audit candidates are
    * n·targetCell — linear. Same derivation pattern as
    * [[graft.ops.Vectors.adaptiveSignBits]]: both engines compute k from
    * count(*) with identical integer arithmetic (ceil as (n+c−1) div c),
    * so the fitted cells stay bit-identical cross-engine.
    *
    * Residual cost terms under k ∝ n (spelled out, not hidden): the final
    * full-corpus assignment scores n·k = n²/targetCell centroid pairs. It
    * is shuffle-free (one broadcast of k·d centroid doubles, scored
    * partition-locally) but FLOPs grow quadratically, and the broadcast
    * table itself reaches ~n·d/targetCell doubles. Past the point where
    * k·d stops being broadcastable (k ≈ 10⁷ cells at d=64 → ~5 GB),
    * compose hierarchically: route through a √k-cell coarse quantizer
    * first, then fit per-coarse-cell sub-quantizers (the grouped-fit
    * machinery `grpCols` already runs G fits in one job) — routing cost
    * returns to n·√k and each sub-fit sees a bounded slice.
    */
  def adaptiveK(n: Long, targetCell: Long, kmin: Int = 2): Int = {
    require(targetCell >= 1, "targetCell must be >= 1")
    math.max(kmin.toLong, (n + targetCell - 1) / targetCell).toInt
  }

  /** DuckDB scalar-subquery fragment mirroring [[adaptiveK]] — yields one
    * row `(k)`; use as a CTE body (`kparam AS (...)`) and reference it as
    * `(SELECT k FROM kparam)` in [[lloydSql]]'s `kExpr`.
    */
  def sqlAdaptiveK(table: String, targetCell: Long, kmin: Int = 2): String =
    s"SELECT greatest($kmin, (count(*) + ${targetCell - 1}) // $targetCell) AS k FROM $table"

  /** Per-LEVEL cell count for the TWO-LEVEL hierarchical fit:
    * k = max(kmin, ceil(√(n/targetCell))) — k coarse cells × k sub-cells
    * per coarse cell ≈ n/targetCell leaf cells, so leaf size stays
    * ~targetCell like [[adaptiveK]], but routing scores only k + k
    * centroids per vector instead of n/targetCell: assignment cost is
    * n·2√(n/c), sub-quadratic, and each level's centroid table is √ the
    * flat one. Cross-engine exact: n/c is a double division and sqrt/ceil
    * are correctly rounded IEEE ops in both engines, so the derived k is
    * identical (no decimal tie surface — the inputs are integers).
    */
  def hierK(n: Long, targetCell: Long = 64L, kmin: Int = 2): Int = {
    require(targetCell >= 1, "targetCell must be >= 1")
    math.max(kmin, math.ceil(math.sqrt(n.toDouble / targetCell.toDouble)).toInt)
  }

  /** DuckDB scalar-subquery fragment mirroring [[hierK]]. */
  def sqlHierK(table: String, targetCell: Long = 64L, kmin: Int = 2): String =
    s"""SELECT greatest($kmin, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)
          / CAST($targetCell AS DOUBLE))) AS BIGINT)) AS k FROM $table"""

  /** Route one vector through a [[routingTable]]: argmax cosine
    * with ties to the LOWEST cell — BIT-IDENTICAL to [[fitAssignFrom]]'s
    * `(cos desc, cell)` row_number over the same centroids (pinned in
    * `IvfQuantizerSpec`): the scale-9 exact dot and the sqrt/divide run
    * through the same arithmetic as the batch `ExactDot` expression, an
    * ascending-cell scan with strict `>` reproduces the tie-break, a
    * null/0-norm cosine ranks below every real one (batch desc = nulls
    * last), and a vector with NO real cosine lands in the lowest cell like
    * the batch all-null ordering. `n2` must be the scale-9 exact squared
    * norm ([[graft.functions.ExactDot.computeArrays]] of v with itself).
    */
  def routeVector(v: Array[Double], n2: Double, cents: Array[(Long, Array[Double], Double)]): Long = {
    var bestCell = -1L
    var bestCos: java.lang.Double = null
    cents.foreach { case (cell, sv, ns2) =>
      val dot = graft.functions.ExactDot.computeArrays(v, sv, 9)
      val den = math.sqrt(n2) * math.sqrt(ns2)
      val cos: java.lang.Double =
        if (dot == null || den == 0.0) null else dot.doubleValue() / den
      if (bestCell == -1L ||
          (cos != null && (bestCos == null || cos.doubleValue() > bestCos.doubleValue()))) {
        bestCell = cell
        bestCos = cos
      }
    }
    bestCell
  }

  /** A FITTED quantizer collected to the driver: the (grp…, cell,
    * centroid-sum) rows of the final Lloyd centroid frame plus their exact
    * schema — sub-linear by the quantizer contract (k rows for a flat fit,
    * ≤ k·G for a grouped one). This is the quantizer's one fitted form:
    * [[fitRankedFrom]] rebuilds the centroid frame as a local relation and
    * runs the final full-corpus ranking against it (collect round-trips
    * doubles exactly, so the ExactDot scale-9 dots / scale-4 norms see the
    * values the Lloyd passes produced), and [[routingTable]] /
    * [[routingTables]] turn it into the driver-side tables the streaming
    * admissions route through. Fit ONCE per dataset, memoize the k·d-row
    * table, serve every consumer — the Lloyd passes leave every query plan
    * after the first, and the per-query cost drops to one broadcast
    * assignment.
    */
  final case class CollectedFit(
      schema: StructType,
      rows: Array[Row],
      grpCols: Seq[String]) {
    def centFrame(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Fit k cells with `iters` Lloyd updates and collect the final centroid
    * frame ([[centroidFrame]]; rows ordered by (grp…, cell) for a
    * deterministic driver-side table). `e` must carry the exact squared
    * norm in `n2Col` (see [[graft.ops.Vectors.norm2Exact]]).
    *
    * `grpCols` turns this into a GROUPED fit: k cells per group, fitted in
    * ONE job over the concatenated groups (product-quantization subspaces
    * run as a single grouped fit, not G serialized fits — G× fewer jobs,
    * same per-group math bit-for-bit because every centroid sum, cosine and
    * argmax is keyed by the group).
    *
    * `seedPerGroup`: the default seed rule takes the k lowest-id fit
    * vectors GLOBALLY (`__id < k·sampleEvery` — correct when every group
    * contains every id, i.e. the PQ-subspace grouping, and the rule the
    * blessed oracles replicate). For DATA-DRIVEN groups (hierarchical
    * fits: grpCols = the coarse cell), low ids need not appear in every
    * group — per-group seeding takes each group's k lowest-id fit vectors
    * via row_number instead, so every group with ≥1 fit member gets
    * centroids. Groups with FEWER than k fit members fit that many cells;
    * groups with ZERO fit members get none and their vectors drop from
    * the assignment (pick sampleEvery so every group keeps samples — at
    * coarse-cell sizes ~n/k1 this needs se ≪ n/k1).
    */
  def fitCollect(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      k: Int,
      iters: Int,
      sampleEvery: Int = 1,
      grpCols: Seq[String] = Nil,
      seedPerGroup: Boolean = false): CollectedFit = {
    val cent = centroidFrame(e, idCol, vecCol, n2Col, k, iters, sampleEvery, grpCols, seedPerGroup)
    CollectedFit(cent.schema, cent.collect(), grpCols)
  }

  /** The lazy frame [[fitCollect]] collects: the final Lloyd centroid
    * frame (grp…, cell, __sv) ordered by (grp…, cell). Building it runs no
    * job; `RegistryPlanLintSpec` plans it as `__fit_ivf_flat`.
    */
  private[graft] def centroidFrame(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      k: Int,
      iters: Int,
      sampleEvery: Int,
      grpCols: Seq[String],
      seedPerGroup: Boolean): DataFrame =
    lloydFit(e, idCol, vecCol, n2Col, k, iters, sampleEvery, grpCols, seedPerGroup)
      .orderBy((grpCols :+ "cell").map(col): _*)

  /** The full final cell ranking per vector served from a [[CollectedFit]]:
    * (grp…, idCol, cell, cell_rank ordered by cosine desc, cell asc) —
    * rank 1 is the assignment; ranks ≤ nprobe are a query's probe set for
    * multi-cell IVF search (the recall knob: searching nprobe cells costs
    * nprobe× the candidates and recovers neighbors that straddle a cell
    * boundary). No Lloyd pass, no sample scan, no persist — one broadcast
    * of the k·d local centroid table and one per-vector argmax window.
    */
  def fitRankedFrom(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      fit: CollectedFit): DataFrame = {
    val src = srcView(e, idCol, vecCol, n2Col, fit.grpCols)
    rankCells(src, fit.centFrame(e.sparkSession), fit.grpCols).select(
      fit.grpCols.map(col) ++ Seq(
        col("__id").as(idCol), col("cell"), col("__rn").cast("long").as("cell_rank")): _*)
  }

  /** The assignment (grp…, idCol, cell) — rank-1 rows of [[fitRankedFrom]]. */
  def fitAssignFrom(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      fit: CollectedFit): DataFrame =
    fitRankedFrom(e, idCol, vecCol, n2Col, fit)
      .filter(col("cell_rank") === 1)
      .select(fit.grpCols.map(col) ++ Seq(col(idCol), col("cell")): _*)

  /** [[fitAssignFrom]] plus the winning COSINE — the prototypicality score
    * D4-class pruning ranks on (how close a member sits to its own
    * centroid: the closest members are the cluster's most redundant).
    * Returns (idCol, cell, cos_centroid); the cosine is the same
    * exact-decimal-dot / IEEE sqrt-divide value the assignment argmax
    * ranked, so it is bit-identical across engines and safe to ORDER by
    * (the repo's float-for-ordering-only rule).
    */
  def fitAssignScoredFrom(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      fit: CollectedFit): DataFrame = {
    require(fit.grpCols.isEmpty, "fitAssignScoredFrom serves flat fits")
    val src = srcView(e, idCol, vecCol, n2Col, Nil)
    rankCells(src, fit.centFrame(e.sparkSession), Nil)
      .filter(col("__rn") === 1)
      .select(col("__id").as(idCol), col("cell"), col("__cos").as("cos_centroid"))
  }

  /** TWO-LEVEL hierarchical fit — the composition [[adaptiveK]]'s scaladoc
    * names for cell counts past the flat regime: a k-cell coarse fit
    * routes the corpus, then ONE grouped job fits k sub-cells inside each
    * coarse cell (per-group seeds), giving ~k² leaf cells at per-vector
    * routing cost 2k centroid scorings instead of k². With
    * k = [[hierK]](n, c), leaf size stays ~c while assignment work grows
    * n·2√(n/c) — sub-quadratic — and both levels' Lloyd passes still scan
    * only the systematic samples. Returns the collected (coarse, level-2)
    * pair; [[fitAssignHierFrom]] serves the assignment from it.
    */
  def fitHierCollect(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      k: Int,
      iters: Int,
      se1: Int,
      se2: Int): (CollectedFit, CollectedFit) = {
    val (coarseFit, level2) = hierLevel2Frame(e, idCol, vecCol, n2Col, k, iters, se1, se2)
    (coarseFit, CollectedFit(level2.schema, level2.collect(), Seq("ccell")))
  }

  /** The coarse fit (collected — one job) and the lazy level-2 centroid
    * frame [[fitHierCollect]] collects: the grouped (grpCols = ccell,
    * per-group seeds) Lloyd fit over the coarse-assigned corpus.
    * `RegistryPlanLintSpec` plans the frame as `__fit_ivf_hier`.
    */
  private[graft] def hierLevel2Frame(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      k: Int,
      iters: Int,
      se1: Int,
      se2: Int): (CollectedFit, DataFrame) = {
    val coarseFit = fitCollect(e, idCol, vecCol, n2Col, k, iters, se1)
    val coarse = fitAssignFrom(e, idCol, vecCol, n2Col, coarseFit)
      .withColumnRenamed("cell", "ccell")
    (coarseFit, centroidFrame(e.join(coarse, idCol), idCol, vecCol, n2Col, k, iters, se2,
      Seq("ccell"), seedPerGroup = true))
  }

  /** The two-level assignment served from a [[fitHierCollect]] pair:
    * (idCol, ccell, scell). A leaf is the (ccell, scell) PAIR (sub-cell
    * labels are per-group seed ids, unique only within their coarse cell).
    * Vectors whose coarse cell has no level-2 fit-sample members drop from
    * the output (see [[fitCollect]]'s seedPerGroup contract — pick
    * se2 ≪ n/k).
    */
  def fitAssignHierFrom(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      coarseFit: CollectedFit,
      subFit: CollectedFit): DataFrame = {
    val coarse = fitAssignFrom(e, idCol, vecCol, n2Col, coarseFit)
      .withColumnRenamed("cell", "ccell")
    val withC = e.join(coarse, idCol)
    fitAssignFrom(withC, idCol, vecCol, n2Col, subFit)
      .withColumnRenamed("cell", "scell")
      .select(col(idCol), col("ccell"), col("scell"))
  }

  /** The driver routing table of a collected FLAT fit: (cell, centroid,
    * ns2) ascending by cell — ns2 the scale-4 exact self-dot the batch
    * ranking uses as `__ns2`. Sub-linear by the quantizer contract (k
    * rows); broadcast it and route per row via [[routeVector]].
    */
  def routingTable(fit: CollectedFit): Array[(Long, Array[Double], Double)] = {
    require(fit.grpCols.isEmpty, "routingTable serves flat fits; use routingTables for grouped")
    fit.rows.map { r =>
      val sv = r.getSeq[Double](r.fieldIndex("__sv")).toArray
      (r.getLong(r.fieldIndex("cell")), sv,
        graft.functions.ExactDot.computeArrays(sv, sv, 4): Double)
    }.sortBy(_._1)
  }

  /** Per-group driver routing tables off a collected GROUPED fit with ONE
    * long group column (the hierarchical level-2 shape, grpCols =
    * Seq("ccell")): group → its (cell, centroid, ns2) table ascending by
    * cell. Routing a vector with [[routeVector]] against its group's
    * table reproduces the grouped batch rank's `(cos desc, cell)` argmax
    * bit-for-bit — the same per-group math, pinned via the hier streaming
    * parity spec. Groups with no fit-sample members have no table (the
    * batch contract DROPS their vectors; stream callers fail loudly).
    */
  def routingTables(fit: CollectedFit): Map[Long, Array[(Long, Array[Double], Double)]] = {
    require(fit.grpCols.size == 1, "routingTables serves single-group-column fits")
    val g = fit.grpCols.head
    fit.rows.groupBy(r => r.getLong(r.fieldIndex(g))).map { case (grp, rows) =>
      grp -> rows.map { r =>
        val sv = r.getSeq[Double](r.fieldIndex("__sv")).toArray
        (r.getLong(r.fieldIndex("cell")), sv,
          graft.functions.ExactDot.computeArrays(sv, sv, 4): Double)
      }.sortBy(_._1)
    }
  }

  /** The (grp?, __id, __v, __n2) corpus view every ranking pass scores. */
  private def srcView(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      grpCols: Seq[String]): DataFrame =
    e.select(grpCols.map(col) ++ Seq(
      col(idCol).cast("long").as("__id"), col(vecCol).as("__v"), col(n2Col).as("__n2")): _*)

  /** One assignment pass: every vector's full cell ranking against a
    * centroid frame. Ungrouped: broadcast nested loop (every vector scores
    * every cell); grouped: broadcast hash join on the group columns. Both
    * exact sums run through the native ExactDot codegen expression
    * (float×double and double×double element paths) — the equivalent
    * zip_with/aggregate decimal folds are interpreted per element and were
    * the measured fit bottleneck.
    */
  private def rankCells(
      base: DataFrame, cent: DataFrame, grpCols: Seq[String]): DataFrame = {
    val g = grpCols.map(col)
    val withNs = cent.withColumn(
      "__ns2", graft.functions.ExactDot.ofScale(col("__sv"), col("__sv"), 4))
    val paired =
      if (grpCols.isEmpty) base.crossJoin(broadcast(withNs))
      else base.join(broadcast(withNs), grpCols)
    paired
      .withColumn(
        "__dot", graft.functions.ExactDot.ofScale(col("__v"), col("__sv"), 9))
      .withColumn("__cos", graft.ops.Vectors.cosineFrom(col("__dot"), col("__n2"), col("__ns2")))
      .withColumn(
        "__rn",
        row_number().over(
          Window.partitionBy(g :+ col("__id"): _*).orderBy(col("__cos").desc, col("cell"))))
      // __cos rides along for scored consumers (fitAssignScoredFrom); the
      // fitRankedFrom projection drops it
      .select(g ++ Seq(col("__id"), col("cell"), col("__rn"), col("__cos")): _*)
  }

  /** The fitted centroid frame (grp…, cell, __sv) after `iters` Lloyd
    * updates from the seed vectors.
    */
  private def lloydFit(
      e: DataFrame,
      idCol: String,
      vecCol: String,
      n2Col: String,
      k: Int,
      iters: Int,
      sampleEvery: Int,
      grpCols: Seq[String],
      seedPerGroup: Boolean): DataFrame = {
    require(sampleEvery >= 1, "sampleEvery must be >= 1")
    require(!seedPerGroup || grpCols.nonEmpty, "seedPerGroup needs grpCols")
    val g = grpCols.map(col)
    // corpus view: (grp?, id, vec, n2). Persisted — scanned once per
    // assignment and once per update.
    val src = graft.ops.Caches.trackPersist(srcView(e, idCol, vecCol, n2Col, grpCols))
    // fit view: the systematic sample the Lloyd passes scan. id-dense
    // corpora get exactly n/sampleEvery fit rows; the FULL corpus is only
    // touched by the final assignment a served fit runs.
    val fit =
      if (sampleEvery == 1) src
      else graft.ops.Caches.trackPersist(src.filter(col("__id") % sampleEvery === 0))

    // Centroids ride as k array<double> rows — broadcastable, so each
    // assignment is a broadcast nested-loop over the corpus with the dot
    // product computed ARRAY-LOCALLY as an exact decimal fold (no component
    // explode, no per-(vector,cell) shuffle); the only shuffle per
    // assignment is the per-vector argmax. Fold accumulators are
    // DECIMAL(30,s): precision 38 would hit Spark's cap and silently drop
    // scale mid-fold; the values are identical to the oracle's DECIMAL(38,s)
    // sums because both are exact at these magnitudes.
    val quantize = s"x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,9)) AS DOUBLE)"
    // seeds: the k lowest-id sample vectors — ids 0, s, …, (k−1)·s on a
    // dense corpus, so the cutoff k·s is oracle-expressible as a literal;
    // per-group seeding ranks ids within each group instead (see scaladoc)
    val cent0 = (if (seedPerGroup)
      fit.withColumn(
        "__srn",
        row_number().over(Window.partitionBy(g: _*).orderBy(col("__id"))))
        .filter(col("__srn") <= k)
    else fit.filter(col("__id") < k.toLong * sampleEvery))
      .select(g ++ Seq(
        col("__id").as("cell"), expr(s"transform(__v, $quantize)").as("__sv")): _*)

    def assignFrom(ranked: DataFrame): DataFrame =
      ranked.filter(col("__rn") === 1).select(g ++ Seq(col("__id"), col("cell")): _*)

    // new centroid = per-dim exact decimal sum over members, re-assembled
    // into an ordered array (array_sort on (dim, s) structs — collect_list
    // order is nondeterministic, the sort restores it)
    def update(assigned: DataFrame): DataFrame =
      fit.join(assigned, grpCols :+ "__id")
        .select(g ++ Seq(col("cell"), posexplode(col("__v")).as(Seq("__dim", "__xf"))): _*)
        .groupBy(g ++ Seq(col("cell"), col("__dim")): _*)
        .agg(sum(col("__xf").cast("double").cast(DecimalType(38, 9))).cast("double").as("__s"))
        .groupBy(g :+ col("cell"): _*)
        .agg(expr("transform(array_sort(collect_list(struct(__dim, __s))), t -> t.__s)").as("__sv"))

    // no per-iteration persist: after the array-local restructure every
    // intermediate (centroid table, assignment) is referenced exactly once
    // by the next stage, so the nested plan evaluates each subtree once —
    // only `src` (scanned by every assignment and update) is cached
    var cent = cent0
    for (_ <- 1 to iters) cent = update(assignFrom(rankCells(fit, cent, grpCols)))
    cent
  }

  /** DuckDB CTE chain mirroring [[lloydFit]] + the final full-corpus
    * ranking of [[fitRankedFrom]] exactly: comp → cent0 → (ns_t, dots_t,
    * ranked_t, a_t, cent_{t+1})* → `assigned$sfx(vec_id, [grp,] cell)`
    * (final rank 1) and `cellranks$sfx(vec_id, [grp,] cell, rn)` (the full
    * final ranking — probe sets come from rn ≤ nprobe). Every CTE name
    * carries `sfx`, so several fits compose in one WITH chain.
    *
    *   - `src` is any (vec_id, embedding) relation in scope — a CTE of
    *     TRANSFORMED vectors (whitened residuals) fits the same chain; the
    *     fit reads `dims` components starting at `dimOffset` (a
    *     product-quantization slice).
    *   - `norm` names the (vec_id, n2) CTE of the exact squared norms of
    *     what is fitted (default `n$sfx`).
    *   - `kExpr` is a SQL scalar: a literal, or an [[adaptiveK]] /
    *     [[hierK]] scalar subquery such as `(SELECT k FROM kparam)`.
    *   - `gmap` names a (vec_id, grp) CTE for a GROUPED fit (empty: no
    *     group); every Lloyd CTE then carries `grp`.
    *   - Seeds: the k lowest-id sample vectors — the id cutoff
    *     `vec_id < kExpr·sampleEvery` on a dense corpus, or with
    *     `seedPerGroup` each group's k lowest ids (row_number, exactly the
    *     Spark rule).
    */
  def lloydSql(
      kExpr: String,
      iters: Int,
      dims: Int,
      sampleEvery: Int = 1,
      sfx: String = "",
      dimOffset: Int = 0,
      src: String = "embeddings",
      norm: String = "",
      gmap: String = "",
      seedPerGroup: Boolean = false): String = {
    require(!seedPerGroup || gmap.nonEmpty, "seedPerGroup needs gmap")
    val nrm = if (norm.isEmpty) s"n$sfx" else norm
    // the group column in a select list, and in a join condition
    def g(t: String) = if (gmap.isEmpty) "" else s"$t.grp, "
    def gEq(a: String, b: String) = if (gmap.isEmpty) "" else s"$a.grp = $b.grp AND "
    def by(n: Int) = (1 to n + (if (gmap.isEmpty) 0 else 1)).mkString(", ")
    val gJoin = if (gmap.isEmpty) "" else s" JOIN $gmap gm ON gm.vec_id = e.vec_id"
    val seeds =
      if (seedPerGroup)
        s"""seed$sfx AS (SELECT grp, vec_id FROM (
                 SELECT grp, vec_id,
                   row_number() OVER (PARTITION BY grp ORDER BY vec_id) AS srn
                 FROM (SELECT DISTINCT grp, vec_id FROM fcomp$sfx))
               WHERE srn <= $kExpr),
         cent${sfx}0 AS (SELECT f.grp, f.vec_id AS cell, f.dim,
                   CAST(CAST(f.x AS DECIMAL(38,9)) AS DOUBLE) AS s
                 FROM fcomp$sfx f JOIN seed$sfx sd
                   ON sd.grp = f.grp AND sd.vec_id = f.vec_id)"""
      else
        s"""cent${sfx}0 AS (SELECT ${g("f")}f.vec_id AS cell, f.dim,
                   CAST(CAST(f.x AS DECIMAL(38,9)) AS DOUBLE) AS s
                 FROM fcomp$sfx f WHERE f.vec_id < $kExpr * $sampleEvery)"""
    val sb = new StringBuilder
    sb.append(s"""comp$sfx AS (SELECT ${g("gm")}e.vec_id, i.i AS dim,
                CAST(e.embedding[i.i + $dimOffset] AS DOUBLE) AS x
           FROM $src e$gJoin, unnest(generate_series(1, $dims)) AS i(i)),
         fcomp$sfx AS (SELECT * FROM comp$sfx WHERE vec_id % $sampleEvery = 0),
         $seeds""")
    for (t <- 0 to iters) {
      // Lloyd passes (t < iters) scan only the fit sample; the final pass
      // (t = iters) assigns the FULL corpus against the fitted centroids
      val compT = if (t < iters) s"fcomp$sfx" else s"comp$sfx"
      sb.append(s""",
         ns$sfx$t AS (SELECT ${g("ct")}ct.cell, CAST(sum(CAST(ct.s * ct.s AS DECIMAL(38,4))) AS DOUBLE) AS ns2
                  FROM cent$sfx$t ct GROUP BY ${by(1)}),
         dots$sfx$t AS (SELECT ${g("c")}c.vec_id, ct.cell,
                    CAST(sum(CAST(c.x * ct.s AS DECIMAL(38,9))) AS DOUBLE) AS dot
                  FROM $compT c JOIN cent$sfx$t ct ON ${gEq("ct", "c")}ct.dim = c.dim
                  GROUP BY ${by(2)}),
         ranked$sfx$t AS (SELECT ${g("d")}d.vec_id, d.cell, row_number() OVER (PARTITION BY d.vec_id
                    ORDER BY d.dot / nullif(sqrt(nn.n2) * sqrt(ns.ns2), CAST(0.0 AS DOUBLE)) DESC,
                      d.cell) AS rn
                  FROM dots$sfx$t d JOIN $nrm nn ON nn.vec_id = d.vec_id
                       JOIN ns$sfx$t ns ON ${gEq("ns", "d")}ns.cell = d.cell),
         a$sfx$t AS (SELECT ${g("r")}r.vec_id, r.cell FROM ranked$sfx$t r WHERE r.rn = 1)""")
      if (t < iters) sb.append(s""",
         cent$sfx${t + 1} AS (SELECT ${g("a")}a.cell, c.dim, CAST(sum(CAST(c.x AS DECIMAL(38,9))) AS DOUBLE) AS s
                          FROM fcomp$sfx c JOIN a$sfx$t a
                            ON ${gEq("a", "c")}a.vec_id = c.vec_id GROUP BY ${by(2)})""")
    }
    sb.append(s""",
         assigned$sfx AS (SELECT r.vec_id, ${g("r")}CAST(r.cell AS BIGINT) AS cell FROM a$sfx$iters r),
         cellranks$sfx AS (SELECT r.vec_id, ${g("r")}CAST(r.cell AS BIGINT) AS cell, CAST(r.rn AS BIGINT) AS rn
                       FROM ranked$sfx$iters r)""")
    sb.toString
  }
}
