package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ml.IvfQuantizer
import graft.ops._

/** Similarity search over `embeddings` (64-dim float vectors):
  * brute-force exact cosine top-k (the baseline) and sign-bucket LSH
  * (the scale path — candidates only within a bucket, never all pairs).
  *
  * Spark side computes dot products array-locally (zip_with + aggregate in
  * one codegen'd expression, no explode); the oracle unnests — both sum in
  * DECIMAL(38,9), so results are bit-identical.
  */
object SimilarityQ {
  import Q._

  /** One PCA fit per dataset dir: sim_pca1_score / sim_pca1_var /
    * sim_pca_whiten all route against the SAME collected FitK (fitted at
    * k = 2 — component 1 of the deflation chain is bit-identical to the
    * k = 1 fit, so the top-1 consumers are unchanged). Memoized in the
    * engine-wide [[graft.ops.Fits]] registry (keyed by the sf dir and its
    * fingerprint; the lock scope is documented there and applies to every
    * fitted-table memo below).
    */
  private def pcaFitFor(
      s: org.apache.spark.sql.SparkSession, d: String): graft.ml.Pca.FitK =
    graft.ops.Fits.memo(d, "pca:k2:i6:se4") {
      graft.ml.Pca.fitK(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dims = 64, iters = 6, sampleEvery = 4, k = 2)
    }

  /** The IVF coarse-quantizer fits, memoized per (dataset, fit shape) —
    * the [[pcaFitFor]] model-reuse move applied to the bigger family: the
    * Lloyd fit is deterministic (systematic sample, fixed seeds, exact
    * decimal sums), so its k·d centroid table is a pure function of
    * (dataset, source transform, k, iters, sampleEvery) and collecting it
    * once per key changes NO output (the collected fit is the quantizer's
    * only fitted form; [[graft.ml.IvfQuantizer.fitRankedFrom]] serves it,
    * spec-pinned against a plain-Scala ranking). Every consumer after
    * the first skips the Lloyd passes entirely — its plan is one broadcast
    * assignment. `tag` names the source transform ("raw" embeddings,
    * whitened "resid", PQ subspace slices) since the frames differ.
    */
  private def ivfFitFor(
      d: String, tag: String, k: Int, iters: Int, se: Int,
      grpCols: Seq[String] = Nil, seedPerGroup: Boolean = false)(
      e: => org.apache.spark.sql.DataFrame,
      vecCol: String = "embedding", n2Col: String = "n2")
      : graft.ml.IvfQuantizer.CollectedFit =
    graft.ops.Fits.memo(d, s"ivf:$tag:$k:$iters:$se") {
      graft.ml.IvfQuantizer.fitCollect(
        e, "vec_id", vecCol, n2Col, k, iters, se, grpCols, seedPerGroup)
    }

  /** The two-level hierarchical fits, memoized per (dataset, tag). */
  private def hierFitFor(
      d: String, tag: String, k: Int, iters: Int, se1: Int, se2: Int)(
      e: => org.apache.spark.sql.DataFrame)
      : (graft.ml.IvfQuantizer.CollectedFit, graft.ml.IvfQuantizer.CollectedFit) =
    graft.ops.Fits.memo(d, s"ivfhier:$tag:$k:$iters:$se1:$se2") {
      graft.ml.IvfQuantizer.fitHierCollect(e, "vec_id", "embedding", "n2", k, iters, se1, se2)
    }

  /** The shared flat k=8 raw-embedding fit (sim_ivf_topk / sim_ivf_recall /
    * sim_diverse_sample / sim_proto_prune / the IVF-PQ coarse stage).
    */
  private def rawFit8(s: org.apache.spark.sql.SparkSession, d: String) =
    ivfFitFor(d, "raw", 8, 2, 4)(withNorm(t(s, d, "embeddings")))

  /** (vec_id, embedding, extra…, n2): the exact squared norm appended. */
  private def withNorm(df: DataFrame, extra: String*) =
    df.select((Seq("vec_id", "embedding") ++ extra).map(col): _*)
      .withColumn("n2", Vectors.norm2Exact(col("embedding")))

  /** The axis-removed residual frame (vec_id, embedding, n2) both whitened
    * SemDeDup routings dedup over: r_d = x_d − mu_d − pc_1·v1_d − pc_2·v2_d
    * against the memoized k=2 PCA fit — a fixed left-assoc IEEE chain per
    * element, bit-replicable cross-engine ([[residSql]] is the oracle twin).
    * UNPERSISTED: each consumer trackPersists it itself (the scored frame
    * embeds the pcs AGG result — the cache-agg-results rule; solo-benched
    * 7.3 s unpersisted vs 4.1-4.4 s persisted at sf0.1).
    *
    * Determinism note (the one place the proven-on-raw-floats
    * DECIMAL(38,9) dot/norm recipe runs over full-mantissa COMPUTED
    * doubles): the downstream `dotExact`/`norm2Exact` rounding casts use
    * HALF_UP in Spark vs half-even in DuckDB, which diverge only on EXACT
    * decimal ties — a product whose double value is exactly an odd
    * multiple of 2⁻¹⁰ (the only dyadics equal to odd/(2·10⁹); 10⁹ = 2⁹·5⁹
    * forces the factor 5⁹, i.e. 5⁹·odd/(2·10⁹) = odd/2¹⁰). A residual
    * product is a full-53-bit-mantissa double; landing exactly on such a
    * tie requires its bottom ~42 mantissa bits to vanish — ~2⁻⁴² per
    * product under any generic-mantissa model, ~10⁻⁶ per 10⁷-row corpus.
    * Raw-parquet floats (24-bit mantissas at ~2⁻¹–2⁻⁸ magnitudes) hit tie
    * points far more easily, which is why NEW raw-float quantizations use
    * the trunc fixed-point form instead; for these derived doubles the
    * rounding-cast recipe is retained deliberately (it keeps the residual
    * pipeline identical to every other SemDeDup flavor) with this analysis
    * as the justification.
    */
  private def whitenedResid(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val fk = pcaFitFor(s, d)
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val pcs = graft.ml.Pca.whitenScores(fk, emb, "vec_id", "embedding", 64)
      .select(col("vec_id"), col("pc_1"), col("pc_2"))
    val muL = typedLit(fk.mu.toSeq)
    val v1L = typedLit(fk.vs(0).toSeq)
    val v2L = typedLit(fk.vs(1).toSeq)
    emb.join(pcs, "vec_id").select(
      col("vec_id"),
      transform(sequence(lit(1), lit(64)), dd =>
        element_at(col("embedding"), dd).cast("double") - element_at(muL, dd)
          - col("pc_1") * element_at(v1L, dd)
          - col("pc_2") * element_at(v2L, dd)).as("embedding"))
      .withColumn("n2", Vectors.norm2Exact(col("embedding")))
  }

  /** Oracle twin of [[whitenedResid]]: CTE body (expects the
    * [[graft.ml.Pca.whitenSql]] chain in scope) ending in
    * `resid(vec_id, embedding)` and `nw(vec_id, n2)` — both MATERIALIZED
    * (multi-referenced: the Lloyd chain and the pair stage each read them
    * more than once — the g3_kcore inlining lesson).
    */
  private val residSql =
    """resid AS MATERIALIZED (SELECT e.vec_id,
           list(CAST(e.embedding[i.i] AS DOUBLE) - mu.mu
             - p.pc_1 * v1.x - p.pc_2 * v2.x ORDER BY i.i) AS embedding
         FROM embeddings e
           CROSS JOIN unnest(generate_series(1, 64)) AS i(i)
           JOIN mu ON mu.d = i.i
           JOIN vf1 v1 ON v1.d = i.i
           JOIN vf2 v2 ON v2.d = i.i
           JOIN pcs p ON p.vec_id = e.vec_id
         GROUP BY 1),
       nw AS MATERIALIZED (SELECT vec_id,
           CAST(sum(CAST(CAST(embedding[i.i] AS DOUBLE)
             * CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE) AS n2
         FROM resid CROSS JOIN unnest(generate_series(1, 64)) AS i(i)
         GROUP BY 1)"""

  /** Oracle CTE `name(vec_id, n2)`: per-vector exact squared norm. */
  private def normCte(name: String) =
    s"""$name AS (SELECT vec_id,
         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE) AS n2
       FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY 1)"""

  private val normSql = normCte("n")

  /** The cell-pair stage's flat routing: every vector of `src` assigned
    * to its cell under the memoized adaptive-k fit (k = ceil(n/64) from
    * count(*), fitted on `fitSrc` under `tag`), joined onto `e` and
    * persisted — the (vec_id, e's columns…, cell) frame both pair sides
    * read. `src` is `e` itself, or its (vec_id, embedding, n2) projection
    * when `e` carries labels: the frame routed decides which persisted
    * frames the plan reuses, and the plan signatures pin that.
    */
  private def routeFlat(
      s: SparkSession, d: String, tag: String, e: DataFrame, src: DataFrame)(
      fitSrc: => DataFrame): DataFrame = {
    // parquet-footer count (no column scan) → the same k the oracle's
    // kparam scalar subquery derives
    val k = IvfQuantizer.adaptiveK(t(s, d, "embeddings").count(), 64)
    val cells = IvfQuantizer.fitAssignFrom(
      src, "vec_id", "embedding", "n2", ivfFitFor(d, tag, k, 2, 4)(fitSrc))
    Caches.trackPersist(e.join(cells, "vec_id"))
  }

  /** [[routeFlat]] through the two-level hierarchical quantizer (k =
    * hierK(n) per level): the leaf key is the (ccell, scell) pair, and the
    * leaf assignment is persisted as well as the joined frame.
    */
  private def routeHier(
      s: SparkSession, d: String, tag: String, e: DataFrame, src: DataFrame)(
      fitSrc: => DataFrame): DataFrame = {
    val k = IvfQuantizer.hierK(t(s, d, "embeddings").count(), 64)
    val (cFit, sFit) = hierFitFor(d, tag, k, 1, 4, 2)(fitSrc)
    val leaf = Caches.trackPersist(IvfQuantizer.fitAssignHierFrom(
      src, "vec_id", "embedding", "n2", cFit, sFit))
    Caches.trackPersist(e.join(leaf, "vec_id"))
  }

  /** The cell-pair stage: every (query_id, vec_id) pair of a routed frame
    * `m` that shares the leaf `keys` and passes `pair(vec_id, query_id)`,
    * with its exact-decimal cosine. Each `carry` column rides along as
    * q<col> (query side) and c<col> (candidate side).
    */
  private def cellPairs(
      m: DataFrame, keys: Seq[String], pair: (Column, Column) => Column,
      carry: Seq[String]): DataFrame = {
    def side(id: Column, v: String, n2: String, pfx: String) =
      m.select(keys.map(col) ++ Seq(id, col("embedding").as(v), col("n2").as(n2)) ++
        carry.map(x => col(x).as(pfx + x)): _*)
    side(col("vec_id"), "ce", "cn2", "c")
      .join(side(col("vec_id").as("query_id"), "qe", "qn2", "q"), keys)
      .filter(pair(col("vec_id"), col("query_id")))
      .withColumn("cos",
        Vectors.cosineFrom(Vectors.dotExact(col("qe"), col("ce")), col("qn2"), col("cn2")))
  }

  /** Neighbourhood consensus tail: each query's top-5 pairs by (cos desc,
    * vec_id) vote on its label — integer counts, one closing division.
    */
  private def consensusVote(pairs: DataFrame): DataFrame =
    pairs
      .withColumn(
        "rnk",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= 5)
      .groupBy("query_id", "qlabel")
      .agg(
        count(lit(1)).as("n_nb"),
        sum((col("clabel") === col("qlabel")).cast("long")).as("n_agree"))
      .select(
        col("query_id").as("vec_id"), col("qlabel").as("label"),
        col("n_nb"), col("n_agree"),
        (col("n_agree").cast("double") / col("n_nb").cast("double")).as("agree_frac"),
        (col("n_agree") * 2 < col("n_nb")).cast("long").as("suspect"))

  /** First-claimant keep ledger over every vector of `m`: a vector is
    * dropped iff an earlier pair partner sits at cosine >= 0.4; kept_by is
    * the smallest such claimant, max_cos the tightest.
    */
  private def keepLedger(m: DataFrame, pairs: DataFrame): DataFrame = {
    val dup = pairs
      .filter(col("cos") >= lit(0.4))
      .groupBy("query_id")
      .agg(
        min(col("vec_id")).as("kept_by"),
        count(lit(1)).as("n_dup"),
        max(col("cos")).as("max_cos"))
      .withColumnRenamed("query_id", "vec_id")
    m.select(col("vec_id"))
      .join(dup, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("kept_by").isNull.cast("long").as("keep"),
        col("kept_by"), col("n_dup"), col("max_cos"))
  }

  /** Oracle twin of [[routeFlat]]: the adaptive-k Lloyd chain over `src`
    * (`embeddings` or `resid`), reading the norm CTE `norm` (`n` or `nw`),
    * ending in `leaf(vec_id, cell)`.
    */
  private def flatRouteSql(src: String, norm: String): String = {
    val sfx = norm.stripPrefix("n")
    s"""kparam AS (${IvfQuantizer.sqlAdaptiveK("embeddings", 64)}),
           ${IvfQuantizer.lloydSql(
      "(SELECT k FROM kparam)", 2, 64, sampleEvery = 4, sfx = sfx, src = src, norm = norm)},
           leaf AS (SELECT vec_id, cell FROM assigned$sfx)"""
  }

  /** Oracle twin of [[routeHier]], ending in `leaf(vec_id, ccell, scell)`. */
  private def hierRouteSql(src: String, norm: String): String = {
    val sfx = norm.stripPrefix("n")
    s"""kparam_h AS (${IvfQuantizer.sqlHierK("embeddings", 64)}),
           ${IvfQuantizer.lloydSql(
      "(SELECT k FROM kparam_h)", 1, 64, sampleEvery = 4, sfx = s"${sfx}h1", src = src,
      norm = norm)},
           gmap$sfx AS (SELECT vec_id, cell AS grp FROM assigned${sfx}h1),
           ${IvfQuantizer.lloydSql(
      "(SELECT k FROM kparam_h)", 1, 64, sampleEvery = 2, sfx = s"${sfx}h2", src = src,
      norm = norm, gmap = s"gmap$sfx", seedPerGroup = true)},
           leaf AS (SELECT vec_id, grp AS ccell, cell AS scell FROM assigned${sfx}h2)"""
  }

  /** Oracle twin of [[cellPairs]] over a routing chain's `leaf`: CTEs
    * `m` (leaf + `src` vectors + `carry`), `d` (exact dots of the pairs
    * sharing `keys` with `c.vec_id pairOp q.vec_id`) and `s` (cosines
    * against the norm CTE `norm`).
    */
  private def cellPairSql(
      keys: Seq[String], src: String, norm: String, pairOp: String,
      carry: Seq[String]): String = {
    def qc(pfx: String, as: String => String) = carry.map(x => s", $pfx${as(x)}").mkString
    s"""m AS (SELECT l.*, e.embedding${qc("e.", x => x)}
                 FROM leaf l JOIN $src e ON e.vec_id = l.vec_id),
           d AS (SELECT q.vec_id AS query_id${qc("q.", x => s"$x AS q$x")},
                   c.vec_id${qc("c.", x => s"$x AS c$x")},
                   ${Vectors.sqlDotExact("q.embedding", "c.embedding", "i.i")} AS dot
                 FROM m q JOIN m c ON ${keys.map(k => s"c.$k = q.$k").mkString(" AND ")}
                      AND c.vec_id $pairOp q.vec_id,
                      unnest(generate_series(1, 64)) AS i(i)
                 GROUP BY ${(1 to 2 + 2 * carry.size).mkString(", ")}),
           s AS (SELECT d.query_id${qc("d.q", x => x)}, d.vec_id${qc("d.c", x => x)},
                   d.dot / nullif(sqrt(nq.n2) * sqrt(nc.n2), CAST(0.0 AS DOUBLE)) AS cos
                 FROM d JOIN $norm nq ON nq.vec_id = d.query_id
                      JOIN $norm nc ON nc.vec_id = d.vec_id)"""
  }

  /** Oracle twin of [[consensusVote]] over the pair CTE `s`. */
  private val consensusVoteSql =
    """r AS (SELECT query_id, qlabel, clabel,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id) AS rnk
                 FROM s)
           SELECT query_id AS vec_id, qlabel AS label,
             CAST(count(*) AS BIGINT) AS n_nb,
             CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
             CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS agree_frac,
             CAST(2 * sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) < count(*)
               AS BIGINT) AS suspect
           FROM r WHERE rnk <= 5 GROUP BY 1, 2"""

  /** Oracle twin of [[keepLedger]] over the CTEs `m` and `s`. */
  private val keepLedgerSql =
    """dup AS (SELECT query_id, CAST(min(vec_id) AS BIGINT) AS kept_by,
                     CAST(count(*) AS BIGINT) AS n_dup, max(cos) AS max_cos
                   FROM s WHERE cos >= CAST(0.4 AS DOUBLE) GROUP BY 1)
           SELECT m.vec_id,
             CAST(CASE WHEN dup.query_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
             dup.kept_by, dup.n_dup, dup.max_cos
           FROM m LEFT JOIN dup ON dup.query_id = m.vec_id"""

  /** Product quantization of the 64-dim vectors: 8 subspaces of 8 dims,
    * each coded against its own k=8 spherical k-means codebook (1 Lloyd
    * update on the vec_id % 2 sample).
    */
  private final val pqSubs = 8
  private final val pqDims = 8

  /** The PQ stage sim_pq_topk and the IVF-PQ scorer share: the persisted
    * codes (sub, vec_id, cell) and, for the queries `qPred` selects, the
    * ADC lookup table (query_id, sub, cell, term) — each term the
    * exact-decimal dot of the query's slice with the cell's member-sum
    * vector over the member count.
    */
  private def pqTables(s: SparkSession, d: String, qPred: Column): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    // all 8 subspace slices in ONE in-stage explode off the scan, fitted
    // as ONE grouped Lloyd job (grpCols = sub): 8× fewer jobs than
    // fitting each subspace serially, identical per-subspace math
    val slices = (0 until pqSubs).map(sb =>
      struct(lit(sb).as("sub"), slice(col("embedding"), sb * pqDims + 1, pqDims).as("sv")))
    val es = emb
      .select(col("vec_id"), explode(array(slices: _*)).as("e"))
      .select(col("e.sub").as("sub"), col("vec_id"), col("e.sv").as("sv"))
      .withColumn("sn2", Vectors.norm2Exact(col("sv")))
    val codesP = Caches.trackPersist(
      IvfQuantizer.fitAssignFrom(es, "vec_id", "sv", "sn2",
        ivfFitFor(d, "pq8x8", 8, 1, 2, grpCols = Seq("sub"))(es, "sv", "sn2")))
    // (vec, subspace, subdim, x) component view — one explode feeds the
    // codebook, the query tables, and nothing else twice (persisted)
    val compo = Caches.trackPersist(
      emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "xf")))
        .select(
          col("vec_id"),
          expr(s"dim0 div $pqDims").cast("int").as("sub"),
          pmod(col("dim0"), lit(pqDims)).as("sdim"),
          col("xf").cast("double").as("x")))
    // reconstruction codebook: per (sub, cell) member-sum vector + count
    val cb = compo.join(codesP, Seq("vec_id", "sub"))
      .groupBy("sub", "cell", "sdim")
      .agg(sum(col("x").cast(DecimalType(38, 9))).cast("double").as("sx"))
    val m = codesP.groupBy("sub", "cell").agg(count(lit(1)).as("m"))
    val tbl = compo.filter(qPred)
      .select(col("vec_id").as("query_id"), col("sub"), col("sdim"), col("x").as("qx"))
      .join(cb, Seq("sub", "sdim"))
      .groupBy("query_id", "sub", "cell")
      .agg(sum((col("qx") * col("sx")).cast(DecimalType(38, 9))).cast("double").as("ds"))
      .join(m, Seq("sub", "cell"))
      .withColumn("term", col("ds") / col("m").cast("double"))
      .select("query_id", "sub", "cell", "term")
    (codesP, tbl)
  }

  /** ADC term rows (query_id, vec_id, sub, term) pivoted to one column per
    * subspace — a bare double SUM would be partition-order-dependent.
    */
  private def pqWide(rows: DataFrame): DataFrame = {
    val pivots = (0 until pqSubs).map(sb =>
      max(when(col("sub") === sb, col("term"))).as(s"t$sb"))
    rows.groupBy("query_id", "vec_id").agg(pivots.head, pivots.tail: _*)
  }

  /** Top-3 per query by the fixed left-assoc sum of the pivoted terms. */
  private def pqTop3(wide: DataFrame): DataFrame =
    wide
      .withColumn("score", (0 until pqSubs).map(sb => col(s"t$sb")).reduce(_ + _))
      .withColumn(
        "rnk",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id")))
          .cast("long"))
      .filter(col("rnk") <= 3)
      .select("query_id", "rnk", "vec_id", "score")

  /** Oracle twin of [[pqTables]]: per-subspace norms, Lloyd fits,
    * codebooks and ADC tables ending in `allt(query_id, vec_id, sub,
    * term)` for every corpus vector.
    */
  private def pqTablesSql(qWhere: String => String): String = {
    val norms = (0 until pqSubs).map { sb =>
      val off = sb * pqDims
      s"""ns$sb AS (SELECT vec_id,
            CAST(sum(CAST(CAST(embedding[i.i + $off] AS DOUBLE)
              * CAST(embedding[i.i + $off] AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE) AS n2
          FROM embeddings, unnest(generate_series(1, $pqDims)) AS i(i) GROUP BY 1)"""
    }.mkString(",\n")
    val fits = (0 until pqSubs).map { sb =>
      IvfQuantizer.lloydSql("8", 1, pqDims, 2, s"s$sb", sb * pqDims)
    }.mkString(",\n")
    val perSub = (0 until pqSubs).map { sb =>
      s"""cb$sb AS (SELECT a.cell, c.dim, CAST(sum(CAST(c.x AS DECIMAL(38,9))) AS DOUBLE) AS sx
            FROM comps$sb c JOIN assigneds$sb a ON a.vec_id = c.vec_id GROUP BY 1, 2),
          m$sb AS (SELECT cell, CAST(count(*) AS BIGINT) AS m FROM assigneds$sb GROUP BY 1),
          tq$sb AS (SELECT q.vec_id AS query_id, cb.cell,
              CAST(sum(CAST(q.x * cb.sx AS DECIMAL(38,9))) AS DOUBLE) AS ds
            FROM comps$sb q JOIN cb$sb cb ON cb.dim = q.dim
            WHERE ${qWhere("q.vec_id")} GROUP BY 1, 2),
          tm$sb AS (SELECT t.query_id, a.vec_id, t.ds / CAST(m.m AS DOUBLE) AS term
            FROM assigneds$sb a JOIN tq$sb t ON t.cell = a.cell
                 JOIN m$sb m ON m.cell = a.cell)"""
    }.mkString(",\n")
    val allUnion = (0 until pqSubs)
      .map(sb => s"SELECT query_id, vec_id, $sb AS sub, term FROM tm$sb")
      .mkString(" UNION ALL ")
    s"""$norms,
        $fits,
        $perSub,
        allt AS ($allUnion)"""
  }

  /** Oracle twin of [[pqWide]] + [[pqTop3]] over the term rows `rows`
    * (`where`: an optional filter on the pivoted rows).
    */
  private def pqTop3Sql(rows: String, where: String): String = {
    val pivot = (0 until pqSubs)
      .map(sb => s"max(CASE WHEN sub = $sb THEN term END) AS t$sb")
      .mkString(", ")
    val scoreExpr = (0 until pqSubs).map(sb => s"t$sb").reduce((a, b) => s"($a + $b)")
    s"""wide AS (SELECT query_id, vec_id, $pivot FROM $rows GROUP BY 1, 2)
        SELECT query_id, rnk, vec_id, score FROM (
          SELECT query_id, vec_id, $scoreExpr AS score,
            row_number() OVER (PARTITION BY query_id
              ORDER BY $scoreExpr DESC, vec_id) AS rnk
          FROM wide$where)
        WHERE rnk <= 3"""
  }

  /** The `sim_margin_mine` pipeline over a (vec_id, label, embedding, n2)
    * frame: mutual-best ratio-margin pairs between the even-id and odd-id
    * sides, blocked on label (see the QDef comment). `ProbeScale mine`
    * times this builder on synthetic corpora.
    */
  private[graft] def marginMine(e: DataFrame): DataFrame = {
    val mk = 4
    val a = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("label"), col("vec_id").as("src_id"),
        col("embedding").as("ae"), col("n2").as("an2"))
    val b = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(col("label"), col("vec_id").as("tgt_id"),
        col("embedding").as("be"), col("n2").as("bn2"))
    val p = Caches.trackPersist(
      a.join(b, "label")
        .withColumn("cos", Vectors.cosineFrom(
          Vectors.dotExact(col("ae"), col("be")), col("an2"), col("bn2")))
        .select("label", "src_id", "tgt_id", "cos"))
    val ka = p.withColumn("r", row_number().over(
        Window.partitionBy("src_id").orderBy(col("cos").desc, col("tgt_id"))))
      .filter(col("r") <= mk)
      .groupBy("src_id").agg(Exact.dsumTrunc9(col("cos")).as("ka"))
    val kb = p.withColumn("r", row_number().over(
        Window.partitionBy("tgt_id").orderBy(col("cos").desc, col("src_id"))))
      .filter(col("r") <= mk)
      .groupBy("tgt_id").agg(Exact.dsumTrunc9(col("cos")).as("kb"))
    // persisted: both argmax directions consume it — without the cache
    // each would recompute the two k-NN sum aggregations
    val m = Caches.trackPersist(
      p.join(ka, "src_id").join(kb, "tgt_id")
        .withColumn("margin",
          col("cos") / ((col("ka") + col("kb")) / lit((2 * mk).toDouble))))
    val fwd = m.withColumn("rf", row_number().over(
        Window.partitionBy("src_id").orderBy(col("margin").desc, col("tgt_id"))))
      .filter(col("rf") === 1)
    val bwd = m.withColumn("rb", row_number().over(
        Window.partitionBy("tgt_id").orderBy(col("margin").desc, col("src_id"))))
      .filter(col("rb") === 1)
      .select("src_id", "tgt_id")
    fwd.join(bwd, Seq("src_id", "tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("label"), col("cos"), col("margin"))
  }

  /** Exact brute-force cosine top-3 (the recall-audit ground truth) —
    * the `sim_cosine_topk` builder, factored so `sim_ivf_recall` /
    * `sim_ivfpq_recall` consume the identical pipeline.
    */
  private def exactTopk(
      s: org.apache.spark.sql.SparkSession, d: String, k: Int = 3, dims: Int = 64,
      qPred: org.apache.spark.sql.Column = col("vec_id") < 5) = {
    val base = t(s, d, "embeddings")
    val sliced =
      if (dims >= 64) base
      else base.select(col("vec_id"), slice(col("embedding"), 1, dims).as("embedding"))
    val e = withNorm(sliced)
    val q = e.filter(qPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"))
    val c = e.select(col("vec_id"), col("embedding").as("ce"), col("n2").as("cn2"))
    // Broadcast the tiny query side and STREAM the corpus: at 100 TB the
    // corpus never fits in a broadcast, but the handful of query vectors
    // always does — every corpus partition scans locally against the
    // broadcast queries (BroadcastNestedLoopJoin, build side = q).
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", Vectors.cosineFrom(Vectors.dotExact(col("qe"), col("ce")), col("qn2"), col("cn2")))
      .withColumn(
        "rnk",
        row_number().over(Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id")))
          .cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "vec_id", "cos")
  }

  private def exactSqlK(
      k: Int, dims: Int = 64, qWhere: String => String = c => s"$c < 5") =
    s"""WITH n AS (SELECT vec_id,
          CAST(sum(CAST(CAST(embedding[i.i] AS DOUBLE)
            * CAST(embedding[i.i] AS DOUBLE) AS DECIMAL(38,9))) AS DOUBLE) AS n2
          FROM embeddings, unnest(generate_series(1, $dims)) AS i(i) GROUP BY 1),
        q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
              WHERE ${qWhere("vec_id")}),
        d AS (SELECT q.query_id, c.vec_id,
                ${Vectors.sqlDotExact("q.qe", "c.embedding", "i.i")} AS dot
              FROM q CROSS JOIN embeddings c, unnest(generate_series(1, $dims)) AS i(i)
              WHERE c.vec_id <> q.query_id GROUP BY 1, 2),
        s AS (SELECT d.query_id, d.vec_id,
                d.dot / nullif(sqrt(nq.n2) * sqrt(nc.n2), CAST(0.0 AS DOUBLE)) AS cos
              FROM d JOIN n nq ON nq.vec_id = d.query_id JOIN n nc ON nc.vec_id = d.vec_id)
        SELECT query_id, rnk, vec_id, cos FROM
          (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
           FROM s) WHERE rnk <= $k"""

  private val exactSql = exactSqlK(3)

  /** The `sim_ivf_topk` builder (see its QDef comment), factored for the
    * recall audit.
    */
  private def ivfTopk(s: org.apache.spark.sql.SparkSession, d: String, k: Int = 3) = {
    val e = withNorm(t(s, d, "embeddings"))
    val ranked = graft.ops.Caches.trackPersist(
      graft.ml.IvfQuantizer.fitRankedFrom(e, "vec_id", "embedding", "n2", rawFit8(s, d)))
    val cells = ranked.filter(col("cell_rank") === 1).select(col("vec_id"), col("cell"))
    val probes = ranked.filter(col("vec_id") < 5 && col("cell_rank") <= 2)
      .select(col("vec_id").as("query_id"), col("cell"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("n2").as("qn2"))
      .join(probes, "query_id")
    val c = e.join(cells, "vec_id")
      .select(col("vec_id"), col("embedding").as("ce2"), col("n2").as("cn22"), col("cell"))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", Vectors.cosineFrom(Vectors.dotExact(col("qe"), col("ce2")), col("qn2"), col("cn22")))
      .withColumn(
        "rnk",
        row_number().over(Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id")))
          .cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "cell", "rnk", "vec_id", "cos")
  }

  private def ivfSqlK(k: Int) =
    s"""WITH $normSql,
        ${graft.ml.IvfQuantizer.lloydSql("8", 2, 64, sampleEvery = 4)},
        q AS (SELECT cr.vec_id AS query_id, cr.cell, e.embedding AS qe
              FROM cellranks cr JOIN embeddings e ON e.vec_id = cr.vec_id
              WHERE cr.vec_id < 5 AND cr.rn <= 2),
        c AS (SELECT a.vec_id, a.cell, e.embedding AS ce2
              FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id),
        d AS (SELECT q.query_id, q.cell, c.vec_id,
                ${Vectors.sqlDotExact("q.qe", "c.ce2", "i.i")} AS dot
              FROM q JOIN c ON c.cell = q.cell AND c.vec_id <> q.query_id,
                   unnest(generate_series(1, 64)) AS i(i)
              GROUP BY 1, 2, 3),
        s AS (SELECT d.query_id, d.cell, d.vec_id,
                d.dot / nullif(sqrt(nq.n2) * sqrt(nc.n2), CAST(0.0 AS DOUBLE)) AS cos
              FROM d JOIN n nq ON nq.vec_id = d.query_id JOIN n nc ON nc.vec_id = d.vec_id)
        SELECT query_id, cell, rnk, vec_id, cos FROM
          (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
           FROM s) WHERE rnk <= $k"""

  private val ivfSql = ivfSqlK(3)

  /** Recall@3 audit: join an approximate top-3 result against the exact
    * [[exactTopk]] top-3, one hit-count + ratio row per query vector and a
    * `query_id = -1` corpus row whose recall is `Σhits / (3·K)` — integer
    * counts and ONE closing IEEE division each, so the pinned recall
    * numbers hash cross-engine. The oracle twin ([[recallSql]]) wraps the
    * two component oracles as nested CTEs unchanged.
    *
    * BATCH-ONLY (registry audits are batch by construction): the persists
    * below would throw on a streaming plan — a streaming recall audit
    * would need the classificationCounts pass-through treatment.
    */
  private def recallOf(
      exact: org.apache.spark.sql.DataFrame,
      approx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // BOTH audited pipelines are referenced from two plan branches (the
    // hit join + the per-query universe / the union's corpus row), and
    // both are expensive (the exact side is the query × corpus scoring
    // scan) — persist their tiny (query_id, vec_id) top-k projections and
    // the per-query frame so each pipeline runs ONCE per audit (measured
    // on sim_ivfpq_recall_sampled: the exact side ran twice before this)
    val e = graft.ops.Caches.trackPersist(exact.select("query_id", "vec_id"))
    val a = graft.ops.Caches.trackPersist(approx.select("query_id", "vec_id"))
    val hits = e.join(a, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val per = graft.ops.Caches.trackPersist(
      e.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("hits"), lit(0L)).as("hits"))
        .withColumn("recall", col("hits").cast("double") / lit(3.0)))
    val corpus = per.groupBy()
      .agg(sum(col("hits")).as("hits"),
        (sum(col("hits")).cast("double") / (lit(3.0) * count(lit(1)).cast("double")))
          .as("recall"))
      .select(lit(-1L).as("query_id"), col("hits"), col("recall"))
    per.unionByName(corpus)
  }

  private def recallSql(approxSql: String, exactSqlStr: String = exactSql) =
    s"""WITH exact AS ($exactSqlStr),
        approx AS ($approxSql),
        h AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS hits
              FROM exact e JOIN approx a
                ON a.query_id = e.query_id AND a.vec_id = e.vec_id
              GROUP BY 1),
        per AS (SELECT b.query_id, coalesce(h.hits, CAST(0 AS BIGINT)) AS hits,
                  CAST(coalesce(h.hits, CAST(0 AS BIGINT)) AS DOUBLE) / CAST(3 AS DOUBLE) AS recall
                FROM (SELECT DISTINCT query_id FROM exact) b
                LEFT JOIN h ON h.query_id = b.query_id)
        SELECT query_id, hits, recall FROM per
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS query_id, CAST(sum(hits) AS BIGINT) AS hits,
          CAST(sum(hits) AS DOUBLE) / (CAST(3 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS recall
        FROM per"""

  val defs: Seq[QDef] = Seq(
    QDef("sim_cosine_topk", (s, d) => exactTopk(s, d), Some(exactSql)),

    QDef(
      "sim_ivf_topk",
      // IVF-style ANN with a REAL fitted coarse quantizer: spherical
      // k-means (k=8, 2 Lloyd updates, seeded on the lowest-id SAMPLE
      // vectors) expressed as exact-decimal DataFrame aggregations
      // ([[graft.ml.IvfQuantizer]]) so the oracle replicates the fit.
      // The fit scans only the systematic vec_id % 4 == 0 sample — the
      // 100 TB recipe (Lloyd on a sample, ONE full-corpus assignment
      // against broadcast centroids) exercised for real, not documented.
      // Every vector lands in its max-cosine cell and queries probe their
      // TOP-2 cells (nprobe=2 — the recall knob for neighbors straddling a
      // cell boundary) — the inverted-file structure that bounds candidate
      // counts at scale. Candidate cosines exact-decimal as before.
      (s, d) => ivfTopk(s, d),
      Some(ivfSql)),

    QDef(
      "sim_ivf_recall",
      // the recall knob, MEASURED: recall@3 of the routed IVF search vs
      // the exact cosine baseline, per query + the corpus mean — turns
      // the IvfQuantizer scaladoc's recall assertion into a regression-
      // pinned CORRECTNESS number (both pipelines are deterministic in
      // both engines, so the audit itself is oracle-checkable)
      (s, d) => recallOf(exactTopk(s, d), ivfTopk(s, d)),
      Some(recallSql(ivfSql))),

    QDef(
      "sim_diverse_sample",
      // cluster-balanced diversity sampling (the SemDeDup-class curation
      // move): fit the coarse quantizer on the vec_id % 4 sample, assign
      // the full corpus in ONE broadcast pass, then cap each cell at 20
      // vectors in hash order with an id tiebreak — over-represented
      // clusters are pruned, sparse ones kept whole, and the kept SET is
      // reproducible under re-ingest (no rand()). The fit/assign chain is
      // sim_ivf_topk's, the per-cell cap is stratified_sample's — both
      // oracle-replicated components reused unchanged.
      (s, d) => {
        val e = withNorm(t(s, d, "embeddings"))
        val cells = graft.ml.IvfQuantizer
          .fitAssignFrom(e, "vec_id", "embedding", "n2", rawFit8(s, d))
          .select(col("cell"), col("vec_id"))
        Sampling.stratifiedSample(cells, "vec_id", Seq("cell"), 20)
      },
      Some(s"""WITH $normSql,
               ${graft.ml.IvfQuantizer.lloydSql("8", 2, 64, sampleEvery = 4)}
               SELECT cell, vec_id FROM (
                 SELECT cell, vec_id,
                   row_number() OVER (PARTITION BY cell
                     ORDER BY ${Sampling.sqlHashU24("vec_id")}, vec_id) AS rn
                 FROM assigned)
               WHERE rn <= 20""")),

    QDef(
      "sim_quantize_int8",
      // symmetric int8 embedding quantization (the 4×-smaller storage format
      // of large embedding stores), exploded to scalar rows: pure integer
      // arithmetic on scale-9 fixed-point components, so the oracle matches
      // bit-for-bit — no float division anywhere
      (s, d) => {
        // explode the fixed-point array FIRST, then scalar integer math —
        // the oracle's own shape; array lambdas under a generator would
        // re-evaluate per output row
        val base = t(s, d, "embeddings").select(
          col("vec_id"),
          posexplode(Vectors.int8Xq("embedding")).as(Seq("dim", "xq")))
        base
          .withColumn(
            "amax_q9",
            max(abs(col("xq"))).over(org.apache.spark.sql.expressions.Window.partitionBy("vec_id")))
          .select(
            col("vec_id"),
            col("dim").cast("long").as("dim"),
            Vectors.int8QScalar("xq", "amax_q9").as("q8"),
            col("amax_q9"))
      },
      Some(s"""WITH c AS (SELECT vec_id, i.i - 1 AS dim,
                 ${Vectors.sqlXq9("embedding[i.i]")} AS xq
               FROM embeddings, unnest(generate_series(1, 64)) AS i(i)),
               a AS (SELECT vec_id, max(abs(xq)) AS amax_q9 FROM c GROUP BY 1)
               SELECT c.vec_id, CAST(c.dim AS BIGINT) AS dim,
                 ${Vectors.sqlInt8Q("c.xq", "a.amax_q9")} AS q8, a.amax_q9
               FROM c JOIN a ON a.vec_id = c.vec_id""")),

    QDef(
      "sim_int8_topk",
      // ANN over the QUANTIZED store: integer dot of int8 vectors rescaled
      // by the amax product — score = dotq·amaxA·amaxB ∝ x·y up to
      // quantization error. The integer dot is exact (≤ 64·127² ≪ 2⁶³);
      // the rescale is the same left-associated IEEE double product in both
      // engines, so ranking and score hash-match. Demonstrates that
      // retrieval never touches the float vectors: 4× less scan at 100 TB.
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .withColumn("xq", Vectors.int8Xq("embedding"))
          .withColumn("amax_q9", Vectors.int8Amax("xq"))
          .withColumn("q", Vectors.int8Q("xq", "amax_q9"))
          .select(col("vec_id"), col("amax_q9"),
            // double-element view of the int8 vector: values ≤127 are exact
            // doubles, so ExactDot at scale 0 IS the integer dot
            expr("transform(q, v -> CAST(v AS DOUBLE))").as("qd"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("qd").as("qa"), col("amax_q9").as("aa"))
        val c = e.select(col("vec_id"), col("qd").as("qb"), col("amax_q9").as("ab"))
        c.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("dotq", graft.functions.ExactDot.ofScale(col("qa"), col("qb"), 0).cast("long"))
          .withColumn("score",
            col("dotq").cast("double") * col("aa").cast("double") * col("ab").cast("double"))
          .withColumn(
            "rnk",
            row_number().over(Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id")))
              .cast("long"))
          .filter(col("rnk") <= 3)
          .select("query_id", "rnk", "vec_id", "score")
      },
      Some(s"""WITH c0 AS (SELECT vec_id, i.i - 1 AS dim,
                 ${Vectors.sqlXq9("embedding[i.i]")} AS xq
               FROM embeddings, unnest(generate_series(1, 64)) AS i(i)),
               a0 AS (SELECT vec_id, max(abs(xq)) AS amax_q9 FROM c0 GROUP BY 1),
               qv AS (SELECT c0.vec_id, c0.dim, ${Vectors.sqlInt8Q("c0.xq", "a0.amax_q9")} AS q8,
                        a0.amax_q9
                      FROM c0 JOIN a0 ON a0.vec_id = c0.vec_id),
               d AS (SELECT qa.vec_id AS query_id, qb.vec_id,
                       CAST(sum(CAST(qa.q8 AS BIGINT) * qb.q8) AS BIGINT) AS dotq,
                       max(qa.amax_q9) AS aa, max(qb.amax_q9) AS ab
                     FROM qv qa JOIN qv qb ON qb.dim = qa.dim AND qb.vec_id <> qa.vec_id
                     WHERE qa.vec_id < 5
                     GROUP BY 1, 2)
               SELECT query_id, rnk, vec_id, score FROM (
                 SELECT query_id, vec_id,
                   CAST(dotq AS DOUBLE) * CAST(aa AS DOUBLE) * CAST(ab AS DOUBLE) AS score,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                     CAST(dotq AS DOUBLE) * CAST(aa AS DOUBLE) * CAST(ab AS DOUBLE) DESC,
                     vec_id) AS rnk
                 FROM d) WHERE rnk <= 3""")),

    QDef(
      "rp_project",
      // random-projection dim reduction 64 → 16 (Achlioptas ±1 signs from
      // md5 parity — both engines regenerate the identical matrix, no RNG):
      // broadcast sign matrix, exploded corpus, one partial-agged exact-
      // decimal sum per (vec, out_dim)
      (s, d) => Vectors.randomProject(t(s, d, "embeddings"), "vec_id", "embedding", 64, 16),
      Some(s"""WITH ${Vectors.sqlRandomProject(64, 16)}
               SELECT vec_id, out_dim, value FROM rp""")),

    QDef(
      "sim_lsh_bucket",
      // single-table sign-LSH with the bit count scaled to the corpus
      // (occupancy target 2 → 8 bits at n=500, 10 at n=2000, …): per-bucket
      // self-join cost stays ~n·occ/2 pairs instead of n²/2^bits
      (s, d) => {
        // persisted: the bucketed frame feeds both self-join sides, and
        // counting the persisted frame materializes the cache instead of
        // costing an extra cold scan (at 100 TB pass n from table stats)
        val src = Caches.trackPersist(withNorm(t(s, d, "embeddings")))
        val bits = Vectors.adaptiveSignBits(src.count(), 2)
        val e = src.withColumn("bucket", Vectors.signBucket(col("embedding"), bits))
        val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ae"),
          col("n2").as("an2"), col("bucket"))
        val b = e.select(col("vec_id").as("b_id"), col("embedding").as("be"),
          col("n2").as("bn2"), col("bucket"))
        a.join(b, Seq("bucket"))
          .filter(col("a_id") < col("b_id"))
          .withColumn("cos", Vectors.cosineFrom(Vectors.dotExact(col("ae"), col("be")), col("an2"), col("bn2")))
          .filter(col("cos") >= 0.0)
          .select("bucket", "a_id", "b_id", "cos")
      },
      Some(s"""WITH $normSql,
               prm AS (${Vectors.sqlAdaptiveSignBits("embeddings", 2)}),
               e AS (SELECT vec_id, embedding,
                       substr(${Vectors.sqlSignBucket("embedding", 64)}, 1, p.bits) AS bucket
                     FROM embeddings, prm p),
               p AS (SELECT a.bucket, a.vec_id AS a_id, b.vec_id AS b_id,
                       ${Vectors.sqlDotExact("a.embedding", "b.embedding", "i.i")} AS dot
                     FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id,
                          unnest(generate_series(1, 64)) AS i(i)
                     GROUP BY 1, 2, 3)
               SELECT p.bucket, p.a_id, p.b_id,
                      p.dot / nullif(sqrt(na.n2) * sqrt(nb.n2), CAST(0.0 AS DOUBLE)) AS cos
               FROM p JOIN n na ON na.vec_id = p.a_id JOIN n nb ON nb.vec_id = p.b_id
               WHERE p.dot / nullif(sqrt(na.n2) * sqrt(nb.n2), CAST(0.0 AS DOUBLE))
                     >= CAST(0.0 AS DOUBLE)""")),

    QDef(
      "sim_pq_topk",
      // product quantization — the memory-compression ANN path that
      // completes IVF (routing) + int8 (4×) + LSH (candidate gen): the
      // 64-dim vector splits into 8 8-dim subspaces, each with its own
      // spherical k-means codebook (k=8, 1 Lloyd update, fit on the
      // vec_id % 2 systematic sample — every fit is the oracle-replicable
      // [[graft.ml.IvfQuantizer]] machinery on a slice), so a vector
      // stores as 8 small codes (~3 bits each vs 256 float bytes).
      // Retrieval is asymmetric distance computation: per query, one
      // 8×8-entry lookup table of exact-decimal dots against the
      // (member-sum / member-count) reconstruction centroids; a corpus
      // vector's score is its 8 table lookups summed in FIXED left-assoc
      // order (pivoted to explicit columns — a bare double SUM would be
      // partition-order-dependent). Top-3 per query, total tiebreak.
      (s, d) => {
        val (codesP, tbl) = pqTables(s, d, col("vec_id") < 5)
        pqTop3(pqWide(codesP.join(broadcast(tbl), Seq("sub", "cell")))
          .filter(col("vec_id") =!= col("query_id")))
      },
      Some(s"""WITH ${pqTablesSql(c => s"$c < 5")},
            ${pqTop3Sql("allt", " WHERE vec_id <> query_id")}""")),

    QDef(
      "sim_ivfpq_topk",
      // IVF-PQ — the composed FAISS shape and the engine's full ANN
      // story in one query: the fitted coarse quantizer (sim_ivf's
      // machinery) routes each query to its nprobe=2 cells so only that
      // corpus fraction is scored at all, and scoring inside the probed
      // cells is sim_pq's asymmetric distance computation over 8-code
      // compressed vectors (8 table lookups, fixed-order sum — never the
      // raw floats). At 100 TB: candidates bounded by nprobe/k of the
      // corpus, per-candidate cost 8 lookups on ~3-bit codes, and both
      // fits scan only systematic samples. Every stage reuses the
      // oracle-replicable components unchanged.
      (s, d) => ivfpqTopk(s, d),
      Some(ivfpqSql)),

    QDef(
      "sim_ivfpq_recall",
      // recall@3 of the composed IVF-PQ pipeline vs the exact cosine
      // baseline — quantifies the compound loss (coarse routing miss +
      // ADC code approximation) the sim_ivfpq_topk comment only describes
      (s, d) => recallOf(exactTopk(s, d), ivfpqTopk(s, d)),
      Some(recallSql(ivfpqSql))),

    QDef(
      "sim_ivfpq_recall_sampled",
      // the SAMPLED form of the sim_ivfpq_recall audit — the shape it
      // runs in when the query side is corpus-sized (audit every vector's
      // ANN quality, not 5 probes): the SAME deterministic hash-mod gate
      // (hashU24(vec_id) % 64 < 1, the d15b recipe) selects the query set
      // on BOTH the exact-truth and IVF-PQ sides before any scoring, so
      // the exact baseline's query × corpus cost carries the 1/64 factor
      // while the audited pipeline is the unmodified composition. Recall
      // concentrates as the sample grows (each query contributes an
      // independent 0..3 hit count); size the modulus so the sampled
      // query count stays statistically meaningful
      (s, d) => {
        val qp = (Sampling.hashU24(col("vec_id")) % 64) < 1
        recallOf(exactTopk(s, d, qPred = qp), ivfpqTopk(s, d, qPred = qp))
      },
      Some {
        val qw = (c: String) => s"${Sampling.sqlHashU24(c)} % 64 < 1"
        recallSql(ivfpqSqlFor(qw), exactSqlK(3, 64, qw))
      }),

    QDef(
      "sim_pca1_score",
      // top-principal-direction projection — the embedding-space
      // whitening/outlier signal (a learned space's dominant axis is
      // usually an artifact; |pc1_score| ranks vectors extreme along it).
      // Engine-exact end to end: the covariance fit scans only the
      // vec_id % 4 systematic sample with trunc-9 decimal sums, the
      // 6-round power iteration runs in pure integer fixed-point algebra
      // the oracle unrolls verbatim (fixed v0 = e1, IEEE sqrt + division
      // per round, first-nonzero-positive sign canonicalization), and
      // the full-corpus projection is one broadcast (dim, mu, v) join +
      // decimal dot — fit sample-sized, scoring shuffle-light
      // (ml/Pca.scala scaladoc for the scale contract). The fit is
      // MEMOIZED per sf dir (pcaFitFor) — one fit serves all three PCA
      // queries and the stream scorer, the model-reuse any production
      // fit/route split has
      (s, d) => graft.ml.Pca.pc1ScoresFrom(
        pcaFitFor(s, d),
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dims = 64),
      Some(s"""WITH ${graft.ml.Pca.sql("embeddings", 64, 6, 4)}
               SELECT vec_id, pc1_score FROM pcascore""")),

    QDef(
      "sim_pca1_var",
      // the PCA fit's ONE-ROW variance summary: lambda1 (Rayleigh vᵀCv
      // of the fitted unit direction), trace (total variance Σ Cii) and
      // var_share = lambda1/trace — "how dominant is the dominant axis",
      // the number that decides whether whitening/axis-pruning is worth
      // running (sim_pca_whiten is the registered consumer that acts on
      // it). Same trunc-9 integer algebra as the fit, so the row hashes
      // cross-engine (sim_pca1_score's oracle chain + two dots). The fit
      // runs EAGERLY (collect) at query-build time, so this query's own
      // plan signature is empty — the fit pipeline's plan is pinned by
      // RegistryPlanLintSpec's `__fit_pca_cov` pseudo-query instead
      (s, d) => graft.ml.Pca.pc1VarianceFrom(pcaFitFor(s, d), s),
      Some(s"""WITH ${graft.ml.Pca.varianceSql("embeddings", 64, 6, 4)}
               SELECT lambda1, trace, var_share FROM vstats""")),

    QDef(
      "sim_pca_whiten",
      // whitened top-2 projection — the transform a high var_share calls
      // for (production SemDeDup whitens before cosine so one dominant
      // artifact axis stops deciding every similarity): per vector, the
      // raw component scores pc_c = trunc9-dot(x − mu, v_c) and the
      // WHITENED scores w_c = pc_c / √λ_c (unit variance along each
      // fitted axis). Component 2 comes from DEFLATION in the same
      // integer fixed-point algebra (C ← C − trunc9(λ·vᵢvⱼ)/1e9), which
      // the oracle replicates per cell; λ_c is the Rayleigh quotient the
      // sim_pca1_var chain already proved cross-engine. One broadcast
      // (d, mu, v_1, v_2) table, one explode + hash agg — linear,
      // shuffle-light, and the fit is the SAME memoized FitK the other
      // PCA queries route against (fitted once per dataset)
      (s, d) => graft.ml.Pca.whitenScores(
        pcaFitFor(s, d),
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dims = 64),
      Some(s"""WITH ${graft.ml.Pca.whitenSql("embeddings", 64, 6, 4, k = 2)}
               SELECT vec_id, pc_1, pc_2, w_1, w_2 FROM whiten""")),

    QDef(
      "sim_hard_negatives",
      // hard-negative mining for contrastive training: per query vector,
      // the top-3 most-similar candidates with a DIFFERENT label — the
      // near-the-margin negatives a contrastive/embedding trainer wants.
      // Same broadcast-queries/stream-corpus shape as the exact baseline
      // (the label inequality rides the join condition, so same-label
      // candidates die in-stage, before any ranking state)
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label"))
          .withColumn("n2", Vectors.norm2Exact(col("embedding")))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("n2").as("qn2"), col("label").as("qlabel"))
        val c = e.select(col("vec_id"), col("embedding").as("ce"), col("n2").as("cn2"), col("label"))
        c.join(broadcast(q), col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
          .withColumn("cos",
            Vectors.cosineFrom(Vectors.dotExact(col("qe"), col("ce")), col("qn2"), col("cn2")))
          .withColumn(
            "rnk",
            row_number().over(
              Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id")))
              .cast("long"))
          .filter(col("rnk") <= 3)
          .select("query_id", "qlabel", "rnk", "vec_id", "label", "cos")
      },
      Some(s"""WITH $normSql,
           q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
                 FROM embeddings WHERE vec_id < 5),
           d AS (SELECT q.query_id, q.qlabel, c.vec_id, c.label,
                   ${Vectors.sqlDotExact("q.qe", "c.embedding", "i.i")} AS dot
                 FROM q JOIN embeddings c
                   ON c.vec_id <> q.query_id AND c.label <> q.qlabel,
                      unnest(generate_series(1, 64)) AS i(i)
                 GROUP BY 1, 2, 3, 4),
           s AS (SELECT d.query_id, d.qlabel, d.vec_id, d.label,
                   d.dot / nullif(sqrt(nq.n2) * sqrt(nc.n2), CAST(0.0 AS DOUBLE)) AS cos
                 FROM d JOIN n nq ON nq.vec_id = d.query_id JOIN n nc ON nc.vec_id = d.vec_id)
           SELECT query_id, qlabel, rnk, vec_id, label, cos FROM
             (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, vec_id) AS rnk FROM s) WHERE rnk <= 3""")),

    QDef(
      "sim_label_noise",
      // label-noise audit via neighborhood consensus (the confident-
      // learning / cleanlab signal): for EVERY vector, its k=5 nearest
      // same-cell neighbors by exact cosine vote on its label — a vector
      // whose neighborhood majority disagrees is flagged suspect (likely
      // mislabeled training data). Candidates are bounded by the fitted
      // IVF cell, and — unlike the query-time sim_ivf searches, where a
      // fixed cell count only multiplies a handful of queries — the cell
      // count here is ADAPTIVE: k = max(2, ceil(n/64)) derived from
      // count(*) by both engines (IvfQuantizer.adaptiveK — the
      // adaptiveSignBits pattern), pinning cell size at ~64 so the
      // all-cells self-join enumerates ~64·n pairs, LINEAR in the corpus
      // (a fixed k would make it n²/k — see the adaptiveK scaladoc for
      // the full cost model incl. the n·k assignment term and the
      // hierarchical composition past broadcastable k). At the test SFs
      // n=500 → k=8 (the originally blessed fit, bit-identical); n=2000
      // → k=32. Vectors in singleton cells have no neighbors and are
      // absent (unauditable, stated). Determinism: exact-decimal dots,
      // (cos desc, vec_id) total tiebreak, integer vote counts, one
      // closing IEEE division
      (s, d) => {
        val e = withNorm(t(s, d, "embeddings"), "label")
        val m = routeFlat(s, d, "raw", e, e.select("vec_id", "embedding", "n2"))(
          withNorm(t(s, d, "embeddings")))
        consensusVote(cellPairs(m, Seq("cell"), _ =!= _, Seq("label")))
      },
      Some(s"""WITH $normSql,
           ${flatRouteSql("embeddings", "n")},
           ${cellPairSql(Seq("cell"), "embeddings", "n", "<>", Seq("label"))},
           $consensusVoteSql""")),

    QDef(
      "sim_label_noise_hier",
      // the same neighborhood-consensus audit routed through the TWO-LEVEL
      // hierarchical quantizer (IvfQuantizer.fitHierCollect) — the
      // composition the adaptiveK scaladoc names for cell counts past the
      // flat regime, demonstrated end-to-end and oracle-checked: a k-cell
      // coarse fit routes the corpus, ONE grouped job fits k sub-cells
      // inside each coarse cell (per-group seeds), and the audit pairs
      // within (ccell, scell) LEAF cells. k = hierK(n) = ceil(√(n/64))
      // per level, so leaves hold ~64 vectors (audit pairs ~64·n, linear,
      // like the flat adaptive variant) while routing scores only 2k
      // centroids per vector — n·2√(n/64) assignment work instead of the
      // flat n·(n/64): the knob that stays sub-quadratic when the corpus
      // makes the flat centroid table itself corpus-sized. Both engines
      // derive k from count(*) (sqrt/ceil are correctly-rounded IEEE ops —
      // no tie surface on integer inputs); sub-cell labels are per-group
      // seed ids, so the leaf key is the (ccell, scell) PAIR. Same
      // determinism + singleton-leaf contract as sim_label_noise
      (s, d) => {
        val e = withNorm(t(s, d, "embeddings"), "label")
        val m = routeHier(s, d, "raw", e, e.select("vec_id", "embedding", "n2"))(
          withNorm(t(s, d, "embeddings")))
        consensusVote(cellPairs(m, Seq("ccell", "scell"), _ =!= _, Seq("label")))
      },
      Some(s"""WITH $normSql,
           ${hierRouteSql("embeddings", "n")},
           ${cellPairSql(Seq("ccell", "scell"), "embeddings", "n", "<>", Seq("label"))},
           $consensusVoteSql""")),

    QDef(
      "sim_semantic_dedup",
      // SemDeDup (Abbas et al. 2023): cluster-then-dedup-within-cluster —
      // the embedding-space analog of d14's MinHash first-claimant dedup,
      // and the semantic complement of d5's LSH near-dup PAIRS: this one
      // emits a per-vector KEEP LEDGER over the whole corpus. The fitted
      // adaptive-k IVF quantizer (sim_label_noise's machinery unchanged —
      // k = ceil(n/64) from count(*) in both engines) routes every vector
      // to its cell; within a cell, a vector is DROPPED iff an EARLIER
      // (lower-id) vector sits at cosine >= 0.4 (d5's threshold), with
      // kept_by = the smallest such claimant and max_cos the tightest one.
      // By construction the lowest id of any within-cell dup group always
      // survives; the relation is deliberately NON-transitive (drop needs a
      // direct >= tau edge — transitive-closure clustering is d7's job).
      // Scale: candidates are cell-bounded (~64·n pairs, linear — the
      // adaptiveK cost model), the ledger is one left join on vec_id, and
      // every per-row value is an integer, an exact-decimal-dot cosine, or
      // a MIN/MAX over those — no order-dependent aggregate anywhere.
      // Vectors alone in their cell trivially keep (no candidates)
      (s, d) => {
        val e = withNorm(t(s, d, "embeddings"))
        val m = routeFlat(s, d, "raw", e, e)(withNorm(t(s, d, "embeddings")))
        keepLedger(m, cellPairs(m, Seq("cell"), _ < _, Nil))
      },
      Some(s"""WITH $normSql,
           ${flatRouteSql("embeddings", "n")},
           ${cellPairSql(Seq("cell"), "embeddings", "n", "<", Nil)},
           $keepLedgerSql""")),

    QDef(
      "sim_semantic_dedup_hier",
      // the SemDeDup keep ledger routed through the TWO-LEVEL hierarchical
      // quantizer (IvfQuantizer.fitHierCollect) — the same composition
      // sim_label_noise_hier demonstrates for the consensus audit, applied
      // to the dedup ledger: a hierK(n)-cell coarse fit routes the corpus,
      // ONE grouped job fits hierK(n) sub-cells per coarse cell, and the
      // first-claimant pair relation runs within (ccell, scell) LEAF cells.
      // Leaves hold ~64 vectors, so candidate pairs stay ~64·n (linear,
      // like the flat adaptive variant) while per-vector routing scores
      // only 2·√(n/64) centroids instead of the flat n/64 — the regime for
      // corpora where the flat centroid table itself stops broadcasting.
      // Same keep/attribution semantics and determinism as
      // sim_semantic_dedup: drop iff an earlier (lower-id) LEAF-mate sits
      // at cosine >= 0.4, kept_by = smallest claimant, lowest id of any
      // leaf dup group always survives, MIN/MAX-only aggregates
      (s, d) => {
        val e = withNorm(t(s, d, "embeddings"))
        val m = routeHier(s, d, "raw", e, e)(withNorm(t(s, d, "embeddings")))
        keepLedger(m, cellPairs(m, Seq("ccell", "scell"), _ < _, Nil))
      },
      Some(s"""WITH $normSql,
           ${hierRouteSql("embeddings", "n")},
           ${cellPairSql(Seq("ccell", "scell"), "embeddings", "n", "<", Nil)},
           $keepLedgerSql""")),

    QDef(
      "sim_semantic_dedup_whitened",
      // SemDeDup over WHITENED vectors — the registered consumer that ACTS
      // on sim_pca1_var's var_share signal (production SemDeDup removes/
      // rescales dominant embedding axes before cosine so one artifact
      // axis stops deciding every similarity): each vector is replaced by
      // its AXIS-REMOVED residual r_d = x_d − mu_d − pc_1·v1_d − pc_2·v2_d
      // (the memoized k=2 PCA fit; a fixed left-assoc IEEE chain per
      // element, bit-replicable), then the UNCHANGED flat SemDeDup
      // machinery runs on the residual frame: adaptive-k IVF fit routes,
      // first-claimant dedup within cells at cosine >= 0.4, full keep
      // ledger. Residual construction is one broadcast-literal projection
      // over the corpus (the fit is sample-sized + memoized); candidates
      // stay cell-bounded — same scale contract as sim_semantic_dedup.
      // The scored residual frame is PERSISTED by measurement (it embeds
      // the pcs AGG result — the cache-agg-results rule, not a projection
      // cache): solo-benched at sf0.1, warm pass 7.3 s unpersisted vs
      // 4.1-4.4 s persisted (resid otherwise materializes twice - once
      // into the quantizer's src cache, once into the pair-stage m)
      (s, d) => {
        val e = Caches.trackPersist(whitenedResid(s, d))
        val m = routeFlat(s, d, "resid", e, e)(e)
        keepLedger(m, cellPairs(m, Seq("cell"), _ < _, Nil))
      },
      Some(s"""WITH ${graft.ml.Pca.whitenSql("embeddings", 64, 6, 4, k = 2)},
           $residSql,
           ${flatRouteSql("resid", "nw")},
           ${cellPairSql(Seq("cell"), "resid", "nw", "<", Nil)},
           $keepLedgerSql""")),

    QDef(
      "sim_semantic_dedup_whitened_hier",
      // the whitened SemDeDup ledger through the TWO-LEVEL hierarchical
      // quantizer — closing the flat/hier routing symmetry every other
      // quantizer-backed family member has (sim_semantic_dedup /
      // sim_semantic_dedup_hier, sim_label_noise / _hier): the SAME
      // axis-removed residual frame as sim_semantic_dedup_whitened
      // (whitenedResid — one broadcast-literal projection off the memoized
      // k=2 PCA fit), routed by hierK(n) coarse cells + per-coarse-cell
      // sub-fits exactly as sim_semantic_dedup_hier routes raw embeddings,
      // then the first-claimant dedup within (ccell, scell) LEAF cells at
      // cosine >= 0.4. This is the 100 TB shape for whitened dedup: the
      // residual projection is stateless and linear, leaves hold ~64
      // vectors (pairs ~64·n), and per-vector routing scores 2·√(n/64)
      // centroids instead of the flat n/64 — the regime where the flat
      // adaptive-k centroid table itself stops broadcasting. Same
      // keep/attribution semantics, determinism and tie analysis as the
      // flat variant (see whitenedResid's scaladoc); both levels' fits are
      // memoized per dataset (hierFitFor, tag "resid")
      (s, d) => {
        val e = Caches.trackPersist(whitenedResid(s, d))
        val m = routeHier(s, d, "resid", e, e)(e)
        keepLedger(m, cellPairs(m, Seq("ccell", "scell"), _ < _, Nil))
      },
      Some(s"""WITH ${graft.ml.Pca.whitenSql("embeddings", 64, 6, 4, k = 2)},
           $residSql,
           ${hierRouteSql("resid", "nw")},
           ${cellPairSql(Seq("ccell", "scell"), "resid", "nw", "<", Nil)},
           $keepLedgerSql""")),

    QDef(
      "sim_rrf_fusion",
      // hybrid retrieval: reciprocal-rank fusion of a DENSE ranker (exact
      // cosine over embeddings) and a SPARSE ranker (distinct-token Jaccard
      // over the matching documents — vec_id ≡ doc_id by the testdata's
      // parallel-table convention) into one top-10 per query, the
      // Elasticsearch/Vespa/pgvector hybrid-search shape. Each system
      // contributes its top-20; rrf = Σ 1/(60 + rank) over the systems that
      // ranked the item (k=60, the constant from the original RRF paper).
      // Determinism: ranks are integers off two already-hash-green ranking
      // pipelines; each RRF term is one IEEE division and the two-term sum
      // is a fixed left-assoc dag — no aggregation order anywhere. Scale:
      // query sides broadcast, the corpus streams (dense) / shuffles once
      // on token (sparse); the fused join touches only 2×20 rows per query
      (s, d) => {
        val dense = exactTopk(s, d, k = 20)
          .select(col("query_id"), col("vec_id").as("item_id"), col("rnk").as("rd"))
        val toks = t(s, d, "documents").select(
          col("doc_id"),
          explode(array_distinct(split(trim(col("text")), " "))).as("token"))
        val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("nt"))
        val qt = toks.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("token"))
        val qsz = sizes.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("nt").as("nq"))
        val shared = toks.join(broadcast(qt), "token")
          .filter(col("doc_id") =!= col("query_id"))
          .groupBy("query_id", "doc_id").agg(count(lit(1)).as("shared"))
        val sparse = shared.join(sizes, "doc_id").join(broadcast(qsz), "query_id")
          .withColumn("jac",
            col("shared").cast("double") /
              (col("nq") + col("nt") - col("shared")).cast("double"))
          .withColumn("rs", row_number().over(
            Window.partitionBy("query_id").orderBy(col("jac").desc, col("doc_id")))
            .cast("long"))
          .filter(col("rs") <= 20)
          .select(col("query_id"), col("doc_id").as("item_id"), col("rs"))
        def rrfTerm(r: org.apache.spark.sql.Column) =
          coalesce(lit(1.0d) / (lit(60.0d) + r.cast("double")), lit(0.0d))
        dense.join(sparse, Seq("query_id", "item_id"), "full_outer")
          .withColumn("rrf_score", rrfTerm(col("rd")) + rrfTerm(col("rs")))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("query_id").orderBy(col("rrf_score").desc, col("item_id")))
            .cast("long"))
          .filter(col("rnk") <= 10)
          .select("query_id", "rnk", "item_id", "rrf_score", "rd", "rs")
      },
      Some(s"""WITH dense AS (${exactSqlK(20)}),
            tok AS (SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS token
                    FROM documents),
            sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM tok GROUP BY 1),
            qt AS (SELECT doc_id AS query_id, token FROM tok WHERE doc_id < 5),
            sh AS (SELECT q.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS shared
                   FROM tok t JOIN qt q ON q.token = t.token AND t.doc_id <> q.query_id
                   GROUP BY 1, 2),
            jac AS (SELECT sh.query_id, sh.doc_id,
                      CAST(shared AS DOUBLE)
                        / CAST(nq.nt + nc.nt - shared AS DOUBLE) AS jac
                    FROM sh JOIN sz nc ON nc.doc_id = sh.doc_id
                         JOIN sz nq ON nq.doc_id = sh.query_id),
            sparse AS (SELECT query_id, doc_id AS item_id, CAST(rs AS BIGINT) AS rs FROM (
                         SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
                           ORDER BY jac DESC, doc_id) AS rs FROM jac) WHERE rs <= 20),
            f AS (SELECT coalesce(d.query_id, s.query_id) AS query_id,
                    coalesce(d.vec_id, s.item_id) AS item_id, d.rnk AS rd, s.rs
                  FROM dense d FULL OUTER JOIN sparse s
                    ON s.query_id = d.query_id AND s.item_id = d.vec_id),
            g AS (SELECT query_id, item_id, rd, rs,
                    coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(rd AS DOUBLE)),
                      CAST(0.0 AS DOUBLE))
                    + coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(rs AS DOUBLE)),
                      CAST(0.0 AS DOUBLE)) AS rrf_score
                  FROM f)
            SELECT query_id, rnk, item_id, rrf_score, rd, rs FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY rrf_score DESC, item_id) AS BIGINT) AS rnk FROM g)
            WHERE rnk <= 10""")),

    QDef(
      "sim_ivf_ndcg",
      // rank-WEIGHTED audit of the routed IVF search: nDCG@10 vs the exact
      // cosine ranking — recall@k counts hits anywhere in the window, nDCG
      // also charges for putting them in the wrong ORDER (graded relevance
      // 11−exact_rank, discount 1/log2(rank+1)). Every discount is MathLn
      // of an exact small integer over ln 2 (libm-equal), per-query term
      // sums go through order-independent dsumTrunc9, nDCG closes with one
      // division, and the corpus mean sums scale-9-TRUNCATED per-query
      // values as integers (the m13_macro_auc mean recipe) — hash-green
      // like the recall audits it complements
      (s, d) => {
        val ex = exactTopk(s, d, k = 10)
          .select(col("query_id"), col("vec_id"), col("rnk").as("erk"))
        val ap = ivfTopk(s, d, k = 10)
          .select(col("query_id"), col("vec_id"), col("rnk").as("ark"))
        val ln2 = graft.functions.MathLn(lit(2.0d))
        def disc(r: org.apache.spark.sql.Column) =
          graft.functions.MathLn((r + 1).cast("double")) / ln2
        val dcg = ap.join(ex, Seq("query_id", "vec_id"), "left")
          .withColumn("term",
            coalesce(lit(11L) - col("erk"), lit(0L)).cast("double") / disc(col("ark")))
          .groupBy("query_id").agg(Exact.dsumTrunc9(col("term")).as("dcg"))
        val idcg = ex
          .withColumn("term", (lit(11L) - col("erk")).cast("double") / disc(col("erk")))
          .groupBy("query_id").agg(Exact.dsumTrunc9(col("term")).as("idcg"))
        val per = dcg.join(idcg, "query_id")
          .select(col("query_id"), (col("dcg") / col("idcg")).as("ndcg"))
        val corpus = per.groupBy()
          .agg((sum(floor(col("ndcg") * lit(1.0e9d)).cast("long")).cast("double")
            / (lit(1.0e9d) * count(lit(1)).cast("double"))).as("ndcg"))
          .select(lit(-1L).as("query_id"), col("ndcg"))
        per.unionByName(corpus)
      },
      Some(s"""WITH exact AS (${exactSqlK(10)}),
            approx AS (${ivfSqlK(10)}),
            j AS (SELECT a.query_id, a.vec_id, a.rnk AS ark, e.rnk AS erk
                  FROM approx a LEFT JOIN exact e
                    ON e.query_id = a.query_id AND e.vec_id = a.vec_id),
            terms AS (SELECT query_id,
                CAST(coalesce(11 - erk, 0) AS DOUBLE)
                  / (ln(CAST(ark + 1 AS DOUBLE)) / ln(CAST(2.0 AS DOUBLE))) AS term
              FROM j),
            dcg AS (SELECT query_id, ${Exact.sqlDsumTrunc9("term")} AS dcg
                    FROM terms GROUP BY 1),
            iterms AS (SELECT query_id,
                CAST(11 - rnk AS DOUBLE)
                  / (ln(CAST(rnk + 1 AS DOUBLE)) / ln(CAST(2.0 AS DOUBLE))) AS term
              FROM exact),
            idcg AS (SELECT query_id, ${Exact.sqlDsumTrunc9("term")} AS idcg
                     FROM iterms GROUP BY 1),
            per AS (SELECT d.query_id, d.dcg / i.idcg AS ndcg
                    FROM dcg d JOIN idcg i USING (query_id))
            SELECT query_id, ndcg FROM per
            UNION ALL
            SELECT CAST(-1 AS BIGINT) AS query_id,
              CAST(sum(CAST(floor(ndcg * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
                / (CAST(1000000000 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS ndcg
            FROM per""")),

    QDef(
      "sim_mrr",
      // MRR@10 of the exact cosine ranking under same-LABEL relevance —
      // the first-relevant-hit eval that completes the retrieval audit
      // family (recall@k counts hits, nDCG charges for order, MRR scores
      // only how soon the FIRST relevant result appears — the metric for
      // known-item search / RAG context pick). Relevance = the hard-
      // negative convention inverted: a hit is a top-10 neighbor sharing
      // the query's label. Per query: first_rank = min rank of a hit
      // (NULL when no hit in the window), rr = 1/first_rank else 0 — one
      // IEEE division off an integer. The corpus row (query_id = -1) sums
      // the 5 per-query rr values scale-9-TRUNCATED as integers (the
      // m13/ndcg mean recipe: a bare double SUM over a handful of rows is
      // partition-order-dependent)
      (s, d) => {
        val ex = exactTopk(s, d, k = 10)
        val lab = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val q = lab.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
        val hit = ex
          .join(lab, "vec_id")
          .join(broadcast(q), "query_id")
          .filter(col("label") === col("qlabel"))
          .groupBy("query_id")
          .agg(min(col("rnk")).as("first_rank"))
        val per = q.select("query_id").join(hit, Seq("query_id"), "left")
          .select(
            col("query_id"), col("first_rank"),
            coalesce(lit(1.0d) / col("first_rank").cast("double"), lit(0.0d)).as("rr"))
        val corpus = per.groupBy()
          .agg(
            (sum(floor(col("rr") * lit(1.0e9d)).cast("long")).cast("double")
              / (lit(1.0e9d) * count(lit(1)).cast("double"))).as("rr"))
          .select(lit(-1L).as("query_id"), lit(null).cast("long").as("first_rank"), col("rr"))
        per.unionByName(corpus)
      },
      Some(s"""WITH exact AS (${exactSqlK(10)}),
            q AS (SELECT vec_id AS query_id, label AS qlabel
                  FROM embeddings WHERE vec_id < 5),
            hit AS (SELECT e.query_id, CAST(min(e.rnk) AS BIGINT) AS first_rank
                    FROM exact e JOIN embeddings c ON c.vec_id = e.vec_id
                         JOIN q ON q.query_id = e.query_id
                    WHERE c.label = q.qlabel GROUP BY 1),
            per AS (SELECT q.query_id, h.first_rank,
                      coalesce(CAST(1.0 AS DOUBLE) / CAST(h.first_rank AS DOUBLE),
                        CAST(0.0 AS DOUBLE)) AS rr
                    FROM q LEFT JOIN hit h ON h.query_id = q.query_id)
            SELECT query_id, first_rank, rr FROM per
            UNION ALL
            SELECT CAST(-1 AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS first_rank,
              CAST(sum(CAST(floor(rr * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
                / (CAST(1000000000 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS rr
            FROM per""")),

    QDef(
      "sim_margin_mine",
      // margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
      // CCMatrix/LASER bitext-mining criterion): two sides simulated by
      // vec_id parity, candidate pairs BLOCKED on label (the shard/topic
      // block every production miner uses — candidates bounded per block,
      // never corpus×corpus), ratio margin = cos(x,y) divided by the mean
      // of both endpoints' k-NN cosines (k = 4; the margin discounts hubs
      // whose neighborhood is uniformly close), mined pair = MUTUAL best
      // by margin (forward ∩ backward argmax). Determinism: exact-decimal
      // cosines, per-endpoint k-NN sums via dsumTrunc9, denominator mean
      // divides by 2k = 8 (a power of two — exact), (margin desc, id)
      // total order on both argmaxes. Scale shape: the pair enumeration is
      // an equi-join on the block key (quadratic PER BLOCK by the mining
      // contract, like er_blocked_pairs); the k-NN sums and both argmaxes
      // ride per-endpoint windows whose rank filters sit directly over
      // them (WindowGroupLimit map-side pre-prune); pairs persist once and
      // feed all three consumers
      (s, d) => marginMine(
        t(s, d, "embeddings").withColumn("n2", Vectors.norm2Exact(col("embedding")))),
      Some(s"""WITH $normSql,
            a AS (SELECT label, vec_id AS src_id, embedding AS ae
                  FROM embeddings WHERE vec_id % 2 = 0),
            b AS (SELECT label, vec_id AS tgt_id, embedding AS be
                  FROM embeddings WHERE vec_id % 2 = 1),
            dotp AS (SELECT a.label, a.src_id, b.tgt_id,
                       ${Vectors.sqlDotExact("a.ae", "b.be", "i.i")} AS dot
                     FROM a JOIN b ON b.label = a.label,
                          unnest(generate_series(1, 64)) AS i(i)
                     GROUP BY 1, 2, 3),
            p AS MATERIALIZED (SELECT d.label, d.src_id, d.tgt_id,
                   d.dot / nullif(sqrt(na.n2) * sqrt(nb.n2), CAST(0.0 AS DOUBLE)) AS cos
                 FROM dotp d JOIN n na ON na.vec_id = d.src_id
                             JOIN n nb ON nb.vec_id = d.tgt_id),
            ka AS (SELECT src_id, ${Exact.sqlDsumTrunc9("cos")} AS ka FROM (
                     SELECT src_id, cos, row_number() OVER (PARTITION BY src_id
                       ORDER BY cos DESC, tgt_id) AS r FROM p)
                   WHERE r <= 4 GROUP BY 1),
            kb AS (SELECT tgt_id, ${Exact.sqlDsumTrunc9("cos")} AS kb FROM (
                     SELECT tgt_id, cos, row_number() OVER (PARTITION BY tgt_id
                       ORDER BY cos DESC, src_id) AS r FROM p)
                   WHERE r <= 4 GROUP BY 1),
            m AS MATERIALIZED (SELECT p.label, p.src_id, p.tgt_id, p.cos,
                   p.cos / ((ka.ka + kb.kb) / CAST(8.0 AS DOUBLE)) AS margin
                 FROM p JOIN ka ON ka.src_id = p.src_id
                        JOIN kb ON kb.tgt_id = p.tgt_id),
            fwd AS (SELECT label, src_id, tgt_id, cos, margin FROM (
                      SELECT m.*, row_number() OVER (PARTITION BY src_id
                        ORDER BY margin DESC, tgt_id) AS rf FROM m)
                    WHERE rf = 1),
            bwd AS (SELECT src_id, tgt_id FROM (
                      SELECT src_id, tgt_id, row_number() OVER (PARTITION BY tgt_id
                        ORDER BY margin DESC, src_id) AS rb FROM m)
                    WHERE rb = 1)
            SELECT f.src_id, f.tgt_id, f.label, f.cos, f.margin
            FROM fwd f JOIN bwd b ON b.src_id = f.src_id AND b.tgt_id = f.tgt_id""")),

    QDef(
      "sim_mmr_rerank",
      // diversity-aware reranking — Maximal Marginal Relevance (the
      // search/RAG staple): from each query's exact top-10, greedily pick
      // 3 results maximizing λ·relevance − (1−λ)·max-similarity-to-
      // already-picked (λ = 0.7), so near-duplicate hits can't crowd the
      // result list the way plain top-k lets them. The greedy loop is
      // UNROLLED (pick-1 = top relevance, then two scored rounds) exactly
      // like the BPE fit's rounds, so the oracle replays it in CTEs; the
      // candidate-pair sim matrix is bounded at 10×10 per query, scores
      // are fixed λ-dags over hash-green cosines, argmaxes carry vec_id
      // tiebreaks, and `greatest` sees no NULLs (every pair sim exists)
      (s, d) => {
        val lam = 0.7d; val oneMinusLam = 0.3d // literals, NEVER 1-lam: IEEE 1-0.7 = 0.30000000000000004
        val cand = Caches.trackPersist(exactTopk(s, d, k = 10))
        val e = withNorm(t(s, d, "embeddings"))
        val ca = cand.select(col("query_id"), col("vec_id").as("a_id"))
          .join(e.select(col("vec_id").as("a_id"), col("embedding").as("ae"),
            col("n2").as("an2")), "a_id")
        val cb = cand.select(col("query_id"), col("vec_id").as("b_id"))
          .join(e.select(col("vec_id").as("b_id"), col("embedding").as("be"),
            col("n2").as("bn2")), "b_id")
        val sims = Caches.trackPersist(
          ca.join(cb, "query_id").filter(col("a_id") =!= col("b_id"))
            .withColumn("sim",
              Vectors.cosineFrom(Vectors.dotExact(col("ae"), col("be")),
                col("an2"), col("bn2")))
            .select("query_id", "a_id", "b_id", "sim"))
        val base = cand.select("query_id", "vec_id", "cos", "rnk")
        val p1 = base.filter(col("rnk") === 1)
          .select(col("query_id"), col("vec_id"),
            (lit(lam) * col("cos")).as("mmr_score"))
        def argmax(scored: org.apache.spark.sql.DataFrame) = scored
          .withColumn("__rn", row_number().over(
            Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
          .filter(col("__rn") === 1)
          .select(col("query_id"), col("vec_id"), col("score").as("mmr_score"))
        val r2 = base
          .join(p1.select(col("query_id"), col("vec_id").as("p1_id")), "query_id")
          .filter(col("vec_id") =!= col("p1_id"))
          .join(sims.select(col("query_id"), col("a_id").as("vec_id"),
            col("b_id").as("p1_id"), col("sim")), Seq("query_id", "vec_id", "p1_id"))
          .withColumn("score", lit(lam) * col("cos") - lit(oneMinusLam) * col("sim"))
        val p2 = argmax(r2)
        val r3 = base
          .join(p1.select(col("query_id"), col("vec_id").as("p1_id")), "query_id")
          .join(p2.select(col("query_id"), col("vec_id").as("p2_id")), "query_id")
          .filter(col("vec_id") =!= col("p1_id") && col("vec_id") =!= col("p2_id"))
          .join(sims.select(col("query_id"), col("a_id").as("vec_id"),
            col("b_id").as("p1_id"), col("sim").as("s1")), Seq("query_id", "vec_id", "p1_id"))
          .join(sims.select(col("query_id"), col("a_id").as("vec_id"),
            col("b_id").as("p2_id"), col("sim").as("s2")), Seq("query_id", "vec_id", "p2_id"))
          .withColumn("score",
            lit(lam) * col("cos") - lit(oneMinusLam) * greatest(col("s1"), col("s2")))
        val p3 = argmax(r3)
        p1.withColumn("pick_idx", lit(1L))
          .unionByName(p2.withColumn("pick_idx", lit(2L)))
          .unionByName(p3.withColumn("pick_idx", lit(3L)))
          .select("query_id", "pick_idx", "vec_id", "mmr_score")
      },
      Some(s"""WITH cand AS (${exactSqlK(10)}),
            ${normCte("nn")},
            ps AS (SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
                     ${Vectors.sqlDotExact("ea.embedding", "eb.embedding", "i.i")} AS dot
                   FROM cand a JOIN cand b
                     ON b.query_id = a.query_id AND b.vec_id <> a.vec_id
                   JOIN embeddings ea ON ea.vec_id = a.vec_id
                   JOIN embeddings eb ON eb.vec_id = b.vec_id,
                   unnest(generate_series(1, 64)) AS i(i)
                   GROUP BY 1, 2, 3),
            sims AS (SELECT ps.query_id, ps.a_id, ps.b_id,
                       ps.dot / nullif(sqrt(na.n2) * sqrt(nb.n2), CAST(0.0 AS DOUBLE)) AS sim
                     FROM ps JOIN nn na ON na.vec_id = ps.a_id
                          JOIN nn nb ON nb.vec_id = ps.b_id),
            p1 AS (SELECT query_id, vec_id, CAST(0.7 AS DOUBLE) * cos AS mmr_score
                   FROM cand WHERE rnk = 1),
            r2 AS (SELECT c.query_id, c.vec_id,
                     CAST(0.7 AS DOUBLE) * c.cos
                       - CAST(0.3 AS DOUBLE) * s.sim AS score
                   FROM cand c
                   JOIN p1 ON p1.query_id = c.query_id AND c.vec_id <> p1.vec_id
                   JOIN sims s ON s.query_id = c.query_id
                     AND s.a_id = c.vec_id AND s.b_id = p1.vec_id),
            p2 AS (SELECT query_id, vec_id, score AS mmr_score FROM (
                     SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, vec_id) AS rn FROM r2) WHERE rn = 1),
            r3 AS (SELECT c.query_id, c.vec_id,
                     CAST(0.7 AS DOUBLE) * c.cos
                       - CAST(0.3 AS DOUBLE) * greatest(s1.sim, s2.sim) AS score
                   FROM cand c
                   JOIN p1 ON p1.query_id = c.query_id AND c.vec_id <> p1.vec_id
                   JOIN p2 ON p2.query_id = c.query_id AND c.vec_id <> p2.vec_id
                   JOIN sims s1 ON s1.query_id = c.query_id
                     AND s1.a_id = c.vec_id AND s1.b_id = p1.vec_id
                   JOIN sims s2 ON s2.query_id = c.query_id
                     AND s2.a_id = c.vec_id AND s2.b_id = p2.vec_id),
            p3 AS (SELECT query_id, vec_id, score AS mmr_score FROM (
                     SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, vec_id) AS rn FROM r3) WHERE rn = 1)
            SELECT query_id, CAST(1 AS BIGINT) AS pick_idx, vec_id, mmr_score FROM p1
            UNION ALL
            SELECT query_id, CAST(2 AS BIGINT) AS pick_idx, vec_id, mmr_score FROM p2
            UNION ALL
            SELECT query_id, CAST(3 AS BIGINT) AS pick_idx, vec_id, mmr_score FROM p3""")),

    QDef(
      "sim_matryoshka_recall",
      // storage-tiering audit for Matryoshka-style embeddings: recall@3 of
      // exact cosine over only the FIRST 16 of 64 dimensions vs the
      // full-dimension baseline — measures what a 4× cheaper
      // truncated-prefix index (the MRL serving pattern: coarse search on
      // the prefix tier, full vectors only for rerank) loses on THIS
      // corpus. Same recallOf/recallSql machinery as the IVF audits; the
      // truncated searcher is the exact searcher on a sliced column, so
      // the audit isolates dimension loss from any indexing loss
      (s, d) => recallOf(exactTopk(s, d), exactTopk(s, d, k = 3, dims = 16)),
      Some(recallSql(exactSqlK(3, dims = 16)))),

    QDef(
      "sim_filtered_topk",
      // METADATA-FILTERED vector search — the first-class vector-store
      // feature ("top-k among candidates WHERE label = X"): exact cosine
      // top-3 restricted to candidates sharing the query's label, with
      // PRE-filter semantics (filter BEFORE ranking, so every query gets
      // k results whenever k candidates exist — post-filtering the
      // unfiltered top-k would silently return fewer). The label
      // restriction IMPROVES the plan vs the unfiltered baseline: the
      // query×corpus pairing becomes a broadcast HASH join on the label
      // instead of a nested loop, and at scale the filter is exactly the
      // partition-pruning key (label-partitioned vector layout scans only
      // the matching partitions). Same exact-decimal cosine + (cos desc,
      // vec_id) total order as sim_cosine_topk
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"))
          .withColumn("n2", Vectors.norm2Exact(col("embedding")))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("label"),
            col("embedding").as("qe"), col("n2").as("qn2"))
        val c = e.select(col("vec_id"), col("label"),
          col("embedding").as("ce"), col("n2").as("cn2"))
        c.join(broadcast(q), Seq("label"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cos",
            Vectors.cosineFrom(Vectors.dotExact(col("qe"), col("ce")), col("qn2"), col("cn2")))
          .withColumn("rnk",
            row_number().over(
              Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id")))
              .cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("query_id"), col("label").cast("long").as("label"),
            col("rnk"), col("vec_id"), col("cos"))
      },
      Some(s"""WITH $normSql,
            q AS (SELECT vec_id AS query_id, label, embedding AS qe
                  FROM embeddings WHERE vec_id < 5),
            d AS (SELECT q.query_id, q.label, c.vec_id,
                    ${Vectors.sqlDotExact("q.qe", "c.embedding", "i.i")} AS dot
                  FROM q JOIN embeddings c ON c.label = q.label
                    AND c.vec_id <> q.query_id,
                       unnest(generate_series(1, 64)) AS i(i)
                  GROUP BY 1, 2, 3),
            s AS (SELECT d.query_id, d.label, d.vec_id,
                    d.dot / nullif(sqrt(nq.n2) * sqrt(nc.n2), CAST(0.0 AS DOUBLE)) AS cos
                  FROM d JOIN n nq ON nq.vec_id = d.query_id
                       JOIN n nc ON nc.vec_id = d.vec_id)
            SELECT query_id, CAST(label AS BIGINT) AS label, rnk, vec_id, cos FROM
              (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, vec_id) AS rnk
               FROM s) WHERE rnk <= 3""")),

    QDef(
      "sim_proto_prune",
      // prototypicality pruning (the D4 / SSL-prototypes curation move —
      // the complement of SemDeDup): within each fitted quantizer cell,
      // rank members by cosine to their OWN centroid and drop the top
      // quarter — the most prototypical members are the cluster's most
      // redundant, and removing them preserves diversity at lower token
      // cost. fitAssignScoredFrom serves the memoized sim_ivf fit and adds
      // the winning cosine (float used for ORDERING only); rank and kept
      // are integers. Cells smaller than 4 keep everything (rank·4 > n
      // for every rank). Scale: the per-cell window is bounded by the
      // quantizer's cell-size contract — with adaptiveK the target cell
      // is ~64 members regardless of corpus size, so no window frame
      // grows with n
      (s, d) => {
        val e = withNorm(t(s, d, "embeddings"))
        val scored = graft.ml.IvfQuantizer
          .fitAssignScoredFrom(e, "vec_id", "embedding", "n2", rawFit8(s, d))
        scored
          .withColumn(
            "proto_rank",
            row_number().over(
              Window.partitionBy(col("cell"))
                .orderBy(col("cos_centroid").desc, col("vec_id"))).cast("long"))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("cell"))))
          .select(
            col("vec_id"), col("cell"), col("proto_rank"),
            (col("proto_rank") * 4 > col("__n")).cast("long").as("kept"))
      },
      Some(s"""WITH $normSql,
               ${graft.ml.IvfQuantizer.lloydSql("8", 2, 64, sampleEvery = 4)},
               coss AS (SELECT a.vec_id, a.cell,
                          d.dot / nullif(sqrt(n.n2) * sqrt(ns.ns2), CAST(0.0 AS DOUBLE)) AS cos
                        FROM assigned a
                        JOIN dots2 d ON d.vec_id = a.vec_id AND d.cell = a.cell
                        JOIN n ON n.vec_id = a.vec_id
                        JOIN ns2 ns ON ns.cell = a.cell),
               r AS (SELECT vec_id, cell,
                       CAST(row_number() OVER (PARTITION BY cell
                         ORDER BY cos DESC, vec_id) AS BIGINT) AS proto_rank,
                       CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n
                     FROM coss)
               SELECT vec_id, cell, proto_rank,
                 CAST(CASE WHEN proto_rank * 4 > n THEN 1 ELSE 0 END AS BIGINT) AS kept
               FROM r"""))
  )

  /** The `sim_ivfpq_topk` builder (see its QDef comment), factored for
    * the recall audit.
    */
  private def ivfpqTopk(
      s: SparkSession, d: String, qPred: Column = col("vec_id") < 5) = {
    val e = withNorm(t(s, d, "embeddings"))
    // coarse routing (IVF): fit on the vec_id % 4 sample, assign all
    val rankedC = Caches.trackPersist(
      graft.ml.IvfQuantizer.fitRankedFrom(e, "vec_id", "embedding", "n2", rawFit8(s, d)))
    val cellsC = rankedC.filter(col("cell_rank") === 1)
      .select(col("vec_id"), col("cell").as("ccell"))
    val probesC = rankedC.filter(qPred && col("cell_rank") <= 2)
      .select(col("vec_id").as("query_id"), col("cell").as("ccell"))
    val cand = cellsC.join(broadcast(probesC), "ccell")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val (codesP, tbl) = pqTables(s, d, qPred)
    // ADC scoring restricted to the routed candidates. Candidate-FIRST
    // join order: attach the bounded (query_id, vec_id) candidate list to
    // the 8 code rows per vector, THEN look each row's term up in the
    // broadcast ADC table on (query_id, sub, cell) — every (sub, cell)
    // present in codesP has a term for every query (tbl is built over all
    // member-bearing cells), so the inner joins are row-for-row identical
    // to the old (codesP ⋈ tbl) ⋈ cand order, which expanded corpus-codes
    // × queries (8·n·n_q rows) before the candidate filter could bite —
    // at the sampled-audit query count that was the query's dominant
    // shuffle (guide §2.3: shuffle the bounded relation, not the product)
    pqTop3(pqWide(cand.join(codesP, Seq("vec_id"))
      .join(broadcast(tbl), Seq("query_id", "sub", "cell"))))
  }

  // lazy: declared after `defs`, which captures it during its own init
  private lazy val ivfpqSql: String = ivfpqSqlFor(c => s"$c < 5")

  private def ivfpqSqlFor(qWhere: String => String): String = {
    val cands =
      s"""candq AS (SELECT vec_id AS query_id, cell FROM cellrankscq
                   WHERE ${qWhere("vec_id")} AND rn <= 2),
         cp AS (SELECT c.query_id, a.vec_id FROM candq c
                JOIN assignedcq a ON a.cell = c.cell
                WHERE a.vec_id <> c.query_id)"""
    // full-vector norms for the coarse fit under a non-colliding name
    // (PQ sub-fits use ns0..ns7)
    s"""WITH ${normCte("ncq")},
        ${IvfQuantizer.lloydSql("8", 2, 64, 4, "cq", norm = "ncq")},
        $cands,
        ${pqTablesSql(qWhere)},
        ${pqTop3Sql("allt JOIN cp USING (query_id, vec_id)", "")}"""
  }
}
