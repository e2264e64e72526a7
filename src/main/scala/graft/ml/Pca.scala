package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import graft.ops.Exact

/** Top-k principal directions for embedding columns, engine-exact — the
  * embedding-space curation fit SemDeDup-class pipelines run before
  * dedup/outlier pruning (a dominant direction in a learned embedding
  * space is usually an artifact — length, frequency, boilerplate — and
  * projections onto it rank outliers and drive whitening decisions).
  *
  * Shape (the fit/route split, as `IvfQuantizer` / the DSIR table / the
  * language profiles): the covariance FIT scans only the systematic
  * `id % sampleEvery == 0` sample — per-dimension means and the dims²
  * covariance cells are decimal-truncated sums (`Exact.dsumTrunc9`), so
  * the collected matrix is bit-identical across engines; the power
  * ITERATION runs on the driver over the collected dims² cells in pure
  * integer fixed-point algebra (every dot product is a sum of
  * `⌊|x|·10⁹⌋` signed longs — associative, order-free, replicated
  * verbatim by the oracle's unrolled CTE rounds), and components beyond
  * the first come from DEFLATION in the same algebra (C ← C − ⌊λ·vᵢ·vⱼ·10⁹⌋/10⁹
  * per cell); SCORING projects the full corpus through one broadcast
  * (dim, mu, v…) table with the same decimal dot — the corpus never
  * shuffles for the fit. The fit itself touches the sample exactly twice
  * (one means scan, one covariance pass over the persisted centered
  * frame).
  *
  * Scale contract: the fit is sample-sized by design (dims²-cell
  * aggregation over n/sampleEvery rows; trunc-9 sums stay
  * exact-conversion-safe to ~9·10⁶ sample rows — size `sampleEvery` so
  * the sample lands under that, the `IvfQuantizer` pattern); scoring is
  * one stateless projection + per-id aggregation, linear and
  * shuffle-light at any corpus size.
  *
  * Determinism: fixed v₀ = e₁ per component, a FIXED iteration count (no
  * convergence test — the mix_epochs/kcore fixed-rounds contract), one
  * IEEE sqrt and one IEEE division per component per round, and a closing
  * sign canonicalization (first nonzero component positive). Ties/
  * degeneracy: a zero matrix→zero iterate and a non-positive component
  * variance are rejected loudly (`require`) rather than silently
  * diverging from the SQL twin, and every consumed vector must have
  * EXACTLY `dims` elements — a drifted length `raise_error`s the job
  * instead of zero-padding the covariance or emitting NULL scores.
  */
object Pca {

  /** Signed trunc-9 fixed point of a double — the driver-side twin of the
    * per-term quantization inside [[graft.ops.Exact.dsumTrunc9]].
    */
  private def t9(x: Double): Long = {
    val m = math.floor(math.abs(x) * 1e9).toLong
    if (x < 0) -m else m
  }

  /** Loud length contract: every vector must carry exactly `dims`
    * elements. Shorter arrays would silently zero-pad the covariance /
    * NULL the scores; longer ones would index past the fitted matrix —
    * both fail the job with the offending length instead.
    */
  private def checkedVec(df: DataFrame, vecCol: String, dims: Int): DataFrame =
    df.withColumn(
      vecCol,
      when(size(col(vecCol)) === dims, col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"Pca: $vecCol length != $dims (got "),
          size(col(vecCol)).cast("string"), lit(")")))))

  /** The (id, d, x) exploded systematic sample, length-checked; d 1-based. */
  private def explodedSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      sampleEvery: Int): DataFrame =
    checkedVec(df.select(col(idCol), col(vecCol)), vecCol, dims)
      .filter(pmod(col(idCol), lit(sampleEvery)) === 0)
      .select(col(idCol).as("__id"), posexplode(col(vecCol)).as(Seq("d", "xf")))
      .select(col("__id"), (col("d") + 1).as("d"), col("xf").cast("double").as("x"))

  /** The sample means (collected — one small job) and the lazy covariance
    * cells [[fitK]] collects: (i, j, c) with all dims² cells present
    * (every sampled vector carries every dimension),
    * c = Σ trunc9((xᵢ−muᵢ)(xⱼ−muⱼ)) / 10⁹. The collected means feed the
    * centered frame as a literal broadcast table (so the means aggregation
    * runs once, not once per consumer), and the centered frame is
    * persisted (it feeds both self-join branches); the self-join fans
    * each sampled vector to dims² product rows, then map-side partial
    * aggregation collapses them to dims² cells per task — the exchange is
    * matrix-sized, not sample-sized. `RegistryPlanLintSpec` plans the
    * cells frame as `__fit_pca_cov`.
    */
  private[graft] def covFrame(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      sampleEvery: Int): (Array[Double], DataFrame) = {
    val spark: SparkSession = df.sparkSession
    import spark.implicits._
    val ex = explodedSample(df, idCol, vecCol, dims, sampleEvery)
    val muMap = ex.groupBy("d")
      .agg((Exact.dsumTrunc9(col("x")) / count(lit(1)).cast("double")).as("mu"))
      .as[(Int, Double)].collect().toMap
    val mu = Array.tabulate(dims)(d => muMap.getOrElse(d + 1, 0.0))
    val muDf = (1 to dims).map(d => (d, mu(d - 1))).toDF("d", "mu")
    val comp = graft.ops.Caches.trackPersist(
      ex.join(broadcast(muDf), "d").select(col("__id"), col("d"), (col("x") - col("mu")).as("xc")))
    val cells = comp.select(col("__id"), col("d").as("i"), col("xc").as("xa"))
      .join(comp.select(col("__id"), col("d").as("j"), col("xc").as("xb")), "__id")
      .groupBy("i", "j")
      .agg(Exact.dsumTrunc9(col("xa") * col("xb")).as("c"))
    (mu, cells)
  }

  /** Driver-side power iteration over a dense dims×dims matrix: `iters`
    * rounds of w = C·v (trunc-9 integer dots), normalize by the IEEE
    * sqrt of the trunc-9 norm², then flip so the first nonzero component
    * is positive. Every arithmetic step is replicated by the oracle's
    * unrolled CTE rounds, so the returned vector is bit-identical to the
    * SQL twin's.
    */
  private def powerIterationM(cov: Array[Array[Double]], dims: Int, iters: Int): Array[Double] = {
    var v = Array.tabulate(dims)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dims) { i =>
        var s = 0L
        var j = 0
        while (j < dims) { s += t9(cov(i)(j) * v(j)); j += 1 }
        s / 1e9
      }
      var n2i = 0L
      var i = 0
      while (i < dims) { n2i += t9(w(i) * w(i)); i += 1 }
      val nrm = math.sqrt(n2i / 1e9)
      require(nrm > 0, "power iteration hit a zero iterate (degenerate covariance)")
      v = w.map(_ / nrm)
    }
    val k = v.indexWhere(_ != 0.0)
    if (k >= 0 && v(k) < 0) v.map(x => -x) else v
  }

  private def covMatrix(cells: Seq[(Int, Int, Double)], dims: Int): Array[Array[Double]] = {
    val cov = Array.ofDim[Double](dims, dims)
    cells.foreach { case (i, j, c) =>
      require(i >= 1 && i <= dims && j >= 1 && j <= dims,
        s"Pca: covariance cell ($i,$j) outside [1,$dims]² — dims mismatch")
      cov(i - 1)(j - 1) = c
    }
    cov
  }

  /** The collected top-k fit: means, the k deflated directions with their
    * Rayleigh variances λ₁ ≥ … ≥ λ_k, the total variance (trace), and the
    * raw covariance cells. One [[FitK]] serves scoring, the variance
    * summary, whitening, AND the streaming scorer without refitting.
    */
  final case class FitK(
      mu: Array[Double],
      vs: IndexedSeq[Array[Double]],
      lambdas: IndexedSeq[Double],
      trace: Double,
      cov: Map[(Int, Int), Double])

  /** Fit k principal directions by power iteration + deflation. The
    * sample is scanned exactly twice (means, then covariance cells over
    * the persisted centered frame); everything after the dims²-cell
    * collect is driver-side integer fixed-point algebra the oracle's
    * unrolled CTE rounds replicate verbatim: per component, `iters` power
    * rounds on the CURRENT matrix, λ_c = v_cᵀC_c v_c via trunc-9 dots,
    * then C_{c+1}(i,j) = C_c(i,j) − trunc9(λ_c·v_i·v_j)/10⁹. A
    * non-positive λ_c (rank < k) fails loudly.
    */
  def fitK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      iters: Int,
      sampleEvery: Int,
      k: Int): FitK = {
    require(k >= 1 && k <= dims, s"need 1 <= k <= dims, got k=$k dims=$dims")
    val spark: SparkSession = df.sparkSession
    import spark.implicits._
    val (mu, cellsDf) = covFrame(df, idCol, vecCol, dims, sampleEvery)
    val cells = cellsDf.as[(Int, Int, Double)].collect().toSeq
    val cov0 = covMatrix(cells, dims)
    var trI = 0L
    var i = 0
    while (i < dims) { trI += t9(cov0(i)(i)); i += 1 }
    var cur = cov0
    val vs = IndexedSeq.newBuilder[Array[Double]]
    val lams = IndexedSeq.newBuilder[Double]
    for (c <- 1 to k) {
      val v = powerIterationM(cur, dims, iters)
      val w = Array.tabulate(dims) { i =>
        var s = 0L
        var j = 0
        while (j < dims) { s += t9(cur(i)(j) * v(j)); j += 1 }
        s / 1e9
      }
      var lamI = 0L
      var ii = 0
      while (ii < dims) { lamI += t9(v(ii) * w(ii)); ii += 1 }
      val lam = lamI / 1e9
      require(lam > 0,
        s"fitK: component $c carries non-positive variance ($lam) — input rank < $k")
      vs += v
      lams += lam
      if (c < k)
        cur = Array.tabulate(dims, dims)((a, b) => cur(a)(b) - t9(lam * v(a) * v(b)) / 1e9)
    }
    FitK(mu, vs.result(), lams.result(), trI / 1e9,
      cells.map { case (a, b, c) => (a, b) -> c }.toMap)
  }

  /** Score the FULL frame against an existing fit: (idCol, pc1_score)
    * where pc1_score = Σ trunc9((x_d − mu_d)·v_d) / 10⁹ — the signed
    * projection of the centered vector onto the fitted top principal
    * direction v = `fk.vs.head`. Large |pc1_score| marks vectors extreme along the
    * corpus's dominant axis (the outlier/whitening signal).
    */
  def pc1ScoresFrom(
      fk: FitK,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int): DataFrame = {
    val spark: SparkSession = df.sparkSession
    import spark.implicits._
    val v = fk.vs.head
    val mv = (1 to dims).map(d => (d, fk.mu(d - 1), v(d - 1))).toDF("d", "mu", "v")
    checkedVec(df.select(col(idCol), col(vecCol)), vecCol, dims)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("d", "xf")))
      .select(col(idCol), (col("d") + 1).as("d"), col("xf").cast("double").as("x"))
      .join(broadcast(mv), "d")
      .groupBy(col(idCol))
      .agg(Exact.dsumTrunc9((col("x") - col("mu")) * col("v")).as("pc1_score"))
  }

  /** One-row variance summary off an existing fit: lambda1 = the Rayleigh
    * quotient vᵀCv (v is unit, so no denominator), trace = Σ Cᵢᵢ (the
    * total variance), var_share = lambda1/trace — "how dominant is the
    * dominant axis", the number that decides whether whitening or
    * axis-pruning is worth running at all. All three ride the same
    * trunc-9 integer algebra as the fit, so the row hashes cross-engine.
    */
  def pc1VarianceFrom(fk: FitK, spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((fk.lambdas.head, fk.trace, fk.lambdas.head / fk.trace))
      .toDF("lambda1", "trace", "var_share")
  }

  /** Whitened top-k projection of the FULL frame against a [[fitK]] fit:
    * per id, pc_c = Σ trunc9((x_d − mu_d)·v_{c,d}) / 10⁹ (the raw
    * component score) and w_c = pc_c / √λ_c (the WHITENED score). λ_c is
    * the sample-SUM scale (covariance cells are undivided sums), so the
    * absolute variance of w_c is 1/n_sample — what whitening needs is the
    * RELATIVE per-axis equalization (var(w_1) ≈ var(w_2) ≈ …), which this
    * delivers exactly; production SemDeDup runs this projection before
    * cosine when `var_share` is high so one dominant artifact axis stops
    * deciding every similarity. One broadcast (d, mu, v_1…v_k) table, one
    * explode + hash agg — linear, shuffle-light, corpus never joins
    * itself.
    */
  def whitenScores(
      fk: FitK,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int): DataFrame = {
    val spark: SparkSession = df.sparkSession
    val k = fk.vs.size
    val schema = StructType(
      StructField("d", IntegerType) +: StructField("mu", DoubleType) +:
        (1 to k).map(c => StructField(s"v_$c", DoubleType)))
    val rows = (1 to dims).map(d =>
      Row.fromSeq(d +: fk.mu(d - 1) +: fk.vs.map(_(d - 1))))
    val mv = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
    val pcs = (1 to k).map(c =>
      Exact.dsumTrunc9((col("x") - col("mu")) * col(s"v_$c")).as(s"pc_$c"))
    val whitened = (1 to k).map(c =>
      (col(s"pc_$c") / lit(math.sqrt(fk.lambdas(c - 1)))).as(s"w_$c"))
    checkedVec(df.select(col(idCol), col(vecCol)), vecCol, dims)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("d", "xf")))
      .select(col(idCol), (col("d") + 1).as("d"), col("xf").cast("double").as("x"))
      .join(broadcast(mv), "d")
      .groupBy(col(idCol))
      .agg(pcs.head, pcs.tail: _*)
      .select(col(idCol) +: (1 to k).map(c => col(s"pc_$c")) ++: whitened: _*)
  }

  /** Scalar trunc-9 fragment: sign·⌊|x|·10⁹⌋ / 10⁹ (the per-cell twin of
    * the driver's `t9(x) / 1e9` — no sum, used by the deflation step).
    */
  private def sqlT9(x: String): String = {
    val m = s"floor(abs($x) * CAST(1000000000 AS DOUBLE))"
    s"(CAST(CASE WHEN ($x) < 0 THEN -$m ELSE $m END AS BIGINT)" +
      s" / CAST(1000000000 AS DOUBLE))"
  }

  /** Oracle CTE chain for the k-component FIT — sample means, covariance
    * cells, then per component `iters` unrolled power rounds, sign
    * canonicalization, the Rayleigh λ, and (between components) the
    * deflation C ← C − trunc9(λ·vᵢ·vⱼ)/10⁹. Ends with `mu`, `cov` (the
    * undeflated matrix), and per component c: `vf{c}(d, x)` and
    * `lam{c}(lambda)`.
    *
    * Multi-referenced CTEs are MATERIALIZED: DuckDB inlines every CTE
    * reference, and each power round reads its predecessor twice (w and
    * its norm), so an inlined chain re-expands the base sample scan
    * 2^iters times per component — the g3_kcore lesson. Materializing the
    * dims-row round frames and the dims²-row matrices keeps the oracle's
    * plan linear in iters·k.
    */
  private def fitSqlK(
      table: String, dims: Int, iters: Int, sampleEvery: Int, k: Int): String = {
    def covName(c: Int) = if (c == 1) "cov" else s"cov$c"
    val comps = (1 to k).map { c =>
      val m = covName(c)
      val rounds = (1 to iters).map { r =>
        s"""w${c}_$r AS MATERIALIZED (SELECT m.i AS d,
              ${Exact.sqlDsumTrunc9(s"m.c * v.x")} AS w
              FROM $m m JOIN v${c}_${r - 1} v ON v.d = m.j GROUP BY 1),
            n${c}_$r AS (SELECT sqrt(${Exact.sqlDsumTrunc9("w.w * w.w")}) AS nrm
              FROM w${c}_$r w),
            v${c}_$r AS MATERIALIZED (SELECT w.d, w.w / n.nrm AS x
              FROM w${c}_$r w, n${c}_$r n)"""
      }.mkString(",\n")
      val deflate =
        if (c == k) ""
        else s""",
          ${covName(c + 1)} AS MATERIALIZED (SELECT a.i, a.j,
            a.c - ${sqlT9(s"l.lambda * vi.x * vj.x")} AS c
            FROM $m a JOIN vf$c vi ON vi.d = a.i JOIN vf$c vj ON vj.d = a.j,
                 lam$c l)"""
      s"""v${c}_0 AS (SELECT i.i AS d, CASE WHEN i.i = 1 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS x
          FROM unnest(generate_series(1, $dims)) AS i(i)),
          $rounds,
          sgn$c AS (SELECT CASE WHEN x < 0 THEN CAST(-1.0 AS DOUBLE)
                      ELSE CAST(1.0 AS DOUBLE) END AS s
                    FROM v${c}_$iters WHERE x <> 0 ORDER BY d LIMIT 1),
          vf$c AS MATERIALIZED (SELECT d, x * sgn$c.s AS x FROM v${c}_$iters, sgn$c),
          wl$c AS (SELECT m.i AS d, ${Exact.sqlDsumTrunc9("m.c * v.x")} AS w
                   FROM $m m JOIN vf$c v ON v.d = m.j GROUP BY 1),
          lam$c AS MATERIALIZED (SELECT ${Exact.sqlDsumTrunc9("v.x * w.w")} AS lambda
                   FROM vf$c v JOIN wl$c w ON w.d = v.d)$deflate"""
    }.mkString(",\n")
    s"""samp AS (SELECT * FROM $table WHERE vec_id % $sampleEvery = 0),
        comp AS MATERIALIZED (SELECT vec_id, i.i AS d,
                 CAST(embedding[i.i] AS DOUBLE) AS x
                 FROM samp, unnest(generate_series(1, $dims)) AS i(i)),
        mu AS MATERIALIZED (SELECT d,
               ${Exact.sqlDsumTrunc9("x")} / CAST(count(*) AS DOUBLE) AS mu
               FROM comp GROUP BY 1),
        cc AS MATERIALIZED (SELECT c.vec_id, c.d, c.x - mu.mu AS xc
               FROM comp c JOIN mu ON mu.d = c.d),
        cov AS MATERIALIZED (SELECT a.d AS i, b.d AS j,
               ${Exact.sqlDsumTrunc9("a.xc * b.xc")} AS c
               FROM cc a JOIN cc b ON b.vec_id = a.vec_id GROUP BY 1, 2),
        $comps"""
  }

  /** Oracle CTE chain mirroring the whole scoring pipeline for a DuckDB
    * `embeddings`-shaped table — the fit plus the full-corpus
    * projection. Ends in `pcascore(vec_id, pc1_score)`.
    */
  def sql(table: String, dims: Int, iters: Int, sampleEvery: Int): String =
    s"""${fitSqlK(table, dims, iters, sampleEvery, k = 1)},
        compall AS (SELECT vec_id, i.i AS d, CAST(embedding[i.i] AS DOUBLE) AS x
                    FROM $table, unnest(generate_series(1, $dims)) AS i(i)),
        pcascore AS (SELECT c.vec_id,
                       ${Exact.sqlDsumTrunc9("(c.x - mu.mu) * vf1.x")} AS pc1_score
                     FROM compall c JOIN mu ON mu.d = c.d JOIN vf1 ON vf1.d = c.d
                     GROUP BY 1)"""

  /** Oracle twin of [[pc1VarianceFrom]] over a [[fitK]] — the fit plus
    * the Rayleigh quotient and trace. Ends in
    * `vstats(lambda1, trace, var_share)`.
    */
  def varianceSql(table: String, dims: Int, iters: Int, sampleEvery: Int): String =
    s"""${fitSqlK(table, dims, iters, sampleEvery, k = 1)},
        vstats AS (SELECT l.lambda AS lambda1, t.trace,
                     l.lambda / t.trace AS var_share
                   FROM lam1 l,
                     (SELECT ${Exact.sqlDsumTrunc9("c")} AS trace
                      FROM cov WHERE i = j) t)"""

  /** Oracle twin of [[whitenScores]] — the k-component fit plus the
    * full-corpus raw and whitened projections. Ends in
    * `whiten(vec_id, pc_1…pc_k, w_1…w_k)`.
    */
  def whitenSql(table: String, dims: Int, iters: Int, sampleEvery: Int, k: Int): String = {
    val pcs = (1 to k).map(c =>
      s"${Exact.sqlDsumTrunc9(s"(c.x - mu.mu) * v$c.x")} AS pc_$c").mkString(",\n")
    val joins = (1 to k).map(c => s"JOIN vf$c v$c ON v$c.d = c.d").mkString(" ")
    val ws = (1 to k).map(c =>
      s"pc_$c / sqrt((SELECT lambda FROM lam$c)) AS w_$c").mkString(",\n")
    s"""${fitSqlK(table, dims, iters, sampleEvery, k)},
        compall AS (SELECT vec_id, i.i AS d, CAST(embedding[i.i] AS DOUBLE) AS x
                    FROM $table, unnest(generate_series(1, $dims)) AS i(i)),
        pcs AS (SELECT c.vec_id, $pcs
                FROM compall c JOIN mu ON mu.d = c.d $joins
                GROUP BY 1),
        whiten AS (SELECT vec_id, ${(1 to k).map(c => s"pc_$c").mkString(", ")},
                     $ws
                   FROM pcs)"""
  }
}
