package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation kernels (SURVEY §2.4, A3-A15).
  *
  * Each is a Column-level aggregate usable inside any `groupBy().agg(...)`,
  * so one pass produces the whole fused feature block (A9) — Spark's
  * hash-aggregate already does partial (map-side) + final combine, which is
  * the distributed generalization of the reference's `partial_fit` pattern
  * (`/root/reference/load_data.py:116-120`).
  */
object Stats {

  /** A5: mean of first differences of an ordered sequence. For an ordered
    * series this telescopes to (last - first) / (n - 1)
    * (ref `generate_submission.py:14-15`), which needs no window function —
    * min/max-by the order column inside a plain aggregate.
    */
  def diffMean(orderCol: Column, valueCol: Column): Column = {
    val first = min_by(valueCol, orderCol)
    val last = max_by(valueCol, orderCol)
    when(count(valueCol) > 1, (last - first) / (count(valueCol) - 1).cast("double"))
  }

  /** A8: signed abs-max — the value with the largest absolute value, sign
    * preserved (ref `utils.py:38-45` `_abs_max_orig`): where(-min > max, min, max).
    * Expressed exactly as the reference's formula so ties resolve identically.
    */
  def signedAbsMax(c: Column): Column =
    when(-min(c) > max(c), min(c)).otherwise(max(c))

  /** A6: boundary-sum difference: sum of the last w values minus sum of the
    * first w values of the ordered-by-`orderCol` group
    * (ref `generate_submission.py:17-18`, w=7). Implemented as two filtered
    * exact sums over rank from each end — one aggregate pass, no collect_list.
    * Caller must pre-compute rank columns (see [[withEndRanks]]).
    */
  def boundarySumDiff(valueCol: Column, rankAsc: Column, rankDesc: Column, w: Int): Column =
    sum(when(rankDesc <= w, valueCol.cast(Exact.SumType))).cast("double") -
      sum(when(rankAsc <= w, valueCol.cast(Exact.SumType))).cast("double")

  /** Adds ascending/descending rank columns within (parts, ordered by order)
    * for [[boundarySumDiff]].
    */
  def withEndRanks(
      df: DataFrame,
      parts: Seq[String],
      order: Seq[Column],
      ascCol: String = "rn_asc",
      descCol: String = "rn_desc"): DataFrame = {
    val wAsc = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
    val wDesc = Window.partitionBy(parts.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn(ascCol, row_number().over(wAsc))
      .withColumn(descCol, row_number().over(wDesc))
  }

  /** A12/O4: deterministic mode — most frequent value, ties broken by the
    * smallest value (the reference's `np.bincount(...).argmax()` at
    * `generate_submission.py:496-502` also takes the lowest class on ties).
    * Returns a 2-phase plan: count per (keys, value), then max_by on
    * (count desc, value asc) — both shuffles are on the grouping keys, so
    * this scales to any cardinality (no collect of the value set).
    */
  def modeDeterministic(df: DataFrame, keys: Seq[String], valueCol: String, outCol: String): DataFrame = {
    val counted = df
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    // max_by over a struct orders lexicographically: highest count first,
    // then (via negated rank surrogate) smallest value. String values can't
    // be negated, so order by (cnt, value) with value descending encoded as
    // a second max_by pass: use min_by on value among max-count rows.
    val wmax = Window.partitionBy(keys.map(col): _*)
    counted
      .withColumn("__maxcnt", max(col("__cnt")).over(wmax))
      .filter(col("__cnt") === col("__maxcnt"))
      .groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as(outCol))
  }

  /** A11: exact linear-interpolation quantile, computed with explicit window
    * arithmetic rather than `percentile()` so the double operations are
    * bit-identical to the same formula spelled out in the DuckDB oracle:
    * pos = 1 + (n-1)q; result = v_floor + (v_ceil - v_floor) * frac(pos).
    * One row per (keys, q).
    *
    * Single-pass: the ranked frame is built once and cross-joined with the
    * (broadcast) quantile list — one window shuffle total, however many
    * quantiles are requested. Ties in `valueCol` are harmless: row_number
    * among equal values is arbitrary but the value at any given rank is not.
    *
    * Scale contract — DISTINCT-value cardinality per key: the pre-agg
    * collapses repeats, so the per-key ordered window is sized by
    * |distinct values|, not rows. Repetitive measures (grades, prices,
    * quantized scores) stay sub-linear; a CONTINUOUS measure (raw decimal
    * sums, e.g. `w27_rfm`'s monetary) has |distinct| ~ |keys' rows| and the
    * window degrades to one task per key over the full frame. At web scale
    * either quantize the measure first (the `binaryAuc.scoreScale` move —
    * thresholds on a 10^-d grid are usually the product requirement anyway)
    * or switch to the mergeable binned form ([[graft.ops.Incremental.histPartials]]/
    * `histQuantile`), whose state is groups × nBins regardless of corpus.
    */
  def exactQuantiles(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // two-phase: pre-aggregate counts per DISTINCT value (full-parallelism
    // hash agg), then rank via cumulative counts — the ordered window sees
    // one row per distinct value instead of one per input row, so the
    // low-cardinality-key sort stops being the bottleneck at scale. The
    // value occupying rank r is the one whose cumulative range
    // (cum_before, cum_before + cnt] contains r — identical math to
    // row_number ranking, which the DuckDB oracle keeps using.
    val counted = df
      .select((keys.map(col) :+ col(valueCol)): _*)
      .filter(col(valueCol).isNotNull)
      .groupBy((keys.map(col) :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__cnt"))
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(keys.map(col): _*)
    val ranked = counted
      .withColumn("__cum", coalesce(sum(col("__cnt")).over(wOrd), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
    val pos = lit(1.0) + (col("__n") - 1).cast("double") * col("q")
    val atLo = col("__cum") < col("__lo") && col("__lo") <= col("__cum") + col("__cnt")
    val atHi = col("__cum") < col("__hi") && col("__hi") <= col("__cum") + col("__cnt")
    ranked
      .crossJoin(broadcast(qs.toDF("q")))
      .withColumn("__pos", pos)
      .withColumn("__lo", floor(col("__pos")))
      .withColumn("__hi", ceil(col("__pos")))
      .withColumn("__frac", col("__pos") - floor(col("__pos")))
      .filter(atLo || atHi)
      .groupBy((keys.map(col) :+ col("q")): _*)
      .agg(
        (min(when(atLo, col(valueCol))) +
          (min(when(atHi, col(valueCol))) -
            min(when(atLo, col(valueCol)))) *
          min(col("__frac"))).as("q_value"))
  }

  /** Oracle twin of [[exactQuantiles]] keyed on one column, over the
    * non-NULL values of `value` in `src`: row_number ranks per key, then
    * the linear interpolation at `1 + (n − 1)·q`, ending in the CTE
    * `quant$sfx(key, q, q_value)`. Every CTE name carries `sfx`, so
    * several quantile sets compose in one WITH chain; a keyless caller
    * passes a constant key column.
    */
  def exactQuantilesSql(
      src: String, key: String, value: String, qs: Seq[Double], sfx: String = ""): String = {
    val lo = "min(CASE WHEN rn = CAST(floor(pos) AS BIGINT) THEN value END)"
    s"""r$sfx AS (SELECT $key, $value AS value,
               row_number() OVER (PARTITION BY $key ORDER BY $value) AS rn,
               count(*) OVER (PARTITION BY $key) AS n
             FROM $src WHERE $value IS NOT NULL),
        qs$sfx AS (SELECT CAST(q AS DOUBLE) AS q
               FROM (VALUES ${qs.map(q => s"($q)").mkString(", ")}) t(q)),
        p$sfx AS (SELECT r.$key, qs.q, r.value, r.rn,
                CAST(1.0 AS DOUBLE) + CAST(n - 1 AS DOUBLE) * qs.q AS pos
              FROM r$sfx r CROSS JOIN qs$sfx qs),
        quant$sfx AS (SELECT $key, q,
                    $lo
                    + (min(CASE WHEN rn = CAST(ceil(pos) AS BIGINT) THEN value END) - $lo)
                      * min(pos - floor(pos)) AS q_value
                  FROM p$sfx WHERE rn = CAST(floor(pos) AS BIGINT)
                     OR rn = CAST(ceil(pos) AS BIGINT)
                  GROUP BY 1, 2)"""
  }

  /** A15: 0-based argmax over an array column (ref
    * `generate_submission.py:487,491` `.argmax(axis=1)`). First occurrence
    * wins on ties, matching numpy.
    */
  def argmaxArray(arr: Column): Column =
    (array_position(arr, array_max(arr)) - 1).cast("int")

  /** A16: per-group z-score outlier detection — flag rows whose value sits
    * more than `threshold` sample standard deviations from the group mean
    * (sensor-fault / label-noise screening at ingest).
    *
    * Determinism: mean and stddev come from [[Exact]] decimal sums
    * (order-independent), and the z-score itself is three single IEEE ops
    * (subtract, divide, abs) — bit-identical cross-engine. Groups with
    * sd = 0 or n ≤ 1 are excluded BEFORE the division so no NaN/Inf ever
    * reaches the comparison (engines disagree on NaN ordering).
    *
    * Scale shape: one partial-aggregated groupBy on the keys, then one
    * co-partitioned join back — both shuffles share the same hash
    * partitioning, and AQE turns the join broadcast when the per-group
    * stats frame is small.
    */
  def zOutliers(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      threshold: Double,
      broadcastStats: Boolean = false): DataFrame = {
    val stats0 = df.groupBy(keys.map(col): _*)
      .agg(
        Exact.dmean(col(valueCol)).as("__mu"),
        Exact.dstddev(col(valueCol)).as("__sd"))
      .filter(col("__sd") > 0)
    // an aggregated frame has no size stats, so the planner assumes huge
    // and shuffle-joins the raw side; when the key space is bounded (a
    // seasonal calendar grid, a small type dimension) the caller passes
    // broadcastStats = true and the probe stays map-side
    val stats = if (broadcastStats) broadcast(stats0) else stats0
    df.join(stats, keys)
      .withColumn("z", (col(valueCol) - col("__mu")) / col("__sd"))
      .filter(abs(col("z")) > threshold)
      .drop("__mu", "__sd")
  }

  /** Regression evaluation — MAE / RMSE / R² per group (or one global row
    * for empty `keys`), the model-quality readout an imputation or
    * forecasting pipeline closes with.
    *
    * Determinism contract: every sum is [[Exact.dsumTrunc9]] (raw-float
    * magnitudes and their squares both sit where rounding decimal casts
    * hit dyadic tie points — the trunc cast has no tie), and the closing
    * expressions are fixed IEEE dags mirrored token-for-token by the
    * oracle. The metric DEFINITION is therefore over the scale-9-quantized
    * error terms — at 1e-9 per row this is far below any decision
    * threshold, and it buys engine-exact, partition-count-independent
    * results. R² uses `1 − SSE/SST` with `SST = Σy² − (Σy)²/n`; a
    * degenerate group (constant actual column, or n = 1) has SST = 0 and
    * emits NULL r2 — never a 0/0 NaN or ±Infinity, whose cross-engine
    * rendering is a hash hazard (any oracle must mirror the same CASE).
    */
  def regressionMetrics(
      df: DataFrame,
      keys: Seq[String],
      actualCol: String,
      predCol: String): DataFrame = {
    val err = col(predCol) - col(actualCol)
    val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
    val n = col("n").cast("double")
    g.agg(
        count(lit(1)).as("n"),
        Exact.dsumTrunc9(abs(err)).as("__sae"),
        Exact.dsumTrunc9(err * err).as("__sse"),
        Exact.dsumTrunc9(col(actualCol)).as("__sy"),
        Exact.dsumTrunc9(col(actualCol) * col(actualCol)).as("__syy"))
      .select((keys.map(col) :+ col("n") :+
        (col("__sae") / n).as("mae") :+
        sqrt(col("__sse") / n).as("rmse") :+
        when(col("__syy") - col("__sy") * col("__sy") / n > 0.0,
          lit(1.0) - col("__sse") / (col("__syy") - col("__sy") * col("__sy") / n)).as("r2")): _*)
  }

  /** Seasonal-naive forecast evaluation — the skill-score readout that
    * decides whether a seasonal profile is worth deploying: fit per-
    * (key, season-cell) means and a per-key climatology mean on the rows
    * where `trainFlag` is true, forecast every test row from its cell,
    * and report per key `n_test`, the seasonal MAE, the climatology MAE,
    * and `skill = 1 − mae_seasonal / mae_climatology` (positive = the
    * seasonal structure predicts; NULL when the climatology MAE is 0 —
    * a constant test signal has nothing to beat). Test rows whose cell
    * was never seen in training are absent by contract (inner join).
    *
    * Determinism: both fitted means are [[Exact.dmean]]; each residual is
    * one IEEE subtract of deterministic doubles; |err| sums go through
    * [[Exact.dsumTrunc9]]; the closing ratios are a fixed dag. Scale:
    * both fitted tables are bounded (keys × cells / keys) and broadcast —
    * the test stream never shuffles for the join; one groupBy closes the
    * metrics.
    */
  def seasonalSkill(
      df: DataFrame,
      keyCol: String,
      cellCol: String,
      valueCol: String,
      trainFlag: String): DataFrame = {
    val train = df.filter(col(trainFlag))
    val cells = train.groupBy(col(keyCol), col(cellCol))
      .agg(Exact.dmean(col(valueCol)).as("__cell_mean"))
    val clim = train.groupBy(col(keyCol))
      .agg(Exact.dmean(col(valueCol)).as("__clim_mean"))
    val n = col("n_test").cast("double")
    df.filter(!col(trainFlag))
      .join(broadcast(cells), Seq(keyCol, cellCol))
      .join(broadcast(clim), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_test"),
        Exact.dsumTrunc9(abs(col(valueCol) - col("__cell_mean"))).as("__saes"),
        Exact.dsumTrunc9(abs(col(valueCol) - col("__clim_mean"))).as("__saec"))
      .select(
        col(keyCol), col("n_test"),
        (col("__saes") / n).as("mae_seasonal"),
        (col("__saec") / n).as("mae_climatology"),
        when(col("__saec") > 0.0,
          lit(1.0) - (col("__saes") / n) / (col("__saec") / n)).as("skill"))
  }

  /** Exact-integer ROC AUC — the Mann-Whitney formulation with
    * average-rank tie handling: over distinct score values,
    * `2·Σ_pos avgRank = Σ pos_s · (2·below_s + cnt_s + 1)` keeps every
    * intermediate an integer, so
    * `AUC = (2ΣR − n₊(n₊+1)) / (2·n₊·n₋)` is one integer-ratio division —
    * engine-exact with no floating rank sums. Labels are 0/1 in
    * `labelCol`; any totally ordered score column works. Degenerate
    * inputs (no positives or no negatives) emit NULL auc.
    *
    * Scale contract: the rank cumulation's unpartitioned window runs over
    * ONE ROW PER DISTINCT SCORE (the same argument as `exactQuantiles`),
    * so the single-task stage is bounded by score cardinality, not corpus
    * size. That makes the operator safe for integer / quantized scores
    * (hit counts, calibrated score bins) and WRONG for a continuous
    * double score, where distinct cardinality ≈ row count and the whole
    * corpus collapses into one task. The contract is ENFORCED at plan
    * time: a double/float score column is rejected unless `scoreScale`
    * is given, in which case the operator itself quantizes to
    * `⌊score·10^d⌋` (the standard binned-ROC approximation, mirrored
    * verbatim in any oracle).
    *
    * The rank cumulation runs over the DISTINCT-score frame (the
    * `exactQuantiles` trick — the global window sees one row per distinct
    * score, not one per input row); sums accumulate in DECIMAL(38,0), so
    * the n² rank-sum magnitude cannot overflow int64 at any corpus size
    * (DuckDB mirrors in HUGEINT).
    */
  def binaryAuc(
      df: DataFrame,
      labelCol: String,
      scoreCol: String,
      scoreScale: Option[Int] = None): DataFrame =
    binaryAucBy(df, Nil, labelCol, scoreCol, scoreScale)

  /** Keyed [[binaryAuc]]: one (keys…, n_pos, n_neg, auc) row per key group
    * — the one-vs-rest building block for macro-averaged AUC, where the
    * key is the class. Identical integer Mann-Whitney arithmetic; the rank
    * window partitions by the keys, so the per-task frame is one group's
    * distinct scores (the same cardinality contract as the global form).
    */
  def binaryAucBy(
      df: DataFrame,
      keys: Seq[String],
      labelCol: String,
      scoreCol: String,
      scoreScale: Option[Int] = None): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // Enforce the scale contract AT PLAN TIME: a continuous double/float
    // score makes distinct cardinality ≈ row count, collapsing the whole
    // corpus into the rank window's single task. scoreScale = Some(d)
    // quantizes in-operator to ⌊score·10^d⌋ (the standard binned-ROC
    // approximation — floor is engine-exact on identical doubles, so the
    // oracle mirrors it as floor(s * 10^d) verbatim); without it, a
    // floating-point score column faults loudly here instead of silently
    // serializing at 100 TB.
    val scoreExpr = scoreScale match {
      case Some(d) =>
        require(d >= 0 && d <= 15, s"scoreScale must be in [0, 15], got $d")
        floor(col(scoreCol) * lit(math.pow(10.0, d.toDouble))).cast("long")
      case None =>
        val dt = df.schema(scoreCol).dataType
        require(
          dt != org.apache.spark.sql.types.DoubleType &&
            dt != org.apache.spark.sql.types.FloatType,
          s"binaryAuc: continuous $dt score column '$scoreCol' collapses the " +
            "rank window to one task (distinct cardinality ~ corpus size); " +
            "pass scoreScale = Some(d) to quantize to floor(score*10^d) " +
            "(binned ROC) or bin the scores upstream")
        col(scoreCol)
    }
    val c = df.groupBy(keys.map(col) :+ scoreExpr.as("__s"): _*)
      .agg(count(lit(1)).as("__cnt"), sum(col(labelCol).cast("long")).as("__pos"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = c.withColumn("__below", coalesce(sum(col("__cnt")).over(w), lit(0L)))
    val g = if (keys.isEmpty) r.groupBy() else r.groupBy(keys.map(col): _*)
    g.agg(
        sum((col("__pos") * (lit(2L) * col("__below") + col("__cnt") + lit(1L))).cast(dec))
          .as("__r2"),
        sum(col("__pos")).as("n_pos"),
        sum(col("__cnt") - col("__pos")).as("n_neg"))
      .select(keys.map(col) :+
        col("n_pos") :+
        col("n_neg") :+
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__r2") - col("n_pos").cast(dec) * (col("n_pos") + lit(1L)).cast(dec))
            .cast("double") /
            (col("n_pos").cast(dec) * col("n_neg").cast(dec) * lit(2L)).cast("double"))
          .as("auc"): _*)
  }

  /** Oracle twin of [[binaryAucBy]] over a relation `scored(keys…, y, s)`
    * whose score `s` is already integral (quantized where the operator's
    * `scoreScale` would): HUGEINT rank sums, ending in the CTE
    * `aucs(keys…, n_pos, n_neg, auc)`.
    */
  def binaryAucSql(scored: String, keys: Seq[String] = Nil): String = {
    val k = keys.map(_ + ", ").mkString
    val by = if (keys.isEmpty) "" else s" GROUP BY ${(1 to keys.size).mkString(", ")}"
    val part = if (keys.isEmpty) "" else s"PARTITION BY ${keys.mkString(", ")} "
    s"""ac AS (SELECT ${k}s, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
               FROM $scored GROUP BY ${(1 to keys.size + 1).mkString(", ")}),
        ar AS (SELECT *, coalesce(sum(cnt) OVER (${part}ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT)) AS below
               FROM ac),
        aa AS (SELECT ${k}sum(CAST(pos AS HUGEINT) * (2 * CAST(below AS HUGEINT) + cnt + 1)) AS r2,
                 CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(sum(cnt - pos) AS BIGINT) AS n_neg
               FROM ar$by),
        aucs AS (SELECT ${k}n_pos, n_neg,
                  CASE WHEN n_pos > 0 AND n_neg > 0
                       THEN CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
                            / CAST(CAST(n_pos AS HUGEINT) * n_neg * 2 AS DOUBLE)
                       END AS auc
                FROM aa)"""
  }

  /** Macro-averaged one-vs-rest AUC: [[binaryAucBy]] per class plus one
    * `class = '*'` row whose auc is the mean over the classes where AUC is
    * defined (n₊ > 0 and n₋ > 0 — degenerate classes are skipped, the
    * standard macro-over-defined-classes convention; all-degenerate input
    * leaves the macro auc NULL). The mean is taken over the per-class AUCs
    * quantized to truncated scale-9 fixed point (`⌊auc·10⁹⌋`, exact in
    * both engines on identical doubles — the `Vectors.randomProject`
    * rule): an integer sum and ONE closing division, never a
    * partition-order-dependent double sum. The macro row's n_pos/n_neg
    * carry the class totals.
    */
  def macroAuc(
      df: DataFrame,
      classCol: String,
      labelCol: String,
      scoreCol: String,
      scoreScale: Option[Int] = None): DataFrame = {
    // the per-class table closes the whole upstream scoring pipeline and
    // is referenced twice (its own rows + the macro row) — persist the
    // K-row result so the upstream runs once, not once per union branch
    // (streaming plans pass through unpersisted, same contract as
    // classificationCounts)
    val per = Caches.trackPersistBatch(
      binaryAucBy(df, Seq(classCol), labelCol, scoreCol, scoreScale))
    val mac = per.groupBy()
      .agg(
        sum(col("n_pos")).as("n_pos"),
        sum(col("n_neg")).as("n_neg"),
        sum(floor(col("auc") * lit(1000000000.0)).cast("long")).as("__sq"),
        count(col("auc")).as("__k"))
      .select(
        lit("*").as(classCol),
        col("n_pos"),
        col("n_neg"),
        when(col("__k") > 0,
          col("__sq").cast("double") / (col("__k").cast("double") * lit(1000000000.0)))
          .as("auc"))
    per.unionByName(mac)
  }

  /** Spearman rank correlation between two columns — the monotone-
    * association readout that complements [[corrCovar]]'s Pearson (rank
    * agreement between two quality signals is THE question when deciding
    * if one filter subsumes another). Computed as Pearson over
    * average ranks with the ranks kept INTEGER: per signal, the
    * distinct-value frame yields `2·avgRank = 2·below + cnt + 1` (the
    * [[binaryAuc]] trick — ties get average ranks, the ×2 clears the .5),
    * every moment sum accumulates in DECIMAL(38,0), and the closing
    * `ρ = (nΣxy−ΣxΣy) / (√(nΣxx−Σx²)·√(nΣyy−Σy²))` casts each EXACT
    * decimal difference to double separately before the IEEE dag (a
    * decimal PRODUCT cast would sit past 2^53 where the engines' decimal→
    * double conversions split). Degenerate inputs (either signal
    * constant) emit NULL rho.
    *
    * Contracts: the final casts are exact while `4n⁴ < 2^53` (n ≤
    * [[SpearmanMaxExactN]] rows — sample or quantize above); the rank
    * windows share [[binaryAuc]]'s bounded distinct-cardinality
    * assumption. The n bound is ENFORCED at run time: past it the
    * operator raises an error (`raise_error` inside the closing select)
    * instead of silently returning a last-bits-wrong rho — the guard adds
    * no work to the plan (one comparison on the single aggregated row).
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // the input feeds THREE plan branches (both rank frames + the closing
    // join) and is typically an expensive upstream (m16: two full corpus
    // tokenization pipelines joined) — persist the two-column projection
    // once instead of re-evaluating it per branch (measured on m16 at
    // sf0.1: 49 → ~18 executor-cpu-s; the cache-agg-results rule).
    // Streaming plans pass through unpersisted (classificationCounts
    // contract) — the rank windows would reject them anyway, but the
    // failure should name the window, not the persist.
    val base = Caches.trackPersistBatch(df.select(col(xCol), col(yCol)))
    def rank2(c: String, out: String): DataFrame = {
      val g = base.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__cnt"))
      val w = Window.orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("__below", coalesce(sum(col("__cnt")).over(w), lit(0L)))
        .select(col("__v").as(c),
          (lit(2L) * col("__below") + col("__cnt") + lit(1L)).as(out))
    }
    val nD = col("n").cast(dec)
    val num = nD * col("__sxy") - col("__sx") * col("__sy")
    val dx = nD * col("__sxx") - col("__sx") * col("__sx")
    val dy = nD * col("__syy") - col("__sy") * col("__sy")
    base
      .join(rank2(xCol, "__rx"), xCol)
      .join(rank2(yCol, "__ry"), yCol)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__rx").cast(dec)).as("__sx"),
        sum(col("__ry").cast(dec)).as("__sy"),
        sum((col("__rx") * col("__ry")).cast(dec)).as("__sxy"),
        sum((col("__rx") * col("__rx")).cast(dec)).as("__sxx"),
        sum((col("__ry") * col("__ry")).cast(dec)).as("__syy"))
      .select(
        col("n"),
        when(col("n") > lit(SpearmanMaxExactN),
          raise_error(concat(
            lit("spearman exactness bound exceeded: n = "), col("n"),
            lit(s" > $SpearmanMaxExactN (4n^4 >= 2^53 — the closing " +
              "decimal->double casts stop being exact); run on a " +
              "deterministic hash-sample or quantize the signals first"))))
          .otherwise(
            when(dx > 0 && dy > 0,
              num.cast("double") / (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))))
          .as("rho"))
  }

  /** Largest row count for which [[spearman]]'s closing decimal→double
    * casts are exact: the moment differences are O(4n⁴) over the doubled
    * ranks, and 4n⁴ < 2^53 holds through n = 6888.
    */
  val SpearmanMaxExactN = 6888L

  /** Calibration (reliability-diagram) bins: scores in [0, 1] bucket into
    * `nBins` equal-width bins (`min(⌊s·nBins⌋, nBins−1)`, so s = 1.0 joins
    * the top bin) and each bin reports (n, mean_score, frac_pos) — the
    * table a reliability plot reads straight off, and the ECE integrand.
    *
    * Determinism: bin ids and counts are integers; mean_score sums the
    * scale-9-TRUNCATED scores (the [[Exact.dsumTrunc9]] contract — the
    * metric is defined over quantized scores, ≤1e-9 per row, buying
    * partition-order independence); frac_pos is one BIGINT→double
    * division. Empty bins emit no row (their reliability is undefined).
    * NULL scores are EXCLUDED up front: without the filter,
    * `floor(NULL·nBins)` is NULL and `least(NULL, nBins−1)` returns
    * nBins−1 (least/greatest skip null arguments — the same resurrection
    * hazard as the winsorize clamp), silently polluting the top bin.
    * One partial-aggregated groupBy, nBins output rows.
    */
  def calibrationBins(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 0, s"need nBins > 0, got $nBins")
    df.filter(col(scoreCol).isNotNull)
      .withColumn(
        "bin",
        least(floor(col(scoreCol) * nBins).cast("long"), lit(nBins - 1L)))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        Exact.dsumTrunc9(col(scoreCol)).as("__ss"),
        sum(col(labelCol).cast("long")).as("pos"))
      .select(
        col("bin"),
        col("n"),
        (col("__ss") / col("n").cast("double")).as("mean_score"),
        col("pos"),
        (col("pos").cast("double") / col("n").cast("double")).as("frac_pos"))
  }

  /** Classification evaluation — per-class (n_true, n_pred, tp, precision,
    * recall, f1) over an (actual, predicted) column pair. NULL predictions
    * (an abstaining classifier) count toward n_true only — a false
    * negative for their class, never a false positive elsewhere. Classes
    * are the union of observed actual and predicted labels.
    *
    * Determinism: the counts are integers and every ratio is one
    * BIGINT→double division; zero denominators resolve to 0.0 (sklearn's
    * zero_division=0 convention) BEFORE any NaN can form, and f1 is one
    * fixed dag over the precision/recall columns — all mirrored
    * token-for-token by the oracle.
    *
    * Scale shape: three partial-aggregated groupBys over the scored frame
    * (each shuffles one row per class) and two class-cardinality joins.
    */
  def classificationMetrics(
      df: DataFrame,
      actualCol: String,
      predCol: String): DataFrame =
    classificationFinalize(classificationCounts(df, actualCol, predCol))

  /** The mergeable half of [[classificationMetrics]]: per-class
    * (n_true, n_pred, tp) integer counts — a commutative monoid under
    * [[classificationCountsMerge]], so per-batch counts of an ingest
    * stream sum to exactly the from-scratch table (the same IVM contract
    * as `Incremental.partials` / `histPartials` / count-min grids).
    */
  def classificationCounts(
      df: DataFrame,
      actualCol: String,
      predCol: String): DataFrame = {
    // three count branches over the same scored frame — persist the
    // two-column projection once (m11's prediction pipeline otherwise
    // runs per branch); a streaming plan passes through unpersisted
    val base = Caches.trackPersistBatch(df.select(col(actualCol), col(predCol)))
    val nt = base.groupBy(col(actualCol).as("class")).agg(count(lit(1)).as("n_true"))
    val np = base.filter(col(predCol).isNotNull)
      .groupBy(col(predCol).as("class")).agg(count(lit(1)).as("n_pred"))
    val tp = base.filter(col(predCol) === col(actualCol))
      .groupBy(col(actualCol).as("class")).agg(count(lit(1)).as("tp"))
    nt.join(np, Seq("class"), "full").join(tp, Seq("class"), "left")
      .select(
        col("class"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
  }

  /** Merge two classification count tables (associative/commutative). */
  def classificationCountsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("class")
      .agg(
        sum(col("n_true")).as("n_true"),
        sum(col("n_pred")).as("n_pred"),
        sum(col("tp")).as("tp"))

  /** Close a counts table into precision/recall/F1 (zero_division=0). */
  def classificationFinalize(counts: DataFrame): DataFrame =
    counts
      .withColumn("precision",
        when(col("n_pred") > 0, col("tp").cast("double") / col("n_pred").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("n_true") > 0, col("tp").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn(
        "f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))

  /** Robust sibling of [[zOutliers]]: median/MAD screening — flag rows
    * whose absolute deviation from the group MEDIAN exceeds `threshold`
    * times the median absolute deviation. Use when the contamination
    * itself would poison mean/sd (a16's moments chase the outliers; the
    * median ignores them up to 50% contamination).
    *
    * Score is the raw `dev/MAD` ratio (callers wanting the
    * normal-consistent scale multiply by 1/1.4826 themselves — keeping
    * the constant out keeps the oracle expression tree minimal). Groups
    * with MAD = 0 (a majority-constant column) are excluded before the
    * division, like a16's sd = 0 guard.
    *
    * Determinism: both medians come from [[exactQuantiles]] (rank
    * arithmetic + one interpolation — identical IEEE dags both engines);
    * `dev`, the ratio and the comparison are single correctly-rounded ops.
    *
    * Scale shape: two two-phase quantile passes (each a full-parallelism
    * distinct-value pre-agg + a distinct-frame window) and two
    * co-partitioned joins back; the per-group (median, MAD) frames are
    * group-cardinality-sized and AQE broadcasts them.
    */
  def madOutliers(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      threshold: Double): DataFrame = {
    val med = exactQuantiles(df, keys, valueCol, Seq(0.5))
      .select((keys.map(col) :+ col("q_value").as("__med")): _*)
    val withDev = df.join(med, keys)
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
    val mad = exactQuantiles(withDev, keys, "__dev", Seq(0.5))
      .select((keys.map(col) :+ col("q_value").as("__mad")): _*)
    withDev.join(mad, keys)
      .filter(col("__mad") > 0)
      .withColumn("rz", col("__dev") / col("__mad"))
      .filter(col("rz") > threshold)
      .drop("__dev")
      .withColumnRenamed("__med", "med")
      .withColumnRenamed("__mad", "mad")
  }

  /** Per-group Pearson correlation + sample covariance of two columns,
    * from the five exact DECIMAL moment sums (never Spark's builtin
    * `corr`/`covar_samp`, whose streaming Welford updates are
    * partition-order-dependent AND differ from DuckDB's formulation).
    *
    * Determinism: Σx/Σy are [[Exact.dsum]] scale-4 decimal sums (scale 9
    * would push the scaled sum past 2^53, where the two engines' decimal→
    * double conversions disagree by an ulp — observed here at sf0.1); the
    * product sums Σxy/Σx²/Σy² go through [[Exact.dsumTrunc4]] (product
    * magnitudes put a rounding decimal cast on tie points — see its
    * scaladoc); the final expressions are fixed dags of correctly-rounded
    * IEEE ops
    * (`corr = (n·Σxy − ΣxΣy) / (sqrt(n·Σx² − Σx²)·sqrt(n·Σy² − Σy²))`,
    * `covar = (n·Σxy − ΣxΣy) / (n·(n−1))`) — the oracle mirrors the same
    * trees token-for-token. Groups where either variance term is ≤ 0
    * (constant column, n ≤ 1) emit NULL corr rather than a cross-engine
    * NaN/Inf comparison.
    *
    * Scale shape: one partial-aggregated groupBy — the moment sums
    * map-side-combine, so the shuffle carries one row per (group ×
    * 6 numbers) regardless of input size.
    */
  def corrCovar(
      df: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val agg = df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        Exact.dsum(x).as("__sx"),
        Exact.dsum(y).as("__sy"),
        Exact.dsumTrunc4(x * y).as("__sxy"),
        Exact.dsumTrunc4(x * x).as("__sxx"),
        Exact.dsumTrunc4(y * y).as("__syy"))
    val n = col("n_rows").cast("double")
    val cov = (n * col("__sxy") - col("__sx") * col("__sy")) / (n * (n - lit(1.0d)))
    val vx = n * col("__sxx") - col("__sx") * col("__sx")
    val vy = n * col("__syy") - col("__sy") * col("__sy")
    val corr = (n * col("__sxy") - col("__sx") * col("__sy")) / (sqrt(vx) * sqrt(vy))
    agg
      .withColumn("covar_samp", when(col("n_rows") > 1, cov))
      .withColumn("pearson_r", when(vx > 0 && vy > 0, corr))
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Two-sample Welch z evaluation of an A/B split per key — the
    * experimentation readout (is arm A's mean value different from arm
    * B's, in units of standard error):
    *
    *   z = (mean_a − mean_b) / sqrt(va/na + vb/nb)
    *
    * with each arm's sample variance from exact moment sums. `arm` is any
    * deterministic boolean assignment expression (hash-bucket the unit id
    * — never rand(), or retries resample the experiment). Both arms
    * aggregate in ONE pass via conditional aggregates — one shuffle of
    * ≤ keys·cells, no join, no second scan.
    *
    * Determinism ([[corrCovar]]'s recipe): raw sums through [[Exact.dsum]],
    * squares through tie-free [[Exact.dsumTrunc4]], then one fixed IEEE
    * dag per output (means, variances, z) identical in the oracle; sqrt
    * is correctly rounded in both engines. Degenerate groups (an arm with
    * n ≤ 1, or zero pooled variance) yield NULL z rather than NaN.
    */
  def abWelchZ(
      df: DataFrame,
      keys: Seq[String],
      arm: Column,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val a = when(arm, v)
    val b = when(!arm, v)
    val agg = df.groupBy(keys.map(col): _*)
      .agg(
        count(a).as("n_a"),
        count(b).as("n_b"),
        Exact.dsum(a).as("__sa"),
        Exact.dsum(b).as("__sb"),
        Exact.dsumTrunc4(when(arm, v * v)).as("__sa2"),
        Exact.dsumTrunc4(when(!arm, v * v)).as("__sb2"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = col("__sa") / na
    val mb = col("__sb") / nb
    val va = (na * col("__sa2") - col("__sa") * col("__sa")) / (na * (na - lit(1.0d)))
    val vb = (nb * col("__sb2") - col("__sb") * col("__sb")) / (nb * (nb - lit(1.0d)))
    val se2 = va / na + vb / nb
    agg
      .withColumn("mean_a", ma)
      .withColumn("mean_b", mb)
      .withColumn("z",
        when(col("n_a") > 1 && col("n_b") > 1 && se2 > 0, (ma - mb) / sqrt(se2)))
      .drop("__sa", "__sb", "__sa2", "__sb2")
  }

  /** CUPED variance-reduced A/B evaluation (Deng et al. 2013 — the
    * standard experimentation-platform move at Microsoft/Netflix scale):
    * each unit carries a pre-experiment covariate `x` and an experiment
    * metric `y`; the adjusted metric y' = y − θ·(x − x̄) with
    * θ = cov(x,y)/var(x) removes the variance `x` explains, shrinking the
    * standard error without biasing the arm difference (θ is fitted
    * pooled, not per arm). Emits, per key: unit counts per arm, θ, the
    * plain Welch z on `y` ([[abWelchZ]]'s statistic) and the Welch z on
    * y' — the z_cuped/z_raw gap IS the measured variance reduction.
    *
    * Determinism: `x`/`y` are DERIVED doubles (per-unit means), so every
    * moment sum here uses tie-free truncated scale-9 fixed point
    * ([[Exact.dsumTrunc9]] — never a rounding decimal cast on a derived
    * value, recipe 3 of DETERMINISM.md), θ/x̄/z close through fixed IEEE
    * dags the oracle mirrors, and the θ join-back is a per-key one-row
    * broadcast. Degenerate keys (var(x) ≤ 0, an arm with n ≤ 1, zero
    * pooled variance) yield NULL statistics rather than NaN.
    *
    * Scale shape: two conditional-aggregate passes over the unit frame
    * (one for moments, one for adjusted moments) + a broadcast join —
    * no shuffle wider than the per-key unit partitioning, nothing
    * quadratic.
    */
  def cuped(
      units: DataFrame,
      keys: Seq[String],
      xCol: String,
      yCol: String,
      arm: Column): DataFrame = {
    val kCols = keys.map(col)
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    def t9(c: Column) = Exact.dsumTrunc9(c)
    val withArm = units.withColumn("__arm", arm)
    val ya = when(col("__arm"), y)
    val yb = when(!col("__arm"), y)
    val moms = withArm.groupBy(kCols: _*)
      .agg(
        count(lit(1)).as("n_units"),
        count(ya).as("n_a"),
        count(yb).as("n_b"),
        t9(x).as("__sx"),
        t9(y).as("__sy"),
        t9(x * y).as("__sxy"),
        t9(x * x).as("__sxx"),
        t9(ya).as("__sya"),
        t9(yb).as("__syb"),
        t9(when(col("__arm"), y * y)).as("__sy2a"),
        t9(when(!col("__arm"), y * y)).as("__sy2b"))
    val nU = col("n_units").cast("double")
    val thetaDen = nU * col("__sxx") - col("__sx") * col("__sx")
    val fitted = moms
      .withColumn("theta",
        when(thetaDen > 0, (nU * col("__sxy") - col("__sx") * col("__sy")) / thetaDen))
      .withColumn("__xbar", col("__sx") / nU)
    // Welch z from (n, Σv, Σv²) triplets — one fixed dag, reused for raw & adjusted
    def welch(na: Column, nb: Column, sa: Column, sb: Column, s2a: Column, s2b: Column) = {
      val nad = na.cast("double"); val nbd = nb.cast("double")
      val ma = sa / nad; val mb = sb / nbd
      val va = (nad * s2a - sa * sa) / (nad * (nad - lit(1.0d)))
      val vb = (nbd * s2b - sb * sb) / (nbd * (nbd - lit(1.0d)))
      val se2 = va / nad + vb / nbd
      when(na > 1 && nb > 1 && se2 > 0, (ma - mb) / sqrt(se2))
    }
    val zRaw = fitted.withColumn("z_raw",
      welch(col("n_a"), col("n_b"), col("__sya"), col("__syb"), col("__sy2a"), col("__sy2b")))
      .select(kCols ++ Seq(col("n_a"), col("n_b"), col("theta"), col("__xbar"), col("z_raw")): _*)
    val adj = withArm.join(broadcast(zRaw), keys)
      .withColumn("__yadj", y - col("theta") * (x - col("__xbar")))
    val adjA = when(col("__arm"), col("__yadj"))
    val adjB = when(!col("__arm"), col("__yadj"))
    adj.groupBy(kCols: _*)
      .agg(
        max(col("n_a")).as("n_a"),
        max(col("n_b")).as("n_b"),
        max(col("theta")).as("theta"),
        max(col("z_raw")).as("z_raw"),
        t9(adjA).as("__saa"),
        t9(adjB).as("__sab"),
        t9(when(col("__arm"), col("__yadj") * col("__yadj"))).as("__s2a"),
        t9(when(!col("__arm"), col("__yadj") * col("__yadj"))).as("__s2b"))
      .withColumn("z_cuped",
        welch(col("n_a"), col("n_b"), col("__saa"), col("__sab"), col("__s2a"), col("__s2b")))
      .select(kCols ++ Seq(
        col("n_a"), col("n_b"), col("theta"), col("z_raw"), col("z_cuped")): _*)
  }

  /** Population stability index between a BASE and a CURRENT distribution
    * of `valueCol`, per key — the standard drift monitor a continuously
    * ingested pipeline runs between the historical snapshot and each new
    * batch (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted):
    *
    *   PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)
    *
    * over `nBins` fixed-width bins on [lo, lo + nBins·binWidth), clamped at
    * the edges (same convention as [[Incremental.histPartials]]). Shares
    * are Laplace-smoothed — p_i = (c_i + 1)/(n + nBins) — so empty bins are
    * well-defined on both sides without an epsilon constant.
    *
    * Scale shape: each side collapses to ≤ keys·nBins count cells via one
    * map-side-combined groupBy (the 100 TB scan shuffles only the cell
    * grid); the bin scaffold (every key × every bin) and the per-key totals
    * are sub-linear frames joined broadcast. Determinism: shares and their
    * ratio are BIGINT→double divisions (correctly rounded, engine-equal),
    * ln is [[graft.functions.MathLn]], and the per-key term sum is
    * [[Exact.dsumTrunc9]] (order-independent; |term| sums are O(ln nBins),
    * so scale-9 noise is far under double precision needs).
    */
  def psi(
      base: DataFrame,
      cur: DataFrame,
      keys: Seq[String],
      valueCol: String,
      lo: Double,
      binWidth: Double,
      nBins: Int): DataFrame = {
    require(nBins > 1 && binWidth > 0, "psi needs nBins > 1 and a positive binWidth")
    val kCols = keys.map(col)
    // scaffold keys come from the RAW frames, so a key whose every value is
    // NULL still gets a (degenerate, uniform-vs-uniform) PSI row
    val scaffold = base.select(kCols: _*).union(cur.select(kCols: _*)).distinct()
      .select(kCols :+ explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"): _*)
    psiCore(
      scaffold,
      Incremental.histPartials(base, keys, valueCol, lo, binWidth, nBins),
      Incremental.histPartials(cur, keys, valueCol, lo, binWidth, nBins),
      keys, nBins)
  }

  /** [[psi]] closed from MAINTAINED histogram state instead of raw rows —
    * the continuous drift monitor: keep one [[Incremental.histPartials]]
    * state per side (merged across micro-batches with
    * [[Incremental.histMerge]] — integer counts over a fixed bin universe,
    * so batch boundaries provably cannot move the result), then close PSI
    * from the two states at any point without re-scanning history.
    * Bit-identical to [[psi]] over the same rows whenever every key has at
    * least one non-NULL value (a key observed only as NULLs has no state
    * rows for a state-based monitor to see — the one contract difference).
    */
  def psiFromHists(
      baseHist: DataFrame,
      curHist: DataFrame,
      keys: Seq[String],
      nBins: Int): DataFrame = {
    require(nBins > 1, "psiFromHists needs nBins > 1")
    val kCols = keys.map(col)
    val scaffold = baseHist.select(kCols: _*).union(curHist.select(kCols: _*)).distinct()
      .select(kCols :+ explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"): _*)
    psiCore(scaffold, baseHist, curHist, keys, nBins)
  }

  /** CUSUM changepoint localization per key: the index maximizing the
    * centered cumulative-sum deviation — where the series' mean most
    * plausibly shifted (the max-|CUSUM| estimator behind Page's test and
    * binary-segmentation changepoint detection; [[psi]] says THAT a
    * distribution drifted between two snapshots, this says WHEN within
    * one ordered series).
    *
    * Exact integer arithmetic end to end: each value is quantized to
    * truncated scale-4 fixed point (the [[Exact.dsumTrunc4]] per-row
    * transform — tie-free in both engines), the running prefix sum S_i is
    * a BIGINT window sum (integer addition is associative, so even an
    * engine that folds the frame through a segment tree gets the same
    * bits), and the deviation is kept in the division-free form
    * D_i = n·S_i − i·S_n (= n·1e4 · (S_i/1e4 − (i/n)·S_n/1e4), i.e. the
    * centered CUSUM scaled by n·1e4). D accumulates as DECIMAL(38,0)
    * (HUGEINT in the oracle) so n² magnitudes never overflow; the argmax
    * row per key is selected on the exact decimal |D| with an
    * earliest-index tiebreak, and only then does ONE double division
    * close the reported statistic |D| / (n · 1e4) back into value units.
    *
    * Scale shape: a naive per-key running sum would funnel each key's
    * ENTIRE series through one window task — at web scale a hot key is
    * billions of rows. This runs the classic two-phase distributed scan
    * instead, keyed by `chunk` (any caller expression that is
    * non-decreasing along `orderCols`, e.g. a day bucket of the
    * timestamp): within-chunk running sums and row numbers in parallel
    * windows over (keys, chunk); per-chunk totals aggregated and turned
    * into chunk OFFSETS by a window over the sub-linear chunk table; the
    * global S_i / i are offset + local. The argmax gets the same
    * treatment (per-chunk champion, then a pick over the ≤#chunks
    * champions), so no stage anywhere sorts a whole key in one task —
    * parallelism is keys × chunks. Integer arithmetic makes the chunked
    * and direct forms bit-identical (spec-pinned). NULL values are
    * excluded before indexing (they carry no deviation signal and would
    * desync i between engines).
    */
  def cusumChangepoint(
      df: DataFrame,
      keys: Seq[String],
      orderCols: Seq[Column],
      valueCol: String,
      chunk: Column = lit(0L),
      carry: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val kCols = keys.map(col)
    val v = col(valueCol)
    val m = floor(abs(v) * lit(10000.0d))
    val q = df.filter(v.isNotNull)
      .withColumn("__vq", when(v < 0, -m).otherwise(m).cast("long"))
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val scored = Windows
      .chunkedScan(q, keys, orderCols, "__vq", chunk,
        idxOut = "__i", sumOut = "__s", cntOut = "__n", totOut = "__sn")
      // re-derive the chunk for the two-phase argmax (chunkedScan drops it)
      .withColumn("__chk", chunk)
      .withColumn("__d", dec(col("__n")) * dec(col("__s")) - dec(col("__i")) * dec(col("__sn")))
    // argmax, two-phase as well: chunk champions, then the chunk-table pick
    val wTopLoc = Window.partitionBy(kCols :+ col("__chk"): _*)
      .orderBy(abs(col("__d")).desc, col("__i"))
    val wTop = Window.partitionBy(kCols: _*).orderBy(abs(col("__d")).desc, col("__i"))
    scored
      .withColumn("__rnl", row_number().over(wTopLoc))
      .filter(col("__rnl") === 1)
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1)
      .select(
        kCols ++ carry.map(col) ++ Seq(
          col("__n").as("n"),
          col("__i").as("cp_idx"),
          (abs(col("__d")).cast("double") / (col("__n").cast("double") * lit(10000.0d)))
            .as("cusum_stat")): _*)
  }

  /** Shared PSI closing math over (keys, bin, cnt) histogram frames; see
    * [[psi]] for the formula, smoothing and determinism contract.
    */
  private def psiCore(
      scaffold: DataFrame,
      baseHist: DataFrame,
      curHist: DataFrame,
      keys: Seq[String],
      nBins: Int): DataFrame = {
    val kCols = keys.map(col)
    val cb = baseHist.withColumnRenamed("cnt", "__cb")
    val cc = curHist.withColumnRenamed("cnt", "__cc")
    val tb = baseHist.groupBy(kCols: _*).agg(sum(col("cnt")).as("n_base"))
    val tc = curHist.groupBy(kCols: _*).agg(sum(col("cnt")).as("n_cur"))
    val joined = scaffold
      .join(broadcast(cb), keys :+ "bin", "left")
      .join(broadcast(cc), keys :+ "bin", "left")
      .join(broadcast(tb), keys, "left")
      .join(broadcast(tc), keys, "left")
      .na.fill(0L, Seq("__cb", "__cc", "n_base", "n_cur"))
    val p = (col("__cb") + 1L).cast("double") / (col("n_base") + nBins).cast("double")
    val q = (col("__cc") + 1L).cast("double") / (col("n_cur") + nBins).cast("double")
    joined
      .withColumn("__term", (p - q) * graft.functions.MathLn(p / q))
      .groupBy(kCols: _*)
      .agg(
        max(col("n_base")).as("n_base"),
        max(col("n_cur")).as("n_cur"),
        Exact.dsumTrunc9(col("__term")).as("psi"))
  }

  /** Exact WEIGHTED quantiles — the budget-threshold form of
    * [[exactQuantiles]]: per key group, for each requested quantile
    * (label, num, den) with q = num/den, the smallest value v whose
    * cumulative weight reaches ⌈q·W⌉ (the lower weighted quantile — e.g.
    * the doc length below which half the corpus's TOKENS sit, the number
    * a token-budget planner actually thresholds on, which the unweighted
    * median misrepresents whenever length and weight correlate).
    *
    * Same scale contract as [[exactQuantiles]]: the pre-agg collapses
    * repeats to one row per DISTINCT value (weights summed), so the
    * per-key ordered window is sized by |distinct values|, not rows.
    * Determinism: thresholds are pure BIGINT ceil-division, cumulative
    * weights are BIGINT sums — no floating point anywhere, the oracle
    * matches by construction. One output row per key group, one column
    * per quantile label.
    */
  def weightedQuantiles(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      weightCol: String,
      qs: Seq[(String, Int, Int)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, n, d) => n > 0 && n <= d }, "need 0 < num <= den")
    val kCols = keys.map(col)
    val counted = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .groupBy((kCols :+ col(valueCol)): _*)
      .agg(sum(col(weightCol)).as("__w"))
    val wOrd = Window.partitionBy(kCols: _*).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(kCols: _*)
    val ranked = counted
      .withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__tot", sum(col("__w")).over(wAll))
    val picks = qs.map { case (label, num, den) =>
      val thr = expr(s"(__tot * $num + ${den - 1}) DIV $den")
      min(when(col("__cum") >= thr, col(valueCol))).as(label)
    }
    ranked.groupBy(kCols: _*).agg(max(col("__tot")).as("w_total"), picks: _*)
  }
}
