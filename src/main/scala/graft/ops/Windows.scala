package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series windowing (SURVEY §2.5, W1-W4, W7).
  *
  * The reference's core competency: tumbling 200 ms bucketing
  * (`/root/reference/load_data.py:122-123`), strided row windows
  * (`/root/reference/utils.py:10-16`), cumsum moving average
  * (`/root/reference/utils.py:4-7`), windowed downsampling
  * (`/root/reference/utils.py:19-35`), and multi-horizon lookback/lookahead
  * feature windows (`/root/reference/generate_submission.py:344-366`).
  *
  * Spark-first: all of these are window-frame or groupBy expressions —
  * incremental per partition, shuffled once on the partition keys, no
  * materialized per-window matrices. At scale the single shuffle on
  * (entity, bucket) replaces the reference's driver-resident dict-of-ndarrays.
  */
object Windows {

  /** Chunked two-phase global prefix scan — the distributed form of
    * `sum(x) OVER (PARTITION BY keys ORDER BY ... ROWS UNBOUNDED
    * PRECEDING)` plus `row_number()`, for BIGINT deltas. A naive per-key
    * running window funnels each key's ENTIRE series through one task; at
    * web scale a hot key is billions of rows. This runs the classic
    * two-phase scan instead, keyed by `chunk` (any caller expression
    * non-decreasing along `orderCols`, e.g. a day bucket of the
    * timestamp): within-chunk running sums and row numbers in parallel
    * windows over (keys, chunk); per-chunk totals aggregated and turned
    * into exclusive OFFSETS by a window over the sub-linear chunk table;
    * global index/sum = offset + local. Parallelism is keys × chunks, and
    * integer addition is associative, so the result is bit-identical to
    * the direct single-window form for every chunking (spec-pinned via
    * [[graft.ops.Stats.cusumChangepoint]] and `peakConcurrency`).
    *
    * Adds to each input row: `idxOut` (1-based global row index within
    * the key), `sumOut` (inclusive global running sum of `deltaCol`),
    * `cntOut`/`totOut` (per-key row count and delta total — free off the
    * chunk table, broadcast back). Rows where `deltaCol` is NULL must be
    * filtered by the caller first.
    *
    * Key-cardinality assumption: the per-key totals table (one row per
    * key) is broadcast back, so `keys` must be a SUB-LINEAR, broadcastable
    * set — type/category/tenant-grade keys (the shape this op exists for:
    * few keys × very long series), not per-user/per-doc keys. With
    * linear-cardinality keys the broadcast would blow the 8 GB limit —
    * but then each key's series is short and a plain per-key window
    * needs no chunked scan in the first place.
    */
  def chunkedScan(
      df: DataFrame,
      keys: Seq[String],
      orderCols: Seq[Column],
      deltaCol: String,
      chunk: Column,
      idxOut: String = "__i",
      sumOut: String = "__s",
      cntOut: String = "__n",
      totOut: String = "__tot"): DataFrame = {
    val kCols = keys.map(col)
    val q = df.withColumn("__chk", chunk)
    val wLoc = Window.partitionBy(kCols :+ col("__chk"): _*).orderBy(orderCols: _*)
    val local = q
      .withColumn("__li", row_number().over(wLoc).cast("long"))
      .withColumn("__ls",
        sum(col(deltaCol)).over(wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // NOTE (r15): grouping totals off `local` (to share the window's
    // exchange via ReuseExchange) is a NO-OP — Catalyst prunes the unused
    // __li/__ls window columns under the aggregate and rewrites the branch
    // back to a groupBy over q (verified: operator-identical plans).
    // Callers whose input is an expensive pipeline must persist it before
    // calling (the multi-branch rule); q itself is never persisted here —
    // it is frequently a cheap scan projection
    val totals = q.groupBy(kCols :+ col("__chk"): _*)
      .agg(sum(col(deltaCol)).as("__ct"), count(lit(1)).as("__cc"))
    val wChk = Window.partitionBy(kCols: _*).orderBy(col("__chk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = totals
      .withColumn("__so", coalesce(sum(col("__ct")).over(wChk), lit(0L)))
      .withColumn("__co", coalesce(sum(col("__cc")).over(wChk), lit(0L)))
      .select(kCols ++ Seq(col("__chk"), col("__so"), col("__co")): _*)
    val perKey = totals.groupBy(kCols: _*)
      .agg(sum(col("__ct")).as(totOut), sum(col("__cc")).as(cntOut))
    local
      .join(offs, keys :+ "__chk")
      .join(broadcast(perKey), keys)
      .withColumn(idxOut, col("__co") + col("__li"))
      .withColumn(sumOut, col("__so") + col("__ls"))
      .drop("__chk", "__li", "__ls", "__so", "__co")
  }

  /** W1: tumbling bucket id in integer milliseconds:
    * `bucket = floor(ts_ms / step) * step` — the exact arithmetic of
    * ref `load_data.py:122-123` (`int(x*1000) // step * step`), kept in
    * LongType to avoid float keys.
    */
  def tumbleMs(tsMs: Column, stepMs: Long): Column =
    tsMs - pmod(tsMs, lit(stepMs)) // pure integer arithmetic: no double-division rounding

  /** W2: strided (tumbling over row index) window id: rows are numbered in
    * `order` within `parts`, then chunked `winSize` at a time
    * (ref `utils.py:10-16` with shift == win_size, the only configuration the
    * pipeline uses — `generate_submission.py:374,467`).
    */
  def stridedWindowId(
      df: DataFrame,
      parts: Seq[String],
      order: Seq[Column],
      winSize: Int,
      idCol: String = "win_id"): DataFrame = {
    val w = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
    val rn0 = row_number().over(w) - 1
    df.withColumn(idCol, ((rn0 - pmod(rn0, lit(winSize))) / winSize).cast("long"))
  }

  /** W2 general form: overlapping strided windows, the full semantics of
    * ref `utils.py:10-16`: window w covers rows [w·shift, w·shift+winSize)
    * of the ordered partition, for w in 0 until ceil(len/shift) − cut (the
    * reference's `[:-cut]` tail trim; the trailing windows it drops are the
    * ragged ones shorter than winSize). With shift < winSize a row belongs
    * to up to ⌈winSize/shift⌉ windows, so the operator EXPLODES each row
    * into its memberships — one output row per (input row, win_id), plus
    * `posCol` = offset of the row inside that window.
    *
    * Scale shape: one shuffle on `parts` for the row numbering; the explode
    * is in-stage with a bounded ⌈winSize/shift⌉ expansion factor — no
    * self-join, no per-window materialization. All window arithmetic is
    * integral (DIV), no float indexing.
    */
  def stridedWindows(
      df: DataFrame,
      parts: Seq[String],
      order: Seq[Column],
      winSize: Int,
      shift: Int,
      cut: Int = 0,
      idCol: String = "win_id",
      posCol: String = "win_pos"): DataFrame = {
    require(winSize > 0 && shift > 0 && cut >= 0, "winSize/shift positive, cut non-negative")
    val w = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
    val pw = Window.partitionBy(parts.map(col): _*)
    // row rn0 is in window w iff w·shift ≤ rn0 < w·shift + winSize, capped
    // at the last kept window; numerators are clamped non-negative so
    // truncating DIV is exact ceil/floor
    val lo = s"(greatest(CAST(0 AS BIGINT), __rn0 - ${winSize - 1}) + ${shift - 1}) DIV $shift"
    val hi = s"least(__rn0 DIV $shift, (__cnt + ${shift - 1}) DIV $shift - ${cut + 1})"
    df.withColumn("__rn0", (row_number().over(w) - 1).cast("long"))
      .withColumn("__cnt", count(lit(1)).over(pw))
      .withColumn(
        idCol,
        explode(expr(
          s"CASE WHEN $lo <= $hi THEN sequence($lo, $hi) ELSE CAST(array() AS ARRAY<BIGINT>) END")))
      .withColumn(posCol, col("__rn0") - col(idCol) * shift)
      .drop("__rn0", "__cnt")
  }

  /** W3: length-n moving average per key, trailing frame [-(n-1), 0]
    * (ref `utils.py:4-7`). Exact decimal accumulation (see [[Exact]]) so the
    * result is independent of evaluation order.
    *
    * `full = false` emits a partial mean for the first n−1 rows of each
    * partition (every input row keeps an output); `full = true` reproduces
    * the reference's `ret[n - 1:]` exactly — rows whose trailing frame is
    * incomplete are DROPPED, so each partition shrinks by n−1 rows.
    */
  def movingAvg(
      df: DataFrame,
      parts: Seq[String],
      order: Seq[Column],
      valueCol: String,
      n: Int,
      outCol: String = "moving_avg",
      full: Boolean = false): DataFrame = {
    val w = Window
      .partitionBy(parts.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(-(n - 1), 0)
    val s = sum(col(valueCol).cast(Exact.SumType)).over(w).cast("double")
    val c = count(col(valueCol)).over(w)
    val out = df.withColumn(outCol, s / c)
    if (full) {
      val rn = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
      out.withColumn("__rn", row_number().over(rn))
        .filter(col("__rn") >= n)
        .drop("__rn")
    } else out
  }

  /** Trailing rolling median — the outlier-robust smoother (a spike that
    * drags a moving AVERAGE for n rows leaves the median untouched).
    *
    * Complete windows only, and `n` must be ODD: the median of a full odd
    * frame is a pure element selection (sorted middle), no interpolation
    * arithmetic — which is what makes the result bit-identical across
    * engines (an even-count median is (x+y)/2 vs x+(y−x)/2 territory).
    * Rows whose trailing frame is incomplete are dropped, mirroring
    * [[movingAvg]] `full = true`.
    *
    * CONTRACT: `valueCol` must be non-null — `collect_list` drops NULLs,
    * so a NULL-bearing frame would yield a short array (wrong element, or
    * an ANSI element_at error), while the oracle's `list()` keeps NULLs;
    * run [[Cleaning]] repairs first.
    *
    * Scale shape: one window (sort within partition); the frame buffer is
    * n values per row, array-local sort of n elements — O(n log n) per row
    * with tiny constant n, no extra shuffle beyond the window's.
    */
  def rollingMedian(
      df: DataFrame,
      parts: Seq[String],
      order: Seq[Column],
      valueCol: String,
      n: Int,
      outCol: String = "rolling_median"): DataFrame = {
    require(n > 0 && n % 2 == 1, s"rollingMedian needs odd n, got $n")
    val w = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
    val frame = w.rowsBetween(-(n - 1), 0)
    // the selection is gated on the SAME row: an incomplete frame has
    // fewer than (n+1)/2 + ... elements, and an unguarded element_at
    // would only be safe while Catalyst pushes the __rn filter below the
    // projection — under ANSI that optimizer dependence is an
    // INVALID_ARRAY_INDEX waiting for a plan change. Guarded, short
    // frames evaluate to NULL and are dropped by the filter regardless
    // of plan shape.
    df.withColumn("__rn", row_number().over(w))
      .withColumn(
        outCol,
        when(
          col("__rn") >= n,
          element_at(sort_array(collect_list(col(valueCol)).over(frame)), (n + 1) / 2)))
      .filter(col("__rn") >= n)
      .drop("__rn")
  }

  /** Trailing rolling z-score — windowed anomaly scoring (the streaming
    * companion of [[Stats.zOutliers]]'s whole-series z): each row scored
    * against the mean/stddev of its own trailing n-row frame, so a level
    * shift re-baselines after n rows instead of poisoning the global stats.
    *
    * Exactness: the frame sums go through the same decimal machinery as
    * [[Exact.dstddev]] (decimal Σx, Σx² — associative, partition-count-
    * independent), the mean/variance/sqrt combination is identical double
    * arithmetic in both engines (sqrt is correctly rounded everywhere), so
    * z hash-matches the oracle. The x² sum uses the [[Exact.SqType]]
    * ROUNDING cast (not dsumTrunc4) deliberately — valid while
    * int_digits + 4 ≤ 15 (|x| ≲ 3·10⁵), the same bound [[Exact.dstddev]]
    * documents and holds green at sf0.1; money-magnitude products
    * (x² ~ 1e10) must switch to the trunc4 recipe instead. Complete windows only (rows with fewer
    * than n trailing rows are dropped, mirroring [[movingAvg]] full).
    * `z` is NULL when the frame stddev is 0 (constant window).
    *
    * Scale shape: one window partition — two decimal frame sums + a
    * row_number over the same sort, no join, no second scan.
    */
  def rollingZScore(
      df: DataFrame,
      parts: Seq[String],
      order: Seq[Column],
      valueCol: String,
      n: Int): DataFrame = {
    require(n > 1, s"rollingZScore needs n > 1, got $n")
    val w = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
    val frame = w.rowsBetween(-(n - 1), 0)
    val v = col(valueCol)
    val nD = count(v).over(frame).cast("double")
    val s = sum(v.cast(Exact.SumType)).over(frame).cast("double")
    val s2 = sum((v * v).cast(Exact.SqType)).over(frame).cast("double")
    val mu = s / nD
    val sd = when(nD > 1, sqrt(greatest((s2 - s * s / nD) / (nD - lit(1.0)), lit(0.0))))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("rolling_mu", mu)
      .withColumn("rolling_sd", sd)
      .withColumn("z", when(col("rolling_sd") > 0, (v - col("rolling_mu")) / col("rolling_sd")))
      .filter(col("__rn") >= n)
      .drop("__rn")
  }

  /** W4: downsample-by-window aggregation, the four kernels of
    * ref `utils.py:19-35`: mean / abs_mean / abs_max / abs_max_orig
    * (signed value with max |value|).
    */
  def downsampleAgg(method: String, c: Column): Column = method match {
    case "mean"         => Exact.dmean(c)
    case "abs_mean"     => Exact.dmean(abs(c))
    case "abs_max"      => max(abs(c))
    case "abs_max_orig" => Stats.signedAbsMax(c)
    case other          => throw new IllegalArgumentException(s"unknown downsampling method $other")
  }

  /** W4: bucket a series and aggregate each bucket with one of the reference
    * kernels, one output row per (parts, bucket).
    */
  def downsample(
      df: DataFrame,
      parts: Seq[String],
      tsMsCol: String,
      valueCol: String,
      stepMs: Long,
      method: String,
      outCol: String = "ds_value"): DataFrame = {
    val bucketed = df.withColumn("bucket", tumbleMs(col(tsMsCol), stepMs))
    bucketed
      .groupBy((parts :+ "bucket").map(col): _*)
      .agg(downsampleAgg(method, col(valueCol)).as(outCol))
  }

  /** W7: multi-horizon lookback/lookahead stats. For each row (window end)
    * and each horizon h (ms), aggregates `valueCol` over the trailing range
    * frame [-h, -1] and the leading range frame [0, h-1] — the 8 mocap
    * feature blocks of ref `generate_submission.py:344-366,437-459`.
    * Emits columns `<stat>_back_<h>` / `<stat>_fwd_<h>`.
    *
    * rangeBetween on the ms column avoids the reference's bucket-walking
    * range fetch (`utils.py:56-76`) and any join: one shuffle on `parts`,
    * then incremental frame evaluation.
    */
  def horizonStats(
      df: DataFrame,
      parts: Seq[String],
      tsMsCol: String,
      valueCol: String,
      horizonsMs: Seq[Long],
      prefix: String = ""): DataFrame = {
    val base = Window
      .partitionBy(parts.map(col): _*)
      .orderBy(col(tsMsCol))
    val v = col(valueCol)
    val p = if (prefix.isEmpty) "" else s"${prefix}_"
    val named = horizonsMs.flatMap { h =>
      val back = base.rangeBetween(-h, -1)
      val fwd = base.rangeBetween(0, h - 1)
      Seq(
        (sum(v.cast(Exact.SumType)).over(back).cast("double") / count(v).over(back)).as(s"${p}mean_back_$h"),
        min(v).over(back).as(s"${p}min_back_$h"),
        max(v).over(back).as(s"${p}max_back_$h"),
        (sum(v.cast(Exact.SumType)).over(fwd).cast("double") / count(v).over(fwd)).as(s"${p}mean_fwd_$h"),
        min(v).over(fwd).as(s"${p}min_fwd_$h"),
        max(v).over(fwd).as(s"${p}max_fwd_$h"))
    }
    // one projection, not one withColumn (and one re-analysis) per column
    df.select(col("*") +: named: _*)
  }

  /** W6: up-sample by repeating each row `factor` times with a 0-based
    * `rep_idx` column (ref label repeat ×120,
    * `generate_submission.py:179-180`).
    */
  def upsampleRepeat(df: DataFrame, factor: Int, idxCol: String = "rep_idx"): DataFrame =
    df.withColumn(idxCol, explode(sequence(lit(0), lit(factor - 1))))

  /** W12: exponentially weighted moving average with α = 1/2, truncated at
    * `lags` = 32 lookback rows — the smoothing kernel of streaming QoS /
    * sensor pipelines, built CROSS-ENGINE-EXACT: α = 1/2 makes every weight
    * a dyadic power 2^(lags-1-Δ), the value is pre-quantized to an integer
    * (`⌊v·10^6⌋`), and both numerator and weight-mass are pure BIGINT sums,
    * so the result is independent of partitioning and bit-identical in the
    * DuckDB oracle (int64→double and the two closing divisions are single
    * correctly-rounded IEEE ops in both engines).
    *
    * An α-weighted window sum is NOT a window-frame expression (the weight
    * depends on the *distance* between frame row and current row), and a
    * rank-BAND self-join is not the answer either: Spark's sort-merge join
    * matches on the equi-keys only and applies the band residually, so it
    * enumerates Σ n_k²/2 pairs per key — quadratic in series length. The
    * linear shape is a SCATTER: each row explodes into its ≤ `lags`
    * downstream row-slots (an exact `lags`× expansion, in-stage off the
    * scan), one groupBy on (key, target row) folds the weighted sums, and
    * one co-partitioned equi-join back to the real rows drops the phantom
    * slots past each series' end. Two shuffles, zero pair enumeration.
    *
    * Overflow bound: the numerator is < ⌊|v|·10^6⌋ · 2^lags, so at the
    * default lags = 32 the quantized value must stay under 2^31 — i.e.
    * |v| < ~2147 (ANSI mode faults loudly beyond that; lower `lags` or
    * pre-scale wider-range inputs).
    */
  def ewmaDyadic(
      df: DataFrame,
      parts: Seq[String],
      order: Seq[Column],
      valueCol: String,
      carry: Seq[String] = Nil,
      outCol: String = "ewma",
      lags: Int = 32): DataFrame = {
    require(lags >= 1 && lags <= 56, "2^lags · quantized value must fit int64")
    val w = Window.partitionBy(parts.map(col): _*).orderBy(order: _*)
    val q = df
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__vq", floor(col(valueCol) * lit(1e6)).cast("long"))
    // row at rn contributes to target rows rn..rn+lags-1 with weight
    // 2^(lags-1-δ); a shift of a negative __vq is exact ×2^k in two's
    // complement, matching the oracle's multiply
    val contrib = q
      .select(parts.map(col) ++ Seq(col("__rn"), col("__vq")): _*)
      .withColumn("__d", explode(sequence(lit(0), lit(lags - 1))))
      .select(
        parts.map(col) ++ Seq(
          (col("__rn") + col("__d")).as("__trn"),
          expr(s"shiftleft(__vq, CAST(${lags - 1} - __d AS INT))").as("__wv"),
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${lags - 1} - __d AS INT))").as("__w")): _*)
    val sums = contrib
      .groupBy(parts.map(col) :+ col("__trn"): _*)
      .agg(sum(col("__wv")).as("__num"), sum(col("__w")).as("__den"))
      .as("__ws")
    val a = q.as("__wa")
    val joinCond = parts.map(n => col(s"__wa.$n") === col(s"__ws.$n")).reduce(_ && _) &&
      col("__wa.__rn") === col("__ws.__trn")
    val outCols = (parts ++ carry :+ valueCol).distinct.map(n => col(s"__wa.$n"))
    a.join(sums, joinCond)
      .select(outCols :+
        (col("__num").cast("double") / col("__den").cast("double") / lit(1e6)).as(outCol): _*)
  }
}
