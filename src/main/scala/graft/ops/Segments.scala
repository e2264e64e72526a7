package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval/segment operators (SURVEY §2.5, W5 + W9).
  *
  * W5: interval → grid expansion — each labeled interval [start, end] emits
  * one row per `step` grid point (ref `/root/reference/load_data.py:34-42`,
  * label smearing onto the 200 ms window grid).
  *
  * W9: run-length encoding (gaps-and-islands) — collapse an ordered labeled
  * series into (key, start, end, label) segments each time the label changes
  * (ref `/root/reference/generate_submission.py:522-562`).
  *
  * Both are pure window/generator SQL: `explode(sequence(...))` is Spark's
  * Generator path (no UDTF needed), the islands trick is two window
  * functions + a groupBy — each a single shuffle on the entity keys.
  */
object Segments {

  /** W5: expand [startMs, endMs] intervals onto a step grid. Emits one row
    * per grid point g with fromStart <= g <= endMs, g = k*step. The
    * reference's loop `while win_end < end*1000: emit; win_end += step`
    * starting from the previous interval's cursor is its cumulative variant;
    * this operator exposes the general per-interval form with inclusive /
    * exclusive end handled by the caller via endMs adjustment.
    */
  def intervalToGrid(
      df: DataFrame,
      startMsCol: String,
      endMsCol: String,
      stepMs: Long,
      gridCol: String = "grid_ms"): DataFrame = {
    // first grid point strictly inside: ceil(start/step)*step
    val first = ceil(col(startMsCol).cast("double") / stepMs).cast("long") * stepMs
    val last = (col(endMsCol) / stepMs).cast("long") * stepMs
    // sequence() raises on first > last; an interval shorter than one step
    // contains no grid point and must simply emit no rows (explode of the
    // empty array), matching the reference's while-loop doing zero turns.
    df.withColumn(
      gridCol,
      explode(
        when(first <= last, sequence(first, last, lit(stepMs)))
          .otherwise(array().cast("array<long>"))))
  }

  /** W9: run-length encode `labelCol` over rows ordered by `orderCol` within
    * `parts`. Returns one row per constant-label run with:
    * seg_start = first orderCol of the run, seg_end = orderCol of the first
    * row AFTER the run (end-exclusive, like the reference's segment `end`),
    * with the final run's end = last orderCol in the partition (the
    * reference's closing flush, `generate_submission.py:539-540`), plus
    * seg_len = number of rows.
    *
    * Classic islands: change flag via lag, running sum → segment id, groupBy.
    */
  def runLengthEncode(
      df: DataFrame,
      parts: Seq[String],
      orderCol: String,
      labelCol: String): DataFrame = {
    val w = Window.partitionBy(parts.map(col): _*).orderBy(col(orderCol))
    val chg = when(
      lag(col(labelCol), 1).over(w).isNull ||
        lag(col(labelCol), 1).over(w) =!= col(labelCol),
      1).otherwise(0)
    val withSeg = df
      .withColumn("__chg", chg)
      .withColumn("__seg", sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__next", lead(col(orderCol), 1).over(w))
      .withColumn("__last", max(col(orderCol)).over(Window.partitionBy(parts.map(col): _*)))
    withSeg
      .groupBy((parts.map(col) :+ col("__seg") :+ col(labelCol)): _*)
      .agg(
        min(col(orderCol)).as("seg_start"),
        max(coalesce(col("__next"), col("__last"))).as("seg_end"),
        count(lit(1)).as("seg_len"))
      .drop("__seg")
  }

  /** Gap-based sessionization: a new session starts at every row whose
    * time gap to the previous row (same key, `order` total order) exceeds
    * `gapUs` — the classic events → sessions boundary rule. Appends a
    * 0-based `session_idx` per key; callers aggregate to session grain
    * (count/min/max) or keep the row-level label for downstream joins.
    *
    * Scale shape: identical to [[runLengthEncode]] — one shuffle on the
    * keys, two window functions (lag + running sum), no self-join and no
    * per-session materialization. All arithmetic integral (µs), so results
    * are engine- and partition-count-independent.
    */
  def gapSessions(
      df: DataFrame,
      parts: Seq[String],
      tsCol: String,
      gapUs: Long,
      order: Seq[Column] = Nil,
      idxCol: String = "session_idx"): DataFrame = {
    require(gapUs > 0, "gapUs must be positive")
    val ord = if (order.isEmpty) Seq(col(tsCol)) else order
    val w = Window.partitionBy(parts.map(col): _*).orderBy(ord: _*)
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull || col(tsCol) - prev > gapUs, 1L).otherwise(0L)
    df.withColumn(
      idxCol,
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
  }

  /** Oracle twin of [[gapSessions]] over an events-shaped relation `src`
    * ordered by (ts_us, event_id): CTEs `b` (the new-session flag `chg`)
    * and `sx` (every `b` row with its 0-based BIGINT `session_idx`). `b`
    * keeps `parts`, event_id, ts_us and `carry`.
    */
  def gapSessionsSql(src: String, parts: Seq[String], gapUs: Long, carry: Seq[String] = Nil): String = {
    val keys = parts.mkString(", ")
    s"""b AS (SELECT $keys, event_id, ts_us${carry.map(c => s", $c").mkString},
           CASE WHEN lag(ts_us) OVER w IS NULL
                  OR ts_us - lag(ts_us) OVER w > $gapUs THEN 1 ELSE 0 END AS chg
         FROM $src WINDOW w AS (PARTITION BY $keys ORDER BY ts_us, event_id)),
       sx AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY $keys
                ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
              FROM b)"""
  }

  /** Generated dense grid of buckets per key over [minMs, maxMs] — the
    * padding lattice for J3-style out-of-range handling (every window must
    * exist even where no samples fell; ref `utils.py:66-73`).
    * `bounds` must have one row per key with minMs/maxMs columns.
    */
  def bucketGrid(
      bounds: DataFrame,
      keyCols: Seq[String],
      minMsCol: String,
      maxMsCol: String,
      stepMs: Long,
      gridCol: String = "bucket"): DataFrame = {
    val first = (col(minMsCol) / stepMs).cast("long") * stepMs
    val last = (col(maxMsCol) / stepMs).cast("long") * stepMs
    bounds.select(
      (keyCols.map(col) :+ explode(sequence(first, last, lit(stepMs))).as(gridCol)): _*)
  }

  /** Sweep-line peak concurrency per key: the maximum number of intervals
    * alive at once, and the earliest instant it is reached — "peak
    * concurrent sessions/viewers/connections", the classic +1/−1 scatter
    * + running sum that a self-join-per-overlap would compute
    * quadratically.
    *
    * Each interval [start, end] scatters a (+1 @ start) and a (−1 @ end)
    * delta; deltas order by (ts, delta DESC, tiebreak...) — +1 before −1
    * at the same instant, so closed intervals touching at a point COUNT
    * as concurrent (the inclusive convention; the caller's `tiebreak`
    * must make the order total or peak_ts loses cross-engine
    * determinism). The running sum is [[Windows.chunkedScan]] — the
    * two-phase distributed scan, so a key with billions of intervals
    * never sorts through one task — and the argmax is two-phased the same
    * way (chunk champions, then the sub-linear pick; max-concurrency
    * first, earliest index as tiebreak). Output: keys, `peak` (BIGINT),
    * `peak_ts` (the `startCol`-typed instant the peak is first reached).
    * All arithmetic integral — engine-exact. Interval bounds must be
    * integral (`chunkWidth` buckets the scan by `ts DIV chunkWidth`).
    */
  def peakConcurrency(
      intervals: DataFrame,
      keys: Seq[String],
      startCol: String,
      endCol: String,
      chunkWidth: Long,
      tiebreak: Seq[Column] = Seq.empty): DataFrame = {
    require(chunkWidth > 0, "chunkWidth must be positive")
    val chunk = expr(s"__ts DIV $chunkWidth")
    val kCols = keys.map(col)
    val carryT = tiebreak.zipWithIndex.map { case (c, i) => c.as(s"__tb$i") }
    val tbCols = tiebreak.indices.map(i => col(s"__tb$i"))
    def side(tsCol: String, delta: Long) =
      intervals.select(
        kCols ++ Seq(col(tsCol).as("__ts"), lit(delta).as("__delta")) ++ carryT: _*)
    val deltas = side(startCol, 1L).unionByName(side(endCol, -1L))
    val ord = Seq(col("__ts"), col("__delta").desc) ++ tbCols
    val scanned = Segments.scanForPeak(deltas, keys, ord, chunk)
    val wTopLoc = Window.partitionBy(kCols :+ col("__chk"): _*)
      .orderBy(col("__s").desc, col("__i"))
    val wTop = Window.partitionBy(kCols: _*).orderBy(col("__s").desc, col("__i"))
    scanned
      .withColumn("__rnl", row_number().over(wTopLoc))
      .filter(col("__rnl") === 1)
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1)
      .select(kCols ++ Seq(col("__s").as("peak"), col("__ts").as("peak_ts")): _*)
  }

  /** [[Windows.chunkedScan]] plus the re-derived chunk column the
    * two-phase argmax partitions on.
    */
  private def scanForPeak(
      deltas: DataFrame,
      keys: Seq[String],
      ord: Seq[Column],
      chunk: Column): DataFrame =
    Windows.chunkedScan(deltas, keys, ord, "__delta", chunk)
      .withColumn("__chk", chunk)
}
