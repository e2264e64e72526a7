package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Missing-value handling (SURVEY §2.2, P9-P11).
  *
  * The one genuinely custom composite operator: linear interpolation of NULL
  * runs, the Spark equivalent of the reference's
  * `df.interpolate(method="linear", axis=0).fillna(0)`
  * (`/root/reference/load_data.py:95,171`). pandas semantics replicated
  * exactly (SURVEY §7.4):
  *   - interior NULL runs: linear between the surrounding known points;
  *   - trailing NULLs: forward-filled with the last known value;
  *   - leading NULLs: left NULL by interpolate, then the chained `.fillna(0)`
  *     turns them into 0 — exposed here as [[interpolateThenZero]].
  *
  * Implementation is pure window expressions, no join, no UDF: per column a
  * running `last(…, ignoreNulls)` frame for the previous known point and a
  * frameless `lead(…, ignoreNulls)` for the next one. Spark's frameless
  * offset frame keeps one forward cursor to the next non-NULL row, so both
  * halves are O(n) per series. Every window function shares one
  * partition/order spec (a column's four sit in one `WindowExec`): one
  * shuffle on `parts`, one sort. Nothing is collected per group.
  */
object Cleaning {

  /** P9: fill NULLs with a constant. */
  def fillConstant(df: DataFrame, cols: Seq[String], v: Double): DataFrame =
    df.na.fill(v, cols)

  /** P11: NaN and NULL → 0 (ref `np.nan_to_num`,
    * `generate_submission.py:36,373,466`).
    */
  def nanToZero(c: Column): Column = coalesce(nanvl(c, lit(0.0)), lit(0.0))

  /** P10: linear interpolation of NULL runs in `valueCols`, ordered by
    * `xCol` within `parts`. `xCol` is the interpolation abscissa: pass a
    * row-position column for pandas' index-linear semantics, or a timestamp
    * (ms) column for time-weighted interpolation.
    */
  def interpolateLinear(
      df: DataFrame,
      parts: Seq[String],
      xCol: String,
      valueCols: Seq[String]): DataFrame = {
    val ordered = Window.partitionBy(parts.map(col): _*).orderBy(col(xCol))
    val back = ordered.rowsBetween(Window.unboundedPreceding, 0)
    valueCols.foldLeft(df) { (d, c) =>
      val v = col(c)
      val x = col(xCol).cast("double")
      val knownX = when(v.isNotNull, x)
      val prevV = last(v, ignoreNulls = true).over(back)
      val prevX = last(knownX, ignoreNulls = true).over(back)
      // on a NULL row the next non-NULL after it is the first non-NULL at or
      // after it; a known row never reads these (it keeps `v`)
      val nextV = lead(v, 1, null, ignoreNulls = true).over(ordered)
      val nextX = lead(knownX, 1, null, ignoreNulls = true).over(ordered)
      val interp = when(v.isNotNull, v)
        .when(prevV.isNull, lit(null).cast("double")) // leading run: stays NULL
        .when(nextV.isNull, prevV) // trailing run: forward fill
        .otherwise(prevV + (nextV - prevV) * (x - prevX) / (nextX - prevX))
      d.withColumn(c, interp)
    }
  }

  /** Winsorization — clamp values into their group's [qLo, qHi] quantile
    * band, the robust-preprocessing transform that tames heavy tails
    * without dropping rows (outlier screens like [[Stats.zOutliers]] /
    * [[Stats.madOutliers]] FLAG; this REPAIRS). Quantiles come from the
    * two-phase [[Stats.exactQuantiles]], pivoted to (lo, hi) in one pass;
    * the clamp is `least(greatest(x, lo), hi)` — two correctly-rounded
    * comparisons, engine-exact. NULL values stay NULL.
    *
    * Scale shape: one two-phase quantile pass + one co-partitioned join
    * back (the per-group band frame is group-cardinality-sized — AQE
    * broadcasts it).
    */
  def winsorize(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      qLo: Double,
      qHi: Double,
      outCol: String = "winsorized"): DataFrame = {
    require(0 < qLo && qLo < qHi && qHi <= 1, s"need 0 < qLo < qHi <= 1, got ($qLo, $qHi)")
    val band = Stats.exactQuantiles(df, keys, valueCol, Seq(qLo, qHi))
      .groupBy(keys.map(col): _*)
      .agg(
        min(when(col("q") === qLo, col("q_value"))).as("__wlo"),
        min(when(col("q") === qHi, col("q_value"))).as("__whi"))
    df.join(band, keys)
      // explicit NULL guard: Spark's (and DuckDB's) least/greatest SKIP
      // null arguments, so a bare clamp would resurrect NULL values as lo
      .withColumn(
        outCol,
        when(col(valueCol).isNull, lit(null).cast("double"))
          .otherwise(least(greatest(col(valueCol), col("__wlo")), col("__whi"))))
      .drop("__wlo", "__whi")
  }

  /** The reference's exact chain: interpolate, then fill remaining (leading)
    * NULLs with 0 (ref `load_data.py:95`).
    */
  def interpolateThenZero(
      df: DataFrame,
      parts: Seq[String],
      xCol: String,
      valueCols: Seq[String]): DataFrame =
    fillConstant(interpolateLinear(df, parts, xCol, valueCols), valueCols, 0.0)
}
