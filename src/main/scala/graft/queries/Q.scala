package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered engine query: the Spark implementation plus (where
  * SQL-expressible) the DuckDB oracle the driver hash-compares against.
  *
  * Cross-engine determinism rules every QDef follows (see [[graft.ops.Exact]]):
  *   - floating-point aggregation goes through exact DECIMAL sums of RAW
  *     columns (or single products of raw columns) — never re-quantize a
  *     derived quotient;
  *   - timestamps leave the result as `epoch_us` BIGINT (`unix_micros` /
  *     `epoch_us` agree; the events table has µs precision, no sub-µs);
  *   - every ranked/top-k output carries a total tiebreak order;
  *   - DuckDB `sum(BIGINT)` is HUGEINT and `floor()` is DECIMAL — oracle SQL
  *     casts both to BIGINT; DuckDB numeric literals are DECIMAL — oracle SQL
  *     casts fractional literals to DOUBLE before arithmetic;
  *   - column names match exactly between the Spark result and the oracle
  *     (the driver sorts columns by name before hashing).
  */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  /** Parquet table in the driver layout. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events with the canonical BIGINT µs time key.
    *
    * The driver has shipped events.ts in three shapes across rounds; all
    * three are accepted and produce identical `ts_us` (pinned by
    * `EventsSchemaSpec`):
    *   - TIMESTAMP(NANOS): Spark 4 only reads it with
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (`graft.Session`
    *     sets it) — ts arrives as a nanos BIGINT and the
    *     µs key is an integer DIV (ns magnitudes exceed 2^53, so double
    *     division would corrupt);
    *   - TIMESTAMP (µs, with tz): `unix_micros` is exact — the data has no
    *     sub-µs precision;
    *   - TIMESTAMP_NTZ (µs, no tz — the shape since round 7's regen):
    *     `unix_micros` rejects NTZ at analysis time, so cast to TIMESTAMP
    *     first. The cast interprets the naive value in the SESSION timezone,
    *     so callers must pin `spark.sql.session.timeZone=UTC`
    *     (`graft.Session` does) — then it matches the oracle's `epoch_us(ts)`,
    *     which also treats naive timestamps as UTC.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    raw.withColumn("ts_us", tsUs)
  }

  /** Oracle-side fragment matching [[events]]: a CTE body. */
  val evSql = "SELECT epoch_us(ts) AS ts_us, event_id, user_id, event_type, value FROM events"

  val usPerHour: Long = 3600L * 1000000L
  val usPerDay: Long = 24L * usPerHour

  /** The corpus language-profile table (|langs|·20 rows, bounded),
    * fitted ONCE per dataset dir and memoized ([[graft.ops.Fits]]) — seven
    * registry sites (t3, m11/m13/m12-family, t15-entropy, cur_funnel,
    * cur_funnel_summary) previously each refit it with a full corpus-bag
    * aggregation; the collected table is strings only, so serving it back
    * through `Text.languageScoresWith` is trivially bit-identical.
    */
  def langProfiles(s: SparkSession, d: String): Seq[(String, Seq[String])] =
    graft.ops.Fits.memo(d, "langprof:lang:20") {
      graft.ops.Text.languageProfiles(t(s, d, "documents"), "doc_id", "text", "lang", 20)
    }
}
