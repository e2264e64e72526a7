package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is set up: every main and both test
  * harnesses build theirs with [[local]], and `SparkEntry.entry` /
  * `entryDocs` run [[configure]] on whatever session they are handed.
  */
object Session {

  /** Sets the two confs every graft session needs and returns the session.
    * events.ts has shipped as TIMESTAMP(NANOS), TIMESTAMP and (currently)
    * TIMESTAMP_NTZ across testdata regenerations — `Q.events` handles all
    * three, but needs the legacy conf for the nanos shape and a UTC session
    * timezone for the NTZ→TIMESTAMP cast to match the oracle's epoch_us.
    * Idempotent; a session that refuses a runtime conf set keeps its own
    * value.
    */
  def configure(spark: SparkSession): SparkSession = {
    Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    ).foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: Throwable => () }
    }
    spark
  }

  /** A `local[cpus]` session with one shuffle partition per core, no UI and
    * WARN logging, then [[configure]]d. `SPARK_GRAFT_CPUS` sets the mains'
    * core count (default 4); `getOrCreate` returns the JVM's live session
    * when there is one.
    */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }
}
