package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 (plus the dedup / similarity / text
  * extensions) is registered as a named query over the driver's parquet
  * tables; each SQL-expressible one carries a DuckDB oracle that
  * hash-matches bit-for-bit (determinism strategy in [[graft.queries.QDef]]).
  */
object SparkEntry {
  private val all: Seq[QDef] =
    Relational.defs ++ TimeSeries.defs ++ Scalers.defs ++
      DedupQ.defs ++ TextQ.defs ++ SimilarityQ.defs ++ MlQ.defs ++
      EventsQ.defs ++ CurationQ.defs

  require(all.map(_.name).distinct.size == all.size, "duplicate query names")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * per-user hourly tumbling aggregation over events (W1 + A3/A4). Runs on
    * the caller's session, so it [[Session.configure]]s it first.
    */
  def entry(spark: SparkSession): DataFrame = {
    Session.configure(spark)
    queries("w1_tumble_agg")(spark, "/root/testdata/sf0.001")
  }

  /** Second flagship, on the `documents` table — mirrors [[entry]]'s role
    * for the text side (cheap insurance against a driver smoke-check of a
    * non-events table, the way round 7's regen hit events): per-document
    * token/quality statistics (t1). Configures the session like entry.
    */
  def entryDocs(spark: SparkSession): DataFrame = {
    Session.configure(spark)
    queries("t1_token_stats")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** The `(name, fn)` pairs a comma list of query names selects, in name
    * order — every query when `names` is None. Blanks are ignored; an
    * unknown name or a list with no names fails loudly, since either would
    * otherwise run an empty selection that reads as a result.
    */
  def select(names: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val wanted = names.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    require(wanted.forall(_.nonEmpty), s"no query names in '${names.getOrElse("")}'")
    val unknown = wanted.getOrElse(Set.empty) -- queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    queries.toSeq.filter(q => wanted.forall(_(q._1))).sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
