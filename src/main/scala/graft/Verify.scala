package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump (and emit
    // oracle SQL for) just those, for fast iteration on a new operator
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2)
    val selected = SparkEntry.select(only)
    val spark = Session.local()
    // both flagships smoke-checked up front (the driver's entry contract):
    // a broken events OR documents table fails loudly here, before the
    // full dump burns an hour. Skipped under a query filter (fast-iteration
    // path) — the full gate is what the driver runs.
    if (only.isEmpty) {
      require(SparkEntry.entry(spark).count() > 0, "entry() returned 0 rows")
      require(SparkEntry.entryDocs(spark).count() > 0, "entryDocs() returned 0 rows")
      graft.ops.Caches.releaseAll()
    }
    new java.io.File(outDir).mkdirs()
    // a thrown query must surface as a red row in the round artifacts, never
    // a silent omission: round 7's events-schema drift erased 42 queries
    // from CORRECTNESS because failures only went to stderr. _failed.json
    // (query → error) is written even when empty so its absence is itself a
    // signal that Verify died before finishing.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failed(name) = msg.take(500)
        System.err.println(s"[verify] $name failed: $msg")
      }
      // several operators persist intermediates (dedup, the IVF fit); do not
      // let 60+ queries' worth of cached blocks pile up in this one session
      graft.ops.Caches.releaseAll()
    }
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    val names = selected.map(_._1).toSet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter(kv => names(kv._1))))
    Files.writeString(Paths.get(s"$outDir/_failed.json"), obj(failed))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }

  /** JSON string literal for Verify's and Bench's artifacts: escapes
    * backslash, quote and ALL control chars (<0x20) — a tab or CR in
    * oracle SQL would otherwise make a reader's json.load fail and
    * silently zero the correctness check.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
