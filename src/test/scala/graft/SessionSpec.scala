package graft

import org.apache.spark.sql.classic

/** The shared session setup ([[Session]]), the registry's query selector
  * ([[SparkEntry.select]]) and the cache release ([[graft.ops.Caches]]).
  */
class SessionSpec extends SparkSpec {
  private val confs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  test("configure sets both confs on a session that lacks them, and is idempotent") {
    val fresh = spark.newSession()
    confs.foreach { case (k, _) => fresh.conf.unset(k) }
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
    Session.configure(fresh)
    confs.foreach { case (k, v) => assert(fresh.conf.get(k) == v, k) }
    val once = fresh.conf.getAll
    Session.configure(fresh)
    assert(fresh.conf.getAll == once)
  }

  test("entry and entryDocs return rows on an unconfigured session") {
    val fresh = spark.newSession()
    confs.foreach { case (k, _) => fresh.conf.unset(k) }
    assert(SparkEntry.entry(fresh).count() > 0)
    assert(SparkEntry.entryDocs(fresh).count() > 0)
    confs.foreach { case (k, v) => assert(fresh.conf.get(k) == v, k) }
  }

  test("select rejects an unknown name, naming it, and a list with no names") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("w1_tumble_agg,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("w1_tumble_agg"))
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }

  test("select ignores blanks and returns the pairs in name order") {
    assert(SparkEntry.select(Some(" w1_tumble_agg, ,t1_token_stats,")).map(_._1) ==
      Seq("t1_token_stats", "w1_tumble_agg"))
    val all = SparkEntry.select(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("releaseAll empties Spark's cache manager after a persisting query") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_session").toString
    Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "u v w x y z"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    SparkEntry.queries("d3_minhash_lsh")(spark, dir).collect()
    assert(!cacheManager.isEmpty, "d3_minhash_lsh persists its LSH members")
    graft.ops.Caches.releaseAll()
    assert(cacheManager.isEmpty)
  }
}
