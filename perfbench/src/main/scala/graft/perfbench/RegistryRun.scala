package graft.perfbench

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Registry queries (`SparkEntry.queries`) over the sf0.01 tables, in a
  * seeded order, each forced over every output column and checked against
  * its stored row count and order-free hash, followed by the streaming
  * ingest of [[StreamIngest]] over the same `ops.Text` code.
  *
  * One iteration is a pass with a cold `Fits` memo, so every fitted table
  * (profiles, PCA) is fitted inside the query that first needs it, then one
  * ingest. Each query run and the ingest are operations; op latencies are
  * the query times and the micro-batch trigger times. A traced run follows
  * each iteration with a warm pass in the same order, which serves the
  * fits, in a root span of its own; `registry.fit_s` is the cold pass minus
  * the warm one.
  */
final class RegistryRun(dir: String, workDir: String) extends Workload {
  import RegistryRun._
  private val meta: Map[String, String] =
    scala.io.Source.fromFile(s"$dir/meta.txt").getLines()
      .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
  private val tables = meta("tables")
  private val order: Seq[String] = scala.io.Source.fromFile(s"$dir/order.txt").getLines().toSeq
  private val expected: Map[String, Expect] =
    scala.io.Source.fromFile(meta("expected")).getLines().filterNot(_.startsWith("#")).map { l =>
      val a = l.split("\t")
      a(1) -> Expect(a(2).toLong, if (a(3) == "-") None else Some(BigDecimal(a(3))))
    }.toMap
  require(order.forall(expected.contains), "order names a query without an expectation")
  private var cachePeakMb = 0.0

  private val ingest = new StreamIngest(dir, workDir)

  def setup(spark: SparkSession): Unit = ingest.setup(spark)

  /** A cold pass, checked like a timed one. */
  def warmUp(spark: SparkSession, tr: Tracer): Seq[Op] = {
    graft.ops.Fits.reset()
    pass(spark, tr, " (warm-up)")
  }

  /** A cold pass, then one streaming ingest, under one root span; outputs
    * are checked after it closes.
    */
  def iterate(spark: SparkSession, tr: Tracer, i: Int): Iteration = {
    val ((queries, (err, triggers)), root) = tr.span("registry") {
      graft.ops.Fits.reset()
      (pass(spark, tr, ""), ingest.run(spark, tr, i))
    }
    val wrong = err.isEmpty && !ingest.check(spark, i)
    val stream = Op(s"stream ingest $i", 0.0, err.isEmpty && !wrong, wrong,
      err.getOrElse(if (wrong) "survivors differ from the batch answer" else ""))
    val warm = if (tr.on) tr.span(WarmRoot)(pass(spark, tr, Warm))._1 else Nil
    Iteration(root, queries ++ warm :+ stream,
      queries.filter(_.ok).map(_.seconds) ++ (if (stream.ok) triggers else Nil))
  }

  private def pass(spark: SparkSession, tr: Tracer, suffix: String): Seq[Op] =
    order.map { q =>
      val (res, sp) = tr.span(s"${ModuleOf(q)}/$q$suffix") {
        try Right(digest(Queries(q)(spark, tables)))
        catch { case e: Throwable => Left(e.toString.take(300)) }
      }
      if (tr.on) {
        val held = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        cachePeakMb = math.max(cachePeakMb, held / 1e6)
      }
      graft.ops.Caches.releaseAll()
      res match {
        case Left(err) => Op(q + suffix, 0.0, ok = false, wrong = false, err)
        case Right(got) =>
          val exp = expected(q)
          val ok = got._1 == exp.rows && exp.hash.forall(_ == got._2)
          Op(q + suffix, sp.wallS, ok, !ok, if (ok) "" else s"got $got, expected $exp")
      }
    }

  def layers(tr: Tracer, its: Seq[Iteration]): Map[String, Double] = {
    def rootsNamed(n: String) = tr.spans.zipWithIndex.filter(_._1.name == n).map(_._2).toSeq
    val roots = rootsNamed("registry")
    // query spans are named Module/query; the ingest's span is "stream"
    def queries(i: Int) = tr.spans.filter(s => s.parent == i && s.name.contains("/")).toSeq
    val perModule = Modules.map(_._1).flatMap { m =>
      val xs = roots.map { i =>
        val qs = queries(i).filter(_.name.startsWith(s"$m/"))
        val cs = qs.map(tr.counts)
        Seq(qs.map(_.wallS).sum, cs.map(_.cpuS).sum,
          qs.zip(cs).map { case (s, c) => tr.driverS(s, c) }.sum,
          cs.map(_.stages).sum.toDouble, cs.map(_.shuffleMb).sum)
      }
      ModuleMetrics.zipWithIndex.map { case (k, j) => s"registry.$m.$k" -> Main.median(xs.map(_(j))) }
    }
    val rootCounts = its.map(it => tr.counts(it.root))
    perModule.toMap ++ ingest.layers(tr) ++ Map(
      "registry.fit_s" -> Main.median(roots.zip(rootsNamed(WarmRoot)).map { case (cold, warm) =>
        queries(cold).map(_.wallS).sum - queries(warm).map(_.wallS).sum
      }),
      "registry.cache_peak_mb" -> cachePeakMb,
      "registry.gc_s" -> Main.median(rootCounts.map(_.gcS)),
      "registry.spill_mb" -> Main.median(rootCounts.map(_.spillMb)))
  }
}

final case class Expect(rows: Long, hash: Option[BigDecimal])

object RegistryRun {
  val Modules: Seq[(String, Seq[QDef])] = Seq(
    "Relational" -> Relational.defs, "TimeSeries" -> TimeSeries.defs, "Scalers" -> Scalers.defs,
    "DedupQ" -> DedupQ.defs, "TextQ" -> TextQ.defs, "SimilarityQ" -> SimilarityQ.defs,
    "MlQ" -> MlQ.defs, "EventsQ" -> EventsQ.defs, "CurationQ" -> CurationQ.defs)
  val Warm = " (warm)"
  val WarmRoot = "registry-warm"
  val ModuleOf: Map[String, String] = Modules.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap
  val Queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries

  /** Row count and the exact sum of a 64-bit hash of every row (columns
    * taken in name order), so the digest ignores row order but not values,
    * column types or multiplicity.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(df.col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  val ModuleMetrics: Seq[String] = Seq("wall_s", "cpu_s", "driver_s", "stages", "shuffle_mb")
  val layerNames: Seq[String] =
    (for (m <- Modules.map(_._1); k <- ModuleMetrics) yield s"registry.$m.$k") ++
      Seq("registry.fit_s", "registry.cache_peak_mb", "registry.gc_s", "registry.spill_mb")
}
