package graft.perfbench

import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One measured operation: `ok` is false when it threw or its output failed
  * the workload's check; a failed operation never contributes a timing.
  */
final case class Op(name: String, seconds: Double, ok: Boolean, wrong: Boolean, err: String)

/** What one iteration of a workload's closed loop reports. `latencies` are
  * the per-operation times that feed op_p50_s/op_p90_s (a fold, a query or a
  * micro-batch trigger); `root` is the iteration's span.
  */
final case class Iteration(root: Span, ops: Seq[Op], latencies: Seq[Double])

/** A workload: set up once per session, warm up once, then iterate until
  * the deadline. Per-layer metrics are read from the tracer's spans after
  * the loop.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** One untimed pass over the workload's code before the closed loop, so
    * the timed iterations run with compiled code and not through the JIT's
    * warm-up; returns its operations, which count as attempted.
    */
  def warmUp(spark: SparkSession, tr: Tracer): Seq[Op]
  def iterate(spark: SparkSession, tr: Tracer, i: Int): Iteration
  /** Per-layer metrics of this workload from a traced run. */
  def layers(tr: Tracer, its: Seq[Iteration]): Map[String, Double]
}

/** Benchmark entry point: `Main <workload> <inputDir> <seconds> <trace 0|1> <workDir>`.
  * Prints one JSON result object as the last stdout line; with trace on it
  * also writes the spans and their counts to `<workDir>/trace.json`.
  */
object Main {
  /** Every per-layer metric of every workload: a traced run reports all of
    * them, and a layer the workload never enters reads 0.
    */
  val allLayers: Seq[String] = BbdcRun.layerNames ++ RegistryRun.layerNames ++ StreamIngest.layerNames ++
    Seq("bbdc", "registry").map(w => s"$w.tasks_failed")

  def session(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Engine warm-up, graft.Bench's at a tenth of the rows: codegen,
    * aggregation and window paths are compiled once before anything is timed.
    */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(200000L).selectExpr("sum(id * 2)").collect()
    spark.range(20000L).selectExpr("id", "id % 97 AS k")
      .selectExpr(
        "k",
        "sum(id) OVER (PARTITION BY k ORDER BY id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w",
        "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .selectExpr("max(w + rn)").collect()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis quantile: the mean of all order statistics weighted by a
    * Beta((n+1)q, (n+1)(1-q)) distribution. On a dozen or so unlike samples
    * (queries and micro-batches) it moves smoothly as they move,
    * where one interpolated order statistic jumps between neighbours.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n == 1) s.head
    else {
      val beta = new BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def json(m: Map[String, (Double, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    require(args.length == 5, "usage: Main <workload> <inputDir> <seconds> <trace 0|1> <workDir>")
    val Array(wname, inputDir, secondsArg, traceArg, workDir) = args
    val seconds = secondsArg.toInt
    val traced = traceArg == "1"
    val w: Workload = wname match {
      case "bbdc" => new BbdcRun(inputDir)
      case "registry" => new RegistryRun(inputDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up is repeated three times and reported as the median: the first
    // counts from JVM start and builds the SparkContext; the others open a
    // new session on it. Each warms the engine up and runs the workload's
    // own set-up, so work a change moves into set-up shows on every sample.
    val base = session(workDir)
    var spark: SparkSession = null
    val setups = (0 until 3).map { i =>
      val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis()
      spark = if (i == 0) base else base.newSession()
      warmUp(spark)
      w.setup(spark)
      (System.currentTimeMillis() - t0) / 1e3
    }

    val tel = new Telemetry
    tel.install(spark)
    val w0 = System.nanoTime()
    val warmOps = w.warmUp(spark, new Tracer(false, spark, tel, "warm-up"))
    System.err.println(f"[perfbench] warm-up took ${(System.nanoTime() - w0) / 1e9}%.2f s")
    val tr = new Tracer(traced, spark, tel, s"$wname-${System.currentTimeMillis()}")
    val its = ArrayBuffer.empty[Iteration]
    val deadline = System.nanoTime() + seconds * 1000000000L
    var last = 0L
    // closed loop, one client: the next iteration starts only if it is
    // expected to finish before the deadline; there is always at least one
    val loopStart = System.nanoTime()
    do {
      val t0 = System.nanoTime()
      its += w.iterate(spark, tr, its.size)
      last = System.nanoTime() - t0
      System.err.println(f"[perfbench] iteration ${its.size - 1} took ${last / 1e9}%.2f s")
    } while (System.nanoTime() + last <= deadline)
    tr.drain()
    System.err.println(f"[perfbench] set-ups ${setups.mkString(" ")} s; ${its.size} iterations in " +
      f"${(System.nanoTime() - loopStart) / 1e9}%.1f s")

    val ops = warmOps ++ its.flatMap(_.ops)
    val failed = ops.count(!_.ok)
    val wrong = ops.exists(_.wrong)
    ops.filter(!_.ok).foreach(o => System.err.println(s"[perfbench] FAILED ${o.name}: ${o.err}"))
    val good = its.filter(_.ops.forall(_.ok)).toSeq
    val metrics: Map[String, (Double, String)] =
      if (!traced) {
        val lat = good.flatMap(_.latencies)
        def q(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else quantile(xs, p)
        def hd(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else hdQuantile(xs, p)
        Map(
          "setup_s" -> ((median(setups), "s")),
          "wall_s" -> ((q(good.map(_.root.wallS), 0.5), "s")),
          "cpu_s" -> ((q(good.map(it => tr.counts(it.root).cpuS), 0.5), "s")),
          "op_p50_s" -> ((hd(lat, 0.5), "s")),
          "op_p90_s" -> ((hd(lat, 0.9), "s")),
          "peak_rss_mb" -> ((peakRssMb(), "MB")))
      } else {
        val own = w.layers(tr, good) +
          (s"$wname.tasks_failed" -> its.map(it => tr.counts(it.root).tasksFailed.toDouble).sum)
        allLayers.map { k =>
          val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count"
          k -> ((own.getOrElse(k, 0.0), unit))
        }.toMap
      }
    if (traced) Files.writeString(Paths.get(s"$workDir/trace.json"), traceJson(tr))
    val correct = !wrong && good.nonEmpty
    spark.stop()
    println(s"""{"correct": $correct, "attempted": ${ops.size}, "failed": $failed, "metrics": ${json(metrics)}}""")
  }

  /** Spans with their counts and self times, plus, per iteration, the self
    * times of the root's children and the gap they leave unattributed.
    */
  def traceJson(tr: Tracer): String = {
    val spans = tr.spans.zipWithIndex.map { case (s, i) =>
      val c = tr.counts(s)
      s"""{"id": $i, "name": "${esc(s.name)}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""parent": ${s.parent}, "run": "${esc(s.run)}", "wall_s": ${s.wallS}, "self_s": ${tr.selfS(i)}, """ +
        s""""cpu_s": ${c.cpuS}, "driver_s": ${tr.driverS(s, c)}, "stages": ${c.stages}, """ +
        s""""shuffle_mb": ${c.shuffleMb}, "spill_mb": ${c.spillMb}, "gc_s": ${c.gcS}, """ +
        s""""max_task_s": ${c.maxTaskS}, "tasks_failed": ${c.tasksFailed}}"""
    }
    val roots = tr.spans.zipWithIndex.filter(_._1.parent == -1).map { case (r, i) =>
      val kids = tr.spans.zipWithIndex.filter(_._1.parent == i)
      val self = kids.map { case (k, j) => s"""["${esc(k.name)}", ${tr.selfS(j)}]""" }
      // children may repeat a name (one span per query or fold), so the
      // list keeps each child; the gap is the root's time no child covers
      s"""{"span": $i, "name": "${esc(r.name)}", "wall_s": ${r.wallS}, """ +
        s""""top_level_self_s": [${self.mkString(", ")}], "unattributed_s": ${tr.selfS(i)}}"""
    }
    s"""{"run": "${esc(tr.run)}", "spans": [${spans.mkString(",\n")}],\n"roots": [${roots.mkString(",\n")}]}"""
  }
}
