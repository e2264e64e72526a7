package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable.ArrayBuffer

/** Everything the listener buses report, kept in memory for the whole run
  * and sliced by time afterwards: a span's counts are the events that
  * finished inside it. Timestamps are epoch milliseconds, as Spark stamps
  * its events.
  */
final class Telemetry extends SparkListener {
  final case class Task(endMs: Long, durMs: Long, cpuNs: Long, shuffleBytes: Long,
      spillBytes: Long, gcMs: Long, failed: Boolean)
  final case class Job(startMs: Long, var endMs: Long)

  private val tasks = ArrayBuffer.empty[Task]
  private val stageEnds = ArrayBuffer.empty[Long]
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null) Task(info.finishTime, info.duration, 0L, 0L, 0L, 0L, info.failed)
      else Task(info.finishTime, info.duration, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime, info.failed || info.killed))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, Long.MaxValue)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Telemetry.this.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streaming)
  }

  /** Counts over [fromMs, toMs]; call after [[org.apache.spark.BusDrain]]. */
  def window(fromMs: Long, toMs: Long): Counts = synchronized {
    val ts = tasks.filter(t => t.endMs >= fromMs && t.endMs <= toMs)
    // time covered by running jobs, clipped to the window (jobs run
    // concurrently, e.g. the ensemble's parallel fits, so merge intervals)
    val ivs = jobs.values.toSeq
      .map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    Counts(
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      stages = stageEnds.count(t => t >= fromMs && t <= toMs),
      shuffleMb = ts.map(_.shuffleBytes).sum / 1e6,
      spillMb = ts.map(_.spillBytes).sum / 1e6,
      gcS = ts.map(_.gcMs).sum / 1e3,
      maxTaskS = if (ts.isEmpty) 0.0 else ts.map(_.durMs).max / 1e3,
      jobS = covered / 1e3,
      tasksFailed = ts.count(_.failed))
  }

  def progressSince(n: Int): Seq[StreamingQueryProgress] = synchronized(progress.drop(n).toSeq)
}

final case class Counts(cpuS: Double, stages: Int, shuffleMb: Double, spillMb: Double,
    gcS: Double, maxTaskS: Double, jobS: Double, tasksFailed: Int)

/** A timed interval around one call into the engine. `parent` is the index
  * of the enclosing span (-1 for the workload's root span).
  */
final case class Span(name: String, startMs: Long, endMs: Long, startNs: Long, endNs: Long,
    parent: Int, run: String) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans when tracing is on; always times the closure. Spans are
  * kept in memory and written once by [[Main]] when the run ends.
  */
final class Tracer(val on: Boolean, spark: SparkSession, val tel: Telemetry, val run: String) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Int] = Nil

  /** Runs `body` as span `name`; returns its result and the span. Spark
    * stamps task and job events with their own end times, so the bus need
    * not be drained before the span closes.
    */
  def span[A](name: String)(body: => A): (A, Span) = {
    val idx = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val s0 = Span(name, System.currentTimeMillis(), 0L, System.nanoTime(), 0L, parent, run)
    if (on) { spans += s0; stack = idx :: stack }
    def close(): Span = {
      val done = s0.copy(endMs = System.currentTimeMillis(), endNs = System.nanoTime())
      if (on) spans(idx) = done
      done
    }
    try {
      val out = body
      (out, close())
    } catch { case e: Throwable => close(); throw e }
    finally if (on) stack = stack.tail
  }

  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  /** Counts of a finished span, with driver time = wall minus job time. */
  def counts(s: Span): Counts = tel.window(s.startMs, s.endMs)
  def driverS(s: Span, c: Counts): Double = math.max(0.0, s.wallS - c.jobS)

  /** Self time of span i: its wall time minus the time its children cover
    * (children of one parent run one after another).
    */
  def selfS(i: Int): Double =
    spans(i).wallS - spans.iterator.filter(_.parent == i).map(_.wallS).sum
}
