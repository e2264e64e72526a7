package graft.perfbench

import graft.pipeline.Bbdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The paper's whole program on generated BBDC-shaped recordings (labels,
  * 600 Hz EMG, 100 Hz mocap; see gen.py): targets → clean → repair →
  * features → per arm, train on all subjects but the last and predict the
  * last one's segments.
  *
  * One iteration is one pass from the raw files to the collected segments
  * of both arms. Each stage is materialised inside its own span so its work
  * lands there; the untraced run does the same, only without recording
  * spans. A pass counts as one operation; op latencies are the per-arm
  * train/predict/segment calls.
  */
final class BbdcRun(dir: String) extends Workload {
  import BbdcRun._
  private val name = "bbdc"
  private val meta: Map[String, String] =
    scala.io.Source.fromFile(s"$dir/meta.txt").getLines()
      .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
  private val subjects = meta("subjects").split(",").toSeq
  private val broken = meta("broken_channel")
  private val fixSubjects = meta("broken_subjects").split(",").toSeq

  def setup(spark: SparkSession): Unit = ()

  /** None. Its two largest stages, the per-series cleaning and the
    * ensemble's few hundred small stages, are about as fast on a warm JVM:
    * on a 4-core VM, a warm-up pass over small recordings (21-25 s) or of
    * the cleaning stage alone (4 s) made the timed pass neither much faster
    * nor steadier.
    */
  def warmUp(spark: SparkSession, tr: Tracer): Seq[Op] = Nil

  def iterate(spark: SparkSession, tr: Tracer, i: Int): Iteration = {
    val labels = spark.read.parquet(s"$dir/labels.parquet")
    val emg = spark.read.parquet(s"$dir/emg.parquet")
    val mocap = spark.read.parquet(s"$dir/mocap.parquet")
    // each stage is computed inside its span and its lineage cut, so a later
    // stage neither recomputes nor re-analyses the stages before it
    def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val folds = ArrayBuffer.empty[Double]
    try {
      val (segs, root) = tr.span(name) {
        val targets = tr.span("targets")(mat(Bbdc.targetsToGrid(labels)))._1
        val cleanEmg = tr.span("clean_emg")(mat(Bbdc.cleanSensors(emg, Channels)))._1
        val cleanMocap = tr.span("clean_mocap")(mat(Bbdc.applyReferenceFrame(
          Bbdc.cleanSensors(mocap, MocapCols), RefFrame, _.endsWith("_Y"))))._1
        val repaired = tr.span("repair")(mat(
          Bbdc.repairChannel(cleanEmg, broken, Channels.filter(_ != broken), fixSubjects)))._1
        val feats = tr.span("features")(mat(
          Bbdc.buildFeatures(repaired, Channels, cleanMocap, MocapCols, Horizons)))._1
        val segs = tr.span("train_predict") {
          for (arm <- Arms; s = subjects.last) yield {
            val t0 = System.nanoTime()
            val rows = Bbdc.trainPredictSegments(feats, targets, arm, s, Models)
              .select("key", "start_s", "end_s", "action").collect()
              .map(r => Seg(r.getString(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
            folds += (System.nanoTime() - t0) / 1e9
            (arm, s, rows.toSeq)
          }
        }._1
        (segs, feats, targets)
      }
      val err = check(segs._1, segs._2, segs._3)
      val op = Op(s"bbdc pass $i", root.wallS, err.isEmpty, err.nonEmpty, err.getOrElse(""))
      Iteration(root, Seq(op), if (err.isEmpty) folds.toSeq else Nil)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] bbdc pass $i threw $e at\n  " +
          e.getStackTrace.take(12).mkString("\n  "))
        val now = System.nanoTime()
        val root = Span(name, System.currentTimeMillis(), System.currentTimeMillis(), now, now, -1, tr.run)
        Iteration(root, Seq(Op(s"bbdc pass $i", 0.0, ok = false, wrong = false, e.toString.take(300))), Nil)
    } finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
  }

  /** Segments of each (arm, held-out subject): only that subject's keys and
    * the arm's classes; per key contiguous, label-changing runs covering the
    * test windows from first to last exactly once; and, over all test
    * windows, agreement with the planted labels of at least [[AccuracyFloor]].
    */
  private def check(
      segs: Seq[(String, String, Seq[Seg])],
      feats: DataFrame,
      targets: DataFrame): Option[String] = {
    val truth = feats.select("subject", "trial", "window_ms")
      .join(targets, Seq("subject", "trial", "window_ms"))
      .select(concat(col("subject"), col("trial"), lit("."), col("arm")).as("key"),
        col("window_ms"), col("action"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    val byKey = truth.keys.groupBy(_._1).map { case (k, ws) => k -> ws.map(_._2).toSeq.sorted }
    var hit = 0L
    var total = 0L
    val problems = segs.flatMap { case (arm, subject, rows) =>
      val classes = truth.collect { case ((k, _), a) if k.endsWith(s".$arm") => a }.toSet
      val keys = byKey.keys.filter(k => k.startsWith(subject) && k.endsWith(s".$arm")).toSeq.sorted
      val got = rows.groupBy(_.key)
      val p = ArrayBuffer.empty[String]
      if (got.keySet != keys.toSet) p += s"$arm/$subject keys ${got.keySet} != $keys"
      if (!rows.forall(r => classes.contains(r.action))) p += s"$arm/$subject foreign class"
      keys.filter(got.contains).foreach { k =>
        val ss = got(k).sortBy(_.start)
        val ws = byKey(k)
        if (ss.head.start * 1000 != ws.head || ss.last.end * 1000 != ws.last)
          p += s"$k span ${ss.head.start}-${ss.last.end} != ${ws.head}-${ws.last}"
        ss.sliding(2).foreach {
          case Seq(a, b) if a.end != b.start || a.action == b.action => p += s"$k not contiguous at ${a.end}"
          case _ => ()
        }
        ws.foreach { w =>
          val pred = ss.find(s => w >= s.start * 1000 && w < s.end * 1000).getOrElse(ss.last).action
          total += 1
          if (pred == truth((k, w))) hit += 1
        }
      }
      p
    }
    val acc = if (total == 0) 0.0 else hit.toDouble / total
    System.err.println(f"[perfbench] bbdc accuracy $acc%.3f over $total test windows")
    if (problems.nonEmpty) Some(problems.take(3).mkString("; "))
    else if (acc < AccuracyFloor) Some(f"accuracy $acc%.3f below $AccuracyFloor")
    else None
  }

  def layers(tr: Tracer, its: Seq[Iteration]): Map[String, Double] = {
    val per = Spans.flatMap { s =>
      val xs = tr.spans.filter(_.name == s).map { sp =>
        val c = tr.counts(sp)
        Seq(sp.wallS, c.cpuS, tr.driverS(sp, c), c.stages.toDouble, c.shuffleMb, c.maxTaskS)
      }
      if (xs.isEmpty) Nil
      else Metrics.zipWithIndex.map { case (m, j) => s"bbdc.$s.$m" -> Main.median(xs.map(_(j)).toSeq) }
    }
    per.toMap
  }
}

final case class Seg(key: String, start: Double, end: Double, action: String)

object BbdcRun {
  val Channels: Seq[String] = (1 to 8).map(i => s"ch$i")
  val MocapCols: Seq[String] = Seq(
    "LHand_Position_X", "LHand_Position_Y", "LHand_Position_Z",
    "RHand_Position_X", "RHand_Position_Y", "RHand_Position_Z",
    "Chest_Position_X", "Chest_Position_Z")
  /** Hands are expressed relative to the chest, except the Y axis. */
  val RefFrame: Map[String, String] = Seq("LHand", "RHand").flatMap { h =>
    Seq("X", "Y", "Z").map(a => s"${h}_Position_$a" -> s"Chest_Position_$a")
  }.toMap
  val Horizons: Seq[Long] = Seq(800L)
  val Arms: Seq[String] = Seq("la", "ra")
  val Models = 11
  val AccuracyFloor = 0.6

  val Spans: Seq[String] = Seq("targets", "clean_emg", "clean_mocap", "repair", "features", "train_predict")
  val Metrics: Seq[String] = Seq("wall_s", "cpu_s", "driver_s", "stages", "shuffle_mb", "max_task_s")
  val layerNames: Seq[String] =
    for (s <- Spans; m <- Metrics) yield s"bbdc.$s.$m"
}
