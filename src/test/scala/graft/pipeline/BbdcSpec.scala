package graft.pipeline

import graft.SparkSpec
import graft.ml.Ensemble
import org.apache.spark.sql.functions._

import scala.util.Random

/** End-to-end fixture test (SURVEY §5.2 item 4): a miniature synthetic
  * BBDC-shaped dataset — label intervals, 50 Hz EMG with NULL runs, mocap
  * with a reference frame — through load → clean → repair → feature →
  * train → vote → RLE, with fixed seeds. Asserts schema, coverage and
  * segment invariants, and run-to-run determinism.
  */
class BbdcSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new Random(42)

  // three contiguous intervals over [0, 4.8] s per (subject, trial, arm)
  private lazy val labels =
    (for {
      s <- Seq("s01", "s02", "s03"); t <- Seq("t01", "t02"); arm <- Seq("la", "ra")
      iv <- Seq((0.0, 1.6, s"$arm-nothing"), (1.6, 3.2, s"$arm-lift"), (3.2, 4.8, s"$arm-nothing"))
    } yield (s"$s$t.$arm", iv._1, iv._2, iv._3))
      .toDF("key", "start_s", "end_s", "action")

  /** 50 Hz sensor rows over 4.8 s per (subject, trial): ts_ms + 2 channels,
    * with a NULL run injected into ch1 to exercise interpolation.
    */
  private lazy val emg =
    (for {
      s <- Seq("s01", "s02", "s03"); t <- Seq("t01", "t02"); i <- 0 until 240
    } yield {
      val ts = i * 20L
      val phase = if (ts >= 1600 && ts < 3200) 3.0 else 0.5 // signal during 'lift'
      val v1 = if (i % 37 == 5 || i % 37 == 6) None else Some(phase + rng.nextDouble() * 0.1)
      (s, t, ts, v1, phase * 0.5 + rng.nextDouble() * 0.1)
    }).toDF("subject", "trial", "ts_ms", "ch1", "ch2")

  private lazy val mocap =
    (for {
      s <- Seq("s01", "s02", "s03"); t <- Seq("t01", "t02"); i <- 0 until 48
    } yield {
      val ts = i * 100L
      val lift = if (ts >= 1600 && ts < 3200) 1.0 else 0.0
      (s, t, ts, 10.0 + lift + rng.nextDouble() * 0.05, 2.0 + rng.nextDouble() * 0.05)
    }).toDF("subject", "trial", "ts_ms", "LHand_Position_X", "Chest_Position_X")

  test("targetsToGrid smears intervals onto the 200 ms grid with the running cursor") {
    val grid = Bbdc.targetsToGrid(labels)
    val one = grid.filter(col("subject") === "s01" && col("trial") === "t01" && col("arm") === "la")
      .orderBy("window_ms")
      .select("window_ms", "action").as[(Long, String)].collect().toSeq
    assert(one.size == 24) // 4.8s / 200ms
    assert(one.head == (200L, "la-nothing"))
    assert(one(7) == (1600L, "la-nothing")) // interval end inclusive
    assert(one(8) == (1800L, "la-lift"))
    assert(one.last == (4800L, "la-nothing"))
  }

  test("full pipeline produces valid, deterministic submission segments") {
    val cleanedEmg = Bbdc.cleanSensors(emg, Seq("ch1", "ch2"))
    val repaired = Bbdc.repairChannel(cleanedEmg, "ch2", Seq("ch1"), Seq("s02"))
    val framed = Bbdc.applyReferenceFrame(
      mocap,
      Map("LHand_Position_X" -> "Chest_Position_X"),
      skip = _.endsWith("_Y"))
    val feats = Bbdc.buildFeatures(
      repaired, Seq("ch1", "ch2"), framed, Seq("LHand_Position_X"), Seq(400L, 1200L))
    assert(feats.columns.count(_.startsWith("emg_absmean_")) == 2)
    assert(feats.columns.count(_.contains("_mean_back_")) == 2)

    val targets = Bbdc.targetsToGrid(labels)
    def run() = Bbdc.trainPredictSegments(feats, targets, "la", "s03", nModels = 3)
      .orderBy("key", "start_s")
      .select("key", "start_s", "end_s", "action")
      .as[(String, Double, Double, String)].collect().toSeq

    val segs = run()
    assert(segs.nonEmpty)
    assert(segs.forall(_._1.startsWith("s03")))
    assert(segs.forall(s => s._2 <= s._3))
    // adjacent segments per key: contiguous, label changes
    segs.groupBy(_._1).foreach { case (_, ss) =>
      ss.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 == b._2 && a._4 != b._4)
        case _ => ()
      }
    }
    // seeded determinism end to end
    assert(run() == segs)
    // the ensemble should actually learn the lift phase on this separable data
    val liftSegs = segs.filter(_._4 == "la-lift")
    assert(liftSegs.nonEmpty)

    // pinned golden artifact (not just run-twice equality): the exact
    // segments this fixture+seed must produce, committed in test resources.
    // Regenerate deliberately with GRAFT_BLESS_GOLDEN=1 after a semantic
    // change, and review the diff like code.
    val lines = segs.map(s => s"${s._1}|${s._2}|${s._3}|${s._4}")
    if (sys.env.contains("GRAFT_BLESS_GOLDEN")) {
      val p = java.nio.file.Paths.get("src/test/resources/bbdc_golden_segments.txt")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    } else {
      val stream = getClass.getResourceAsStream("/bbdc_golden_segments.txt")
      assert(stream != null, "golden file missing — bless with GRAFT_BLESS_GOLDEN=1 sbt test")
      val expected = scala.io.Source.fromInputStream(stream, "UTF-8").getLines().toSeq
      assert(lines == expected, "pipeline segments diverged from the pinned golden artifact")
    }
  }

  test("boosted-trees ensemble flavor learns the separable classes and is seeded-deterministic") {
    val localRng = new Random(7) // own stream: don't perturb the shared fixture rng
    val train = (0 until 90).map { i =>
      val cls = i % 3
      (i.toLong, cls.toDouble, cls * 1.0 + localRng.nextDouble() * 0.01, cls * 2.0)
    }.toDF("id", "label", "f1", "f2")
    def run() = Ensemble.fitPredictVoteBoosted(train, train, Seq("f1", "f2"), "label", 2, "v")
      .orderBy("id").select("id", "v").as[(Long, Int)].collect().toSeq
    val out = run()
    val labels = train.orderBy("id").select("label").as[Double].collect().toSeq
    assert(out.map(_._2.toDouble) == labels) // separable -> perfect recovery
    assert(run() == out)                     // SEED+i determinism
  }
}
