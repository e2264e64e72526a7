package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.Model
import org.apache.spark.ml.classification.{GBTClassifier, OneVsRest, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

/** Both ensemble flavors must answer exactly what MLlib's own pipeline
  * answers: the same `drawMembers` configurations fitted with MLlib, each
  * scored with `model.transform` (its prediction column), then a plain-Scala
  * vote (most frequent class, lowest class on ties). The fixture's classes
  * overlap, so members disagree on some rows and some rows tie — the spec
  * asserts that both happened, or the equality would not test the vote.
  */
class EnsembleSpec extends SparkSpec {
  import spark.implicits._

  private val feats = Seq("f1", "f2")
  private val nModels = 4

  /** Three classes whose clouds overlap: rows near the boundaries split
    * the members.
    */
  private def overlapping(n: Int, firstId: Long, seed: Int): DataFrame = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      val cls = i % 3
      (firstId + i, cls.toDouble, cls * 0.8 + rnd.nextGaussian(), cls * 0.8 + rnd.nextGaussian())
    }.toDF("id", "label", "f1", "f2")
  }
  private lazy val trainRows = overlapping(150, 0L, 11)
  private lazy val testRows = overlapping(120, 1000L, 12)

  /** Per test row (id order), every member's MLlib `transform` prediction. */
  private def mllibPredictions(fit: (Ensemble.Member, DataFrame) => Model[_]): Seq[Seq[Int]] = {
    val asm = new VectorAssembler().setInputCols(feats.toArray).setOutputCol("features")
    val (trainVec, testVec) = (asm.transform(trainRows), asm.transform(testRows))
    Ensemble.drawMembers(nModels).map { m =>
      fit(m, trainVec).transform(testVec)
        .orderBy("id").select(col("prediction").cast("int")).as[Int].collect().toSeq
    }.transpose
  }

  private def lowestMode(preds: Seq[Int]): Int = {
    val counts = preds.groupBy(identity).map { case (c, ps) => c -> ps.size }
    counts.collect { case (c, n) if n == counts.values.max => c }.min
  }

  private def tiedTop(preds: Seq[Int]): Boolean =
    preds.groupBy(identity).values.map(_.size).toSeq.sorted.reverse match {
      case a +: b +: _ => a == b
      case _ => false
    }

  private def assertMatchesMllib(
      ensemble: (DataFrame, DataFrame, Seq[String], String, Int, String, Option[String]) => DataFrame,
      fit: (Ensemble.Member, DataFrame) => Model[_]): Unit = {
    val perRow = mllibPredictions(fit)
    val got = ensemble(trainRows, testRows, feats, "label", nModels, "v", None)
      .orderBy("id").select("v").as[Int].collect().toSeq
    assert(got == perRow.map(lowestMode))
    assert(perRow.exists(_.distinct.size > 1), "the members never disagree")
    assert(perRow.exists(tiedTop), "no row has tied top counts")
  }

  test("RF flavor == MLlib transform per member + lowest-class vote, on every row") {
    assertMatchesMllib(Ensemble.fitPredictVote, (m, trainVec) =>
      new RandomForestClassifier()
        .setLabelCol("label")
        .setNumTrees(m.numTrees)
        .setMaxDepth(m.maxDepth)
        .setMinInstancesPerNode(m.minInstances)
        .setSeed(m.seed)
        .fit(trainVec))
  }

  test("boosted flavor == MLlib OneVsRest transform per member + lowest-class vote, on every row") {
    assertMatchesMllib(Ensemble.fitPredictVoteBoosted, (m, trainVec) =>
      new OneVsRest()
        .setClassifier(new GBTClassifier()
          .setLabelCol("label")
          .setMaxIter(m.numTrees)
          .setMaxDepth(m.maxDepth)
          .setMinInstancesPerNode(m.minInstances)
          .setSeed(m.seed))
        .setParallelism(8)
        .setLabelCol("label")
        .fit(trainVec))
  }

  test("separable input: the RF vote recovers every training label") {
    val rnd = new Random(42)
    val train = (0 until 60).map { i =>
      val cls = i % 3
      (i.toLong, cls.toDouble, cls * 1.0 + rnd.nextDouble() * 0.01, cls * 2.0)
    }.toDF("id", "label", "f1", "f2")
    val voted = Ensemble.fitPredictVote(train, train, Seq("f1", "f2"), "label", 3, "v")
    assert(voted.filter(col("v") =!= col("label").cast("int")).count() == 0)
  }
}
