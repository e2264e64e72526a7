package graft.ml

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.ml.Model
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.{GBTClassifier, OneVsRest, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicInteger
import scala.util.Random

/** Both ensemble flavors must answer exactly what MLlib's own pipeline
  * answers: the same `drawMembers` configurations fitted with MLlib, each
  * scored with `model.transform` (its prediction column), then a plain-Scala
  * vote (most frequent class, lowest class on ties). The fixture's classes
  * overlap, so members disagree on some rows and some rows tie — the spec
  * asserts that both happened, or the equality would not test the vote.
  * The RF flavor fits through `GraftForest`, not through `fit`; MLlib's
  * public `fit` stays the reference here, for weighted training and for
  * the errors bad rows raise.
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
  private def mllibPredictions(
      train: DataFrame,
      fit: (Ensemble.Member, DataFrame) => Model[_]): Seq[Seq[Int]] = {
    val asm = new VectorAssembler().setInputCols(feats.toArray).setOutputCol("features")
    val (trainVec, testVec) = (asm.transform(train), asm.transform(testRows))
    Ensemble.drawMembers(nModels).map { m =>
      fit(m, trainVec).transform(testVec)
        .orderBy("id").select(col("prediction").cast("int")).as[Int].collect().toSeq
    }.transpose
  }

  /** The RF flavor's member configuration as a public MLlib estimator. */
  private def mllibForest(m: Ensemble.Member): RandomForestClassifier =
    new RandomForestClassifier()
      .setLabelCol("label")
      .setNumTrees(m.numTrees)
      .setMaxDepth(m.maxDepth)
      .setMinInstancesPerNode(m.minInstances)
      .setSeed(m.seed)

  private def lowestMode(preds: Seq[Int]): Int = {
    val counts = preds.groupBy(identity).map { case (c, ps) => c -> ps.size }
    counts.collect { case (c, n) if n == counts.values.max => c }.min
  }

  private def tiedTop(preds: Seq[Int]): Boolean =
    preds.groupBy(identity).values.map(_.size).toSeq.sorted.reverse match {
      case a +: b +: _ => a == b
      case _ => false
    }

  /** Returns the per-row member predictions it compared against. */
  private def assertMatchesMllib(
      ensemble: (DataFrame, DataFrame, Seq[String], String, Int, String, Option[String]) => DataFrame,
      fit: (Ensemble.Member, DataFrame) => Model[_],
      train: DataFrame = trainRows,
      weightCol: Option[String] = None): Seq[Seq[Int]] = {
    val perRow = mllibPredictions(train, fit)
    val got = ensemble(train, testRows, feats, "label", nModels, "v", weightCol)
      .orderBy("id").select("v").as[Int].collect().toSeq
    assert(got == perRow.map(lowestMode))
    assert(perRow.exists(_.distinct.size > 1), "the members never disagree")
    assert(perRow.exists(tiedTop), "no row has tied top counts")
    perRow
  }

  test("RF flavor == MLlib transform per member + lowest-class vote, on every row") {
    assertMatchesMllib(Ensemble.fitPredictVote, (m, trainVec) => mllibForest(m).fit(trainVec))
  }

  test("weighted RF flavor == MLlib setWeightCol per member + lowest-class vote, on every row") {
    // weights 0, 0.5, 1 and 1.5
    val weighted = trainRows.withColumn("w", (col("id") % 4).cast("double") * 0.5)
    val perRow = assertMatchesMllib(Ensemble.fitPredictVote,
      (m, trainVec) => mllibForest(m).setWeightCol("w").fit(trainVec),
      weighted, Some("w"))
    val unweighted = mllibPredictions(trainRows, (m, trainVec) => mllibForest(m).fit(trainVec))
    assert(perRow != unweighted, "the weights change no member prediction")
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

  /** Training rows with one bad row (id 7); `nominal` gives the label
    * column a 3-class ML attribute, so the class count is read from
    * metadata and only the validation select sees the label.
    */
  private def withBadRow(c: String, bad: Double, nominal: Boolean = false): DataFrame = {
    val rows = trainRows
      .withColumn("w", lit(1.0))
      .withColumn(c, when(col("id") === 7, lit(bad)).otherwise(col(c)))
    if (!nominal) rows
    else rows.withColumn("label",
      col("label").as("label", NominalAttribute.defaultAttr.withNumValues(3).toMetadata()))
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString(" | ")

  test("a bad row raises MLlib's named check error, not an answer") {
    val member = Ensemble.drawMembers(1).head
    val cases = Seq(
      ("label -1", withBadRow("label", -1.0), "Labels MUST be in"),
      ("label 2.5", withBadRow("label", 2.5), "Labels MUST be Integers"),
      ("label -1, nominal attribute", withBadRow("label", -1.0, nominal = true), "Labels MUST be in"),
      ("label 2.5, nominal attribute", withBadRow("label", 2.5, nominal = true), "Labels MUST be Integers"),
      ("infinite feature", withBadRow("f1", Double.PositiveInfinity),
        "Vector values MUST NOT be NaN or Infinity"),
      ("NaN feature", withBadRow("f1", Double.NaN), "Encountered NaN while assembling"),
      ("negative weight", withBadRow("w", -1.0), "Weights MUST NOT be Negative"))
    val asm = new VectorAssembler().setInputCols(feats.toArray).setOutputCol("features")
    for ((name, train, check) <- cases) {
      val ref = intercept[Exception](
        mllibForest(member).setWeightCol("w").fit(asm.transform(train)))
      val got = intercept[Exception](
        Ensemble.fitPredictVote(train, testRows, feats, "label", 1, "v", Some("w")))
      assert(got.getClass == ref.getClass, s"$name: ${messages(got)}")
      assert(messages(ref).contains(check), s"$name, MLlib: ${messages(ref)}")
      assert(messages(got).contains(check), s"$name: ${messages(got)}")
    }
  }

  test("one pass: fitPredictVote runs as many SQL executions for 4 members as for 1") {
    def sqlExecutions(n: Int): Int = {
      val count = new AtomicInteger
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          count.incrementAndGet()
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          count.incrementAndGet()
      }
      ListenerBusDrain(spark.sparkContext) // no earlier action is counted
      spark.listenerManager.register(listener)
      try {
        Ensemble.fitPredictVote(trainRows, testRows, feats, "label", n, "v")
        ListenerBusDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      count.get
    }
    val (one, four) = (sqlExecutions(1), sqlExecutions(4))
    assert(one > 0, "the listener saw no execution")
    assert(four == one, s"1 member: $one SQL executions, 4 members: $four")
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
