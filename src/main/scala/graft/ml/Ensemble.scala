package graft.ml

import org.apache.spark.ml.GraftForest
import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier, OneVsRest, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

import scala.util.Random

/** M6-M9: seeded randomized-hyperparameter multiclass ensemble + majority
  * vote — the Spark rendering of the reference's 11 LightGBM boosters with
  * per-model randomized params and seeds SEED+i
  * (`/root/reference/generate_submission.py:47-130`, draws `:89-99,111-121`,
  * vote `:493-502`). LightGBM is unavailable offline; MLlib's
  * RandomForestClassifier is the native-multiclass stand-in (SURVEY §7.3).
  *
  * The RF flavor validates the training frame once: `GraftForest.prepare`
  * counts the classes and builds one `RDD[Instance]` through MLlib's label,
  * weight and vector checks, and every member fits on it with
  * `GraftForest.fit`, which calls MLlib's forest trainer as
  * `RandomForestClassifier.fit` does — so a member's trees equal `fit`'s,
  * without each member re-planning, re-validating and re-counting its
  * classes. A bad row raises MLlib's named check error.
  *
  * Each fitted member is a `Vector => Int` predictor that reproduces
  * MLlib's own prediction rule, and the test frame is scored in one
  * projection: one UDF runs every member on the row's feature vector and
  * votes.
  *
  * Determinism: a seeded scala.util.Random drives the param draws in a fixed
  * sequence; each member gets seed SEED+i; the vote is the deterministic
  * min-on-ties mode (numpy argmax-of-bincount takes the lowest class,
  * `generate_submission.py:496-502`).
  */
object Ensemble {
  val Seed = 1337

  final case class Member(numTrees: Int, maxDepth: Int, minInstances: Int, seed: Long)

  /** The reference's randomized param draws, transposed to RF knobs. */
  def drawMembers(nModels: Int, seed: Int = Seed): Seq[Member] = {
    val rng = new Random(seed)
    Seq.tabulate(nModels) { i =>
      Member(
        numTrees = 8 + rng.nextInt(9), // 8-16
        maxDepth = 4 + rng.nextInt(3), // 4-6
        minInstances = 1 + rng.nextInt(5), // 1-5
        seed = seed + i)
    }
  }

  /** Fit the ensemble on (featureCols → labelCol), score `test`, and return
    * it with one added column: the majority-vote `outCol` (int, ties →
    * lowest class). Weights column optional (the reference doubles s05,
    * `generate_submission.py:61-64`).
    */
  def fitPredictVote(
      train: DataFrame,
      test: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      nModels: Int,
      outCol: String,
      weightCol: Option[String] = None): DataFrame =
    fitScoreVote(train, test, featureCols, nModels, outCol, trainVec => {
      val training = GraftForest.prepare(trainVec, labelCol, "__features", weightCol)
      m => {
        val model = GraftForest.fit(training, new RandomForestClassifier()
          .setNumTrees(m.numTrees)
          .setMaxDepth(m.maxDepth)
          .setMinInstancesPerNode(m.minInstances)
          .setSeed(m.seed))
        // MLlib predicts the argmax of the probability vector, not of the raw
        // one, when a probability column is configured (its default)
        v => model.predictProbability(v).argmax
      }
    })

  /** Boosted-trees flavor of [[fitPredictVote]] — the closest offline MLlib
    * rendering of the reference's LightGBM boosters: each member is a
    * One-vs-Rest wrapper over a seeded [[GBTClassifier]] (GBT in MLlib is
    * binary-only, so multiclass costs nClasses binary fits per member —
    * nModels·nClasses boosted fits total). Same param draws, same seeds,
    * same lowest-class-tie vote as the RF flavor. Prefer the RF flavor when
    * fit count dominates (many classes × many members); prefer this one
    * when per-model behavior should mirror gradient boosting.
    */
  def fitPredictVoteBoosted(
      train: DataFrame,
      test: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      nModels: Int,
      outCol: String,
      weightCol: Option[String] = None): DataFrame =
    fitScoreVote(train, test, featureCols, nModels, outCol,
      trainVec => m => {
        val gbt = new GBTClassifier()
          .setFeaturesCol("__features")
          .setLabelCol(labelCol)
          .setMaxIter(m.numTrees) // boosting rounds <- the tree-count draw
          .setMaxDepth(m.maxDepth)
          .setMinInstancesPerNode(m.minInstances)
          .setSeed(m.seed)
        weightCol.foreach(gbt.setWeightCol)
        val est = new OneVsRest()
          .setClassifier(gbt)
          // fit the per-class binary GBTs concurrently — OneVsRest defaults
          // to parallelism=1, serializing nClasses boosted fits per member;
          // each binary fit is independently specified and seeded, so the
          // fitted models (and the vote) are identical at any parallelism
          .setParallelism(8)
          .setFeaturesCol("__features")
          .setLabelCol(labelCol)
        weightCol.foreach(est.setWeightCol)
        val binary = est.fit(trainVec).models.map(_.asInstanceOf[GBTClassificationModel])
        // OneVsRestModel predicts the first class whose binary model has the
        // largest raw(1); maxBy also keeps the first maximum
        v => binary.indices.maxBy(c => binary(c).predictRaw(v)(1))
      })

  /** Shared ensemble skeleton: assemble features, cache the training frame,
    * hand it to `fitMember` once (a flavor prepares its training set there,
    * before any member), fit the seeded members as CONCURRENT Spark jobs
    * (each fit is independently seeded, so per-model results are
    * scheduling-invariant — the sequential version serialized nModels ×
    * MLlib job latency), then score and vote in one projection. The members
    * travel in the UDF's closure, which Spark ships with each stage's task
    * binary. The cache is released even when a fit throws.
    */
  private def fitScoreVote(
      train: DataFrame,
      test: DataFrame,
      featureCols: Seq[String],
      nModels: Int,
      outCol: String,
      fitMember: DataFrame => Member => (Vector => Int)): DataFrame = {
    val asm = new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("__features")
    val trainVec = asm.transform(train).cache()
    try {
      trainVec.count() // materialize once before the concurrent fits
      val fit = fitMember(trainVec)
      val members = parallelFits(drawMembers(nModels).map(m => () => fit(m)))
      // boxed, so `outCol` stays the nullable int its callers read
      val vote = udf((v: Vector) => Int.box(mode(members.map(_(v)))))
      asm.transform(test).withColumn(outCol, vote(col("__features"))).drop("__features")
    } finally trainVec.unpersist()
  }

  /** Run independent fit thunks as concurrent Spark jobs, preserving order. */
  private def parallelFits[M](thunks: Seq[() => M]): Seq[M] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(thunks.map(t => Future(t()))), Duration.Inf)
  }

  /** Most frequent class, lowest class on ties (numpy bincount-argmax). */
  private def mode(preds: Seq[Int]): Int =
    preds.groupMapReduce(identity)(_ => 1)(_ + _).minBy { case (c, n) => (-n, c) }._1
}
