package org.apache.spark.ml

import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.tree.impl.RandomForest
import org.apache.spark.ml.util.{DatasetUtils, MetadataUtils}
import org.apache.spark.mllib.tree.configuration.Algo
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** Bridge to MLlib's ml-private random-forest trainer, so forests that
  * differ only in seed and tree parameters all fit from ONE validated
  * training set.
  *
  * `RandomForestClassifier.fit` repeats fixed driver work on every call: a
  * `getNumClasses` SQL job (when the label carries no ML attribute),
  * planning the Dataset to an RDD for its log line, planning the validation
  * select, and a training summary. [[prepare]] counts the classes and builds
  * the validated `RDD[Instance]` once, through the same three `DatasetUtils`
  * checks `RandomForestClassifier.train` applies; [[fit]] hands that RDD to
  * `RandomForest.run` with the member's strategy and seed, which is the call
  * `train` makes. So every member grows the trees MLlib's own `fit` grows;
  * `EnsembleSpec` pins that equality, and a Spark upgrade must re-run it.
  */
object GraftForest {

  /** One training frame's validated instances and the class and feature
    * metadata every member's strategy needs.
    */
  final class Training private[GraftForest] (
      val instances: RDD[Instance],
      val numClasses: Int,
      val categoricalFeatures: Map[Int, Int])

  /** Count the classes (label metadata, else one aggregate job) and plan
    * the validation select; its checks raise MLlib's named errors when the
    * first member's jobs read a bad row.
    */
  def prepare(
      data: DataFrame,
      labelCol: String,
      featuresCol: String,
      weightCol: Option[String]): Training = {
    val numClasses = DatasetUtils.getNumClasses(data, labelCol)
    val instances = data
      .select(
        DatasetUtils.checkClassificationLabels(labelCol, Some(numClasses)),
        DatasetUtils.checkNonNegativeWeights(weightCol),
        DatasetUtils.checkNonNanVectors(featuresCol))
      .rdd
      .map { case Row(l: Double, w: Double, v: Vector) => Instance(l, w, v) }
      .setName("training instances")
    new Training(instances, numClasses,
      MetadataUtils.getCategoricalFeatures(data.schema(featuresCol)))
  }

  /** Fit `rf`'s tree parameters and seed on `training`. The columns `rf`
    * names are not read: [[prepare]] chose them.
    */
  def fit(training: Training, rf: RandomForestClassifier): RandomForestClassificationModel = {
    val strategy = rf.getOldStrategy(
      training.categoricalFeatures, training.numClasses, Algo.Classification, rf.getOldImpurity)
    strategy.bootstrap = rf.getBootstrap
    val trees = RandomForest
      .run(training.instances, strategy, rf.getNumTrees, rf.getFeatureSubsetStrategy, rf.getSeed, None)
      .map(_.asInstanceOf[DecisionTreeClassificationModel])
    new RandomForestClassificationModel(rf.uid, trees, trees.head.numFeatures, training.numClasses)
  }
}
