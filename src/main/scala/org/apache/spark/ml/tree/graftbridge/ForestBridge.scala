/*
 * Bridge into spark.ml's forest internals, the same technique as
 * ml/graftbridge. RandomForest.run builds its training input (metadata,
 * split candidates, binned and bagged points) before tree induction; a
 * fit that differs from another only in maxDepth and impurity builds the
 * same input. Here the input is built once per training frame and each
 * such fit runs Spark's own RandomForest.runBagged over it. Lives under
 * org.apache.spark.ml.tree so the protected[tree] findSplits resolves.
 * Keep this file free of split, impurity, binning or sampling logic: it
 * only calls run's steps, in run's order, with the arguments
 * RandomForestClassifier.train passes.
 */
package org.apache.spark.ml.tree.graftbridge

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.classification.{DecisionTreeClassificationModel,
  RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tree.{Split, TreeConfig}
import org.apache.spark.ml.tree.impl.{BaggedPoint, DecisionTreeMetadata,
  RandomForest, TreePoint}
import org.apache.spark.ml.util.{DatasetUtils, MetadataUtils}
import org.apache.spark.mllib.tree.configuration.{Algo => OldAlgo,
  Strategy => OldStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.storage.StorageLevel

object ForestBridge {

  /** One training frame's forest input: run's metadata, its broadcast
    * split candidates and its persisted bagged tree points.
    */
  final class SharedInput private[ForestBridge] (
      private[ForestBridge] val metadata: DecisionTreeMetadata,
      private[ForestBridge] val splits: Broadcast[Array[Array[Split]]],
      private[ForestBridge] val bagged: RDD[BaggedPoint[TreePoint]]) {
    /** What run does after induction: unpersist the bagged points and
      * destroy the splits' broadcast.
      */
    def release(): Unit = {
      bagged.unpersist()
      splits.destroy()
    }
  }

  /** RandomForest.run up to induction, for `rf`'s params over `train`:
    * train's instance extraction, then buildMetadata, findSplits, the
    * splits' broadcast, the TreePoint conversion and the bagged RDD
    * persisted MEMORY_AND_DISK. Runs the metadata and split-sample jobs;
    * the first fit materializes the bagged points.
    */
  def prepare(rf: RandomForestClassifier, train: Dataset[_]): SharedInput = {
    val strategy = oldStrategy(rf, train)
    val input = train.select(
        DatasetUtils.checkClassificationLabels(rf.getLabelCol,
          Some(strategy.numClasses)),
        DatasetUtils.checkNonNegativeWeights(rf.get(rf.weightCol)),
        DatasetUtils.checkNonNanVectors(rf.getFeaturesCol))
      .rdd.map { case Row(l: Double, w: Double, v: Vector) =>
        Instance(l, w, v)
      }.setName("training instances").retag(classOf[Instance])
    val metadata = DecisionTreeMetadata.buildMetadata(input, strategy,
      rf.getNumTrees, rf.getFeatureSubsetStrategy)
    val splits = RandomForest.findSplits(input, metadata, rf.getSeed)
    val treeInput = TreePoint.convertToTreeRDD(input, splits, metadata)
    val bcSplits = input.sparkContext.broadcast(splits)
    val bagged = BaggedPoint.convertToBaggedRDD(treeInput,
        strategy.subsamplingRate, rf.getNumTrees, strategy.bootstrap,
        (tp: TreePoint) => tp.weight, seed = rf.getSeed)
      .persist(StorageLevel.MEMORY_AND_DISK).setName("bagged tree points")
    new SharedInput(metadata, bcSplits, bagged)
  }

  /** `rf.fit(train, pm)` with induction over `input`, which [[prepare]]
    * built from `rf` and `train`. `pm` may set only maxDepth and impurity,
    * the two params no shared step reads.
    */
  def fit(rf: RandomForestClassifier, input: SharedInput, train: Dataset[_],
      pm: ParamMap): RandomForestClassificationModel = {
    require(pm.toSeq.forall(p =>
        p.param == rf.maxDepth || p.param == rf.impurity),
      s"a shared forest input serves maxDepth and impurity only, not $pm")
    new SharedInputForest(rf.uid, input).fit(train, rf.paramMap ++ pm)
  }

  /** RandomForestClassifier.train's strategy for `rf`'s params. */
  private def oldStrategy(rf: RandomForestClassifier,
      dataset: Dataset[_]): OldStrategy = {
    val strategy = rf.getOldStrategy(
      MetadataUtils.getCategoricalFeatures(dataset.schema(rf.getFeaturesCol)),
      DatasetUtils.getNumClasses(dataset, rf.getLabelCol),
      OldAlgo.Classification, rf.getOldImpurity)
    strategy.bootstrap = rf.getBootstrap
    strategy
  }

  /** A RandomForestClassifier whose train calls runBagged over `input`
    * where the stock one calls run; the rest of fit (schema check, label
    * cast, param copies onto the trees and the model, parent) is stock.
    * The model carries no training summary: the selection reads none.
    */
  private final class SharedInputForest(uid: String, input: SharedInput)
      extends RandomForestClassifier(uid) {
    override def copy(extra: ParamMap): SharedInputForest =
      copyValues(new SharedInputForest(uid, input), extra)

    override protected def train(
        dataset: Dataset[_]): RandomForestClassificationModel = {
      val strategy = oldStrategy(this, dataset)
      val m = input.metadata
      val metadata = new DecisionTreeMetadata(m.numFeatures, m.numExamples,
        m.weightedNumExamples, m.numClasses, m.maxBins, m.featureArity,
        m.unorderedFeatures, m.numBins, strategy.impurity, m.quantileStrategy,
        strategy.maxDepth, m.minInstancesPerNode, m.minWeightFractionPerNode,
        m.minInfoGain, m.numTrees, m.numFeaturesPerNode)
      val trees = RandomForest.runBagged(input.bagged, metadata, input.splits,
          strategy, getNumTrees, getFeatureSubsetStrategy, getSeed,
          instr = None, prune = true, parentUID = None,
          TreeConfig.trainingEarlyStopModelSizeThresholdInBytes)
        .map(_.asInstanceOf[DecisionTreeClassificationModel])
      trees.foreach(copyValues(_))
      copyValues(new RandomForestClassificationModel(uid, trees,
        trees.head.numFeatures, strategy.numClasses))
    }
  }
}
