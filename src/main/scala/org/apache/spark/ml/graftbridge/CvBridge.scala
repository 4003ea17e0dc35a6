/*
 * Bridge into spark.ml's private[ml] CrossValidatorModel constructor, the
 * same technique as sql/graftbridge. A model selection run outside
 * CrossValidator.fit is wrapped in the artifact CrossValidator.fit would
 * have returned: the same params set explicitly, so the stock writer and
 * reader persist and reload it unchanged. Lives under org.apache.spark.ml
 * so private[ml] members resolve; keep this file free of any logic beyond
 * the construction.
 */
package org.apache.spark.ml.graftbridge

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.evaluation.Evaluator
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel}
import org.apache.spark.ml.util.Identifiable

object CvBridge {
  /** A CrossValidatorModel holding `bestModel` and `avgMetrics`, with the
    * estimator, evaluator, ParamMaps, fold count and seed params that
    * CrossValidator.fit copies onto the model it returns. That copy also
    * carries CrossValidator's seed default (its class-name hash), which
    * the writer records; setting it here keeps the saved metadata equal.
    */
  def cvModel(estimator: Estimator[_], evaluator: Evaluator,
      paramMaps: Array[ParamMap], numFolds: Int, seed: Long,
      bestModel: Model[_], avgMetrics: Array[Double]): CrossValidatorModel = {
    val m = new CrossValidatorModel(Identifiable.randomUID("cv"), bestModel,
      avgMetrics)
    m.defaultParamMap.put(m.seed, classOf[CrossValidator].getName.hashCode.toLong)
    m.set(m.estimator, estimator).set(m.evaluator, evaluator)
      .set(m.estimatorParamMaps, paramMaps).set(m.numFolds, numFolds)
      .set(m.seed, seed)
  }
}
