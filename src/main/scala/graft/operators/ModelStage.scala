package graft.operators

import org.apache.spark.sql.DataFrame
import graft.ml.ModelEstimator

/** A FITTED estimator as a pipeline stage — the reference's
  * `make_pipeline(transformers..., MLPRegressor())` shape
  * (README.md:117-162), where the final sklearn step both scores and
  * travels inside the pickled pipeline. Wrapping keeps GraftTransformer
  * the single composition surface: `transform` scores (the fitted
  * estimator's `predict`), `outputNames` is the prediction-column
  * contract, and PipelineIO persists the whole chain — feature stages
  * by configuration, this stage by its embedded WeightsIO payload — as
  * ONE artifact. */
case class ModelStage(model: ModelEstimator) extends GraftTransformer {
  def transform(df: DataFrame): DataFrame = model.predict(df)
  def outputNames: Seq[String] = model.predictionNames
}

/** `make_pipeline(transformers..., Estimator()).fit(X, y)` in one call
  * (reference README.md:117-162): run the training frame through the
  * feature stages, fit the head on the RESULT (so the head's
  * featureCols reference chain outputs), and return the FITTED pipeline
  * — stages + [[ModelStage]] — ready to `transform` new data or
  * persist as one artifact (PipelineIO). `fitHead` is the family
  * constructor + fit (e.g. `d => new DeepMLPRegressor(feats, y).fit(d)`,
  * or `new DeepMLPRegressor(feats, y, extraTargetCols = Seq(y2))` for
  * the reference's `output_units = 2`) — type-level fit/predict stay
  * with the family, composition lives here. */
object FitPipeline {
  def fit(stages: Seq[GraftTransformer], train: DataFrame,
      fitHead: DataFrame => ModelEstimator): Pipeline =
    Pipeline(stages :+ ModelStage(fitHead(Pipeline(stages).transform(train))))
}
