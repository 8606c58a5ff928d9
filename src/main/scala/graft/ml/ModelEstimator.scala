package graft.ml

import org.apache.spark.sql.DataFrame

/** A FITTED estimator that can score a frame and serialize itself as a
  * WeightsIO payload — the common surface the sklearn pickle gives every
  * reference estimator (keras_estimators/base.py holds the fitted Keras
  * model inside the sklearn wrapper; README.md:117-162 pickles a whole
  * Pipeline whose last stage is one of these).
  *
  * `saveParts` returns the exact (meta, sections) the family's
  * standalone `save(path)` writes — so the SAME payload can either go to
  * its own artifact file or be embedded, key-prefixed, inside a
  * composed-pipeline artifact (operators.PipelineIO): one container for
  * transformers + the trained head, the reference's
  * whole-fitted-pipeline persistence. `predictionNames` is the
  * prediction-column contract (`prediction` / `prediction_{i}`,
  * base.py:137-150) — the estimator-stage analog of
  * GraftTransformer.outputNames. */
trait ModelEstimator extends Serializable {
  /** The WeightsIO `family` discriminator (also carried inside
    * `saveParts._1`); [[ModelCodecs]] dispatches loads on it. */
  def familyName: String

  /** The fitted payload: (meta, sections) exactly as the family's
    * `save(path)` persists them. Throws if not fitted. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])])

  /** Appends the prediction column(s) to `df`. */
  def predict(df: DataFrame): DataFrame

  /** EVERY column `predict` appends, in order — the prediction head
    * (`prediction` / `prediction_{i}`) plus any intermediate surface
    * the family leaves in the frame (the AE families keep `latent_{i}`).
    * This is ModelStage's outputNames, so downstream stages and
    * persistence checks reason about the REAL post-stage schema, not
    * just the head. */
  def predictionNames: Seq[String]
}

/** Family-name → loader registry: rebuilds any [[ModelEstimator]] from
  * its (meta, sections) payload wherever that payload lives — its own
  * artifact file or a pipeline-embedded section namespace. Every family
  * with a standalone `load(path)` registers its `fromParts` here, so
  * the pipeline container supports exactly the estimators the
  * single-model persistence surface supports (ModelPersistenceSpec). */
object ModelCodecs {
  type Loader =
    (Map[String, String], Map[String, Array[Double]], String) => ModelEstimator

  val loaders: Map[String, Loader] = Map(
    "mlp" -> (MLPRegressor.fromParts _),
    "mlp_multi" -> (MLPMultiRegressor.fromParts _),
    "deep_mlp" -> (DeepMLPRegressor.fromParts _),
    "deep_mlp_multi" -> (DeepMLPRegressor.fromParts _),
    "lstm" -> (LSTMTrainer.fromParts _),
    "lstm_multi" -> (LSTMTrainer.fromParts _),
    "attn" -> (AttnTrainer.fromParts _),
    "attn_multi" -> (AttnTrainer.fromParts _),
    "joint_ae" -> (DeepJointAutoencoder.fromParts _),
    "bn_ae" -> (DeepBnAutoencoder.fromParts _),
    "deep_ae" -> (DeepJointAutoencoder.fromParts _),
    "deep_bn_ae" -> (DeepBnAutoencoder.fromParts _),
    "bottleneck" -> (BottleneckModel.fromParts _),
    "soft_forest" -> (SoftForestModel.fromParts _))

  /** Rebuild the estimator `meta` describes. `where` names the artifact
    * (and, for embedded payloads, the stage) in every error. */
  def load(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String): ModelEstimator = {
    val fam = meta.getOrElse("family", throw new IllegalArgumentException(
      s"$where has no `family` meta key — not a model payload"))
    loaders.getOrElse(fam, throw new IllegalArgumentException(
      s"$where holds family $fam, which has no registered codec — " +
        s"known: ${loaders.keys.toSeq.sorted.mkString(", ")}"))(
      meta, sections, where)
  }
}

/** Named transport registry — the persistence seam for the two
  * function-carrying transformers (EmbeddingTransformer, RowPredictor).
  * A transport function (HTTP client, mock) cannot travel inside a JSON
  * artifact; what CAN travel is its NAME. A deployment registers its
  * transports once at startup (`Transports.registerEmbedder("prod",
  * client)`), constructs transformers via the `.named` factories, and
  * pipeline artifacts then persist the name and re-wire the function at
  * load — the same late-binding the reference gets from importing the
  * dspy client module at unpickle time. */
object Transports {
  private val embedders = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[String] => Seq[Array[Float]]]()
  private val predictors = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, String] => Map[String, String]]()

  def registerEmbedder(name: String,
      fn: Seq[String] => Seq[Array[Float]]): Unit =
    embedders.put(name, fn)

  def registerPredictor(name: String,
      fn: Map[String, String] => Map[String, String]): Unit =
    predictors.put(name, fn)

  def embedder(name: String): Seq[String] => Seq[Array[Float]] = {
    val f = embedders.get(name)
    require(f != null, s"no embedder transport registered under " +
      s"'$name' — call Transports.registerEmbedder before loading " +
      "an artifact that references it")
    f
  }

  def predictor(name: String): Map[String, String] => Map[String, String] = {
    val f = predictors.get(name)
    require(f != null, s"no predictor transport registered under " +
      s"'$name' — call Transports.registerPredictor before loading " +
      "an artifact that references it")
    f
  }
}
