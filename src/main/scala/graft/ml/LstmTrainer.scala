package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trains the LSTM regressor the reference fits with Keras
  * (sequence.py:101-153) — one layer by default, layer stacks via
  * `layers` (the reference's `lstm_units` list) and the single-layer
  * bidirectional layout via `bidirectional`, every layout through the
  * one [[LstmStackBptt]] kernel and the [[SeqAdam]] epoch loop at one
  * output — with the same [[PartitionSum]]-gradient + driver-Adam shape
  * as [[MLPRegressor]]: executors fold rows into ONE flat gradient
  * vector per epoch (per-partition partial sums, added on the driver
  * in partition order), the driver holds only the weight vector.
  * Fitted weights flow into the existing distributed scoring path
  * ([[LstmScorer]] — unrolled pure column arithmetic, no UDF), so
  * fit-once/score-anywhere works exactly like the pinned-weights
  * queries.
  *
  * `lagCols` must be lag-major over `seqLen` timesteps — the
  * LagTransformer output order ([[graft.operators.SequenceReshape]]).
  */
class LSTMTrainer(
    val lagCols: Seq[String],
    val seqLen: Int,
    val targetCol: String,
    val hidden: Int = 8,
    val lr: Double = 1e-2,
    val epochs: Int = 150,
    val seed: Long = 42L,
    val scaleTarget: Boolean = true,
    val batchFraction: Double = 0.2,
    val layers: Seq[Int] = Nil,
    val bidirectional: Boolean = false,
    val loss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val rankBatch: Int = 64,
    val dropout: Double = 0.0,
    val recurrentDropout: Double = 0.0,
    val layerDropouts: Seq[(Double, Double)] = Nil,
    val layerNorm: Boolean = false,
    val optimizer: String = "adam") extends ModelEstimator {

  require(lagCols.size % seqLen == 0,
    s"${lagCols.size} lag columns do not reshape into $seqLen steps")
  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")
  require(!bidirectional || layers.size <= 1,
    "bidirectional fit covers the single-layer layout the scorer scores")
  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  require(dropout >= 0 && dropout < 1 &&
    recurrentDropout >= 0 && recurrentDropout < 1,
    s"dropout rates in [0, 1), got ($dropout, $recurrentDropout)")
  require(layerDropouts.isEmpty ||
    layerDropouts.size == math.max(layers.size, 1),
    s"layerDropouts (${layerDropouts.size}) must align with the layer " +
      s"list (${math.max(layers.size, 1)}) — the lstm_units tuple shape")
  // Training-time dropout (sequence.py:123-132, reference default
  // lstm_units=[(64, 0.01, 0.01)]): per-gate Keras-style masks,
  // constant across timesteps, per-row per-epoch seed — applied on
  // every fit layout (single, stacked, bidirectional; each cell draws
  // its own masks, the Keras per-layer behavior). `layerDropouts`
  // carries the reference's PER-LAYER (dropout, recurrent_dropout)
  // tuples (sequence.py:105,123); the scalar pair remains the
  // shared-rate shorthand. Bidirectional wraps one configured cell, so
  // both directions share the single pair — exactly Keras.
  private val effDropouts: Seq[(Double, Double)] =
    if (layerDropouts.nonEmpty) layerDropouts
    else Seq.fill(math.max(layers.size, 1))((dropout, recurrentDropout))
  private val nFeat = lagCols.size / seqLen

  /** The kernel layout: the `layers` list (the reference's
    * `lstm_units`, sequence.py:120) — empty means one layer of `hidden`
    * units, and `layers == Seq(n)` is a one-layer fit of n units — with
    * the optional bidirectional wrapper and trainable use_layer_norm
    * stages, at one output. `use_batch_norm` training (batch statistics
    * + moving averages) is [[LSTMBnTrainer]]'s; BN scoring parity over
    * pinned moving stats is [[LstmNorm]]'s affine mode. */
  private def kernelCfg: LstmStackBptt.Cfg = LstmStackBptt.Cfg(nFeat,
    if (layers.isEmpty) Seq(hidden) else layers, bidirectional, layerNorm)

  private var stacked: Seq[LstmWeights] = Nil
  private var stackedNorms: Seq[LstmNorm] = Nil
  private var bidi: (LstmWeights, LstmWeights, Array[Double], Double) = _
  private var bidiLn: LstmNorm = _
  private var flatKernel: Array[Double] = _
  private var yMean = 0.0
  private var yStd = 1.0

  /** The one-layer fit's cell and head (null for stacked and
    * bidirectional fits; a layerNorm fit's norm is in [[fittedNorms]]). */
  def fittedWeights: LstmWeights = stacked match {
    case Seq(one) => one
    case _ => null
  }
  def fittedLayers: Seq[LstmWeights] = stacked
  def fittedNorms: Seq[LstmNorm] = stackedNorms
  def fittedBidi: (LstmWeights, LstmWeights, Array[Double], Double) = bidi

  def steps: Seq[Seq[String]] = lagCols.grouped(nFeat).toSeq

  def fit(df: DataFrame): this.type = {
    val cfg = kernelCfg
    val data = df.select((targetCol +: lagCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    val n = data.count().toDouble
    require(n > 0, "no complete rows to fit on")
    if (scaleTarget) {
      val r = data.agg(avg(col(targetCol)), stddev_pop(col(targetCol)))
        .collect()(0)
      yMean = r.getDouble(0); yStd = math.max(r.getDouble(1), 1e-12)
    }
    val w = LstmStackBptt.init(cfg, seed)
    SeqAdam.run(data, cfg.size, w, 1, Array(yMean), Array(yStd), nFeat,
      seqLen, epochs, lr, seed, batchFraction,
      (bw, x, ys, acc, ms, po) => LstmStackBptt.runMulti(bw, cfg, x, ys,
        acc, LstmStackBptt.rowDrop(effDropouts, ms), po),
      loss, mseWeight, spearmanWeight, rankTau, rankBatch, optimizer)
    materialize(w)
    data.unpersist()
    this
  }

  /** Decode a final flat kernel into the scorer-side weight containers —
    * shared by the fit tail and [[LSTMTrainer.load]], so a loaded
    * estimator scores through EXACTLY the conversion the fitted one
    * used. */
  private def materialize(w: Array[Double]): Unit = {
    flatKernel = w
    val cfg = kernelCfg
    if (cfg.bidi) {
      bidi = LstmStackBptt.toBidi(w, cfg)
      if (layerNorm) bidiLn = LstmStackBptt.bidiNorm(w, cfg)
    } else {
      stacked = LstmStackBptt.toStacked(w, cfg)
      if (layerNorm) stackedNorms = LstmStackBptt.stackNorms(w, cfg)
    }
  }

  /** Persist the FITTED estimator (flat kernel + target scaling +
    * schema + fit recipe) — the sklearn-pickle role the reference gets
    * free from its wrapper (keras_estimators/base.py holds the fitted
    * Keras model inside the sklearn estimator). JSON exact doubles, so
    * [[LSTMTrainer.load]] scores bit-identically (WeightsIOSpec
    * pattern). */
  def familyName: String = "lstm"
  def predictionNames: Seq[String] = Seq("prediction")

  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(flatKernel != null, "fit first")
    (Map(
      "family" -> "lstm",
      "lagCols" -> WeightsIO.namesToMeta(lagCols),
      "seqLen" -> seqLen.toString, "target" -> targetCol,
      "hidden" -> hidden.toString,
      "layers" -> layers.mkString(","),
      "bidirectional" -> bidirectional.toString,
      "layerNorm" -> layerNorm.toString,
      "scaleTarget" -> scaleTarget.toString,
      "yMean" -> yMean.toString, "yStd" -> yStd.toString,
      "lr" -> lr.toString, "epochs" -> epochs.toString,
      "seed" -> seed.toString,
      "batchFraction" -> batchFraction.toString, "loss" -> loss,
      "dropout" -> dropout.toString,
      "recurrentDropout" -> recurrentDropout.toString,
      "layerDropouts" -> WeightsIO.pairsToMeta(layerDropouts),
      "mseWeight" -> mseWeight.toString,
      "spearmanWeight" -> spearmanWeight.toString,
      "rankTau" -> rankTau.toString, "rankBatch" -> rankBatch.toString,
      "optimizer" -> optimizer),
      Seq("flat" -> flatKernel))
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }

  /** Appends `prediction` through the distributed unrolled forward pass
    * (stacked — one layer included — or bidirectional to match the
    * fitted layout), un-standardizing if the target was scaled at fit. */
  def predict(df: DataFrame): DataFrame = {
    require(flatKernel != null, "fit first")
    val scored =
      if (bidi != null)
        LstmScorer.scoreBidirectional(df, steps, bidi._1, bidi._2,
          bidi._3, bidi._4, bidiLn)
      else LstmScorer.scoreStacked(df, steps, stacked, stackedNorms)
    if (scaleTarget)
      scored.withColumn("prediction",
        col("prediction") * lit(yStd) + lit(yMean))
    else scored
  }
}

object LSTMTrainer {
  /** Rehydrate a `save`d estimator: architecture, target scaling, and
    * the flat kernel restored bit-exactly, then decoded through the
    * SAME materialization as fit — `predict` on the loaded instance
    * equals `predict` on the fitted one byte for byte. */
  def load(path: String): LSTMTrainer = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String): LSTMTrainer = {
    WeightsIO.requireFamily(meta, "lstm", where)
    val layers = WeightsIO.intsFromMeta(meta("layers"))
    val m = new LSTMTrainer(
      WeightsIO.namesFromMeta(meta("lagCols")),
      meta("seqLen").toInt, meta("target"),
      hidden = meta("hidden").toInt, lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      layers = layers,
      bidirectional = meta("bidirectional").toBoolean,
      loss = meta("loss"),
      mseWeight = meta("mseWeight").toDouble,
      spearmanWeight = meta("spearmanWeight").toDouble,
      rankTau = meta("rankTau").toDouble,
      rankBatch = meta("rankBatch").toInt,
      dropout = meta("dropout").toDouble,
      recurrentDropout = meta("recurrentDropout").toDouble,
      layerDropouts = WeightsIO.pairsFromMeta(meta("layerDropouts")),
      layerNorm = meta("layerNorm").toBoolean,
      optimizer = meta("optimizer"))
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.kernelCfg.size)
    m.yMean = meta("yMean").toDouble
    m.yStd = meta("yStd").toDouble
    m.materialize(flat)
    m
  }
}

/** Joint multi-output LSTM fit — the base class's `output_units > 1`
  * (base.py:46, sequence.py:146) with the `prediction_{i}` naming
  * contract (base.py:144-150): ALL heads train together through the
  * SHARED recurrent trunk (one Dense(output_units) over the final
  * state), per-output target standardization, the
  * [[MLPMultiRegressor]] shape on the [[LstmStackBptt]] kernel.
  * Stacked layers, per-layer dropout tuples, and `layerNorm` compose;
  * non-bidirectional (the multi scorer reads the stacked layout).
  * `loss = "spearman" | "combined"` trains the reference's rank
  * objectives with their exact multi-output semantics — the loss
  * flattens (batch, out) to ONE ranked vector (losses.py:67-69). */
class LSTMMultiTrainer(
    val lagCols: Seq[String],
    val seqLen: Int,
    val targetCols: Seq[String],
    val hidden: Int = 8,
    val lr: Double = 1e-2,
    val epochs: Int = 150,
    val seed: Long = 42L,
    val scaleTarget: Boolean = true,
    val batchFraction: Double = 0.2,
    val layers: Seq[Int] = Nil,
    val dropout: Double = 0.0,
    val recurrentDropout: Double = 0.0,
    val layerDropouts: Seq[(Double, Double)] = Nil,
    val layerNorm: Boolean = false,
    val loss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val rankBatch: Int = 64,
    val optimizer: String = "adam") extends ModelEstimator {

  require(targetCols.size >= 2, "use LSTMTrainer for a single output")
  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  require(lagCols.size % seqLen == 0,
    s"${lagCols.size} lag columns do not reshape into $seqLen steps")
  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")
  require(layerDropouts.isEmpty ||
    layerDropouts.size == math.max(layers.size, 1),
    "layerDropouts must align with the layer list")

  private val nFeat = lagCols.size / seqLen
  private val out = targetCols.size
  private val effDropouts: Seq[(Double, Double)] =
    if (layerDropouts.nonEmpty) layerDropouts
    else Seq.fill(math.max(layers.size, 1))((dropout, recurrentDropout))

  private var cells: Seq[LstmWeights] = Nil
  private var headW: Array[Array[Double]] = _
  private var headB: Array[Double] = _
  private var norms: Seq[LstmNorm] = Nil
  private var flatKernel: Array[Double] = _
  private var yMean: Array[Double] = Array.fill(out)(0.0)
  private var yStd: Array[Double] = Array.fill(out)(1.0)

  def fittedCells: Seq[LstmWeights] = cells
  def fittedHead: (Array[Array[Double]], Array[Double]) = (headW, headB)

  def steps: Seq[Seq[String]] = lagCols.grouped(nFeat).toSeq

  private def kernelCfg: LstmStackBptt.Cfg = LstmStackBptt.Cfg(nFeat,
    if (layers.isEmpty) Seq(hidden) else layers, bidi = false,
    layerNorm = layerNorm, out = out)

  /** Decode a final flat kernel — shared by the fit tail and
    * [[LSTMMultiTrainer.load]]. */
  private def materialize(w: Array[Double]): Unit = {
    flatKernel = w
    val cfg = kernelCfg
    cells = LstmStackBptt.stackCells(w, cfg)
    val (hw, hb) = LstmStackBptt.headMulti(w, cfg)
    headW = hw; headB = hb
    if (layerNorm) norms = LstmStackBptt.stackNorms(w, cfg)
  }

  def familyName: String = "lstm_multi"
  def predictionNames: Seq[String] =
    targetCols.indices.map(o => s"prediction_$o")

  /** The fitted payload (flat kernel + per-output scaling + recipe) —
    * [[LSTMMultiTrainer.load]] scores bit-identically. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(flatKernel != null, "fit first")
    (Map(
      "family" -> "lstm_multi",
      "lagCols" -> WeightsIO.namesToMeta(lagCols),
      "seqLen" -> seqLen.toString,
      "targets" -> WeightsIO.namesToMeta(targetCols),
      "hidden" -> hidden.toString, "layers" -> layers.mkString(","),
      "layerNorm" -> layerNorm.toString,
      "scaleTarget" -> scaleTarget.toString,
      "lr" -> lr.toString, "epochs" -> epochs.toString,
      "seed" -> seed.toString,
      "batchFraction" -> batchFraction.toString, "loss" -> loss,
      "dropout" -> dropout.toString,
      "recurrentDropout" -> recurrentDropout.toString,
      "layerDropouts" -> WeightsIO.pairsToMeta(layerDropouts),
      "mseWeight" -> mseWeight.toString,
      "spearmanWeight" -> spearmanWeight.toString,
      "rankTau" -> rankTau.toString, "rankBatch" -> rankBatch.toString,
      "optimizer" -> optimizer),
      Seq("flat" -> flatKernel, "yMeans" -> yMean, "yStds" -> yStd))
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }

  def fit(df: DataFrame): this.type = {
    val cfg = kernelCfg
    val data = df.select((targetCols ++ lagCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    if (scaleTarget) {
      val exprs = targetCols.map(c => avg(col(c))) ++
        targetCols.map(c => stddev_pop(col(c)))
      val r = data.agg(exprs.head, exprs.tail: _*).collect()(0)
      yMean = Array.tabulate(out)(o => r.getDouble(o))
      yStd = Array.tabulate(out)(o =>
        math.max(r.getDouble(out + o), 1e-12))
    }
    val w = LstmStackBptt.init(cfg, seed)
    SeqAdam.run(data, cfg.size, w, out, yMean, yStd, nFeat, seqLen,
      epochs, lr, seed, batchFraction,
      (bw, x, ys, acc, ms, po) => LstmStackBptt.runMulti(bw, cfg, x, ys,
        acc, LstmStackBptt.rowDrop(effDropouts, ms), po),
      loss, mseWeight, spearmanWeight, rankTau, rankBatch, optimizer)
    materialize(w)
    data.unpersist()
    this
  }

  /** Appends `prediction_{i}` per target through the distributed
    * stacked forward pass, un-standardizing each output. */
  def predict(df: DataFrame): DataFrame = {
    require(cells.nonEmpty, "fit first")
    var scored = LstmScorer.scoreStackedMulti(df, steps, cells, headW,
      headB, norms)
    if (scaleTarget)
      for (o <- 0 until out)
        scored = scored.withColumn(s"prediction_$o",
          col(s"prediction_$o") * lit(yStd(o)) + lit(yMean(o)))
    scored
  }
}

object LSTMMultiTrainer {
  /** Rehydrate a `save`d estimator (shape-validated). */
  def load(path: String): LSTMMultiTrainer = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : LSTMMultiTrainer = {
    WeightsIO.requireFamily(meta, "lstm_multi", where)
    val targets = WeightsIO.namesFromMeta(meta("targets"))
    val layers = WeightsIO.intsFromMeta(meta("layers"))
    val m = new LSTMMultiTrainer(
      WeightsIO.namesFromMeta(meta("lagCols")),
      meta("seqLen").toInt, targets,
      hidden = meta("hidden").toInt, lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      layers = layers, dropout = meta("dropout").toDouble,
      recurrentDropout = meta("recurrentDropout").toDouble,
      layerDropouts = WeightsIO.pairsFromMeta(meta("layerDropouts")),
      layerNorm = meta("layerNorm").toBoolean,
      loss = meta("loss"),
      mseWeight = meta("mseWeight").toDouble,
      spearmanWeight = meta("spearmanWeight").toDouble,
      rankTau = meta("rankTau").toDouble,
      rankBatch = meta("rankBatch").toInt,
      optimizer = meta("optimizer"))
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.kernelCfg.size)
    WeightsIO.requireLen("yMeans", sections("yMeans"), targets.size)
    WeightsIO.requireLen("yStds", sections("yStds"), targets.size)
    m.yMean = sections("yMeans")
    m.yStd = sections("yStds")
    m.materialize(flat)
    m
  }
}
