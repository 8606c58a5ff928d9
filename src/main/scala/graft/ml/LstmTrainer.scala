package graft.ml

import org.apache.spark.sql.DataFrame

/** Trains the LSTM regressor the reference fits with Keras
  * (sequence.py:101-153) — one layer by default, layer stacks via
  * `layers` (the reference's `lstm_units` list) and the single-layer
  * bidirectional layout via `bidirectional`, every layout through the
  * one [[LstmStackBptt]] kernel and the [[SeqAdam]] epoch loop — with
  * the same [[PartitionSum]]-gradient + driver-Adam shape as
  * [[MLPRegressor]]: executors fold rows into ONE flat gradient vector
  * per epoch (per-partition partial sums, added on the driver in
  * partition order), the driver holds only the weight vector. Fitted
  * weights flow into the existing distributed scoring path
  * ([[LstmScorer]] — unrolled pure column arithmetic, no UDF), so
  * fit-once/score-anywhere works exactly like the pinned-weights
  * queries.
  *
  * `targetCol` plus `extraTargetCols` are the reference's
  * `output_units` (base.py:46, sequence.py:146): every output trains
  * jointly through the SHARED recurrent trunk (one Dense(output_units)
  * over the final state) with per-output target standardization, and
  * scores as `prediction` or `prediction_{i}` (base.py:144-150). At
  * several outputs the rank losses flatten (batch, out) to ONE ranked
  * vector (losses.py:67-69); `bidirectional` stays single-output.
  *
  * `lagCols` must be lag-major over `seqLen` timesteps — the
  * LagTransformer output order ([[graft.operators.SequenceReshape]]).
  */
class LSTMTrainer(
    val lagCols: Seq[String],
    val seqLen: Int,
    val targetCol: String,
    val extraTargetCols: Seq[String] = Nil,
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

  /** All targets: `output_units = 1 + extraTargetCols.size`. */
  val targetCols: Seq[String] = targetCol +: extraTargetCols
  require(targetCols.distinct.size == targetCols.size,
    s"target columns repeat a name: ${targetCols.mkString(", ")}")
  require(lagCols.size % seqLen == 0,
    s"${lagCols.size} lag columns do not reshape into $seqLen steps")
  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")
  require(!bidirectional || layers.size <= 1,
    "bidirectional fit covers the single-layer layout the scorer scores")
  require(!bidirectional || extraTargetCols.isEmpty,
    "bidirectional fit covers the single-output layout the scorer scores")
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
  private val out = targetCols.size

  /** The kernel layout: the `layers` list (the reference's
    * `lstm_units`, sequence.py:120) — empty means one layer of `hidden`
    * units, and `layers == Seq(n)` is a one-layer fit of n units — with
    * the optional bidirectional wrapper and trainable use_layer_norm
    * stages, at `out` outputs. `use_batch_norm` training (batch
    * statistics + moving averages) is [[LSTMBnTrainer]]'s; BN scoring
    * parity over pinned moving stats is [[LstmNorm]]'s affine mode. */
  private def kernelCfg: LstmStackBptt.Cfg = LstmStackBptt.Cfg(nFeat,
    if (layers.isEmpty) Seq(hidden) else layers, bidirectional, layerNorm,
    out)

  private var stacked: Seq[LstmWeights] = Nil
  private var stackedNorms: Seq[LstmNorm] = Nil
  private var headW: Array[Array[Double]] = _
  private var headB: Array[Double] = _
  private var bidi: (LstmWeights, LstmWeights, Array[Double], Double) = _
  private var bidiLn: LstmNorm = _
  private var flatKernel: Array[Double] = _
  private var yMean: Array[Double] = Array.fill(out)(0.0)
  private var yStd: Array[Double] = Array.fill(out)(1.0)

  /** The one-layer single-output fit's cell and head (null for stacked,
    * bidirectional and multi-output fits; a layerNorm fit's norm is in
    * [[fittedNorms]]). */
  def fittedWeights: LstmWeights = stacked match {
    case Seq(one) if out == 1 => one
    case _ => null
  }
  /** The stacked cells; at one output the last carries the head. */
  def fittedLayers: Seq[LstmWeights] = stacked
  def fittedNorms: Seq[LstmNorm] = stackedNorms
  def fittedBidi: (LstmWeights, LstmWeights, Array[Double], Double) = bidi

  def steps: Seq[Seq[String]] = lagCols.grouped(nFeat).toSeq

  def fit(df: DataFrame): this.type = {
    val cfg = kernelCfg
    val (data, ym, ys) = SeqAdam.prepare(df, targetCols, lagCols,
      scaleTarget)
    yMean = ym; yStd = ys
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
      stacked = if (out == 1) LstmStackBptt.toStacked(w, cfg)
        else LstmStackBptt.stackCells(w, cfg)
      val (hw, hb) = LstmStackBptt.headMulti(w, cfg)
      headW = hw; headB = hb
      if (layerNorm) stackedNorms = LstmStackBptt.stackNorms(w, cfg)
    }
  }

  /** Persist the FITTED estimator (flat kernel + target scaling +
    * schema + fit recipe) — the sklearn-pickle role the reference gets
    * free from its wrapper (keras_estimators/base.py holds the fitted
    * Keras model inside the sklearn estimator). JSON exact doubles, so
    * [[LSTMTrainer.load]] scores bit-identically (WeightsIOSpec
    * pattern). */
  def familyName: String = if (out == 1) "lstm" else "lstm_multi"
  def predictionNames: Seq[String] = MLPRegressor.predictionNames(out)

  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(flatKernel != null, "fit first")
    val (tm, ts) = WeightsIO.targetParts("lstm", targetCols, yMean, yStd)
    (tm ++ Map(
      "lagCols" -> WeightsIO.namesToMeta(lagCols),
      "seqLen" -> seqLen.toString,
      "hidden" -> hidden.toString,
      "layers" -> layers.mkString(","),
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
      "optimizer" -> optimizer) ++
      (if (out == 1) Map("bidirectional" -> bidirectional.toString)
       else Map.empty),
      ("flat" -> flatKernel) +: ts)
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }

  /** Appends [[predictionNames]] through the distributed unrolled
    * forward pass (stacked — one layer included — or bidirectional to
    * match the fitted layout), un-standardizing each output if the
    * targets were scaled at fit. */
  def predict(df: DataFrame): DataFrame = {
    require(flatKernel != null, "fit first")
    val scored =
      if (bidi != null)
        LstmScorer.scoreBidirectional(df, steps, bidi._1, bidi._2,
          bidi._3, bidi._4, bidiLn)
      else LstmScorer.scoreStackedMulti(df, steps, stacked, headW, headB,
        stackedNorms)
    if (scaleTarget)
      SeqAdam.destandardize(scored, predictionNames, yMean, yStd)
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
    * pipeline-embedded) of either the `lstm` or the `lstm_multi`
    * layout. */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String): LSTMTrainer = {
    val (targets, ym, ys) =
      WeightsIO.targetsFromParts(meta, sections, "lstm", where)
    val m = new LSTMTrainer(
      WeightsIO.namesFromMeta(meta("lagCols")),
      meta("seqLen").toInt, targets.head,
      extraTargetCols = targets.tail,
      hidden = meta("hidden").toInt, lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      layers = WeightsIO.intsFromMeta(meta("layers")),
      bidirectional = meta.get("bidirectional").exists(_.toBoolean),
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
    m.yMean = ym
    m.yStd = ys
    m.materialize(flat)
    m
  }
}
