package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LSTM `use_batch_norm` TRAINING (sequence.py:108,143-144) — all the
  * layouts the scorer scores: single-layer, bidirectional, and STACKED
  * `lstm_units` lists. Keras places a BatchNormalization after every
  * LSTM layer: inner (return_sequences) layers carry a (batch, time,
  * units) tensor, so their BN normalizes over batch×time; the last
  * layer's BN normalizes its final (bidi: concatenated) state over the
  * batch. Training is faithful per-batch semantics throughout: each
  * bounded in-partition batch normalizes with ITS OWN statistics, the
  * backward couples the batch's rows (and, for inner sites, timesteps)
  * through them ([[BatchNorm.backward]]), and every gamma/beta trains
  * jointly with the cells — the single/bidi path injects the state
  * gradient through [[LstmStackBptt.StateSession]]; the stacked path
  * synchronizes layers at batch level through
  * [[LstmStackBptt.LayerSession]], running BN between each layer's
  * per-row forward sweeps. Keras dropout/recurrent_dropout and the
  * rank losses compose (head-side gradients inject directly).
  *
  * Inference folds POPULATION statistics — re-estimated site by site
  * over the full training set at the final weights (inner sites over
  * all rows × timesteps, exactly the tensor Keras' moving averages
  * see), the order-independent analog of Keras' moving average — into
  * the scorer's [[LstmNorm]] moving-stats slots, so fitted models score
  * through the SAME distributed staged forward as the pinned-BN
  * inference path (q_lstm_ln).
  *
  * `layerNorm = true` adds the BOTH-FLAGS Keras stacking
  * (sequence.py:141-144 applies LayerNormalization first, then
  * BatchNormalization): a trainable per-sample LN precedes each BN
  * site during training, and at inference the BN population affine
  * FOLDS INTO the LN's gamma/beta (affine∘LN is again an LN), so the
  * fitted model still scores through one [[LstmNorm]] per layer with
  * no scorer changes. */
class LSTMBnTrainer(
    val lagCols: Seq[String],
    val seqLen: Int,
    val targetCol: String,
    val hidden: Int = 8,
    val layers: Seq[Int] = Nil,
    val bidirectional: Boolean = false,
    val lr: Double = 1e-2,
    val epochs: Int = 150,
    val seed: Long = 42L,
    val scaleTarget: Boolean = true,
    val batchFraction: Double = 0.2,
    val batchSize: Int = 32,
    val dropout: Double = 0.0,
    val recurrentDropout: Double = 0.0,
    val layerNorm: Boolean = false,
    val loss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val optimizer: String = "adam",
    val bnInference: String = "population",
    val bnMomentum: Double = 0.99) extends Serializable {

  require(lagCols.size % seqLen == 0,
    s"${lagCols.size} lag columns do not reshape into $seqLen steps")
  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  require(Set("population", "moving_average")(bnInference),
    s"bnInference must be population|moving_average, got $bnInference")
  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")

  private val effLayers: Seq[Int] = if (layers.isEmpty) Seq(hidden) else layers
  private val nLayers = effLayers.size
  require(!bidirectional || nLayers == 1,
    "bidirectional fit covers the single-layer layout the scorer scores")

  private val nFeat = lagCols.size / seqLen
  private val cfg = LstmStackBptt.Cfg(nFeat, effLayers,
    bidi = bidirectional)
  private val hd = cfg.headDim
  /** BN site widths: one block per layer (inner sites over the
    * return_sequences units, the last over the final state; bidi one
    * block over the concatenated state). */
  private val bnWidths: Seq[Int] =
    if (bidirectional) Seq(2 * effLayers.head) else effLayers
  private def bnBlockOff(l: Int): Int =
    cfg.size + 2 * bnWidths.take(l).sum
  /** LN gamma/beta blocks (both-flags mode) sit after the BN blocks. */
  private def lnBlockOff(l: Int): Int =
    cfg.size + 2 * bnWidths.sum + 2 * bnWidths.take(l).sum
  /** Flat size: kernel cells + head, per-site BN gamma/beta, then (in
    * both-flags mode) per-site LN gamma/beta. */
  val size: Int = cfg.size + 2 * bnWidths.sum +
    (if (layerNorm) 2 * bnWidths.sum else 0)

  private var w: Array[Double] = _
  private var norms: Seq[LstmNorm] = Nil
  private var yMean = 0.0
  private var yStd = 1.0

  def steps: Seq[Seq[String]] = lagCols.grouped(nFeat).toSeq
  def fittedNorm: LstmNorm = norms.last
  def fittedNorms: Seq[LstmNorm] = norms
  def fittedWeights: Array[Double] = w
  def config: LstmStackBptt.Cfg = cfg
  def targetStats: (Double, Double) = (yMean, yStd)

  @inline private def gammaOf(p: Array[Double], l: Int): Array[Double] =
    Array.tabulate(bnWidths(l))(i => p(bnBlockOff(l) + i))
  @inline private def betaOf(p: Array[Double], l: Int): Array[Double] =
    Array.tabulate(bnWidths(l))(i => p(bnBlockOff(l) + bnWidths(l) + i))
  @inline private def lnGammaOf(p: Array[Double], l: Int): Array[Double] =
    Array.tabulate(bnWidths(l))(i => p(lnBlockOff(l) + i))
  @inline private def lnBetaOf(p: Array[Double], l: Int): Array[Double] =
    Array.tabulate(bnWidths(l))(i => p(lnBlockOff(l) + bnWidths(l) + i))

  /** Per-sample trainable LayerNorm for the both-flags mode: forward
    * returns (y, xhat, invStd); backward accumulates dGamma/dBeta into
    * the given arrays and returns dx. Keras LN eps 1e-3. */
  private object Ln {
    def forward(x: Array[Double], gamma: Array[Double],
        beta: Array[Double]): (Array[Double], Array[Double], Double) = {
      val h = x.length
      var mu = 0.0
      var i = 0
      while (i < h) { mu += x(i); i += 1 }
      mu /= h
      var v = 0.0
      i = 0
      while (i < h) { val d = x(i) - mu; v += d * d; i += 1 }
      val s0 = 1.0 / math.sqrt(v / h + BatchNorm.Eps)
      val xhat = Array.tabulate(h)(j => (x(j) - mu) * s0)
      (Array.tabulate(h)(j => gamma(j) * xhat(j) + beta(j)), xhat, s0)
    }
    def backward(dy: Array[Double], xhat: Array[Double], s0: Double,
        gamma: Array[Double], dG: Array[Double], dB: Array[Double])
        : Array[Double] = {
      val h = dy.length
      val dxhat = new Array[Double](h)
      var mDx = 0.0
      var mDxX = 0.0
      var i = 0
      while (i < h) {
        dG(i) += dy(i) * xhat(i)
        dB(i) += dy(i)
        dxhat(i) = dy(i) * gamma(i)
        mDx += dxhat(i); mDxX += dxhat(i) * xhat(i)
        i += 1
      }
      mDx /= h; mDxX /= h
      Array.tabulate(h)(j => s0 * (dxhat(j) - mDx - xhat(j) * mDxX))
    }
  }

  /** Batched epoch gradient: one batch = one BN statistics group = one
    * gradient unit (batch-count normalized). The MSE mode is defined as
    * [[RankLoss.combinedGrad]] at mseW=1, spW=0 — dL/dpred = 2(p−y)/b,
    * loss = mean (p−y)² — so the rank losses are the same code path
    * with different weights (delta-linearity by construction). `ep` = 0
    * disables dropout and pins batch composition (the FD spec mode). */
  def gradient(data: DataFrame, p: Array[Double], ep: Long = 0L)
      : (Array[Double], Double) = {
    val (f, t0) = (nFeat, seqLen)
    val c = cfg
    val n = size
    val nL = nLayers
    val widths = bnWidths
    val offs = widths.indices.map(bnBlockOff)
    val hdd = hd
    val bsz = batchSize
    val seed0 = seed
    val anyDrop = (dropout > 0 || recurrentDropout > 0) && ep != 0L
    val (din, drec) = (dropout, recurrentDropout)
    val (mw, sw) = loss match {
      case "mse" => (1.0, 0.0)
      case "spearman" => (0.0, 1.0)
      case _ => (mseWeight, spearmanWeight)
    }
    val tau = rankTau
    val spearmanOnly = loss == "spearman"
    val stacked = nL > 1
    val gammas = widths.indices.map(l => gammaOf(p, l)).toArray
    val betas = widths.indices.map(l => betaOf(p, l)).toArray
    val lnG = if (!layerNorm) null
      else widths.indices.map(l => lnGammaOf(p, l)).toArray
    val lnB = if (!layerNorm) null
      else widths.indices.map(l => lnBetaOf(p, l)).toArray
    val lnOffs = if (!layerNorm) null
      else widths.indices.map(lnBlockOff).toArray
    // moving-average mode: per-site batch-statistics sums ride the same
    // partition sum (layout: per site mean-sums then var-sums, then one
    // trailing batch counter)
    val collect = ep != 0L && bnInference == "moving_average"
    val sLen = 2 * widths.sum + 1
    val sums = PartitionSum.sum(data.rdd,
        n + 2 + (if (collect) sLen else 0)) { (part, it, acc) =>
      val stats = if (collect) new Array[Double](sLen) else null
      var idx = 0L
      SeqAdam.shuffledBatches(it, bsz, seed0, ep, part).foreach { batch =>
        val b = batch.size
        // the pure Spearman loss is undefined on one row; every other
        // config lets a leftover singleton contribute its MSE term
        if (b >= 2 || !spearmanOnly) {
          val ys = new Array[Double](b)
          val xs = new Array[Array[Array[Double]]](b)
          val drops = new Array[LstmStackBptt.Drop](b)
          var i = 0
          batch.foreach { row =>
            ys(i) = row.getDouble(0)
            xs(i) = Array.tabulate(t0, f)((t, j) =>
              row.getDouble(1 + t * f + j))
            drops(i) = if (!anyDrop) null
              else LstmStackBptt.Drop(din, drec,
                SeqAdam.maskSeed(seed0, ep, part, idx))
            idx += 1
            i += 1
          }
          val lossVal =
            if (!stacked) runSingle(p, c, acc, xs, ys, drops, gammas(0),
              betas(0), offs(0), hdd, tau, mw, sw,
              if (lnG == null) null else lnG(0),
              if (lnB == null) null else lnB(0),
              if (lnOffs == null) -1 else lnOffs(0), stats)
            else runStacked(p, c, acc, xs, ys, drops, gammas, betas,
              offs.toArray, widths.toArray, hdd, tau, mw, sw,
              lnG, lnB, lnOffs, stats)
          acc(n) += lossVal
          acc(n + 1) += 1.0
          if (stats != null) stats(sLen - 1) += 1.0
        }
      }
      if (collect) System.arraycopy(stats, 0, acc, n + 2, sLen)
    }
    if (collect) lastEpochStats = sums.slice(n + 2, n + 2 + sLen)
    PartitionSum.mean(sums, n)
  }

  /** Most recent collected per-site batch-statistics sums (driver-side
    * after the partition sum; moving-average mode only). */
  @transient private var lastEpochStats: Array[Double] = _

  /** Accumulate one BN site's batch statistics into `stats` at the
    * site's offset (mean sums then var sums). */
  @inline private def accSite(stats: Array[Double], off: Int,
      width: Int, f: BatchNorm.Fwd): Unit = {
    var u = 0
    while (u < width) {
      stats(off + u) += f.mean(u)
      stats(off + width + u) += f.varB(u)
      u += 1
    }
  }

  /** One batch, single-layer or bidirectional layout: BN over the
    * final (concat) state, gradients through [[StateSession]]s. */
  private def runSingle(p: Array[Double], c: LstmStackBptt.Cfg,
      acc: Array[Double], xs: Array[Array[Array[Double]]],
      ys: Array[Double], drops: Array[LstmStackBptt.Drop],
      gamma: Array[Double], beta: Array[Double], bOff: Int, hdd: Int,
      tau: Double, mw: Double, sw: Double,
      lnG: Array[Double] = null, lnB: Array[Double] = null,
      lnOff: Int = -1, bnStats: Array[Double] = null): Double = {
    val b = xs.length
    val sessions = Array.tabulate(b)(i =>
      new LstmStackBptt.StateSession(p, c, xs(i), drops(i)))
    // both-flags mode: trainable per-row LN precedes the BN site
    // (sequence.py:141-144 order)
    val lnXhat = if (lnG == null) null else new Array[Array[Double]](b)
    val lnS = if (lnG == null) null else new Array[Double](b)
    val z = Array.tabulate(b) { i =>
      val st = sessions(i).state
      if (lnG == null) st else {
        val (y0, xh, s0) = Ln.forward(st, lnG, lnB)
        lnXhat(i) = xh; lnS(i) = s0
        y0
      }
    }
    val bnF = BatchNorm.forward(z, gamma, beta)
    if (bnStats != null) accSite(bnStats, 0, hdd, bnF)
    val preds = Array.tabulate(b) { i =>
      var pr = p(c.headBias)
      var u = 0
      while (u < hdd) { pr += p(c.headOff + u) * bnF.out(i)(u); u += 1 }
      pr
    }
    val (dPred, lossVal) = RankLoss.combinedGrad(preds, ys, tau, mw, sw)
    val dBnOut = Array.tabulate(b, hdd)((i, u) =>
      dPred(i) * p(c.headOff + u))
    var i = 0
    while (i < b) {
      acc(c.headBias) += dPred(i)
      var u = 0
      while (u < hdd) {
        acc(c.headOff + u) += dPred(i) * bnF.out(i)(u); u += 1
      }
      i += 1
    }
    val tmpG = new Array[Double](hdd)
    val tmpB = new Array[Double](hdd)
    val dZ = BatchNorm.backward(bnF, gamma, dBnOut, tmpG, tmpB)
    var u = 0
    while (u < hdd) {
      acc(bOff + u) += tmpG(u)
      acc(bOff + hdd + u) += tmpB(u)
      u += 1
    }
    i = 0
    while (i < b) {
      val dState = if (lnG == null) dZ(i) else {
        val dG = new Array[Double](hdd)
        val dB = new Array[Double](hdd)
        val dx = Ln.backward(dZ(i), lnXhat(i), lnS(i), lnG, dG, dB)
        var u2 = 0
        while (u2 < hdd) {
          acc(lnOff + u2) += dG(u2)
          acc(lnOff + hdd + u2) += dB(u2)
          u2 += 1
        }
        dx
      }
      sessions(i).backward(dState, acc)
      i += 1
    }
    lossVal
  }

  /** One batch, stacked layout: layers synchronize at batch level —
    * layer l's per-row forward sweeps, then BN over the batch×time
    * block (the Keras 3D axis=-1 semantics), feed layer l+1; the last
    * layer's final states batch-normalize before the head. Backward
    * mirrors it: state-BN backward → per-row BPTT of the top layer →
    * inner-BN backward over the stacked per-step input gradients →
    * next layer down. */
  private def runStacked(p: Array[Double], c: LstmStackBptt.Cfg,
      acc: Array[Double], xs: Array[Array[Array[Double]]],
      ys: Array[Double], drops: Array[LstmStackBptt.Drop],
      gammas: Array[Array[Double]], betas: Array[Array[Double]],
      offs: Array[Int], widths: Array[Int], hdd: Int,
      tau: Double, mw: Double, sw: Double,
      lnG: Array[Array[Double]] = null, lnB: Array[Array[Double]] = null,
      lnOffs: Array[Int] = null, bnStats: Array[Double] = null): Double = {
    val b = xs.length
    val t0 = xs(0).length
    val nL = c.layers.size
    val sessions = Array.tabulate(b)(i =>
      new LstmStackBptt.LayerSession(p, c, drops(i)))
    // forward: per-layer sweeps with batch×time BN between layers; in
    // both-flags mode a per-sample LN precedes every BN site (inner
    // sites: one LN per (row, t) sample — the Keras 3D LN axis)
    val innerBn = new Array[BatchNorm.Fwd](nL - 1)
    val lnXhat = if (lnG == null) null
      else Array.ofDim[Array[Array[Double]]](nL)
    val lnS = if (lnG == null) null else Array.ofDim[Array[Double]](nL)
    var cur: Array[Array[Array[Double]]] = xs
    var l = 0
    var states: Array[Array[Double]] = null
    while (l < nL) {
      val hs = Array.tabulate(b)(i => sessions(i).forwardLayer(l, cur(i)))
      if (l < nL - 1) {
        val flat = new Array[Array[Double]](b * t0)
        var i = 0
        while (i < b) {
          var t = 0
          while (t < t0) { flat(i * t0 + t) = hs(i)(t); t += 1 }
          i += 1
        }
        val pre = if (lnG == null) flat else {
          lnXhat(l) = new Array[Array[Double]](b * t0)
          lnS(l) = new Array[Double](b * t0)
          Array.tabulate(b * t0) { q =>
            val (y0, xh, s0) = Ln.forward(flat(q), lnG(l), lnB(l))
            lnXhat(l)(q) = xh; lnS(l)(q) = s0
            y0
          }
        }
        val bnF = BatchNorm.forward(pre, gammas(l), betas(l))
        if (bnStats != null)
          accSite(bnStats, 2 * widths.take(l).sum, widths(l), bnF)
        innerBn(l) = bnF
        cur = Array.tabulate(b, t0)((i, t) => bnF.out(i * t0 + t))
      } else {
        states = Array.tabulate(b) { i =>
          val st = hs(i)(t0 - 1)
          if (lnG == null) st else {
            if (lnXhat(l) == null) {
              lnXhat(l) = new Array[Array[Double]](b)
              lnS(l) = new Array[Double](b)
            }
            val (y0, xh, s0) = Ln.forward(st, lnG(l), lnB(l))
            lnXhat(l)(i) = xh; lnS(l)(i) = s0
            y0
          }
        }
      }
      l += 1
    }
    val bnLast = BatchNorm.forward(states, gammas(nL - 1), betas(nL - 1))
    if (bnStats != null)
      accSite(bnStats, 2 * widths.take(nL - 1).sum, widths(nL - 1), bnLast)
    val preds = Array.tabulate(b) { i =>
      var pr = p(c.headBias)
      var u = 0
      while (u < hdd) { pr += p(c.headOff + u) * bnLast.out(i)(u); u += 1 }
      pr
    }
    val (dPred, lossVal) = RankLoss.combinedGrad(preds, ys, tau, mw, sw)
    // head + state-site BN backward
    val dBnOut = Array.tabulate(b, hdd)((i, u) =>
      dPred(i) * p(c.headOff + u))
    var i = 0
    while (i < b) {
      acc(c.headBias) += dPred(i)
      var u = 0
      while (u < hdd) {
        acc(c.headOff + u) += dPred(i) * bnLast.out(i)(u); u += 1
      }
      i += 1
    }
    val lastOff = offs(nL - 1)
    val tmpG = new Array[Double](hdd)
    val tmpB = new Array[Double](hdd)
    val dStates0 = BatchNorm.backward(bnLast, gammas(nL - 1), dBnOut,
      tmpG, tmpB)
    var u = 0
    while (u < hdd) {
      acc(lastOff + u) += tmpG(u)
      acc(lastOff + hdd + u) += tmpB(u)
      u += 1
    }
    val dStates = if (lnG == null) dStates0 else Array.tabulate(b) { i2 =>
      val dG = new Array[Double](hdd)
      val dB = new Array[Double](hdd)
      val dx = Ln.backward(dStates0(i2), lnXhat(nL - 1)(i2),
        lnS(nL - 1)(i2), lnG(nL - 1), dG, dB)
      var u2 = 0
      while (u2 < hdd) {
        acc(lnOffs(nL - 1) + u2) += dG(u2)
        acc(lnOffs(nL - 1) + hdd + u2) += dB(u2)
        u2 += 1
      }
      dx
    }
    // top layer BPTT, then inner BN + lower layers in reverse
    var dIn: Array[Array[Array[Double]]] =
      Array.tabulate(b) { i2 =>
        val inj = Array.ofDim[Double](t0, c.layers(nL - 1))
        inj(t0 - 1) = dStates(i2)
        sessions(i2).backwardLayer(nL - 1, inj, acc)
      }
    l = nL - 2
    while (l >= 0) {
      val h = c.layers(l)
      // dIn rows are gradients w.r.t. layer l's NORMALIZED outputs
      val flatD = new Array[Array[Double]](b * t0)
      var i2 = 0
      while (i2 < b) {
        var t = 0
        while (t < t0) { flatD(i2 * t0 + t) = dIn(i2)(t); t += 1 }
        i2 += 1
      }
      val tg = new Array[Double](h)
      val tb = new Array[Double](h)
      val dFlat0 = BatchNorm.backward(innerBn(l), gammas(l), flatD, tg, tb)
      var u2 = 0
      while (u2 < h) {
        acc(offs(l) + u2) += tg(u2)
        acc(offs(l) + h + u2) += tb(u2)
        u2 += 1
      }
      val dFlat = if (lnG == null) dFlat0 else Array.tabulate(b * t0) { q =>
        val dG = new Array[Double](h)
        val dB = new Array[Double](h)
        val dx = Ln.backward(dFlat0(q), lnXhat(l)(q), lnS(l)(q),
          lnG(l), dG, dB)
        var u3 = 0
        while (u3 < h) {
          acc(lnOffs(l) + u3) += dG(u3)
          acc(lnOffs(l) + h + u3) += dB(u3)
          u3 += 1
        }
        dx
      }
      dIn = Array.tabulate(b) { i3 =>
        val inj = Array.tabulate(t0)(t => dFlat(i3 * t0 + t))
        sessions(i3).backwardLayer(l, inj, acc)
      }
      l -= 1
    }
    lossVal
  }

  def fit(df: DataFrame): this.type = {
    val data = df.select((targetCol +: lagCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    if (scaleTarget) {
      val r = data.agg(avg(col(targetCol)),
        stddev_pop(col(targetCol))).collect()(0)
      yMean = r.getDouble(0)
      yStd = math.max(r.getDouble(1), 1e-12)
    }
    val std = data.select(
      ((col(data.columns.head) - lit(yMean)) / lit(yStd)) +:
        data.columns.tail.map(col).toSeq: _*)
    std.cache(); std.count(); data.unpersist()

    val p = new Array[Double](size)
    System.arraycopy(LstmStackBptt.init(cfg, seed), 0, p, 0, cfg.size)
    for (l <- bnWidths.indices; u <- 0 until bnWidths(l)) {
      p(bnBlockOff(l) + u) = 1.0 // BN gamma=1, beta=0
      if (layerNorm) p(lnBlockOff(l) + u) = 1.0 // LN gamma=1, beta=0
    }
    val adam = new AdamState(size, lr, optimizer)
    // moving-average inference statistics (strict-Keras mode): EMA of
    // the per-epoch average batch statistics, one composed update of
    // the epoch's k batches per optimizer step (momentum^k — see
    // BnJointAutoencoder.fit for the closed-form rationale); Keras init
    // moving_mean=0 / moving_var=1
    val maMean = bnWidths.map(w0 => new Array[Double](w0))
    val maVar = bnWidths.map(w0 => Array.fill(w0)(1.0))
    for (t <- 1 to epochs) {
      val batch = if (batchFraction >= 1.0) std
        else std.sample(withReplacement = false, batchFraction, seed + t)
      val (g0, _) = gradient(batch, p, t)
      adam.update(p, g0, t)
      if (bnInference == "moving_average" && lastEpochStats != null) {
        val st = lastEpochStats
        val batches = math.max(st(st.length - 1), 1.0)
        val effM = math.pow(bnMomentum, batches)
        var o = 0
        for (s <- bnWidths.indices) {
          val w0 = bnWidths(s)
          var u = 0
          while (u < w0) {
            maMean(s)(u) = effM * maMean(s)(u) +
              (1.0 - effM) * st(o + u) / batches
            maVar(s)(u) = effM * maVar(s)(u) +
              (1.0 - effM) * st(o + w0 + u) / batches
            u += 1
          }
          o += 2 * w0
        }
      }
    }
    // site-by-site inference statistics: population re-estimates at the
    // fitted weights (dropout off; each pass folds every EARLIER site's
    // affine, since downstream activations depend on upstream
    // statistics) — or, in moving-average mode, the training-time EMAs,
    // folded through the IDENTICAL affine/LN composition below
    val built = scala.collection.mutable.ArrayBuffer.empty[LstmNorm]
    for (site <- bnWidths.indices) {
      val (m, v) =
        if (bnInference == "moving_average") (maMean(site), maVar(site))
        else siteStats(std, p, built.toSeq, site)
      built += (if (!layerNorm)
        LstmNorm(gammaOf(p, site), betaOf(p, site), BatchNorm.Eps, m, v)
      else {
        // both-flags fold: the BN population affine (s, c) composes
        // into the LN's gamma/beta — affine∘LN is again an LN, so the
        // scorer sees ONE LayerNorm per site
        val (sc, ch) = BatchNorm.affine(gammaOf(p, site),
          betaOf(p, site), m, v)
        val g = lnGammaOf(p, site)
        val bta = lnBetaOf(p, site)
        LstmNorm(Array.tabulate(bnWidths(site))(u => sc(u) * g(u)),
          Array.tabulate(bnWidths(site))(u => sc(u) * bta(u) + ch(u)),
          BatchNorm.Eps)
      })
    }
    norms = built.toSeq
    w = p
    std.unpersist()
    this
  }

  /** Population mean/variance of BN site `site`'s pre-normalization
    * values over the full training set, with sites < `site` folded to
    * their inference affines. */
  private def siteStats(std: DataFrame, p: Array[Double],
      prior: Seq[LstmNorm], site: Int)
      : (Array[Double], Array[Double]) = {
    val (f, t0) = (nFeat, seqLen)
    val c = cfg
    val nL = nLayers
    val wWidth = bnWidths(site)
    // earlier sites fold to a per-unit affine (BN-only mode) or to a
    // folded LayerNorm (both-flags mode, movingMean == null)
    val priorNorms = prior.toArray
    val lnGv = if (!layerNorm) null else lnGammaOf(p, site)
    val lnBv = if (!layerNorm) null else lnBetaOf(p, site)
    def foldPrior(nm: LstmNorm, v: Array[Double]): Array[Double] =
      if (nm.movingMean != null) {
        val (sc, sh) = BatchNorm.affine(nm.gamma, nm.beta,
          nm.movingMean, nm.movingVar)
        Array.tabulate(v.length)(u => sc(u) * v(u) + sh(u))
      } else Ln.forward(v, nm.gamma, nm.beta)._1
    val stats = PartitionSum.sum(std.rdd, 2 * wWidth + 1) { (_, it, s) =>
      it.foreach { row =>
        val x = Array.tabulate(t0, f)((t, j) => row.getDouble(1 + t * f + j))
        val samples: Seq[Array[Double]] = if (c.bidi || nL == 1) {
          Seq(new LstmStackBptt.StateSession(p, c, x).state)
        } else {
          val sess = new LstmStackBptt.LayerSession(p, c)
          var cur = x
          var out: Seq[Array[Double]] = null
          var l = 0
          while (l <= site) {
            val hs = sess.forwardLayer(l, cur)
            if (l == site)
              out = if (site == nL - 1) Seq(hs(t0 - 1)) else hs.toSeq
            else cur = hs.map(hv => foldPrior(priorNorms(l), hv))
            l += 1
          }
          out
        }
        samples.foreach { v0 =>
          // both-flags mode: the BN site's pre-normalization values are
          // the LN OUTPUTS (sequence.py applies LN first)
          val v = if (lnGv == null) v0 else Ln.forward(v0, lnGv, lnBv)._1
          var u = 0
          while (u < wWidth) {
            s(u) += v(u); s(wWidth + u) += v(u) * v(u); u += 1
          }
          s(2 * wWidth) += 1.0
        }
      }
    }
    BatchNorm.population(stats, wWidth)
  }

  /** Appends `prediction` through the SAME distributed staged forward
    * as the pinned-BN inference scorer (population affines folded per
    * site). */
  def predict(df: DataFrame): DataFrame = {
    require(w != null, "fit first")
    val scored = if (bidirectional) {
      val (fw, bw, wOut, bOut) = LstmStackBptt.toBidi(w, cfg)
      LstmScorer.scoreBidirectional(df, steps, fw, bw, wOut, bOut,
        norms.head)
    } else LstmScorer.scoreStacked(df, steps,
      LstmStackBptt.toStacked(w, cfg), norms)
    if (scaleTarget)
      scored.withColumn("prediction",
        col("prediction") * lit(yStd) + lit(yMean))
    else scored
  }
}
