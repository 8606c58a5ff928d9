package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BatchNorm training for the autoencoder chain — the reference's
  * `BottleneckEncoder` at its real architecture (autoencoder.py:29-69):
  * `BatchNormalization` on the raw inputs and between every Dense and
  * its activation, down the whole list-shaped chain; the reconstruction
  * tap and the target head stay bare Dense layers. The reference
  * default (`encoder_units=[h]`, `ae_units=[h']`) is the chain at one
  * encoder and one head stage: BN at five sites (input, encoder,
  * latent, decoder, head).
  *
  * Batched kernel: each bounded in-partition batch of `batchSize` rows
  * is one BN statistics group, every site's backward couples the
  * batch's rows ([[BatchNorm.backward]]), GaussianNoise draws after
  * the input BN, per-stage dropout after each activation. Inference
  * re-estimates each site's POPULATION statistics at the final weights
  * (site by site, upstream affines folded) and threads them through
  * [[DeepAeKernel.score]]/[[DeepAeKernel.sql]]'s `aff` parameter, so
  * scoring stays the same staged projection chain + CTE mirror. */
object DeepBnKernel {
  import DeepAeKernel.Cfg

  import Activations.{swish, swishD}

  /** BN site widths: site 0 = the input (k), then one per ACT stage in
    * stage order. */
  def bnWidths(c: Cfg): Seq[Int] =
    c.k +: c.stages.filter(_.act).map(_.nOut)
  def size(c: Cfg): Int = c.size + 2 * bnWidths(c).sum
  def bnOff(c: Cfg, site: Int): Int =
    c.size + 2 * bnWidths(c).take(site).sum
  private def gammaOf(p: Array[Double], c: Cfg, site: Int): Array[Double] = {
    val w = bnWidths(c)(site); val o = bnOff(c, site)
    Array.tabulate(w)(j => p(o + j))
  }
  private def betaOf(p: Array[Double], c: Cfg, site: Int): Array[Double] = {
    val w = bnWidths(c)(site); val o = bnOff(c, site)
    Array.tabulate(w)(j => p(o + w + j))
  }

  /** Per-site batch-statistics accumulator length for [[runBatch]]'s
    * `bnStats` (per site: mean sums then var sums; one trailing batch
    * counter, which each call with `bnStats` steps). */
  def statsLen(c: Cfg): Int = 2 * bnWidths(c).sum + 1

  /** One batch's mean joint loss; if `acc` != null accumulates the
    * batch-mean gradient (flat layout: core stages then BN site
    * blocks). `xs` is the RAW feature block — the input BN conditions
    * it and the reconstruction targets it in raw space. `seeds` draw
    * each row's noise (k Gaussians when noiseStd > 0) then per-stage
    * dropout masks in stage order. `predOut` ([b][out], nullable)
    * receives the target head's outputs. With `injectTgt` non-null the
    * target-head gradient rows are taken verbatim per output (rank-loss
    * surrogate: dL/dpred_{i,o}, [b][out], scaled here by tw only) and
    * the returned loss is the reconstruction term alone — the caller
    * adds its own target loss. */
  def runBatch(p: Array[Double], c: Cfg, xs: Array[Array[Double]],
      ysM: Array[Array[Double]], rw: Double, tw: Double,
      acc: Array[Double], noiseStd: Double = 0.0,
      seeds: Array[Long] = null, bnStats: Array[Double] = null,
      predOut: Array[Array[Double]] = null,
      injectTgt: Array[Array[Double]] = null): Double = {
    val b = xs.length
    val nS = c.stages.size
    val useNoise = noiseStd > 0.0 && seeds != null
    val anyDrop = seeds != null && c.stages.exists(_.drop > 0)
    val masks = new Array[Array[Array[Double]]](b) // [row][stage][unit]
    val noise = if (!useNoise) null else Array.ofDim[Double](b, c.k)
    if (seeds != null && (useNoise || anyDrop)) {
      var i = 0
      while (i < b) {
        val rng = new java.util.Random(seeds(i))
        if (useNoise) {
          var f = 0
          while (f < c.k) {
            noise(i)(f) = rng.nextGaussian() * noiseStd; f += 1
          }
        }
        if (anyDrop) {
          masks(i) = new Array[Array[Double]](nS)
          for (s <- 0 until nS)
            masks(i)(s) =
              if (c.stages(s).drop <= 0) null
              else SeqAdam.invBernoulli(rng, c.stages(s).drop,
                c.stages(s).nOut)
        }
        i += 1
      }
    }
    @inline def mask(i: Int, s: Int): Array[Double] =
      if (masks(i) == null) null else masks(i)(s)

    val widths = bnWidths(c)
    @inline def accStats(site: Int, f: BatchNorm.Fwd): Unit =
      if (bnStats != null) {
        val w0 = widths(site); val o = 2 * widths.take(site).sum
        var j = 0
        while (j < w0) {
          bnStats(o + j) += f.mean(j)
          bnStats(o + w0 + j) += f.varB(j)
          j += 1
        }
      }

    // ---- forward ----
    val bn0 = BatchNorm.forward(xs, gammaOf(p, c, 0), betaOf(p, c, 0))
    accStats(0, bn0)
    val x0 = if (!useNoise) bn0.out
      else Array.tabulate(b, c.k)((i, f) => bn0.out(i)(f) + noise(i)(f))
    val acts = new Array[Array[Array[Double]]](nS + 1) // [stage][b][w]
    val bnCache = new Array[BatchNorm.Fwd](nS)         // act stages only
    acts(0) = x0
    var site = 1
    for (s <- 0 until nS) {
      val st = c.stages(s)
      val off = c.stageOff(s)
      val in = acts(s)
      val z = Array.tabulate(b, st.nOut) { (i, j) =>
        var v = p(off + st.nIn * st.nOut + j)
        var i2 = 0
        while (i2 < st.nIn) {
          v += in(i)(i2) * p(off + i2 * st.nOut + j); i2 += 1
        }
        v
      }
      acts(s + 1) = if (!st.act) z else {
        val bnF = BatchNorm.forward(z, gammaOf(p, c, site),
          betaOf(p, c, site))
        accStats(site, bnF)
        bnCache(s) = bnF
        site += 1
        Array.tabulate(b, st.nOut) { (i, j) =>
          val m = mask(i, s)
          swish(bnF.out(i)(j)) * (if (m == null) 1.0 else m(j))
        }
      }
    }
    if (bnStats != null) bnStats(bnStats.length - 1) += 1.0
    val r = acts(c.tapStage + 1)
    val preds = acts(nS)
    if (predOut != null)
      for (i <- 0 until b) System.arraycopy(preds(i), 0, predOut(i), 0, c.out)
    var recon = 0.0
    var tgt = 0.0
    var i = 0
    while (i < b) {
      var f = 0
      while (f < c.k) {
        val d = r(i)(f) - xs(i)(f); recon += d * d; f += 1
      }
      if (injectTgt == null) {
        var o = 0
        while (o < c.out) {
          val d = preds(i)(o) - ysM(i)(o); tgt += d * d; o += 1
        }
      }
      i += 1
    }
    val reconLoss = rw * recon / (c.k * b)
    val loss = if (injectTgt != null) reconLoss
      else reconLoss + tw * tgt / (c.out * b)
    if (acc == null) return loss

    // ---- backward (batch-mean) ----
    var dOut = if (injectTgt != null)
      Array.tabulate(b, c.out)((i2, o) => tw * injectTgt(i2)(o))
    else Array.tabulate(b, c.out)((i2, o) =>
      2.0 * tw / (c.out * b) * (preds(i2)(o) - ysM(i2)(o)))
    var s = nS - 1
    site = bnWidths(c).size - 1
    while (s >= 0) {
      val st = c.stages(s)
      val off = c.stageOff(s)
      val in = acts(s)
      val dZ: Array[Array[Double]] = if (!st.act) dOut else {
        val bnF = bnCache(s)
        val dBnOut = Array.tabulate(b, st.nOut) { (i2, j) =>
          val m = mask(i2, s)
          dOut(i2)(j) * (if (m == null) 1.0 else m(j)) *
            swishD(bnF.out(i2)(j))
        }
        val tg = new Array[Double](st.nOut)
        val tb = new Array[Double](st.nOut)
        val dZ0 = BatchNorm.backward(bnF, gammaOf(p, c, site), dBnOut,
          tg, tb)
        val o0 = bnOff(c, site)
        var j = 0
        while (j < st.nOut) {
          acc(o0 + j) += tg(j)
          acc(o0 + st.nOut + j) += tb(j)
          j += 1
        }
        site -= 1
        dZ0
      }
      var j = 0
      while (j < st.nOut) {
        var sum = 0.0
        var i2 = 0
        while (i2 < b) { sum += dZ(i2)(j); i2 += 1 }
        acc(off + st.nIn * st.nOut + j) += sum
        j += 1
      }
      var i0 = 0
      while (i0 < st.nIn) {
        var j2 = 0
        while (j2 < st.nOut) {
          var sum = 0.0
          var i2 = 0
          while (i2 < b) { sum += in(i2)(i0) * dZ(i2)(j2); i2 += 1 }
          acc(off + i0 * st.nOut + j2) += sum
          j2 += 1
        }
        i0 += 1
      }
      // arriving AT the tap's output: the reconstruction gradient
      // starts the sum over the stage's outputs
      val atTap = s - 1 == c.tapStage
      dOut = Array.tabulate(b, st.nIn) { (i2, i3) =>
        var g = if (atTap) 2.0 * rw / (c.k * b) * (r(i2)(i3) - xs(i2)(i3))
          else 0.0
        var j2 = 0
        while (j2 < st.nOut) {
          g += p(off + i3 * st.nOut + j2) * dZ(i2)(j2); j2 += 1
        }
        g
      }
      s -= 1
    }
    val g0 = new Array[Double](c.k)
    val b0 = new Array[Double](c.k)
    BatchNorm.backwardInput(bn0, dOut, g0, b0)
    val oIn = bnOff(c, 0)
    var f = 0
    while (f < c.k) {
      acc(oIn + f) += g0(f)
      acc(oIn + c.k + f) += b0(f)
      f += 1
    }
    loss
  }

  /** Driver-side INFERENCE chain with population affines folded:
    * aff(0) applies to the raw row, each further pair to its ACT
    * stage's pre-activation. Returns every stage's activation (index
    * s+1; index 0 = the affined input) — the parity-test surface. */
  def forwardAffine(p: Array[Double], c: Cfg,
      aff: Seq[(Array[Double], Array[Double])], x: Array[Double])
      : Array[Array[Double]] = {
    val acts = new Array[Array[Double]](c.stages.size + 1)
    acts(0) = Array.tabulate(c.k)(f => aff(0)._1(f) * x(f) + aff(0)._2(f))
    var site = 1
    for (s <- c.stages.indices) {
      val st = c.stages(s)
      val off = c.stageOff(s)
      val in = acts(s)
      acts(s + 1) = Array.tabulate(st.nOut) { j =>
        var v = p(off + st.nIn * st.nOut + j)
        var i = 0
        while (i < st.nIn) { v += in(i) * p(off + i * st.nOut + j); i += 1 }
        if (st.act) swish(aff(site)._1(j) * v + aff(site)._2(j)) else v
      }
      if (st.act) site += 1
    }
    acts
  }
}

/** Trainer for the reference's DEFAULT BottleneckEncoder architecture
  * (see [[DeepBnKernel]]): BatchNormalization at the input and at every
  * activated stage, trained with TRUE per-batch statistics and the
  * batch-coupled BN backward, GaussianNoise after the input BN,
  * per-stage dropout, joint `rw·mse(recon raw X) + tw·L(target)`
  * objective. Feature columns enter RAW (input BN learns the scaling);
  * targets standardize (destandardized on output); reconstruction
  * trains and scores in raw space — the reference's raw-space MSE that
  * [[DeepJointAutoencoder]]'s standardization mode deviates from.
  *
  * Batches are bounded in-partition row blocks of `batchSize` rows
  * (reference fit default 32, base.py:120), re-shuffled per epoch via
  * the bounded shuffle window — each batch is one BN statistics group
  * and, under the rank losses (`targetLoss` = `spearman` | `combined`,
  * flattened over (batch, out), losses.py:67-69), one ranking
  * neighborhood (Keras batches play both roles).
  *
  * Inference statistics: Keras folds training-time MOVING averages into
  * inference BN; a moving average is order-dependent and ill-defined
  * when batches execute in parallel, so this trainer re-estimates each
  * site's POPULATION statistics over the full training set at the final
  * weights (the "precise BatchNorm" re-estimation), then folds them to
  * per-unit affines so scoring stays a codegen'd projection.
  * `bnInference = "moving_average"` selects the strict-Keras parity mode
  * instead: moving averages of the training batches' statistics
  * (momentum `bnMomentum`, Keras default 0.99, EMA stepped once per
  * optimizer step so it stays order-independent — see the note in
  * [[fit]]), folded through the SAME affine chain. Training weights are
  * identical under both modes; only the inference statistics differ. */
class DeepBnAutoencoder(
    val featureCols: Seq[String],
    val targetCol: String,
    val extraTargetCols: Seq[String] = Nil,
    val encoderUnits: Seq[Int] = Seq(8),
    val latentDim: Int = 2,
    val headUnits: Seq[Int] = Seq(4),
    val encoderDropout: Seq[Double] = Nil,
    val latentDropout: Double = 0.0,
    val headDropout: Seq[Double] = Nil,
    val gaussianNoise: Double = 0.0,
    val reconWeight: Double = 1.0,
    val targetWeight: Double = 1.0,
    val lr: Double = 0.01,
    val epochs: Int = 150,
    val seed: Long = 42L,
    val batchFraction: Double = 0.2,
    val batchSize: Int = 32,
    val optimizer: String = "adam",
    val bnInference: String = "population",
    val bnMomentum: Double = 0.99,
    val targetLoss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3) extends ModelEstimator {

  require(Set("population", "moving_average")(bnInference),
    s"bnInference must be population|moving_average, got $bnInference")
  require(Set("mse", "spearman", "combined")(targetLoss),
    s"targetLoss must be mse|spearman|combined, got $targetLoss")

  val targetCols: Seq[String] = targetCol +: extraTargetCols
  require(targetCols.distinct.size == targetCols.size,
    s"target columns repeat a name: ${targetCols.mkString(", ")}")
  private val nOut = targetCols.size
  private val k = featureCols.size
  val cfg: DeepAeKernel.Cfg = DeepAeKernel.Cfg(k, encoderUnits, latentDim,
    headUnits, nOut, encoderDropout, latentDropout, headDropout)
  val size: Int = DeepBnKernel.size(cfg)

  private var w: Array[Double] = _
  private var affs: Seq[(Array[Double], Array[Double])] = Nil
  private var yMeans: Array[Double] = _
  private var yStds: Array[Double] = _

  def fittedWeights: Array[Double] = w
  def fittedAffines: Seq[(Array[Double], Array[Double])] = affs
  def targetStats: (Array[Double], Array[Double]) = (yMeans, yStds)

  /** Mean batch loss + flat gradient at `p` over `data` (cols 0..nOut-1
    * = standardized targets, then k RAW features). One batch = one BN
    * group = one gradient unit (batch-count normalized) on the MSE and
    * the rank paths alike. `ep` = 0 disables noise/dropout (the
    * finite-difference mode) and pins batch composition. Under a rank
    * `targetLoss` each batch runs the kernel twice: a forward for the
    * predictions, then the backward with the flattened rank gradient
    * injected at the target head. */
  def gradient(data: DataFrame, p: Array[Double], ep: Long = 0L)
      : (Array[Double], Double) = {
    val (kk, nO, bsz) = (k, nOut, batchSize)
    val c = cfg
    val (rw, tw) = (reconWeight, targetWeight)
    val (mw, sw) = if (targetLoss == "spearman") (0.0, 1.0)
      else (mseWeight, spearmanWeight)
    val (tau, rank) = (rankTau, targetLoss != "mse")
    val n = size
    val noiseStd = if (ep == 0L) 0.0 else gaussianNoise
    val wantSeeds = ep != 0L &&
      (gaussianNoise > 0 || c.stages.exists(_.drop > 0))
    val seed0 = seed
    val collect = ep != 0L && bnInference == "moving_average"
    val sLen = DeepBnKernel.statsLen(c)
    val sums = PartitionSum.sum(data.rdd,
        n + 2 + (if (collect) sLen else 0)) { (part, it, acc) =>
      val stats = if (collect) new Array[Double](sLen) else null
      var idx = 0L
      SeqAdam.shuffledBatches(it, bsz, seed0, ep, part).foreach { batch =>
        val b = batch.size
        val xs = new Array[Array[Double]](b)
        val ys = new Array[Array[Double]](b)
        val seeds = if (!wantSeeds) null else new Array[Long](b)
        var i = 0
        batch.foreach { row =>
          ys(i) = Array.tabulate(nO)(o => row.getDouble(o))
          xs(i) = Array.tabulate(kk)(j => row.getDouble(j + nO))
          if (seeds != null)
            seeds(i) = SeqAdam.maskSeed(seed0, ep, part, idx)
          idx += 1
          i += 1
        }
        if (!rank) {
          acc(n) += DeepBnKernel.runBatch(p, c, xs, ys, rw, tw, acc,
            noiseStd, seeds, stats)
          acc(n + 1) += 1.0
        } else if (b >= 2 || mw != 0.0 || nO >= 2) {
          // stats collect on this pass only — the inject pass below
          // re-runs the identical forward over the same batch
          val po = Array.ofDim[Double](b, nO)
          DeepBnKernel.runBatch(p, c, xs, ys, rw, tw, null, noiseStd,
            seeds, stats, predOut = po)
          val (dLt, tLoss) = RankLoss.combinedGrad(po.flatten, ys.flatten,
            tau, mw, sw)
          val inj = Array.tabulate(b, nO)((i2, o) => dLt(i2 * nO + o))
          acc(n) += DeepBnKernel.runBatch(p, c, xs, ys, rw, tw, acc,
            noiseStd, seeds, injectTgt = inj) + tw * tLoss
          acc(n + 1) += 1.0
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

  def fit(df: DataFrame): this.type = {
    val data = df.select((targetCols ++ featureCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    val yAggs = targetCols.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c))))
    val yr = data.agg(yAggs.head, yAggs.tail: _*).collect()(0)
    yMeans = Array.tabulate(nOut)(o => yr.getDouble(2 * o))
    yStds = Array.tabulate(nOut)(o =>
      math.max(yr.getDouble(2 * o + 1), 1e-12))
    val std = data.select(
      targetCols.zipWithIndex.map { case (c, o) =>
        ((col(c) - lit(yMeans(o))) / lit(yStds(o))).as(s"__y$o")
      } ++
      featureCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__x$i")
      }: _*)
    std.cache(); std.count(); data.unpersist()

    val p = new Array[Double](size)
    System.arraycopy(DeepAeKernel.init(cfg, seed), 0, p, 0, cfg.size)
    val widths = DeepBnKernel.bnWidths(cfg)
    for (site <- widths.indices; j <- 0 until widths(site))
      p(DeepBnKernel.bnOff(cfg, site) + j) = 1.0 // gamma=1, beta=0
    val adam = new AdamState(size, lr, optimizer)
    // strict-Keras inference statistics (bnInference="moving_average"):
    // Keras initializes moving_mean=0 / moving_var=1 and updates them
    // from each training batch's statistics with momentum 0.99. A
    // literal per-batch EMA is order-dependent and ill-defined when
    // batches execute in parallel, so the EMA step here is per OPTIMIZER
    // STEP (= epoch): the step's batches all run at the same weights,
    // their statistics average order-independently, and that average
    // feeds one EMA update. Keras steps the EMA once per BATCH; an epoch
    // of k batches whose statistics all sit near the epoch average
    // composes in closed form to momentum^k — without this the (0,1)
    // initialization keeps ~momentum^epochs weight (0.99^150 ≈ 0.22)
    // and the folded statistics stay visibly biased
    val maMean = widths.map(w0 => new Array[Double](w0))
    val maVar = widths.map(w0 => Array.fill(w0)(1.0))
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
        for (s <- widths.indices) {
          val w0 = widths(s)
          var j = 0
          while (j < w0) {
            maMean(s)(j) = effM * maMean(s)(j) +
              (1.0 - effM) * st(o + j) / batches
            maVar(s)(j) = effM * maVar(s)(j) +
              (1.0 - effM) * st(o + w0 + j) / batches
            j += 1
          }
          o += 2 * w0
        }
      }
    }
    affs =
      if (bnInference == "moving_average")
        widths.indices.map(s => BatchNorm.affine(
          Array.tabulate(widths(s))(j => p(DeepBnKernel.bnOff(cfg, s) + j)),
          Array.tabulate(widths(s))(j =>
            p(DeepBnKernel.bnOff(cfg, s) + widths(s) + j)),
          maMean(s), maVar(s)))
      else reestimate(std, p)
    w = p
    std.unpersist()
    this
  }

  /** Site-by-site population statistics at the fitted weights: one pass
    * per BN site, each folding every earlier site's affine (noise and
    * dropout off — the inference network). */
  private def reestimate(std: DataFrame, p: Array[Double])
      : Seq[(Array[Double], Array[Double])] = {
    val (kk, nO) = (k, nOut)
    val c = cfg
    val widths = DeepBnKernel.bnWidths(c)
    val built = scala.collection.mutable.ArrayBuffer
      .empty[(Array[Double], Array[Double])]
    for (site <- widths.indices) {
      val wWidth = widths(site)
      val prior = built.toArray
      val stats = PartitionSum.sum(std.rdd, 2 * wWidth + 1) { (_, it, s) =>
        it.foreach { row =>
          val x = Array.tabulate(kk)(j => row.getDouble(j + nO))
          // pre-normalization values of this site: the raw row (site 0)
          // or the target ACT stage's Dense pre-activation with every
          // earlier affine folded
          val v: Array[Double] = if (site == 0) x else {
            var in = Array.tabulate(kk)(f =>
              prior(0)._1(f) * x(f) + prior(0)._2(f))
            var si = 1
            var out: Array[Double] = null
            var st0 = 0
            while (out == null) {
              val st = c.stages(st0)
              val off = c.stageOff(st0)
              val z = Array.tabulate(st.nOut) { j =>
                var g = p(off + st.nIn * st.nOut + j)
                var i = 0
                while (i < st.nIn) {
                  g += in(i) * p(off + i * st.nOut + j); i += 1
                }
                g
              }
              if (st.act) {
                if (si == site) out = z
                else {
                  val (sc, sh) = prior(si)
                  in = Array.tabulate(st.nOut)(j =>
                    Activations.swish(sc(j) * z(j) + sh(j)))
                  si += 1
                }
              } else in = z
              st0 += 1
            }
            out
          }
          var u = 0
          while (u < wWidth) {
            s(u) += v(u); s(wWidth + u) += v(u) * v(u); u += 1
          }
          s(2 * wWidth) += 1.0
        }
      }
      val (mean, varr) = BatchNorm.population(stats, wWidth)
      val o = DeepBnKernel.bnOff(c, site)
      val gamma = Array.tabulate(wWidth)(j => p(o + j))
      val beta = Array.tabulate(wWidth)(j => p(o + wWidth + j))
      built += BatchNorm.affine(gamma, beta, mean, varr)
    }
    built.toSeq
  }

  private def affFeats: Seq[Column] = {
    require(w != null, "fit first")
    featureCols.zipWithIndex.map { case (c, i) =>
      col(c).cast("double") * lit(affs.head._1(i)) + lit(affs.head._2(i))
    }
  }

  /** Appends `latent_{i}` (the encoder surface, autoencoder.py:45-47). */
  def transform(df: DataFrame): DataFrame =
    DeepAeKernel.score(df, affFeats, w, cfg, affs.tail,
      upTo = cfg.latentStage + 1)

  /** Appends `latent_{i}` and raw-space `recon_{i}` (the BN chain trains
    * reconstruction in raw units, so there is nothing to undo). */
  def reconstruct(df: DataFrame): DataFrame =
    DeepAeKernel.score(df, affFeats, w, cfg, affs.tail,
      upTo = cfg.tapStage + 1)

  /** Appends `latent_{i}` and the destandardized prediction(_{i})
    * head(s) through the affine-threaded staged chain; recon is
    * [[reconstruct]]'s. */
  def predict(df: DataFrame): DataFrame = {
    val scored = DeepAeKernel.score(df, affFeats, w, cfg, affs.tail)
    SeqAdam.destandardize(scored, MLPRegressor.predictionNames(nOut),
      yMeans, yStds).drop(featureCols.indices.map(f => s"recon_$f"): _*)
  }

  def familyName: String = "deep_bn_ae"
  def predictionNames: Seq[String] =
    (0 until latentDim).map(i => s"latent_$i") ++
      MLPRegressor.predictionNames(nOut)

  /** The fitted payload: flat kernel, the folded per-site BN inference
    * affines, target stats, and the architecture — the sklearn-pickle
    * role; exact-double JSON so [[DeepBnAutoencoder.load]] scores
    * bit-identically. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(w != null, "fit first")
    val affSecs = affs.zipWithIndex.flatMap { case ((s, c), i) =>
      Seq(s"aff${i}_s" -> s, s"aff${i}_c" -> c)
    }
    (Map(
      "family" -> "deep_bn_ae",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "targets" -> WeightsIO.namesToMeta(targetCols),
      "encoderUnits" -> encoderUnits.mkString(","),
      "latentDim" -> latentDim.toString,
      "headUnits" -> headUnits.mkString(","),
      "encoderDropout" -> encoderDropout.mkString(","),
      "latentDropout" -> latentDropout.toString,
      "headDropout" -> headDropout.mkString(","),
      "gaussianNoise" -> gaussianNoise.toString,
      "reconWeight" -> reconWeight.toString,
      "targetWeight" -> targetWeight.toString,
      "lr" -> lr.toString, "epochs" -> epochs.toString,
      "seed" -> seed.toString,
      "batchFraction" -> batchFraction.toString,
      "batchSize" -> batchSize.toString,
      "optimizer" -> optimizer, "bnInference" -> bnInference,
      "bnMomentum" -> bnMomentum.toString,
      "targetLoss" -> targetLoss,
      "mseWeight" -> mseWeight.toString,
      "spearmanWeight" -> spearmanWeight.toString,
      "rankTau" -> rankTau.toString,
      "nAffines" -> affs.size.toString),
      Seq("flat" -> w, "yMeans" -> yMeans, "yStds" -> yStds) ++ affSecs)
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }

  /** Installs a saved fit (shape-validated) — the loaders' path: the
    * flat kernel, then `nAffines` inference affines and the target
    * stats from the payload. The site count and widths come from the
    * kernel's ONE invariant (the accessor fit's population
    * re-estimation walks); the count is validated BEFORE the section
    * reads. */
  private def install(flat: Array[Double], meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String): this.type = {
    WeightsIO.requireLen("flat", flat, size)
    val siteDims = DeepBnKernel.bnWidths(cfg)
    val nAff = meta("nAffines").toInt
    require(nAff == siteDims.size,
      s"$where holds $nAff affines, expected ${siteDims.size}")
    val a = (0 until nAff).map { i =>
      (sections(s"aff${i}_s"), sections(s"aff${i}_c"))
    }
    a.zip(siteDims).zipWithIndex.foreach { case (((sc, cc), d), i) =>
      WeightsIO.requireLen(s"aff${i}_s", sc, d)
      WeightsIO.requireLen(s"aff${i}_c", cc, d)
    }
    WeightsIO.requireLen("yMeans", sections("yMeans"), nOut)
    WeightsIO.requireLen("yStds", sections("yStds"), nOut)
    w = flat
    affs = a
    yMeans = sections("yMeans"); yStds = sections("yStds")
    this
  }
}

object DeepBnAutoencoder {
  /** Rehydrate a `save`d estimator (shape-validated). */
  def load(path: String): DeepBnAutoencoder = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded): a `deep_bn_ae` payload, or a `bn_ae` payload of
    * the former single-stage model (see [[fromBnAe]]). Payloads saved
    * before the rank-loss keys existed load with their defaults. */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : DeepBnAutoencoder = {
    if (meta.get("family").contains("bn_ae"))
      return fromBnAe(meta, sections, where)
    WeightsIO.requireFamily(meta, "deep_bn_ae", where)
    val targets = WeightsIO.namesFromMeta(meta("targets"))
    val m = new DeepBnAutoencoder(
      WeightsIO.namesFromMeta(meta("features")), targets.head,
      extraTargetCols = targets.tail,
      encoderUnits = WeightsIO.intsFromMeta(meta("encoderUnits")),
      latentDim = meta("latentDim").toInt,
      headUnits = WeightsIO.intsFromMeta(meta("headUnits")),
      encoderDropout = WeightsIO.doublesFromMeta(meta("encoderDropout")),
      latentDropout = meta("latentDropout").toDouble,
      headDropout = WeightsIO.doublesFromMeta(meta("headDropout")),
      gaussianNoise = meta("gaussianNoise").toDouble,
      reconWeight = meta("reconWeight").toDouble,
      targetWeight = meta("targetWeight").toDouble,
      lr = meta("lr").toDouble, epochs = meta("epochs").toInt,
      seed = meta("seed").toLong,
      batchFraction = meta("batchFraction").toDouble,
      batchSize = meta("batchSize").toInt,
      optimizer = meta("optimizer"),
      bnInference = meta("bnInference"),
      bnMomentum = meta("bnMomentum").toDouble,
      targetLoss = meta.getOrElse("targetLoss", "mse"),
      mseWeight = meta.get("mseWeight").fold(2.0)(_.toDouble),
      spearmanWeight = meta.get("spearmanWeight").fold(1.0)(_.toDouble),
      rankTau = meta.get("rankTau").fold(1e-3)(_.toDouble))
    m.install(sections("flat"), meta, sections, where)
  }

  /** Decoder of the former single-stage `bn_ae` payload (meta `hE`,
    * `latent`, `hA`, `nOut`; its flat kernel is the one-stage layout
    * with an output-major multi-output head, transposed here to the
    * input-major head, then the five BN sites' blocks in this chain's
    * order). That payload carried no target names or training options:
    * the targets are named `target` (one output) or `target_{i}`, and
    * every training option takes its default. */
  private def fromBnAe(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : DeepBnAutoencoder = {
    val (hE, l, hA, nOut) = (meta("hE").toInt, meta("latent").toInt,
      meta("hA").toInt, meta("nOut").toInt)
    val targets = if (nOut == 1) Seq("target")
      else (0 until nOut).map(o => s"target_$o")
    val m = new DeepBnAutoencoder(
      WeightsIO.namesFromMeta(meta("features")), targets.head,
      extraTargetCols = targets.tail, encoderUnits = Seq(hE),
      latentDim = l, headUnits = Seq(hA))
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.size)
    m.install(DeepJointAutoencoder.headInputMajor(flat, m.cfg.size, hA,
      nOut), meta, sections, where)
  }
}
