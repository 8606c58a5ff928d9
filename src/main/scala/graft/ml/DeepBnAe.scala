package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BatchNorm training for the DEPTH-GENERAL autoencoder chain — the
  * reference's list-shaped `encoder_units` / `ae_units` config at its
  * real architecture (autoencoder.py:29-69): `BatchNormalization` on
  * the raw inputs and between every Dense and its activation, down the
  * whole chain; the reconstruction tap and the target head stay bare
  * Dense layers. The single-stage [[BnJointAutoencoder]] is this
  * trainer's `encoder_units=[h]`, `ae_units=[h']` instance (and keeps
  * the rank losses); this one is mse-only — the same boundary as the
  * other deep variants.
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

  import Activations.{sigmoid, swish, swishD}

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

  /** One batch's mean joint loss; if `acc` != null accumulates the
    * batch-mean gradient (flat layout: core stages then BN site
    * blocks). `xs` is the RAW feature block — the input BN conditions
    * it and the reconstruction targets it in raw space. `seeds` draw
    * each row's noise (k Gaussians when noiseStd > 0) then per-stage
    * dropout masks in stage order. */
  /** Per-site batch-statistics accumulator length for [[runBatch]]'s
    * `bnStats` (per site: mean sums then var sums; one trailing batch
    * counter). */
  def statsLen(c: Cfg): Int = 2 * bnWidths(c).sum + 1

  def runBatch(p: Array[Double], c: Cfg, xs: Array[Array[Double]],
      ysM: Array[Array[Double]], rw: Double, tw: Double,
      acc: Array[Double], noiseStd: Double = 0.0,
      seeds: Array[Long] = null, bnStats: Array[Double] = null): Double = {
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
    val r = acts(c.tapStage + 1)
    val preds = acts(nS)
    var recon = 0.0
    var tgt = 0.0
    var i = 0
    while (i < b) {
      var f = 0
      while (f < c.k) {
        val d = r(i)(f) - xs(i)(f); recon += d * d; f += 1
      }
      var o = 0
      while (o < c.out) {
        val d = preds(i)(o) - ysM(i)(o); tgt += d * d; o += 1
      }
      i += 1
    }
    val loss = rw * recon / (c.k * b) + tw * tgt / (c.out * b)
    if (acc == null) return loss

    // ---- backward (batch-mean) ----
    var dOut = Array.tabulate(b, c.out)((i2, o) =>
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
      val dIn = Array.tabulate(b, st.nIn) { (i2, i3) =>
        var g = 0.0
        var j2 = 0
        while (j2 < st.nOut) {
          g += p(off + i3 * st.nOut + j2) * dZ(i2)(j2); j2 += 1
        }
        g
      }
      dOut = dIn
      if (s - 1 == c.tapStage) {
        var i2 = 0
        while (i2 < b) {
          var f = 0
          while (f < c.k) {
            dOut(i2)(f) += 2.0 * rw / (c.k * b) * (r(i2)(f) - xs(i2)(f))
            f += 1
          }
          i2 += 1
        }
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

/** Trainer for the BatchNorm depth-general chain (see [[DeepBnKernel]]).
  * Feature columns enter RAW; targets standardize (destandardized on
  * output); reconstruction trains and scores in raw space. */
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
    val bnMomentum: Double = 0.99) extends ModelEstimator {

  require(Set("population", "moving_average")(bnInference),
    s"bnInference must be population|moving_average, got $bnInference")

  val targetCols: Seq[String] = targetCol +: extraTargetCols
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

  /** Batched epoch gradient (one batch = one BN group = one gradient
    * unit). `ep` = 0 disables noise/dropout — the FD spec mode. */
  def gradient(data: DataFrame, p: Array[Double], ep: Long = 0L)
      : (Array[Double], Double) = {
    val (kk, nO, bsz) = (k, nOut, batchSize)
    val c = cfg
    val (rw, tw) = (reconWeight, targetWeight)
    val n = size
    val noiseStd = if (ep == 0L) 0.0 else gaussianNoise
    val wantSeeds = ep != 0L &&
      (gaussianNoise > 0 || c.stages.exists(_.drop > 0))
    val seed0 = seed
    val collect = ep != 0L && bnInference == "moving_average"
    val sLen = DeepBnKernel.statsLen(c)
    val acc = data.rdd.mapPartitions { it =>
      val acc = new Array[Double](n + 2 + (if (collect) sLen else 0))
      val stats = if (collect) new Array[Double](sLen) else null
      val part = org.apache.spark.TaskContext.getPartitionId().toLong
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
        val loss = DeepBnKernel.runBatch(p, c, xs, ys, rw, tw, acc,
          noiseStd, seeds, stats)
        acc(n) += loss
        acc(n + 1) += 1.0
        if (stats != null) stats(sLen - 1) += 1.0
      }
      if (collect) System.arraycopy(stats, 0, acc, n + 2, sLen)
      Iterator.single(acc)
    }.treeReduce({ (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }, depth = 2)
    if (collect) lastEpochStats = acc.slice(n + 2, n + 2 + sLen)
    val cnt = math.max(acc(size + 1), 1.0)
    (Array.tabulate(size)(i => acc(i) / cnt), acc(size) / cnt)
  }

  /** Most recent collected per-site batch-statistics sums (driver-side
    * after the treeReduce; moving-average mode only). */
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
    // moving-average inference statistics (strict-Keras mode) — EMA of
    // the epoch-average batch statistics, k batch updates composed per
    // optimizer step as momentum^k (see BnJointAutoencoder.fit)
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
      val stats = std.rdd.mapPartitions { it =>
        val s = new Array[Double](2 * wWidth + 1)
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
                    1.0 / (1.0 + math.exp(-(sc(j) * z(j) + sh(j)))) *
                      (sc(j) * z(j) + sh(j)))
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
        Iterator.single(s)
      }.treeReduce({ (a, b) =>
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }, depth = 2)
      val cnt = math.max(stats(2 * wWidth), 1.0)
      val mean = Array.tabulate(wWidth)(u => stats(u) / cnt)
      val varr = Array.tabulate(wWidth)(u =>
        math.max(stats(wWidth + u) / cnt - mean(u) * mean(u), 0.0))
      val o = DeepBnKernel.bnOff(c, site)
      val gamma = Array.tabulate(wWidth)(j => p(o + j))
      val beta = Array.tabulate(wWidth)(j => p(o + wWidth + j))
      built += BatchNorm.affine(gamma, beta, mean, varr)
    }
    built.toSeq
  }

  private def affFeats: Seq[Column] = featureCols.zipWithIndex.map {
    case (c, i) =>
      col(c).cast("double") * lit(affs.head._1(i)) + lit(affs.head._2(i))
  }

  /** Appends `latent_{i}`, raw-space `recon_{i}` and destandardized
    * `prediction[_i]` through the affine-threaded staged chain. */
  def predict(df: DataFrame): DataFrame = {
    require(w != null, "fit first")
    var scored = DeepAeKernel.score(df, affFeats, w, cfg, affs.tail)
    if (nOut == 1)
      scored = scored.withColumn("prediction",
        col("prediction") * lit(yStds(0)) + lit(yMeans(0)))
    else for (o <- 0 until nOut)
      scored = scored.withColumn(s"prediction_$o",
        col(s"prediction_$o") * lit(yStds(o)) + lit(yMeans(o)))
    scored
  }

  def familyName: String = "deep_bn_ae"
  // predict keeps latent_{i} AND raw-space recon_{f} (the BN path
  // trains reconstruction in raw units) plus the head(s)
  def predictionNames: Seq[String] =
    (0 until latentDim).map(i => s"latent_$i") ++
      featureCols.indices.map(f => s"recon_$f") ++
      (if (nOut == 1) Seq("prediction")
      else (0 until nOut).map(o => s"prediction_$o"))

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
      "nAffines" -> affs.size.toString),
      Seq("flat" -> w, "yMeans" -> yMeans, "yStds" -> yStds) ++ affSecs)
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

object DeepBnAutoencoder {
  /** Rehydrate a `save`d estimator (shape-validated). */
  def load(path: String): DeepBnAutoencoder = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : DeepBnAutoencoder = {
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
      bnMomentum = meta("bnMomentum").toDouble)
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.size)
    // site count and widths from the kernel's ONE invariant (the same
    // accessor fit's population re-estimation walks), count validated
    // BEFORE the section reads
    val siteDims = DeepBnKernel.bnWidths(m.cfg)
    val nAff = meta("nAffines").toInt
    require(nAff == siteDims.size,
      s"$where holds $nAff affines, expected ${siteDims.size}")
    val affs = (0 until nAff).map { i =>
      (sections(s"aff${i}_s"), sections(s"aff${i}_c"))
    }
    affs.zip(siteDims).zipWithIndex.foreach { case (((sc, cc), d), i) =>
      WeightsIO.requireLen(s"aff${i}_s", sc, d)
      WeightsIO.requireLen(s"aff${i}_c", cc, d)
    }
    WeightsIO.requireLen("yMeans", sections("yMeans"), targets.size)
    WeightsIO.requireLen("yStds", sections("yStds"), targets.size)
    m.w = flat
    m.affs = affs
    m.yMeans = sections("yMeans"); m.yStds = sections("yStds")
    m
  }
}
