package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weights of the BatchNorm joint autoencoder — the reference's
  * BottleneckEncoder at its ACTUAL default architecture
  * (autoencoder.py:29-69): BatchNormalization on the raw inputs and
  * after every hidden Dense (encoder:35, latent:41, decoder:52,
  * head:63), GaussianNoise after the input BN (:32), swish activations,
  * raw-space reconstruction target. `core` carries the Dense weights in
  * the [[JointAeWeights]] layout; `gamma`/`beta` are the five BN sites'
  * learned affines, indexed 0=input(k), 1=encoder(hE), 2=latent(l),
  * 3=decoder(hE), 4=head(hA). */
case class BnAeWeights(
    core: JointAeWeights,
    gamma: Array[Array[Double]],
    beta: Array[Array[Double]]) extends Serializable {
  def siteDims: Array[Int] =
    Array(core.k, core.hE, core.latent, core.hE, core.hA)
}

/** Batched flat-gradient kernel for the BatchNorm autoencoder. Unlike
  * the per-row [[JointAeKernel]], training REQUIRES batches: each BN
  * site normalizes with the current batch's statistics
  * (keras.layers.BatchNormalization training semantics), and the
  * backward couples every row in the batch through those statistics
  * ([[BatchNorm.backward]]). Batches are bounded in-partition row
  * blocks — the reference's per-Keras-batch semantics at fit
  * batch_size granularity. */
object BnAeKernel {
  import JointAeKernel.AeDrop

  def size(k: Int, hE: Int, l: Int, hA: Int, out: Int = 1): Int =
    JointAeKernel.size(k, hE, l, hA, out) + 2 * (k + hE + l + hE + hA)

  import Activations.{sigmoid, swish, swishD}

  def toWeights(p: Array[Double], k: Int, hE: Int, l: Int, hA: Int,
      out: Int = 1): BnAeWeights = {
    val core = JointAeKernel.toWeights(p, k, hE, l, hA, out)
    var o = JointAeKernel.size(k, hE, l, hA, out)
    val dims = Array(k, hE, l, hE, hA)
    val gamma = new Array[Array[Double]](5)
    val beta = new Array[Array[Double]](5)
    for (s <- 0 until 5) {
      gamma(s) = Array.tabulate(dims(s))(j => p(o + j)); o += dims(s)
      beta(s) = Array.tabulate(dims(s))(j => p(o + j)); o += dims(s)
    }
    BnAeWeights(core, gamma, beta)
  }

  /** Inverse of [[toWeights]] — re-flatten fitted weights into the
    * kernel layout (the persistence path: one WeightsIO section). */
  def fromWeights(w: BnAeWeights): Array[Double] = {
    val b = Array.newBuilder[Double]
    b ++= JointAeKernel.fromWeights(w.core)
    for (s <- 0 until 5) { b ++= w.gamma(s); b ++= w.beta(s) }
    b.result()
  }

  /** One batch's loss; if `acc` != null also accumulates dLoss/dparams
    * (flat layout = [[toWeights]] order, one batch = one gradient unit).
    *
    * `x` is the RAW feature block [b][k] — the input BN normalizes it,
    * and the reconstruction loss targets it in raw space (the reference
    * trains reconstruction against X itself, autoencoder.py:78+fit;
    * closing the standardized-space deviation of the non-BN sibling).
    * `ysM` [b][nOut] are (standardized) targets. `seeds` (nullable) give
    * each row its noise + dropout draw stream (noise first — k Gaussians
    * when `noiseStd` > 0 — then the four mask blocks in the
    * [[JointAeKernel.runW]] order). With `injectTgt` non-null the
    * target-head gradient rows are taken verbatim per output
    * (rank-loss surrogate: dL/dpred_{i,o} — [b][nOut], already scaled
    * by the caller up to the kernel's tw factor) and the returned loss
    * is the reconstruction term only — the caller adds its own target
    * loss; otherwise the MSE target term is computed in-kernel and the
    * full joint batch objective is returned. */
  /** Length of the per-site batch-statistics accumulator consumed by
    * [[runBatch]]'s `bnStats`: per site, mean sums then var sums, sites
    * in order, plus one trailing batch counter. */
  def statsLen(k: Int, hE: Int, l: Int, hA: Int): Int =
    2 * (k + hE + l + hE + hA) + 1

  def runBatch(w: BnAeWeights, x: Array[Array[Double]],
      ysM: Array[Array[Double]], rw: Double, tw: Double,
      acc: Array[Double], drop: AeDrop = null,
      seeds: Array[Long] = null, noiseStd: Double = 0.0,
      predOut: Array[Array[Double]] = null,
      injectTgt: Array[Array[Double]] = null,
      bnStats: Array[Double] = null): Double = {
    val c = w.core
    val (k, hE, l, hA, nOut) = (c.k, c.hE, c.latent, c.hA, c.nOut)
    val b = x.length
    val useDrop = drop != null && drop.active && seeds != null
    val useNoise = noiseStd > 0.0 && seeds != null

    // per-row stochastic draws (fixed order: noise, then masks)
    val noise = if (!useNoise) null else Array.ofDim[Double](b, k)
    val mE = if (!useDrop) null else new Array[Array[Double]](b)
    val mZ = if (!useDrop) null else new Array[Array[Double]](b)
    val mD = if (!useDrop) null else new Array[Array[Double]](b)
    val mH = if (!useDrop) null else new Array[Array[Double]](b)
    if (seeds != null && (useNoise || useDrop)) {
      var i = 0
      while (i < b) {
        val rng = new java.util.Random(seeds(i))
        if (useNoise) {
          var f = 0
          while (f < k) { noise(i)(f) = rng.nextGaussian() * noiseStd; f += 1 }
        }
        if (useDrop) {
          mE(i) = SeqAdam.invBernoulli(rng, drop.enc, hE)
          mZ(i) = SeqAdam.invBernoulli(rng, drop.latent, l)
          mD(i) = SeqAdam.invBernoulli(rng, drop.enc, hE)
          mH(i) = SeqAdam.invBernoulli(rng, drop.head, hA)
        }
        i += 1
      }
    }

    // ---- forward (batched, layer by layer) ----
    val bn0 = BatchNorm.forward(x, w.gamma(0), w.beta(0))
    val x0 = if (!useNoise) bn0.out else Array.tabulate(b, k)(
      (i, f) => bn0.out(i)(f) + noise(i)(f))
    def dense(in: Array[Array[Double]], wm: Array[Array[Double]],
        bias: Array[Double]): Array[Array[Double]] = {
      val nIn = wm.length; val nO = bias.length
      Array.tabulate(b, nO) { (i, j) =>
        var z = bias(j); val ini = in(i)
        var f = 0
        while (f < nIn) { z += ini(f) * wm(f)(j); f += 1 }
        z
      }
    }
    val ze = dense(x0, c.we, c.be)
    val bne = BatchNorm.forward(ze, w.gamma(1), w.beta(1))
    val e = Array.tabulate(b, hE)((i, j) =>
      swish(bne.out(i)(j)) * (if (mE == null) 1.0 else mE(i)(j)))
    val zz = dense(e, c.wz, c.bz)
    val bnz = BatchNorm.forward(zz, w.gamma(2), w.beta(2))
    val zl = Array.tabulate(b, l)((i, j) =>
      swish(bnz.out(i)(j)) * (if (mZ == null) 1.0 else mZ(i)(j)))
    val zd = dense(zl, c.wd, c.bd)
    val bnd = BatchNorm.forward(zd, w.gamma(3), w.beta(3))
    val d = Array.tabulate(b, hE)((i, j) =>
      swish(bnd.out(i)(j)) * (if (mD == null) 1.0 else mD(i)(j)))
    val r = dense(d, c.wr, c.br)
    val zh = dense(r, c.wh, c.bh)
    val bnh = BatchNorm.forward(zh, w.gamma(4), w.beta(4))
    val h = Array.tabulate(b, hA)((i, j) =>
      swish(bnh.out(i)(j)) * (if (mH == null) 1.0 else mH(i)(j)))
    val preds = Array.tabulate(b, nOut) { (i, o2) =>
      val wpO = if (c.wpM == null) c.wp else c.wpM(o2)
      var p = if (c.bpM == null) c.bp else c.bpM(o2)
      var a = 0
      while (a < hA) { p += h(i)(a) * wpO(a); a += 1 }
      p
    }
    // moving-average inference mode: accumulate each site's BATCH
    // statistics (Keras updates its moving averages from exactly these)
    if (bnStats != null) {
      val fwds = Array(bn0, bne, bnz, bnd, bnh)
      val sDims = Array(k, hE, l, hE, hA)
      var o2 = 0
      var s = 0
      while (s < 5) {
        val fw = fwds(s); val n2 = sDims(s); var j = 0
        while (j < n2) {
          bnStats(o2 + j) += fw.mean(j)
          bnStats(o2 + n2 + j) += fw.varB(j)
          j += 1
        }
        o2 += 2 * n2
        s += 1
      }
      bnStats(o2) += 1.0
    }
    if (predOut != null) {
      var i = 0
      while (i < b) {
        System.arraycopy(preds(i), 0, predOut(i), 0,
          math.min(nOut, predOut(i).length))
        i += 1
      }
    }
    var recon = 0.0
    var i = 0
    while (i < b) {
      var f = 0
      while (f < k) {
        val df0 = r(i)(f) - x(i)(f); recon += df0 * df0; f += 1
      }
      i += 1
    }
    val reconLoss = rw * recon / (k * b)
    val loss = if (injectTgt != null) reconLoss else {
      var tgt = 0.0
      i = 0
      while (i < b) {
        var o2 = 0
        while (o2 < nOut) {
          val dlt = preds(i)(o2) - ysM(i)(o2); tgt += dlt * dlt; o2 += 1
        }
        i += 1
      }
      reconLoss + tw * tgt / (nOut * b)
    }
    if (acc == null) return loss

    // ---- backward ----
    val dPreds = if (injectTgt != null)
      Array.tabulate(b, nOut)((i, o2) => tw * injectTgt(i)(o2))
    else Array.tabulate(b, nOut)((i, o2) =>
      2.0 * tw / (nOut * b) * (preds(i)(o2) - ysM(i)(o2)))
    // head
    val dBnhOut = Array.tabulate(b, hA) { (i, a) =>
      var s = 0.0
      var o2 = 0
      while (o2 < dPreds(i).length) {
        s += dPreds(i)(o2) * (if (c.wpM == null) c.wp(a) else c.wpM(o2)(a))
        o2 += 1
      }
      s * (if (mH == null) 1.0 else mH(i)(a)) * swishD(bnh.out(i)(a))
    }
    val dims = Array(k, hE, l, hE, hA)
    def sliceG(s: Int): (Array[Double], Array[Double]) =
      (new Array[Double](dims(s)), new Array[Double](dims(s)))
    val (g4, b4) = sliceG(4)
    val dZh = BatchNorm.backward(bnh, w.gamma(4), dBnhOut, g4, b4)
    val dR = Array.tabulate(b, k) { (i, f) =>
      var g = 2.0 * rw / (k * b) * (r(i)(f) - x(i)(f))
      var a = 0
      while (a < hA) { g += dZh(i)(a) * c.wh(f)(a); a += 1 }
      g
    }
    val dBndOut = Array.tabulate(b, hE) { (i, j) =>
      var g = 0.0
      var f = 0
      while (f < k) { g += dR(i)(f) * c.wr(j)(f); f += 1 }
      g * (if (mD == null) 1.0 else mD(i)(j)) * swishD(bnd.out(i)(j))
    }
    val (g3, b3) = sliceG(3)
    val dZd = BatchNorm.backward(bnd, w.gamma(3), dBndOut, g3, b3)
    val dBnzOut = Array.tabulate(b, l) { (i, li) =>
      var g = 0.0
      var j = 0
      while (j < hE) { g += dZd(i)(j) * c.wd(li)(j); j += 1 }
      g * (if (mZ == null) 1.0 else mZ(i)(li)) * swishD(bnz.out(i)(li))
    }
    val (g2, b2) = sliceG(2)
    val dZz = BatchNorm.backward(bnz, w.gamma(2), dBnzOut, g2, b2)
    val dBneOut = Array.tabulate(b, hE) { (i, j) =>
      var g = 0.0
      var li = 0
      while (li < l) { g += dZz(i)(li) * c.wz(j)(li); li += 1 }
      g * (if (mE == null) 1.0 else mE(i)(j)) * swishD(bne.out(i)(j))
    }
    val (g1, b1) = sliceG(1)
    val dZe = BatchNorm.backward(bne, w.gamma(1), dBneOut, g1, b1)
    val dX0 = Array.tabulate(b, k) { (i, f) =>
      var g = 0.0
      var j = 0
      while (j < hE) { g += dZe(i)(j) * c.we(f)(j); j += 1 }
      g
    }
    val (g0, b0) = sliceG(0)
    BatchNorm.backwardInput(bn0, dX0, g0, b0)

    // core weight grads (decode order)
    var o = 0
    for (f <- 0 until k; j <- 0 until hE) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += x0(i2)(f) * dZe(i2)(j); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (j <- 0 until hE) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += dZe(i2)(j); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (j <- 0 until hE; li <- 0 until l) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += e(i2)(j) * dZz(i2)(li); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (li <- 0 until l) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += dZz(i2)(li); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (li <- 0 until l; j <- 0 until hE) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += zl(i2)(li) * dZd(i2)(j); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (j <- 0 until hE) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += dZd(i2)(j); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (j <- 0 until hE; f <- 0 until k) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += d(i2)(j) * dR(i2)(f); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (f <- 0 until k) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += dR(i2)(f); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (f <- 0 until k; a <- 0 until hA) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += r(i2)(f) * dZh(i2)(a); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (a <- 0 until hA) {
      var s = 0.0; var i2 = 0
      while (i2 < b) { s += dZh(i2)(a); i2 += 1 }
      acc(o) += s; o += 1
    }
    for (o2 <- 0 until nOut; a <- 0 until hA) {
      var s = 0.0; var i2 = 0
      while (i2 < b) {
        if (o2 < dPreds(i2).length) s += h(i2)(a) * dPreds(i2)(o2)
        i2 += 1
      }
      acc(o) += s; o += 1
    }
    for (o2 <- 0 until nOut) {
      var s = 0.0; var i2 = 0
      while (i2 < b) {
        if (o2 < dPreds(i2).length) s += dPreds(i2)(o2)
        i2 += 1
      }
      acc(o) += s; o += 1
    }
    // BN gamma/beta grads (site order)
    val siteGrads = Array((g0, b0), (g1, b1), (g2, b2), (g3, b3), (g4, b4))
    for (s <- 0 until 5) {
      val (gs, bs) = siteGrads(s)
      for (j <- 0 until dims(s)) { acc(o) += gs(j); o += 1 }
      for (j <- 0 until dims(s)) { acc(o) += bs(j); o += 1 }
    }
    loss
  }

  /** Driver-side INFERENCE forward: population-statistics BN folded to
    * per-unit affines `aff` (sites 1..4; site 0 already applied by the
    * caller to produce `x0`). Returns (latent, recon, preds). */
  def forwardAffine(w: BnAeWeights, aff: Seq[(Array[Double], Array[Double])],
      x0: Array[Double]): (Array[Double], Array[Double], Array[Double]) = {
    val c = w.core
    def layer(in: Array[Double], wm: Array[Array[Double]],
        bias: Array[Double], site: Int): Array[Double] =
      Array.tabulate(bias.length) { j =>
        var z = bias(j)
        var f = 0
        while (f < in.length) { z += in(f) * wm(f)(j); f += 1 }
        swish(aff(site)._1(j) * z + aff(site)._2(j))
      }
    val e = layer(x0, c.we, c.be, 0)
    val zl = layer(e, c.wz, c.bz, 1)
    val d = layer(zl, c.wd, c.bd, 2)
    val r = Array.tabulate(c.k) { f =>
      var z = c.br(f)
      var j = 0
      while (j < c.hE) { z += d(j) * c.wr(j)(f); j += 1 }
      z
    }
    val h = layer(r, c.wh, c.bh, 3)
    val preds = Array.tabulate(c.nOut) { o2 =>
      val wpO = if (c.wpM == null) c.wp else c.wpM(o2)
      var p = if (c.bpM == null) c.bp else c.bpM(o2)
      var a = 0
      while (a < c.hA) { p += h(a) * wpO(a); a += 1 }
      p
    }
    (zl, r, preds)
  }
}

/** Fitted BatchNorm autoencoder: Dense weights + the five BN sites'
  * population-statistics inference affines. `aff0` is the input site
  * (applied to the raw feature columns); `aff` are the encoder/latent/
  * decoder/head sites threaded through [[JointAe.stageTo]]. Outputs:
  * `latent_{i}`, raw-space `recon_{i}` (no destandardization — the BN
  * path trains reconstruction in raw units), `prediction[_i]`
  * destandardized from the target scaler. */
case class BnAeModel(
    weights: BnAeWeights,
    aff0: (Array[Double], Array[Double]),
    aff: Seq[(Array[Double], Array[Double])],
    yMeans: Array[Double], yStds: Array[Double],
    featureCols: Seq[String]) extends ModelEstimator {

  def familyName: String = "bn_ae"
  // predict appends latent_{i} (recon is dropped) plus the head(s)
  def predictionNames: Seq[String] =
    (0 until weights.core.latent).map(i => s"latent_$i") ++
      (if (weights.core.wpM != null)
        weights.core.wpM.indices.map(o => s"prediction_$o")
      else Seq("prediction"))

  private def x0Cols: Seq[Column] = featureCols.zipWithIndex.map {
    case (c, i) =>
      col(c).cast("double") * lit(aff0._1(i)) + lit(aff0._2(i))
  }

  /** Appends `latent_{i}` (the encoder surface, autoencoder.py:45-47). */
  def transform(df: DataFrame): DataFrame =
    JointAe.stageTo(df, x0Cols, weights.core, upTo = "latent", aff)

  /** Appends `latent_{i}` and raw-space `recon_{i}`. */
  def reconstruct(df: DataFrame): DataFrame =
    JointAe.stageTo(df, x0Cols, weights.core, upTo = "recon", aff)

  /** Appends `latent_{i}` and `prediction` (`prediction_{i}` for a
    * multi-output target head). */
  def predict(df: DataFrame): DataFrame = {
    val c = weights.core
    if (c.wpM != null) {
      var staged = JointAe.stageMulti(df, x0Cols, c, aff)
      for (o <- c.wpM.indices)
        staged = staged.withColumn(s"prediction_$o",
          col(s"prediction_$o") * lit(yStds(o)) + lit(yMeans(o)))
      return staged.drop(featureCols.indices.map(f => s"recon_$f"): _*)
    }
    val staged = JointAe.stageTo(df, x0Cols, c, upTo = "pred", aff)
    staged.withColumn("prediction",
      col("prediction") * lit(yStds(0)) + lit(yMeans(0)))
      .drop(featureCols.indices.map(f => s"recon_$f"): _*)
  }

  /** The fitted payload: BnAe-kernel-layout flat weights, the folded
    * inference affines (input site + the four staged sites), and
    * target stats — exact-double JSON, [[BnAeModel.load]] scores
    * bit-identically. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    val affSecs = (aff0 +: aff).zipWithIndex.flatMap { case ((s, c), i) =>
      Seq(s"aff${i}_s" -> s, s"aff${i}_c" -> c)
    }
    (Map(
      "family" -> "bn_ae",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "hE" -> weights.core.hE.toString,
      "latent" -> weights.core.latent.toString,
      "hA" -> weights.core.hA.toString,
      "nOut" -> weights.core.nOut.toString,
      "nAffines" -> (aff.size + 1).toString),
      Seq("flat" -> BnAeKernel.fromWeights(weights),
        "yMeans" -> yMeans, "yStds" -> yStds) ++ affSecs)
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

object BnAeModel {
  /** Rehydrate a `save`d model (shape-validated). */
  def load(path: String): BnAeModel = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String): BnAeModel = {
    WeightsIO.requireFamily(meta, "bn_ae", where)
    val featureCols = WeightsIO.namesFromMeta(meta("features"))
    val k = featureCols.size
    val (hE, l, hA, nOut) = (meta("hE").toInt, meta("latent").toInt,
      meta("hA").toInt, meta("nOut").toInt)
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, BnAeKernel.size(k, hE, l, hA, nOut))
    val weights = BnAeKernel.toWeights(flat, k, hE, l, hA, nOut)
    // site count/widths from the ONE architecture invariant
    // (BnAeWeights.siteDims), count validated BEFORE the section reads
    // so an inflated nAffines fails with this message, not a missing-key
    val siteDims = weights.siteDims
    val nAff = meta("nAffines").toInt
    require(nAff == siteDims.length,
      s"$where holds $nAff affines, expected ${siteDims.length}")
    val affs = (0 until nAff).map { i =>
      (sections(s"aff${i}_s"), sections(s"aff${i}_c"))
    }
    affs.zip(siteDims).zipWithIndex.foreach { case (((sc, cc), d), i) =>
      WeightsIO.requireLen(s"aff${i}_s", sc, d)
      WeightsIO.requireLen(s"aff${i}_c", cc, d)
    }
    WeightsIO.requireLen("yMeans", sections("yMeans"), nOut)
    WeightsIO.requireLen("yStds", sections("yStds"), nOut)
    BnAeModel(weights, affs.head, affs.tail, sections("yMeans"),
      sections("yStds"), featureCols)
  }
}

/** Trainer for the reference's DEFAULT BottleneckEncoder architecture —
  * BatchNormalization at all five sites (autoencoder.py:30,35,41,52,63)
  * trained with TRUE per-batch statistics and the batch-coupled BN
  * backward, GaussianNoise after the input BN, per-layer dropout, joint
  * `rw·mse(recon raw X) + tw·mse(target)` objective. The
  * standardization-mode [[JointAutoencoder]] stays as the documented
  * sibling; this class closes that deviation: features enter RAW (input
  * BN learns the scaling), and the reconstruction loss is the
  * reference's raw-space MSE.
  *
  * Batches are bounded in-partition row blocks of `batchSize` rows
  * (reference fit default 32, base.py:120), re-shuffled per epoch via
  * the bounded shuffle window — each batch is one BN statistics group
  * and, under the rank losses, one ranking neighborhood (Keras batches
  * play both roles).
  *
  * Inference statistics: Keras folds training-time MOVING averages into
  * inference BN; a moving average is order-dependent and ill-defined
  * when batches execute in parallel, so this trainer re-estimates each
  * site's POPULATION statistics over the full training set at the final
  * weights (one staged aggregation per site — the "precise BatchNorm"
  * re-estimation), then folds them to per-unit affines so scoring stays
  * a codegen'd projection. `bnInference = "moving_average"` selects the
  * strict-Keras parity mode instead: moving averages of the training
  * batches' statistics (momentum `bnMomentum`, Keras default 0.99, EMA
  * stepped once per optimizer step so it stays order-independent —
  * see the note in [[fit]]), folded through the SAME affine chain.
  * Training weights are identical under both modes; only the inference
  * statistics differ. */
class BnJointAutoencoder(
    val featureCols: Seq[String],
    val targetCol: String,
    val extraTargetCols: Seq[String] = Nil,
    val latentDim: Int = 2,
    val encoderHidden: Int = 8,
    val headHidden: Int = 4,
    val reconWeight: Double = 1.0,
    val targetWeight: Double = 1.0,
    val gaussianNoise: Double = 0.0,
    val lr: Double = 0.01,
    val epochs: Int = 150,
    val seed: Long = 42L,
    val batchFraction: Double = 0.2,
    val batchSize: Int = 32,
    val targetLoss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val dropoutEncoder: Double = 0.0,
    val dropoutLatent: Double = 0.0,
    val dropoutHead: Double = 0.0,
    val optimizer: String = "adam",
    val bnInference: String = "population",
    val bnMomentum: Double = 0.99) extends Serializable {

  require(Set("mse", "spearman", "combined")(targetLoss),
    s"targetLoss must be mse|spearman|combined, got $targetLoss")
  require(Set("population", "moving_average")(bnInference),
    s"bnInference must be population|moving_average, got $bnInference")

  /** The rank losses compose with multi-output target heads under the
    * reference's exact semantics — the loss flattens (batch, out) to
    * one ranked vector (losses.py:67-69). */
  val targetCols: Seq[String] = targetCol +: extraTargetCols
  private val nOut = targetCols.size

  private val k = featureCols.size
  private val sz = BnAeKernel.size(k, encoderHidden, latentDim,
    headHidden, nOut)
  private val aeDrop = {
    val d = JointAeKernel.AeDrop(dropoutEncoder, dropoutLatent, dropoutHead)
    if (d.active) d else null
  }

  /** Mean batch loss + flat gradient at `p` over `data` (cols 0..nOut-1
    * = standardized targets, then k RAW features). One batch = one
    * gradient unit (batch-count normalized), matching the rank paths.
    * `ep` = 0 disables noise/dropout (the finite-difference mode) and
    * pins batch composition. */
  /** Per-site batch-statistics sums from the most recent [[gradient]]
    * call that collected them (moving-average mode only): layout =
    * [[BnAeKernel.statsLen]], driver-side after the partition sum. */
  @transient private var lastEpochStats: Array[Double] = _

  def gradient(data: DataFrame, p: Array[Double], ep: Long = 0L)
      : (Array[Double], Double) = {
    val (kk, nO, bsz) = (k, nOut, batchSize)
    val (rw, tw) = (reconWeight, targetWeight)
    val (mw, sw) = if (targetLoss == "spearman") (0.0, 1.0)
      else (mseWeight, spearmanWeight)
    val (tau, tl) = (rankTau, targetLoss)
    val n = sz
    val dd = if (ep == 0L) null else aeDrop
    val noiseStd = if (ep == 0L) 0.0 else gaussianNoise
    val seed0 = seed
    val collect = ep != 0L && bnInference == "moving_average"
    val sLen = BnAeKernel.statsLen(kk, encoderHidden, latentDim, headHidden)
    val w = BnAeKernel.toWeights(p, kk, encoderHidden, latentDim,
      headHidden, nO)
    val sums = PartitionSum.sum(data.rdd,
        n + 2 + (if (collect) sLen else 0)) { (part, it, acc) =>
      val stats = if (collect) new Array[Double](sLen) else null
      var idx = 0L
      SeqAdam.shuffledBatches(it, bsz, seed0, ep, part).foreach { batch =>
        val b = batch.size
        val x = new Array[Array[Double]](b)
        val ys = new Array[Array[Double]](b)
        val seeds = if (dd == null && noiseStd <= 0.0) null
          else new Array[Long](b)
        var i = 0
        batch.foreach { row =>
          ys(i) = Array.tabulate(nO)(o2 => row.getDouble(o2))
          x(i) = Array.tabulate(kk)(j => row.getDouble(j + nO))
          if (seeds != null) {
            seeds(i) = SeqAdam.maskSeed(seed0, ep, part, idx)
          }
          idx += 1
          i += 1
        }
        if (tl == "mse") {
          val loss = BnAeKernel.runBatch(w, x, ys, rw, tw, acc, dd,
            seeds, noiseStd, bnStats = stats)
          acc(n) += loss; acc(n + 1) += 1.0
        } else if (b >= 2 || mw != 0.0 || nO >= 2) {
          // rank loss with the reference's multi-output semantics:
          // (batch, out) flattens to ONE ranked vector (losses.py:67-69)
          val po = Array.ofDim[Double](b, nO)
          // stats collect on this pass only — the inject pass below
          // re-runs the identical forward over the same batch
          BnAeKernel.runBatch(w, x, ys, rw, tw, null, dd, seeds,
            noiseStd, po, bnStats = stats)
          val flatP = new Array[Double](b * nO)
          val flatY = new Array[Double](b * nO)
          var i2 = 0
          while (i2 < b) {
            var o2 = 0
            while (o2 < nO) {
              flatP(i2 * nO + o2) = po(i2)(o2)
              flatY(i2 * nO + o2) = ys(i2)(o2)
              o2 += 1
            }
            i2 += 1
          }
          val (dLt, tLoss) =
            RankLoss.combinedGrad(flatP, flatY, tau, mw, sw)
          val inj = Array.tabulate(b, nO)((i3, o2) => dLt(i3 * nO + o2))
          val reconLoss = BnAeKernel.runBatch(w, x, ys, rw, tw, acc, dd,
            seeds, noiseStd, null, inj)
          acc(n) += reconLoss + tw * tLoss
          acc(n + 1) += 1.0
        }
      }
      if (collect) System.arraycopy(stats, 0, acc, n + 2, sLen)
    }
    if (collect) lastEpochStats = sums.slice(n + 2, n + 2 + sLen)
    PartitionSum.mean(sums, n)
  }

  def fit(df: DataFrame): BnAeModel = {
    val data = df.select((targetCols ++ featureCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    val yAggs = targetCols.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c))))
    val yr = data.agg(yAggs.head, yAggs.tail: _*).collect()(0)
    val yMeans = Array.tabulate(nOut)(o2 => yr.getDouble(2 * o2))
    val yStds = Array.tabulate(nOut)(o2 =>
      math.max(yr.getDouble(2 * o2 + 1), 1e-12))
    val std = data.select(
      targetCols.zipWithIndex.map { case (c, o2) =>
        ((col(c) - lit(yMeans(o2))) / lit(yStds(o2))).as(s"__y$o2")
      } ++
      featureCols.zipWithIndex.map { case (c, i) =>
        col(c).as(s"__x$i")
      }: _*)
    std.cache(); std.count(); data.unpersist()

    val rng = new scala.util.Random(seed)
    val p = new Array[Double](sz)
    val (hE, l, hA) = (encoderHidden, latentDim, headHidden)
    val fans = Seq(
      (k, hE, k * hE), (0, 0, hE),
      (hE, l, hE * l), (0, 0, l),
      (l, hE, l * hE), (0, 0, hE),
      (hE, k, hE * k), (0, 0, k),
      (k, hA, k * hA), (0, 0, hA),
      (hA, nOut, hA * nOut), (0, 0, nOut))
    var o = 0
    fans.foreach { case (fin, fout, cnt) =>
      val lim = if (fin == 0) 0.0 else math.sqrt(6.0 / (fin + fout))
      for (_ <- 0 until cnt) { p(o) = (rng.nextDouble() * 2 - 1) * lim; o += 1 }
    }
    // BN gamma = 1, beta = 0 (Keras initializers)
    for (s <- Seq(k, hE, l, hE, hA)) {
      for (_ <- 0 until s) { p(o) = 1.0; o += 1 }
      o += s
    }
    val adam = new AdamState(sz, lr, optimizer)
    // strict-Keras inference statistics (bnInference="moving_average"):
    // Keras initializes moving_mean=0 / moving_var=1 and updates them
    // from each training batch's statistics with momentum 0.99
    // (keras BatchNormalization defaults; reference autoencoder.py:30-63
    // inherits them). A literal per-batch EMA is order-dependent and
    // ill-defined when batches execute in parallel, so the EMA step here
    // is per OPTIMIZER STEP (= epoch): the step's batches all run at the
    // same weights, their statistics average order-independently, and
    // that average feeds one EMA update — same estimator, deterministic
    // under any partitioning. Default stays "population" (re-estimation
    // at the final weights — the more accurate inference statistics).
    val sDims = Array(k, hE, l, hE, hA)
    val maMean = sDims.map(n2 => new Array[Double](n2))
    val maVar = sDims.map(n2 => Array.fill(n2)(1.0))
    for (t <- 1 to epochs) {
      val batch = if (batchFraction >= 1.0) std
        else std.sample(withReplacement = false, batchFraction, seed + t)
      val (g0, _) = gradient(batch, p, t)
      adam.update(p, g0, t)
      if (bnInference == "moving_average" && lastEpochStats != null) {
        val st = lastEpochStats
        val batches = math.max(st(st.length - 1), 1.0)
        // Keras steps the EMA once per BATCH; an epoch of k batches whose
        // statistics all sit near the epoch average composes in closed
        // form to momentum^k — without this the (0,1) initialization
        // keeps ~momentum^epochs weight (0.99^150 ≈ 0.22) and the folded
        // statistics stay visibly biased at realistic epoch counts
        val effM = math.pow(bnMomentum, batches)
        var o2 = 0
        for (s <- sDims.indices) {
          val n2 = sDims(s)
          var j = 0
          while (j < n2) {
            maMean(s)(j) = effM * maMean(s)(j) +
              (1.0 - effM) * st(o2 + j) / batches
            maVar(s)(j) = effM * maVar(s)(j) +
              (1.0 - effM) * st(o2 + n2 + j) / batches
            j += 1
          }
          o2 += 2 * n2
        }
      }
    }
    val w = BnAeKernel.toWeights(p, k, hE, l, hA, nOut)
    val (aff0, affs) =
      if (bnInference == "moving_average")
        (BatchNorm.affine(w.gamma(0), w.beta(0), maMean(0), maVar(0)),
          (1 to 4).map(s =>
            BatchNorm.affine(w.gamma(s), w.beta(s), maMean(s), maVar(s))))
      else reestimate(std, w)
    std.unpersist()
    BnAeModel(w, aff0, affs, yMeans, yStds, featureCols)
  }

  /** Population-statistics re-estimation: one staged aggregation per BN
    * site, each computing the per-unit mean/variance of that site's
    * pre-activations over the full training set with every EARLIER
    * site's affine already folded (sites depend on upstream statistics,
    * so they resolve in order). Noise and dropout are off — this is the
    * inference network. */
  private def reestimate(std: DataFrame, w: BnAeWeights)
      : ((Array[Double], Array[Double]),
         Seq[(Array[Double], Array[Double])]) = {
    val c = w.core
    def stats(df: DataFrame, names: Seq[String])
        : (Array[Double], Array[Double]) = {
      val aggs = names.flatMap(nm => Seq(avg(col(nm)), var_pop(col(nm))))
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      (Array.tabulate(names.size)(j => r.getDouble(2 * j)),
        Array.tabulate(names.size)(j => r.getDouble(2 * j + 1)))
    }
    // site 0: raw feature statistics
    val (m0, v0) = stats(std, featureCols.indices.map(i => s"__x$i"))
    val aff0 = BatchNorm.affine(w.gamma(0), w.beta(0), m0, v0)
    def denseCols(df: DataFrame, inNames: Seq[String],
        wm: Array[Array[Double]], bias: Array[Double], pfx: String)
        : DataFrame =
      df.select(df.columns.map(col).toSeq ++ bias.indices.map { j =>
        (inNames.zipWithIndex.map { case (nm, i) =>
          col(nm) * lit(wm(i)(j))
        }.reduce(_ + _) + lit(bias(j))).as(s"$pfx$j")
      }: _*)
    def actCols(df: DataFrame, preNames: Seq[String],
        aff: (Array[Double], Array[Double]), pfx: String): DataFrame =
      df.select(df.columns.map(col).toSeq ++ preNames.zipWithIndex.map {
        case (nm, j) =>
          JointAe.swishCol(col(nm) * lit(aff._1(j)) + lit(aff._2(j)))
            .as(s"$pfx$j")
      }: _*)
    // staged x0
    var cur = std.select(featureCols.indices.map(i =>
      (col(s"__x$i") * lit(aff0._1(i)) + lit(aff0._2(i))).as(s"__a$i")): _*)
    val aN = featureCols.indices.map(i => s"__a$i")
    // site 1: encoder pre-activations
    cur = denseCols(cur, aN, c.we, c.be, "__p1_")
    val p1 = c.be.indices.map(j => s"__p1_$j")
    val aff1 = { val (m, v) = stats(cur, p1)
      BatchNorm.affine(w.gamma(1), w.beta(1), m, v) }
    cur = actCols(cur, p1, aff1, "__e")
    // site 2: latent pre-activations
    cur = denseCols(cur, c.be.indices.map(j => s"__e$j"), c.wz, c.bz,
      "__p2_")
    val p2 = c.bz.indices.map(j => s"__p2_$j")
    val aff2 = { val (m, v) = stats(cur, p2)
      BatchNorm.affine(w.gamma(2), w.beta(2), m, v) }
    cur = actCols(cur, p2, aff2, "__z")
    // site 3: decoder pre-activations
    cur = denseCols(cur, c.bz.indices.map(j => s"__z$j"), c.wd, c.bd,
      "__p3_")
    val p3 = c.bd.indices.map(j => s"__p3_$j")
    val aff3 = { val (m, v) = stats(cur, p3)
      BatchNorm.affine(w.gamma(3), w.beta(3), m, v) }
    cur = actCols(cur, p3, aff3, "__d")
    // reconstruction (no BN) then site 4: head pre-activations
    cur = denseCols(cur, c.bd.indices.map(j => s"__d$j"), c.wr, c.br,
      "__r")
    cur = denseCols(cur, c.br.indices.map(f => s"__r$f"), c.wh, c.bh,
      "__p4_")
    val p4 = c.bh.indices.map(j => s"__p4_$j")
    val aff4 = { val (m, v) = stats(cur, p4)
      BatchNorm.affine(w.gamma(4), w.beta(4), m, v) }
    (aff0, Seq(aff1, aff2, aff3, aff4))
  }
}
