package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weights of the nonlinear joint-loss bottleneck autoencoder — the
  * trained counterpart of the reference's BottleneckEncoder
  * (keras_estimators/autoencoder.py:25-85) at its architectural shape:
  * swish encoder hidden → swish latent → swish decoder hidden → linear
  * reconstruction → swish head hidden → linear target, trained on
  * `rw·mse(reconstruction) + tw·mse(target)` jointly (the reference's
  * loss_weights dict, autoencoder.py:80-83). Features and target are
  * standardized first (BatchNormalization / StandardScaler analog,
  * autoencoder.py:30 + base.py:89-100); outputs are destandardized. */
case class JointAeWeights(
    we: Array[Array[Double]], be: Array[Double],   // [k][hE] encoder
    wz: Array[Array[Double]], bz: Array[Double],   // [hE][L] latent
    wd: Array[Array[Double]], bd: Array[Double],   // [L][hE] decoder
    wr: Array[Array[Double]], br: Array[Double],   // [hE][k] recon
    wh: Array[Array[Double]], bh: Array[Double],   // [k][hA] head hidden
    wp: Array[Double], bp: Double,                 // [hA] head (output 0)
    wpM: Array[Array[Double]] = null,              // [out][hA], out > 1
    bpM: Array[Double] = null) extends Serializable {
  def k: Int = we.length
  def hE: Int = be.length
  def latent: Int = bz.length
  def hA: Int = bh.length
  /** Target-head width — the reference's Dense(output_units)
    * target_prediction (autoencoder.py:67-69, base.py:46). */
  def nOut: Int = if (wpM == null) 1 else wpM.length
}

/** Flat-gradient kernel for the joint autoencoder (the LstmStackBptt /
  * AttnBptt pattern: executors fold rows into one flat gradient vector;
  * the driver runs Adam). */
object JointAeKernel {
  def size(k: Int, hE: Int, l: Int, hA: Int, out: Int = 1): Int =
    k * hE + hE + hE * l + l + l * hE + hE + hE * k + k +
      k * hA + hA + hA * out + out

  import Activations.{sigmoid, swish, swishD}

  def toWeights(p: Array[Double], k: Int, hE: Int, l: Int, hA: Int,
      out: Int = 1): JointAeWeights = {
    var o = 0
    def mat(r: Int, c: Int): Array[Array[Double]] = {
      val m = Array.tabulate(r, c)((i, j) => p(o + i * c + j)); o += r * c; m
    }
    def vec(n: Int): Array[Double] = {
      val v = Array.tabulate(n)(i => p(o + i)); o += n; v
    }
    val we = mat(k, hE); val be = vec(hE)
    val wz = mat(hE, l); val bz = vec(l)
    val wd = mat(l, hE); val bd = vec(hE)
    val wr = mat(hE, k); val br = vec(k)
    val wh = mat(k, hA); val bh = vec(hA)
    // head: output-major wp blocks then the bias block
    val wpM = Array.fill(out)(vec(hA))
    val bpM = vec(out)
    JointAeWeights(we, be, wz, bz, wd, bd, wr, br, wh, bh,
      wpM(0), bpM(0),
      if (out == 1) null else wpM, if (out == 1) null else bpM)
  }

  /** Inverse of [[toWeights]] — re-flatten fitted weights into the
    * kernel layout (the persistence path: one WeightsIO section). */
  def fromWeights(w: JointAeWeights): Array[Double] = {
    val b = Array.newBuilder[Double]
    def mat(m: Array[Array[Double]]): Unit = m.foreach(b ++= _)
    mat(w.we); b ++= w.be
    mat(w.wz); b ++= w.bz
    mat(w.wd); b ++= w.bd
    mat(w.wr); b ++= w.br
    mat(w.wh); b ++= w.bh
    if (w.wpM == null) { b ++= w.wp; b += w.bp }
    else { w.wpM.foreach(b ++= _); b ++= w.bpM }
    b.result()
  }

  /** Driver-local forward over a standardized row: (latent, recon, pred). */
  def forward(w: JointAeWeights, x: Array[Double])
      : (Array[Double], Array[Double], Double) = {
    val e = Array.tabulate(w.hE) { j =>
      var z = w.be(j); for (i <- 0 until w.k) z += x(i) * w.we(i)(j)
      swish(z)
    }
    val zl = Array.tabulate(w.latent) { i =>
      var z = w.bz(i); for (j <- 0 until w.hE) z += e(j) * w.wz(j)(i)
      swish(z)
    }
    val d = Array.tabulate(w.hE) { j =>
      var z = w.bd(j); for (i <- 0 until w.latent) z += zl(i) * w.wd(i)(j)
      swish(z)
    }
    val r = Array.tabulate(w.k) { f =>
      var z = w.br(f); for (j <- 0 until w.hE) z += d(j) * w.wr(j)(f)
      z
    }
    val h = Array.tabulate(w.hA) { a =>
      var z = w.bh(a); for (f <- 0 until w.k) z += r(f) * w.wh(f)(a)
      swish(z)
    }
    var p = w.bp; for (a <- 0 until w.hA) p += h(a) * w.wp(a)
    (zl, r, p)
  }

  /** Dropout-sampled forward returning only the prediction (the rank
    * path's first pass) — delegates to [[runW]] so there is exactly ONE
    * masked forward (same mask draw order by construction; the gradient
    * re-run with the same seed sees the same network). */
  def forwardMasked(w: JointAeWeights, x: Array[Double], drop: AeDrop,
      maskSeed: Long): Double = {
    val po = new Array[Double](1)
    runW(w, x, x, 0.0, 0.0, 0.0, null, drop, maskSeed, po)
    po(0)
  }

  /** Training-time per-layer dropout rates (autoencoder.py:33-43,61-65 —
    * the reference's `encoder_units` [(1024, 0.1)], `latent_units`
    * (256, 0.1), `ae_units` [(96, 0.4)] carry one rate per activation;
    * the decoder mirrors the encoder rate). Inverted-Bernoulli masks
    * after each swish activation, drawn in fixed order (enc, latent,
    * dec, head) from the per-row seed. */
  case class AeDrop(enc: Double, latent: Double, head: Double) {
    require(Seq(enc, latent, head).forall(p => p >= 0 && p < 1),
      s"dropout rates in [0, 1), got $this")
    def active: Boolean = enc > 0 || latent > 0 || head > 0
  }

  /** One row's loss; if `acc` is non-null, accumulates dLoss/dparams into
    * it (flat layout = toWeights order). Loss = rw·(1/k)Σ(r−xTgt)² +
    * tw·(p−y)² — the Keras per-output mse with loss_weights. `x` is the
    * (possibly noise-corrupted) network INPUT; `xTgt` the clean
    * reconstruction target — the denoising-autoencoder split behind the
    * reference's GaussianNoise layer (autoencoder.py:32: noise is
    * injected after input BN, while the reconstruction head trains
    * against the clean features). */
  def run(pFlat: Array[Double], k: Int, hE: Int, l: Int, hA: Int,
      x: Array[Double], xTgt: Array[Double], y: Double, rw: Double,
      tw: Double, acc: Array[Double]): Double =
    runW(toWeights(pFlat, k, hE, l, hA), x, xTgt, y, rw, tw, acc)

  /** Same as [[run]] over ALREADY-DECODED weights — the per-row hot
    * path (decode once per gradient call, not per row). `drop` with a
    * non-zero `maskSeed` samples training-time dropout. */
  def runW(w: JointAeWeights, x: Array[Double], xTgt: Array[Double],
      y: Double, rw: Double, tw: Double, acc: Array[Double],
      drop: AeDrop = null, maskSeed: Long = 0L,
      predOut: Array[Double] = null,
      ysM: Array[Double] = null): Double = {
    val (k, hE, l, hA) = (w.k, w.hE, w.latent, w.hA)
    val useDrop = drop != null && drop.active && maskSeed != 0L
    val (mE, mZ, mD, mH) = if (!useDrop) (null, null, null, null) else {
      val rng = new java.util.Random(maskSeed)
      (SeqAdam.invBernoulli(rng, drop.enc, hE),
        SeqAdam.invBernoulli(rng, drop.latent, l),
        SeqAdam.invBernoulli(rng, drop.enc, hE),
        SeqAdam.invBernoulli(rng, drop.head, hA))
    }
    // forward, keeping pre-activations; e/zl/d/h are post-drop
    val ze = Array.tabulate(hE) { j =>
      var z = w.be(j); for (i <- 0 until k) z += x(i) * w.we(i)(j); z
    }
    val e = if (mE == null) ze.map(swish)
      else Array.tabulate(hE)(j => swish(ze(j)) * mE(j))
    val zz = Array.tabulate(l) { i =>
      var z = w.bz(i); for (j <- 0 until hE) z += e(j) * w.wz(j)(i); z
    }
    val zl = if (mZ == null) zz.map(swish)
      else Array.tabulate(l)(i => swish(zz(i)) * mZ(i))
    val zd = Array.tabulate(hE) { j =>
      var z = w.bd(j); for (i <- 0 until l) z += zl(i) * w.wd(i)(j); z
    }
    val d = if (mD == null) zd.map(swish)
      else Array.tabulate(hE)(j => swish(zd(j)) * mD(j))
    val r = Array.tabulate(k) { f =>
      var z = w.br(f); for (j <- 0 until hE) z += d(j) * w.wr(j)(f); z
    }
    val zh = Array.tabulate(hA) { a =>
      var z = w.bh(a); for (f <- 0 until k) z += r(f) * w.wh(f)(a); z
    }
    val h = if (mH == null) zh.map(swish)
      else Array.tabulate(hA)(a => swish(zh(a)) * mH(a))
    // multi-output head (Dense(output_units) target_prediction,
    // autoencoder.py:67-69): Keras mse over the output vector is the
    // MEAN over outputs, so the target term scales by 1/nOut
    val nOut = w.nOut
    // scoring callers pass no target vector; zeros keep the (ignored)
    // loss computation in-bounds
    val ysEff = if (ysM != null) ysM
      else if (nOut == 1) Array(y) else new Array[Double](nOut)
    val preds = new Array[Double](nOut)
    for (o2 <- 0 until nOut) {
      val wpO = if (w.wpM == null) w.wp else w.wpM(o2)
      var p = if (w.bpM == null) w.bp else w.bpM(o2)
      for (a <- 0 until hA) p += h(a) * wpO(a)
      preds(o2) = p
    }
    if (predOut != null)
      System.arraycopy(preds, 0, predOut, 0,
        math.min(nOut, predOut.length))
    var recon = 0.0
    for (f <- 0 until k) { val df = r(f) - xTgt(f); recon += df * df }
    var tgt = 0.0
    for (o2 <- 0 until nOut) {
      val dlt = preds(o2) - ysEff(o2); tgt += dlt * dlt
    }
    val loss = rw * recon / k + tw * tgt / nOut
    if (acc == null) return loss

    // backward (each dropped activation's gradient carries its mask)
    val dps = Array.tabulate(nOut)(o2 =>
      2.0 * tw / nOut * (preds(o2) - ysEff(o2)))
    val dzh = Array.tabulate(hA) { a =>
      val m = if (mH == null) 1.0 else mH(a)
      var s = 0.0
      for (o2 <- 0 until nOut)
        s += dps(o2) * (if (w.wpM == null) w.wp(a) else w.wpM(o2)(a))
      s * m * swishD(zh(a))
    }
    val dr = Array.tabulate(k) { f =>
      var g = 2.0 * rw / k * (r(f) - xTgt(f))
      for (a <- 0 until hA) g += dzh(a) * w.wh(f)(a)
      g
    }
    val dd = Array.tabulate(hE) { j =>
      var g = 0.0; for (f <- 0 until k) g += dr(f) * w.wr(j)(f); g
    }
    val dzd = Array.tabulate(hE) { j =>
      val m = if (mD == null) 1.0 else mD(j)
      dd(j) * m * swishD(zd(j))
    }
    val dzl = Array.tabulate(l) { i =>
      var g = 0.0; for (j <- 0 until hE) g += dzd(j) * w.wd(i)(j); g
    }
    val dzz = Array.tabulate(l) { i =>
      val m = if (mZ == null) 1.0 else mZ(i)
      dzl(i) * m * swishD(zz(i))
    }
    val de = Array.tabulate(hE) { j =>
      var g = 0.0; for (i <- 0 until l) g += dzz(i) * w.wz(j)(i); g
    }
    val dze = Array.tabulate(hE) { j =>
      val m = if (mE == null) 1.0 else mE(j)
      de(j) * m * swishD(ze(j))
    }

    var o = 0
    for (i <- 0 until k; j <- 0 until hE) { acc(o) += x(i) * dze(j); o += 1 }
    for (j <- 0 until hE) { acc(o) += dze(j); o += 1 }
    for (j <- 0 until hE; i <- 0 until l) { acc(o) += e(j) * dzz(i); o += 1 }
    for (i <- 0 until l) { acc(o) += dzz(i); o += 1 }
    for (i <- 0 until l; j <- 0 until hE) { acc(o) += zl(i) * dzd(j); o += 1 }
    for (j <- 0 until hE) { acc(o) += dzd(j); o += 1 }
    for (j <- 0 until hE; f <- 0 until k) { acc(o) += d(j) * dr(f); o += 1 }
    for (f <- 0 until k) { acc(o) += dr(f); o += 1 }
    for (f <- 0 until k; a <- 0 until hA) { acc(o) += r(f) * dzh(a); o += 1 }
    for (a <- 0 until hA) { acc(o) += dzh(a); o += 1 }
    for (o2 <- 0 until nOut; a <- 0 until hA) {
      acc(o) += h(a) * dps(o2); o += 1
    }
    for (o2 <- 0 until nOut) { acc(o) += dps(o2); o += 1 }
    loss
  }
}

/** Fitted joint autoencoder: broadcast weights + standardization scalars.
  * Scoring stages every layer as named intermediate columns (the
  * BottleneckModel pattern) so expressions stay small and codegen'd —
  * map-side projections, no shuffle, no UDF. */
case class JointAeModel(
    weights: JointAeWeights,
    featMeans: Array[Double], featStds: Array[Double],
    yMean: Double, yStd: Double,
    featureCols: Seq[String],
    yMeans: Array[Double] = null, yStds: Array[Double] = null)
    extends ModelEstimator {

  def familyName: String = "joint_ae"
  // predict appends latent_{i} (recon is dropped) plus the head(s)
  def predictionNames: Seq[String] =
    (0 until weights.latent).map(i => s"latent_$i") ++
      (if (weights.wpM != null)
        weights.wpM.indices.map(o => s"prediction_$o")
      else Seq("prediction"))

  private def stdFeats: Seq[Column] = featureCols.zipWithIndex.map {
    case (c, i) => (col(c).cast("double") - lit(featMeans(i))) /
      lit(featStds(i))
  }

  /** Appends `latent_{i}` (get_feature_names_out contract,
    * autoencoder.py:159-161). */
  def transform(df: DataFrame): DataFrame =
    JointAe.stageTo(df, stdFeats, weights, upTo = "latent")

  /** Appends `latent_{i}` and destandardized `recon_{i}`. */
  def reconstruct(df: DataFrame): DataFrame = {
    val staged = JointAe.stageTo(df, stdFeats, weights, upTo = "recon")
    featureCols.indices.foldLeft(staged) { (acc, f) =>
      acc.withColumn(s"recon_$f",
        col(s"recon_$f") * lit(featStds(f)) + lit(featMeans(f)))
    }
  }

  /** Appends `latent_{i}` and `prediction` (base.py:137-150 contract);
    * a multi-output head emits `prediction_{i}` instead. */
  def predict(df: DataFrame): DataFrame = {
    if (weights.wpM != null) {
      var staged = JointAe.stageMulti(df, stdFeats, weights)
      for (o <- weights.wpM.indices)
        staged = staged.withColumn(s"prediction_$o",
          col(s"prediction_$o") * lit(yStds(o)) + lit(yMeans(o)))
      return staged.drop(featureCols.indices.map(f => s"recon_$f"): _*)
    }
    val staged = JointAe.stageTo(df, stdFeats, weights, upTo = "pred")
    staged.withColumn("prediction",
      col("prediction") * lit(yStd) + lit(yMean))
      .drop(featureCols.indices.map(f => s"recon_$f"): _*)
  }

  /** The fitted payload: kernel-layout flat weights + standardization
    * scalars — exact-double JSON, so [[JointAeModel.load]]
    * transforms/predicts bit-identically. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) =
    (Map(
      "family" -> "joint_ae",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "hE" -> weights.hE.toString, "latent" -> weights.latent.toString,
      "hA" -> weights.hA.toString, "nOut" -> weights.nOut.toString,
      "yMean" -> yMean.toString, "yStd" -> yStd.toString),
      Seq("flat" -> JointAeKernel.fromWeights(weights),
        "featMeans" -> featMeans, "featStds" -> featStds) ++
        (if (yMeans == null) Nil
         else Seq("yMeans" -> yMeans, "yStds" -> yStds)))

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

object JointAeModel {
  /** Rehydrate a `save`d model (shape-validated). */
  def load(path: String): JointAeModel = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String): JointAeModel = {
    WeightsIO.requireFamily(meta, "joint_ae", where)
    val featureCols = WeightsIO.namesFromMeta(meta("features"))
    val k = featureCols.size
    val (hE, l, hA, nOut) = (meta("hE").toInt, meta("latent").toInt,
      meta("hA").toInt, meta("nOut").toInt)
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat,
      JointAeKernel.size(k, hE, l, hA, nOut))
    WeightsIO.requireLen("featMeans", sections("featMeans"), k)
    WeightsIO.requireLen("featStds", sections("featStds"), k)
    sections.get("yMeans").foreach(a =>
      WeightsIO.requireLen("yMeans", a, nOut))
    sections.get("yStds").foreach(a =>
      WeightsIO.requireLen("yStds", a, nOut))
    JointAeModel(JointAeKernel.toWeights(flat, k, hE, l, hA, nOut),
      sections("featMeans"), sections("featStds"),
      meta("yMean").toDouble, meta("yStd").toDouble, featureCols,
      sections.get("yMeans").orNull, sections.get("yStds").orNull)
  }
}

/** Column/SQL staging shared by model scoring and the pinned oracle
  * query: each layer becomes a named projection over the previous one. */
object JointAe {
  def swishCol(z: Column): Column =
    z * (lit(1.0) / (lit(1.0) + exp(-z)))
  def swishSql(z: String): String =
    s"($z) * (1.0 / (1.0 + exp(-($z))))"

  private def dense(in: Seq[Column], w: Array[Array[Double]],
      b: Array[Double], j: Int): Column =
    in.zipWithIndex.map { case (c, i) => c * lit(w(i)(j)) }
      .reduce(_ + _) + lit(b(j))
  private def denseSql(in: Seq[String], w: Array[Array[Double]],
      b: Array[Double], j: Int): String =
    in.zipWithIndex.map { case (c, i) => s"$c * ${w(i)(j)}" }
      .mkString(" + ") + s" + ${b(j)}"

  /** Stage layers onto `df` as named columns, stopping at `upTo`
    * ("latent" | "recon" | "pred"). Intermediate encoder/decoder/head
    * columns are dropped; latent (and recon) stay, matching the
    * reference's transform/reconstruct/predict output surfaces.
    *
    * `aff` (nullable) carries the inference BatchNorm affines of the
    * BN-trained sibling ([[BnAeKernel]]) — 4 per-unit (scale, shift)
    * pairs for the encoder/latent/decoder/head sites, applied between
    * each Dense pre-activation and its swish (the input-site affine is
    * pre-applied by the caller into `feats`). Scoring stays a pure
    * codegen'd projection either way. */
  def stageTo(df: DataFrame, feats: Seq[Column], w: JointAeWeights,
      upTo: String,
      aff: Seq[(Array[Double], Array[Double])] = null): DataFrame = {
    def bn(site: Int, j: Int, c: Column): Column =
      if (aff == null) c
      else c * lit(aff(site)._1(j)) + lit(aff(site)._2(j))
    val base = df.columns.map(col).toSeq
    val enc = df.select(base ++ (0 until w.hE).map(j =>
      swishCol(bn(0, j, dense(feats, w.we, w.be, j))).as(s"__e$j")): _*)
    val eC = (0 until w.hE).map(j => col(s"__e$j"))
    val lat = enc.select(base ++ (0 until w.latent).map(i =>
      swishCol(bn(1, i, dense(eC, w.wz, w.bz, i))).as(s"latent_$i")): _*)
    if (upTo == "latent") return lat
    val zC = (0 until w.latent).map(i => col(s"latent_$i"))
    val latCols = base ++ zC.indices.map(i => col(s"latent_$i"))
    val dec = lat.select(latCols ++ (0 until w.hE).map(j =>
      swishCol(bn(2, j, dense(zC, w.wd, w.bd, j))).as(s"__d$j")): _*)
    val dC = (0 until w.hE).map(j => col(s"__d$j"))
    val rec = dec.select(latCols ++ (0 until w.k).map(f =>
      dense(dC, w.wr, w.br, f).as(s"recon_$f")): _*)
    if (upTo == "recon") return rec
    val rC = (0 until w.k).map(f => col(s"recon_$f"))
    val recCols = latCols ++ (0 until w.k).map(f => col(s"recon_$f"))
    val hed = rec.select(recCols ++ (0 until w.hA).map(a =>
      swishCol(bn(3, a, dense(rC, w.wh, w.bh, a))).as(s"__h$a")): _*)
    val hC = (0 until w.hA).map(a => col(s"__h$a"))
    hed.select(recCols :+ (hC.zipWithIndex.map { case (c, a) =>
      c * lit(w.wp(a))
    }.reduce(_ + _) + lit(w.bp)).as("prediction"): _*)
  }

  /** Multi-output head staging (`output_units > 1`,
    * autoencoder.py:67-69): the shared encoder/decoder/head-hidden
    * stages are computed once; each `prediction_{i}` is one Dense row
    * over the staged head units. */
  def stageMulti(df: DataFrame, feats: Seq[Column], w: JointAeWeights,
      aff: Seq[(Array[Double], Array[Double])] = null): DataFrame = {
    require(w.wpM != null, "single-output weights: use stageTo")
    val hed = stageHead(df, feats, w, aff)
    val hC = (0 until w.hA).map(a => col(s"__h$a"))
    val heads = w.wpM.indices.map { o =>
      (hC.zipWithIndex.map { case (c, a) =>
        c * lit(w.wpM(o)(a))
      }.reduce(_ + _) + lit(w.bpM(o))).as(s"prediction_$o")
    }
    hed.select(hed.columns.filterNot(_.startsWith("__h"))
      .map(col).toSeq ++ heads: _*)
  }

  /** Stage through the head-hidden layer, KEEPING the `__h` columns. */
  private def stageHead(df: DataFrame, feats: Seq[Column],
      w: JointAeWeights,
      aff: Seq[(Array[Double], Array[Double])] = null): DataFrame = {
    val rec = stageTo(df, feats, w, upTo = "recon", aff)
    val rC = (0 until w.k).map(f => col(s"recon_$f"))
    rec.select(rec.columns.map(col).toSeq ++ (0 until w.hA).map(a =>
      swishCol(if (aff == null) dense(rC, w.wh, w.bh, a)
        else dense(rC, w.wh, w.bh, a) * lit(aff(3)._1(a)) +
          lit(aff(3)._2(a))).as(s"__h$a")): _*)
  }

  /** SQL mirror of stageTo(upTo="pred") as chained CTEs over `from`.
    * `fx` are the standardized feature expressions. Returns the final
    * select list source (CTE chain + SELECT of id cols, latent_i,
    * recon_i, prediction). */
  def sql(withSql: String, from: String, fx: Seq[String],
      w: JointAeWeights, idCols: String, selectCols: String,
      aff: Seq[(Array[Double], Array[Double])] = null): String = {
    def bn(site: Int, j: Int, z: String): String =
      if (aff == null) z
      else s"($z) * ${aff(site)._1(j)} + ${aff(site)._2(j)}"
    val eS = (0 until w.hE).map(j =>
      s"${swishSql(bn(0, j, denseSql(fx, w.we, w.be, j)))} AS __e$j")
    val eN = (0 until w.hE).map(j => s"__e$j")
    val zS = (0 until w.latent).map(i =>
      s"${swishSql(bn(1, i, denseSql(eN, w.wz, w.bz, i)))} AS latent_$i")
    val zN = (0 until w.latent).map(i => s"latent_$i")
    val dS = (0 until w.hE).map(j =>
      s"${swishSql(bn(2, j, denseSql(zN, w.wd, w.bd, j)))} AS __d$j")
    val dN = (0 until w.hE).map(j => s"__d$j")
    val rS = (0 until w.k).map(f =>
      s"${denseSql(dN, w.wr, w.br, f)} AS recon_$f")
    val rN = (0 until w.k).map(f => s"recon_$f")
    val hS = (0 until w.hA).map(a =>
      s"${swishSql(bn(3, a, denseSql(rN, w.wh, w.bh, a)))} AS __h$a")
    val pS = (0 until w.hA).map(a => s"__h$a * ${w.wp(a)}")
      .mkString(" + ") + s" + ${w.bp}"
    s"""$withSql, enc AS (
       |  SELECT $idCols, ${eS.mkString(",\n    ")} FROM $from),
       |latf AS (
       |  SELECT $idCols, ${zS.mkString(",\n    ")} FROM enc),
       |dec AS (
       |  SELECT $idCols, ${zN.mkString(", ")}, ${dS.mkString(",\n    ")}
       |  FROM latf),
       |rec AS (
       |  SELECT $idCols, ${zN.mkString(", ")}, ${rS.mkString(",\n    ")}
       |  FROM dec),
       |hed AS (
       |  SELECT $idCols, ${zN.mkString(", ")}, ${rN.mkString(", ")},
       |    ${hS.mkString(",\n    ")}
       |  FROM rec),
       |fin AS (
       |  SELECT $idCols, ${zN.mkString(", ")}, ${rN.mkString(", ")},
       |    $pS AS prediction
       |  FROM hed)
       |SELECT $selectCols FROM fin""".stripMargin
  }

  /** SQL mirror of [[stageMulti]] — the multi-output head over the
    * same staged chain (`prediction_{i}` per Dense row). */
  def sqlMulti(withSql: String, from: String, fx: Seq[String],
      w: JointAeWeights, idCols: String, selectCols: String,
      aff: Seq[(Array[Double], Array[Double])] = null): String = {
    require(w.wpM != null, "single-output weights: use sql")
    val single = sql(withSql, from, fx, w, idCols, "1", aff)
    // reuse the chain up to `hed`, swap the head stage
    val upToHed = single.substring(0, single.indexOf(",\nfin AS ("))
    val zN = (0 until w.latent).map(i => s"latent_$i")
    val rN = (0 until w.k).map(f => s"recon_$f")
    val pS = w.wpM.indices.map { o =>
      (0 until w.hA).map(a => s"__h$a * ${w.wpM(o)(a)}")
        .mkString(" + ") + s" + ${w.bpM(o)} AS prediction_$o"
    }
    s"""$upToHed,
       |fin AS (
       |  SELECT $idCols, ${zN.mkString(", ")}, ${rN.mkString(", ")},
       |    ${pS.mkString(",\n    ")}
       |  FROM hed)
       |SELECT $selectCols FROM fin""".stripMargin
  }
}

/** Joint-loss nonlinear autoencoder trainer (autoencoder.py:25-135
  * end-to-end): Adam on the driver over [[PartitionSum]] flat gradients;
  * `batchFraction` gives the seeded minibatch path. The linear-PCA
  * BottleneckEncoder stays as the closed-form sibling; this is the
  * trained path a reference user gets from fit(). Both of the
  * reference's stochastic regularizers are implemented: GaussianNoise
  * (`gaussianNoise`) and per-layer Dropout (`dropoutEncoder` /
  * `dropoutLatent` / `dropoutHead` — the rates the reference carries in
  * `encoder_units`/`latent_units`/`ae_units`, defaults 0.1/0.1/0.4,
  * autoencoder.py:16-22; dropout here defaults OFF to keep the oracle
  * fit deterministic, opt in for reference-default regularization).
  *
  * Standardization mode: this trainer replaces the reference's BN
  * layers with input standardization, so the reconstruction head trains
  * against the STANDARDIZED features — relative to the raw-space MSE,
  * each feature's error is reweighted by 1/σ_f² (features equalized
  * rather than dollar-scaled); fitted surfaces are destandardized on
  * output. For the reference's ACTUAL default architecture — trainable
  * BatchNormalization at all five sites with true per-batch statistics
  * and the raw-space reconstruction objective — use the
  * [[BnJointAutoencoder]] sibling, which closes that deviation. */
class JointAutoencoder(
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
    val targetLoss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val rankBatch: Int = 64,
    val dropoutEncoder: Double = 0.0,
    val dropoutLatent: Double = 0.0,
    val dropoutHead: Double = 0.0,
    val optimizer: String = "adam") extends Serializable {

  require(Set("mse", "spearman", "combined")(targetLoss),
    s"targetLoss must be mse|spearman|combined, got $targetLoss")

  /** All target-head outputs — the reference's Dense(output_units)
    * target_prediction (autoencoder.py:67-69), trained jointly with the
    * reconstruction head. The rank losses compose with multi-output
    * heads under the reference's exact semantics — the loss flattens
    * (batch, out) to one ranked vector (losses.py:67-69). */
  val targetCols: Seq[String] = targetCol +: extraTargetCols
  private val nOut = targetCols.size

  private val k = featureCols.size
  private val sz = JointAeKernel.size(k, encoderHidden, latentDim,
    headHidden, nOut)
  private val aeDrop = {
    val d = JointAeKernel.AeDrop(dropoutEncoder, dropoutLatent, dropoutHead)
    if (d.active) d else null
  }

  /** Mean joint loss + flat gradient at `p` over `data` (col 0 = y
    * standardized, cols 1..k = standardized features; if 2k+1 columns,
    * cols k+1..2k are the noise-corrupted network inputs and cols 1..k
    * stay the clean reconstruction targets) — exposed for the
    * finite-difference spec. `ep` seeds the per-row dropout masks
    * (0 = dropout off, the spec's deterministic mode). */
  def gradient(data: DataFrame, p: Array[Double], ep: Long = 0L)
      : (Array[Double], Double) = {
    val kk = k
    val (rw, tw) = (reconWeight, targetWeight)
    val n = sz
    val dd = if (ep == 0L) null else aeDrop
    val seed0 = seed
    val nO = nOut
    val w = JointAeKernel.toWeights(p, kk, encoderHidden, latentDim,
      headHidden, nO)
    val sums = PartitionSum.sum(data.rdd, n + 2) { (part, it, acc) =>
      it.foreach { row =>
        val ys = Array.tabulate(nO)(o2 => row.getDouble(o2))
        val xTgt = Array.tabulate(kk)(i => row.getDouble(i + nO))
        val xIn = if (row.size > kk + nO)
          Array.tabulate(kk)(i => row.getDouble(kk + i + nO)) else xTgt
        val ms = if (dd == null) 0L
          else SeqAdam.maskSeed(seed0, ep, part, acc(n + 1).toLong)
        val loss = JointAeKernel.runW(w, xIn, xTgt, ys(0), rw, tw, acc,
          dd, ms, ysM = ys)
        acc(n) += loss; acc(n + 1) += 1.0
      }
    }
    PartitionSum.mean(sums, n)
  }

  /** Batched epoch gradient when the TARGET head trains against a rank
    * loss (the reference compiles loss={"reconstruction": "mse",
    * "target_prediction": loss_function}, autoencoder.py:79): per
    * in-partition batch of b rows, batch loss = rw·mean(recon) +
    * tw·L_rank(preds, ys). The kernel's target backward is linear in
    * (p−y′), so the rank gradient dLt injects via y′ = p − dLt_i/2
    * (then 2·tw·(p−y′) = tw·dLt_i) while the recon term is scaled rw/b
    * per row; slot sz+1 counts batches. The reported loss is the FULL
    * joint objective — each row's reconstruction term (the kernel
    * return minus the injected surrogate-target term) plus tw·L_rank —
    * consistent with the MSE-path gradient(). A leftover single-row
    * batch contributes through the same path (combinedGrad degenerates
    * to the pure MSE gradient at b = 1; skipped only for the pure
    * single-output spearman loss, which is undefined on one element —
    * a multi-output row still flattens to nOut >= 2).
    *
    * Multi-output target heads use the reference's exact semantics —
    * the loss FLATTENS (batch, out) to one ranked vector
    * (losses.py:67-69); the kernel's per-output backward is
    * 2·tw/nOut·(p−y′), so the flattened gradient injects via
    * y′_o = p_o − nOut·dLt_o/2. */
  def rankGradient(data: DataFrame, p: Array[Double], ep: Long = 0L)
      : (Array[Double], Double) = {
    val (kk, hE, l, hA) = (k, encoderHidden, latentDim, headHidden)
    val (rw, tw) = (reconWeight, targetWeight)
    val (mw, sw) = if (targetLoss == "spearman") (0.0, 1.0)
      else (mseWeight, spearmanWeight)
    val (tau, rb) = (rankTau, rankBatch)
    val n = sz
    val nO = nOut
    val dd = if (ep == 0L) null else aeDrop
    val seed0 = seed
    val w = JointAeKernel.toWeights(p, kk, hE, l, hA, nO)
    val sums = PartitionSum.sum(data.rdd, n + 2) { (part, it, acc) =>
      var idx = 0L
      SeqAdam.shuffledBatches(it, rb, seed0, ep, part).foreach { batch =>
        val b = batch.size
        if (b >= 2 || mw != 0.0 || nO >= 2) {
          val xIn = new Array[Array[Double]](b)
          val xTgt = new Array[Array[Double]](b)
          val seeds = new Array[Long](b)
          val flatP = new Array[Double](b * nO)
          val flatY = new Array[Double](b * nO)
          var i = 0
          batch.foreach { row =>
            xTgt(i) = Array.tabulate(kk)(j => row.getDouble(j + nO))
            xIn(i) = if (row.size > kk + nO)
              Array.tabulate(kk)(j => row.getDouble(kk + j + nO))
            else xTgt(i)
            seeds(i) = if (dd == null) 0L
              else SeqAdam.maskSeed(seed0, ep, part, idx)
            idx += 1
            val po = new Array[Double](nO)
            JointAeKernel.runW(w, xIn(i), xTgt(i), 0.0, rw, tw, null,
              dd, seeds(i), predOut = po, ysM = new Array[Double](nO))
            var o2 = 0
            while (o2 < nO) {
              flatP(i * nO + o2) = po(o2)
              flatY(i * nO + o2) = row.getDouble(o2)
              o2 += 1
            }
            i += 1
          }
          val (dLt, tLoss) =
            RankLoss.combinedGrad(flatP, flatY, tau, mw, sw)
          i = 0
          while (i < b) {
            val sur = Array.tabulate(nO)(o2 =>
              flatP(i * nO + o2) - nO * dLt(i * nO + o2) / 2.0)
            val lv = JointAeKernel.runW(w, xIn(i), xTgt(i), 0.0, rw / b,
              tw, acc, dd, seeds(i), ysM = sur)
            // strip the injected surrogate term, keep the recon term
            var surTerm = 0.0
            var o2 = 0
            while (o2 < nO) {
              val s = nO * dLt(i * nO + o2) / 2.0
              surTerm += s * s
              o2 += 1
            }
            acc(n) += lv - tw * surTerm / nO
            i += 1
          }
          acc(n) += tw * tLoss
          acc(n + 1) += 1.0
        }
      }
    }
    PartitionSum.mean(sums, n)
  }

  def fit(df: DataFrame): JointAeModel = {
    val data = df.select((targetCols ++ featureCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    val statCols = featureCols.flatMap(c =>
      Seq(avg(col(c)), stddev_pop(col(c)))) ++
      targetCols.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c))))
    val r = data.agg(statCols.head, statCols.tail: _*).collect()(0)
    val fMean = Array.tabulate(k)(i => r.getDouble(2 * i))
    val fStd = Array.tabulate(k)(i => math.max(r.getDouble(2 * i + 1), 1e-12))
    val yMeans = Array.tabulate(nOut)(o2 => r.getDouble(2 * (k + o2)))
    val yStds = Array.tabulate(nOut)(o2 =>
      math.max(r.getDouble(2 * (k + o2) + 1), 1e-12))
    val std = data.select(
      targetCols.zipWithIndex.map { case (c, o2) =>
        ((col(c) - lit(yMeans(o2))) / lit(yStds(o2))).as(s"__y$o2")
      } ++
      featureCols.zipWithIndex.map { case (c, i) =>
        ((col(c) - lit(fMean(i))) / lit(fStd(i))).as(s"__x$i")
      }: _*)
    std.cache(); std.count(); data.unpersist()

    val rng = new scala.util.Random(seed)
    val p = new Array[Double](sz)
    // Glorot-uniform per layer boundary (fan sums per matrix)
    val fans = Seq(
      (k, encoderHidden, k * encoderHidden), (0, 0, encoderHidden),
      (encoderHidden, latentDim, encoderHidden * latentDim),
      (0, 0, latentDim),
      (latentDim, encoderHidden, latentDim * encoderHidden),
      (0, 0, encoderHidden),
      (encoderHidden, k, encoderHidden * k), (0, 0, k),
      (k, headHidden, k * headHidden), (0, 0, headHidden),
      (headHidden, nOut, headHidden * nOut), (0, 0, nOut))
    var o = 0
    fans.foreach { case (fin, fout, cnt) =>
      val lim = if (fin == 0) 0.0 else math.sqrt(6.0 / (fin + fout))
      for (_ <- 0 until cnt) { p(o) = (rng.nextDouble() * 2 - 1) * lim; o += 1 }
    }
    val adam = new AdamState(sz, lr, optimizer)
    for (t <- 1 to epochs) {
      val batch = if (batchFraction >= 1.0) std
        else std.sample(withReplacement = false, batchFraction, seed + t)
      // denoising corruption (GaussianNoise, autoencoder.py:14,32): a
      // fresh seeded randn draw per epoch on the ENCODER INPUT only —
      // reconstruction still targets the clean standardized features
      val epochData = if (gaussianNoise <= 0.0) batch else {
        val cs = batch.columns
        val featCs = cs.drop(nOut)
        batch.select(cs.map(col) ++
          featCs.zipWithIndex.map { case (c, i) =>
            (col(c) + lit(gaussianNoise) *
              randn(seed + t.toLong * k + i)).as(s"__n$i")
          }: _*)
      }
      val (g0, _) = if (targetLoss != "mse") rankGradient(epochData, p, t)
        else gradient(epochData, p, t)
      adam.update(p, g0, t)
    }
    std.unpersist()
    JointAeModel(JointAeKernel.toWeights(p, k, encoderHidden, latentDim,
      headHidden, nOut), fMean, fStd, yMeans(0), yStds(0), featureCols,
      yMeans, yStds)
  }
}
