package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Depth-general joint autoencoder — the reference's ACTUAL list-shaped
  * architecture (autoencoder.py:15-69): `encoder_units` is a LIST of
  * (units, dropout) stages, the decoder mirrors it REVERSED, and
  * `ae_units` is a list of head stages between the reconstruction and
  * the Dense(output_units) target head. [[JointAutoencoder]] remains
  * the single-stage fast path (the reference default is one stage per
  * list); this kernel generalizes depth exactly the way
  * [[DeepMLPRegressor]] generalizes [[MLPRegressor]]'s hidden layer.
  *
  * The whole network is one CHAIN with a loss tap: standardized input →
  * swish encoder stages → swish latent → swish decoder stages → LINEAR
  * reconstruction (tap: rw·mean over features of (r−xTgt)²) → swish
  * head stages → LINEAR Dense(out) target head (tw·mean over outputs).
  * Backward runs the chain in reverse, ADDING the reconstruction-loss
  * gradient at the tap. Per-layer BatchNorm is the documented
  * standardization-in-lieu-of-BatchNorm deviation (see JointAe).
  */
object DeepAeKernel {

  import Activations.{sigmoid, swish, swishD}

  /** One chained Dense stage: `act` = swish (false = linear);
    * `drop` = training-time dropout rate AFTER the activation
    * (the reference's per-stage tuples); `tap` marks the recon layer. */
  case class Stage(nIn: Int, nOut: Int, act: Boolean, drop: Double,
      tap: Boolean = false)

  /** @param enc encoder stage widths (`encoder_units` units)
    * @param encDrop per-stage dropout rates (aligned with `enc`)
    * @param head head stage widths (`ae_units` units)
    * @param out Dense(output_units) target-head width */
  case class Cfg(k: Int, enc: Seq[Int], latent: Int, head: Seq[Int],
      out: Int = 1, encDrop: Seq[Double] = Nil,
      latentDrop: Double = 0.0, headDrop: Seq[Double] = Nil) {
    require(enc.nonEmpty, "at least one encoder stage (encoder_units)")
    require(out >= 1, "at least one output unit")
    require(encDrop.isEmpty || encDrop.size == enc.size,
      "encDrop must align with enc")
    require(headDrop.isEmpty || headDrop.size == head.size,
      "headDrop must align with head")
    private def eDrop(i: Int) = if (encDrop.isEmpty) 0.0 else encDrop(i)
    private def hDrop(i: Int) = if (headDrop.isEmpty) 0.0 else headDrop(i)
    /** The chain: enc stages, latent, REVERSED dec stages, recon (tap),
      * head stages, target out — exactly autoencoder.py:32-69. */
    val stages: Seq[Stage] = {
      val encS = enc.indices.map(i =>
        Stage(if (i == 0) k else enc(i - 1), enc(i), act = true, eDrop(i)))
      val latS = Stage(enc.last, latent, act = true, latentDrop)
      val decS = enc.indices.reverse.map(i =>
        Stage(if (i == enc.size - 1) latent else enc(i + 1), enc(i),
          act = true, eDrop(i)))
      val recS = Stage(enc.head, k, act = false, 0.0, tap = true)
      val headS = head.indices.map(i =>
        Stage(if (i == 0) k else head(i - 1), head(i), act = true,
          hDrop(i)))
      val outS = Stage(if (head.isEmpty) k else head.last, out,
        act = false, 0.0)
      (encS :+ latS) ++ decS ++ (recS +: headS) :+ outS
    }
    val stageOff: Array[Int] = stages.scanLeft(0)((o, s) =>
      o + s.nIn * s.nOut + s.nOut).toArray
    def size: Int = stageOff.last
    /** Index of the latent stage (its activation = `latent_{i}`). */
    def latentStage: Int = enc.size
    /** Index of the reconstruction tap stage. */
    def tapStage: Int = stages.indexWhere(_.tap)
  }

  /** Forward (+ backward into `acc` when non-null). Returns the joint
    * loss; `actsOut`, when non-null, receives every stage's POST-drop
    * activation (index s+1; index 0 = the input) for scoring checks.
    * `maskSeed != 0` samples the per-stage inverted-Bernoulli dropout
    * masks in stage order from one seeded stream. */
  def run(w: Array[Double], c: Cfg, x: Array[Double],
      xTgt: Array[Double], ys: Array[Double], rw: Double, tw: Double,
      acc: Array[Double], maskSeed: Long = 0L,
      actsOut: Array[Array[Double]] = null): Double = {
    val nS = c.stages.size
    val rng = if (maskSeed != 0L) new java.util.Random(maskSeed) else null
    val masks = new Array[Array[Double]](nS)
    if (rng != null)
      for (s <- 0 until nS)
        masks(s) = if (c.stages(s).drop <= 0) null
          else SeqAdam.invBernoulli(rng, c.stages(s).drop,
            c.stages(s).nOut)
    val acts = new Array[Array[Double]](nS + 1) // post-act, post-drop
    val zs = new Array[Array[Double]](nS)       // pre-activation
    acts(0) = x
    for (s <- 0 until nS) {
      val st = c.stages(s)
      val off = c.stageOff(s)
      val in = acts(s)
      val z = Array.tabulate(st.nOut) { j =>
        var v = w(off + st.nIn * st.nOut + j)
        var i = 0
        while (i < st.nIn) { v += in(i) * w(off + i * st.nOut + j); i += 1 }
        v
      }
      zs(s) = z
      val a = if (st.act) z.map(swish) else z
      acts(s + 1) =
        if (masks(s) == null) a
        else Array.tabulate(st.nOut)(j => a(j) * masks(s)(j))
    }
    if (actsOut != null) System.arraycopy(acts, 0, actsOut, 0, nS + 1)
    val r = acts(c.tapStage + 1)
    val preds = acts(nS)
    var recon = 0.0
    for (f <- 0 until c.k) { val d = r(f) - xTgt(f); recon += d * d }
    var tgt = 0.0
    for (o <- 0 until c.out) { val d = preds(o) - ys(o); tgt += d * d }
    val loss = rw * recon / c.k + tw * tgt / c.out
    if (acc == null) return loss

    // backward down the chain; the recon-loss gradient joins at the tap
    var dOut = Array.tabulate(c.out)(o =>
      2.0 * tw / c.out * (preds(o) - ys(o)))
    var s = nS - 1
    while (s >= 0) {
      val st = c.stages(s)
      val off = c.stageOff(s)
      val in = acts(s)
      // through drop mask then activation derivative
      val dz = Array.tabulate(st.nOut) { j =>
        val m = if (masks(s) == null) 1.0 else masks(s)(j)
        val g = dOut(j) * m
        if (st.act) g * swishD(zs(s)(j)) else g
      }
      var j = 0
      while (j < st.nOut) {
        acc(off + st.nIn * st.nOut + j) += dz(j)
        j += 1
      }
      val dIn = new Array[Double](st.nIn)
      var i = 0
      while (i < st.nIn) {
        var g = 0.0
        j = 0
        while (j < st.nOut) {
          acc(off + i * st.nOut + j) += in(i) * dz(j)
          g += w(off + i * st.nOut + j) * dz(j)
          j += 1
        }
        dIn(i) = g
        i += 1
      }
      dOut = dIn
      if (s - 1 == c.tapStage) {
        // arriving AT the tap's output: add the reconstruction gradient
        for (f <- 0 until c.k)
          dOut(f) += 2.0 * rw / c.k * (r(f) - xTgt(f))
      }
      s -= 1
    }
    loss
  }

  /** Glorot-uniform init per stage matrix, zero biases. */
  def init(c: Cfg, seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val w = new Array[Double](c.size)
    for (s <- c.stages.indices)
      Activations.glorot(w, c.stageOff(s), c.stages(s).nIn,
        c.stages(s).nOut, rng)
    w
  }

  // ---- distributed scoring (staged columns; JointAe's Alg style) ----

  private def swishCol(z: Column): Column =
    z * (lit(1.0) / (lit(1.0) + exp(-z)))

  private def dense(in: Seq[Column], w: Array[Double], off: Int,
      nIn: Int, nOut: Int, j: Int): Column =
    in.zipWithIndex.map { case (c0, i) =>
      c0 * lit(w(off + i * nOut + j))
    }.reduce(_ + _) + lit(w(off + nIn * nOut + j))

  private def denseSql(in: Seq[String], w: Array[Double], off: Int,
      nIn: Int, nOut: Int, j: Int): String =
    in.zipWithIndex.map { case (c0, i) =>
      s"$c0 * ${w(off + i * nOut + j)}"
    }.mkString(" + ") + s" + ${w(off + nIn * nOut + j)}"

  private def swishSql(z: String): String =
    s"($z) * (1.0 / (1.0 + exp(-($z))))"

  /** Names each stage's columns: latent stage → `latent_{i}`, tap →
    * `recon_{i}`, final → `prediction_{i}` (or `prediction`), others →
    * `__s{s}_{i}`. */
  private def stageName(c: Cfg, s: Int, j: Int): String =
    if (s == c.latentStage) s"latent_$j"
    else if (s == c.tapStage) s"recon_$j"
    else if (s == c.stages.size - 1)
      (if (c.out == 1) "prediction" else s"prediction_$j")
    else s"__s${s}_$j"

  /** Index of stage `s` among the ACT stages (the BN sites of the
    * BatchNorm chain, [[DeepBnAutoencoder]]) — valid when stages(s).act. */
  def actIdx(c: Cfg, s: Int): Int = c.stages.take(s).count(_.act)

  /** Stage the whole chain onto `df` (dropout is inference-identity):
    * appends latent_{i}, recon_{i}, prediction(_{i}); drops internals.
    * `aff` (nullable) carries the BatchNorm chain's inference affines,
    * one (scale, shift) pair per ACT stage in stage order, applied
    * between each Dense pre-activation and its swish (the input-site
    * affine is pre-applied by the caller into `feats`). */
  def score(df: DataFrame, feats: Seq[Column], w: Array[Double],
      c: Cfg, aff: Seq[(Array[Double], Array[Double])] = null): DataFrame = {
    var cur = df
    var in: Seq[Column] = feats
    for (s <- c.stages.indices) {
      val st = c.stages(s)
      val off = c.stageOff(s)
      val cols = (0 until st.nOut).map { j =>
        val z0 = dense(in, w, off, st.nIn, st.nOut, j)
        val z = if (aff == null || !st.act) z0
          else z0 * lit(aff(actIdx(c, s))._1(j)) +
            lit(aff(actIdx(c, s))._2(j))
        (if (st.act) swishCol(z) else z).as(stageName(c, s, j))
      }
      cur = cur.select(cur.columns.map(col) ++ cols: _*)
      in = (0 until st.nOut).map(j => col(stageName(c, s, j)))
    }
    cur.drop(cur.columns.filter(_.startsWith("__s")): _*)
  }

  /** DuckDB mirror of [[score]] as chained CTEs. */
  def sql(withSql: String, from: String, fx: Seq[String],
      w: Array[Double], c: Cfg, idCols: String, selectCols: String,
      aff: Seq[(Array[Double], Array[Double])] = null): String = {
    val sb = new StringBuilder(withSql)
    var prev = from
    var in: Seq[String] = fx
    var keep: Seq[String] = Nil // named outputs to carry forward
    for (s <- c.stages.indices) {
      val st = c.stages(s)
      val off = c.stageOff(s)
      val names = (0 until st.nOut).map(j => stageName(c, s, j))
      val exprs = (0 until st.nOut).map { j =>
        val z0 = denseSql(in, w, off, st.nIn, st.nOut, j)
        val z = if (aff == null || !st.act) z0
          else s"($z0) * ${aff(actIdx(c, s))._1(j)} + " +
            s"${aff(actIdx(c, s))._2(j)}"
        s"${if (st.act) swishSql(z) else z} AS ${names(j)}"
      }
      val cte = s"c$s"
      val carry = if (keep.isEmpty) "" else keep.mkString(", ", ", ", "")
      sb.append(s",\n$cte AS (\n  SELECT $idCols$carry,\n    " +
        exprs.mkString(",\n    ") + s"\n  FROM $prev)")
      prev = cte
      in = names
      keep = keep ++ names.filterNot(_.startsWith("__s"))
    }
    sb.append(s"\nSELECT $selectCols FROM $prev")
    sb.toString
  }
}

/** Depth-general joint-AE trainer — the reference's list-shaped
  * `encoder_units` / `ae_units` config (autoencoder.py:15-19) with the
  * decoder mirrored reversed, per-stage dropout rates riding the same
  * tuples, the GaussianNoise denoising corruption, and the
  * Dense(output_units) multi-target head. [[JointAutoencoder]] stays
  * the single-stage fast path (and carries the rank losses); this
  * trainer is mse-only, the same boundary as the other deep variants.
  */
class DeepJointAutoencoder(
    val featureCols: Seq[String],
    val targetCol: String,
    val extraTargetCols: Seq[String] = Nil,
    val encoderUnits: Seq[Int] = Seq(8),
    val latentDim: Int = 2,
    val headUnits: Seq[Int] = Seq(4),
    val encoderDropout: Seq[Double] = Nil,
    val latentDropout: Double = 0.0,
    val headDropout: Seq[Double] = Nil,
    val reconWeight: Double = 1.0,
    val targetWeight: Double = 1.0,
    val gaussianNoise: Double = 0.0,
    val lr: Double = 0.01,
    val epochs: Int = 150,
    val seed: Long = 42L,
    val batchFraction: Double = 0.2,
    val optimizer: String = "adam") extends ModelEstimator {

  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")

  val targetCols: Seq[String] = targetCol +: extraTargetCols
  private val nOut = targetCols.size
  private val k = featureCols.size
  private val cfg = DeepAeKernel.Cfg(k, encoderUnits, latentDim,
    headUnits, nOut, encoderDropout, latentDropout, headDropout)
  private val sz = cfg.size
  private def dropActive: Boolean =
    encoderDropout.exists(_ > 0) || latentDropout > 0 ||
      headDropout.exists(_ > 0)

  private var weights: Array[Double] = _
  private var fMean: Array[Double] = _
  private var fStd: Array[Double] = _
  private var yMeans: Array[Double] = _
  private var yStds: Array[Double] = _

  def fittedWeights: Array[Double] = weights
  def kernelCfg: DeepAeKernel.Cfg = cfg
  def featMeans: Array[Double] = fMean
  def featStds: Array[Double] = fStd
  def targetMeans: Array[Double] = yMeans
  def targetStds: Array[Double] = yStds

  /** Mean joint loss + flat gradient (exposed for the finite-difference
    * spec; data layout = targets..., clean features..., [corrupted]). */
  def gradient(data: DataFrame, p: Array[Double], ep: Long = 0L)
      : (Array[Double], Double) = {
    val (kk, nO, n, c) = (k, nOut, sz, cfg)
    val (rw, tw) = (reconWeight, targetWeight)
    val useDrop = dropActive && ep != 0L
    val seed0 = seed
    val sums = PartitionSum.sum(data.rdd, n + 2) { (part, it, acc) =>
      it.foreach { row =>
        val ys = Array.tabulate(nO)(o => row.getDouble(o))
        val xTgt = Array.tabulate(kk)(i => row.getDouble(i + nO))
        val xIn = if (row.size > kk + nO)
          Array.tabulate(kk)(i => row.getDouble(kk + i + nO)) else xTgt
        val ms = if (!useDrop) 0L
          else SeqAdam.maskSeed(seed0, ep, part, acc(n + 1).toLong)
        val loss = DeepAeKernel.run(p, c, xIn, xTgt, ys, rw, tw, acc, ms)
        acc(n) += loss; acc(n + 1) += 1.0
      }
    }
    PartitionSum.mean(sums, n)
  }

  def fit(df: DataFrame): this.type = {
    val data = df.select((targetCols ++ featureCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    val statCols = featureCols.flatMap(c =>
      Seq(avg(col(c)), stddev_pop(col(c)))) ++
      targetCols.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c))))
    val r = data.agg(statCols.head, statCols.tail: _*).collect()(0)
    fMean = Array.tabulate(k)(i => r.getDouble(2 * i))
    fStd = Array.tabulate(k)(i => math.max(r.getDouble(2 * i + 1), 1e-12))
    yMeans = Array.tabulate(nOut)(o => r.getDouble(2 * (k + o)))
    yStds = Array.tabulate(nOut)(o =>
      math.max(r.getDouble(2 * (k + o) + 1), 1e-12))
    val std = data.select(
      targetCols.zipWithIndex.map { case (c, o) =>
        ((col(c) - lit(yMeans(o))) / lit(yStds(o))).as(s"__y$o")
      } ++
      featureCols.zipWithIndex.map { case (c, i) =>
        ((col(c) - lit(fMean(i))) / lit(fStd(i))).as(s"__x$i")
      }: _*)
    std.cache(); std.count(); data.unpersist()

    val p = DeepAeKernel.init(cfg, seed)
    val adam = new AdamState(sz, lr, optimizer)
    for (t <- 1 to epochs) {
      val batch = if (batchFraction >= 1.0) std
        else std.sample(withReplacement = false, batchFraction, seed + t)
      // denoising corruption on the encoder INPUT only; reconstruction
      // still targets the clean standardized features (autoencoder.py:32)
      val epochData = if (gaussianNoise <= 0.0) batch else {
        val cs = batch.columns
        batch.select(cs.map(col) ++
          cs.drop(nOut).zipWithIndex.map { case (c, i) =>
            (col(c) + lit(gaussianNoise) *
              randn(seed + t.toLong * k + i)).as(s"__n$i")
          }: _*)
      }
      val (g0, _) = gradient(epochData, p, t)
      adam.update(p, g0, t)
    }
    std.unpersist()
    weights = p
    this
  }

  /** Appends latent_{i}, recon_{i} (destandardized), and the
    * destandardized prediction(_{i}) head through the staged chain. */
  def predict(df: DataFrame): DataFrame = {
    require(weights != null, "fit first")
    val feats = featureCols.zipWithIndex.map { case (c, i) =>
      (col(c).cast("double") - lit(fMean(i))) / lit(fStd(i))
    }
    var scored = DeepAeKernel.score(df, feats, weights, cfg)
    for (o <- 0 until nOut) {
      val n = if (nOut == 1) "prediction" else s"prediction_$o"
      scored = scored.withColumn(n,
        col(n) * lit(yStds(o)) + lit(yMeans(o)))
    }
    scored.drop(featureCols.indices.map(f => s"recon_$f"): _*)
  }

  def familyName: String = "deep_ae"
  // predict appends latent_{i} (recon is dropped) plus the head(s)
  def predictionNames: Seq[String] =
    (0 until latentDim).map(i => s"latent_$i") ++
      (if (nOut == 1) Seq("prediction")
      else (0 until nOut).map(o => s"prediction_$o"))

  /** The fitted payload (flat kernel + standardization stats +
    * architecture) — the sklearn-pickle role; exact-double JSON, so
    * [[DeepJointAutoencoder.load]] scores bit-identically. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(weights != null, "fit first")
    (Map(
      "family" -> "deep_ae",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "targets" -> WeightsIO.namesToMeta(targetCols),
      "encoderUnits" -> encoderUnits.mkString(","),
      "latentDim" -> latentDim.toString,
      "headUnits" -> headUnits.mkString(","),
      "encoderDropout" -> encoderDropout.mkString(","),
      "latentDropout" -> latentDropout.toString,
      "headDropout" -> headDropout.mkString(","),
      "reconWeight" -> reconWeight.toString,
      "targetWeight" -> targetWeight.toString,
      "gaussianNoise" -> gaussianNoise.toString,
      "lr" -> lr.toString, "epochs" -> epochs.toString,
      "seed" -> seed.toString,
      "batchFraction" -> batchFraction.toString,
      "optimizer" -> optimizer),
      Seq("flat" -> weights, "fMean" -> fMean, "fStd" -> fStd,
        "yMeans" -> yMeans, "yStds" -> yStds))
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

object DeepJointAutoencoder {
  /** Rehydrate a `save`d estimator (architecture + stats + kernel,
    * shape-validated) — `predict` on the loaded instance equals
    * `predict` on the fitted one byte for byte. */
  def load(path: String): DeepJointAutoencoder = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : DeepJointAutoencoder = {
    WeightsIO.requireFamily(meta, "deep_ae", where)
    val targets = WeightsIO.namesFromMeta(meta("targets"))
    val m = new DeepJointAutoencoder(
      WeightsIO.namesFromMeta(meta("features")), targets.head,
      extraTargetCols = targets.tail,
      encoderUnits = WeightsIO.intsFromMeta(meta("encoderUnits")),
      latentDim = meta("latentDim").toInt,
      headUnits = WeightsIO.intsFromMeta(meta("headUnits")),
      encoderDropout = WeightsIO.doublesFromMeta(meta("encoderDropout")),
      latentDropout = meta("latentDropout").toDouble,
      headDropout = WeightsIO.doublesFromMeta(meta("headDropout")),
      reconWeight = meta("reconWeight").toDouble,
      targetWeight = meta("targetWeight").toDouble,
      gaussianNoise = meta("gaussianNoise").toDouble,
      lr = meta("lr").toDouble, epochs = meta("epochs").toInt,
      seed = meta("seed").toLong,
      batchFraction = meta("batchFraction").toDouble,
      optimizer = meta("optimizer"))
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.kernelCfg.size)
    val k = m.featureCols.size
    WeightsIO.requireLen("fMean", sections("fMean"), k)
    WeightsIO.requireLen("fStd", sections("fStd"), k)
    WeightsIO.requireLen("yMeans", sections("yMeans"), targets.size)
    WeightsIO.requireLen("yStds", sections("yStds"), targets.size)
    m.weights = flat
    m.fMean = sections("fMean"); m.fStd = sections("fStd")
    m.yMeans = sections("yMeans"); m.yStds = sections("yStds")
    m
  }
}
