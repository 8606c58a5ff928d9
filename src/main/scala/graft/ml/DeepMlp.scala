package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Flat-parameter kernel for a depth-general ReLU MLP — the reference's
  * actual architecture (dense.py:17,25-29: `hidden_units` is a TUPLE,
  * default (64, 64)); the single-hidden-layer [[MLPRegressor]] stays as
  * the oracled scoring sibling. Layout: per hidden layer `W[in][out]`
  * input-major then `b[out]`; finally `wOut[lastH]`, `bOut`. */
object DeepMlpKernel {
  /** dims = nFeatures +: hiddenLayers; `out` linear output heads share
    * every hidden layer (the reference's `output_units`,
    * keras_estimators/base.py:33 with dense.py's hidden stack). */
  def size(dims: Seq[Int], out: Int = 1): Int =
    (1 until dims.size).map(l => dims(l - 1) * dims(l) + dims(l)).sum +
      dims.last * out + out

  /** Glorot-uniform weights per layer and for the `out` heads, zero
    * biases (the Keras initializers). */
  def init(dims: Seq[Int], out: Int, seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val p = new Array[Double](size(dims, out))
    var o = 0
    for (l <- 1 until dims.size) {
      Activations.glorot(p, o, dims(l - 1), dims(l), rng)
      o += dims(l - 1) * dims(l) + dims(l)
    }
    Activations.glorot(p, o, dims.last, out, rng)
    p
  }

  private def layerOff(dims: Seq[Int], l: Int): Int =
    (1 to l).map(i => dims(i - 1) * dims(i) + dims(i)).sum

  import Activations.sigmoid

  /** Forward + (if `acc` non-null) backward of 0.5·(pred − y)² with the
    * output delta = pred − y (linear in pred − y, so the rank-loss
    * surrogate-target injection applies). `swish` selects the
    * activation (dense.py:18 `activation` param: "relu" default; the
    * reference family also uses "swish", autoencoder.py:21). With
    * `drop > 0` and `maskSeed != 0`, an inverted-Bernoulli mask drops
    * each hidden activation after its nonlinearity (dense.py:28-29 —
    * Keras Dropout after every hidden Dense); the fixed draw order from
    * `maskSeed` keeps forward/backward and finite-difference pairs on
    * the same sub-network. Returns the prediction. */
  def run(w: Array[Double], dims: Seq[Int], x: Array[Double], y: Double,
      acc: Array[Double], swish: Boolean = false, drop: Double = 0.0,
      maskSeed: Long = 0L): Double = {
    val po = new Array[Double](1)
    runV(w, dims, 1, x, Array(y), acc, swish, drop, maskSeed, po)
    po(0)
  }

  /** Vector-output form: `out` linear heads over the shared hidden
    * stack (layout: hidden layers, then wOut lastH×out input-major,
    * bOut[out]; out = 1 is byte-identical to the single-output layout).
    * Fills `predOut` with the predictions and, when `acc` is non-null,
    * accumulates the gradient of Σ_o ½(pred_o − y_o)². Returns the
    * summed loss. */
  def runV(w: Array[Double], dims: Seq[Int], out: Int, x: Array[Double],
      y: Array[Double], acc: Array[Double], swish: Boolean,
      drop: Double, maskSeed: Long, predOut: Array[Double]): Double = {
    val L = dims.size - 1
    val masks: Array[Array[Double]] =
      if (drop <= 0 || maskSeed == 0L) null
      else {
        val rng = new java.util.Random(maskSeed)
        Array.tabulate(L)(l => SeqAdam.invBernoulli(rng, drop, dims(l + 1)))
      }
    val zs = new Array[Array[Double]](L) // pre-activations per layer
    val hs = new Array[Array[Double]](L + 1) // post-activation, post-drop
    hs(0) = x
    var l = 0
    while (l < L) {
      val (nin, nout) = (dims(l), dims(l + 1))
      val o = layerOff(dims, l)
      val in = hs(l)
      val z = new Array[Double](nout)
      var j = 0
      while (j < nout) {
        var s = w(o + nin * nout + j)
        var i = 0
        while (i < nin) { s += in(i) * w(o + i * nout + j); i += 1 }
        z(j) = s
        j += 1
      }
      zs(l) = z
      val act = if (swish) z.map(v => v * sigmoid(v))
        else z.map(v => if (v > 0) v else 0.0)
      hs(l + 1) = if (masks == null) act
        else Array.tabulate(act.length)(j2 => act(j2) * masks(l)(j2))
      l += 1
    }
    val oOut = layerOff(dims, L)
    val lastH = dims.last
    val oB = oOut + lastH * out
    var loss = 0.0
    var o2 = 0
    while (o2 < out) {
      var pred = w(oB + o2)
      var j = 0
      while (j < lastH) { pred += hs(L)(j) * w(oOut + j * out + o2)
        j += 1 }
      predOut(o2) = pred
      val d = pred - y(o2)
      loss += 0.5 * d * d
      o2 += 1
    }
    if (acc == null) return loss

    // shared hidden: dh sums every head's pull through wOut
    val dh = new Array[Double](lastH)
    o2 = 0
    while (o2 < out) {
      val d = predOut(o2) - y(o2)
      acc(oB + o2) += d
      var j = 0
      while (j < lastH) {
        acc(oOut + j * out + o2) += d * hs(L)(j)
        dh(j) += w(oOut + j * out + o2) * d
        j += 1
      }
      o2 += 1
    }
    var dhCur = dh
    l = L - 1
    while (l >= 0) {
      val (nin, nout) = (dims(l), dims(l + 1))
      val o = layerOff(dims, l)
      val in = hs(l)
      val dz = Array.tabulate(nout) { jj =>
        val z = zs(l)(jj)
        val dhj = if (masks == null) dhCur(jj)
          else dhCur(jj) * masks(l)(jj)
        if (swish) {
          val s = sigmoid(z)
          dhj * s * (1.0 + z * (1.0 - s))
        } else if (z > 0) dhj else 0.0
      }
      val dIn = new Array[Double](nin)
      var i = 0
      while (i < nin) {
        var s = 0.0
        var jj = 0
        while (jj < nout) {
          acc(o + i * nout + jj) += in(i) * dz(jj)
          s += w(o + i * nout + jj) * dz(jj)
          jj += 1
        }
        dIn(i) = s
        i += 1
      }
      var jj = 0
      while (jj < nout) { acc(o + nin * nout + jj) += dz(jj); jj += 1 }
      dhCur = dIn
      l -= 1
    }
    loss
  }
}

/** Depth-general MLP regressor matching the reference's `hidden_units`
  * tuple (dense.py:17 — default (64, 64); [[MLPRegressor]] covers the
  * one-layer shape with a DuckDB-oracled scoring query) and its
  * `output_units` (keras_estimators/base.py:33,46): `targetCol` plus
  * `extraTargetCols` give `1 + extraTargetCols.size` linear heads over
  * the shared hidden stack (with the same optional per-layer Dropout),
  * trained jointly against the summed per-output standardized MSE and
  * scored as `prediction` or `prediction_{i}` (base.py:137-150).
  * `loss = "spearman" | "combined"` trains the reference's rank
  * objectives; at several outputs the loss flattens (batch, out) to ONE
  * ranked vector (losses.py:67-69). The features are one timestep of
  * width `k`, so the fit is the [[SeqAdam]] epoch loop every sequence
  * trainer runs: seeded minibatch fraction, the partition-ordered
  * gradient sum (or bounded in-partition batches for the rank losses —
  * the kernel backward is linear in pred − y, so dL/dp injects via
  * y′ = pred − dL/dp), driver [[AdamState]], input un-touched / targets
  * standardized. Scoring stages each layer as named codegen'd columns
  * (no expression blow-up at depth), map-side, no UDF. */
class DeepMLPRegressor(
    val featureCols: Seq[String],
    val targetCol: String,
    val extraTargetCols: Seq[String] = Nil,
    val layers: Seq[Int] = Seq(64, 64),
    val activation: String = "relu",
    val lr: Double = 1e-3,
    val epochs: Int = 200,
    val seed: Long = 42L,
    val scaleTarget: Boolean = true,
    val batchFraction: Double = 0.2,
    val loss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val rankBatch: Int = 64,
    val dropoutRate: Double = 0.0,
    val optimizer: String = "adam") extends ModelEstimator {

  /** All targets: `output_units = 1 + extraTargetCols.size`. */
  val targetCols: Seq[String] = targetCol +: extraTargetCols
  require(targetCols.distinct.size == targetCols.size,
    s"target columns repeat a name: ${targetCols.mkString(", ")}")
  require(layers.nonEmpty, "at least one hidden layer")
  require(Set("relu", "swish")(activation),
    s"activation must be relu|swish, got $activation")
  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  private val swish = activation == "swish"
  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")
  require(dropoutRate >= 0 && dropoutRate < 1,
    s"dropoutRate must be in [0, 1), got $dropoutRate")

  private val k = featureCols.size
  private val out = targetCols.size
  private val dims = k +: layers
  private val sz = DeepMlpKernel.size(dims, out)

  private var weights: Array[Double] = _
  private var yMean: Array[Double] = Array.fill(out)(0.0)
  private var yStd: Array[Double] = Array.fill(out)(1.0)

  def fittedFlat: Array[Double] = weights

  def fit(df: DataFrame): this.type = {
    val (data, ym, ys) = SeqAdam.prepare(df, targetCols, featureCols,
      scaleTarget)
    yMean = ym; yStd = ys
    val p = DeepMlpKernel.init(dims, out, seed)
    val (dd, oo, sw, dr) = (dims, out, swish, dropoutRate)
    // SeqAdam fills predictions only on its rank-loss forward pass;
    // runV always writes them, so the gradient pass gets a scratch row
    SeqAdam.run(data, sz, p, out, yMean, yStd, k, 1, epochs, lr, seed,
      batchFraction,
      (bw, x, ys, acc, ms, po) => DeepMlpKernel.runV(bw, dd, oo, x(0), ys,
        acc, sw, dr, ms, if (po != null) po else new Array[Double](oo)),
      loss, mseWeight, spearmanWeight, rankTau, rankBatch, optimizer)
    data.unpersist()
    weights = p
    this
  }

  /** Appends [[predictionNames]] via staged per-layer named columns,
    * destandardized per output. */
  def predict(df: DataFrame): DataFrame = {
    require(weights != null, "fit first")
    DeepMlpScore.stage(df, featureCols.map(c => col(c).cast("double")),
      weights, dims, out, swish, yMean, yStd)
  }

  def familyName: String = if (out == 1) "deep_mlp" else "deep_mlp_multi"
  def predictionNames: Seq[String] = MLPRegressor.predictionNames(out)

  /** The fitted payload (flat kernel + target scaling + recipe) —
    * written standalone by `save`, embedded by PipelineIO. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(weights != null, "fit first")
    val (tm, ts) = WeightsIO.targetParts("deep_mlp", targetCols, yMean,
      yStd)
    (tm ++ Map(
      "features" -> WeightsIO.namesToMeta(featureCols),
      "layers" -> layers.mkString(","),
      "activation" -> activation,
      "scaleTarget" -> scaleTarget.toString,
      "lr" -> lr.toString, "epochs" -> epochs.toString,
      "seed" -> seed.toString,
      "batchFraction" -> batchFraction.toString, "loss" -> loss,
      "dropoutRate" -> dropoutRate.toString, "optimizer" -> optimizer) ++
      // the rank-loss settings only shape a spearman/combined fit, so an
      // mse payload stays byte-identical to the layout that omitted them
      (if (loss == "mse") Map.empty[String, String]
       else Map("mseWeight" -> mseWeight.toString,
         "spearmanWeight" -> spearmanWeight.toString,
         "rankTau" -> rankTau.toString, "rankBatch" -> rankBatch.toString)),
      ("flat" -> weights) +: ts)
  }

  /** Persist the FITTED estimator — exact-double JSON;
    * [[DeepMLPRegressor.load]] scores bit-identically. */
  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

object DeepMLPRegressor {
  /** Rehydrate a `save`d estimator (shape-validated). */
  def load(path: String): DeepMLPRegressor = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded) of either the `deep_mlp` or the
    * `deep_mlp_multi` layout. */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : DeepMLPRegressor = {
    val (targets, ym, ys) =
      WeightsIO.targetsFromParts(meta, sections, "deep_mlp", where)
    val m = new DeepMLPRegressor(
      WeightsIO.namesFromMeta(meta("features")), targets.head,
      extraTargetCols = targets.tail,
      layers = WeightsIO.intsFromMeta(meta("layers")),
      activation = meta("activation"), lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      loss = meta("loss"),
      mseWeight = meta.get("mseWeight").fold(2.0)(_.toDouble),
      spearmanWeight = meta.get("spearmanWeight").fold(1.0)(_.toDouble),
      rankTau = meta.get("rankTau").fold(1e-3)(_.toDouble),
      rankBatch = meta.get("rankBatch").fold(64)(_.toInt),
      dropoutRate = meta("dropoutRate").toDouble,
      optimizer = meta("optimizer"))
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.sz)
    m.weights = flat
    m.yMean = ym
    m.yStd = ys
    m
  }
}

/** Staged scoring shared by the flat deep-MLP layouts ([[DeepMlpKernel]]
  * — per hidden layer W input-major + b, then `out` linear heads): each
  * layer is one select of named codegen'd columns (no expression
  * blow-up at depth), heads destandardized per output. [[sql]] is the
  * DuckDB mirror — same CTE-per-layer staging, left-associated sums in
  * the SAME term order, so pinned-weight outputs are IEEE-identical and
  * the oracle hashes match bit-for-bit (the q_ae_score scheme). */
object DeepMlpScore {

  /** Appends [[MLPRegressor.predictionNames]] columns over `feats`. */
  def stage(df: DataFrame, feats: Seq[Column], p: Array[Double],
      dims: Seq[Int], out: Int, swish: Boolean,
      yMean: Array[Double], yStd: Array[Double]): DataFrame = {
    val L = dims.size - 1
    var cur = df
    var in: Seq[Column] = feats
    var off = 0
    for (l <- 0 until L) {
      val (nin, nout) = (dims(l), dims(l + 1))
      val outs = (0 until nout).map { j =>
        val z = in.zipWithIndex.map { case (c, i) =>
          c * lit(p(off + i * nout + j))
        }.reduce(_ + _) + lit(p(off + nin * nout + j))
        (if (swish) Activations.swishCol(z) else greatest(z, lit(0.0)))
          .as(s"__h${l}_$j")
      }
      cur = cur.select(cur.columns.map(col) ++ outs: _*)
      in = (0 until nout).map(j => col(s"__h${l}_$j"))
      off += nin * nout + nout
    }
    val oB = off + dims.last * out
    MLPRegressor.predictionNames(out).zipWithIndex.foreach {
      case (name, o) =>
        val z = in.zipWithIndex.map { case (c, j) =>
          c * lit(p(off + j * out + o))
        }.reduce(_ + _) + lit(p(oB + o))
        cur = cur.withColumn(name, z * lit(yStd(o)) + lit(yMean(o)))
    }
    cur.drop((0 until L).flatMap(l =>
      (0 until dims(l + 1)).map(j => s"__h${l}_$j")): _*)
  }

  /** DuckDB CTE mirror of [[stage]] (ReLU layouts — the pinned oracle
    * query uses relu; swish's sigmoid has no bit-exact SQL twin here).
    * `keySql` columns ride through the CTE chain; heads come back
    * rounded to `scale` digits under the prediction-naming contract. */
  def sql(table: String, keySql: Seq[String], featSql: Seq[String],
      p: Array[Double], dims: Seq[Int], out: Int,
      yMean: Array[Double], yStd: Array[Double], scale: Int): String = {
    val L = dims.size - 1
    var in: Seq[String] = featSql
    var off = 0
    val ctes = (0 until L).map { l =>
      val (nin, nout) = (dims(l), dims(l + 1))
      val cols = (0 until nout).map { j =>
        val z = in.zipWithIndex.map { case (c, i) =>
          s"$c * ${p(off + i * nout + j)}"
        }.mkString("(", " + ", s" + ${p(off + nin * nout + j)})")
        s"greatest($z, 0.0) AS h${l}_$j"
      }
      val src = if (l == 0) table else s"h${l - 1}"
      in = (0 until nout).map(j => s"h${l}_$j")
      off += nin * nout + nout
      s"h$l AS (SELECT *,\n    ${cols.mkString(",\n    ")}\n  FROM $src)"
    }
    val oB = off + dims.last * out
    val heads = MLPRegressor.predictionNames(out).zipWithIndex.map {
      case (name, o) =>
        val z = in.zipWithIndex.map { case (c, j) =>
          s"$c * ${p(off + j * out + o)}"
        }.mkString("(", " + ", s" + ${p(oB + o)})")
        s"round($z * ${yStd(o)} + ${yMean(o)}, $scale) AS $name"
    }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT ${keySql.mkString(", ")},
       |  ${heads.mkString(",\n  ")}
       |FROM h${L - 1}""".stripMargin
  }
}
