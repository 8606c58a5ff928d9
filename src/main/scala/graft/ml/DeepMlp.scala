package graft.ml

import breeze.linalg.DenseVector
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
  * one-layer shape with a DuckDB-oracled scoring query). Same training
  * shape as every trainer here: flat-gradient treeAggregate (or bounded
  * in-partition batches for the rank losses — the kernel backward is
  * linear in pred − y, so dL/dp injects via y′ = pred − dL/dp), driver
  * [[AdamState]], input un-touched / target standardized, seeded
  * minibatch fraction. Scoring stages each layer as named codegen'd
  * columns (no expression blow-up at depth), map-side, no UDF. */
class DeepMLPRegressor(
    val featureCols: Seq[String],
    val targetCol: String,
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
  private val dims = k +: layers
  private val sz = DeepMlpKernel.size(dims)

  private var weights: Array[Double] = _
  private var yMean = 0.0
  private var yStd = 1.0

  def fittedFlat: Array[Double] = weights

  def fit(df: DataFrame): this.type = {
    val data = df.select((targetCol +: featureCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    if (scaleTarget) {
      val r = data.agg(avg(col(targetCol)), stddev_pop(col(targetCol)))
        .collect()(0)
      yMean = r.getDouble(0); yStd = math.max(r.getDouble(1), 1e-12)
    }
    val rng = new scala.util.Random(seed)
    val p = new Array[Double](sz)
    var o = 0
    for (l <- 0 until layers.size) { // Glorot uniform per layer
      val (nin, nout) = (dims(l), dims(l + 1))
      val lim = math.sqrt(6.0 / (nin + nout))
      for (_ <- 0 until nin * nout) {
        p(o) = (rng.nextDouble() * 2 - 1) * lim; o += 1
      }
      o += nout // biases start at 0
    }
    val limOut = math.sqrt(6.0 / (dims.last + 1))
    for (i <- 0 until dims.last) {
      p(o) = (rng.nextDouble() * 2 - 1) * limOut; o += 1
    }
    val adam = new AdamState(sz, lr, optimizer)
    val (ym, ys, dd, n) = (yMean, yStd, dims, sz)
    val sw = swish
    val kk = k
    val dr = dropoutRate
    val seed0 = seed
    for (t <- 1 to epochs) {
      val bw = p.clone()
      val epL = t.toLong
      val batch = if (batchFraction >= 1.0) data
        else data.sample(withReplacement = false, batchFraction, seed + t)
      val grad = if (loss != "mse") {
        val (mw, spw) = if (loss == "spearman") (0.0, 1.0)
          else (mseWeight, spearmanWeight)
        val (tau, rb) = (rankTau, rankBatch)
        batch.rdd.mapPartitions { it =>
          val acc = new Array[Double](n + 2)
          val part = org.apache.spark.TaskContext.getPartitionId().toLong
          var idx = 0L
          SeqAdam.shuffledBatches(it, rb, seed0, epL, part)
            .foreach { rows =>
            val b = rows.size
            val xs = new Array[Array[Double]](b)
            val ysA = new Array[Double](b)
            val preds = new Array[Double](b)
            val seeds = new Array[Long](b)
            var i = 0
            rows.foreach { row =>
              ysA(i) = (row.getDouble(0) - ym) / ys
              xs(i) = Array.tabulate(kk)(j => row.getDouble(j + 1))
              seeds(i) = SeqAdam.maskSeed(seed0, epL, part, idx)
              idx += 1
              preds(i) = DeepMlpKernel.run(bw, dd, xs(i), 0.0, null, sw,
                dr, seeds(i))
              i += 1
            }
            if (b >= 2) {
              val (dp, lossVal) =
                RankLoss.combinedGrad(preds, ysA, tau, mw, spw)
              i = 0
              while (i < b) {
                DeepMlpKernel.run(bw, dd, xs(i), preds(i) - dp(i), acc,
                  sw, dr, seeds(i))
                i += 1
              }
              acc(n) += lossVal; acc(n + 1) += 1.0
            } else if (mw != 0.0) {
              // leftover single-row batch: MSE term (Spearman undefined)
              val d = preds(0) - ysA(0)
              DeepMlpKernel.run(bw, dd, xs(0), preds(0) - mw * 2.0 * d,
                acc, sw, dr, seeds(0))
              acc(n) += mw * d * d; acc(n + 1) += 1.0
            }
          }
          Iterator.single(DenseVector(acc))
        }.treeReduce(_ + _, depth = 2)
      } else batch.rdd.treeAggregate(DenseVector.zeros[Double](n + 2))(
        seqOp = (acc, row) => {
          val y = (row.getDouble(0) - ym) / ys
          val x = Array.tabulate(kk)(j => row.getDouble(j + 1))
          val ms = SeqAdam.maskSeed(seed0, epL,
            org.apache.spark.TaskContext.getPartitionId().toLong,
            acc(n + 1).toLong)
          val pred = DeepMlpKernel.run(bw, dd, x, y, acc.data, sw, dr, ms)
          val d = pred - y
          acc(n) += 0.5 * d * d; acc(n + 1) += 1.0
          acc
        },
        combOp = _ + _, depth = 2)
      val cnt = math.max(grad(n + 1), 1e-12)
      adam.update(p, Array.tabulate(n)(i => grad(i) / cnt), t)
    }
    data.unpersist()
    weights = p
    this
  }

  /** Appends `prediction` via staged per-layer named columns. */
  def predict(df: DataFrame): DataFrame = {
    require(weights != null, "fit first")
    DeepMlpScore.stage(df, featureCols.map(c => col(c).cast("double")),
      weights, dims, 1, swish, Array(yMean), Array(yStd))
  }

  def familyName: String = "deep_mlp"
  def predictionNames: Seq[String] = Seq("prediction")

  /** The fitted payload (flat kernel + target scaling + recipe) —
    * written standalone by `save`, embedded by PipelineIO. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(weights != null, "fit first")
    (Map(
      "family" -> "deep_mlp",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "target" -> targetCol, "layers" -> layers.mkString(","),
      "activation" -> activation,
      "scaleTarget" -> scaleTarget.toString,
      "yMean" -> yMean.toString, "yStd" -> yStd.toString,
      "lr" -> lr.toString, "epochs" -> epochs.toString,
      "seed" -> seed.toString,
      "batchFraction" -> batchFraction.toString, "loss" -> loss,
      "dropoutRate" -> dropoutRate.toString, "optimizer" -> optimizer),
      Seq("flat" -> weights))
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
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : DeepMLPRegressor = {
    WeightsIO.requireFamily(meta, "deep_mlp", where)
    val m = new DeepMLPRegressor(
      WeightsIO.namesFromMeta(meta("features")), meta("target"),
      layers = WeightsIO.intsFromMeta(meta("layers")),
      activation = meta("activation"), lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      loss = meta("loss"),
      dropoutRate = meta("dropoutRate").toDouble,
      optimizer = meta("optimizer"))
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.sz)
    m.weights = flat
    m.yMean = meta("yMean").toDouble
    m.yStd = meta("yStd").toDouble
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
        (if (swish) JointAe.swishCol(z) else greatest(z, lit(0.0)))
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

/** Multi-output DEEP MLP — the reference's `MLPRegressor` with
  * `output_units > 1` at its actual default depth (dense.py:17
  * `hidden_units=(64, 64)` feeding every linear head, with the same
  * optional per-layer Dropout): every hidden layer is shared, outputs
  * train jointly against the summed per-output standardized MSE.
  * [[MLPMultiRegressor]] remains the one-layer oracled sibling; this is
  * the depth-general path. Scoring stages layers as named codegen'd
  * columns and appends `prediction_{i}` (base.py:137-150).
  * `loss = "spearman" | "combined"` trains the reference's rank
  * objectives with their exact multi-output semantics — the loss
  * flattens (batch, out) to ONE ranked vector (losses.py:67-69). */
class DeepMLPMultiRegressor(
    val featureCols: Seq[String],
    val targetCols: Seq[String],
    val layers: Seq[Int] = Seq(64, 64),
    val activation: String = "relu",
    val lr: Double = 1e-3,
    val epochs: Int = 200,
    val seed: Long = 42L,
    val scaleTarget: Boolean = true,
    val batchFraction: Double = 0.2,
    val dropoutRate: Double = 0.0,
    val loss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val rankBatch: Int = 64,
    val optimizer: String = "adam") extends ModelEstimator {

  require(targetCols.size >= 2, "use DeepMLPRegressor for a single output")
  require(layers.nonEmpty, "at least one hidden layer")
  require(Set("relu", "swish")(activation),
    s"activation must be relu|swish, got $activation")
  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")
  require(dropoutRate >= 0 && dropoutRate < 1,
    s"dropoutRate must be in [0, 1), got $dropoutRate")
  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  private val swish = activation == "swish"
  private val k = featureCols.size
  private val out = targetCols.size
  private val dims = k +: layers
  private val sz = DeepMlpKernel.size(dims, out)

  private var weights: Array[Double] = _
  private var yMean: Array[Double] = Array.fill(out)(0.0)
  private var yStd: Array[Double] = Array.fill(out)(1.0)

  def fittedFlat: Array[Double] = weights

  def fit(df: DataFrame): this.type = {
    val data = df.select((targetCols ++ featureCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    if (scaleTarget) {
      val stats = targetCols.flatMap(c =>
        Seq(avg(col(c)), stddev_pop(col(c))))
      val r = data.agg(stats.head, stats.tail: _*).collect()(0)
      yMean = Array.tabulate(out)(o => r.getDouble(2 * o))
      yStd = Array.tabulate(out)(o =>
        math.max(r.getDouble(2 * o + 1), 1e-12))
    }
    val rng = new scala.util.Random(seed)
    val p = new Array[Double](sz)
    var o = 0
    for (l <- 0 until layers.size) { // Glorot uniform per layer
      val (nin, nout) = (dims(l), dims(l + 1))
      val lim = math.sqrt(6.0 / (nin + nout))
      for (_ <- 0 until nin * nout) {
        p(o) = (rng.nextDouble() * 2 - 1) * lim; o += 1
      }
      o += nout // biases start at 0
    }
    val limOut = math.sqrt(6.0 / (dims.last + out))
    for (_ <- 0 until dims.last * out) {
      p(o) = (rng.nextDouble() * 2 - 1) * limOut; o += 1
    }
    val adam = new AdamState(sz, lr, optimizer)
    val (ym, ys, dd, n, oo) = (yMean, yStd, dims, sz, out)
    val sw = swish
    val kk = k
    val dr = dropoutRate
    val seed0 = seed
    for (t <- 1 to epochs) {
      val bw = p.clone()
      val epL = t.toLong
      val batch = if (batchFraction >= 1.0) data
        else data.sample(withReplacement = false, batchFraction, seed + t)
      val grad = if (loss != "mse") {
        // rank-loss path with the reference's multi-output semantics:
        // (batch, out) flattens to ONE soft-ranked vector per batch
        // (losses.py:67-69); the flattened dL/dp injects as per-output
        // surrogate targets (the vector kernel backward is linear in
        // each pred_o − y_o). A 1-row leftover batch still ranks its
        // `out >= 2` flattened elements.
        val (mw, spw) = if (loss == "spearman") (0.0, 1.0)
          else (mseWeight, spearmanWeight)
        val (tau, rb) = (rankTau, rankBatch)
        batch.rdd.mapPartitions { it =>
          val acc = new Array[Double](n + 2)
          val part = org.apache.spark.TaskContext.getPartitionId().toLong
          var idx = 0L
          SeqAdam.shuffledBatches(it, rb, seed0, epL, part)
            .foreach { rows =>
            val b = rows.size
            val xs = new Array[Array[Double]](b)
            val seeds = new Array[Long](b)
            val flatP = new Array[Double](b * oo)
            val flatY = new Array[Double](b * oo)
            var i = 0
            rows.foreach { row =>
              xs(i) = Array.tabulate(kk)(j => row.getDouble(j + oo))
              seeds(i) = SeqAdam.maskSeed(seed0, epL, part, idx)
              idx += 1
              val po = new Array[Double](oo)
              DeepMlpKernel.runV(bw, dd, oo, xs(i), new Array[Double](oo),
                null, sw, dr, seeds(i), po)
              var o2 = 0
              while (o2 < oo) {
                flatY(i * oo + o2) = (row.getDouble(o2) - ym(o2)) / ys(o2)
                flatP(i * oo + o2) = po(o2)
                o2 += 1
              }
              i += 1
            }
            val (dp, lossVal) =
              RankLoss.combinedGrad(flatP, flatY, tau, mw, spw)
            val scratch = new Array[Double](oo)
            i = 0
            while (i < b) {
              val sur = Array.tabulate(oo)(o2 =>
                flatP(i * oo + o2) - dp(i * oo + o2))
              DeepMlpKernel.runV(bw, dd, oo, xs(i), sur, acc, sw, dr,
                seeds(i), scratch)
              i += 1
            }
            acc(n) += lossVal
            acc(n + 1) += 1.0
          }
          Iterator.single(DenseVector(acc))
        }.treeReduce(_ + _, depth = 2)
      } else batch.rdd.treeAggregate(DenseVector.zeros[Double](n + 2))(
        seqOp = (acc, row) => {
          val y = Array.tabulate(oo)(o2 =>
            (row.getDouble(o2) - ym(o2)) / ys(o2))
          val x = Array.tabulate(kk)(j => row.getDouble(j + oo))
          val ms = SeqAdam.maskSeed(seed0, epL,
            org.apache.spark.TaskContext.getPartitionId().toLong,
            acc(n + 1).toLong)
          val po = new Array[Double](oo)
          acc(n) += DeepMlpKernel.runV(bw, dd, oo, x, y, acc.data, sw,
            dr, ms, po)
          acc(n + 1) += 1.0
          acc
        },
        combOp = _ + _, depth = 2)
      val cnt = math.max(grad(n + 1), 1e-12)
      adam.update(p, Array.tabulate(n)(i => grad(i) / cnt), t)
    }
    data.unpersist()
    weights = p
    this
  }

  /** Appends `prediction_{i}` via staged per-layer named columns,
    * destandardized per output. */
  def predict(df: DataFrame): DataFrame = {
    require(weights != null, "fit first")
    DeepMlpScore.stage(df, featureCols.map(c => col(c).cast("double")),
      weights, dims, out, swish, yMean, yStd)
  }

  def familyName: String = "deep_mlp_multi"
  def predictionNames: Seq[String] =
    targetCols.indices.map(o => s"prediction_$o")

  /** The fitted payload (flat kernel + per-output scaling) — written
    * standalone by `save`, embedded by PipelineIO. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(weights != null, "fit first")
    (Map(
      "family" -> "deep_mlp_multi",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "targets" -> WeightsIO.namesToMeta(targetCols),
      "layers" -> layers.mkString(","),
      "activation" -> activation,
      "scaleTarget" -> scaleTarget.toString,
      "lr" -> lr.toString, "epochs" -> epochs.toString,
      "seed" -> seed.toString,
      "batchFraction" -> batchFraction.toString, "loss" -> loss,
      "dropoutRate" -> dropoutRate.toString, "optimizer" -> optimizer),
      Seq("flat" -> weights, "yMeans" -> yMean, "yStds" -> yStd))
  }

  /** Persist the FITTED estimator — exact-double JSON;
    * [[DeepMLPMultiRegressor.load]] scores bit-identically. */
  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

object DeepMLPMultiRegressor {
  /** Rehydrate a `save`d estimator (shape-validated). */
  def load(path: String): DeepMLPMultiRegressor = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : DeepMLPMultiRegressor = {
    WeightsIO.requireFamily(meta, "deep_mlp_multi", where)
    val targets = WeightsIO.namesFromMeta(meta("targets"))
    val m = new DeepMLPMultiRegressor(
      WeightsIO.namesFromMeta(meta("features")), targets,
      layers = WeightsIO.intsFromMeta(meta("layers")),
      activation = meta("activation"), lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      dropoutRate = meta("dropoutRate").toDouble,
      loss = meta("loss"), optimizer = meta("optimizer"))
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.sz)
    WeightsIO.requireLen("yMeans", sections("yMeans"), targets.size)
    WeightsIO.requireLen("yStds", sections("yStds"), targets.size)
    m.weights = flat
    m.yMean = sections("yMeans")
    m.yStd = sections("yStds")
    m
  }
}
