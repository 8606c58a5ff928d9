package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Weights of a dense feed-forward regressor (one hidden ReLU layer).
  * Kept as plain arrays so they broadcast cheaply to executors. */
case class MLPWeights(
    w1: Array[Array[Double]], b1: Array[Double],
    w2: Array[Double], b2: Double) extends Serializable {
  def hidden: Int = b1.length
  def nIn: Int = w1.length
}

/** Multi-output head weights: shared hidden layer, `out` linear outputs. */
case class MLPMultiWeights(
    w1: Array[Array[Double]], b1: Array[Double],
    w2: Array[Array[Double]], b2: Array[Double]) extends Serializable {
  def hidden: Int = b1.length
  def out: Int = b2.length
}

object MLPRegressor {
  /** Multi-output naming contract (keras_estimators/base.py:137-150):
    * a single output is `prediction`, n outputs are `prediction_{i}`. */
  def predictionNames(out: Int): Seq[String] =
    if (out == 1) Seq("prediction")
    else (0 until out).map(i => s"prediction_$i")

  /** Glorot-uniform init in EXACTLY the order fit consumes the seeded
    * RNG (w1 column-major via DenseMatrix.fill, then w2; biases zero) —
    * exposed so the q_cortex_mlp trajectory oracle can embed the same
    * data-independent literals the fit starts from. */
  private[graft] def glorotInit(k: Int, hidden: Int, seed: Long)
      : (DenseMatrix[Double], DenseVector[Double]) = {
    val rng = new scala.util.Random(seed)
    val limit = math.sqrt(6.0 / (k + hidden))
    (DenseMatrix.fill(k, hidden)((rng.nextDouble() * 2 - 1) * limit),
      DenseVector.fill(hidden)((rng.nextDouble() * 2 - 1) * limit))
  }

  /** Rehydrate a `save`d estimator: schema, target scaling, and
    * weights restored bit-exactly — `predict` on the loaded instance
    * equals `predict` on the fitted one byte for byte (WeightsIOSpec). */
  def load(path: String): MLPRegressor = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload — the standalone-artifact
    * and pipeline-embedded loads share this one decoder. */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String): MLPRegressor = {
    WeightsIO.requireFamily(meta, "mlp", where)
    val m = new MLPRegressor(
      WeightsIO.namesFromMeta(meta("features")), meta("target"),
      hidden = meta("hidden").toInt, lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      loss = meta("loss"), optimizer = meta("optimizer"))
    m.weights = WeightsIO.unpackMlp(sections)
    m.yMean = meta("yMean").toDouble
    m.yStd = meta("yStd").toDouble
    m
  }

  /** Named scoring columns for a multi-output head: the shared ReLU
    * hidden layer feeds every output (same codegen'd unroll as the
    * single-output predictColumn). */
  def predictColumns(w: MLPMultiWeights, feats: Seq[Column])
      : Seq[(String, Column)] = {
    val hiddenCols = (0 until w.hidden).map { j =>
      val z = feats.zipWithIndex.map { case (f, i) =>
        f * lit(w.w1(i)(j))
      }.reduce(_ + _) + lit(w.b1(j))
      greatest(z, lit(0.0))
    }
    predictionNames(w.out).zipWithIndex.map { case (name, o) =>
      name -> (hiddenCols.zipWithIndex.map { case (h, j) =>
        h * lit(w.w2(j)(o))
      }.reduce(_ + _) + lit(w.b2(o)))
    }
  }
}

/** Minimal MLP regressor re-expressing the reference's MLPRegressor
  * surface (dense.py:13-38 + keras_estimators/base.py:26-156) Spark-first:
  *
  * - **fit**: Adam on the driver over gradients computed cluster-side
  *   with `treeAggregate` (map-side partial aggregation; the driver only
  *   ever holds the weight vectors, never the data). `batchFraction`
  *   selects full-batch (1.0) or a seeded per-epoch Bernoulli sample —
  *   the scale path matching the reference's minibatch semantics
  *   (keras_estimators/base.py:68). The DEFAULT is 0.2: a minibatch
  *   sweep (SURVEY.md §2.7) showed R² parity with full-batch across
  *   all five trainable estimators at 1/5 the aggregated rows per
  *   epoch, and fits stay deterministic (the sample is seeded per
  *   epoch).
  *   Target standardization on/off mirrors the reference's
  *   StandardScaler default (keras_estimators/base.py:89-100).
  * - **predict**: pure Column expression from broadcast weights — the
  *   forward pass (matmul + ReLU) unrolls into codegen'd arithmetic, so
  *   scoring is a map-side projection at scan speed, no UDF, no shuffle.
  * - **loss**: "mse" (default), or the reference's differentiable rank
  *   objectives "spearman" / "combined" (losses.py:22-189) — executors
  *   fold bounded in-partition batches (`rankBatch` rows) through the
  *   pairwise soft-rank gradient ([[RankLoss]]), the reference's
  *   per-Keras-batch loss semantics.
  *
  * Step-for-step SGD parity with Keras is out of scope (SURVEY.md
  * §7.5); the properties tested are gradient correctness
  * (finite-difference), loss decrease, and fit quality.
  */
class MLPRegressor(
    val featureCols: Seq[String],
    val targetCol: String,
    val hidden: Int = 16,
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
    val weightCol: Option[String] = None,
    val optimizer: String = "adam") extends ModelEstimator {

  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")
  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  // sample_weight composes with every loss, as in Keras. For the rank
  // losses the reference's SpearmanCorrelation/CombinedLoss return ONE
  // scalar per batch (losses.py:55-74,165-179), and Keras's weighted
  // reduction broadcasts that scalar against the batch's sample weights
  // and divides by the batch size — i.e. the batch loss (and so its
  // gradient) is scaled by the batch's MEAN sample weight, not weighted
  // per row inside the soft ranks. That exact semantics is implemented
  // below.

  private var weights: MLPWeights = _
  private var yMean = 0.0
  private var yStd = 1.0

  def fittedWeights: MLPWeights = weights

  def fit(df: DataFrame): this.type = {
    val k = featureCols.size
    // sample_weight (base.py fit signature): weight column appended LAST;
    // the weighted-MSE gradient scales each row's delta by its weight and
    // normalizes by the weight sum instead of the row count
    val data = df.select((targetCol +: featureCols).map(c =>
      col(c).cast("double")) :+
      weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
        .as("__w"): _*).na.drop()
    data.cache()
    val n = data.count().toDouble
    require(n > 0, "no complete rows to fit on")
    if (scaleTarget) {
      val r = data.agg(avg(col(targetCol)), stddev_pop(col(targetCol)))
        .collect()(0)
      yMean = r.getDouble(0); yStd = math.max(r.getDouble(1), 1e-12)
    }
    val (w1, w2) = MLPRegressor.glorotInit(k, hidden, seed)
    val b1 = DenseVector.zeros[Double](hidden)
    var b2 = 0.0
    // Adam state
    val sz = k * hidden + hidden + hidden + 1
    val adam = new AdamState(sz, lr, optimizer)
    val (ym, ys) = (yMean, yStd)
    val featIdx = featureCols.indices

    for (t <- 1 to epochs) {
      val bw1 = w1.copy; val bb1 = b1.copy; val bw2 = w2.copy; val bb2 = b2
      // gradient via treeAggregate: executors fold rows into a flat
      // gradient vector; depth-2 tree merge keeps driver traffic
      // O(sz log partitions). batchFraction < 1 takes a fresh seeded
      // Bernoulli sample each epoch — the reference's minibatch-SGD
      // semantics (keras_estimators/base.py:68, batch_size=32) at
      // cluster granularity: each epoch aggregates ~fraction·n rows, so
      // a 100 TB epoch touches a bounded sample instead of a full pass.
      val batch = if (batchFraction >= 1.0) data
        else data.sample(withReplacement = false, batchFraction, seed + t)
      val grad = if (loss != "mse") {
        // rank-loss path (losses.py:22-189): the soft-Spearman gradient
        // is defined over a batch's pairwise soft ranks, so executors
        // fold bounded in-partition batches (rankBatch rows, O(b²) local
        // work, the reference's per-Keras-batch semantics) into the flat
        // gradient; slot sz+1 counts BATCHES — the epoch gradient is the
        // batch-mean, mirroring averaged per-step SGD updates.
        val (mw, sw) = if (loss == "spearman") (0.0, 1.0)
          else (mseWeight, spearmanWeight)
        val (tau, rb, kF) = (rankTau, rankBatch, k)
        val (sd, ep) = (seed, t.toLong)
        batch.rdd.mapPartitions { it =>
          val acc = DenseVector.zeros[Double](sz + 2)
          val part = org.apache.spark.TaskContext.getPartitionId().toLong
          SeqAdam.shuffledBatches(it, rb, sd, ep, part).foreach { rows =>
            val b = rows.size
            val xs = new Array[DenseVector[Double]](b)
            val z1s = new Array[DenseVector[Double]](b)
            val hs = new Array[DenseVector[Double]](b)
            val preds = new Array[Double](b)
            val ysArr = new Array[Double](b)
            var wSum = 0.0
            var i = 0
            rows.foreach { row =>
              ysArr(i) = (row.getDouble(0) - ym) / ys
              wSum += row.getDouble(kF + 1) // __w (1.0 when unweighted)
              val x = DenseVector(
                featIdx.map(ii => row.getDouble(ii + 1)).toArray)
              val z1 = bw1.t * x + bb1
              val h = z1.map(z => if (z > 0) z else 0.0)
              preds(i) = (bw2 dot h) + bb2
              xs(i) = x; z1s(i) = z1; hs(i) = h
              i += 1
            }
            // Keras weighted reduction of a scalar batch loss = scale by
            // the batch's mean sample weight (see class doc)
            val wBar = wSum / b
            def inject(d0: Double, i2: Int): Unit = {
              val d = wBar * d0
              val dh = bw2 * d
              val dz1 = DenseVector.tabulate(bb1.length)(j =>
                if (z1s(i2)(j) > 0) dh(j) else 0.0)
              var off = 0
              val x = xs(i2)
              for (ii <- 0 until x.length; j <- 0 until bb1.length) {
                acc(off) += x(ii) * dz1(j); off += 1
              }
              for (j <- 0 until bb1.length) { acc(off) += dz1(j); off += 1 }
              for (j <- 0 until bb1.length) {
                acc(off) += d * hs(i2)(j); off += 1
              }
              acc(off) += d
            }
            if (b >= 2) {
              val (dp, lossVal) =
                RankLoss.combinedGrad(preds, ysArr, tau, mw, sw)
              i = 0
              while (i < b) { inject(dp(i), i); i += 1 }
              acc(sz) += wBar * lossVal
              acc(sz + 1) += 1.0
            } else if (mw != 0.0) {
              // leftover single-row batch: MSE term (Spearman undefined)
              val d = preds(0) - ysArr(0)
              inject(mw * 2.0 * d, 0)
              acc(sz) += wBar * mw * d * d
              acc(sz + 1) += 1.0
            }
          }
          Iterator.single(acc)
        }.treeReduce(_ + _, depth = 2)
      } else {
        // primitive-loop kernel: the per-row work is a 3×h matvec —
        // per-row breeze (DenseVector alloc + dgemv dispatch) costs
        // more than the arithmetic at this size, and the full-batch
        // trajectory queries (q_cortex_mlp) pay it rows × epochs ×
        // trials times. Left-associated per-row sums (Σᵢ xᵢ·w then
        // + b) — the accumulation order the SQL trajectory oracle
        // mirrors (q_cortex_mlp pins it at round(4)); the replaced
        // breeze path's BLAS summation order carried no such
        // guarantee.
        val (kk, hh) = (k, hidden)
        val w1a = Array.tabulate(kk * hh)(r => bw1(r / hh, r % hh))
        val b1a = bb1.toArray
        val w2a = bw2.toArray
        val b2v = bb2
        batch.rdd.mapPartitions { it =>
          val acc = DenseVector.zeros[Double](sz + 2)
          val a = acc.data
          val x = new Array[Double](kk)
          val z = new Array[Double](hh)
          while (it.hasNext) {
            val row = it.next()
            val y = (row.getDouble(0) - ym) / ys
            val wt = row.getDouble(kk + 1) // __w (1.0 when no weightCol)
            var i = 0
            while (i < kk) { x(i) = row.getDouble(i + 1); i += 1 }
            var hsum = 0.0
            var j = 0
            while (j < hh) {
              var s = 0.0
              var i2 = 0
              while (i2 < kk) { s += x(i2) * w1a(i2 * hh + j); i2 += 1 }
              s += b1a(j)
              z(j) = s
              hsum += w2a(j) * (if (s > 0) s else 0.0)
              j += 1
            }
            val pred = hsum + b2v // (Σ w2·h) + b2, the original order
            val d = wt * (pred - y)
            // dL/dw2 = d*h ; dL/db2 = d ; back through relu
            j = 0
            while (j < hh) {
              val dz1 = if (z(j) > 0) w2a(j) * d else 0.0
              if (dz1 != 0.0) {
                var i2 = 0
                while (i2 < kk) {
                  a(i2 * hh + j) += x(i2) * dz1; i2 += 1
                }
                a(kk * hh + j) += dz1
              }
              a(kk * hh + hh + j) += d * (if (z(j) > 0) z(j) else 0.0)
              j += 1
            }
            a(kk * hh + 2 * hh) += d
            a(sz) += 0.5 * wt * (pred - y) * (pred - y)
            a(sz + 1) += wt
          }
          Iterator.single(acc)
        }.treeReduce(_ + _, depth = 2)
      }
      // slot sz+1 is a weight sum (or batch count) — guard against an
      // empty batch only, NOT clamp to 1: fractional weight sums below 1
      // must still normalize exactly
      val g = (grad(0 until sz) / math.max(grad(sz + 1), 1e-12)).toArray
      val step = adam.step(g, t)
      var off = 0
      for (i <- 0 until k; j <- 0 until hidden) {
        w1(i, j) -= step(off); off += 1
      }
      for (j <- 0 until hidden) { b1(j) -= step(off); off += 1 }
      for (j <- 0 until hidden) { w2(j) -= step(off); off += 1 }
      b2 -= step(off)
    }
    data.unpersist()
    weights = MLPWeights(
      Array.tabulate(k, hidden)((i, j) => w1(i, j)), b1.toArray,
      w2.toArray, b2)
    this
  }

  /** Scoring column from (possibly externally supplied) weights — used by
    * both predict() and the verification query with pinned weights. */
  def predictColumn(w: MLPWeights, feats: Seq[Column],
      mean: Double = 0.0, std: Double = 1.0): Column = {
    val hiddenCols = (0 until w.hidden).map { j =>
      val z = feats.zipWithIndex.map { case (f, i) =>
        f * lit(w.w1(i)(j))
      }.reduce(_ + _) + lit(w.b1(j))
      greatest(z, lit(0.0)) // ReLU
    }
    val out = hiddenCols.zipWithIndex.map { case (h, j) =>
      h * lit(w.w2(j))
    }.reduce(_ + _) + lit(w.b2)
    out * lit(std) + lit(mean)
  }

  /** Appends `prediction` (naming contract:
    * keras_estimators/base.py:137-150). */
  def predict(df: DataFrame): DataFrame = {
    require(weights != null, "fit first")
    df.withColumn("prediction",
      predictColumn(weights, featureCols.map(c => col(c).cast("double")),
        yMean, yStd))
  }

  def familyName: String = "mlp"
  def predictionNames: Seq[String] = Seq("prediction")

  /** The fitted payload (weights + target scaling + schema) — the
    * sklearn-pickle role; `save` writes it standalone, PipelineIO
    * embeds it inside a composed-chain artifact. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(weights != null, "fit first")
    (Map(
      "family" -> "mlp",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "target" -> targetCol,
      // the fit hyperparameters travel too: re-fitting a LOADED
      // estimator must train the saved architecture/recipe, not the
      // constructor defaults
      "hidden" -> hidden.toString, "lr" -> lr.toString,
      "epochs" -> epochs.toString, "seed" -> seed.toString,
      "scaleTarget" -> scaleTarget.toString,
      "batchFraction" -> batchFraction.toString, "loss" -> loss,
      "optimizer" -> optimizer,
      "yMean" -> yMean.toString, "yStd" -> yStd.toString),
      WeightsIO.packMlp(weights))
  }

  /** Persist the FITTED estimator (exact-double JSON, so
    * [[MLPRegressor.load]] scores bit-identically). */
  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

/** Joint multi-output MLP fit (the reference's `output_units > 1`,
  * keras_estimators/base.py:33,137-150): one shared ReLU hidden layer
  * feeds every linear output head, trained together against the summed
  * per-output MSE — the same flat-gradient treeAggregate kernel as the
  * single-output fit, with per-output target standardization. Scoring
  * goes through [[MLPRegressor.predictColumns]] (the q_mlp_multi path)
  * and appends `prediction_{i}`.
  * `loss = "spearman" | "combined"` trains the reference's rank
  * objectives with their exact multi-output semantics: the loss
  * RESHAPES (batch, out) to (-1, 1) before soft-ranking
  * (losses.py:67-69), so every output's predictions rank together in
  * one flattened vector per batch. */
class MLPMultiRegressor(
    val featureCols: Seq[String],
    val targetCols: Seq[String],
    val hidden: Int = 16,
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
    val optimizer: String = "adam") extends ModelEstimator {

  require(targetCols.size >= 2, "use MLPRegressor for a single output")
  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")
  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  private val out = targetCols.size

  private var weights: MLPMultiWeights = _
  private var yMean: Array[Double] = Array.fill(out)(0.0)
  private var yStd: Array[Double] = Array.fill(out)(1.0)

  def fittedWeights: MLPMultiWeights = weights

  def fit(df: DataFrame): this.type = {
    val k = featureCols.size
    val data = df.select((targetCols ++ featureCols).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    if (scaleTarget) {
      val stats = targetCols.flatMap(c =>
        Seq(avg(col(c)), stddev_pop(col(c))))
      val r = data.agg(stats.head, stats.tail: _*).collect()(0)
      yMean = Array.tabulate(out)(o => r.getDouble(2 * o))
      yStd = Array.tabulate(out)(o => math.max(r.getDouble(2 * o + 1),
        1e-12))
    }
    val rng = new scala.util.Random(seed)
    val limit = math.sqrt(6.0 / (k + hidden))
    var w1 = DenseMatrix.fill(k, hidden)((rng.nextDouble() * 2 - 1) * limit)
    val b1 = DenseVector.zeros[Double](hidden)
    val limOut = math.sqrt(6.0 / (hidden + out))
    var w2 = DenseMatrix.fill(hidden, out)(
      (rng.nextDouble() * 2 - 1) * limOut)
    val b2 = DenseVector.zeros[Double](out)
    val sz = k * hidden + hidden + hidden * out + out
    val adam = new AdamState(sz, lr, optimizer)
    val (ym, ys) = (yMean, yStd)
    val featIdx = featureCols.indices
    for (t <- 1 to epochs) {
      val bw1 = w1.copy; val bb1 = b1.copy
      val bw2 = w2.copy; val bb2 = b2.copy
      val batch = if (batchFraction >= 1.0) data
        else data.sample(withReplacement = false, batchFraction, seed + t)
      val grad = if (loss != "mse") {
        // rank-loss path with the reference's multi-output semantics:
        // (batch, out) flattens to ONE soft-ranked vector per batch
        // (losses.py:67-69); per-row injection scatters the flattened
        // dL/dp back through the shared hidden layer. A 1-row leftover
        // batch still ranks its `out >= 2` flattened elements.
        val (mw, sw) = if (loss == "spearman") (0.0, 1.0)
          else (mseWeight, spearmanWeight)
        val (tau, rb, nOut) = (rankTau, rankBatch, out)
        val (sd, ep) = (seed, t.toLong)
        batch.rdd.mapPartitions { it =>
          val acc = DenseVector.zeros[Double](sz + 2)
          val part = org.apache.spark.TaskContext.getPartitionId().toLong
          SeqAdam.shuffledBatches(it, rb, sd, ep, part).foreach { rows =>
            val b = rows.size
            val xs = new Array[DenseVector[Double]](b)
            val z1s = new Array[DenseVector[Double]](b)
            val hs = new Array[DenseVector[Double]](b)
            val flatP = new Array[Double](b * nOut)
            val flatY = new Array[Double](b * nOut)
            var i = 0
            rows.foreach { row =>
              val x = DenseVector(
                featIdx.map(ii => row.getDouble(ii + nOut)).toArray)
              val z1 = bw1.t * x + bb1
              val h = z1.map(z => if (z > 0) z else 0.0)
              var o = 0
              while (o < nOut) {
                flatY(i * nOut + o) = (row.getDouble(o) - ym(o)) / ys(o)
                var p = bb2(o)
                for (j <- 0 until h.length) p += h(j) * bw2(j, o)
                flatP(i * nOut + o) = p
                o += 1
              }
              xs(i) = x; z1s(i) = z1; hs(i) = h
              i += 1
            }
            val (dp, lossVal) =
              RankLoss.combinedGrad(flatP, flatY, tau, mw, sw)
            i = 0
            while (i < b) {
              val dz1 = DenseVector.tabulate(bb1.length) { j =>
                if (z1s(i)(j) > 0) {
                  var s = 0.0
                  for (o <- 0 until nOut) s += bw2(j, o) * dp(i * nOut + o)
                  s
                } else 0.0
              }
              var off = 0
              val x = xs(i)
              for (ii <- 0 until x.length; j <- 0 until bb1.length) {
                acc(off) += x(ii) * dz1(j); off += 1
              }
              for (j <- 0 until bb1.length) { acc(off) += dz1(j); off += 1 }
              for (j <- 0 until bb1.length; o <- 0 until nOut) {
                acc(off) += hs(i)(j) * dp(i * nOut + o); off += 1
              }
              for (o <- 0 until nOut) {
                acc(off) += dp(i * nOut + o); off += 1
              }
              i += 1
            }
            acc(sz) += lossVal
            acc(sz + 1) += 1.0
          }
          Iterator.single(acc)
        }.treeReduce(_ + _, depth = 2)
      } else {
        // primitive-loop kernel (the single-output fit's treatment):
        // per-row breeze costs more than the k×h matvec at this size.
        // Left-associated per-row sums (Σᵢ xᵢ·w then + b) — the
        // accumulation order the SQL trajectory oracles mirror
        // (q_mlp_multi / q_deep_multi pin it at round(4)); the
        // replaced breeze path's BLAS summation order carried no such
        // guarantee.
        val (kk, hh, nO) = (k, hidden, out)
        val w1a = Array.tabulate(kk * hh)(r => bw1(r / hh, r % hh))
        val b1a = bb1.toArray
        val w2a = Array.tabulate(hh * nO)(r => bw2(r / nO, r % nO))
        val b2a = bb2.toArray
        batch.rdd.mapPartitions { it =>
          val acc = DenseVector.zeros[Double](sz + 2)
          val a = acc.data
          val x = new Array[Double](kk)
          val z = new Array[Double](hh)
          val hArr = new Array[Double](hh)
          val d = new Array[Double](nO)
          while (it.hasNext) {
            val row = it.next()
            var o = 0
            while (o < nO) {
              d(o) = row.getDouble(o); o += 1 // y, standardized below
            }
            var i = 0
            while (i < kk) { x(i) = row.getDouble(i + nO); i += 1 }
            var j = 0
            while (j < hh) {
              var s = 0.0
              var i2 = 0
              while (i2 < kk) { s += x(i2) * w1a(i2 * hh + j); i2 += 1 }
              s += b1a(j)
              z(j) = s
              hArr(j) = if (s > 0) s else 0.0
              j += 1
            }
            o = 0
            while (o < nO) {
              val y = (d(o) - ym(o)) / ys(o)
              var p = b2a(o)
              j = 0
              while (j < hh) { p += hArr(j) * w2a(j * nO + o); j += 1 }
              d(o) = p - y
              o += 1
            }
            // shared hidden: dz1 sums every head's pull through w2
            j = 0
            while (j < hh) {
              val dz1 = if (z(j) > 0) {
                var s = 0.0
                o = 0
                while (o < nO) { s += w2a(j * nO + o) * d(o); o += 1 }
                s
              } else 0.0
              var i2 = 0
              while (i2 < kk) { a(i2 * hh + j) += x(i2) * dz1; i2 += 1 }
              a(kk * hh + j) += dz1
              o = 0
              while (o < nO) {
                a(kk * hh + hh + j * nO + o) += hArr(j) * d(o); o += 1
              }
              j += 1
            }
            var l = 0.0
            o = 0
            while (o < nO) {
              a(kk * hh + hh + hh * nO + o) += d(o)
              l += 0.5 * d(o) * d(o)
              o += 1
            }
            a(sz) += l
            a(sz + 1) += 1.0
          }
          Iterator.single(acc)
        }.treeReduce(_ + _, depth = 2)
      }
      val g = (grad(0 until sz) / math.max(grad(sz + 1), 1.0)).toArray
      val step = adam.step(g, t)
      var off = 0
      for (i <- 0 until k; j <- 0 until hidden) {
        w1(i, j) -= step(off); off += 1
      }
      for (j <- 0 until hidden) { b1(j) -= step(off); off += 1 }
      for (j <- 0 until hidden; o <- 0 until out) {
        w2(j, o) -= step(off); off += 1
      }
      for (o <- 0 until out) { b2(o) -= step(off); off += 1 }
    }
    data.unpersist()
    weights = MLPMultiWeights(
      Array.tabulate(k, hidden)((i, j) => w1(i, j)), b1.toArray,
      Array.tabulate(hidden, out)((j, o) => w2(j, o)), b2.toArray)
    this
  }

  /** Appends `prediction_{i}`, destandardized per output. */
  def predict(df: DataFrame): DataFrame = {
    require(weights != null, "fit first")
    val cols = MLPRegressor.predictColumns(weights,
      featureCols.map(c => col(c).cast("double")))
    cols.zipWithIndex.foldLeft(df) { case (acc, ((name, c), o)) =>
      acc.withColumn(name, c * lit(yStd(o)) + lit(yMean(o)))
    }
  }

  def familyName: String = "mlp_multi"
  def predictionNames: Seq[String] = MLPRegressor.predictionNames(out)

  /** The fitted payload — see [[MLPRegressor.saveParts]]'s
    * single-output sibling; [[MLPMultiRegressor.load]] restores it. */
  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(weights != null, "fit first")
    (Map(
      "family" -> "mlp_multi",
      "features" -> WeightsIO.namesToMeta(featureCols),
      "targets" -> WeightsIO.namesToMeta(targetCols),
      "hidden" -> hidden.toString, "lr" -> lr.toString,
      "epochs" -> epochs.toString, "seed" -> seed.toString,
      "scaleTarget" -> scaleTarget.toString,
      "batchFraction" -> batchFraction.toString, "loss" -> loss,
      "optimizer" -> optimizer),
      WeightsIO.packMlpMulti(weights) ++
        Seq("yMean" -> yMean, "yStd" -> yStd))
  }

  /** Persist the FITTED estimator — exact-double JSON;
    * [[MLPMultiRegressor.load]] scores bit-identically. */
  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }
}

object MLPMultiRegressor {
  /** Rehydrate a `save`d multi-output estimator, bit-exactly (fit
    * hyperparameters included — re-fitting trains the saved recipe). */
  def load(path: String): MLPMultiRegressor = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded). */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String)
      : MLPMultiRegressor = {
    WeightsIO.requireFamily(meta, "mlp_multi", where)
    val m = new MLPMultiRegressor(
      WeightsIO.namesFromMeta(meta("features")),
      WeightsIO.namesFromMeta(meta("targets")),
      hidden = meta("hidden").toInt, lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      loss = meta("loss"), optimizer = meta("optimizer"))
    m.weights = WeightsIO.unpackMlpMulti(sections)
    m.yMean = sections("yMean")
    m.yStd = sections("yStd")
    m
  }
}
