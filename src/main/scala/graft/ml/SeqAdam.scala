package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one epoch loop of every flat-kernel trainer with `output_units`
  * heads — the LSTM, the transformer and the deep MLP (whose features
  * are one timestep) at one or more outputs: per-epoch seeded Bernoulli
  * sampling (`batchFraction` — the reference's minibatch-SGD semantics
  * at cluster granularity), the flat-gradient MSE [[PartitionSum]] or
  * the rank-loss surrogate-injection path (losses.py:22-189 via
  * [[RankLoss.seqEpochGradientMulti]]), and driver-side Adam. Also home
  * to the seeded sampling helpers every rank-loss and dropout path
  * shares ([[maskSeed]], [[invBernoulli]], [[shuffledBatches]]). */
private[ml] object SeqAdam {

  /** SplitMix64-style mix of (seed, epoch, partition, row index) into a
    * per-row dropout mask seed. Never returns 0 (0 = dropout off). */
  private[ml] def maskSeed(seed: Long, ep: Long, part: Long,
      idx: Long): Long = {
    var z = seed ^ (ep * 0x9E3779B97F4A7C15L) ^
      (part * 0xC2B2AE3D27D4EB4FL) ^ (idx * 0x165667B19E3779F9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31) | 1L
  }

  /** One inverted-Bernoulli dropout mask: 0 with probability p, else
    * 1/(1−p); p <= 0 short-circuits WITHOUT consuming the rng stream.
    * The single definition every kernel draws from — the draw semantics
    * (including stream consumption) must stay identical across kernels
    * for the forward/backward same-sub-network invariant. */
  private[ml] def invBernoulli(rng: java.util.Random, p: Double,
      n: Int): Array[Double] = Array.fill(n)(
    if (p <= 0) 1.0 else if (rng.nextDouble() < p) 0.0 else 1.0 / (1 - p))

  /** Per-epoch batch composition for the rank losses: a bounded shuffle
    * window (8 batches wide) whose permutation is seeded by (seed,
    * epoch, partition), so the pairwise neighborhoods a row is ranked
    * against change every epoch — the reference reshuffles Keras
    * batches per epoch — with memory bounded by the window, never the
    * partition. Shared by ALL rank-loss paths (seq kernels, MLPs,
    * autoencoder, soft forest). */
  private[ml] def shuffledBatches[T](it: Iterator[T], rankBatch: Int,
      seed: Long, ep: Long, part: Long): Iterator[Seq[T]] = {
    val rng = new java.util.Random(maskSeed(seed, ep, part, -1L))
    val window = math.max(rankBatch * 8, 64)
    it.grouped(window).flatMap { chunk =>
      val arr = chunk.toArray[Any]
      var i = arr.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val tmp = arr(i); arr(i) = arr(j); arr(j) = tmp
        i -= 1
      }
      arr.iterator.asInstanceOf[Iterator[T]]
    }.grouped(rankBatch)
  }

  /** The fit frame of a `targets`-headed trainer: the targets then the
    * `inputs` cast to double, incomplete rows dropped, cached, and
    * required non-empty; with `scaleTarget`, also the per-output mean
    * and population std (floored at 1e-12) the rows standardize by —
    * otherwise 0 and 1. The caller unpersists the frame. */
  def prepare(df: DataFrame, targets: Seq[String], inputs: Seq[String],
      scaleTarget: Boolean): (DataFrame, Array[Double], Array[Double]) = {
    val data = df.select((targets ++ inputs).map(c =>
      col(c).cast("double")): _*).na.drop()
    data.cache()
    require(data.count() > 0, "no complete rows to fit on")
    val n = targets.size
    if (!scaleTarget) (data, Array.fill(n)(0.0), Array.fill(n)(1.0))
    else {
      val stats = targets.flatMap(c => Seq(avg(col(c)), stddev_pop(col(c))))
      val r = data.agg(stats.head, stats.tail: _*).collect()(0)
      (data, Array.tabulate(n)(o => r.getDouble(2 * o)),
        Array.tabulate(n)(o => math.max(r.getDouble(2 * o + 1), 1e-12)))
    }
  }

  /** Maps each scored head in `names` back to target units. */
  def destandardize(scored: DataFrame, names: Seq[String],
      yMean: Array[Double], yStd: Array[Double]): DataFrame =
    names.zipWithIndex.foldLeft(scored) { case (d, (name, o)) =>
      d.withColumn(name, col(name) * lit(yStd(o)) + lit(yMean(o)))
    }

  /** Trains `w` in place for `epochs` epochs. Rows carry `nOut` leading
    * target columns (the reference's `output_units`, base.py:46), each
    * standardized per-output, then the lag-major sequence values.
    * `kernel(bw, x, ys, acc, maskSeed, predsOut)` receives the
    * standardized target VECTOR, accumulates the joint Keras summed-mse
    * gradient into `acc` when non-null, fills `predsOut` when non-null,
    * and returns the loss (or, with `acc` null, the first prediction);
    * `maskSeed` is a per-row per-epoch seed for training-time dropout
    * masks (kernels without dropout ignore it). `loss = "spearman" |
    * "combined"` trains the reference's rank objectives with their exact
    * multi-output semantics — the loss flattens (batch, out) to one
    * vector (losses.py:67-69) — via
    * [[RankLoss.seqEpochGradientMulti]]'s surrogate-target injection. */
  def run(data: DataFrame, sz: Int, w: Array[Double], nOut: Int,
      yMean: Array[Double], yStd: Array[Double], nFeat: Int, seqLen: Int,
      epochs: Int, lr: Double, seed: Long, batchFraction: Double,
      kernel: (Array[Double], Array[Array[Double]], Array[Double],
        Array[Double], Long, Array[Double]) => Double,
      loss: String, mseWeight: Double, spearmanWeight: Double,
      rankTau: Double, rankBatch: Int, optimizer: String): Unit = {
    val (f, t) = (nFeat, seqLen)
    val adam = new AdamState(sz, lr, optimizer)
    for (ep <- 1 to epochs) {
      val bw = w.clone()
      val epL = ep.toLong
      val batch = if (batchFraction >= 1.0) data
        else data.sample(withReplacement = false, batchFraction, seed + ep)
      val grad = if (loss != "mse") {
        val (mw, sw) = if (loss == "spearman") (0.0, 1.0)
          else (mseWeight, spearmanWeight)
        RankLoss.seqEpochGradientMulti(batch.rdd, sz, t, f, nOut, yMean,
          yStd, (x, ys, acc, ms, po) => kernel(bw, x, ys, acc, ms, po),
          rankTau, mw, sw, rankBatch, seed, epL)
      } else PartitionSum.sum(batch.rdd, sz + 2) { (part, it, acc) =>
        it.foreach { row =>
          val ys = Array.tabulate(nOut)(o =>
            (row.getDouble(o) - yMean(o)) / yStd(o))
          val x = Array.tabulate(t, f)((ti, fi) =>
            row.getDouble(nOut + ti * f + fi))
          val ms = maskSeed(seed, epL, part, acc(sz + 1).toLong)
          acc(sz) += kernel(bw, x, ys, acc, ms, null)
          acc(sz + 1) += 1.0
        }
      }
      adam.update(w, PartitionSum.mean(grad, sz)._1, ep)
    }
  }
}
