package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row

/** Differentiable rank-loss kernels (losses.py:22-189): the soft
  * Spearman loss −corr(softRank(y), softRank(p)) with sigmoid soft
  * ranks, and the weighted MSE+Spearman combination — as BATCH-level
  * gradients with respect to the predictions. Pairwise soft ranks are
  * O(b²), so the loss is defined per training batch (the reference
  * computes it per Keras batch, batch_size=32, base.py:68); the trainer
  * applies it to bounded in-partition batches, never to a full 100 TB
  * partition.
  *
  * Gradient: with s_ij = σ((p_i−p_j)/τ), r_i = Σ_j s_ij,
  * g = d(−corr(t, r))/dr (Pearson gradient, ε=1e-7 like Keras epsilon),
  * the diagonal σ(0) term is constant, so
  * dL/dp_i = Σ_{j≠i} s_ij(1−s_ij)/τ · (g_i − g_j).
  */
object RankLoss {
  private val Eps = 1e-7

  import Activations.sigmoid

  /** Soft ranks of `x` at temperature `tau` (losses.py:76-95; includes
    * the constant 0.5 self-term, matching the reference). */
  def softRank(x: Array[Double], tau: Double): Array[Double] = {
    val n = x.length
    Array.tabulate(n) { i =>
      var r = 0.0
      var j = 0
      while (j < n) { r += sigmoid((x(i) - x(j)) / tau); j += 1 }
      r
    }
  }

  /** −corr(softRank(y), softRank(p)) — the batch loss (losses.py:55-74). */
  def softSpearmanLoss(p: Array[Double], y: Array[Double], tau: Double)
      : Double = {
    val t = softRank(y, tau); val r = softRank(p, tau)
    -pearson(t, r)
  }

  private def pearson(t: Array[Double], r: Array[Double]): Double = {
    val n = t.length
    var mt = 0.0; var mr = 0.0
    for (i <- 0 until n) { mt += t(i); mr += r(i) }
    mt /= n; mr /= n
    var num = 0.0; var stt = 0.0; var srr = 0.0
    for (i <- 0 until n) {
      val tc = t(i) - mt; val rc = r(i) - mr
      num += tc * rc; stt += tc * tc; srr += rc * rc
    }
    num / math.sqrt(stt * srr + Eps)
  }

  /** Batch gradient dL/dp of the soft Spearman loss; O(b²). */
  def softSpearmanGrad(p: Array[Double], y: Array[Double], tau: Double)
      : Array[Double] = {
    val n = p.length
    val t = softRank(y, tau); val r = softRank(p, tau)
    var mt = 0.0; var mr = 0.0
    for (i <- 0 until n) { mt += t(i); mr += r(i) }
    mt /= n; mr /= n
    var num = 0.0; var stt = 0.0; var srr = 0.0
    for (i <- 0 until n) {
      val tc = t(i) - mt; val rc = r(i) - mr
      num += tc * rc; stt += tc * tc; srr += rc * rc
    }
    val den = math.sqrt(stt * srr + Eps)
    // g_i = dL/dr_i for L = −num/den
    val g = Array.tabulate(n) { i =>
      val tc = t(i) - mt; val rc = r(i) - mr
      -(tc / den - num * stt * rc / (den * den * den))
    }
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        if (j != i) {
          val s = sigmoid((p(i) - p(j)) / tau)
          acc += s * (1.0 - s) / tau * (g(i) - g(j))
        }
        j += 1
      }
      out(i) = acc
      i += 1
    }
    out
  }

  /** Epoch flat gradient of a rank loss through any sequence BPTT
    * kernel, without touching the kernel: every kernel in this repo
    * (LstmStackBptt, AttnBptt, AttnBpttFull) accumulates the gradient of
    * ½Σ_o(pred_o − y_o)² — which is LINEAR in each pred_o − y_o — and
    * returns the predictions when `acc` is null. So a batch-level dL/dp
    * injects exactly by re-running the kernel with the surrogate targets
    * y′ = pred − dL/dp (then pred − y′ = dL/dp). Costs one extra forward
    * per row; executors fold bounded in-partition batches (rankBatch
    * rows, O(b²) pairwise work) — the reference's per-Keras-batch loss
    * semantics. Slot sz+1 counts BATCHES: the epoch gradient is the
    * batch mean.
    *
    * Multi-output (`output_units > 1`, base.py:46): the reference's
    * SpearmanCorrelation loss RESHAPES the (batch, out) tensors to
    * (-1, 1) before soft-ranking (losses.py:67-69) — every output's
    * predictions rank together in ONE flattened vector — and the Keras
    * mse likewise means over all batch·out elements. So the batch
    * gradient is [[combinedGrad]] over the flattened length-(b·out)
    * vectors, scattered back per output as per-output surrogate targets.
    *
    * Batch composition re-randomizes per epoch: rows are drawn through a
    * bounded shuffle window (8 batches wide) whose permutation is seeded
    * by (seed, epoch, partition), so the pairwise neighborhoods a row is
    * ranked against change every epoch — the reference reshuffles Keras
    * batches per epoch — with memory bounded by the window, never the
    * partition. The Spearman term is undefined on a flattened vector of
    * one element, which only a leftover single-row batch at `nOut = 1`
    * produces: it contributes its MSE term alone when `mseW != 0` and is
    * skipped (not counted) otherwise. At `nOut >= 2` even a single row
    * flattens to `nOut` elements, exactly the degenerate batch the
    * reference's loss would see.
    *
    * Each row carries a per-epoch `maskSeed` (dropout): the prediction
    * forward and the gradient re-run use the SAME seed, so the surrogate
    * identity holds per sampled sub-network.
    *
    * Row layout: cols 0..nOut-1 = targets, then lag-major sequence
    * values; kernel signature = (x, ys, acc, maskSeed, predsOut), already
    * bound to the epoch's weights. */
  def seqEpochGradientMulti(rows: RDD[Row], sz: Int, t: Int, f: Int,
      nOut: Int, yMean: Array[Double], yStd: Array[Double],
      kernel: (Array[Array[Double]], Array[Double], Array[Double], Long,
        Array[Double]) => Double,
      tau: Double, mseW: Double, spW: Double, rankBatch: Int,
      seed: Long, ep: Long): Array[Double] = {
    rows.mapPartitions { it =>
      val acc = new Array[Double](sz + 2)
      val part = org.apache.spark.TaskContext.getPartitionId()
      var idx = 0L
      SeqAdam.shuffledBatches(it, rankBatch, seed, ep, part.toLong)
        .foreach { batch =>
        val b = batch.size
        val xs = new Array[Array[Array[Double]]](b)
        val ys = new Array[Array[Double]](b)
        val preds = new Array[Array[Double]](b)
        val seeds = new Array[Long](b)
        var i = 0
        batch.foreach { row =>
          ys(i) = Array.tabulate(nOut)(o =>
            (row.getDouble(o) - yMean(o)) / yStd(o))
          xs(i) = Array.tabulate(t, f)((ti, fi) =>
            row.getDouble(nOut + ti * f + fi))
          seeds(i) = SeqAdam.maskSeed(seed, ep, part.toLong, idx)
          idx += 1
          preds(i) = new Array[Double](nOut)
          kernel(xs(i), ys(i), null, seeds(i), preds(i))
          i += 1
        }
        val flatP = new Array[Double](b * nOut)
        val flatY = new Array[Double](b * nOut)
        i = 0
        while (i < b) {
          var o = 0
          while (o < nOut) {
            flatP(i * nOut + o) = preds(i)(o)
            flatY(i * nOut + o) = ys(i)(o)
            o += 1
          }
          i += 1
        }
        if (b * nOut >= 2) {
          val (dp, lossVal) = combinedGrad(flatP, flatY, tau, mseW, spW)
          i = 0
          while (i < b) {
            val sur = Array.tabulate(nOut)(o =>
              preds(i)(o) - dp(i * nOut + o))
            kernel(xs(i), sur, acc, seeds(i), null)
            i += 1
          }
          acc(sz) += lossVal
          acc(sz + 1) += 1.0
        } else if (mseW != 0.0) {
          // single leftover element: MSE gradient only
          val d = flatP(0) - flatY(0)
          kernel(xs(0), Array(flatP(0) - mseW * 2.0 * d), acc, seeds(0),
            null)
          acc(sz) += mseW * d * d
          acc(sz + 1) += 1.0
        }
      }
      Iterator.single(acc)
    }.treeReduce({ (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }, depth = 2)
  }

  /** Combined loss (losses.py:125-189): mseW·mean((p−y)²) + spW·softSp.
    * Returns (dL/dp, batch loss). */
  def combinedGrad(p: Array[Double], y: Array[Double], tau: Double,
      mseW: Double, spW: Double): (Array[Double], Double) = {
    val n = p.length
    var mse = 0.0
    for (i <- 0 until n) { val d = p(i) - y(i); mse += d * d }
    mse /= n
    val spGrad = if (spW != 0.0) softSpearmanGrad(p, y, tau)
      else new Array[Double](n)
    val spLoss = if (spW != 0.0) softSpearmanLoss(p, y, tau) else 0.0
    val grad = Array.tabulate(n)(i =>
      mseW * 2.0 * (p(i) - y(i)) / n + spW * spGrad(i))
    (grad, mseW * mse + spW * spLoss)
  }
}
