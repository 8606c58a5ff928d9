package graft.ml

/** Keras `BatchNormalization` (axis=-1, epsilon 1e-3) as a batched
  * TRAINING-TIME primitive: forward over a `[b][n]` pre-activation block
  * with batch statistics, backward with the full batch-coupled gradient.
  * The reference uses BN unconditionally in the BottleneckEncoder
  * (autoencoder.py:30,35,41,52,63) and the NeuralDecisionForest input
  * (tree.py:323), and behind `use_batch_norm` in the LSTM
  * (sequence.py:143-144).
  *
  * Training normalizes with the CURRENT batch's mean/variance — in our
  * execution model a batch is a bounded in-partition row block (the
  * rankBatch shape), which is exactly the reference's per-Keras-batch
  * semantics. Inference folds population statistics into a per-unit
  * affine (`scale·z + shift`) so scoring stays a pure codegen'd
  * projection; see the trainers' stats re-estimation note.
  */
object BatchNorm {
  /** Keras BatchNormalization default epsilon. */
  val Eps = 1e-3

  /** Cached forward state for one BN site over one batch. `mean`/`varB`
    * are the batch's biased statistics — kept for the optional
    * moving-average inference mode (Keras parity), which accumulates
    * them across training batches. */
  final class Fwd(
      val out: Array[Array[Double]],  // [b][n] gamma*xhat + beta
      val xhat: Array[Array[Double]], // [b][n]
      val invStd: Array[Double],      // [n] 1/sqrt(var_b + eps)
      val mean: Array[Double],        // [n] batch mean
      val varB: Array[Double])        // [n] batch biased variance

  /** Training forward: batch-normalize `z` ([b][n]) with this batch's
    * biased mean/variance, then apply the learned affine gamma/beta. */
  def forward(z: Array[Array[Double]], gamma: Array[Double],
      beta: Array[Double]): Fwd = {
    val b = z.length
    val n = gamma.length
    val mean = new Array[Double](n)
    val varr = new Array[Double](n)
    var i = 0
    while (i < b) {
      val zi = z(i); var j = 0
      while (j < n) { mean(j) += zi(j); j += 1 }
      i += 1
    }
    var j = 0
    while (j < n) { mean(j) /= b; j += 1 }
    i = 0
    while (i < b) {
      val zi = z(i); var j2 = 0
      while (j2 < n) {
        val d = zi(j2) - mean(j2); varr(j2) += d * d; j2 += 1
      }
      i += 1
    }
    val invStd = new Array[Double](n)
    j = 0
    while (j < n) {
      varr(j) /= b
      invStd(j) = 1.0 / math.sqrt(varr(j) + Eps); j += 1
    }
    val xhat = Array.ofDim[Double](b, n)
    val out = Array.ofDim[Double](b, n)
    i = 0
    while (i < b) {
      val zi = z(i); val xi = xhat(i); val oi = out(i); var j2 = 0
      while (j2 < n) {
        xi(j2) = (zi(j2) - mean(j2)) * invStd(j2)
        oi(j2) = gamma(j2) * xi(j2) + beta(j2)
        j2 += 1
      }
      i += 1
    }
    new Fwd(out, xhat, invStd, mean, varr)
  }

  /** Training backward. Given dL/dOut ([b][n]) and the cached forward,
    * returns dL/dZ with the batch-coupled formula
    * `dz_i = (gamma*invStd/b) * (b*dout_i - SUM(dout) - xhat_i*SUM(dout*xhat))`
    * and ACCUMULATES dGamma_j += SUM_i dout_ij*xhat_ij,
    * dBeta_j += SUM_i dout_ij. */
  def backward(f: Fwd, gamma: Array[Double], dOut: Array[Array[Double]],
      dGamma: Array[Double], dBeta: Array[Double]): Array[Array[Double]] = {
    val b = dOut.length
    val n = gamma.length
    val sum1 = new Array[Double](n)
    val sum2 = new Array[Double](n)
    var i = 0
    while (i < b) {
      val di = dOut(i); val xi = f.xhat(i); var j = 0
      while (j < n) {
        sum1(j) += di(j)
        sum2(j) += di(j) * xi(j)
        j += 1
      }
      i += 1
    }
    var j = 0
    while (j < n) {
      dGamma(j) += sum2(j); dBeta(j) += sum1(j); j += 1
    }
    val dZ = Array.ofDim[Double](b, n)
    i = 0
    while (i < b) {
      val di = dOut(i); val xi = f.xhat(i); val dzi = dZ(i); var j2 = 0
      while (j2 < n) {
        dzi(j2) = gamma(j2) * f.invStd(j2) / b *
          (b * di(j2) - sum1(j2) - xi(j2) * sum2(j2))
        j2 += 1
      }
      i += 1
    }
    dZ
  }

  /** Backward for an INPUT-site BN (z is data, not a function of the
    * parameters): the batch statistics are constants w.r.t. every
    * trainable weight, so only dGamma/dBeta accumulate — no dZ. */
  def backwardInput(f: Fwd, dOut: Array[Array[Double]],
      dGamma: Array[Double], dBeta: Array[Double]): Unit = {
    val b = dOut.length
    var i = 0
    while (i < b) {
      val di = dOut(i); val xi = f.xhat(i); var j = 0
      while (j < dGamma.length) {
        dGamma(j) += di(j) * xi(j); dBeta(j) += di(j); j += 1
      }
      i += 1
    }
  }

  /** Population (mean, biased variance floored at 0) of one site from
    * its `[Σv (width) | Σv² (width) | count]` sums. */
  def population(stats: Array[Double], width: Int)
      : (Array[Double], Array[Double]) = {
    val cnt = math.max(stats(2 * width), 1.0)
    val mean = Array.tabulate(width)(u => stats(u) / cnt)
    (mean, Array.tabulate(width)(u =>
      math.max(stats(width + u) / cnt - mean(u) * mean(u), 0.0)))
  }

  /** Inference affine from population statistics:
    * `gamma*(z-mu)/sqrt(var+eps) + beta  =  scale*z + shift`. */
  def affine(gamma: Array[Double], beta: Array[Double],
      mu: Array[Double], varr: Array[Double])
      : (Array[Double], Array[Double]) = {
    val n = gamma.length
    val scale = new Array[Double](n)
    val shift = new Array[Double](n)
    var j = 0
    while (j < n) {
      scale(j) = gamma(j) / math.sqrt(varr(j) + Eps)
      shift(j) = beta(j) - scale(j) * mu(j)
      j += 1
    }
    (scale, shift)
  }
}
