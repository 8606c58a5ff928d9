package graft.ml

import org.apache.spark.sql.DataFrame

/** Flat-parameter forward/backward kernel for the transformer encoder
  * regressor the reference trains with Keras (transformer.py:108-245):
  * Dense(d_model) input projection + learned position embedding
  * (transformer.py:14-47,216) + one single-head self-attention block with
  * residual + ReLU feed-forward sub-layer with residual
  * (transformer.py:161-203) + average pooling + linear head — optionally
  * with the reference's `use_pre_norm=True` LayerNorms (trainable γ/β,
  * Keras epsilon 1e-6) before attention, before the FFN, and after the
  * block. The forward recurrence matches [[AttnScorer.score]] with the
  * corresponding [[AttnWeights]] exactly, so weights fitted here score
  * identically through the distributed codegen'd forward pass (and its
  * DuckDB SQL mirror). This is the oracle-minimal kernel: multi-head
  * attention, pooling, the MLP head, stacked blocks, and training-time
  * dropout all live in [[AttnBpttFull]].
  *
  * Layout (per-row gradient of 0.5·(pred − y)² against ONE flat array, so
  * gradients aggregate as a single vector sum): `wIn` F×H feature-major,
  * `bIn` H, `posEmb` T×H step-major, then `wq bq wk bk wv bv` (each H×H
  * input-major + H), `wF1` H×FF, `bF1` FF, `wF2` FF×H, `bF2` H,
  * `wOut` H, `bOut`, and — with `norm` — `g1 c1 g2 c2 gF cF` (each H).
  */
object AttnBptt {

  private val eps = 1e-6 // Keras LayerNormalization epsilon

  def size(f: Int, t: Int, h: Int, ff: Int, norm: Boolean = false,
      cross: Boolean = false): Int =
    f * h + h + t * h + 3 * (h * h + h) + h * ff + ff + ff * h + h + h + 1 +
      (if (norm) 6 * h else 0) + (if (cross) 3 * (t * t + t) else 0)

  private def offsets(f: Int, t: Int, h: Int, ff: Int,
      norm: Boolean): Array[Int] = {
    // wIn bIn pos wq bq wk bk wv bv w1 b1 w2 b2 wOut bOut g1 c1 g2 c2 gF cF
    // then the cross-mode tail: wqF bqF wkF bkF wvF bvF (feature-axis
    // q/k/v of CrossAttention, transformer.py:51-90 — seqLen-sized
    // projections over the transposed tokens); norm sizes collapse to 0
    // when norm is off so the tail offsets stay valid either way
    val nh = if (norm) h else 0
    val sizes = Array(f * h, h, t * h, h * h, h, h * h, h, h * h, h,
      h * ff, ff, ff * h, h, h, 1, nh, nh, nh, nh, nh, nh,
      t * t, t, t * t, t, t * t, t)
    sizes.scanLeft(0)(_ + _)
  }

  /** Unpack a flat vector into the scorer's full-block weight class. */
  def toWeights(w: Array[Double], f: Int, t: Int, h: Int, ff: Int,
      norm: Boolean = false, cross: Boolean = false): AttnWeights = {
    val o = offsets(f, t, h, ff, norm)
    def mat(off: Int, rows: Int, cols: Int): Array[Array[Double]] =
      Array.tabulate(rows, cols)((r, c) => w(off + r * cols + c))
    def vec(off: Int, n: Int): Array[Double] =
      Array.tabulate(n)(i => w(off + i))
    AttnWeights(
      wq = mat(o(3), h, h), bq = vec(o(4), h),
      wk = mat(o(5), h, h), bk = vec(o(6), h),
      wv = mat(o(7), h, h), bv = vec(o(8), h),
      wOut = vec(o(13), h), bOut = w(o(14)),
      wIn = mat(o(0), f, h), bIn = vec(o(1), h),
      posEmb = mat(o(2), t, h),
      wF1 = mat(o(9), h, ff), bF1 = vec(o(10), ff),
      wF2 = mat(o(11), ff, h), bF2 = vec(o(12), h),
      wqF = if (!cross) null else mat(o(21), t, t),
      bqF = if (!cross) null else vec(o(22), t),
      wkF = if (!cross) null else mat(o(23), t, t),
      bkF = if (!cross) null else vec(o(24), t),
      wvF = if (!cross) null else mat(o(25), t, t),
      bvF = if (!cross) null else vec(o(26), t),
      preNorm = if (!norm) null else LayerNormParams(
        g1 = vec(o(15), h), c1 = vec(o(16), h),
        g2 = vec(o(17), h), c2 = vec(o(18), h),
        gF = vec(o(19), h), cF = vec(o(20), h), epsilon = eps))
  }

  /** Forward pass only (gradient-check helper; production scoring goes
    * through [[AttnScorer]]). */
  def forward(w: Array[Double], f: Int, h: Int, ff: Int,
      x: Array[Array[Double]], norm: Boolean = false,
      cross: Boolean = false): Double =
    run(w, f, h, ff, x, 0.0, null, norm, cross)

  /** Forward + (if `acc` non-null) backward accumulating into `acc`.
    * Returns the prediction (acc == null) or the loss (acc != null).
    * `cross` adds the feature-axis attention of the reference's
    * `attention_type="cross"` dual-axis mode (transformer.py:51-90):
    * a second single-head attention over the TRANSPOSED tokens (one
    * token per hidden dim, width T, softmax scale √T) whose context —
    * transposed back — sums with the temporal context before the
    * residual, exactly the [[AttnScorer]] cross stages. */
  def run(w: Array[Double], f: Int, h: Int, ff: Int,
      x: Array[Array[Double]], y: Double, acc: Array[Double],
      norm: Boolean = false, cross: Boolean = false): Double = {
    val T = x.length
    val o = offsets(f, T, h, ff, norm)
    val (oIn, oBIn, oPos) = (o(0), o(1), o(2))
    val (oWq, oBq, oWk, oBk, oWv, oBv) = (o(3), o(4), o(5), o(6), o(7), o(8))
    val (oW1, oB1, oW2, oB2, oWOut, oBOut) =
      (o(9), o(10), o(11), o(12), o(13), o(14))
    val (oG1, oC1, oG2, oC2, oGF, oCF) =
      (o(15), o(16), o(17), o(18), o(19), o(20))
    val invSqrtH = 1.0 / math.sqrt(h.toDouble)

    // LayerNorm forward: fills xhat (pre-γ normalized) and invSig; output
    // y_j = γ_j·xhat_j + β_j
    def lnFwd(in: Array[Double], gOff: Int, cOff: Int,
        xhat: Array[Double]): (Array[Double], Double) = {
      var mu = 0.0
      var j = 0
      while (j < h) { mu += in(j); j += 1 }
      mu /= h
      var va = 0.0
      j = 0
      while (j < h) { val d = in(j) - mu; va += d * d; j += 1 }
      va /= h
      val inv = 1.0 / math.sqrt(va + eps)
      val out = new Array[Double](h)
      j = 0
      while (j < h) {
        xhat(j) = (in(j) - mu) * inv
        out(j) = w(gOff + j) * xhat(j) + w(cOff + j)
        j += 1
      }
      (out, inv)
    }
    // LayerNorm backward for token t: dy → din (returned); accumulates
    // dγ/dβ. din_i = inv·(dxh_i − mean(dxh) − xhat_i·mean(dxh·xhat))
    def lnBwd(dy: Array[Double], xhat: Array[Double], inv: Double,
        gOff: Int, cOff: Int): Array[Double] = {
      val dxh = new Array[Double](h)
      var m1 = 0.0; var m2 = 0.0
      var j = 0
      while (j < h) {
        if (acc != null) { acc(gOff + j) += dy(j) * xhat(j)
          acc(cOff + j) += dy(j) }
        dxh(j) = dy(j) * w(gOff + j)
        m1 += dxh(j); m2 += dxh(j) * xhat(j)
        j += 1
      }
      m1 /= h; m2 /= h
      val din = new Array[Double](h)
      j = 0
      while (j < h) { din(j) = inv * (dxh(j) - m1 - xhat(j) * m2); j += 1 }
      din
    }

    // ---- forward ----
    val xt = Array.ofDim[Double](T, h) // projected tokens (+ posEmb)
    val xn = Array.ofDim[Double](T, h) // attention input (LN1(x) or x)
    val xh1 = Array.ofDim[Double](T, h); val inv1 = new Array[Double](T)
    val qs = Array.ofDim[Double](T, h)
    val ks = Array.ofDim[Double](T, h)
    val vs = Array.ofDim[Double](T, h)
    var t = 0
    while (t < T) {
      val raw = x(t)
      var j = 0
      while (j < h) {
        var s = w(oBIn + j) + w(oPos + t * h + j)
        var i = 0
        while (i < f) { s += raw(i) * w(oIn + i * h + j); i += 1 }
        xt(t)(j) = s
        j += 1
      }
      if (norm) {
        val (out, inv) = lnFwd(xt(t), oG1, oC1, xh1(t))
        xn(t) = out; inv1(t) = inv
      } else xn(t) = xt(t)
      j = 0
      while (j < h) {
        var zq = w(oBq + j); var zk = w(oBk + j); var zv = w(oBv + j)
        var i = 0
        while (i < h) {
          val xv = xn(t)(i); val r = i * h + j
          zq += xv * w(oWq + r); zk += xv * w(oWk + r); zv += xv * w(oWv + r)
          i += 1
        }
        qs(t)(j) = zq; ks(t)(j) = zk; vs(t)(j) = zv
        j += 1
      }
      t += 1
    }
    // feature-axis attention forward (cross mode): tokens are the h
    // hidden dims, each of width T, projected through the seqLen-sized
    // q/k/v; softmax scale √T; context fz(j)(t) sums into z(t)(j) below
    val (oWqF, oBqF, oWkF, oBkF, oWvF, oBvF) =
      (o(21), o(22), o(23), o(24), o(25), o(26))
    val fqs = if (cross) Array.ofDim[Double](h, T) else null
    val fks = if (cross) Array.ofDim[Double](h, T) else null
    val fvs = if (cross) Array.ofDim[Double](h, T) else null
    val fatt = if (cross) Array.ofDim[Double](h, h) else null
    val fz = if (cross) Array.ofDim[Double](h, T) else null
    if (cross) {
      val invSqrtT = 1.0 / math.sqrt(T.toDouble)
      var j = 0
      while (j < h) {
        var s = 0
        while (s < T) {
          var zq = w(oBqF + s); var zk = w(oBkF + s); var zv = w(oBvF + s)
          var t2 = 0
          while (t2 < T) {
            val xv = xn(t2)(j); val r = t2 * T + s
            zq += xv * w(oWqF + r); zk += xv * w(oWkF + r)
            zv += xv * w(oWvF + r)
            t2 += 1
          }
          fqs(j)(s) = zq; fks(j)(s) = zk; fvs(j)(s) = zv
          s += 1
        }
        j += 1
      }
      j = 0
      while (j < h) {
        var den = 0.0
        var j2 = 0
        while (j2 < h) {
          var dot = 0.0
          var s = 0
          while (s < T) { dot += fqs(j)(s) * fks(j2)(s); s += 1 }
          val e = math.exp(dot * invSqrtT)
          fatt(j)(j2) = e; den += e
          j2 += 1
        }
        j2 = 0
        while (j2 < h) { fatt(j)(j2) /= den; j2 += 1 }
        var t2 = 0
        while (t2 < T) {
          var sum = 0.0
          var j3 = 0
          while (j3 < h) { sum += fatt(j)(j3) * fvs(j3)(t2); j3 += 1 }
          fz(j)(t2) = sum
          t2 += 1
        }
        j += 1
      }
    }
    // attention weights a_{t,u} = softmax_u(q_t·k_u/√H) — computed in the
    // same exp/Σexp form as the scorer (no max-shift: the scorer's SQL
    // mirror has none, and fitted-scale scores stay well inside range)
    val att = Array.ofDim[Double](T, T)
    val den = new Array[Double](T)
    t = 0
    while (t < T) {
      var u = 0
      while (u < T) {
        var dot = 0.0
        var j = 0
        while (j < h) { dot += qs(t)(j) * ks(u)(j); j += 1 }
        val e = math.exp(dot * invSqrtH)
        att(t)(u) = e; den(t) += e
        u += 1
      }
      var u2 = 0
      while (u2 < T) { att(t)(u2) /= den(t); u2 += 1 }
      t += 1
    }
    val zs = Array.ofDim[Double](T, h) // attention context
    val rs = Array.ofDim[Double](T, h) // x + attn residual
    val rn = Array.ofDim[Double](T, h) // FFN input (LN2(r) or r)
    val xh2 = Array.ofDim[Double](T, h); val inv2 = new Array[Double](T)
    val us = Array.ofDim[Double](T, ff) // relu'd FFN hidden
    val fs = Array.ofDim[Double](T, h) // r + FFN residual
    val fn = Array.ofDim[Double](T, h) // pooling input (LNF(f) or f)
    val xhF = Array.ofDim[Double](T, h); val invF = new Array[Double](T)
    t = 0
    while (t < T) {
      var j = 0
      while (j < h) {
        var s = 0.0
        var u = 0
        while (u < T) { s += att(t)(u) * vs(u)(j); u += 1 }
        val zTot = if (cross) s + fz(j)(t) else s
        zs(t)(j) = zTot; rs(t)(j) = xt(t)(j) + zTot
        j += 1
      }
      if (norm) {
        val (out, inv) = lnFwd(rs(t), oG2, oC2, xh2(t))
        rn(t) = out; inv2(t) = inv
      } else rn(t) = rs(t)
      var i = 0
      while (i < ff) {
        var s = w(oB1 + i)
        var k = 0
        while (k < h) { s += rn(t)(k) * w(oW1 + k * ff + i); k += 1 }
        us(t)(i) = if (s > 0) s else 0.0
        i += 1
      }
      var j2 = 0
      while (j2 < h) {
        var s = w(oB2 + j2)
        var i2 = 0
        while (i2 < ff) { s += us(t)(i2) * w(oW2 + i2 * h + j2); i2 += 1 }
        fs(t)(j2) = rs(t)(j2) + s
        j2 += 1
      }
      if (norm) {
        val (out, inv) = lnFwd(fs(t), oGF, oCF, xhF(t))
        fn(t) = out; invF(t) = inv
      } else fn(t) = fs(t)
      t += 1
    }
    var pred = w(oBOut)
    var j = 0
    while (j < h) {
      var s = 0.0
      var t2 = 0
      while (t2 < T) { s += fn(t2)(j); t2 += 1 }
      pred += (s / T) * w(oWOut + j)
      j += 1
    }
    if (acc == null) return pred

    // ---- backward ----
    val d = pred - y
    acc(oBOut) += d
    val dfn = Array.ofDim[Double](T, h)
    j = 0
    while (j < h) {
      var s = 0.0
      var t2 = 0
      while (t2 < T) { s += fn(t2)(j); t2 += 1 }
      acc(oWOut + j) += d * (s / T)
      val dPool = d * w(oWOut + j) / T
      var t3 = 0
      while (t3 < T) { dfn(t3)(j) = dPool; t3 += 1 }
      j += 1
    }
    val dxs = Array.ofDim[Double](T, h)
    val dqs = Array.ofDim[Double](T, h)
    val dks = Array.ofDim[Double](T, h)
    val dvs = Array.ofDim[Double](T, h)
    val dzs = Array.ofDim[Double](T, h)
    t = 0
    while (t < T) {
      // final LayerNorm backward: dfn → df
      val df = if (norm) lnBwd(dfn(t), xhF(t), invF(t), oGF, oCF)
        else dfn(t)
      // FFN backward: f = r + W2·relu(W1·rn) + b2, rn = LN2(r) or r
      val dr = new Array[Double](h)
      val drn = new Array[Double](h)
      var j2 = 0
      while (j2 < h) {
        val g = df(j2)
        dr(j2) += g // residual path
        acc(oB2 + j2) += g
        j2 += 1
      }
      var i = 0
      while (i < ff) {
        if (us(t)(i) > 0) {
          var du = 0.0
          var j3 = 0
          while (j3 < h) {
            val g = df(j3)
            acc(oW2 + i * h + j3) += us(t)(i) * g
            du += w(oW2 + i * h + j3) * g
            j3 += 1
          }
          acc(oB1 + i) += du
          var k = 0
          while (k < h) {
            acc(oW1 + k * ff + i) += rn(t)(k) * du
            drn(k) += w(oW1 + k * ff + i) * du
            k += 1
          }
        }
        // relu inactive (us == 0): no gradient flows through this unit
        i += 1
      }
      if (norm) {
        val back = lnBwd(drn, xh2(t), inv2(t), oG2, oC2)
        var k = 0
        while (k < h) { dr(k) += back(k); k += 1 }
      } else {
        var k = 0
        while (k < h) { dr(k) += drn(k); k += 1 }
      }
      // r = x + z
      var j4 = 0
      while (j4 < h) {
        dxs(t)(j4) += dr(j4)
        dzs(t)(j4) = dr(j4)
        j4 += 1
      }
      t += 1
    }
    // attention backward: z_{t,j} = Σ_u a_{t,u} v_{u,j}
    t = 0
    while (t < T) {
      val da = new Array[Double](T)
      var u = 0
      while (u < T) {
        var s = 0.0
        var j6 = 0
        while (j6 < h) {
          s += dzs(t)(j6) * vs(u)(j6)
          dvs(u)(j6) += att(t)(u) * dzs(t)(j6)
          j6 += 1
        }
        da(u) = s
        u += 1
      }
      // softmax backward
      var dotSum = 0.0
      var u2 = 0
      while (u2 < T) { dotSum += att(t)(u2) * da(u2); u2 += 1 }
      var u3 = 0
      while (u3 < T) {
        val ds = att(t)(u3) * (da(u3) - dotSum) * invSqrtH
        var j7 = 0
        while (j7 < h) {
          dqs(t)(j7) += ds * ks(u3)(j7)
          dks(u3)(j7) += ds * qs(t)(j7)
          j7 += 1
        }
        u3 += 1
      }
      t += 1
    }
    // feature-axis attention backward (cross mode): dfz(j)(t) = dzs(t)(j)
    // (z is the SUM of the two contexts); symmetric softmax-attention
    // backward over the transposed tokens, token gradients land in dxnF
    val dxnF = if (cross) Array.ofDim[Double](T, h) else null
    if (cross) {
      val invSqrtT = 1.0 / math.sqrt(T.toDouble)
      val dfqs = Array.ofDim[Double](h, T)
      val dfks = Array.ofDim[Double](h, T)
      val dfvs = Array.ofDim[Double](h, T)
      var j = 0
      while (j < h) {
        val da = new Array[Double](h)
        var j2 = 0
        while (j2 < h) {
          var s = 0.0
          var t2 = 0
          while (t2 < T) {
            s += dzs(t2)(j) * fvs(j2)(t2)
            dfvs(j2)(t2) += fatt(j)(j2) * dzs(t2)(j)
            t2 += 1
          }
          da(j2) = s
          j2 += 1
        }
        var dotSum = 0.0
        j2 = 0
        while (j2 < h) { dotSum += fatt(j)(j2) * da(j2); j2 += 1 }
        j2 = 0
        while (j2 < h) {
          val ds = fatt(j)(j2) * (da(j2) - dotSum) * invSqrtT
          var s = 0
          while (s < T) {
            dfqs(j)(s) += ds * fks(j2)(s)
            dfks(j2)(s) += ds * fqs(j)(s)
            s += 1
          }
          j2 += 1
        }
        j += 1
      }
      // feature q/k/v projection backward per hidden-dim token j
      j = 0
      while (j < h) {
        var s = 0
        while (s < T) {
          acc(oBqF + s) += dfqs(j)(s)
          acc(oBkF + s) += dfks(j)(s)
          acc(oBvF + s) += dfvs(j)(s)
          s += 1
        }
        var t2 = 0
        while (t2 < T) {
          val xv = xn(t2)(j)
          var dx = 0.0
          var s2 = 0
          while (s2 < T) {
            val r = t2 * T + s2
            acc(oWqF + r) += xv * dfqs(j)(s2)
            acc(oWkF + r) += xv * dfks(j)(s2)
            acc(oWvF + r) += xv * dfvs(j)(s2)
            dx += w(oWqF + r) * dfqs(j)(s2) + w(oWkF + r) * dfks(j)(s2) +
              w(oWvF + r) * dfvs(j)(s2)
            s2 += 1
          }
          dxnF(t2)(j) += dx
          t2 += 1
        }
        j += 1
      }
    }
    // q/k/v projections backward (inputs are the attention tokens xn);
    // the token gradient flows through LN1 when norm is on
    t = 0
    while (t < T) {
      val dxn = new Array[Double](h)
      var j8 = 0
      while (j8 < h) {
        acc(oBq + j8) += dqs(t)(j8)
        acc(oBk + j8) += dks(t)(j8)
        acc(oBv + j8) += dvs(t)(j8)
        j8 += 1
      }
      var i2 = 0
      while (i2 < h) {
        val xv = xn(t)(i2)
        var j9 = 0
        while (j9 < h) {
          val r = i2 * h + j9
          acc(oWq + r) += xv * dqs(t)(j9)
          acc(oWk + r) += xv * dks(t)(j9)
          acc(oWv + r) += xv * dvs(t)(j9)
          dxn(i2) += w(oWq + r) * dqs(t)(j9) +
            w(oWk + r) * dks(t)(j9) + w(oWv + r) * dvs(t)(j9)
          j9 += 1
        }
        i2 += 1
      }
      if (cross) {
        var kf = 0
        while (kf < h) { dxn(kf) += dxnF(t)(kf); kf += 1 }
      }
      if (norm) {
        val back = lnBwd(dxn, xh1(t), inv1(t), oG1, oC1)
        var k = 0
        while (k < h) { dxs(t)(k) += back(k); k += 1 }
      } else {
        var k = 0
        while (k < h) { dxs(t)(k) += dxn(k); k += 1 }
      }
      t += 1
    }
    // input projection + position embedding backward
    t = 0
    while (t < T) {
      val raw = x(t)
      var j10 = 0
      while (j10 < h) {
        val g = dxs(t)(j10)
        acc(oBIn + j10) += g
        acc(oPos + t * h + j10) += g
        var i3 = 0
        while (i3 < f) { acc(oIn + i3 * h + j10) += raw(i3) * g; i3 += 1 }
        j10 += 1
      }
      t += 1
    }
    0.5 * d * d
  }
}

/** Trains the reference's transformer encoder regressor
  * (transformer.py:108-245) with the same [[PartitionSum]]-gradient +
  * driver-Adam shape as [[MLPRegressor]] / [[LSTMTrainer]]: executors
  * fold rows into ONE flat gradient vector per epoch, the driver holds
  * only the weights. Fitted weights flow into the distributed
  * [[AttnScorer]] forward pass (pure column arithmetic, no UDF), so
  * fit-once/score-anywhere matches the pinned-weights queries.
  *
  * Defaults train the oracle-minimal block (single head, average
  * pooling, linear head — [[AttnBptt]]); `preNorm = true` adds the
  * reference's `use_pre_norm=True` LayerNorms with trainable γ/β.
  * Setting any of `numHeads` (> 0), `attnPool`, `mlpUnits`,
  * `numBlocks` (> 1), `dropoutRate` (> 0) or `extraTargetCols` switches
  * to the full-architecture kernel [[AttnBpttFull]] — the reference's
  * DEFAULT config (transformer.py:149-157) is `numHeads = 4,
  * attnPool = true, mlpUnits = Seq(64), preNorm = true, numBlocks = 1,
  * dropoutRate = 0.1` with per-head key_dim = dModel / numHeads.
  * Dropout is training-time only (per-row per-epoch seeded masks at the
  * Keras sites — attention probabilities, both FFN layers, the MLP
  * head); the fitted weights score through the deterministic
  * distributed forward pass unchanged.
  *
  * `targetCol` plus `extraTargetCols` are the reference's
  * `output_units` (base.py:46, transformer.py:236): the final Dense
  * reads the shared pooled/MLP-head representation with one row per
  * output, every output trains jointly with per-output target
  * standardization, and scores as `prediction` or `prediction_{i}`. At
  * several outputs the rank losses flatten (batch, out) to ONE ranked
  * vector (losses.py:67-69).
  *
  * `attentionType` covers the reference's three modes
  * (transformer.py:168-190): "temporal" (default), "feature" — the
  * iTransformer-style mode, fitted as the SAME kernel over the
  * transposed token layout (composes with every full-kernel surface),
  * and "cross" — the dual-axis mode, fitted by the reduced kernel
  * extended with the feature-axis q/k/v (single-head and
  * single-output, the scorer's [[AttnWeights]] constraint).
  *
  * `lagCols` must be lag-major over `seqLen` timesteps — the
  * LagTransformer output order ([[graft.operators.SequenceReshape]]). */
class AttnTrainer(
    val lagCols: Seq[String],
    val seqLen: Int,
    val targetCol: String,
    val extraTargetCols: Seq[String] = Nil,
    val dModel: Int = 8,
    val ffDim: Int = 16,
    val preNorm: Boolean = false,
    val lr: Double = 1e-2,
    val epochs: Int = 150,
    val seed: Long = 42L,
    val scaleTarget: Boolean = true,
    val batchFraction: Double = 0.2,
    val numHeads: Int = 0,
    val attnPool: Boolean = false,
    val mlpUnits: Seq[Int] = Nil,
    val loss: String = "mse",
    val mseWeight: Double = 2.0,
    val spearmanWeight: Double = 1.0,
    val rankTau: Double = 1e-3,
    val rankBatch: Int = 64,
    val numBlocks: Int = 1,
    val dropoutRate: Double = 0.0,
    val attentionType: String = "temporal",
    val optimizer: String = "adam") extends ModelEstimator {

  /** All targets: `output_units = 1 + extraTargetCols.size`. */
  val targetCols: Seq[String] = targetCol +: extraTargetCols
  require(targetCols.distinct.size == targetCols.size,
    s"target columns repeat a name: ${targetCols.mkString(", ")}")
  require(lagCols.size % seqLen == 0,
    s"${lagCols.size} lag columns do not reshape into $seqLen steps")
  require(batchFraction > 0 && batchFraction <= 1.0,
    s"batchFraction must be in (0, 1], got $batchFraction")
  require(Set("mse", "spearman", "combined")(loss),
    s"loss must be mse|spearman|combined, got $loss")
  require(numBlocks >= 1, s"numBlocks must be >= 1, got $numBlocks")
  require(dropoutRate >= 0 && dropoutRate < 1,
    s"dropoutRate must be in [0, 1), got $dropoutRate")
  require(Set("temporal", "feature", "cross")(attentionType),
    s"attention_type must be temporal|feature|cross, got $attentionType")
  require(attentionType != "cross" || extraTargetCols.isEmpty,
    "multi-output attention_type is temporal|feature (cross is " +
      "single-head, the AttnWeights constraint)")
  private val nFeat = lagCols.size / seqLen
  private val out = targetCols.size

  private var weights: AttnWeights = _
  private var blockWeights: Seq[AttnWeights] = Nil
  private var headW: Array[Array[Double]] = _
  private var headB: Array[Double] = _
  private var flatKernel: Array[Double] = _
  private var yMean: Array[Double] = Array.fill(out)(0.0)
  private var yStd: Array[Double] = Array.fill(out)(1.0)

  def fittedWeights: AttnWeights = weights
  /** Per-encoder-block weights (numBlocks entries; head = fittedWeights
    * when numBlocks == 1 at one output). */
  def fittedBlocks: Seq[AttnWeights] =
    if (blockWeights.nonEmpty) blockWeights else Seq(weights)
  /** The final Dense: one weight row and bias per output. */
  def fittedHead: (Array[Array[Double]], Array[Double]) = (headW, headB)

  def steps: Seq[Seq[String]] = lagCols.grouped(nFeat).toSeq

  /** True when any reference-default surface (multi-head, attention
    * pooling, MLP head, stacked blocks, dropout) or a second output is
    * requested → the full-architecture kernel. */
  private def useFull: Boolean =
    numHeads > 0 || attnPool || mlpUnits.nonEmpty || numBlocks > 1 ||
      dropoutRate > 0 || out > 1

  /** Feature mode (iTransformer, transformer.py:179-186) fits the SAME
    * kernels over the TRANSPOSED token layout — tokens = the nFeat
    * features, token width = seqLen — exactly the layout
    * [[TransformerRegressor]] scores with `attentionType="feature"`.
    * Cross mode extends the reduced kernel with the feature-axis q/k/v
    * (single-head, the [[AttnWeights]] constraint). */
  def fit(df: DataFrame): this.type = {
    val featMode = attentionType == "feature"
    val crossMode = attentionType == "cross"
    require(!crossMode || !useFull,
      "cross mode is single-head (scorer constraint) — leave numHeads/" +
        "attnPool/mlpUnits/numBlocks/dropoutRate at their defaults")
    val (f, t) = kernelDims
    val (h, ff) = (dModel, ffDim)
    val useNorm = preNorm
    // feature mode selects the lag columns token-major over the
    // TRANSPOSED steps so the kernel's row parse sees that layout
    val orderedLags = if (featMode) steps.transpose.flatten else lagCols
    val (data, ym, ys) = SeqAdam.prepare(df, targetCols, orderedLags,
      scaleTarget)
    yMean = ym; yStd = ys
    if (useFull) {
      val cfg = fullCfg // ONE architecture definition shared with load
      val w = AttnBpttFull.init(cfg, seed)
      adamEpochs(data, sz = cfg.size, w, f, t,
        (bw, x, ys, acc, ms, po) =>
          AttnBpttFull.runMulti(bw, cfg, x, ys, acc, ms, po))
      materialize(w)
    } else {
      val sz = kernelSize // shared with load's shape validation
      val rng = new scala.util.Random(seed)
      val w = new Array[Double](sz)
      // Glorot-uniform per matrix (the reference's Keras defaults, incl.
      // the position embedding, transformer.py:19); biases start at zero;
      // LayerNorm γ=1, β=0 (the Keras initializers)
      import Activations.glorot
      var off = 0
      glorot(w, off, f, h, rng); off += f * h // wIn
      off += h // bIn
      glorot(w, off, t, h, rng); off += t * h // posEmb
      for (_ <- 0 until 3) { // wq/wk/wv (+ their biases)
        glorot(w, off, h, h, rng); off += h * h + h
      }
      glorot(w, off, h, ff, rng); off += h * ff + ff // wF1
      glorot(w, off, ff, h, rng); off += ff * h + h // wF2
      glorot(w, off, h, 1, rng); off += h + 1 // wOut, bOut
      if (useNorm) { // γ=1 (β stays 0)
        for (p <- 0 until 3; i <- 0 until h) w(off + 2 * p * h + i) = 1.0
        off += 6 * h
      }
      if (crossMode) for (_ <- 0 until 3) { // wqF/wkF/wvF (+ biases)
        glorot(w, off, t, t, rng); off += t * t + t
      }
      adamEpochs(data, sz, w, f, t, (bw, x, ys, acc, _, po) => {
        val r = AttnBptt.run(bw, f, h, ff, x, ys(0), acc, useNorm, crossMode)
        if (po != null) po(0) = r
        r
      })
      materialize(w)
    }
    data.unpersist()
    this
  }

  /** Kernel dims (f, t) — swapped in feature mode. */
  private def kernelDims: (Int, Int) =
    if (attentionType == "feature") (seqLen, nFeat) else (nFeat, seqLen)

  private def fullCfg: AttnBpttFull.Cfg = {
    val (f, t) = kernelDims
    val heads = math.max(numHeads, 1)
    AttnBpttFull.Cfg(f, t, dModel, ffDim, heads,
      math.max(1, dModel / heads), attnPool, mlpUnits, preNorm,
      blocks = numBlocks, drop = dropoutRate, out = out)
  }

  /** Decode a final flat kernel into scorer weights — shared by the fit
    * tail and [[AttnTrainer.load]], so a loaded estimator scores
    * through EXACTLY the conversion the fitted one used. */
  private def materialize(w: Array[Double]): Unit = {
    flatKernel = w
    val (f, t) = kernelDims
    if (useFull) {
      blockWeights = AttnBpttFull.toBlockWeights(w, fullCfg)
      weights = blockWeights.head
      val (hw, hb) = AttnBpttFull.headMulti(w, fullCfg)
      headW = hw; headB = hb
    } else {
      weights = AttnBptt.toWeights(w, f, t, dModel, ffDim, preNorm,
        attentionType == "cross")
      headW = Array(weights.wOut); headB = Array(weights.bOut)
    }
  }

  /** Kernel length the configured architecture expects — the loader's
    * shape validation. */
  private def kernelSize: Int =
    if (useFull) fullCfg.size
    else {
      val (f, t) = kernelDims
      AttnBptt.size(f, t, dModel, ffDim, preNorm,
        attentionType == "cross")
    }

  /** Persist the FITTED estimator (flat kernel + target scaling +
    * schema + fit recipe) — the sklearn-pickle role (the reference's
    * wrapper pickles the fitted Keras transformer, base.py). JSON exact
    * doubles, so [[AttnTrainer.load]] scores bit-identically. */
  def familyName: String = if (out == 1) "attn" else "attn_multi"
  def predictionNames: Seq[String] = MLPRegressor.predictionNames(out)

  def saveParts: (Map[String, String], Seq[(String, Array[Double])]) = {
    require(flatKernel != null, "fit first")
    val (tm, ts) = WeightsIO.targetParts("attn", targetCols, yMean, yStd)
    (tm ++ Map(
      "lagCols" -> WeightsIO.namesToMeta(lagCols),
      "seqLen" -> seqLen.toString,
      "dModel" -> dModel.toString, "ffDim" -> ffDim.toString,
      "preNorm" -> preNorm.toString,
      "numHeads" -> numHeads.toString, "attnPool" -> attnPool.toString,
      "mlpUnits" -> mlpUnits.mkString(","),
      "numBlocks" -> numBlocks.toString,
      "dropoutRate" -> dropoutRate.toString,
      "attentionType" -> attentionType,
      "scaleTarget" -> scaleTarget.toString,
      "lr" -> lr.toString, "epochs" -> epochs.toString,
      "seed" -> seed.toString,
      "batchFraction" -> batchFraction.toString, "loss" -> loss,
      "mseWeight" -> mseWeight.toString,
      "spearmanWeight" -> spearmanWeight.toString,
      "rankTau" -> rankTau.toString, "rankBatch" -> rankBatch.toString,
      "optimizer" -> optimizer),
      ("flat" -> flatKernel) +: ts)
  }

  def save(path: String): Unit = {
    val (m, s) = saveParts
    WeightsIO.save(path, m, s)
  }

  /** The [[SeqAdam]] epoch loop at `out` outputs. `f`/`t` are the
    * KERNEL dims (swapped in feature mode). */
  private def adamEpochs(data: DataFrame, sz: Int, w: Array[Double],
      f: Int, t: Int,
      kernel: (Array[Double], Array[Array[Double]], Array[Double],
        Array[Double], Long, Array[Double]) => Double): Unit =
    SeqAdam.run(data, sz, w, out, yMean, yStd, f, t, epochs, lr, seed,
      batchFraction, kernel, loss, mseWeight, spearmanWeight, rankTau,
      rankBatch, optimizer)

  /** Appends [[predictionNames]] through the distributed unrolled
    * forward pass, un-standardizing each output if the targets were
    * scaled at fit. */
  def predict(df: DataFrame): DataFrame = {
    require(weights != null, "fit first")
    val scoreSteps =
      if (attentionType == "feature") steps.transpose else steps
    val scored = AttnScorer.scoreBlocksMulti(df, scoreSteps, fittedBlocks,
      headW, headB)
    if (scaleTarget)
      SeqAdam.destandardize(scored, predictionNames, yMean, yStd)
    else scored
  }
}

object AttnTrainer {
  /** Rehydrate a `save`d estimator: architecture, target scaling, and
    * the flat kernel restored bit-exactly, then decoded through the
    * SAME materialization as fit. */
  def load(path: String): AttnTrainer = {
    val (meta, sections) = WeightsIO.load(path)
    fromParts(meta, sections, path)
  }

  /** Rebuild from an already-parsed payload (standalone or
    * pipeline-embedded) of either the `attn` or the `attn_multi`
    * layout. */
  def fromParts(meta: Map[String, String],
      sections: Map[String, Array[Double]], where: String): AttnTrainer = {
    val (targets, ym, ys) =
      WeightsIO.targetsFromParts(meta, sections, "attn", where)
    val m = new AttnTrainer(
      WeightsIO.namesFromMeta(meta("lagCols")),
      meta("seqLen").toInt, targets.head,
      extraTargetCols = targets.tail,
      dModel = meta("dModel").toInt, ffDim = meta("ffDim").toInt,
      preNorm = meta("preNorm").toBoolean, lr = meta("lr").toDouble,
      epochs = meta("epochs").toInt, seed = meta("seed").toLong,
      scaleTarget = meta("scaleTarget").toBoolean,
      batchFraction = meta("batchFraction").toDouble,
      numHeads = meta("numHeads").toInt,
      attnPool = meta("attnPool").toBoolean,
      mlpUnits = WeightsIO.intsFromMeta(meta("mlpUnits")),
      loss = meta("loss"),
      mseWeight = meta("mseWeight").toDouble,
      spearmanWeight = meta("spearmanWeight").toDouble,
      rankTau = meta("rankTau").toDouble,
      rankBatch = meta("rankBatch").toInt,
      numBlocks = meta("numBlocks").toInt,
      dropoutRate = meta("dropoutRate").toDouble,
      attentionType = meta("attentionType"),
      optimizer = meta("optimizer"))
    val flat = sections("flat")
    WeightsIO.requireLen("flat", flat, m.kernelSize)
    m.yMean = ym
    m.yStd = ys
    m.materialize(flat)
    m
  }
}
