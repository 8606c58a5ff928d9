package graft.ml

/** Flat-parameter forward/backward kernel for the reference
  * TransformerRegressor (transformer.py:145-157, 161-203, 205-235):
  * Dense(d_model) input projection + learned position embedding, then
  * `blocks` stacked encoder blocks (transformer.py:226-227), each with
  * MULTI-HEAD self-attention (the reference default `num_heads=4`,
  * `key_dim = d_model // num_heads` — per-head q/k/v projections, scaled
  * dot-product softmax per head, head-major concat + output projection,
  * the Keras MultiHeadAttention shape) with residual, a ReLU feed-forward
  * sub-layer with residual, optional pre-norm LayerNorms (trainable γ/β,
  * Keras ε=1e-6, per block), then one final LayerNorm after all blocks,
  * AttentionPooling (per-token Dense(1) logit softmaxed over the
  * sequence, transformer.py:96-107 — the reference's default
  * `pooling_type="attention"`) or average pooling, and a ReLU MLP
  * prediction head (`mlp_units` default `(64,)`) before the linear
  * output.
  *
  * TRAINING-TIME DROPOUT (the reference default `dropout_rate=0.1`,
  * transformer.py:153) is inverted Bernoulli masking at the same sites
  * Keras places it: the per-head softmax attention probabilities
  * (transformer.py:171-185 — MultiHeadAttention's internal dropout),
  * after the ReLU FFN hidden layer and after the FFN output projection
  * (transformer.py:199-202, before the residual add), and after each
  * ReLU MLP-head layer (transformer.py:232-234). Masks are drawn from
  * `maskSeed` (one seed per row per epoch, supplied by the trainer), so
  * a forward and its backward — or a finite-difference pair — see the
  * SAME network sample; `maskSeed == 0` disables dropout (inference is
  * always the identity, so the distributed scorer is untouched).
  *
  * The forward recurrence matches [[AttnScorer.scoreBlocks]] with the
  * corresponding [[AttnWeights]] sequence exactly (same exp/Σexp softmax
  * form, no max-shift), so weights fitted here score identically through
  * the distributed codegen'd forward pass and its DuckDB SQL mirror.
  * [[AttnBptt]] remains the oracle-minimal single-head/average-pool
  * kernel; this one is the reference-default surface.
  *
  * Layout against ONE flat array (gradients aggregate as a single vector
  * sum): `wIn` F×H feature-major, `bIn` H, `posEmb` T×H step-major, then
  * PER BLOCK: per head `wq bq wk bk wv bv` (H×kd input-major + kd) ×
  * numHeads, `wO` (nh·kd)×H input-major, `bO` H, `wF1` H×FF, `bF1` FF,
  * `wF2` FF×H, `bF2` H, and — with `norm` — `g1 c1 g2 c2` (each H); then
  * the tail: with `pool` `wPool` H + `bPool`, per MLP-head layer `Wm`
  * prev×units input-major + `bm` units, `wOut` lastDim, `bOut`, and —
  * with `norm` — the final `gF cF` (each H). */
object AttnBpttFull {

  private val eps = 1e-6 // Keras LayerNormalization epsilon

  /** @param heads number of attention heads (reference default 4)
    * @param keyDim per-head q/k/v width (reference: d_model / num_heads)
    * @param pool true = AttentionPooling (reference default), false =
    *   average pooling
    * @param mlp ReLU prediction-head layer sizes (reference default (64,))
    * @param blocks stacked encoder blocks (reference `num_blocks`, default 1)
    * @param drop training-time dropout rate (reference default 0.1; only
    *   active when `run` receives a non-zero maskSeed) */
  case class Cfg(f: Int, t: Int, h: Int, ff: Int, heads: Int, keyDim: Int,
      pool: Boolean, mlp: Seq[Int], norm: Boolean, blocks: Int = 1,
      drop: Double = 0.0, out: Int = 1) {
    require(heads >= 1 && keyDim >= 1, "at least one head of width >= 1")
    require(blocks >= 1, "at least one encoder block")
    require(drop >= 0 && drop < 1, s"dropout rate in [0, 1), got $drop")
    require(out >= 1, "at least one output unit")
    val headLast: Int = if (mlp.isEmpty) h else mlp.last
    /** (name → length) blocks in flat-array order. */
    private[ml] def blockSizes: Seq[Int] = {
      val perBlock = Seq.fill(heads)(
        Seq(h * keyDim, keyDim, h * keyDim, keyDim, h * keyDim, keyDim))
        .flatten ++
        Seq(heads * keyDim * h, h, h * ff, ff, ff * h, h) ++
        (if (norm) Seq.fill(4)(h) else Seq.empty)
      val mlpBlocks = mlp.foldLeft((Seq.empty[Int], h)) {
        case ((acc, prev), u) => (acc ++ Seq(prev * u, u), u)
      }._1
      Seq(f * h, h, t * h) ++ Seq.fill(blocks)(perBlock).flatten ++
        (if (pool) Seq(h, 1) else Seq.empty) ++ mlpBlocks ++
        Seq(out * headLast, out) ++
        (if (norm) Seq.fill(2)(h) else Seq.empty)
    }
    def offsets: Array[Int] = blockSizes.scanLeft(0)(_ + _).toArray
    def size: Int = offsets.last
    /** Number of (name → length) entries per encoder block. */
    private[ml] def blocksPerEnc: Int = heads * 6 + 6 + (if (norm) 4 else 0)
  }

  /** Unpack a flat vector into per-encoder-block scorer weight classes
    * (block 0 carries wIn/bIn/posEmb, the last carries pool/head; the
    * final LayerNorm pair lands in EVERY block's gF/cF so
    * `blocks.last.preNorm.gF` — what [[AttnScorer.scoreBlocks]] reads —
    * is the global final norm). */
  def toBlockWeights(w: Array[Double], c: Cfg): Seq[AttnWeights] = {
    // out > 1: the blocks' wOut/bOut hold output 0's row (output-major
    // layout) — the multi scorer ignores them and reads [[headMulti]]
    val o = c.offsets
    def mat(off: Int, rows: Int, cols: Int): Array[Array[Double]] =
      Array.tabulate(rows, cols)((r, j) => w(off + r * cols + j))
    def vec(off: Int, n: Int): Array[Double] =
      Array.tabulate(n)(i => w(off + i))
    val kd = c.keyDim
    // tail offsets (after all encoder blocks)
    var bi = 3 + c.blocks * c.blocksPerEnc
    val (wPool, bPool) =
      if (!c.pool) (null: Array[Double], 0.0)
      else { val r = (vec(o(bi), c.h), w(o(bi + 1))); bi += 2; r }
    var prev = c.h
    val mlpHead = c.mlp.map { u =>
      val r = (mat(o(bi), prev, u), vec(o(bi + 1), u))
      prev = u; bi += 2
      r
    }
    val wOut = vec(o(bi), c.headLast); val bOut = w(o(bi + 1)); bi += 2
    val (gF, cF) = if (!c.norm) (null: Array[Double], null: Array[Double])
      else (vec(o(bi), c.h), vec(o(bi + 1), c.h))
    (0 until c.blocks).map { b =>
      val base = 3 + b * c.blocksPerEnc
      val headWs = (0 until c.heads).map { hi =>
        val hb = base + hi * 6
        HeadWeights(
          wq = mat(o(hb), c.h, kd), bq = vec(o(hb + 1), kd),
          wk = mat(o(hb + 2), c.h, kd), bk = vec(o(hb + 3), kd),
          wv = mat(o(hb + 4), c.h, kd), bv = vec(o(hb + 5), kd))
      }
      val a = base + c.heads * 6 // wO block index
      val pn = if (!c.norm) null else LayerNormParams(
        g1 = vec(o(a + 6), c.h), c1 = vec(o(a + 7), c.h),
        g2 = vec(o(a + 8), c.h), c2 = vec(o(a + 9), c.h),
        gF = gF, cF = cF, epsilon = eps)
      val isFirst = b == 0
      val isLast = b == c.blocks - 1
      AttnWeights(
        wq = null, bq = null, wk = null, bk = null, wv = null, bv = null,
        wOut = if (isLast) wOut else new Array[Double](c.headLast),
        bOut = if (isLast) bOut else 0.0,
        wIn = if (isFirst) mat(o(0), c.f, c.h) else null,
        bIn = if (isFirst) vec(o(1), c.h) else null,
        posEmb = if (isFirst) mat(o(2), c.t, c.h) else null,
        wF1 = mat(o(a + 2), c.h, c.ff), bF1 = vec(o(a + 3), c.ff),
        wF2 = mat(o(a + 4), c.ff, c.h), bF2 = vec(o(a + 5), c.h),
        wPool = if (isLast) wPool else null,
        bPool = if (isLast) bPool else 0.0,
        preNorm = pn, mlpHead = if (isLast) mlpHead else Nil,
        heads = headWs, wO = mat(o(a), c.heads * kd, c.h),
        bO = vec(o(a + 1), c.h))
    }
  }

  /** Single-block convenience unpack (callers fitted with blocks = 1). */
  def toWeights(w: Array[Double], c: Cfg): AttnWeights = {
    require(c.blocks == 1, "use toBlockWeights for stacked blocks")
    toBlockWeights(w, c).head
  }

  /** The Dense(output_units) head: out×headLast rows + biases, for
    * [[AttnScorer.scoreBlocksMulti]] (base.py:46, transformer.py:236). */
  def headMulti(w: Array[Double], c: Cfg)
      : (Array[Array[Double]], Array[Double]) = {
    val o = c.offsets
    var bi = 3 + c.blocks * c.blocksPerEnc
    if (c.pool) bi += 2
    bi += 2 * c.mlp.size
    val hl = c.headLast
    (Array.tabulate(c.out, hl)((oi, j) => w(o(bi) + oi * hl + j)),
      Array.tabulate(c.out)(oi => w(o(bi + 1) + oi)))
  }

  /** Forward pass only (gradient-check helper; production scoring goes
    * through [[AttnScorer]]). */
  def forward(w: Array[Double], c: Cfg, x: Array[Array[Double]],
      maskSeed: Long = 0L): Double = run(w, c, x, 0.0, null, maskSeed)

  /** Multi-output forward: all `c.out` predictions. */
  def forwardMulti(w: Array[Double], c: Cfg, x: Array[Array[Double]],
      maskSeed: Long = 0L): Array[Double] = {
    val preds = new Array[Double](c.out)
    runMulti(w, c, x, new Array[Double](c.out), null, maskSeed, preds)
    preds
  }

  /** Single-output wrapper over [[runMulti]] (gradient-check helper;
    * the trainers call [[runMulti]] directly). */
  def run(w: Array[Double], c: Cfg, x: Array[Array[Double]], y: Double,
      acc: Array[Double], maskSeed: Long = 0L): Double = {
    require(c.out == 1, "multi-output Cfg needs runMulti")
    runMulti(w, c, x, Array(y), acc, maskSeed)
  }

  /** Per-row dropout masks (inverted scaling 1/(1−p)), drawn in a FIXED
    * order from `maskSeed` so forward/backward and finite-difference
    * pairs sample the same network. */
  private final class Masks(c: Cfg, maskSeed: Long) {
    private val rng = new java.util.Random(maskSeed)
    // draw order (rng stream): ALL blocks' attention masks (block-major,
    // then head/t/u), then all blocks' ffn1, then all blocks' ffn2,
    // then the mlp-head layers
    val att: Array[Array[Array[Array[Double]]]] =
      Array.fill(c.blocks, c.heads, c.t)(
        SeqAdam.invBernoulli(rng, c.drop, c.t))
    val ffn1: Array[Array[Array[Double]]] =
      Array.fill(c.blocks, c.t)(SeqAdam.invBernoulli(rng, c.drop, c.ff))
    val ffn2: Array[Array[Array[Double]]] =
      Array.fill(c.blocks, c.t)(SeqAdam.invBernoulli(rng, c.drop, c.h))
    val mlp: Array[Array[Double]] =
      c.mlp.map(u => SeqAdam.invBernoulli(rng, c.drop, u)).toArray
  }

  /** Forward + (if `acc` non-null) backward accumulating into `acc`.
    * Returns the first prediction (acc == null) or the Keras summed
    * multi-output mse 0.5·Σ(pred_o − y_o)² (acc != null); `predsOut`
    * receives every output when non-null.
    * `maskSeed != 0` with `c.drop > 0` samples training-time dropout. */
  def runMulti(w: Array[Double], c: Cfg, x: Array[Array[Double]],
      ys: Array[Double], acc: Array[Double], maskSeed: Long = 0L,
      predsOut: Array[Double] = null): Double = {
    val T = c.t; val h = c.h; val f = c.f; val ff = c.ff
    val nh = c.heads; val kd = c.keyDim; val nb = c.blocks
    val o = c.offsets
    val (oIn, oBIn, oPos) = (o(0), o(1), o(2))
    def blockBase(b: Int): Int = 3 + b * c.blocksPerEnc
    var bi = 3 + nb * c.blocksPerEnc
    val (oWP, oBP) = if (c.pool) { val r = (o(bi), o(bi + 1)); bi += 2; r }
      else (-1, -1)
    val mlpOff = c.mlp.map { _ => val r = (o(bi), o(bi + 1)); bi += 2; r }
    val (oWOut, oBOut) = (o(bi), o(bi + 1))
    val (oGF, oCF) = if (c.norm) (o(bi + 2), o(bi + 3)) else (-1, -1)
    val invSqrtKd = 1.0 / math.sqrt(kd.toDouble)
    val mk = if (c.drop > 0 && maskSeed != 0L) new Masks(c, maskSeed)
      else null

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

    // ---- forward: input projection + position embedding ----
    val xt = Array.ofDim[Double](T, h) // projected tokens (+ posEmb)
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
      t += 1
    }

    // ---- forward: encoder blocks (per-block activations kept for bwd) --
    val ins = new Array[Array[Array[Double]]](nb + 1) // block inputs
    ins(0) = xt
    val xh1 = Array.ofDim[Double](nb, T, h); val inv1 = Array.ofDim[Double](nb, T)
    val xns = new Array[Array[Array[Double]]](nb)
    val qs = Array.ofDim[Double](nb, nh, T, kd)
    val ks = Array.ofDim[Double](nb, nh, T, kd)
    val vs = Array.ofDim[Double](nb, nh, T, kd)
    val att = Array.ofDim[Double](nb, nh, T, T) // post-softmax, pre-drop
    val ccs = Array.ofDim[Double](nb, T, nh * kd)
    val rss = Array.ofDim[Double](nb, T, h)
    val xh2 = Array.ofDim[Double](nb, T, h); val inv2 = Array.ofDim[Double](nb, T)
    val rns = new Array[Array[Array[Double]]](nb)
    val uss = Array.ofDim[Double](nb, T, ff) // post-relu, pre-drop
    var b = 0
    while (b < nb) {
      val base = blockBase(b)
      val (oG1, oC1, oG2, oC2) = if (c.norm) {
        val a = base + nh * 6
        (o(a + 6), o(a + 7), o(a + 8), o(a + 9))
      } else (-1, -1, -1, -1)
      val a = base + nh * 6
      val (oWO, oBO) = (o(a), o(a + 1))
      val (oW1, oB1, oW2, oB2) = (o(a + 2), o(a + 3), o(a + 4), o(a + 5))
      val inB = ins(b)
      val xn = Array.ofDim[Double](T, h)
      t = 0
      while (t < T) {
        if (c.norm) {
          val (out, inv) = lnFwd(inB(t), oG1, oC1, xh1(b)(t))
          xn(t) = out; inv1(b)(t) = inv
        } else xn(t) = inB(t)
        t += 1
      }
      xns(b) = xn
      var hi = 0
      while (hi < nh) {
        val hb = base + hi * 6
        val (oWq, oBq, oWk, oBk, oWv, oBv) = (o(hb), o(hb + 1), o(hb + 2),
          o(hb + 3), o(hb + 4), o(hb + 5))
        t = 0
        while (t < T) {
          var u = 0
          while (u < kd) {
            var zq = w(oBq + u); var zk = w(oBk + u); var zv = w(oBv + u)
            var i = 0
            while (i < h) {
              val xv = xn(t)(i); val r = i * kd + u
              zq += xv * w(oWq + r); zk += xv * w(oWk + r)
              zv += xv * w(oWv + r)
              i += 1
            }
            qs(b)(hi)(t)(u) = zq; ks(b)(hi)(t)(u) = zk
            vs(b)(hi)(t)(u) = zv
            u += 1
          }
          t += 1
        }
        t = 0
        while (t < T) {
          var den = 0.0
          var u = 0
          while (u < T) {
            var dot = 0.0
            var j = 0
            while (j < kd) {
              dot += qs(b)(hi)(t)(j) * ks(b)(hi)(u)(j); j += 1
            }
            val e = math.exp(dot * invSqrtKd)
            att(b)(hi)(t)(u) = e; den += e
            u += 1
          }
          var u2 = 0
          while (u2 < T) { att(b)(hi)(t)(u2) /= den; u2 += 1 }
          var j = 0
          while (j < kd) {
            var s = 0.0
            var u3 = 0
            while (u3 < T) {
              val aD = if (mk == null) att(b)(hi)(t)(u3)
                else att(b)(hi)(t)(u3) * mk.att(b)(hi)(t)(u3)
              s += aD * vs(b)(hi)(u3)(j)
              u3 += 1
            }
            ccs(b)(t)(hi * kd + j) = s
            j += 1
          }
          t += 1
        }
        hi += 1
      }
      // output projection + residual, FFN (+ dropout), next block input
      val fsB = Array.ofDim[Double](T, h)
      t = 0
      while (t < T) {
        var j = 0
        while (j < h) {
          var s = w(oBO + j)
          var i = 0
          while (i < nh * kd) { s += ccs(b)(t)(i) * w(oWO + i * h + j)
            i += 1 }
          rss(b)(t)(j) = inB(t)(j) + s
          j += 1
        }
        if (c.norm) {
          val (out, inv) = lnFwd(rss(b)(t), oG2, oC2, xh2(b)(t))
          if (rns(b) == null) rns(b) = Array.ofDim[Double](T, h)
          rns(b)(t) = out; inv2(b)(t) = inv
        } else {
          if (rns(b) == null) rns(b) = Array.ofDim[Double](T, h)
          rns(b)(t) = rss(b)(t)
        }
        var i = 0
        while (i < ff) {
          var s = w(oB1 + i)
          var k = 0
          while (k < h) { s += rns(b)(t)(k) * w(oW1 + k * ff + i); k += 1 }
          uss(b)(t)(i) = if (s > 0) s else 0.0
          i += 1
        }
        var j2 = 0
        while (j2 < h) {
          var s = w(oB2 + j2)
          var i2 = 0
          while (i2 < ff) {
            val uD = if (mk == null) uss(b)(t)(i2)
              else uss(b)(t)(i2) * mk.ffn1(b)(t)(i2)
            s += uD * w(oW2 + i2 * h + j2)
            i2 += 1
          }
          val sD = if (mk == null) s else s * mk.ffn2(b)(t)(j2)
          fsB(t)(j2) = rss(b)(t)(j2) + sD
          j2 += 1
        }
        t += 1
      }
      ins(b + 1) = fsB
      b += 1
    }

    // ---- forward: final norm, pooling, MLP head ----
    val fs = ins(nb) // last block output
    val fn = Array.ofDim[Double](T, h)
    val xhF = Array.ofDim[Double](T, h); val invF = new Array[Double](T)
    t = 0
    while (t < T) {
      if (c.norm) {
        val (out, inv) = lnFwd(fs(t), oGF, oCF, xhF(t))
        fn(t) = out; invF(t) = inv
      } else fn(t) = fs(t)
      t += 1
    }
    val pooled = new Array[Double](h)
    val pes = new Array[Double](T); var peSum = 0.0
    if (c.pool) {
      t = 0
      while (t < T) {
        var logit = w(oBP)
        var j = 0
        while (j < h) { logit += fn(t)(j) * w(oWP + j); j += 1 }
        pes(t) = math.exp(logit); peSum += pes(t)
        t += 1
      }
      var j = 0
      while (j < h) {
        var s = 0.0
        var t2 = 0
        while (t2 < T) { s += pes(t2) / peSum * fn(t2)(j); t2 += 1 }
        pooled(j) = s
        j += 1
      }
    } else {
      var j = 0
      while (j < h) {
        var s = 0.0
        var t2 = 0
        while (t2 < T) { s += fn(t2)(j); t2 += 1 }
        pooled(j) = s / T
        j += 1
      }
    }
    // MLP head (+ dropout after each ReLU layer) + linear output
    val acts = new Array[Array[Double]](c.mlp.size + 1) // post-drop
    val preActs = new Array[Array[Double]](c.mlp.size)
    acts(0) = pooled
    var li = 0
    while (li < c.mlp.size) {
      val (oWm, oBm) = mlpOff(li)
      val prev = acts(li); val units = c.mlp(li)
      val z = new Array[Double](units)
      val aOut = new Array[Double](units)
      var u = 0
      while (u < units) {
        var s = w(oBm + u)
        var i = 0
        while (i < prev.length) { s += prev(i) * w(oWm + i * units + u)
          i += 1 }
        z(u) = s
        val r = if (s > 0) s else 0.0
        aOut(u) = if (mk == null) r else r * mk.mlp(li)(u)
        u += 1
      }
      preActs(li) = z; acts(li + 1) = aOut
      li += 1
    }
    val top = acts(c.mlp.size)
    val hl = top.length
    val preds = new Array[Double](c.out)
    var oi = 0
    while (oi < c.out) {
      var p = w(oBOut + oi)
      var j2 = 0
      while (j2 < hl) { p += top(j2) * w(oWOut + oi * hl + j2); j2 += 1 }
      preds(oi) = p
      oi += 1
    }
    if (predsOut != null) System.arraycopy(preds, 0, predsOut, 0, c.out)
    if (acc == null) return preds(0)

    // ---- backward ----
    var loss = 0.0
    var dTop = new Array[Double](hl)
    oi = 0
    while (oi < c.out) {
      val d = preds(oi) - ys(oi)
      loss += 0.5 * d * d
      acc(oBOut + oi) += d
      var j2 = 0
      while (j2 < hl) {
        acc(oWOut + oi * hl + j2) += d * top(j2)
        dTop(j2) += d * w(oWOut + oi * hl + j2)
        j2 += 1
      }
      oi += 1
    }
    var j = 0
    li = c.mlp.size - 1
    while (li >= 0) {
      val (oWm, oBm) = mlpOff(li)
      val prev = acts(li); val units = c.mlp(li)
      val dPrev = new Array[Double](prev.length)
      var u = 0
      while (u < units) {
        if (preActs(li)(u) > 0) {
          val g = if (mk == null) dTop(u) else dTop(u) * mk.mlp(li)(u)
          acc(oBm + u) += g
          var i = 0
          while (i < prev.length) {
            acc(oWm + i * units + u) += prev(i) * g
            dPrev(i) += w(oWm + i * units + u) * g
            i += 1
          }
        }
        u += 1
      }
      dTop = dPrev
      li -= 1
    }
    val dPooled = dTop // gradient at the pooled vector
    val dfn = Array.ofDim[Double](T, h)
    if (c.pool) {
      // pooled_j = Σ_t pw_t·fn_tj with pw = softmax(logit)
      val pw = Array.tabulate(T)(pes(_) / peSum)
      val dpw = new Array[Double](T)
      t = 0
      while (t < T) {
        var s = 0.0
        var j2 = 0
        while (j2 < h) {
          dfn(t)(j2) += pw(t) * dPooled(j2)
          s += dPooled(j2) * fn(t)(j2)
          j2 += 1
        }
        dpw(t) = s
        t += 1
      }
      var dot = 0.0
      t = 0
      while (t < T) { dot += pw(t) * dpw(t); t += 1 }
      t = 0
      while (t < T) {
        val dlogit = pw(t) * (dpw(t) - dot)
        acc(oBP) += dlogit
        var j2 = 0
        while (j2 < h) {
          acc(oWP + j2) += dlogit * fn(t)(j2)
          dfn(t)(j2) += dlogit * w(oWP + j2)
          j2 += 1
        }
        t += 1
      }
    } else {
      j = 0
      while (j < h) {
        val g = dPooled(j) / T
        var t2 = 0
        while (t2 < T) { dfn(t2)(j) += g; t2 += 1 }
        j += 1
      }
    }
    // final LayerNorm backward → gradient on the LAST block's output
    var dOut = Array.ofDim[Double](T, h)
    t = 0
    while (t < T) {
      val df = if (c.norm) lnBwd(dfn(t), xhF(t), invF(t), oGF, oCF)
        else dfn(t)
      var k = 0
      while (k < h) { dOut(t)(k) = df(k); k += 1 }
      t += 1
    }

    // ---- backward through encoder blocks, last → first ----
    b = nb - 1
    while (b >= 0) {
      val base = blockBase(b)
      val a = base + nh * 6
      val (oWO, oBO) = (o(a), o(a + 1))
      val (oW1, oB1, oW2, oB2) = (o(a + 2), o(a + 3), o(a + 4), o(a + 5))
      val (oG1, oC1, oG2, oC2) = if (c.norm)
        (o(a + 6), o(a + 7), o(a + 8), o(a + 9))
      else (-1, -1, -1, -1)
      val inB = ins(b); val xn = xns(b)
      val dIn = Array.ofDim[Double](T, h) // gradient on block input
      val dcc = Array.ofDim[Double](T, nh * kd)
      t = 0
      while (t < T) {
        val df = dOut(t)
        // FFN backward: f = r + drop2(W2·drop1(relu(W1·rn)) + b2)
        val dr = new Array[Double](h)
        val drn = new Array[Double](h)
        val ds2 = new Array[Double](h)
        var j2 = 0
        while (j2 < h) {
          val g = df(j2)
          dr(j2) += g // residual path
          ds2(j2) = if (mk == null) g else g * mk.ffn2(b)(t)(j2)
          acc(oB2 + j2) += ds2(j2)
          j2 += 1
        }
        var i = 0
        while (i < ff) {
          if (uss(b)(t)(i) > 0) {
            val m1v = if (mk == null) 1.0 else mk.ffn1(b)(t)(i)
            if (m1v != 0.0) {
              val uD = uss(b)(t)(i) * m1v
              var duD = 0.0
              var j3 = 0
              while (j3 < h) {
                val g = ds2(j3)
                acc(oW2 + i * h + j3) += uD * g
                duD += w(oW2 + i * h + j3) * g
                j3 += 1
              }
              val du = duD * m1v // through drop1 and relu (active)
              acc(oB1 + i) += du
              var k = 0
              while (k < h) {
                acc(oW1 + k * ff + i) += rns(b)(t)(k) * du
                drn(k) += w(oW1 + k * ff + i) * du
                k += 1
              }
            }
          }
          i += 1
        }
        if (c.norm) {
          val back = lnBwd(drn, xh2(b)(t), inv2(b)(t), oG2, oC2)
          var k = 0
          while (k < h) { dr(k) += back(k); k += 1 }
        } else {
          var k = 0
          while (k < h) { dr(k) += drn(k); k += 1 }
        }
        // r = in + z; z = wO·cc + bO
        var j4 = 0
        while (j4 < h) {
          dIn(t)(j4) += dr(j4)
          acc(oBO + j4) += dr(j4)
          j4 += 1
        }
        var i2 = 0
        while (i2 < nh * kd) {
          var s = 0.0
          var j5 = 0
          while (j5 < h) {
            acc(oWO + i2 * h + j5) += ccs(b)(t)(i2) * dr(j5)
            s += w(oWO + i2 * h + j5) * dr(j5)
            j5 += 1
          }
          dcc(t)(i2) = s
          i2 += 1
        }
        t += 1
      }
      // per-head attention backward → dxn, then LN1 → dIn
      val dxn = Array.ofDim[Double](T, h)
      var hi = 0
      while (hi < nh) {
        val hb = base + hi * 6
        val (oWq, oBq, oWk, oBk, oWv, oBv) = (o(hb), o(hb + 1), o(hb + 2),
          o(hb + 3), o(hb + 4), o(hb + 5))
        val dqs = Array.ofDim[Double](T, kd)
        val dks = Array.ofDim[Double](T, kd)
        val dvs = Array.ofDim[Double](T, kd)
        t = 0
        while (t < T) {
          val dz = new Array[Double](kd)
          var j6 = 0
          while (j6 < kd) { dz(j6) = dcc(t)(hi * kd + j6); j6 += 1 }
          val da = new Array[Double](T)
          var u = 0
          while (u < T) {
            val mv = if (mk == null) 1.0 else mk.att(b)(hi)(t)(u)
            var s = 0.0
            var j7 = 0
            while (j7 < kd) {
              s += dz(j7) * vs(b)(hi)(u)(j7)
              dvs(u)(j7) += att(b)(hi)(t)(u) * mv * dz(j7)
              j7 += 1
            }
            da(u) = s * mv // gradient w.r.t. pre-drop softmax prob
            u += 1
          }
          var dotSum = 0.0
          var u2 = 0
          while (u2 < T) { dotSum += att(b)(hi)(t)(u2) * da(u2); u2 += 1 }
          var u3 = 0
          while (u3 < T) {
            val ds = att(b)(hi)(t)(u3) * (da(u3) - dotSum) * invSqrtKd
            var j8 = 0
            while (j8 < kd) {
              dqs(t)(j8) += ds * ks(b)(hi)(u3)(j8)
              dks(u3)(j8) += ds * qs(b)(hi)(t)(j8)
              j8 += 1
            }
            u3 += 1
          }
          t += 1
        }
        t = 0
        while (t < T) {
          var u = 0
          while (u < kd) {
            acc(oBq + u) += dqs(t)(u)
            acc(oBk + u) += dks(t)(u)
            acc(oBv + u) += dvs(t)(u)
            u += 1
          }
          var i3 = 0
          while (i3 < h) {
            val xv = xn(t)(i3)
            var u2 = 0
            while (u2 < kd) {
              val r = i3 * kd + u2
              acc(oWq + r) += xv * dqs(t)(u2)
              acc(oWk + r) += xv * dks(t)(u2)
              acc(oWv + r) += xv * dvs(t)(u2)
              dxn(t)(i3) += w(oWq + r) * dqs(t)(u2) +
                w(oWk + r) * dks(t)(u2) + w(oWv + r) * dvs(t)(u2)
              u2 += 1
            }
            i3 += 1
          }
          t += 1
        }
        hi += 1
      }
      t = 0
      while (t < T) {
        if (c.norm) {
          val back = lnBwd(dxn(t), xh1(b)(t), inv1(b)(t), oG1, oC1)
          var k = 0
          while (k < h) { dIn(t)(k) += back(k); k += 1 }
        } else {
          var k = 0
          while (k < h) { dIn(t)(k) += dxn(t)(k); k += 1 }
        }
        t += 1
      }
      dOut = dIn // block input gradient = previous block's output gradient
      b -= 1
    }

    // input projection + position embedding backward
    t = 0
    while (t < T) {
      val raw = x(t)
      var j10 = 0
      while (j10 < h) {
        val g = dOut(t)(j10)
        acc(oBIn + j10) += g
        acc(oPos + t * h + j10) += g
        var i3 = 0
        while (i3 < f) { acc(oIn + i3 * h + j10) += raw(i3) * g; i3 += 1 }
        j10 += 1
      }
      t += 1
    }
    loss
  }

  /** Glorot-uniform init per matrix (the reference's Keras defaults);
    * biases zero; LayerNorm γ=1, β=0. */
  def init(c: Cfg, seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val w = new Array[Double](c.size)
    val o = c.offsets
    def glorot(off: Int, rows: Int, cols: Int): Unit = {
      val lim = math.sqrt(6.0 / (rows + cols))
      for (i <- 0 until rows * cols)
        w(off + i) = (rng.nextDouble() * 2 - 1) * lim
    }
    glorot(o(0), c.f, c.h) // wIn
    glorot(o(2), c.t, c.h) // posEmb
    for (b <- 0 until c.blocks) {
      val base = 3 + b * c.blocksPerEnc
      for (hi <- 0 until c.heads) {
        val hb = base + hi * 6
        glorot(o(hb), c.h, c.keyDim) // wq
        glorot(o(hb + 2), c.h, c.keyDim) // wk
        glorot(o(hb + 4), c.h, c.keyDim) // wv
      }
      val a = base + c.heads * 6
      glorot(o(a), c.heads * c.keyDim, c.h) // wO
      glorot(o(a + 2), c.h, c.ff) // wF1
      glorot(o(a + 4), c.ff, c.h) // wF2
      if (c.norm) for (p <- 0 until 2) // per-block γ=1 (β stays 0)
        for (i <- 0 until c.h) w(o(a + 6 + 2 * p) + i) = 1.0
    }
    var bi = 3 + c.blocks * c.blocksPerEnc
    if (c.pool) { glorot(o(bi), c.h, 1); bi += 2 }
    var prev = c.h
    for (u <- c.mlp) { glorot(o(bi), prev, u); prev = u; bi += 2 }
    glorot(o(bi), c.headLast, c.out) // wOut (out rows for output_units>1)
    bi += 2
    if (c.norm) // final γ=1 (β stays 0)
      for (i <- 0 until c.h) w(o(bi) + i) = 1.0
    w
  }
}
