package graft.ml

/** Flat-parameter BPTT kernel for every LSTM fit layout the reference
  * builds from its `lstm_units` list (sequence.py:120-147) — the one
  * kernel behind [[LSTMTrainer]], [[LSTMMultiTrainer]] and
  * [[LSTMBnTrainer]]:
  *
  * - **one layer** (the default, `lstm_units=[n]`): a single cell whose
  *   final hidden state feeds the linear head — the per-row gradient of
  *   0.5·(pred − y)².
  * - **stacked** (`lstm_units` list): layer n+1 consumes layer n's
  *   per-step hidden states (Keras return_sequences=True between
  *   layers); the linear head reads the LAST layer's final hidden state.
  *   Backprop injects each upper layer's input-gradient into the hidden
  *   outputs of the layer below at EVERY timestep.
  * - **bidirectional** (`bidirectional=True`, one layer — the layout
  *   [[LstmScorer.scoreBidirectional]] scores): a forward cell over the
  *   steps plus an independent cell over the REVERSED steps; the head
  *   reads the concatenated final hidden states [fwd_h, bwd_h].
  *
  * Layout: per cell (stacked: one per layer; bidi: fwd then bwd) four
  * gate blocks — per gate g ∈ i,f,c̃,o in that order: `W_g` F×H
  * feature-major, `U_g` H×H prev-hidden-major, `b_g` H — then `wOut`
  * (H_last, or 2H for bidi) and `bOut` (one layer: 4(FH + H² + H) + H + 1
  * doubles in all). Forward recurrences match the scorer's stage algebra
  * exactly (Keras gate order and the t=0 convention h₋₁ = c₋₁ = 0, where
  * the recurrent term is omitted and c₀ = i∘g — so the forget gate has
  * zero gradient at t=0): fitted weights score identically through the
  * distributed codegen'd forward pass. */
object LstmStackBptt {
  import Activations.sigmoid

  /** Keras LayerNormalization default epsilon (the LSTM path's
    * use_layer_norm stage carries no explicit eps, sequence.py:141-142). */
  val LnEps = 1e-3

  /** Training-time dropout sample (Keras LSTM semantics,
    * sequence.py:123-132): `in` masks the step inputs and `rec` the
    * recurrent state, with ONE Bernoulli mask PER GATE held constant
    * across all timesteps of the row (the Keras `dropout` /
    * `recurrent_dropout` behavior), inverted 1/(1−p) scaling. `seed`
    * fixes the sample so forward/backward and finite-difference pairs
    * see the same sub-network. `perCell`, when set, carries one
    * (dropout, recurrent_dropout) pair PER STACKED LAYER — the
    * reference's `lstm_units` tuple list (sequence.py:105,123) — and
    * overrides the scalar rates in the per-cell mask sampling. */
  case class Drop(in: Double, rec: Double, seed: Long,
      perCell: Seq[(Double, Double)] = null) {
    require(in >= 0 && in < 1 && rec >= 0 && rec < 1,
      s"dropout rates in [0, 1), got ($in, $rec)")
    require(perCell == null || perCell.forall { case (i, r) =>
      i >= 0 && i < 1 && r >= 0 && r < 1 },
      s"per-layer dropout rates in [0, 1), got $perCell")
  }

  /** A row's [[Drop]] sample for a trainer's per-layer (dropout,
    * recurrent_dropout) `rates`, or null when every rate is 0: the first
    * pair gives the scalar rates, and a list of more than one pair also
    * rides along as `perCell`. */
  private[ml] def rowDrop(rates: Seq[(Double, Double)], seed: Long): Drop =
    if (!rates.exists(p => p._1 > 0 || p._2 > 0)) null
    else Drop(rates.head._1, rates.head._2, seed,
      if (rates.size > 1) rates else null)

  /** @param layers hidden width per stacked layer (bidi: exactly one)
    * @param layerNorm trainable LayerNormalization after every layer
    *   (the reference's `use_layer_norm`, sequence.py:141-142): inner
    *   layers normalize each timestep's hidden vector, the last layer
    *   its final state (bidi: the concatenated [fwd, bwd] state); γ/β
    *   blocks append after the head in the flat layout
    * @param out Dense(output_units) head width (base.py:46,
    *   sequence.py:146) — `out > 1` trains ALL outputs jointly through
    *   the shared cells, the Keras multi-output model; head weights
    *   pack output-major (wOut_o at headOff + o·headDim), biases after */
  case class Cfg(f: Int, layers: Seq[Int], bidi: Boolean,
      layerNorm: Boolean = false, out: Int = 1) {
    require(layers.nonEmpty, "at least one LSTM layer")
    require(out >= 1, "at least one output unit")
    require(!bidi || layers.size == 1,
      "bidirectional fit covers the single-layer layout the scorer scores")
    /** Input width of layer l. */
    def fIn(l: Int): Int = if (l == 0) f else layers(l - 1)
    def cellSize(fi: Int, h: Int): Int = 4 * (fi * h + h * h + h)
    /** Cell offsets (stacked: per layer; bidi: fwd at 0, bwd at 1). */
    def cellOff(l: Int): Int =
      if (bidi) l * cellSize(f, layers.head)
      else (0 until l).map(i => cellSize(fIn(i), layers(i))).sum
    def headDim: Int = if (bidi) 2 * layers.head else layers.last
    def headOff: Int =
      if (bidi) 2 * cellSize(f, layers.head) else cellOff(layers.size)
    /** Bias slot of output o (γ/β blocks sit after all head slots). */
    def headBias(o: Int): Int = headOff + out * headDim + o
    /** The single-output head bias (the out == 1 common case). */
    def headBias: Int = headBias(0)
    /** Normalized width of LN block l (bidi: one block over 2H). */
    def lnWidth(l: Int): Int = if (bidi) 2 * layers.head else layers(l)
    def lnCount: Int = if (bidi) 1 else layers.size
    /** γ of LN block l sits at lnOff(l); β at lnOff(l) + lnWidth(l). */
    def lnOff(l: Int): Int = headOff + out * (headDim + 1) +
      (0 until l).map(i => 2 * lnWidth(i)).sum
    def size: Int = headOff + out * (headDim + 1) +
      (if (layerNorm) (0 until lnCount).map(i => 2 * lnWidth(i)).sum
       else 0)
  }

  /** Trainable LayerNorm block over `h` units, γ at `gOff`, β at
    * `gOff + h` in the flat array. forward returns (y, xhat, invstd);
    * backward consumes (dy, xhat, invstd), accumulates dγ/dβ, returns dx. */
  private final class LnOp(w: Array[Double], gOff: Int, h: Int) {
    def forward(x: Array[Double]): (Array[Double], Array[Double], Double) = {
      var mu = 0.0
      var i = 0
      while (i < h) { mu += x(i); i += 1 }
      mu /= h
      var v = 0.0
      i = 0
      while (i < h) { val d = x(i) - mu; v += d * d; i += 1 }
      v /= h
      val s = 1.0 / math.sqrt(v + LnEps)
      val xhat = new Array[Double](h)
      val y = new Array[Double](h)
      i = 0
      while (i < h) {
        xhat(i) = (x(i) - mu) * s
        y(i) = w(gOff + i) * xhat(i) + w(gOff + h + i)
        i += 1
      }
      (y, xhat, s)
    }
    def backward(dy: Array[Double], xhat: Array[Double], s: Double,
        acc: Array[Double]): Array[Double] = {
      val dxhat = new Array[Double](h)
      var mDx = 0.0
      var mDxX = 0.0
      var i = 0
      while (i < h) {
        acc(gOff + h + i) += dy(i)
        acc(gOff + i) += dy(i) * xhat(i)
        dxhat(i) = dy(i) * w(gOff + i)
        mDx += dxhat(i); mDxX += dxhat(i) * xhat(i)
        i += 1
      }
      mDx /= h; mDxX /= h
      val dx = new Array[Double](h)
      i = 0
      while (i < h) {
        dx(i) = s * (dxhat(i) - mDx - xhat(i) * mDxX)
        i += 1
      }
      dx
    }
  }

  /** One cell's forward/backward over a sequence, reading its gate
    * blocks at `off` in the flat array. Forward caches stay in the
    * instance; backward accepts a PER-STEP hidden-gradient injection
    * and returns per-step input gradients (for the layer below).
    * `mIn`/`mRec` are optional per-gate dropout masks (Keras
    * dropout/recurrent_dropout: one mask per gate, constant across
    * timesteps — [[Drop]] semantics per layer). */
  private final class Cell(w: Array[Double], off: Int, f: Int, h: Int,
      mIn: Array[Array[Double]] = null, mRec: Array[Array[Double]] = null) {
    private val blk = f * h + h * h + h
    private def wO(g: Int) = off + g * blk
    private def uO(g: Int) = off + g * blk + f * h
    private def bO(g: Int) = off + g * blk + f * h + h * h

    var x: Array[Array[Double]] = _
    var ig, fg, gg, og, cs, hs, tc: Array[Array[Double]] = _

    def forward(xIn: Array[Array[Double]]): Array[Array[Double]] = {
      val T = xIn.length
      x = xIn
      ig = Array.ofDim(T, h); fg = Array.ofDim(T, h)
      gg = Array.ofDim(T, h); og = Array.ofDim(T, h)
      cs = Array.ofDim(T, h); hs = Array.ofDim(T, h)
      tc = Array.ofDim(T, h)
      var t = 0
      while (t < T) {
        val xt = x(t)
        var u = 0
        while (u < h) {
          var zi = w(bO(0) + u); var zf = w(bO(1) + u)
          var zg = w(bO(2) + u); var zo = w(bO(3) + u)
          var fi = 0
          while (fi < f) {
            val xv = xt(fi); val r = fi * h + u
            if (mIn == null) {
              zi += xv * w(wO(0) + r); zf += xv * w(wO(1) + r)
              zg += xv * w(wO(2) + r); zo += xv * w(wO(3) + r)
            } else {
              zi += xv * mIn(0)(fi) * w(wO(0) + r)
              zf += xv * mIn(1)(fi) * w(wO(1) + r)
              zg += xv * mIn(2)(fi) * w(wO(2) + r)
              zo += xv * mIn(3)(fi) * w(wO(3) + r)
            }
            fi += 1
          }
          if (t > 0) {
            val hp = hs(t - 1)
            var k = 0
            while (k < h) {
              val hv = hp(k); val r = k * h + u
              if (mRec == null) {
                zi += hv * w(uO(0) + r); zf += hv * w(uO(1) + r)
                zg += hv * w(uO(2) + r); zo += hv * w(uO(3) + r)
              } else {
                zi += hv * mRec(0)(k) * w(uO(0) + r)
                zf += hv * mRec(1)(k) * w(uO(1) + r)
                zg += hv * mRec(2)(k) * w(uO(2) + r)
                zo += hv * mRec(3)(k) * w(uO(3) + r)
              }
              k += 1
            }
          }
          ig(t)(u) = sigmoid(zi); fg(t)(u) = sigmoid(zf)
          gg(t)(u) = math.tanh(zg); og(t)(u) = sigmoid(zo)
          cs(t)(u) = (if (t > 0) fg(t)(u) * cs(t - 1)(u) else 0.0) +
            ig(t)(u) * gg(t)(u)
          tc(t)(u) = math.tanh(cs(t)(u))
          hs(t)(u) = og(t)(u) * tc(t)(u)
          u += 1
        }
        t += 1
      }
      hs
    }

    /** BPTT with `dhInj(t)` injected into h_t (gradient from the head
      * and/or the layer above). Accumulates parameter gradients into
      * `acc`; returns per-step input gradients when `needDx`. */
    def backward(dhInj: Array[Array[Double]], acc: Array[Double],
        needDx: Boolean): Array[Array[Double]] = {
      val T = x.length
      val dx: Array[Array[Double]] =
        if (needDx) Array.ofDim(T, f) else null
      val dh = new Array[Double](h) // recurrent backflow from t+1
      val dc = new Array[Double](h)
      val dzi = new Array[Double](h); val dzf = new Array[Double](h)
      val dzg = new Array[Double](h); val dzo = new Array[Double](h)
      var t = T - 1
      while (t >= 0) {
        val xt = x(t)
        var u = 0
        while (u < h) {
          val dhu = dh(u) + dhInj(t)(u)
          val o = og(t)(u); val i = ig(t)(u); val g = gg(t)(u)
          val tch = tc(t)(u)
          dzo(u) = dhu * tch * o * (1 - o)
          val dcu = dc(u) + dhu * o * (1 - tch * tch)
          dzi(u) = dcu * g * i * (1 - i)
          dzg(u) = dcu * i * (1 - g * g)
          dzf(u) = if (t > 0) {
            val fgu = fg(t)(u)
            dcu * cs(t - 1)(u) * fgu * (1 - fgu)
          } else 0.0
          dc(u) = if (t > 0) dcu * fg(t)(u) else 0.0
          acc(bO(0) + u) += dzi(u); acc(bO(1) + u) += dzf(u)
          acc(bO(2) + u) += dzg(u); acc(bO(3) + u) += dzo(u)
          var fi = 0
          while (fi < f) {
            val xv = xt(fi); val r = fi * h + u
            if (mIn == null) {
              acc(wO(0) + r) += xv * dzi(u); acc(wO(1) + r) += xv * dzf(u)
              acc(wO(2) + r) += xv * dzg(u); acc(wO(3) + r) += xv * dzo(u)
            } else {
              acc(wO(0) + r) += xv * mIn(0)(fi) * dzi(u)
              acc(wO(1) + r) += xv * mIn(1)(fi) * dzf(u)
              acc(wO(2) + r) += xv * mIn(2)(fi) * dzg(u)
              acc(wO(3) + r) += xv * mIn(3)(fi) * dzo(u)
            }
            fi += 1
          }
          u += 1
        }
        if (needDx) {
          var fi = 0
          while (fi < f) {
            var s = 0.0
            var u2 = 0
            while (u2 < h) {
              val r = fi * h + u2
              if (mIn == null)
                s += w(wO(0) + r) * dzi(u2) + w(wO(1) + r) * dzf(u2) +
                  w(wO(2) + r) * dzg(u2) + w(wO(3) + r) * dzo(u2)
              else
                s += w(wO(0) + r) * mIn(0)(fi) * dzi(u2) +
                  w(wO(1) + r) * mIn(1)(fi) * dzf(u2) +
                  w(wO(2) + r) * mIn(2)(fi) * dzg(u2) +
                  w(wO(3) + r) * mIn(3)(fi) * dzo(u2)
              u2 += 1
            }
            dx(t)(fi) = s
            fi += 1
          }
        }
        if (t > 0) {
          val hp = hs(t - 1)
          var k = 0
          while (k < h) {
            var s = 0.0
            var u3 = 0
            while (u3 < h) {
              val r = k * h + u3
              if (mRec == null) {
                acc(uO(0) + r) += hp(k) * dzi(u3)
                acc(uO(1) + r) += hp(k) * dzf(u3)
                acc(uO(2) + r) += hp(k) * dzg(u3)
                acc(uO(3) + r) += hp(k) * dzo(u3)
                s += w(uO(0) + r) * dzi(u3) + w(uO(1) + r) * dzf(u3) +
                  w(uO(2) + r) * dzg(u3) + w(uO(3) + r) * dzo(u3)
              } else {
                acc(uO(0) + r) += hp(k) * mRec(0)(k) * dzi(u3)
                acc(uO(1) + r) += hp(k) * mRec(1)(k) * dzf(u3)
                acc(uO(2) + r) += hp(k) * mRec(2)(k) * dzg(u3)
                acc(uO(3) + r) += hp(k) * mRec(3)(k) * dzo(u3)
                s += w(uO(0) + r) * mRec(0)(k) * dzi(u3) +
                  w(uO(1) + r) * mRec(1)(k) * dzf(u3) +
                  w(uO(2) + r) * mRec(2)(k) * dzg(u3) +
                  w(uO(3) + r) * mRec(3)(k) * dzo(u3)
              }
              u3 += 1
            }
            dh(k) = s
            k += 1
          }
        }
        t -= 1
      }
      dx
    }
  }

  /** Forward pass only (gradient-check helper). */
  def forward(w: Array[Double], c: Cfg, x: Array[Array[Double]],
      drop: Drop = null): Double =
    run(w, c, x, 0.0, null, drop)

  /** Multi-output forward: all `c.out` predictions. */
  def forwardMulti(w: Array[Double], c: Cfg, x: Array[Array[Double]],
      drop: Drop = null): Array[Double] = {
    val preds = new Array[Double](c.out)
    runMulti(w, c, x, new Array[Double](c.out), null, drop, preds)
    preds
  }

  /** Single-output wrapper over [[runMulti]] (gradient-check helper;
    * the trainers call [[runMulti]] directly). */
  def run(w: Array[Double], c: Cfg, x: Array[Array[Double]], y: Double,
      acc: Array[Double], drop: Drop = null): Double = {
    require(c.out == 1, "multi-output Cfg needs runMulti")
    runMulti(w, c, x, Array(y), acc, drop)
  }

  /** Per-gate masks for cell `cell` from the row's Drop sample — each
    * cell (stacked layer / bidi direction) draws its own masks, in cell
    * order, from one seeded stream (the Keras per-layer behavior).
    * `drop.perCell` rates, when present, give each stacked layer its
    * own (dropout, recurrent_dropout) pair — the reference's
    * `lstm_units` tuples (bidi directions share the single layer's
    * pair, as Keras' Bidirectional wraps one configured cell). */
  private def cellMasks(drop: Drop, c: Cfg, nCells: Int)
      : Array[(Array[Array[Double]], Array[Array[Double]])] = {
    if (drop == null) return null
    val rng = new java.util.Random(drop.seed)
    Array.tabulate(nCells) { cell =>
      val f = if (c.bidi) c.f else c.fIn(cell)
      val h = if (c.bidi) c.layers.head else c.layers(cell)
      val (pIn, pRec) =
        if (drop.perCell == null || c.bidi) (drop.in, drop.rec)
        else drop.perCell(cell)
      (Array.fill(4)(SeqAdam.invBernoulli(rng, pIn, f)),
        Array.fill(4)(SeqAdam.invBernoulli(rng, pRec, h)))
    }
  }

  /** Forward + (if `acc` non-null) backward accumulating into `acc`.
    * Returns the first prediction (acc == null) or the summed
    * 0.5·Σ(pred_o − y_o)² loss (acc != null) — the Keras multi-output
    * mse with the shared recurrent trunk trained jointly. `predsOut`
    * (length `c.out`) receives every output's prediction when non-null.
    * `drop` samples Keras dropout/recurrent_dropout per cell. */
  def runMulti(w: Array[Double], c: Cfg, x: Array[Array[Double]],
      ys: Array[Double], acc: Array[Double],
      drop: Drop = null,
      predsOut: Array[Double] = null): Double = {
    val T = x.length
    val hOff = c.headOff
    val masks = cellMasks(drop, c, if (c.bidi) 2 else c.layers.size)
    def mI(i: Int) = if (masks == null) null else masks(i)._1
    def mR(i: Int) = if (masks == null) null else masks(i)._2
    if (c.bidi) {
      val h = c.layers.head
      val fwd = new Cell(w, c.cellOff(0), c.f, h, mI(0), mR(0))
      val bwd = new Cell(w, c.cellOff(1), c.f, h, mI(1), mR(1))
      val rev = Array.tabulate(T)(t => x(T - 1 - t))
      val hsF = fwd.forward(x)
      val hsB = bwd.forward(rev)
      // concatenated [fwd, bwd] final state; Keras applies the
      // use_layer_norm stage after the Bidirectional wrapper's output
      val z = new Array[Double](2 * h)
      System.arraycopy(hsF(T - 1), 0, z, 0, h)
      System.arraycopy(hsB(T - 1), 0, z, h, h)
      val ln = if (c.layerNorm) new LnOp(w, c.lnOff(0), 2 * h) else null
      val (zn, xhat, s) =
        if (ln != null) ln.forward(z) else (z, null, 0.0)
      val hd = 2 * h
      val preds = new Array[Double](c.out)
      var o = 0
      while (o < c.out) {
        var p = w(c.headBias(o))
        var u = 0
        while (u < hd) { p += w(hOff + o * hd + u) * zn(u); u += 1 }
        preds(o) = p
        o += 1
      }
      if (predsOut != null)
        System.arraycopy(preds, 0, predsOut, 0, c.out)
      if (acc == null) return preds(0)
      var loss = 0.0
      val dzn = new Array[Double](hd)
      o = 0
      while (o < c.out) {
        val d = preds(o) - ys(o)
        loss += 0.5 * d * d
        acc(c.headBias(o)) += d
        var u = 0
        while (u < hd) {
          acc(hOff + o * hd + u) += d * zn(u)
          dzn(u) += w(hOff + o * hd + u) * d
          u += 1
        }
        o += 1
      }
      val dz = if (ln != null) ln.backward(dzn, xhat, s, acc) else dzn
      val injF = Array.ofDim[Double](T, h)
      val injB = Array.ofDim[Double](T, h)
      var u = 0
      while (u < h) {
        injF(T - 1)(u) = dz(u)
        injB(T - 1)(u) = dz(h + u)
        u += 1
      }
      fwd.backward(injF, acc, needDx = false)
      bwd.backward(injB, acc, needDx = false)
      loss
    } else {
      val L = c.layers.size
      val cells = Array.tabulate(L)(l =>
        new Cell(w, c.cellOff(l), c.fIn(l), c.layers(l), mI(l), mR(l)))
      val lns = if (c.layerNorm)
        Array.tabulate(L)(l => new LnOp(w, c.lnOff(l), c.layers(l)))
      else null
      // LN caches: inner layers per timestep, last layer final step only
      val xhatC = if (c.layerNorm) Array.ofDim[Array[Double]](L, T) else null
      val sC = if (c.layerNorm) Array.ofDim[Double](L, T) else null
      var cur = x
      var l = 0
      while (l < L) {
        cur = cells(l).forward(cur)
        if (c.layerNorm && l < L - 1) {
          val normed = new Array[Array[Double]](T)
          var t = 0
          while (t < T) {
            val (yv, xh, sv) = lns(l).forward(cur(t))
            normed(t) = yv; xhatC(l)(t) = xh; sC(l)(t) = sv
            t += 1
          }
          cur = normed
        }
        l += 1
      }
      val hLast = c.layers.last
      val lastState =
        if (c.layerNorm) {
          val (yv, xh, sv) = lns(L - 1).forward(cur(T - 1))
          xhatC(L - 1)(T - 1) = xh; sC(L - 1)(T - 1) = sv
          yv
        } else cur(T - 1)
      val preds = new Array[Double](c.out)
      var o = 0
      while (o < c.out) {
        var p = w(c.headBias(o))
        var u = 0
        while (u < hLast) {
          p += w(hOff + o * hLast + u) * lastState(u)
          u += 1
        }
        preds(o) = p
        o += 1
      }
      if (predsOut != null)
        System.arraycopy(preds, 0, predsOut, 0, c.out)
      if (acc == null) return preds(0)
      var loss = 0.0
      val dLast = new Array[Double](hLast)
      o = 0
      while (o < c.out) {
        val d = preds(o) - ys(o)
        loss += 0.5 * d * d
        acc(c.headBias(o)) += d
        var u = 0
        while (u < hLast) {
          acc(hOff + o * hLast + u) += d * lastState(u)
          dLast(u) += w(hOff + o * hLast + u) * d
          u += 1
        }
        o += 1
      }
      var inj = Array.ofDim[Double](T, hLast)
      inj(T - 1) =
        if (c.layerNorm)
          lns(L - 1).backward(dLast, xhatC(L - 1)(T - 1),
            sC(L - 1)(T - 1), acc)
        else dLast
      l = L - 1
      while (l >= 0) {
        val dx = cells(l).backward(inj, acc, needDx = l > 0)
        if (l > 0) {
          // dx is the gradient w.r.t. layer l-1's (normalized) outputs;
          // route it back through that layer's LN before injecting
          inj = if (c.layerNorm) {
            val injPrev = new Array[Array[Double]](T)
            var t = 0
            while (t < T) {
              injPrev(t) = lns(l - 1).backward(dx(t), xhatC(l - 1)(t),
                sC(l - 1)(t), acc)
              t += 1
            }
            injPrev
          } else dx
        }
        l -= 1
      }
      loss
    }
  }

  /** Per-row forward to the PRE-HEAD final state with caches retained —
    * the hook for the batch-level BatchNorm trainer ([[LSTMBnTrainer]]):
    * `use_batch_norm`'s statistics couple the rows of a batch, so the BN
    * layer, the Dense head, and their gradients live at BATCH level, and
    * each row's dL/d(state) is injected back through this session's
    * BPTT. This SESSION carries no LN of its own — in the both-flags
    * Keras stacking (use_layer_norm + use_batch_norm,
    * sequence.py:141-144) [[LSTMBnTrainer]] owns the per-site LN and
    * applies it between the session's state and the batch-level BN
    * (LstmBnSpec pins the both-flags gradient and fit). */
  final class StateSession(w: Array[Double], c: Cfg,
      x: Array[Array[Double]], drop: Drop = null) {
    require(!c.layerNorm, "BatchNorm session excludes layerNorm")
    private val T = x.length
    private val masks = cellMasks(drop, c, if (c.bidi) 2 else c.layers.size)
    private def mI(i: Int) = if (masks == null) null else masks(i)._1
    private def mR(i: Int) = if (masks == null) null else masks(i)._2
    private var cells: Array[Cell] = _
    /** The pre-norm final state (bidi: concatenated [fwd, bwd]). */
    val state: Array[Double] = if (c.bidi) {
      val h = c.layers.head
      cells = Array(new Cell(w, c.cellOff(0), c.f, h, mI(0), mR(0)),
        new Cell(w, c.cellOff(1), c.f, h, mI(1), mR(1)))
      val rev = Array.tabulate(T)(t => x(T - 1 - t))
      val hsF = cells(0).forward(x)
      val hsB = cells(1).forward(rev)
      val z = new Array[Double](2 * h)
      System.arraycopy(hsF(T - 1), 0, z, 0, h)
      System.arraycopy(hsB(T - 1), 0, z, h, h)
      z
    } else {
      cells = Array.tabulate(c.layers.size)(l =>
        new Cell(w, c.cellOff(l), c.fIn(l), c.layers(l), mI(l), mR(l)))
      var cur = x
      for (l <- c.layers.indices) cur = cells(l).forward(cur)
      cur(T - 1)
    }
    /** BPTT from an injected final-state gradient. */
    def backward(dState: Array[Double], acc: Array[Double]): Unit =
      if (c.bidi) {
        val h = c.layers.head
        val injF = Array.ofDim[Double](T, h)
        val injB = Array.ofDim[Double](T, h)
        var u = 0
        while (u < h) {
          injF(T - 1)(u) = dState(u)
          injB(T - 1)(u) = dState(h + u)
          u += 1
        }
        cells(0).backward(injF, acc, needDx = false)
        cells(1).backward(injB, acc, needDx = false)
      } else {
        var inj = Array.ofDim[Double](T, c.layers.last)
        inj(T - 1) = dState
        var l = c.layers.size - 1
        while (l >= 0) {
          val dx = cells(l).backward(inj, acc, needDx = l > 0)
          if (l > 0) inj = dx
          l -= 1
        }
      }
  }

  /** Per-row, per-LAYER forward/backward session for the STACKED
    * BatchNorm trainer: Keras `use_batch_norm` places a BN between
    * every pair of stacked LSTM layers, normalizing the (batch, time,
    * units) tensor over batch×time — so layer l+1's input depends on
    * the whole batch's layer-l outputs, and the trainer must
    * synchronize layers at BATCH level between per-row calls. Each
    * call pair (forwardLayer then, later, backwardLayer in reverse
    * order) uses this session's retained caches. */
  final class LayerSession(w: Array[Double], c: Cfg,
      drop: Drop = null) {
    require(!c.bidi && !c.layerNorm,
      "stacked BN sessions cover the non-bidi, non-LN layouts")
    private val masks = cellMasks(drop, c, c.layers.size)
    private val cells = Array.tabulate(c.layers.size)(l =>
      new Cell(w, c.cellOff(l), c.fIn(l), c.layers(l),
        if (masks == null) null else masks(l)._1,
        if (masks == null) null else masks(l)._2))
    /** Forward layer l over `xIn` (T × fIn(l)); per-step hiddens. */
    def forwardLayer(l: Int, xIn: Array[Array[Double]])
        : Array[Array[Double]] = cells(l).forward(xIn)
    /** Backward layer l with per-step injected hidden gradients;
      * returns per-step input gradients (null at layer 0). */
    def backwardLayer(l: Int, inj: Array[Array[Double]],
        acc: Array[Double]): Array[Array[Double]] =
      cells(l).backward(inj, acc, needDx = l > 0)
  }

  private def cellWeights(w: Array[Double], off: Int, f: Int, h: Int,
      wOut: Array[Double], bOut: Double): LstmWeights = {
    val blk = f * h + h * h + h
    def mat(o2: Int, rows: Int): Array[Array[Double]] =
      Array.tabulate(rows, h)((r, u) => w(o2 + r * h + u))
    def vec(o2: Int): Array[Double] = Array.tabulate(h)(u => w(o2 + u))
    def g(i: Int) = (off + i * blk, off + i * blk + f * h,
      off + i * blk + f * h + h * h)
    val Seq((wi, ui, bi), (wf, uf, bf), (wc, uc, bc), (wo, uo, bo)) =
      (0 until 4).map(g)
    LstmWeights(
      mat(wi, f), mat(ui, h), vec(bi),
      mat(wf, f), mat(uf, h), vec(bf),
      mat(wc, f), mat(uc, h), vec(bc),
      mat(wo, f), mat(uo, h), vec(bo),
      wOut, bOut)
  }

  /** Unpack into the stacked scorer's layer list (only the LAST layer's
    * head is read by [[LstmScorer.scoreStacked]]; inner heads are 0). */
  def toStacked(w: Array[Double], c: Cfg): Seq[LstmWeights] = {
    require(!c.bidi && c.out == 1, "multi-output: stackCells + headMulti")
    val hOff = c.headOff
    c.layers.indices.map { l =>
      val h = c.layers(l)
      val (wOut, bOut) =
        if (l == c.layers.size - 1)
          (Array.tabulate(h)(u => w(hOff + u)), w(c.headBias))
        else (new Array[Double](h), 0.0)
      cellWeights(w, c.cellOff(l), c.fIn(l), h, wOut, bOut)
    }
  }

  /** Cells only (zero heads) — the multi-output unpack, paired with
    * [[headMulti]] for [[LstmScorer.scoreStackedMulti]]. */
  def stackCells(w: Array[Double], c: Cfg): Seq[LstmWeights] = {
    require(!c.bidi)
    c.layers.indices.map { l =>
      val h = c.layers(l)
      cellWeights(w, c.cellOff(l), c.fIn(l), h, new Array[Double](h), 0.0)
    }
  }

  /** The Dense(output_units) head: out×headDim weight rows + biases. */
  def headMulti(w: Array[Double], c: Cfg)
      : (Array[Array[Double]], Array[Double]) =
    (Array.tabulate(c.out, c.headDim)((o, u) =>
      w(c.headOff + o * c.headDim + u)),
      Array.tabulate(c.out)(o => w(c.headBias(o))))

  /** The fitted LayerNorm blocks as the scorer's [[LstmNorm]] list
    * (one per stacked layer, aligned with [[toStacked]]). */
  def stackNorms(w: Array[Double], c: Cfg): Seq[LstmNorm] = {
    require(!c.bidi && c.layerNorm)
    c.layers.indices.map { l =>
      val h = c.lnWidth(l)
      val o = c.lnOff(l)
      LstmNorm(Array.tabulate(h)(i => w(o + i)),
        Array.tabulate(h)(i => w(o + h + i)), LnEps)
    }
  }

  /** Unpack into [[LstmScorer.scoreBidirectional]]'s (fwd, bwd, wOut
    * spanning 2H, bOut) surface; the per-cell heads are unused. */
  def toBidi(w: Array[Double], c: Cfg)
      : (LstmWeights, LstmWeights, Array[Double], Double) = {
    require(c.bidi && c.out == 1, "multi-output: headMulti")
    val h = c.layers.head
    val fwd = cellWeights(w, c.cellOff(0), c.f, h,
      new Array[Double](h), 0.0)
    val bwd = cellWeights(w, c.cellOff(1), c.f, h,
      new Array[Double](h), 0.0)
    (fwd, bwd, Array.tabulate(2 * h)(u => w(c.headOff + u)), w(c.headBias))
  }

  /** The fitted LayerNorm over the concatenated [fwd, bwd] state. */
  def bidiNorm(w: Array[Double], c: Cfg): LstmNorm = {
    require(c.bidi && c.layerNorm)
    val h = c.lnWidth(0)
    val o = c.lnOff(0)
    LstmNorm(Array.tabulate(h)(i => w(o + i)),
      Array.tabulate(h)(i => w(o + h + i)), LnEps)
  }

  /** Glorot input and recurrent blocks and a Keras-style unit forget
    * bias (inert at t=0 by the cell's h₋₁ = 0 convention, but it
    * stabilizes early epochs); Glorot head. */
  def init(c: Cfg, seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val w = new Array[Double](c.size)
    val nCells = if (c.bidi) 2 else c.layers.size
    for (cell <- 0 until nCells) {
      val f = if (c.bidi) c.f else c.fIn(cell)
      val h = if (c.bidi) c.layers.head else c.layers(cell)
      val off = c.cellOff(cell)
      val blk = f * h + h * h + h
      for (g <- 0 until 4) {
        val base = off + g * blk
        Activations.glorot(w, base, f, h, rng)
        Activations.glorot(w, base + f * h, h, h, rng)
        if (g == 1)
          for (i <- 0 until h) w(base + f * h + h * h + i) = 1.0
      }
    }
    val limOut = math.sqrt(6.0 / (c.headDim + c.out))
    for (i <- 0 until c.out * (c.headDim + 1))
      w(c.headOff + i) = (rng.nextDouble() * 2 - 1) * limOut
    // LayerNorm blocks: Keras init γ=1, β=0
    if (c.layerNorm)
      for (l <- 0 until c.lnCount; i <- 0 until c.lnWidth(l))
        w(c.lnOff(l) + i) = 1.0
    w
  }
}
