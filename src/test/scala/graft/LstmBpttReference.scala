package graft

import graft.ml.LstmStackBptt

/** The former one-layer LSTM BPTT kernel, kept verbatim as a test
  * reference: the one-layer fit now runs [[LstmStackBptt]] at
  * `Cfg(f, Seq(h), bidi = false)`, and MLSpec asserts that its loss,
  * gradient and prediction are `==` to this kernel's, with and without
  * dropout. Layout: per gate g ∈ i,f,c̃,o, `W_g` F×H, `U_g` H×H, `b_g` H,
  * then `wOut` H and `bOut`. The dropout mask draw repeats the
  * library's inverted-Bernoulli expression so this copy stays frozen. */
object LstmBpttReference {

  def size(f: Int, h: Int): Int = 4 * (f * h + h * h + h) + h + 1

  private def gateOff(g: Int, f: Int, h: Int): (Int, Int, Int) = {
    val blk = f * h + h * h + h
    val base = g * blk
    (base, base + f * h, base + f * h + h * h)
  }
  private def wOutOff(f: Int, h: Int): Int = 4 * (f * h + h * h + h)

  private def invBernoulli(rng: java.util.Random, p: Double,
      n: Int): Array[Double] = Array.fill(n)(
    if (p <= 0) 1.0 else if (rng.nextDouble() < p) 0.0 else 1.0 / (1 - p))

  def forward(w: Array[Double], f: Int, h: Int,
      x: Array[Array[Double]], drop: LstmStackBptt.Drop = null): Double =
    run(w, f, h, x, 0.0, null, drop)

  /** Forward + (if `acc` non-null) backward, accumulating the gradient
    * into `acc`. Returns the prediction (acc == null) or the
    * squared-error loss (acc != null). */
  def run(w: Array[Double], f: Int, h: Int, x: Array[Array[Double]],
      y: Double, acc: Array[Double],
      drop: LstmStackBptt.Drop = null): Double = {
    val T = x.length
    val (wiO, uiO, biO) = gateOff(0, f, h)
    val (wfO, ufO, bfO) = gateOff(1, f, h)
    val (wcO, ucO, bcO) = gateOff(2, f, h)
    val (woO, uoO, boO) = gateOff(3, f, h)
    val woutO = wOutOff(f, h)
    val ig = Array.ofDim[Double](T, h); val fg = Array.ofDim[Double](T, h)
    val gg = Array.ofDim[Double](T, h); val og = Array.ofDim[Double](T, h)
    val cs = Array.ofDim[Double](T, h); val hs = Array.ofDim[Double](T, h)
    val tc = Array.ofDim[Double](T, h)
    // per-gate masks (4×f input, 4×h recurrent), drawn in fixed order
    val (mIn, mRec) = if (drop == null) (null, null) else {
      val rng = new java.util.Random(drop.seed)
      (Array.fill(4)(invBernoulli(rng, drop.in, f)),
        Array.fill(4)(invBernoulli(rng, drop.rec, h)))
    }
    def sigmoid(z: Double) = 1.0 / (1.0 + math.exp(-z))
    var t = 0
    while (t < T) {
      val xt = x(t)
      var u = 0
      while (u < h) {
        var zi = w(biO + u); var zf = w(bfO + u)
        var zg = w(bcO + u); var zo = w(boO + u)
        var fi = 0
        while (fi < f) {
          val xv = xt(fi); val r = fi * h + u
          if (mIn == null) {
            zi += xv * w(wiO + r); zf += xv * w(wfO + r)
            zg += xv * w(wcO + r); zo += xv * w(woO + r)
          } else {
            zi += xv * mIn(0)(fi) * w(wiO + r)
            zf += xv * mIn(1)(fi) * w(wfO + r)
            zg += xv * mIn(2)(fi) * w(wcO + r)
            zo += xv * mIn(3)(fi) * w(woO + r)
          }
          fi += 1
        }
        if (t > 0) {
          val hp = hs(t - 1)
          var k = 0
          while (k < h) {
            val hv = hp(k); val r = k * h + u
            if (mRec == null) {
              zi += hv * w(uiO + r); zf += hv * w(ufO + r)
              zg += hv * w(ucO + r); zo += hv * w(uoO + r)
            } else {
              zi += hv * mRec(0)(k) * w(uiO + r)
              zf += hv * mRec(1)(k) * w(ufO + r)
              zg += hv * mRec(2)(k) * w(ucO + r)
              zo += hv * mRec(3)(k) * w(uoO + r)
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
    var pred = w(size(f, h) - 1)
    var u = 0
    while (u < h) { pred += w(woutO + u) * hs(T - 1)(u); u += 1 }
    if (acc == null) return pred

    // backward
    val d = pred - y
    val dh = new Array[Double](h); val dc = new Array[Double](h)
    acc(size(f, h) - 1) += d
    u = 0
    while (u < h) {
      acc(woutO + u) += d * hs(T - 1)(u)
      dh(u) = w(woutO + u) * d
      u += 1
    }
    t = T - 1
    val dzi = new Array[Double](h); val dzf = new Array[Double](h)
    val dzg = new Array[Double](h); val dzo = new Array[Double](h)
    while (t >= 0) {
      val xt = x(t)
      var u2 = 0
      while (u2 < h) {
        val o = og(t)(u2); val i = ig(t)(u2); val g = gg(t)(u2)
        val tch = tc(t)(u2)
        dzo(u2) = dh(u2) * tch * o * (1 - o)
        val dcu = dc(u2) + dh(u2) * o * (1 - tch * tch)
        dzi(u2) = dcu * g * i * (1 - i)
        dzg(u2) = dcu * i * (1 - g * g)
        dzf(u2) = if (t > 0) {
          val fgu = fg(t)(u2)
          dcu * cs(t - 1)(u2) * fgu * (1 - fgu)
        } else 0.0
        // dc_{t-1}; the forget path only exists for t > 0
        dc(u2) = if (t > 0) dcu * fg(t)(u2) else 0.0
        acc(biO + u2) += dzi(u2); acc(bfO + u2) += dzf(u2)
        acc(bcO + u2) += dzg(u2); acc(boO + u2) += dzo(u2)
        var fi = 0
        while (fi < f) {
          val xv = xt(fi); val r = fi * h + u2
          if (mIn == null) {
            acc(wiO + r) += xv * dzi(u2); acc(wfO + r) += xv * dzf(u2)
            acc(wcO + r) += xv * dzg(u2); acc(woO + r) += xv * dzo(u2)
          } else {
            acc(wiO + r) += xv * mIn(0)(fi) * dzi(u2)
            acc(wfO + r) += xv * mIn(1)(fi) * dzf(u2)
            acc(wcO + r) += xv * mIn(2)(fi) * dzg(u2)
            acc(woO + r) += xv * mIn(3)(fi) * dzo(u2)
          }
          fi += 1
        }
        u2 += 1
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
              acc(uiO + r) += hp(k) * dzi(u3)
              acc(ufO + r) += hp(k) * dzf(u3)
              acc(ucO + r) += hp(k) * dzg(u3)
              acc(uoO + r) += hp(k) * dzo(u3)
              s += w(uiO + r) * dzi(u3) + w(ufO + r) * dzf(u3) +
                w(ucO + r) * dzg(u3) + w(uoO + r) * dzo(u3)
            } else {
              acc(uiO + r) += hp(k) * mRec(0)(k) * dzi(u3)
              acc(ufO + r) += hp(k) * mRec(1)(k) * dzf(u3)
              acc(ucO + r) += hp(k) * mRec(2)(k) * dzg(u3)
              acc(uoO + r) += hp(k) * mRec(3)(k) * dzo(u3)
              s += w(uiO + r) * mRec(0)(k) * dzi(u3) +
                w(ufO + r) * mRec(1)(k) * dzf(u3) +
                w(ucO + r) * mRec(2)(k) * dzg(u3) +
                w(uoO + r) * mRec(3)(k) * dzo(u3)
            }
            u3 += 1
          }
          dh(k) = s
          k += 1
        }
      }
      t -= 1
    }
    0.5 * d * d
  }
}
