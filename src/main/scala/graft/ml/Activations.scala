package graft.ml

/** Layer primitives shared by the row-level training kernels — one
  * definition of each scalar activation, so every kernel evaluates the
  * same expression, and one Glorot-uniform initializer. */
private[ml] object Activations {
  @inline def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))
  @inline def swish(z: Double): Double = z * sigmoid(z)
  /** d swish / dz. */
  @inline def swishD(z: Double): Double = {
    val s = sigmoid(z); s * (1.0 + z * (1.0 - s))
  }

  /** Glorot-uniform fill of one `rows × cols` matrix (the Keras default
    * kernel initializer): writes `rows·cols` consecutive draws of
    * U(−lim, lim), lim = sqrt(6 / (rows + cols)), into `w` from `off`. */
  def glorot(w: Array[Double], off: Int, rows: Int, cols: Int,
      rng: scala.util.Random): Unit = {
    val lim = math.sqrt(6.0 / (rows + cols))
    var i = 0
    while (i < rows * cols) {
      w(off + i) = (rng.nextDouble() * 2 - 1) * lim; i += 1
    }
  }
}
