package graft.ml

/** Scalar activations shared by the row-level training kernels — one
  * definition of each, so every kernel evaluates the same expression. */
private[ml] object Activations {
  @inline def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))
  @inline def swish(z: Double): Double = z * sigmoid(z)
  /** d swish / dz. */
  @inline def swishD(z: Double): Double = {
    val s = sigmoid(z); s * (1.0 + z * (1.0 - s))
  }
}
