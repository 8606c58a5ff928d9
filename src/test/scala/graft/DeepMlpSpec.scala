package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.ml._

/** Depth-general MLP (the reference's hidden_units tuple, dense.py:17):
  * gradient correctness at depth, default-shape fit quality on a target
  * a single layer fits poorly, staged-scoring agreement, rank loss. */
class DeepMlpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("deep mlp kernel: gradient matches central finite differences " +
    "across uneven layer widths and both activations") {
    val r = new scala.util.Random(3)
    for (layers <- Seq(Seq(5, 2), Seq(2, 6), Seq(4, 3, 2));
         swish <- Seq(false, true)) {
      val dims = 3 +: layers
      val sz = DeepMlpKernel.size(dims)
      val w = Array.fill(sz)(r.nextGaussian() * 0.5)
      val x = Array.fill(3)(r.nextGaussian())
      val y = 0.4
      val g = new Array[Double](sz)
      DeepMlpKernel.run(w, dims, x, y, g, swish)
      val eps = 1e-6
      for (i <- 0 until sz) {
        def loss(wv: Array[Double]) = {
          val d = DeepMlpKernel.run(wv, dims, x, y, null, swish) - y
          0.5 * d * d
        }
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - g(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"layers=$layers swish=$swish grad mismatch at $i: " +
            s"analytic=${g(i)} fd=$fd")
      }
    }
  }

  test("deep mlp dropout kernel (dense.py:28-29): gradient matches " +
    "finite differences with the mask sample fixed; maskSeed=0 is the " +
    "deterministic forward") {
    val r = new scala.util.Random(7)
    val dims = Seq(3, 4, 3)
    val sz = DeepMlpKernel.size(dims)
    val w = Array.fill(sz)(r.nextGaussian() * 0.5)
    val x = Array.fill(3)(r.nextGaussian())
    val y = 0.4
    val (drop, ms) = (0.3, 4242L)
    for (swish <- Seq(false, true)) {
      val g = new Array[Double](sz)
      DeepMlpKernel.run(w, dims, x, y, g, swish, drop, ms)
      val eps = 1e-6
      for (i <- 0 until sz) {
        def loss(wv: Array[Double]) = {
          val d = DeepMlpKernel.run(wv, dims, x, y, null, swish, drop,
            ms) - y
          0.5 * d * d
        }
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - g(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"swish=$swish dropout grad mismatch at $i: " +
            s"analytic=${g(i)} fd=$fd")
      }
      assert(DeepMlpKernel.run(w, dims, x, y, null, swish, drop, 0L) ==
        DeepMlpKernel.run(w, dims, x, y, null, swish),
        "maskSeed=0 must match the deterministic forward")
    }
  }

  test("deep mlp: fit at dropoutRate=0.1 (Keras Dropout after every " +
    "hidden Dense) still learns the two-layer fixture") {
    val r = new scala.util.Random(19)
    val rows = (0 until 400).map { i =>
      val f0 = r.nextGaussian(); val f1 = r.nextGaussian()
      (i.toLong, f0, f1, f0 * f1 + 0.05 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "y")
    val m = new DeepMLPRegressor(Seq("f0", "f1"), "y",
      layers = Seq(8, 8), lr = 0.01, epochs = 400, dropoutRate = 0.1)
    val pred = m.fit(df).predict(df)
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.7, s"dropout deep MLP failed to learn: r2=$r2")
  }

  test("deep mlp multi-output kernel (output_units>1 over the shared " +
    "hidden stack): gradient matches finite differences, with and " +
    "without dropout") {
    val r = new scala.util.Random(29)
    val dims = Seq(3, 4, 3)
    val out = 2
    val sz = DeepMlpKernel.size(dims, out)
    val w = Array.fill(sz)(r.nextGaussian() * 0.5)
    val x = Array.fill(3)(r.nextGaussian())
    val y = Array.fill(out)(r.nextGaussian() * 0.5)
    for ((drop, ms) <- Seq((0.0, 0L), (0.3, 777L))) {
      val g = new Array[Double](sz)
      val po = new Array[Double](out)
      DeepMlpKernel.runV(w, dims, out, x, y, g, false, drop, ms, po)
      val eps = 1e-6
      for (i <- 0 until sz) {
        def loss(wv: Array[Double]) =
          DeepMlpKernel.runV(wv, dims, out, x, y, null, false, drop, ms,
            new Array[Double](out))
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - g(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"drop=$drop multi grad mismatch at $i: analytic=${g(i)} fd=$fd")
      }
    }
  }

  test("deep mlp multi-output: joint two-layer fit learns two targets " +
    "(prediction_{i} contract) at the reference default depth") {
    val r = new scala.util.Random(31)
    val rows = (0 until 400).map { i =>
      val f0 = r.nextGaussian(); val f1 = r.nextGaussian()
      (i.toLong, f0, f1,
        f0 * f1 + 0.05 * r.nextGaussian(),
        math.tanh(2.0 * f0) - f1 + 0.05 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "y0", "y1")
    val m = new DeepMLPRegressor(Seq("f0", "f1"), "y0",
      extraTargetCols = Seq("y1"),
      layers = Seq(8, 8), lr = 0.01, epochs = 400)
    val pred = m.fit(df).predict(df)
    assert(pred.columns.contains("prediction_0") &&
      pred.columns.contains("prediction_1"))
    val r20 = Metrics.r2(pred, "prediction_0", "y0", Seq.empty)
      .collect()(0).getDouble(0)
    val r21 = Metrics.r2(pred, "prediction_1", "y1", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r20 > 0.7 && r21 > 0.7,
      s"multi-output deep MLP failed: r2=($r20, $r21)")
  }

  test("deep mlp multi-output: pinned staged scoring (the q_deep_multi " +
    "forward) equals the vector kernel on every row") {
    val r = new scala.util.Random(37)
    val rows = (0 until 50).map { i =>
      (i.toLong, r.nextGaussian() * 10, r.nextDouble() * 0.1,
        r.nextDouble() * 0.08)
    }
    val df = rows.toDF("id", "l_quantity", "l_discount", "l_tax")
    val dims = Seq(3, 4, 3)
    val p = QueriesML.pinnedDeep
    val staged = DeepMlpScore.stage(df,
      Seq("l_quantity", "l_discount", "l_tax").map(c =>
        col(c).cast("double")), p, dims, 2, swish = false,
      Array(0.0, 0.0), Array(1.0, 1.0))
    val got = staged.orderBy("id")
      .select("prediction_0", "prediction_1").collect()
    rows.zip(got).foreach { case ((_, q, d, t), row) =>
      val po = new Array[Double](2)
      DeepMlpKernel.runV(p, dims, 2, Array(q, d, t), Array(0.0, 0.0),
        null, false, 0.0, 0L, po)
      assert(math.abs(row.getDouble(0) - po(0)) < 1e-9 &&
        math.abs(row.getDouble(1) - po(1)) < 1e-9,
        s"staged != kernel: (${row.getDouble(0)}, ${row.getDouble(1)}) " +
          s"vs (${po(0)}, ${po(1)})")
    }
  }

  test("deep mlp: swish activation fits and its staged scoring equals " +
    "the kernel forward") {
    val r = new scala.util.Random(19)
    val rows = (0 until 300).map { i =>
      val f0 = r.nextGaussian(); val f1 = r.nextGaussian()
      (i.toLong, f0, f1, f0 * f0 - f1 + 0.05 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "y")
    val m = new DeepMLPRegressor(Seq("f0", "f1"), "y",
      layers = Seq(8, 6), activation = "swish", lr = 0.02, epochs = 200)
    val pred = m.fit(df).predict(df)
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"swish deep mlp failed: r2=$r2")
    val ys = rows.map(_._4)
    val mu = ys.sum / ys.size
    val sd = math.sqrt(ys.map(v => (v - mu) * (v - mu)).sum / ys.size)
    pred.select("f0", "f1", "prediction").limit(5).collect().foreach {
      row =>
        val local = DeepMlpKernel.run(m.fittedFlat, Seq(2, 8, 6),
          Array(row.getDouble(0), row.getDouble(1)), 0.0, null,
          swish = true)
        assert(math.abs(local * sd + mu - row.getDouble(2)) < 1e-6)
    }
  }

  test("deep mlp: two hidden layers (the reference default shape) learn " +
    "a composed nonlinear target; staged scoring equals the kernel " +
    "forward; prediction naming contract") {
    val r = new scala.util.Random(7)
    // |f0| + |f1| has a non-convex kink structure a deep net composes
    val rows = (0 until 400).map { i =>
      val f0 = r.nextGaussian(); val f1 = r.nextGaussian()
      (i.toLong, f0, f1,
        math.abs(f0) + math.abs(f1) + 0.05 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "y")
    val m = new DeepMLPRegressor(Seq("f0", "f1"), "y",
      layers = Seq(12, 8), lr = 0.02, epochs = 250)
    val pred = m.fit(df).predict(df)
    assert(pred.columns.contains("prediction") &&
      !pred.columns.exists(_.startsWith("__h")))
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.85, s"deep mlp failed to learn |f0|+|f1|: r2=$r2")

    // staged scoring == kernel forward, destandardized with the same
    // population stats fit used (no nulls, so same rows)
    val ys = rows.map(_._4)
    val mu = ys.sum / ys.size
    val sd = math.sqrt(ys.map(v => (v - mu) * (v - mu)).sum / ys.size)
    pred.select("f0", "f1", "prediction").limit(10).collect().foreach {
      row =>
        val local = DeepMlpKernel.run(m.fittedFlat, Seq(2, 12, 8),
          Array(row.getDouble(0), row.getDouble(1)), 0.0, null)
        assert(math.abs(local * sd + mu - row.getDouble(2)) < 1e-6,
          s"staged scoring disagrees: ${local * sd + mu} vs " +
            row.getDouble(2))
    }
  }

  test("deep mlp: loss=combined surrogate path trains (identity at " +
    "spW=0 vs mse through the depth-general kernel)") {
    val r = new scala.util.Random(11)
    val rows = (0 until 40).map(i =>
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian()))
    val df = rows.toDF("id", "f0", "f1", "y").repartition(1)
    def fitted(loss: String) =
      new DeepMLPRegressor(Seq("f0", "f1"), "y", layers = Seq(4, 3),
        lr = 0.02, epochs = 10, loss = loss, mseWeight = 0.5,
        spearmanWeight = 0.0, rankBatch = 64).fit(df).fittedFlat
    val wm = fitted("mse"); val wc = fitted("combined")
    (wm zip wc).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"diverged: $a vs $b")
    }
  }
}
