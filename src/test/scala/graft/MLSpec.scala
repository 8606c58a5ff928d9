package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml._

case class MLRow(id: Long, f0: Double, f1: Double, f2: Double, y: Double)

/** ML-surface tests: MLP learns a learnable function (shape/contract
  * checks port tests/test_model_estimators.py:20-45), PCA captures
  * variance in order, embedding harness handles nulls/batches/templates
  * (tests/test_feature_transformers.py:163-249). */
class MLSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val rng = new scala.util.Random(42)
  val data: Seq[MLRow] = (0 until 300).map { i =>
    val f = Array.fill(3)(rng.nextGaussian())
    MLRow(i.toLong, f(0), f(1), f(2),
      2.0 * f(0) - 1.0 * f(1) + 0.5 * f(2) + 0.05 * rng.nextGaussian())
  }

  test("mlp: fit reduces error to R^2 > 0.8 on a linear target; " +
    "prediction column name contract (keras_estimators/base.py:137-150)") {
    val df = data.toDF()
    val m = new MLPRegressor(Seq("f0", "f1", "f2"), "y", hidden = 8,
      lr = 0.05, epochs = 120)
    val pred = m.fit(df).predict(df)
    assert(pred.columns.contains("prediction"))
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"MLP failed to learn: r2=$r2")
  }

  test("optimizer selection (base.py:31,48 — the reference's " +
    "Type[optimizers.Optimizer] field): sgd/rmsprop/adamax all fit the " +
    "linear target; non-default optimizers change the trajectory") {
    val df = data.toDF()
    def fitWith(opt: String, lrO: Double) =
      new MLPRegressor(Seq("f0", "f1", "f2"), "y", hidden = 8,
        lr = lrO, epochs = 150, optimizer = opt).fit(df)
    // every Keras optimizer class the knob covers converges on the
    // easy linear fixture (lr tuned per rule like a Keras user would)
    for ((opt, lrO) <- Seq(("sgd", 0.1), ("rmsprop", 0.01),
      ("adamax", 0.05))) {
      val pred = fitWith(opt, lrO).predict(df)
      val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
        .collect()(0).getDouble(0)
      assert(r2 > 0.8, s"optimizer=$opt failed to learn: r2=$r2")
    }
    // distinct update rules → distinct trajectories from the same init
    val wAdam = fitWith("adam", 0.05).fittedWeights
    val wSgd = fitWith("sgd", 0.05).fittedWeights
    assert((wAdam.w2 zip wSgd.w2).exists { case (a, b) =>
      math.abs(a - b) > 1e-9
    }, "sgd produced the identical trajectory to adam")
    // the seq trainers share the knob through SeqAdam
    val r = new scala.util.Random(7)
    val series = new Array[Double](320)
    for (i <- 2 until series.length)
      series(i) = 1.2 * series(i - 1) - 0.4 * series(i - 2) +
        0.3 * r.nextGaussian()
    val rows = (2 until 300).map(i =>
      (i.toLong, series(i - 2), series(i - 1), series(i)))
    val sdf = rows.toDF("id", "lag2", "lag1", "y")
    val lstm = new LSTMTrainer(Seq("lag2", "lag1"), seqLen = 2,
      targetCol = "y", hidden = 4, lr = 0.01, epochs = 150,
      optimizer = "rmsprop")
    val lp = lstm.fit(sdf).predict(sdf)
    val lr2 = Metrics.r2(lp, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(lr2 > 0.6, s"lstm rmsprop fit failed: r2=$lr2")
  }

  test("mlp: sample weights (weightCol) — zero-weighting a corrupted " +
    "label subset recovers the clean fit an unweighted run loses") {
    val r = new scala.util.Random(33)
    val rows = (0 until 300).map { i =>
      val f0 = r.nextGaussian(); val f1 = r.nextGaussian()
      val corrupt = i % 4 == 0
      val y = if (corrupt) -3.0 * f0 + 5.0
        else 2.0 * f0 - f1 + 0.05 * r.nextGaussian()
      (i.toLong, f0, f1, y, if (corrupt) 0.0 else 1.0)
    }
    val df = rows.toDF("id", "f0", "f1", "y", "w")
    val clean = df.where(col("w") > 0)
    def r2Of(wc: Option[String]): Double = {
      val m = new MLPRegressor(Seq("f0", "f1"), "y", hidden = 8,
        lr = 0.05, epochs = 120, weightCol = wc)
      Metrics.r2(m.fit(df).predict(clean), "prediction", "y", Seq.empty)
        .collect()(0).getDouble(0)
    }
    val weighted = r2Of(Some("w"))
    val unweighted = r2Of(None)
    assert(weighted > 0.8, s"weighted fit failed on clean rows: $weighted")
    assert(weighted > unweighted + 0.05,
      s"weights had no effect: weighted=$weighted unweighted=$unweighted")

    // normalization is by the exact weight sum — a uniform rescale of
    // all weights (sum far below 1) must not change the fit
    val tiny = df.withColumn("w", col("w") * lit(1e-3))
    val mT = new MLPRegressor(Seq("f0", "f1"), "y", hidden = 8,
      lr = 0.05, epochs = 120, weightCol = Some("w")).fit(tiny)
    val mW = new MLPRegressor(Seq("f0", "f1"), "y", hidden = 8,
      lr = 0.05, epochs = 120, weightCol = Some("w")).fit(df)
    (mT.fittedWeights.w2 zip mW.fittedWeights.w2).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9,
        s"weight rescale changed the fit: $a vs $b")
    }
  }

  test("mlp multi-output: joint fit through the shared hidden layer " +
    "learns BOTH targets (prediction_{i} contract, base.py:137-150)") {
    val r2data = (0 until 300).map { i =>
      val f = Array.fill(3)(rng.nextGaussian())
      (i.toLong, f(0), f(1), f(2),
        2.0 * f(0) - f(1) + 0.05 * rng.nextGaussian(),
        -1.5 * f(1) + 0.5 * f(2) + 0.05 * rng.nextGaussian())
    }
    val df = r2data.toDF("id", "f0", "f1", "f2", "y0", "y1")
    val m = new MLPMultiRegressor(Seq("f0", "f1", "f2"), Seq("y0", "y1"),
      hidden = 8, lr = 0.05, epochs = 150)
    val pred = m.fit(df).predict(df)
    assert(pred.columns.contains("prediction_0") &&
      pred.columns.contains("prediction_1"))
    for ((p, y) <- Seq(("prediction_0", "y0"), ("prediction_1", "y1"))) {
      val r2 = Metrics.r2(pred, p, y, Seq.empty).collect()(0).getDouble(0)
      assert(r2 > 0.8, s"multi-output head $p failed: r2=$r2")
    }
  }

  test("mlp: minibatch fit (batchFraction=0.1 — one tenth of the rows " +
    "aggregated per epoch) reaches the same R^2 > 0.8 bar") {
    val df = data.toDF()
    val m = new MLPRegressor(Seq("f0", "f1", "f2"), "y", hidden = 8,
      lr = 0.05, epochs = 200, batchFraction = 0.1)
    val pred = m.fit(df).predict(df)
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"minibatch MLP failed to learn: r2=$r2")
  }

  test("lstm bptt kernel: analytic gradient matches central finite " +
    "differences; kernel forward matches the distributed scorer") {
    import graft.ml.{LstmScorer, LstmStackBptt}
    val (f, h, t) = (2, 3, 4)
    val cfg = LstmStackBptt.Cfg(f, Seq(h), bidi = false)
    val sz = cfg.size
    assert(sz == LstmBpttReference.size(f, h))
    val r = new scala.util.Random(9)
    val w = Array.fill(sz)(r.nextGaussian() * 0.4)
    val x = Array.fill(t, f)(r.nextGaussian())
    val y = 0.7
    val acc = new Array[Double](sz)
    val lossV = LstmStackBptt.run(w, cfg, x, y, acc)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val wp = w.clone(); wp(i) += eps
      val wm = w.clone(); wm(i) -= eps
      def loss(wv: Array[Double]) = {
        val d = LstmStackBptt.run(wv, cfg, x, y, null) - y
        0.5 * d * d
      }
      val fd = (loss(wp) - loss(wm)) / (2 * eps)
      assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"grad mismatch at $i: analytic=${acc(i)} fd=$fd")
    }
    // the one-layer stack is the former one-layer kernel, bit for bit
    val refAcc = new Array[Double](sz)
    assert(lossV == LstmBpttReference.run(w, f, h, x, y, refAcc))
    for (i <- 0 until sz)
      assert(acc(i) == refAcc(i),
        s"grad differs from the one-layer reference at $i")
    assert(LstmStackBptt.forward(w, cfg, x) ==
      LstmBpttReference.forward(w, f, h, x))
    // kernel forward == unrolled distributed forward (same weights)
    val cols = (0 until t).flatMap(ti => (0 until f).map(fi => s"x${ti}_$fi"))
    val df = Seq(org.apache.spark.sql.Row.fromSeq(
      0L +: (0 until t).flatMap(ti => (0 until f).map(fi => x(ti)(fi))))
    ).asInstanceOf[Seq[org.apache.spark.sql.Row]]
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType) +:
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.DoubleType)))
    val sdf = spark.createDataFrame(
      spark.sparkContext.parallelize(df, 1), schema)
    val steps = cols.grouped(f).toSeq
    val Seq(layer) = LstmStackBptt.toStacked(w, cfg)
    val scored = LstmScorer.score(sdf, steps, layer)
      .select("prediction").collect()(0).getDouble(0)
    assert(math.abs(scored - LstmStackBptt.forward(w, cfg, x)) < 1e-12,
      "trainer forward and scorer disagree")
  }

  test("lstm dropout kernel (Keras dropout/recurrent_dropout, " +
    "sequence.py:123-132): with the per-gate mask sample held fixed the " +
    "analytic gradient matches finite differences; null Drop is identity") {
    import graft.ml.LstmStackBptt
    val (f, h, t) = (2, 3, 4)
    val cfg = LstmStackBptt.Cfg(f, Seq(h), bidi = false)
    val sz = cfg.size
    val r = new scala.util.Random(41)
    val w = Array.fill(sz)(r.nextGaussian() * 0.4)
    val x = Array.fill(t, f)(r.nextGaussian())
    val y = 0.7
    val drop = LstmStackBptt.Drop(in = 0.3, rec = 0.3, seed = 777L)
    val acc = new Array[Double](sz)
    val lossV = LstmStackBptt.run(w, cfg, x, y, acc, drop)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val wp = w.clone(); wp(i) += eps
      val wm = w.clone(); wm(i) -= eps
      def loss(wv: Array[Double]) = {
        val d = LstmStackBptt.run(wv, cfg, x, y, null, drop) - y
        0.5 * d * d
      }
      val fd = (loss(wp) - loss(wm)) / (2 * eps)
      assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"dropout grad mismatch at $i: analytic=${acc(i)} fd=$fd")
    }
    assert(LstmStackBptt.run(w, cfg, x, y, null) ==
      LstmStackBptt.run(w, cfg, x, y, null,
        LstmStackBptt.Drop(0.0, 0.0, 123L)),
      "zero-rate Drop must equal the deterministic forward")
    // same mask draw order and arithmetic as the former one-layer kernel
    val refAcc = new Array[Double](sz)
    assert(lossV == LstmBpttReference.run(w, f, h, x, y, refAcc, drop))
    for (i <- 0 until sz)
      assert(acc(i) == refAcc(i),
        s"dropout grad differs from the one-layer reference at $i")
    assert(LstmStackBptt.forward(w, cfg, x, drop) ==
      LstmBpttReference.forward(w, f, h, x, drop))
  }

  test("lstm: reference-default dropout fit (lstm_units=[(h, 0.01, " +
    "0.01)], sequence.py:105-106) learns AR(2) to R^2 > 0.8") {
    import graft.ml.{LSTMTrainer, Metrics}
    val r = new scala.util.Random(4)
    val series = new Array[Double](620)
    for (i <- 2 until series.length)
      series(i) = 1.4 * series(i - 1) - 0.45 * series(i - 2) +
        0.3 * r.nextGaussian()
    val rows = (4 until 600).map { i =>
      (i.toLong, series(i - 4), series(i - 3), series(i - 2), series(i - 1),
        series(i))
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
    val m = new LSTMTrainer(Seq("lag4", "lag3", "lag2", "lag1"), seqLen = 4,
      targetCol = "y", hidden = 6, lr = 0.02, epochs = 150,
      dropout = 0.01, recurrentDropout = 0.01)
    val pred = m.fit(df).predict(df)
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"dropout-default LSTM failed to learn AR(2): r2=$r2")
  }

  test("lstm: fit learns a synthetic AR(2) series to R^2 > 0.8; fitted " +
    "weights score through the distributed forward pass") {
    import graft.ml.{LSTMTrainer, Metrics}
    val r = new scala.util.Random(4)
    // near-unit-root AR(2) (roots 0.9, 0.5): one-step-ahead R^2 is fixed
    // by the coefficients — these give an attainable ~0.95, so an
    // absolute 0.8 bar is meaningful
    val series = new Array[Double](620)
    for (i <- 2 until series.length)
      series(i) = 1.4 * series(i - 1) - 0.45 * series(i - 2) +
        0.3 * r.nextGaussian()
    // lag-major windows: (lag4..lag1) predict the next value
    val rows = (4 until 600).map { i =>
      (i.toLong, series(i - 4), series(i - 3), series(i - 2), series(i - 1),
        series(i))
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
    val m = new LSTMTrainer(Seq("lag4", "lag3", "lag2", "lag1"), seqLen = 4,
      targetCol = "y", hidden = 6, lr = 0.02, epochs = 150)
    val pred = m.fit(df).predict(df)
    assert(pred.columns.contains("prediction"))
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    val rBar = {
      // attainable ceiling: the true AR coefficients
      val best = rows.map { case (_, _, _, l2, l1, y) =>
        val p = 1.4 * l1 - 0.45 * l2; (p - y) * (p - y)
      }.sum / rows.size
      val mean = rows.map(_._6).sum / rows.size
      val tot = rows.map { case (_, _, _, _, _, y) =>
        (y - mean) * (y - mean)
      }.sum / rows.size
      1.0 - best / tot
    }
    assert(r2 > 0.8,
      s"LSTM failed to learn AR(2): r2=$r2 (oracle-best=$rBar)")
  }

  test("stacked/bidi lstm bptt kernel: analytic gradient matches central " +
    "finite differences; kernel forward matches the distributed scorer") {
    import graft.ml.{LstmStackBptt, LstmScorer}
    val r = new scala.util.Random(23)
    val (f, t) = (2, 3)
    val cfgs = Seq(
      LstmStackBptt.Cfg(f, Seq(3, 2), bidi = false),
      LstmStackBptt.Cfg(f, Seq(3), bidi = true))
    for (cfg <- cfgs) {
      val sz = cfg.size
      val w = Array.fill(sz)(r.nextGaussian() * 0.4)
      val x = Array.fill(t, f)(r.nextGaussian())
      val y = 0.6
      val acc = new Array[Double](sz)
      LstmStackBptt.run(w, cfg, x, y, acc)
      val eps = 1e-6
      for (i <- 0 until sz) {
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        def loss(wv: Array[Double]) = {
          val d = LstmStackBptt.run(wv, cfg, x, y, null) - y
          0.5 * d * d
        }
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"bidi=${cfg.bidi} grad mismatch at $i: analytic=${acc(i)} fd=$fd")
      }
      // kernel forward == unrolled distributed forward (same weights)
      val cols = (0 until t).flatMap(ti =>
        (0 until f).map(fi => s"x${ti}_$fi"))
      val row = org.apache.spark.sql.Row.fromSeq(
        0L +: (0 until t).flatMap(ti => (0 until f).map(fi => x(ti)(fi))))
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType) +:
        cols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DoubleType)))
      val sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row), 1), schema)
      val steps = cols.grouped(f).toSeq
      val scored = (if (cfg.bidi) {
        val (fw, bw, wOut, bOut) = LstmStackBptt.toBidi(w, cfg)
        LstmScorer.scoreBidirectional(sdf, steps, fw, bw, wOut, bOut)
      } else LstmScorer.scoreStacked(sdf, steps,
        LstmStackBptt.toStacked(w, cfg)))
        .select("prediction").collect()(0).getDouble(0)
      assert(math.abs(scored - LstmStackBptt.forward(w, cfg, x)) < 1e-12,
        s"bidi=${cfg.bidi}: trainer forward and scorer disagree")
    }
  }

  test("stacked/bidi lstm dropout kernel: per-cell per-gate masks held " +
    "fixed — analytic gradient matches central finite differences") {
    import graft.ml.LstmStackBptt
    val r = new scala.util.Random(47)
    val (f, t) = (2, 3)
    val drop = LstmStackBptt.Drop(in = 0.3, rec = 0.3, seed = 555L)
    val cfgs = Seq(
      LstmStackBptt.Cfg(f, Seq(3, 2), bidi = false),
      LstmStackBptt.Cfg(f, Seq(3), bidi = true))
    for (cfg <- cfgs) {
      val sz = cfg.size
      val w = Array.fill(sz)(r.nextGaussian() * 0.4)
      val x = Array.fill(t, f)(r.nextGaussian())
      val y = 0.6
      val acc = new Array[Double](sz)
      LstmStackBptt.run(w, cfg, x, y, acc, drop)
      val eps = 1e-6
      for (i <- 0 until sz) {
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        def loss(wv: Array[Double]) = {
          val d = LstmStackBptt.run(wv, cfg, x, y, null, drop) - y
          0.5 * d * d
        }
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"bidi=${cfg.bidi} dropout grad mismatch at $i: " +
            s"analytic=${acc(i)} fd=$fd")
      }
      assert(LstmStackBptt.run(w, cfg, x, y, null) ==
        LstmStackBptt.run(w, cfg, x, y, null,
          LstmStackBptt.Drop(0.0, 0.0, 99L)),
        "zero-rate Drop must equal the deterministic forward")
    }
  }

  test("stacked lstm PER-LAYER dropout tuples (lstm_units=[(h,d,rd),...], " +
    "sequence.py:105,123): distinct per-layer rates gradient-check; " +
    "uniform tuples reproduce the shared-scalar masks exactly") {
    import graft.ml.LstmStackBptt
    val r = new scala.util.Random(53)
    val (f, t) = (2, 3)
    val cfg = LstmStackBptt.Cfg(f, Seq(3, 2), bidi = false)
    val sz = cfg.size
    val w = Array.fill(sz)(r.nextGaussian() * 0.4)
    val x = Array.fill(t, f)(r.nextGaussian())
    val y = 0.6
    // layer 0 drops inputs only; layer 1 drops recurrent state only
    val drop = LstmStackBptt.Drop(0.0, 0.0, 555L,
      perCell = Seq((0.4, 0.0), (0.0, 0.5)))
    val acc = new Array[Double](sz)
    LstmStackBptt.run(w, cfg, x, y, acc, drop)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val wp = w.clone(); wp(i) += eps
      val wm = w.clone(); wm(i) -= eps
      def loss(wv: Array[Double]) = {
        val d = LstmStackBptt.run(wv, cfg, x, y, null, drop) - y
        0.5 * d * d
      }
      val fd = (loss(wp) - loss(wm)) / (2 * eps)
      assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"per-layer dropout grad mismatch at $i: analytic=${acc(i)} fd=$fd")
    }
    // uniform tuples == the scalar shorthand (same rng stream, same masks)
    assert(LstmStackBptt.run(w, cfg, x, y, null,
        LstmStackBptt.Drop(0.3, 0.2, 777L)) ==
      LstmStackBptt.run(w, cfg, x, y, null,
        LstmStackBptt.Drop(0.0, 0.0, 777L,
          perCell = Seq((0.3, 0.2), (0.3, 0.2)))),
      "uniform per-layer tuples must equal the shared-scalar path")
  }

  test("lstm use_layer_norm (sequence.py:141-142): trainable LayerNorm " +
    "gradient matches finite differences (stacked AND bidi, gamma/beta " +
    "slots included); kernel forward equals the normalized scorer") {
    import graft.ml.{LstmScorer, LstmStackBptt}
    val r = new scala.util.Random(61)
    val (f, t) = (2, 3)
    val cfgs = Seq(
      LstmStackBptt.Cfg(f, Seq(3, 2), bidi = false, layerNorm = true),
      LstmStackBptt.Cfg(f, Seq(3), bidi = true, layerNorm = true))
    for (cfg <- cfgs) {
      val sz = cfg.size
      val w = Array.fill(sz)(r.nextGaussian() * 0.4)
      // non-trivial gamma/beta so the LN path is exercised off-identity
      for (l <- 0 until cfg.lnCount; i <- 0 until cfg.lnWidth(l)) {
        w(cfg.lnOff(l) + i) = 0.8 + 0.1 * i
        w(cfg.lnOff(l) + cfg.lnWidth(l) + i) = 0.05 * (i + 1)
      }
      val x = Array.fill(t, f)(r.nextGaussian())
      val y = 0.6
      val acc = new Array[Double](sz)
      LstmStackBptt.run(w, cfg, x, y, acc)
      val eps = 1e-6
      for (i <- 0 until sz) {
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        def loss(wv: Array[Double]) = {
          val d = LstmStackBptt.run(wv, cfg, x, y, null) - y
          0.5 * d * d
        }
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - acc(i)) <= 2e-5 * math.max(1.0, math.abs(fd)),
          s"bidi=${cfg.bidi} LN grad mismatch at $i: " +
            s"analytic=${acc(i)} fd=$fd")
      }
      // kernel forward == unrolled distributed forward with LstmNorm
      val cols = (0 until t).flatMap(ti =>
        (0 until f).map(fi => s"x${ti}_$fi"))
      val row = org.apache.spark.sql.Row.fromSeq(
        0L +: (0 until t).flatMap(ti => (0 until f).map(fi => x(ti)(fi))))
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType) +:
        cols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.DoubleType)))
      val sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(row), 1), schema)
      val steps = cols.grouped(f).toSeq
      val scored = (if (cfg.bidi) {
        val (fw, bw, wOut, bOut) = LstmStackBptt.toBidi(w, cfg)
        LstmScorer.scoreBidirectional(sdf, steps, fw, bw, wOut, bOut,
          LstmStackBptt.bidiNorm(w, cfg))
      } else LstmScorer.scoreStacked(sdf, steps,
        LstmStackBptt.toStacked(w, cfg), LstmStackBptt.stackNorms(w, cfg)))
        .select("prediction").collect()(0).getDouble(0)
      assert(math.abs(scored - LstmStackBptt.forward(w, cfg, x)) < 1e-10,
        s"bidi=${cfg.bidi}: LN trainer forward and scorer disagree " +
          s"(kernel=${LstmStackBptt.forward(w, cfg, x)} scored=$scored)")
    }
  }

  test("lstm multi-output (output_units > 1, base.py:46, " +
    "sequence.py:146): joint summed-mse gradient matches finite " +
    "differences through the shared trunk (incl. LN); kernel forward " +
    "equals scoreStackedMulti per output") {
    import graft.ml.{LstmScorer, LstmStackBptt}
    val r = new scala.util.Random(67)
    val (f, t) = (2, 3)
    val cfg = LstmStackBptt.Cfg(f, Seq(3, 2), bidi = false,
      layerNorm = true, out = 2)
    val sz = cfg.size
    val w = Array.fill(sz)(r.nextGaussian() * 0.4)
    for (l <- 0 until cfg.lnCount; i <- 0 until cfg.lnWidth(l))
      w(cfg.lnOff(l) + i) = 0.9 + 0.05 * i
    val x = Array.fill(t, f)(r.nextGaussian())
    val ys = Array(0.6, -0.3)
    val acc = new Array[Double](sz)
    LstmStackBptt.runMulti(w, cfg, x, ys, acc)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val wp = w.clone(); wp(i) += eps
      val wm = w.clone(); wm(i) -= eps
      def loss(wv: Array[Double]) = {
        val p = LstmStackBptt.forwardMulti(wv, cfg, x)
        0.5 * ((p(0) - ys(0)) * (p(0) - ys(0)) +
          (p(1) - ys(1)) * (p(1) - ys(1)))
      }
      val fd = (loss(wp) - loss(wm)) / (2 * eps)
      assert(math.abs(fd - acc(i)) <= 2e-5 * math.max(1.0, math.abs(fd)),
        s"multi-output grad mismatch at $i: analytic=${acc(i)} fd=$fd")
    }
    // distributed multi scorer == kernel forward, both outputs
    val cols = (0 until t).flatMap(ti => (0 until f).map(fi => s"x${ti}_$fi"))
    val row = org.apache.spark.sql.Row.fromSeq(
      0L +: (0 until t).flatMap(ti => (0 until f).map(fi => x(ti)(fi))))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType) +:
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.DoubleType)))
    val sdf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema)
    val (hw, hb) = LstmStackBptt.headMulti(w, cfg)
    val scored = LstmScorer.scoreStackedMulti(sdf, cols.grouped(f).toSeq,
      LstmStackBptt.stackCells(w, cfg), hw, hb,
      LstmStackBptt.stackNorms(w, cfg))
      .select("prediction_0", "prediction_1").collect()(0)
    val kp = LstmStackBptt.forwardMulti(w, cfg, x)
    assert(math.abs(scored.getDouble(0) - kp(0)) < 1e-10 &&
      math.abs(scored.getDouble(1) - kp(1)) < 1e-10,
      "multi scorer and kernel forward disagree")
  }

  test("lstm multi-output joint fit learns two targets over one shared " +
    "trunk to R^2 > 0.8 each, with the prediction_{i} naming contract") {
    import graft.ml.{LSTMTrainer, Metrics}
    val r = new scala.util.Random(4)
    val series = new Array[Double](620)
    for (i <- 2 until series.length)
      series(i) = 1.4 * series(i - 1) - 0.45 * series(i - 2) +
        0.3 * r.nextGaussian()
    val rows = (4 until 600).map { i =>
      (i.toLong, series(i - 4), series(i - 3), series(i - 2), series(i - 1),
        series(i),                                    // y0: AR(2) next
        0.5 * series(i - 1) - 0.8 * series(i - 2))    // y1: linear lags
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y0", "y1")
    val m = new LSTMTrainer(Seq("lag4", "lag3", "lag2", "lag1"),
      seqLen = 4, targetCol = "y0", extraTargetCols = Seq("y1"),
      hidden = 6, lr = 0.02,
      epochs = 150)
    val pred = m.fit(df).predict(df)
    assert(pred.columns.contains("prediction_0") &&
      pred.columns.contains("prediction_1"))
    val r20 = Metrics.r2(pred, "prediction_0", "y0", Seq.empty)
      .collect()(0).getDouble(0)
    val r21 = Metrics.r2(pred, "prediction_1", "y1", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r20 > 0.8 && r21 > 0.8,
      s"joint multi-output LSTM fit: r2_0=$r20 r2_1=$r21")
  }

  test("lstm use_layer_norm fit learns AR(2) to R^2 > 0.8; " +
    "use_batch_norm scoring folds pinned moving stats to the exact " +
    "per-unit affine") {
    import graft.ml.{LSTMTrainer, LstmNorm, LstmScorer, Metrics}
    val r = new scala.util.Random(4)
    val series = new Array[Double](620)
    for (i <- 2 until series.length)
      series(i) = 1.4 * series(i - 1) - 0.45 * series(i - 2) +
        0.3 * r.nextGaussian()
    val rows = (4 until 600).map { i =>
      (i.toLong, series(i - 4), series(i - 3), series(i - 2), series(i - 1),
        series(i))
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
    val lags = Seq("lag4", "lag3", "lag2", "lag1")
    val m = new LSTMTrainer(lags, seqLen = 4, targetCol = "y",
      hidden = 6, lr = 0.02, epochs = 150, layerNorm = true)
    val pred = m.fit(df).predict(df)
    assert(m.fittedNorms.size == 1 && m.fittedNorms.head.gamma.length == 6)
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"layer-norm LSTM failed to learn AR(2): r2=$r2")

    // BatchNorm-at-inference through the SCORER: a 1-step 1-unit cell
    // whose hidden value is hand-computable, then the Keras formula
    // y = gamma*(h - movingMean)/sqrt(movingVar + eps) + beta ahead of
    // the head — the pinned-moving-stats affine the use_batch_norm flag
    // scores with
    import graft.ml.LstmWeights
    val cell = LstmWeights(
      wi = Array(Array(0.4)), ui = Array(Array(0.0)), bi = Array(0.1),
      wf = Array(Array(0.2)), uf = Array(Array(0.0)), bf = Array(1.0),
      wc = Array(Array(0.7)), uc = Array(Array(0.0)), bc = Array(-0.2),
      wo = Array(Array(0.5)), uo = Array(Array(0.0)), bo = Array(0.3),
      wOut = Array(1.5), bOut = 0.25)
    val bn = LstmNorm(Array(2.0), Array(0.1), eps = 1e-3,
      movingMean = Array(0.3), movingVar = Array(4.0))
    val xv = 0.9
    def sig(z: Double) = 1.0 / (1.0 + math.exp(-z))
    val hVal = sig(0.5 * xv + 0.3) *
      math.tanh(sig(0.4 * xv + 0.1) * math.tanh(0.7 * xv - 0.2))
    val expected = 1.5 *
      (2.0 * (hVal - 0.3) / math.sqrt(4.0 + 1e-3) + 0.1) + 0.25
    val scored = LstmScorer.scoreStacked(Seq((1L, xv)).toDF("id", "x0"),
      Seq(Seq("x0")), Seq(cell), Seq(bn))
      .select("prediction").collect()(0).getDouble(0)
    assert(math.abs(scored - expected) < 1e-12,
      s"BN scoring mismatch: scored=$scored expected=$expected")
  }

  test("lstm: stacked (2-layer) and bidirectional fits learn the AR(2) " +
    "series to R^2 > 0.8 through the distributed forward pass") {
    import graft.ml.{LSTMTrainer, Metrics}
    val r = new scala.util.Random(4)
    val series = new Array[Double](620)
    for (i <- 2 until series.length)
      series(i) = 1.4 * series(i - 1) - 0.45 * series(i - 2) +
        0.3 * r.nextGaussian()
    val rows = (4 until 600).map { i =>
      (i.toLong, series(i - 4), series(i - 3), series(i - 2), series(i - 1),
        series(i))
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
    val lags = Seq("lag4", "lag3", "lag2", "lag1")
    // per-layer dropout tuples ride the stacked fit — the reference's
    // lstm_units=[(6, .01, .01), (4, .02, .02)] shape (sequence.py:105)
    val st = new LSTMTrainer(lags, seqLen = 4, targetCol = "y",
      lr = 0.02, epochs = 150, layers = Seq(6, 4),
      layerDropouts = Seq((0.01, 0.01), (0.02, 0.02)))
    val predS = st.fit(df).predict(df)
    assert(st.fittedLayers.size == 2)
    val r2s = Metrics.r2(predS, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2s > 0.8, s"stacked LSTM failed to learn AR(2): r2=$r2s")
    val bt = new LSTMTrainer(lags, seqLen = 4, targetCol = "y",
      hidden = 5, lr = 0.02, epochs = 150, bidirectional = true)
    val predB = bt.fit(df).predict(df)
    assert(bt.fittedBidi != null && bt.fittedBidi._3.length == 10)
    val r2b = Metrics.r2(predB, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2b > 0.8, s"bidi LSTM failed to learn AR(2): r2=$r2b")
  }

  test("soft spearman: tau->0 converges to the exact negative Spearman; " +
    "loose tau stays within the loss's [-1,1] range; plan broadcasts " +
    "the pairwise side") {
    val r = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val p = r.nextGaussian()
      (i.toLong, "g", p, 0.7 * p + 0.3 * r.nextGaussian())
    }
    val df = rows.toDF("id", "g", "pred", "y")
    val exact = Metrics.spearman(df, "pred", "y", Seq("g"))
      .collect()(0).getAs[Double]("spearman")
    val sharp = Metrics.softSpearman(df, "pred", "y", Seq("g"), Seq("id"),
      tau = 1e-4).collect()(0).getAs[Double]("soft_spearman_loss")
    assert(math.abs(sharp - -exact) < 1e-4,
      s"sharp soft loss $sharp != -exact ${-exact}")
    val loose = Metrics.softSpearman(df, "pred", "y", Seq("g"), Seq("id"),
      tau = 1.0).collect()(0).getAs[Double]("soft_spearman_loss")
    assert(loose <= 1.0 && loose >= -1.0 && loose < 0.0,
      s"loose tau loss out of range: $loose")
    // the n^2 expansion must be a broadcast join, not a shuffle join
    val plan = Metrics.softSpearman(df, "pred", "y", Seq("g"), Seq("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("lstm: layers=Seq(n) is honored as a one-layer fit of n units " +
    "(lstm_units=[n] config), not silently replaced by `hidden`") {
    val r = new scala.util.Random(2)
    val rows = (0 until 30).map { i =>
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian(), r.nextGaussian())
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
    val m = new LSTMTrainer(Seq("lag4", "lag3", "lag2", "lag1"),
      seqLen = 4, targetCol = "y", hidden = 8, epochs = 2,
      layers = Seq(5))
    m.fit(df)
    assert(m.fittedWeights != null && m.fittedWeights.bi.length == 5,
      s"layers=Seq(5) must train 5 units, got " +
        s"${Option(m.fittedWeights).map(_.bi.length)}")
  }

  test("binned spearman ignores rows with nulls in either column " +
    "(matching the no-rank-information semantics, not bin 0)") {
    val r = new scala.util.Random(15)
    val base = (0 until 500).map { i =>
      val p = r.nextGaussian()
      (i.toLong, "g", p, 0.7 * p + 0.3 * r.nextGaussian())
    }
    val df = base.toDF("id", "g", "pred", "y")
    // nulls on high-y rows would drag the binned estimate if aliased to
    // the lowest bin
    val withNulls = df.union(
      (0 until 200).map(i => (1000L + i, "g", r.nextGaussian() + 3.0))
        .toDF("id", "g", "y").withColumn("pred",
          org.apache.spark.sql.functions.lit(null).cast("double"))
        .select("id", "g", "pred", "y"))
    val clean = Metrics.spearmanBinned(df, "pred", "y", Seq("g"), 512)
      .collect()(0).getDouble(1)
    val nulled = Metrics.spearmanBinned(withNulls, "pred", "y", Seq("g"),
      512).collect()(0).getDouble(1)
    assert(math.abs(clean - nulled) < 1e-9,
      s"null rows changed the estimate: $clean vs $nulled")
  }

  test("binned spearman (the bounded-state giant-group scale path) " +
    "converges to the exact coefficient; plan broadcasts the sketch " +
    "and never windows") {
    val r = new scala.util.Random(12)
    val rows = (0 until 4000).flatMap { i =>
      val p = r.nextGaussian()
      Seq((i.toLong, "g1", p, 0.6 * p + 0.4 * r.nextGaussian()),
        (i.toLong, "g2", p, -0.8 * p + 0.2 * r.nextGaussian()))
    }
    val df = rows.toDF("id", "g", "pred", "y")
    val exact = Metrics.spearman(df, "pred", "y", Seq("g"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val binned = Metrics.spearmanBinned(df, "pred", "y", Seq("g"),
      bins = 512)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    for (g <- Seq("g1", "g2"))
      assert(math.abs(binned(g) - exact(g)) < 0.02,
        s"$g: binned=${binned(g)} exact=${exact(g)}")
    // scale shape: no window (no per-group total order), sketch side
    // broadcast back — state stays bounded per group
    val plan = Metrics.spearmanBinned(df, "pred", "y", Seq("g"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))

    // combined-loss variant: exact MSE + sketch-rank corr, same bound
    val exactC = Metrics.combinedLoss(df, "pred", "y", Seq("g"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val binnedC = Metrics.combinedLossBinned(df, "pred", "y", Seq("g"),
      bins = 512)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    for (g <- Seq("g1", "g2"))
      assert(math.abs(binnedC(g) - exactC(g)) < 0.02,
        s"$g: binnedC=${binnedC(g)} exactC=${exactC(g)}")
  }

  test("tsne: separated 10-D clusters stay separated in the 2-D " +
    "embedding (trustworthiness-style 5-NN purity); deterministic; " +
    "dim_i naming and out-of-sample nulls") {
    import graft.ml.{Tsne, TsneReducer}
    val r = new scala.util.Random(2)
    val centers = Array(
      Array.fill(10)(0.0), Array.fill(10)(8.0),
      Array.tabulate(10)(i => if (i % 2 == 0) 8.0 else -8.0))
    val labels = Array.tabulate(150)(_ % 3)
    val x = labels.map(l => centers(l).map(_ + r.nextGaussian()))
    val y = Tsne.embed(x, outDims = 2, perplexity = 20, iters = 400)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (u, v) => (u - v) * (u - v) }.sum
    val pure = labels.indices.count { i =>
      val nn = labels.indices.filter(_ != i)
        .sortBy(j => d2(y(i), y(j))).take(5)
      nn.count(j => labels(j) == labels(i)) >= 3
    }
    assert(pure >= 135, s"only $pure/150 points have same-cluster 5-NN " +
      "majority in the embedding")
    // determinism for a fixed seed
    val y2 = Tsne.embed(x, outDims = 2, perplexity = 20, iters = 400)
    assert(y.flatten.toSeq == y2.flatten.toSeq)
    // DataFrame surface: dim naming, out-of-sample rows get null dims
    val df = labels.indices.map { i =>
      (i.toLong, x(i)(0), x(i)(1), x(i)(2))
    }.toDF("id", "f0", "f1", "f2")
    val red = TsneReducer(Seq("f0", "f1", "f2"), "id", iters = 50,
      maxRows = 100)
    val out = red.transform(df)
    assert(red.outputNames == Seq("dim_0", "dim_1"))
    assert(out.columns.takeRight(2).toSeq == Seq("dim_0", "dim_1"))
    assert(out.where(col("dim_0").isNotNull).count() == 100)
    assert(out.count() == 150)
  }

  test("mlp: scoring with pinned weights is a pure projection " +
    "(no shuffle in the plan)") {
    val df = data.toDF()
    val m = new MLPRegressor(Seq("f0", "f1", "f2"), "y")
    val scored = df.select(m.predictColumn(QueriesML.pinned,
      Seq(col("f0"), col("f1"), col("f2"))).as("score"))
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"scoring must not shuffle:\n$plan")
    assert(scored.count() == 300)
  }

  test("pca: dim_0 captures at least as much variance as dim_1 " +
    "(dimreduction.py naming contract dim_{i})") {
    val df = data.toDF()
    val out = DimReducer(Seq("f0", "f1", "f2"), 2).fitTransform(df)
    assert(out.columns.contains("dim_0") && out.columns.contains("dim_1"))
    val r = out.agg(var_pop(col("dim_0")), var_pop(col("dim_1"))).collect()(0)
    assert(r.getDouble(0) >= r.getDouble(1))
  }

  test("pca fit invariants the q_pca dynamic oracle gates on: unit-norm " +
    "orthogonal loadings, largest-|loading| coordinate positive, " +
    "eigen-equation residual at solver precision, descending eigenvalues") {
    val df = data.toDF()
    val feats = Seq("f0", "f1", "f2")
    val k = feats.size
    val (means, loads) = DimReducer(feats, 2).fit(df)
    // driver-side covariance from the raw rows
    val rows = df.select(feats.map(c => col(c).cast("double")): _*)
      .collect().map(r => Array.tabulate(k)(i => r.getDouble(i)))
    val n = rows.length.toDouble
    val mu = Array.tabulate(k)(j => rows.map(_(j)).sum / n)
    means.zip(mu).foreach { case (m, m2) =>
      assert(math.abs(m - m2) <= 1e-9 * (math.abs(m2) + 1)) }
    val cov = Array.tabulate(k, k)((i, j) =>
      rows.map(r => (r(i) - mu(i)) * (r(j) - mu(j))).sum / n)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val lams = loads.map { v =>
      assert(math.abs(dot(v, v) - 1.0) <= 1e-9, "unit norm")
      val mx = v.indices.maxBy(i => math.abs(v(i)))
      assert(v(mx) > 0, "sign convention: largest-|loading| positive")
      val cv = Array.tabulate(k)(i => dot(cov(i), v))
      val lam = dot(v, cv)
      val resid = math.sqrt(Array.tabulate(k)(i =>
        math.pow(cv(i) - lam * v(i), 2)).sum)
      assert(resid <= 1e-9 * (lam + 1), s"eigen residual $resid at λ=$lam")
      lam
    }
    assert(math.abs(dot(loads(0), loads(1))) <= 1e-9, "orthogonal")
    assert(lams(0) >= lams(1), "descending eigenvalues")
  }

  test("embedding: nulls → zero vectors, template applied, dims from " +
    "embedder (test_feature_transformers.py:163-249)") {
    val df = Seq((1L, "ab"), (2L, null.asInstanceOf[String]), (3L, "xyz"))
      .toDF("id", "text")
    val out = EmbeddingTransformer("text", MockEmbedder.apply,
      batchSize = 2, dim = 2).transform(df)
      .orderBy("id")
      .select(col("text_embedding")).collect()
      .map(_.getSeq[Float](0).toSeq)
    assert(out(0) == Seq(2.0f, ('a' + 'b').toFloat % 100))
    assert(out(1) == Seq(0.0f, 0.0f))
    assert(out(2).head == 3.0f)
    // template: "Company sector: {}" (embedding.py:147-153)
    val tmpl = EmbeddingTransformer("text", MockEmbedder.apply,
      batchSize = 2, template = Some("S: {}"), dim = 2)
      .transform(Seq((1L, "x")).toDF("id", "text"))
      .select(col("text_embedding")).collect()(0).getSeq[Float](0)
    assert(tmpl.head == 4.0f) // "S: x".length
  }

  test("multimodal: stub decode produces fixed-dim vectors, nulls → zero") {
    import graft.multimodal.BinaryPipeline
    val df = Seq((1L, "hello"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val media = BinaryPipeline.synthesizeMedia(df, "text")
    val out = BinaryPipeline.extractFeatures(media, "media", dim = 4)
      .orderBy("id").select(col("media_features")).collect()
      .map(_.getSeq[Float](0).toSeq)
    assert(out(0).size == 4 && out(0).sum > 0)
    assert(out(1) == Seq(0.0f, 0.0f, 0.0f, 0.0f))
  }
}

/** StandardScaler / sequence reshape / row-predictor / cortex-search. */
class MetaSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("standard scaler: mean 0, pop-std 1 (keras_estimators/base.py:89-100)") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val out = graft.operators.StandardScaler(Seq("x")).transform(df)
    val r = out.agg(avg(col("x_std")), stddev_pop(col("x_std"))).collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-12 &&
      math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("sequence reshape: lag-major columns -> [seq][feat] tensor " +
    "(sequence.py:26-40)") {
    import graft.operators.SequenceReshape
    val df = Seq((1.0, 2.0, 3.0, 4.0)).toDF("a_lag2", "b_lag2", "a_lag1", "b_lag1")
    val t = df.select(SequenceReshape.toSequenceTensor(
      Seq("a_lag2", "b_lag2", "a_lag1", "b_lag1"), seqLen = 2).as("seq"))
      .collect()(0).getSeq[Seq[Double]](0)
    assert(t == Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
  }

  test("row predictor: mock fn applied per row with batching; " +
    "null inputs become empty strings (dspymator.py:361-417)") {
    val df = Seq((1L, "hello"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val mock: Map[String, String] => Map[String, String] =
      kw => Map("out" -> ("<" + kw("text") + ">"))
    val got = graft.ml.RowPredictor(Seq("text"), Seq("out"), mock,
      batchSize = 1, concurrency = 2).transform(df)
      .orderBy("id").select("out").collect().map(_.getString(0)).toSeq
    assert(got == Seq("<hello>", "<>"))
  }

  test("cortex search: returns the candidate with best validation R2 " +
    "(keras_cortex.py:96-143 shape)") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val x = rng.nextGaussian()
      MLRow(i.toLong, x, rng.nextGaussian(), 0.0, 2.0 * x)
    }
    val df = rows.toDF()
    val res = graft.ml.CortexSearch.search(df, df, Seq("f0", "f1", "f2"),
      "y", hiddenCandidates = Seq(2, 8), epochs = 60)
    assert(res.history.size == 2)
    assert(res.bestR2 == res.history.map(_._2).max)
  }
}

/** Round-2 operators: bottleneck encoder, forest, sequence scorers,
  * embedding/prediction output contracts. */
class MLSpec2 extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("bottleneck: latent codes reconstruct better than the mean " +
    "baseline; head learns a linear target (autoencoder.py:10-161)") {
    import graft.ml.BottleneckEncoder
    val rng = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      val a = rng.nextGaussian(); val b = rng.nextGaussian()
      // features on a 2-plane in 4-space + tiny noise -> 2 latents suffice
      (i.toLong, a, b, a + 0.01 * rng.nextGaussian(),
        b - a + 0.01 * rng.nextGaussian(), 3.0 * a - b)
    }
    val df = rows.toDF("id", "x0", "x1", "x2", "x3", "y")
    val model = BottleneckEncoder(Seq("x0", "x1", "x2", "x3"), 2,
      Some("y")).fit(df)
    val rec = model.reconstruct(df)
    val err = rec.select(
      avg(pow($"x0" - $"recon_0", 2.0) + pow($"x1" - $"recon_1", 2.0)
        + pow($"x2" - $"recon_2", 2.0) + pow($"x3" - $"recon_3", 2.0)))
      .collect()(0).getDouble(0)
    val base = rec.select(
      avg(pow($"x0", 2.0) + pow($"x1", 2.0) + pow($"x2", 2.0)
        + pow($"x3", 2.0))).collect()(0).getDouble(0)
    assert(err < 0.1 * base, s"recon err $err vs baseline $base")
    val r2 = graft.ml.Metrics.r2(model.predict(df), "prediction", "y", Nil)
      .collect()(0).getDouble(0)
    assert(r2 > 0.9, s"head R2 $r2")
  }

  test("forest: fit on a threshold function beats the mean baseline; " +
    "prediction output contract (tree.py:53-384 analog)") {
    import graft.ml.ForestRegressor
    val rng = new scala.util.Random(5)
    val rows = (0 until 500).map { i =>
      val a = rng.nextDouble() * 10; val b = rng.nextDouble() * 10
      (i.toLong, a, b, if (a < 5) { if (b < 3) 1.0 else 2.0 } else 4.0)
    }
    val df = rows.toDF("id", "a", "b", "y")
    val m = ForestRegressor(Seq("a", "b"), "y", numTrees = 10, maxDepth = 4)
      .fit(df)
    val out = m.predict(df)
    assert(out.columns.contains("prediction"))
    val r2 = graft.ml.Metrics.r2(out, "prediction", "y", Nil)
      .collect()(0).getDouble(0)
    assert(r2 > 0.9, s"forest R2 $r2")
  }

  test("lstm scorer: constant zero sequence yields the closed-form cell " +
    "value; batch invariance across rows") {
    import graft.ml._
    val w = QueriesML.pinnedLstm
    val df = Seq((1L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      (2L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
      .toDF("id", "q3", "d3", "q2", "d2", "q1", "d1")
    val got = LstmScorer.score(df,
      Seq(Seq("q3", "d3"), Seq("q2", "d2"), Seq("q1", "d1")), w)
      .select("prediction").collect().map(_.getDouble(0))
    assert(got(0) == got(1))
    // manual forward pass with zero inputs
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    var h = Array(0.0, 0.0); var c = Array(0.0, 0.0)
    for (t <- 0 until 3) {
      val nh = new Array[Double](2); val nc = new Array[Double](2)
      for (u <- 0 until 2) {
        def pre(wu: Array[Array[Double]], uu: Array[Array[Double]],
            bu: Array[Double]) =
          (if (t == 0) 0.0 else h(0) * uu(0)(u) + h(1) * uu(1)(u)) + bu(u)
        val i = sig(pre(w.wi, w.ui, w.bi)); val f = sig(pre(w.wf, w.uf, w.bf))
        val g = math.tanh(pre(w.wc, w.uc, w.bc))
        val o = sig(pre(w.wo, w.uo, w.bo))
        nc(u) = (if (t == 0) 0.0 else f * c(u)) + i * g
        nh(u) = o * math.tanh(nc(u))
      }
      h = nh; c = nc
    }
    val expect = h(0) * w.wOut(0) + h(1) * w.wOut(1) + w.bOut
    assert(math.abs(got(0) - expect) < 1e-12, s"${got(0)} vs $expect")
  }

  test("attention scorer: permutation-equivariant pooling — constant " +
    "steps give the single-step value") {
    import graft.ml._
    val w = QueriesML.pinnedAttn
    // all timesteps identical -> softmax uniform -> pooled == single v
    val df = Seq((1L, 0.3, 0.1, 0.3, 0.1, 0.3, 0.1))
      .toDF("id", "q3", "d3", "q2", "d2", "q1", "d1")
    val got = AttnScorer.score(df,
      Seq(Seq("q3", "d3"), Seq("q2", "d2"), Seq("q1", "d1")), w)
      .select("prediction").collect()(0).getDouble(0)
    def lin(wm: Array[Array[Double]], b: Array[Double], u: Int) =
      0.3 * wm(0)(u) + 0.1 * wm(1)(u) + b(u)
    val v = Array(lin(w.wv, w.bv, 0), lin(w.wv, w.bv, 1))
    val expect = v(0) * w.wOut(0) + v(1) * w.wOut(1) + w.bOut
    assert(math.abs(got - expect) < 1e-9, s"$got vs $expect")
  }

  test("embedding contracts: categorical_mapping template + " +
    "{f}_embed_{i} explode (embedding.py:55-60,147-196)") {
    import graft.ml.{EmbeddingTransformer, MockEmbedder}
    val df = Seq((1L, "ab", "X"), (2L, null.asInstanceOf[String], "Y"))
      .toDF("id", "t1", "t2")
    val out = EmbeddingTransformer.forFeatures(df, Seq("t1", "t2"),
      MockEmbedder.apply, batchSize = 10, dim = 2,
      categoricalMapping = Map("t2" -> "code {}"))
    val ex = EmbeddingTransformer.explodeToColumns(
      EmbeddingTransformer.explodeToColumns(out, "t1", 2), "t2", 2)
      .orderBy("id").collect()
    // t1 row1: len("ab") = 2; null -> zero vector
    assert(ex(0).getAs[Float]("t1_embed_0") == 2.0f)
    assert(ex(1).getAs[Float]("t1_embed_0") == 0.0f)
    // t2 through template "code {}" -> len("code X") = 6
    assert(ex(0).getAs[Float]("t2_embed_0") == 6.0f)
  }

  test("multi-output MLP naming: prediction vs prediction_{i} " +
    "(keras_estimators/base.py:137-150)") {
    import graft.ml.MLPRegressor
    assert(MLPRegressor.predictionNames(1) == Seq("prediction"))
    assert(MLPRegressor.predictionNames(3) ==
      Seq("prediction_0", "prediction_1", "prediction_2"))
    val outs = MLPRegressor.predictColumns(QueriesML.pinnedMulti,
      Seq(lit(1.0), lit(2.0), lit(3.0)))
    assert(outs.map(_._1) == Seq("prediction_0", "prediction_1"))
  }

  test("combined loss: equals mseW*mse + spearW*(-spearman) computed " +
    "independently (losses.py:125-189, test_losses.py:23-37)") {
    import graft.ml.Metrics
    val df = Seq((1.0, 0.9), (2.0, 2.1), (3.0, 2.5), (4.0, 4.2), (5.0, 4.9))
      .map { case (y, p) => ("g", y, p) }.toDF("g", "y", "p")
    val cl = Metrics.combinedLoss(df, "p", "y", Seq("g"), 2.0, 1.0)
      .collect()(0).getDouble(1)
    val mse = df.select(avg(pow($"p" - $"y", 2.0))).collect()(0).getDouble(0)
    val sp = Metrics.spearman(df, "y", "p", Seq("g"))
      .collect()(0).getDouble(1)
    assert(math.abs(cl - (2.0 * mse - sp)) < 1e-12)
  }
}

/** Attention-type parity (transformer.py:168-192). */
class AttentionTypeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("feature attention == temporal attention over the transposed " +
    "layout; differs from temporal on the same layout") {
    import graft.ml._
    val w = QueriesML.pinnedAttn
    val cols = Seq("a2", "b2", "a1", "b1") // 2 steps x 2 features
    val df = Seq((1L, 0.3, -0.2, 0.7, 0.4)).toDF("id" +: cols: _*)
    val temporal = TransformerRegressor(cols, 2, w, "temporal").predict(df)
      .select("prediction").collect()(0).getDouble(0)
    val feature = TransformerRegressor(cols, 2, w, "feature").predict(df)
      .select("prediction").collect()(0).getDouble(0)
    val manual = AttnScorer.score(df,
      Seq(Seq("a2", "b2"), Seq("a1", "b1")).transpose, w)
      .select("prediction").collect()(0).getDouble(0)
    assert(feature == manual)
    assert(feature != temporal)
    // cross mode demands the feature-axis arrays…
    intercept[IllegalArgumentException] {
      TransformerRegressor(cols, 2, w, "cross")
    }
    // …and with them: zero feature-axis VALUE projection contributes a
    // zero context, so cross degenerates to exactly the temporal score;
    // a non-zero one changes it
    val zeroV = w.copy(
      wqF = Array(Array(0.2, -0.1), Array(0.3, 0.1)), bqF = Array(0.1, -0.2),
      wkF = Array(Array(-0.3, 0.2), Array(0.1, 0.4)), bkF = Array(0.0, 0.1),
      wvF = Array(Array(0.0, 0.0), Array(0.0, 0.0)), bvF = Array(0.0, 0.0))
    val crossZero = TransformerRegressor(cols, 2, zeroV, "cross").predict(df)
      .select("prediction").collect()(0).getDouble(0)
    assert(crossZero == temporal,
      s"zero-value cross $crossZero != temporal $temporal")
    val liveV = zeroV.copy(
      wvF = Array(Array(0.5, -0.2), Array(0.1, 0.3)), bvF = Array(0.2, -0.1))
    val crossLive = TransformerRegressor(cols, 2, liveV, "cross").predict(df)
      .select("prediction").collect()(0).getDouble(0)
    assert(crossLive != temporal)
  }

  test("one full-width head through an identity output projection " +
    "equals the single-head scorer; two heads differ") {
    import graft.ml._
    val w = QueriesML.pinnedAttn
    val cols = Seq("a2", "b2", "a1", "b1")
    val df = Seq((1L, 0.3, -0.2, 0.7, 0.4)).toDF("id" +: cols: _*)
    val single = AttnScorer.score(df, cols.grouped(2).toSeq, w)
      .select("prediction").collect()(0).getDouble(0)
    val oneHead = AttnWeights(
      wq = null, bq = null, wk = null, bk = null, wv = null, bv = null,
      wOut = w.wOut, bOut = w.bOut,
      heads = Seq(HeadWeights(w.wq, w.bq, w.wk, w.bk, w.wv, w.bv)),
      wO = Array(Array(1.0, 0.0), Array(0.0, 1.0)), bO = Array(0.0, 0.0))
    val multi = AttnScorer.score(df, cols.grouped(2).toSeq, oneHead)
      .select("prediction").collect()(0).getDouble(0)
    assert(math.abs(multi - single) < 1e-12,
      s"identity-projected single head $multi != single-head $single")
    val twoHeads = oneHead.copy(heads = Seq(
      HeadWeights(w.wq.map(_.take(1)), w.bq.take(1), w.wk.map(_.take(1)),
        w.bk.take(1), w.wv.map(_.take(1)), w.bv.take(1)),
      HeadWeights(w.wq.map(_.drop(1)), w.bq.drop(1), w.wk.map(_.drop(1)),
        w.bk.drop(1), w.wv.map(_.drop(1)), w.bv.drop(1))))
    val two = AttnScorer.score(df, cols.grouped(2).toSeq, twoHeads)
      .select("prediction").collect()(0).getDouble(0)
    assert(two != single)
  }
}

/** Stacked LSTM (lstm_units list, sequence.py:125-131). */
class StackedLstmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("two stacked layers equal the manual layer-by-layer forward pass") {
    import graft.ml._
    val w1 = QueriesML.pinnedLstm
    // second layer consumes 2 hidden units -> 2x2 input mats work
    val w2 = LstmWeights(
      wi = w1.uf, ui = w1.uc, bi = w1.bo,
      wf = w1.ui, uf = w1.uo, bf = w1.bc,
      wc = w1.wo.map(_.clone), uc = w1.ui.map(_.clone), bc = w1.bi,
      wo = w1.uc, uo = w1.wf.map(_.clone), bo = w1.bf,
      wOut = Array(-0.3, 0.8), bOut = 0.2)
    val df = Seq((1L, 0.1, 0.5, -0.2, 0.3, 0.4, -0.1))
      .toDF("id", "q3", "d3", "q2", "d2", "q1", "d1")
    val steps = Seq(Seq("q3", "d3"), Seq("q2", "d2"), Seq("q1", "d1"))
    val got = LSTMRegressor(steps.flatten, 3, Seq(w1, w2)).predict(df)
      .select("prediction").collect()(0).getDouble(0)

    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    def layer(w: LstmWeights, xs: Seq[Array[Double]]): Seq[Array[Double]] = {
      var h = Array(0.0, 0.0); var c = Array(0.0, 0.0)
      xs.zipWithIndex.map { case (x, t) =>
        val nh = new Array[Double](2); val nc = new Array[Double](2)
        for (u <- 0 until 2) {
          def pre(wu: Array[Array[Double]], uu: Array[Array[Double]],
              bu: Array[Double]) =
            x.indices.map(f => x(f) * wu(f)(u)).sum +
              (if (t == 0) 0.0 else h(0) * uu(0)(u) + h(1) * uu(1)(u)) + bu(u)
          val i = sig(pre(w.wi, w.ui, w.bi))
          val f = sig(pre(w.wf, w.uf, w.bf))
          val g = math.tanh(pre(w.wc, w.uc, w.bc))
          val o = sig(pre(w.wo, w.uo, w.bo))
          nc(u) = (if (t == 0) 0.0 else f * c(u)) + i * g
          nh(u) = o * math.tanh(nc(u))
        }
        h = nh; c = nc
        nh
      }
    }
    val xs = Seq(Array(0.1, 0.5), Array(-0.2, 0.3), Array(0.4, -0.1))
    val h2 = layer(w2, layer(w1, xs))
    val expect = h2.last(0) * w2.wOut(0) + h2.last(1) * w2.wOut(1) + w2.bOut
    assert(math.abs(got - expect) < 1e-9, s"$got vs $expect")
  }
}

/** Bidirectional LSTM (sequence.py:136-139). */
class BidirectionalLstmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bidirectional == fwd cell on steps + bwd cell on reversed steps, " +
    "concatenated head") {
    import graft.ml._
    val wf = QueriesML.pinnedLstm
    val wb = QueriesML.pinnedLstm.copy(bi = Array(0.3, -0.2))
    val df = Seq((1L, 0.1, 0.5, -0.2, 0.3, 0.4, -0.1))
      .toDF("id", "q3", "d3", "q2", "d2", "q1", "d1")
    val steps = Seq(Seq("q3", "d3"), Seq("q2", "d2"), Seq("q1", "d1"))
    val wOut = Array(0.6, -0.4, 0.2, 0.5)
    val got = LstmScorer.scoreBidirectional(df, steps, wf, wb, wOut, 0.1)
      .select("prediction").collect()(0).getDouble(0)
    // manual: each direction scored through its own single head picking
    // out the hidden states via unit weights
    def lastH(w: LstmWeights, ss: Seq[Seq[String]], u: Int): Double =
      LstmScorer.score(df, ss,
        w.copy(wOut = Array.tabulate(2)(i => if (i == u) 1.0 else 0.0),
          bOut = 0.0))
        .select("prediction").collect()(0).getDouble(0)
    val expect = lastH(wf, steps, 0) * 0.6 + lastH(wf, steps, 1) * -0.4 +
      lastH(wb, steps.reverse, 0) * 0.2 + lastH(wb, steps.reverse, 1) * 0.5 +
      0.1
    assert(math.abs(got - expect) < 1e-9, s"$got vs $expect")
  }
}

/** PromptSearch (dspymator compile analog) + multi-pred solver naming. */
class CompileAndNamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("prompt compile keeps the candidate with the best metric " +
    "(dspymator.py:271-318 shape)") {
    import graft.ml.PromptSearch
    val df = Seq((1L, "good stuff"), (2L, "more good"), (3L, "bad"))
      .toDF("id", "text")
    // candidate 0 echoes; candidate 1 marks everything "good"
    val cands: Seq[Map[String, String] => Map[String, String]] = Seq(
      kw => Map("label" -> (if (kw("text").contains("good")) "good" else "bad")),
      kw => Map("label" -> "good"))
    val metric = (out: org.apache.spark.sql.DataFrame) =>
      out.where(col("label") === "good").count().toDouble
    val r = PromptSearch.compile(df, Seq("text"), Seq("label"), cands,
      metric, batchSize = 2, concurrency = 2)
    assert(r.history == Seq((0, 2.0), (1, 3.0)))
    assert(r.bestScore == 3.0)
  }

  test("neutralizer with MULTIPLE preds x props emits pred-major output " +
    "columns (neutralization.py:93-101)") {
    val rng = new scala.util.Random(9)
    val df = (0 until 60).map { i =>
      (i.toLong, s"e${i % 2}", rng.nextDouble(), rng.nextDouble(),
        rng.nextDouble())
    }.toDF("id", "era", "f0", "p1", "p2")
    val nt = graft.solvers.FeatureNeutralizer(Seq("p1", "p2"), Seq("f0"),
      Seq(0.5, 1.0), "era", "id")
    assert(nt.outputNames == Seq("p1_neutralized_0.5", "p1_neutralized_1.0",
      "p2_neutralized_0.5", "p2_neutralized_1.0"))
    val out = nt.transform(df)
    nt.outputNames.foreach(n => assert(out.columns.contains(n)))
    assert(out.count() == 60)
  }

  test("closed-form 2-feature PCA: decorrelated projections, variance " +
    "order, deterministic sign, agrees with MLlib PCA up to sign") {
    val rng = new scala.util.Random(11)
    val df = (0 until 400).map { _ =>
      val x = rng.nextGaussian() * 3.0
      (x + rng.nextGaussian() * 0.5, 0.7 * x + rng.nextGaussian() * 0.5)
    }.toDF("x", "y")
    val out = graft.ml.ClosedFormPCA.pca2(df, "x", "y").cache()
    val r = out.agg(var_pop(col("dim_0")), var_pop(col("dim_1")),
      corr(col("dim_0"), col("dim_1"))).collect()(0)
    assert(r.getDouble(0) >= r.getDouble(1), "dim_0 carries the top variance")
    assert(math.abs(r.getDouble(2)) < 1e-9, "projections are decorrelated")
    // sign convention: theta in (-pi/2, pi/2] means the first component's
    // x-coordinate is >= 0, so dim_0 correlates POSITIVELY with x here
    val cx = out.agg(corr(col("dim_0"), col("x"))).collect()(0).getDouble(0)
    assert(cx > 0.9)
    // cross-check against the MLlib eigensolver. MLlib projects the
    // UNCENTERED vectors (its dim_0 is shifted by the constant μ·v), so
    // compare the shift- and sign-invariant quantity: variance along
    // each component.
    val ml = graft.ml.DimReducer(Seq("x", "y"), 2).fitTransform(df)
      .agg(var_pop(col("dim_0")), var_pop(col("dim_1"))).collect()(0)
    val cl = out.agg(var_pop(col("dim_0")), var_pop(col("dim_1")))
      .collect()(0)
    for (i <- 0 to 1) {
      val rel = math.abs(ml.getDouble(i) - cl.getDouble(i)) /
        math.max(ml.getDouble(i), 1e-12)
      assert(rel < 1e-9,
        s"component $i variance: mllib=${ml.getDouble(i)} closed=${cl.getDouble(i)}")
    }
    out.unpersist()
  }
}
