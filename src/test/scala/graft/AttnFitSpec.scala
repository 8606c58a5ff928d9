package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml._

/** Transformer encoder training (transformer.py:108-245): gradient-check
  * of the flat BPTT kernel, kernel≡scorer forward agreement, and
  * fit-quality on the same AR(2) fixture the LSTM trainer learns. */
class AttnFitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("attn bptt kernel: analytic gradient matches central finite " +
    "differences over every parameter (with and without pre-norm)") {
    val (f, t, h, ff) = (2, 3, 3, 4)
    for (norm <- Seq(false, true)) {
      val sz = AttnBptt.size(f, t, h, ff, norm)
      val r = new scala.util.Random(11)
      val w = Array.fill(sz)(r.nextGaussian() * 0.4)
      val x = Array.fill(t, f)(r.nextGaussian())
      val y = 0.4
      val acc = new Array[Double](sz)
      AttnBptt.run(w, f, h, ff, x, y, acc, norm)
      val eps = 1e-6
      for (i <- 0 until sz) {
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        def loss(wv: Array[Double]) = {
          val d = AttnBptt.run(wv, f, h, ff, x, y, null, norm) - y
          0.5 * d * d
        }
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"norm=$norm grad mismatch at $i: analytic=${acc(i)} fd=$fd")
      }
    }
  }

  test("attn bptt kernel forward matches the distributed AttnScorer " +
    "full-block forward pass (with and without pre-norm)") {
    val (f, t, h, ff) = (2, 3, 3, 4)
    for (norm <- Seq(false, true)) {
      val sz = AttnBptt.size(f, t, h, ff, norm)
      val r = new scala.util.Random(13)
      val w = Array.fill(sz)(r.nextGaussian() * 0.3)
      val x = Array.fill(t, f)(r.nextGaussian())
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
      val scored = AttnScorer.score(sdf, steps,
          AttnBptt.toWeights(w, f, t, h, ff, norm))
        .select("prediction").collect()(0).getDouble(0)
      assert(math.abs(scored - AttnBptt.forward(w, f, h, ff, x, norm))
        < 1e-12, s"norm=$norm: trainer forward and scorer disagree")
    }
  }

  test("pre-norm + attention-pooling + mlp-head scorer matches an " +
    "independent imperative forward pass") {
    val w = QueriesML.pinnedKerasDefault
    val (t, f, h) = (3, 2, 2)
    val raw = Array(Array(0.3, -0.2), Array(0.7, 0.4), Array(-0.5, 0.1))
    // imperative reference forward (loops + mutable arrays — independent
    // of the expression-algebra staging)
    def ln(x: Array[Double], g: Array[Double], c: Array[Double],
        eps: Double): Array[Double] = {
      val mu = x.sum / x.length
      val va = x.map(v => (v - mu) * (v - mu)).sum / x.length
      x.indices.toArray.map(j =>
        g(j) * (x(j) - mu) / math.sqrt(va + eps) + c(j))
    }
    val xt = Array.tabulate(t) { ti =>
      Array.tabulate(h) { j =>
        (0 until f).map(i => raw(ti)(i) * w.wIn(i)(j)).sum +
          w.bIn(j) + w.posEmb(ti)(j)
      }
    }
    val n1 = xt.map(ln(_, w.preNorm.g1, w.preNorm.c1, w.preNorm.epsilon))
    def proj(x: Array[Double], m: Array[Array[Double]], b: Array[Double]) =
      Array.tabulate(b.length)(j =>
        x.indices.map(i => x(i) * m(i)(j)).sum + b(j))
    val qs = n1.map(proj(_, w.wq, w.bq))
    val ks = n1.map(proj(_, w.wk, w.bk))
    val vs = n1.map(proj(_, w.wv, w.bv))
    val zs = Array.tabulate(t) { ti =>
      val es = Array.tabulate(t)(u => math.exp(
        (0 until h).map(j => qs(ti)(j) * ks(u)(j)).sum / math.sqrt(h)))
      val den = es.sum
      Array.tabulate(h)(j =>
        (0 until t).map(u => es(u) * vs(u)(j)).sum / den)
    }
    val rs = Array.tabulate(t, h)((ti, j) => xt(ti)(j) + zs(ti)(j))
    val n2 = rs.map(ln(_, w.preNorm.g2, w.preNorm.c2, w.preNorm.epsilon))
    val fs = Array.tabulate(t) { ti =>
      val u = proj(n2(ti), w.wF1, w.bF1).map(math.max(_, 0.0))
      Array.tabulate(h)(j => rs(ti)(j) + proj(u, w.wF2, w.bF2)(j))
    }
    val n3 = fs.map(ln(_, w.preNorm.gF, w.preNorm.cF, w.preNorm.epsilon))
    val pes = n3.map(tok =>
      math.exp((0 until h).map(j => tok(j) * w.wPool(j)).sum + w.bPool))
    val pooled = Array.tabulate(h)(j =>
      (0 until t).map(ti => pes(ti) / pes.sum * n3(ti)(j)).sum)
    val hd = proj(pooled, w.mlpHead.head._1, w.mlpHead.head._2)
      .map(math.max(_, 0.0))
    val expect = hd.indices.map(u => hd(u) * w.wOut(u)).sum + w.bOut
    val cols = (0 until t).flatMap(ti => (0 until f).map(fi => s"x${ti}_$fi"))
    val df = Seq((1L, raw(0)(0), raw(0)(1), raw(1)(0), raw(1)(1),
      raw(2)(0), raw(2)(1))).toDF("id" +: cols: _*)
    val got = AttnScorer.score(df, cols.grouped(f).toSeq, w)
      .select("prediction").collect()(0).getDouble(0)
    assert(math.abs(got - expect) < 1e-10,
      s"scorer $got != imperative $expect")
  }

  test("full-architecture bptt kernel (multi-head + attention pooling + " +
    "mlp head): analytic gradient matches central finite differences " +
    "over every parameter, with and without pre-norm/pooling") {
    val r = new scala.util.Random(17)
    for ((pool, norm) <- Seq((true, true), (false, false), (true, false))) {
      val cfg = AttnBpttFull.Cfg(f = 2, t = 3, h = 4, ff = 3, heads = 2,
        keyDim = 2, pool = pool, mlp = Seq(3), norm = norm)
      val sz = cfg.size
      val w = Array.fill(sz)(r.nextGaussian() * 0.4)
      val x = Array.fill(cfg.t, cfg.f)(r.nextGaussian())
      val y = 0.3
      val acc = new Array[Double](sz)
      AttnBpttFull.run(w, cfg, x, y, acc)
      val eps = 1e-6
      for (i <- 0 until sz) {
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        def loss(wv: Array[Double]) = {
          val d = AttnBpttFull.run(wv, cfg, x, y, null) - y
          0.5 * d * d
        }
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"pool=$pool norm=$norm grad mismatch at $i: " +
            s"analytic=${acc(i)} fd=$fd")
      }
    }
  }

  test("stacked-blocks bptt kernel (num_blocks=2, transformer.py:226-227): " +
    "analytic gradient matches central finite differences over every " +
    "parameter, with and without pre-norm") {
    val r = new scala.util.Random(23)
    for (norm <- Seq(true, false)) {
      val cfg = AttnBpttFull.Cfg(f = 2, t = 3, h = 4, ff = 3, heads = 2,
        keyDim = 2, pool = true, mlp = Seq(3), norm = norm, blocks = 2)
      val sz = cfg.size
      val w = Array.fill(sz)(r.nextGaussian() * 0.4)
      val x = Array.fill(cfg.t, cfg.f)(r.nextGaussian())
      val y = 0.3
      val acc = new Array[Double](sz)
      AttnBpttFull.run(w, cfg, x, y, acc)
      val eps = 1e-6
      for (i <- 0 until sz) {
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        def loss(wv: Array[Double]) = {
          val d = AttnBpttFull.run(wv, cfg, x, y, null) - y
          0.5 * d * d
        }
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"norm=$norm blocks=2 grad mismatch at $i: " +
            s"analytic=${acc(i)} fd=$fd")
      }
    }
  }

  test("dropout bptt kernel (dropout_rate>0, transformer.py:153): with " +
    "the mask sample held fixed the analytic gradient matches finite " +
    "differences; maskSeed=0 is the identity (inference path untouched)") {
    val r = new scala.util.Random(29)
    val cfg = AttnBpttFull.Cfg(f = 2, t = 3, h = 4, ff = 3, heads = 2,
      keyDim = 2, pool = true, mlp = Seq(3), norm = true, blocks = 2,
      drop = 0.3)
    val sz = cfg.size
    val w = Array.fill(sz)(r.nextGaussian() * 0.4)
    val x = Array.fill(cfg.t, cfg.f)(r.nextGaussian())
    val y = 0.3
    val maskSeed = 12345L
    val acc = new Array[Double](sz)
    AttnBpttFull.run(w, cfg, x, y, acc, maskSeed)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val wp = w.clone(); wp(i) += eps
      val wm = w.clone(); wm(i) -= eps
      def loss(wv: Array[Double]) = {
        val d = AttnBpttFull.run(wv, cfg, x, y, null, maskSeed) - y
        0.5 * d * d
      }
      val fd = (loss(wp) - loss(wm)) / (2 * eps)
      assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"dropout grad mismatch at $i: analytic=${acc(i)} fd=$fd")
    }
    // maskSeed=0 disables dropout: same prediction as a drop=0 config
    val cfg0 = cfg.copy(drop = 0.0)
    assert(math.abs(AttnBpttFull.run(w, cfg, x, y, null, 0L) -
      AttnBpttFull.run(w, cfg0, x, y, null, 0L)) == 0.0,
      "maskSeed=0 must be the deterministic inference forward")
  }

  test("stacked-blocks bptt forward matches the distributed scoreBlocks " +
    "pass through toBlockWeights (num_blocks=2)") {
    val r = new scala.util.Random(31)
    val cfg = AttnBpttFull.Cfg(f = 2, t = 3, h = 4, ff = 3, heads = 2,
      keyDim = 2, pool = true, mlp = Seq(3), norm = true, blocks = 2)
    val w = Array.fill(cfg.size)(r.nextGaussian() * 0.3)
    val x = Array.fill(cfg.t, cfg.f)(r.nextGaussian())
    val cols = (0 until cfg.t).flatMap(ti =>
      (0 until cfg.f).map(fi => s"x${ti}_$fi"))
    val row = org.apache.spark.sql.Row.fromSeq(
      0L +: (0 until cfg.t).flatMap(ti =>
        (0 until cfg.f).map(fi => x(ti)(fi))))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType) +:
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.DoubleType)))
    val sdf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema)
    val scored = AttnScorer.scoreBlocks(sdf, cols.grouped(cfg.f).toSeq,
        AttnBpttFull.toBlockWeights(w, cfg))
      .select("prediction").collect()(0).getDouble(0)
    assert(math.abs(scored - AttnBpttFull.forward(w, cfg, x)) < 1e-12,
      "stacked-blocks trainer forward and scorer disagree")
  }

  test("full-architecture bptt kernel forward matches the distributed " +
    "AttnScorer forward pass through toWeights") {
    val r = new scala.util.Random(19)
    val cfg = AttnBpttFull.Cfg(f = 2, t = 3, h = 4, ff = 3, heads = 2,
      keyDim = 2, pool = true, mlp = Seq(3), norm = true)
    val w = Array.fill(cfg.size)(r.nextGaussian() * 0.3)
    val x = Array.fill(cfg.t, cfg.f)(r.nextGaussian())
    val cols = (0 until cfg.t).flatMap(ti =>
      (0 until cfg.f).map(fi => s"x${ti}_$fi"))
    val row = org.apache.spark.sql.Row.fromSeq(
      0L +: (0 until cfg.t).flatMap(ti =>
        (0 until cfg.f).map(fi => x(ti)(fi))))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType) +:
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.DoubleType)))
    val sdf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema)
    val scored = AttnScorer.score(sdf, cols.grouped(cfg.f).toSeq,
        AttnBpttFull.toWeights(w, cfg))
      .select("prediction").collect()(0).getDouble(0)
    assert(math.abs(scored - AttnBpttFull.forward(w, cfg, x)) < 1e-12,
      "full-architecture trainer forward and scorer disagree")
  }

  test("attn: DEFAULT-config fit (multi-head + attention pooling + mlp " +
    "head + pre-norm, transformer.py:149-157) learns AR(2) to R^2 > 0.8") {
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
    val m = new AttnTrainer(Seq("lag4", "lag3", "lag2", "lag1"), seqLen = 4,
      targetCol = "y", dModel = 8, ffDim = 16, preNorm = true, lr = 0.02,
      epochs = 200, numHeads = 4, attnPool = true, mlpUnits = Seq(8))
    val pred = m.fit(df).predict(df)
    val fw = m.fittedWeights
    assert(fw.heads.size == 4 && fw.wPool != null &&
      fw.mlpHead.size == 1 && fw.preNorm != null,
      "fitted weights carry the full default architecture")
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"default-config transformer failed to learn: r2=$r2")
  }

  test("attn: num_blocks=2 fit (transformer.py:226-227) learns AR(2) to " +
    "R^2 > 0.8 and scores through the stacked distributed pass") {
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
    val m = new AttnTrainer(Seq("lag4", "lag3", "lag2", "lag1"), seqLen = 4,
      targetCol = "y", dModel = 8, ffDim = 16, preNorm = true, lr = 0.02,
      epochs = 200, numHeads = 4, attnPool = true, mlpUnits = Seq(8),
      numBlocks = 2)
    val pred = m.fit(df).predict(df)
    assert(m.fittedBlocks.size == 2 &&
      m.fittedBlocks.head.wIn != null && m.fittedBlocks(1).wIn == null &&
      m.fittedBlocks(1).wPool != null,
      "two encoder blocks: first projects the input, last pools")
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"num_blocks=2 transformer failed to learn: r2=$r2")
  }

  test("attn: reference-default dropout fit (dropout_rate=0.1, " +
    "transformer.py:153) still learns AR(2) to R^2 > 0.75") {
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
    val m = new AttnTrainer(Seq("lag4", "lag3", "lag2", "lag1"), seqLen = 4,
      targetCol = "y", dModel = 8, ffDim = 16, preNorm = true, lr = 0.02,
      epochs = 200, numHeads = 4, attnPool = true, mlpUnits = Seq(8),
      dropoutRate = 0.1)
    val pred = m.fit(df).predict(df)
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.75, s"dropout-default transformer failed to learn: r2=$r2")
  }

  test("attn: fit learns the synthetic AR(2) series to R^2 > 0.8; " +
    "fitted weights score through the distributed forward pass") {
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
    val m = new AttnTrainer(Seq("lag4", "lag3", "lag2", "lag1"), seqLen = 4,
      targetCol = "y", dModel = 6, ffDim = 12, lr = 0.02, epochs = 200)
    val pred = m.fit(df).predict(df)
    assert(pred.columns.contains("prediction"))
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"transformer failed to learn AR(2): r2=$r2")
    // the pre-norm default architecture trains too, and its fitted
    // weights carry the LayerNorms into the distributed scorer
    val mn = new AttnTrainer(Seq("lag4", "lag3", "lag2", "lag1"),
      seqLen = 4, targetCol = "y", dModel = 6, ffDim = 12, preNorm = true,
      lr = 0.02, epochs = 200)
    val predN = mn.fit(df).predict(df)
    assert(mn.fittedWeights.preNorm != null)
    val r2n = Metrics.r2(predN, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2n > 0.8, s"pre-norm transformer failed to learn: r2=$r2n")
  }

  test("attn multi-output (output_units > 1, base.py:46, " +
    "transformer.py:236): joint summed-mse gradient matches finite " +
    "differences through the full architecture; kernel forward equals " +
    "scoreBlocksMulti per output") {
    val r = new scala.util.Random(71)
    val cfg = AttnBpttFull.Cfg(f = 2, t = 3, h = 4, ff = 3, heads = 2,
      keyDim = 2, pool = true, mlp = Seq(3), norm = true, out = 2)
    val sz = cfg.size
    val w = Array.fill(sz)(r.nextGaussian() * 0.4)
    val x = Array.fill(cfg.t, cfg.f)(r.nextGaussian())
    val ys = Array(0.3, -0.4)
    val acc = new Array[Double](sz)
    AttnBpttFull.runMulti(w, cfg, x, ys, acc)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val wp = w.clone(); wp(i) += eps
      val wm = w.clone(); wm(i) -= eps
      def loss(wv: Array[Double]) = {
        val p = AttnBpttFull.forwardMulti(wv, cfg, x)
        0.5 * ((p(0) - ys(0)) * (p(0) - ys(0)) +
          (p(1) - ys(1)) * (p(1) - ys(1)))
      }
      val fd = (loss(wp) - loss(wm)) / (2 * eps)
      assert(math.abs(fd - acc(i)) <= 2e-5 * math.max(1.0, math.abs(fd)),
        s"multi-output grad mismatch at $i: analytic=${acc(i)} fd=$fd")
    }
    // distributed multi scorer == kernel forward, both outputs
    val cols = (0 until cfg.t).flatMap(ti =>
      (0 until cfg.f).map(fi => s"x${ti}_$fi"))
    val row = org.apache.spark.sql.Row.fromSeq(
      0L +: (0 until cfg.t).flatMap(ti =>
        (0 until cfg.f).map(fi => x(ti)(fi))))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType) +:
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.DoubleType)))
    val sdf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema)
    val (hw, hb) = AttnBpttFull.headMulti(w, cfg)
    val scored = AttnScorer.scoreBlocksMulti(sdf, cols.grouped(cfg.f).toSeq,
      AttnBpttFull.toBlockWeights(w, cfg), hw, hb)
      .select("prediction_0", "prediction_1").collect()(0)
    val kp = AttnBpttFull.forwardMulti(w, cfg, x)
    assert(math.abs(scored.getDouble(0) - kp(0)) < 1e-10 &&
      math.abs(scored.getDouble(1) - kp(1)) < 1e-10,
      "multi scorer and kernel forward disagree")
  }

  test("attn multi-output joint fit learns two targets over one shared " +
    "encoder to R^2 > 0.8 each, with the prediction_{i} naming contract") {
    val r = new scala.util.Random(4)
    val series = new Array[Double](620)
    for (i <- 2 until series.length)
      series(i) = 1.4 * series(i - 1) - 0.45 * series(i - 2) +
        0.3 * r.nextGaussian()
    val rows = (4 until 600).map { i =>
      (i.toLong, series(i - 4), series(i - 3), series(i - 2), series(i - 1),
        series(i),
        0.5 * series(i - 1) - 0.8 * series(i - 2))
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y0", "y1")
    val m = new AttnTrainer(Seq("lag4", "lag3", "lag2", "lag1"),
      seqLen = 4, targetCol = "y0", extraTargetCols = Seq("y1"),
      dModel = 6, ffDim = 12,
      lr = 0.02, epochs = 200)
    val pred = m.fit(df).predict(df)
    assert(pred.columns.contains("prediction_0") &&
      pred.columns.contains("prediction_1"))
    val r20 = Metrics.r2(pred, "prediction_0", "y0", Seq.empty)
      .collect()(0).getDouble(0)
    val r21 = Metrics.r2(pred, "prediction_1", "y1", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r20 > 0.8 && r21 > 0.8,
      s"joint multi-output transformer fit: r2_0=$r20 r2_1=$r21")
  }

  test("cross bptt kernel (attention_type=cross, transformer.py:51-90): " +
    "analytic gradient matches central finite differences over every " +
    "parameter incl. the feature-axis q/k/v (with and without pre-norm)") {
    val (f, t, h, ff) = (2, 3, 3, 4)
    for (norm <- Seq(false, true)) {
      val sz = AttnBptt.size(f, t, h, ff, norm, cross = true)
      val r = new scala.util.Random(47)
      val w = Array.fill(sz)(r.nextGaussian() * 0.4)
      val x = Array.fill(t, f)(r.nextGaussian())
      val y = 0.4
      val acc = new Array[Double](sz)
      AttnBptt.run(w, f, h, ff, x, y, acc, norm, cross = true)
      val eps = 1e-6
      for (i <- 0 until sz) {
        val wp = w.clone(); wp(i) += eps
        val wm = w.clone(); wm(i) -= eps
        def loss(wv: Array[Double]) = {
          val d = AttnBptt.run(wv, f, h, ff, x, y, null, norm,
            cross = true) - y
          0.5 * d * d
        }
        val fd = (loss(wp) - loss(wm)) / (2 * eps)
        assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
          s"norm=$norm cross grad mismatch at $i: analytic=${acc(i)} fd=$fd")
      }
    }
  }

  test("cross bptt kernel forward matches the distributed scorer's " +
    "dual-axis cross stages through toWeights") {
    val (f, t, h, ff) = (2, 3, 3, 4)
    for (norm <- Seq(false, true)) {
      val sz = AttnBptt.size(f, t, h, ff, norm, cross = true)
      val r = new scala.util.Random(53)
      val w = Array.fill(sz)(r.nextGaussian() * 0.3)
      val x = Array.fill(t, f)(r.nextGaussian())
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
      val ws = AttnBptt.toWeights(w, f, t, h, ff, norm, cross = true)
      assert(ws.wqF != null && ws.bvF != null,
        "cross toWeights must carry the feature-axis arrays")
      val scored = AttnScorer.score(sdf, cols.grouped(f).toSeq, ws)
        .select("prediction").collect()(0).getDouble(0)
      assert(math.abs(scored -
        AttnBptt.forward(w, f, h, ff, x, norm, cross = true)) < 1e-12,
        s"norm=$norm: cross trainer forward and scorer disagree")
    }
  }

  test("attn: attention_type=cross fit (dual-axis, transformer.py:168-172) " +
    "learns a two-feature lag mix to R^2 > 0.8; fitted weights score " +
    "through TransformerRegressor(cross)") {
    val r = new scala.util.Random(9)
    val n = 640
    val a = Array.fill(n)(r.nextGaussian())
    val b = Array.fill(n)(r.nextGaussian())
    val rows = (3 until 600).map { i =>
      (i.toLong, a(i - 3), b(i - 3), a(i - 2), b(i - 2), a(i - 1), b(i - 1),
        0.8 * a(i - 1) - 0.5 * b(i - 2) + 0.3 * a(i - 3) * b(i - 1))
    }
    val lagCols = Seq("a3", "b3", "a2", "b2", "a1", "b1")
    val df = rows.toDF("id" +: lagCols :+ "y": _*)
    val m = new AttnTrainer(lagCols, seqLen = 3, targetCol = "y",
      dModel = 6, ffDim = 12, preNorm = true, lr = 0.02, epochs = 200,
      attentionType = "cross")
    val pred = m.fit(df).predict(df)
    assert(m.fittedWeights.wqF != null,
      "cross fit must produce the feature-axis q/k/v")
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"cross-attention fit failed to learn: r2=$r2")
    // the reference-shaped estimator surface scores the same fit: the
    // trainer un-standardizes (affine), so the two predictions must be
    // perfectly correlated
    val viaReg = TransformerRegressor(lagCols, seqLen = 3,
      m.fittedWeights, attentionType = "cross").predict(df)
      .select("id", "prediction").withColumnRenamed("prediction", "raw")
    val joined = pred.select("id", "prediction").join(viaReg, "id")
    val corr = joined.select(org.apache.spark.sql.functions
      .corr("prediction", "raw")).collect()(0).getDouble(0)
    assert(corr > 1.0 - 1e-9,
      s"TransformerRegressor(cross) disagrees with the trainer: corr=$corr")
  }

  test("attn: attention_type=feature fit (iTransformer, " +
    "transformer.py:179-186) trains the kernels over the transposed " +
    "token layout to R^2 > 0.8, incl. the full-architecture composition") {
    val r = new scala.util.Random(9)
    val n = 640
    val a = Array.fill(n)(r.nextGaussian())
    val b = Array.fill(n)(r.nextGaussian())
    val rows = (3 until 600).map { i =>
      (i.toLong, a(i - 3), b(i - 3), a(i - 2), b(i - 2), a(i - 1), b(i - 1),
        0.8 * a(i - 1) - 0.5 * b(i - 2) + 0.3 * a(i - 3) * b(i - 1))
    }
    val lagCols = Seq("a3", "b3", "a2", "b2", "a1", "b1")
    val df = rows.toDF("id" +: lagCols :+ "y": _*)
    // reduced kernel over the transposed layout
    val m = new AttnTrainer(lagCols, seqLen = 3, targetCol = "y",
      dModel = 6, ffDim = 12, lr = 0.02, epochs = 200,
      attentionType = "feature")
    val pred = m.fit(df).predict(df)
    // feature-mode weight shapes: wIn reads seqLen-wide tokens, posEmb
    // has one row per FEATURE token
    assert(m.fittedWeights.wIn.length == 3 &&
      m.fittedWeights.posEmb.length == 2,
      "feature-mode weights must be shaped for the transposed layout")
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.8, s"feature-attention fit failed to learn: r2=$r2")
    // composes with the full-architecture kernel (multi-head + pooling)
    val mf = new AttnTrainer(lagCols, seqLen = 3, targetCol = "y",
      dModel = 6, ffDim = 12, preNorm = true, lr = 0.02, epochs = 200,
      numHeads = 2, attnPool = true, mlpUnits = Seq(6),
      attentionType = "feature")
    val predF = mf.fit(df).predict(df)
    val r2f = Metrics.r2(predF, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2f > 0.8, s"feature full-architecture fit: r2=$r2f")
  }
}
