package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml._

/** Rank-based training objectives (losses.py:22-189): gradient
  * correctness of the soft-Spearman batch kernel and trained-model
  * superiority of loss="combined" over MSE-only on a rank fixture. */
class RankLossSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("soft spearman batch gradient matches central finite differences") {
    val r = new scala.util.Random(13)
    val n = 12
    val p = Array.fill(n)(r.nextGaussian())
    val y = Array.fill(n)(r.nextGaussian())
    for (tau <- Seq(1.0, 0.3)) {
      val g = RankLoss.softSpearmanGrad(p, y, tau)
      val eps = 1e-6
      for (i <- 0 until n) {
        val pp = p.clone(); pp(i) += eps
        val pm = p.clone(); pm(i) -= eps
        val fd = (RankLoss.softSpearmanLoss(pp, y, tau) -
          RankLoss.softSpearmanLoss(pm, y, tau)) / (2 * eps)
        assert(math.abs(fd - g(i)) <= 1e-6 * math.max(1.0, math.abs(fd)),
          s"tau=$tau grad mismatch at $i: analytic=${g(i)} fd=$fd")
      }
    }
  }

  test("soft spearman gradient sums to zero (the loss is invariant to " +
    "a constant shift of all predictions, so the gradient has no " +
    "component along the all-ones direction)") {
    val r = new scala.util.Random(55)
    for (trial <- 0 until 5) {
      val n = 8 + trial * 7
      val p = Array.fill(n)(r.nextGaussian() * (1 + trial))
      val y = Array.fill(n)(r.nextGaussian())
      for (tau <- Seq(1.0, 0.3, 0.05)) {
        val g = RankLoss.softSpearmanGrad(p, y, tau)
        val mag = g.map(math.abs).max.max(1e-12)
        assert(math.abs(g.sum) <= 1e-9 * n * mag,
          s"n=$n tau=$tau: gradient sum ${g.sum} not ~0 (max |g|=$mag)")
      }
    }
  }

  test("reference fixtures (tests/test_losses.py:12-37): spearman loss " +
    "is negative for a positively-ordered pair; combined decomposes as " +
    "mse_weight*mse + spearman_weight*spearman") {
    // test_spearman_correlation_loss_negative, tau=1e-2
    val yT = Array(1.0, 2.0, 3.0, 4.0)
    val yP = Array(1.0, 2.0, 2.0, 4.0)
    assert(RankLoss.softSpearmanLoss(yP, yT, 1e-2) < 0)
    // test_combined_loss_positive: defaults mse_weight=2, spearman_weight=1
    val p2 = Array(0.9, 2.1, 2.5, 4.2)
    val (_, combined) = RankLoss.combinedGrad(p2, yT, 1e-3, 2.0, 1.0)
    val mse = p2.indices.map(i =>
      (p2(i) - yT(i)) * (p2(i) - yT(i))).sum / 4.0
    val expected = 2.0 * mse + 1.0 * RankLoss.softSpearmanLoss(p2, yT, 1e-3)
    assert(math.abs(combined - expected) <= 1e-5 * math.abs(expected))
  }

  test("combined gradient reduces to the MSE gradient at spW=0 and " +
    "includes both terms otherwise") {
    val p = Array(0.2, -0.5, 1.1, 0.0)
    val y = Array(0.0, -0.4, 0.9, 0.3)
    val (gm, lm) = RankLoss.combinedGrad(p, y, 1.0, 1.0, 0.0)
    for (i <- p.indices)
      assert(math.abs(gm(i) - 2.0 * (p(i) - y(i)) / p.length) < 1e-12)
    assert(math.abs(lm - p.indices.map(i =>
      (p(i) - y(i)) * (p(i) - y(i))).sum / p.length) < 1e-12)
    val (gc, lc) = RankLoss.combinedGrad(p, y, 1.0, 2.0, 1.0)
    val gs = RankLoss.softSpearmanGrad(p, y, 1.0)
    for (i <- p.indices)
      assert(math.abs(gc(i) - (2.0 * gm(i) + gs(i))) < 1e-12)
    assert(math.abs(lc - (2.0 * lm +
      RankLoss.softSpearmanLoss(p, y, 1.0))) < 1e-12)
  }

  test("surrogate-target injection: lstm trained with loss=combined at " +
    "spearmanWeight=0, mseWeight=0.5 reproduces the plain MSE path " +
    "(same kernel, same weights) — the delta-linearity identity") {
    val r = new scala.util.Random(6)
    val rows = (0 until 40).map { i =>
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian(), r.nextGaussian())
    }
    // single partition + rankBatch ≥ n → ONE batch: dp_i = (p_i−y_i)/n,
    // exactly the row-normalized MSE gradient
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
      .repartition(1)
    def weights(loss: String) = {
      val m = new LSTMTrainer(Seq("lag4", "lag3", "lag2", "lag1"),
        seqLen = 4, targetCol = "y", hidden = 3, lr = 0.02, epochs = 10,
        loss = loss, mseWeight = 0.5, spearmanWeight = 0.0,
        rankBatch = 64)
      m.fit(df).fittedWeights
    }
    val wm = weights("mse"); val wc = weights("combined")
    (wm.wOut zip wc.wOut).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"wOut diverged: $a vs $b")
    }
    assert(math.abs(wm.bOut - wc.bOut) < 1e-6)
    (wm.wi.flatten[Double] zip wc.wi.flatten[Double]).foreach {
      case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"wi diverged: $a vs $b")
    }
  }

  test("attn trained with loss=combined at spearmanWeight=0 reproduces " +
    "the MSE path through the transformer kernel") {
    val r = new scala.util.Random(9)
    val rows = (0 until 30).map { i =>
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian(), r.nextGaussian())
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
      .repartition(1)
    def weights(loss: String) = {
      val m = new AttnTrainer(Seq("lag4", "lag3", "lag2", "lag1"),
        seqLen = 4, targetCol = "y", dModel = 4, ffDim = 6, lr = 0.02,
        epochs = 5, loss = loss, mseWeight = 0.5, spearmanWeight = 0.0,
        rankBatch = 64)
      m.fit(df).fittedWeights
    }
    val wm = weights("mse"); val wc = weights("combined")
    (wm.wOut zip wc.wOut).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"wOut diverged: $a vs $b")
    }
    assert(math.abs(wm.bOut - wc.bOut) < 1e-6)
  }

  test("lstm with loss=combined beats MSE-only on the ORDERING of a " +
    "heavy-tailed sequence target") {
    val r = new scala.util.Random(31)
    val rows = (0 until 300).map { i =>
      val l1 = r.nextGaussian()
      val ramp = math.max(l1 - 1.2, 0.0)
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(), l1,
        500.0 * ramp * ramp + math.tanh(4.0 * l1) +
          0.001 * r.nextGaussian())
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
    def spearmanOf(loss: String): Double = {
      val m = new LSTMTrainer(Seq("lag4", "lag3", "lag2", "lag1"),
        seqLen = 4, targetCol = "y", hidden = 8, lr = 0.03, epochs = 150,
        loss = loss, mseWeight = 1.0, spearmanWeight = 2.0,
        rankTau = 0.3, rankBatch = 64)
      val pred = m.fit(df).predict(df)
      Metrics.spearman(pred, "prediction", "y", Seq.empty)
        .collect()(0).getDouble(0)
    }
    val sMse = spearmanOf("mse")
    val sComb = spearmanOf("combined")
    info(s"exact Spearman: mse-only=$sMse combined=$sComb")
    assert(sComb > sMse,
      s"combined ($sComb) should out-rank mse-only ($sMse)")
    assert(sComb > 0.6, s"lstm rank training failed to order: $sComb")
  }

  test("mlp with loss=combined beats MSE-only on exact Spearman for a " +
    "heavy-tailed target (the rank-preservation fixture the reference's " +
    "CombinedLoss exists for)") {
    val r = new scala.util.Random(21)
    // a rare huge-magnitude ramp (f0 > 1.2) dominates squared error
    // while the bulk ordering lives in a low-amplitude tanh: an
    // MSE-trained net fits the ramp and leaves the bulk nearly flat
    // (ordered by noise), the rank term weights all pairs equally
    val rows = (0 until 300).map { i =>
      val f0 = r.nextGaussian()
      val ramp = math.max(f0 - 1.2, 0.0)
      (i.toLong, f0, r.nextGaussian(), r.nextGaussian(),
        500.0 * ramp * ramp + math.tanh(4.0 * f0) +
          0.001 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    def spearmanOf(loss: String): Double = {
      val m = new MLPRegressor(Seq("f0", "f1", "f2"), "y", hidden = 8,
        lr = 0.05, epochs = 120, loss = loss, rankTau = 0.3,
        rankBatch = 64)
      val pred = m.fit(df).predict(df)
      Metrics.spearman(pred, "prediction", "y", Seq.empty)
        .collect()(0).getDouble(0)
    }
    val sMse = spearmanOf("mse")
    val sComb = spearmanOf("combined")
    info(s"exact Spearman: mse-only=$sMse combined=$sComb")
    assert(sComb > sMse,
      s"combined ($sComb) should out-rank mse-only ($sMse)")
    assert(sComb > 0.9, s"combined loss failed to learn ordering: $sComb")
  }

  test("sample_weight composes with the rank losses (Keras scalar-loss " +
    "weighted reduction = batch mean weight): unit weights reproduce the " +
    "unweighted fit exactly; zero weights freeze the init") {
    val r = new scala.util.Random(43)
    val rows = (0 until 120).map { i =>
      val f0 = r.nextGaussian()
      (i.toLong, f0, r.nextGaussian(),
        math.tanh(2.0 * f0) + 0.01 * r.nextGaussian())
    }
    def withW(wv: Double) = rows.map { case (id, f0, f1, y) =>
      (id, f0, f1, y, wv)
    }.toDF("id", "f0", "f1", "y", "w")
    def fitW(df: org.apache.spark.sql.DataFrame,
        wc: Option[String], eps: Int = 40) =
      new MLPRegressor(Seq("f0", "f1"), "y", hidden = 4, lr = 0.05,
        epochs = eps, loss = "combined", rankTau = 0.3, rankBatch = 32,
        weightCol = wc).fit(df).fittedWeights
    // delta-linearity at w ≡ 1: the weighted batch gradient IS the
    // unweighted one, so the trajectories coincide (up to ulp noise from
    // the literal-vs-column weight plan changing the y-stats summation
    // order — 1e-12 relative over 40 epochs only holds if the gradients
    // are semantically identical)
    val w1 = fitW(withW(1.0), Some("w"))
    val wNone = fitW(withW(1.0), None)
    (w1.w2 zip wNone.w2).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-12 * math.max(1.0, math.abs(b)),
        s"unit-weight fit diverged from unweighted: $a vs $b")
    }
    // w ≡ 0: every batch's mean weight is 0 → zero gradient → the
    // fitted weights are exactly the (seeded) init
    val w0 = fitW(withW(0.0), Some("w"))
    val init = fitW(withW(1.0), None, eps = 0)
    (w0.w2 zip init.w2).foreach { case (a, b) =>
      assert(a == b, s"zero-weight fit moved off the init: $a vs $b")
    }
    (w0.w1.flatten[Double] zip init.w1.flatten[Double]).foreach {
      case (a, b) =>
        assert(a == b, s"zero-weight fit moved off the init: $a vs $b")
    }
  }

  test("multi-output rank loss (the reference flattens (batch, out) to " +
    "ONE ranked vector, losses.py:67-69): MLPMultiRegressor trained with " +
    "loss=combined at spearmanWeight=0, mseWeight=out/2 reproduces the " +
    "joint-mse path — the flattened delta-linearity identity") {
    val r = new scala.util.Random(17)
    val rows = (0 until 40).map { i =>
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian(), r.nextGaussian())
    }
    // single partition + rankBatch ≥ n → ONE batch of n·out flattened
    // elements: dp_{i,o} = mseW·2·d_{i,o}/(n·out); the joint-mse path
    // normalizes Σ_o d_o∇ by n, so mseW = out/2 makes them equal
    val df = rows.toDF("id", "f0", "f1", "f2", "y0", "y1").repartition(1)
    def weights(loss: String) =
      new MLPMultiRegressor(Seq("f0", "f1", "f2"), Seq("y0", "y1"),
        hidden = 4, lr = 0.02, epochs = 10, loss = loss, mseWeight = 1.0,
        spearmanWeight = 0.0, rankBatch = 64).fit(df).fittedWeights
    val wm = weights("mse"); val wc = weights("combined")
    (wm.w2.flatten[Double] zip wc.w2.flatten[Double]).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-6,
        s"multi w2 diverged: $a vs $b")
    }
    (wm.w1.flatten[Double] zip wc.w1.flatten[Double]).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-6,
        s"multi w1 diverged: $a vs $b")
    }
    (wm.b2 zip wc.b2).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"multi b2 diverged: $a vs $b")
    }
  }

  test("multi-output flattened identity holds for the deep MLP and the " +
    "transformer multi trainers (the SeqAdam.runMulti injection path)") {
    val r = new scala.util.Random(23)
    val rows = (0 until 30).map { i =>
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian(), r.nextGaussian(), r.nextGaussian())
    }
    val df = rows.toDF("id", "lag4", "lag3", "lag2", "lag1", "y0", "y1")
      .repartition(1)
    def attnW(loss: String) =
      new AttnTrainer(Seq("lag4", "lag3", "lag2", "lag1"),
        seqLen = 4, targetCol = "y0", extraTargetCols = Seq("y1"),
        dModel = 4, ffDim = 6,
        lr = 0.02, epochs = 5, loss = loss, mseWeight = 1.0,
        spearmanWeight = 0.0, rankBatch = 64).fit(df).fittedHead
    val (hwM, hbM) = attnW("mse"); val (hwC, hbC) = attnW("combined")
    (hwM.flatten[Double] zip hwC.flatten[Double]).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"attn multi head diverged: $a vs $b")
    }
    (hbM zip hbC).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"attn multi bias diverged: $a vs $b")
    }
    def deepW(loss: String) =
      new DeepMLPRegressor(Seq("lag4", "lag3", "lag2", "lag1"),
        "y0", extraTargetCols = Seq("y1"), layers = Seq(4), lr = 0.02,
        epochs = 10,
        loss = loss, mseWeight = 1.0, spearmanWeight = 0.0,
        rankBatch = 64).fit(df).fittedFlat
    (deepW("mse") zip deepW("combined")).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"deep multi diverged: $a vs $b")
    }
  }

  test("multi-output flattened identity holds for the soft forest and " +
    "both autoencoder target heads (forest: mseW=out/2 vs the " +
    "row-normalized joint-mse; AEs: mseW=1, the kernels' internal " +
    "1/out scaling)") {
    val r = new scala.util.Random(29)
    val rows = (0 until 40).map { i =>
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian(), r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y0", "y1").repartition(1)
    // soft NDF: per-output deltas are NOT out-normalized in the kernel,
    // so the identity weight is out/2 (the MLPMultiRegressor relation)
    def forest(loss: String) =
      new SoftNdfRegressor(Seq("f0", "f1", "f2"), "y0",
        extraTargetCols = Seq("y1"), numTrees = 2, depth = 2, lr = 0.05,
        epochs = 5, batchFraction = 1.0, loss = loss, mseWeight = 1.0,
        spearmanWeight = 0.0, rankBatch = 64).fit(df)
    val fm = forest("mse"); val fc = forest("combined")
    (fm.trees zip fc.trees).foreach { case (a, b) =>
      (a.wDec.flatten[Double] zip b.wDec.flatten[Double]).foreach {
        case (x, y2) => assert(math.abs(x - y2) < 1e-6,
          s"forest wDec diverged: $x vs $y2")
      }
      (a.piM.flatten[Double] zip b.piM.flatten[Double]).foreach {
        case (x, y2) => assert(math.abs(x - y2) < 1e-6,
          s"forest piM diverged: $x vs $y2")
      }
    }
    // joint AE: the kernel's target backward carries 2·tw/out, so the
    // identity weight is mseWeight = 1
    // one stage's Dense matrix (row-major [in][out]) of a flat AE kernel
    def mat(w: Array[Double], c: DeepAeKernel.Cfg, s: Int): Array[Double] =
      w.slice(c.stageOff(s),
        c.stageOff(s) + c.stages(s).nIn * c.stages(s).nOut)
    def ae(loss: String) =
      new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y0",
        extraTargetCols = Seq("y1"), encoderUnits = Seq(4), latentDim = 2,
        headUnits = Seq(3), lr = 0.02, epochs = 5, batchFraction = 1.0,
        targetLoss = loss, mseWeight = 1.0, spearmanWeight = 0.0,
        rankBatch = 64).fit(df)
    val am = ae("mse"); val ac = ae("combined")
    val aHead = am.kernelCfg.stages.size - 1
    (mat(am.fittedWeights, am.kernelCfg, aHead) zip
      mat(ac.fittedWeights, ac.kernelCfg, aHead)).foreach {
      case (x, y2) => assert(math.abs(x - y2) < 1e-6,
        s"ae head diverged: $x vs $y2")
    }
    (mat(am.fittedWeights, am.kernelCfg, 0) zip
      mat(ac.fittedWeights, ac.kernelCfg, 0)).foreach {
      case (x, y2) => assert(math.abs(x - y2) < 1e-6,
        s"ae encoder diverged: $x vs $y2")
    }
    // BN AE: both paths batch identically (shuffledBatches at batchSize),
    // so the identity holds per batch at mseWeight = 1 for ANY batch mix
    def bnAe(loss: String) =
      new DeepBnAutoencoder(Seq("f0", "f1", "f2"), "y0",
        extraTargetCols = Seq("y1"), encoderUnits = Seq(4), latentDim = 2,
        headUnits = Seq(3), lr = 0.02, epochs = 5, batchFraction = 1.0,
        batchSize = 16, targetLoss = loss, mseWeight = 1.0,
        spearmanWeight = 0.0).fit(df)
    val bm = bnAe("mse"); val bc = bnAe("combined")
    val bHead = bm.cfg.stages.size - 1
    (mat(bm.fittedWeights, bm.cfg, bHead) zip
      mat(bc.fittedWeights, bc.cfg, bHead)).foreach {
      case (x, y2) => assert(math.abs(x - y2) < 1e-6,
        s"bn-ae head diverged: $x vs $y2")
    }
    (mat(bm.fittedWeights, bm.cfg, 0) zip
      mat(bc.fittedWeights, bc.cfg, 0)).foreach {
      case (x, y2) => assert(math.abs(x - y2) < 1e-6,
        s"bn-ae encoder diverged: $x vs $y2")
    }
  }

  test("multi-output mlp with loss=combined beats MSE-only on the " +
    "objective the reference's flatten semantics actually optimizes — " +
    "the JOINT soft Spearman over the flattened (row, output) vector") {
    val r = new scala.util.Random(21)
    val rows = (0 until 300).map { i =>
      val f0 = r.nextGaussian()
      val ramp = math.max(f0 - 1.2, 0.0)
      (i.toLong, f0, r.nextGaussian(), r.nextGaussian(),
        500.0 * ramp * ramp + math.tanh(4.0 * f0) +
          0.001 * r.nextGaussian(),
        math.tanh(2.0 * f0) + 0.001 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y0", "y1")
    // evaluate in the training (per-output standardized) space: collect,
    // standardize each column by its own moments, flatten row-major —
    // exactly the vector the loss ranks (losses.py:67-69)
    def zscore(a: Array[Double]): Array[Double] = {
      val m = a.sum / a.length
      val s = math.sqrt(a.map(v => (v - m) * (v - m)).sum / a.length)
      a.map(v => (v - m) / math.max(s, 1e-12))
    }
    def jointSoftSpearman(loss: String): Double = {
      val m = new MLPMultiRegressor(Seq("f0", "f1", "f2"),
        Seq("y0", "y1"), hidden = 8, lr = 0.05, epochs = 120,
        loss = loss, rankTau = 0.3, rankBatch = 64)
      val got = m.fit(df).predict(df)
        .select("prediction_0", "prediction_1", "y0", "y1").collect()
      val p0 = zscore(got.map(_.getDouble(0)))
      val p1 = zscore(got.map(_.getDouble(1)))
      val t0 = zscore(got.map(_.getDouble(2)))
      val t1 = zscore(got.map(_.getDouble(3)))
      val flatP = got.indices.flatMap(i => Seq(p0(i), p1(i))).toArray
      val flatY = got.indices.flatMap(i => Seq(t0(i), t1(i))).toArray
      -RankLoss.softSpearmanLoss(flatP, flatY, 0.3)
    }
    val sMse = jointSoftSpearman("mse")
    val sComb = jointSoftSpearman("combined")
    info(s"joint flattened soft Spearman: mse-only=$sMse combined=$sComb")
    assert(sComb > sMse,
      s"multi combined ($sComb) should beat mse-only ($sMse) on the " +
        "flattened objective")
    assert(sComb > 0.5, s"joint rank training failed: $sComb")
  }

  test("leftover single-row batch at nOut = 1: combined injects exactly " +
    "its MSE term, spearman skips it without counting a batch; at " +
    "nOut = 2 one row still takes the flattened combined gradient") {
    import org.apache.spark.sql.Row
    val sc = spark.sparkContext
    val (seed, ep, tau, rb) = (7L, 1L, 1.0, 2)
    // partition 0: one full batch of two rows; partition 1: one row, so
    // its last (only) shuffled batch is a singleton
    val a = Seq(Row(0.3, 1.0, -0.5), Row(-0.8, 0.2, 0.9))
    val b = Seq(Row(1.1, 0.4, -1.3))
    val w1 = Array(0.6, -0.2)
    def grad(rows: Seq[Seq[Row]], w: Array[Double], nOut: Int,
        mseW: Double, spW: Double): Array[Double] = {
      val rdd = rows.map(p => sc.parallelize(p, 1)).reduce(_ ++ _)
      RankLoss.seqEpochGradientMulti(rdd, w.length, 2, 1, nOut,
        Array.fill(nOut)(0.0), Array.fill(nOut)(1.0),
        RankLossToyKernel(w, nOut), tau, mseW, spW, rb, seed, ep)
    }
    val sz = w1.length
    // the singleton's closed form: pred − y′ = mseW·2·d, so the linear
    // kernel adds mseW·2·d·x; loss mseW·d²; one batch
    val xB = Array(0.4, -1.3)
    val dB = w1(0) * xB(0) + w1(1) * xB(1) - 1.1
    for (mseW <- Seq(2.0, 0.5)) {
      val g = grad(Seq(b), w1, 1, mseW, 1.0)
      for (i <- 0 until sz)
        assert(math.abs(g(i) - mseW * 2.0 * dB * xB(i)) <= 1e-12,
          s"mseW=$mseW singleton grad $i: ${g(i)}")
      assert(math.abs(g(sz) - mseW * dB * dB) <= 1e-12)
      assert(g(sz + 1) == 1.0)
      // next to a full batch it adds exactly that term
      val gA = grad(Seq(a), w1, 1, mseW, 1.0)
      val gAB = grad(Seq(a, b), w1, 1, mseW, 1.0)
      for (i <- 0 until sz + 1)
        assert(math.abs(gAB(i) - gA(i) - g(i)) <= 1e-12,
          s"mseW=$mseW grad slot $i")
      assert(gAB(sz + 1) == gA(sz + 1) + 1.0)
    }
    // spearman (mseW = 0): the singleton contributes nothing, and the
    // batch count stays that of the full batches
    assert(grad(Seq(b), w1, 1, 0.0, 1.0).forall(_ == 0.0))
    assert(grad(Seq(a, b), w1, 1, 0.0, 1.0) sameElements
      grad(Seq(a), w1, 1, 0.0, 1.0))
    assert(grad(Seq(a), w1, 1, 0.0, 1.0)(sz + 1) == 1.0)
    // nOut = 2: one row flattens to two elements — the combined gradient
    val w2 = Array(0.6, -0.2, -0.1, 0.5)
    val row2 = Seq(Row(1.1, -0.7, 0.4, -1.3))
    val p2 = Array(0.6 * 0.4 + -0.2 * -1.3, -0.1 * 0.4 + 0.5 * -1.3)
    for ((mseW, spW) <- Seq((2.0, 1.0), (0.0, 1.0))) {
      val (dp, lossV) =
        RankLoss.combinedGrad(p2, Array(1.1, -0.7), tau, mseW, spW)
      val g = grad(Seq(row2), w2, 2, mseW, spW)
      for (o <- 0 until 2; j <- 0 until 2)
        assert(math.abs(g(o * 2 + j) - dp(o) * xB(j)) <= 1e-12,
          s"nOut=2 ($mseW, $spW) grad ($o, $j)")
      assert(math.abs(g(4) - lossV) <= 1e-12 && g(5) == 1.0)
    }
  }
}

/** A linear stand-in for a sequence kernel: pred_o = w_o · x (x
  * flattened), with the ½Σ_o(pred_o − y_o)² gradient every sequence
  * kernel accumulates, so rank-loss injections have closed forms. */
object RankLossToyKernel {
  def apply(w: Array[Double], nOut: Int): (Array[Array[Double]],
      Array[Double], Array[Double], Long, Array[Double]) => Double =
    (x, ys, acc, _, po) => {
      val xf = x.flatten
      val k = xf.length
      val preds = Array.tabulate(nOut)(o =>
        (0 until k).map(j => w(o * k + j) * xf(j)).sum)
      if (po != null) Array.copy(preds, 0, po, 0, nOut)
      if (acc == null) preds(0)
      else {
        var loss = 0.0
        for (o <- 0 until nOut) {
          val d = preds(o) - ys(o)
          loss += 0.5 * d * d
          for (j <- 0 until k) acc(o * k + j) += d * xf(j)
        }
        loss
      }
    }
}
