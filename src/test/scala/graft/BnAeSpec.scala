package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml._

/** BatchNorm autoencoder (the reference BottleneckEncoder's ACTUAL
  * default architecture, autoencoder.py:29-69 — [[DeepBnAutoencoder]]
  * at one encoder and one head stage): batch-coupled gradient
  * vs central finite differences (plain AND noise+dropout-masked), fit
  * quality on the nonlinear manifold in RAW feature space, population-
  * affine staged scoring ≡ driver inference forward, and the rank-path
  * delta-linearity identity against the batched MSE path. */
class BnAeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def manifold(n: Int, seedV: Int, scale1: Double = 1.0) = {
    val r = new scala.util.Random(seedV)
    (0 until n).map { i =>
      val t = r.nextGaussian()
      (i.toLong, t + 0.05 * r.nextGaussian(),
        scale1 * (t * t - 1.0 + 0.05 * r.nextGaussian()),
        math.sin(1.5 * t) + 0.05 * r.nextGaussian(),
        t + 0.1 * r.nextGaussian())
    }
  }

  test("bn ae: batched flat gradient (BN batch statistics coupled " +
    "across rows) matches central finite differences") {
    val ae = new DeepBnAutoencoder(Seq("f0", "f1", "f2"), "y",
      encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2),
      reconWeight = 1.0, targetWeight = 0.7, batchSize = 7)
    val r = new scala.util.Random(5)
    // 7 rows in ONE partition = one batch: the FD loss must see the
    // same batch statistics as the analytic backward
    val rows = (0 until 7).map(_ =>
      (r.nextGaussian() * 0.5, r.nextGaussian() * 2.0 + 1.0,
        r.nextGaussian() * 0.3 - 2.0, r.nextGaussian()))
    val data = rows.toDF("y", "f0", "f1", "f2").repartition(1)
    val sz = ae.size
    val p = Array.tabulate(sz) { i =>
      // keep BN gammas near 1 so invStd stays well-conditioned
      val core = ae.cfg.size
      if (i < core) r.nextGaussian() * 0.4
      else 1.0 + r.nextGaussian() * 0.1
    }
    val (g, _) = ae.gradient(data, p)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val fd = (ae.gradient(data, pp)._2 - ae.gradient(data, pm)._2) /
        (2 * eps)
      assert(math.abs(fd - g(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"bn grad mismatch at $i: analytic=${g(i)} fd=$fd")
    }
  }

  test("bn ae: gradient matches finite differences with GaussianNoise " +
    "AND per-layer dropout masks held fixed by the seed stream") {
    val r = new scala.util.Random(11)
    val (k, hE, l, hA) = (3, 3, 2, 2)
    val c = DeepAeKernel.Cfg(k, Seq(hE), l, Seq(hA), encDrop = Seq(0.3),
      latentDrop = 0.3, headDrop = Seq(0.4))
    val sz = DeepBnKernel.size(c)
    val core = c.size
    val p = Array.tabulate(sz)(i =>
      if (i < core) r.nextGaussian() * 0.4 else 1.0 + r.nextGaussian() * 0.1)
    val b = 6
    val x = Array.fill(b, k)(r.nextGaussian())
    val ys = Array.fill(b, 1)(r.nextGaussian() * 0.5)
    val seeds = Array.tabulate(b)(i => 1000L + i * 77L)
    def loss(pv: Array[Double]): Double =
      DeepBnKernel.runBatch(pv, c, x, ys, 1.0, 0.7, null,
        noiseStd = 0.05, seeds = seeds)
    val acc = new Array[Double](sz)
    DeepBnKernel.runBatch(p, c, x, ys, 1.0, 0.7, acc, noiseStd = 0.05,
      seeds = seeds)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val fd = (loss(pp) - loss(pm)) / (2 * eps)
      assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"masked bn grad mismatch at $i: analytic=${acc(i)} fd=$fd")
    }
  }

  test("bn ae: fit learns the manifold in RAW feature space — every " +
    "feature reconstructs at uniform scales; at a 40x-skewed scale the " +
    "raw-space MSE is dollar-weighted (the reference objective), so the " +
    "DOMINANT feature reconstructs and the joint head still learns") {
    val feats = Seq("f0", "f1", "f2")
    def relErr(rec: org.apache.spark.sql.DataFrame, f: Int): Double =
      rec.select(
        (avg(pow(col(s"recon_$f") - col(feats(f)), 2)) /
          avg(pow(col(feats(f)) - lit(0.0), 2))).as("rel"))
        .collect()(0).getDouble(0)
    // uniform scales: everything reconstructs
    val dfU = manifold(400, 8).toDF("id", "f0", "f1", "f2", "y")
    val mU = new DeepBnAutoencoder(feats, "y", encoderUnits = Seq(8),
      latentDim = 1, headUnits = Seq(4), lr = 0.02, epochs = 300,
      seed = 1L, batchFraction = 1.0).fit(dfU)
    val recU = mU.reconstruct(dfU)
    feats.indices.foreach { f =>
      val e = relErr(recU, f)
      assert(e < 0.35, s"raw-space recon failed on feature $f: relErr=$e")
    }
    val r2U = Metrics.r2(mU.predict(dfU), "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2U > 0.6, s"bn ae joint target head failed to learn: r2=$r2U")
    // 40x-skewed scale: the raw-space objective concentrates on the
    // dominant feature (exactly the reference's un-normalized recon
    // MSE, autoencoder.py:78) — at 1:1 loss weights the standardized
    // target term is dwarfed, and target_loss_weight is the reference's
    // rebalancing knob (autoencoder.py:21-22,80-83). Input BN still
    // conditions the encoder, so the boosted head trains through the
    // scale skew.
    val dfS = manifold(400, 9, scale1 = 40.0)
      .toDF("id", "f0", "f1", "f2", "y")
    val mS = new DeepBnAutoencoder(feats, "y", encoderUnits = Seq(8),
      latentDim = 1, headUnits = Seq(4), lr = 0.02, epochs = 300,
      seed = 1L, batchFraction = 1.0, targetWeight = 100.0).fit(dfS)
    val eDom = relErr(mS.reconstruct(dfS), 1)
    assert(eDom < 0.45,
      s"dominant-feature raw-space recon failed: relErr=$eDom")
    val r2 = Metrics.r2(mS.predict(dfS), "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.5, s"bn ae joint target head failed to learn: r2=$r2")
  }

  test("bn ae: staged population-affine scoring equals the driver " +
    "inference forward (latent, recon, prediction)") {
    val rows = manifold(200, 3)
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    val feats = Seq("f0", "f1", "f2")
    val model = new DeepBnAutoencoder(feats, "y", encoderUnits = Seq(3),
      latentDim = 2, headUnits = Seq(2), epochs = 8).fit(df)
    val c = model.cfg
    val out = model.reconstruct(df)
      .join(model.predict(df).select(col("id"), col("prediction")), "id")
      .select("f0", "f1", "f2", "latent_0", "latent_1", "recon_0",
        "prediction").limit(10).collect()
    out.foreach { row =>
      val x = Array.tabulate(3)(i => row.getDouble(i))
      val acts = DeepBnKernel.forwardAffine(model.fittedWeights, c,
        model.fittedAffines, x)
      val (zl, rec, ps) =
        (acts(c.latentStage + 1), acts(c.tapStage + 1), acts.last)
      val (yMeans, yStds) = model.targetStats
      assert(math.abs(zl(0) - row.getDouble(3)) < 1e-9)
      assert(math.abs(zl(1) - row.getDouble(4)) < 1e-9)
      assert(math.abs(rec(0) - row.getDouble(5)) < 1e-9)
      assert(math.abs(ps(0) * yStds(0) + yMeans(0)
        - row.getDouble(6)) < 1e-9)
    }
  }

  test("bn ae: strict-Keras moving-average inference mode — training " +
    "weights identical to population mode, scoring flows through the " +
    "same folded-affine chain, and the flag actually changes the stats") {
    val rows = manifold(200, 5)
    // four partitions: the partials are summed in partition order, so
    // the two fits below are bit-comparable however the tasks finish
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    assert(df.rdd.getNumPartitions == 4)
    val feats = Seq("f0", "f1", "f2")
    def trainer(mode: String) = new DeepBnAutoencoder(feats, "y",
      encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2), epochs = 30,
      seed = 11L, bnInference = mode)
    val pop = trainer("population").fit(df)
    val ma = trainer("moving_average").fit(df)
    // the flag must not touch training: weights agree bit for bit
    def same(a: Array[Double], b: Array[Double]): Boolean =
      a.length == b.length && a.indices.forall(i =>
        java.lang.Double.doubleToRawLongBits(a(i)) ==
          java.lang.Double.doubleToRawLongBits(b(i)))
    // (the flat kernel: every Dense matrix, every BN gamma/beta)
    assert(same(pop.fittedWeights, ma.fittedWeights))
    // the inference statistics must differ (EMA of training-batch stats
    // vs final-weights population re-estimation)
    val (popAff0, maAff0) = (pop.fittedAffines.head, ma.fittedAffines.head)
    assert(!popAff0._1.sameElements(maAff0._1) ||
      !popAff0._2.sameElements(maAff0._2))
    val c = ma.cfg
    // MA-mode scoring goes through the SAME staged folded-affine chain:
    // the staged Spark projection equals the driver inference forward
    val out = ma.reconstruct(df)
      .join(ma.predict(df).select(col("id"), col("prediction")), "id")
      .select("f0", "f1", "f2", "latent_0", "latent_1", "recon_0",
        "prediction").limit(10).collect()
    out.foreach { row =>
      val x = Array.tabulate(3)(i => row.getDouble(i))
      val acts = DeepBnKernel.forwardAffine(ma.fittedWeights, c,
        ma.fittedAffines, x)
      val (zl, rec, ps) =
        (acts(c.latentStage + 1), acts(c.tapStage + 1), acts.last)
      val (yMeans, yStds) = ma.targetStats
      assert(math.abs(zl(0) - row.getDouble(3)) < 1e-9)
      assert(math.abs(zl(1) - row.getDouble(4)) < 1e-9)
      assert(math.abs(rec(0) - row.getDouble(5)) < 1e-9)
      assert(math.abs(ps(0) * yStds(0) + yMeans(0)
        - row.getDouble(6)) < 1e-9)
      assert(!row.getDouble(6).isNaN)
    }
  }

  test("bn ae: rank target-loss surrogate injection at spW=0, mseW=1 " +
    "reproduces the batched joint-MSE path (delta-linearity identity)") {
    val r = new scala.util.Random(27)
    val rows = (0 until 40).map(_ =>
      (r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian()))
    val df = rows.toDF("y", "f0", "f1", "f2").repartition(1)
    def grad(tl: String) = {
      val ae = new DeepBnAutoencoder(Seq("f0", "f1", "f2"), "y",
        encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2),
        reconWeight = 1.0, targetWeight = 0.7, targetLoss = tl,
        mseWeight = 1.0, spearmanWeight = 0.0, batchSize = 8)
      val sz = ae.size
      val rr = new scala.util.Random(7)
      val core = ae.cfg.size
      val p = Array.tabulate(sz)(i =>
        if (i < core) rr.nextGaussian() * 0.4
        else 1.0 + rr.nextGaussian() * 0.1)
      ae.gradient(df, p)
    }
    val (gm, lm) = grad("mse")
    val (gc, lc) = grad("combined")
    assert(math.abs(lm - lc) < 1e-9 * math.max(1.0, math.abs(lm)),
      s"rank-path loss $lc != batched MSE loss $lm")
    (gm zip gc).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) < 1e-9 * math.max(1.0, math.abs(a)),
        s"rank-path gradient diverged at $i: $a vs $b")
    }
  }

  test("bn ae: multi-output target head trains jointly through the BN " +
    "trunk (prediction_{i} contract, staged multi scoring)") {
    val r = new scala.util.Random(8)
    val rows = (0 until 400).map { i =>
      val t = r.nextGaussian()
      (i.toLong, t + 0.05 * r.nextGaussian(),
        t * t - 1.0 + 0.05 * r.nextGaussian(),
        math.sin(1.5 * t) + 0.05 * r.nextGaussian(),
        t + 0.1 * r.nextGaussian(),
        -0.8 * t + 0.1 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y0", "y1")
    val model = new DeepBnAutoencoder(Seq("f0", "f1", "f2"), "y0",
      extraTargetCols = Seq("y1"), encoderUnits = Seq(6), latentDim = 1,
      headUnits = Seq(4), lr = 0.02, epochs = 250, batchFraction = 1.0)
      .fit(df)
    val pred = model.predict(df)
    assert(pred.columns.contains("prediction_0") &&
      pred.columns.contains("prediction_1"))
    val r20 = Metrics.r2(pred, "prediction_0", "y0", Seq.empty)
      .collect()(0).getDouble(0)
    val r21 = Metrics.r2(pred, "prediction_1", "y1", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r20 > 0.7 && r21 > 0.7,
      s"bn multi-output AE fit: r2_0=$r20 r2_1=$r21")
  }
}
