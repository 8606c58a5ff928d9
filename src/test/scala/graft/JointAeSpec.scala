package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml._

/** Joint-loss nonlinear autoencoder (keras_estimators/autoencoder.py)
  * at the reference's default one encoder and one head stage
  * ([[DeepJointAutoencoder]]): analytic gradient vs finite differences,
  * recon-beats-PCA at equal latent dim on a nonlinear manifold, joint
  * target head quality, and staged-scoring/kernel forward agreement. */
class JointAeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("joint ae: flat gradient matches central finite differences") {
    val ae = new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y",
      encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2),
      reconWeight = 1.0, targetWeight = 0.7)
    val r = new scala.util.Random(5)
    val rows = (0 until 6).map(_ =>
      (r.nextGaussian() * 0.5, r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian()))
    val data = rows.toDF("y", "f0", "f1", "f2")
    val sz = ae.kernelCfg.size
    val p = Array.fill(sz)(r.nextGaussian() * 0.4)
    val (g, _) = ae.gradient(data, p)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val fd = (ae.gradient(data, pp)._2 - ae.gradient(data, pm)._2) /
        (2 * eps)
      assert(math.abs(fd - g(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"grad mismatch at $i: analytic=${g(i)} fd=$fd")
    }
  }

  test("joint ae: nonlinear bottleneck beats the optimal LINEAR " +
    "autoencoder (PCA) on reconstruction at equal latent dim; the joint " +
    "target head learns") {
    val r = new scala.util.Random(8)
    // unit-scale features on a nonlinear 1-D manifold — linear PCA-1
    // cannot capture the curvature, a swish bottleneck can
    val rows = (0 until 400).map { i =>
      val t = r.nextGaussian()
      (i.toLong, t + 0.05 * r.nextGaussian(),
        t * t - 1.0 + 0.05 * r.nextGaussian(),
        math.sin(1.5 * t) + 0.05 * r.nextGaussian(),
        t + 0.1 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    val feats = Seq("f0", "f1", "f2")

    val ae = new DeepJointAutoencoder(feats, "y", encoderUnits = Seq(8),
      latentDim = 1, headUnits = Seq(4), lr = 0.02, epochs = 300,
      seed = 1L)
    val model = ae.fit(df)
    val aeRec = model.reconstruct(df)
    def reconMse(rec: org.apache.spark.sql.DataFrame): Double =
      rec.select(avg(
        feats.indices.map(f =>
          pow(col(s"recon_$f") - col(feats(f)), 2)).reduce(_ + _) /
          lit(feats.size.toDouble)).as("mse"))
        .collect()(0).getDouble(0)
    val aeMse = reconMse(aeRec)

    val pcaMse = reconMse(
      BottleneckEncoder(feats, latentDim = 1).fit(df).reconstruct(df))
    assert(aeMse < pcaMse,
      s"nonlinear AE ($aeMse) should beat linear PCA ($pcaMse) on a " +
        "nonlinear manifold")

    // joint head: trained THROUGH the bottleneck, must track the target
    val pred = model.predict(df)
    assert(pred.columns.contains("prediction") &&
      !pred.columns.contains("recon_0"))
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.6, s"joint target head failed to learn: r2=$r2")
  }

  test("joint ae: denoising corruption (gaussianNoise > 0) still learns " +
    "the manifold — recon of CLEAN inputs stays accurate") {
    val r = new scala.util.Random(17)
    val rows = (0 until 300).map { i =>
      val t = r.nextGaussian()
      (i.toLong, t + 0.05 * r.nextGaussian(),
        t * t - 1.0 + 0.05 * r.nextGaussian(),
        math.sin(1.5 * t) + 0.05 * r.nextGaussian(),
        t + 0.1 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    val feats = Seq("f0", "f1", "f2")
    val model = new DeepJointAutoencoder(feats, "y",
      encoderUnits = Seq(8), latentDim = 1, headUnits = Seq(4),
      gaussianNoise = 0.05, lr = 0.02, epochs = 200, seed = 1L).fit(df)
    val mse = model.reconstruct(df).select(avg(
      feats.indices.map(f =>
        pow(col(s"recon_$f") - col(feats(f)), 2)).reduce(_ + _) /
        lit(feats.size.toDouble)).as("mse")).collect()(0).getDouble(0)
    // clean-input recon error well under the data's unit variance —
    // the denoised manifold was learned, not memorized noise
    assert(mse < 0.25, s"denoising AE failed to learn the manifold: $mse")
  }

  test("joint ae: per-layer dropout kernel (autoencoder.py:33-43) — " +
    "gradient matches finite differences with the mask sample fixed; " +
    "reference-default rates (0.1/0.1/0.4) still learn the manifold") {
    val r = new scala.util.Random(33)
    val (k, hE, l, hA) = (3, 3, 2, 2)
    val c = DeepAeKernel.Cfg(k, Seq(hE), l, Seq(hA), encDrop = Seq(0.3),
      latentDrop = 0.3, headDrop = Seq(0.4))
    val sz = c.size
    val p = Array.fill(sz)(r.nextGaussian() * 0.4)
    val x = Array.fill(k)(r.nextGaussian())
    val y = Array(0.4)
    val ms = 9876L
    val acc = new Array[Double](sz)
    DeepAeKernel.run(p, c, x, x, y, 1.0, 0.7, acc, ms)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      def loss(pv: Array[Double]) =
        DeepAeKernel.run(pv, c, x, x, y, 1.0, 0.7, null, ms)
      val fd = (loss(pp) - loss(pm)) / (2 * eps)
      assert(math.abs(fd - acc(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"dropout grad mismatch at $i: analytic=${acc(i)} fd=$fd")
    }
    // fit at the reference-default dropout rates still learns
    val rows = (0 until 300).map { i =>
      val t = r.nextGaussian()
      (i.toLong, t + 0.05 * r.nextGaussian(),
        t * t - 1.0 + 0.05 * r.nextGaussian(),
        math.sin(1.5 * t) + 0.05 * r.nextGaussian(),
        t + 0.1 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    val feats = Seq("f0", "f1", "f2")
    val model = new DeepJointAutoencoder(feats, "y",
      encoderUnits = Seq(8), latentDim = 1, headUnits = Seq(4), lr = 0.02,
      epochs = 300, seed = 1L, encoderDropout = Seq(0.1),
      latentDropout = 0.1, headDropout = Seq(0.4)).fit(df)
    val mse = model.reconstruct(df).select(avg(
      feats.indices.map(f =>
        pow(col(s"recon_$f") - col(feats(f)), 2)).reduce(_ + _) /
        lit(feats.size.toDouble)).as("mse")).collect()(0).getDouble(0)
    assert(mse < 0.3, s"dropout AE failed to learn the manifold: $mse")
  }

  test("joint ae: rankGradient reports the FULL joint objective — at " +
    "spW=0, mseW=1 its loss equals the MSE-path gradient() loss") {
    val r = new scala.util.Random(37)
    val rows = (0 until 40).map(_ =>
      (r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian()))
    val df = rows.toDF("y", "f0", "f1", "f2").repartition(1)
    val ae = new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y",
      encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2),
      reconWeight = 1.0, targetWeight = 0.7, targetLoss = "combined",
      mseWeight = 1.0, spearmanWeight = 0.0, rankBatch = 64)
    val sz = ae.kernelCfg.size
    val p = Array.fill(sz)(r.nextGaussian() * 0.4)
    val (_, mseLoss) = ae.gradient(df, p)
    val (_, rankLoss) = ae.rankGradient(df, p)
    assert(math.abs(mseLoss - rankLoss) < 1e-9 * math.max(1.0,
      math.abs(mseLoss)),
      s"rank-path loss $rankLoss != joint MSE loss $mseLoss")
  }

  test("joint ae: rank target-loss surrogate injection at spW=0, mseW=1 " +
    "reproduces the plain joint-MSE path (delta-linearity identity)") {
    val r = new scala.util.Random(27)
    val rows = (0 until 40).map(_ =>
      (r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian()))
    val df = rows.toDF("y", "f0", "f1", "f2").repartition(1)
    def fitted(tl: String) =
      new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y",
        encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2),
        epochs = 10, lr = 0.02, targetLoss = tl, mseWeight = 1.0,
        spearmanWeight = 0.0, rankBatch = 64).fit(df)
    // one stage's Dense matrix (row-major [in][out]) from the flat kernel
    def mat(m: DeepJointAutoencoder, s: Int): Array[Double] = {
      val st = m.kernelCfg.stages(s)
      m.fittedWeights.slice(m.kernelCfg.stageOff(s),
        m.kernelCfg.stageOff(s) + st.nIn * st.nOut)
    }
    val wm = fitted("mse"); val wc = fitted("combined")
    val (head, tap) = (wm.kernelCfg.stages.size - 1, wm.kernelCfg.tapStage)
    (mat(wm, head) zip mat(wc, head)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"wp diverged: $a vs $b")
    }
    (mat(wm, tap) zip mat(wc, tap)).foreach {
      case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"wr diverged: $a vs $b")
    }
  }

  test("joint ae: targetLoss=combined beats MSE on target ORDERING for " +
    "a heavy-tailed target while still reconstructing") {
    val r = new scala.util.Random(29)
    val rows = (0 until 300).map { i =>
      val t = r.nextGaussian()
      val ramp = math.max(t - 1.2, 0.0)
      (i.toLong, t + 0.05 * r.nextGaussian(),
        t * t - 1.0 + 0.05 * r.nextGaussian(),
        math.sin(1.5 * t) + 0.05 * r.nextGaussian(),
        500.0 * ramp * ramp + math.tanh(4.0 * t) +
          0.001 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    def spearmanOf(tl: String): Double = {
      val m = new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y",
        encoderUnits = Seq(8), latentDim = 2, headUnits = Seq(4),
        lr = 0.02, epochs = 150, targetLoss = tl, mseWeight = 1.0,
        spearmanWeight = 2.0, rankTau = 0.3, rankBatch = 64).fit(df)
      Metrics.spearman(m.predict(df), "prediction", "y", Seq.empty)
        .collect()(0).getDouble(0)
    }
    val sMse = spearmanOf("mse")
    val sComb = spearmanOf("combined")
    info(s"exact Spearman: mse=$sMse combined=$sComb")
    assert(sComb > sMse,
      s"combined target loss ($sComb) should out-rank mse ($sMse)")
  }

  test("joint ae: staged scoring projection equals the kernel forward") {
    val r = new scala.util.Random(3)
    val rows = (0 until 50).map { i =>
      (i.toLong, r.nextGaussian(), r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    val ae = new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y",
      encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2), epochs = 5)
    val model = ae.fit(df)
    val c = model.kernelCfg
    val out = model.reconstruct(model.transform(df)
      .drop((0 until 2).map(i => s"latent_$i"): _*))
      .join(model.predict(df).select(col("id"),
        col("prediction")), "id")
      .select("f0", "f1", "f2", "latent_0", "latent_1", "recon_0",
        "prediction").limit(10).collect()
    out.foreach { row =>
      val x = Array.tabulate(3)(i =>
        (row.getDouble(i) - model.featMeans(i)) / model.featStds(i))
      val acts = new Array[Array[Double]](c.stages.size + 1)
      DeepAeKernel.run(model.fittedWeights, c, x, x, Array(0.0), 0.0, 0.0,
        null, actsOut = acts)
      val (zl, rec, p) =
        (acts(c.latentStage + 1), acts(c.tapStage + 1), acts.last(0))
      assert(math.abs(zl(0) - row.getDouble(3)) < 1e-9)
      assert(math.abs(zl(1) - row.getDouble(4)) < 1e-9)
      assert(math.abs(rec(0) * model.featStds(0) + model.featMeans(0)
        - row.getDouble(5)) < 1e-9)
      assert(math.abs(p * model.targetStds(0) + model.targetMeans(0)
        - row.getDouble(6)) < 1e-9)
    }
  }

  test("joint ae multi-output target head (Dense(output_units), " +
    "autoencoder.py:67-69): joint gradient matches finite differences " +
    "with the Keras mean-over-outputs mse") {
    val ae = new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y0",
      extraTargetCols = Seq("y1"), encoderUnits = Seq(3), latentDim = 2,
      headUnits = Seq(2), reconWeight = 1.0, targetWeight = 0.7)
    val r = new scala.util.Random(9)
    val rows = (0 until 6).map(_ =>
      (r.nextGaussian() * 0.5, r.nextGaussian() * 0.5, r.nextGaussian(),
        r.nextGaussian(), r.nextGaussian()))
    val data = rows.toDF("y0", "y1", "f0", "f1", "f2")
    val sz = ae.kernelCfg.size
    val p = Array.fill(sz)(r.nextGaussian() * 0.4)
    val (g, _) = ae.gradient(data, p)
    val eps = 1e-6
    for (i <- 0 until sz) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val fd = (ae.gradient(data, pp)._2 - ae.gradient(data, pm)._2) /
        (2 * eps)
      assert(math.abs(fd - g(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"multi grad mismatch at $i: analytic=${g(i)} fd=$fd")
    }
  }

  test("joint ae multi-output fit learns recon AND two target heads " +
    "jointly (prediction_{i} contract); staged multi scoring equals the " +
    "kernel forward per output") {
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
    val m = new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y0",
      extraTargetCols = Seq("y1"), encoderUnits = Seq(6), latentDim = 1,
      headUnits = Seq(4), lr = 0.02, epochs = 200, batchFraction = 1.0)
    val model = m.fit(df)
    val pred = model.predict(df)
    assert(pred.columns.contains("prediction_0") &&
      pred.columns.contains("prediction_1"))
    val r20 = Metrics.r2(pred, "prediction_0", "y0", Seq.empty)
      .collect()(0).getDouble(0)
    val r21 = Metrics.r2(pred, "prediction_1", "y1", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r20 > 0.8 && r21 > 0.8,
      s"joint multi-output AE fit: r2_0=$r20 r2_1=$r21")
    // staged multi scoring == kernel forward (standardized space)
    val sample = pred.select("f0", "f1", "f2", "prediction_0",
      "prediction_1").limit(10).collect()
    sample.foreach { row =>
      val x = Array.tabulate(3)(i =>
        (row.getDouble(i) - model.featMeans(i)) / model.featStds(i))
      val c = model.kernelCfg
      val acts = new Array[Array[Double]](c.stages.size + 1)
      DeepAeKernel.run(model.fittedWeights, c, x, x, new Array[Double](2),
        0.0, 0.0, null, actsOut = acts)
      val po = acts.last
      for (o <- 0 until 2) {
        val local = po(o) * model.targetStds(o) + model.targetMeans(o)
        assert(math.abs(local - row.getDouble(3 + o)) < 1e-9,
          s"multi AE scorer and kernel disagree on output $o")
      }
    }
  }
}
