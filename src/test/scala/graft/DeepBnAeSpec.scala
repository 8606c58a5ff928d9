package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml._

/** BatchNorm training for the depth-general AE chain
  * ([[DeepBnKernel]]/[[DeepBnAutoencoder]]): batch-coupled gradient vs
  * central finite differences down a 2-stage encoder chain (plain and
  * noise+dropout-masked), raw-space fit quality, and affine-threaded
  * staged scoring ≡ the driver inference chain. */
class DeepBnAeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkTrainer(drop: Boolean = false) =
    new DeepBnAutoencoder(Seq("f0", "f1", "f2"), "y",
      encoderUnits = Seq(3, 2), latentDim = 2, headUnits = Seq(2),
      encoderDropout = if (drop) Seq(0.3, 0.2) else Nil,
      latentDropout = if (drop) 0.3 else 0.0,
      headDropout = if (drop) Seq(0.4) else Nil,
      gaussianNoise = if (drop) 0.05 else 0.0,
      reconWeight = 1.0, targetWeight = 0.7, batchSize = 7)

  private def initP(m: DeepBnAutoencoder, seedV: Int): Array[Double] = {
    val r = new scala.util.Random(seedV)
    Array.tabulate(m.size)(i =>
      if (i < m.cfg.size) r.nextGaussian() * 0.4
      else 1.0 + r.nextGaussian() * 0.1)
  }

  test("deep bn ae: batched flat gradient down the multi-stage chain " +
    "(every BN site batch-coupled) matches central finite differences") {
    val m = mkTrainer()
    val r = new scala.util.Random(5)
    val rows = (0 until 7).map(_ =>
      (r.nextGaussian() * 0.5, r.nextGaussian() * 2.0 + 1.0,
        r.nextGaussian() * 0.3 - 2.0, r.nextGaussian()))
    val data = rows.toDF("y", "f0", "f1", "f2").repartition(1)
    val p = initP(m, 7)
    val (g, _) = m.gradient(data, p)
    val eps = 1e-6
    for (i <- 0 until m.size) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val fd = (m.gradient(data, pp)._2 - m.gradient(data, pm)._2) /
        (2 * eps)
      assert(math.abs(fd - g(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"deep bn grad mismatch at $i: analytic=${g(i)} fd=$fd")
    }
  }

  test("deep bn ae: gradient matches finite differences with " +
    "GaussianNoise and per-stage dropout masks held fixed by the seeds") {
    val m = mkTrainer(drop = true)
    val r = new scala.util.Random(11)
    val rows = (0 until 6).map(_ =>
      (r.nextGaussian() * 0.5, r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian()))
    val data = rows.toDF("y", "f0", "f1", "f2").repartition(1)
    val p = initP(m, 13)
    val (g, _) = m.gradient(data, p, ep = 5L)
    val eps = 1e-6
    for (i <- 0 until m.size) {
      val pp = p.clone(); pp(i) += eps
      val pm = p.clone(); pm(i) -= eps
      val fd = (m.gradient(data, pp, ep = 5L)._2 -
        m.gradient(data, pm, ep = 5L)._2) / (2 * eps)
      assert(math.abs(fd - g(i)) <= 1e-5 * math.max(1.0, math.abs(fd)),
        s"masked deep bn grad mismatch at $i: analytic=${g(i)} fd=$fd")
    }
  }

  test("deep bn ae: list-depth fit learns the manifold in RAW feature " +
    "space; affine-threaded staged scoring equals the driver chain") {
    val r = new scala.util.Random(8)
    val rows = (0 until 400).map { i =>
      val t = r.nextGaussian()
      (i.toLong, t + 0.05 * r.nextGaussian(),
        t * t - 1.0 + 0.05 * r.nextGaussian(),
        math.sin(1.5 * t) + 0.05 * r.nextGaussian(),
        t + 0.1 * r.nextGaussian())
    }
    val df = rows.toDF("id", "f0", "f1", "f2", "y")
    val feats = Seq("f0", "f1", "f2")
    val m = new DeepBnAutoencoder(feats, "y",
      encoderUnits = Seq(8, 4), latentDim = 1, headUnits = Seq(4),
      lr = 0.02, epochs = 300, seed = 1L, batchFraction = 1.0).fit(df)
    // predict appends latent + prediction; reconstruct the raw recon
    val pred = m.predict(df).join(m.reconstruct(df).select("id",
      "recon_0", "recon_1", "recon_2"), "id")
    val mse = pred.select(avg(
      feats.indices.map(f =>
        pow(col(s"recon_$f") - col(feats(f)), 2)).reduce(_ + _) /
        lit(feats.size.toDouble)).as("mse")).collect()(0).getDouble(0)
    assert(mse < 0.3, s"deep bn raw-space recon failed: mse=$mse")
    val r2 = Metrics.r2(pred, "prediction", "y", Seq.empty)
      .collect()(0).getDouble(0)
    assert(r2 > 0.6, s"deep bn joint head failed to learn: r2=$r2")
    // staged scoring == driver inference chain
    val sample = pred.select("f0", "f1", "f2", "latent_0", "recon_0",
      "prediction").limit(10).collect()
    sample.foreach { row =>
      val x = Array.tabulate(3)(i => row.getDouble(i))
      val acts = DeepBnKernel.forwardAffine(m.fittedWeights, m.cfg,
        m.fittedAffines, x)
      val (yM, yS) = m.targetStats
      assert(math.abs(acts(m.cfg.latentStage + 1)(0) -
        row.getDouble(3)) < 1e-9)
      assert(math.abs(acts(m.cfg.tapStage + 1)(0) -
        row.getDouble(4)) < 1e-9)
      assert(math.abs(acts(m.cfg.stages.size)(0) * yS(0) + yM(0) -
        row.getDouble(5)) < 1e-9)
    }
  }

  test("deep bn ae, strict-Keras moving-average mode: training identical " +
    "to population mode, affines differ, staged scoring still equals " +
    "the driver chain") {
    val r = new scala.util.Random(9)
    val rows = (0 until 300).map { i =>
      val t = r.nextGaussian()
      (i.toLong, t + 0.05 * r.nextGaussian(),
        t * t - 1.0 + 0.05 * r.nextGaussian(),
        math.sin(1.5 * t) + 0.05 * r.nextGaussian(),
        t + 0.1 * r.nextGaussian())
    }
    // one partition: cross-fit comparison needs a deterministic reduce
    val df = rows.toDF("id", "f0", "f1", "f2", "y").coalesce(1)
    val feats = Seq("f0", "f1", "f2")
    def fitWith(mode: String) = new DeepBnAutoencoder(feats, "y",
      encoderUnits = Seq(6, 3), latentDim = 1, headUnits = Seq(3),
      lr = 0.02, epochs = 60, seed = 2L, batchFraction = 1.0,
      bnInference = mode, bnMomentum = 0.9).fit(df)
    val pop = fitWith("population")
    val ma = fitWith("moving_average")
    assert(pop.fittedWeights.sameElements(ma.fittedWeights),
      "the flag must not touch training")
    assert(pop.fittedAffines.zip(ma.fittedAffines).exists {
      case ((s1, c1), (s2, c2)) =>
        !s1.sameElements(s2) || !c1.sameElements(c2)
    }, "moving-average mode must produce different inference affines")
    // the MA affines thread the SAME staged chain
    val pred = ma.predict(df)
    val sample = pred.select("f0", "f1", "f2", "latent_0", "prediction")
      .limit(10).collect()
    sample.foreach { row =>
      val x = Array.tabulate(3)(i => row.getDouble(i))
      val acts = DeepBnKernel.forwardAffine(ma.fittedWeights, ma.cfg,
        ma.fittedAffines, x)
      val (yM, yS) = ma.targetStats
      assert(math.abs(acts(ma.cfg.latentStage + 1)(0) -
        row.getDouble(3)) < 1e-9)
      assert(math.abs(acts(ma.cfg.stages.size)(0) * yS(0) + yM(0) -
        row.getDouble(4)) < 1e-9)
      assert(!row.getDouble(4).isNaN)
    }
  }
}
