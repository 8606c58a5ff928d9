package graft

import graft.ml._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Seeded fits repeat bit for bit under `local[4]`. Every trainer sums
  * its per-partition gradient partials in partition-index order
  * ([[graft.ml.PartitionSum]]), so the order in which an epoch's four
  * tasks finish cannot reach the weights. Each test fits one gradient
  * path twice, on rows spread over all four partitions, and requires
  * every saved weight of the two fits to carry the same bits. */
class TrainerDeterminismSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private val feats = Seq("f0", "f1", "f2", "f3")
  private val lags = Seq("lag3", "lag2", "lag1")

  // 96 rows, 24 per partition: four features, two targets, and a
  // lag-major AR(2) window with its next value as the sequence target
  private lazy val df: DataFrame = {
    val r = new scala.util.Random(7)
    val s = Array.fill(99)(0.0)
    for (t <- 2 until 99)
      s(t) = 0.6 * s(t - 1) - 0.3 * s(t - 2) + r.nextGaussian()
    val rows = (0 until 96).map { i =>
      val f = Array.fill(4)(r.nextGaussian())
      (i.toLong, f(0), 3.0 * f(1), f(2), 0.1 * f(3),
        math.sin(f(0)) + 0.5 * f(1) * f(2) + 0.1 * r.nextGaussian(),
        f(3) - 0.3 * f(0) + 0.1 * r.nextGaussian(),
        s(i), s(i + 1), s(i + 2), s(i + 3))
    }
    val d = spark.sparkContext.parallelize(rows, 4).toDF("id", "f0", "f1",
      "f2", "f3", "y", "y2", "lag3", "lag2", "lag1", "ys")
    d.cache()
    assert(d.rdd.glom().map(_.length).collect().toSeq == Seq.fill(4)(24))
    d
  }

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** Fits twice; every named weight array must match bit for bit. */
  private def repeats(fit: () => Seq[(String, Array[Double])]): Unit = {
    val (a, b) = (fit(), fit())
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((name, x), (_, y)) =>
      val (bx, by) = (bits(x), bits(y))
      assert(bx.length == by.length)
      val diff = bx.indices.count(i => bx(i) != by(i))
      assert(diff == 0, s"section $name: $diff of ${bx.length} weights " +
        "differ between two identical fits")
    }
  }

  private def parts(m: ModelEstimator): Seq[(String, Array[Double])] =
    m.saveParts._2

  test("mlp: mse and rank paths, single and multi output, repeat bit " +
    "for bit at local[4]") {
    for (loss <- Seq("mse", "combined")) {
      repeats(() => parts(new MLPRegressor(feats, "y", hidden = 4,
        lr = 0.01, epochs = 3, batchFraction = 1.0, loss = loss,
        rankBatch = 8).fit(df)))
      repeats(() => parts(new MLPMultiRegressor(feats, Seq("y", "y2"),
        hidden = 4, lr = 0.01, epochs = 3, batchFraction = 1.0,
        loss = loss, rankBatch = 8).fit(df)))
    }
  }

  test("deep mlp: mse and rank paths with dropout, single and multi " +
    "output, repeat bit for bit at local[4]") {
    for (loss <- Seq("mse", "combined")) {
      repeats(() => parts(new DeepMLPRegressor(feats, "y",
        layers = Seq(4, 3), lr = 0.01, epochs = 3, batchFraction = 1.0,
        loss = loss, rankBatch = 8, dropoutRate = 0.1).fit(df)))
      repeats(() => parts(new DeepMLPRegressor(feats, "y",
        extraTargetCols = Seq("y2"), layers = Seq(4, 3), lr = 0.01,
        epochs = 3, batchFraction = 1.0,
        dropoutRate = 0.1, loss = loss, rankBatch = 8).fit(df)))
    }
  }

  test("sequence trainers: lstm mse and rank, lstm-bn, attention repeat " +
    "bit for bit at local[4]") {
    for (loss <- Seq("mse", "combined"))
      repeats(() => parts(new LSTMTrainer(lags, 3, "ys", hidden = 3,
        epochs = 3, batchFraction = 1.0, loss = loss, rankBatch = 8,
        dropout = 0.1).fit(df)))
    repeats { () =>
      val m = new LSTMBnTrainer(lags, 3, "ys", hidden = 3, epochs = 3,
        batchFraction = 1.0, batchSize = 8).fit(df)
      // population mode: the norms carry the re-estimated site statistics
      ("w" -> m.fittedWeights) +: m.fittedNorms.zipWithIndex.flatMap {
        case (nm, i) => Seq(s"gamma$i" -> nm.gamma, s"beta$i" -> nm.beta,
          s"mean$i" -> nm.movingMean, s"var$i" -> nm.movingVar)
      }
    }
    repeats(() => parts(new AttnTrainer(lags, 3, "ys", dModel = 4,
      ffDim = 8, epochs = 3, batchFraction = 1.0).fit(df)))
  }

  test("multi-output sequence trainers: lstm and attention, mse and " +
    "rank paths, repeat bit for bit at local[4]") {
    for (loss <- Seq("mse", "combined")) {
      repeats(() => parts(new LSTMTrainer(lags, 3, "ys",
        extraTargetCols = Seq("y2"), hidden = 3, epochs = 3,
        batchFraction = 1.0, loss = loss, rankBatch = 8,
        dropout = 0.1).fit(df)))
      repeats(() => parts(new AttnTrainer(lags, 3, "ys",
        extraTargetCols = Seq("y2"), dModel = 4, ffDim = 8, epochs = 3,
        batchFraction = 1.0, loss = loss, rankBatch = 8).fit(df)))
    }
  }

  test("autoencoders: joint (mse and rank), deep, bn and deep-bn repeat " +
    "bit for bit at local[4]") {
    for (loss <- Seq("mse", "combined"))
      repeats(() => parts(new DeepJointAutoencoder(feats, "y",
        encoderUnits = Seq(4), latentDim = 2, headUnits = Seq(3),
        epochs = 3, batchFraction = 1.0, targetLoss = loss,
        rankBatch = 8).fit(df)))
    repeats(() => parts(new DeepJointAutoencoder(feats, "y", epochs = 3,
      batchFraction = 1.0, latentDropout = 0.1).fit(df)))
    // the BN chain at one encoder and one head stage: both inference
    // modes, and the rank path's two kernel passes per batch
    for ((mode, loss) <- Seq(("moving_average", "mse"),
        ("population", "mse"), ("population", "combined")))
      repeats(() => parts(new DeepBnAutoencoder(feats, "y",
        encoderUnits = Seq(4), latentDim = 2, headUnits = Seq(3),
        epochs = 3, batchFraction = 1.0, batchSize = 8,
        bnInference = mode, targetLoss = loss).fit(df)))
    for (mode <- Seq("moving_average", "population"))
      repeats(() => parts(new DeepBnAutoencoder(feats, "y", epochs = 3,
        batchFraction = 1.0, batchSize = 8, bnInference = mode).fit(df)))
  }

  test("soft decision forest: mse and rank paths repeat bit for bit at " +
    "local[4]") {
    for (loss <- Seq("mse", "combined"))
      repeats(() => parts(new SoftNdfRegressor(feats, "y", numTrees = 2,
        depth = 2, epochs = 3, batchFraction = 1.0, loss = loss,
        rankBatch = 8).fit(df)))
  }
}
