package graft

import breeze.linalg.{DenseMatrix, DenseVector, norm, sum}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.solvers.{FeatureNeutralizer, FeaturePenalizer}

case class SolverRow(id: Long, era: String, f0: Double, f1: Double,
    f2: Double, f3: Double, f4: Double, prediction: Double)

/** Property tests porting the reference's correctness bar for the per-era
  * solvers (tests/test_neutralization.py:62-205,
  * tests/test_penalizer_comparison.py:250-298, FIXTURES.md §1.2-1.3):
  * exposure strictly reduced at proportion=1.0; outputs min≈0 / max≈1;
  * penalized exposures ≤ max_exposure + 0.01.
  */
class SolverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Normalized-correlation exposures (reference penalization.py:296-303). */
  def exposures(x: DenseMatrix[Double], y: DenseVector[Double])
      : DenseVector[Double] = {
    val xc = x.copy
    for (j <- 0 until x.cols) {
      val c = xc(::, j); c -= sum(c) / c.length
      val n = norm(c); if (n > 0) c /= n
    }
    val yc = y.copy
    yc -= sum(yc) / yc.length
    val n = norm(yc); if (n > 0) yc /= n
    xc.t * yc
  }

  val nFeat = 5
  val rng = new scala.util.Random(42)
  // 5 eras × 20 rows, features ~ N(0,1), pred = X w + 0.1 noise
  val w = DenseVector(0.5, -0.4, 0.3, 0.2, -0.1)
  val rows: Seq[SolverRow] = (0 until 100).map { i =>
    val f = DenseVector.fill(nFeat)(rng.nextGaussian())
    SolverRow(i.toLong, s"era${i / 20}", f(0), f(1), f(2), f(3), f(4),
      (f dot w) + 0.1 * rng.nextGaussian())
  }
  def df: DataFrame = rows.toDF()
  val featCols = Seq("f0", "f1", "f2", "f3", "f4")

  def q(n: String) = col(s"`$n`")

  def eraMatrices(out: DataFrame, outCol: String)
      : Seq[(DenseMatrix[Double], DenseVector[Double], DenseVector[Double])] = {
    val collected = out.select((Seq("era", "id", "prediction", outCol) ++
      featCols).map(q): _*).collect()
    collected.groupBy(_.getString(0)).values.toSeq.map { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      val x = DenseMatrix.tabulate(sorted.length, nFeat)((i, j) =>
        sorted(i).getDouble(4 + j))
      val pred = DenseVector(sorted.map(_.getDouble(2)))
      val outv = DenseVector(sorted.map(_.getDouble(3)))
      (x, pred, outv)
    }
  }

  test("neutralizer: p=1.0 strictly reduces max feature exposure per era; " +
    "output scaled to [0,1] (test_neutralization.py:83-114,182-205)") {
    val out = FeatureNeutralizer(Seq("prediction"), featCols,
      Seq(0.5, 1.0), "era", "id").transform(df).cache()
    val names = Seq("prediction_neutralized_0.5", "prediction_neutralized_1.0")
    assert(names.forall(out.columns.contains))
    // global [0,1] bounds
    for (n <- names) {
      val r = out.agg(min(q(n)), max(q(n))).collect()(0)
      assert(math.abs(r.getDouble(0)) < 1e-9 &&
        math.abs(r.getDouble(1) - 1.0) < 1e-9)
    }
    // exposure strictly reduced at full proportion
    for ((x, pred, outv) <- eraMatrices(out, "prediction_neutralized_1.0")) {
      val before = breeze.linalg.max(exposures(x, pred).map(math.abs))
      val after = breeze.linalg.max(exposures(x, outv).map(math.abs))
      // the reference asserts strict reduction, not ≈0: the no-intercept
      // lstsq residual is orthogonal to raw (not centered) features, so a
      // small centered-correlation residual remains by design
      assert(after < before,
        s"exposure not reduced: before=$before after=$after")
    }
    out.unpersist()
  }

  test("neutralizer: multi-proportion fan-out and suffix naming " +
    "(test_neutralization.py:117-157)") {
    val t = FeatureNeutralizer(Seq("prediction"), featCols, Seq(0.25),
      "era", "id", suffix = Some("v2"))
    assert(t.outputNames == Seq("prediction_neutralized_0.25_v2"))
    val out = t.transform(df)
    assert(out.columns.contains("prediction_neutralized_0.25_v2"))
    assert(out.count() == 100)
  }

  test("penalizer: caps |exposure| at max_exp + 0.01; output in [0,1] " +
    "(test_penalizer_comparison.py:250-298)") {
    val maxExp = 0.2
    val out = FeaturePenalizer(Seq("prediction"), featCols, Seq(maxExp),
      "era", "id", maxIters = 50000).transform(df).cache()
    val name = s"prediction_penalized_$maxExp"
    assert(out.columns.contains(name))
    val r = out.agg(min(q(name)), max(q(name))).collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-9 &&
      math.abs(r.getDouble(1) - 1.0) < 1e-9)
    for ((x, _, outv) <- eraMatrices(out, name)) {
      // exposures computed on shifted features, as the optimizer sees them
      val shifted = x - 0.5
      val e = breeze.linalg.max(exposures(shifted, outv).map(math.abs))
      assert(e <= maxExp + 0.01, s"exposure $e exceeds cap $maxExp+0.01")
    }
    out.unpersist()
  }

  test("penalizer fixed-iteration mode (tol=0): deterministic across " +
    "runs, moves toward the cap, output in [0,1]") {
    val maxExp = 0.2
    def run() = FeaturePenalizer(Seq("prediction"), featCols, Seq(maxExp),
      "era", "id", maxIters = 10, tol = 0.0).transform(df)
      .select(col("id"), q(s"prediction_penalized_$maxExp").as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = run(); val b = run()
    assert(a == b, "exactly-N-iterations mode must be bitwise deterministic")
    val r = df.sparkSession.createDataFrame(
      a.toSeq.map(kv => Tuple2(kv._1, kv._2))).toDF("id", "v")
      .agg(min(col("v")), max(col("v"))).collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-9 &&
      math.abs(r.getDouble(1) - 1.0) < 1e-9)
    // the 10 steps actually move the solution: outputs differ from the
    // 0-iteration (pure gaussianize+scale) baseline (full convergence
    // toward the cap is pinned by the 50k-iteration test above)
    val before = FeaturePenalizer(Seq("prediction"), featCols, Seq(maxExp),
      "era", "id", maxIters = 0, tol = 0.0).transform(df)
      .select(col("id"), q(s"prediction_penalized_$maxExp").as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == before.keySet)
    assert(a.exists { case (k, v) => math.abs(v - before(k)) > 1e-9 },
      "10 Adamax steps must change the output")
  }
}

/** Reference-test parity additions (round 2): suffix naming
  * (test_neutralization.py:140-158), no-era mode
  * (test_neutralization.py:160-180), pipeline chaining through a solver
  * (test_model_estimators.py:191-224 shape). */
class SolverContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def panel(n: Int): DataFrame = {
    val rng = new scala.util.Random(3)
    (0 until n).map { i =>
      SolverRow(i.toLong, s"e${i % 3}", rng.nextDouble(), rng.nextDouble(),
        rng.nextDouble(), rng.nextDouble(), rng.nextDouble(),
        rng.nextDouble())
    }.toDF()
  }

  test("neutralizer suffix lands in every output name " +
    "(test_neutralization.py:140-158)") {
    val nt = FeatureNeutralizer(Seq("prediction"), Seq("f0", "f1"),
      Seq(0.5, 1.0), "era", "id", suffix = Some("v2"))
    assert(nt.outputNames ==
      Seq("prediction_neutralized_0.5_v2", "prediction_neutralized_1.0_v2"))
    val out = nt.transform(panel(90))
    nt.outputNames.foreach(n => assert(out.columns.contains(n)))
  }

  test("no-era mode (eraCol = \"\") treats the whole frame as one era " +
    "(test_neutralization.py:160-180)") {
    val df = panel(90)
    val noEra = FeatureNeutralizer(Seq("prediction"), Seq("f0"), Seq(1.0),
      "", "id").outputsOnly(df)
    // equivalent to a constant era column
    val oneEra = FeatureNeutralizer(Seq("prediction"), Seq("f0"), Seq(1.0),
      "const_era", "id")
      .outputsOnly(df.withColumn("const_era", lit("all")))
    val a = noEra.orderBy("id").collect().map(_.toSeq)
    val b = oneEra.orderBy("id").collect().map(_.toSeq)
    assert(a.sameElements(b))
    // and differs from the 3-era solve
    val eras = FeatureNeutralizer(Seq("prediction"), Seq("f0"), Seq(1.0),
      "era", "id").outputsOnly(df).orderBy("id").collect().map(_.toSeq)
    assert(!a.sameElements(eras))
    // penalizer accepts the same convention
    val pen = FeaturePenalizer(Seq("prediction"), Seq("f0", "f1"), Seq(0.5),
      "", "id", maxIters = 2000).outputsOnly(df)
    assert(pen.count() == 90)
  }

  test("pipeline chains window transformers into a solver " +
    "(sklearn-pipeline shape, test_model_estimators.py:191-224)") {
    import graft.operators._
    val df = panel(90).withColumn("date", col("era"))
    val pipe = Pipeline(Seq(
      RankTransformer(Seq("f0"), "date"),
      FeatureNeutralizer(Seq("prediction"), Seq("f0_rank"), Seq(0.5),
        "era", "id")))
    val out = pipe.transform(df)
    assert(out.columns.contains("f0_rank") &&
      out.columns.contains("prediction_neutralized_0.5"))
    assert(out.count() == 90)
  }
}

/** Validation-error contracts (reference test_model_estimators.py:291-303
  * + the transformers' own require() guards). */
class ErrorContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("cache hygiene: sequential solver calls keep at most one live " +
    "cache; GraftTransformer.unpersistAll releases it") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = (0 until 60).map { i =>
      SolverRow(i.toLong, s"e${i % 3}", rng.nextDouble(), rng.nextDouble(),
        rng.nextDouble(), rng.nextDouble(), rng.nextDouble(),
        rng.nextDouble())
    }.toDF()
    def cachedRdds: Int = spark.sparkContext.getPersistentRDDs.size
    graft.operators.GraftTransformer.unpersistAll()
    // unpersist is async — poll until the bookkeeping map drains
    def awaitAtMost(n: Int): Int = {
      var tries = 0
      while (cachedRdds > n && tries < 50) { Thread.sleep(100); tries += 1 }
      cachedRdds
    }
    // baseline-relative: earlier suites in the shared session may hold
    // their own (non-library) caches
    val base = awaitAtMost(0)
    def run() = FeatureNeutralizer(Seq("prediction"), Seq("f0", "f1"),
      Seq(1.0), "era", "id").transform(df).count()
    run()
    val afterFirst = cachedRdds
    assert(afterFirst <= base + 1, s"first call: $afterFirst vs base $base")
    run()
    assert(awaitAtMost(base + 1) <= base + 1, "second call accumulated caches")
    graft.operators.GraftTransformer.unpersistAll()
    assert(awaitAtMost(base) <= base, "unpersistAll left caches live")
  }

  test("invalid parameters raise with the reference's messages") {
    intercept[IllegalArgumentException] {
      FeatureNeutralizer(Seq("p"), Seq("f"), Seq(1.5))
    }
    intercept[IllegalArgumentException] {
      FeaturePenalizer(Seq("p"), Seq("f"), Seq(-0.1))
    }
    intercept[IllegalArgumentException] {
      FeatureNeutralizer(Seq("p", "p"), Seq("f"))
    }
    intercept[IllegalArgumentException] {
      graft.ml.LSTMRegressor(Seq("a", "b", "c"), 2,
        graft.QueriesML.pinnedLstm) // 3 cols don't reshape into 2 steps
    }
    intercept[IllegalArgumentException] {
      graft.operators.SequenceReshape.toSequenceTensor(Seq("a", "b", "c"), 2)
    }
  }

  test("a repeated target name is refused when the trainer is built") {
    // the fit frame would carry two same-named target columns; Spark
    // only rejects the reference once the frame is cached, and without
    // target scaling nothing rejects it at all
    val lags = Seq("lag2", "lag1")
    for (make <- Seq[() => Any](
        () => new graft.ml.DeepMLPRegressor(Seq("f0"), "y",
          extraTargetCols = Seq("y")),
        () => new graft.ml.DeepMLPRegressor(Seq("f0"), "y",
          extraTargetCols = Seq("y2", "y2"), scaleTarget = false),
        () => new graft.ml.LSTMTrainer(lags, 2, "y",
          extraTargetCols = Seq("y")),
        () => new graft.ml.AttnTrainer(lags, 2, "y",
          extraTargetCols = Seq("y2", "y")))) {
      val e = intercept[IllegalArgumentException](make())
      assert(e.getMessage.contains("target columns repeat a name"))
    }
  }

  test("a repeated target name in the soft forest and both autoencoders " +
    "is refused before the fit frame is cached") {
    import spark.implicits._
    val df = Seq((0.1, 1.0, 2.0), (0.2, 3.0, 4.0)).toDF("f0", "y", "y2")
    for (fit <- Seq[() => Any](
        () => new graft.ml.SoftNdfRegressor(Seq("f0"), "y",
          extraTargetCols = Seq("y"), epochs = 1).fit(df),
        () => new graft.ml.DeepJointAutoencoder(Seq("f0"), "y",
          extraTargetCols = Seq("y2", "y"), epochs = 1).fit(df),
        () => new graft.ml.DeepBnAutoencoder(Seq("f0"), "y",
          extraTargetCols = Seq("y"), epochs = 1).fit(df))) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[IllegalArgumentException](fit())
      assert(e.getMessage.contains("target columns repeat a name"))
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        "the refused fit left a cached frame")
    }
  }
}
