package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml._

/** Per-family model persistence (VERDICT r10 item 2): every trained
  * estimator family saves → loads → scores BIT-identically, with
  * loader-side family and shape validation — the whole-estimator
  * persistence the reference gets free from sklearn pickling (any
  * fitted keras_estimators/base.py wrapper travels to scoring jobs).
  * The MLP family is WeightsIOSpec's; this suite covers the rest:
  * LSTM (all three layouts), the transformer (reduced + full kernels),
  * the four autoencoder families, and the soft forest. */
class ModelPersistenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(sub: String) =
    java.nio.file.Files.createTempDirectory("graft-mio")
      .resolve(sub).toString

  /** Assert two scorings agree bit-for-bit on `cols`, keyed by id. */
  private def assertBitEqual(a: DataFrame, b: DataFrame,
      cols: Seq[String]): Unit = {
    def m(df: DataFrame) = df.select(("id" +: cols).map(col): _*)
      .collect().map(r => r.getLong(0) ->
        cols.indices.map(i => java.lang.Double.doubleToRawLongBits(
          r.getDouble(i + 1)))).toMap
    val (ma, mb) = (m(a), m(b))
    assert(ma.keySet == mb.keySet, "row sets differ")
    ma.foreach { case (k, v) =>
      assert(v == mb(k), s"prediction bits drifted for id $k")
    }
  }

  /** AR(2) lag panel — the sequence-trainer home fixture. */
  private lazy val seqFrame: DataFrame = {
    val r = new scala.util.Random(7)
    val series = new Array[Double](340)
    for (i <- 2 until series.length)
      series(i) = 1.2 * series(i - 1) - 0.4 * series(i - 2) +
        0.3 * r.nextGaussian()
    (4 until 300).map(i => (i.toLong, series(i - 4), series(i - 3),
      series(i - 2), series(i - 1), series(i)))
      .toDF("id", "lag4", "lag3", "lag2", "lag1", "y")
  }

  /** Tabular features + target — the AE/forest fixture. */
  private lazy val tabFrame: DataFrame = {
    val r = new scala.util.Random(11)
    (0 until 240).map { i =>
      val (f0, f1, f2) = (r.nextGaussian(), r.nextGaussian(),
        r.nextGaussian())
      (i.toLong, f0, f1, f2, 2.0 * f0 - f1 + 0.3 * f2 +
        0.1 * r.nextGaussian(), f0 + f1)
    }.toDF("id", "f0", "f1", "f2", "y", "y2")
  }

  private val lags = Seq("lag4", "lag3", "lag2", "lag1")

  test("lstm: single-layer save -> load -> predict is bit-identical") {
    val m = new LSTMTrainer(Seq("lag2", "lag1"), seqLen = 2,
      targetCol = "y", hidden = 3, lr = 0.02, epochs = 8).fit(seqFrame)
    val p = tmp("lstm1.json")
    m.save(p)
    assertBitEqual(m.predict(seqFrame),
      LSTMTrainer.load(p).predict(seqFrame), Seq("prediction"))
    // wrong-family guard
    intercept[IllegalArgumentException] { AttnTrainer.load(p) }
  }

  test("lstm: stacked + layerNorm save -> load is bit-identical, and a " +
    "meta/kernel shape mismatch refuses to load") {
    val m = new LSTMTrainer(lags, seqLen = 2, targetCol = "y",
      layers = Seq(3, 2), layerNorm = true, lr = 0.02, epochs = 6)
      .fit(seqFrame)
    val p = tmp("lstm_stack.json")
    m.save(p)
    assertBitEqual(m.predict(seqFrame),
      LSTMTrainer.load(p).predict(seqFrame), Seq("prediction"))
    // tamper the architecture meta: the stored kernel no longer fits
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
    val bad = p + ".bad"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad),
      txt.replace("\"layers\":\"3,2\"", "\"layers\":\"4,2\"")
        .getBytes("UTF-8"))
    intercept[IllegalArgumentException] { LSTMTrainer.load(bad) }
  }

  test("lstm: bidirectional + layerNorm save -> load is bit-identical") {
    val m = new LSTMTrainer(lags, seqLen = 2, targetCol = "y",
      hidden = 3, bidirectional = true, layerNorm = true, lr = 0.02,
      epochs = 6).fit(seqFrame)
    val p = tmp("lstm_bidi.json")
    m.save(p)
    assertBitEqual(m.predict(seqFrame),
      LSTMTrainer.load(p).predict(seqFrame), Seq("prediction"))
  }

  test("attn: reduced kernel (pre-norm) save -> load is bit-identical") {
    val m = new AttnTrainer(lags, seqLen = 4, targetCol = "y",
      dModel = 4, ffDim = 8, preNorm = true, lr = 0.02, epochs = 6)
      .fit(seqFrame)
    val p = tmp("attn_red.json")
    m.save(p)
    assertBitEqual(m.predict(seqFrame),
      AttnTrainer.load(p).predict(seqFrame), Seq("prediction"))
    intercept[IllegalArgumentException] { LSTMTrainer.load(p) }
  }

  test("attn: full kernel (multi-head, pooling, MLP head, 2 blocks) " +
    "save -> load is bit-identical") {
    val m = new AttnTrainer(lags, seqLen = 4, targetCol = "y",
      dModel = 4, ffDim = 8, preNorm = true, numHeads = 2,
      attnPool = true, mlpUnits = Seq(4), numBlocks = 2, lr = 0.02,
      epochs = 5).fit(seqFrame)
    val p = tmp("attn_full.json")
    m.save(p)
    assertBitEqual(m.predict(seqFrame),
      AttnTrainer.load(p).predict(seqFrame), Seq("prediction"))
  }

  test("joint ae: save -> load transforms AND predicts bit-identically") {
    val model = new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y",
      encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2), lr = 0.02,
      epochs = 10).fit(tabFrame)
    val p = tmp("joint_ae.json")
    model.save(p)
    val loaded = DeepJointAutoencoder.load(p)
    assertBitEqual(model.predict(tabFrame), loaded.predict(tabFrame),
      Seq("latent_0", "latent_1", "prediction"))
    assertBitEqual(model.reconstruct(tabFrame),
      loaded.reconstruct(tabFrame), Seq("recon_0", "recon_1", "recon_2"))
  }

  test("bn ae: save -> load (kernel + folded BN affines) is " +
    "bit-identical") {
    val model = new DeepBnAutoencoder(Seq("f0", "f1", "f2"), "y",
      encoderUnits = Seq(3), latentDim = 2, headUnits = Seq(2), lr = 0.02,
      epochs = 6, batchSize = 16).fit(tabFrame)
    val p = tmp("bn_ae.json")
    model.save(p)
    assertBitEqual(model.predict(tabFrame),
      DeepBnAutoencoder.load(p).predict(tabFrame),
      Seq("latent_0", "latent_1", "prediction"))
    intercept[IllegalArgumentException] { DeepJointAutoencoder.load(p) }
  }

  test("deep ae: multi-output save -> load is bit-identical") {
    val m = new DeepJointAutoencoder(Seq("f0", "f1", "f2"), "y",
      extraTargetCols = Seq("y2"), encoderUnits = Seq(4), latentDim = 2,
      headUnits = Seq(3), lr = 0.02, epochs = 8).fit(tabFrame)
    val p = tmp("deep_ae.json")
    m.save(p)
    assertBitEqual(m.predict(tabFrame),
      DeepJointAutoencoder.load(p).predict(tabFrame),
      Seq("prediction_0", "prediction_1"))
  }

  test("deep bn ae: save -> load (kernel + per-site affines) is " +
    "bit-identical") {
    val m = new DeepBnAutoencoder(Seq("f0", "f1", "f2"), "y",
      encoderUnits = Seq(4), latentDim = 2, headUnits = Seq(3),
      lr = 0.02, epochs = 6, batchSize = 16).fit(tabFrame)
    val p = tmp("deep_bn_ae.json")
    m.save(p)
    assertBitEqual(m.predict(tabFrame),
      DeepBnAutoencoder.load(p).predict(tabFrame), Seq("prediction"))
  }

  test("bottleneck: save -> load transforms and predicts " +
    "bit-identically") {
    val model = BottleneckEncoder(Seq("f0", "f1", "f2"), latentDim = 2,
      targetCol = Some("y")).fit(tabFrame)
    val p = tmp("bottleneck.json")
    model.save(p)
    val loaded = BottleneckModel.load(p)
    assertBitEqual(model.predict(tabFrame), loaded.predict(tabFrame),
      Seq("latent_0", "latent_1", "prediction"))
  }

  test("soft forest: single-output save -> load is bit-identical") {
    val model = new SoftNdfRegressor(Seq("f0", "f1", "f2"), "y",
      numTrees = 2, depth = 2, lr = 0.05, epochs = 10,
      trunkUnits = Seq(3)).fit(tabFrame)
    val p = tmp("forest.json")
    model.save(p)
    assertBitEqual(model.predict(tabFrame),
      SoftForestModel.load(p).predict(tabFrame), Seq("prediction"))
  }

  test("deep mlp: save -> load is bit-identical; wrong family refuses") {
    val m = new DeepMLPRegressor(Seq("f0", "f1", "f2"), "y",
      layers = Seq(4, 3), lr = 0.02, epochs = 10).fit(tabFrame)
    val p = tmp("deep_mlp.json")
    m.save(p)
    assertBitEqual(m.predict(tabFrame),
      DeepMLPRegressor.load(p).predict(tabFrame), Seq("prediction"))
    intercept[IllegalArgumentException] { LSTMTrainer.load(p) }
  }

  test("deep mlp multi: save -> load preserves every head") {
    val m = new DeepMLPRegressor(Seq("f0", "f1", "f2"),
      "y", extraTargetCols = Seq("y2"), layers = Seq(4), lr = 0.02,
      epochs = 10)
      .fit(tabFrame)
    val p = tmp("deep_mlp_multi.json")
    m.save(p)
    assertBitEqual(m.predict(tabFrame),
      DeepMLPRegressor.load(p).predict(tabFrame),
      Seq("prediction_0", "prediction_1"))
  }

  test("deep mlp: a combined-loss fit's rank settings survive save -> load") {
    val m = new DeepMLPRegressor(Seq("f0", "f1", "f2"), "y",
      layers = Seq(4), lr = 0.02, epochs = 3, loss = "combined",
      mseWeight = 0.5, spearmanWeight = 3.0, rankTau = 0.05,
      rankBatch = 16).fit(tabFrame)
    val p = tmp("deep_mlp_rank.json")
    m.save(p)
    val back = DeepMLPRegressor.load(p)
    assert((back.loss, back.mseWeight, back.spearmanWeight, back.rankTau,
      back.rankBatch) == ("combined", 0.5, 3.0, 0.05, 16))
    assertBitEqual(m.predict(tabFrame), back.predict(tabFrame),
      Seq("prediction"))
  }

  test("lstm multi: stacked 2-head save -> load is bit-identical") {
    val multiFrame = seqFrame.withColumn("y2",
      col("y") * lit(0.5) + col("lag1"))
    val m = new LSTMTrainer(lags, seqLen = 2,
      targetCol = "y", extraTargetCols = Seq("y2"), layers = Seq(3, 2),
      lr = 0.02,
      epochs = 6).fit(multiFrame)
    val p = tmp("lstm_multi.json")
    m.save(p)
    assertBitEqual(m.predict(multiFrame),
      LSTMTrainer.load(p).predict(multiFrame),
      Seq("prediction_0", "prediction_1"))
    intercept[IllegalArgumentException] { AttnTrainer.load(p) }
  }

  test("attn multi: full-kernel 2-head save -> load is bit-identical") {
    val multiFrame = seqFrame.withColumn("y2",
      col("y") * lit(0.5) + col("lag1"))
    val m = new AttnTrainer(lags, seqLen = 4,
      targetCol = "y", extraTargetCols = Seq("y2"), dModel = 4, ffDim = 8,
      preNorm = true, numHeads = 2, attnPool = true, lr = 0.02,
      epochs = 5).fit(multiFrame)
    val p = tmp("attn_multi.json")
    m.save(p)
    assertBitEqual(m.predict(multiFrame),
      AttnTrainer.load(p).predict(multiFrame),
      Seq("prediction_0", "prediction_1"))
  }

  test("soft forest: multi-output (piM) save -> load is bit-identical") {
    val model = new SoftNdfRegressor(Seq("f0", "f1", "f2"), "y",
      extraTargetCols = Seq("y2"), numTrees = 2, depth = 2, lr = 0.05,
      epochs = 8).fit(tabFrame)
    val p = tmp("forest_multi.json")
    model.save(p)
    assertBitEqual(model.predict(tabFrame),
      SoftForestModel.load(p).predict(tabFrame),
      Seq("prediction_0", "prediction_1"))
  }

  test("fit once, score anywhere: a LOADED estimator scores a " +
    "structured STREAM identically to the batch predict (pure " +
    "projection — no state, no watermark)") {
    val fitted = new MLPRegressor(Seq("f0", "f1", "f2"), "y", hidden = 4,
      lr = 0.05, epochs = 20).fit(tabFrame)
    val p = tmp("stream_mlp.json")
    fitted.save(p)
    val loaded = MLPRegressor.load(p) // the scoring job's side
    val dir = java.nio.file.Files.createTempDirectory("graft-mio-stream")
    val dataDir = dir.resolve("in").toString
    tabFrame.write.parquet(dataDir)
    val stream = spark.readStream.schema(tabFrame.schema).parquet(dataDir)
    val q = loaded.predict(stream)
      .select("id", "prediction")
      .writeStream.format("memory").queryName("mio_scored")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("mio_scored").collect()
      .map(r => r.getLong(0) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    val batch = fitted.predict(tabFrame).select("id", "prediction")
      .collect().map(r => r.getLong(0) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    assert(streamed == batch,
      "stream-scored predictions must equal the fitted batch predict " +
        "bit for bit")
  }

  test("ivf index: save (cell-partitioned parquet + exact-double " +
    "centroids) -> load -> search returns identical neighbor lists") {
    import graft.sim.IvfCosine
    val r = new scala.util.Random(3)
    val dim = 8
    val corpus = (0 until 60).map(i =>
      (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val idx = IvfCosine.assignByCentroids(corpus, "vec_id", "embedding",
      IvfCosine.pinnedCentroids(4, dim))
    val p = java.nio.file.Files.createTempDirectory("graft-ivf")
      .resolve("idx").toString
    IvfCosine.saveIndex(p, idx, "vec_id", "embedding")
    val loaded = IvfCosine.loadIndex(spark, p, "vec_id", "embedding")
    intercept[IllegalArgumentException] {
      IvfCosine.loadIndex(spark, p, "vec_id", "vec")
    }
    assert(loaded.centroids.length == 4 &&
      loaded.centroids.indices.forall(i =>
        loaded.centroids(i).sameElements(idx.centroids(i))),
      "centroids must round-trip bit-exactly")
    val probes = corpus.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def results(ix: IvfCosine.Index) =
      IvfCosine.search(ix, probes, "vec_id", "embedding", "qid", "qvec",
        k = 3, nprobe = 2, dim = dim)
        .collect().map(row => (row.getLong(0), row.getLong(1),
          java.lang.Double.doubleToRawLongBits(row.getDouble(2)),
          row.getInt(3))).toSet
    assert(results(idx) == results(loaded),
      "search over the loaded index must match the built one")
  }

  test("serve a probe STREAM against the persisted index: per-batch " +
    "search over loadIndex equals the batch search (the RAG " +
    "query-serving shape — index built once, queries arrive forever)") {
    import graft.sim.IvfCosine
    val r = new scala.util.Random(21)
    val dim = 8
    val corpus = (0 until 80).map(i =>
      (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("graft-ivfserve")
      .resolve("idx").toString
    IvfCosine.saveIndex(p,
      IvfCosine.assignByCentroids(corpus, "vec_id", "embedding",
        IvfCosine.pinnedCentroids(4, dim)), "vec_id", "embedding")
    val loaded = IvfCosine.loadIndex(spark, p, "vec_id", "embedding")
    val probes = corpus.where(col("vec_id") % 9 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def search(ps: org.apache.spark.sql.DataFrame) =
      IvfCosine.search(loaded, ps, "vec_id", "embedding", "qid", "qvec",
        k = 3, nprobe = 2, dim = dim)
    val dir = java.nio.file.Files.createTempDirectory("graft-serve")
    val inDir = dir.resolve("in").toString
    probes.write.parquet(inDir)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long, Int)]()
    val q = spark.readStream.schema(probes.schema).parquet(inDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // per micro-batch: the SAME cell-pruned equi-join search plan,
        // probes = just this batch (rank is per-qid, so batch-local
        // windows equal the global ones)
        search(batch).collect().foreach(row => got.add((row.getLong(0),
          row.getLong(1),
          java.lang.Double.doubleToRawLongBits(row.getDouble(2)),
          row.getInt(3))))
      }
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val batchResults = search(probes).collect().map(row =>
      (row.getLong(0), row.getLong(1),
        java.lang.Double.doubleToRawLongBits(row.getDouble(2)),
        row.getInt(3))).toSet
    assert(scala.jdk.CollectionConverters.IteratorHasAsScala(
      got.iterator).asScala.toSet == batchResults,
      "streamed per-batch search must equal the batch search bit-for-bit")
  }

  test("ivf index: appendToIndex adds a delta shard in place — loaded " +
    "index equals an index built over the union; corpus at rest is " +
    "not rewritten") {
    import graft.sim.IvfCosine
    val r = new scala.util.Random(9)
    val dim = 8
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val base = vecs(0 until 50).cache()
    val delta = vecs(50 until 80).cache()
    val cents = IvfCosine.pinnedCentroids(4, dim)
    val p = java.nio.file.Files.createTempDirectory("graft-ivfapp")
      .resolve("idx").toString
    IvfCosine.saveIndex(p,
      IvfCosine.assignByCentroids(base, "vec_id", "embedding", cents),
      "vec_id", "embedding")
    val filesBefore = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$p/assigned"))
      .filter(_.toString.endsWith(".parquet")).count()
    IvfCosine.appendToIndex(p, delta)
    // append-only: the base shard's files are still there, untouched
    val filesAfter = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$p/assigned"))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(filesAfter > filesBefore, "append must add files, not rewrite")
    val loaded = IvfCosine.loadIndex(spark, p, "vec_id", "embedding")
    val union = IvfCosine.assignByCentroids(base.unionByName(delta),
      "vec_id", "embedding", cents)
    val probes = base.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def results(ix: IvfCosine.Index) =
      IvfCosine.search(ix, probes, "vec_id", "embedding", "qid", "qvec",
        k = 3, nprobe = 2, dim = dim)
        .collect().map(row => (row.getLong(0), row.getLong(1),
          java.lang.Double.doubleToRawLongBits(row.getDouble(2)),
          row.getInt(3))).toSet
    assert(results(loaded) == results(union),
      "search over the appended index must equal a union rebuild")
    // a delta missing the recorded columns fails with the meta names
    intercept[IllegalArgumentException] {
      IvfCosine.appendToIndex(p,
        delta.withColumnRenamed("embedding", "vec"))
    }
  }

  test("ivf index: loadIndex detects a partially committed tree (row " +
    "count vs the centroids.json record) and strict append rejects a " +
    "mixed-dimension delta before any write") {
    import graft.sim.IvfCosine
    val r = new scala.util.Random(17)
    val dim = 8
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("graft-ivfcommit")
      .resolve("idx").toString
    IvfCosine.saveIndex(p,
      IvfCosine.assignByCentroids(vecs(0 until 60), "vec_id",
        "embedding", IvfCosine.pinnedCentroids(4, dim)),
      "vec_id", "embedding")
    IvfCosine.appendToIndex(p, vecs(60 until 90))
    // a completed save + append loads clean
    IvfCosine.loadIndex(spark, p, "vec_id", "embedding")

    // simulate a crash mid-commit: delete one committed part file —
    // the exact state ADVICE r12 flagged as silently corrupting a
    // build-once index
    val victim = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$p/assigned"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.delete(victim)
    val e = intercept[IllegalArgumentException] {
      IvfCosine.loadIndex(spark, p, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("did not commit completely"),
      s"load must name the commit failure, got: ${e.getMessage}")
    // escape hatch for forensic reads stays available
    IvfCosine.loadIndex(spark, p, Some("vec_id"), Some("embedding"),
      verifyRows = false)

    // strict delta validation: one good probe row would pass the
    // default single-row check; strict scans min/max(size) and refuses
    val mixed = vecs(100 until 104).unionByName(
      Seq((104L, Array.fill(dim + 2)(0.1f))).toDF("vec_id", "embedding"))
    val e2 = intercept[IllegalArgumentException] {
      IvfCosine.appendToIndex(p, mixed)
    }
    assert(e2.getMessage.contains("dim"),
      s"strict append must name the dimension range, got: ${e2.getMessage}")
  }
}
