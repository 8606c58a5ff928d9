package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dedup.{Dedup, DupClusters}
import graft.functions._
import graft.operators._
import graft.sim.{IvfCosine, IvfPq, PqCosine}
import graft.solvers.{FeatureNeutralizer, FeaturePenalizer}
import graft.text.{Bpe, CorpusOps, CorpusSplit}

/** Layer probes of the traced run: one span around each call into a
  * layer's public function, its input materialized before the span
  * opens, at fixed input sizes derived from the seed's tables. Returns
  * the per-layer metrics. Probes run in every traced run, so layers the
  * workload does not use are measured cold. */
final class Layers(spark: SparkSession, dir: String, seed: Long, tmp: Path,
    t: Tracer, failOp: Option[String]) {
  import Main.noop

  private val m = mutable.LinkedHashMap.empty[String, Double]
  private val dim = Workloads.Dim

  private def mat(df: DataFrame): DataFrame = {
    val l = df.localCheckpoint()
    l.count()
    l
  }

  /** `body`'s result and the wall seconds of one span around it. */
  private def timedResult[T](name: String)(body: => T): (T, Double) = {
    val r = t(name)(body)
    (r, t.last(name).wallS)
  }

  private def timed(name: String)(body: => Unit): Double =
    timedResult(name)(body)._2

  private def span(name: String): Span = t.last(name)

  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  private val li = mat(spark.read.parquet(s"$dir/lineitem.parquet"))
  private val nLi = li.count().toDouble
  private val docs = mat(ParallelInput.cpuBound(
    spark.read.parquet(s"$dir/documents.parquet")))
  private val nDocs = docs.count().toDouble
  private val emb = mat(ParallelInput.cpuBound(
    spark.read.parquet(s"$dir/embeddings.parquet")))
  // 4 copies with distinct ids: fixed-size vector and text inputs
  private val emb4 = mat((0 until 4).map(k => emb.select(
    (col("vec_id") + k * 1000000L).as("vec_id"), col("embedding")))
    .reduce(_ union _))
  private val docs4 = mat((0 until 4).map(k => docs.select(
    (col("doc_id") + k * 1000000L).as("doc_id"), col("text")))
    .reduce(_ union _))

  /** Probes every layer. Returns the metrics and, for each probe that
    * threw, its error; a failed probe's metrics may be missing.
    * `--fail-op layer.<name>` makes that probe throw. */
  def run(): (Map[String, Double], Map[String, String]) = {
    val layers = Seq[(String, () => Unit)]("operators" -> operators,
      "functions" -> functions, "solvers" -> solvers, "ml" -> ml,
      "sim" -> sim, "dedup" -> dedup, "text" -> text,
      "streaming" -> streaming)
    val errors = mutable.LinkedHashMap.empty[String, String]
    for ((name, probe) <- layers)
      try t(s"layer.$name") {
        if (failOp.contains(s"layer.$name"))
          throw new IllegalStateException("failure injected by --fail-op")
        probe()
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] layer probe $name failed: $e")
        errors(s"layer.$name") = (e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage)).take(300)
      }
    (m.toMap, errors.toMap)
  }

  private def operators(): Unit = {
    val (p, s) = ("l_extendedprice", "l_suppkey")
    val ord = Seq("l_shipdate", "l_orderkey", "l_linenumber")
    val ts = Seq(
      "logreturn" -> LogReturnTransformer(Seq(p), s, ord),
      "rank" -> RankTransformer(Seq(p, "l_quantity"), "l_shipdate"),
      "lag" -> LagTransformer(Seq(p), Seq(1, 2), s, ord),
      "ma" -> MovingAverageTransformer(Seq(p), Seq(2, 4), s, ord),
      "rolling" -> RollingStatsTransformer(Seq(p), Seq(4), s, ord),
      "ewma" -> EwmaTransformer(Seq(p), 5.0, 10, s, ord),
      "groupstats" -> GroupStatsTransformer(Map("g1" ->
        Seq("l_quantity", p, "l_discount", "l_tax"))))
    var busy = 0.0
    for ((name, tr) <- ts) {
      val s = timed(s"operators.$name")(noop(tr.transform(li)))
      busy += s
      m(s"operators.$name.rows_per_s") = ratio(nLi, s)
    }
    m("operators.busy_s") = busy
  }

  /** The second of two timed calls; the first warms the kernel. */
  private def warmTimed(name: String)(df: => DataFrame): Double =
    (1 to 2).map(_ => timed(name)(noop(df))).last

  private def kernel(name: String, rows: Double)(df: => DataFrame): Double = {
    val s = warmTimed(name)(df)
    m(s"$name.rows_per_s") = ratio(rows, s)
    s
  }

  private def functions(): Unit = {
    val x = col("l_extendedprice")
    kernel("functions.fast_round", nLi)(li.select(FastRound(x, 2)))
    kernel("functions.inv_norm_cdf", nLi)(li.select(
      InverseNormalCdf((col("l_quantity") - 0.5) / 50.0)))
    kernel("functions.median_mad", nLi)(
      li.groupBy("l_suppkey").agg(MedianMad(x)))
    kernel("functions.exact_percentiles", nLi)(
      li.groupBy("l_suppkey").agg(ExactPercentiles(x, Seq(0.1, 0.5, 0.9))))
    val nEmb = emb4.count().toDouble
    val nText = docs4.count().toDouble
    kernel("functions.word_token_counts", nText)(
      docs4.select(WordTokenCounts(col("text"))))
    kernel("functions.nfc_normalize", nText)(
      docs4.select(NfcNormalize(col("text"))))
    // kernels with a composed form the library pins as equal in PlanSpec
    def vsComposed(k: String, rows: Double, native: => DataFrame,
        composed: => DataFrame): Unit = {
      val n = kernel(s"functions.$k", rows)(native)
      m(s"functions.$k.speedup") =
        ratio(warmTimed(s"functions.$k.composed")(composed), n)
    }
    val (a, b) = (col("embedding"), col("embedding"))
    vsComposed("vec_dot", nEmb, emb4.select(VecDot(a, b)),
      emb4.select(aggregate(zip_with(a, b,
        (u, v) => u.cast("double") * v.cast("double")), lit(0.0),
        (acc, v) => acc + v)))
    val words = CorpusOps.words(col("text"))
    val hashes = mat(docs4.select(col("text"),
      transform(words, w => xxhash64(w)).as("h1"),
      transform(words, w => hash(w).cast("long")).as("h2"),
      array_sort(array_distinct(transform(words, w => hash(w).cast("long"))))
        .as("sa"),
      array_sort(array_distinct(transform(slice(words, 2, 20),
        w => hash(w).cast("long")))).as("sb")))
    vsComposed("minhash_sigs", nText,
      hashes.select(MinHashSigs(col("h1"), col("h2"), 16)),
      hashes.select(array((0 until 16).map(i =>
        expr(s"array_min(zip_with(h1, h2, (a, b) -> a + ${i}L * b))")): _*)))
    vsComposed("sorted_intersect_size", nText,
      hashes.select(SortedIntersectSize(col("sa"), col("sb"))),
      hashes.select(size(array_intersect(col("sa"), col("sb")))))
    // the two slowest composed forms run on the 1x corpus
    vsComposed("shingle_minhash", nDocs,
      docs.select(ShingleMinHash(col("text"), 3, 16)),
      docs.select(expr("array_distinct(transform(sequence(1, " +
        "greatest(length(text) - 2, 1)), i -> substring(text, i, 3)))")
        .as("sh"))
        .select(expr("transform(sh, s -> md5(s))").as("ms"))
        .select(
          expr("transform(ms, m -> cast(conv(substring(m, 1, 10), 16, 10)" +
            " as long))").as("h1"),
          expr("transform(ms, m -> cast(conv(substring(m, 11, 10), 16, 10)" +
            " as long))").as("h2"))
        .select(array((0 until 16).map(i =>
          expr(s"array_min(zip_with(h1, h2, (a, b) -> a + ${i}L * b))")): _*)))
    val hashed = transform(words, w => struct(
      (Dedup.md5Chunk(w, 1, 13) % 16).as("b"),
      (Dedup.md5Chunk(w, 14, 1) % 2 * 2 - 1).cast("double").as("s")))
    vsComposed("hash_bow", nDocs,
      docs.select(HashBow(words, 16)),
      docs.withColumn("__hs", hashed).select(
        transform(sequence(lit(0), lit(15)), bk =>
          aggregate(col("__hs"), lit(0.0d), (acc, e) => acc +
            when(e.getField("b") === bk.cast("long"), e.getField("s"))
              .otherwise(0.0d)))))
  }

  private def solvers(): Unit = {
    val p = "l_extendedprice"
    val feats = Seq("l_quantity", "l_discount", "l_tax")
    val df = mat(li.withColumn("era", date_format(col("l_shipdate"), "yyyy-MM"))
      .withColumn("rid", monotonically_increasing_id()))
    val eras = df.select("era").distinct().count().toDouble
    val g = timed("solvers.gaussianize")(noop(
      Gaussianizer(Seq(p), "era", Seq("rid")).transform(df)))
    m("solvers.gaussianize.rows_per_s") = ratio(nLi, g)
    val n = timed("solvers.neutralize")(noop(FeatureNeutralizer(Seq(p), feats,
      Seq(0.5), "era", "rid").outputsOnly(df)))
    m("solvers.neutralize.eras_per_s") = ratio(eras, n)
    // tol = 0: exactly maxIters updates per era, so the count is exact
    val iters = 10
    val pe = timed("solvers.penalize")(noop(FeaturePenalizer(Seq(p), feats,
      Seq(0.1), "era", "rid", maxIters = iters, tol = 0.0).outputsOnly(df)))
    m("solvers.penalize.eras_per_s") = ratio(eras, pe)
    m("solvers.penalize.iters") = iters * eras
    m("solvers.driver_s") = Seq("solvers.gaussianize", "solvers.neutralize",
      "solvers.penalize").map(span(_).gapS).sum
  }

  private def ml(): Unit = {
    val epochs = 5
    timed("ml.fit") {
      new graft.ml.MLPRegressor(Seq("l_quantity", "l_discount", "l_tax"),
        "l_extendedprice", hidden = 8, epochs = epochs, batchFraction = 1.0)
        .fit(li)
    }
    m("ml.fit.epoch_s") = span("ml.fit").wallS / epochs
    m("ml.fit.jobs_per_epoch") = span("ml.fit").counts.jobs.toDouble / epochs
    for ((k, q) <- Seq("mlp" -> "q_mlp_score", "lstm" -> "q_seq_score",
        "attn" -> "q_attn_score")) {
      val s = timed(s"ml.score.$k")(noop(SparkEntry.queries(q)(spark, dir)))
      m(s"ml.score.$k.rows_per_s") = ratio(nLi, s)
    }
  }

  private def sim(): Unit = {
    val grid = IvfCosine.pinnedCentroids(16, dim)
    val cents = IvfCosine.centroidsDf(spark, grid)
    val n = emb4.count().toDouble
    val a = timed("sim.assign")(noop(
      IvfCosine.assignByCentroidsDf(emb4, "vec_id", "embedding", cents)))
    m("sim.assign.rows_per_s") = ratio(n, a)
    val assigned = mat(IvfCosine.assignByCentroidsDf(emb4, "vec_id",
      "embedding", cents).select("vec_id", "embedding", "cell"))
    val path = Files.createTempDirectory(tmp, "layers-ivf").resolve("idx")
      .toString
    m("sim.index.save_s") = timed("sim.index.save")(IvfCosine.saveIndex(
      path, IvfCosine.Index(grid, assigned), "vec_id", "embedding"))
    val (idx, load) = timedResult("sim.index.load")(
      IvfCosine.loadIndex(spark, path, "vec_id", "embedding"))
    m("sim.index.load_s") = load
    val probes = mat(emb.where(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
    val q = probes.count().toDouble
    val hits = IvfCosine.searchDf(idx.assigned, probes, "vec_id",
      "embedding", "qid", "qvec", cents, k = 5, nprobe = 4, dim = dim)
    val s = timed("sim.search.ivf")(noop(hits))
    m("sim.search.ivf.qps") = ratio(q, s)
    m("sim.search.scored_per_hit") =
      ratio(scored(probes, assigned, nprobe = 4).toDouble, hits.count())
    val books = PqCosine.pinnedCodebooks(m = 8, subDim = 8, k = 16)
    val booksDf = PqCosine.codebooksDf(spark, books)
    val codes = mat(IvfPq.encodeDf(emb4, "vec_id", "embedding", cents,
      booksDf, m = 8))
    val pq = timed("sim.search.ivfpq")(noop(IvfPq.searchDf(codes, emb4,
      probes, "vec_id", "embedding", "qid", "qvec", cents, booksDf, k = 5,
      nprobe = 4, shortlist = 20, m = 8, nk = 16)))
    m("sim.search.ivfpq.qps") = ratio(q, pq)
  }

  /** Candidates an IVF search scores: per probe, the rows of its
    * `nprobe` most cosine-similar cells. */
  private def scored(probes: DataFrame, assigned: DataFrame,
      nprobe: Int): Long = {
    def norm(v: Column) = sqrt(aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val grid = IvfCosine.pinnedCentroids(16, dim)
    val cells = spark.createDataFrame(grid.zipWithIndex.map { case (c, i) =>
      (i, c.toSeq) }.toSeq).toDF("cell", "cvec")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("cell"))
    val ranked = probes.crossJoin(cells)
      .withColumn("cos", aggregate(zip_with(col("qvec"), col("cvec"),
        (u, v) => u.cast("double") * v), lit(0.0), (acc, x) => acc + x) /
        (norm(col("qvec")) * norm(col("cvec"))))
      .withColumn("r", row_number().over(w)).where(col("r") <= nprobe)
    val sizes = assigned.groupBy("cell").count()
    ranked.join(sizes, "cell").agg(sum("count")).first().getLong(0)
  }

  private def dedup(): Unit = {
    val s = timed("dedup.minhash")(noop(
      Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 16)))
    m("dedup.minhash.docs_per_s") = ratio(nDocs, s)
    val sigs = mat(Dedup.minHashSignatures(docs, "doc_id", "text",
      numHashes = 16).select("doc_id", "minhash"))
    val cands = mat(Dedup.lshCandidates(sigs, "doc_id", numHashes = 16,
      rowsPerBand = 4, maxBucketSize = 500))
    // useful outcomes / attempts: candidates whose full signatures agree
    // on at least half the hashes
    val a = sigs.select(col("doc_id").as("id_a"), col("minhash").as("ma"))
    val b = sigs.select(col("doc_id").as("id_b"), col("minhash").as("mb"))
    val agree = aggregate(zip_with(col("ma"), col("mb"),
      (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
    val kept = cands.join(a, "id_a").join(b, "id_b")
      .where(agree * 2 >= 16).count()
    m("dedup.pairs_kept_frac") = ratio(kept.toDouble, cands.count().toDouble)
    val pairs = mat(Dedup.simHashNearDups(Dedup.simHash(docs, "doc_id",
      "text"), "doc_id", maxHamming = 3, maxBucketSize = 1000))
    m("dedup.cc.busy_s") = timed("dedup.cc")(noop(
      DupClusters.connectedComponents(pairs, "id_a", "id_b")))
    m("dedup.cc.jobs") = span("dedup.cc").counts.jobs.toDouble
  }

  private def text(): Unit = {
    val (merges, s) = timedResult("text.bpe")(
      Bpe.learnMerges(docs, "doc_id", "text", 8))
    m("text.bpe.merges_per_s") = ratio(merges.size, s)
    m("text.bpe.jobs") = span("text.bpe").counts.jobs.toDouble
    val v = timed("text.vocab")(noop(
      CorpusSplit.topVocab(docs, "doc_id", "text", k = 100)))
    m("text.vocab.docs_per_s") = ratio(nDocs, v)
  }

  private def streaming(): Unit = {
    val root = Files.createTempDirectory(tmp, "layers-daily")
    val batch = new DailyBatch(spark, dir, seed, tmp).op(root, t)
    val start = System.currentTimeMillis()
    timed("streaming.batch")(noop(batch.run(false)))
    m("streaming.batch.jobs") = span("streaming.batch").counts.jobs.toDouble
    // files the batch created or rewrote in its index copy
    val files = Files.walk(root)
    m("streaming.batch.files_written") = try files.filter(f =>
      Files.isRegularFile(f) &&
        Files.getLastModifiedTime(f).toMillis >= start).count().toDouble
    finally files.close()
    m("sim.index.append_s") = span("sim.index.append").wallS
    m("sim.index.apply_s") = span("sim.index.apply").wallS
    m("sources.diff_s") = span("sources.diff").wallS
    val f = timed("streaming.ingest")(
      noop(SparkEntry.queries("q_ingest_pipeline")(spark, dir)))
    m("streaming.ingest.docs_per_s") = ratio(nDocs, f)
  }
}
