package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale guarantees the library
  * advertises (SURVEY.md §4.2) pinned as tests: pushdown reaches parquet,
  * pipelines use exactly one exchange per grouping key, dimension joins
  * broadcast, horizontal stats never shuffle. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.operators._

  val sf = "/root/testdata/sf0.001"

  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  def exchanges(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).length

  test("parquet pushdown: filter + column pruning reach the scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,30.0)"), s"no pushdown:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_quantity:double>"), s"no pruning:\n$plan")
  }

  test("rank construct is one exchange (rank + peer count + total count " +
    "share the date partitioning)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val out = RankTransformer(Seq("l_extendedprice"), "l_shipdate")
      .transform(li)
    assert(exchanges(planOf(out)) == 1)
  }

  test("adjacent ticker-keyed stages (lag + ma + logreturn) share ONE " +
    "exchange and one sort") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val ord = Seq("l_shipdate", "l_orderkey", "l_linenumber")
    val out = Pipeline(Seq(
      LagTransformer(Seq("l_extendedprice"), Seq(1, 2), "l_suppkey", ord),
      MovingAverageTransformer(Seq("l_extendedprice"), Seq(4), "l_suppkey", ord),
      LogReturnTransformer(Seq("l_extendedprice"), "l_suppkey", ord)
    )).transform(li)
    val plan = planOf(out)
    assert(exchanges(plan) == 1, s"expected 1 exchange:\n$plan")
  }

  test("groupstats is a pure projection: zero exchanges") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val out = GroupStatsTransformer(
      Map("g" -> Seq("l_quantity", "l_discount"))).transform(li)
    assert(exchanges(planOf(out)) == 0)
  }

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val plan = planOf(QueriesRelational.queries("q_star_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // only the final aggregation exchanges
    assert(exchanges(plan) <= 1, s"fact side must not shuffle for joins:\n$plan")
  }

  test("contrastive IVF mining plan: the cell lookup and the label " +
    "lookup are BROADCAST hash joins (the corpus never shuffles) and " +
    "there is no cartesian corpus product") {
    import graft.sim.{HardNegatives, IvfCosine, SemDecontam}
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    val evalSet = all.where(col("vec_id") % 23 === 1)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val clean = SemDecontam.clean(all.where(col("vec_id") % 23 =!= 1),
      evalSet, "vec_id", "embedding", "qid", "qvec", tau = 0.35,
      dim = 64)
    val idx = IvfCosine.assignByCentroids(clean, "vec_id", "embedding",
      IvfCosine.pinnedCentroids(16, 64))
    val anchors = clean.where(col("vec_id") < 40)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val short = IvfCosine.search(idx, anchors.select("qid", "qvec"),
      "vec_id", "embedding", "qid", "qvec", k = 12, nprobe = 4, dim = 64)
    val withQ = short.join(broadcast(anchors.select("qid", "qlabel")),
      Seq("qid"))
    val scored = clean
      .select(col("vec_id").as("nid"), col("label").as("nlabel"))
      .join(broadcast(withQ), Seq("nid"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
        graft.functions.FastRound(col("cosine"), 6).as("cosine"))
    val plan = planOf(
      HardNegatives.fromScored(scored, k = 3, maxCos = 0.40))
    assert(plan.contains("BroadcastHashJoin"),
      s"label/anchor lookups must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no corpus-sized cartesian product allowed:\n$plan")
  }

  test("topVocab's global top-k is a TakeOrdered over aggregated token " +
    "counts — never a single-partition sort of the full vocabulary") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(
      graft.text.CorpusSplit.topVocab(docs, "doc_id", "text", 30))
    // LimitPushDownThroughWindow rewrites the rank<=k filter on the
    // unpartitioned row_number window into a bounded top-k; accept the
    // WindowGroupLimit spelling too for robustness across Spark minors
    assert(plan.contains("TakeOrderedAndProject(limit=30") ||
      plan.contains("WindowGroupLimit"),
      s"global top-k not bounded:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"full vocab must not funnel through one partition:\n$plan")
  }

  test("pinned scoring paths (mlp/forest/bottleneck) are pure " +
    "projections: zero exchanges, no UDFs") {
    for (q <- Seq("q_mlp_score", "q_mlp_multi", "q_deep_multi",
        "q_forest_score", "q_bottleneck")) {
      val plan = planOf(QueriesML.queries(q)(spark, sf))
      assert(exchanges(plan) == 0, s"$q must not shuffle:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$q must not use UDFs:\n$plan")
    }
  }

  test("interval join rides the user_id equi-join (range as join filter, " +
    "never a cross product)") {
    val plan = planOf(QueriesStream.queries("q_interval_join")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_interval_join must keep the range on an equi-join:\n$plan")
  }

  test("bucketed as-of join: exactly one full-data window on (key, " +
    "bucket), carry branch pre-aggregates map-side, no cartesian") {
    val plan = planOf(QueriesStream.queries("q_asof_bucketed")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed asof must stay an equi-join:\n$plan")
    // ONE window partitioned by (user_id, bucket) — the heavy pass; the
    // per-key carry window runs over one row per (key, bucket). A
    // regression that derives the carry branch from the windowed frame
    // doubles the heavy sort (caught by this count).
    // heavy spec: PARTITION BY (user_id, __b) ORDER BY __t...; the tiny
    // per-key carry window (PARTITION BY user_id ORDER BY __b) has no
    // __t after __b and must not count
    val heavyWindows = "windowspecdefinition\\(user_id#\\d+L, __b#\\d+L?, __t#"
      .r.findAllIn(plan).length
    assert(heavyWindows == 1,
      s"expected exactly one (key, bucket) window, got $heavyWindows:\n$plan")
    // the carry branch reaches its shuffle pre-aggregated (partial
    // max_by before the exchange)
    assert(plan.contains("partial_max_by"),
      s"carry branch must partial-aggregate map-side:\n$plan")
  }

  test("target encoding never shuffles the fact side: category stats " +
    "arrive by broadcast join, no window over the category") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = planOf(TargetEncoder(Seq("l_returnflag"), "l_quantity")
      .transform(li))
    assert(!plan.contains("Window"),
      s"no category window expected:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"stats must broadcast onto the fact side:\n$plan")
    assert(exchanges(plan) == 1,
      s"only the stats aggregate's tiny exchange expected:\n$plan")
  }

  test("LSH bucket caps are broadcast anti-joins on the over-cap set — " +
    "no count window buffering the hottest bucket in one task") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = graft.dedup.Dedup.minHashSignatures(docs, "doc_id", "text")
    val plan = planOf(graft.dedup.Dedup.lshCandidates(sigs, "doc_id"))
    assert(!plan.contains("windowspecdefinition(bucket"),
      s"cap must not be a bucket window:\n$plan")
    assert(plan.contains("LeftAnti, BuildRight"),
      s"cap must be a broadcast left-anti join:\n$plan")
  }

  test("sequence scorers (lstm/attention) add NO exchange beyond the one " +
    "lag window") {
    for (q <- Seq("q_seq_score", "q_attn_score")) {
      val plan = planOf(QueriesML.queries(q)(spark, sf))
      assert(exchanges(plan) == 1,
        s"$q: exactly the lag-window exchange expected:\n$plan")
    }
  }

  test("brute-force cosine top-k broadcasts the probe side (corpus " +
    "never shuffles before the per-probe window)") {
    val plan = planOf(QueriesSim.queries("q_cosine_topk")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("near-dup LSH shuffles on the band bucket only (no cross join)") {
    val plan = planOf(QueriesSim.queries("q_embed_neardup")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"neardup must stay an equi-join on bucket:\n$plan")
  }

  test("bm25 is two narrow passes: corpus-side tf projection joins a " +
    "broadcast SCALAR stats row; top-k pushes into TakeOrdered") {
    val plan = planOf(QueriesCorpus.queries("q_bm25")(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      s"corpus stats must broadcast:\n$plan")
    // the only hash exchange is the single-row stats aggregate; the
    // per-document side never shuffles
    assert(exchanges(plan) <= 1, s"bm25 must not shuffle the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"rank<=k should push a limit below the global window:\n$plan")
  }

  test("decontamination builds a broadcast hash join on the shingle " +
    "(eval side broadcast; corpus side un-shuffled before the join)") {
    val plan = planOf(QueriesCorpus.queries("q_decontaminate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("quality/repetition stats are pure projections: zero exchanges, " +
    "and the tokenization kernel is staged ONCE as its own column") {
    import graft.text.{QualityFilterTransformer, RepetitionTransformer}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    for (out <- Seq(QualityFilterTransformer("text").transform(docs),
        RepetitionTransformer("text").transform(docs))) {
      val plan = planOf(out)
      assert(exchanges(plan) == 0, s"per-doc stats must not shuffle:\n$plan")
      // a tokenizer inlined into HOF lambdas re-runs per element
      // (lambdas are outside CSE) — it must appear exactly once
      val n = "word_tokens".r.findAllIn(plan).length
      assert(n == 1, s"tokenizer must be staged once, found $n:\n$plan")
    }
  }

  test("search over a LOADED cell-partitioned index triggers DYNAMIC " +
    "PARTITION PRUNING: only the probed cell directories are scanned " +
    "(the file-level nprobe/nlist read reduction at 100 TB)") {
    import graft.sim.IvfCosine
    import spark.implicits._
    val r = new scala.util.Random(17)
    val dim = 8
    val corpus = (0 until 120).map(i =>
      (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val p = java.nio.file.Files.createTempDirectory("graft-dpp")
      .resolve("idx").toString
    IvfCosine.saveIndex(p,
      IvfCosine.assignByCentroids(corpus, "vec_id", "embedding",
        IvfCosine.pinnedCentroids(8, dim)), "vec_id", "embedding")
    val loaded = IvfCosine.loadIndex(spark, p, "vec_id", "embedding")
    val probes = corpus.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = planOf(IvfCosine.search(loaded, probes, "vec_id",
      "embedding", "qid", "qvec", k = 3, nprobe = 2, dim = dim))
    assert(plan.contains("dynamicpruningexpression(cell"),
      s"no DPP on the assigned scan — a probe batch would read all " +
        s"nlist cell directories instead of its nprobe:\n$plan")
  }

  test("search over a LOADED IVF-PQ code table triggers the same " +
    "dynamic partition pruning on the cell-partitioned codes — the " +
    "compressed index keeps the file-level read reduction") {
    import graft.sim.{AnnIndexIO, IvfCosine, IvfPq, PqCosine}
    import spark.implicits._
    val r = new scala.util.Random(19)
    val dim = 8
    val corpus = (0 until 120).map(i =>
      (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val coarse = IvfCosine.pinnedCentroids(8, dim)
    val books = PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8)
    val p = java.nio.file.Files.createTempDirectory("graft-dpp-pq")
      .resolve("idx").toString
    AnnIndexIO.saveIvfPq(p, coarse, books,
      IvfPq.encodeDf(corpus, "vec_id", "embedding",
        IvfCosine.centroidsDf(spark, coarse),
        PqCosine.codebooksDf(spark, books), m = 4),
      "vec_id")
    val loaded = AnnIndexIO.loadIvfPq(spark, p)
    val probes = corpus.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val plan = planOf(IvfPq.searchDf(loaded.codes, corpus, probes,
      "vec_id", "embedding", "qid", "qvec",
      IvfCosine.centroidsDf(spark, loaded.coarse),
      PqCosine.codebooksDf(spark, loaded.codebooks), k = 3, nprobe = 2,
      shortlist = 10, m = 4, nk = 8))
    assert(plan.contains("dynamicpruningexpression(cell"),
      s"no DPP on the loaded codes scan — a probe batch would read " +
        s"all nlist cell directories instead of its nprobe:\n$plan")
  }

  test("trained-model scoring queries (soft forest, joint autoencoder) " +
    "are shuffle-free projection chains — map-side at scan speed") {
    for (q <- Seq("q_soft_forest", "q_ae_score", "q_ae_bn", "q_deep_bn")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q has an exchange:\n$plan")
    }
  }

  test("multi-output scoring queries (NDF pi matrix, AE target head) " +
    "stay shuffle-free: the shared trunk is staged once and every " +
    "prediction_i is a map-side projection over it") {
    for (q <- Seq("q_soft_multi", "q_ae_multi")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q has an exchange:\n$plan")
    }
    // the sequence multi heads keep the ONE lag-window exchange of
    // their single-output siblings — no extra shuffle for extra heads
    for (q <- Seq("q_lstm_multi", "q_attn_multi")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(exchanges(plan) <= 1, s"$q shuffles beyond the lag window")
    }
  }

  test("exact percentile over low-cardinality groups emits the plan-time " +
    "scale warning (the unpartitioned-window analog) and points at the " +
    "approx knob; the plan itself stays the exact aggregate") {
    import graft.operators.Percentiles
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
    val guarded = Percentiles.exact(df, "l_returnflag",
      "l_extendedprice", Seq(0.5, 0.9), knownGroups = 3L)
    assert(Percentiles.lastWarning.exists(w =>
      w.contains("approx_percentile") && w.contains("l_returnflag")),
      s"expected the low-cardinality warning, got ${Percentiles.lastWarning}")
    // high-cardinality (or unknown) keys stay silent
    Percentiles.exact(df, "l_partkey", "l_extendedprice", Seq(0.5),
      knownGroups = 100000L)
    assert(Percentiles.lastWarning.isEmpty, "spurious warning")
    Percentiles.exact(df, "l_partkey", "l_extendedprice", Seq(0.5))
    assert(Percentiles.lastWarning.isEmpty, "unknown cardinality flagged")
    // the guard never rewrites the plan: still the exact percentile agg
    val direct = df.groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.expr(
        "percentile(l_extendedprice, array(0.5, 0.9))").as("__q"))
    assert(guarded.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet)
  }

  test("zorder layout plan: ONE range exchange on z, key arithmetic " +
    "stays a projection over a broadcast scalar join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = planOf(ZOrder.layout(li,
      Seq("l_extendedprice", "l_quantity"), bits = 8, numPartitions = 8))
    assert("Exchange rangepartitioning".r.findAllIn(plan).length == 1,
      s"expected exactly one range exchange:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"min/max scalars must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("ewma is a pure projection after the shared ticker sort: one " +
    "exchange, no extra sort per lag term") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val ord = Seq("l_shipdate", "l_orderkey", "l_linenumber")
    val plan = planOf(EwmaTransformer(Seq("l_extendedprice"), 5.0, 10,
      "l_suppkey", ord).transform(li))
    assert(exchanges(plan) == 1, s"expected one exchange:\n$plan")
    assert("Sort \\[".r.findAllIn(plan).length == 1,
      s"expected one sort:\n$plan")
  }

  test("resample plan: spine join is an equi-join (no cartesian), the " +
    "observation side pre-aggregates map-side") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = planOf(Resample.dailyFfill(li, "l_returnflag",
      "l_shipdate", "l_extendedprice"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$plan")
    assert(plan.contains("partial_avg") || plan.contains("partial avg") ||
      "HashAggregate.*avg".r.findFirstIn(plan).isDefined,
      s"no map-side combine:\n$plan")
  }

  test("AQE skew split is the recorded runtime scale path for the batch " +
    "interval join: a celebrity key's partition splits across tasks " +
    "(skew=true in the final adaptive plan)") {
    // session-wide knobs — forced low so the tiny fixture trips the
    // skew detector, restored afterwards
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "2048",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048")
    val saved = keys.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      // celebrity user 0 owns 80% of both sides; the rest spread thin
      val ev = spark.range(6000).select(
        col("id").as("event_id"),
        when(col("id") % 10 < 8, 0L).otherwise(col("id") % 100)
          .as("user_id"),
        when(col("id") % 2 === 0, "view").otherwise("click")
          .as("event_type"),
        (col("id") % 97).cast("double").as("value"),
        timestamp_seconds(lit(1600000000L) + col("id") * 60).as("ts"))
      val joined = graft.streaming.EventStream
        .intervalJoin(ev, "view", "click", "2 hours")
      // execute THIS QueryExecution (a write/count would plan a fresh
      // one and leave this adaptive plan unfinalized)
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"AQE did not run:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE did not split the celebrity partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("table profile approxDistinct: HLL++ replaces the multi-distinct " +
    "Expand, every other statistic stays bit-identical, distinct counts " +
    "land within the sketch band") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val cols = Seq("l_partkey", "l_quantity", "l_extendedprice")
    val exact = TableProfile.profile(li, cols)
    val approx = TableProfile.profile(li, cols, approxDistinct = true,
      rsd = 0.02)
    val exactPlan = planOf(exact)
    val approxPlan = planOf(approx)
    // the exact path must NOT ride Catalyst's multi-distinct Expand
    // (7-wide nullable grouping key, distinct hash build pinned at scan
    // parallelism): the distinct subtree is the narrow (cid, value)
    // explode spread by a count-pinned repartition on exactly that key
    assert(!exactPlan.contains("Expand"),
      s"exact profile must use the narrow-key distinct subtree, not " +
        s"the multi-distinct Expand:\n$exactPlan")
    assert(exactPlan.contains("hashpartitioning(cid"),
      s"exact distinct subtree must spread on the (cid, value) key:\n" +
        exactPlan)
    assert(!approxPlan.contains("Expand"),
      s"approx profile must not Expand:\n$approxPlan")
    assert(approxPlan.contains("approx_count_distinct"), approxPlan)
    def byCol(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r).toMap
    val (e, a) = (byCol(exact), byCol(approx))
    for (c <- cols) {
      for (f <- Seq("n_rows", "n_nulls", "min_value", "max_value",
        "avg_value"))
        assert(e(c).getAs[Any](f) == a(c).getAs[Any](f),
          s"$c.$f must be identical")
      val (ed, ad) = (e(c).getAs[Long]("n_distinct"),
        a(c).getAs[Long]("n_distinct"))
      assert(math.abs(ad - ed) <= math.max(2.0, 0.1 * ed),
        s"$c n_distinct: exact $ed approx $ad outside the sketch band")
    }
  }

  test("lm buckets approxCuts: the cut aggregate becomes mergeable " +
    "approx_percentile (no full-score reducer buffer) and bucket labels " +
    "track the exact terciles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = graft.text.LmBuckets.headMiddleTail(docs, "doc_id", "text")
    val exactRows = exact.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    val approx = graft.text.LmBuckets.headMiddleTail(docs, "doc_id",
      "text", approxCuts = true)
    val approxPlan = planOf(approx)
    assert(approxPlan.contains("approx_percentile"), approxPlan)
    assert(!approxPlan.toLowerCase.contains("exactpercentiles"),
      s"exact buffer still present:\n$approxPlan")
    val approxRows = approx.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("bucket")).toMap
    assert(approxRows.keySet == exactRows.keySet)
    // at default accuracy the sketch cuts are the exact terciles on this
    // cardinality, so labels agree except possibly AT a cut boundary
    val diff = approxRows.count { case (id, b) => exactRows(id) != b }
    assert(diff <= math.max(2, exactRows.size / 100),
      s"$diff of ${exactRows.size} labels moved — cuts off the terciles")
  }

  test("dsir approxCut + proto-prune approxCuts: the quantile cut " +
    "becomes mergeable approx_percentile and keep labels track exact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val isTgt = org.apache.spark.sql.functions.col("source") === "src0"
    val exactD = graft.text.Dsir.resample(docs, "doc_id", "text",
        isTgt, keepFrac = 0.25)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val approxDf = graft.text.Dsir.resample(docs, "doc_id", "text",
      isTgt, keepFrac = 0.25, approxCut = true)
    val dPlan = planOf(approxDf)
    assert(dPlan.contains("approx_percentile"), dPlan)
    assert(!dPlan.toLowerCase.contains("exactpercentiles"), dPlan)
    val approxD = approxDf.collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(approxD.keySet == exactD.keySet)
    val dDiff = approxD.count { case (id, k) => exactD(id) != k }
    assert(dDiff <= math.max(2, exactD.size / 100), s"$dDiff moved")

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.sim.IvfCosine.centroidsDf(spark,
      graft.sim.IvfCosine.pinnedCentroids(8, 64))
    val exactP = graft.sim.ProtoPrune.prune(emb, "vec_id", "embedding",
        cents, keepFrac = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val approxPf = graft.sim.ProtoPrune.prune(emb, "vec_id", "embedding",
      cents, keepFrac = 0.5, approxCuts = true)
    val pPlan = planOf(approxPf)
    assert(pPlan.contains("approx_percentile"), pPlan)
    assert(!pPlan.toLowerCase.contains("exactpercentiles"), pPlan)
    val approxP = approxPf.collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(approxP.keySet == exactP.keySet)
    val pDiff = approxP.count { case (id, k) => exactP(id) != k }
    assert(pDiff <= math.max(2, exactP.size / 50), s"$pDiff moved")
  }

  test("round-8 curation plan shapes: the domain cap has no window and " +
    "no sort (partial top-k only), the hashing vectorizer is a pure " +
    "projection with zero exchanges") {
    val cap = graft.SparkEntry.queries("q_domain_cap")(spark, sf)
    val capPlan = planOf(cap)
    assert(!capPlan.contains("Window"),
      s"cap must not plan a window:\n$capPlan")
    assert(!"\\bSort\\b".r.findFirstIn(capPlan).isDefined,
      s"cap must not sort the corpus:\n$capPlan")
    assert(capPlan.contains("topk_by"), capPlan)
    val hv = graft.text.HashingVectorizer.vectorize(
      spark.read.parquet(s"$sf/documents.parquet"), "text", 16)
    val hvPlan = planOf(hv)
    assert(!hvPlan.contains("Exchange"),
      s"vectorizer must be shuffle-free:\n$hvPlan")
  }

  test("bucketed layout: co-located join + same-key aggregate plan has " +
    "ZERO exchanges (the write paid the shuffle once)") {
    val df = QueriesRelational.queries("q_bucketed_join")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("SortMergeJoin"), s"not a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join/agg still exchanges:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"scan is not bucket-aware:\n$plan")
    // and the values are the plain join's values regardless of layout
    val viaLayout = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val cents = graft.functions.FastRound(col("l_extendedprice") * 100, 0)
      .cast("long")
    val bp = lit(100L) -
      graft.functions.FastRound(col("l_discount") * 100, 0).cast("long")
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(sum(cents * bp).as("revenue_e4"),
        count(lit(1)).as("n_lines"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(viaLayout == plain)
  }

  test("count-min sketch plan: cell counts partial-aggregate map-side " +
    "(the exchange carries cells, not token occurrences) and the " +
    "estimate joins the sketch by broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val skPlan = planOf(graft.text.CountMin.sketch(docs, "text", 4, 64))
    assert(skPlan.contains("partial_count"),
      s"sketch cells must combine map-side:\n$skPlan")
    assert(exchanges(skPlan) == 1,
      s"one cell exchange expected:\n$skPlan")
    val estPlan = planOf(
      graft.text.CountMin.estimate(docs, "text", 4, 64))
    assert(estPlan.contains("BroadcastHashJoin"),
      s"sketch must broadcast onto the probes:\n$estPlan")
  }

  test("FFD packing plan: ONE exchange (the per-source collect), the " +
    "fold itself is a projection") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(graft.text.CorpusSplit.packFfd(docs, "doc_id",
      "source", size(graft.text.CorpusOps.words(col("text"))).cast("long"),
      128))
    assert(exchanges(plan) == 1,
      s"only the source groupBy should exchange:\n$plan")
    assert(!plan.contains("Window"),
      s"the fold must not be a window:\n$plan")
  }

  test("partitioned layout: the predicate prunes directories at plan " +
    "time (PartitionFilters), not just row groups") {
    val df = QueriesRelational.queries("q_partitioned_prune")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(plan).nonEmpty,
      s"no partition pruning on l_returnflag:\n$plan")
    // the partition column never reaches the data-filter side
    assert(!plan.contains("PushedFilters: [IsNotNull(l_returnflag)"),
      s"partition predicate leaked into data filters:\n$plan")
  }

  test("heavy hitters confirm pass (VERDICT r12 item 4): the candidate " +
    "membership probe runs INSIDE the token array (the generate emits " +
    "candidate occurrences only), the exact count partial-aggregates " +
    "map-side, and the plan's single exchange carries the <= k " +
    "candidate keys — every per-occurrence cost is linear in corpus " +
    "token volume, nothing is corpus-sized after the partial") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.text.HeavyHitters.exact(docs,
      graft.text.CorpusOps.wordNgrams(
        graft.text.CorpusOps.words(org.apache.spark.sql.functions
          .col("text")), 2), theta = 0.001)
    val plan = planOf(df)
    // exactly one exchange: the token-keyed confirm aggregation; its
    // input is the PARTIAL per-task aggregate (<= k candidate rows per
    // task, never the occurrence stream)
    assert(exchanges(plan) == 1,
      s"confirm pass must shuffle once, on the candidate keys:\n$plan")
    assert(plan.contains("partial_count"),
      s"confirm count must partial-aggregate before the exchange:\n$plan")
    // the candidate probe is applied to the ARRAY, before explode —
    // Catalyst does not rewrite filter-after-explode on its own, so the
    // generate's input expression must be filter(tokens, ...)
    assert(plan.contains("Generate explode(filter("),
      s"candidate filter must run inside the array, pre-explode:\n$plan")
  }
}

/** Randomized property tests (SURVEY.md §5.4): rank bounds, null-count
  * contracts of lag/ma, gaussianize symmetry. Seeded draws (5 trials
  * each) rather than a scalacheck runner — the scalatest-scalacheck
  * bridge is not in the offline dependency set. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators._

  val rng = new scala.util.Random(20260812L)

  test("rank outputs lie in (0, 1]; unique max ranks 1.0 " +
    "(random int panels, ties included)") {
    for (_ <- 1 to 5) {
      val vals = List.fill(40)(rng.nextInt(50) - 25) // small range → ties
      val df = vals.zipWithIndex
        .map { case (v, i) => (s"d${i % 3}", v) }.toDF("date", "v")
      val out = RankTransformer(Seq("v"), "date").transform(df)
      val ranks = out.select("v_rank").collect().map(_.getDouble(0))
      // a TIED maximum averages below n/n — same as narwhals .rank()
      assert(ranks.forall(r => r > 0.0 && r <= 1.0))
    }
    val unique = Seq(("d", 1), ("d", 2), ("d", 3)).toDF("date", "v")
    val top = RankTransformer(Seq("v"), "date").transform(unique)
      .agg(max(col("v_rank"))).collect()(0).getDouble(0)
    assert(top == 1.0)
  }

  test("lag/ma null contracts: lag-k yields k leading nulls per group, " +
    "ma-w yields w-1") {
    for (w <- 2 to 6) {
      val df = (0 until 30).map(i => (s"t${i % 2}", i, rng.nextDouble()))
        .toDF("ticker", "ord", "v")
      val lagged = LagTransformer(Seq("v"), Seq(w), "ticker", Seq("ord"))
        .transform(df)
      assert(lagged.where(col(s"v_lag$w").isNull).count() == 2L * w)
      val ma = MovingAverageTransformer(Seq("v"), Seq(w), "ticker",
        Seq("ord")).transform(df)
      assert(ma.where(col(s"v_ma$w").isNull).count() == 2L * (w - 1))
    }
  }

  test("native vec_dot equals the HOF fold bit-for-bit on random vectors") {
    import graft.dedup.Similarity
    for (_ <- 1 to 5) {
      val dim = 1 + rng.nextInt(96)
      val rows = (0 until 50).map { i =>
        (i.toLong, Array.fill(dim)(rng.nextFloat() * 4 - 2),
          Array.fill(dim)(rng.nextFloat() * 4 - 2))
      }
      val df = rows.toDF("id", "a", "b")
      val hof = aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val bad = df.select(Similarity.dot(col("a"), col("b")).as("n"),
        hof.as("h")).where(col("n") =!= col("h")).count()
      assert(bad == 0, s"vec_dot diverged from the fold on $bad rows")
    }
  }

  test("native hash_bow equals the HOF transform+aggregate composition " +
    "bit-for-bit on real documents, and stays codegen'd") {
    import graft.dedup.Dedup
    import graft.text.CorpusOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (dim <- Seq(16, 33)) {
      // the composition HashingVectorizer shipped before the kernel
      val hashed = transform(CorpusOps.words(col("text")), t => struct(
        (Dedup.md5Chunk(t, 1, 13) % dim).as("b"),
        (Dedup.md5Chunk(t, 14, 1) % 2 * 2 - 1).cast("double").as("s")))
      val hof = transform(sequence(lit(0), lit(dim - 1)), b =>
        aggregate(col("__hs"), lit(0.0d),
          (acc, x) => acc + when(x.getField("b") === b.cast("long"),
            x.getField("s")).otherwise(0.0d)))
      val both = docs.withColumn("__hs", hashed)
        .select(col("doc_id"),
          graft.functions.HashBow(CorpusOps.words(col("text")), dim)
            .as("nv"),
          hof.as("hv"))
      val bad = both.where(col("nv") =!= col("hv")).count()
      assert(bad == 0, s"hash_bow diverged from the fold on $bad rows " +
        s"(dim=$dim)")
    }
    val plan = docs.select(
      graft.functions.HashBow(CorpusOps.words(col("text")), 16).as("v"))
      .queryExecution.executedPlan.toString
    // executedPlan.toString marks whole-stage-codegen spans "*(n) ..."
    assert(plan.contains("*(1) Project"),
      s"hash_bow must stay inside whole-stage codegen:\n$plan")
  }

  test("native sorted_intersect_size equals size(array_intersect) on " +
    "random sorted sets") {
    import graft.functions.SortedIntersectSize
    for (_ <- 1 to 5) {
      val rows = (0 until 100).map { i =>
        def set() = Array.fill(5 + rng.nextInt(60))(
          rng.nextInt(40).toLong).distinct.sorted
        (i.toLong, set(), set())
      }
      val df = rows.toDF("id", "a", "b")
      val bad = df.select(
        SortedIntersectSize(col("a"), col("b")).as("n"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("s"))
        .where(col("n") =!= col("s")).count()
      assert(bad == 0, s"sorted_intersect_size diverged on $bad rows")
    }
  }

  test("gaussianized column is near-symmetric (mean ~ 0) for any input") {
    for (_ <- 1 to 5) {
      val vals = List.fill(101)(rng.nextDouble() * 2e6 - 1e6)
      val df = vals.zipWithIndex.map { case (v, i) => ("e", v, i) }
        .toDF("era", "v", "id")
      val out = Gaussianizer(Seq("v"), "era", Seq("id")).transform(df)
        .agg(avg(col("v_gauss"))).collect()(0).getDouble(0)
      assert(math.abs(out) < 0.05)
    }
  }
}

/** KMV sketch accuracy: estimate within the theoretical error band. */
class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kmv estimate within ~5/sqrt(k) of the exact distinct count") {
    import graft.functions.Sketches
    val rng = new scala.util.Random(17)
    val df = (0 until 40000).map(_ => ("g", rng.nextInt(8000)))
      .toDF("g", "v")
    val exact = df.select("v").distinct().count().toDouble
    for (k <- Seq(64, 256)) {
      val est = Sketches.kmvDistinct(df, Seq("g"), "v", k)
        .collect()(0).getDouble(1)
      val relErr = math.abs(est - exact) / exact
      assert(relErr < 5.0 / math.sqrt(k),
        s"k=$k est=$est exact=$exact relErr=$relErr")
    }
    // small-cardinality groups are exact
    val tiny = Seq(("a", 1), ("a", 2), ("a", 2), ("b", 9)).toDF("g", "v")
    val got = Sketches.kmvDistinct(tiny, Seq("g"), "v", 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 2.0, "b" -> 1.0))
  }
}

/** Native minhash kernel: one fused pass must equal the composed
  * array_min(zip_with(...)) form, and two instances in one projection
  * must survive whole-stage codegen (the freshName guard). */
class MinHashSigsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("minhash_sigs equals the composed zip_with form; codegen-safe " +
    "with multiple instances per projection") {
    val df = Seq((Seq(5L, 3L, 9L), Seq(2L, 7L, 1L)),
      (Seq(100L), Seq(50L))).toDF("h1", "h2")
    val n = 4
    val fused = df.select(
      graft.functions.MinHashSigs(col("h1"), col("h2"), n).as("a"),
      // second instance in the same projection: codegen name collision guard
      graft.functions.MinHashSigs(col("h2"), col("h1"), n).as("b"))
    val composed = df.select(
      array((0 until n).map(i =>
        expr(s"array_min(zip_with(h1, h2, (a, b) -> a + ${i}L * b))")): _*)
        .as("a"),
      array((0 until n).map(i =>
        expr(s"array_min(zip_with(h2, h1, (a, b) -> a + ${i}L * b))")): _*)
        .as("b"))
    assert(fused.collect().map(_.toSeq).toSeq ==
      composed.collect().map(_.toSeq).toSeq)
  }
}

/** SQL-surface registration (GraftExtensions / GraftFunctions): the
  * native kernels are callable from plain spark.sql. */
class ExtensionsRegistrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("registered SQL functions evaluate the native kernels") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT round(inv_norm_cdf(0.975D), 6) AS q,
        |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  sorted_intersect_size(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS s,
        |  minhash_sigs(array(5L, 3L), array(2L, 7L), 2) AS mh
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.959964)
    assert(r.getDouble(1) == 11.0)
    assert(r.getLong(2) == 2L)
    assert(r.getSeq[Long](3) == Seq(3L, 7L))
  }

  test("the extensions class injects the same definitions") {
    // exercised structurally: every definition is (id, info, builder)
    // with a builder that produces a well-typed expression
    assert(GraftFunctions.definitions.map(_._1.funcName).sorted ==
      Seq("exact_percentiles", "fast_round", "inv_norm_cdf", "median_mad",
        "minhash_sigs", "nearest_centroid", "nfc_normalize",
        "sorted_intersect_size", "topk_by", "vec_dot"))
    val ext = new GraftExtensions
    val se = new org.apache.spark.sql.SparkSessionExtensions
    ext(se)  // must not throw; injection is covered by register() above
  }

}

/** Fused shingle-minhash kernel equals the composed staged-HOF chain
  * (incl. the distinct-shingle form — dedup is redundant under min). */
class ShingleMinHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("shingle_minhash equals the composed md5-chunk/zip_with form " +
    "with distinct shingles; short and repeated texts included") {
    val df = Seq("the quick brown fox", "aaaaaaa", "ab", "x",
      "the the the quick").toDF("t")
    val fused = df.select(
      graft.functions.ShingleMinHash(col("t"), 3, 16).as("mh"))
    val composed = df
      .select(expr("array_distinct(transform(sequence(1, " +
        "greatest(length(t) - 2, 1)), i -> substring(t, i, 3)))").as("sh"))
      .select(expr("transform(sh, s -> md5(s))").as("ms"))
      .select(
        expr("transform(ms, m -> cast(conv(substring(m, 1, 10), 16, 10)" +
          " as long))").as("h1"),
        expr("transform(ms, m -> cast(conv(substring(m, 11, 10), 16, 10)" +
          " as long))").as("h2"))
      .select(array((0 until 16).map(i =>
        expr(s"array_min(zip_with(h1, h2, (a, b) -> a + ${i}L * b))")): _*)
        .as("mh"))
    assert(fused.collect().map(_.getSeq[Long](0)).toSeq ==
      composed.collect().map(_.getSeq[Long](0)).toSeq)
  }
}
