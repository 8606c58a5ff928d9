package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.{Dedup, Similarity}
import graft.sim.CosineTopK
import graft.streaming.EventStream
import graft.text.TextFunctions

/** Tests for the training-data-pipeline extensions: dedup, similarity
  * search, text analysis, and streaming (batch/stream equivalence). */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("minhash LSH: exact duplicates always collide; banding finds " +
    "high-jaccard near-dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (3L, "the quick brown fox leaps over the lazy dog"), // near dup
      (4L, "completely different content about spark engines and shuffles"),
      (5L, "zzz qqq xxx vvv unrelated words entirely banana")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", numHashes = 16)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact dups must share all bands")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "near dup should collide in at least one band")
    assert(!pairs.contains((4L, 5L)), "unrelated docs should not collide")
  }

  test("simhash: identical docs get identical fingerprints; similar docs " +
    "are close in hamming distance") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "entirely unrelated corpus text with novel vocabulary galaxies")
    ).toDF("doc_id", "text")
    val hs = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(1L) == hs(2L))
    assert(ham(hs(1L), hs(3L)) < ham(hs(1L), hs(4L)),
      s"near-dup hamming ${ham(hs(1L), hs(3L))} should beat unrelated " +
        s"${ham(hs(1L), hs(4L))}")
  }

  test("simhash near-dups: exact dup found at hamming 0; unrelated doc " +
    "outside the radius") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "totally different words about query engines and shuffles etc")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDups(
      Dedup.simHash(docs, "doc_id", "text"), "doc_id", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash screen: per-delta argmin over (hamming, existing id), " +
    "radius respected, clean delta rows absent") {
    val delta = Seq(
      (1L, 1L),                                     // 1 bit from e100, 2 from e101
      (2L, 15L),                                    // 4 bits from e100 (out), 1 from e101
      (3L, (1L << 50) | (1L << 40) | (1L << 30) | (1L << 20) | (1L << 10)),
      (4L, 7L)                                      // exact match with e101
    ).toDF("doc_id", "simhash")
    val existing = Seq((100L, 0L), (101L, 7L)).toDF("doc_id", "simhash")
    val out = Dedup.simHashScreen(delta, existing, "doc_id", maxHamming = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((1L, 100L)), 2L -> ((1L, 101L)),
      4L -> ((0L, 101L))), s"got $out")
  }

  test("ngram jaccard: exact dup = 1.0; disjoint pair absent") {
    val docs = Seq(
      (1L, "abcdefgh"), (2L, "abcdefgh"), (3L, "zzzzyyyy")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      bandWidth = 10, k = 3, threshold = 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 3L)))
  }

  test("cosine top-k: neighbors ordered by true cosine, self excluded") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val probes = vecs.where($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = CosineTopK.bruteForce(vecs, probes, "vec_id", "embedding",
      "qid", "qvec", k = 3, dim = 2).orderBy("rank")
      .collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("text: token count, fingerprint stability, lang-id markers") {
    val df = Seq((1L, "Der Hund ist nicht ein Katze und das Haus"),
      (2L, "the cat and the dog, of course!"),
      (3L, "")).toDF("doc_id", "text")
    val toks = df.select(TextFunctions.tokenCount($"text")).collect()
      .map(_.getInt(0)).toSeq
    assert(toks(1) == 9) // 7 words + comma + bang
    val langs = graft.text.LangIdTransformer("text").transform(df)
      .orderBy("doc_id").select("lang_pred").collect().map(_.getString(0))
    assert(langs(0) == "de" && langs(1) == "en" && langs(2) == "und")
    val fp = df.select(TextFunctions.fingerprint($"text")).collect()
    assert(fp(0).getString(0).length == 32)
  }

  test("streaming: tumbling window memory-sink result equals the batch " +
    "form (same aggregation, incremental execution)") {
    val batch = EventStream.tumbling(
      graft.sources.Events.load(spark, sf), "1 hour")
      .select($"ws", $"event_type", $"n_events",
        round($"sum_value", 4).as("sum_value"))
      .collect().map(_.toSeq).toSet

    // stream the same parquet through a file source with a watermark
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toFile
    graft.sources.Events.load(spark, sf)
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val q = EventStream.tumblingStream(spark, tmp.getAbsolutePath,
      "tumbling_test", "1 hour", "2 hours")
    q.processAllAvailable()
    val streamed = spark.table("tumbling_test")
      .select($"ws", $"event_type", $"n_events",
        round($"sum_value", 4).as("sum_value"))
      .collect().map(_.toSeq).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming: stream-static dimension enrichment (broadcast join, " +
    "no join state) equals the batch form") {
    val events = graft.sources.Events.load(spark, sf)
    val dim = spark.read.parquet(s"$sf/customer.parquet")
    val batch = EventStream.enriched(events, dim, "user_id", "c_custkey",
      "c_nationkey")
      .select($"ws", $"c_nationkey", $"n_events",
        round($"sum_value", 4).as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)

    val tmp = java.nio.file.Files.createTempDirectory("graft-enrich").toFile
    events.write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val q = EventStream.enrichedStream(spark, tmp.getAbsolutePath, dim,
      "enrich_test", "user_id", "c_custkey", "c_nationkey")
    q.processAllAvailable()
    val streamed = spark.table("enrich_test")
      .select($"ws", $"c_nationkey", $"n_events",
        round($"sum_value", 4).as("sum_value"))
      .collect().map(_.toSeq).toSet
    q.stop()
    // append mode emits exactly the FINALIZED windows (watermark past
    // window end) and evicts their state: everything emitted matches the
    // batch aggregate, and every window safely inside the horizon
    // (end < max ts − 2h) must have been emitted
    assert(streamed.subsetOf(batch),
      "append-mode stream emitted a window the batch aggregate lacks")
    val maxTs = events.agg(max($"ts")).collect()(0).getTimestamp(0)
    val horizon = java.sql.Timestamp.from(
      maxTs.toInstant.minusSeconds(2 * 3600 + 3600)) // − watermark − width
    val mustHave = batch.filter(
      _.head.asInstanceOf[java.sql.Timestamp].before(horizon))
    assert(mustHave.nonEmpty && mustHave.subsetOf(streamed),
      s"stream missed ${mustHave.diff(streamed).size} finalized windows")

    // same-named join keys (the common dimension-join shape) must not
    // hit an ambiguous-reference error
    val sameName = EventStream.enriched(
      events.withColumnRenamed("user_id", "custkey"),
      dim.withColumnRenamed("c_custkey", "custkey"),
      "custkey", "custkey", "c_nationkey")
      .select($"ws", $"c_nationkey", $"n_events",
        round($"sum_value", 4).as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(sameName == batch)
  }
  test("streaming: stream-stream interval join (view->click attribution) " +
    "equals the batch range join; watermarks bound join state") {
    val events = graft.sources.Events.load(spark, sf)
    val batch = EventStream.intervalJoin(events, "view", "click", "12 hours")
      .select($"user_id", $"view_id", $"click_id",
        round($"click_value", 4).as("click_value"))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "fixture should produce view->click pairs")

    val tmp = java.nio.file.Files.createTempDirectory("graft-ivj").toFile
    events.write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val q = EventStream.intervalJoinStream(spark, tmp.getAbsolutePath,
      "interval_join_test", "view", "click", "12 hours", "1 hour")
    q.processAllAvailable()
    val streamed = spark.table("interval_join_test")
      .select($"user_id", $"view_id", $"click_id",
        round($"click_value", 4).as("click_value"))
      .collect().map(_.toSeq).toSet
    q.stop()
    // inner-join pairs emit when matched (the watermark only bounds
    // state); the file source drains in one micro-batch here, so the
    // streamed result is the full batch join
    assert(streamed == batch,
      s"stream=${streamed.size} batch=${batch.size} pairs")

    // left_outer: null rows (unconverted views) may only emit once the
    // watermark proves no click can still arrive — matched rows must
    // equal the batch join's, and every view whose horizon closed
    // safely before the final watermark must be present
    val batchL = EventStream.intervalJoin(events, "view", "click",
      "12 hours", "left_outer")
      .select($"user_id", $"view_id", $"view_ts", $"click_id",
        round($"click_value", 4).as("click_value"))
      .collect().map(_.toSeq).toSet
    val qL = EventStream.intervalJoinStream(spark, tmp.getAbsolutePath,
      "interval_left_test", "view", "click", "12 hours", "1 hour",
      "left_outer")
    qL.processAllAvailable()
    val streamedL = spark.table("interval_left_test")
      .select($"user_id", $"view_id", $"view_ts", $"click_id",
        round($"click_value", 4).as("click_value"))
      .collect().map(_.toSeq).toSet
    qL.stop()
    assert(streamedL.subsetOf(batchL),
      "left-outer stream emitted a row the batch join lacks")
    assert(streamedL.filter(_(3) != null) == batchL.filter(_(3) != null),
      "left-outer stream must emit every matched pair")
    // the final GLOBAL watermark is the min over both inputs' watermarks
    // (each = that side's max event time − delay), so the click stream's
    // last event bounds null-row emission too
    val maxTs = Seq("view", "click").map(t =>
      events.filter($"event_type" === t).agg(max($"ts"))
        .collect()(0).getTimestamp(0)).min
    // − horizon − watermark − a margin: the join-state watermark that
    // licenses a null row is computed off the PREVIOUS batch and its
    // eviction bound is exclusive, so the exact boundary view can
    // legitimately still be open when the source drains
    val closed = java.sql.Timestamp.from(maxTs.toInstant
      .minusSeconds(12 * 3600 + 3600 + 600))
    val mustHave = batchL.filter(r => r(3) == null &&
      r(2).asInstanceOf[java.sql.Timestamp].before(closed))
    assert(mustHave.nonEmpty && mustHave.subsetOf(streamedL),
      s"stream missed closed-horizon unmatched views: " +
        mustHave.diff(streamedL).mkString("; "))
  }

  test("interval join hot-key salting: a celebrity user_id produces the " +
    "identical result salted and unsalted (inner + left_outer), with no " +
    "cartesian product in the salted plan") {
    // one user owns ~90% of events (the 100 TB celebrity-key shape);
    // a handful of normal users and never-converting views cover the
    // outer-join edge
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val rows = (0 until 400).map { i =>
      val user = if (i % 10 < 9) 1L else (2L + i % 7)
      val typ = if (i % 2 == 0) "view" else "click"
      (i.toLong, user, typ,
        java.sql.Timestamp.from(base.plusSeconds(i * 600L)), i / 100.0)
    } ++ Seq( // views with no click inside the horizon
      (900L, 50L, "view",
        java.sql.Timestamp.from(base.plusSeconds(999999L)), 0.0))
    val events = rows.toDF("event_id", "user_id", "event_type", "ts", "value")
    for (jt <- Seq("inner", "left_outer")) {
      val plain = EventStream.intervalJoin(events, "view", "click",
        "12 hours", jt).collect().map(_.toSeq).toSet
      val salted = EventStream.intervalJoin(events, "view", "click",
        "12 hours", jt, salts = 8)
      assert(!salted.queryExecution.executedPlan.toString
        .contains("Cartesian"), "salted join must stay an equi-join")
      assert(salted.collect().map(_.toSeq).toSet == plain,
        s"salted $jt result diverged")
      assert(plain.nonEmpty)
      if (jt == "left_outer")
        assert(plain.exists(_(3) == null), "fixture must have null rows")
    }
  }

  test("as-of join, time-bucketed hot-key variant: equals the one-window " +
    "asof on a celebrity-key fixture at several bucket widths") {
    import graft.operators.AsOfJoin
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    // user 1 = hot key spanning many days; sparse users around it; rows
    // include clicks BEFORE any purchase (null carry), same-timestamp
    // click/purchase pairs (tie resolves to the purchase), and purchases
    // whose value is null (must mask older values, not be skipped)
    val rows = (0 until 600).map { i =>
      val user = if (i % 8 < 7) 1L else (2L + i % 5)
      val typ = if (i % 3 == 0) "purchase" else "click"
      val value: java.lang.Double =
        if (i % 30 == 0) null else java.lang.Double.valueOf(i / 10.0)
      (i.toLong, user, typ,
        java.sql.Timestamp.from(base.plusSeconds(i * 3700L)), value)
    } ++ Seq(
      (900L, 1L, "click",
        java.sql.Timestamp.from(base.minusSeconds(60)), null),
      (901L, 7L, "purchase",
        java.sql.Timestamp.from(base.plusSeconds(1000)),
        java.lang.Double.valueOf(5.0)),
      (902L, 7L, "click",
        java.sql.Timestamp.from(base.plusSeconds(1000)),
        java.lang.Double.valueOf(0.0)))
    val ev = rows.toDF("event_id", "user_id", "event_type", "ts", "value")
      // null KEY and null TIMESTAMP rows: asof groups a null key like any
      // other partition value, so the bucketed variant must match them
      // too (its patch join is null-safe — a plain equi-join would drop
      // these left rows entirely)
      .unionByName(Seq(
        (910L, null.asInstanceOf[java.lang.Long], "purchase",
          java.sql.Timestamp.from(base.plusSeconds(500)),
          java.lang.Double.valueOf(9.0)),
        (911L, null.asInstanceOf[java.lang.Long], "click",
          java.sql.Timestamp.from(base.plusSeconds(600)),
          null.asInstanceOf[java.lang.Double]),
        (912L, java.lang.Long.valueOf(7L), "click",
          null.asInstanceOf[java.sql.Timestamp],
          null.asInstanceOf[java.lang.Double])
      ).toDF("event_id", "user_id", "event_type", "ts", "value"))
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    val want = AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "ts",
      Seq("value")).collect().map(_.toSeq).toSet
    assert(want.nonEmpty && want.exists(_(3) == null),
      "fixture must exercise the no-preceding-purchase case")
    assert(want.exists(r => r(0) == null && r(3) == 9.0),
      "null-key click must match the null-key purchase")
    assert(want.exists(_(1) == 912L),
      "null-timestamp click must survive")
    for (width <- Seq("6 hours", "1 day", "10 days")) {
      val got = AsOfJoin.asofBucketed(clicks, purchases, Seq("user_id"),
        "ts", "ts", Seq("value"), width).collect().map(_.toSeq).toSet
      assert(got == want, s"bucketed asof diverged at width=$width")
    }
  }
}

/** IVF recall, salted-agg equality, stateful streaming vs batch. */
class ScalePathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("ivf: nprobe = nlist scans everything -> results equal brute force") {
    import graft.sim.{CosineTopK, IvfCosine}
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = corpus.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val brute = CosineTopK.bruteForce(corpus, probes, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    val idx = IvfCosine.buildIndex(corpus, "vec_id", "embedding", nlist = 8)
    val ivf = IvfCosine.search(idx, probes, "vec_id", "embedding",
      "qid", "qvec", k = 5, nprobe = 8, dim = 64)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    assert(ivf == brute)
    // partial probe keeps decent recall on this data
    val ivf2 = IvfCosine.search(idx, probes, "vec_id", "embedding",
      "qid", "qvec", k = 5, nprobe = 4, dim = 64)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val bruteIds = brute.map(s => Seq(s(0), s(1)))
    val recall = ivf2.intersect(bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.4, s"recall too low: $recall")
  }

  test("pq: full-corpus shortlist re-ranks to exactly the brute-force " +
    "top-k; code rows are m small ints in range plus the true norm") {
    import graft.sim.{CosineTopK, PqCosine}
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = corpus.count().toInt
    val probes = corpus.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val books = PqCosine.pinnedCodebooks(m = 8, subDim = 8, k = 16)
    val codes = PqCosine.encode(corpus, "vec_id", "embedding", books)
    val row = codes.where($"vec_id" === 0).head
    val cs = row.getSeq[Int](row.fieldIndex("codes"))
    assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16))
    // shortlist = whole corpus -> the exact re-rank sees every candidate
    val pq = PqCosine.search(codes, corpus, probes, "vec_id", "embedding",
      "qid", "qvec", books, k = 5, shortlist = n)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    val brute = CosineTopK.bruteForce(corpus, probes, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    assert(pq == brute)
    // small-shortlist recall floor: UNTRAINED (pinned random) codebooks
    // on near-orthogonal synthetic vectors are PQ's worst case — the
    // exactness guarantee above is the correctness bar; this only pins
    // that ADC ranking carries real signal (≫ the ~2.5% random-20 rate)
    val pq20 = PqCosine.search(codes, corpus, probes, "vec_id", "embedding",
      "qid", "qvec", books, k = 5, shortlist = 20)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val bruteIds = brute.map(s => Seq(s(0), s(1)))
    val recall = pq20.intersect(bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.1, s"pq recall too low: $recall")
  }

  test("sq8: full-corpus shortlist re-ranks to exactly the brute-force " +
    "top-k; codes are int8-range with the max dimension at ±127") {
    import graft.sim.{CosineTopK, SqCosine}
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = corpus.count().toInt
    val probes = corpus.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val codes = SqCosine.encode(corpus, "vec_id", "embedding")
    val row = codes.where($"vec_id" === 0).head
    val cs = row.getSeq[Int](row.fieldIndex("codes"))
    assert(cs.forall(c => c >= -127 && c <= 127))
    // the max-|x| dimension encodes to exactly ±127 by construction
    assert(cs.exists(c => math.abs(c) == 127))
    assert(row.getAs[Double]("scale") > 0)
    // shortlist = whole corpus -> the exact re-rank sees every candidate
    val sq = SqCosine.search(codes, corpus, probes, "vec_id", "embedding",
      "qid", "qvec", k = 5, shortlist = n)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    val brute = CosineTopK.bruteForce(corpus, probes, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    assert(sq == brute)
    // SQ8 keeps ~7 bits/dim of signal, so even shortlist=20 should hold
    // near-perfect recall (unlike PQ's untrained-codebook worst case)
    val sq20 = SqCosine.search(codes, corpus, probes, "vec_id", "embedding",
      "qid", "qvec", k = 5, shortlist = 20)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val bruteIds = brute.map(s => Seq(s(0), s(1)))
    val recall = sq20.intersect(bruteIds).size.toDouble / bruteIds.size
    assert(recall >= 0.9, s"sq8 recall too low: $recall")
  }

  test("ivfpq: full probe + full shortlist re-ranks to exactly the " +
    "brute-force top-k (coarse routing, residual codes, ADC all covered)") {
    import graft.sim.{CosineTopK, IvfCosine, IvfPq, PqCosine}
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = corpus.count().toInt
    val probes = corpus.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val coarse = IvfCosine.pinnedCentroids(8, 64)
    val books = PqCosine.pinnedCodebooks(m = 8, subDim = 8, k = 16)
    val (coarseDf, booksDf) = (IvfCosine.centroidsDf(spark, coarse),
      PqCosine.codebooksDf(spark, books))
    val codes = IvfPq.encodeDf(corpus, "vec_id", "embedding", coarseDf,
      booksDf, m = 8)
    val ivfpq = IvfPq.searchDf(codes, corpus, probes, "vec_id",
      "embedding", "qid", "qvec", coarseDf, booksDf, k = 5, nprobe = 8,
      shortlist = n, m = 8, nk = 16)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    val brute = CosineTopK.bruteForce(corpus, probes, "vec_id", "embedding",
      "qid", "qvec", k = 5, dim = 64)
      .select("qid", "nid", "rank").collect().map(_.toSeq).toSet
    assert(ivfpq == brute)
  }

  test("embeddingNearDups at the default (8 bands x 12 planes): recall " +
    ">= 0.9 vs brute-force ground truth at cosine >= 0.95; no false " +
    "positives") {
    import graft.dedup.Dedup
    // the fixture's vectors are mutually random (max pairwise cosine
    // ~0.51), so PLANT near-duplicates: one jittered copy per original at
    // varying jitter scale -> planted cosines spread across ~[0.93, 0.995]
    // and the 0.95 threshold cuts through the middle of them
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val rng = new scala.util.Random(5)
    val jittered = base.map { case (id, v) =>
      val scale = 0.05 + 0.25 * rng.nextDouble()
      val vn = math.sqrt(v.map(x => x * x).sum)
      val noise = Array.fill(v.length)(rng.nextGaussian())
      val nn = math.sqrt(noise.map(x => x * x).sum)
      (id + 100000L,
        v.zip(noise).map { case (x, e) => (x + e * scale * vn / nn).toFloat })
    }
    val rows: Array[(Long, Array[Double])] =
      base ++ jittered.map { case (id, v) => id -> v.map(_.toDouble) }
    // driver-side exact all-pairs ground truth (1000 rows -> 500k dots)
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = rows.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val vec = rows.toMap
    val truth = (for {
      i <- rows.indices.iterator; j <- (i + 1) until rows.length
      a = rows(i)._1; b = rows(j)._1
      c = dot(vec(a), vec(b)) / (nrm(a) * nrm(b))
      if c >= 0.95
    } yield (math.min(a, b), math.max(a, b))).toSet
    assert(truth.size >= 100, s"only ${truth.size} planted pairs; vacuous")
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq.map { case (id, v) =>
        org.apache.spark.sql.Row(id, v.map(_.toFloat).toSeq)
      }, 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    val found = Dedup.embeddingNearDups(corpus, "vec_id", "embedding",
      dim = 64)
      .select($"id_a", $"id_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    // float32 storage vs float64 truth can disagree only inside a hair of
    // the threshold; exclude the knife-edge from the false-positive check
    val nearThr = truth ++ (for {
      i <- rows.indices.iterator; j <- (i + 1) until rows.length
      a = rows(i)._1; b = rows(j)._1
      c = dot(vec(a), vec(b)) / (nrm(a) * nrm(b))
      if c >= 0.9499 && c < 0.95
    } yield (math.min(a, b), math.max(a, b))).toSet
    assert(found.subsetOf(nearThr),
      s"LSH produced false positives: ${found.diff(nearThr).take(5)}")
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall < 0.9 (truth=${truth.size}, " +
      s"found=${found.size})")
  }

  test("ivf: quantizer training sample is invariant to corpus row order") {
    import graft.sim.IvfCosine
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    // same rows, adversarial physical order (descending id, 1 partition
    // vs the source layout) — a first-N limit() sample would differ
    val reordered = corpus.orderBy($"vec_id".desc).coalesce(1)
    val a = IvfCosine.buildIndex(corpus, "vec_id", "embedding", nlist = 8)
    val b = IvfCosine.buildIndex(reordered, "vec_id", "embedding", nlist = 8)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
  }

  test("salted aggregation equals the direct groupBy exactly") {
    import graft.functions.SkewUtils
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val salted = SkewUtils.saltedSumCount(li, Seq("l_returnflag"),
      "l_quantity", salts = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val direct = li.groupBy("l_returnflag")
      .agg(sum($"l_quantity"), count($"l_quantity"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted.map(t => (t._1, math.round(t._2 * 100), t._3)) ==
      direct.map(t => (t._1, math.round(t._2 * 100), t._3)))
  }

  test("stateful streaming (mapGroupsWithState): final per-user totals " +
    "equal the batch aggregate") {
    import graft.streaming.EventStream
    val src = java.nio.file.Files.createTempDirectory("graft-state").toFile
    val ev = graft.sources.Events.load(spark, sf)
    ev.write.mode("overwrite").parquet(src.getAbsolutePath)
    val q = EventStream.statefulUserTotals(spark, src.getAbsolutePath,
      "user_totals_test")
    q.processAllAvailable()
    // Update-mode memory sink appends a row per state update per batch;
    // one input batch here -> latest rows are the final state
    val streamed = spark.table("user_totals_test")
      .groupBy("user_id").agg(max($"n_events").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val batch = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
  }

  test("asof join: latest right row at-or-before each left time per key; " +
    "null before any right row; equal timestamps match") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, "u1", 10L), (2L, "u1", 20L), (3L, "u1", 5L),
      (4L, "u2", 50L)).toDF("event_id", "user", "t")
    val right = Seq(("u1", 10L, 1.0), ("u1", 15L, 2.0), ("u2", 60L, 9.0))
      .toDF("user", "t", "v")
    val got = AsOfJoin.asof(left, right, Seq("user"), "t", "t", Seq("v"))
      .orderBy("event_id").select("event_id", "v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1)))
      .toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0), (3L, null), (4L, null)))
  }

  test("asof join: a null right VALUE is a real match (masks older " +
    "rows); duplicate right timestamps pick deterministically") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, "u1", 20L), (2L, "u2", 20L))
      .toDF("event_id", "user", "t")
    val right = Seq(("u1", 10L, Some(1.0)), ("u1", 15L, None),
      ("u2", 10L, Some(7.0)), ("u2", 10L, Some(9.0)))
      .toDF("user", "t", "v")
    val got = AsOfJoin.asof(left, right, Seq("user"), "t", "t", Seq("v"))
      .orderBy("event_id").select("event_id", "v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1)))
      .toSeq
    // u1: latest right row (t=15) has null v -> null, NOT the older 1.0
    // u2: two right rows at t=10 -> greatest payload struct (9.0) wins
    assert(got == Seq((1L, null), (2L, 9.0)))
  }
}
