package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Bm25, CorpusOps, CorpusSplit, Decontaminate,
  QualityFilterTransformer, RepetitionTransformer}
import graft.dedup.DupClusters

/** Tests for the corpus-curation operators: quality filtering,
  * repetition, BM25, decontamination, splits, packing, mixtures, and
  * duplicate clustering — pinned values on tiny literal frames. */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("quality filter: pinned stats and rule thresholds") {
    val docs = Seq(
      (1L, "aa bb cc dd"),                 // 4 words, all distinct
      (2L, "aa aa aa aa aa aa aa aa")      // 8 words, one type
    ).toDF("doc_id", "text")
    val out = QualityFilterTransformer("text", minWords = 5, maxWords = 10,
      minMeanWordLen = 1.0, maxMeanWordLen = 3.0,
      minTypeTokenRatio = 0.5, maxTopWordFrac = 0.5)
      .transform(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("qf_n_words") == 4L)
    assert(out(0).getAs[Double]("qf_mean_word_len") == 2.0)
    assert(out(0).getAs[Double]("qf_ttr") == 1.0)
    assert(out(0).getAs[Double]("qf_top_word_frac") == 0.25)
    assert(!out(0).getAs[Boolean]("qf_keep"), "4 words < minWords")
    assert(out(1).getAs[Double]("qf_ttr") == 0.125)
    assert(out(1).getAs[Double]("qf_top_word_frac") == 1.0)
    assert(!out(1).getAs[Boolean]("qf_keep"), "one repeated word fails ttr")
  }

  test("repetition: duplicated phrase raises dup n-gram fractions; " +
    "short docs yield null") {
    val docs = Seq(
      (1L, "one two three one two three"), // 5 bigrams, 2 distinct dups
      (2L, "all words here are different"),
      (3L, "xy")                           // no bigram
    ).toDF("doc_id", "text")
    val out = RepetitionTransformer("text").transform(docs)
      .orderBy("doc_id").collect()
    // bigrams: [one two, two three, three one, one two, two three] → 2/5
    assert(out(0).getAs[Double]("rep_dup2_frac") == 0.4)
    // trigrams: 4 total, "one two three" twice → 1/4
    assert(out(0).getAs[Double]("rep_dup3_frac") == 0.25)
    assert(out(1).getAs[Double]("rep_dup2_frac") == 0.0)
    assert(out(2).isNullAt(out(2).fieldIndex("rep_dup2_frac")))
  }

  test("bm25: term-bearing docs score positive, rarer term scores " +
    "higher at equal tf, absent terms score zero") {
    val docs = Seq(
      (1L, "spark spark spark runs fast"),
      (2L, "rare appears once here now"),
      (3L, "spark again in this doc"),
      (4L, "nothing relevant at all here")
    ).toDF("doc_id", "text")
    val s = Bm25.score(docs, "doc_id", "text", Seq("spark", "rare"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(4L) == 0.0, "no term hits → zero")
    assert(s(1L) > s(3L), "higher tf → higher score")
    // doc2's single 'rare' (df=1) must outscore doc3's single 'spark'
    // (df=2): idf dominates at equal tf and near-equal length
    assert(s(2L) > s(3L), "rarer term → higher idf → higher score")
  }

  test("decontamination: doc sharing a 4-gram with the eval set is " +
    "flagged with the distinct-shingle count") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),      // eval (id % 2 == 0)
      (1L, "alpha beta gamma delta other words"),  // shares 2 4-grams? no: 1
      (3L, "completely unrelated text body here"),
      (5L, "x alpha beta gamma delta epsilon y")   // shares 2
    ).toDF("doc_id", "text")
    val out = Decontaminate.overlap(docs, "doc_id", "text",
      col("doc_id") % 2 === 0, shingleSize = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 5L -> 2L))
  }

  test("hash split: deterministic, total, and ~80/10/10 at volume") {
    val ids = spark.range(0, 10000).select(col("id"))
    val counts = ids.select(CorpusSplit.hashSplit(col("id")).as("s"))
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000L)
    assert(counts("train") > 7500 && counts("train") < 8500)
    assert(counts("val") > 700 && counts("val") < 1300)
    assert(counts("test") > 700 && counts("test") < 1300)
    // determinism: same ids → same assignment on a re-run
    val again = ids.select(CorpusSplit.hashSplit(col("id")).as("s"))
      .groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("sequence packing: running count cuts bins at the context size " +
    "within each source") {
    val docs = Seq(
      (1L, "a", 300L), (2L, "a", 300L), (3L, "a", 300L), (4L, "a", 50L),
      (10L, "b", 600L), (11L, "b", 10L)
    ).toDF("doc_id", "source", "n")
    val out = CorpusSplit.pack(docs, "doc_id", "source", col("n"), 512)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // source a cumulative-before: 0, 300, 600, 900 → bins 0,0,1,1
    assert(out(1L) == 0L && out(2L) == 0L)
    assert(out(3L) == 1L && out(4L) == 1L)
    // source b: 0, 600 → bins 0, 1 (windows never cross sources)
    assert(out(10L) == 0L && out(11L) == 1L)
  }

  test("mixture weights: alpha=1 recovers token shares; alpha<1 " +
    "upsamples the small source; weights sum to 1") {
    val docs = Seq.tabulate(90)(i => (i.toLong, "big", "w " * 10)) ++
      Seq.tabulate(10)(i => ((100 + i).toLong, "small", "w " * 10))
    val df = docs.toDF("doc_id", "source", "text")
    val tok = size(CorpusOps.words(col("text"))).cast("long")
    def weights(alpha: Double): Map[String, Double] =
      CorpusSplit.mixtureWeights(df, "source", tok, alpha)
        .collect().map(r => r.getString(0) -> r.getAs[Double]("weight")).toMap
    val w1 = weights(1.0)
    assert(math.abs(w1("big") - 0.9) < 1e-12)
    val w05 = weights(0.5)
    assert(w05("small") > 0.1, "alpha<1 must upsample the small source")
    assert(math.abs(w05.values.sum - 1.0) < 1e-12)
  }

  test("dup clusters: min-label propagation labels each component by " +
    "its minimum id") {
    // components: {1,2,3,9} (chain 9-1-2-3), {5,6}, isolated pairs only
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 9L), (5L, 6L))
      .toDF("id_a", "id_b")
    val out = DupClusters.minLabelClusters(pairs, "id_a", "id_b", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("connected components: star contraction converges on a long " +
    "chain where the fixed-budget propagation cannot") {
    // a 40-hop path: diameter 40 >> the 4-round min-label budget
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val budget = DupClusters.minLabelClusters(chain, "id_a", "id_b",
      iters = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(budget.values.toSet.size > 1,
      "4 rounds must NOT converge a 40-hop chain (else this test is vacuous)")
    val cc = DupClusters.connectedComponents(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == (0L to 40L).map(_ -> 0L).toMap,
      s"one component labeled by its min id; got $cc")
  }

  test("connected components: equals a local union-find on a random " +
    "multi-component graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.tabulate(120) { _ =>
      // 3 id islands so several components are guaranteed
      val base = rnd.nextInt(3) * 1000L
      (base + rnd.nextInt(25), base + rnd.nextInt(25))
    }.filter(p => p._1 != p._2)
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
    val got = DupClusters.connectedComponents(
      edges.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("dup clusters id contract: a non-integral id column is refused " +
    "at the call, naming the column and its type") {
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    for (run <- Seq[() => Unit](
        () => DupClusters.minLabelClusters(pairs, "id_a", "id_b"),
        () => DupClusters.connectedComponents(pairs, "id_a", "id_b"))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("id column id_a is STRING") &&
        e.getMessage.contains("integral"), e.getMessage)
    }
    // int ids stay accepted, and come back as ints
    val ints = Seq((1, 2), (2, 3)).toDF("id_a", "id_b")
    val out = DupClusters.connectedComponents(ints, "id_a", "id_b")
    assert(out.schema("cluster").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("dup clusters id contract: a null id fails the first job instead " +
    "of joining a spurious cluster 0") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (null, 3L),
      (4L, 5L)).toDF("id_a", "id_b")
    def messages(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val e1 = intercept[Exception](DupClusters.minLabelClusters(pairs,
      "id_a", "id_b").collect())
    assert(messages(e1).contains("minLabelClusters: null id"), messages(e1))
    val e2 = intercept[Exception](DupClusters.connectedComponents(pairs,
      "id_a", "id_b").collect())
    assert(messages(e2).contains("connectedComponents: null id"),
      messages(e2))
  }

  test("heavy hitters: Misra-Gries candidates + exact confirm equal " +
    "brute force under sketch saturation and cross-partition merges") {
    // skewed stream: token t_i appears (i+1)^2 times, 40 types, so
    // theta=0.05 forces k=40... use theta large enough that k << 40
    // and the decrement/merge paths actually run
    val rnd = new scala.util.Random(11)
    val occurrences = rnd.shuffle(
      (0 until 40).flatMap(i => Seq.fill((i + 1) * (i + 1))(s"t$i")))
    val docs = occurrences.grouped(37).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(16)
    val tokens = graft.text.CorpusOps.words(col("text"))
    for (theta <- Seq(0.3, 0.1, 0.02)) {
      val got = graft.text.HeavyHitters.exact(docs, tokens, theta)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = occurrences.size.toDouble
      val expect = occurrences.groupBy(identity).view
        .mapValues(_.size.toLong)
        .filter { case (_, c) => c >= theta * n }.toMap
      assert(got == expect, s"theta=$theta: got $got")
    }
  }

  test("heavy hitters: empty corpus and no-qualifier corpus both yield " +
    "zero rows with the full schema") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val tokens = graft.text.CorpusOps.words(col("text"))
    val out = graft.text.HeavyHitters.exact(empty, tokens, 0.5)
    assert(out.columns.toSeq ==
      Seq("token", "n_occurrences", "frac") && out.count() == 0L)
    val uniform = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    assert(graft.text.HeavyHitters.exact(uniform, tokens, 0.5).count() == 0L)
  }

  test("ngram LM: stupid-backoff scores match a hand computation for " +
    "seen bigrams, unseen bigrams, and unseen words") {
    // docs land in "train" or not according to the REAL hash split, so
    // the test pins the actual code path: resolve bucket per id first
    val assign = spark.range(50).select(col("id"),
      graft.text.CorpusSplit.hashSplit(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId = assign.collectFirst { case (i, "train") => i }.get
    val valId = assign.collectFirst { case (i, s) if s != "train" => i }.get
    val docs = Seq(
      (trainId, "a b a b c"), // train: bigrams ab, ba, ab, bc
      (valId, "a b x")        // held out: ab seen; "b x" unseen, x unseen
    ).toDF("doc_id", "text")
    val out = graft.text.NgramLm.scoreStupidBackoff(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // train counts: uni a=2 b=2 c=1 (N=5, U=3); bi "a b"=2 "b a"=1 "b c"=1
    val nu = 5.0 + 3.0
    val lpAb = math.log(2.0 / 2.0)
    val trainExp = (math.log(2.0 / 2.0) + math.log(1.0 / 2.0) +
      math.log(2.0 / 2.0) + math.log(1.0 / 2.0)) / 4.0
    val valExp = (lpAb + math.log(0.4 * (0 + 1) / nu)) / 2.0
    assert(out(trainId)._1 == 4L)
    assert(math.abs(out(trainId)._2 - trainExp) < 1e-9,
      s"train doc: ${out(trainId)._2} vs $trainExp")
    assert(out(valId)._1 == 2L)
    assert(math.abs(out(valId)._2 - valExp) < 1e-9,
      s"held-out doc: ${out(valId)._2} vs $valExp")
  }

  test("ngram LM: one-word and empty docs emit zero bigrams and a null " +
    "score; every input doc appears exactly once") {
    val assign = spark.range(50).select(col("id"),
      graft.text.CorpusSplit.hashSplit(col("id")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId = assign.collectFirst { case (i, "train") => i }.get
    val docs = Seq((trainId, "a b c"), (97L, "single"), (98L, ""))
      .toDF("doc_id", "text")
    val out = graft.text.NgramLm.scoreStupidBackoff(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)))).toMap
    assert(out.keySet == Set(trainId, 97L, 98L))
    assert(out(97L) == ((0L, None)) && out(98L) == ((0L, None)))
  }

  test("vocabulary: top-k by occurrences with doc frequencies, " +
    "deterministic ties") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a b z")).toDF("doc_id", "text")
    val v = CorpusSplit.topVocab(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("token"),
        r.getAs[Long]("n_occurrences"), r.getAs[Long]("n_docs")))
    assert(v.toSeq == Seq((1, "a", 4L, 2L), (2, "b", 3L, 2L),
      (3, "c", 1L, 1L)), s"got ${v.toSeq}") // tie c-vs-z → token order
  }

  test("deterministic sampling: exactly n per source, stable across " +
    "runs, and growth-invariant for surviving ids") {
    val docs = (0 until 200).map(i => (i.toLong, s"s${i % 4}", "txt"))
      .toDF("doc_id", "source", "text")
    def ids(d: org.apache.spark.sql.DataFrame) =
      CorpusSplit.sampleBySource(d, "doc_id", "source", 10)
        .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val a = ids(docs)
    assert(a.size == 40 && a.groupBy(_._1).forall(_._2.size == 10))
    assert(ids(docs) == a, "same input → same sample")
    // doubling the corpus keeps every still-smallest-hash survivor
    val grown = (0 until 400).map(i => (i.toLong, s"s${i % 4}", "txt"))
      .toDF("doc_id", "source", "text")
    val b = ids(grown)
    assert(a.intersect(b).size >= 20,
      "hash-ordered sampling is stable under growth (no full reshuffle)")
  }

  test("chunking: stride windows with overlap, short last chunk, one " +
    "chunk for short docs") {
    val docs = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "a b")).toDF("doc_id", "text")
    val out = CorpusSplit.chunk(docs, "doc_id", "text",
      chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    // doc1: starts 1,4,7,10 → 4 chunks; last has 1 token
    assert(out((1L, 0L)) == (4L, "w1 w2 w3 w4"))
    assert(out((1L, 1L)) == (4L, "w4 w5 w6 w7"))
    assert(out((1L, 2L)) == (4L, "w7 w8 w9 w10"))
    assert(out((1L, 3L)) == (1L, "w10"))
    assert(out((2L, 0L)) == (2L, "a b"))
    assert(out.size == 5)
  }

  test("word n-grams: empty below g words, 1-based overlapping windows") {
    val df = Seq((1L, "a b c"), (2L, "a")).toDF("id", "t")
    val g = df.select(col("id"),
      CorpusOps.wordNgrams(CorpusOps.words(col("t")), 2).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(g(1L) == Seq("a b", "b c"))
    assert(g(2L).isEmpty)
  }

  test("gopher rule battery: each rule fails independently; keep is the " +
    "AND of all five (Rae et al. 2021 Table A1)") {
    val long20 = (1 to 20).map(_ => "the data").mkString(" ") // 40 words
    val docs = Seq(
      (1L, long20),                             // passes everything
      (2L, "the short the doc"),                // fails word count only
      (3L, long20 + " " + (1 to 30).map(_ => "x").mkString(" ")),
        // 70 words incl 30 one-char → mean len < 3
      (4L, (1 to 25).map(_ => "data row").mkString(" ")) // no stopwords
    ).toDF("doc_id", "text")
    val out = graft.text.GopherRules.battery(docs, "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("keep"))
    assert(!out(1).getAs[Boolean]("r_word_count") &&
      out(1).getAs[Boolean]("r_stopwords") && !out(1).getAs[Boolean]("keep"))
    assert(!out(2).getAs[Boolean]("r_mean_word_len"),
      s"mean=${out(2).getAs[Double]("mean_word_len")}")
    assert(out(2).getAs[Boolean]("r_word_count"))
    assert(!out(3).getAs[Boolean]("r_stopwords") &&
      out(3).getAs[Long]("n_stopwords") == 0L)
    // alphabetic fraction is 1.0 on letter-only corpora
    assert(out.forall(_.getAs[Boolean]("r_alpha_frac")))
  }

  test("pii scrub: counts on original text, chained redaction, clean " +
    "docs untouched") {
    val docs = Seq(
      (1L, "mail a@b.com and c.d+x@e.org now"),
      (2L, "host 192.168.0.1 call +12345678 end"),
      (3L, "no pii here"),
      (4L, "v1.2.3.4.5 is a version") // \b blocks "1"; "2.3.4.5" matches
    ).toDF("doc_id", "text")
    val out = graft.text.PiiScrub.scrub(docs, "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_email") == 2L &&
      out(0).getAs[Long]("n_pii") == 2L)
    assert(out(0).getAs[String]("redacted") ==
      "mail [EMAIL] and [EMAIL] now")
    assert(out(1).getAs[Long]("n_ipv4") == 1L &&
      out(1).getAs[Long]("n_phone") == 1L)
    assert(out(1).getAs[String]("redacted") ==
      "host [IP] call [PHONE] end")
    assert(out(2).getAs[Long]("n_pii") == 0L &&
      out(2).getAs[String]("redacted") == "no pii here")
    assert(out(3).getAs[Long]("n_ipv4") == 1L)
  }

  test("lm buckets: tercile labels ordered by score, sizes within one " +
    "of n/3, unscorable docs land in tail") {
    // 90 scorable docs with text drawn from a tiny vocab + 1 one-word doc
    val docs = (1L to 90L).map { i =>
      val w = Seq("a", "b", "c", "d")((i % 4).toInt)
      (i, s"$w a b " + (if (i % 3 == 0) "a b a b" else "c d"))
    } :+ (91L, "solo")
    val df = docs.toDF("doc_id", "text")
    val out = graft.text.LmBuckets.headMiddleTail(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
    val byBucket = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(out.length == 91)
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // ties at a cut point go to the higher bucket, so the buckets are
    // totally ordered: head >= middle > tail (non-null scores)
    def scores(b: String) = out.filter(_._3 == b).flatMap(_._2)
    assert(scores("head").min >= scores("middle").max)
    if (scores("tail").nonEmpty)
      assert(scores("middle").min > scores("tail").max)
    assert(out.find(_._1 == 91L).get._3 == "tail", "null score → tail")
  }

  test("canonical per cluster: longest member wins, ties to smallest " +
    "id, exactly one canonical per cluster") {
    val members = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster")
    val docs = Seq((1L, 50L), (2L, 80L), (3L, 80L), (10L, 5L), (11L, 5L))
      .toDF("doc_id", "n_chars")
    val out = DupClusters.canonicalPerCluster(members, "doc_id",
      "cluster", docs, "n_chars")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("is_canonical")).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false,
      10L -> true, 11L -> false))
  }
}
