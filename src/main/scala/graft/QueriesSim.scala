package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.{AnnEval, CosineTopK, HardNegatives, IvfCosine, IvfPq,
  Mmr, PqCosine, RandomProjection,
  SemDedup, SemDecontam, SqCosine}
import graft.dedup.{Dedup, Similarity}

/** Similarity-search queries over the `embeddings` table (SURVEY.md §7.6).
  *
  * q_cosine_topk (brute-force baseline) and q_embed_neardup (multi-band
  * SRP LSH) carry full DuckDB oracles: the cosine and the ±1 hyperplane
  * sums are written with the identical left-associated operation order on
  * both sides (same literal weights, same IEEE results). The trained IVF
  * variant verifies through a DYNAMIC oracle: training is deterministic
  * given the data, so the fitted centroids are captured at query time and
  * embedded in the same search-path SQL as the pinned variant.
  */
object QueriesSim {

  // Shadows functions.round for the query outputs: bit-identical
  // HALF_UP decimal rounding via graft.functions.FastRound (native
  // codegen'd fast path; Spark's BigDecimal round costs ~1.3s/600k rows
  // of single-core time on multi-column outputs). SQL oracle strings
  // keep DuckDB's own round.
  private def round(c: org.apache.spark.sql.Column, s: Int): org.apache.spark.sql.Column = graft.functions.FastRound(c, s)


  private val DIM = 64
  // q_ivf_append's per-invocation index dir (at most two live trees —
  // deletion deferred one generation, see TempArtifacts)
  private val qiaSite = new TempArtifacts.Site("graft-qia")
  // q_ivfpq_append's per-invocation index dir
  private val qpqSite = new TempArtifacts.Site("graft-qpq")
  // q_index_maint's per-invocation index dir
  private val qimSite = new TempArtifacts.Site("graft-qim")

  // vector-heavy kernels (brute kNN, PQ/SQ encodes, per-pair cosines):
  // same parallelism floor as QueriesText.docs — the sf embeddings
  // table is ONE parquet row group, so without the spread every
  // corpus×probe fan-out runs on a single core (measured 5.8s of the
  // 7.8s q_umap_analog total in one task; guard is a no-op at real
  // scale where inputs arrive as many row groups)
  private def emb(s: SparkSession, dir: String): DataFrame =
    graft.operators.ParallelInput.cpuBound(
      s.read.parquet(s"$dir/embeddings.parquet"))

  // demo LSH parameters: the synthetic embeddings have no true near-dups
  // (max pairwise cosine ≈ 0.48), so the demo threshold is 0.3 and the
  // bands are shallow (6 planes) to keep collisions non-empty; production
  // near-dup thresholds (≥0.9) pair with ≥16 planes per band.
  private val (bands, planes, thr, cap) = (4, 6, 0.3, 1000)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ANN recall observability (VERDICT r13 item 5): the IVF operating
    // curve — recall@5 at nprobe ∈ {2, 4} against the brute baseline
    // over a bounded probe sample, as DATA (family, k, nprobe,
    // n_probes, recall). Both searches are exact SQL given the pinned
    // grid, so the whole curve carries a full value oracle; the same
    // operator pointed at a trained/loaded index is how production
    // picks the cheapest nprobe above its recall floor.
    "q_ann_recall" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val idx = IvfCosine.assignByCentroids(corpus, "vec_id",
        "embedding", IvfCosine.pinnedCentroids(16, DIM))
      val probes = corpus.where(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      AnnEval.ivfRecallSweep(idx, probes, "vec_id", "embedding",
        "qid", "qvec", k = 5, nprobes = Seq(2, 4), dim = DIM)
        .select(col("family"), col("k"), col("nprobe"), col("n_probes"),
          round(col("recall"), 6).as("recall"))
    }),

    // exact top-5 cosine neighbors for the 50-vector probe set
    "q_cosine_topk" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val probes = corpus.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      CosineTopK.bruteForce(corpus, probes, "vec_id", "embedding",
        "qid", "qvec", k = 5, dim = DIM)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }),

    // MMR-diversified retrieval (Carbonell & Goldstein 1998): greedy
    // λ·rel − (1−λ)·max-sim-to-selected over each probe's top-8
    // shortlist, k=3, unrolled as bounded relational rounds (pair frame
    // = probes × 64 rows; never corpus-sized). Scores round-6 snapped
    // before every argmax so rank boundaries are engine-stable.
    "q_mmr" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val probes = corpus.where(col("vec_id") < 30)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Mmr.rerank(corpus, probes, "vec_id", "embedding", "qid", "qvec",
        shortN = 8, k = 3, lambda = 0.7, dim = DIM)
        .select(col("qid"), col("step"), col("nid"), col("rel"),
          col("mmr"))
    }),

    // DPR-style hard-negative mining: per anchor, top-3 most-similar
    // DIFFERENT-label items under the false-negative band (cosine ≤
    // 0.40 — the band genuinely binds on this data: max cross-label
    // cosine ≈ 0.49). Filters run before the per-anchor rank window.
    "q_hard_negatives" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val anchors = corpus.where(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      HardNegatives.mine(corpus, anchors, "vec_id", "embedding", "label",
        "qid", "qvec", "qlabel", k = 3, dim = DIM, maxCos = 0.40)
        .select(col("qid"), col("nid"), col("nlabel"), col("cosine"),
          col("rank"))
    }),

    // embedding-space decontamination: corpus (vec_id % 23 ≠ 1) scored
    // against the broadcast eval split (% 23 = 1); one map-side-combined
    // struct-max per corpus id, threshold τ = 0.35
    "q_sem_decontam" -> ((s, dir) => {
      val all = emb(s, dir)
      val evalSet = all.where(col("vec_id") % 23 === 1)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SemDecontam.flag(all.where(col("vec_id") % 23 =!= 1), evalSet,
        "vec_id", "embedding", "qid", "qvec", tau = 0.35, dim = DIM)
        .select(col("vec_id"), col("eval_id"), col("max_eval_cos"),
          col("contaminated"))
    }),

    // the composed contrastive-data pipeline (the q_pipeline /
    // q_ingest_pipeline pattern for the similarity family): eval-set
    // decontamination feeds hard-negative mining — negatives are mined
    // from the CLEANED corpus only, under one chained oracle. Anchors
    // are cleaned-corpus members too (a contaminated anchor must not
    // emit training pairs at all).
    "q_contrastive_pipeline" -> ((s, dir) => {
      val all = emb(s, dir)
      val evalSet = all.where(col("vec_id") % 23 === 1)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      // localCheckpoint: clean feeds BOTH sides of mine (corpus scan +
      // anchor broadcast) — materialize the screen once, not twice
      val clean = SemDecontam.clean(all.where(col("vec_id") % 23 =!= 1),
        evalSet, "vec_id", "embedding", "qid", "qvec", tau = 0.35,
        dim = DIM).localCheckpoint()
      val anchors = clean.where(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      HardNegatives.mine(clean, anchors, "vec_id", "embedding", "label",
        "qid", "qvec", "qlabel", k = 3, dim = DIM, maxCos = 0.40)
        .select(col("qid"), col("nid"), col("nlabel"), col("cosine"),
          col("rank"))
    }),

    // the contrastive pipeline's SCALE path (the q_umap_ivf treatment
    // for mining): the shortlist comes from IvfCosine.search over the
    // CLEANED corpus — cell-partitioned equi-join, nprobe=4 of 16 cells,
    // genuinely approximate — and feeds HardNegatives.fromScored through
    // the seam. At 100 TB the anchor set outgrows the brute broadcast;
    // this is the plan that replaces it, as a first-class ORACLED query
    // (full-probe ≡ brute equality stays HardNegativesSpec's).
    "q_contrastive_ivf" -> ((s, dir) => {
      val all = emb(s, dir)
      val evalSet = all.where(col("vec_id") % 23 === 1)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val clean = SemDecontam.clean(all.where(col("vec_id") % 23 =!= 1),
        evalSet, "vec_id", "embedding", "qid", "qvec", tau = 0.35,
        dim = DIM).localCheckpoint()
      val idx = IvfCosine.assignByCentroids(clean, "vec_id", "embedding",
        IvfCosine.pinnedCentroids(16, DIM))
      val anchors = clean.where(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      val short = IvfCosine.search(idx, anchors.select("qid", "qvec"),
        "vec_id", "embedding", "qid", "qvec", k = 12, nprobe = 4,
        dim = DIM)
      // label lookup: ONE corpus scan with the (anchors × 12)-row
      // shortlist broadcast into it — the corpus never shuffles
      val withQ = short.join(broadcast(anchors.select("qid", "qlabel")),
        Seq("qid"))
      val scored = clean
        .select(col("vec_id").as("nid"), col("label").as("nlabel"))
        .join(broadcast(withQ), Seq("nid"))
        .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
          round(col("cosine"), 6).as("cosine"))
      HardNegatives.fromScored(scored, k = 3, maxCos = 0.40)
        .select(col("qid"), col("nid"), col("nlabel"), col("cosine"),
          col("rank"))
    }),

    // the RAG corpus build chained END TO END — the canonical retrieval
    // data pipeline (chunk → embed → index → top-k) as ONE lazy plan:
    // stride-24/size-32 token chunks, the stateless hashing-vectorizer
    // embedding (no model at corpus scale), pinned-quantizer IVF cell
    // assignment, and nprobe-3 top-5 retrieval for the probe documents.
    // Every stage is an already-oracled operator (q_chunk, q_hash_embed,
    // q_ivf_pinned); the composition verifies under one chained CTE
    // oracle. Zero-norm chunks (sign-cancelled buckets) are filtered
    // BEFORE indexing — a zero vector has no cosine direction.
    "q_rag_pipeline" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val chunks = graft.text.CorpusSplit.chunk(docs, "doc_id", "text",
        chunkSize = 32, stride = 24)
      // the embedded corpus feeds BOTH sides of the search join (index
      // + probes): prune to (cid, doc_id, hvec) and materialize ONCE —
      // without this the chunk+embed chain re-evaluates per side
      // (measured 20s -> ~7s at sf0.1)
      val emb = graft.text.HashingVectorizer.vectorize(chunks,
        "chunk_text", dim = 16)
        // 1e6 multiplier keeps chunk ids collision-free up to 1M chunks
        // per document (~24M tokens at stride 24) — a 1000 multiplier
        // would silently alias a >=1000-chunk document into the next
        // doc_id's range (oracle mirrors the same formula)
        .withColumn("cid", col("doc_id") * 1000000L + col("chunk_idx"))
        .where(Similarity.dot(col("hvec"), col("hvec")) > 0)
        .select("cid", "doc_id", "hvec")
        .localCheckpoint()
      val idx = IvfCosine.assignByCentroids(emb, "cid", "hvec",
        IvfCosine.pinnedCentroids(8, 16))
      // FIXED probe set (the first shard's % 97 documents): a retrieval
      // workload's query count does not grow with the corpus — the
      // corpus side scales, the probe side stays bounded (the brute →
      // IVF story q_ivf_pinned tells, composed end to end)
      val probes = emb.where(col("doc_id") % 97 === 0 &&
          col("doc_id") < 500)
        .select(col("cid").as("qid"), col("hvec").as("qvec"))
      IvfCosine.search(idx, probes, "cid", "hvec", "qid", "qvec",
        k = 5, nprobe = 3, dim = 16)
        .select(col("qid"), col("nid"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }),

    // IVF ANN: k-means coarse quantizer, probes scan nprobe of nlist
    // cells — the equi-join scale path when probes don't broadcast.
    // Training is a DETERMINISTIC pure function of the data (md5-ordered
    // bounded sample, seeded init, fixed driver Lloyd loop), so the
    // fitted centroids go to DynamicOracles and the FULL search path —
    // cell assignment, nprobe pruning, in-cell ranking — verifies under
    // the trained quantizer (same SQL as q_ivf_pinned, trained literals).
    "q_ivf_topk" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val idx = IvfCosine.buildIndex(corpus, "vec_id", "embedding",
        nlist = 16)
      DynamicOracles.ivfCentroids.set(idx.centroids)
      val probes = corpus.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      IvfCosine.search(idx, probes, "vec_id", "embedding", "qid", "qvec",
        k = 5, nprobe = 4, dim = DIM)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }),

    // IVF with a PINNED quantizer (md5-derived centroid grid): the
    // search path — cell assignment, nprobe pruning, in-cell ranking —
    // under a full oracle; quantizer TRAINING stays covered by the
    // recall test (seeded k-means has no SQL form).
    "q_ivf_pinned" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val idx = IvfCosine.assignByCentroids(corpus, "vec_id", "embedding",
        IvfCosine.pinnedCentroids(16, DIM))
      val probes = corpus.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      IvfCosine.search(idx, probes, "vec_id", "embedding", "qid", "qvec",
        k = 5, nprobe = 4, dim = DIM)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }),

    // the PERSISTED index lifecycle inside the gate: build over the
    // base shard → saveIndex (cell-partitioned parquet + exact-double
    // centroids) → appendToIndex the delta shard (only the delta is
    // assigned; the base files are untouched) → loadIndex → search.
    // Values are independent of the disk round-trip, so the oracle is
    // the plain IVF search over the FULL corpus — any drift in the
    // save/append/load codec path breaks the hash. Artifact I/O is
    // corpus-shard-sized parquet at query build (driver-side temp dir).
    // BOUNDED CELLS (round 14 — the q_umap_ivf treatment applied to
    // the lifecycle family): nlist scales with the corpus
    // (max(16, ceil(N/125)) from the FULL embeddings count, same at
    // gate scales where it stays 16), the build assigns through the
    // nearest_centroid kernel and the search routes through the
    // data-form path (both plans nlist-independent), and the oracle
    // derives the identical md5 grid from count(*) in SQL — without
    // this the fixed 16-cell grid makes the gated SEARCH quadratic in
    // corpus size (12.5k-row cells at sf10 → a 345M-row rank shuffle).
    "q_ivf_append" -> ((s, dir) => {
      val all = emb(s, dir)
      // corpus row count from parquet footers (driver-side, no job):
      // the distributed count() paid the cpuBound spread exchange +
      // a scheduling round-trip for a number the footers already hold;
      // same value (the oracle's count(*) over the same table)
      val nlist = math.max(16, math.ceil(
        graft.operators.ParquetMeta.rowCount(s,
          s"$dir/embeddings.parquet") / 125.0).toInt)
      require(nlist <= 65536, s"q_ivf_append nlist=$nlist exceeds the " +
        "oracle's 65536-cell enumeration cap")
      val grid = IvfCosine.pinnedCentroids(nlist, DIM)
      val base = all.where(col("vec_id") % 3 =!= 0)
      val delta = all.where(col("vec_id") % 3 === 0)
      val path = qiaSite.fresh().resolve("idx").toString
      IvfCosine.saveIndex(path,
        IvfCosine.assignByCentroids(base, "vec_id", "embedding", grid),
        "vec_id", "embedding")
      IvfCosine.appendToIndex(path,
        delta.select(col("vec_id"), col("embedding")))
      val idx = IvfCosine.loadIndex(s, path, "vec_id", "embedding")
      val probes = all.where(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      IvfCosine.searchDf(idx.assigned, probes, "vec_id", "embedding",
        "qid", "qvec", IvfCosine.centroidsDf(s, idx.centroids),
        k = 5, nprobe = 4, dim = DIM)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }),

    // index MAINTENANCE end-to-end (VERDICT r12 item 8 — the
    // daily-serving analog of q_ingest_pipeline): yesterday's corpus is
    // a saved index; today's snapshot retires some documents (% 13),
    // re-embeds others (% 11, vectors halved — float halving is exact,
    // so the oracle's double halve matches bit-for-bit) and adds new
    // ones (% 5). SnapshotDiff classifies the day's CDC on a vector
    // fingerprint; adds flow through appendToIndex (delta-only, base
    // files untouched), changes + deletes through applyChanges (only
    // the AFFECTED cell partitions rewrite); the maintained index then
    // loads and serves. Maintenance is value-transparent, so the
    // oracle is the plain same-grid search over today's corpus — any
    // stale row, missed delete, or wrong-cell rewrite breaks the hash.
    // BOUNDED CELLS (round 14): grid sized from the FULL embeddings
    // count — the same derivation (and at gate scales the same 16-cell
    // grid) as q_ivf_append above; kernel assignment, data-form search.
    "q_index_maint" -> ((s, dir) => {
      val all = emb(s, dir)
      // footer-derived corpus count, as in q_ivf_append above
      val nlist = math.max(16, math.ceil(
        graft.operators.ParquetMeta.rowCount(s,
          s"$dir/embeddings.parquet") / 125.0).toInt)
      require(nlist <= 65536, s"q_index_maint nlist=$nlist exceeds " +
        "the oracle's 65536-cell enumeration cap")
      val grid = IvfCosine.pinnedCentroids(nlist, DIM)
      val oldSnap = all.where(col("vec_id") % 5 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val newSnap = all.where(col("vec_id") % 13 =!= 0)
        .select(col("vec_id"),
          when(col("vec_id") % 11 === 0,
            transform(col("embedding"), x => x * lit(0.5f)))
            .otherwise(col("embedding")).as("embedding"))
      val path = qimSite.fresh().resolve("idx").toString
      // the index SAVE (assign yesterday's corpus + write) and the CDC
      // DIFF (fingerprint join of the two snapshots) are independent —
      // disjoint outputs, inputs only from the snapshots — so they
      // overlap (guide §2.6); append/apply still run strictly after
      // both (they read the saved meta and the diff)
      @volatile var d: DataFrame = null
      graft.operators.ParallelInput.overlap(Seq(
        () => IvfCosine.saveIndex(path,
          IvfCosine.assignByCentroids(oldSnap, "vec_id", "embedding", grid),
          "vec_id", "embedding"),
        () => d = graft.sources.SnapshotDiff.diff(oldSnap, newSnap,
          "vec_id", md5(to_json(struct(col("embedding")))))
          .localCheckpoint()))
      val added = newSnap.join(d.where(col("status") === "added")
        .select("vec_id"), Seq("vec_id"))
      val changed = newSnap.join(d.where(col("status") === "changed")
        .select("vec_id"), Seq("vec_id"))
      val removed = d.where(col("status") === "removed").select("vec_id")
      IvfCosine.appendToIndex(path, added)
      IvfCosine.applyChanges(s, path, changed, removed)
      val idx = IvfCosine.loadIndex(s, path, "vec_id", "embedding")
      val probes = newSnap.where(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      IvfCosine.searchDf(idx.assigned, probes, "vec_id", "embedding",
        "qid", "qvec", IvfCosine.centroidsDf(s, idx.centroids),
        k = 5, nprobe = 4, dim = DIM)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          col("rank"))
    }),

    // product quantization (Jégou et al. 2011): encode → ADC shortlist →
    // exact re-rank, all against pinned codebooks — the storage-bound
    // scale path (m bytes + a norm per vector) under a full oracle.
    "q_pq_topk" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val books = PqCosine.pinnedCodebooks(m = 8, subDim = 8, k = 16)
      val codes = PqCosine.encode(corpus, "vec_id", "embedding", books)
      val probes = corpus.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      PqCosine.search(codes, corpus, probes, "vec_id", "embedding",
        "qid", "qvec", books, k = 5, shortlist = 20)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          round(col("approx_cos"), 6).as("approx_cos"), col("rank"))
    }),

    // PQ with TRAINED codebooks (the FAISS ProductQuantizer.train
    // role): per-subspace Lloyd over the bounded md5-ordered sample —
    // a DETERMINISTIC pure function of the data, so the fitted
    // codebooks go to DynamicOracles and the FULL encode + ADC +
    // re-rank path verifies under the trained quantizer (same SQL as
    // q_pq_topk, trained literals — the q_ivf_topk treatment).
    "q_pq_trained" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val books = PqCosine.trainCodebooks(corpus, "vec_id", "embedding",
        m = 8, nk = 16)
      DynamicOracles.pqCodebooks.set(books)
      val codes = PqCosine.encode(corpus, "vec_id", "embedding", books)
      val probes = corpus.where(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      PqCosine.search(codes, corpus, probes, "vec_id", "embedding",
        "qid", "qvec", books, k = 5, shortlist = 20)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          round(col("approx_cos"), 6).as("approx_cos"), col("rank"))
    }),

    // scalar int8 quantization (FAISS SQ8): per-vector linear codes +
    // asymmetric float-query scoring — the codebook-free middle rung of
    // the compression ladder (float32 → SQ8 → PQ → IVF-PQ), fully
    // deterministic so the whole path is under one oracle.
    "q_sq8_topk" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val codes = SqCosine.encode(corpus, "vec_id", "embedding")
      val probes = corpus.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      SqCosine.search(codes, corpus, probes, "vec_id", "embedding",
        "qid", "qvec", k = 5, shortlist = 20)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          round(col("approx_cos"), 6).as("approx_cos"), col("rank"))
    }),

    // IVF-PQ (Jégou et al. 2011 §V / the FAISS IVFPQ structure): coarse
    // cells prune the scan, residual PQ codes bound the bytes per
    // candidate, exact re-rank touches only the shortlist — the full
    // web-scale ANN index under one oracle. Centroids and codebooks
    // broadcast as frames, so the plan size is independent of nlist·m·nk;
    // DataFormAnnSpec pins it equal to a literal-table reference.
    "q_ivfpq_topk" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val coarse = IvfCosine.centroidsDf(s,
        IvfCosine.pinnedCentroids(16, DIM))
      val books = PqCosine.codebooksDf(s,
        PqCosine.pinnedCodebooks(m = 8, subDim = 8, k = 16))
      val codes = IvfPq.encodeDf(corpus, "vec_id", "embedding", coarse,
        books, m = 8)
      val probes = corpus.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      IvfPq.searchDf(codes, corpus, probes, "vec_id", "embedding",
        "qid", "qvec", coarse, books, k = 5, nprobe = 4, shortlist = 20,
        m = 8, nk = 16)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          round(col("approx_cos"), 6).as("approx_cos"), col("rank"))
    }),

    // the PERSISTED IVF-PQ lifecycle inside the gate (the q_ivf_append
    // pattern for the compressed index): encode the base shard ->
    // AnnIndexIO.saveIvfPq (cell-partitioned code parquet + exact-double
    // quantizer params + row-count commit marker) -> appendIvfPq the
    // delta (only the delta is encoded, through the loaded params) ->
    // loadIvfPq -> searchDf. Values are independent of the disk
    // round-trip, so the oracle is the plain IVF-PQ search over the
    // FULL corpus — drift anywhere in the save/append/load codec path
    // breaks the hash.
    "q_ivfpq_append" -> ((s, dir) => {
      val all = emb(s, dir)
      val base = all.where(col("vec_id") % 3 =!= 0)
      val delta = all.where(col("vec_id") % 3 === 0)
      val coarseArr = IvfCosine.pinnedCentroids(16, DIM)
      val booksArr = PqCosine.pinnedCodebooks(m = 8, subDim = 8, k = 16)
      val coarse = IvfCosine.centroidsDf(s, coarseArr)
      val books = PqCosine.codebooksDf(s, booksArr)
      val path = qpqSite.fresh().resolve("idx").toString
      graft.sim.AnnIndexIO.saveIvfPq(path, coarseArr, booksArr,
        IvfPq.encodeDf(base, "vec_id", "embedding", coarse, books, m = 8),
        "vec_id")
      graft.sim.AnnIndexIO.appendIvfPq(path,
        delta.select(col("vec_id"), col("embedding")), "embedding")
      val idx = graft.sim.AnnIndexIO.loadIvfPq(s, path)
      val probes = all.where(col("vec_id") % 29 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      IvfPq.searchDf(idx.codes, all, probes, "vec_id", "embedding",
        "qid", "qvec", coarse, books, k = 5, nprobe = 4, shortlist = 20,
        m = 8, nk = 16)
        .select(col("qid"), col("nid"), round(col("cosine"), 6).as("cosine"),
          round(col("approx_cos"), 6).as("approx_cos"), col("rank"))
    }),

    // SemDeDup (arXiv:2303.09540): pinned-centroid clustering + within-
    // cell cosine pruning, keep-lowest-centroid-sim priority. The full
    // semantic-dedup decision — assignment, priority, prune — under a
    // bit-for-bit oracle; the assignment is the nearest_centroid
    // kernel, whose plan holds the grid as one node at any nlist (the
    // paper's 50k clusters included).
    "q_semdedup" -> ((s, dir) => {
      SemDedup.dedup(emb(s, dir), "vec_id", "embedding",
        IvfCosine.pinnedCentroids(16, DIM), threshold = thr,
        maxCellSize = 10000)
        .select(col("vec_id"), col("cell"),
          round(col("centroid_sim"), 6).as("centroid_sim"), col("keep"))
    }),

    // Johnson–Lindenstrauss ±1/√k projection (Achlioptas 2003): dim
    // 64 → 16 ahead of ANN/clustering — md5-derived matrix, pure
    // codegen projection, zero shuffle, bit-exact oracle
    "q_jl_project" -> ((s, dir) => {
      val proj = RandomProjection.project(emb(s, dir), "vec_id",
        "embedding", outDim = 16, inDim = DIM)
      proj.select(col("vec_id") +: (0 until 16).map(r =>
        round(element_at(col("projected"), r + 1), 6).as(s"d$r")): _*)
    }),

    // scale path: multi-band sign-random-projection buckets (md5-derived
    // literal ±1 planes), bucket-size cap, exact pre-normalized cosine
    // check in-bucket only.
    "q_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDups(emb(s, dir), "vec_id", "embedding",
        dim = DIM, bands = bands, planesPerBand = planes, threshold = thr,
        maxBucketSize = cap)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    // distributed full-corpus Lloyd's (2 rounds from the pinned grid;
    // each round's centroid frame is collected and assigned by the
    // nearest_centroid kernel): the whole-corpus trainer behind
    // the IVF/SemDeDup quantizers — fixed iters + pinned init make the
    // fit oracle-checkable, unlike seeded-sample k-means
    "q_kmeans" -> ((s, dir) => {
      graft.sim.KMeans.fitAssign(emb(s, dir), "vec_id", "embedding",
        IvfCosine.centroidsDf(s, IvfCosine.pinnedCentroids(8, DIM)),
        iters = 2)
        .select(col("vec_id"), col("cell"))
    }),

    // prototypicality pruning (Sorscher et al. 2022): drop each cell's
    // most-centroid-similar half — per-cell exact-percentile cuts
    // broadcast back, keep-hard-examples companion of q_semdedup
    "q_proto_prune" -> ((s, dir) => {
      graft.sim.ProtoPrune.prune(emb(s, dir), "vec_id", "embedding",
        IvfCosine.centroidsDf(s, IvfCosine.pinnedCentroids(8, DIM)),
        keepFrac = 0.5)
        .select(col("vec_id"), col("cell"), col("centroid_sim"),
          col("keep"))
    }),

    // UMAP-analog 2-D embedding (LargeVis/UMAP family, deterministic
    // batch form — graft.ml.UmapAnalog): JL init, kNN attraction,
    // stride negatives, 3 epochs, all under ONE unrolled oracle (the
    // DimReducer method="umap" analog; closes SURVEY §2.7's last row)
    "q_umap_analog" -> ((s, dir) => {
      graft.ml.UmapAnalog.fitTransform(emb(s, dir), "vec_id",
        "embedding", dim = DIM)
    }),

    // the SAME fit over the SCALE-path edge build: IVF kNN edges
    // through the seam overload — the cell-partitioned equi-join graph
    // a 100 TB corpus uses instead of the whole-corpus probe broadcast,
    // as a first-class ORACLED query (genuinely approximate edges,
    // nprobe < nlist — not brute in disguise; the full-probe ≡ brute
    // equality is UmapKnnSeamSpec's). BOUNDED CELLS (VERDICT r12
    // item 2): nlist scales with the corpus (max(16, ceil(N/125)) — the
    // md5 grid is enumerable at any size, so the oracle derives the
    // same grid from count(*) in SQL), keeping the self-kNN probe join
    // N·cell instead of N²/const; the grid enters the assignment as one
    // kernel matrix and the probe routing as a broadcast (cell, cvec)
    // frame, so the PLAN is also nlist-independent. 16 cells at the gate scales (500/2000 rows),
    // 160 at the sf1 checkpoint — cells stay ~125 rows at every scale.
    "q_umap_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val nlist = math.max(16, math.ceil(e.count() / 125.0).toInt)
      // the dynamic oracle enumerates the md5 grid from range(65536)
      // (DuckDB table-function args can't be subqueries) — fail HERE,
      // where the grid size is chosen, if the corpus ever implies more
      // cells than the oracle can enumerate, instead of as a confusing
      // hash mismatch (ADVICE r13)
      require(nlist <= 65536,
        s"q_umap_ivf nlist=$nlist exceeds the oracle's 65536-cell " +
          "enumeration cap — raise cellRows or the oracle's range bound")
      graft.ml.UmapAnalog.fitTransform(e,
        graft.ml.UmapAnalog.ivfKnnEdges(e, "vec_id", "embedding",
          dim = DIM, k = 5, nlist = nlist, nprobe = 4),
        "vec_id", "embedding", dim = DIM,
        negOffsets = Seq(17L, 131L, 313L), iters = 3, lr = 0.05,
        gamma = 1.0, eps = 1e-3)
    })
  )

  /** The IVF search-path oracle for a given centroid grid — shared by
    * q_ivf_pinned (pinned literals) and the DYNAMIC q_ivf_topk entry
    * (trained literals captured at query time; training is deterministic
    * given the data, and the search given centroids is exact SQL). */
  /** The IVF search CTE chain (everything after `v`) for a given
    * centroid grid and probe predicate — shared by the search-path
    * oracles and the q_umap_ivf edge build. Ends in `ranked(qid, nid,
    * cosine, rank)`. */
  private def ivfCtes(cents: Array[Array[Double]], nprobe: Int,
      probePred: String): String = {
    val values = cents.zipWithIndex.map { case (c, j) =>
      val cc = c.map(x => x * x).sum
      s"($j, [${c.mkString(", ")}], $cc)"
    }.mkString(",\n    ")
    s"""c(j, cv, cc) AS (
       |  SELECT * FROM (VALUES
       |    $values)),
       |${ivfChainCtes(nprobe, probePred)}""".stripMargin
  }

  /** [[ivfCtes]] with the centroid grid DERIVED IN SQL instead of
    * enumerated as literals: nlist = max($minNlist, ceil(count(v) /
    * $cellRows)) and each grid value reproduces
    * [[IvfCosine.pinnedCentroids]]'s md5 derivation character for
    * character (first 4 hex chars of md5("ivf:j:d") as an int,
    * /65535.0, −0.5 — the same two IEEE double ops). This is what lets
    * a GATED query scale its cell count with the corpus and still
    * verify: the oracle enumerates however many cells the data implies
    * (16 at the 500/2000-row gate scales, 160 at the sf1 checkpoint).
    * The enumeration is bounded at 65536 cells (range() args can't be
    * subqueries in DuckDB); the Scala side asserts nlist <= 65536 at
    * grid-choice time so the cap can never silently diverge the grids.
    * The cc self-dot comes from list_inner_product(cv, cv) — the same
    * ascending-index left fold as the Scala literal and the VecDot
    * kernel. */
  private def ivfCtesDynamic(nprobe: Int, probePred: String,
      cellRows: Int = 125, minNlist: Int = 16): String = {
    val hx = (pos: Int) =>
      s"(strpos('0123456789abcdef', substr(h, $pos, 1)) - 1)"
    // nlist derives from the FULL embeddings table, NOT the v CTE: the
    // lifecycle queries' v is a filtered snapshot (today's corpus), but
    // their grid was sized at INDEX BUILD time from the full corpus
    // count — and for q_umap_ivf the two counts coincide (v = all rows)
    s"""nl AS (SELECT greatest($minNlist,
       |  CAST(ceil(count(*) / $cellRows.0) AS INT)) AS nlist
       |  FROM embeddings),
       |cg AS (
       |  SELECT j, cv, list_inner_product(cv, cv) AS cc FROM (
       |    SELECT j, list(cval ORDER BY d) AS cv FROM (
       |      SELECT j, d,
       |        (CAST(${hx(1)} * 4096 + ${hx(2)} * 256
       |              + ${hx(3)} * 16 + ${hx(4)} AS DOUBLE)
       |         / 65535.0) - 0.5 AS cval
       |      FROM (
       |        SELECT jj.range AS j, dd.range AS d,
       |          md5('ivf:' || CAST(jj.range AS VARCHAR) ||
       |              ':' || CAST(dd.range AS VARCHAR)) AS h
       |        FROM range(65536) jj, range($DIM) dd
       |        WHERE jj.range < (SELECT nlist FROM nl)))
       |    GROUP BY j)),
       |c AS (SELECT j, cv, cc FROM cg),
       |${ivfChainCtes(nprobe, probePred)}""".stripMargin
  }

  /** The shared IVF search chain over a `c(j, cv, cc)` centroid CTE
    * (assignment, probe routing, in-cell cosine, ranking) — ends in
    * `ranked(qid, nid, cosine, rank)`. */
  private def ivfChainCtes(nprobe: Int, probePred: String): String =
    s"""assigned AS (
       |  SELECT vec_id, e, j AS cell FROM v CROSS JOIN c
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
       |    (list_inner_product(e, e) - 2 * list_inner_product(e, cv)) + cc,
       |    j) = 1),
       |p AS (SELECT vec_id AS qid, e AS q FROM v WHERE $probePred),
       |pc AS (
       |  SELECT qid, q, j AS cell FROM p CROSS JOIN c
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
       |    list_inner_product(q, cv)
       |      / (sqrt(list_inner_product(q, q))
       |         * sqrt(list_inner_product(cv, cv))) DESC, j) <= $nprobe),
       |sims AS (
       |  SELECT pc.qid, a.vec_id AS nid,
       |    list_inner_product(pc.q, a.e)
       |      / (sqrt(list_inner_product(pc.q, pc.q))
       |         * sqrt(list_inner_product(a.e, a.e))) AS cosine
       |  FROM pc JOIN assigned a ON a.cell = pc.cell
       |  WHERE a.vec_id <> pc.qid),
       |ranked AS (
       |  SELECT qid, nid, cosine,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, nid) AS rank
       |  FROM sims)""".stripMargin

  private def ivfSearchSql(cents: Array[Array[Double]], nprobe: Int,
      k: Int, probePred: String = "vec_id < 50",
      vBody: String = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings"): String =
    s"""WITH v AS (
       |  $vBody),
       |${ivfCtes(cents, nprobe, probePred)}
       |SELECT qid, nid, round(cosine, 6) AS cosine, rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** [[ivfSearchSql]] over the CORPUS-SCALED dynamic grid
    * ([[ivfCtesDynamic]]) — the oracle form of the bounded-cell
    * lifecycle queries (round 14). */
  private def ivfSearchSqlDynamic(nprobe: Int, k: Int,
      probePred: String,
      vBody: String = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e " +
        "FROM embeddings"): String =
    s"""WITH v AS (
       |  $vBody),
       |${ivfCtesDynamic(nprobe, probePred)}
       |SELECT qid, nid, round(cosine, 6) AS cosine, rank
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** q_umap_analog oracle: the whole fit unrolled — JL init (round-6),
    * the kNN edge build, stride negatives, and `iters` epochs of the
    * batch gradient with the identical per-edge IEEE expression order
    * and round-6 position snap after every epoch (so float-sum order
    * noise never compounds across engines). */
  private def umapAnalogSql(k: Int, negOffsets: Seq[Long], iters: Int,
      lr: Double, gamma: Double, eps: Double,
      knnCte: Option[String] = None): String = {
    val proj0 = RandomProjection.projectSql("e", 2, DIM, 0)
    val proj1 = RandomProjection.projectSql("e", 2, DIM, 1)
    val negSel = negOffsets.map(o =>
      s"""SELECT vec_id AS src,
         |    (vec_id + $o) % (SELECT count(*) FROM v) AS dst,
         |    false AS attract FROM v""".stripMargin)
      .mkString("\n  UNION ALL ")
    def gsum(d: String) =
      s"""sum(CASE WHEN attract THEN (-2.0 * $d) / (1.0 + d2)
         |      ELSE (($gamma * 2.0) * $d) / (($eps + d2) * (1.0 + d2))
         |      END)""".stripMargin
    val iterCtes = (0 until iters).map { t =>
      s"""g$t AS (
         |  SELECT src, ${gsum("dx")} AS g1,
         |    ${gsum("dy")} AS g2
         |  FROM (
         |    SELECT e.src, e.attract, a.y1 - b.y1 AS dx, a.y2 - b.y2 AS dy,
         |      (a.y1 - b.y1) * (a.y1 - b.y1)
         |        + (a.y2 - b.y2) * (a.y2 - b.y2) AS d2
         |    FROM e JOIN p$t a ON a.id = e.src JOIN p$t b ON b.id = e.dst)
         |  GROUP BY src),
         |p${t + 1} AS (
         |  SELECT p.id, round(p.y1 + ($lr * coalesce(g.g1, 0.0)), 6) AS y1,
         |    round(p.y2 + ($lr * coalesce(g.g2, 0.0)), 6) AS y2
         |  FROM p$t p LEFT JOIN g$t g ON g.src = p.id)""".stripMargin
    }.mkString(",\n")
    val knnBlock = knnCte.getOrElse(
      s"""knn AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst, true AS attract
         |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |    list_inner_product(a.e, b.e)
         |      / (sqrt(list_inner_product(a.e, a.e))
         |         * sqrt(list_inner_product(b.e, b.e))) DESC,
         |    b.vec_id) <= $k)""".stripMargin)
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |p0 AS (
       |  SELECT vec_id AS id, round($proj0, 6) AS y1,
       |    round($proj1, 6) AS y2 FROM v),
       |$knnBlock,
       |e AS (SELECT * FROM knn
       |  UNION ALL $negSel),
       |$iterCtes
       |SELECT id AS vec_id, y1 AS dim_0, y2 AS dim_1 FROM p$iters"""
      .stripMargin
  }

  def oracleSql: Map[String, String] = staticOracleSql ++
    Option(DynamicOracles.ivfCentroids.get).map(cents =>
      "q_ivf_topk" -> ivfSearchSql(cents, nprobe = 4, k = 5)) ++
    Option(DynamicOracles.pqCodebooks.get).map(books =>
      "q_pq_trained" -> pqSql(books, probePred = "vec_id % 17 = 0"))

  /** The full IVF-PQ oracle (assignment, residual encoding, probe
    * routing, ADC, exact re-rank) against the pinned 16-cell grid and
    * 8x16 codebooks, parameterized by the probe predicate — shared by
    * q_ivfpq_topk and the persisted-lifecycle q_ivfpq_append (whose
    * save -> append -> load round-trip is value-transparent). */
  private def ivfPqSql(probePred: String): String = {
    val coarse = IvfCosine.pinnedCentroids(16, DIM)
    val books = PqCosine.pinnedCodebooks(m = 8, subDim = 8, k = 16)
    val coarseVals = coarse.zipWithIndex.map { case (c, j) =>
      val cc = c.map(x => x * x).sum
      s"($j, [${c.mkString(", ")}], $cc)"
    }.mkString(",\n    ")
    val bookVals = (for {
      mi <- books.indices; ki <- books(mi).indices
    } yield {
      val c = books(mi)(ki)
      val bb = c.map(x => x * x).sum
      s"($mi, $ki, [${c.mkString(", ")}], $bb)"
    }).mkString(",\n    ")
    // ADC = qc + 8 LUT lookups, explicit left-associated chain
    val adcSum = "pc.qc + " + (0 until 8).map(mi =>
      s"l.l[${mi * 16} + cd.cl[${mi + 1}] + 1]").mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c(j, cv, cc) AS (
       |  SELECT * FROM (VALUES
       |    $coarseVals)),
       |cb(m, k, bv, bb) AS (
       |  SELECT * FROM (VALUES
       |    $bookVals)),
       |assigned AS (
       |  SELECT vec_id, e, j AS cell, cv AS ccv FROM v CROSS JOIN c
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
       |    (list_inner_product(e, e) - 2 * list_inner_product(e, cv)) + cc,
       |    j) = 1),
       |enc AS (
       |  SELECT vec_id, m, k AS code FROM assigned CROSS JOIN cb
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY
       |    bb - 2 * (list_inner_product(
       |                list_slice(e, m * 8 + 1, m * 8 + 8), bv)
       |              - list_inner_product(
       |                list_slice(ccv, m * 8 + 1, m * 8 + 8), bv)),
       |    k) = 1),
       |codes AS (
       |  SELECT vec_id, list(code ORDER BY m) AS cl FROM enc
       |  GROUP BY vec_id),
       |meta AS (
       |  SELECT vec_id, cell, sqrt(list_inner_product(e, e)) AS nrm
       |  FROM assigned),
       |p AS (SELECT vec_id AS qid, e AS q,
       |      sqrt(list_inner_product(e, e)) AS qn FROM v
       |      WHERE $probePred),
       |lut AS (
       |  SELECT qid, list(val ORDER BY m, k) AS l FROM (
       |    SELECT p.qid, cb.m, cb.k,
       |      list_inner_product(
       |        list_slice(p.q, cb.m * 8 + 1, cb.m * 8 + 8), cb.bv) AS val
       |    FROM p CROSS JOIN cb) GROUP BY qid),
       |pc AS (
       |  SELECT qid, qn, j AS cell, list_inner_product(q, cv) AS qc
       |  FROM p CROSS JOIN c
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
       |    list_inner_product(q, cv)
       |      / (qn * sqrt(list_inner_product(cv, cv))) DESC, j) <= 4),
       |short AS (
       |  SELECT pc.qid, mt.vec_id AS nid,
       |    ($adcSum) / (pc.qn * mt.nrm) AS approx_cos
       |  FROM pc JOIN meta mt ON mt.cell = pc.cell
       |  JOIN codes cd ON cd.vec_id = mt.vec_id
       |  JOIN lut l ON l.qid = pc.qid
       |  WHERE mt.vec_id <> pc.qid
       |  QUALIFY row_number() OVER (PARTITION BY pc.qid
       |    ORDER BY approx_cos DESC, nid) <= 20),
       |rer AS (
       |  SELECT s.qid, s.nid,
       |    list_inner_product(p.q, v.e)
       |      / (p.qn * sqrt(list_inner_product(v.e, v.e))) AS cosine,
       |    s.approx_cos
       |  FROM short s JOIN p ON p.qid = s.qid JOIN v ON v.vec_id = s.nid)
       |SELECT qid, nid, round(cosine, 6) AS cosine,
       |  round(approx_cos, 6) AS approx_cos,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, nid) AS rank
       |FROM rer QUALIFY rank <= 5""".stripMargin
  }

  /** The full PQ oracle (per-subspace encode, flat-LUT ADC, exact
    * re-rank) for a given codebook tensor — shared by q_pq_topk
    * (pinned grid) and the DYNAMIC q_pq_trained entry (trained
    * codebooks captured at query time; training is deterministic given
    * the data, and encode/search given codebooks is exact SQL). */
  private def pqSql(books: Array[Array[Array[Double]]],
      probePred: String = "vec_id < 50"): String = {
    val m = books.length
    val nk = books.head.length
    val subDim = books.head.head.length
    val values = (for {
      mi <- books.indices; ki <- books(mi).indices
    } yield {
      val c = books(mi)(ki)
      val cc = c.map(x => x * x).sum
      s"($mi, $ki, [${c.mkString(", ")}], $cc)"
    }).mkString(",\n    ")
    // flat LUT index = m·nk + code + 1 (1-based); the m-term ADC sum is
    // written explicitly so the addition order matches the Spark side
    val adcSum = (0 until m).map(mi =>
      s"l.l[${mi * nk} + c.c[${mi + 1}] + 1]").mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cb(m, k, cv, cc) AS (
       |  SELECT * FROM (VALUES
       |    $values)),
       |enc AS (
       |  SELECT vec_id, m, k AS code FROM v CROSS JOIN cb
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY
       |    cc - 2 * list_inner_product(
       |      list_slice(e, m * $subDim + 1, m * $subDim + $subDim), cv),
       |    k) = 1),
       |codes AS (
       |  SELECT vec_id, list(code ORDER BY m) AS c FROM enc
       |  GROUP BY vec_id),
       |nr AS (SELECT vec_id, sqrt(list_inner_product(e, e)) AS nrm FROM v),
       |p AS (SELECT vec_id AS qid, e AS q,
       |      sqrt(list_inner_product(e, e)) AS qn FROM v
       |      WHERE $probePred),
       |lut AS (
       |  SELECT qid, list(val ORDER BY m, k) AS l FROM (
       |    SELECT p.qid, cb.m, cb.k,
       |      list_inner_product(
       |        list_slice(p.q, cb.m * $subDim + 1,
       |                   cb.m * $subDim + $subDim), cb.cv) AS val
       |    FROM p CROSS JOIN cb) GROUP BY qid),
       |short AS (
       |  SELECT l.qid, c.vec_id AS nid,
       |    ($adcSum) / (p.qn * n.nrm) AS approx_cos
       |  FROM lut l JOIN p ON p.qid = l.qid
       |  CROSS JOIN codes c JOIN nr n ON n.vec_id = c.vec_id
       |  WHERE c.vec_id <> l.qid
       |  QUALIFY row_number() OVER (PARTITION BY l.qid
       |    ORDER BY approx_cos DESC, nid) <= 20),
       |rer AS (
       |  SELECT s.qid, s.nid,
       |    list_inner_product(p.q, v.e)
       |      / (p.qn * sqrt(list_inner_product(v.e, v.e))) AS cosine,
       |    s.approx_cos
       |  FROM short s JOIN p ON p.qid = s.qid JOIN v ON v.vec_id = s.nid)
       |SELECT qid, nid, round(cosine, 6) AS cosine,
       |  round(approx_cos, 6) AS approx_cos,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, nid) AS rank
       |FROM rer QUALIFY rank <= 5""".stripMargin
  }

  /** q_ann_recall oracle: one shared brute-force ranking + the
    * pinned-grid IVF chain PER nprobe (CTE names suffixed so the sweep
    * points coexist in one WITH), then micro recall = matched true
    * neighbors / available true neighbors. Both rankings are the
    * engine-stability-proven chains of q_cosine_topk / q_ivf_pinned;
    * the recall division is integer-valued on both engines, so the
    * round-6 snap is exact. */
  private def annRecallSql(cents: Array[Array[Double]], k: Int,
      nprobes: Seq[Int], probePred: String): String = {
    val values = cents.zipWithIndex.map { case (c, j) =>
      val cc = c.map(x => x * x).sum
      s"($j, [${c.mkString(", ")}], $cc)"
    }.mkString(",\n    ")
    val perNp = nprobes.map { np =>
      s"""pc_$np AS (
         |  SELECT qid, q, j AS cell FROM p CROSS JOIN c
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
         |    list_inner_product(q, cv)
         |      / (sqrt(list_inner_product(q, q))
         |         * sqrt(list_inner_product(cv, cv))) DESC, j) <= $np),
         |ranked_$np AS (
         |  SELECT pc.qid, a.vec_id AS nid,
         |    row_number() OVER (PARTITION BY pc.qid ORDER BY
         |      list_inner_product(pc.q, a.e)
         |        / (sqrt(list_inner_product(pc.q, pc.q))
         |           * sqrt(list_inner_product(a.e, a.e))) DESC,
         |      a.vec_id) AS rank
         |  FROM pc_$np pc JOIN assigned a ON a.cell = pc.cell
         |  WHERE a.vec_id <> pc.qid),
         |h_$np AS (
         |  SELECT count(*) AS h FROM ranked_$np a JOIN br b
         |  ON a.qid = b.qid AND a.nid = b.nid
         |  WHERE a.rank <= $k AND b.rank <= $k)""".stripMargin
    }.mkString(",\n")
    val finals = nprobes.map(np =>
      s"""SELECT 'ivf' AS family, $k AS k, $np AS nprobe,
         |  den.nq AS n_probes,
         |  round(CAST(h_$np.h AS DOUBLE) / den.d, 6) AS recall
         |FROM h_$np, den""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c(j, cv, cc) AS (
       |  SELECT * FROM (VALUES
       |    $values)),
       |assigned AS (
       |  SELECT vec_id, e, j AS cell FROM v CROSS JOIN c
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
       |    (list_inner_product(e, e) - 2 * list_inner_product(e, cv)) + cc,
       |    j) = 1),
       |p AS (SELECT vec_id AS qid, e AS q FROM v WHERE $probePred),
       |br AS (
       |  SELECT p.qid, v.vec_id AS nid,
       |    row_number() OVER (PARTITION BY p.qid ORDER BY
       |      list_inner_product(p.q, v.e)
       |        / (sqrt(list_inner_product(p.q, p.q))
       |           * sqrt(list_inner_product(v.e, v.e))) DESC,
       |      v.vec_id) AS rank
       |  FROM p, v WHERE v.vec_id <> p.qid),
       |den AS (SELECT count(*) AS d, count(DISTINCT qid) AS nq
       |  FROM br WHERE rank <= $k),
       |$perNp
       |$finals""".stripMargin
  }

  private val staticOracleSql: Map[String, String] = Map(
    "q_ann_recall" -> annRecallSql(IvfCosine.pinnedCentroids(16, DIM),
      k = 5, nprobes = Seq(2, 4), probePred = "vec_id % 17 = 0"),

    "q_ivf_pinned" -> ivfSearchSql(IvfCosine.pinnedCentroids(16, DIM),
      nprobe = 4, k = 5),

    // save → append → load is value-transparent, so the oracle is the
    // plain search over the full corpus — DYNAMIC grid (round 14):
    // the same md5 centroid derivation at nlist = max(16, ceil(N/125))
    "q_ivf_append" -> ivfSearchSqlDynamic(nprobe = 4, k = 5,
      probePred = "vec_id % 29 = 0"),

    // maintenance (diff -> append adds -> affected-cell rewrite for
    // changes/deletes -> load -> serve) is value-transparent: the
    // oracle is the plain dynamic-grid search over TODAY'S corpus —
    // % 13 retired, % 11 re-embedded (halved), % 5 added (the grid
    // still derives from the FULL count — sized at index build time)
    "q_index_maint" -> ivfSearchSqlDynamic(nprobe = 4, k = 5,
      probePred = "vec_id % 29 = 0",
      vBody = "SELECT vec_id, CASE WHEN vec_id % 11 = 0 THEN " +
        "list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5) " +
        "ELSE CAST(embedding AS DOUBLE[]) END AS e FROM embeddings " +
        "WHERE vec_id % 13 <> 0"),

    "q_umap_analog" -> umapAnalogSql(k = 5, Seq(17L, 131L, 313L),
      iters = 3, lr = 0.05, gamma = 1.0, eps = 1e-3),

    // the IVF edge build spliced in as the knn CTE: nprobe=4 of a
    // CORPUS-SCALED grid — nlist = max(16, ceil(count/125)) derived in
    // SQL, the md5 grid enumerated dynamically (ivfCtesDynamic), so the
    // oracle follows the bounded-cell configuration at any data size
    "q_umap_ivf" -> umapAnalogSql(k = 5, Seq(17L, 131L, 313L),
      iters = 3, lr = 0.05, gamma = 1.0, eps = 1e-3,
      knnCte = Some(
        s"""${ivfCtesDynamic(nprobe = 4, probePred = "true")},
           |knn AS (SELECT qid AS src, nid AS dst, true AS attract
           |  FROM ranked WHERE rank <= 5)""".stripMargin)),
    "q_mmr" -> {
      // λ and 1−λ embedded from the SAME Scala doubles the Spark side
      // uses (1.0 − 0.7 ≠ decimal 0.3 at the last ulp)
      val lam = 0.7
      val oml = 1.0 - lam
      s"""WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT vec_id AS qid, e AS q FROM v WHERE vec_id < 30),
        |sims AS (
        |  SELECT p.qid, v.vec_id AS nid,
        |    list_inner_product(p.q, v.e)
        |      / (sqrt(list_inner_product(p.q, p.q))
        |         * sqrt(list_inner_product(v.e, v.e))) AS cosine
        |  FROM p, v WHERE v.vec_id <> p.qid),
        |short AS (
        |  SELECT qid, nid, round(cosine, 6) AS rel, rank FROM (
        |    SELECT qid, nid, cosine, row_number() OVER (PARTITION BY qid
        |      ORDER BY cosine DESC, nid) AS rank FROM sims)
        |  WHERE rank <= 8),
        |sv AS (
        |  SELECT s.qid, s.nid, s.rel, s.rank, v.e,
        |    sqrt(list_inner_product(v.e, v.e)) AS n
        |  FROM short s JOIN v ON v.vec_id = s.nid),
        |pairs AS (
        |  SELECT a.qid, a.rank AS a_rank, b.rank AS b_rank,
        |    round(list_inner_product(a.e, b.e) / (a.n * b.n), 6) AS sim
        |  FROM sv a JOIN sv b ON a.qid = b.qid AND a.rank <> b.rank),
        |sel1 AS (SELECT qid, 1 AS step, nid, rel, rel AS mmr, rank
        |  FROM sv WHERE rank = 1),
        |sc2 AS (
        |  SELECT c.qid, c.nid, c.rel, c.rank,
        |    round($lam * c.rel - $oml * max(p.sim), 6) AS mmr
        |  FROM sv c JOIN pairs p ON p.qid = c.qid AND p.a_rank = c.rank
        |    AND p.b_rank = 1
        |  WHERE c.rank <> 1 GROUP BY c.qid, c.nid, c.rel, c.rank),
        |sel2 AS (SELECT qid, 2 AS step, nid, rel, mmr, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY mmr DESC, nid) AS rn FROM sc2) WHERE rn = 1),
        |sc3 AS (
        |  SELECT c.qid, c.nid, c.rel, c.rank,
        |    round($lam * c.rel - $oml * max(p.sim), 6) AS mmr
        |  FROM sv c
        |  JOIN pairs p ON p.qid = c.qid AND p.a_rank = c.rank
        |  JOIN (SELECT qid, rank FROM sel1
        |        UNION ALL SELECT qid, rank FROM sel2) s
        |    ON s.qid = c.qid AND p.b_rank = s.rank
        |  WHERE NOT EXISTS (SELECT 1 FROM sel1 e
        |      WHERE e.qid = c.qid AND e.rank = c.rank)
        |    AND NOT EXISTS (SELECT 1 FROM sel2 e
        |      WHERE e.qid = c.qid AND e.rank = c.rank)
        |  GROUP BY c.qid, c.nid, c.rel, c.rank),
        |sel3 AS (SELECT qid, 3 AS step, nid, rel, mmr, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY mmr DESC, nid) AS rn FROM sc3) WHERE rn = 1)
        |SELECT qid, step, nid, rel, mmr FROM sel1
        |UNION ALL SELECT qid, step, nid, rel, mmr FROM sel2
        |UNION ALL SELECT qid, step, nid, rel, mmr FROM sel3""".stripMargin
    },

    "q_cosine_topk" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT vec_id AS qid, e AS q FROM v WHERE vec_id < 50),
        |sims AS (
        |  SELECT p.qid, v.vec_id AS nid,
        |    list_inner_product(p.q, v.e)
        |      / (sqrt(list_inner_product(p.q, p.q))
        |         * sqrt(list_inner_product(v.e, v.e))) AS cosine
        |  FROM p, v WHERE v.vec_id <> p.qid),
        |ranked AS (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cosine DESC, nid) AS rank
        |  FROM sims)
        |SELECT qid, nid, round(cosine, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 5""".stripMargin,

    // round BEFORE the band filter and the rank (the operator's
    // FastRound-before-compare convention), ties by ascending nid
    "q_hard_negatives" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
        |  FROM embeddings),
        |p AS (SELECT vec_id AS qid, e AS q, label AS ql
        |  FROM v WHERE vec_id < 40),
        |sims AS (
        |  SELECT p.qid, p.ql, v.vec_id AS nid, v.label AS nlabel,
        |    round(list_inner_product(p.q, v.e)
        |      / (sqrt(list_inner_product(p.q, p.q))
        |         * sqrt(list_inner_product(v.e, v.e))), 6) AS cosine
        |  FROM p, v WHERE v.vec_id <> p.qid),
        |ranked AS (
        |  SELECT qid, nid, nlabel, cosine,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cosine DESC, nid) AS rank
        |  FROM sims WHERE nlabel <> ql AND cosine <= 0.40)
        |SELECT qid, nid, nlabel, cosine, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // the chained oracle: decontam max-cosine screen -> surviving
    // corpus -> label-filtered banded top-k mining, one CTE chain
    "q_contrastive_pipeline" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
        |  FROM embeddings),
        |ev AS (SELECT vec_id AS qid, e AS q FROM v WHERE vec_id % 23 = 1),
        |co AS (SELECT * FROM v WHERE vec_id % 23 <> 1),
        |contaminated AS (
        |  SELECT co.vec_id FROM co, ev
        |  GROUP BY co.vec_id
        |  HAVING max(round(list_inner_product(ev.q, co.e)
        |      / (sqrt(list_inner_product(ev.q, ev.q))
        |         * sqrt(list_inner_product(co.e, co.e))), 6)) >= 0.35),
        |clean AS (
        |  SELECT * FROM co
        |  WHERE vec_id NOT IN (SELECT vec_id FROM contaminated)),
        |p AS (SELECT vec_id AS qid, e AS q, label AS ql
        |  FROM clean WHERE vec_id < 40),
        |sims AS (
        |  SELECT p.qid, p.ql, c.vec_id AS nid, c.label AS nlabel,
        |    round(list_inner_product(p.q, c.e)
        |      / (sqrt(list_inner_product(p.q, p.q))
        |         * sqrt(list_inner_product(c.e, c.e))), 6) AS cosine
        |  FROM p, clean c WHERE c.vec_id <> p.qid),
        |ranked AS (
        |  SELECT qid, nid, nlabel, cosine,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY cosine DESC, nid) AS rank
        |  FROM sims WHERE nlabel <> ql AND cosine <= 0.40)
        |SELECT qid, nid, nlabel, cosine, rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    // the chained IVF oracle: decontam screen -> cleaned corpus AS the
    // ivf CTE chain's `v` -> depth-12 shortlist under the pinned
    // quantizer (raw-cosine rank, the search contract) -> label join,
    // round-6 snap, band filter, re-rank <= 3 (the fromScored contract)
    "q_contrastive_ivf" ->
      s"""WITH raw AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
         |  FROM embeddings),
         |ev AS (SELECT vec_id AS qid, e AS q FROM raw
         |  WHERE vec_id % 23 = 1),
         |co AS (SELECT * FROM raw WHERE vec_id % 23 <> 1),
         |contaminated AS (
         |  SELECT co.vec_id FROM co, ev
         |  GROUP BY co.vec_id
         |  HAVING max(round(list_inner_product(ev.q, co.e)
         |      / (sqrt(list_inner_product(ev.q, ev.q))
         |         * sqrt(list_inner_product(co.e, co.e))), 6)) >= 0.35),
         |v AS (
         |  SELECT * FROM co
         |  WHERE vec_id NOT IN (SELECT vec_id FROM contaminated)),
         |${ivfCtes(IvfCosine.pinnedCentroids(16, DIM), nprobe = 4,
              probePred = "vec_id < 40")},
         |short AS (SELECT qid, nid, cosine FROM ranked WHERE rank <= 12),
         |lab AS (
         |  SELECT s.qid, p.label AS ql, s.nid, n.label AS nlabel,
         |    round(s.cosine, 6) AS cosine
         |  FROM short s
         |  JOIN v p ON p.vec_id = s.qid
         |  JOIN v n ON n.vec_id = s.nid),
         |final AS (
         |  SELECT qid, nid, nlabel, cosine,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, nid) AS rank
         |  FROM lab WHERE nlabel <> ql AND cosine <= 0.40)
         |SELECT qid, nid, nlabel, cosine, rank
         |FROM final WHERE rank <= 3""".stripMargin,

    // the chained RAG oracle: q_chunk's token-slice CTE, q_hash_embed's
    // md5 bucket+sign dims built into ONE list per chunk, the zero-norm
    // screen, then the ivfCtes search chain over the chunk corpus
    "q_rag_pipeline" -> {
      val b = "(" + Dedup.md5ChunkSql("md5(t)", 1, 13) + ") % 16"
      val s14 = "((" + Dedup.md5ChunkSql("md5(t)", 14, 1) + ") % 2) * 2 - 1"
      val dims = (0 until 16).map(d =>
        s"coalesce(list_sum(list_transform(tk, t -> CASE WHEN $b = $d " +
          s"THEN CAST($s14 AS DOUBLE) ELSE 0.0 END)), 0.0)")
        .mkString(",\n         |    ").stripMargin
      s"""WITH w AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+')
         |    AS l FROM documents),
         |ck AS (SELECT doc_id, l, unnest(range(0,
         |  CASE WHEN len(l) > 0
         |    THEN CAST(floor((len(l) - 1) / 24) AS BIGINT) + 1
         |    ELSE 0 END)) AS k FROM w),
         |tks AS (SELECT doc_id, k, l[(k * 24 + 1):(k * 24 + 32)] AS tk
         |  FROM ck),
         |hv AS (SELECT doc_id, k, [
         |    $dims] AS e FROM tks),
         |v AS (SELECT doc_id * 1000000 + k AS vec_id, doc_id, e FROM hv
         |  WHERE list_inner_product(e, e) > 0),
         |${ivfCtes(IvfCosine.pinnedCentroids(8, 16), nprobe = 3,
              probePred = "doc_id % 97 = 0 AND doc_id < 500")}
         |SELECT qid, nid, round(cosine, 6) AS cosine, rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    },

    "q_sem_decontam" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |ev AS (SELECT vec_id AS qid, e AS q FROM v WHERE vec_id % 23 = 1),
        |co AS (SELECT vec_id, e FROM v WHERE vec_id % 23 <> 1),
        |sims AS (
        |  SELECT co.vec_id, ev.qid,
        |    round(list_inner_product(ev.q, co.e)
        |      / (sqrt(list_inner_product(ev.q, ev.q))
        |         * sqrt(list_inner_product(co.e, co.e))), 6) AS c
        |  FROM co, ev),
        |best AS (
        |  SELECT vec_id, qid, c,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY c DESC, qid) AS rn
        |  FROM sims)
        |SELECT vec_id, qid AS eval_id, c AS max_eval_cos,
        |  c >= 0.35 AS contaminated
        |FROM best WHERE rn = 1""".stripMargin,

    "q_ivfpq_topk" -> ivfPqSql(probePred = "vec_id < 50"),

    // save -> append -> load is value-transparent (the quantizer
    // parameters round-trip bit-exactly and the appended codes equal a
    // union rebuild), so the oracle is the plain pinned-grid IVF-PQ
    // search over the full corpus
    "q_ivfpq_append" -> ivfPqSql(probePred = "vec_id % 29 = 0"),

    "q_pq_topk" -> pqSql(
      PqCosine.pinnedCodebooks(m = 8, subDim = 8, k = 16)),

    "q_sq8_topk" ->
      // encode mirror: abs/max/÷/round are single non-accumulating ops
      // (engine-exact); ADC = scale · list_inner_product over the
      // double-cast codes ≡ the Spark VecDot on cast codes
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale,
        |    sqrt(list_inner_product(e, e)) AS nrm,
        |    CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0 THEN
        |      list_transform(e, x -> CAST(round(
        |        x / (list_max(list_transform(e, y -> abs(y))) / 127.0))
        |        AS DOUBLE))
        |      ELSE list_transform(e, x -> 0.0) END AS c
        |  FROM v),
        |p AS (SELECT vec_id AS qid, e AS q,
        |      sqrt(list_inner_product(e, e)) AS qn FROM v WHERE vec_id < 50),
        |short AS (
        |  SELECT p.qid, c.vec_id AS nid,
        |    (c.scale * list_inner_product(p.q, c.c)) / (p.qn * c.nrm)
        |      AS approx_cos
        |  FROM p CROSS JOIN codes c WHERE c.vec_id <> p.qid
        |  QUALIFY row_number() OVER (PARTITION BY p.qid
        |    ORDER BY approx_cos DESC, nid) <= 20),
        |rer AS (
        |  SELECT s.qid, s.nid,
        |    list_inner_product(p.q, v.e)
        |      / (p.qn * sqrt(list_inner_product(v.e, v.e))) AS cosine,
        |    s.approx_cos
        |  FROM short s JOIN p ON p.qid = s.qid JOIN v ON v.vec_id = s.nid)
        |SELECT qid, nid, round(cosine, 6) AS cosine,
        |  round(approx_cos, 6) AS approx_cos,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, nid) AS rank
        |FROM rer QUALIFY rank <= 5""".stripMargin,

    "q_semdedup" -> {
      val cents = IvfCosine.pinnedCentroids(16, DIM)
      val values = cents.zipWithIndex.map { case (c, j) =>
        val cc = c.map(x => x * x).sum
        s"($j, [${c.mkString(", ")}], $cc)"
      }.mkString(",\n    ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |c(j, cv, cc) AS (
         |  SELECT * FROM (VALUES
         |    $values)),
         |assigned AS (
         |  SELECT vec_id, e, j AS cell, cv FROM v CROSS JOIN c
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
         |    (list_inner_product(e, e) - 2 * list_inner_product(e, cv)) + cc,
         |    j) = 1),
         |pr AS (
         |  SELECT vec_id, e, cell, sqrt(list_inner_product(e, e)) AS nrm,
         |    list_inner_product(e, cv)
         |      / (sqrt(list_inner_product(e, e))
         |         * sqrt(list_inner_product(cv, cv))) AS csim
         |  FROM assigned),
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM pr a JOIN pr b ON a.cell = b.cell
         |  WHERE (a.csim < b.csim
         |         OR (a.csim = b.csim AND a.vec_id < b.vec_id))
         |    AND list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= $thr)
         |SELECT p.vec_id, p.cell, round(p.csim, 6) AS centroid_sim,
         |  (d.vec_id IS NULL) AS keep
         |FROM pr p LEFT JOIN dups d ON p.vec_id = d.vec_id""".stripMargin
    },

    "q_jl_project" -> {
      val coords = (0 until 16).map(r =>
        s"round(${RandomProjection.projectSql("e", 16, DIM, r)}, 6) AS d$r")
        .mkString(",\n  ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |SELECT vec_id,
         |  $coords
         |FROM v""".stripMargin
    },

    "q_embed_neardup" -> {
      val keys = (0 until bands).map(b =>
        Dedup.srpBandKeySql("e", DIM, b, planes)).mkString(",\n    ")
      s"""WITH v AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings),
         |n AS (SELECT id, e, sqrt(${Similarity.dotExprSql("e", "e", DIM)}) AS nrm FROM v),
         |k AS (
         |  SELECT id, e, nrm, unnest([
         |    $keys
         |  ]) AS bucket FROM n),
         |c AS (
         |  SELECT * FROM k
         |  QUALIFY count(*) OVER (PARTITION BY bucket) <= $cap),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    (${Similarity.dotExprSql("a.e", "b.e", DIM)}) / (a.nrm * b.nrm) AS cosine
         |  FROM c a JOIN c b ON a.bucket = b.bucket AND a.id < b.id)
         |SELECT DISTINCT id_a, id_b, round(cosine, 6) AS cosine
         |FROM pairs WHERE cosine >= $thr""".stripMargin
    },

    "q_kmeans" -> {
      // two unrolled Lloyd rounds: assignment argmin + elementwise mean,
      // empty cells keep the previous centroid (LEFT JOIN coalesce)
      val cents = IvfCosine.pinnedCentroids(8, DIM)
      val values = cents.zipWithIndex.map { case (c, j) =>
        s"($j, [${c.mkString(", ")}])"
      }.mkString(",\n    ")
      def assignCte(name: String, cSrc: String) =
        s"""$name AS (
           |  SELECT vec_id, e, j AS cell FROM v CROSS JOIN $cSrc
           |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
           |    (list_inner_product(e, e) - 2 * list_inner_product(e, cv))
           |      + list_inner_product(cv, cv), j) = 1)""".stripMargin
      def meanCte(m: String, n: String, a: String, cPrev: String,
          cNew: String) =
        s"""$m AS (
           |  SELECT cell, i, avg(e[i]) AS mu
           |  FROM $a, unnest(range(1, ${DIM + 1})) AS r(i)
           |  GROUP BY cell, i),
           |$n AS (SELECT cell AS j, list(mu ORDER BY i) AS cv
           |  FROM $m GROUP BY cell),
           |$cNew AS (SELECT $cPrev.j, coalesce($n.cv, $cPrev.cv) AS cv
           |  FROM $cPrev LEFT JOIN $n USING (j))""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |c0(j, cv) AS (SELECT * FROM (VALUES
         |    $values)),
         |${assignCte("a1", "c0")},
         |${meanCte("m1", "n1", "a1", "c0", "c1")},
         |${assignCte("a2", "c1")},
         |${meanCte("m2", "n2", "a2", "c1", "c2")},
         |${assignCte("a3", "c2")}
         |SELECT vec_id, cell FROM a3""".stripMargin
    },

    "q_proto_prune" -> {
      val cents = IvfCosine.pinnedCentroids(8, DIM)
      val values = cents.zipWithIndex.map { case (c, j) =>
        s"($j, [${c.mkString(", ")}])"
      }.mkString(",\n    ")
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |c0(j, cv) AS (SELECT * FROM (VALUES
         |    $values)),
         |a AS (
         |  SELECT vec_id, e, j AS cell, cv FROM v CROSS JOIN c0
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY
         |    (list_inner_product(e, e) - 2 * list_inner_product(e, cv))
         |      + list_inner_product(cv, cv), j) = 1),
         |s AS (
         |  SELECT vec_id, cell,
         |    round(list_inner_product(e, cv)
         |      / (sqrt(list_inner_product(e, e))
         |         * sqrt(list_inner_product(cv, cv))), 6) AS centroid_sim
         |  FROM a),
         |cut AS (SELECT cell, round(quantile_cont(centroid_sim, 0.5), 6)
         |    AS c FROM s GROUP BY cell)
         |SELECT vec_id, cell, centroid_sim, (centroid_sim <= c) AS keep
         |FROM s JOIN cut USING (cell)""".stripMargin
    }
  )
}
