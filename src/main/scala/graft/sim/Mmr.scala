package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Similarity
import graft.functions.FastRound

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
  * from each probe's top-`shortN` relevance shortlist, greedily pick `k`
  * results maximizing `λ·relevance − (1−λ)·max-similarity-to-already-
  * selected` — the diversified retrieval head over any ANN path
  * ([[CosineTopK]] here; [[IvfCosine]]/[[IvfPq]] produce the same
  * (qid, nid, rank) shortlist contract at scale).
  *
  * The greedy loop is UNROLLED RELATIONALLY — k−1 rounds of
  * (anti-join survivors) → (max-sim-to-selected via the precomputed
  * candidate-pair frame) → (per-probe argmax window) — so there is no
  * per-row iterative state, every round is a bounded join (pair frame =
  * probes × shortN², shortlist-bounded, never corpus-sized), and the
  * whole selection mirrors into plain SQL CTEs for the oracle. Scores
  * and similarities are round-6 snapped before every argmax (the repo's
  * FastRound-before-compare convention) so rank boundaries cannot flip
  * across engines.
  *
  * No counterpart in the reference (its retrieval surface is embedding
  * calls only); LLM-data-pipeline extension (SURVEY.md §7.6).
  */
object Mmr {

  /** MMR-diversified top-`k` per probe, over a brute-force shortlist.
    * At scale, build the shortlist with [[IvfCosine]]/[[IvfPq]] and call
    * the shortlist-frame overload instead.
    * @return (qid, step ∈ 1..k, nid, rel, mmr) — `mmr` is the greedy
    *         objective at selection time (= `rel` for step 1).
    */
  def rerank(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, qidCol: String, qvecCol: String, shortN: Int,
      k: Int, lambda: Double, dim: Int): DataFrame = {
    require(k >= 1 && k <= shortN, s"k=$k must be in [1, shortN=$shortN]")
    rerank(CosineTopK.bruteForce(corpus, probes, idCol, vecCol,
      qidCol, qvecCol, shortN, dim), corpus, idCol, vecCol,
      k, lambda, dim)
  }

  /** Seam overload: the relevance shortlist arrives as a prebuilt
    * (qid, nid, cosine, rank) frame — the shared contract of
    * [[CosineTopK.bruteForce]], [[IvfCosine.search]], and
    * [[IvfPq.searchDf]] — so the diversification head composes with any
    * ANN producer without forcing the whole-corpus-broadcast brute
    * build. MmrSpec pins full-probe-IVF-shortlist ≡ brute-shortlist
    * rerank equality.
    *
    * Depth contract: unlike the brute entry point (which knows shortN
    * and REQUIRES k ≤ shortN), a prebuilt shortlist's depth is not
    * observable without an extra aggregate, so selection is
    * BEST-EFFORT — a probe whose shortlist holds fewer than k
    * candidates yields fewer than k steps (its rounds simply find no
    * survivors), never an error. Callers needing exactly k rows per
    * probe must build shortlists at least k deep. */
  def rerank(shortlist: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double, dim: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val short = shortlist
      .select(col("qid"), col("nid"),
        FastRound(col("cosine"), 6).as("rel"), col("rank"))
    // re-attach vectors once; probes × shortN rows — checkpoint so the
    // k−1 greedy rounds don't re-run the corpus scan
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("__v"),
      sqrt(Similarity.dotExpr(col(vecCol), col(vecCol), dim)).as("__n"))
    // the shortlist is the probes × shortN BOUNDED side; the corpus is
    // not — broadcast the shortlist so the vector re-attach never
    // shuffles the corpus by nid
    val shortV = broadcast(short).join(c, "nid")
      .select(col("qid"), col("nid"), col("rel"), col("rank"),
        col("__v"), col("__n"))
      .localCheckpoint()
    // candidate-pair similarities within each probe's shortlist
    // (probes × shortN² rows, shortlist-bounded)
    val a = shortV.select(col("qid"), col("nid").as("a_nid"),
      col("rank").as("a_rank"), col("__v").as("av"), col("__n").as("an"))
    val b = shortV.select(col("qid"), col("nid").as("b_nid"),
      col("rank").as("b_rank"), col("__v").as("bv"), col("__n").as("bn"))
    val pairs = a.join(b, "qid")
      .where(col("a_rank") =!= col("b_rank"))
      .select(col("qid"), col("a_rank"), col("b_rank"),
        FastRound(Similarity.dotExpr(col("av"), col("bv"), dim)
          / (col("an") * col("bn")), 6).as("sim"))
      .localCheckpoint()

    val cands = shortV.select("qid", "nid", "rel", "rank")
    var selected = cands.where(col("rank") === 1)
      .select(col("qid"), lit(1).as("step"), col("nid"), col("rel"),
        col("rel").as("mmr"), col("rank"))
    for (step <- 2 to k) {
      // every frame in a round is probes × shortN bounded, so the
      // bounded×bounded round joins keep the planner's choice (explicit
      // broadcasts were tried and REVERTED: each tiny-frame broadcast
      // adds a driver build round-trip that costs more than the
      // AQE-handled few-hundred-row shuffle it replaces)
      val selRanks = selected.select(col("qid"), col("rank").as("b_rank"))
      val survivors = cands.join(selRanks.select(col("qid"),
        col("b_rank").as("rank")), Seq("qid", "rank"), "left_anti")
      val maxSim = pairs.join(selRanks, Seq("qid", "b_rank"))
        .groupBy(col("qid"), col("a_rank"))
        .agg(max(col("sim")).as("max_sim"))
        .withColumnRenamed("a_rank", "rank")
      val scored = survivors.join(maxSim, Seq("qid", "rank"))
        .withColumn("mmr", FastRound(lit(lambda) * col("rel")
          - lit(1.0 - lambda) * col("max_sim"), 6))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("mmr").desc, col("nid"))
      selected = selected.unionByName(
        scored.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .select(col("qid"), lit(step).as("step"), col("nid"),
            col("rel"), col("mmr"), col("rank")))
      // bound the unionByName lineage at large k: selected is ≤
      // probes × step rows, so a periodic materialization is cheap
      if (step % 4 == 0 && step < k) selected = selected.localCheckpoint()
    }
    selected.drop("rank")
  }
}
