package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Similarity
import graft.functions.FastRound

/** Embedding-space decontamination of a training corpus against an
  * evaluation set: flag every corpus item whose max cosine similarity to
  * ANY eval item reaches `tau` — the semantic sibling of the n-gram
  * decontamination in [[graft.text.CorpusOps]] (which catches verbatim
  * leakage; this catches paraphrases and translations the n-gram screen
  * misses).
  *
  * Scale shape: eval sets are tiny next to a 100 TB corpus, so the eval
  * side BROADCASTS and the corpus is map-only through the scoring join —
  * the broadcast nested-loop fans each corpus row out to |eval|
  * candidates inside its partition, and the per-id struct-max collapses
  * them right back map-side (partial max before the one id-keyed
  * exchange, which then carries exactly one skinny row per corpus id).
  * Nothing here is quadratic in the corpus.
  *
  * Cosines are round-6 snapped before the threshold compare and the
  * argmax (FastRound convention); argmax ties break toward the smallest
  * eval id, so attribution is deterministic.
  *
  * No counterpart in the reference; LLM-data-pipeline extension
  * (SURVEY.md §7.6).
  */
object SemDecontam {

  /** Score every corpus row against the broadcast eval set.
    * @return (idCol, eval_id — the argmax eval item, max_eval_cos,
    *         contaminated = max_eval_cos ≥ tau) — one row per corpus id
    */
  def flag(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      vecCol: String, qidCol: String, qvecCol: String, tau: Double,
      dim: Int): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol),
      sqrt(Similarity.dotExpr(col(vecCol), col(vecCol), dim)).as("__cn"))
    val e = evalSet.select(col(qidCol).as("__qid"),
      col(qvecCol).as("__qvec"),
      sqrt(Similarity.dotExpr(col(qvecCol), col(qvecCol), dim))
        .as("__qn"))
    val cos = FastRound(
      Similarity.dotExpr(col("__qvec"), col(vecCol), dim)
        / (col("__qn") * col("__cn")), 6)
    c.crossJoin(broadcast(e))
      .groupBy(col(idCol))
      // lexicographic struct max: highest cosine, then (via the negated
      // id) the SMALLEST eval id among ties
      .agg(max(struct(cos.as("c"), (-col("__qid")).as("nq"),
        col("__qid").as("q"))).as("__best"))
      .select(col(idCol), col("__best.q").as("eval_id"),
        col("__best.c").as("max_eval_cos"),
        (col("__best.c") >= lit(tau)).as("contaminated"))
  }

  /** The pipeline stage: corpus rows that SURVIVE decontamination.
    * Delegates to [[screen]] — "exists an eval neighbor at ≥ tau" and
    * "max eval cosine ≥ tau" keep identical survivors, and the
    * stateless anti-θ-join form does it with zero aggregation and zero
    * exchange where flag-then-anti-join would pay the corpus-wide
    * struct-max shuffle just to discard the attribution it computed.
    * Use [[flag]] when the max/argmax attribution itself is wanted. */
  def clean(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      vecCol: String, qidCol: String, qvecCol: String, tau: Double,
      dim: Int): DataFrame =
    screen(corpus, evalSet, idCol, vecCol, qidCol, qvecCol, tau, dim)

  /** STATELESS screening form — survivors only, no max/argmax
    * attribution: one LEFT ANTI θ-join against the broadcast eval set
    * (`round6(cosine) ≥ tau` as the join condition). No aggregation and
    * no state means it runs UNCHANGED over a streaming delta frame —
    * the ingest-time companion of [[clean]] for the daily CDC batch
    * (the [[graft.streaming.IngestDedup]] role for semantic leakage);
    * SemDecontamStreamSpec pins stream ≡ batch ≡ clean() and zero
    * streaming state rows. Work per row is |eval| dot products, same
    * as [[flag]]. */
  def screen(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      vecCol: String, qidCol: String, qvecCol: String, tau: Double,
      dim: Int): DataFrame = {
    val e = evalSet.select(col(qvecCol).as("__qvec"),
      sqrt(Similarity.dotExpr(col(qvecCol), col(qvecCol), dim))
        .as("__qn"))
    val withNorm = corpus.withColumn("__cn",
      sqrt(Similarity.dotExpr(col(vecCol), col(vecCol), dim)))
    val hit = FastRound(
      Similarity.dotExpr(col("__qvec"), col(vecCol), dim)
        / (col("__qn") * col("__cn")), 6) >= lit(tau)
    withNorm.join(broadcast(e), hit, "left_anti").drop("__cn")
  }
}
