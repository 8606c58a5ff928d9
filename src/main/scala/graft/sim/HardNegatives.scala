package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Similarity
import graft.functions.FastRound

/** Hard-negative mining for contrastive training data (the DPR recipe,
  * Karpukhin et al. 2020: the strongest negatives are the most-similar
  * items that are NOT positives): for each anchor, the top-`k` corpus
  * items by cosine with a DIFFERENT label, excluding the near-duplicate
  * band `cosine > maxCos` — candidates that similar are overwhelmingly
  * unlabeled positives / duplicates of the anchor, and training on them
  * as negatives poisons the objective (the standard false-negative
  * guard).
  *
  * Scale shape: label-mismatch and band filters run BEFORE the
  * per-anchor top-k, map-side on the scored-pair frame, so the rank
  * window only ever sees pre-filtered candidates. The brute entry point
  * broadcasts the (small) anchor side — the corpus never shuffles; at
  * probe counts past broadcast range, build the shortlist with
  * [[IvfCosine]]/[[IvfPq]] (same (qid, nid, cosine) contract, labels
  * carried through) and call [[fromScored]] — HardNegativesSpec pins
  * full-probe-IVF ≡ brute equality.
  *
  * Cosines are round-6 snapped (FastRound convention) before the band
  * filter and the ordering, so band and rank boundaries cannot flip
  * across engines; ties break by ascending nid.
  *
  * No counterpart in the reference (its training surface consumes
  * caller-built frames); LLM-data-pipeline extension (SURVEY.md §7.6).
  */
object HardNegatives {

  /** Brute-force path: score corpus × anchors (anchor side broadcast),
    * then mine. Anchors carry (qid, qvec, qlabel); corpus (id, vec,
    * label). Output: (qid, qlabel, nid, nlabel, cosine, rank ∈ 1..k). */
  def mine(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, qidCol: String, qvecCol: String,
      qlabelCol: String, k: Int, dim: Int,
      maxCos: Double = 0.995): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol), col(labelCol),
      sqrt(Similarity.dotExpr(col(vecCol), col(vecCol), dim)).as("__cn"))
    val p = anchors.select(col(qidCol), col(qvecCol), col(qlabelCol),
      sqrt(Similarity.dotExpr(col(qvecCol), col(qvecCol), dim)).as("__qn"))
    val scored = c.crossJoin(broadcast(p))
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol).as("qid"), col(qlabelCol).as("qlabel"),
        col(idCol).as("nid"), col(labelCol).as("nlabel"),
        FastRound(Similarity.dotExpr(col(qvecCol), col(vecCol), dim)
          / (col("__qn") * col("__cn")), 6).as("cosine"))
    fromScored(scored, k, maxCos)
  }

  /** Seam overload: scored candidates arrive as a prebuilt
    * (qid, qlabel, nid, nlabel, cosine) frame from any producer (brute,
    * IVF shortlist joined with labels, …). Filters first, ranks second. */
  def fromScored(scored: DataFrame, k: Int, maxCos: Double): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    CosineTopK.topK(scored.where(col("nlabel") =!= col("qlabel") &&
      col("cosine") <= lit(maxCos)), k)
  }
}
