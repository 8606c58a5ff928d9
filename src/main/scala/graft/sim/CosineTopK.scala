package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Similarity

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `bruteForce` is the exactness baseline: probe set × corpus via a
  * BROADCAST of the (small) probe side — the corpus never shuffles, the
  * dot products run map-side in one codegen stage, and the per-probe top-k
  * is a window over the probe key. Self-norms are projected ONCE per side
  * (never recomputed per pair), and the fixed-dimension dot expands to an
  * explicit codegen'd multiply-add chain. At 1000 executors this scales
  * linearly in corpus size as long as the probe set stays broadcastable;
  * for corpus×corpus workloads use [[graft.dedup.Dedup.embeddingNearDups]]
  * (multi-band sign-random-projection LSH) as the scale path.
  */
object CosineTopK {

  /** Exact top-k cosine neighbors for each probe row.
    * @param probes (qid, qvec) — must be broadcastable
    * @param corpus (id, vec)
    * @param dim    embedding dimensionality (fixed per table)
    */
  def bruteForce(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, qidCol: String, qvecCol: String, k: Int,
      dim: Int): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol),
      sqrt(Similarity.dotExpr(col(vecCol), col(vecCol), dim)).as("__cn"))
    val p = probes.select(col(qidCol), col(qvecCol),
      sqrt(Similarity.dotExpr(col(qvecCol), col(qvecCol), dim)).as("__qn"))
    topK(c.crossJoin(broadcast(p))
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol).as("qid"), col(idCol).as("nid"),
        (Similarity.dotExpr(col(qvecCol), col(vecCol), dim)
          / (col("__qn") * col("__cn"))).as("cosine")), k)
  }

  /** The per-probe top-k step every search ends in: over a scored
    * (qid, nid, cosine, …) frame, `rank` = row_number per qid by
    * (cosine desc, nid), kept while `rank <= k`. */
  private[sim] def topK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cosine").desc, col("nid"))))
      .where(col("rank") <= k)

  /** The shortlist + exact re-rank tail of the quantized searches (PQ,
    * SQ8, IVF-PQ): over the scored candidates (qidCol, qvecCol, __qn,
    * idCol, approx_cos), keep the `shortlist` best per probe by
    * (approx_cos desc, id), join the raw corpus vectors for only those
    * rows, and rank them by exact cosine to the top `k`. Each caller
    * keeps its own `approx_cos` expression. Output: (qid, nid, cosine,
    * approx_cos, rank). */
  private[sim] def rerank(scored: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, shortlist: Int): DataFrame = {
    val short = scored
      .withColumn("__arank", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("approx_cos").desc, col(idCol))))
      .where(col("__arank") <= shortlist)
    topK(short
      .join(corpus.select(col(idCol), col(vecCol),
        sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("__cn")),
        Seq(idCol))
      .select(col(qidCol).as("qid"), col(idCol).as("nid"),
        (Similarity.dot(col(qvecCol), col(vecCol))
          / (col("__qn") * col("__cn"))).as("cosine"),
        col("approx_cos")), k)
  }
}
