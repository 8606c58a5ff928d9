package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Similarity

/** SemDeDup — semantic deduplication over an embedding column (Abbas et
  * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv:2303.09540 — public paper).
  *
  * The technique: cluster the embeddings with a coarse quantizer, then
  * WITHIN each cluster drop every vector whose cosine to a
  * higher-priority cluster-mate reaches `threshold`. Priority follows the
  * paper's keep rule — keep the examples with the LOWEST cosine to their
  * cluster centroid (they are the least redundant representatives);
  * ties break on id, so the result is fully deterministic.
  *
  * Spark shape: cell assignment is one codegen'd projection (the
  * `nearest_centroid` kernel of [[IvfCosine.assignByCentroids]], whose
  * plan holds the grid as one matrix node whatever nlist is), and the
  * only shuffle after it is the self-equi-join on the cell id — the
  * exchange is planned ONCE for both sides (exchange reuse on the
  * identical child). The quadratic pairwise work is bounded per cell —
  * exactly the paper's scaling argument: nlist grows with the corpus
  * so cells stay a few thousand rows regardless of total scale, and
  * `maxCellSize` hard-caps the pathological cell the same way the LSH
  * dedup operators cap hot buckets (dropped cells trade recall for a
  * runtime bound).
  *
  * Against a PINNED centroid grid (md5-derived, engine-reproducible) the
  * whole operator — assignment, priority, pairwise pruning — verifies
  * bit-for-bit against the DuckDB oracle; seeded k-means training of
  * the quantizer is covered by [[IvfCosine.buildIndex]]'s recall tests.
  *
  * North-star extension beyond the reference surface (SURVEY.md §7.6).
  */
object SemDedup {

  /** One row per input vector: (idCol, cell, centroid_sim, keep).
    * `keep = false` iff some same-cell vector with strictly higher
    * priority (lower centroid_sim, ties by lower id) has
    * cosine ≥ threshold to this one. */
  def dedup(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double,
      maxCellSize: Int = 10000): DataFrame = {
    val cents = typedlit(centroids)
    val cvec = element_at(cents, col("cell") + 1)
    // one projection: cell, self-norm, cosine-to-own-centroid (priority)
    val assigned = IvfCosine
      .assignByCentroids(corpus, idCol, vecCol, centroids).assigned
      .withColumn("__nrm", sqrt(Similarity.dot(col(vecCol), col(vecCol))))
      .withColumn("centroid_sim",
        Similarity.dot(col(vecCol), cvec)
          / (col("__nrm") * sqrt(Similarity.dot(cvec, cvec))))
    prune(assigned, idCol, vecCol, threshold, maxCellSize)
  }

  /** Pruning core over an assigned frame
    * (idCol, vecCol, cell, __nrm, centroid_sim). */
  private def prune(assigned: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxCellSize: Int): DataFrame = {
    // over-cap cells leave the PAIRING input only (their rows stay in
    // the output, all kept) — same broadcast anti-join cap as every LSH
    // band join
    val capped = graft.dedup.Dedup.capBuckets(assigned, Seq("cell"),
      maxCellSize)
    def side(suffix: String): DataFrame = capped.select(col("cell"),
      col(idCol).as(s"__id$suffix"), col(vecCol).as(s"__v$suffix"),
      col("__nrm").as(s"__n$suffix"),
      col("centroid_sim").as(s"__c$suffix"))
    val priorA: Column = col("__ca") < col("__cb") ||
      (col("__ca") === col("__cb") && col("__ida") < col("__idb"))
    val dups = side("a").join(side("b"), Seq("cell"))
      .where(priorA &&
        Similarity.dot(col("__va"), col("__vb"))
          / (col("__na") * col("__nb")) >= threshold)
      .select(col("__idb").as(idCol)).distinct()
    assigned
      .join(dups.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("centroid_sim"),
        col("__dup").isNull.as("keep"))
  }
}
