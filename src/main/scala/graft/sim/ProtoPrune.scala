package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Similarity

/** Prototypicality-based semantic pruning (Sorscher et al. 2022,
  * "Beyond neural scaling laws", arXiv:2206.14486): cluster the
  * embedding space, score every example by its cosine to its cluster
  * centroid, and DROP the most prototypical (highest-sim) fraction per
  * cluster — prototypical examples are the ones large datasets can
  * spare, and pruning them per-cluster keeps coverage of the space.
  * The keep-hard-examples complement of [[SemDedup]]'s near-duplicate
  * cut; both assign cells with the same `nearest_centroid` kernel.
  *
  * Plan shape: a map-side assignment ([[IvfCosine.assignByCentroidsDf]]
  * — the kernel over the collected centroid frame, the winning
  * centroid re-attached by a broadcast join), a scan-speed
  * centroid-cosine projection, then per-CELL exact-percentile cuts —
  * an nlist-row aggregate broadcast back (the
  * [[graft.text.LmBuckets]] cut shape, never a per-cell sort or
  * window). Sims and cuts are rounded to 6 decimals before the
  * boundary compare so the keep set is engine-stable; at 100 TB swap
  * the cut aggregate for `approx_percentile` exactly as LmBuckets
  * documents. The scored frame is persisted once for the two passes.
  *
  * Centroids come as a (cell, cvec) frame — pinned grids for the
  * oracle, [[KMeans.lloyd]] output in production.
  *
  * No reference analog; greenfield SURVEY.md §7.6 scope.
  */
object ProtoPrune {

  private val liveCaches =
    graft.operators.GraftTransformer.newCacheQueue()

  /** (idCol, cell, centroid_sim, keep): keep = the `keepFrac` LEAST
    * prototypical rows of each cell (sim at or below the cell's
    * keepFrac quantile; boundary ties keep). `approxCuts` swaps the
    * exact per-cell percentile for the mergeable `approx_percentile`
    * sketch (map-side partials, no per-cell value buffer) — the 100 TB
    * form; exact by default so the keep set oracles bit-for-bit. */
  def prune(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, keepFrac: Double,
      approxCuts: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(keepFrac > 0 && keepFrac < 1, s"keepFrac out of (0,1): $keepFrac")
    liveCaches.release()
    val assigned = IvfCosine.assignByCentroidsDf(
      vecs, idCol, vecCol, centroids)
    val scored = liveCaches.keep(assigned
      .select(col(idCol), col("cell"),
        graft.functions.FastRound(
          Similarity.dot(col(vecCol), col("__cvec")) /
            (sqrt(Similarity.dot(col(vecCol), col(vecCol))) *
              sqrt(Similarity.dot(col("__cvec"), col("__cvec")))), 6)
          .as("centroid_sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val qAgg =
      if (approxCuts)
        expr(s"approx_percentile(centroid_sim, $keepFrac, $accuracy)")
      else element_at(graft.functions.ExactPercentiles(
        col("centroid_sim"), Seq(keepFrac)), 1)
    val cuts = scored.groupBy(col("cell"))
      .agg(qAgg.as("__q"))
      .select(col("cell"),
        graft.functions.FastRound(col("__q"), 6).as("__cut"))
    scored.join(broadcast(cuts), Seq("cell"))
      .select(col(idCol), col("cell"), col("centroid_sim"),
        (col("centroid_sim") <= col("__cut")).as("keep"))
  }
}
