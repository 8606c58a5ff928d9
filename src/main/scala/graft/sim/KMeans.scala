package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed fixed-iteration Lloyd's k-means over an embedding
  * column — the FULL-CORPUS trainer for the coarse quantizers the ANN /
  * SemDeDup family consumes ([[IvfCosine]], [[IvfPq]], [[SemDedup]]).
  *
  * [[IvfCosine.buildIndex]] deliberately trains on a bounded
  * driver-side sample (centroid quality saturates long before 100k
  * rows); this operator is the complementary path for when the trainer
  * must see the whole corpus — k proportional to corpus size (the
  * SemDeDup regime, nlist ~ 50k at paper scale), or per-cluster
  * statistics that a sample cannot estimate. Centroids travel between
  * rounds as a (cell, cvec) frame.
  *
  * Per iteration, TWO relational steps:
  *   1. assignment — [[IvfCosine.assignByCentroidsDf]]: the nlist-row
  *      centroid frame is collected on the driver and every row is
  *      assigned by the `nearest_centroid` kernel in one map-side
  *      projection (no exchange); deterministic (d², cell) tie-break;
  *   2. update — per-(cell, coordinate) MEAN via posexplode + a
  *      map-side-combined groupBy: the shuffle carries at most
  *      nlist × dim partial rows per task regardless of corpus size,
  *      then nlist tiny sorted-collect rows reassemble the vectors.
  * Cells that lose every member keep their previous centroid (the
  * standard Lloyd's convention, mirrored in the oracle's LEFT JOIN).
  * The centroid frame is localCheckpoint'ed each round (nlist rows) so
  * analyzer/lineage cost stays linear in `iters` — the
  * [[graft.dedup.DupClusters]] iteration pattern.
  *
  * Fixed `iters` with a pinned init makes the whole fit DETERMINISTIC
  * up to floating-point summation order (partial-aggregated means can
  * differ in the last ulp across partitionings; assignment argmins are
  * robust to that because inter-centroid distance gaps are ~1e-2, not
  * 1e-16) — which is what lets a 2-iteration fit verify end-to-end
  * against an unrolled DuckDB mirror, unlike seeded-sample k-means.
  *
  * Reference analog: the fit step behind centimators' cluster-based
  * operators is scikit-learn KMeans (dimensionality_reduction.py uses
  * fitted models); this is its corpus-scale Spark re-expression.
  */
object KMeans {

  private val liveCaches =
    graft.operators.GraftTransformer.newCacheQueue()

  /** `iters` Lloyd rounds from `init` (cell, cvec); returns the final
    * centroid frame (cell, cvec). The corpus projection is persisted
    * once — every round's two passes and the caller's final assignment
    * read it, not the source scan. */
  def lloyd(vecs: DataFrame, idCol: String, vecCol: String,
      init: DataFrame, iters: Int): DataFrame = {
    liveCaches.release()
    lloydOn(keepCorpus(vecs, idCol, vecCol), idCol, vecCol, init, iters)
  }

  private def keepCorpus(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    liveCaches.keep(
      vecs.select(col(idCol), col(vecCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def lloydOn(corpus: DataFrame, idCol: String, vecCol: String,
      init: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be positive: $iters")
    var cents = init.select(col("cell"), col("cvec"))
    var i = 0
    while (i < iters) {
      cents = oneRound(corpus, idCol, vecCol, cents)
      i += 1
    }
    cents
  }

  /** One Lloyd round: assignment + per-(cell, coordinate) mean;
    * localCheckpoint bounds lineage to one round. */
  private def oneRound(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame = {
    val assigned = IvfCosine.assignByCentroidsDf(
      corpus, idCol, vecCol, cents)
    val means = assigned
      .select(col("cell"),
        posexplode(col(vecCol).cast("array<double>"))
          .as(Seq("__i", "__x")))
      .groupBy(col("cell"), col("__i"))
      .agg(avg(col("__x")).as("__mu"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("__i"), col("__mu")))),
        e => e.getField("__mu")).as("__new"))
    cents.join(means, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("__new"), col("cvec")).as("cvec"))
      .localCheckpoint()
  }

  /** Max L2 centroid movement between two (cell, cvec) frames — an
    * nlist-row action, negligible next to the round's corpus passes. */
  private def maxMovement(prev: DataFrame, next: DataFrame): Double =
    prev.select(col("cell"), col("cvec").as("__a"))
      .join(next.select(col("cell"), col("cvec").as("__b")), Seq("cell"))
      .agg(max(sqrt(aggregate(
        zip_with(col("__a"), col("__b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v))).as("__m"))
      .head().getDouble(0)

  /** CONVERGENCE-mode Lloyd's — the standard stopping contract: iterate
    * until the max centroid movement drops below `tol`, hard-capped at
    * `maxIters` rounds (a cap, not a target — separated data stops in a
    * handful of rounds). Returns (centroids, rounds run). Each round
    * adds one nlist-row movement action on top of [[lloyd]]'s two
    * corpus passes; lineage stays bounded via the same per-round
    * localCheckpoint. Convergence-mode fits are NOT oracle-checkable
    * (the round count depends on float sums), so the driver-gate query
    * (q_kmeans) stays on the fixed-iteration form; this is the
    * production trainer contract, pinned by DataFormAnnSpec's
    * separated-blobs early-stop test. */
  def lloydConverged(vecs: DataFrame, idCol: String, vecCol: String,
      init: DataFrame, maxIters: Int, tol: Double): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be positive: $maxIters")
    liveCaches.release()
    val corpus = keepCorpus(vecs, idCol, vecCol)
    var cents = init.select(col("cell"), col("cvec")).localCheckpoint()
    var i = 0
    var moved = Double.MaxValue
    while (i < maxIters && moved >= tol) {
      val next = oneRound(corpus, idCol, vecCol, cents)
      moved = maxMovement(cents, next)
      cents = next
      i += 1
    }
    (cents, i)
  }

  /** Fit + final assignment: (idCol, cell) for every row, under the
    * centroids after `iters` rounds — the fit passes and the final
    * assignment all read the one persisted corpus projection. */
  def fitAssign(vecs: DataFrame, idCol: String, vecCol: String,
      init: DataFrame, iters: Int): DataFrame = {
    liveCaches.release()
    val corpus = keepCorpus(vecs, idCol, vecCol)
    IvfCosine.assignByCentroidsDf(corpus, idCol, vecCol,
      lloydOn(corpus, idCol, vecCol, init, iters))
      .select(col(idCol), col("cell"))
  }
}
