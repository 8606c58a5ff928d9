package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.FastRound
import graft.sim.{CosineTopK, IvfCosine, RandomProjection}

/** UMAP-analog 2-D embedding — the SGD-on-kNN-graph family (LargeVis:
  * Tang et al. 2016, arXiv:1602.00370; UMAP: McInnes et al. 2018,
  * arXiv:1802.03426 — both public papers) re-expressed as DETERMINISTIC
  * batch gradient descent so the whole fit is distributable AND
  * verifiable:
  *
  *   O = Σ_knn-edges log q_ij  +  γ Σ_neg-edges log(1 − q_ik),
  *   q = 1 / (1 + ‖y_i − y_j‖²)     (the a=b=1 Student-t kernel)
  *
  * Differences from the reference algorithms, each in service of
  * determinism (the reference DimReducer delegates `method="umap"` to
  * umap-learn, a driver-local library with stochastic SGD —
  * dimreduction.py:143-147; this is its distributed, oracle-checkable
  * analog):
  *  - per-EPOCH full-batch gradient instead of per-edge SGD (each epoch
  *    is one join + one aggregate — the map-reduce form of the same
  *    update; LargeVis §4.2's asynchronous SGD is a throughput device,
  *    not part of the objective);
  *  - negative edges are a pinned stride (i → (i+p) mod n for fixed
  *    primes p) instead of random sampling — the same "a few arbitrary
  *    far pairs per node" role, reproducible across engines;
  *  - init is the md5-derived JL projection to 2-D ([[RandomProjection]],
  *    UMAP's spectral-init role) instead of a random normal;
  *  - positions are rounded to 6 decimals after init and after every
  *    epoch, so cross-engine float-sum order noise never compounds (the
  *    repo's FastRound-before-compare convention).
  *
  * SCALE SHAPES: the kNN graph comes from the ANN family through the
  * `knnEdges` seam — [[bruteKnnEdges]] (probe-side broadcast, test
  * scale) or [[ivfKnnEdges]] (cell-partitioned equi-join, corpus
  * scale), both honoring the same (src, dst) contract; UmapKnnSeamSpec
  * pins IVF-at-full-probe ≡ brute. Per epoch: edges(n·(k+negs)) join
  * the 3-column position frame twice, one map-side-combined groupBy —
  * everything is edge-proportional, positions are 2 doubles per node,
  * and localCheckpoint bounds lineage per epoch (the [[graft.sim.KMeans]]
  * iteration pattern). Epochs are a fixed constant, not a scale axis.
  */
object UmapAnalog {

  /** Exact kNN edge frame via [[CosineTopK.bruteForce]] with the whole
    * corpus as the probe side — correct at test scale, but the probe
    * broadcast makes it n²-candidate work at corpus scale. Use
    * [[ivfKnnEdges]] (or any producer honoring the (src, dst) contract)
    * there. */
  def bruteKnnEdges(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int): DataFrame = {
    val probes = emb.select(col(idCol).as("__qid"), col(vecCol).as("__qvec"))
    CosineTopK.bruteForce(emb, probes, idCol, vecCol,
      "__qid", "__qvec", k, dim)
      .select(col("qid").cast("long").as("src"),
        col("nid").cast("long").as("dst"))
  }

  /** The SCALE path for the kNN graph: [[IvfCosine]] cell-partitioned
    * search over the pinned md5 grid of `nlist` cells — corpus and
    * probes shuffle once on the cell id instead of broadcasting the
    * whole corpus as probes, and the grid enters the plan as one kernel
    * matrix (assignment) and one broadcast frame (routing), so a
    * corpus-scaled nlist adds no plan nodes. Same (src,
    * dst) edge contract as [[bruteKnnEdges]]; at nprobe == nlist the
    * candidate set is the full corpus and the edges are IDENTICAL to
    * brute force (the ranking key (cosine desc, nid) is shared), which
    * is what UmapKnnSeamSpec pins. */
  def ivfKnnEdges(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, nlist: Int, nprobe: Int): DataFrame = {
    val index = IvfCosine.assignByCentroids(emb, idCol, vecCol,
      IvfCosine.pinnedCentroids(nlist, dim))
    val probes = emb.select(col(idCol).as("__qid"), col(vecCol).as("__qvec"))
    IvfCosine.search(index, probes, idCol, vecCol,
      "__qid", "__qvec", k, nprobe, dim)
      .select(col("qid").cast("long").as("src"),
        col("nid").cast("long").as("dst"))
  }

  /** Fit + transform: (idCol, dim_0, dim_1) — the DimReducer output
    * contract. `emb` must carry a numeric id in [0, n) for the stride
    * negatives to land on real nodes (stray strides drop harmlessly in
    * the edge join). The kNN graph is the brute-force build; at corpus
    * scale call the `knnEdges` overload with [[ivfKnnEdges]] (or any
    * (src, dst) producer) instead. */
  def fitTransform(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int = 5, negOffsets: Seq[Long] = Seq(17L, 131L, 313L),
      iters: Int = 3, lr: Double = 0.05, gamma: Double = 1.0,
      eps: Double = 1e-3): DataFrame =
    fitTransform(emb, bruteKnnEdges(emb, idCol, vecCol, dim, k),
      idCol, vecCol, dim, negOffsets, iters, lr, gamma, eps)

  /** Seam overload: the attraction graph arrives as a prebuilt
    * `knnEdges` (src long, dst long) frame — from [[bruteKnnEdges]],
    * [[ivfKnnEdges]], or any external ANN producer — so the n²
    * brute-force build is never forced at scale. Everything downstream
    * (stride negatives, per-epoch batch gradients) is unchanged. */
  def fitTransform(emb: DataFrame, knnEdges: DataFrame, idCol: String,
      vecCol: String, dim: Int, negOffsets: Seq[Long],
      iters: Int, lr: Double, gamma: Double,
      eps: Double): DataFrame = {
    val n = emb.count()
    var pos = RandomProjection.project(emb, idCol, vecCol, 2, dim)
      .select(col(idCol).cast("long").as("id"),
        FastRound(element_at(col("projected"), 1), 6).as("y1"),
        FastRound(element_at(col("projected"), 2), 6).as("y2"))
      .localCheckpoint()
    val knn = knnEdges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), lit(true).as("attract"))
    val ids = emb.select(col(idCol).cast("long").as("src"))
    // the stride negatives in ONE pass: explode the offset array per id
    // instead of unioning one full id-scan per offset — the union form
    // multiplied the edge frame's partition count by |negOffsets|
    // (measured: a 97-partition edges checkpoint whose tiny tasks
    // dominated every gradient iteration after the input spread)
    val negs = ids.select(col("src"),
      explode(array(negOffsets.map(o =>
        (col("src") + lit(o)) % lit(n)): _*)).as("dst"),
      lit(false).as("attract"))
    // NOT coalesced below the checkpoint: coalesce would fuse into the
    // kNN search lineage and collapse the join+rank's own parallelism
    // while materializing (measured +1s on the gated IVF config)
    val edges = knn.unionByName(negs).localCheckpoint()
    var it = 0
    while (it < iters) {
      val a = pos.select(col("id").as("src"),
        col("y1").as("ay1"), col("y2").as("ay2"))
      val b = pos.select(col("id").as("dst"),
        col("y1").as("by1"), col("y2").as("by2"))
      val terms = edges.join(a, Seq("src")).join(b, Seq("dst"))
        .withColumn("dx", col("ay1") - col("by1"))
        .withColumn("dy", col("ay2") - col("by2"))
        .withColumn("d2",
          col("dx") * col("dx") + col("dy") * col("dy"))
      def grad(d: Column): Column = when(col("attract"),
          (lit(-2.0) * d) / (lit(1.0) + col("d2")))
        .otherwise(((lit(gamma) * lit(2.0)) * d) /
          ((lit(eps) + col("d2")) * (lit(1.0) + col("d2"))))
      val g = terms.groupBy(col("src"))
        .agg(sum(grad(col("dx"))).as("g1"), sum(grad(col("dy"))).as("g2"))
      pos = pos.join(g, pos("id") === g("src"), "left")
        .select(col("id"),
          FastRound(col("y1") + lit(lr) * coalesce(col("g1"), lit(0.0)), 6)
            .as("y1"),
          FastRound(col("y2") + lit(lr) * coalesce(col("g2"), lit(0.0)), 6)
            .as("y2"))
        .localCheckpoint()
      it += 1
    }
    pos.select(col("id").as(idCol), col("y1").as("dim_0"),
      col("y2").as("dim_1"))
  }
}
