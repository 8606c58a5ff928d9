package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate cluster assignment: connected components over a
  * candidate-pair edge list by synchronous min-label propagation.
  *
  * Dedup pipelines need a REPRESENTATIVE per duplicate group, not just
  * pairs (keep the row whose id equals the cluster label, drop the
  * rest). Label propagation is the scale-native form: each round every
  * vertex takes the min label over itself and its neighbors — one
  * shuffle per round, no driver-side graph. A fixed `iters` budget keeps
  * the computation deterministic and SQL-mirrorable; near-dup components
  * are short-diameter in practice (stars around a template), so a small
  * budget converges them. For adversarially long chains at 100 TB the
  * same loop runs with a convergence check — the per-round plan is
  * identical.
  *
  * Each round references the previous labels twice (self + neighbor
  * side), so the lazy lineage re-expands 2^iters copies of the edge
  * derivation — the iterative-algorithm trap. persist() alone does NOT
  * fix it: cache substitution happens after analysis, so the driver
  * still analyzes the exponentially nested logical plan each round
  * (measured: rounds got progressively slower on cached tiny data).
  * localCheckpoint is the real fix — it truncates the plan to a leaf,
  * keeping per-round analysis cost constant (the standard Pregel/
  * GraphFrames shape). Blocks from a previous invocation are released
  * on the next call, mirroring EraSolver.scaleGlobal's queue.
  *
  * One invocation at a time per JVM: every call first releases the
  * checkpointed RDDs and caches of the PREVIOUS call (`liveRdds`,
  * `liveCaches`). Their lineage is truncated, so they cannot be
  * recomputed — two overlapping invocations in one session make the
  * earlier one's job fail. Run the calls one after another (or give
  * each its own session) until the caches are scoped per invocation.
  *
  * Ids must be integral (byte/short/int/long) and non-null: the loops
  * run on 64-bit ids. Another id type fails at the call with an
  * IllegalArgumentException; a null id fails the first job that reads
  * the pairs, instead of joining a spurious cluster.
  */
object DupClusters {

  private val liveCaches =
    graft.operators.GraftTransformer.newCacheQueue()

  /** (id, cluster) for every vertex appearing in `pairs`; cluster is the
    * min vertex id reachable within `iters` hops.
    *
    * Loop body on pair RDDs (r15, same rationale as
    * [[connectedComponents]]): the static bidirectional edge list is
    * hash-partitioned by dst ONCE before the loop and the label frame
    * by id under the same partitioner, so the per-round
    * neighbor-gather join and the label left-join are both
    * co-partitioned NARROW joins; one round pays exactly one shuffle
    * (the map-side-combined min over gathered labels, re-keyed src)
    * and materializes under a single count-free checkpoint job. The
    * DataFrame spelling paid ~4 exchanges plus duplicated label
    * subtrees per round. Update rule unchanged: each vertex takes
    * min(own label, min over neighbor labels) per round. */
  def minLabelClusters(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 4): DataFrame = {
    val idType = requireIntegralIds(pairs, aCol, bCol, "minLabelClusters")
    liveCaches.release()
    releaseRdds()
    val spark = pairs.sparkSession
    val pDf = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    val P0 = new org.apache.spark.HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    def ckpt(r: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] = {
      r.localCheckpoint()
      liveRdds.add(r)
      r
    }
    // (dst, src) both directions — gather key first; static across
    // rounds, so its partitioning is paid once
    val edges0 = pDf.queryExecution.toRdd
      .map(ir => nonNullPair(ir, "minLabelClusters", aCol, bCol))
    val edges = ckpt(edges0.flatMap(p => Iterator(p, p.swap))
      .partitionBy(P0))
    val edgeCount = edges.count()
    // same scale-adaptive round parallelism as connectedComponents
    val pAdaptive = math.max(1L, math.min(P0.numPartitions.toLong,
      edgeCount / 65536L + 1L)).toInt
    val P = if (pAdaptive < P0.numPartitions)
      new org.apache.spark.HashPartitioner(pAdaptive) else P0
    // a shrunk P re-partitions the edges once; the P0 copy is released
    // as soon as the P copy is materialized
    val edgesByDst = if (P eq P0) edges else {
      val byP = ckpt(edges.partitionBy(P))
      byP.count()
      release(edges)
      byP
    }
    // labels keyed by id under the SAME partitioner: both per-round
    // joins below are narrow
    // No per-round action: the fixed `iters` rounds chain into the
    // caller's terminal action as ONE job (the localCheckpoint marks
    // materialize on first execution and later consumers read blocks);
    // lineage depth is bounded by the constant budget.
    var labels = ckpt(edgesByDst
      .mapPartitions(_.map { case (dst, _) => (dst, dst) },
        preservesPartitioning = true)
      .mapPartitions(dedupPairs, preservesPartitioning = true))
    for (_ <- 1 to iters) {
      // gather: neighbor labels keyed back to src, min-combined —
      // the round's ONE shuffle (map-side combine caps hot vertices)
      val nbrMin = edgesByDst.join(labels) // narrow: both P on dst/id
        .map { case (_, (src, cluster)) => (src, cluster) }
        .reduceByKey(P, math.min(_: Long, _: Long))
      // apply: left join keeps isolated-this-round vertices; narrow
      // (labels and nbrMin share P)
      labels = ckpt(labels.leftOuterJoin(nbrMin)
        .mapPartitions(_.map { case (id, (own, nb)) =>
          (id, math.min(own, nb.getOrElse(own))) },
          preservesPartitioning = true))
    }
    import spark.implicits._
    labels.toDF("id", "cluster")
      .select(col("id").cast(idType).as("id"),
        col("cluster").cast(idType).as("cluster"))
  }

  /** Exact connected components to CONVERGENCE: alternating
    * large-star / small-star contraction (Kiveris, Lattanzi, Mirrokni,
    * Rastogi, Vassilvitskii, "Connected Components in MapReduce and
    * Beyond", SoCC 2014).
    *
    * [[minLabelClusters]] is the fixed-budget form: one hop of label
    * movement per round, so a component of diameter d needs d rounds —
    * fine for the star-shaped near-dup components it serves, wrong for
    * adversarially chained ones (a 100-hop chain at a 4-round budget
    * splits into 25 clusters and the dedup keeps 25 "representatives"
    * of one duplicate group). Star contraction instead REWIRES the graph
    * each round — large-star hangs every node's larger neighbors onto
    * its minimum, small-star collapses the smaller ones — which halves
    * long paths per round, giving O(log n) rounds on any topology with
    * per-round work proportional to the current edge count (the paper's
    * Theorems 1-2). Each round is two groupBy-min + join passes over a
    * canonical (lo, hi) edge list; nothing graph-shaped lives on the
    * driver.
    *
    * Convergence is detected EXACTLY: same edge count and, when counts
    * match, a per-partition set-equality probe over the CO-PARTITIONED
    * old/new edge lists (`zipPartitions` — narrow, no shuffle). At the
    * fixpoint the edge list IS the component map: every edge is
    * (root, member) with root the component-minimum id.
    *
    * The loop body is the RDD primitives, not Catalyst (r15): a
    * DataFrame spelling of one round planned ~9 exchange/broadcast
    * stages under AQE and analyzed the min-join diamonds (`sym`,
    * `down`, `dmins` each have two consumers) into DUPLICATED subtrees
    * — measured ~10 query-stage jobs of 10–150 ms per round at sf0.1,
    * pure scheduling, and exchange reuse did not fire. With pair RDDs
    * the whole round materializes under ONE count() job: every edge
    * list is hash-partitioned by its key through one fixed partitioner
    * P, so both min-joins are co-partitioned NARROW joins (zero
    * shuffle), a second consumer of a shuffled frame re-reads shuffle
    * files instead of re-planning the subtree, and a round pays exactly
    * three shuffles (sym min-combine, down orientation flip, canonical
    * re-key) — the per-round optimum for the alternating-star algebra
    * without buffering whole neighbor lists (`reduceByKey` keeps
    * map-side combining, so hot star centers cost their partials, the
    * same skew discipline as the groupBy form; the closures are
    * primitive long ops, so losing codegen costs nothing here).
    * Per-round `localCheckpoint` + eager count keeps lineage depth
    * constant, as before; superseded rounds unpersist as soon as the
    * next round is materialized and checked (the final list is held
    * until the next invocation, mirroring the Dataset cache queue).
    * The per-partition dedup hash set is bounded by the largest
    * post-shuffle partition's edge count — the same working-set class
    * as the round's shuffle blocks; size the partition count for the
    * corpus as with any shuffle.
    *
    * No reference analog (the reference has no graph component); this is
    * the scale path behind q_dup_clusters' fixed-budget oracle form.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    val idType = requireIntegralIds(pairs, aCol, bCol, "connectedComponents")
    liveCaches.release()
    releaseRdds()
    val spark = pairs.sparkSession
    // canonical (lo, hi) pairs; self-loops dropped. The 64-bit cast is
    // internal; outputs cast back to the input id type at the end. A
    // pair with a null id keeps null ends (least/greatest would skip
    // the null) and survives to the RDD read below, which refuses it.
    val anyNull = col(aCol).isNull || col(bCol).isNull
    val eDf = pairs
      .select(when(!anyNull, least(col(aCol), col(bCol))).cast("long").as("lo"),
        when(!anyNull, greatest(col(aCol), col(bCol))).cast("long").as("hi"))
      .where(col("lo").isNull || col("lo") =!= col("hi")).distinct()
    val P0 = new org.apache.spark.HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    def ckpt(r: org.apache.spark.rdd.RDD[(Long, Long)])
        : org.apache.spark.rdd.RDD[(Long, Long)] = {
      r.localCheckpoint()
      liveRdds.add(r)
      r
    }
    // keyed by lo under P — every round's joins stay co-partitioned
    var e = ckpt(eDf.queryExecution.toRdd
      .map(ir => nonNullPair(ir, "connectedComponents", aCol, bCol))
      .partitionBy(P0))
    var eCount = e.count()
    // Scale-adaptive round parallelism (guide §2: derive partitioning
    // from input size, don't pin a constant): the loop's shuffles carry
    // |E| 16-byte pairs, so size partitions at ~64k edges (~1 MB) each,
    // capped by the session's shuffle partitions — the same
    // bytes-per-partition logic AQE coalescing applies to SQL
    // exchanges, which RDD shuffles don't get for free. At corpus scale
    // the cap keeps P = the configured parallelism; on a small edge
    // list it stops every round paying (stages x configured-partition)
    // fixed task overheads for KB of data.
    val pAdaptive = math.max(1L, math.min(P0.numPartitions.toLong,
      eCount / 65536L + 1L)).toInt
    val P = if (pAdaptive < P0.numPartitions)
      new org.apache.spark.HashPartitioner(pAdaptive) else P0
    // one tiny reshuffle onto P; the P0 copy is superseded once round 1
    // has materialized the P copy, and is released with it
    var superseded = Option.empty[org.apache.spark.rdd.RDD[(Long, Long)]]
    if (P ne P0) { superseded = Some(e); e = ckpt(e.partitionBy(P)) }
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      // large-star: m(u) = min(u, min N(u)); every neighbor v > u
      // re-hangs onto m(u). m(u) <= u < v, so (m, v) is canonical.
      // ONE shuffle (map-side-combined min over the symmetric view);
      // the min-join back to e is narrow: e and mins share P.
      val sym = e.flatMap { p => Iterator(p, p.swap) }
      val mins = sym.reduceByKey(P, math.min(_: Long, _: Long))
        .mapPartitions(_.map { case (u, mn) => (u, math.min(u, mn)) },
          preservesPartitioning = true)
      // NOT dedup'd between stars: e join mins is 1:1 per canonical
      // edge, so large-star output has |e| rows; duplicates from
      // different u mapping to the same (m, v) collapse in the
      // round-final dedup, and min is duplicate-insensitive (the r14
      // one-distinct-per-round argument, unchanged).
      // down orientation (hi -> lo) for small-star: key = hi.
      val down = e.join(mins)
        .flatMap { case (u, (v, m)) => if (m == v) Iterator.empty
          else Iterator((v, m)) }
        .partitionBy(P) // ONE shuffle; both consumers below are narrow
      // small-star: every smaller neighbor (and u itself) re-hangs onto
      // min N_down(u); mv < u strictly (all down-neighbors are < u), so
      // the fused self edge (mv, u) never degenerates.
      val dmins = down.reduceByKey(math.min(_: Long, _: Long)) // same partitioner: narrow
      val e2 = ckpt(down.join(dmins) // narrow
        .flatMap { case (u, (v, mv)) =>
          if (mv == v) Iterator((mv, u)) else Iterator((mv, v), (mv, u)) }
        .partitionBy(P) // ONE shuffle back to canonical lo keying
        .mapPartitions(dedupPairs, preservesPartitioning = true))
      val e2Count = e2.count()
      // set equality: counts match AND per-partition sets match — the
      // lists are co-partitioned and dedup'd, so equality is checkable
      // partition-by-partition with no shuffle
      converged = e2Count == eCount && {
        val old = e
        old.zipPartitions(e2) { (a, b) =>
          val sa = new scala.collection.mutable.HashSet[(Long, Long)]
          sa ++= a
          var same = true
          var n = 0
          b.foreach { p => n += 1; if (!sa.contains(p)) same = false }
          Iterator(same && n == sa.size)
        }.fold(true)(_ && _)
      }
      (e +: superseded.toSeq).foreach(release)
      superseded = None
      e = e2
      eCount = e2Count
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxRounds rounds")
    // star fixpoint: (root, member) edges + the roots themselves
    import spark.implicits._
    val labels = e.flatMap { case (lo, hi) =>
      Iterator((hi, lo), (lo, lo)) }
    labels.toDF("id", "cluster").distinct()
      .select(col("id").cast(idType).as("id"),
        col("cluster").cast(idType).as("cluster"))
  }

  /** Per-partition exact dedup of the canonically keyed pair list —
    * runs AFTER the partitionBy, so every duplicate of a pair is
    * co-located. Bounded by the partition's distinct-edge count. */
  private def dedupPairs(it: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    val seen = new scala.collection.mutable.HashSet[(Long, Long)]
    it.filter(seen.add)
  }

  private val liveRdds = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.rdd.RDD[(Long, Long)], java.lang.Boolean]())

  private def releaseRdds(): Unit = {
    val it = liveRdds.iterator()
    while (it.hasNext) { it.next().unpersist(blocking = false); it.remove() }
  }

  private def release(r: org.apache.spark.rdd.RDD[(Long, Long)]): Unit = {
    r.unpersist(blocking = false)
    liveRdds.remove(r)
  }

  /** The id contract at entry: both id columns integral. Returns the id
    * type (the outputs cast back to it). */
  private def requireIntegralIds(pairs: DataFrame, aCol: String,
      bCol: String, fn: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType}
    Seq(aCol, bCol).foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"$fn: id column $c is ${t.sql}; ids must be integral " +
          "(tinyint, smallint, int or bigint)")
    }
    pairs.schema(aCol).dataType
  }

  /** One (a, b) id pair of the first two columns, refusing a null id —
    * read by the job that already scans the pairs, so the check costs
    * no job of its own. */
  private def nonNullPair(ir: org.apache.spark.sql.catalyst.InternalRow,
      fn: String, aCol: String, bCol: String): (Long, Long) = {
    if (ir.isNullAt(0) || ir.isNullAt(1))
      throw new IllegalArgumentException(
        s"$fn: null id in the pair columns ($aCol, $bCol)")
    (ir.getLong(0), ir.getLong(1))
  }

  /** Canonical-representative selection — the step after clustering in
    * every dedup pipeline: per duplicate cluster keep ONE document (the
    * highest-quality member: max `qualityCol`, ties to the smallest id)
    * and mark the rest for dropping.
    *
    * `members` is (idCol, clusterCol) — e.g. [[connectedComponents]]
    * output; `docs` carries the quality column. Champion election is a
    * map-side-combined `max(struct(quality, -id))` groupBy — one row per
    * cluster, never a per-cluster window, so a pathological million-doc
    * template cluster costs its partials, not one buffering task. The
    * champion frame (|clusters| rows <= |members|) joins back on the
    * cluster key.
    */
  def canonicalPerCluster(members: DataFrame, idCol: String,
      clusterCol: String, docs: DataFrame,
      qualityCol: String): DataFrame = {
    val withQ = members.join(
      docs.select(col(idCol), col(qualityCol)), Seq(idCol))
    val champs = withQ.groupBy(col(clusterCol))
      .agg(max(struct(col(qualityCol).as("q"),
        (-col(idCol)).as("negId"))).as("__c"))
      .select(col(clusterCol),
        (-col("__c.negId")).cast("long").as("__champ"))
    withQ.join(champs, Seq(clusterCol))
      .select(col(idCol), col(clusterCol), col(qualityCol),
        (col(idCol) === col("__champ")).as("is_canonical"))
  }
}
