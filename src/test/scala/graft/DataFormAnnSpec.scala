package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.{IvfCosine, IvfPq, PqCosine, SemDedup}

/** The data-form centroid/codebook paths (IVF search routing, IVF-PQ,
  * k-means, prototypicality pruning) must be value-identical to the
  * literal-table forms (the [[AnnLiteralReference]] copies, which
  * interpolate the grids the DuckDB oracles pin), and the plan
  * size of the data-form and kernel-assigned paths must be INDEPENDENT
  * of nlist — a plan that grows O(nlist) dies at production cluster
  * counts. */
class DataFormAnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  // spark.range-based, NOT a local Seq: ConvertToLocalRelation folds
  // projections over LocalRelation at optimize time, which would both
  // fake the plan-size measurements and bypass the operators entirely
  private def corpus(n: Int) = spark.range(n).select(
    col("id").as("vec_id"),
    array((0 until dim).map(d => sin((col("id") + 1) * lit(d + 1))): _*)
      .as("embedding"))

  // total Catalyst expression-node count of the optimized plan —
  // immune to toString truncation, which is exactly what a growing
  // literal plan triggers
  private def exprNodes(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case _ => 1L }.sum).sum
    }.sum

  test("semdedup plan size is independent of nlist") {
    val emb = corpus(20)
    def litPlan(nlist: Int): Long = exprNodes(
      SemDedup.dedup(emb, "vec_id", "embedding",
        IvfCosine.pinnedCentroids(nlist, dim), threshold = 0.8))
    // the grid is one nearest_centroid node over one matrix literal,
    // not a per-cell struct per centroid
    val (l16, l1024) = (litPlan(16), litPlan(1024))
    assert(l1024 <= l16 * 11 / 10,
      s"literal-grid plan must not grow with nlist: $l16 -> $l1024")
  }

  test("ivf-pq data-form encode + search are bit-identical to the " +
    "literal path") {
    val emb = corpus(80)
    val coarse = IvfCosine.pinnedCentroids(8, dim)
    val books = PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8)
    val coarseDf = IvfCosine.centroidsDf(spark, coarse)
    val booksDf = PqCosine.codebooksDf(spark, books)
    val encLit = AnnLiteralReference.ivfPqEncode(emb, "vec_id",
      "embedding", coarse, books)
    val encData = IvfPq.encodeDf(emb, "vec_id", "embedding", coarseDf,
      booksDf, m = 4)
    def encRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getAs[Int]("cell"),
        r.getSeq[Int](2).toList, r.getAs[Double]("nrm"))).toSet
    assert(encRows(encLit) == encRows(encData))
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def searchRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("cosine"), r.getAs[Double]("approx_cos"),
        r.getAs[Int]("rank"))).toSet
    val sLit = AnnLiteralReference.ivfPqSearch(encLit, emb, probes,
      "vec_id", "embedding", "qid", "qvec", coarse, books, k = 3,
      nprobe = 3, shortlist = 10)
    val sData = IvfPq.searchDf(encData, emb, probes, "vec_id",
      "embedding", "qid", "qvec", coarseDf, booksDf, k = 3, nprobe = 3,
      shortlist = 10, m = 4, nk = 8)
    val (a, b) = (searchRows(sLit), searchRows(sData))
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("ivf-pq data-form search plan size is independent of nlist and nk") {
    val emb = corpus(20)
    val probes = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def planLen(nlist: Int, nk: Int): Long = {
      val coarseDf = IvfCosine.centroidsDf(spark,
        IvfCosine.pinnedCentroids(nlist, dim))
      val booksDf = PqCosine.codebooksDf(spark,
        PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = nk))
      val enc = IvfPq.encodeDf(emb, "vec_id", "embedding", coarseDf,
        booksDf, m = 4)
      exprNodes(IvfPq.searchDf(enc, emb, probes, "vec_id", "embedding",
        "qid", "qvec", coarseDf, booksDf, k = 3, nprobe = 3,
        shortlist = 10, m = 4, nk = nk))
    }
    val small = planLen(8, 8)
    val big = planLen(1024, 64)
    assert(big <= small * 11 / 10,
      s"data-form ivf-pq plan must not grow with nlist/nk: $small -> $big")
  }

  test("ivf searchDf (data-form routing) is bit-identical to the " +
    "literal search, and its plan size is independent of nlist") {
    val emb = corpus(120)
    val probes = emb.where(col("vec_id") < 12)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        r.getInt(3))).toSet
    val grid = IvfCosine.pinnedCentroids(16, dim)
    val idx = IvfCosine.assignByCentroids(emb, "vec_id", "embedding", grid)
    val lit = AnnLiteralReference.ivfSearch(idx, probes, "vec_id",
      "embedding", "qid", "qvec", k = 3, nprobe = 4, dim = dim)
    val data = IvfCosine.searchDf(idx.assigned, probes, "vec_id",
      "embedding", "qid", "qvec", IvfCosine.centroidsDf(spark, grid),
      k = 3, nprobe = 4, dim = dim)
    val viaIndex = IvfCosine.search(idx, probes, "vec_id", "embedding",
      "qid", "qvec", k = 3, nprobe = 4, dim = dim)
    val (a, b) = (rows(lit), rows(data))
    assert(a == b, "literal and data-form search must agree bit for bit")
    assert(rows(viaIndex) == a,
      "the Index entry point must agree with the literal search bit for bit")
    assert(a.nonEmpty)
    // plan-size independence: a corpus-scaled nlist would outgrow a
    // literal centroid array in the plan — through either entry point
    def dataPlan(nlist: Int): Long = {
      val g = IvfCosine.pinnedCentroids(nlist, dim)
      val ix = IvfCosine.assignByCentroidsDf(emb, "vec_id", "embedding",
        IvfCosine.centroidsDf(spark, g))
      exprNodes(IvfCosine.searchDf(ix, probes, "vec_id", "embedding",
        "qid", "qvec", IvfCosine.centroidsDf(spark, g), k = 3,
        nprobe = 4, dim = dim))
    }
    def indexPlan(nlist: Int): Long = exprNodes(IvfCosine.search(
      IvfCosine.assignByCentroids(emb, "vec_id", "embedding",
        IvfCosine.pinnedCentroids(nlist, dim)), probes, "vec_id",
      "embedding", "qid", "qvec", k = 3, nprobe = 4, dim = dim))
    for ((name, planLen) <- Seq("searchDf" -> dataPlan _,
        "search(index)" -> indexPlan _)) {
      val (p16, p1024) = (planLen(16), planLen(1024))
      assert(p1024 <= p16 * 11 / 10,
        s"$name plan must not grow with nlist: $p16 -> $p1024")
    }
  }

  test("kmeans: distributed Lloyd separates two obvious clusters, an " +
    "empty cell keeps its init centroid, fitAssign matches a driver run") {
    import graft.sim.KMeans
    // two tight blobs around +1 and -1 on every coordinate, plus a
    // third init centroid far away that never wins a member
    val pts = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, (0 until dim).map(d =>
        c + 0.01 * math.sin(i * 31 + d)).toArray)
    }
    val df = spark.createDataFrame(pts).toDF("vec_id", "embedding")
      .repartition(5)
    val init = Seq(
      (0, (0 until dim).map(_ => 0.9).toArray),
      (1, (0 until dim).map(_ => -0.9).toArray),
      (2, (0 until dim).map(_ => 100.0).toArray)
    ).toDF("cell", "cvec")
    val cents = KMeans.lloyd(df, "vec_id", "embedding", init, iters = 3)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    // cells 0/1 move to the blob means; cell 2 never assigned → pinned
    assert(cents(2).forall(_ == 100.0), "empty cell must keep its init")
    assert(cents(0).forall(x => math.abs(x - 1.0) < 0.02), s"${cents(0)}")
    assert(cents(1).forall(x => math.abs(x + 1.0) < 0.02), s"${cents(1)}")
    val got = KMeans.fitAssign(df, "vec_id", "embedding", init, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == 40)
    assert((0 until 40).forall(i =>
      got(i.toLong) == (if (i % 2 == 0) 0 else 1)))
  }

  test("kmeans convergence mode: separated blobs stop well before the " +
    "round cap, centroids match the fixed-iteration fit") {
    import graft.sim.KMeans
    val pts = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, (0 until dim).map(d =>
        c + 0.01 * math.sin(i * 31 + d)).toArray)
    }
    val df = spark.createDataFrame(pts).toDF("vec_id", "embedding")
      .repartition(5)
    val init = Seq(
      (0, (0 until dim).map(_ => 0.9).toArray),
      (1, (0 until dim).map(_ => -0.9).toArray)
    ).toDF("cell", "cvec")
    val (cents, rounds) = KMeans.lloydConverged(df, "vec_id", "embedding",
      init, maxIters = 50, tol = 1e-9)
    // round 1 moves init → blob means; round 2 moves nothing (the
    // assignment is already stable) → movement 0 < tol stops at round 2
    assert(rounds == 2, s"expected early stop at round 2, got $rounds")
    val cm = cents.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cm(0).forall(x => math.abs(x - 1.0) < 0.02))
    assert(cm(1).forall(x => math.abs(x + 1.0) < 0.02))
    // identical fit to the fixed-iteration trainer at the same depth
    val fixed = KMeans.lloyd(df, "vec_id", "embedding", init, iters = 2)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cm == fixed)
  }

  test("proto prune: per cell, exactly the least-prototypical rows at " +
    "or below the keepFrac quantile survive; every row is labeled") {
    import graft.sim.ProtoPrune
    val df = corpus(200)
    val cents = IvfCosine.centroidsDf(spark,
      IvfCosine.pinnedCentroids(4, dim))
    val out = ProtoPrune.prune(df, "vec_id", "embedding", cents,
        keepFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(out.length == 200, "every row labeled")
    out.groupBy(_._2).foreach { case (cell, rows) =>
      val sims = rows.map(_._3).sorted
      // driver mirror of the interpolated median over rounded sims
      val q = {
        val h = 0.5 * (sims.length - 1)
        val lo = sims(h.toInt)
        val hi = sims(math.ceil(h).toInt)
        BigDecimal(lo + (h - h.toInt) * (hi - lo))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      rows.foreach { case (id, _, sim, keep) =>
        assert(keep == (sim <= q),
          s"cell $cell id $id sim $sim cut $q keep $keep")
      }
      val kept = rows.count(_._4)
      assert(kept >= rows.length / 2 - 1 && kept <= rows.length / 2 + 2,
        s"cell $cell kept $kept of ${rows.length}")
    }
  }
}
