package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Similarity
import graft.functions.NearestCentroid
import graft.sim.IvfCosine

/** The `nearest_centroid` kernel: a driver-side brute-force argmin on
  * float and double vectors, exact ties to the lowest cell, the length
  * check, bit-identity with both composed assignment forms it replaced
  * (the per-cell struct `array_min` and the broadcast cross-join
  * argmin, kept here as references), and one generated class for every
  * centroid set. Also the contract of `assignByCentroidsDf`, the
  * adapter that runs the kernel over a (cell, cvec) frame. */
class NearestCentroidSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  /** d² = v·v − 2·v·c + c·c per cell, each dot an index-ascending fold;
    * the first strictly smaller d² wins. */
  private def bruteForce(v: Array[Double],
      cents: Array[Array[Double]]): Int = {
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val d = cents.map(c => dot(v, v) - 2.0 * dot(v, c) + dot(c, c))
    d.indices.foldLeft(0)((best, i) => if (d(i) < d(best)) i else best)
  }

  // spark.range-based so the projection runs in generated code (a local
  // Seq would be folded by ConvertToLocalRelation, i.e. interpreted)
  private def generated(n: Int, seed: Int, asFloat: Boolean): DataFrame = {
    val r = new scala.util.Random(seed)
    val rows = Array.fill(n, dim)(r.nextGaussian())
    val elems = (0 until dim).map(d => element_at(typedlit(rows),
      col("id").cast("int") + 1).getItem(d))
    val vec = array(elems.map(e => if (asFloat) e.cast("float") else e): _*)
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
  }

  private def cells(df: DataFrame, cents: Array[Array[Double]]) =
    df.select(col("vec_id"), NearestCentroid(col("embedding"), cents))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** The former data-form assignment, kept as a reference: every row
    * fanned out to every centroid of a (cell, cvec) frame by a
    * broadcast cross join, then the per-id argmin of (d², cell). */
  private def crossJoinCells(df: DataFrame,
      cents: DataFrame): Map[Long, Int] = {
    val c = broadcast(cents.select(col("cell").as("__cell"),
      col("cvec").as("__cvec"),
      Similarity.dot(col("cvec"), col("cvec")).as("__cc")))
    val d2 = col("__vv") -
      lit(2.0) * Similarity.dot(col("embedding"), col("__cvec")) +
      col("__cc")
    df.select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("__vv"))
      .crossJoin(c)
      .groupBy(col("vec_id"))
      .agg(min(struct(d2.as("d2"), col("__cell").as("cell")))
        .getField("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def adapterCells(df: DataFrame, cents: DataFrame) =
    IvfCosine.assignByCentroidsDf(df, "vec_id", "embedding", cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("float and double vectors: the kernel equals a driver-side " +
    "brute-force argmin, in generated and interpreted evaluation") {
    val cents = IvfCosine.pinnedCentroids(32, dim)
    for (asFloat <- Seq(true, false)) {
      val df = generated(300, 5, asFloat)
      val expected = df.collect().map { r =>
        val v = if (asFloat) r.getSeq[Float](1).map(_.toDouble).toArray
          else r.getSeq[Double](1).toArray
        r.getLong(0) -> bruteForce(v, cents)
      }.toMap
      assert(cells(df, cents) == expected, s"codegen, float=$asFloat")
      val local = spark.createDataFrame(df.collect().toSeq.asJava,
        df.schema)
      assert(cells(local, cents) == expected, s"interpreted, float=$asFloat")
      assert(expected.values.toSet.size > 8, "cells must spread")
    }
  }

  test("exact ties go to the lowest cell, duplicate centroids included") {
    // (0, 1) sits on cell 4; (5, 5) on the duplicate pair 2 and 3
    val cents = Array(Array(1.0, 0.0), Array(-1.0, 0.0), Array(5.0, 5.0),
      Array(5.0, 5.0), Array(0.0, 1.0))
    val df = Seq((0L, Seq(0.0, 1.0)), (1L, Seq(5.0, 5.0)),
      (2L, Seq(0.0, 0.0)), (3L, Seq(4.0, 6.0))).toDF("vec_id", "embedding")
    // (0, 0) ties cells 0, 1 and 4 at d² = 1; (4, 6) ties 2 and 3
    assert(cells(df, cents) == Map(0L -> 4, 1L -> 2, 2L -> 0, 3L -> 2))
    // the same ties in generated code (a non-foldable vector)
    val zero = col("id").cast("double") * 0.0
    assert(cells(spark.range(1).select(col("id").as("vec_id"),
      array(zero, zero).as("embedding")), cents) == Map(0L -> 0))
    assert(cells(spark.range(1).select(col("id").as("vec_id"),
      array(zero + 4.0, zero + 6.0).as("embedding")), cents) == Map(0L -> 2))
  }

  test("a dimension mismatch fails with both lengths named") {
    val cents = IvfCosine.pinnedCentroids(4, dim)
    val bad = spark.range(3).select(col("id").as("vec_id"),
      array((0 until dim + 2).map(_ => col("id").cast("float") * 0.5f): _*)
        .as("embedding"))
    val e = intercept[Exception](cells(bad, cents))
    val msg = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg.contains("vector has 10 elements") &&
      msg.contains("centroids have 8"), msg)
  }

  test("bit-identical to both composed assignment forms") {
    val cents = IvfCosine.pinnedCentroids(64, dim)
    val df = generated(400, 11, asFloat = true)
    val vv = Similarity.dot(col("embedding"), col("embedding"))
    val structs = cents.zipWithIndex.map { case (c, i) =>
      struct((vv - lit(2.0) * Similarity.dot(col("embedding"), typedlit(c))
        + lit(c.map(x => x * x).sum)).as("d2"), lit(i).as("cell"))
    }
    val composed = df.select(col("vec_id"),
      array_min(array(structs: _*)).getField("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val centsDf = IvfCosine.centroidsDf(spark, cents)
    val crossJoin = crossJoinCells(df, centsDf)
    val kernel = cells(df, cents)
    assert(kernel == composed && kernel == crossJoin)
    assert(adapterCells(df, centsDf) == kernel)
  }

  test("one generated class serves every centroid set, and the plan " +
    "holds the matrix as one node") {
    val df = generated(10, 3, asFloat = true)
    def code(cents: Array[Array[Double]]) = df
      .select(NearestCentroid(col("embedding"), cents).as("cell"))
      .queryExecution.debug.codegenToSeq().map(_._2)
    val (a, b) = (IvfCosine.pinnedCentroids(16, dim),
      IvfCosine.pinnedCentroids(1024, dim))
    assert(code(a) == code(b), "generated source must not embed centroids")
    def nodes(cents: Array[Array[Double]]) =
      org.apache.spark.sql.graft.ColumnBridge.expression(NearestCentroid(
        col("embedding"), cents)).collect { case e => e }.size
    assert(nodes(a) == nodes(b))
  }

  test("assignByCentroidsDf: unsorted, non-contiguous cell ids come " +
    "back as those ids, exact ties go to the lowest id") {
    // frame order 40, 2, 7; (0, 0) ties cells 40 and 7, (5, 5) sits on 2
    val cents = Seq((40, Array(1.0, 0.0)), (2, Array(5.0, 5.0)),
      (7, Array(-1.0, 0.0))).toDF("cell", "cvec")
    val df = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(5.0, 5.0)),
      (2L, Seq(0.9, 0.0)), (3L, Seq(-2.0, 0.0)))
      .toDF("vec_id", "embedding")
    val want = Map(0L -> 7, 1L -> 2, 2L -> 40, 3L -> 7)
    assert(adapterCells(df, cents) == want)
    assert(crossJoinCells(df, cents) == want)
    val out = IvfCosine.assignByCentroidsDf(df, "vec_id", "embedding", cents)
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "cell", "__cvec"))
    assert(out.schema("cell").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val cvec = out.collect().map(r => r.getLong(0) -> r.getSeq[Double](3))
      .toMap
    assert(cvec(0L) == Seq(-1.0, 0.0) && cvec(2L) == Seq(1.0, 0.0))
  }

  test("assignByCentroidsDf: a null vector yields a null cell and keeps " +
    "its row") {
    val df = Seq((0L, null: Seq[Double]), (1L, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val out = IvfCosine.assignByCentroidsDf(df, "vec_id", "embedding",
        IvfCosine.centroidsDf(spark, Array(Array(0.0, 1.0), Array(1.0, 0.0))))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 2)
    assert(out(0L).isNullAt(2) && out(0L).isNullAt(3))
    assert(out(1L).getInt(2) == 1)
  }

  test("assignByCentroidsDf: a bad centroid frame fails by name before " +
    "any job over the corpus") {
    // evaluating this corpus fails, so a job over it cannot pass unseen
    val corpus = spark.range(4).select(col("id").as("vec_id"),
      array(raise_error(lit("corpus evaluated")).cast("double"))
        .as("embedding"))
    def fails(cents: DataFrame, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](
        IvfCosine.assignByCentroidsDf(corpus, "vec_id", "embedding", cents))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val v = Array(1.0, 0.0)
    fails(Seq((1, v), (1, Array(0.0, 1.0))).toDF("cell", "cvec"),
      "duplicate cell id 1")
    fails(Seq((Some(1), v), (None, v)).toDF("cell", "cvec"),
      "null cell id")
    fails(Seq((1, v), (2, null: Array[Double])).toDF("cell", "cvec"),
      "null centroid at cell 2")
    fails(Seq((1, v), (2, Array(1.0, 0.0, 0.0))).toDF("cell", "cvec"),
      "mixed dimension")
    fails(Seq.empty[(Int, Array[Double])].toDF("cell", "cvec"),
      "empty centroid frame")
    fails(Seq(("a", v)).toDF("cell", "cvec"), "must be integral")
  }

  test("registered as nearest_centroid on the SQL surface") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT nearest_centroid(array(0.9D, 0.2D), " +
      "array(array(0.0D, 0.0D), array(1.0D, 0.0D))) AS c").collect()(0)
    assert(r.getInt(0) == 1)
  }

  private implicit class AsJava[A](xs: Seq[A]) {
    def asJava: java.util.List[A] =
      scala.jdk.CollectionConverters.SeqHasAsJava(xs).asJava
  }
}
