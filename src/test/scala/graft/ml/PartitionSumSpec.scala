package graft.ml

import graft.TestSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The partition-sum order contract every trainer relies on: partials
  * are added on the driver in partition-index order, whatever order the
  * tasks finish in. */
class PartitionSumSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  // one value per partition; only the index-order left fold from 0 sums
  // them to 1.0 (1e16 + 1 rounds back to 1e16, ulp(1e16) = 2)
  private val values = Seq(1e16, 1.0, -1e16, 1.0)

  test("partition sum adds partials in partition-index order even when " +
    "partition 0 finishes last") {
    val rdd = spark.sparkContext.parallelize(values, values.size)
      .mapPartitionsWithIndex { (i, it) =>
        if (i == 0) Thread.sleep(500) // partition 0 completes last
        it
      }
    assert(rdd.getNumPartitions == 4)
    val body = (v: Iterator[Double], acc: Array[Double]) =>
      v.foreach { x => acc(0) += x; acc(1) += 1.0 }
    val expected = values.foldLeft(0.0)(_ + _)
    assert(expected == 1.0)
    // the completion order the sleep forces reads 0.0 or 2.0, never 1.0
    val completionOrder = (values.tail :+ values.head).foldLeft(0.0)(_ + _)
    assert(completionOrder != expected)
    val sums = PartitionSum.sum(rdd, 2) { (_, it, acc) =>
      body(it, acc)
    }
    assert(java.lang.Double.doubleToRawLongBits(sums(0)) ==
      java.lang.Double.doubleToRawLongBits(expected))
    assert(sums(1) == 4.0)
    // the same body through Spark's completion-order merge, for contrast
    val viaTree = rdd.mapPartitions { it =>
      val acc = new Array[Double](2); body(it, acc); Iterator.single(acc)
    }.treeReduce((a, b) => Array(a(0) + b(0), a(1) + b(1)), depth = 2)
    info(s"partition sum ${sums(0)}, treeReduce ${viaTree(0)}")
  }

  test("partition sum passes each partition its index and a fresh zero " +
    "accumulator; mean divides by the count slot") {
    val rdd = spark.sparkContext.parallelize(1 to 10, 3)
    val sums = PartitionSum.sum(rdd, 4) { (part, it, acc) =>
      it.foreach { x => acc(0) += x; acc(1) += part; acc(3) += 1.0 }
      acc(2) += 0.5
    }
    val parts = rdd.glom().collect()
    assert(sums(0) == 55.0)
    assert(sums(1) == parts.zipWithIndex.map { case (p, i) =>
      p.length.toDouble * i }.sum)
    assert(sums(2) == 1.5)
    assert(sums(3) == 10.0)
    val (g, loss) = PartitionSum.mean(sums, 2)
    assert(g.toSeq == Seq(5.5, sums(1) / 10.0))
    assert(loss == 0.15)
    // an empty epoch (count 0) yields +0.0 everywhere, never NaN
    val empty = PartitionSum.sum(spark.sparkContext
      .parallelize(Seq.empty[Int], 2), 4) { (_, it, acc) =>
      it.foreach { _ => acc(0) += 1.0; acc(3) += 1.0 }
    }
    val (g0, l0) = PartitionSum.mean(empty, 2)
    assert(g0.forall(v => java.lang.Double.doubleToRawLongBits(v) == 0L))
    assert(java.lang.Double.doubleToRawLongBits(l0) == 0L)
  }
}
