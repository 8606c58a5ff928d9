package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.IvfCosine

/** Job-count pins of daily index maintenance: a day-sized delta costs a
  * fixed handful of Spark jobs, not one per census or per tree. Each job
  * also pays scheduling and, on a busy session, code generation, so the
  * counts are the protocol's cost. */
class MaintenanceJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private def vecs(ids: Range, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** Jobs started while `f` runs (the bus is drained on both sides). */
  private def jobs(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.ListenerDrain(spark.sparkContext); n.get() }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("appendToIndex and applyChanges on a saved 16-cell index run a " +
    "fixed handful of jobs, and the result equals a rebuild") {
    val grid = IvfCosine.pinnedCentroids(16, dim)
    val base = vecs(0 until 200, 3).localCheckpoint()
    val p = java.nio.file.Files.createTempDirectory("graft-maint-jobs")
      .resolve("idx").toString
    IvfCosine.saveIndex(p,
      IvfCosine.assignByCentroids(base, "vec_id", "embedding", grid),
      "vec_id", "embedding")
    val added = vecs(200 until 206, 5).localCheckpoint()
    val upserts = vecs(0 until 4, 7).localCheckpoint()
    val deletes = Seq(10L, 11L, 12L).toDF("vec_id").localCheckpoint()
    // one materialization of the delta, then two writes of two jobs
    // each (keyed exchange + write)
    val appendJobs = jobs(IvfCosine.appendToIndex(p, added))
    assert(appendJobs <= 5, s"appendToIndex ran $appendJobs jobs")
    // one change-set materialization, the sidecar lookup (broadcast +
    // census), and two rewrites of three jobs each (broadcast, keyed
    // exchange, write)
    val applyJobs = jobs(IvfCosine.applyChanges(spark, p, upserts, deletes))
    assert(applyJobs <= 9, s"applyChanges ran $applyJobs jobs")
    val today = base.where(!col("vec_id").isin(0L to 3L: _*) &&
        !col("vec_id").isin(10L, 11L, 12L))
      .unionByName(upserts).unionByName(added)
    val rebuilt = IvfCosine.assignByCentroids(today, "vec_id", "embedding",
      grid).assigned
    val loaded = IvfCosine.loadIndex(spark, p, "vec_id", "embedding")
      .assigned.select("vec_id", "embedding", "cell")
    assert(loaded.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(loaded).isEmpty)
  }

  /** Jobs of one warm pass of a registry query over a synthetic
    * 600-row embeddings table; the counted pass must return the warm
    * pass's rows. */
  private def jobsPerPass(name: String): Int = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$name-jobs")
    val r = new scala.util.Random(13)
    (0 until 600).map(i =>
      (i.toLong, Array.fill(64)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    val q = SparkEntry.queries(name)
    val warm = q(spark, dir.toString).collect()
    var out: Array[org.apache.spark.sql.Row] = null
    val n = jobs { out = q(spark, dir.toString).collect() }
    assert(out.toSet == warm.toSet && out.nonEmpty)
    n
  }

  // the index build assigns with the nearest_centroid kernel in the
  // save's own write job: 36 jobs per q_index_maint pass and 19 per
  // q_ivf_append pass (39 and 22 with the broadcast cross-join
  // assignment, its id-keyed exchange and its partition probe)
  test("q_index_maint runs at most 38 jobs per pass") {
    val n = jobsPerPass("q_index_maint")
    assert(n <= 38, s"q_index_maint ran $n jobs")
  }

  test("q_ivf_append runs at most 21 jobs per pass") {
    val n = jobsPerPass("q_ivf_append")
    assert(n <= 21, s"q_ivf_append ran $n jobs")
  }
}
