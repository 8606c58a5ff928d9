package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch diagnostics for the connected-components round shape: print
  * the physical plan of ONE large-star/small-star contraction round in
  * the DataFrame spelling that [[graft.dedup.DupClusters.connectedComponents]]
  * used before its loop moved to pair RDDs. The probe keeps that old
  * round on purpose: its plan shows the exchange count and the
  * duplicated min-join subtrees that the RDD rewrite removed (the RDD
  * round has no Catalyst plan to print). Dev aid; not part of the
  * driver contract. */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("lo", "hi").localCheckpoint(eager = true)
    // one round in the former DataFrame spelling (see the object doc)
    val sym = e.union(e.select(col("hi").as("lo"), col("lo").as("hi")))
      .toDF("u", "v")
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("__nmin"))
      .select(col("u"), least(col("u"), col("__nmin")).as("m"))
    val ls = sym.where(col("v") > col("u"))
      .join(mins, "u")
      .select(col("m").as("lo"), col("v").as("hi"))
      .where(col("lo") =!= col("hi"))
    val down = ls.select(col("hi").as("u"), col("lo").as("v"))
    val dmins = down.groupBy(col("u")).agg(min(col("v")).as("mv"))
    val rewired = down.join(dmins, "u")
      .select(col("mv").as("lo"), col("v").as("hi"))
      .where(col("lo") =!= col("hi"))
    val selfEdges = dmins.select(col("mv").as("lo"), col("u").as("hi"))
    val e2 = rewired.union(selfEdges).distinct()
    e2.write.format("noop").mode("overwrite").save()
    println("=== executed plan of one contraction round ===")
    println(e2.queryExecution.executedPlan.toString.take(8000))
  }
}
