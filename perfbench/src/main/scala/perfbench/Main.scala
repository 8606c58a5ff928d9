package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark JVM: sets up the session, runs one workload's check pass
  * (outputs written for the oracle compare), then closed-loop timed
  * passes for the requested seconds, and with `--trace 1` one traced
  * pass plus the layer probes. Everything it measures goes to
  * `<out>/result.json`; `run.py` checks outputs and prints the metrics.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --out DIR --seed N
  *   --seconds S --trace 0|1 [--fail-op NAME] */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val dir = args("inputs")
    val out = Paths.get(args("out"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val failOp = args.get("fail-op")
    val cores = Runtime.getRuntime.availableProcessors
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    Files.createDirectories(out)

    // set-up: JVM start until the session, the listener and warm-up are
    // ready
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, tmp)
    val meter = if (trace) Meter.register(spark) else null
    warm(spark, dir)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl = Workloads(workload, spark, dir, seed, tmp)
    val opsMeta = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def note(op: Op): Unit = opsMeta.getOrElseUpdate(op.name, Map(
      "flow" -> op.flow, "records" -> op.records, "queries" -> op.queries,
      "oracle" -> op.oracle))

    // check pass: untimed, doubles as the warm pass
    val check = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    for (op <- wl.pass(check = true)) {
      note(op)
      val t0 = System.nanoTime()
      val path = out.resolve("check").resolve(op.name).toString
      val res = attempt(op, failOp, check = true)(
        rowsOf(_, _.write.mode("overwrite").parquet(path)))
      check(op.name) = res + ("s" -> (System.nanoTime() - t0) / 1e9)
    }
    // dynamic oracles (q_ivf_topk) embed what the check pass fitted, so
    // the SQL is rendered only now; an op whose named oracle is still
    // absent fails its check
    val oracles = opsMeta.values.flatMap(_("oracle").asInstanceOf[Option[String]])
      .toSet
    Files.writeString(out.resolve("oracle_sql.json"),
      Json(graft.SparkEntry.oracleSql.filter(kv => oracles(kv._1))))

    // closed-loop timed passes, one client. The pass count is fixed per
    // workload and `seconds` (about `seconds` of work on a 4-core host),
    // so every run and every commit takes its per-op minima over the same
    // number of passes.
    // (a traced run reports no end-to-end metrics: one pass is its
    // untraced baseline for trace.overhead_frac)
    val nPasses = if (trace) 1
      else math.max(2, math.ceil(seconds / wl.nominalPassS).toInt)
    val passes = (1 to nPasses).map(_ => timedPass(spark, wl, failOp, None))

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "settings" -> settings(spark), "setup_s" -> setup,
      "ops" -> opsMeta.toMap, "check" -> check.toMap, "passes" -> passes)

    if (trace) {
      val tracer = new Tracer(spark, meter, s"$workload-$seed")
      val traced = tracer("pass") {
        timedPass(spark, wl, failOp, Some(tracer))
      }
      val (layers, layerErrors) = tracer("layers") {
        new Layers(spark, dir, seed, tmp, tracer, failOp).run()
      }
      result("layers") = layers
      result("layer_errors") = layerErrors
      Files.writeString(out.resolve("spans.json"), tracer.toJson)
      result("traced_pass") = traced
    }
    Files.writeString(out.resolve("result.json"), Json(result.toMap))
    spark.stop()
  }

  /** The session settings of the library's own benchmark main. */
  def session(cores: Int, tmp: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "131072")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def settings(spark: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.codegen.hugeMethodLimit",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.get(k)).toMap

  /** First-touch process costs paid before anything is timed, as in the
    * library's own benchmark main: parquet reads, aggregate and explode
    * codegen shapes, and a small neutralizer solve (netlib/BLAS class
    * loading). The check pass then runs every op untimed. */
  private def warm(spark: SparkSession, dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet").limit(2000)
      .select(monotonically_increasing_id().as("rid"),
        col("l_extendedprice"), col("l_quantity"), lit("w").as("era"))
    graft.solvers.FeatureNeutralizer(Seq("l_extendedprice"),
      Seq("l_quantity"), Seq(0.5), "era", "rid").outputsOnly(li).count()
    spark.read.parquet(s"$dir/lineitem.parquet").limit(64)
      .groupBy(col("l_suppkey")).agg(sum(col("l_extendedprice"))).collect()
    spark.read.parquet(s"$dir/documents.parquet").limit(64)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .select(sum(col("n"))).collect()
    spark.read.parquet(s"$dir/embeddings.parquet").limit(64)
      .select(sum(size(col("embedding")))).collect()
  }

  /** Materializes `df` through `sink`, counting its rows on the way. */
  def rowsOf(df: DataFrame, sink: DataFrame => Unit): Long = {
    val obs = Observation("rows")
    sink(df.observe(obs, count(lit(1)).as("n")))
    obs.get("n").asInstanceOf[Long]
  }

  /** Evaluates every output column without a sink cost (a `count()`
    * would let the optimizer prune columns). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs one op, mapping a throw to an error entry. */
  private def attempt(op: Op, failOp: Option[String], check: Boolean)(
      materialize: DataFrame => Long): Map[String, Any] =
    try {
      if (failOp.contains(op.name))
        throw new IllegalStateException("failure injected by --fail-op")
      Map("rows" -> materialize(op.run(check)), "error" -> null)
    } catch { case e: Throwable =>
      Map("rows" -> -1L, "error" -> (e.getClass.getSimpleName + ": " +
        String.valueOf(e.getMessage).take(300)))
    }

  private def timedPass(spark: SparkSession, wl: Workload,
      failOp: Option[String], tracer: Option[Tracer]): Map[String, Any] = {
    val ops = wl.pass(check = false, tracer.getOrElse(Spans.off))
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    var wall = 0.0
    // JIT and process CPU seconds of the pass, to tell compilation and
    // host contention from the ops' own cost in the artifact
    val jit = ManagementFactory.getCompilationMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (jit0, cpu0) = (jit.getTotalCompilationTime, os.getProcessCpuTime)
    for (op <- ops) {
      // untimed between ops, as in the library's own bench
      spark.catalog.clearCache()
      graft.operators.GraftTransformer.unpersistAll()
      System.gc()
      val t0 = System.nanoTime()
      def go() = attempt(op, failOp, check = false)(rowsOf(_, noop))
      val r = tracer.fold(go())(_(s"op.${op.name}")(go()))
      val dt = (System.nanoTime() - t0) / 1e9
      wall += dt
      rows += r ++ Map("name" -> op.name, "s" -> dt)
    }
    Map("wall_s" -> wall, "ops" -> rows.toSeq,
      "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
      "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9)
  }
}
