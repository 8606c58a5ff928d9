package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark execution counters; a span's counts are the
  * difference of two snapshots. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskS: Double = 0, shuffleWriteB: Long = 0, shuffleReadB: Long = 0,
    spillB: Long = 0, gcS: Double = 0, exchanges: Long = 0,
    broadcasts: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskS - o.taskS, shuffleWriteB - o.shuffleWriteB,
    shuffleReadB - o.shuffleReadB, spillB - o.spillB, gcS - o.gcS,
    exchanges - o.exchanges, broadcasts - o.broadcasts)
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_s" -> taskS, "shuffle_write_b" -> shuffleWriteB,
    "shuffle_read_b" -> shuffleReadB, "spill_b" -> spillB, "gc_s" -> gcS,
    "exchanges" -> exchanges, "broadcasts" -> broadcasts)
}

/** The benchmark's own listener: job/stage/task counters from the
  * scheduler, exchange and broadcast counts from every executed plan,
  * and job intervals for the driver-gap measure. */
final class Meter extends SparkListener with QueryExecutionListener {
  private var c = Counts()
  private val open = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def snapshot: Counts = synchronized(c)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskS = c.taskS + m.executorRunTime / 1e3,
      shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadB = c.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
      spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled,
      gcS = c.gcS + m.jvmGCTime / 1e3)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val (ex, bc) = Meter.exchanges(qe.executedPlan)
    synchronized {
      c = c.copy(exchanges = c.exchanges + ex, broadcasts = c.broadcasts + bc)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Milliseconds of [t0, t1] that no running job covers. */
  def gapMs(t0: Long, t1: Long): Long = synchronized {
    (t1 - t0) - Meter.covered((intervals ++ open.values.map(s => (s, t1)))
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.toSeq)
  }
}

object Meter {
  /** Length of the union of half-open intervals. */
  def covered(xs: Seq[(Long, Long)]): Long = {
    var (total, cs, ce) = (0L, 0L, 0L)
    for ((s, e) <- xs.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > ce) { total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    total + (ce - cs)
  }

  /** (shuffle exchanges, broadcast exchanges) in a physical plan, looking
    * through adaptive wrappers, query stages and subqueries. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var (ex, bc) = (0, 0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other match {
          case _: ShuffleExchangeLike => ex += 1
          case _: BroadcastExchangeLike => bc += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, bc)
  }

  def register(spark: SparkSession): Meter = {
    val m = new Meter
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }
}

/** A place to open named spans; [[Spans.off]] when tracing is off. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object Spans {
  val off: Spans = new Spans {
    def apply[T](name: String)(body: => T): T = body
  }
}

/** One traced interval: name, wall clock (ms since epoch), parent span
  * id (-1 at the root), run id, and the counters recorded at its
  * boundaries. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, endMs: Long, wallS: Double, counts: Counts, gapS: Double)

/** Spans kept in memory and written when the run ends. A span is taken
  * around one call into a layer; the listener bus is drained at both
  * boundaries so the counts belong to the call. */
final class Tracer(spark: SparkSession, val meter: Meter, runId: String)
    extends Spans {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    PerfbenchBus.drain(spark.sparkContext)
    val c0 = meter.snapshot
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      PerfbenchBus.drain(spark.sparkContext)
      spans += Span(id, name, parent, runId, ms0, ms1, (t1 - t0) / 1e9,
        meter.snapshot - c0, meter.gapMs(ms0, ms1) / 1e3)
    }
  }

  /** The most recent span with this name. */
  def last(name: String): Span = spans.findLast(_.name == name).get

  /** Span wall time minus the part of it its direct children cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
    math.max(0.0, s.wallS - Meter.covered(kids.toSeq) / 1e3)
  }

  def toJson: String = Json(spans.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run_id" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "wall_s" -> s.wallS, "self_s" -> selfS(s), "gap_s" -> s.gapS,
      "counts" -> s.counts.toMap)
  }.toSeq)
}

/** JSON for the harness artifacts: Jackson with its Scala module, both
  * on Spark's classpath (`None` is written as null). */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .build()

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
