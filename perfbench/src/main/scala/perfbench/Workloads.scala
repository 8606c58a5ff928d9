package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sim.IvfCosine

/** One operation of a workload pass. `run(check)` performs the call and
  * returns the frame the harness materializes. With `check` set it also
  * verifies what it can in-process and throws on a mismatch. `records`
  * is the input size the throughput metrics divide by; `queries` counts
  * probe queries; `oracle` names the registry query whose DuckDB oracle
  * checks the output (every registry op the workloads run has one). */
final case class Op(name: String, flow: String, records: Long,
    queries: Long = 0, oracle: Option[String] = None)(
    val run: Boolean => DataFrame)

trait Workload {
  def name: String
  /** Seconds one warm timed pass takes on a quiet 4-core host; sets how
    * many passes a run of a given length measures. */
  def nominalPassS: Double
  /** The ops of one pass, in order. Called once per pass: any per-pass
    * state (a fresh index) is prepared here, outside the timed region.
    * Ops that make several layer calls open `spans` around each. */
  def pass(check: Boolean, spans: Spans = Spans.off): Seq[Op]
}

object Workloads {
  val Dim = 64

  def apply(name: String, spark: SparkSession, dir: String, seed: Long,
      tmp: Path): Workload = name match {
    case "panel" => new Panel(spark, dir)
    case "corpus" => new Corpus(spark, dir, seed, tmp)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (panel, corpus)")
  }

  def rows(spark: SparkSession, dir: String, table: String): Long =
    spark.read.parquet(s"$dir/$table.parquet").count()

  def registry(spark: SparkSession, dir: String, q: String, flow: String,
      records: Long, queries: Long = 0): Op =
    Op(q, flow, records, queries, Some(q))(_ =>
      SparkEntry.queries(q)(spark, dir))
}

/** centimators' own traffic on the date x ticker panel (lineitem:
  * l_shipdate x l_suppkey): window features, the neutralizer, and the
  * MLP and attention scorers. */
final class Panel(spark: SparkSession, dir: String) extends Workload {
  import Workloads.registry
  val name = "panel"
  val nominalPassS = 2.9
  private val n = Workloads.rows(spark, dir, "lineitem")
  private val eras = spark.read.parquet(s"$dir/lineitem.parquet")
    .select(date_format(col("l_shipdate"), "yyyy-MM")).distinct().count()

  def pass(check: Boolean, spans: Spans): Seq[Op] =
    Seq("q_logreturn", "q_rank")
      .map(registry(spark, dir, _, "features", n)) ++
    Seq(registry(spark, dir, "q_neutralize", "postprocess", eras)) ++
    Seq("q_mlp_score", "q_attn_score")
      .map(registry(spark, dir, _, "score", n))
}

/** The LLM-data path: reads (minhash dedup and vocabulary over the
  * documents, a trained IVF index searched by probe queries) and the
  * write path (one seeded daily batch through the index-maintenance
  * steps). */
final class Corpus(spark: SparkSession, dir: String, seed: Long, tmp: Path)
    extends Workload {
  import Workloads.registry
  val name = "corpus"
  val nominalPassS = 7.0
  private val docs = Workloads.rows(spark, dir, "documents")
  private val vecs = Workloads.rows(spark, dir, "embeddings")
  private val probes = spark.read.parquet(s"$dir/embeddings.parquet")
    .where(col("vec_id") < 50).count()
  private val daily = new DailyBatch(spark, dir, seed, tmp)

  def pass(check: Boolean, spans: Spans): Seq[Op] =
    // q_cc_components is left to the traced dedup probe: its DuckDB
    // oracle alone takes about 5 s a run
    Seq("q_dedup_minhash", "q_vocab")
      .map(registry(spark, dir, _, "curate", docs)) ++
    Seq(registry(spark, dir, "q_ivf_topk", "search", vecs, probes),
      daily.op(Files.createTempDirectory(tmp, "daily-index"), spans))
}

/** One seeded daily batch applied to a saved IVF index with the
  * q_index_maint steps: SnapshotDiff, appendToIndex, applyChanges,
  * loadIndex and a probe search. Every op starts from a copy of the
  * same saved day-0 index. */
final class DailyBatch(spark: SparkSession, dir: String, seed: Long,
    tmp: Path) {
  import Workloads.Dim

  private val grid = IvfCosine.pinnedCentroids(16, Dim)
  private val cents = IvfCosine.centroidsDf(spark, grid).localCheckpoint()
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private val all: Vector[(Long, Array[Float])] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect().toVector
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  // ~1.5% of the corpus: `perKind` ids each retired, re-embeds (vector
  // halved) and added from a seeded pool held out of day 0
  private val perKind = math.max(1, (all.size * 0.005).round.toInt)
  private val rnd = new scala.util.Random(seed * 1000003L + 17)
  private val pool = rnd.shuffle(all.map(_._1)).take(perKind).toSet
  private val day0 = all.filterNot(v => pool(v._1)).toMap
  private val day1 = {
    val ids = rnd.shuffle(day0.keys.toVector.sorted)
    val (gone, edit) = (ids.take(perKind).toSet,
      ids.slice(perKind, 2 * perKind).toSet)
    (day0 -- gone).map { case (k, v) =>
      k -> (if (edit(k)) v.map(_ * 0.5f) else v) } ++
      all.filter(v => pool(v._1))
  }
  private val probeIds = rnd.shuffle(day1.keys.toVector.sorted).take(5).toSet
  /** Records the batch applies: added + changed + removed ids. */
  private val changes = 3L * perKind

  private def frame(snap: Map[Long, Array[Float]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      snap.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v.toSeq) }: _*),
      schema)

  private val saved = {
    val p = Files.createTempDirectory(tmp, "daily-day0").resolve("idx")
    IvfCosine.saveIndex(p.toString, IvfCosine.Index(grid,
      IvfCosine.assignByCentroidsDf(frame(day0), "vec_id", "embedding",
        cents).select("vec_id", "embedding", "cell")), "vec_id", "embedding")
    p
  }

  private def search(assigned: DataFrame, q: DataFrame): DataFrame =
    IvfCosine.searchDf(assigned, q, "vec_id", "embedding", "qid", "qvec",
      cents, k = 5, nprobe = 4, dim = Dim)
      .select(col("qid"), col("nid"), col("cosine"), col("rank"))

  private def same(a: DataFrame, b: DataFrame, what: String): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    if (rows(a) != rows(b))
      throw new IllegalStateException(s"$what differs")
  }

  private def batch(path: String, spans: Spans)(check: Boolean): DataFrame = {
    val (prev, next) = (frame(day0), frame(day1))
    val d = spans("sources.diff") {
      graft.sources.SnapshotDiff.diff(prev, next, "vec_id",
        md5(to_json(struct(col("embedding"))))).localCheckpoint()
    }
    val added = next.join(d.where(col("status") === "added")
      .select("vec_id"), Seq("vec_id"))
    val changed = next.join(d.where(col("status") === "changed")
      .select("vec_id"), Seq("vec_id"))
    val removed = d.where(col("status") === "removed").select("vec_id")
    spans("sim.index.append") { IvfCosine.appendToIndex(path, added) }
    spans("sim.index.apply") {
      IvfCosine.applyChanges(spark, path, changed, removed)
    }
    val idx = spans("sim.index.load") {
      IvfCosine.loadIndex(spark, path, "vec_id", "embedding")
    }
    val q = frame(day1.filter(kv => probeIds(kv._1)))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    if (check) {
      // maintenance is value-transparent: the maintained index must equal
      // a fresh assignment of day 1, and so must its search results
      val fresh = IvfCosine.assignByCentroidsDf(next, "vec_id",
        "embedding", cents).select("vec_id", "embedding", "cell")
      same(idx.assigned.select("vec_id", "embedding", "cell"), fresh,
        "maintained index")
      same(search(idx.assigned, q), search(fresh, q), "probe search")
    }
    search(idx.assigned, q)
  }

  private def copy(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally s.close()
  }

  /** The batch as an op whose index copy lives under `root`. */
  def op(root: Path, spans: Spans): Op = {
    val path = root.resolve("idx")
    copy(saved, path)
    Op("daily_batch", "batch", changes)(batch(path.toString, spans))
  }
}
