package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.{AnnIndexIO, IvfCosine, IvfPq, PqCosine, SqCosine}

/** Compressed-ANN index persistence (VERDICT r12 item 3): the IVF-PQ /
  * PQ / SQ8 artifacts save → load → search BIT-identically to the
  * freshly built index, deltas append through the loaded quantizer
  * parameters (≡ a full union rebuild), and the row-count commit
  * protocol detects a partially committed code table at load. */
class AnnIndexIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private def vecs(ids: Range, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Array.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def tmp(sub: String) =
    java.nio.file.Files.createTempDirectory("graft-annio")
      .resolve(sub).toString

  private def bits(df: DataFrame): Set[(Long, Long, Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
      r.getInt(4))).toSet

  test("ivf-pq: save -> load -> search equals the built index; append " +
    "through the loaded params equals a union rebuild") {
    val coarse = IvfCosine.pinnedCentroids(4, dim)
    val books = PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8)
    val (coarseDf, booksDf) = (IvfCosine.centroidsDf(spark, coarse),
      PqCosine.codebooksDf(spark, books))
    val base = vecs(0 until 60, 31).cache()
    val delta = vecs(60 until 90, 32).cache()
    val all = base.unionByName(delta)
    val probes = all.where(col("vec_id") % 9 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def search(codes: DataFrame) =
      IvfPq.searchDf(codes, all, probes, "vec_id", "embedding",
        "qid", "qvec", coarseDf, booksDf, k = 3, nprobe = 3,
        shortlist = 10, m = 4, nk = 8)
    val p = tmp("ivfpq")
    AnnIndexIO.saveIvfPq(p, coarse, books,
      IvfPq.encodeDf(base, "vec_id", "embedding", coarseDf, booksDf,
        m = 4), "vec_id")
    AnnIndexIO.appendIvfPq(p, delta, "embedding")
    val loaded = AnnIndexIO.loadIvfPq(spark, p)
    // quantizer parameters round-trip bit-exactly
    assert(loaded.coarse.indices.forall(i =>
      loaded.coarse(i).sameElements(coarse(i))))
    assert(loaded.codebooks.indices.forall(mi =>
      loaded.codebooks(mi).indices.forall(ki =>
        loaded.codebooks(mi)(ki).sameElements(books(mi)(ki)))))
    val rebuilt = IvfPq.encodeDf(all, "vec_id", "embedding", coarseDf,
      booksDf, m = 4)
    assert(bits(search(loaded.codes)) == bits(search(rebuilt)),
      "search over the loaded+appended codes must equal a union rebuild")
    assert(bits(search(loaded.codes)).nonEmpty)
  }

  test("pq: save -> load -> append -> search equals a union rebuild") {
    val books = PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8)
    val base = vecs(0 until 50, 41).cache()
    val delta = vecs(50 until 75, 42).cache()
    val all = base.unionByName(delta)
    val probes = all.where(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def search(codes: DataFrame) =
      PqCosine.search(codes, all, probes, "vec_id", "embedding",
        "qid", "qvec", books, k = 3, shortlist = 10)
    val p = tmp("pq")
    AnnIndexIO.savePq(p, books,
      PqCosine.encode(base, "vec_id", "embedding", books), "vec_id")
    AnnIndexIO.appendPq(p, delta, "embedding")
    val loaded = AnnIndexIO.loadPq(spark, p)
    val rebuilt = PqCosine.encode(all, "vec_id", "embedding", books)
    assert(bits(search(loaded.codes)) == bits(search(rebuilt)))
    assert(bits(search(loaded.codes)).nonEmpty)
    // a wrong-dimension delta is refused before any write
    intercept[IllegalArgumentException] {
      AnnIndexIO.appendPq(p, Seq((99L, Array.fill(dim + 2)(0.1f)))
        .toDF("vec_id", "embedding"), "embedding")
    }
  }

  test("sq8: save -> load -> append -> search equals a union rebuild; " +
    "load detects a partially committed code table") {
    val base = vecs(0 until 50, 51).cache()
    val delta = vecs(50 until 75, 52).cache()
    val all = base.unionByName(delta)
    val probes = all.where(col("vec_id") % 8 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def search(codes: DataFrame) =
      SqCosine.search(codes, all, probes, "vec_id", "embedding",
        "qid", "qvec", k = 3, shortlist = 10)
    val p = tmp("sq8")
    AnnIndexIO.saveSq(p, SqCosine.encode(base, "vec_id", "embedding"),
      "vec_id")
    AnnIndexIO.appendSq(p, delta, "embedding")
    val loaded = AnnIndexIO.loadSq(spark, p)
    val rebuilt = SqCosine.encode(all, "vec_id", "embedding")
    assert(bits(search(loaded.codes)) == bits(search(rebuilt)))
    assert(bits(search(loaded.codes)).nonEmpty)
    // wrong-dimension delta refused (code width is recorded index state)
    intercept[IllegalArgumentException] {
      AnnIndexIO.appendSq(p, Seq((99L, Array.fill(dim + 2)(0.1f)))
        .toDF("vec_id", "embedding"), "embedding")
    }
    // partial commit: delete one part file -> load refuses
    val victim = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$p/codes"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.delete(victim)
    val e = intercept[IllegalArgumentException] {
      AnnIndexIO.loadSq(spark, p)
    }
    assert(e.getMessage.contains("did not commit completely"))
    AnnIndexIO.loadSq(spark, p, verifyRows = false) // forensic escape
  }

  test("sq8 width protocol (ADVICE r13): a MIXED-width frame is " +
    "refused at save (min/max aggregate, not one arbitrary row); an " +
    "index saved EMPTY adopts the first delta's strictly-validated " +
    "width and then refuses mismatches") {
    // mixed widths must be refused at save, not blessed by head(1)
    val mixed = Seq((1L, Array.fill(dim)(0.1f)),
      (2L, Array.fill(dim + 4)(0.2f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      AnnIndexIO.saveSq(tmp("sq8-mixed"),
        SqCosine.encode(mixed, "vec_id", "embedding"), "vec_id")
    }
    // empty save records no dim; first append ADOPTS its width...
    val p = tmp("sq8-empty")
    AnnIndexIO.saveSq(p,
      SqCosine.encode(vecs(0 until 0, 1), "vec_id", "embedding"),
      "vec_id")
    AnnIndexIO.appendSq(p, vecs(0 until 10, 53), "embedding")
    // ...and from then on the adopted width is enforced
    intercept[IllegalArgumentException] {
      AnnIndexIO.appendSq(p, Seq((99L, Array.fill(dim + 2)(0.1f)))
        .toDF("vec_id", "embedding"), "embedding")
    }
    // an all-empty lineage still refuses an empty adopt
    val p2 = tmp("sq8-empty2")
    AnnIndexIO.saveSq(p2,
      SqCosine.encode(vecs(0 until 0, 1), "vec_id", "embedding"),
      "vec_id")
    intercept[IllegalArgumentException] {
      AnnIndexIO.appendSq(p2, vecs(0 until 0, 1), "embedding")
    }
    assert(AnnIndexIO.loadSq(spark, p).codes.count() == 10)
  }

  test("serve a probe STREAM against the persisted IVF-PQ index: " +
    "per-batch searchDf over loadIvfPq equals the batch search (the " +
    "compressed-index query-serving shape — code table built once, " +
    "queries arrive forever)") {
    val coarse = IvfCosine.pinnedCentroids(4, dim)
    val books = PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8)
    val (coarseDf, booksDf) = (IvfCosine.centroidsDf(spark, coarse),
      PqCosine.codebooksDf(spark, books))
    val corpus = vecs(0 until 90, 71).cache()
    val p = tmp("ivfpq-serve")
    AnnIndexIO.saveIvfPq(p, coarse, books,
      IvfPq.encodeDf(corpus, "vec_id", "embedding", coarseDf, booksDf,
        m = 4), "vec_id")
    val loaded = AnnIndexIO.loadIvfPq(spark, p)
    val probes = corpus.where(col("vec_id") % 9 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def search(ps: DataFrame) =
      IvfPq.searchDf(loaded.codes, corpus, ps, "vec_id", "embedding",
        "qid", "qvec", coarseDf, booksDf, k = 3, nprobe = 3,
        shortlist = 10, m = 4, nk = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqserve")
    val inDir = dir.resolve("in").toString
    probes.write.parquet(inDir)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long, Long, Int)]()
    val q = spark.readStream.schema(probes.schema).parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per micro-batch: the SAME cell-pruned ADC plan, probes =
        // just this batch (ranks are per-qid, so batch-local windows
        // equal the global ones)
        search(batch).collect().foreach(r => got.add((r.getLong(0),
          r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)),
          r.getInt(4))))
      }
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    val batchResults = bits(search(probes))
    assert(scala.jdk.CollectionConverters.IteratorHasAsScala(
      got.iterator).asScala.toSet == batchResults,
      "streamed per-batch PQ search must equal the batch search " +
        "bit-for-bit")
    assert(batchResults.nonEmpty)
  }

  test("ivf-pq artifact refuses a family mismatch and a tampered " +
    "codes schema with path-bearing errors") {
    val coarse = IvfCosine.pinnedCentroids(4, dim)
    val books = PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8)
    val p = tmp("ivfpq2")
    AnnIndexIO.saveIvfPq(p, coarse, books,
      IvfPq.encodeDf(vecs(0 until 30, 61), "vec_id", "embedding",
        IvfCosine.centroidsDf(spark, coarse),
        PqCosine.codebooksDf(spark, books), m = 4), "vec_id")
    // loading through the wrong family loader names the family
    val e = intercept[IllegalArgumentException] {
      AnnIndexIO.loadPq(spark, p)
    }
    assert(e.getMessage.contains("ivfpq_index") ||
      e.getMessage.contains("pq_index"))
  }
}
