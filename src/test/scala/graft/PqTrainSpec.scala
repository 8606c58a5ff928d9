package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.{IvfCosine, IvfPq, PqCosine}

/** Trained PQ / IVF-PQ codebooks (the FAISS `train` role): per-subspace
  * Lloyd over the bounded md5-ordered sample (residuals for IVF-PQ).
  * Pins (a) determinism — two independent trains are bit-identical
  * (what lets q_pq_trained publish to DynamicOracles), and (b) that
  * training actually helps — the ADC approximation error of trained
  * codebooks is below the pinned md5 grid's on the same data (the grid
  * is data-blind by construction; a trainer that didn't beat it would
  * be decorative). */
class PqTrainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private def corpus: DataFrame = {
    val r = new scala.util.Random(5)
    // two loose gaussian clusters — structure a trained quantizer can
    // exploit and a data-blind grid cannot
    (0 until 200).map { i =>
      val c = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.fill(dim)(c + 0.4f * r.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def adcErr(df: DataFrame): Double = {
    val rows = df.select(abs(col("cosine") - col("approx_cos")))
      .collect().map(_.getDouble(0))
    rows.sum / rows.length
  }

  test("PQ codebook training is deterministic (bit-identical across " +
    "independent runs) and beats the pinned md5 grid's ADC error") {
    val c = corpus.cache()
    val t1 = PqCosine.trainCodebooks(c, "vec_id", "embedding", m = 4,
      nk = 8)
    val t2 = PqCosine.trainCodebooks(c, "vec_id", "embedding", m = 4,
      nk = 8)
    assert(t1.indices.forall(mi => t1(mi).indices.forall(ki =>
      t1(mi)(ki).sameElements(t2(mi)(ki)))),
      "two trains over the same data must be bit-identical")
    val probes = c.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def err(books: Array[Array[Array[Double]]]) = adcErr(
      PqCosine.search(PqCosine.encode(c, "vec_id", "embedding", books),
        c, probes, "vec_id", "embedding", "qid", "qvec", books,
        k = 5, shortlist = 20))
    val trained = err(t1)
    val pinned = err(PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8))
    assert(trained < pinned,
      s"trained ADC error $trained must beat the pinned grid's $pinned")
  }

  test("IVF-PQ residual codebook training is deterministic and beats " +
    "pinned codebooks through the full encode + ADC + re-rank path") {
    val c = corpus.cache()
    // the trained coarse quantizer, via the public build path
    val coarse = IvfCosine.buildIndex(c, "vec_id", "embedding",
      nlist = 4).centroids
    val t1 = IvfPq.trainCodebooks(c, "vec_id", "embedding", coarse,
      m = 4, nk = 8)
    val t2 = IvfPq.trainCodebooks(c, "vec_id", "embedding", coarse,
      m = 4, nk = 8)
    assert(t1.indices.forall(mi => t1(mi).indices.forall(ki =>
      t1(mi)(ki).sameElements(t2(mi)(ki)))))
    val probes = c.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val coarseDf = IvfCosine.centroidsDf(spark, coarse)
    def err(books: Array[Array[Array[Double]]]) = {
      val booksDf = PqCosine.codebooksDf(spark, books)
      adcErr(IvfPq.searchDf(IvfPq.encodeDf(c, "vec_id", "embedding",
          coarseDf, booksDf, m = 4),
        c, probes, "vec_id", "embedding", "qid", "qvec", coarseDf, booksDf,
        k = 3, nprobe = 3, shortlist = 10, m = 4, nk = 8))
    }
    val trained = err(t1)
    val pinned = err(PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8))
    assert(trained < pinned,
      s"trained residual ADC error $trained must beat pinned $pinned")
  }
}
