package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Similarity

/** Product quantization for nearest-neighbor search (Jégou, Douze,
  * Schmid 2011, "Product Quantization for Nearest Neighbor Search",
  * IEEE TPAMI — public paper): split each vector into `m` subvectors,
  * quantize every subvector against a per-subspace codebook of `k`
  * centroids, and represent the vector by its `m` code bytes plus its
  * true norm. Search scores codes with the paper's asymmetric distance
  * computation (ADC): the probe precomputes one dot product per
  * (subspace, centroid) — an m×k lookup table — and each candidate costs
  * `m` table lookups instead of a full-dimension dot product.
  *
  * This is THE storage-bound scale path for embedding search: at 100 TB
  * of raw float vectors the PQ code table is ~2-6% of the raw size
  * (m bytes + one float vs 4·dim bytes), so the ADC scan reads a
  * fraction of the bytes, and the exact vectors are touched only for the
  * small re-rank shortlist. Every stage is a pure codegen projection or
  * a broadcast of the (tiny) probe set — encoding shuffles nothing,
  * scoring reuses [[CosineTopK]]'s broadcast-probe shape.
  *
  * Codebooks here are PINNED (md5-derived, like
  * [[IvfCosine.pinnedCentroids]]), which makes encoding, the ADC scores,
  * and the re-rank all engine-reproducible — the full search path
  * verifies bit-for-bit against the DuckDB oracle. k-means codebook
  * training follows the same bounded-sample path as
  * [[IvfCosine.buildIndex]] and is covered by its tests.
  *
  * North-star extension beyond the reference surface (SURVEY.md §7.6).
  */
object PqCosine {

  /** codebooks(m)(k) = centroid k of subspace m (dimension subDim),
    * deterministic md5 grid (distinct seed domain from the IVF grid). */
  def pinnedCodebooks(m: Int, subDim: Int, k: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m, k, subDim) { (mi, ki, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"pq:$mi:$ki:$d".getBytes("UTF-8"))
      (((h(0) & 0xff) * 256 + (h(1) & 0xff)).toDouble / 65535.0) - 0.5
    }

  /** TRAIN per-subspace codebooks — the FAISS `ProductQuantizer.train`
    * role (Jégou et al. 2011 §II.C: independent k-means per subspace):
    * one bounded md5-ordered sample ([[IvfCosine.boundedSample]] — the
    * same draw every bounded trainer uses), sliced into `m` subvectors,
    * one driver Lloyd run per subspace ([[IvfCosine.lloydDriver]],
    * seed offset by the subspace index). Deterministic pure function of
    * the data — trained codebooks can publish to DynamicOracles and the
    * whole encode/ADC/re-rank path verifies under them (q_pq_trained),
    * exactly the q_ivf_topk treatment. */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, nk: Int, seed: Long = 42L, maxTrainRows: Int = 100000,
      iters: Int = 10): Array[Array[Array[Double]]] = {
    val sample = IvfCosine.boundedSample(corpus, idCol, vecCol,
      maxTrainRows)
    require(sample.nonEmpty, "pq codebooks: empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"pq codebooks: dim $dim not divisible by m=$m")
    val subDim = dim / m
    Array.tabulate(m) { mi =>
      val sub = sample.map(v => v.slice(mi * subDim, (mi + 1) * subDim))
      IvfCosine.lloydDriver(sub, nk, seed + mi, iters)
    }
  }

  /** Codebooks as DATA — one row per (subspace, code): (m int, k int,
    * bv array<double>) — for the data-form IVF-PQ paths
    * ([[IvfPq.encodeDf]] / [[IvfPq.searchDf]]). */
  def codebooksDf(spark: org.apache.spark.sql.SparkSession,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      mi <- codebooks.indices; ki <- codebooks(mi).indices
    } yield (mi, ki, codebooks(mi)(ki))).toDF("m", "k", "bv")
  }

  /** Per-subspace argmin code against fixed codebooks. The squared
    * distance's `s·s` term is constant within a subspace's argmin, so
    * the comparator is `cc − 2·s·c` (ties to the lowest code) — the
    * oracle mirrors the same reduced form. Output: (idCol, codes
    * array<int> of length m, nrm — the true vector norm kept for cosine
    * ranking, the standard IP/cosine-with-PQ companion scalar). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val subDim = codebooks(0)(0).length
    val codeCols: Seq[Column] = codebooks.toIndexedSeq.zipWithIndex.map {
      case (book, mi) =>
        val sub = slice(col(vecCol), mi * subDim + 1, subDim)
        val cands = book.zipWithIndex.map { case (c, ki) =>
          val cc = c.map(x => x * x).sum
          struct((lit(cc) - lit(2.0) * Similarity.dot(sub, typedlit(c)))
            .as("d"), lit(ki).as("code"))
        }
        array_min(array(cands.toIndexedSeq: _*)).getField("code")
    }
    corpus.select(col(idCol), array(codeCols: _*).as("codes"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("nrm"))
  }

  /** ADC top-k with exact re-rank: score every (probe, code-row) pair by
    * the flattened-LUT sum, keep the `shortlist` best per probe, re-rank
    * those few with the exact cosine, emit the top `k`. Probes broadcast
    * (they are the small side); the code table is the big scanned side. */
  def search(codes: DataFrame, corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      codebooks: Array[Array[Array[Double]]], k: Int,
      shortlist: Int): DataFrame = {
    val m = codebooks.length
    val nk = codebooks(0).length
    val subDim = codebooks(0)(0).length
    // flat m·k LUT per probe: lut[mi*nk + ki] = q_mi · c_{mi,ki}
    val lutTerms: Seq[Column] = for {
      mi <- 0 until m; ki <- 0 until nk
    } yield Similarity.dot(slice(col(qvecCol), mi * subDim + 1, subDim),
      typedlit(codebooks(mi)(ki)))
    val probesLut = probes.select(col(qidCol), col(qvecCol),
      sqrt(Similarity.dot(col(qvecCol), col(qvecCol))).as("__qn"),
      array(lutTerms: _*).as("__lut"))
    // adc = Σ_mi lut[mi·nk + code_mi] as an explicit left-associated sum
    val adc = (0 until m).map(mi =>
      element_at(col("__lut"),
        element_at(col("codes"), mi + 1) + lit(mi * nk) + 1))
      .reduceLeft(_ + _)
    // exact re-rank touches only shortlist·|probes| raw vectors
    CosineTopK.rerank(
      codes.join(broadcast(probesLut), col(qidCol) =!= col(idCol))
        .select(col(qidCol), col(qvecCol), col("__qn"), col(idCol),
          (adc / (col("__qn") * col("nrm"))).as("approx_cos")),
      corpus, idCol, vecCol, qidCol, qvecCol, k, shortlist)
  }
}
