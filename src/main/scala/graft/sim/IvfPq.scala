package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Similarity

/** IVF-PQ — the canonical web-scale ANN index (Jégou et al. 2011 §V:
  * "inverted file with asymmetric distance computation", the structure
  * FAISS popularized as IVFPQ): a coarse quantizer routes each vector to
  * a cell, and product quantization encodes the RESIDUAL (vector minus
  * cell centroid) into `m` code bytes. Search probes the `nprobe` best
  * cells and scores candidates as
  *   dot(q, x) ≈ dot(q, c_cell) + Σ_mi LUT[mi][code_mi]
  * — the centroid term once per (probe, cell), the residual term from
  * the per-probe lookup table — then exact-re-ranks the shortlist.
  *
  * Why this is the 100 TB shape: the cell equi-join prunes the scan to
  * nprobe/nlist of the corpus (IVF), the scanned bytes per candidate are
  * `m` codes + a norm instead of the raw vector (PQ), and raw vectors
  * are fetched only for the shortlist. All three stages are the same
  * join/projection shapes as [[IvfCosine]] and [[PqCosine]].
  *
  * The coarse centroids and codebooks arrive as DataFrames (`coarse` =
  * (cell, cvec), `codebooks` = (m, k, bv)), and encoding, LUT
  * construction and probe routing broadcast-join them, so the plan
  * size is INDEPENDENT of nlist·m·nk — a literal correction table of
  * O(nlist·m·nk) entries would hit janino method limits and ship a
  * multi-MB plan with every task at production nlist. Encoding stays
  * one pass: the broadcast fan-out to m·nk candidates per row collapses
  * back map-side through per-subspace partial min aggregates before the
  * single id-keyed exchange. Routing is [[IvfCosine.route]], and the
  * shortlist and exact re-rank are [[CosineTopK.rerank]].
  *
  * Numeric contract for the oracle: residual dot products are computed
  * as the DIFFERENCE OF TWO DOTS, `s·c − c_cell_s·c` (never materializing
  * the residual vector), and the ADC sum is the explicit left-associated
  * chain `qc + t₀ + … + t₇` — the DuckDB SQL mirrors both forms, so the
  * full index — assignment, residual encoding, probe routing, ADC,
  * re-rank — verifies bit-for-bit against pinned centroid/codebook
  * grids. DataFormAnnSpec pins it equal, bit for bit, to a literal-table
  * reference that interpolates the grids into the plan.
  * North-star extension beyond the reference (SURVEY.md §7.6).
  */
object IvfPq {

  /** TRAIN residual codebooks — the FAISS `IndexIVFPQ.train` role
    * (Jégou et al. 2011 §V.A: product-quantize the residual
    * `x − q_coarse(x)`): the bounded sample assigns to its nearest
    * coarse centroid DRIVER-side (the sample is bounded; the corpus
    * assignment stays the distributed paths), residuals slice into
    * `m` subvectors, one Lloyd run per subspace. Same determinism
    * contract as [[PqCosine.trainCodebooks]]. */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Double]], m: Int, nk: Int, seed: Long = 42L,
      maxTrainRows: Int = 100000,
      iters: Int = 10): Array[Array[Array[Double]]] = {
    val sample = IvfCosine.boundedSample(corpus, idCol, vecCol,
      maxTrainRows)
    require(sample.nonEmpty, "ivf-pq codebooks: empty training sample")
    val dim = sample.head.length
    require(dim % m == 0,
      s"ivf-pq codebooks: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val residuals = sample.map { v =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < coarse.length) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i) - coarse(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      Array.tabulate(dim)(i => v(i) - coarse(best)(i))
    }
    Array.tabulate(m) { mi =>
      val sub = residuals.map(v => v.slice(mi * subDim, (mi + 1) * subDim))
      IvfCosine.lloydDriver(sub, nk, seed + mi, iters)
    }
  }

  /** Residual-PQ encoding: `coarse` = (cell, cvec) and `codebooks` =
    * (m, k, bv) arrive as DataFrames. The coarse cell
    * comes from [[IvfCosine.assignByCentroidsDf]] (the
    * `nearest_centroid` kernel, no fan-out); the codebooks broadcast-
    * join, and only `m` (the subspace count — a structural constant
    * like a column list, never a scale axis) shapes the plan: one
    * codebook fan-out, m partial-min aggregates, one id-keyed exchange.
    * The per-subspace comparator drops the constant `r·r` term: argmin_k
    * of `cc_k − 2·(s·c_k − c_cell_s·c_k)`, ties to the lowest code.
    * Output: (idCol, cell, codes array<int>, nrm). */
  def encodeDf(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    val assigned = IvfCosine
      .assignByCentroidsDf(corpus, idCol, vecCol, coarse)
      .withColumn("nrm",
        sqrt(Similarity.dot(col(vecCol), col(vecCol))))
    val cb = broadcast(codebooks.select(col("m").as("__m"),
      col("k").as("__k"), col("bv").as("__bv")))
    val subDim = size(col("__bv"))
    val start = col("__m") * subDim + 1
    val rDot = Similarity.dot(slice(col(vecCol), start, subDim),
        col("__bv")) -
      Similarity.dot(slice(col("__cvec"), start, subDim), col("__bv"))
    val d = Similarity.dot(col("__bv"), col("__bv")) - lit(2.0) * rDot
    val aggs = (0 until m).map(mi =>
      min(when(col("__m") === mi,
        struct(d.as("d"), col("__k").as("code")))).as(s"__best$mi"))
    assigned.crossJoin(cb)
      .groupBy(col(idCol))
      .agg(first(col("cell")).as("cell"), (first(col("nrm")).as("nrm")
        +: aggs): _*)
      .select(col(idCol), col("cell"),
        array((0 until m).map(mi => col(s"__best$mi.code")): _*)
          .as("codes"),
        col("nrm"))
  }

  /** Probe the `nprobe` cells closest by centroid cosine
    * ([[IvfCosine.route]]), ADC-score the in-cell candidates, keep the
    * `shortlist` best per probe, exact-re-rank to the top `k`. The
    * per-probe LUT is one broadcast join against the (m, k, bv) frame,
    * so the plan size is independent of nlist and nk. */
  def searchDf(codes: DataFrame, corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      coarse: DataFrame, codebooks: DataFrame, k: Int, nprobe: Int,
      shortlist: Int, m: Int, nk: Int): DataFrame = {
    val cb = broadcast(codebooks.select(col("m").as("__m"),
      col("k").as("__k"), col("bv").as("__bv")))
    val subDim = size(col("__bv"))
    // flat LUT per probe, position mi·nk + ki: collected as (m, k, v)
    // structs and sorted — (m, k) is unique, so lut[mi·nk + ki] =
    // q_mi · c_{mi,ki}
    val lutVal = Similarity.dot(
      slice(col(qvecCol), col("__m") * subDim + 1, subDim), col("__bv"))
    val withLut = probes.crossJoin(cb)
      .groupBy(col(qidCol))
      .agg(first(col(qvecCol)).as(qvecCol),
        array_sort(collect_list(struct(col("__m"), col("__k"),
          lutVal.as("v")))).as("__l0"))
      .select(col(qidCol), col(qvecCol),
        sqrt(Similarity.dot(col(qvecCol), col(qvecCol))).as("__qn"),
        transform(col("__l0"), x => x.getField("v")).as("__lut"))
    val probeCells = IvfCosine.route(withLut, qidCol, qvecCol, coarse,
      nprobe)
    // adc = __qc + Σ_mi lut[mi·nk + code_mi], left-associated
    val adc = (0 until m).map(mi =>
      element_at(col("__lut"),
        element_at(col("codes"), mi + 1) + lit(mi * nk) + 1))
      .foldLeft(col("__qc"))(_ + _)
    CosineTopK.rerank(codes.join(probeCells, Seq("cell"))
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(qvecCol), col("__qn"), col(idCol),
        (adc / (col("__qn") * col("nrm"))).as("approx_cos")),
      corpus, idCol, vecCol, qidCol, qvecCol, k, shortlist)
  }
}
