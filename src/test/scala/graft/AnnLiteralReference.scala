package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Similarity
import graft.sim.IvfCosine

/** The former literal-table IVF and IVF-PQ search paths, kept verbatim
  * as a test reference: the centroid grid and codebooks enter the plan
  * as `typedlit` tables, each probe posexplodes the grid and recomputes
  * `sqrt(c·c)` per (probe, cell), the IVF-PQ encoder carries an
  * O(nlist·m·nk) correction literal, and each search keeps its own
  * shortlist, re-rank and top-k windows. The library now routes, encodes
  * and re-ranks through the data-form paths ([[IvfCosine.searchDf]],
  * [[graft.sim.IvfPq.encodeDf]], [[graft.sim.IvfPq.searchDf]]), and
  * DataFormAnnSpec asserts their output equal to these, raw bits for
  * the IVF search. */
object AnnLiteralReference {

  /** IVF top-k: literal routing + the cell equi-join scan. */
  def ivfSearch(index: IvfCosine.Index, probes: DataFrame, idCol: String,
      vecCol: String, qidCol: String, qvecCol: String, k: Int,
      nprobe: Int, dim: Int): DataFrame = {
    // centroid table as ONE nested-array literal; probe-side cell ranking
    // explodes nlist tiny structs per probe (probes are the small side)
    val cents = typedlit(index.centroids)
    val qn = sqrt(Similarity.dotExpr(col(qvecCol), col(qvecCol), dim))
    val probeCells = probes
      .select(col(qidCol), col(qvecCol), qn.as("__qn"),
        posexplode(cents).as(Seq("__c0", "cvec")))
      .withColumn("__csim",
        Similarity.dot(col(qvecCol), col("cvec"))
          / (col("__qn") * sqrt(Similarity.dot(col("cvec"), col("cvec")))))
      .withColumn("__crank", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("__csim").desc, col("__c0"))))
      .where(col("__crank") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("__qn"),
        col("__c0").as("cell"))
    val corpus = index.assigned.select(col(idCol), col(vecCol), col("cell"),
      sqrt(Similarity.dotExpr(col(vecCol), col(vecCol), dim)).as("__cn"))
    probeCells.join(corpus, Seq("cell"))
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol).as("qid"), col(idCol).as("nid"),
        (Similarity.dotExpr(col(qvecCol), col(vecCol), dim)
          / (col("__qn") * col("__cn"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("nid"))))
      .where(col("rank") <= k)
  }

  /** Residual-PQ encoding against fixed coarse centroids + codebooks.
    * Output: (idCol, cell, codes array<int>, nrm). The per-subspace
    * comparator drops the constant `r·r` term: argmin_k of
    * `cc_k − 2·(s·c_k − c_cell_s·c_k)`, where the `c_cell_s·c_k`
    * corrections are 3-D literals indexed by the runtime cell id. */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val subDim = codebooks(0)(0).length
    val assigned = IvfCosine
      .assignByCentroids(corpus, idCol, vecCol, coarse).assigned
    val codeCols: Seq[Column] = codebooks.toIndexedSeq.zipWithIndex.map {
      case (book, mi) =>
        val sub = slice(col(vecCol), mi * subDim + 1, subDim)
        val cands = book.zipWithIndex.map { case (ck, ki) =>
          val cc = ck.map(x => x * x).sum
          // corr(cell) = c_cell subvector · ck, one literal per cell
          val corr = coarse.map { cent =>
            val cs = cent.slice(mi * subDim, (mi + 1) * subDim)
            cs.zip(ck).map { case (a, b) => a * b }.sum
          }
          val rDot = Similarity.dot(sub, typedlit(ck)) -
            element_at(typedlit(corr), col("cell") + 1)
          struct((lit(cc) - lit(2.0) * rDot).as("d"), lit(ki).as("code"))
        }
        array_min(array(cands.toIndexedSeq: _*)).getField("code")
    }
    assigned.select(col(idCol), col("cell"),
      array(codeCols: _*).as("codes"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("nrm"))
  }

  /** IVF-PQ search: literal routing and LUT, ADC-score in-cell
    * candidates, keep the `shortlist` best per probe, exact-re-rank to
    * the top `k`. */
  def ivfPqSearch(codes: DataFrame, corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], k: Int, nprobe: Int,
      shortlist: Int): DataFrame = {
    val m = codebooks.length
    val nk = codebooks(0).length
    val subDim = codebooks(0)(0).length
    val cents = typedlit(coarse)
    val lutTerms: Seq[Column] = for {
      mi <- 0 until m; ki <- 0 until nk
    } yield Similarity.dot(slice(col(qvecCol), mi * subDim + 1, subDim),
      typedlit(codebooks(mi)(ki)))
    val qn = sqrt(Similarity.dot(col(qvecCol), col(qvecCol)))
    // routing: top-nprobe cells by centroid cosine (ties to low cell id),
    // carrying the raw dot(q, c_cell) the ADC score needs
    val probeCells = probes
      .select(col(qidCol), col(qvecCol), qn.as("__qn"),
        array(lutTerms: _*).as("__lut"),
        posexplode(cents).as(Seq("__c0", "cvec")))
      .withColumn("__qc", Similarity.dot(col(qvecCol), col("cvec")))
      .withColumn("__csim", col("__qc")
        / (col("__qn") * sqrt(Similarity.dot(col("cvec"), col("cvec")))))
      .withColumn("__crank", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("__csim").desc, col("__c0"))))
      .where(col("__crank") <= nprobe)
      .select(col(qidCol), col(qvecCol), col("__qn"), col("__lut"),
        col("__qc"), col("__c0").as("cell"))
    val adc = (0 until m).map(mi =>
      element_at(col("__lut"),
        element_at(col("codes"), mi + 1) + lit(mi * nk) + 1))
      .foldLeft(col("__qc"))(_ + _)
    val short = codes.join(probeCells, Seq("cell"))
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol), col(qvecCol), col("__qn"), col(idCol),
        (adc / (col("__qn") * col("nrm"))).as("approx_cos"))
      .withColumn("__arank", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("approx_cos").desc, col(idCol))))
      .where(col("__arank") <= shortlist)
    short
      .join(corpus.select(col(idCol), col(vecCol),
        sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("__cn")),
        Seq(idCol))
      .select(col(qidCol).as("qid"), col(idCol).as("nid"),
        (Similarity.dot(col(qvecCol), col(vecCol))
          / (col("__qn") * col("__cn"))).as("cosine"),
        col("approx_cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cosine").desc, col("nid"))))
      .where(col("rank") <= k)
  }
}
