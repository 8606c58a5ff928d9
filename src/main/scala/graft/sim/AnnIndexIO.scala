package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for the COMPRESSED ANN index family — IVF-PQ, PQ and
  * SQ8 (VERDICT r12 item 3: [[IvfCosine]] had
  * saveIndex/appendToIndex/loadIndex since round 12, but the indexes
  * you most want to build exactly once at 100 TB — the code tables —
  * re-derived their parameters and codes per job).
  *
  * One artifact layout for all three families (FAISS's `write_index`
  * role, re-expressed as the parquet + exact-double-JSON container the
  * repo already uses for every model artifact):
  *
  *   `$path/params.json`  — [[graft.ml.WeightsIO]] JSON: family tag,
  *     shape meta (m/nk/subDim/nlist/dim/idCol), the row-count commit
  *     marker, and the quantizer parameters as flat double sections
  *     (coarse centroids `c<i>`, codebooks `b<mi>_<ki>`) — bit-exact
  *     round-trips by WeightsIO's shortest-decimal contract.
  *   `$path/codes`        — the encoded corpus as parquet; IVF-PQ codes
  *     are PARTITIONED BY cell so a loaded-index search scans only the
  *     nprobe probed cell directories (the same dynamic-partition-
  *     pruning shape PlanSpec pins for [[IvfCosine]]).
  *
  * Commit protocol (shared with [[IvfCosine.appendToIndex]]): the
  * parquet write commits FIRST, then params.json republishes
  * `rows = old + delta`; `load*` re-counts the tree (footer metadata
  * only) and refuses a mismatch, so a crash at any point is DETECTED
  * at load instead of silently serving a truncated code table.
  *
  * The raw-vector corpus is NOT part of the artifact: codes + quantizer
  * parameters are the index (m bytes + a norm per vector); the exact
  * re-rank joins the caller's corpus table by id, exactly as the
  * in-memory search paths do.
  */
object AnnIndexIO {

  /** A rehydrated IVF-PQ index: coarse grid + per-subspace codebooks +
    * the encoded corpus (idCol, cell, codes, nrm). */
  case class IvfPqIndex(coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], codes: DataFrame)

  /** A rehydrated PQ index: codebooks + codes (idCol, codes, nrm). */
  case class PqIndex(codebooks: Array[Array[Array[Double]]],
      codes: DataFrame)

  /** A rehydrated SQ8 index: codes (idCol, codes, scale, nrm) — scalar
    * quantization has no trained parameters at all. */
  case class SqIndex(codes: DataFrame)

  // ------------------------------------------------------------- IVF-PQ

  /** Persist a built IVF-PQ index: `codes` must be [[IvfPq.encodeDf]]
    * output over the full corpus. */
  def saveIvfPq(path: String, coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], codes: DataFrame,
      idCol: String): Unit = {
    // cluster on the partition key before the partitioned write (the
    // saveIndex discipline): without it every task commits a file into
    // every cell directory — tasks × nlist tiny files — and the count
    // is PINNED so AQE cannot coalesce the KB-sized shuffle to one
    // task that writes all directories sequentially
    IvfCosine.repartForWrite(
      codes.select(col(idCol), col("codes"), col("nrm"), col("cell")),
      "cell", coarse.length)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
    val rows = graft.operators.ParquetMeta.rowCount(
      codes.sparkSession, s"$path/codes")
    graft.ml.WeightsIO.save(s"$path/params.json",
      Map("family" -> "ivfpq_index",
        "nlist" -> coarse.length.toString,
        "dim" -> coarse.head.length.toString,
        "m" -> codebooks.length.toString,
        "nk" -> codebooks.head.length.toString,
        "subDim" -> codebooks.head.head.length.toString,
        "rows" -> rows.toString, "idCol" -> idCol),
      coarseSections(coarse) ++ bookSections(codebooks))
  }

  /** Rehydrate a [[saveIvfPq]] artifact (family/shape/row-count
    * validated). Search the result with [[IvfPq.searchDf]], passing
    * `codes` and the loaded coarse/codebooks as frames
    * ([[IvfCosine.centroidsDf]], [[PqCosine.codebooksDf]]). */
  def loadIvfPq(spark: SparkSession, path: String,
      verifyRows: Boolean = true): IvfPqIndex = {
    val (meta, sections) = graft.ml.WeightsIO.load(s"$path/params.json")
    graft.ml.WeightsIO.requireFamily(meta, "ivfpq_index",
      s"$path/params.json")
    val codes = spark.read.parquet(s"$path/codes")
    requireCols(codes, Seq(meta("idCol"), "codes", "nrm", "cell"), path)
    verifyCount(meta, codes, path, verifyRows)
    IvfPqIndex(readCoarse(meta, sections), readBooks(meta, sections),
      codes)
  }

  /** Append a delta shard of NEW documents: the saved quantizer
    * parameters reload bit-exactly, ONLY the delta is encoded (through
    * the data-form [[IvfPq.encodeDf]] — the coarse cell from the
    * `nearest_centroid` kernel, the codebooks as a broadcast frame, so
    * the plan size is independent of nlist·nk), and the new code rows
    * append into the cell-partitioned layout. Same additions-only
    * contract and commit protocol as [[IvfCosine.appendToIndex]]. */
  def appendIvfPq(path: String, delta: DataFrame, vecCol: String): Unit = {
    val (meta, sections) = graft.ml.WeightsIO.load(s"$path/params.json")
    graft.ml.WeightsIO.requireFamily(meta, "ivfpq_index",
      s"$path/params.json")
    val idCol = meta("idCol")
    requireCols(delta, Seq(idCol, vecCol), "appendIvfPq delta")
    IvfCosine.requireVecDim(delta, vecCol, meta("dim").toInt,
      "appendIvfPq delta")
    val spark = delta.sparkSession
    val enc = IvfPq.encodeDf(delta, idCol, vecCol,
      IvfCosine.centroidsDf(spark, readCoarse(meta, sections)),
      PqCosine.codebooksDf(spark, readBooks(meta, sections)),
      m = meta("m").toInt)
    commitAppend(path, meta, sections, enc.select(col(idCol),
      col("codes"), col("nrm"), col("cell")), partitionCols = Seq("cell"))
  }

  // ----------------------------------------------------------------- PQ

  /** Persist a built PQ index: `codes` must be [[PqCosine.encode]]
    * output (idCol, codes, nrm) over the full corpus. */
  def savePq(path: String, codebooks: Array[Array[Array[Double]]],
      codes: DataFrame, idCol: String): Unit = {
    codes.select(col(idCol), col("codes"), col("nrm"))
      .write.mode("overwrite").parquet(s"$path/codes")
    val rows = graft.operators.ParquetMeta.rowCount(
      codes.sparkSession, s"$path/codes")
    graft.ml.WeightsIO.save(s"$path/params.json",
      Map("family" -> "pq_index",
        "m" -> codebooks.length.toString,
        "nk" -> codebooks.head.length.toString,
        "subDim" -> codebooks.head.head.length.toString,
        "rows" -> rows.toString, "idCol" -> idCol),
      bookSections(codebooks))
  }

  def loadPq(spark: SparkSession, path: String,
      verifyRows: Boolean = true): PqIndex = {
    val (meta, sections) = graft.ml.WeightsIO.load(s"$path/params.json")
    graft.ml.WeightsIO.requireFamily(meta, "pq_index", s"$path/params.json")
    val codes = spark.read.parquet(s"$path/codes")
    requireCols(codes, Seq(meta("idCol"), "codes", "nrm"), path)
    verifyCount(meta, codes, path, verifyRows)
    PqIndex(readBooks(meta, sections), codes)
  }

  def appendPq(path: String, delta: DataFrame, vecCol: String): Unit = {
    val (meta, sections) = graft.ml.WeightsIO.load(s"$path/params.json")
    graft.ml.WeightsIO.requireFamily(meta, "pq_index", s"$path/params.json")
    val idCol = meta("idCol")
    requireCols(delta, Seq(idCol, vecCol), "appendPq delta")
    IvfCosine.requireVecDim(delta, vecCol,
      meta("m").toInt * meta("subDim").toInt, "appendPq delta")
    val enc = PqCosine.encode(delta, idCol, vecCol,
      readBooks(meta, sections))
    commitAppend(path, meta, sections,
      enc.select(col(idCol), col("codes"), col("nrm")), Nil)
  }

  // ---------------------------------------------------------------- SQ8

  /** Persist a built SQ8 index: `codes` must be [[SqCosine.encode]]
    * output (idCol, codes, scale, nrm). There are no quantizer
    * parameters — the artifact is the code table plus the commit meta. */
  def saveSq(path: String, codes: DataFrame, idCol: String): Unit = {
    codes.select(col(idCol), col("codes"), col("scale"), col("nrm"))
      .write.mode("overwrite").parquet(s"$path/codes")
    val rows = graft.operators.ParquetMeta.rowCount(
      codes.sparkSession, s"$path/codes")
    // SQ8 has no quantizer, but the code WIDTH is still index state —
    // record it so a wrong-dimension delta is refused at append. The
    // width is taken by a min/max(size) AGGREGATE over the whole frame
    // (the requireVecDim strict pattern), not one arbitrary row: a
    // mixed-width frame must be refused HERE, before it becomes an
    // artifact that accepts matching-but-wrong deltas. An EMPTY save
    // records no dim; the first appendSq then adopts its delta's
    // (strictly validated) width — see there.
    val dim = uniformCodeWidth(codes, s"saveSq to $path")
    graft.ml.WeightsIO.save(s"$path/params.json",
      Map("family" -> "sq8_index", "rows" -> rows.toString,
        "idCol" -> idCol) ++
        dim.map(d => "dim" -> d.toString), Nil)
  }

  def loadSq(spark: SparkSession, path: String,
      verifyRows: Boolean = true): SqIndex = {
    val (meta, _) = graft.ml.WeightsIO.load(s"$path/params.json")
    graft.ml.WeightsIO.requireFamily(meta, "sq8_index", s"$path/params.json")
    val codes = spark.read.parquet(s"$path/codes")
    requireCols(codes, Seq(meta("idCol"), "codes", "scale", "nrm"), path)
    verifyCount(meta, codes, path, verifyRows)
    SqIndex(codes)
  }

  def appendSq(path: String, delta: DataFrame, vecCol: String): Unit = {
    val (meta, sections) = graft.ml.WeightsIO.load(s"$path/params.json")
    graft.ml.WeightsIO.requireFamily(meta, "sq8_index", s"$path/params.json")
    val idCol = meta("idCol")
    requireCols(delta, Seq(idCol, vecCol), "appendSq delta")
    // width check is never skipped: a recorded dim validates the delta
    // against it; an index saved EMPTY (no dim recorded) ADOPTS the
    // delta's width — strictly validated uniform across the whole delta
    // — and republishes it, so the artifact leaves this call with the
    // invariant (all rows one width) either way.
    val adopted = meta.get("dim").map(_.toInt).filter(_ > 0) match {
      case Some(dim) =>
        IvfCosine.requireVecDim(delta, vecCol, dim, "appendSq delta",
          strict = true)
        None
      case None =>
        val d = uniformCodeWidth(delta, "appendSq delta", vecCol)
        require(d.nonEmpty,
          s"appendSq to $path: the index records no vector dim and the " +
            "delta is empty — cannot establish the code width")
        d
    }
    val enc = SqCosine.encode(delta, idCol, vecCol)
    commitAppend(path,
      meta ++ adopted.map(d => "dim" -> d.toString), sections,
      enc.select(col(idCol), col("codes"), col("scale"), col("nrm")), Nil)
  }

  // ------------------------------------------------------------- shared

  private def coarseSections(coarse: Array[Array[Double]]) =
    coarse.toIndexedSeq.zipWithIndex.map { case (c, i) => s"c$i" -> c }

  private def bookSections(books: Array[Array[Array[Double]]]) =
    for {
      mi <- books.indices; ki <- books(mi).indices
    } yield s"b${mi}_$ki" -> books(mi)(ki)

  private def readCoarse(meta: Map[String, String],
      sections: Map[String, Array[Double]]): Array[Array[Double]] = {
    val (nlist, dim) = (meta("nlist").toInt, meta("dim").toInt)
    Array.tabulate(nlist) { i =>
      val c = sections(s"c$i")
      graft.ml.WeightsIO.requireLen(s"c$i", c, dim)
      c
    }
  }

  private def readBooks(meta: Map[String, String],
      sections: Map[String, Array[Double]]): Array[Array[Array[Double]]] = {
    val (m, nk, subDim) =
      (meta("m").toInt, meta("nk").toInt, meta("subDim").toInt)
    Array.tabulate(m, nk) { (mi, ki) =>
      val b = sections(s"b${mi}_$ki")
      graft.ml.WeightsIO.requireLen(s"b${mi}_$ki", b, subDim)
      b
    }
  }

  /** The uniform element width of an array column, validated by ONE
    * min/max(size) aggregate over the whole frame (the requireVecDim
    * strict pattern): None for an empty frame, the width when uniform,
    * refusal when mixed — a single arbitrary row (the old head(1))
    * could bless a mixed-width frame whose artifact then accepts
    * matching-but-wrong deltas. */
  private def uniformCodeWidth(df: DataFrame, where: String,
      colName: String = "codes"): Option[Int] =
    df.agg(min(size(col(colName))).as("lo"),
        max(size(col(colName))).as("hi")).head(1).toSeq.headOption
      .filter(!_.isNullAt(0)).map { r =>
        require(r.getInt(0) == r.getInt(1),
          s"$where holds $colName widths ${r.getInt(0)}..${r.getInt(1)}" +
            " — a mixed-width frame cannot define the index dimension")
        r.getInt(0)
      }

  private def requireCols(df: DataFrame, cols: Seq[String],
      where: String): Unit =
    cols.foreach(c => require(df.columns.contains(c),
      s"$where is missing column $c " +
        s"(found ${df.columns.mkString(", ")})"))

  private def verifyCount(meta: Map[String, String], codes: DataFrame,
      path: String, verifyRows: Boolean): Unit =
    if (verifyRows) meta.get("rows").map(_.toLong).foreach { expected =>
      // footer-metadata-only verification, driver-side (ParquetMeta):
      // previously a distributed count() job per load
      val actual = graft.operators.ParquetMeta.rowCount(
        codes.sparkSession, s"$path/codes")
      require(actual == expected,
        s"index at $path records $expected rows in params.json but the " +
          s"codes parquet holds $actual — a previous save/append did " +
          "not commit completely; rebuild the index or re-run the append")
    }

  /** Count-first append + meta republish — the IvfCosine commit
    * protocol over an arbitrary code frame. */
  private def commitAppend(path: String, meta: Map[String, String],
      sections: Map[String, Array[Double]], enc: DataFrame,
      partitionCols: Seq[String]): Unit = {
    enc.cache()
    val deltaRows =
      try {
        val n = enc.count()
        // cluster cell-partitioned deltas on the key first (one new
        // file per touched cell, commits in parallel — see saveIvfPq)
        val out = partitionCols match {
          case Seq(k) => IvfCosine.repartForWrite(enc, k,
            meta.get("nlist").map(_.toInt).getOrElse(Int.MaxValue))
          case _ => enc
        }
        val w = out.write.mode("append")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*)
         else w).parquet(s"$path/codes")
        n
      } finally enc.unpersist()
    val rows = meta.get("rows").map(_.toLong).getOrElse(0L) + deltaRows
    graft.ml.WeightsIO.save(s"$path/params.json",
      meta + ("rows" -> rows.toString), sections.toSeq)
  }
}
