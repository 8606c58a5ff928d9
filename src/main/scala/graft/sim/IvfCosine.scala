package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Similarity
import graft.functions.NearestCentroid

/** IVF (inverted-file) approximate nearest neighbor: a k-means coarse
  * quantizer partitions the corpus into `nlist` cells; each probe only
  * scans its `nprobe` closest cells. The scale path when the probe set is
  * too large to broadcast against the full corpus: the expensive join is
  * an EQUI-join on the cell id, so corpus and probes shuffle once on
  * cell — work drops from |corpus|×|probes| to ~(nprobe/nlist) of that.
  *
  * The quantizer trains on a BOUNDED sample (`maxTrainRows`, default
  * 100k) — k-means centroids don't improve past that, and at 100 TB
  * feeding the full corpus through the featurizer would be the
  * bottleneck. Cell assignment of the full corpus IS distributed and
  * map-side: the `nearest_centroid` kernel holds the centroid matrix as
  * one reference object and assigns per row (no shuffle, no collect).
  * Probe routing broadcasts the grid as a (cell, cvec) frame. Neither
  * plan grows with nlist; per-centroid expression nodes would exceed
  * codegen method limits and ship a multi-MB plan with every task.
  */
object IvfCosine {

  case class Index(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Persist a built index: the assigned corpus as parquet PARTITIONED
    * BY cell (a probe batch reading `nprobe` of `nlist` cells scans
    * only those directories — Spark's DYNAMIC partition pruning fires
    * on the `search` join's cell key, so the file source skips every
    * unprobed cell directory; PlanSpec pins the
    * dynamicpruningexpression on the assigned scan) and the quantizer
    * centroids as a WeightsIO artifact next to it. Build once, reuse
    * across every search job — at corpus scale the assignment pass
    * dwarfs any single query, so an unreusable index is a
    * rebuilt-per-query bottleneck.
    *
    * Two maintenance structures are written alongside (both invisible
    * to the search path):
    *
    *   - `$path/idmap` — the id→cell SIDECAR, (id, cell) partitioned by
    *     `bucket = pmod(xxhash64(id), buckets)`. [[applyChanges]]'s
    *     old-cell lookup for a day-sized change set then reads only the
    *     delta's bucket directories (static partition pruning) instead
    *     of scanning the whole index's (id, cell) columns — the lookup
    *     cost is delta-proportional, which is what survives daily
    *     maintenance of a 100 TB index. `buckets` sizes the pruning
    *     granularity (≈ corpus rows / buckets ids per directory);
    *     `buckets <= 0` (the default) derives it from the corpus size
    *     (rows/2000 clamped to [4, 4096] — ≈2k ids per directory at
    *     the small end, ≈250k at 1e9 rows). A FIXED default is wrong
    *     at both ends: 64 directories for a 2k-row index makes every
    *     sidecar write/list pay 64 file commits (and pushes the path
    *     count over Spark's 32-path parallelPartitionDiscovery
    *     threshold, turning each idmap read's listing into a
    *     distributed JOB — measured 4×~100ms per maintenance run),
    *     while 64 for 1e9 rows leaves 16M ids per directory and no
    *     useful pruning.
    *   - per-cell `_epoch_<e>` COMMIT MARKERS + a `cellEpochs` map in
    *     the meta: every live cell directory carries a marker naming
    *     the epoch that last rewrote it, and the meta records the
    *     expected epoch per cell. A dynamic partition overwrite
    *     REPLACES the cell directory (destroying its marker), so a
    *     crash mid-[[applyChanges]] — even one that is row-count
    *     NEUTRAL, e.g. pure re-embeds that keep their cells — leaves
    *     at least one cell whose marker no longer matches the recorded
    *     epoch, and [[loadIndex]] refuses it (ADVICE r13: the global
    *     row count alone cannot see that case). */
  /** Keyed repartition with a PINNED partition count for the
    * partitioned maintenance writes: `repartition(col(key))` alone
    * lets AQE coalesce the KB-sized maintenance shuffles to ONE task,
    * which then commits every `key=` directory's file sequentially
    * (measured as the lifecycle's ~900ms single-task write jobs —
    * ~55ms per file commit). Pinning the count (AQE respects
    * user-specified counts) spreads the per-directory file commits
    * across tasks; `keys` bounds it (one task per key value is the
    * most that helps — each key's rows still land in exactly one task,
    * so the one-file-per-directory layout is unchanged), and 4× the
    * session parallelism caps it so a corpus-scaled nlist doesn't
    * schedule hundreds of thousands of reduce tasks. */
  private[sim] def repartForWrite(df: DataFrame, key: String,
      keys: Int): DataFrame = {
    val cap = math.max(1, math.min(keys,
      df.sparkSession.sparkContext.defaultParallelism * 4))
    df.repartition(cap, col(key))
  }

  def saveIndex(path: String, index: Index, idCol: String,
      vecCol: String, buckets: Int = 0): Unit = {
    val spark = index.assigned.sparkSession
    // repartition ON the cell key before the partitioned write: without
    // it every task writes into every cell directory (tasks × nlist
    // tiny files — at a corpus-scaled nlist this measured as the
    // dominant fixed cost of the whole lifecycle); with it each cell's
    // rows land in one task → one file per cell. At real corpus sizes
    // where a cell spans many HDFS blocks, follow with maxRecordsPerFile
    // (the BucketedLayout.compact discipline) rather than removing this.
    repartForWrite(
      index.assigned.select(col(idCol), col(vecCol), col("cell")),
      "cell", index.centroids.length)
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/assigned")
    // commit marker: the EXPECTED row count, read back from the files
    // just written. Footer metadata only — read driver-side
    // (ParquetMeta.rowCount) instead of as a distributed count() job:
    // the tree is bounded (one file per cell by repartForWrite), and
    // each count() paid a full listing + AQE query-stage + scheduling
    // round-trip for a few KB of footers (guide §2.6/§6 — the
    // lifecycle's cost is protocol jobs, not data). loadIndex re-counts
    // and compares, so a partially committed write (crash mid-commit
    // leaves a subset of part files) is DETECTED at load instead of
    // silently serving a truncated corpus. Counted BEFORE the sidecar
    // write so the adaptive bucket rule below can size from it.
    val rows = graft.operators.ParquetMeta.rowCount(spark, s"$path/assigned")
    val nBuckets = if (buckets >= 1) buckets
      else math.min(4096L, math.max(4L, rows / 2000L)).toInt
    // the sidecar derives from the files JUST WRITTEN, not from
    // index.assigned — re-planning the assigned frame would re-run the
    // full-corpus assignment, while this is a 2-narrow-column
    // (column-pruned) read of parquet already on disk. Repartitioned
    // ON the bucket key first: without it every write task touches
    // every bucket directory (tasks × buckets tiny files — measured as
    // real fixed overhead per maintenance job); with it each bucket's
    // rows land in exactly one task → one file per bucket
    repartForWrite(spark.read.parquet(s"$path/assigned")
      .select(col(idCol), col("cell"), bucketOf(idCol, nBuckets)),
      "bucket", nBuckets)
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(s"$path/idmap")
    val cells = listCellDirs(spark, path).keySet
    writeEpochMarkers(spark, path, cells, 1L)
    graft.ml.WeightsIO.save(s"$path/centroids.json",
      Map("family" -> "ivf_index",
        "nlist" -> index.centroids.length.toString,
        "dim" -> index.centroids.head.length.toString,
        "rows" -> rows.toString,
        "epoch" -> "1",
        "cellEpochs" -> fmtCellEpochs(cells.map(_ -> 1L).toMap),
        "buckets" -> nBuckets.toString,
        "idCol" -> idCol, "vecCol" -> vecCol),
      index.centroids.zipWithIndex.map { case (c, i) => s"c$i" -> c })
  }

  /** Rehydrate a `saveIndex`ed index (shape-validated): centroids are
    * bit-exact (WeightsIO exact-double JSON), the assignment is read
    * back cell-partitioned — `search` over the loaded index plans the
    * same cell equi-join and returns the identical neighbor lists.
    * `idCol`/`vecCol`, when given, are validated against the names the
    * index was built with, and the reloaded assigned parquet itself is
    * schema-checked (recorded id/vec/cell columns present, vecCol an
    * array type, one probed row's vector length == the recorded dim) —
    * a renamed column or wrong-path artifact fails HERE with the
    * recorded names instead of as a downstream unresolved-column or
    * vec_dot error in `search`.
    *
    * Commit integrity: unless `verifyRows = false`, three checks run —
    * (1) the loaded tree's actual row count (footer-metadata-only — no
    * data pages scanned) must equal the count recorded in
    * `centroids.json` by the last successful
    * saveIndex/appendToIndex/applyChanges, catching partial part-file
    * commits and half-appends; (2) when the meta records `cellEpochs`,
    * the live cell directories must be exactly the recorded set and
    * each must carry its recorded `_epoch_<e>` marker — a crash
    * mid-applyChanges destroys at least one marker even when the
    * change set is row-count NEUTRAL (pure re-embeds), so a
    * half-applied rewrite fails HERE instead of silently serving stale
    * cells; (3) when the meta records `buckets`, the id→cell sidecar
    * must hold exactly `rows` rows too. (An artifact written before a
    * given check existed simply lacks the meta key and loads without
    * that check; re-saving republishes everything.) */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: Option[String] = None,
      vecCol: Option[String] = None, verifyRows: Boolean = true): Index = {
    val (meta, sections) = graft.ml.WeightsIO.load(s"$path/centroids.json")
    graft.ml.WeightsIO.requireFamily(meta, "ivf_index",
      s"$path/centroids.json")
    idCol.foreach(c => require(c == meta("idCol"),
      s"index at $path was built with idCol=${meta("idCol")}, not $c"))
    vecCol.foreach(c => require(c == meta("vecCol"),
      s"index at $path was built with vecCol=${meta("vecCol")}, not $c"))
    val cents = recordedCentroids(meta, sections)
    val dim = cents.head.length
    val assigned = graft.operators.ParquetMeta.read(spark, s"$path/assigned",
      Seq("cell"))
    Seq(meta("idCol"), meta("vecCol"), "cell").foreach { c =>
      require(assigned.columns.contains(c),
        s"assigned parquet at $path/assigned is missing column $c " +
          s"(found ${assigned.columns.mkString(", ")}) — not a " +
          "saveIndex artifact, or the files were edited")
    }
    requireVecDim(assigned, meta("vecCol"), dim, s"$path/assigned")
    if (verifyRows) {
      meta.get("rows").map(_.toLong).foreach { expected =>
        // the two verification counts are footer-metadata-only —
        // driver-side footer reads over disjoint bounded trees
        // (ParquetMeta.rowCount), overlapped (guide §2.6); previously
        // two distributed count() jobs
        @volatile var actual = 0L
        @volatile var side = Option.empty[Long]
        graft.operators.ParallelInput.overlap(Seq(
          () => actual =
            graft.operators.ParquetMeta.rowCount(spark, s"$path/assigned"),
          () => side = if (meta.contains("buckets"))
            Some(graft.operators.ParquetMeta.rowCount(spark, s"$path/idmap"))
            else None))
        require(actual == expected,
          s"index at $path records $expected rows in centroids.json but " +
            s"the assigned parquet holds $actual — a previous " +
            "saveIndex/appendToIndex did not commit completely; rebuild " +
            "the index or re-run the append")
        side.foreach { s =>
          require(s == expected,
            s"index at $path records $expected rows but the id->cell " +
              s"sidecar holds $s — a maintenance run did not commit " +
              "completely; rebuild the index")
        }
      }
      parseCellEpochs(meta).foreach { recorded =>
        val live = listCellDirs(spark, path)
        val missing = recorded.keySet.diff(live.keySet)
        val extra = live.keySet.diff(recorded.keySet)
        require(missing.isEmpty && extra.isEmpty,
          s"index at $path records cells ${recorded.keySet.toSeq.sorted
            .mkString("{", ",", "}")} but the assigned tree holds " +
            s"${live.keySet.toSeq.sorted.mkString("{", ",", "}")} — a " +
            "maintenance run did not commit completely; rebuild the index")
        // one FS existence probe per cell — checked from a bounded pool
        // (a corpus-scaled nlist pays per-op namespace latency 4096×
        // sequentially otherwise; same batching rationale as
        // writeEpochMarkers). Failure reporting unchanged: the lowest
        // failing cell id is named.
        val checks = recorded.toSeq.sortBy(_._1)
        val okFlags: Seq[Boolean] =
          if (checks.size <= 2)
            checks.map { case (c, e) => hasEpochMarker(spark, path, c, e) }
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(16, checks.size))
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutorService(pool)
            try checks.map { case (c, e) => scala.concurrent.Future(
                hasEpochMarker(spark, path, c, e)) }
              .map(scala.concurrent.Await.result(_,
                scala.concurrent.duration.Duration.Inf))
            finally pool.shutdown()
          }
        checks.zip(okFlags).find(!_._2).foreach { case ((cell, epoch), _) =>
          require(false,
            s"index at $path: cell=$cell does not carry its recorded " +
              s"commit marker _epoch_$epoch — an applyChanges rewrite " +
              "did not commit completely and the cell may serve stale " +
              "vectors; rebuild the index or re-run the maintenance")
        }
      }
    }
    Index(cents, assigned)
  }

  /** Shared load-side vector validation: the column must be an array
    * type and a probed row's length must match the recorded `dim` — a
    * rewritten or wrong-shard artifact fails HERE with the artifact path
    * instead of as a mid-job kernel length error. DEFAULT mode probes
    * ONE row (constant-time); `strict = true` aggregates
    * min/max(size(vecCol)) over the whole frame — one extra scan, the
    * right trade for a one-time build or a suspect shard. (The IVF
    * append and apply paths validate every row from their change-set
    * census instead, at no extra job.) */
  private[sim] def requireVecDim(df: DataFrame, vecCol: String, dim: Int,
      where: String, strict: Boolean = false): Unit = {
    require(df.schema(vecCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType],
      s"$where: column $vecCol is ${df.schema(vecCol).dataType.sql}, " +
        "expected an array vector column")
    if (strict)
      df.agg(min(size(col(vecCol))).as("lo"),
        max(size(col(vecCol))).as("hi")).head(1).foreach { r =>
        if (!r.isNullAt(0))
          require(r.getInt(0) == dim && r.getInt(1) == dim,
            s"$where holds vectors of dim ${r.getInt(0)}..${r.getInt(1)}" +
              s" in $vecCol, but the index quantizer is dim-$dim")
      }
    else
      df.select(size(col(vecCol))).head(1).foreach(r =>
        require(r.getInt(0) == dim,
          s"$where holds dim-${r.getInt(0)} vectors in $vecCol, but the " +
            s"index quantizer is dim-$dim"))
  }

  /** [[loadIndex]] with plain-String column names (the common call). */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String): Index =
    loadIndex(spark, path, Option(idCol), Option(vecCol))

  /** Append a delta shard of NEW documents to a `saveIndex`ed index IN
    * PLACE: the saved quantizer is reloaded (bit-exact), ONLY the delta
    * is assigned (the `nearest_centroid` kernel against the recorded
    * centroids — the corpus at rest is never re-scored or rewritten),
    * and the new rows append into the same cell-partitioned parquet
    * layout — the daily-shard ingest path that keeps a 100 TB index
    * build-once. The delta's columns must match the names the index was
    * built with (validated against meta, like loadIndex). Additions
    * ONLY: re-embedded or deleted documents go through [[applyChanges]]
    * (or the SnapshotDiff merge-on-read path) — an in-place append
    * cannot retract rows.
    *
    * Jobs: the delta is assigned and materialized ONCE (one
    * localCheckpoint job, [[stageChanges]]); that job's own census gives
    * the row count, the touched cells and buckets and the min/max vector
    * length, so EVERY row's dimension is validated before any write.
    * Then the assigned and sidecar appends run overlapped, each with
    * its fan-out sized to the cells (buckets) the delta touches — one
    * new file per touched directory, two jobs per write (the keyed
    * exchange and the write).
    *
    * Commit protocol (ADVICE r12): the delta count is taken BEFORE the
    * write, the parquet append commits, and only then does
    * `centroids.json` republish `rows = old + delta`. A crash at any
    * point leaves a DETECTABLE state — partial part files (actual <
    * recorded + delta) or committed parquet with stale meta (actual >
    * recorded) — and loadIndex's row-count verification refuses both
    * instead of silently serving a half-appended index. */
  def appendToIndex(path: String, delta: DataFrame): Unit = {
    val (meta, sections) = graft.ml.WeightsIO.load(s"$path/centroids.json")
    graft.ml.WeightsIO.requireFamily(meta, "ivf_index",
      s"$path/centroids.json")
    val (idCol, vecCol) = (meta("idCol"), meta("vecCol"))
    Seq(idCol, vecCol).foreach(c => require(delta.columns.contains(c),
      s"delta is missing column $c (the index at $path was built " +
        s"with idCol=$idCol, vecCol=$vecCol)"))
    val cents = recordedCentroids(meta, sections)
    val buckets = meta.get("buckets").map(_.toInt)
    val (staged, census) = stageChanges(delta, None, idCol, vecCol, cents,
      buckets, "appendToIndex delta")
    if (census.rows == 0) return
    // the assigned append and the sidecar append write DISJOINT trees
    // from the same materialized delta, so they run overlapped; the
    // commit protocol is unchanged (count taken before any write, meta
    // republished after both)
    graft.operators.ParallelInput.overlap(Seq(
      () => repartForWrite(staged.select(col(idCol), col(vecCol),
          col("cell")), "cell", census.cells.size)
        .write.partitionBy("cell").mode("append")
        .parquet(s"$path/assigned"),
      // sidecar append: the same delta-sized rows, bucketed by id — the
      // corpus-at-rest sidecar files are never touched
      () => if (buckets.nonEmpty)
        repartForWrite(staged.select(col(idCol), col("cell"),
            col("bucket")), "bucket", census.buckets.size)
          .write.partitionBy("bucket").mode("append")
          .parquet(s"$path/idmap")))
    // cells CREATED by this append get a marker at the new epoch;
    // cells merely appended into keep theirs (append never destroys a
    // marker — partial-append detection is the row count's job)
    val epochMeta = parseCellEpochs(meta).map { known =>
      val epoch = meta.get("epoch").map(_.toLong).getOrElse(1L) + 1
      val newCells = census.cells.toSet.diff(known.keySet)
      writeEpochMarkers(delta.sparkSession, path, newCells, epoch)
      Map("epoch" -> epoch.toString,
        "cellEpochs" -> fmtCellEpochs(
          known ++ newCells.map(_ -> epoch)))
    }.getOrElse(Map.empty)
    val rows = meta.get("rows").map(_.toLong).getOrElse(0L) + census.rows
    graft.ml.WeightsIO.save(s"$path/centroids.json",
      meta ++ epochMeta + ("rows" -> rows.toString), sections.toSeq)
  }

  /** Apply a day's CHANGES to a saved index in place: `upserts`
    * (re-embedded documents, NEW vectors) and `deleteIds` (retired
    * documents) rewrite ONLY their AFFECTED CELL PARTITIONS — an
    * in-place append cannot retract the stale rows, and a full rebuild
    * re-scores the whole corpus to change a day-sized fraction of it.
    * The daily-serving companion of [[appendToIndex]] (which stays the
    * right tool for pure additions — it writes the delta without
    * touching any existing file).
    *
    * Mechanics, in a fixed handful of jobs whatever the delta size:
    *
    *   1. ONE change-set frame (id, vector, new cell, bucket, upsert
    *      flag) — upserts assigned by the `nearest_centroid` kernel,
    *      deletes with null vector and cell — is materialized by one
    *      localCheckpoint job whose census yields the affected buckets,
    *      the upserts' new cells and their dimension bounds
    *      ([[stageChanges]]); a wrong-dimension upsert fails here,
    *      before any write.
    *   2. The affected ids' OLD cells come from the id→cell SIDECAR
    *      ([[sidecarOldCells]]: the census's buckets statically prune
    *      the sidecar to the delta's bucket directories, so the lookup
    *      is DELTA-proportional, not index-proportional); the cell set
    *      comes back as the lookup job's census. An index saved before
    *      the sidecar existed falls back to one column-pruned (id, cell)
    *      scan of the assigned tree with the delta broadcast.
    *   3. Old ∪ new cells select the partitions to rewrite: surviving
    *      rows of the affected cells + the re-assigned upserts, written
    *      with DYNAMIC partition overwrite, so parquet replaces exactly
    *      the affected `cell=` directories. The sidecar's affected
    *      BUCKET partitions rewrite the same way, overlapped with it.
    *      Each rewrite reads its own tree partition-pruned and writes
    *      through a staging directory that replaces the partitions only
    *      at job commit, after every read of the old files — so no
    *      checkpoint is needed to sever the self-read. The rewrite's
    *      fan-out is the number of affected cells (buckets), and the
    *      write job's own census reports which cells (buckets) are
    *      still present: a cell emptied by deletion (dynamic overwrite
    *      only touches partitions present in the output) is removed
    *      explicitly.
    *
    * Commit detection: each rewritten cell directory gets a fresh
    * `_epoch_<e>` marker and the meta republishes the per-cell epoch
    * map LAST — a crash at any point leaves at least one cell whose
    * marker (destroyed by the overwrite, or newer than recorded)
    * disagrees with the recorded epoch, so loadIndex refuses a
    * half-applied rewrite EVEN when the change set is row-count
    * neutral (pure re-embeds that keep their cells — the case the
    * global row count cannot see; ADVICE r13). */
  def applyChanges(spark: org.apache.spark.sql.SparkSession, path: String,
      upserts: DataFrame, deleteIds: DataFrame): Unit = {
    val (meta, sections) = graft.ml.WeightsIO.load(s"$path/centroids.json")
    graft.ml.WeightsIO.requireFamily(meta, "ivf_index",
      s"$path/centroids.json")
    val (idCol, vecCol) = (meta("idCol"), meta("vecCol"))
    Seq(idCol, vecCol).foreach(c => require(upserts.columns.contains(c),
      s"upserts are missing column $c (the index at $path was built " +
        s"with idCol=$idCol, vecCol=$vecCol)"))
    require(deleteIds.columns.contains(idCol),
      s"deleteIds is missing column $idCol")
    val cents = recordedCentroids(meta, sections)
    val buckets = meta.get("buckets").map(_.toInt)
    val (changes, census) = stageChanges(upserts, Some(deleteIds), idCol,
      vecCol, cents, buckets, "applyChanges upserts")
    if (census.rows == 0) return
    val affectedIds = changes.select(col(idCol))
    val newRows = changes.where(col("__up"))
    // old cells: bucket-pruned sidecar lookup (delta-proportional);
    // legacy artifacts without a sidecar fall back to one column-pruned
    // (id, cell) scan of the assigned tree with the delta broadcast
    val oldPairs = buckets match {
      case Some(b) => sidecarOldCells(spark, path, affectedIds, idCol, b,
        Some(census.buckets))
      case None => graft.operators.ParquetMeta.read(spark,
          s"$path/assigned", Seq("cell"))
        .join(broadcast(affectedIds), Seq(idCol))
        .select(col(idCol), col("cell"))
    }
    val cells = (cellCensus(oldPairs, "cell") ++ census.cells)
      .distinct.sorted // bounded by nlist
    // the cell rewrite and the sidecar rewrite touch DISJOINT trees
    // ($path/assigned vs $path/idmap), and the lookup above has finished
    // reading the sidecar, so they run overlapped. Crash detection is
    // unchanged: the epoch markers and the meta republish still happen
    // strictly AFTER both rewrites, so a crash anywhere before that
    // leaves at least one rewritten cell whose marker disagrees with the
    // recorded epoch (or a sidecar/assigned row-count mismatch).
    @volatile var presentCells = Set.empty[Int]
    graft.operators.ParallelInput.overlap(Seq(
      () => presentCells = rewritePartitions(spark, s"$path/assigned",
        "cell", cells, affectedIds, idCol,
        newRows.select(col(idCol), col(vecCol), col("cell"))),
      () => buckets.foreach(_ => rewritePartitions(spark, s"$path/idmap",
        "bucket", census.buckets, affectedIds, idCol,
        newRows.select(col(idCol), col("cell"), col("bucket"))))))
    // commit markers AFTER the rewrites, BEFORE the meta republish: any
    // crash before the meta save leaves marker/meta disagreement on at
    // least one rewritten cell
    val epoch = meta.get("epoch").map(_.toLong).getOrElse(1L) + 1
    val epochMeta = parseCellEpochs(meta).map { known =>
      // presentCells ⊆ cells by construction (the replacement only
      // holds affected cells' content); emptied cells leave the map
      writeEpochMarkers(spark, path, presentCells, epoch)
      Map("epoch" -> epoch.toString,
        "cellEpochs" -> fmtCellEpochs(
          known -- cells ++ presentCells.map(_ -> epoch)))
    }.getOrElse(Map.empty)
    // the two verification counts are footer-metadata-only — driver-side
    // footer reads over disjoint bounded trees, overlapped
    @volatile var rows = 0L
    @volatile var sideRows = Option.empty[Long]
    graft.operators.ParallelInput.overlap(Seq(
      () => rows =
        graft.operators.ParquetMeta.rowCount(spark, s"$path/assigned"),
      () => sideRows = buckets.map(_ =>
        graft.operators.ParquetMeta.rowCount(spark, s"$path/idmap"))))
    sideRows.foreach { side =>
      require(side == rows,
        s"applyChanges at $path: assigned holds $rows rows but the " +
          s"id->cell sidecar holds $side after maintenance — sidecar " +
          "bookkeeping bug; rebuild the index")
    }
    graft.ml.WeightsIO.save(s"$path/centroids.json",
      meta ++ epochMeta + ("rows" -> rows.toString), sections.toSeq)
  }

  /** What a materialized change set touches, from its own job. */
  private case class Census(rows: Long, cells: Seq[Int], buckets: Seq[Int])

  /** Assign and MATERIALIZE a change set once: (idCol, vecCol, cell,
    * [bucket], __up) — `upserts` with their cell from the
    * `nearest_centroid` kernel, `deletes` (ids only) with null vector and
    * cell. The one localCheckpoint job also takes the census as an
    * observation (no job of its own): row count, touched cells and
    * buckets, and the upserts' null-vector count and min/max vector
    * length — so every upsert's dimension is validated before any write,
    * and a wrong-dimension row gets a null cell instead of failing
    * inside the kernel. Delta-sized by definition. */
  private def stageChanges(upserts: DataFrame, deletes: Option[DataFrame],
      idCol: String, vecCol: String, cents: Array[Array[Double]],
      buckets: Option[Int], where: String): (DataFrame, Census) = {
    val dim = cents.head.length
    val vec = col(vecCol)
    val ups = upserts.select(col(idCol), vec,
      when(size(vec) === dim, NearestCentroid(vec, cents)).as("cell"),
      lit(true).as("__up"))
    val all = deletes.fold(ups)(d => ups.unionByName(d.select(col(idCol),
      lit(null).cast(upserts.schema(vecCol).dataType).as(vecCol),
      lit(null).cast("int").as("cell"), lit(false).as("__up"))))
    val withBucket = buckets.fold(all)(b =>
      all.withColumn("bucket", bucketOf(idCol, b)))
    val upVec = col("__up") && vec.isNotNull
    val obs = org.apache.spark.sql.Observation()
    val metrics = Seq(count(lit(1)).as("rows"),
      collect_set(col("cell")).as("cells"),
      count(when(col("__up") && vec.isNull, 1)).as("nulls"),
      min(when(upVec, size(vec))).as("lo"),
      max(when(upVec, size(vec))).as("hi")) ++
      buckets.map(_ => collect_set(col("bucket")).as("buckets"))
    val staged = withBucket.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint()
    val m = obs.get
    val nulls = m("nulls").asInstanceOf[Long]
    require(nulls == 0, s"$where holds $nulls null vectors in $vecCol")
    Option(m("lo")).foreach { lo =>
      require(lo == dim && m("hi") == dim,
        s"$where holds vectors of dim $lo..${m("hi")} in $vecCol, but " +
          s"the index quantizer is dim-$dim")
    }
    def ints(k: String) = m.get(k).map(_.asInstanceOf[Seq[Int]].sorted)
      .getOrElse(Nil)
    (staged, Census(m("rows").asInstanceOf[Long], ints("cells"),
      ints("buckets")))
  }

  /** Rewrite the `key=` partitions `keys` of the tree at `root`: the
    * surviving rows (those partitions, partition-pruned, minus
    * `affectedIds` by a broadcast anti-join) plus `added`, by dynamic
    * partition overwrite with one write task per key at most. Returns
    * the keys still present, taken as the write job's own census;
    * partitions left empty are deleted, since dynamic overwrite only
    * replaces partitions present in the output. */
  private def rewritePartitions(spark: org.apache.spark.sql.SparkSession,
      root: String, key: String, keys: Seq[Int], affectedIds: DataFrame,
      idCol: String, added: DataFrame): Set[Int] =
    if (keys.isEmpty) Set.empty
    else {
      val survivors = graft.operators.ParquetMeta.read(spark, root, Seq(key))
        .where(col(key).isin(keys: _*)) // static partition pruning
        .join(broadcast(affectedIds), Seq(idCol), "left_anti")
      val obs = org.apache.spark.sql.Observation()
      repartForWrite(survivors.select(added.columns.map(col): _*)
          .unionByName(added)
          .observe(obs, collect_set(col(key)).as("present")),
        key, keys.size)
        .write.partitionBy(key).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(root)
      val present = obs.get("present").asInstanceOf[Seq[Int]].toSet
      val hconf = spark.sparkContext.hadoopConfiguration
      keys.filterNot(present).foreach { k =>
        val p = new org.apache.hadoop.fs.Path(s"$root/$key=$k")
        val fs = p.getFileSystem(hconf)
        if (fs.exists(p)) fs.delete(p, true)
      }
      present
    }

  /** The distinct values of the int column `c` of a delta-sized frame,
    * taken as an observation on one `noop` job (no exchange, no job of
    * its own for the distinct). */
  private def cellCensus(df: DataFrame, c: String): Seq[Int] = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, collect_set(col(c)).as("set"))
      .write.format("noop").mode("overwrite").save()
    obs.get("set").asInstanceOf[Seq[Int]]
  }

  /** The recorded quantizer of an index meta (shape-validated). */
  private def recordedCentroids(meta: Map[String, String],
      sections: Map[String, Array[Double]]): Array[Array[Double]] = {
    val (nlist, dim) = (meta("nlist").toInt, meta("dim").toInt)
    Array.tabulate(nlist) { i =>
      val c = sections(s"c$i")
      graft.ml.WeightsIO.requireLen(s"c$i", c, dim)
      c
    }
  }

  /** The delta-proportional old-cell lookup over the id→cell sidecar:
    * the affected ids' buckets statically prune the sidecar scan to the
    * delta's bucket directories, and the delta broadcasts into the
    * equi-join — no index-proportional work anywhere (PlanSpec pins the
    * PartitionFilters on the idmap scan). `bucketIds` passes the
    * buckets when the caller already has them (applyChanges takes them
    * from its change-set census); otherwise they are one delta-sized
    * distinct, bounded by the bucket count. The sidecar is read with
    * its footer schema (no inference job). Returns (idCol, cell). */
  private[graft] def sidecarOldCells(
      spark: org.apache.spark.sql.SparkSession, path: String,
      affectedIds: DataFrame, idCol: String, buckets: Int,
      bucketIds: Option[Seq[Int]] = None): DataFrame = {
    val bks = bucketIds.getOrElse(affectedIds.select(bucketOf(idCol, buckets))
      .distinct().collect().map(_.getInt(0)).toSeq)
    graft.operators.ParquetMeta.read(spark, s"$path/idmap", Seq("bucket"))
      .where(col("bucket").isin(bks: _*)) // static partition pruning
      .join(broadcast(affectedIds), Seq(idCol))
      .select(col(idCol), col("cell"))
  }

  // ------------------------------------------------ commit-epoch helpers

  /** `bucket = pmod(xxhash64(id as string), buckets)` — the sidecar's
    * partition key. Cast-to-string first so the mapping is stable
    * across delta frames that carry the id at a different integral
    * width than the corpus did. */
  private def bucketOf(idCol: String, buckets: Int) =
    pmod(xxhash64(col(idCol).cast("string")), lit(buckets.toLong))
      .cast("int").as("bucket")

  private def fmtCellEpochs(m: Map[Int, Long]): String =
    m.toSeq.sortBy(_._1).map { case (c, e) => s"$c:$e" }.mkString(",")

  private def parseCellEpochs(
      meta: Map[String, String]): Option[Map[Int, Long]] =
    meta.get("cellEpochs").map { s =>
      if (s.isEmpty) Map.empty[Int, Long]
      else s.split(",").map { kv =>
        val Array(c, e) = kv.split(":")
        c.toInt -> e.toLong
      }.toMap
    }

  /** Live `cell=` directories of the assigned tree (driver FS listing,
    * bounded by nlist). */
  private def listCellDirs(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[Int, org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/assigned")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(st => st.getPath.getName.stripPrefix("cell=").toInt -> st.getPath)
      .toMap
  }

  /** Batch [[writeEpochMarker]] over many cells from a bounded pool:
    * each marker is 3 FS namespace ops (list + delete + create), and a
    * corpus-scaled nlist (≤ 4096 cells) issuing them sequentially pays
    * the full per-op latency 3·nlist times — on an object store that is
    * the whole commit tail (guide §2.6). Marker semantics unchanged:
    * each cell's own replace stays atomic-enough (delete-then-create in
    * one thread); the meta republish still happens strictly after ALL
    * markers land, so crash windows are identical. */
  private def writeEpochMarkers(spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Iterable[Int], epoch: Long): Unit = {
    val cs = cells.toSeq
    if (cs.size <= 2) cs.foreach(c => writeEpochMarker(spark, path, c, epoch))
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, cs.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        cs.map(c => scala.concurrent.Future(
            writeEpochMarker(spark, path, c, epoch)))
          .foreach(scala.concurrent.Await.result(_,
            scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    }
  }

  /** Replace a cell directory's `_epoch_*` marker with `_epoch_<epoch>`
    * (underscore-prefixed files are invisible to parquet readers). */
  private def writeEpochMarker(spark: org.apache.spark.sql.SparkSession,
      path: String, cell: Int, epoch: Long): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/assigned/cell=$cell")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) {
      fs.listStatus(dir).toSeq
        .filter(_.getPath.getName.startsWith("_epoch_"))
        .foreach(st => fs.delete(st.getPath, false))
      fs.create(new org.apache.hadoop.fs.Path(dir, s"_epoch_$epoch"))
        .close()
    }
  }

  private def hasEpochMarker(spark: org.apache.spark.sql.SparkSession,
      path: String, cell: Int, epoch: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(
      s"$path/assigned/cell=$cell/_epoch_$epoch")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Fit the coarse quantizer and assign every corpus row to its cell.
    *
    * Training is Lloyd's k-means on the DRIVER over the bounded sample
    * (one collect of ≤ maxTrainRows small vectors): a coarse quantizer
    * needs roughly-balanced cells, not converged clusters, and running
    * 10 Lloyd iterations as 10 distributed MLlib jobs is pure scheduling
    * overhead at any scale — the sample is the same size either way.
    * Cell assignment of the full corpus stays distributed and codegen'd
    * (assignByCentroids: the `nearest_centroid` kernel). */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L, maxTrainRows: Int = 100000,
      iters: Int = 10): Index = {
    val sample = boundedSample(corpus, idCol, vecCol, maxTrainRows)
    require(sample.nonEmpty, "ivf quantizer: empty training sample")
    assignByCentroids(corpus, idCol, vecCol,
      lloydDriver(sample, nlist, seed, iters))
  }

  /** UNIFORM bounded sample: the md5-ordered prefix is a deterministic
    * pseudo-random draw that is invariant to corpus row order — a plain
    * limit() takes the first N source rows, which on a source-ordered
    * corpus (by crawl date, by domain) would bias the quantizer.
    * orderBy+limit compiles to TakeOrderedAndProject: each task keeps a
    * bounded top-N heap, no global sort shuffle. Shared by every
    * bounded-sample trainer (IVF quantizer, PQ codebooks, IVF-PQ
    * residual codebooks). */
  private[sim] def boundedSample(corpus: DataFrame, idCol: String,
      vecCol: String, maxTrainRows: Int): Array[Array[Double]] = corpus
    .select(col(vecCol), md5(col(idCol).cast("string")).as("__ord"))
    .orderBy(col("__ord"))
    .limit(maxTrainRows)
    .select(col(vecCol))
    .collect()
    .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  /** Driver-side Lloyd's k-means over a bounded sample — a coarse
    * quantizer needs roughly-balanced cells, not converged clusters,
    * and running `iters` Lloyd rounds as distributed jobs is pure
    * scheduling overhead when the sample is bounded anyway. Seeded
    * init (sample draws), fixed iterations, empty cells keep their
    * previous centroid — a DETERMINISTIC pure function of the sample,
    * which is what lets trained quantizers publish to DynamicOracles. */
  private[sim] def lloydDriver(sample: Array[Array[Double]], k: Int,
      seed: Long, iters: Int): Array[Array[Double]] = {
    val dim = sample.head.length
    val rng = new scala.util.Random(seed)
    val cents = Array.tabulate(k)(_ =>
      sample(rng.nextInt(sample.length)).clone())
    val assign = new Array[Int](sample.length)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < sample.length) {
        val v = sample(p); var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best; p += 1
      }
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      var q = 0
      while (q < sample.length) {
        val v = sample(q); val c = assign(q); counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
        q += 1
      }
      var c = 0
      while (c < k) {
        // empty cell: keep the previous centroid
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Deterministic pseudo-random centroid grid derived from md5 —
    * pinned-quantizer indexes are reproducible across engines, so the
    * SEARCH path (cell assignment, nprobe pruning, in-cell ranking)
    * verifies against the DuckDB oracle even though seeded k-means
    * training cannot. */
  def pinnedCentroids(nlist: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nlist, dim) { (i, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"ivf:$i:$d".getBytes("UTF-8"))
      (((h(0) & 0xff) * 256 + (h(1) & 0xff)).toDouble / 65535.0) - 0.5
    }

  /** Cell assignment against FIXED centroids: per row, argmin squared
    * euclidean distance (ties to the lowest cell id), as one codegen'd
    * projection — the `nearest_centroid` kernel, d² = v·v − 2·v·c + c·c
    * with VecDot's fold and the centroid matrix as one reference object
    * (plan and generated class independent of nlist). */
  def assignByCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): Index =
    Index(centroids, corpus.select(col(idCol), col(vecCol),
      NearestCentroid(col(vecCol), centroids).as("cell")))

  /** The pinned/trained centroid grid as DATA — (cell int, cvec
    * array<double>), the form [[assignByCentroidsDf]] and [[searchDf]]
    * take. */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "cvec")
  }

  /** [[assignByCentroids]] for a centroid grid held as DATA — a (cell,
    * cvec) frame, e.g. a trainer's output. The frame's nlist rows are
    * collected on the driver and ordered by cell, the same
    * `nearest_centroid` kernel assigns every row, and the kernel's row
    * index maps back to the frame's cell id — so the cell ids need not
    * be 0..nlist-1, and exact ties go to the LOWEST id. The winning
    * centroid's vector re-attaches by one broadcast left equi-join on
    * the cell. No exchange, no per-row fan-out.
    *
    * Contract: the centroid frame holds at least one row, integral
    * cell ids that are non-null and unique, and non-null centroid
    * vectors of one dimension — each is checked on the collected grid,
    * before any job over the corpus, and fails with an
    * IllegalArgumentException naming the fault. Corpus ids must be
    * unique: every input row yields one output row. A null vector
    * yields a null cell and a null `__cvec`, and keeps its row.
    *
    * Output: (idCol, vecCol, cell, __cvec — the winning centroid's
    * vector, for callers that need centroid similarity). */
  def assignByCentroidsDf(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType}
    val cellType = centroids.schema("cell").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(cellType),
      s"assignByCentroidsDf: cell ids must be integral, got ${cellType.sql}")
    val rows = centroids.select(col("cell").cast("long"),
      col("cvec").cast("array<double>")).collect()
    require(rows.nonEmpty, "assignByCentroidsDf: empty centroid frame")
    rows.foreach { r =>
      require(!r.isNullAt(0), "assignByCentroidsDf: null cell id")
      require(!r.isNullAt(1) && !r.getSeq[Any](1).contains(null),
        s"assignByCentroidsDf: null centroid at cell ${r.getLong(0)}")
    }
    val grid = rows.map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val ids = grid.map(_._1)
    val dup = ids.zip(ids.tail).collectFirst { case (a, b) if a == b => a }
    require(dup.isEmpty, s"assignByCentroidsDf: duplicate cell id ${dup.get}")
    val dim = grid.head._2.length
    val odd = grid.find(_._2.length != dim)
    require(odd.isEmpty, s"assignByCentroidsDf: centroids of mixed " +
      s"dimension — cell ${ids.head} has $dim, cell ${odd.get._1} has " +
      s"${odd.get._2.length}")
    val row = NearestCentroid(col(vecCol), grid.map(_._2))
    // element_at over a null-free literal array is typed non-nullable
    // and reads a null index as 0; the guard keeps a null vector's cell
    // null
    val cell = when(row.isNotNull, element_at(typedlit(ids), row + 1))
      .cast(cellType)
    corpus.select(col(idCol), col(vecCol), cell.as("cell"))
      .join(broadcast(centroids.select(col("cell"),
        col("cvec").as("__cvec"))), Seq("cell"), "left")
      .select(col(idCol), col(vecCol), col("cell"), col("__cvec"))
  }

  /** Top-k cosine neighbors per probe, scanning only the nprobe closest
    * cells of each probe. Probes carry (qidCol, qvecCol). The index's
    * centroid grid routes as data ([[searchDf]]). */
  def search(index: Index, probes: DataFrame, idCol: String, vecCol: String,
      qidCol: String, qvecCol: String, k: Int, nprobe: Int,
      dim: Int): DataFrame =
    searchDf(index.assigned, probes, idCol, vecCol, qidCol, qvecCol,
      centroidsDf(probes.sparkSession, index.centroids), k, nprobe, dim)

  /** [[search]] with the centroid grid as a (cell, cvec) DataFrame:
    * [[route]] picks each probe's cells, the probe cells equi-join the
    * assigned corpus on the cell id (the join that dynamic partition
    * pruning narrows to the probed directories of a loaded index), and
    * the exact cosine ranks the top k per probe. */
  def searchDf(assigned: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, qidCol: String, qvecCol: String,
      centroids: DataFrame, k: Int, nprobe: Int, dim: Int): DataFrame = {
    val qn = sqrt(Similarity.dotExpr(col(qvecCol), col(qvecCol), dim))
    val probeCells = route(probes.select(col(qidCol), col(qvecCol),
      qn.as("__qn")), qidCol, qvecCol, centroids, nprobe)
    val corpus = assigned.select(col(idCol), col(vecCol), col("cell"),
      sqrt(Similarity.dotExpr(col(vecCol), col(vecCol), dim)).as("__cn"))
    CosineTopK.topK(probeCells.join(corpus, Seq("cell"))
      .where(col(qidCol) =!= col(idCol))
      .select(col(qidCol).as("qid"), col(idCol).as("nid"),
        (Similarity.dotExpr(col(qvecCol), col(vecCol), dim)
          / (col("__qn") * col("__cn"))).as("cosine")), k)
  }

  /** The probe router of every IVF search: each probe keeps the
    * `nprobe` cells closest by centroid cosine `dot(q, c) / (__qn·‖c‖)`,
    * ties to the lowest cell id. `probes` carries (qidCol, qvecCol,
    * __qn = ‖q‖) and any further columns, which pass through; the
    * (cell, cvec) grid broadcasts with ‖c‖ computed once per centroid,
    * so the plan does not grow with nlist. Adds `__qc = dot(q, c)` (the
    * IVF-PQ score's centroid term) and `cell`. */
  private[sim] def route(probes: DataFrame, qidCol: String,
      qvecCol: String, centroids: DataFrame, nprobe: Int): DataFrame = {
    val cents = broadcast(centroids.select(col("cell").as("__c0"),
      col("cvec").as("__cv"),
      sqrt(Similarity.dot(col("cvec"), col("cvec"))).as("__cn0")))
    probes.crossJoin(cents)
      .withColumn("__qc", Similarity.dot(col(qvecCol), col("__cv")))
      .withColumn("__crank", row_number().over(
        Window.partitionBy(col(qidCol)).orderBy(
          (col("__qc") / (col("__qn") * col("__cn0"))).desc, col("__c0"))))
      .where(col("__crank") <= nprobe)
      .select(probes.columns.map(col) :+ col("__qc") :+
        col("__c0").as("cell"): _*)
  }
}
