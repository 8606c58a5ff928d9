package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.sim.IvfCosine

/** Streaming ANN-index maintenance (VERDICT r13 item 6) — the serving
  * side was already streamed (probe-stream specs ×2); this closes the
  * loop by streaming the MAINTENANCE side: a CDC source of document
  * changes keeps a saved [[IvfCosine]] index current, one micro-batch
  * at a time, with the IngestDedup discipline (state is the artifact
  * at rest; STREAMING state stays zero rows).
  *
  * Per micro-batch of (idCol, vecCol, opCol) rows (op `"U"` upsert —
  * add or re-embed, the batch does not need to know which — or the
  * `deleteOp` tombstone):
  *
  *   1. the batch's ids resolve against the index's id→cell SIDECAR
  *      (bucket-pruned — delta-proportional, never an index scan);
  *      their current vectors read back partition-pruned to the
  *      resolved cells;
  *   2. [[graft.sources.SnapshotDiff.diff]] classifies the batch
  *      against that corpus-at-rest slice on a vector fingerprint:
  *      brand-new ids → `added`, genuinely re-embedded → `changed`,
  *      UNCHANGED re-sends are dropped (an idempotent upstream that
  *      re-emits whole documents costs nothing downstream), tombstoned
  *      ids present in the index → `removed`;
  *   3. adds flow through [[IvfCosine.appendToIndex]] (delta-only
  *      parquet append, base files untouched) and changes + deletes
  *      through [[IvfCosine.applyChanges]] (affected-cell-only
  *      rewrite) — exactly q_index_maint's batch composition, so
  *      stream ≡ batch by construction (pinned in
  *      IndexMaintainStreamSpec).
  *
  * Restart semantics: foreachBatch is at-least-once, and index
  * mutation is not naturally idempotent, so each SUCCESSFULLY applied
  * batch writes a `_maint_batch_<id>` marker under the index root and
  * a replayed batch that finds its marker is SKIPPED — replay after a
  * checkpoint-committed batch is a no-op. A crash MID-apply leaves no
  * marker and a detectably half-committed index (the epoch/row-count
  * protocol), so the retry path is the same as batch maintenance:
  * verify/rebuild, then resume. A batch must not carry both a U and a
  * D for the same id (upstream CDC compaction's job, as in
  * resolveLatest).
  */
object IndexMaintain {

  /** One micro-batch of CDC rows applied to the index at `indexPath` —
    * the unit the stream runs per trigger, exposed for batch callers
    * and the spec's stream ≡ batch pin. */
  def applyBatch(spark: SparkSession, indexPath: String, batch: DataFrame,
      idCol: String, vecCol: String, opCol: String,
      deleteOp: String): Unit = {
    val ups = batch.where(col(opCol) =!= deleteOp)
      .select(col(idCol), col(vecCol))
    val dels = batch.where(col(opCol) === deleteOp).select(col(idCol))
    val ids = ups.select(col(idCol)).unionByName(dels).distinct()
      .localCheckpoint() // consumed by the sidecar lookup + pruned read
    val (meta, _) = graft.ml.WeightsIO.load(s"$indexPath/centroids.json")
    val buckets = meta.get("buckets").map(_.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"index at $indexPath has no id->cell sidecar (pre-sidecar " +
          "artifact) — re-save it before streaming maintenance"))
    val oldPairs = IvfCosine.sidecarOldCells(spark, indexPath, ids,
      idCol, buckets).localCheckpoint() // cells list + old-row read
    val oldCells = oldPairs.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by nlist
    // the corpus-at-rest slice: partition-pruned to the batch's cells,
    // then the delta-sized id set broadcast in
    val oldRows = graft.operators.ParquetMeta.read(spark,
        s"$indexPath/assigned", Seq("cell"))
      .where(col("cell").isin(oldCells: _*))
      .join(broadcast(ids), Seq(idCol))
      .select(col(idCol), col(vecCol))
    // classify on the vector fingerprint; tombstoned ids are absent
    // from `ups`, so index-present tombstones classify as `removed`
    // and unknown tombstones drop out of the full-outer join's
    // added/changed/removed split entirely
    val d = graft.sources.SnapshotDiff.diff(oldRows, ups, idCol,
      md5(to_json(struct(col(vecCol))))).localCheckpoint()
    val added = ups.join(d.where(col("status") === "added")
      .select(idCol), Seq(idCol))
    val changed = ups.join(d.where(col("status") === "changed")
      .select(idCol), Seq(idCol))
    // `removed` = old ids absent from ups = exactly the index-present
    // tombstones ... minus unchanged re-sends, which carry both fps
    val removed = d.where(col("status") === "removed").select(idCol)
      .join(broadcast(dels), Seq(idCol)) // belt: only explicit deletes
    if (!added.isEmpty) IvfCosine.appendToIndex(indexPath, added)
    if (!changed.isEmpty || !removed.isEmpty)
      IvfCosine.applyChanges(spark, indexPath, changed, removed)
  }

  /** Start the maintenance stream over a parquet CDC source. Each
    * micro-batch applies via [[applyBatch]]; a `_maint_batch_<id>`
    * marker makes committed batches replay-safe. Pass `checkpointDir`
    * in any production run (same contract as
    * [[IngestDedup.screenStream]]). */
  def start(spark: SparkSession, sourceDir: String, indexPath: String,
      idCol: String, vecCol: String, opCol: String,
      deleteOp: String = "D", maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val schema = spark.read.parquet(sourceDir).schema
    val step = (batch: Dataset[Row], batchId: Long) => {
      val s = batch.sparkSession
      val marker = new org.apache.hadoop.fs.Path(
        s"$indexPath/_maint_batch_$batchId")
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        applyBatch(s, indexPath, batch.toDF(), idCol, vecCol, opCol,
          deleteOp)
        fs.create(marker).close()
      }
      ()
    }
    val writer = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(step)
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }
}
