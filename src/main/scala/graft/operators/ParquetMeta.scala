package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side parquet ROW-COUNT from file footers.
  *
  * The index-maintenance commit protocol verifies row counts several
  * times per run (save/append/apply/load). `spark.read.parquet(p).count()`
  * is footer-metadata-only too — no data pages are scanned — but it pays
  * a full distributed round-trip per call: file listing, an AQE query
  * stage, task scheduling, result collection (measured 100–200 ms per
  * count on the lifecycle gate, ~5 counts per q_index_maint run). The
  * footers the tasks would read are a few KB each; for the BOUNDED file
  * counts of the index trees (≤ nlist + buckets ≈ 8k directories, one
  * file per directory by the repartForWrite discipline) the driver can
  * read them directly from a small thread pool in single-digit
  * milliseconds locally.
  *
  * Scale honesty: the win is bounded-file-count metadata, not a general
  * replacement for distributed counts. Above `maxDriverFiles` (default
  * 4096, env `SPARK_GRAFT_FOOTER_MAX`) the helper falls back to the
  * distributed count — a tree with tens of thousands of files should not
  * serialize footer reads through one driver.
  *
  * Exactness: identical file set to Spark's scan — hidden files/dirs
  * (leading `_` or `.`) are skipped, everything else under the tree is a
  * data file whose footer records its exact row count; the sum is the
  * table count (plain parquet directories have no delete vectors).
  */
object ParquetMeta {

  private def maxDriverFiles: Int =
    sys.env.getOrElse("SPARK_GRAFT_FOOTER_MAX", "4096").toInt

  /** Recursively list visible data files under `root` (same visibility
    * rule as Spark's InMemoryFileIndex: names starting with `_` or `.`
    * are metadata, not data). */
  private def listDataFiles(fs: FileSystem, root: Path): Seq[Path] = {
    def visible(name: String) =
      !name.startsWith("_") && !name.startsWith(".")
    fs.listStatus(root).toSeq.flatMap { st =>
      if (!visible(st.getPath.getName)) Nil
      else if (st.isDirectory) listDataFiles(fs, st.getPath)
      else if (st.getLen > 0) Seq(st.getPath)
      else Nil
    }
  }

  /** Total row count of the parquet tree at `path`, from footers read on
    * the driver (bounded pool); falls back to a distributed count above
    * `maxDriverFiles` files. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = listDataFiles(fs, root)
    if (files.isEmpty) 0L
    else if (files.size > maxDriverFiles)
      spark.read.parquet(path).count()
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val fs2 = files.map { p =>
          scala.concurrent.Future {
            val in = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                p, conf))
            try in.getRecordCount finally in.close()
          }
        }
        fs2.map(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf)).sum
      } finally pool.shutdown()
    }
  }

  /** `spark.read.parquet(path)` without its schema-inference JOB: Spark
    * infers a parquet schema by reading a footer in a distributed job
    * (one per read). Here the first data file's footer is read on the
    * driver and converted the way Spark converts it (the Spark row
    * metadata the writer stored, else the parquet schema); each of the
    * Hive-style partition columns `partitionCols` that the file's path
    * actually carries is appended as an int (the type Spark infers for
    * the index trees' `cell=` and `bucket=` directory values), and the
    * tree is read with that schema. A tree with no data file falls back
    * to the inferring read. */
  def read(spark: SparkSession, path: String,
      partitionCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    firstDataFile(root.getFileSystem(conf), root) match {
      case None => spark.read.parquet(path)
      case Some(file) =>
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
        val data = try ParquetFileFormat.readSchemaFromFooter(
            new org.apache.parquet.hadoop.Footer(file, in.getFooter),
            new ParquetToSparkSchemaConverter(spark.sessionState.conf))
          finally in.close()
        val dirs = Iterator.iterate(file.getParent)(_.getParent)
          .takeWhile(d => d != null && d.depth > root.depth)
          .map(_.getName).toSet
        val parts = partitionCols.filter(c => dirs.exists(_.startsWith(s"$c=")))
        spark.read.schema(StructType(
          data.filterNot(f => parts.contains(f.name)) ++
            parts.map(StructField(_, IntegerType))))
          .parquet(path)
    }
  }

  /** The first visible data file under `root`, depth-first in listing
    * order — a couple of listings, not a walk of the whole tree. */
  private def firstDataFile(fs: FileSystem, root: Path): Option[Path] = {
    def visible(name: String) =
      !name.startsWith("_") && !name.startsWith(".")
    fs.listStatus(root).iterator
      .filter(st => visible(st.getPath.getName))
      .flatMap(st =>
        if (st.isDirectory) firstDataFile(fs, st.getPath)
        else if (st.getLen > 0) Some(st.getPath)
        else None)
      .nextOption()
  }
}
