package graft.loader

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.core.{CanNotUploadFileException, ParquetFooter, SchemaChangedException}

/** HDFS small-file compaction policy: when a stream flushes, instead of
  * always creating a new file, the most recent file in the stream dir is
  * append-candidates if it is still smaller than the block-size cutoff; the
  * flush then union-rewrites it (there is no parquet append) and atomically
  * replaces it via a staged `_new` + rename.
  *
  * Behavior mirrors the reference policy (reference:
  * target_hdfs/utils/hdfs.py:76-117 listing/selection/admission,
  * utils/hdfs.py:56-73 staged upload + atomic rename,
  * sinks.py:30-44 preload into the buffer), re-expressed on the Hadoop
  * `FileSystem` API so the same code runs on HDFS, S3A or local files. The
  * point at scale: files converge to ~one HDFS block, so a 1000-executor
  * scan of the ingested table reads full blocks instead of thousands of
  * KB-sized files.
  */
object Compaction {

  val DefaultBlockUtilization = 0.85

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parquet files directly in `dir` (empty if the dir is missing). */
  def listParquetFiles(fs: FileSystem, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** max-by(modification time) over the stream dir. */
  def mostRecentFile(fs: FileSystem, dir: String): Option[FileStatus] = {
    val files = listParquetFiles(fs, dir)
    if (files.isEmpty) None else Some(files.maxBy(_.getModificationTime))
  }

  /** The append cutoff: the explicit config limit if given, else 85% of the
    * cluster `dfs.blocksize` (no subprocess probe needed — the Hadoop conf
    * is already on the driver). */
  def blockSizeLimit(spark: SparkSession, configLimit: Option[Long]): Long =
    configLimit.getOrElse {
      val bs = spark.sparkContext.hadoopConfiguration
        .getLongBytes("dfs.blocksize", 128L * 1024 * 1024)
      (bs * DefaultBlockUtilization).toLong
    }

  /** Admission predicate + preload: the most recent file's content, iff it
    * exists and is still under `limit` bytes. Enforces the strict schema
    * gate: the existing file's columns (names and types) must equal the
    * stream schema exactly, else [[SchemaChangedException]] — schema
    * evolution is rejected, never merged. The file's schema comes from its
    * footer, read on the driver ([[ParquetFooter.footerSchema]]), so the preload costs no
    * schema-inference job. */
  def readMostRecentFile(spark: SparkSession, dir: String,
      expectedSchema: StructType, limit: Long): Option[(DataFrame, Path)] = {
    val hfs = fs(spark, dir)
    mostRecentFile(hfs, dir).filter(_.getLen < limit).map { status =>
      val df = spark.read.schema(ParquetFooter.footerSchema(spark, status))
        .parquet(status.getPath.toString)
      // _sdc_* stamps are loader-internal bookkeeping, not tap schema: a
      // stream toggling versioned replication or add_record_metadata must
      // not read as schema drift (the sink NULL-aligns the columns at union)
      def comparable(s: StructType) = s
        .filterNot(f => VersionPurge.isLoaderInternal(f.name))
        .map(f => (f.name, f.dataType))
      val existing = comparable(df.schema)
      val incoming = comparable(expectedSchema)
      if (existing != incoming) {
        throw new SchemaChangedException(
          s"schema changed for ${status.getPath}: file has $existing, stream has $incoming")
      }
      (df, status.getPath)
    }
  }

  /** Write `df` as exactly ONE parquet file at `target`: stage into
    * `{target}_new_tmp/`, then rename the single part file over `target`
    * (last-writer-wins replace, like the reference's `_new` + `hdfs.move`,
    * reference utils/hdfs.py:56-73). `coalesce(1)` structurally guarantees
    * the reference's single-append invariant.
    *
    * Failure safety: delete/rename return values are CHECKED — on any
    * failure the staged file (which holds the union of old+new rows) is
    * left in place and an exception raised, so committed data is never
    * silently lost. Like the reference's delete+move pair, the window
    * between delete and rename is not atomic; a crash there leaves the
    * staged copy recoverable under `_new_tmp`.
    *
    * The staging dir is private to this write and only replaces `target`
    * after the write succeeds, so it commits with the v2 file committer
    * (tasks commit straight into it: no job-level rename pass) and without
    * a `_SUCCESS` marker — fewer renames and listings per flush. */
  def writeSingleFile(spark: SparkSession, df: DataFrame, target: Path,
      compression: String): Unit = {
    val hfs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(target.getParent, target.getName + "_new_tmp")
    df.coalesce(1).write.mode("overwrite")
      .option("compression", compression)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(staging.toString)
    val parts = hfs.listStatus(staging)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    require(parts.length == 1,
      s"expected exactly one staged part file, found ${parts.length}")
    if (hfs.exists(target) && !hfs.delete(target, false))
      throw new CanNotUploadFileException(
        s"could not delete $target before replace; staged data kept at $staging")
    if (!hfs.rename(parts.head.getPath, target))
      throw new CanNotUploadFileException(
        s"rename ${parts.head.getPath} -> $target failed; staged data kept at $staging")
    hfs.delete(staging, true)
  }
}
