package graft.loader

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.core.{CanNotUploadFileException, ParquetFooter, SchemaChangedException}

/** HDFS small-file compaction policy: when a stream flushes, instead of
  * always creating a new file, the most recent file in the stream dir is
  * append-candidates if it is still smaller than the block-size cutoff; the
  * flush then union-rewrites it (there is no parquet append), staged and
  * renamed onto it by the sync's journaled commit ([[ParquetSink]]).
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

  /** Leftovers of the per-file staging the compaction rewrite used to
    * commit with: `<file>_new_tmp/` held the single staged part file, the
    * target was deleted and the part renamed onto it. A crash between the
    * two left the target missing: it is restored from the staged part
    * (that sync never echoed its STATE, so the tap replays it). Any other
    * `_new_tmp` dir is stale and removed. */
  def recoverLegacy(fs: FileSystem, dir: Path): Unit =
    if (fs.exists(dir))
      for (st <- fs.listStatus(dir) if st.isDirectory && st.getPath.getName.endsWith("_new_tmp")) {
        val target = new Path(dir, st.getPath.getName.stripSuffix("_new_tmp"))
        val parts = fs.listStatus(st.getPath)
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        if (!fs.exists(target) && parts.length == 1) {
          if (!fs.rename(parts.head.getPath, target))
            throw new CanNotUploadFileException(s"could not restore $target from ${st.getPath}")
          System.err.println(s"[graft] restored $target from an interrupted rewrite")
        }
        if (!fs.delete(st.getPath, true))
          throw new CanNotUploadFileException(s"could not remove stale ${st.getPath}")
      }
}
