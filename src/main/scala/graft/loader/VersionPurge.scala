package graft.loader

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.core.{CanNotUploadFileException, ParquetFooter}

/** ACTIVATE_VERSION semantics (singer-sdk inherited behavior; the reference
  * receives the message through the same loop, reference target_hdfs/
  * target.py:51-52): a tap doing full-table replication stamps every RECORD
  * with a table `version` and closes the sync with ACTIVATE_VERSION — at
  * which point rows of *earlier* versions are superseded and must be
  * removed from the target.
  *
  * Loader contract here: [[SingerLoader]] stamps `_sdc_table_version` on
  * record batches whose messages carry a version; a stream activated at
  * `v` keeps only rows with `_sdc_table_version >= v` or a NULL stamp (rows
  * never stamped were never part of versioned replication — deleting them
  * on a version bump would destroy data, so they are kept, conservatively).
  *
  * The purge is folded into the sync's own staged write and journaled
  * commit ([[ParquetSink]]): no job of its own and no directory swap.
  * [[plan]] decides each file already in the stream dir (partition
  * subdirectories included) from its footer's row-group statistics alone:
  *  - [[Drop]]: every stamp below `v`, no NULL — deleted at commit, never read;
  *  - [[Keep]]: every stamp NULL or at or above `v` — left untouched;
  *  - [[Rewrite]]: straddles `v`, has no statistics, or lacks the stamp
  *    column (a file written before versioned replication began) — one more
  *    task of the sync's write job rewrites its [[kept]] rows in place, under
  *    the stream's merged footer schema, so every file of a purged stream
  *    carries the stamp column.
  * The batch itself is filtered by [[kept]] before it is written. When
  * every file is dropped and the batch leaves nothing, the commit removes
  * the stream dir (missing dir == empty stream everywhere in the loader).
  *
  * The purge this replaced swapped the whole stream dir through two
  * sibling directories; [[recoverLegacy]] restores or removes what a crash
  * of that swap left behind.
  */
object VersionPurge {

  /** Internal bookkeeping column stamped on versioned-replication batches.
    * Excluded from the compaction schema-drift gate (a tap switching
    * full-table -> incremental must not trip SchemaChangedException over
    * loader-internal state); NULL means "never part of versioned
    * replication" and is kept conservatively by the purge. */
  val SdcTableVersionCol = "_sdc_table_version"

  /** Loader-internal lineage/bookkeeping columns (the version stamp plus
    * the `add_record_metadata` family). Their presence is a function of
    * loader CONFIG, not tap schema, so the compaction schema-drift gate
    * ignores them and the preload union NULL-aligns them — toggling the
    * config between syncs must never read as schema drift. */
  def isLoaderInternal(name: String): Boolean = name.startsWith("_sdc_")

  sealed trait Fate
  case object Keep extends Fate
  case object Drop extends Fate
  case object Rewrite extends Fate

  /** ACTIVATE_VERSION(`version`) over one stream dir: each data file's
    * [[Fate]], and the merged footer schema a [[Rewrite]] is read with. */
  final case class Purge(version: Long, fates: Seq[(FileStatus, Fate)],
      schema: StructType) {
    def fateOf(p: Path): Fate =
      fates.collectFirst { case (s, f) if s.getPath == p => f }.getOrElse(Keep)
    def drops: Seq[Path] = fates.collect { case (s, Drop) => s.getPath }
    def rewrites: Seq[Path] = fates.collect { case (s, Rewrite) => s.getPath }
    /** Every file of the dir is dropped. */
    def dropsAll: Boolean = fates.forall(_._2 == Drop)
  }

  /** The rows of `df` that survive ACTIVATE_VERSION(`version`). */
  def kept(df: DataFrame, version: Long): DataFrame =
    if (!df.columns.contains(SdcTableVersionCol)) df
    else df.filter(col(SdcTableVersionCol).isNull || col(SdcTableVersionCol) >= version)

  /** The purge of `dir` at `version`, from the footers alone. None when
    * there is nothing to purge: no data file, or no file carries the stamp
    * column (every row reads it as NULL and is kept). */
  def plan(spark: SparkSession, dir: Path, version: Long): Option[Purge] = {
    val files = ParquetFooter.dataFiles(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    val footers = files.map(s => s -> ParquetFooter.footer(spark, s))
    ParquetFooter.merged(spark,
      footers.map { case (s, m) => ParquetFooter.footerSchema(spark, s, Some(m)) })
      .filter(_.fieldNames.contains(SdcTableVersionCol))
      .map(schema => Purge(version,
        footers.map { case (s, m) => s -> fate(m, version) }, schema))
  }

  /** A file's fate from the stamp column's statistics over its row groups:
    * a missing column or unusable statistics read as [[Rewrite]]. */
  private def fate(meta: ParquetMetadata, version: Long): Fate = {
    val chunks = meta.getBlocks.asScala.toSeq.map(b => b.getRowCount -> b.getColumns.asScala
      .find(_.getPath.toDotString == SdcTableVersionCol).map(_.getStatistics))
    val stats = chunks.collect {
      case (rows, Some(s: LongStatistics)) if s.isNumNullsSet => (rows, s)
    }
    if (stats.size < chunks.size) return Rewrite
    val nulls = stats.map(_._2.getNumNulls).sum
    val valued = stats.map(_._2).filter(_.hasNonNullValue)
    if (nulls == stats.map(_._1).sum) Keep
    else if (nulls == 0 && valued.forall(_.getMax < version)) Drop
    else if (valued.forall(_.getMin >= version)) Keep
    else Rewrite
  }

  /** Leftovers of the directory swap the purge used to commit with: it
    * staged the rewrite in `<stream>__purge_tmp`, renamed the stream dir to
    * `<stream>__purge_old`, renamed the rewrite into place and deleted the
    * old dir. A crash between the two renames left the stream dir missing:
    * it is restored from `__purge_old` (that sync never echoed its STATE,
    * so the tap replays it and its ACTIVATE_VERSION purges again). Any
    * other leftover is stale and removed. */
  def recoverLegacy(fs: FileSystem, dir: Path): Unit = {
    val Seq(tmp, old) = Seq("__purge_tmp", "__purge_old")
      .map(s => new Path(dir.getParent, dir.getName + s))
    if (fs.exists(old) && !fs.exists(dir)) {
      if (!fs.rename(old, dir))
        throw new CanNotUploadFileException(s"could not restore $dir from $old")
      System.err.println(s"[graft] restored $dir from an interrupted purge")
    }
    for (p <- Seq(tmp, old) if fs.exists(p))
      if (!fs.delete(p, true))
        throw new CanNotUploadFileException(s"could not remove stale $p")
  }
}
