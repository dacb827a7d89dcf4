package graft.loader

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{CanNotUploadFileException, GraftConfig, ParquetFooter}

/** ACTIVATE_VERSION semantics (singer-sdk inherited behavior; the reference
  * receives the message through the same loop, reference target_hdfs/
  * target.py:51-52): a tap doing full-table replication stamps every RECORD
  * with a table `version` and closes the sync with ACTIVATE_VERSION — at
  * which point rows of *earlier* versions are superseded and must be
  * removed from the target.
  *
  * Loader contract here: [[SingerLoader]] stamps `_sdc_table_version` on
  * record batches whose messages carry a version; `activate` rewrites the
  * stream dir keeping only rows with `_sdc_table_version >= version` or a
  * NULL stamp (rows never stamped were never part of versioned replication
  * — deleting them on a version bump would destroy data, so they are kept,
  * conservatively).
  *
  * Scale shape: one distributed filter-rewrite job over the stream dir
  * (the driver reads only each file's footer, for the merged schema), staged into a sibling tmp dir and swapped by
  * two directory renames — same staged-rename commit the per-file
  * compaction uses (reference utils/hdfs.py:56-73). On object stores the
  * rename window is the usual non-atomic caveat; the old data stays
  * recoverable under `__purge_old` until the final delete.
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

  /** @param committedVersion a version this load has just committed rows of
    *                         into the stream dir, if known: at or above
    *                         `version`, some row survives, so the emptiness
    *                         job is skipped */
  def activate(spark: SparkSession, config: GraftConfig, stream: String,
      version: Long, committedVersion: Option[Long] = None): Unit = {
    val dir = config.streamDir(stream)
    val hfs = Compaction.fs(spark, dir)
    val dirPath = new Path(dir)
    if (!hfs.exists(dirPath)) return // nothing loaded yet — activate is a no-op

    // files written before versioned replication began lack the stamp
    // column; under the merged schema (built from the footers, so no
    // inference job) their rows read it as NULL and are kept
    val merged = ParquetFooter.mergedSchema(spark, dir).getOrElse(return)
    if (!merged.fieldNames.contains(SdcTableVersionCol)) return
    val df = spark.read.schema(merged).parquet(dir)

    val keep = df.filter(
      col(SdcTableVersionCol).isNull || col(SdcTableVersionCol) >= version)

    val tmp = new Path(dirPath.getParent, dirPath.getName + "__purge_tmp")
    val old = new Path(dirPath.getParent, dirPath.getName + "__purge_old")

    if (!committedVersion.exists(_ >= version) && keep.isEmpty) {
      // nothing survives: a rewrite would commit a data-file-less dir that
      // breaks schema inference on the next read — remove the stream dir
      // instead (missing dir == empty stream everywhere in the loader),
      // staged through the same rename so a crash never loses the original
      if (hfs.exists(old) && !hfs.delete(old, true))
        throw new CanNotUploadFileException(s"could not clear stale $old")
      if (!hfs.rename(dirPath, old))
        throw new CanNotUploadFileException(s"rename $dirPath -> $old failed")
      if (!hfs.delete(old, true))
        System.err.println(s"[activate] WARN: could not delete $old (superseded data left behind)")
      return
    }

    // the filter inherits one partition per input split; without coalesce the
    // rewrite would explode a compacted single-file dir into one file per
    // partition — keep the output file count bounded by the input's
    val keepCoalesced = keep.coalesce(math.max(1, df.inputFiles.length))
    var w = keepCoalesced.write.mode("overwrite")
      .option("compression", config.compressionMethod)
    if (config.partitionCols.nonEmpty) w = w.partitionBy(config.partitionCols: _*)
    if (config.maxRecordsPerFile > 0)
      w = w.option("maxRecordsPerFile", config.maxRecordsPerFile)
    w.parquet(tmp.toString)

    if (hfs.exists(old) && !hfs.delete(old, true))
      throw new CanNotUploadFileException(s"could not clear stale $old")
    if (!hfs.rename(dirPath, old))
      throw new CanNotUploadFileException(
        s"rename $dirPath -> $old failed; purged data staged at $tmp")
    if (!hfs.rename(tmp, dirPath)) {
      hfs.rename(old, dirPath) // restore; best-effort — tmp still holds the rewrite
      throw new CanNotUploadFileException(
        s"rename $tmp -> $dirPath failed; original restored, rewrite kept at $tmp")
    }
    if (!hfs.delete(old, true))
      System.err.println(s"[activate] WARN: could not delete $old (superseded data left behind)")
  }
}
