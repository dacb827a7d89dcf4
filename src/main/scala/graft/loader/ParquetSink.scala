package graft.loader

import java.util.UUID
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{GraftSparkInternals, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import graft.core.{CanNotUploadFileException, GraftConfig}

/** Per-stream parquet sink: one instance per Singer stream, writing to
  * `{hdfs_destination_path}/{stream}` (reference: target_hdfs/sinks.py:27-29).
  * [[plan]] decides the stream's share of a sync; [[ParquetSink.commit]]
  * writes every stream's share in one Spark job and commits it through one
  * journal.
  *
  * Write paths:
  *  - default: the compaction path — preload the newest small file
  *    ([[Compaction.readMostRecentFile]], which enforces the strict schema
  *    gate) and rewrite it as existing rows, then the batch; with no
  *    admitted file, the batch becomes a fresh `part-<uuid>.parquet`.
  *    `skip_existing_files` disables the preload exactly as in the
  *    reference (sinks.py:38).
  *  - `partition_cols` or `max_records_per_file` without an admitted file:
  *    a plain `append` DataFrame write, multi-file by design, committed by
  *    Spark's own `FileCommitProtocol` after the journaled commit and
  *    outside it. It runs its own job, and a batch that may be empty pays
  *    one emptiness job first (Spark writes an empty file for an empty
  *    unpartitioned frame).
  *  - ACTIVATE_VERSION in the batch folds the purge in ([[VersionPurge]]):
  *    the batch and the preload are filtered to the kept rows, files
  *    straddling the version are rewritten, fully superseded files are
  *    deleted at commit.
  *
  * The commit protocol (the reference's staged `_new` upload + rename,
  * utils/hdfs.py:56-73, once per sync instead of once per file):
  *  1. stage: every output file of the sync is one task of ONE Spark job,
  *     written under `{hdfs_destination_path}/_graft_sync/<id>/` at a path
  *     unique to the task attempt, by the `OutputWriterFactory` of Spark's
  *     `ParquetFileFormat` (same write support, codec and Spark schema
  *     metadata as a DataFrame write). A task that sees no rows writes no
  *     file, so an empty batch needs no emptiness job.
  *  2. journal: the driver writes `_graft_sync/<id>/_journal.json`,
  *     `{"moves": [{"from": <staged>, "to": <final>}, ...],
  *       "deletes": [<path>, ...]}`, listing the staged paths the tasks
  *     returned. Its complete write is the commit point.
  *  3. apply: each staged file is renamed onto its final path (replacing a
  *     compacted file; where the store's rename does not replace, the
  *     target is deleted first), then the superseded files are deleted,
  *     then `_graft_sync` with the journal.
  *
  * Recovery ([[ParquetSink.recover]], at the start of every sync): a
  * journal that parses and whose every move is still staged or already
  * applied is rolled forward (the moves and deletes left undone are done);
  * anything else — no journal, a torn one, a staged file gone missing — is
  * rolled back by deleting the staging dir, which no final path refers to
  * before the journal is complete. A failed sync raises and never echoes
  * its STATE, so the tap replays it: at-least-once, now across all streams
  * of the sync at once. One writer per destination at a time, as before.
  */
class ParquetSink(spark: SparkSession, config: GraftConfig, val streamName: String) {

  val dir: String = config.streamDir(streamName)

  private val compactionEnabled =
    config.partitionCols.isEmpty && !config.skipExistingFiles

  /** This stream's share of a sync: `batch` (None when the sync only
    * activates a version) and the version activated in this sync, if any.
    * Reads footers on the driver and builds lazy frames; runs no job,
    * except the append path's emptiness check when `batchMayBeEmpty` (the
    * caller's counts say whether it can be). */
  def plan(batch: Option[DataFrame], activate: Option[Long],
      batchMayBeEmpty: Boolean = true): ParquetSink.StreamPlan = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionPurge.recoverLegacy(fs, dirPath)
    Compaction.recoverLegacy(fs, dirPath)
    val purge = activate.flatMap(VersionPurge.plan(spark, dirPath, _))
    def kept(df: DataFrame) = activate.fold(df)(VersionPurge.kept(df, _))

    val preload = for {
      b <- batch if compactionEnabled
      (existing, path) <- Compaction.readMostRecentFile(spark, dir, b.schema,
        Compaction.blockSizeLimit(spark, config.blockSizeLimitBytes))
      if !purge.exists(_.fateOf(path) == VersionPurge.Drop)
    } yield ParquetSink.Output(kept(ParquetSink.unionAligned(existing, b)), path)
    val rewrites = purge.toSeq.flatMap(pg => pg.rewrites
      .filterNot(p => preload.exists(_.target == p))
      .map(p => ParquetSink.Output(
        VersionPurge.kept(spark.read.schema(pg.schema).parquet(p.toString), pg.version), p)))
    val appends = config.partitionCols.nonEmpty || config.maxRecordsPerFile > 0
    val fresh = batch.filter(_ => preload.isEmpty && !appends).map(b =>
      ParquetSink.Output(kept(b), new Path(dirPath, s"part-${UUID.randomUUID()}.parquet")))
    val append = batch.filter(_ => preload.isEmpty && appends).map(kept)
      .filterNot(b => (batchMayBeEmpty || activate.isDefined) && b.isEmpty)
    ParquetSink.StreamPlan(dirPath, preload.toSeq ++ rewrites ++ fresh,
      purge.toSeq.flatMap(_.drops), purge.exists(_.dropsAll), append)
  }

  /** Commit `batch` to this stream on its own: a one-stream sync. */
  def write(batch: DataFrame): Unit =
    ParquetSink.commit(spark, config, Seq(plan(Some(batch), None)))
}

object ParquetSink {

  /** One output file of a sync: `frame`'s rows, written as ONE file (its
    * own task; `coalesce(1)` keeps the single-append invariant) that lands
    * on `target`, replacing the file there if any. */
  final case class Output(frame: DataFrame, target: Path)

  /** One stream's share of a sync.
    * @param deletes  files superseded by ACTIVATE_VERSION, deleted at commit
    * @param dropsAll every file the stream dir held is in `deletes`: when
    *                 no output lands in the dir either, the commit deletes
    *                 the dir itself
    * @param append   the partitioned / file-sized append write, run after
    *                 the journaled commit */
  final case class StreamPlan(dir: Path, outputs: Seq[Output], deletes: Seq[Path],
      dropsAll: Boolean, append: Option[DataFrame])

  private val SyncDirName = "_graft_sync"
  private val JournalName = "_journal.json"
  private val mapper = new ObjectMapper()

  private def syncRoot(config: GraftConfig) =
    new Path(config.hdfsDestinationPath.stripSuffix("/"), SyncDirName)

  /** The preload and the batch as one frame, existing rows first. The
    * schema gate ignores loader-internal `_sdc_*` stamps; they are aligned
    * here so a stream toggling versioned replication or
    * add_record_metadata unions cleanly (the side missing a stamp reads it
    * as NULL, typed from the side that has it). */
  private def unionAligned(existing: DataFrame, batch: DataFrame): DataFrame = {
    def align(target: DataFrame, source: DataFrame) =
      source.schema.fields
        .filter(f => VersionPurge.isLoaderInternal(f.name) &&
          !target.columns.contains(f.name))
        .foldLeft(target)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
    align(existing, batch).unionByName(align(batch, existing))
  }

  /** Stage, journal and apply every stream's share of one sync, then run
    * the append writes. Raises on any failure; before the journal is
    * complete a failure removes the staging dir, after it the next sync's
    * [[recover]] finishes the commit. */
  def commit(spark: SparkSession, config: GraftConfig, plans: Seq[StreamPlan]): Unit = {
    val root = syncRoot(config)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outputs = plans.flatMap(_.outputs)
    if (outputs.nonEmpty || plans.exists(_.deletes.nonEmpty)) {
      val staging = new Path(root, s"${System.currentTimeMillis()}-${UUID.randomUUID()}")
      var committed = false
      try {
        val staged = stage(spark, staging, outputs.map(_.frame), config.compressionMethod)
          .iterator
        val perPlan = plans.map(p => p -> p.outputs.map(o => staged.next().map(_ -> o.target)))
        val moves = perPlan.flatMap(_._2.flatten)
        val deletes = perPlan.flatMap { case (p, landed) =>
          if (p.dropsAll && landed.forall(_.isEmpty)) Seq(p.dir) else p.deletes
        }
        if (moves.nonEmpty || deletes.nonEmpty) {
          writeJournal(fs, new Path(staging, JournalName), moves, deletes)
          committed = true
          apply(fs, moves, deletes)
        }
        if (fs.exists(root) && !fs.delete(root, true))
          throw new CanNotUploadFileException(s"could not remove $root")
      } catch {
        case t: Throwable if !committed =>
          try fs.delete(root, true) catch { case s: Throwable => t.addSuppressed(s) }
          throw t
      }
    }
    plans.foreach(p => p.append.foreach(appendWrite(config, p.dir, _)))
  }

  /** Finish or undo what a crashed sync left under `_graft_sync` (see the
    * class doc), then remove it. One `exists` when there is nothing. */
  def recover(spark: SparkSession, config: GraftConfig): Unit = {
    val root = syncRoot(config)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    for (st <- fs.listStatus(root).sortBy(_.getPath.getName) if st.isDirectory) {
      readJournal(fs, new Path(st.getPath, JournalName)) match {
        case Some((moves, deletes))
            if moves.forall { case (from, to) => fs.exists(from) || fs.exists(to) } =>
          apply(fs, moves, deletes)
          System.err.println(s"[graft] rolled forward the interrupted commit ${st.getPath}")
        case _ =>
          System.err.println(s"[graft] rolled back the uncommitted sync ${st.getPath}")
      }
    }
    if (!fs.delete(root, true))
      throw new CanNotUploadFileException(s"could not remove $root")
  }

  /** The moves still staged, then the deletes still present. Idempotent, so
    * recovery re-runs it after a crash anywhere inside it. */
  private def apply(fs: FileSystem, moves: Seq[(Path, Path)], deletes: Seq[Path]): Unit = {
    for ((from, to) <- moves) {
      if (fs.exists(from)) {
        if (!fs.exists(to.getParent) && !fs.mkdirs(to.getParent))
          throw new CanNotUploadFileException(s"could not create ${to.getParent}")
        // a store whose rename does not replace an existing file (HDFS) gets
        // the target deleted first; the journal covers the window between
        if (!fs.rename(from, to) &&
            !(fs.exists(to) && fs.delete(to, false) && fs.rename(from, to)))
          throw new CanNotUploadFileException(s"rename $from -> $to failed")
      } else fs match {
        // a checksummed store (the local one) renames the file, then its
        // `.crc` companion: finish a move a crash split between the two, or
        // the target reads against the replaced file's checksums
        case c: ChecksumFileSystem if c.getRawFileSystem.exists(c.getChecksumFile(from)) =>
          if (!c.getRawFileSystem.rename(c.getChecksumFile(from), c.getChecksumFile(to)))
            throw new CanNotUploadFileException(s"rename of the checksum of $from failed")
        case _ =>
      }
    }
    for (d <- deletes if fs.exists(d))
      if (!fs.delete(d, true))
        throw new CanNotUploadFileException(s"could not delete superseded $d")
  }

  private def writeJournal(fs: FileSystem, path: Path, moves: Seq[(Path, Path)],
      deletes: Seq[Path]): Unit = {
    val doc = mapper.createObjectNode()
    val mv = doc.putArray("moves")
    moves.foreach { case (from, to) =>
      mv.addObject().put("from", from.toString).put("to", to.toString) }
    val dl = doc.putArray("deletes")
    deletes.foreach(d => dl.add(d.toString))
    val out = fs.create(path, false)
    try out.write(mapper.writeValueAsBytes(doc)) finally out.close()
  }

  /** The journal's moves and deletes; None when it is missing or torn. */
  private def readJournal(fs: FileSystem, path: Path): Option[(Seq[(Path, Path)], Seq[Path])] =
    if (!fs.exists(path)) None
    else try {
      val in = fs.open(path)
      val doc = try mapper.readTree(in) finally in.close()
      Some((doc.get("moves").elements().asScala.toSeq.map(m =>
        new Path(m.get("from").asText) -> new Path(m.get("to").asText)),
        doc.get("deletes").elements().asScala.toSeq.map(d => new Path(d.asText))))
    } catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException | _: NullPointerException =>
        None
    }

  /** Write each frame as one file under `staging`, all in ONE Spark job
    * (one task per frame). Returns, per frame, the staged path its task
    * wrote, or None when the frame had no rows. The Hadoop conf is
    * broadcast once; each file ships only the few keys `prepareWrite` set
    * for its schema. */
  private def stage(spark: SparkSession, staging: Path, frames: Seq[DataFrame],
      compression: String): Seq[Option[Path]] = {
    if (frames.isEmpty) return Nil
    val base = spark.sessionState.newHadoopConf()
    val format = new ParquetFileFormat
    val specs = frames.map { df =>
      val job = Job.getInstance(new Configuration(base))
      val factory = format.prepareWrite(spark, job, Map("compression" -> compression), df.schema)
      val overrides = job.getConfiguration.iterator.asScala
        .map(e => e.getKey -> e.getValue)
        .filter { case (k, v) => base.getRaw(k) != v }.toMap
      (factory, df.schema, overrides)
    }.toArray
    val rdds = frames.map(_.coalesce(1).queryExecution.toRdd)
    require(rdds.forall(_.getNumPartitions == 1), "a staged output must be one partition")
    val sc = spark.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(base))
    try {
      val written = SQLExecution.withSQLConfPropagated(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]) {
        sc.runJob(sc.union(rdds), writeTask(conf, staging.toString, specs))
      }
      written.toSeq.map(_.map(new Path(_)))
    } finally conf.destroy()
  }

  /** The task of [[stage]]: partition `i` of the union is frame `i`. Its
    * file is named by the task attempt, so a retried or speculative attempt
    * never clobbers another's; the driver commits only the returned path. */
  private def writeTask(conf: Broadcast[SerializableConfiguration], staging: String,
      specs: Array[(OutputWriterFactory, StructType, Map[String, String])])
      : (TaskContext, Iterator[InternalRow]) => Option[String] = (ctx, rows) =>
    if (!rows.hasNext) None
    else {
      val (factory, schema, overrides) = specs(ctx.partitionId)
      val hadoopConf = new Configuration(conf.value.value)
      overrides.foreach { case (k, v) => hadoopConf.set(k, v) }
      val attempt = new TaskAttemptID(new TaskID(new JobID("graft", ctx.stageId),
        TaskType.MAP, ctx.partitionId), ctx.attemptNumber)
      val path = s"$staging/part-${ctx.partitionId}-${ctx.taskAttemptId}.parquet"
      val writer = factory.newInstance(path, schema,
        new TaskAttemptContextImpl(hadoopConf, attempt))
      var n = 0L
      try rows.foreach { r => writer.write(r); n += 1 }
      catch {
        case t: Throwable =>
          try writer.close() catch { case s: Throwable => t.addSuppressed(s) }
          throw t
      }
      writer.close()
      val file = new Path(path)
      GraftSparkInternals.recordTaskOutput(
        file.getFileSystem(hadoopConf).getFileStatus(file).getLen, n)
      Some(path)
    }

  /** The multi-file append write: hive-partitioned and/or file-sized
    * flushes may emit many files (the reference's single-append invariant
    * only constrains flushes that LOADED an HDFS append file —
    * sinks.py:50-54; write_to_dataset also emits many). */
  private def appendWrite(config: GraftConfig, dir: Path, batch: DataFrame): Unit = {
    var writer = batch.write.mode("append")
      .option("compression", config.compressionMethod)
    if (config.partitionCols.nonEmpty)
      writer = writer.partitionBy(config.partitionCols: _*)
    if (config.maxRecordsPerFile > 0)
      writer = writer.option("maxRecordsPerFile", config.maxRecordsPerFile)
    writer.parquet(dir.toString)
  }
}
