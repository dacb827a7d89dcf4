package graft.loader

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.core.GraftConfig

/** Per-stream parquet sink: one instance per Singer stream, writing to
  * `{hdfs_destination_path}/{stream}` (reference: target_hdfs/sinks.py:27-29).
  *
  * Write paths:
  *  - partitioned (`partition_cols` set) or `skip_existing_files`: plain
  *    `append` write — Spark's `FileCommitProtocol` provides the staged
  *    commit the reference hand-rolled; the compaction preload is disabled
  *    exactly as in the reference (sinks.py:38).
  *  - default: the compaction path — preload the newest small file
  *    ([[Compaction.readMostRecentFile]]), union it with the batch
  *    (columnar UNION ALL, `unionByName`), rewrite as a single file with an
  *    atomic replace. The schema gate throws [[graft.core.SchemaChangedException]]
  *    on any drift.
  *
  * `write` commits whatever batch it is given and runs no emptiness check:
  * the caller knows its record counts ([[SingerLoader]] counts every stream
  * in its control pass and skips streams with nothing to write).
  */
class ParquetSink(spark: SparkSession, config: GraftConfig,
    val streamName: String, val streamSchema: StructType) {

  val dir: String = config.streamDir(streamName)

  private val compactionEnabled =
    config.partitionCols.isEmpty && !config.skipExistingFiles

  def write(batch: DataFrame): Unit = {
    val preload =
      if (compactionEnabled)
        Compaction.readMostRecentFile(spark, dir, streamSchema,
          Compaction.blockSizeLimit(spark, config.blockSizeLimitBytes))
      else None

    preload match {
      case Some((existing, path)) =>
        // the schema gate ignores loader-internal _sdc_* stamps; align them
        // here so a stream toggling versioned replication or
        // add_record_metadata unions cleanly (the side missing a stamp
        // reads it as NULL, typed from the side that has it)
        import org.apache.spark.sql.functions.lit
        def align(target: org.apache.spark.sql.DataFrame,
            source: org.apache.spark.sql.DataFrame) =
          source.schema.fields
            .filter(f => VersionPurge.isLoaderInternal(f.name) &&
              !target.columns.contains(f.name))
            .foldLeft(target)((df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType)))
        val combined = align(existing, batch).unionByName(align(batch, existing))
        Compaction.writeSingleFile(spark, combined, path, config.compressionMethod)
      case None =>
        if (config.partitionCols.nonEmpty || config.maxRecordsPerFile > 0) {
          // multi-file append write: hive-partitioned and/or file-sized
          // flushes may emit many files (the reference's single-append
          // invariant only constrains flushes that LOADED an HDFS append
          // file — sinks.py:50-54; write_to_dataset also emits many)
          var writer = batch.write.mode("append")
            .option("compression", config.compressionMethod)
          if (config.partitionCols.nonEmpty)
            writer = writer.partitionBy(config.partitionCols: _*)
          if (config.maxRecordsPerFile > 0)
            writer = writer.option("maxRecordsPerFile", config.maxRecordsPerFile)
          writer.parquet(dir)
        } else {
          // new single file in the stream dir (named like the reference's
          // uuid parquet files, unique per flush)
          val name = s"part-${java.util.UUID.randomUUID()}.parquet"
          Compaction.writeSingleFile(spark, batch, new Path(dir, name),
            config.compressionMethod)
        }
    }
  }
}
