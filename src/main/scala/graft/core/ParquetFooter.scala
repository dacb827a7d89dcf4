package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Spark schemas read from parquet footers on the driver. A plain
  * `spark.read.parquet(path)` infers its schema with a Spark job (one task
  * that opens the footers); handing the footer schema to
  * `spark.read.schema(...)` gives the same `StructType` with no job. The
  * query tables ([[graft.queries.Tables.t]]), the compaction preload and the
  * version purge (which also reads the row-group statistics) all read
  * through here. */
object ParquetFooter {

  /** The footer of one parquet file: its schema and its row groups with
    * their column statistics. */
  def footer(spark: SparkSession, status: FileStatus): ParquetMetadata = {
    // read options from the session's Hadoop conf: `open(InputFile)` alone
    // builds a fresh `Configuration` per footer (re-reading the default and
    // site XML) and ignores the session's `parquet.*` read options
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema of one parquet file, from its footer alone: the
    * schema Spark stored under `org.apache.spark.sql.parquet.row.metadata`
    * when it wrote the file, else the parquet schema converted by
    * `ParquetToSparkSchemaConverter` — the same rule (and session conf)
    * `spark.read.parquet` applies, without its schema-inference job. */
  def footerSchema(spark: SparkSession, status: FileStatus,
      meta: Option[ParquetMetadata] = None): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(status.getPath, meta.getOrElse(footer(spark, status))),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** [[footerSchema]] of the single parquet file at `path`. */
  def fileSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    footerSchema(spark,
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
  }

  /** The schema `spark.read.option("mergeSchema", "true").parquet(dir)`
    * infers for the DATA columns of `dir`, without its job: every parquet
    * file under `dir` (partition subdirectories included, names starting
    * with `_` or `.` skipped, as Spark's listing skips them) is merged in
    * path order — the first file's fields, then each later file's new
    * fields appended. A field seen with two types raises
    * [[SchemaChangedException]]. Partition columns are not in the files;
    * `spark.read.schema(merged).parquet(dir)` still discovers them from the
    * directory names and appends them. None when `dir` holds no file. */
  def mergedSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val root = new Path(dir)
    merged(spark, dataFiles(root.getFileSystem(
      spark.sparkContext.hadoopConfiguration), root).map(footerSchema(spark, _)))
  }

  /** The parquet data files under `dir` as Spark's file index lists them:
    * partition subdirectories included, names starting with `_` or `.`
    * skipped; sorted by path. Empty when `dir` is missing. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    def files(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(s => hidden(s.getPath))
      .flatMap(s => if (s.isDirectory) files(s.getPath) else Seq(s))
    if (!fs.exists(dir)) Seq.empty
    else files(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)
  }

  /** File schemas (in path order) merged as [[mergedSchema]] merges them. */
  def merged(spark: SparkSession, schemas: Seq[StructType]): Option[StructType] = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    schemas.reduceOption(merge(_, _, caseSensitive))
  }

  /** Spark's parquet schema merge: `a`'s fields in order (nullable if
    * either side is), then `b`'s fields `a` lacks. Field names compare as
    * the session's analyzer does. */
  private def merge(a: StructType, b: StructType,
      caseSensitive: Boolean): StructType = {
    def key(name: String) = if (caseSensitive) name else name.toLowerCase
    val bByName = b.fields.map(f => key(f.name) -> f).toMap
    val aNames = a.fields.map(f => key(f.name)).toSet
    StructType(a.fields.map { fa =>
      bByName.get(key(fa.name)).fold(fa)(fb => fa.copy(
        dataType = mergeType(fa.name, fa.dataType, fb.dataType, caseSensitive),
        nullable = fa.nullable || fb.nullable))
    } ++ b.fields.filterNot(f => aNames(key(f.name))))
  }

  private def mergeType(name: String, a: DataType, b: DataType,
      caseSensitive: Boolean): DataType = (a, b) match {
    case (x: StructType, y: StructType) => merge(x, y, caseSensitive)
    case (ArrayType(x, nx), ArrayType(y, ny)) =>
      ArrayType(mergeType(name, x, y, caseSensitive), nx || ny)
    case (MapType(kx, vx, nx), MapType(ky, vy, ny)) =>
      MapType(mergeType(name, kx, ky, caseSensitive),
        mergeType(name, vx, vy, caseSensitive), nx || ny)
    case _ if a == b => a
    case _ => throw new SchemaChangedException(
      s"cannot merge parquet schemas: field $name is ${a.simpleString} " +
        s"in one file and ${b.simpleString} in another")
  }
}
