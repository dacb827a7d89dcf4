package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.core.{GraftConfig, SchemaChangedException}
import graft.loader.{Compaction, ParquetSink}

/** The four compaction unit cases from the reference
  * (tests/utils/test_hdfs.py:47-88, re-scaled: FIXTURES.md §1.4), plus the
  * atomic-rewrite path end to end on a local filesystem. */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val schema = StructType(Seq(
    StructField("col1", LongType), StructField("col2", StringType),
    StructField("col3", BooleanType)))

  def mkDf(rows: (Long, String, Boolean)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 1),
      schema)

  def seeded(): String = {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    val sink = new ParquetSink(spark,
      GraftConfig(hdfsDestinationPath = dir.stripSuffix("/t")), "t", schema)
    sink.write(mkDf((1, "a", true), (2, "b", false)))
    dir
  }

  test("case 1: small existing file is preloaded for append") {
    val dir = seeded()
    val preload = Compaction.readMostRecentFile(spark, dir, schema, 1024 * 1024)
    assert(preload.isDefined)
    assert(preload.get._1.count() === 2)
  }

  test("case 2: default limit = 85% of dfs.blocksize admits small file") {
    val dir = seeded()
    // local conf has no dfs.blocksize -> default 128 MiB * 0.85
    val limit = Compaction.blockSizeLimit(spark, None)
    assert(limit === (128L * 1024 * 1024 * 0.85).toLong)
    assert(Compaction.readMostRecentFile(spark, dir, schema, limit).isDefined)
  }

  test("case 3: file over the limit is not an append candidate") {
    val dir = seeded()
    assert(Compaction.readMostRecentFile(spark, dir, schema, 10).isEmpty)
  }

  test("case 4: schema drift raises SchemaChangedException") {
    val dir = seeded()
    val drifted = StructType(schema.fields.take(2))
    intercept[SchemaChangedException] {
      Compaction.readMostRecentFile(spark, dir, drifted, 1024 * 1024)
    }
  }

  test("compacting flushes union-rewrite into a single growing file") {
    val root = Files.createTempDirectory("graft-compact2").toString
    val cfg = GraftConfig(hdfsDestinationPath = root)
    val sink = new ParquetSink(spark, cfg, "t", schema)
    sink.write(mkDf((1, "a", true)))
    sink.write(mkDf((2, "b", false)))
    sink.write(mkDf((3, "c", true)))
    val fs = Compaction.fs(spark, s"$root/t")
    assert(Compaction.listParquetFiles(fs, s"$root/t").size === 1)
    val back = spark.read.parquet(s"$root/t")
    assert(back.count() === 3)
    assert(back.select("col1").collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
  }

  test("skip_existing_files disables compaction (new file per flush)") {
    val root = Files.createTempDirectory("graft-compact3").toString
    val cfg = GraftConfig(hdfsDestinationPath = root, skipExistingFiles = true)
    val sink = new ParquetSink(spark, cfg, "t", schema)
    sink.write(mkDf((1, "a", true)))
    sink.write(mkDf((2, "b", false)))
    val fs = Compaction.fs(spark, s"$root/t")
    assert(Compaction.listParquetFiles(fs, s"$root/t").size === 2)
    assert(spark.read.parquet(s"$root/t").count() === 2)
  }

  test("compression methods write readable parquet") {
    // brotli needs a codec jar the Spark distribution doesn't ship; the
    // config accepts it for reference parity but local write support is
    // gzip/snappy/zstd
    for (codec <- Seq("gzip", "snappy", "zstd")) {
      val root = Files.createTempDirectory(s"graft-codec-$codec").toString
      val sink = new ParquetSink(spark,
        GraftConfig(hdfsDestinationPath = root, compressionMethod = codec), "t", schema)
      sink.write(mkDf((1, "a", true)))
      assert(spark.read.parquet(s"$root/t").count() === 1, codec)
    }
  }

  test("most recent file selection is max-by mtime") {
    val root = Files.createTempDirectory("graft-compact4").toString
    val fs = Compaction.fs(spark, root)
    val d = s"$root/t"
    new java.io.File(d).mkdirs()
    Files.write(java.nio.file.Paths.get(s"$d/a.parquet"), Array[Byte](1))
    Thread.sleep(20)
    Files.write(java.nio.file.Paths.get(s"$d/b.parquet"), Array[Byte](1))
    new java.io.File(s"$d/a.parquet").setLastModified(System.currentTimeMillis() + 5000)
    assert(Compaction.mostRecentFile(fs, d).get.getPath.getName === "a.parquet")
  }

  test("preload schema read from the footer equals spark.read.parquet's") {
    val wide = StructType(Seq(
      StructField("ts", TimestampType), StructField("amount", DoubleType),
      StructField("flag", BooleanType), StructField("name", StringType),
      StructField("_sdc_table_version", LongType),
      StructField("_sdc_received_at", TimestampType)))
    val root = Files.createTempDirectory("graft-footer").toString
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"), 1.5, true,
        "a", 7L, java.sql.Timestamp.valueOf("2024-01-02 03:04:06")),
      Row(null, null, null, null, null, null)), 1), wide)
    new ParquetSink(spark, GraftConfig(hdfsDestinationPath = root), "t", wide)
      .write(df)
    val fs = Compaction.fs(spark, s"$root/t")
    val file = Compaction.mostRecentFile(fs, s"$root/t").get
    val inferred = spark.read.parquet(file.getPath.toString).schema
    val footer = graft.core.ParquetFooter.footerSchema(spark, file)
    assert(footer.map(f => (f.name, f.dataType)) ===
      inferred.map(f => (f.name, f.dataType)))
    val (preload, _) =
      Compaction.readMostRecentFile(spark, s"$root/t", wide, 1024 * 1024).get
    assert(preload.schema === inferred)
    assert(preload.collect().toSet === df.collect().toSet)
  }
}
