package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.queries.Tables

/** The two Tables-level contracts that round-8's regression proved
  * load-bearing: every timestamp arrival shape normalizes to the same
  * instant, and spread() widens exactly the under-partitioned scans. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("normalizeEventTs accepts nanos-long, NTZ and TIMESTAMP, same instant") {
    import spark.implicits._
    val us = 1704067200123456L // 2024-01-01T00:00:00.123456Z
    val fromLong = Tables.normalizeEventTs(
      Seq(us * 1000L).toDF("ts")) // nanos-as-long arrival
    val fromTs = Tables.normalizeEventTs(
      Seq(us).toDF("us").select(timestamp_micros(col("us")).as("ts")))
    val fromNtz = Tables.normalizeEventTs(
      Seq(us).toDF("us")
        .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    for ((df, tag) <- Seq((fromLong, "long"), (fromTs, "ts"), (fromNtz, "ntz"))) {
      assert(df.schema("ts").dataType === TimestampType, tag)
      val got = df.select(unix_micros(col("ts"))).first().getLong(0)
      assert(got === us, s"$tag arrival landed on $got, expected $us")
    }
  }

  test("normalizeEventTs long arrival keeps integer precision (div, not double)") {
    import spark.implicits._
    // sub-second bits past 2^53 would be lost by a double division
    val ns = 1704067200123456789L
    val got = Tables.normalizeEventTs(Seq(ns).toDF("ts"))
      .select(unix_micros(col("ts"))).first().getLong(0)
    assert(got === ns / 1000L)
  }

  test("spread widens a 1-partition frame and leaves wide frames alone") {
    import spark.implicits._
    val target = spark.sessionState.conf.numShufflePartitions
    val narrow = (1 to 100).toDF("x").coalesce(1)
    assert(Tables.spread(narrow).rdd.getNumPartitions === target)
    val wide = (1 to 100).toDF("x").repartition(target)
    assert(Tables.spread(wide).rdd.getNumPartitions === target)
    // content is partition-moved, never changed
    assert(Tables.spread(narrow).as[Int].collect().sorted === (1 to 100).toArray)
  }

  test("events reader normalizes the driver testdata's arrival type") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType === TimestampType)
    // unix_micros is the canonical event-time consumer that threw in r8
    assert(ev.select(unix_micros(col("ts"))).first().getLong(0) > 0L)
  }

  test("t reads each table with its footer schema, equal to Spark's inference") {
    val dir = "/root/testdata/sf0.001"
    val tables = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(tables.length === 10)
    for (name <- tables) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet")
      val t = Tables.t(spark, dir, name)
      assert(t.schema === inferred.schema, name)
      assert(t.count() === inferred.count(), name)
    }
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.select(unix_micros(col("ts"))).first().getLong(0) > 0L)
  }
}
