package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Checkpoints

/** The single homes for conf scoping ([[GraftSession.withConf]]) and for
  * materialize-then-release ([[Checkpoints.finalized]]). */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Unset = "spark.graft.test.unset"
  private val Preset = "spark.graft.test.preset"

  test("withConf restores a key that was set") {
    spark.conf.set(Preset, "before")
    try {
      val seen = GraftSession.withConf(spark, Preset -> "inside") {
        spark.conf.get(Preset)
      }
      assert(seen === "inside")
      assert(spark.conf.getOption(Preset) === Some("before"))
    } finally spark.conf.unset(Preset)
  }

  test("withConf unsets a key that was unset") {
    assert(spark.conf.getOption(Unset) === None)
    val seen = GraftSession.withConf(spark, Unset -> "x") {
      spark.conf.getOption(Unset)
    }
    assert(seen === Some("x"))
    assert(spark.conf.getOption(Unset) === None)
  }

  test("withConf restores when the body throws") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "3",
          Unset -> "y") {
        assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts)
    assert(spark.conf.getOption(Unset) === None)
  }

  test("withConf applies two keys in one call and restores both") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = GraftSession.withConf(spark,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "2") {
      // the scope is live when the action plans: AQE off, 2 partitions
      val df = spark.range(100).groupBy(col("id") % 7).count()
      (spark.conf.get("spark.sql.adaptive.enabled"),
        df.rdd.getNumPartitions)
    }
    assert(seen === (("false", 2)))
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts)
  }

  test("Checkpoints.finalized returns a cached, counted frame and releases its inputs") {
    val a = spark.range(50).toDF("id").persist()
    val b = spark.range(20).toDF("id").persist()
    a.count(); b.count()
    val out = Checkpoints.finalized(a.join(b, "id"), a, b)
    try {
      assert(out.storageLevel !== StorageLevel.NONE)
      val loaded = out.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      }
      assert(loaded === Some(true), "finalized must materialize its result")
      assert(a.storageLevel === StorageLevel.NONE)
      assert(b.storageLevel === StorageLevel.NONE)
      assert(out.count() === 20)
    } finally out.unpersist()
  }
}
