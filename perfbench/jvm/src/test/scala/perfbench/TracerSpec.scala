package perfbench

import java.nio.file.Files
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config(s"spark.hadoop.fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)
    .getOrCreate()
  // attributes to frames under this package, so jobs started here land
  // under this file's name
  private lazy val tracer = {
    val t = new Tracer(classPrefix = "perfbench.")
    spark.sparkContext.addSparkListener(t)
    t
  }

  override def afterAll(): Unit = spark.stop()

  private def inScope[T](scope: String)(body: => T): ScopeStats = {
    tracer
    spark.sparkContext.setLocalProperty(Tracer.ScopeKey, scope)
    try body finally spark.sparkContext.setLocalProperty(Tracer.ScopeKey, null)
    PerfbenchBus.drain(spark.sparkContext)
    tracer.scope(scope)
  }

  test("layerOf takes the innermost frame under the prefix") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3447)",
      "graft.loader.Compaction$.writeSingleFile(Compaction.scala:97)",
      "graft.loader.ParquetSink.write(ParquetSink.scala:59)",
      "perfbench.Run.target(Driver.scala:230)").mkString("\n")
    assert(Tracer.layerOf(site, "graft.") == "Compaction")
    assert(Tracer.layerOf(site, "perfbench.") == "Driver")
    assert(Tracer.layerOf(site, "nothing.") == "other")
  }

  test("unionLength merges overlapping intervals") {
    assert(Tracer.unionLength(Seq((20L, 25L), (0L, 10L), (5L, 15L))) == 20L)
    assert(Tracer.unionLength(Seq.empty) == 0L)
  }

  test("a SQL job and an RDD job started from this file land under its layer") {
    val s = inScope("known-file") {
      spark.range(100).selectExpr("sum(id)").collect()
      spark.sparkContext.parallelize(1 to 10, 2).count()
    }
    assert(s.jobs >= 2) // the aggregate adds a shuffle stage job under AQE
    assert(s.jobMsByLayer.keySet == Set("TracerSpec"))
    assert(s.tasks >= 3)
  }

  test("a one-split stage of at least 0.5 s raises serial_stage time") {
    val serial = inScope("serial") {
      spark.sparkContext.parallelize(Seq(1), 1).map { x => Thread.sleep(600); x }.collect()
    }
    assert(serial.serialStageMs >= Tracer.SerialStageMs)
    val wide = inScope("wide") {
      spark.sparkContext.parallelize(1 to 8, 4).map { x => Thread.sleep(150); x }.collect()
    }
    assert(wide.serialStageMs == 0L)
  }

  test("cpuNow counts a busy thread's CPU time as program time") {
    val before = Driver.cpuNow()
    val t0 = System.nanoTime()
    var x = 0.0
    while (System.nanoTime() - t0 < 500000000L) x += math.sqrt(x + 1)
    val d = Driver.cpuNow() - before
    assert(x > 0)
    assert(d.program >= 0.4, d) // ~0.5 s busy on this thread, 10 ms ticks
    assert(d.process >= d.program && d.jit >= 0, d)
  }

  test("CountingFs counts the commit protocol's renames, deletes and listings") {
    val dir = Files.createTempDirectory("perfbench-fs").toAbsolutePath
    val before = CountingFs.snapshot()
    spark.range(10).write.parquet(s"${CountingFs.Scheme}://$dir/out")
    assert(spark.read.parquet(s"${CountingFs.Scheme}://$dir/out").count() == 10)
    val Seq(written, renames, deletes, listings) =
      CountingFs.snapshot().zip(before).map { case (a, b) => a - b }
    assert(written > 0 && renames > 0 && deletes > 0 && listings > 0)
  }
}
