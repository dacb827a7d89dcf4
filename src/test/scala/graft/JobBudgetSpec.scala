package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job budgets for the query entries whose eager build-time actions
  * were cut, and for one loader sync. Building the entry plus a `noop`
  * write of its result may start at most the listed number of jobs (the count measured when the budget
  * was set, at sf0.001 on the shared test session). A re-added `count`,
  * `collect`, `persist` + count or schema-inference read fails here. Under
  * AQE every shuffle or broadcast stage is a job of its own, so a plan that
  * gains an exchange fails too. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private val budgets = Seq(
    "q1_agg" -> 2,
    "q140_spearman" -> 7,
    "q150_scc" -> 8,
    "dedup_winnow_clusters" -> 12,
    "text_overlap_matrix" -> 8)

  /** The jobs started and the stages completed while `body` runs. */
  private def during(body: => Unit): (Int, Seq[StageInfo]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.add(e.stageInfo); ()
      }
    }
    GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftSparkInternals.drainListenerBus(sc)
      (jobs.get, stages.asScala.toSeq)
    } finally {
      sc.removeSparkListener(listener)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  private def jobsDuring(body: => Unit): Int = during(body)._1

  for ((entry, budget) <- budgets)
    test(s"$entry builds and runs in at most $budget Spark jobs") {
      val n = jobsDuring(SparkEntry.queries(entry)(spark, sf)
        .write.format("noop").mode("overwrite").save())
      assert(n <= budget, s"$entry ran $n jobs")
    }

  /** Three streams: `events` compacts into its preloaded file, `users`
    * declares `required` and `key_properties` (record validation runs),
    * `plans` is full-table and closed by ACTIVATE_VERSION. */
  private def sync(version: Int, ids: Range): String = {
    val lines = Seq(
      """{"type": "SCHEMA", "stream": "events", "schema": {"type": "object", "properties": {"id": {"type": "integer"}, "ctx": {"type": ["object", "null"], "properties": {"a": {"type": ["string", "null"]}}}}}}""",
      """{"type": "SCHEMA", "stream": "users", "schema": {"type": "object", "properties": {"uid": {"type": "integer"}, "name": {"type": "string"}}, "required": ["uid", "name"]}, "key_properties": ["uid"]}""",
      """{"type": "SCHEMA", "stream": "plans", "schema": {"type": "object", "properties": {"pid": {"type": "integer"}}}, "key_properties": ["pid"]}""") ++
      ids.map(i => s"""{"type": "RECORD", "stream": "events", "record": {"id": $i, "ctx": {"a": "x$i"}}}""") ++
      ids.map(i => s"""{"type": "RECORD", "stream": "users", "record": {"uid": $i, "name": "u$i"}}""") ++
      (1 to 5).map(i => s"""{"type": "RECORD", "stream": "plans", "record": {"pid": $i}, "version": $version}""") ++
      Seq(s"""{"type": "ACTIVATE_VERSION", "stream": "plans", "version": $version}""",
        s"""{"type": "STATE", "value": {"sync": $version}}""")
    val f = java.nio.file.Files.createTempFile("singer", ".jsonl")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  /** The first sync into a fresh destination, then `observe` of the
    * second (compacting, validating and purging) sync. */
  private def secondSync[A](observe: (=> Unit) => A): A = {
    val config = graft.core.GraftConfig(hdfsDestinationPath =
      java.nio.file.Files.createTempDirectory("graft-budget").toString)
    graft.loader.SingerLoader.loadFile(spark, sync(1, 1 to 20), config)
    val second = sync(2, 21 to 40)
    observe(graft.loader.SingerLoader.loadFile(spark, second, config))
  }

  // the control fold, the validation fold and the staged write
  test("a 3-stream sync with compaction and ACTIVATE_VERSION runs at most 3 Spark jobs") {
    val n = secondSync(jobsDuring(_))
    assert(n >= 1 && n <= 3, s"the sync ran $n jobs")
  }

  test("an unpartitioned 3-stream sync runs no shuffle stage") {
    val (_, stages) = secondSync(during(_))
    assert(stages.nonEmpty)
    val shuffling = stages.filter { st =>
      val m = st.taskMetrics
      m.shuffleWriteMetrics.recordsWritten > 0 || m.shuffleReadMetrics.recordsRead > 0
    }
    assert(shuffling.isEmpty, shuffling.map(_.name).mkString("\n"))
  }
}
