package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job budgets for the query entries whose eager build-time actions
  * were cut: building the entry plus a `noop` write of its result may start
  * at most the listed number of jobs (the count measured when the budget
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
    "dedup_winnow_clusters" -> 13,
    "text_overlap_matrix" -> 9)

  private def jobsOf(entry: String): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    GraftSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(entry)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      GraftSparkInternals.drainListenerBus(sc)
      jobs.get
    } finally {
      sc.removeSparkListener(listener)
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  for ((entry, budget) <- budgets)
    test(s"$entry builds and runs in at most $budget Spark jobs") {
      val n = jobsOf(entry)
      assert(n <= budget, s"$entry ran $n jobs")
    }
}
