package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession.withConf

/** Scratch profiler for the round-14 streaming-family drift (VERDICT
  * item #1): q55_stream_join / q49_stream_batch_parity /
  * q88_stream_anomaly / q71 / q72 measured 2-4x their r13 per-entry
  * records on a quiet host with zero streaming source changes. Attribute
  * by measurement, the ProfileQ138 way:
  *
  *   1. each entry isolated, N warm reps, per-rep wall times — is the
  *      drift reproducible at all in a fresh JVM, or suite-state-only?
  *   2. q55 inline with `recentProgress` capture — per-micro-batch
  *      durationMs breakdown (addBatch / getBatch / commitOffsets /
  *      walCommit) and stateOperators commit metrics, so the fixed cost
  *      is attributed to a component, not guessed;
  *   3. q55 state-partition sweep (1/2/4/8) — the store-count fixed cost
  *      curve, re-measured on this JVM.
  *
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileStreaming"
  */
object ProfileStreaming {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.getOrCreate("graft-profile-streaming")

    def time(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[prof] $label%-36s $dt%8.2f s")
      dt
    }

    val entries = Seq("q49_stream_batch_parity", "q55_stream_join",
      "q71_stream_left_join", "q72_stream_full_join", "q88_stream_anomaly")

    // ---- 1. isolated reps ------------------------------------------------
    // 4 reps each, interleaved across the family (A B C D A B C D ...) so
    // a slow host window hits every entry, not one
    println(s"[prof] == phase 1: isolated interleaved reps (sf=$sfDir) ==")
    val reps = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (r <- 1 to 4; n <- entries) {
      val dt = time(s"$n rep$r") {
        graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      reps(n) = reps(n) :+ dt
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    entries.foreach { n =>
      println(f"[prof] summary $n%-28s reps=${reps(n).map(d => f"$d%.2f").mkString(",")} min=${reps(n).min}%.2f")
    }

    // ---- 2. q55 inline with progress capture -----------------------------
    println("[prof] == phase 2: q55 per-micro-batch progress breakdown ==")
    import org.apache.spark.sql.streaming.Trigger
    def q55Once(parts: String, label: String): Unit = {
      def side(tag: String, parity: Int) =
        graft.queries.Tables.eventsStream(spark, sfDir)
          .filter(col("event_id") % 2 === parity && col("user_id") % 5 === 0)
          .select(col("event_id").as(s"${tag}_id"),
            col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"))
      val joined = graft.streaming.StreamingDedup.intervalJoin(
        side("a", 0), side("b", 1), "a_user", "b_user", "a_ts", "b_ts",
        lateness = "1 hour", bound = "30 minutes")
      withConf(spark, "spark.sql.shuffle.partitions" -> parts) {
        val t0 = System.nanoTime()
        val q = joined.select(col("a_id"), col("b_id"),
            col("a_user").as("user_id"))
          .writeStream.format("memory").queryName(s"prof_q55_$label")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        val tStart = (System.nanoTime() - t0) / 1e9
        q.awaitTermination()
        val tTotal = (System.nanoTime() - t0) / 1e9
        println(f"[prof] q55[$label] parts=$parts start=$tStart%.2f total=$tTotal%.2f s, batches=${q.recentProgress.length}")
        q.recentProgress.foreach { p =>
          val dur = p.durationMs
          val st = p.stateOperators.headOption
          println(s"[prof]   batch=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs={addBatch:${dur.get("addBatch")}, " +
            s"getBatch:${dur.get("getBatch")}, " +
            s"latestOffset:${dur.get("latestOffset")}, " +
            s"queryPlanning:${dur.get("queryPlanning")}, " +
            s"walCommit:${dur.get("walCommit")}, " +
            s"commitOffsets:${dur.get("commitOffsets")}} " +
            st.map(o => s"state{rows:${o.numRowsTotal}, " +
              s"commitMs:${o.commitTimeMs}, mem:${o.memoryUsedBytes}}")
              .getOrElse(""))
        }
        spark.sql(s"DROP TABLE IF EXISTS prof_q55_$label")
      }
    }
    q55Once("4", "warm1")
    q55Once("4", "warm2")

    // ---- 3. state-partition sweep ---------------------------------------
    println("[prof] == phase 3: q55 state-partition sweep ==")
    Seq("1", "2", "4", "8").foreach(p => q55Once(p, s"p$p"))

    spark.stop()
  }
}
