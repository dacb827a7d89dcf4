package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession.withConf

/** Dev-only measurement probe: times/validates operator building blocks in
  * isolation so optimization targets the measured bottleneck, not a
  * guessed one. Not part of the library surface; the driver never runs
  * this main. Modes (args(0)): `lshrecall` — recall/candidate sweep of
  * cosineNearDupsLsh vs the exact kernel.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("lshrecall")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.getOrCreate("graft-perfprobe")

    mode match {
      case "lshrecall" =>
        import graft.operators.Similarity
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
        val n = e.count()
        val exact = Similarity.cosineNearDups(e, "vec_id", "embedding", 0.45)
          .cache()
        val nExact = exact.count()
        println(s"[probe] n=$n exact_pairs=$nExact")
        for (planes <- Seq(2, 3, 4, 5); tables <- Seq(4, 8, 16)) {
          val t0 = System.nanoTime()
          val lsh = Similarity.cosineNearDupsLsh(e, "vec_id", "embedding",
            0.45, numPlanes = planes, tables = tables)
          val nLsh = lsh.count()
          val hit = lsh.join(exact, Seq("id_a", "id_b")).count()
          val dt = (System.nanoTime() - t0) / 1e9
          lsh.unpersist()
          println(f"[probe] planes=$planes tables=$tables%2d lsh=$nLsh " +
            f"true=$hit recall=${hit.toDouble / nExact}%.3f " +
            f"falsePos=${nLsh - hit} ${dt}%.2f s")
        }
      case "ivfpq" =>
        // recall@10 of the composed index (and its building blocks) vs the
        // exact scorer, at the sim_ivfpq query-entry parameters
        import graft.operators.Similarity
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
        val queries = e.filter(col("vec_id") % 10 === 0)
        val exact = Similarity.bruteForceTopK(queries, e, "vec_id",
          "embedding", 10, broadcastCorpus = true)
          .select("query_id", "neighbor_id").cache()
        val nExact = exact.count()
        def recallOf(tag: String)(ann: DataFrame): Unit = {
          val t0 = System.nanoTime()
          val hit = exact.join(ann.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id")).count()
          val dt = (System.nanoTime() - t0) / 1e9
          ann.unpersist()
          println(f"[probe] $tag recall@10=${hit.toDouble / nExact}%.3f ${dt}%.2f s")
        }
        recallOf("pq_rerank")(Similarity.pqRerankTopK(queries, e, "vec_id",
          "embedding", 10, candidates = 100))
        recallOf("ivfpq_rerank n6")(Similarity.ivfPqRerankTopK(queries, e,
          "vec_id", "embedding", 10, candidates = 100, nCells = 8, nprobe = 6,
          trainMaxRows = 1000L))
        recallOf("ivfpq_rerank n4")(Similarity.ivfPqRerankTopK(queries, e,
          "vec_id", "embedding", 10, candidates = 100, nCells = 8, nprobe = 4,
          trainMaxRows = 1000L))
      case "entryjobs" =>
        // per-stage timing of SparkEntry queries (args(2) = name[,name...])
        import org.apache.spark.scheduler.SparkListener
        val names = args.lift(2).getOrElse(sys.error("need a query name"))
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
            if (ms > 100)
              println(f"[probe]   stage ${si.stageId}%3d ${ms / 1000.0}%6.2f s " +
                f"tasks=${si.numTasks} ${si.name.take(100)}")
          }
        })
        names.split(",").foreach { name =>
          (1 to 2).foreach { rep =>
            println(s"[probe] --- $name rep $rep")
            val t0 = System.nanoTime()
            graft.SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            println(f"[probe] total ${(System.nanoTime() - t0) / 1e9}%.2f s")
            spark.catalog.clearCache()
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
          }
        }
        Thread.sleep(500)
      case "ivfpqjobs" =>
        // per-Spark-job timing of one ivfPqRerankTopK call
        import graft.operators.Similarity
        import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit =
            starts.put(js.jobId, (System.nanoTime(),
              Option(js.properties.getProperty("spark.job.description"))
                .orElse(Option(js.properties.getProperty("callSite.short")))
                .getOrElse("?")))
          override def onJobEnd(je: SparkListenerJobEnd): Unit = {
            val (t0, desc) = starts.getOrDefault(je.jobId, (0L, "?"))
            println(f"[probe] job ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.2f s  $desc")
          }
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
            if (ms > 200)
              println(f"[probe]   stage ${si.stageId}%3d ${ms / 1000.0}%6.2f s " +
                f"tasks=${si.numTasks} ${si.name.take(90)}")
          }
        })
        val e2 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val q2 = e2.filter(col("vec_id") % 10 === 0)
        (1 to 2).foreach { rep =>
          println(s"[probe] --- rep $rep")
          val full = Similarity.ivfPqRerankTopK(q2, e2, "vec_id", "embedding",
            10, candidates = 100, nCells = 8, nprobe = 6, trainMaxRows = 1000L)
          full.write.format("noop").mode("overwrite").save()
          full.unpersist()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
        Thread.sleep(1000)
      case "ivfpqtime" =>
        // stage-level timing of the sim_ivfpq path at its query params
        import graft.operators.Similarity
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val queries = e.filter(col("vec_id") % 10 === 0)
        def timed[A](tag: String)(f: => A): A = {
          val t0 = System.nanoTime()
          val r = f
          println(f"[probe] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
          r
        }
        (1 to 2).foreach { rep =>
          println(s"[probe] --- rep $rep")
          val ann = timed("ivfPqTopK(cand)")(
            Similarity.ivfPqTopK(queries, e, "vec_id", "embedding", 100,
              nCells = 8, nprobe = 6, trainMaxRows = 1000L))
          ann.unpersist()
          val full = timed("ivfPqRerankTopK")(
            Similarity.ivfPqRerankTopK(queries, e, "vec_id", "embedding", 10,
              candidates = 100, nCells = 8, nprobe = 6, trainMaxRows = 1000L))
          timed("materialize")(
            full.write.format("noop").mode("overwrite").save())
          full.unpersist()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      case "lmsteps" =>
        // sub-stage timing of LangModel.bigramNll at sfDir
        import graft.queries.Tables
        def time[A](label: String)(body: => A): A = {
          val t0 = System.nanoTime(); val r = body
          println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val docs = Tables.ts(spark, sfDir, "documents")
        (1 to 2).foreach { rep =>
          println(s"[probe] --- rep $rep")
          val v = time("vocab+count") {
            val v0 = graft.operators.LangModel.vocab(docs, "doc_id", "text", 200).persist()
            v0.count(); v0
          }
          val t = docs.select(col("doc_id").as("doc"), split(col("text"), " ").as("tk"))
          val bg0 = t.filter(size(col("tk")) >= 2)
            .select(col("doc"), explode(arrays_zip(
              slice(col("tk"), lit(1), size(col("tk")) - 1),
              slice(col("tk"), lit(2), size(col("tk")) - 1))).as("z"))
            .select(col("doc"), col("z").getField("0").as("r1"),
              col("z").getField("1").as("r2"))
          time("raw bigrams noop") {
            bg0.write.format("noop").mode("overwrite").save()
          }
          val bg = bg0
            .join(broadcast(v.select(col("term").as("t1"))), col("r1") === col("t1"), "left")
            .join(broadcast(v.select(col("term").as("t2"))), col("r2") === col("t2"), "left")
            .select(col("doc"),
              when(col("t1").isNotNull, col("r1")).otherwise(lit("<unk>")).as("w1"),
              when(col("t2").isNotNull, col("r2")).otherwise(lit("<unk>")).as("w2"))
          time("mapped bigrams noop") {
            bg.write.format("noop").mode("overwrite").save()
          }
          val db = bg.groupBy(col("doc"), col("w1"), col("w2"))
            .agg(count(lit(1)).as("occ"))
          time("db noop") { db.write.format("noop").mode("overwrite").save() }
          time("full entry") {
            graft.SparkEntry.queries("text_lm_perplexity")(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
          }
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }

      case "entry" =>
        // time named SparkEntry queries in isolation (3 reps each, noop
        // sink, storage dropped between reps — the bench's hygiene without
        // the suite around it): args(2) = comma-separated names
        val names = args.lift(2).map(_.split(",").toSeq)
          .getOrElse(sys.error("entry mode needs names in args(2)"))
        names.foreach { n =>
          val reps = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            graft.SparkEntry.queries(n)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
            dt
          }
          println(f"[probe] $n reps=${reps.map(r => f"$r%.2f").mkString(",")}")
        }
      case "decon" =>
        // A/B the text_decontaminate input layout vs the r5 record shape:
        // the entry spreads `documents` once and feeds THREE consumers
        // (corpus shingles, eval shingles, final id left-join), each
        // replaying the scan + full-width exchange. Variants: all-spread
        // (current), spread only the shingle-expensive corpus side,
        // no spread at all (the r5 shape).
        import graft.operators.Dedup
        import graft.queries.Tables
        def run(tag: String)(body: => DataFrame): Unit = {
          val reps = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            body.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[probe] decon/$tag reps=${reps.map(r => f"$r%.2f").mkString(",")}")
        }
        run("spread_all") {
          val docs = Tables.ts(spark, sfDir, "documents")
          Dedup.decontaminate(docs, docs.filter(col("doc_id") % 50 === 0),
            "doc_id", "text", minShared = 3)
        }
        run("spread_corpus_only") {
          val plain = Tables.t(spark, sfDir, "documents")
          Dedup.decontaminate(Tables.ts(spark, sfDir, "documents"),
            plain.filter(col("doc_id") % 50 === 0),
            "doc_id", "text", minShared = 3)
        }
        run("no_spread") {
          val docs = Tables.t(spark, sfDir, "documents")
          Dedup.decontaminate(docs, docs.filter(col("doc_id") % 50 === 0),
            "doc_id", "text", minShared = 3)
        }

      case "basket" =>
        // hot-basket cap measurement for the ScaleSmoke doc numbers: order
        // baskets + ONE injected 5k-item basket, capped vs uncapped
        import graft.operators.BasketAnalysis
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
        val hot = spark.range(5000)
          .select(lit(999999999L).as("bk"), col("id").as("it"))
        def run(tag: String)(body: => DataFrame): Unit = {
          val t0 = System.nanoTime()
          body.write.format("noop").mode("overwrite").save()
          println(f"[probe] basket/$tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        run("clean_capped")(BasketAnalysis.rules(li, "bk", "it", 10, Some(64)))
        run("hot_capped")(
          BasketAnalysis.rules(li.unionByName(hot), "bk", "it", 10, Some(64)))
        run("hot_uncapped")(
          BasketAnalysis.rules(li.unionByName(hot), "bk", "it", 10, None))

      case "entryjobsfull" =>
        // per-Spark-JOB timing of one SparkEntry query (args(2) = name):
        // the instrument for job-count-bound entries (every tiny job's
        // call site and wall time, plus the gap structure)
        import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
        val name = args.lift(2).getOrElse(sys.error("need a query name"))
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit =
            starts.put(js.jobId, (System.nanoTime(),
              Option(js.properties.getProperty("callSite.short")).getOrElse("?")))
          override def onJobEnd(je: SparkListenerJobEnd): Unit = {
            val (t0, desc) = starts.getOrDefault(je.jobId, (0L, "?"))
            println(f"[probe] job ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.2f s  $desc")
          }
        })
        (1 to 2).foreach { rep =>
          println(s"[probe] --- rep $rep")
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          println(f"[probe] total ${(System.nanoTime() - t0) / 1e9}%.2f s")
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
        Thread.sleep(500)

      case "cfsteps" =>
        // phase isolation for q138_item_cf: basket agg / pair generation
        // alone / pair exchange+aggregate / full entry
        import graft.queries.Tables
        def time[A](label: String)(body: => A): A = {
          val t0 = System.nanoTime(); val r = body
          println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val o = spark.read.parquet(s"$sfDir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_partkey"))
        def ui = Tables.spread(
          o.join(li, o("o_orderkey") === li("l_orderkey"))
            .select(col("o_custkey").as("u"), col("l_partkey").as("it")))
        (1 to 2).foreach { rep =>
          println(s"[probe] --- rep $rep")
          val baskets = ui
            .filter(col("u").isNotNull && col("it").isNotNull)
            .groupBy(col("u"))
            .agg(array_sort(collect_set(col("it"))).as("its"))
            .filter(size(col("its")) <= 200)
          time("baskets noop")(
            baskets.write.format("noop").mode("overwrite").save())
          val gen = baskets.filter(size(col("its")) >= 2)
            .select(col("its"), posexplode(col("its")).as(Seq("i", "ia")))
            .select(col("ia"),
              explode(expr("slice(its, i + 2, size(its))")).as("ib"))
          time("pairs generate noop")(
            gen.write.format("noop").mode("overwrite").save())
          time("pairs gen+shuffle+agg")(
            gen.repartition(32, col("ia"), col("ib"))
              .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
              .write.format("noop").mode("overwrite").save())
          time("full entry")(
            graft.SparkEntry.queries("q138_item_cf")(spark, sfDir)
              .write.format("noop").mode("overwrite").save())
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }

      case "opqsteps" =>
        // phase-level timing of the sim_opq_append lifecycle (build /
        // append x2 / query), plus the build's internal split
        import graft.operators.Similarity
        def time[A](label: String)(body: => A): A = {
          val t0 = System.nanoTime(); val r = body
          println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
        }
        val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        (1 to 2).foreach { rep =>
          println(s"[probe] --- rep $rep")
          withConf(spark, "spark.sql.adaptive.enabled" -> "false",
              "spark.sql.shuffle.partitions" -> "8") {
            val dir = java.nio.file.Files.createTempDirectory("opq-probe")
            dir.toFile.deleteOnExit()
            time("rotation only") {
              Similarity.opqRotation(
                e0.filter(col("vec_id") < 1000).select(col("embedding")),
                "embedding", 64)
            }
            time("buildOpqIndex") {
              Similarity.buildOpqIndex(e0.filter(col("vec_id") < 1000),
                "vec_id", "embedding", dir.toString)
            }
            time("appendOpqIndex A") {
              Similarity.appendOpqIndex(
                e0.filter(col("vec_id") >= 1000 && col("vec_id") % 2 === 0),
                "vec_id", "embedding", dir.toString)
            }
            time("appendOpqIndex B") {
              Similarity.appendOpqIndex(
                e0.filter(col("vec_id") >= 1000 && col("vec_id") % 2 === 1),
                "vec_id", "embedding", dir.toString)
            }
            time("queryOpqIndex") {
              Similarity.queryOpqIndex(spark, dir.toString,
                e0.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
                k = 10)
                .write.format("noop").mode("overwrite").save()
            }
          }
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }

      case other => sys.error(s"unknown probe mode $other")
    }
    spark.stop()
  }
}
