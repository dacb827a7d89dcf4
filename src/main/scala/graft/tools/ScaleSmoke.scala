package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scale-up smoke: replicate the sf0.1 tables 10x (ids offset so
  * keys stay distinct) and compare operator runtimes against the 1x run.
  * A scalable plan should grow ~linearly (ratio ≈ 10 for scan-bound work,
  * less when fixed costs dominate); a quadratic or driver-bound plan shows
  * a blow-up ratio. Run: `sbt "runMain graft.tools.ScaleSmoke"`.
  *
  * This is a plan-shape check, not a benchmark — the driver's BENCH uses
  * real testdata; this synthesizes volume only to expose asymptotics.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = 10
    val spark = graft.GraftSession.getOrCreate("graft-scale-smoke")
    import graft.operators.{AsOfJoin, BloomPrune, Dedup, Distribution,
      EventAnalytics, Graph, Ranking, Scd2, Similarity, Sketches}

    def rep(name: String, idCols: Seq[String]): DataFrame = {
      val base = spark.read.parquet(s"$sfDir/$name.parquet")
      val ids = idCols.toSet
      (0 until copies).map { c =>
        idCols.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(c.toLong * 100000000L))
        }
      }.reduce(_ unionByName _)
    }

    def time(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $label%-28s $dt%7.2f s")
      dt
    }
    def noop(df: DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      // release whatever the result pinned — checkpoint blocks (invisible
      // to unpersist) AND the result's own cache: entries must not bleed
      // storage into later entries' memory/GC-sensitive ratios
      graft.operators.Checkpoints.release(df)
      df.unpersist(false)
    }

    // 1x inputs (warm both code paths and page cache first)
    val l1 = spark.read.parquet(s"$sfDir/lineitem.parquet"); l1.count()
    val o1 = spark.read.parquet(s"$sfDir/orders.parquet"); o1.count()
    val d1 = spark.read.parquet(s"$sfDir/documents.parquet"); d1.count()
    val e1 = spark.read.parquet(s"$sfDir/embeddings.parquet"); e1.count()
    // 10x inputs, materialized to strip the union/offset from the timings
    val l10 = rep("lineitem", Seq("l_orderkey")).persist(); l10.count()
    val o10 = rep("orders", Seq("o_orderkey", "o_custkey")).persist(); o10.count()
    val d10 = rep("documents", Seq("doc_id")).persist(); d10.count()
    // constant-duplication-rate 10x corpus: token-salting each copy makes
    // the copies disjoint sub-corpora, so pair-emitting exact dedup rows
    // measure plan scaling, not the ~100x true-pair blow-up of identical
    // replication (see the containment_capped row note)
    val d10salt = (0 until copies).map { c =>
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("doc_id", col("doc_id") + lit(c.toLong * 100000000L))
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1c$c"))
    }.reduce(_ unionByName _).persist()
    d10salt.count()
    val e10 = rep("embeddings", Seq("vec_id")).persist(); e10.count()

    def aggJoin(l: DataFrame, o: DataFrame): DataFrame =
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))

    def asof(o: DataFrame): DataFrame = {
      val r = o.groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsOfJoin.joinBackward(
        o.select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_orderdate").as("ts")),
        r, Seq("c"), Seq("o_custkey"), "ts", "o_orderdate", Seq("o_orderkey"))
    }

    // ---- loader path: multi-stream Singer ingest at 1x and 10x ----
    // events replayed as Singer JSONL demuxed into two streams; the ingest
    // plan (route -> validate -> from_json -> flatten -> write) must scale
    // with input size, not stream count x input size
    val evBase = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("ts", col("ts").cast("string"))
    def singerDump(copies: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("smoke-singer")
      val rep = (0 until copies).map(c =>
          evBase.withColumn("event_id", col("event_id") + lit(c.toLong * 100000000L)))
        .reduce(_ unionByName _)
      rep.selectExpr(
        """concat('{"type": "RECORD", "stream": "', CASE WHEN event_id % 2 = 0 THEN 'ev_a' ELSE 'ev_b' END, '", "record": ', to_json(struct(*)), '}') AS value""")
        .write.mode("overwrite").text(dir.toString)
      val props = """{"event_id": {"type": ["integer", "null"]}, "ts": {"type": ["string", "null"]},
        |"user_id": {"type": ["integer", "null"]}, "event_type": {"type": ["string", "null"]},
        |"value": {"type": ["number", "null"]}, "props": {"type": ["string", "null"]}}"""
        .stripMargin.replaceAll("\n", "")
      val schemas = Seq("ev_a", "ev_b").map(s =>
        s"""{"type": "SCHEMA", "stream": "$s", "schema": {"type": "object", "properties": $props}}""")
      java.nio.file.Files.writeString(
        dir.resolve("0_schema.jsonl"), schemas.mkString("", "\n", "\n"))
      dir.toString
    }
    def ingest(in: String): Unit =
      graft.loader.SingerLoader.loadFile(spark, in,
        graft.core.GraftConfig(
          hdfsDestinationPath = java.nio.file.Files
            .createTempDirectory("smoke-out").toString,
          compressionMethod = "snappy", skipExistingFiles = true,
          maxRecordsPerFile = 500000))
    val in1 = singerDump(1)
    val in10 = singerDump(copies)

    // round-4 inputs: a graph that grows in nodes AND edges needs the
    // part/supp keys offset (l10 offsets only l_orderkey), and the CMS
    // build needs a replicated events table
    val lg10 = rep("lineitem", Seq("l_partkey", "l_suppkey")).persist()
    lg10.count()
    val ev1 = spark.read.parquet(s"$sfDir/events.parquet"); ev1.count()
    val ev10 = rep("events", Seq("event_id", "user_id")).persist(); ev10.count()
    def intervalPairs(ev: DataFrame): DataFrame = {
      def side(tag: String, parity: Int) = {
        val base = graft.queries.Tables.normalizeEventTs(ev)
          .filter(col("event_id") % 2 === parity)
        val tsUs = unix_micros(col("ts"))
        base.select(col("event_id").as(s"${tag}_id"),
          col("user_id").as(s"${tag}_user"), tsUs.as(s"${tag}_s"),
          (tsUs + 7200000000L).as(s"${tag}_e"))
      }
      graft.operators.IntervalJoin.overlap(side("a", 0), side("b", 1),
        "a_user", "b_user", "a_s", "a_e", "b_s", "b_e", 14400000000L)
        .select(col("a_id"), col("b_id"))
    }
    def topkAgg(o: DataFrame): DataFrame = {
      val topk = udaf(graft.functions.TypedAggregators.TopK(5))
      o.groupBy(col("o_orderpriority"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("tk"))
    }
    def edgesOf(li: DataFrame): DataFrame = {
      val fwd = li.select(col("l_partkey").as("src"),
        (col("l_suppkey") + 100000000000L).as("dst")).distinct()
      fwd.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }
    // DIRECTED variant (no mirroring): suppliers never appear as sources,
    // so they are sinks — the dangling-mass smoke's input
    def directedEdgesOf(li: DataFrame): DataFrame =
      li.select(col("l_partkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + 100000000000L).as("dst"))
        .distinct()

    // round-7 inputs: events normalized to a timestamp column (shared
    // helper — the smoke session reads parquet nanos as long), plus a
    // replicated customer dimension for the scd2 row
    def evNorm(ev: DataFrame): DataFrame =
      graft.queries.Tables.normalizeEventTs(ev)
        .select(col("user_id"), col("ts"), col("event_type"))
    val funnelSteps = Seq("signup", "view", "click", "purchase")
    val c1 = spark.read.parquet(s"$sfDir/customer.parquet"); c1.count()
    val c10 = rep("customer", Seq("c_custkey")).persist(); c10.count()
    def scdOf(c: DataFrame): DataFrame = {
      val base = c.select(col("c_custkey"), col("c_acctbal"),
        col("c_mktsegment"))
      val cur = base
        .withColumn("valid_from", to_date(lit("2024-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val upd = base.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      Scd2.merge(cur, upd, Seq("c_custkey"),
        Seq("c_acctbal", "c_mktsegment"), "2024-06-01")
    }

    // ---- compaction admission: cost per flush must stay O(1) as the
    // stream dir accumulates files (admission reads ONE file's status and
    // rewrites at most one sub-limit file; a small limit forces rotation)
    val flushInput = {
      val dir = java.nio.file.Files.createTempDirectory("smoke-flush")
      evBase.limit(5000).selectExpr(
        """concat('{"type": "RECORD", "stream": "ev_a", "record": ', to_json(struct(*)), '}') AS value""")
        .coalesce(1).write.mode("overwrite").text(dir.toString)
      val props = """{"event_id": {"type": ["integer", "null"]}, "ts": {"type": ["string", "null"]},
        |"user_id": {"type": ["integer", "null"]}, "event_type": {"type": ["string", "null"]},
        |"value": {"type": ["number", "null"]}, "props": {"type": ["string", "null"]}}"""
        .stripMargin.replaceAll("\n", "")
      java.nio.file.Files.writeString(dir.resolve("0_schema.jsonl"),
        s"""{"type": "SCHEMA", "stream": "ev_a", "schema": {"type": "object", "properties": $props}}""" + "\n")
      dir.toString
    }
    val flushDest = java.nio.file.Files.createTempDirectory("smoke-flush-out").toString
    val flushCfg = graft.core.GraftConfig(hdfsDestinationPath = flushDest,
      hdfsBlockSizeLimit = Some("512K"), compressionMethod = "snappy")
    val flushTimes = (1 to 12).map { i =>
      time(s"compaction_flush #$i") {
        graft.loader.SingerLoader.loadFile(spark, flushInput, flushCfg)
      }
    }
    val flushFirst = flushTimes.take(3).sum / 3
    val flushLast = flushTimes.takeRight(3).sum / 3

    val results = Seq(
      ("loader_ingest", time("loader_ingest 1x")(ingest(in1)),
        time("loader_ingest 10x")(ingest(in10))),
      // ratio here is last-3-flushes / first-3-flushes on a GROWING dir —
      // O(1) admission means ~1.0, not 10
      ("compaction_flush", flushFirst, flushLast),
      ("groupBy_agg", time("groupBy_agg 1x")(noop(l1.groupBy("l_returnflag").agg(sum("l_quantity")))),
        time("groupBy_agg 10x")(noop(l10.groupBy("l_returnflag").agg(sum("l_quantity"))))),
      ("join_agg", time("join_agg 1x")(noop(aggJoin(l1, o1))),
        time("join_agg 10x")(noop(aggJoin(l10, o10)))),
      ("asof_join", time("asof_join 1x")(noop(asof(o1))),
        time("asof_join 10x")(noop(asof(o10)))),
      ("minhash_pairs", time("minhash_pairs 1x")(Dedup.minhashNearDups(d1, "doc_id", "text", 7, 10).unpersist()),
        time("minhash_pairs 10x")(Dedup.minhashNearDups(d10, "doc_id", "text", 7, 10).unpersist())),
      ("fuzzy_dedup", time("fuzzy_dedup 1x")(noop(Dedup.fuzzyDedup(d1, "doc_id", "text", 7, 10))),
        time("fuzzy_dedup 10x")(noop(Dedup.fuzzyDedup(d10, "doc_id", "text", 7, 10)))),
      // capped containment: candidates from sub-cap shingles only, exact
      // verify on full arrays. This row scales volume with the duplication
      // RATE held constant (each copy's tokens are salted, giving 10
      // disjoint sub-corpora): the id-offset d10 replication hands every
      // doc 10 identical twins, growing the TRUE pair set — and therefore
      // any exact pair-emitter's Σ C(df,2) stream — ~100x, which measures
      // output semantics, not plan shape (measured 26x on d10; LSH rows
      // tolerate d10 because banding collapses the twin buckets).
      ("containment_capped", time("containment_capped 1x")(
          Dedup.containmentPairs(d1, "doc_id", "text", 8, 10,
            maxShingleDf = Some(1000)).unpersist()),
        time("containment_capped 10x")(
          Dedup.containmentPairs(d10salt, "doc_id", "text", 8, 10,
            maxShingleDf = Some(1000)).unpersist())),
      ("cosine_neardups", time("cosine_neardups 1x")(noop(Similarity.cosineNearDups(e1, "vec_id", "embedding", 0.45))),
        // 10x rows => 100x pairs; blocks scale with corpus so tasks stay bounded
        time("cosine_neardups 10x")(noop(Similarity.cosineNearDups(e10, "vec_id", "embedding", 0.45, blocks = 24)))),
      // the subquadratic pair generator: auto planes keep buckets ~64, so
      // candidates track the corpus LINEARLY where the exact kernel's pair
      // space grows 100x (the replicated copies always collide — identical
      // vectors share every band — so the verify load is real)
      ("cosine_neardups_lsh", time("cosine_neardups_lsh 1x")(
          noop(Similarity.cosineNearDupsLsh(e1, "vec_id", "embedding", 0.45))),
        time("cosine_neardups_lsh 10x")(
          noop(Similarity.cosineNearDupsLsh(e10, "vec_id", "embedding", 0.45)))),
      // nCells auto-sizes to sqrt(N) — with a FIXED cell count this op went
      // quadratic at 10x (measured 20x ratio before the adaptive default)
      ("ivf_topk", time("ivf_topk 1x")(Similarity.ivfTopK(e1, "vec_id", "embedding", 3, nprobe = 2).unpersist()),
        time("ivf_topk 10x")(Similarity.ivfTopK(e10, "vec_id", "embedding", 3, nprobe = 2).unpersist())),
      // numPlanes auto-sizes to log2(N/64) for the same reason
      ("rp_lsh_topk", time("rp_lsh_topk 1x")(Similarity.rpLshTopK(e1, "vec_id", "embedding", 3).unpersist()),
        time("rp_lsh_topk 10x")(Similarity.rpLshTopK(e10, "vec_id", "embedding", 3).unpersist())),
      // 64-bit fingerprint: 9x7-bit bands keep buckets ~N/128
      ("simhash_xx", time("simhash_xx 1x")(Dedup.simhashNearDupsXx(d1, "doc_id", "text").unpersist()),
        time("simhash_xx 10x")(Dedup.simhashNearDupsXx(d10, "doc_id", "text").unpersist())),
      // FIXED eval set vs 10x corpus: one explode + broadcast semi-join +
      // count — must track the corpus linearly, never pair corpus-corpus
      ("decontaminate", time("decontaminate 1x")(noop(
          Dedup.decontaminate(d1, d1.filter(col("doc_id") % 50 === 0),
            "doc_id", "text"))),
        time("decontaminate 10x")(noop(
          Dedup.decontaminate(d10, d1.filter(col("doc_id") % 50 === 0),
            "doc_id", "text")))),
      // ---- round-4 operators ----
      // graph grows 10x in BOTH nodes and edges (part/supp keys offset)
      ("pagerank_3iter",
        time("pagerank_3iter 1x")(
          noop(Graph.pageRank(edgesOf(l1), 3, edgesDistinct = true))),
        time("pagerank_3iter 10x")(
          noop(Graph.pageRank(edgesOf(lg10), 3, edgesDistinct = true)))),
      // dangling mode adds one 1-row aggregate + broadcast cross per round
      // over the DIRECTED graph (suppliers are sinks) — the ratio must
      // track the plain loop's, the extra work being rank-table-linear
      ("pagerank_dangling",
        time("pagerank_dangling 1x")(noop(Graph.pageRank(
          directedEdgesOf(l1), 3, edgesDistinct = true, danglingMass = true))),
        time("pagerank_dangling 10x")(noop(Graph.pageRank(
          directedEdgesOf(lg10), 3, edgesDistinct = true, danglingMass = true)))),
      // same loop over a src-bucketed edge table: the scan itself delivers
      // the per-round partitioning, so even the first materialization pays
      // no edge shuffle (the bucketed-write cost is excluded — at scale
      // it's paid once and amortized over every downstream job)
      ("pagerank_bucketed", {
        Distribution.writeBucketed(edgesOf(l1), "smoke_edges_b1", Seq("src"), 32)
        time("pagerank_bucketed 1x")(noop(Graph.pageRank(
          spark.table("smoke_edges_b1"), 3,
          edgesDistinct = true, prePartitioned = true)))
      }, {
        Distribution.writeBucketed(edgesOf(lg10), "smoke_edges_b10", Seq("src"), 32)
        time("pagerank_bucketed 10x")(noop(Graph.pageRank(
          spark.table("smoke_edges_b10"), 3,
          edgesDistinct = true, prePartitioned = true)))
      }),
      ("bloom_pruned_join", time("bloom_pruned_join 1x") {
        val dim = o1.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        noop(BloomPrune.prunedJoin(l1, "l_orderkey", dim, "o_orderkey",
          1000000L, 8000000L).groupBy().count())
      }, time("bloom_pruned_join 10x") {
        val dim = o10.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        noop(BloomPrune.prunedJoin(l10, "l_orderkey", dim, "o_orderkey",
          1000000L, 8000000L).groupBy().count())
      }),
      // sketch size is FIXED (4x64 counters) — build must be scan-bound
      ("cms_build", time("cms_build 1x")(noop(Sketches.cmsBuild(ev1, "user_id"))),
        time("cms_build 10x")(noop(Sketches.cmsBuild(ev10, "user_id")))),
      // tracked-counter budget is FIXED (4096) while user_id cardinality
      // grows 10x past it — per-task state stays bounded, so the single
      // aggregate pass must be scan-bound like cms_build
      ("heavy_hitters", time("heavy_hitters 1x")(
          noop(Sketches.heavyHitters(ev1, "user_id", 10))),
        time("heavy_hitters 10x")(
          noop(Sketches.heavyHitters(ev10, "user_id", 10)))),
      ("tfidf_top3", time("tfidf_top3 1x")(noop(Ranking.tfIdfTopTerms(d1, "doc_id", "text", 3))),
        time("tfidf_top3 10x")(noop(Ranking.tfIdfTopTerms(d10, "doc_id", "text", 3)))),
      // bin-join: candidates are equi-join rows, so 10x input (with 10x
      // users — ids offset) must scale ~linearly, not quadratically
      ("interval_join", time("interval_join 1x")(noop(intervalPairs(ev1))),
        time("interval_join 10x")(noop(intervalPairs(ev10)))),
      // bounded aggregate: map-side top-k keeps the exchange at k rows per
      // task per group regardless of input volume
      ("topk_group_agg", time("topk_group_agg 1x")(noop(topkAgg(o1))),
        time("topk_group_agg 10x")(noop(topkAgg(o10)))),
      // k fixed, corpus 10x: the per-round crossJoin grows linearly in rows
      ("kmeans_2iter", time("kmeans_2iter 1x")(
          noop(graft.operators.KMeans.assign(e1, "vec_id", "embedding", 8, 2))),
        time("kmeans_2iter 10x")(
          noop(graft.operators.KMeans.assign(e10, "vec_id", "embedding", 8, 2)))),
      // PQ: codebook size fixed (4 blocks x 16 codes), corpus 10x — build
      // is 4 block k-means (linear, like the row above), scoring is a
      // broadcast ADC table against 10x codes with a FIXED 64-query set,
      // so the whole pipeline must track the corpus linearly
      ("pq_rerank_topk", time("pq_rerank_topk 1x") {
        val r = Similarity.pqRerankTopK(e1.limit(64), e1, "vec_id",
          "embedding", 3, candidates = 24, subspaces = 4)
        noop(r); r.unpersist()
      }, time("pq_rerank_topk 10x") {
        val r = Similarity.pqRerankTopK(e1.limit(64), e10, "vec_id",
          "embedding", 3, candidates = 24, subspaces = 4)
        noop(r); r.unpersist()
      }),
      // IVF x PQ composition: auto cell count (√N) + FIXED-size sampled
      // codebook training — ADC-scored rows per query grow as nprobe·√N
      // (~3.2x at 10x corpus), training cost pinned by trainMaxRows, and
      // only the cell/code assignment passes are linear
      ("ivfpq_rerank_topk", time("ivfpq_rerank_topk 1x") {
        val r = Similarity.ivfPqRerankTopK(e1.limit(64), e1, "vec_id",
          "embedding", 3, candidates = 24, nprobe = 4, subspaces = 4,
          trainMaxRows = 256)
        noop(r); r.unpersist()
      }, time("ivfpq_rerank_topk 10x") {
        val r = Similarity.ivfPqRerankTopK(e1.limit(64), e10, "vec_id",
          "embedding", 3, candidates = 24, nprobe = 4, subspaces = 4,
          trainMaxRows = 256)
        noop(r); r.unpersist()
      }),
      // the incremental-dedup claim: a FIXED batch against a 10x-bigger
      // index must cost ~the same (batch-bands x collision-rate, never
      // corpus size) — the ratio here compares same-batch/1x-index vs
      // same-batch/10x-index, so ~1.0 is the win condition
      ("inc_dedup_fixed_batch", {
        val dir1 = java.nio.file.Files.createTempDirectory("smoke-inc1").toString
        graft.operators.Checkpoints.release(
          graft.operators.IncrementalDedup.processBatch(
            d1, "doc_id", "text", dir1))
        val batch = d1.limit(500)
        time("inc_dedup vs 1x index")(noop(
          graft.operators.IncrementalDedup.processBatch(
            batch.withColumn("doc_id", col("doc_id") + 900000000L),
            "doc_id", "text", dir1)))
      }, {
        val dir10 = java.nio.file.Files.createTempDirectory("smoke-inc10").toString
        graft.operators.Checkpoints.release(
          graft.operators.IncrementalDedup.processBatch(
            d10, "doc_id", "text", dir10))
        val batch = d1.limit(500)
        time("inc_dedup vs 10x index")(noop(
          graft.operators.IncrementalDedup.processBatch(
            batch.withColumn("doc_id", col("doc_id") + 900000000L),
            "doc_id", "text", dir10)))
      }),
      // ---- round-7 operators ----
      // funnel: k per-user min-aggregates all on the user key; 10x users
      // (ids offset) must scale the chain linearly
      ("funnel", time("funnel 1x")(
          EventAnalytics.funnel(evNorm(ev1), "user_id", "ts", "event_type",
            funnelSteps).unpersist()),
        time("funnel 10x")(
          EventAnalytics.funnel(evNorm(ev10), "user_id", "ts", "event_type",
            funnelSteps).unpersist())),
      // retention: per-user state bounded by calendar weeks, two shuffles
      ("retention", time("retention 1x")(
          noop(EventAnalytics.retention(evNorm(ev1), "user_id", "ts",
            "2024-01-01"))),
        time("retention 10x")(
          noop(EventAnalytics.retention(evNorm(ev10), "user_id", "ts",
            "2024-01-01")))),
      // overlap matrix on the SALTED corpus: 10x docs with 10x distinct
      // shingles over the same handful of sources — per-shingle source
      // sets stay bounded by #sources, so the pair stage is flat and the
      // distinct dominates (scan-bound)
      ("source_overlap", time("source_overlap 1x")(
          noop(Dedup.sourceOverlap(d1, "text", "source"))),
        time("source_overlap 10x")(
          noop(Dedup.sourceOverlap(d10salt, "text", "source")))),
      // scd2: dimension AND batch both 10x — two key joins, linear
      ("scd2_merge", time("scd2_merge 1x")(noop(scdOf(c1))),
        time("scd2_merge 10x")(noop(scdOf(c10)))),

      // round-9 operators. Linkage regenerates NAMES from the offset keys:
      // plain replication duplicates every name 10x — hot blocks of 1000
      // sharing one prefix, ~100x the within-block candidate work (a first
      // salt attempt with 1-char copy suffixes measured 19.8x: suffix pairs
      // sat at distance 1 and MATCHED cross-copy). Ten-times-more-entities
      // data has 10x more name prefixes of the same block size, which
      // id-derived names reproduce exactly.
      {
        import graft.operators.{Classifier, Linkage, TimeSeries}
        val c10salt = (0 until copies).map { c =>
          spark.read.parquet(s"$sfDir/customer.parquet")
            .withColumn("c_custkey", col("c_custkey") + lit(c.toLong * 100000000L))
        }.reduce(_ unionByName _)
          .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
          .persist()
        c10salt.count()
        val link = ("fuzzy_linkage", time("fuzzy_linkage 1x")(noop(
            Linkage.fuzzyPairs(c1, "c_custkey", "c_name",
              substring(col("c_name"), 1, 16), 1))),
          time("fuzzy_linkage 10x")(noop(
            Linkage.fuzzyPairs(c10salt, "c_custkey", "c_name",
              substring(col("c_name"), 1, 16), 1))))
        c10salt.unpersist()
        link
      },
      ("resample_locf", time("resample_locf 1x")(noop(
          graft.operators.TimeSeries.resampleLocf(
            evNorm(ev1).withColumn("value", lit(1.0)),
            "user_id", "ts", "value", 3600))),
        time("resample_locf 10x")(noop(
          graft.operators.TimeSeries.resampleLocf(
            evNorm(ev10).withColumn("value", lit(1.0)),
            "user_id", "ts", "value", 3600)))),
      {
        import graft.operators.Classifier
        def lrFeat(docs: DataFrame): DataFrame = {
          val nt = size(split(col("text"), " "))
          docs.select(col("doc_id"),
            when(col("lang") === "en", 1.0).otherwise(0.0).as("label"),
            lit(1.0).as("x0"), (nt.cast("double") / lit(100.0)).as("x1"),
            (col("n_chars").cast("double") / nt / lit(10.0)).as("x2"))
        }
        ("lr_train_3step", time("lr_train_3step 1x")(noop(
            Classifier.fitPredict(lrFeat(d1), Seq("x0", "x1", "x2"), 3))),
          time("lr_train_3step 10x")(noop(
            Classifier.fitPredict(lrFeat(d10), Seq("x0", "x1", "x2"), 3))))
      },

      // ---- round-9 session-3 operators ----
      // BPE on the SALTED corpus: 10x docs with 10x distinct words (plain
      // replication would leave the word table unchanged and measure only
      // the corpus-touch), so every merge round's pair aggregate and fold
      // rewrite see a 10x vocabulary
      ("bpe_train_4merge", time("bpe_train_4merge 1x")(noop(
          graft.operators.Bpe.train(d1, "text", 4))),
        time("bpe_train_4merge 10x")(noop(
          graft.operators.Bpe.train(d10salt, "text", 4)))),
      // graph 10x in nodes AND edges; per round two semi-joins + one
      // degree aggregate, so the chain must track the edge count
      ("kcore_2round", time("kcore_2round 1x")(noop(
          Graph.kCore(edgesOf(l1), k = 5, rounds = 2))),
        time("kcore_2round 10x")(noop(
          Graph.kCore(edgesOf(lg10), k = 5, rounds = 2)))),
      // both snapshots 10x; the full-outer join carries only (key, md5)
      {
        def snapDiff(docs: DataFrame): DataFrame = {
          val prev = docs.filter(col("doc_id") % 7 =!= 0)
          val nxt = docs.filter(col("doc_id") % 5 =!= 0)
            .withColumn("text", when(col("doc_id") % 11 === 0,
              concat(col("text"), lit(" rev"))).otherwise(col("text")))
          graft.operators.Diff.snapshotDiff(prev, nxt, "doc_id",
            Seq("text", "source"))
        }
        ("snapshot_diff", time("snapshot_diff 1x")(noop(snapDiff(d1))),
          time("snapshot_diff 10x")(noop(snapDiff(d10))))
      },
      // k fixed at 100 while the corpus grows 10x: TakeOrdered keeps the
      // exchange at k rows per partition, so the pass must be scan-bound
      ("weighted_sample", time("weighted_sample 1x")(noop(
          graft.operators.Sampling.weightedSample(d1, "doc_id", "n_chars", 100))),
        time("weighted_sample 10x")(noop(
          graft.operators.Sampling.weightedSample(d10, "doc_id", "n_chars", 100)))),
      // two ranked windows + broadcast cut rows, all on the group key
      {
        def cents(o: DataFrame): DataFrame = o.withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        ("mad_outliers", time("mad_outliers 1x")(noop(
            graft.operators.Stats.madOutliers(cents(o1), "o_orderpriority",
              "cents", "o_orderkey"))),
          time("mad_outliers 10x")(noop(
            graft.operators.Stats.madOutliers(cents(o10), "o_orderpriority",
              "cents", "o_orderkey"))))
      },
      // as-of last-touch + min-struct first-touch, both user-partitioned;
      // 10x users (ids offset) must scale the single shuffle linearly
      ("attribution", time("attribution 1x")(noop(
          EventAnalytics.attribution(
            graft.queries.Tables.normalizeEventTs(ev1), "user_id", "ts",
            "event_type", "purchase", Seq("click", "view")))),
        time("attribution 10x")(noop(
          EventAnalytics.attribution(
            graft.queries.Tables.normalizeEventTs(ev10), "user_id", "ts",
            "event_type", "purchase", Seq("click", "view"))))),
      // one lead window + one aggregate on the user key
      ("twap", time("twap 1x")(noop(
          graft.operators.TimeSeries.twap(
            graft.queries.Tables.normalizeEventTs(ev1), "user_id", "ts",
            "value"))),
        time("twap 10x")(noop(
          graft.operators.TimeSeries.twap(
            graft.queries.Tables.normalizeEventTs(ev10), "user_id", "ts",
            "value")))),
      // gaps-and-islands: running-max window + aggregate on the user key
      {
        def iv(ev: DataFrame): DataFrame =
          graft.queries.Tables.normalizeEventTs(ev).select(col("user_id"),
            unix_micros(col("ts")).as("s0"),
            (unix_micros(col("ts")) + 7200000000L).as("e0"))
        ("interval_islands", time("interval_islands 1x")(noop(
            graft.operators.TimeSeries.mergeIntervals(iv(ev1), "user_id",
              "s0", "e0"))),
          time("interval_islands 10x")(noop(
            graft.operators.TimeSeries.mergeIntervals(iv(ev10), "user_id",
              "s0", "e0"))))
      },
      // corpus-side aggregate to entity grain scales with input; the
      // ranked cumulative pass runs on the ENTITY table only
      {
        def cents(o: DataFrame): DataFrame = o.withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        ("abc_class", time("abc_class 1x")(noop(
            graft.operators.Stats.abcClassification(cents(o1), "o_custkey",
              "cents"))),
          time("abc_class 10x")(noop(
            graft.operators.Stats.abcClassification(cents(o10), "o_custkey",
              "cents"))))
      },
      // labels fixed, corpus 10x: the component aggregate is the linear
      // part; the centroid table stays labels x dims
      ("centroid_purity", time("centroid_purity 1x")(noop(
          graft.operators.Similarity.centroidPurity(e1, "vec_id",
            "embedding", "label"))),
        time("centroid_purity 10x")(noop(
          graft.operators.Similarity.centroidPurity(e10, "vec_id",
            "embedding", "label")))),
      // graph 10x in nodes and edges; the maxDegree cap is LOAD-BEARING
      // here: supplier hubs (deg 500-700) would contribute C(deg,2) ≈
      // 200k wedges each (measured: 375 s uncapped at 1x) — the cap drops
      // them as centers, leaving part-centered wedges that track the
      // corpus. The id-offset replication keeps per-copy degrees flat.
      {
        def pp(li: DataFrame): DataFrame =
          li.select(col("l_partkey").as("id_a"),
              (col("l_suppkey") + 100000000000L).as("id_b"))
        ("adamic_adar", time("adamic_adar 1x")(noop(
            Graph.adamicAdar(pp(l1), maxDegree = Some(100), topK = 50))),
          time("adamic_adar 10x")(noop(
            Graph.adamicAdar(pp(lg10), maxDegree = Some(100), topK = 50))))
      },
      // one scan aggregate for the row-local rules + one anti-join count
      {
        import graft.operators.Quality._
        def contract(o: DataFrame, c: DataFrame): DataFrame =
          validate(o, Seq(NotNull("o_orderkey"), Unique(Seq("o_orderkey")),
            InRange("o_totalprice", 0.0, 1000000.0),
            InSet("o_orderstatus", Seq("O", "F", "P")),
            ForeignKey("o_custkey", c, "c_custkey")))
        ("contract_validate", time("contract_validate 1x")(noop(
            contract(o1, c1))),
          time("contract_validate 10x")(noop(contract(o10, c10))))
      },
      // ---- round-10 operators ----
      // enforced maxBasketSize: ONE degenerate basket (5k distinct items —
      // a crawler session) injected into the order baskets is
      // C(5k,2) ≈ 12.5M self-join rows landing in a SINGLE task uncapped
      // (PerfProbe basket @ sf0.1: uncapped 5.65 s vs capped 2.85 s warm —
      // +2.8 s of one-task pair work that grows with the SQUARE of the hot
      // basket, not the corpus: 50k items would be 1.25G rows in one
      // task); the cap drops the basket whole, so the +hot run must cost
      // ~the clean run (~1.0)
      {
        def baskets(li: DataFrame): DataFrame =
          li.select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
        val hot = spark.range(5000)
          .select(lit(999999999L).as("bk"), col("id").as("it"))
        ("assoc_rules_hotcap", time("assoc_rules clean capped")(noop(
            graft.operators.BasketAnalysis.rules(baskets(l1), "bk", "it",
              10, Some(64)))),
          time("assoc_rules +hot capped")(noop(
            graft.operators.BasketAnalysis.rules(
              baskets(l1).unionByName(hot), "bk", "it", 10, Some(64)))))
      },
      // exact-substring dup spans on the SALTED corpus (10x docs, 10x
      // distinct grams, duplication RATE constant): gram explode + one
      // frequency aggregate + a 1:1 join back — must track corpus tokens
      // linearly (the postings join never pairs positions)
      ("exact_dup_spans", time("exact_dup_spans 1x") {
        val r = Dedup.exactDupSpans(d1, "doc_id", "text", 8)
        noop(r); r.unpersist()
      }, time("exact_dup_spans 10x") {
        val r = Dedup.exactDupSpans(d10salt, "doc_id", "text", 8)
        noop(r); r.unpersist()
      }),
      // range-sharded sorted neighborhood: 10x entities with id-derived
      // names — the sharded lead windows + bounded boundary borrows must
      // track the corpus linearly (the one-task global-window formulation
      // this replaced could only scale with single-executor memory)
      {
        import graft.operators.Linkage
        def named(c: DataFrame): DataFrame = c
          .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
        val c10n = (0 until copies).map { cc =>
          spark.read.parquet(s"$sfDir/customer.parquet")
            .withColumn("c_custkey", col("c_custkey") + lit(cc.toLong * 100000000L))
        }.reduce(_ unionByName _)
        val sn = ("sorted_nbrs", time("sorted_nbrs 1x") {
          val r = Linkage.sortedNeighborhood(named(c1), "c_custkey",
            "c_name", substring(col("c_name"), 1, 12), 4, 2)
          noop(r); r.unpersist()
        }, time("sorted_nbrs 10x") {
          val r = Linkage.sortedNeighborhood(named(c10n), "c_custkey",
            "c_name", substring(col("c_name"), 1, 12), 4, 2)
          noop(r); r.unpersist()
        })
        sn
      },
      // BFS reachability on 10 DISJOINT graph copies (src+dst offset
      // together) with 10x seeds: per-round frontier joins must track the
      // frontier's edge neighborhood linearly — visited-set anti-joins
      // never rescan settled regions
      {
        def reachEdges(li: DataFrame, off: Long): DataFrame =
          li.select((col("l_partkey") + off).as("src"),
            (col("l_suppkey") + 10000000L + off).as("dst"))
        def seeds(off: Long): DataFrame =
          spark.read.parquet(s"$sfDir/part.parquet")
            .filter(col("p_partkey") % 101 === 0)
            .select((col("p_partkey") + off).as("id"))
        def mirror(fwd: DataFrame): DataFrame = {
          val dd = fwd.distinct()
          dd.select(explode(array(
              struct(col("src"), col("dst")),
              struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
            .select(col("e.src").as("src"), col("e.dst").as("dst"))
        }
        val e10g = (0 until copies).map(c =>
          reachEdges(l1, c.toLong * 100000000L)).reduce(_ unionByName _)
        val s10g = (0 until copies).map(c =>
          seeds(c.toLong * 100000000L)).reduce(_ unionByName _)
        ("reachability", time("reachability 1x") {
          val r = Graph.reachability(mirror(reachEdges(l1, 0L)), seeds(0L), 3)
          noop(r)
        }, time("reachability 10x") {
          val r = Graph.reachability(mirror(e10g), s10g, 3)
          noop(r)
        })
      },
      // CUSUM with the group space salted 10x (50 groups): the whole
      // statistic is one daily aggregate + group-partitioned windows, so
      // cost must track the scan
      {
        import graft.operators.TimeSeries
        def salted(ev: DataFrame): DataFrame =
          graft.queries.Tables.normalizeEventTs(ev)
        val ev10s = salted(ev10).withColumn("event_type",
          concat(col("event_type"), lit("_"),
            (col("event_id") % 10).cast("string")))
        ("cusum", time("cusum 1x")(noop(
            TimeSeries.cusum(salted(ev1), "event_type", "ts", "value"))),
          time("cusum 10x")(noop(
            TimeSeries.cusum(ev10s, "event_type", "ts", "value"))))
      },
      // chi-square: everything after the first aggregate is contingency-
      // grain (15 cells) — scan-bound by construction
      ("chi_square", time("chi_square 1x")(noop(
          graft.operators.Stats.chiSquare(o1,
            "o_orderpriority", "o_orderstatus"))),
        time("chi_square 10x")(noop(
          graft.operators.Stats.chiSquare(o10,
            "o_orderpriority", "o_orderstatus")))),
      // segment phash, FIXED 500-doc probe batch vs the 1x->10x stored
      // corpus (segmentPhashProbe): the admission path whose cost tracks
      // the batch. The former all-pairs row was OUTPUT-bound, not
      // plan-bound: dHash collapses low-entropy text bytes into few
      // gradient classes, so stored-vs-stored pairs grow ~quadratically
      // in corpus size under ANY salt (45x pairs with suffix salting,
      // ~100x with full alphabet permutation — measured round 14); the
      // pair operator's plan is unchanged and mm_segment_dedup still
      // oracle-checks it at every sf.
      {
        import graft.operators.Multimodal
        def bin(df: DataFrame): DataFrame =
          df.select(col("doc_id"), col("text").cast("binary").as("media"))
        val probe = bin(d1.filter(col("doc_id") < 500))
        def sp(corpus: DataFrame, tag: String): Double =
          time(s"segment_probe $tag")(noop(Multimodal.segmentPhashProbe(
            bin(corpus), probe, "doc_id", "media", 4, 6)))
        ("segment_probe_batch", sp(d1, "1x"), sp(d10salt, "10x"))
      },
      // HITS on 10x edges (10x customers, shared suppliers): the two
      // per-round join+aggregate passes must track the edge list
      // linearly; score frames stay node-sized broadcasts
      {
        def purchases(o: DataFrame, l: DataFrame): DataFrame =
          o.join(l, o("o_orderkey") === l("l_orderkey"))
            .select(col("o_custkey").as("src"),
              (col("l_suppkey") + 10000000L).as("dst"))
        ("hits", time("hits 1x")(noop(
            Graph.hits(purchases(o1, l1), iters = 2))),
          time("hits 10x")(noop(
            Graph.hits(purchases(o10, l10), iters = 2))))
      },
      // TextRank on the salted corpus (10x docs AND 10x vocabulary → 10x
      // graph nodes/edges): tokenize + pagerank rounds must track tokens
      // linearly; the top-10 cut is a TakeOrdered, not a global sort
      ("textrank", time("textrank 1x") {
        val r = Ranking.textrankKeywords(d1, "doc_id", "text", 2, 10)
        noop(r)
      }, time("textrank 10x") {
        val r = Ranking.textrankKeywords(d10salt, "doc_id", "text", 2, 10)
        noop(r)
      }),
      // item-CF 1x vs 10x under the round-16 repartition-first pair
      // aggregate (post-exchange hash maps only — the r15 blow-up fix):
      // pair volume grows with baskets, so the ratio should track the
      // corpus ~linearly with no memory cliff at either scale
      {
        def ui(l: DataFrame): DataFrame =
          l.select(col("l_orderkey").as("u"), col("l_partkey").as("it"))
        ("item_cf", time("item_cf 1x")(noop(
            graft.operators.BasketAnalysis.itemCosine(ui(l1), "u", "it",
              5, Some(200)))),
          time("item_cf 10x")(noop(
            graft.operators.BasketAnalysis.itemCosine(ui(l10), "u", "it",
              5, Some(200)))))
      },
      // item-CF with a degenerate 5000-item account: capped runtime must
      // sit at ~the clean run (the assoc_rules_hotcap story — uncapped,
      // the one account alone is C(5000,2) ≈ 12.5M pair rows in one task)
      {
        def ui(l: DataFrame): DataFrame =
          l.select(col("l_orderkey").as("u"), col("l_partkey").as("it"))
        val hot = spark.range(5000)
          .select(lit(999999999L).as("u"), col("id").as("it"))
        ("item_cf_hotcap", time("item_cf clean capped")(noop(
            graft.operators.BasketAnalysis.itemCosine(ui(l1), "u", "it",
              5, Some(64)))),
          time("item_cf +hot capped")(noop(
            graft.operators.BasketAnalysis.itemCosine(
              ui(l1).unionByName(hot), "u", "it", 5, Some(64)))))
      },
      // prefix-filter exact Jaccard on the salted corpus (disjoint
      // sub-corpora, constant dup rate): candidates come only from each
      // doc's rarest p shingles, so postings stay short where df is
      // large — cost must track the corpus linearly, with NO completeness
      // loss (the capped-postings / banding paths trade that away)
      ("prefix_jaccard", time("prefix_jaccard 1x") {
        val r = Dedup.prefixJaccardPairs(d1, "doc_id", "text", 700)
        noop(r); r.unpersist()
      }, time("prefix_jaccard 10x") {
        val r = Dedup.prefixJaccardPairs(d10salt, "doc_id", "text", 700)
        noop(r); r.unpersist()
      }),
      // Markov stationary on 10x events: the transition matrix stays
      // |types|²-bounded, so the log pays one window+aggregate pass and
      // the power rounds cost ~nothing at any log size
      ("stationary", time("stationary 1x")(noop(
          EventAnalytics.stationaryDistribution(
            graft.queries.Tables.normalizeEventTs(ev1), "user_id", "ts",
            "event_type", "event_id", 3))),
        time("stationary 10x")(noop(
          EventAnalytics.stationaryDistribution(
            graft.queries.Tables.normalizeEventTs(ev10), "user_id", "ts",
            "event_type", "event_id", 3)))),
      // GlobalRank sharded ntile at CORPUS grain (the round-11 rewrite of
      // the single-partition global-rank window): quantile-cut shards +
      // per-shard windows must track the scan linearly — the one-task
      // global sort this replaced scales only with single-executor memory
      ("equidepth", time("equidepth 1x")(noop(
          graft.operators.Stats.equiDepthHistogram(
            l1.withColumn("cents",
              expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
              .withColumn("rk",
                col("l_orderkey") * 10 + col("l_linenumber")),
            "cents", "rk", 20))),
        time("equidepth 10x")(noop(
          graft.operators.Stats.equiDepthHistogram(
            l10.withColumn("cents",
              expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
              .withColumn("rk",
                col("l_orderkey") * 10 + col("l_linenumber")),
            "cents", "rk", 20)))),
      // curriculum staging: the stage cut is the same GlobalRank sharded
      // ntile; the in-stage shuffle windows partition on the stage key —
      // both passes must track the corpus linearly
      ("curriculum", time("curriculum 1x")(noop(
          graft.operators.TextAnalysis.curriculum(d1, "doc_id", "text", 5))),
        time("curriculum 10x")(noop(
          graft.operators.TextAnalysis.curriculum(d10, "doc_id", "text", 5)))),
      // GlobalRank-backed Spearman: value-grain midranks + two joins —
      // must track the scan linearly (the rank never runs per-row)
      ("spearman", time("spearman 1x")(noop(
          graft.operators.Stats.spearman(l1, "l_quantity",
            "l_extendedprice", 1.0, 100.0))),
        time("spearman 10x")(noop(
          graft.operators.Stats.spearman(l10, "l_quantity",
            "l_extendedprice", 1.0, 100.0)))),
      // persisted-PQ-index append: the batch argmins against the FROZEN
      // broadcast codebooks and appends parquet — cost must track the
      // BATCH (fixed 1x here) while the INDEXED corpus grows 10x; ratio
      // ≈ 1 is the claim (the IncrementalDedup lifecycle for codes)
      {
        import graft.operators.Similarity
        val batch = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") % 10 === 0)
          .withColumn("vec_id", col("vec_id") + 900000000L)
        def appendCost(corpus: DataFrame, tag: String): Double = {
          val dir = java.nio.file.Files
            .createTempDirectory(s"pq-smoke-$tag").toString
          Similarity.buildPqIndex(corpus, "vec_id", "embedding", dir,
            trainMaxRows = 1024L)
          time(s"pq_append $tag")(
            Similarity.appendPqIndex(batch, "vec_id", "embedding", dir))
        }
        ("pq_append_batch", appendCost(e1, "1x"), appendCost(e10, "10x"))
      },
      // persisted MinHash index append: the batch shingles itself and
      // appends postings — cost must track the BATCH (fixed 1x slice)
      // while the INDEXED corpus grows 10x; ratio ≈ 1 is the lifecycle
      // claim (the pq_append_batch discipline for the text index)
      {
        val batch = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 900000000L)
        def mhAppendCost(corpus: DataFrame, tag: String): Double = {
          val dir = java.nio.file.Files
            .createTempDirectory(s"mh-smoke-$tag").toString
          Dedup.buildMinhashIndex(corpus, "doc_id", "text", dir)
          time(s"mh_append $tag")(
            Dedup.appendMinhashIndex(batch, "doc_id", "text", dir))
        }
        ("mh_append_batch", mhAppendCost(d1, "1x"), mhAppendCost(d10, "10x"))
      },
      // per-dimension embedding stats: one posexplode + one dim-grain
      // map-side-combined aggregate — corpus-linear, dim-bounded output
      ("dim_stats", time("dim_stats 1x")(noop(
          graft.operators.Similarity.dimStats(e1, "embedding"))),
        time("dim_stats 10x")(noop(
          graft.operators.Similarity.dimStats(e10, "embedding")))),
      // OPQ rotation learning: ONE corpus scan (the dim-pair moment
      // aggregate, map-side combined to 2080 keys) + a corpus-size-
      // INDEPENDENT driver BigInt eigen loop — cost must track the scan;
      // the fixed 64-component iteration amortizes at 10x
      ("opq_rotation", time("opq_rotation 1x") {
          graft.operators.Similarity.opqRotation(e1, "embedding", 64); ()
        },
        time("opq_rotation 10x") {
          graft.operators.Similarity.opqRotation(e10, "embedding", 64); ()
        }),
      // per-session state bounded to maxLen rows before the collect
      ("top_paths", time("top_paths 1x")(noop(
          EventAnalytics.topPaths(
            graft.queries.Tables.normalizeEventTs(ev1), "user_id", "ts",
            "event_type", "event_id", 1800L * 1000000L, 5, 20))),
        time("top_paths 10x")(noop(
          EventAnalytics.topPaths(
            graft.queries.Tables.normalizeEventTs(ev10), "user_id", "ts",
            "event_type", "event_id", 1800L * 1000000L, 5, 20)))),
      // winnowing near-dup pairs on the SALTED corpus (disjoint
      // sub-corpora, constant dup rate): fingerprint extraction is one
      // narrow native pass, and the dfCap bounds every posting before the
      // pair join — Σ C(df,2) must track the corpus, never blow up on
      // boilerplate grams (the assoc_rules_hotcap discipline)
      {
        import graft.operators.TextAnalysis
        def wp(d: DataFrame): Unit = {
          noop(TextAnalysis.winnowPairs(d, "doc_id", "text", 4, 3, 50))
        }
        ("winnow_pairs", time("winnow_pairs 1x")(wp(d1)),
          time("winnow_pairs 10x")(wp(d10salt)))
      },
      // vocabulary-growth curve: both cumulatives ride the sharded
      // GlobalRank pass and first occurrences are one word-grain
      // aggregate — must track tokens linearly, no corpus-grain window
      {
        import graft.operators.TextAnalysis
        def vg(d: DataFrame): Unit = {
          val r = TextAnalysis.vocabGrowth(d, "doc_id", "text", 10L)
          noop(r); r.unpersist()
        }
        ("vocab_growth", time("vocab_growth 1x")(vg(d1)),
          time("vocab_growth 10x")(vg(d10)))
      },
      // index-backed mutual NN, FIXED query batch against a 1x vs 10x
      // INDEXED corpus (auto nCells ~ sqrt N): a query session pays
      // seeds + probed cells only — per-query candidates grow ~sqrt(N)
      // (expect ~3x at 10x), while the exact-MNN baseline would pay the
      // full N x N rescore (100x). Build cost is outside the timer (the
      // build-once / query-many lifecycle the index exists for).
      {
        import graft.operators.Similarity
        val queries = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") % 10 === 0)
        def mnnCost(corpus: DataFrame, tag: String): Double = {
          val dir = java.nio.file.Files
            .createTempDirectory(s"mnn-smoke-$tag").toString
          Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir)
          time(s"mnn_ivf_query $tag")(noop(Similarity.mutualPairs(
            Similarity.queryIvfIndex(spark, dir, queries, "vec_id",
              "embedding", k = 5, nprobe = 2))))
        }
        ("mnn_ivf_query", mnnCost(e1, "1x"), mnnCost(e10, "10x"))
      },
      // winnow-index probe, FIXED probe batch against a 1x vs 10x stored
      // postings index: a probe session pays its own winnowing + the
      // df-capped postings joins — cost must track the BATCH (the
      // mh_append_batch discipline for the MOSS index); build cost is
      // outside the timer (build-once / probe-many lifecycle)
      {
        import graft.operators.TextAnalysis
        val probeBatch = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 900000000L)
        def wnProbeCost(corpus: DataFrame, tag: String): Double = {
          val dir = java.nio.file.Files
            .createTempDirectory(s"wn-smoke-$tag").toString
          TextAnalysis.buildWinnowIndex(corpus, "doc_id", "text", dir)
          time(s"wn_probe $tag") {
            val r = TextAnalysis.queryWinnowIndex(spark, dir, probeBatch,
              "doc_id", "text", 4, 3, 50)
            noop(r); r.unpersist()
          }
        }
        ("wn_probe_batch", wnProbeCost(d1, "1x"), wnProbeCost(d10salt, "10x"))
      },
      // CCNet line dedup (round 14): line-grain explode + md5-keyed
      // distinct-doc df aggregate + order-preserving reassembly —
      // corpus-linear. The salted copies keep content lines per-copy-
      // unique like 1x; only the constructed banner/template dfs grow,
      // which changes the drop SET, not the plan shape.
      {
        import graft.operators.TextAnalysis
        def ld(d: DataFrame, tag: String): Double = {
          val aug = d.withColumn("aug",
            expr(graft.queries.Round14.lineAugSpark))
          time(s"line_dedup $tag")(
            noop(TextAnalysis.lineDedup(aug, "doc_id", "aug", 30L)))
        }
        ("line_dedup", ld(d1, "1x"), ld(d10salt, "10x"))
      },
      // PII scan + redact (round 14): four sequential codegen'd regex
      // passes in one projection — pure scan-bound work
      {
        import graft.operators.Pii
        def pr(d: DataFrame, tag: String): Double =
          time(s"pii_redact $tag")(noop(Pii.redact(d, "doc_id", "text")))
        ("pii_redact", pr(d1, "1x"), pr(d10, "10x"))
      },
      // synthetic-GIF video-frame decode + dHash (round 14): per-row
      // construct + JDK LZW decode + native fingerprint — embarrassingly
      // parallel, no shuffle at all
      {
        import graft.operators.Multimodal
        def vf(d: DataFrame, tag: String): Double = {
          val g = d.select(col("doc_id")).withColumn("media",
            expr(graft.queries.SyntheticGif.mediaSql("doc_id")))
          time(s"video_frames $tag")(noop(
            Multimodal.videoFramePhashes(g, "doc_id", "media")))
        }
        ("video_frames", vf(d1, "1x"), vf(d10, "10x"))
      },
      // paired signed-rank (round 14b): per-user exact micro-sum pairs
      // feed value-grain midranks — 10x users means 10x pairs into the
      // first aggregate, but the rank pass rides the |d| value domain
      {
        import graft.operators.Stats
        val ev1s = spark.read.parquet(s"$sfDir/events.parquet")
        val ev10s = rep("events", Seq("event_id", "user_id"))
          .persist(); ev10s.count()
        def wx(ev: DataFrame, tag: String): Double = {
          val micro = expr("CAST(round(value * 1e6) AS BIGINT)")
          val pairs = ev.groupBy(col("user_id"))
            .agg(sum(when(col("event_type") === "view", micro)).as("xv"),
              sum(when(col("event_type") === "click", micro)).as("yv"))
          time(s"wilcoxon $tag")(
            noop(Stats.wilcoxonSignedRank(pairs, "xv", "yv")))
        }
        val r = ("wilcoxon_pairs", wx(ev1s, "1x"), wx(ev10s, "10x"))
        ev10s.unpersist(false)
        r
      },
      // matrix profile (round 14b): the window-pair stage is day-grain
      // under the group partition — corpus growth only scales the first
      // daily-count aggregate, the C(span,2) pair join is unchanged
      {
        import graft.operators.TimeSeries
        import graft.queries.Tables
        val ev1t = Tables.normalizeEventTs(
          spark.read.parquet(s"$sfDir/events.parquet"))
        val ev10t = Tables.normalizeEventTs(
          rep("events", Seq("event_id", "user_id"))).persist()
        ev10t.count()
        def mp(ev: DataFrame, tag: String): Double =
          time(s"matrix_profile $tag")(noop(
            TimeSeries.matrixProfile(ev, "event_type", "ts", 7)))
        val r = ("matrix_profile", mp(ev1t, "1x"), mp(ev10t, "10x"))
        ev10t.unpersist(false)
        r
      },
      // unigram-LM tokenizer training (round 15): the corpus pays one
      // distributed word-count aggregate; candidate seeding and the EM
      // rounds run on the maxWords-capped collected table — 10x corpus
      // should move only the first aggregate (ratio well under 10)
      {
        import graft.operators.UnigramLm
        def ul(d: DataFrame, tag: String): Double =
          time(s"unigram_lm $tag")(noop(
            UnigramLm.train(d, "text", UnigramLm.Params())))
        ("unigram_lm", ul(d1, "1x"), ul(d10salt, "10x"))
      },
      // exact-span scrub rollup (round 15): the per-doc scrub (gram
      // hashes -> occurrence count -> bounded coverage explode ->
      // anti-join) plus one doc-grain source aggregate — corpus-linear
      // on the salted corpus (constant duplication rate)
      {
        def sr(d: DataFrame, tag: String): Double =
          time(s"span_report $tag")(noop(
            Dedup.exactSpanReport(d, "doc_id", "text", "source", k = 6)))
        ("span_report", sr(d1, "1x"), sr(d10salt, "10x"))
      },
      // audio envelope fingerprint (round 14b): SQL construct + REAL PCM
      // WAV decode + native dHash — embarrassingly parallel scan
      {
        import graft.functions.PhashNative
        def ae(d: DataFrame, tag: String): Double = {
          val m = d.select(col("doc_id")).withColumn("media",
            expr(graft.queries.Round14b.audioClassMediaSql))
          time(s"audio_envelope $tag")(noop(m.select(col("doc_id"),
            PhashNative.dhash56(PhashNative.imageGridOrRaw(col("media")))
              .as("fp"))))
        }
        ("audio_envelope", ae(d1, "1x"), ae(d10, "10x"))
      })

    println(f"\n${"operator"}%-18s ${"1x"}%8s ${"10x"}%8s ${"ratio"}%7s")
    results.foreach { case (n, a, b) =>
      println(f"$n%-18s $a%8.2f $b%8.2f ${b / a}%7.1f") }
    spark.stop()
  }
}
