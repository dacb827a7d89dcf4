package graft.queries

import org.apache.spark.sql.functions._

import graft.GraftSession.withConf
import graft.functions.{SketchExprs, ZOrderExprs, VectorExprs => V}
import graft.operators.{BloomPrune, Dedup, Graph, IntervalJoin, KMeans,
  LangModel, Ranking, Similarity, Sketches}

/** Round-4 scale operators: bloom-filter join reduction, Count-Min sketch
  * frequency estimation, TF-IDF / BM25 corpus scoring, Z-order layout keys,
  * and integer-exact PageRank. Each query is the correctness anchor for an
  * operator whose real payoff is at cluster scale (pruned shuffles, bounded
  * sketch state, data-skipping layouts, iterative joins without lineage
  * blow-up).
  */
object ScaleOps {
  import Tables.t

  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Temp dir for a query-local persisted index. The returned frame may
    * still READ from the dir when the caller materializes it, so eager
    * deletion inside the lambda is only legal when the result no longer
    * references the index; the fallback is a recursive-delete shutdown
    * hook — `File.deleteOnExit` cannot remove non-empty directories, so
    * it leaked parquet under /tmp on every bench rep. */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(dir)))
    dir
  }

  /** The exact-integer Lloyd k-means replay (k=8, 2 rounds, dim 64 over
    * `embeddings`) as a CTE chain ending in `afinal(id, cid)` — the
    * [[graft.operators.KMeans]] algorithm CTE-for-stage: scaled integer
    * vectors, rank seeds, (dist, cid)-argmin rounds, FLOOR-division
    * centroid means. Shared by q54_kmeans and sample_diverse. */
  private val kmeansCtes: String = {
    val dist = (x: String, c: String) =>
      s"list_sum(list_transform(range(1, 65), i -> ($x[i] - $c[i]) * ($x[i] - $c[i])))"
    val rounds = (1 to 2).map { i =>
      s"""a$i AS (SELECT id, xs, cid FROM (
         |  SELECT s.id, s.xs, c.cid,
         |    row_number() OVER (PARTITION BY s.id
         |      ORDER BY ${dist("s.xs", "c.cs")} ASC, c.cid ASC) AS rn
         |  FROM s CROSS JOIN c${i - 1} c) WHERE rn = 1),
         |c$i AS (SELECT cid, list(v ORDER BY dim) AS cs FROM (
         |  SELECT a.cid, t.i AS dim,
         |    CAST(floor(CAST(sum(a.xs[t.i]) AS DOUBLE) / count(*)) AS BIGINT)
         |      AS v
         |  FROM a$i a CROSS JOIN range(1, 65) t(i) GROUP BY 1, 2)
         |  GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""s AS (SELECT vec_id AS id,
      |      list_transform(embedding,
      |        v -> CAST(round(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS xs
      |    FROM embeddings),
      |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, xs AS cs
      |       FROM s ORDER BY id LIMIT 8),
      |$rounds,
      |afinal AS (SELECT id, cid FROM (
      |  SELECT s.id, c.cid,
      |    row_number() OVER (PARTITION BY s.id
      |      ORDER BY ${dist("s.xs", "c.cs")} ASC, c.cid ASC) AS rn
      |  FROM s CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin
  }

  def defs: Seq[Q] = Seq(
    // bloom-pruned star join: the dimension predicate (1-URGENT, ~20%
    // selective) builds a bloom filter over its join keys; fact rows that
    // cannot join are dropped BEFORE the exchange. No false negatives, the
    // join removes false positives, so the result equals the plain join —
    // which is exactly what the oracle runs.
    Q("q50_bloom_join", (s, d) => {
      val dim = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      BloomPrune.prunedJoin(t(s, d, "lineitem"), "l_orderkey", dim,
          "o_orderkey", expectedItems = 100000L, numBits = 800000L)
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
            .as("rev_cents"))
    }, Some("""
      SELECT year(o_orderdate) AS yr, count(*) AS n,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY 1""")),

    // Count-Min sketch: 4x64 counter table built in one distributed
    // aggregate; estimates for the top-20 users join the probe cells against
    // the sketch. 150 users in 64 buckets collide by design — the oracle
    // builds the SAME sketch (shared constants), so estimates including
    // collisions match bit-exactly, and the CMS no-undercount invariant is a
    // checked output column.
    Q("q51_cms_freq", (s, d) => {
      val ev = t(s, d, "events")
      val sketch = Sketches.cmsBuild(ev, "user_id")
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id").asc).limit(20)
      Sketches.cmsEstimate(top, "user_id", sketch)
        .select(col("user_id"), col("n"), col("est"),
          (col("est") >= col("n")).as("never_undercounts"))
    }, Some(s"""
      WITH cms AS (
        ${SketchExprs.duckCmsTable("events", "user_id")}),
      top AS (SELECT user_id, count(*) AS n FROM events
              GROUP BY 1 ORDER BY n DESC, user_id ASC LIMIT 20),
      probes AS (SELECT user_id, n,
          unnest(${SketchExprs.duckProbeCells("user_id")}, recursive := true)
        FROM top)
      SELECT user_id, n, min(cnt) AS est, min(cnt) >= n AS never_undercounts
      FROM probes JOIN cms USING (ri, bucket)
      GROUP BY user_id, n""")),

    // heavy hitters from the mergeable approx-top-k index: two batch
    // accumulators persisted, combined, estimated — CMS's complement
    // (WHICH keys dominate, without enumerating the key space). Run in
    // the exact regime (distinct event types ≪ maxTracked=32), so the
    // merged counts equal the full groupBy's and the oracle is
    // hash-exact; the over-cardinality estimation regime is recall-tested
    // on a skewed corpus in OperatorsSpec. The top-3 boundary is tie-free
    // in this data at every sf (3rd vs 4th count gap ≥ 24).
    Q("q73_heavy_hitters", (s, d) => {
      val ev = t(s, d, "events")
      // result reads the merged index lazily — shutdown-hook cleanup only
      val dir = scratchDir("graft-hh")
      graft.operators.Sketches.heavyHittersBatch(
        ev.filter(col("event_id") % 2 === 0), "event_type", dir.toString, 32)
      graft.operators.Sketches.heavyHittersBatch(
        ev.filter(col("event_id") % 2 === 1), "event_type", dir.toString, 32)
      graft.operators.Sketches.mergedHeavyHitters(s, dir.toString, 3, 32)
    }, Some("""
      SELECT event_type AS item, count(*) AS est_count
      FROM events GROUP BY 1 ORDER BY est_count DESC, item ASC LIMIT 3""")),

    // q73's unbounded-stream counterpart: per-shard Misra-Gries state
    // (shards x capacity counters FOREVER, independent of key cardinality)
    // updated by mapGroupsWithState, replayed via AvailableNow, corpus-wide
    // top-3 from each shard's latest summary. Exact regime again (5 event
    // types over 4 shards, capacity 32 — no decrement ever fires), so the
    // streaming replay must reproduce the identical full-groupBy oracle;
    // the estimation regime is recall-tested in StreamingSpec.
    Q("q74_stream_heavy_hitters", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = Tables.eventsStream(s, d)
      // one state store per shuffle partition: 4 matches the shard count
      // (same store-open-vs-throughput trade measured for q55)
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = graft.streaming.StreamingSketch
          .heavyHitters(ev, "event_type", shards = 4, capacity = 32)
          .toDF()
          .writeStream.format("memory").queryName("q74_stream")
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.streaming.StreamingSketch.finalTopK(s.table("q74_stream"), 3)
    }, Some("""
      SELECT event_type AS item, count(*) AS est_count
      FROM events GROUP BY 1 ORDER BY est_count DESC, item ASC LIMIT 3""")),

    // q75's unbounded-stream counterpart: per-user funnel chain state =
    // ONE timestamp per step forever, folded by mapGroupsWithState,
    // replayed via AvailableNow. The replay satisfies the in-order
    // contract, so the streaming fold must reproduce the batch greedy
    // recurrence EXACTLY — the oracle is the identical q75 chained
    // min-aggregate SQL, making this a cross-engine three-way tie
    // (streaming fold = batch funnel = DuckDB unroll).
    Q("q81_stream_funnel", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val steps = Seq("signup", "view", "click", "purchase")
      val ev = Tables.eventsStream(s, d)
      // one state store per shuffle partition (q74's trade): user
      // cardinality per store stays bounded at 8 stores
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        val q = graft.streaming.StreamingFunnel
          .funnel(ev, "user_id", "ts", "event_type", steps)
          .toDF()
          .writeStream.format("memory").queryName("q81_stream")
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.streaming.StreamingFunnel.stepCounts(s.table("q81_stream"), steps)
    }, Some(Coverage.funnelOracleSql(None))),

    // one-pass data-quality gate via Dataset.observe (CollectMetrics):
    // corpus QC aggregates piggyback on an action the pipeline is already
    // running — NO second scan, the metrics ride the task results. The
    // query materializes the observed frame through the noop sink and
    // returns the metric row; the oracle recomputes the same aggregates
    // declaratively. At 100 TB this is the difference between free QC and
    // a second full corpus pass.
    Q("q83_observe_metrics", (s, d) => {
      import org.apache.spark.sql.Observation
      val obs = Observation()
      val observed = Tables.t(s, d, "documents").observe(obs,
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("null_lang"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        approx_count_distinct(col("source")).as("approx_sources"))
      observed.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_docs").asInstanceOf[Long],
        m("total_chars").asInstanceOf[Long],
        m("null_lang").asInstanceOf[Long],
        m("min_chars").asInstanceOf[Long],
        m("max_chars").asInstanceOf[Long],
        m("approx_sources").asInstanceOf[Long] > 0L))
        .toDF("n_docs", "total_chars", "null_lang", "min_chars",
          "max_chars", "has_sources")
    }, Some("""
      SELECT count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
             min(n_chars) AS min_chars,
             max(n_chars) AS max_chars,
             (count(DISTINCT source) > 0) AS has_sources
      FROM documents""")),

    // CCNet-style bigram-LM scoring: train an add-one-smoothed bigram LM
    // on the corpus itself (vocab capped at 200 tokens by (count desc,
    // term asc), tail -> <unk>), score every document by its bigram
    // negative log-likelihood. Per-bigram costs are integerized to
    // micro-nats BEFORE the per-doc sum, so the aggregate is an integer
    // sum and double summation ORDER cannot flip the hash — the only
    // cross-engine double arithmetic is one mirrored ln(num/den) per
    // distinct model row.
    Q("text_lm_perplexity", (s, d) =>
      LangModel.bigramNll(Tables.ts(s, d, "documents"), "doc_id", "text", 200)
        .withColumnRenamed("doc", "doc_id"),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        uni AS (SELECT t AS term, count(*) AS cnt
                FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
        vocab AS (SELECT term FROM uni ORDER BY cnt DESC, term ASC LIMIT 200),
        vn AS (SELECT count(*) AS v FROM vocab),
        bgr AS (SELECT doc_id,
                  unnest(list_zip(list_slice(tk, 1, len(tk)-1),
                                  list_slice(tk, 2, len(tk)))) AS z
                FROM toks WHERE len(tk) >= 2),
        bg AS (SELECT doc_id,
                 CASE WHEN z[1] IN (SELECT term FROM vocab) THEN z[1] ELSE '<unk>' END AS w1,
                 CASE WHEN z[2] IN (SELECT term FROM vocab) THEN z[2] ELSE '<unk>' END AS w2
               FROM bgr),
        db AS (SELECT doc_id, w1, w2, count(*) AS occ FROM bg GROUP BY 1, 2, 3),
        c12 AS (SELECT w1, w2, sum(occ) AS c12 FROM db GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        model AS (SELECT c12.w1, c12.w2,
                    CAST(round(-ln((c12.c12 + 1.0) / (c1.c1 + (vn.v + 1.0))) * 1000000.0, 0) AS BIGINT) AS nll_x1e6
                  FROM c12 JOIN c1 USING (w1) CROSS JOIN vn)
        SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
               CAST(sum(occ * nll_x1e6) AS BIGINT) AS nll_x1e6,
               CAST(sum(occ * nll_x1e6) // sum(occ) AS BIGINT) AS avg_nll_x1e6
        FROM db JOIN model USING (w1, w2)
        GROUP BY 1""")),

    // DSIR-style importance weights vs the English slice: per-token
    // ln p_target - ln p_raw (unigram form, shared add-one smoothing
    // base), integerized to micro-nats before the per-doc integer sum.
    // Positive weight = the document looks more like the target
    // distribution than the corpus at large; training-data selection is a
    // downstream ORDER BY / threshold on this score.
    Q("text_dsir", (s, d) =>
      LangModel.dsirWeights(Tables.ts(s, d, "documents"), "doc_id", "text",
        col("lang") === "en")
        .withColumnRenamed("doc", "doc_id"),
      Some("""
        WITH tok AS (SELECT doc_id, (lang = 'en') AS is_t,
                       unnest(string_split(text, ' ')) AS term
                     FROM documents),
        db AS (SELECT doc_id, is_t, term, count(*) AS occ
               FROM tok GROUP BY 1, 2, 3),
        counts AS (SELECT term,
                     sum(CASE WHEN is_t THEN occ ELSE 0 END) AS ct,
                     sum(occ) AS cr
                   FROM db GROUP BY 1),
        stats AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM counts),
        wts AS (SELECT term,
                  CAST(round((ln((ct + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v))) * 1000000.0, 0) AS BIGINT) AS w
                FROM counts CROSS JOIN stats)
        SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_tokens,
               CAST(sum(occ * w) AS BIGINT) AS weight_x1e6
        FROM db JOIN wts USING (term)
        GROUP BY 1""")),

    // TF-IDF: top-3 terms per document (sklearn-smoothed idf). Floating
    // point, but both engines evaluate the identical expression tree on the
    // identical integers, so the 6-decimal rounding is stable. Integer
    // sub-expressions are cast to DOUBLE explicitly in the oracle — DuckDB
    // fractional literals are DECIMAL, and decimal division would round
    // differently than the double division Spark performs.
    Q("text_tfidf", (s, d) =>
      Ranking.tfIdfTopTerms(Tables.ts(s, d, "documents"), "doc_id", "text", 3)
        .withColumnRenamed("doc", "doc_id"),
      Some("""
        WITH tf AS (SELECT doc_id, t AS term, count(*) AS tf
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                          FROM documents) GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        scored AS (SELECT doc_id, term, tf,
            tf * (ln((n + 1)::DOUBLE / (df + 1)::DOUBLE) + 1.0::DOUBLE) AS score
          FROM tf JOIN df USING (term) CROSS JOIN nn),
        ranked AS (SELECT doc_id, term, tf, score,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term ASC) AS rank
          FROM scored)
        SELECT doc_id, term, tf, rank, round(score, 6) AS score
        FROM ranked WHERE rank <= 3""")),

    // BM25 (k1=1.2, b=0.75) for three fixed query terms: top-10 docs per
    // term. Arithmetic order mirrored operator-for-operator; constants are
    // spelled as the same literals on both sides (1.2 + 1.0, never 2.2 —
    // the doubles differ).
    Q("text_bm25", (s, d) =>
      Ranking.bm25TopDocs(Tables.ts(s, d, "documents"), "doc_id", "text",
        Seq("join", "vector", "window"), 10)
        .withColumnRenamed("doc", "doc_id"),
      Some("""
        WITH dls AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
                            text FROM documents),
        nn AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl FROM dls),
        tf AS (SELECT doc_id, dl, t AS term, count(*) AS tf
               FROM (SELECT doc_id, dl, unnest(string_split(text, ' ')) AS t
                     FROM dls)
               WHERE t IN ('join', 'vector', 'window') GROUP BY 1, 2, 3),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        scored AS (SELECT term, doc_id, tf,
            ln(1.0::DOUBLE + (n::DOUBLE - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
              * tf * (1.2::DOUBLE + 1.0::DOUBLE)
              / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
                  + 0.75::DOUBLE * dl * n / sumdl::DOUBLE)) AS score
          FROM tf JOIN df USING (term) CROSS JOIN nn),
        ranked AS (SELECT term, doc_id, tf, score,
            row_number() OVER (PARTITION BY term
              ORDER BY score DESC, doc_id ASC) AS rank
          FROM scored)
        SELECT term, doc_id, tf, rank, round(score, 6) AS score
        FROM ranked WHERE rank <= 10""")),

    // Z-order key: morton interleave of (partkey, suppkey) — the layout
    // key behind writeZOrdered's data-skipping (file-envelope evidence in
    // DistributionSpec); here the bit math itself is oracle-checked.
    Q("q52_zorder_key", (s, d) =>
      // NOT spread: the Morton interleave runs AFTER the distinct's final
      // aggregate, which already has full shuffle parallelism
      t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .withColumn("z",
          expr(ZOrderExprs.sparkMorton2("l_partkey", "l_suppkey"))),
      Some(s"""
        SELECT DISTINCT l_partkey, l_suppkey,
               ${ZOrderExprs.duckMorton2("l_partkey", "l_suppkey")} AS z
        FROM lineitem""")),

    // integer-exact PageRank, 3 damped rounds over the bipartite
    // part <-> supplier co-occurrence graph. The oracle unrolls the same
    // three iterations with identical integer division order, so ranks match
    // exactly — no floating-point reduction-order hazard by construction.
    Q("q53_pagerank", (s, d) => {
      val li = t(s, d, "lineitem")
      // distinct BEFORE mirroring (half the rows through the dedup shuffle),
      // and mirror via explode rather than self-union — a union would
      // recompute the distinct once per branch. The mirrored set of a
      // distinct disjoint-id pair set is itself distinct, so the operator
      // can skip its own dedup pass.
      // spread before the distinct — q70's rationale (narrow projection,
      // 1-task scan, derivation evaluated once per cache build)
      val fwd = Tables.spread(li.select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))).distinct()
      val edges = fwd.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // broadcastRank: the part+supplier node set is ~200x smaller than the
      // edge list — the rank rides a broadcast, edges never sort or move.
      // AQE scoped OFF: the loop's stages are all small and fixed-shape
      // (per-round node aggregates), so AQE's per-stage replanning is pure
      // latency here (round-8 probe: ~0.4-0.7 s of the entry); pageRank
      // materializes internally (checkpoint-backed result), so the scope
      // covers every real job and the conf is restored before return
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        Graph.pageRank(edges, iters = 3, edgesDistinct = true,
            broadcastRank = true)
          .select(col("id").as("node"), col("rank").as("rank_scaled"))
      }
    }, Some {
      // DuckDB sums BIGINT into HUGEINT — cast every aggregate/derived rank
      // back to BIGINT so the compare sees the same integer type Spark emits
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS id, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS m
           |  FROM edges e JOIN r${i - 1} r ON e.src = r.id
           |               JOIN deg d ON e.src = d.src
           |  GROUP BY 1),
           |r$i AS (SELECT n.id,
           |    CAST(p.tp + (85 * coalesce(c.m, 0)) // 100 AS BIGINT) AS rank
           |  FROM nodes n CROSS JOIN params p
           |  LEFT JOIN c$i c ON n.id = c.id)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH e0 AS (SELECT DISTINCT l_partkey AS src,
                         l_suppkey + 10000000 AS dst FROM lineitem),
      edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
      params AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS unit,
                        CAST((15 * (1000000000000 // count(*))) // 100 AS BIGINT) AS tp
                 FROM nodes),
      r0 AS (SELECT id, unit AS rank FROM nodes CROSS JOIN params),
      $iterCtes
      SELECT id AS node, rank AS rank_scaled FROM r3"""
    }),

    // PageRank with dangling-mass redistribution: the DIRECTED
    // part -> supplier graph (no mirroring), so every supplier node is a
    // sink — the shape real link graphs have everywhere. Sinks' rank is
    // summed each round and every node receives an equal integer share;
    // the oracle unrolls the identical integer arithmetic.
    Q("q70_pagerank_dangling", (s, d) => {
      val li = t(s, d, "lineitem")
      // spread the NARROW projection (2 longs) before the distinct: the
      // single-row-group scan otherwise runs the 600k-row partial dedup in
      // one task, and the uncached edge derivation is evaluated twice
      // (degree + edge cache builds) — measured 0.5-0.7 s per pass
      val edges = Tables.spread(li.select(col("l_partkey").cast("long").as("src"),
          (col("l_suppkey").cast("long") + 10000000L).as("dst"))).distinct()
      // AQE scoped OFF — same rationale and measurement as q53.
      // Shuffle parallelism sized to the ~52k-edge graph (8 partitions):
      // with AQE off nothing coalesces the session's 32, and the 3-round
      // loop pays every empty task's scheduling each round
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        Graph.pageRank(edges, iters = 3, edgesDistinct = true,
            broadcastRank = true, danglingMass = true)
          .select(col("id").as("node"), col("rank").as("rank_scaled"))
      }
    }, Some {
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS id, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS m
           |  FROM e0 e JOIN r${i - 1} r ON e.src = r.id
           |               JOIN deg d ON e.src = d.src
           |  GROUP BY 1),
           |d$i AS (SELECT CAST(coalesce(sum(r.rank), 0) AS BIGINT) AS dm
           |  FROM r${i - 1} r LEFT JOIN deg d ON r.id = d.src
           |  WHERE d.src IS NULL),
           |r$i AS (SELECT n.id,
           |    CAST(p.tp + (85 * (coalesce(c.m, 0) + dd.dm // p.n)) // 100
           |         AS BIGINT) AS rank
           |  FROM nodes n CROSS JOIN params p CROSS JOIN d$i dd
           |  LEFT JOIN c$i c ON n.id = c.id)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH e0 AS (SELECT DISTINCT l_partkey AS src,
                         l_suppkey + 10000000 AS dst FROM lineitem),
      nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
      deg AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY 1),
      params AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(1000000000000 // count(*) AS BIGINT) AS unit,
                        CAST((15 * (1000000000000 // count(*))) // 100 AS BIGINT) AS tp
                 FROM nodes),
      r0 AS (SELECT id, unit AS rank FROM nodes CROSS JOIN params),
      $iterCtes
      SELECT id AS node, rank AS rank_scaled FROM r3"""
    }),

    // exact-integer Lloyd k-means (k=8, 2 centroid updates + final assign):
    // vectors scaled to integer units once, distances are integer squared
    // L2, centroid means use floor division — bit-identical across engines
    // and partitionings by construction, so the oracle replays the same
    // algorithm in SQL.
    Q("q54_kmeans", (s, d) =>
      KMeans.assign(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("cluster")),
      Some(s"""
      WITH $kmeansCtes
      SELECT id AS vec_id, cid AS cluster FROM afinal""")),

    // diversity sampling: the k-means structure above + a per-cluster
    // quota in deterministic Knuth-mix hash order — cover the embedding
    // distribution's STRUCTURE, not its density (tail clusters keep
    // representation at any sampling rate)
    Q("sample_diverse", (s, d) =>
      graft.operators.Sampling.diverseSample(t(s, d, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 2, perCluster = 20)
        .select(col("id").as("vec_id"), col("cluster")),
      Some(s"""
      WITH $kmeansCtes,
      o AS (SELECT id, cid,
              ((id % ${graft.functions.HashExprs.P}) * 2654435761)
                % ${graft.functions.HashExprs.P} AS ord
            FROM afinal)
      SELECT id AS vec_id, cid AS cluster FROM (
        SELECT id, cid, row_number() OVER (PARTITION BY cid
          ORDER BY ord ASC, id ASC) AS rn FROM o)
      WHERE rn <= 20""")),

    // cluster topic labels: the "what is this cluster about" readout —
    // k-means structure over the embedding space + per-cluster top terms
    // by group-level TF-IDF (distinct-containing-doc counts, micro-nat
    // integerized idf over exact integers). Joint embedding+text
    // analytics; clustering runs over the FULL embedding table so the
    // oracle reuses the shared k-means replay verbatim, and only docs
    // with embeddings label their clusters.
    Q("text_cluster_topics", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      val asg = KMeans.assign(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)
      graft.operators.Ranking.groupTopTerms(docs, "doc_id", "text",
          asg.select(col("id"), col("cluster").as("grp")), topN = 3)
        .select(col("grp").as("cluster"), col("term"), col("n_docs"),
          col("score_micro"), col("rank"))
    }, Some(s"""
      WITH $kmeansCtes,
      tm AS (SELECT id, term FROM (
               SELECT doc_id AS id,
                 unnest(list_distinct(string_split(text, ' '))) AS term
               FROM documents) WHERE term <> ''),
      gt AS (SELECT cid AS grp, term, count(*) AS n_docs
             FROM tm JOIN afinal ON tm.id = afinal.id GROUP BY 1, 2),
      gdf AS (SELECT term, count(*) AS gdf FROM gt GROUP BY 1),
      ng AS (SELECT count(DISTINCT cid) AS ng FROM afinal),
      sc AS (SELECT grp, term, n_docs,
               n_docs * CAST(round(ln((ng + 1.0) / gdf) * 1e6) AS BIGINT)
                 AS score_micro
             FROM gt JOIN gdf USING (term) CROSS JOIN ng)
      SELECT grp AS cluster, term, n_docs, score_micro, rank FROM (
        SELECT grp, term, n_docs, score_micro,
          row_number() OVER (PARTITION BY grp
            ORDER BY score_micro DESC, term ASC) AS rank
        FROM sc) WHERE rank <= 3""")),

    // clustering-quality readout: centroid-based (simplified) silhouette
    // per cluster over the same k-means replay — ONE broadcast codebook +
    // one map-side-combinable aggregate over the N x k expansion, same
    // plan shape as an assignment round. Distances are exact integers;
    // s integerizes per row before the per-cluster mean.
    Q("sim_silhouette", (s, d) =>
      KMeans.silhouette(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2),
      Some {
        val dist =
          "list_sum(list_transform(range(1, 65), i -> (s.xs[i] - c.cs[i]) * (s.xs[i] - c.cs[i])))"
        s"""
        WITH $kmeansCtes,
        pv AS (SELECT s.id, a.cid AS cluster,
                 max(CASE WHEN c.cid = a.cid THEN $dist END) AS da,
                 min(CASE WHEN c.cid <> a.cid THEN $dist END) AS db
               FROM s JOIN afinal a USING (id) CROSS JOIN c2 c
               GROUP BY 1, 2),
        sm AS (SELECT cluster,
                 CASE WHEN greatest(da, db) = 0 THEN 0
                   ELSE CAST(round(1000000.0 * CAST(db - da AS DOUBLE)
                     / CAST(greatest(da, db) AS DOUBLE)) AS BIGINT) END AS sm
               FROM pv)
        SELECT cluster, count(*) AS n,
               CAST(round(CAST(sum(sm) AS DOUBLE) / count(*)) AS BIGINT)
                 AS mean_sil_micro
        FROM sm GROUP BY 1"""
      }),

    // semantic dedup end-to-end: embedding-cosine near-dup pairs -> graph
    // clustering -> per-vector (cluster, is_kept) — the same composition as
    // the text-side fuzzyDedup, over the vector space instead. The oracle
    // closes the pair graph with a recursive CTE.
    Q("dedup_embed_clusters", (s, d) => {
      val e = t(s, d, "embeddings")
      val pairs = Similarity.cosineNearDups(e, "vec_id", "embedding", 0.45)
      Dedup.connectedComponents(e.select(col("vec_id").as("id")), pairs)
        .select(col("id"), col("cluster"),
          (col("id") === col("cluster")).as("is_kept"))
    }, Some(s"""
      WITH RECURSIVE p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(${V.duckCosine("a.embedding", "b.embedding")}, 4) >= 0.45),
      edges AS (SELECT id_a AS src, id_b AS dst FROM p
                UNION ALL SELECT id_b, id_a FROM p),
      reach(src, dst) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      SELECT src AS id, min(dst) AS cluster, (src = min(dst)) AS is_kept
      FROM reach GROUP BY src""")),

    // stream-STREAM inner interval join (both sides unbounded, watermarked
    // state bounded by lateness + bound), replayed via AvailableNow and
    // checked against the identical batch join — the parity contract that
    // makes the streaming operator trustworthy. Even/odd event ids split
    // the events table into the two "independent" streams.
    Q("q55_stream_join", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      // every 5th user: the parity contract needs the operator exercised,
      // not the full event volume — stream-stream state is the costliest
      // stateful operator and the bench should not be dominated by it
      def side(tag: String, parity: Int) =
        Tables.eventsStream(s, d)
          .filter(col("event_id") % 2 === parity && col("user_id") % 5 === 0)
          .select(col("event_id").as(s"${tag}_id"),
            col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"))
      val joined = graft.streaming.StreamingDedup.intervalJoin(
        side("a", 0), side("b", 1), "a_user", "b_user", "a_ts", "b_ts",
        lateness = "1 hour", bound = "30 minutes")
      // each micro-batch commits one state-store pair PER shuffle partition
      // per join side; at this volume store open/commit is the fixed cost,
      // not row throughput (measured r6: 8 stores 2.9 s, 4 → 2.1 s, 2 →
      // 1.9 s warm) — 4 balances that against skew headroom; scoped to
      // this query and restored, since the setting binds at stream start
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = joined.select(col("a_id"), col("b_id"), col("a_user").as("user_id"))
          .writeStream.format("memory").queryName("q55_stream")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q55_stream")
    }, Some("""
      WITH a AS (SELECT event_id AS a_id, user_id, CAST(ts AS TIMESTAMP) AS a_ts
                 FROM events WHERE event_id % 2 = 0 AND user_id % 5 = 0),
           b AS (SELECT event_id AS b_id, user_id, CAST(ts AS TIMESTAMP) AS b_ts
                 FROM events WHERE event_id % 2 = 1 AND user_id % 5 = 0)
      SELECT a_id, b_id, a.user_id AS user_id
      FROM a JOIN b ON a.user_id = b.user_id
       AND b_ts >= a_ts - INTERVAL 30 MINUTE
       AND b_ts <= a_ts + INTERVAL 30 MINUTE""")),

    // stream-STREAM LEFT OUTER interval join: inner matches emit as they
    // pair; unmatched left rows emit null-joined once the watermark proves
    // no partner can arrive. The oracle mirrors Spark's outer-emission
    // contract exactly: an unmatched row is released only when its match
    // window (a_ts + bound) falls behind the final global watermark
    // (min of both sides' max event time, minus lateness) — rows nearer
    // the stream's end stay withheld in state, in both engines' results.
    Q("q71_stream_left_join", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      def side(tag: String, parity: Int) =
        Tables.eventsStream(s, d)
          .filter(col("event_id") % 2 === parity && col("user_id") % 7 === 0)
          .select(col("event_id").as(s"${tag}_id"),
            col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"))
      val joined = graft.streaming.StreamingDedup.intervalJoinLeft(
        side("a", 0), side("b", 1), "a_user", "b_user", "a_ts", "b_ts",
        lateness = "1 hour", bound = "30 minutes")
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = joined
          .select(col("a_id"), col("b_id"), col("a_user").as("user_id"))
          .writeStream.format("memory").queryName("q71_stream")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q71_stream")
    }, Some("""
      WITH a AS (SELECT event_id AS a_id, user_id, CAST(ts AS TIMESTAMP) AS a_ts
                 FROM events WHERE event_id % 2 = 0 AND user_id % 7 = 0),
           b AS (SELECT event_id AS b_id, user_id, CAST(ts AS TIMESTAMP) AS b_ts
                 FROM events WHERE event_id % 2 = 1 AND user_id % 7 = 0),
           wm AS (SELECT least((SELECT max(a_ts) FROM a),
                               (SELECT max(b_ts) FROM b))
                         - INTERVAL 1 HOUR AS w)
      SELECT a_id, b_id, a.user_id AS user_id
      FROM a JOIN b ON a.user_id = b.user_id
       AND b_ts >= a_ts - INTERVAL 30 MINUTE
       AND b_ts <= a_ts + INTERVAL 30 MINUTE
      UNION ALL
      SELECT a_id, CAST(NULL AS BIGINT) AS b_id, a.user_id
      FROM a, wm
      WHERE NOT EXISTS (SELECT 1 FROM b
              WHERE b.user_id = a.user_id
                AND b.b_ts >= a.a_ts - INTERVAL 30 MINUTE
                AND b.b_ts <= a.a_ts + INTERVAL 30 MINUTE)
        AND a.a_ts + INTERVAL 30 MINUTE < wm.w""")),

    // stream-STREAM FULL OUTER interval join: both sides' unmatched rows
    // emit null-joined under the same watermark-gated release rule as q71
    // — each side's unmatched row qualifies only when its own match
    // window (ts + bound) falls behind the final global watermark.
    Q("q72_stream_full_join", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      def side(tag: String, parity: Int) =
        Tables.eventsStream(s, d)
          .filter(col("event_id") % 2 === parity && col("user_id") % 11 === 0)
          .select(col("event_id").as(s"${tag}_id"),
            col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"))
      val joined = graft.streaming.StreamingDedup.intervalJoinFull(
        side("a", 0), side("b", 1), "a_user", "b_user", "a_ts", "b_ts",
        lateness = "1 hour", bound = "30 minutes")
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = joined.select(col("a_id"), col("b_id"),
            coalesce(col("a_user"), col("b_user")).as("user_id"))
          .writeStream.format("memory").queryName("q72_stream")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table("q72_stream")
    }, Some("""
      WITH a AS (SELECT event_id AS a_id, user_id, CAST(ts AS TIMESTAMP) AS a_ts
                 FROM events WHERE event_id % 2 = 0 AND user_id % 11 = 0),
           b AS (SELECT event_id AS b_id, user_id, CAST(ts AS TIMESTAMP) AS b_ts
                 FROM events WHERE event_id % 2 = 1 AND user_id % 11 = 0),
           wm AS (SELECT least((SELECT max(a_ts) FROM a),
                               (SELECT max(b_ts) FROM b))
                         - INTERVAL 1 HOUR AS w)
      SELECT a_id, b_id, a.user_id AS user_id
      FROM a JOIN b ON a.user_id = b.user_id
       AND b_ts >= a_ts - INTERVAL 30 MINUTE
       AND b_ts <= a_ts + INTERVAL 30 MINUTE
      UNION ALL
      SELECT a_id, CAST(NULL AS BIGINT) AS b_id, a.user_id
      FROM a, wm
      WHERE NOT EXISTS (SELECT 1 FROM b
              WHERE b.user_id = a.user_id
                AND b.b_ts >= a.a_ts - INTERVAL 30 MINUTE
                AND b.b_ts <= a.a_ts + INTERVAL 30 MINUTE)
        AND a.a_ts + INTERVAL 30 MINUTE < wm.w
      UNION ALL
      SELECT CAST(NULL AS BIGINT) AS a_id, b_id, b.user_id
      FROM b, wm
      WHERE NOT EXISTS (SELECT 1 FROM a
              WHERE a.user_id = b.user_id
                AND b.b_ts >= a.a_ts - INTERVAL 30 MINUTE
                AND b.b_ts <= a.a_ts + INTERVAL 30 MINUTE)
        AND b.b_ts + INTERVAL 30 MINUTE < wm.w""")),

    // interval-OVERLAP join via bin-join decomposition: each 2-hour event
    // interval explodes into 4-hour bins, candidates come from an equi-join
    // on (user, bin), the exact predicate filters, and the later-start bin
    // rule emits each pair exactly once — no theta/nested-loop join, no
    // dedup shuffle. The oracle runs the plain theta join.
    Q("q56_interval_join", (s, d) => {
      def side(tag: String, parity: Int) =
        Tables.events(s, d)
          .filter(col("event_id") % 2 === parity)
          .select(col("event_id").as(s"${tag}_id"),
            col("user_id").as(s"${tag}_user"),
            unix_micros(col("ts")).as(s"${tag}_s"),
            (unix_micros(col("ts")) + 7200000000L).as(s"${tag}_e"))
      IntervalJoin.overlap(side("a", 0), side("b", 1),
          "a_user", "b_user", "a_s", "a_e", "b_s", "b_e",
          binWidth = 14400000000L)
        .select(col("a_id"), col("b_id"), col("a_user").as("user_id"))
    }, Some("""
      WITH a AS (SELECT event_id AS a_id, user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS a_s,
                   epoch_us(CAST(ts AS TIMESTAMP)) + 7200000000 AS a_e
                 FROM events WHERE event_id % 2 = 0),
           b AS (SELECT event_id AS b_id, user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS b_s,
                   epoch_us(CAST(ts AS TIMESTAMP)) + 7200000000 AS b_e
                 FROM events WHERE event_id % 2 = 1)
      SELECT a_id, b_id, a.user_id AS user_id
      FROM a JOIN b ON a.user_id = b.user_id
       AND b_s <= a_e AND a_s <= b_e""")),

    // per-source document cap (C4/RefinedWeb-style "limit docs per domain"):
    // keep at most 10 docs per source, chosen by content-hash order — a
    // deterministic pseudo-random sample that reproduces on any cluster,
    // any partitioning, any run (same property as text_sample, per group)
    Q("text_cap_per_source", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // fingerprint as a PRE-WINDOW projected column: as a window orderBy
      // expression it would be evaluated in the window's Sort stage, which
      // runs on as many tasks as there are distinct sources (~5) — the
      // per-row rolling hash must ride the (spread) scan's parallelism,
      // leaving the low-cardinality sort a cheap precomputed long
      val fp = graft.operators.TextAnalysis.fingerprint("text")
      val w = Window.partitionBy(col("source"))
        .orderBy(col("__fp").asc, col("doc_id").asc)
      Tables.ts(s, d, "documents")
        .withColumn("__fp", fp)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("doc_id"), col("source"))
    }, Some(s"""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY source
            ORDER BY ${graft.functions.HashExprs.duckCharHash("text")} ASC,
                     doc_id ASC) AS rn
        FROM documents)
      WHERE rn <= 10""")),

    // null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL-keyed
    // group joins too — the one join variant plain equality can't express
    // (NULL = NULL is NULL, silently dropping the whole group)
    Q("q57_nullsafe_join", (s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      // derived self-join: rename the aggregate side's key or Spark cannot
      // attribute the ambiguous `seg` between parent and child
      val segCounts = cust.groupBy(col("seg")).agg(count(lit(1)).as("seg_n"))
        .withColumnRenamed("seg", "seg2")
      cust.join(segCounts, col("seg") <=> col("seg2"))
        .select(col("c_custkey"), col("seg"), col("seg_n"))
    }, Some("""
      WITH c AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
                 FROM customer),
      sc AS (SELECT seg, count(*) AS seg_n FROM c GROUP BY seg)
      SELECT c.c_custkey, c.seg, sc.seg_n
      FROM c JOIN sc ON c.seg IS NOT DISTINCT FROM sc.seg""")),

    // top-k per group as a bounded AGGREGATE (typed Aggregator, k-element
    // buffer): map tasks emit at most k candidates per group BEFORE the
    // exchange, where the window formulation shuffles and sorts every row.
    // Same output as row_number() <= k — which is exactly what the oracle
    // (and the plan-shape spec's window twin) runs.
    Q("q58_topk_group", (s, d) => {
      val topk = udaf(graft.functions.TypedAggregators.TopK(3))
      t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("tk"))
        .select(col("priority"), posexplode(col("tk")).as(Seq("r0", "item")))
        .select(col("priority"), (col("r0") + 1).cast("long").as("rank"),
          col("item.id").as("o_orderkey"), col("item.key").as("o_totalprice"))
    }, Some("""
      SELECT o_orderpriority AS priority, rank, o_orderkey, o_totalprice
      FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
              row_number() OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
            FROM orders)
      WHERE rank <= 3""")),

    // column profiling in one pass (single agg; distinct counts share one
    // Expand) — the data-quality/drift gate of a production pipeline.
    // EXACT path = the hash-exact oracle anchor, run on a deterministic
    // 1-in-10 key subset: the Expand×4 replicates every input row once per
    // profiled column, which is exactly the cost the HLL headline (q59b)
    // exists to avoid — the anchor proves bit-exactness, the subset keeps
    // its recurring suite cost off the scale-irrelevant path (round-5
    // verdict: the full-table Expand was the suite's 4th-most-expensive
    // entry for no scale reason)
    Q("q59_profile", (s, d) =>
      graft.operators.Profile.summarize(
        t(s, d, "orders").filter(col("o_orderkey") % 10 === 0),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      Some {
        val per = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority").map { c =>
          s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
             |  count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_s,
             |  CAST(max($c) AS VARCHAR) AS max_s
             |FROM orders WHERE o_orderkey % 10 = 0""".stripMargin
        }
        per.mkString("\n  UNION ALL ")
      }),

    // the 100 TB profile path as the bench headline: HLL++ distinct
    // estimates keep the pass fully map-side-combined (no Expand — exact
    // multi-column distincts replicate every input row once per profiled
    // column through the shuffle). HLL values aren't reproducible across
    // engines, so the oracle checks them q30-style: the estimate must land
    // within 10% of the exact count (rsd is 0.02), which the oracle mirrors
    // as literal `true`. The exact counts for that comparison come from
    // four single-column aggregates — each a column-pruned scan with an
    // ordinary 2-phase distinct, cheaper here than one Expand×4 pass; at
    // scale the validation runs once per drift audit while production
    // profiling uses the HLL pass alone (q59 keeps the exact path as the
    // hash-exact oracle anchor).
    Q("q59b_profile_hll", (s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val orders = t(s, d, "orders")
      val hll = graft.operators.Profile.summarize(orders, cols,
        exactDistinct = false)
      val exacts = cols.map(c =>
          orders.agg(countDistinct(col(c)).as("exact_d"))
            .select(lit(c).as("col_name"), col("exact_d")))
        .reduce(_.unionByName(_))
      hll.join(exacts, "col_name")
        .select(col("col_name"), col("n_nonnull"), col("n_nulls"),
          col("min_s"), col("max_s"),
          (abs(col("n_distinct") - col("exact_d")) <=
            col("exact_d") * 0.10).as("distinct_within_tol"))
    },
    Some {
      val per = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority").map { c =>
        s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
           |  count(*) - count($c) AS n_nulls,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s,
           |  true AS distinct_within_tol FROM orders""".stripMargin
      }
      per.mkString("\n  UNION ALL ")
    }),

    // incremental profiling: each batch persists one Datasketches-HLL
    // sketch + exact null/nonnull counts per column; the corpus profile is
    // a MERGE of the persisted sketches, never a rescan of prior batches
    // (the profiling analog of dedup_incremental — index grows O(cols) per
    // batch while the data grows unbounded). Here orders is ingested as
    // two interleaved halves; the merged estimate must agree with the
    // exact whole-table distinct within HLL tolerance (oracle mirrors the
    // boolean q30-style), and the exact counters must sum exactly.
    Q("q59c_profile_incremental", (s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val orders = t(s, d, "orders")
      // result reads the merged index lazily — shutdown-hook cleanup only
      val dir = scratchDir("graft-profidx")
      graft.operators.Profile.sketchBatch(
        orders.filter(col("o_orderkey") % 2 === 0), cols, dir.toString)
      graft.operators.Profile.sketchBatch(
        orders.filter(col("o_orderkey") % 2 === 1), cols, dir.toString)
      val merged = graft.operators.Profile.mergedProfile(s, dir.toString)
      val exacts = cols.map(c =>
          orders.agg(countDistinct(col(c)).as("exact_d"))
            .select(lit(c).as("col_name"), col("exact_d")))
        .reduce(_.unionByName(_))
      merged.join(exacts, "col_name")
        .select(col("col_name"), col("n_nonnull"), col("n_nulls"),
          (abs(col("n_distinct_est") - col("exact_d")) <=
            col("exact_d") * 0.10).as("distinct_within_tol"))
    },
    Some {
      val per = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority").map { c =>
        s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
           |  count(*) - count($c) AS n_nulls,
           |  true AS distinct_within_tol FROM orders""".stripMargin
      }
      per.mkString("\n  UNION ALL ")
    }),

    // incremental QUANTILE profile: per-batch KLL sketches merged from the
    // persisted index — "p50/p95 price to date" without rescanning prior
    // batches. KLL values aren't engine-reproducible, so the oracle checks
    // them q59b-style in RANK space: the exact rank of each estimate
    // (count(col <= est) / count(col)) must land within 0.03 of the target
    // quantile — KLL at k=400 bounds normalized rank error to ~0.9% at 99%
    // confidence, so 0.03 is ~an 8-sigma margin (the checked columns are
    // near-tie-free; a heavy-tie column can legitimately overshoot the
    // rank band by its tie mass). The estimate ranks are evaluated from
    // the 3-row merged profile — a bounded control-plane collect, same
    // pattern as q59c's index build.
    Q("q59d_profile_quantiles", (s, d) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val orders = t(s, d, "orders")
      val dir = scratchDir("graft-profq")
      graft.operators.Profile.sketchBatch(
        orders.filter(col("o_orderkey") % 2 === 0), cols, dir.toString)
      graft.operators.Profile.sketchBatch(
        orders.filter(col("o_orderkey") % 2 === 1), cols, dir.toString)
      val est = graft.operators.Profile.mergedProfile(s, dir.toString)
        .select(col("col_name"), col("p50_est"), col("p95_est"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
        .toMap
      // estimates are collected — the returned frame only scans `orders`,
      // so the index dir can be reclaimed eagerly (not just at JVM exit)
      deleteRecursively(dir)
      cols.map { c =>
        val (p50, p95) = est(c)
        orders.agg(
            count(col(c)).as("n_nonnull"),
            (sum(when(col(c) <= p50, 1L).otherwise(0L)) / count(col(c)))
              .as("r50"),
            (sum(when(col(c) <= p95, 1L).otherwise(0L)) / count(col(c)))
              .as("r95"))
          .select(lit(c).as("col_name"), col("n_nonnull"),
            (abs(col("r50") - 0.5) <= 0.03).as("p50_within_tol"),
            (abs(col("r95") - 0.95) <= 0.03).as("p95_within_tol"))
      }.reduce(_.unionByName(_))
    },
    Some {
      val per = Seq("o_orderkey", "o_custkey", "o_totalprice").map { c =>
        s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
           |  true AS p50_within_tol, true AS p95_within_tol FROM orders"""
          .stripMargin
      }
      per.mkString("\n  UNION ALL ")
    }),

    // join-key skew report: per-key cardinality extremes and the top heavy
    // keys — the diagnostic that decides between a plain shuffle join,
    // AQE skew handling, and Distribution.saltedJoin. Integer outputs only
    // (counts and exact keys), so the oracle is hash-exact.
    Q("q60_skew_report", (s, d) => {
      val sizes = t(s, d, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      val top = sizes.orderBy(col("n").desc, col("l_orderkey").asc).limit(5)
        .select(lit("top_key").as("kind"),
          col("l_orderkey").as("key"), col("n"))
      val stats = sizes.agg(
          max(col("n")).as("max_n"), count(lit(1)).as("n_keys"),
          sum(col("n")).as("total"))
        .select(lit("summary").as("kind"), col("max_n").as("key"),
          // average group size scaled x100, floor — exact integer
          expr("total * 100 div n_keys").as("n"))
      top.unionByName(stats)
    }, Some("""
      WITH sizes AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
      SELECT 'top_key' AS kind, l_orderkey AS key, n FROM (
        SELECT l_orderkey, n FROM sizes ORDER BY n DESC, l_orderkey ASC LIMIT 5)
      UNION ALL
      SELECT 'summary', max(n),
             CAST((CAST(sum(n) AS BIGINT) * 100) // count(*) AS BIGINT)
      FROM sizes""")),

    // fixed-width histogram over an integer measure (doc length): the
    // distribution fingerprint of corpus curation dashboards
    Q("q61_histogram", (s, d) =>
      t(s, d, "documents")
        .groupBy(expr("n_chars div 500").as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi")),
      Some("""
        SELECT n_chars // 500 AS bin, count(*) AS n,
               min(n_chars) AS lo, max(n_chars) AS hi
        FROM documents GROUP BY 1""")))
}
