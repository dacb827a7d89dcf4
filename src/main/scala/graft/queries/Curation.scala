package graft.queries

import org.apache.spark.sql.functions._

import graft.GraftSession.withConf
import graft.functions.{HashExprs => H, VectorExprs => V}
import graft.operators.{Classifier, Linkage, Ranking, Similarity, TimeSeries}

/** Round-9 curation/retrieval additions: blocked fuzzy record linkage,
  * time-series resampling with LOCF gap-fill, event-rate anomaly scoring,
  * distributed GD training of a linear quality classifier, and
  * reciprocal-rank-fusion hybrid retrieval.
  */
object Curation {
  import Tables.{events, t}

  /** DuckDB replica of the documents feature frame fed to the classifier —
    * expression-for-expression the arithmetic in q87's Spark program. */
  private[queries] val lrFeatSql = """SELECT doc_id,
    |  CASE WHEN lang = 'en' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS label,
    |  1.0::DOUBLE AS x0,
    |  len(string_split(text, ' '))::DOUBLE / 100.0 AS x1,
    |  n_chars::DOUBLE / len(string_split(text, ' ')) / 10.0 AS x2,
    |  len(list_distinct(string_split(text, ' ')))::DOUBLE
    |    / len(string_split(text, ' ')) AS x3
    |FROM documents""".stripMargin

  /** sim_ivf's oracle SQL — shared verbatim by the index-lifecycle
    * entries (sim_ivf_index, sim_ivf_append): querying a corpus against
    * its own (built or built-then-appended) index must reproduce ivfTopK
    * bit-for-bit. */
  private val ivfIndexOracle: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      |seeds AS (SELECT id AS cell, v AS sv FROM e ORDER BY id LIMIT 8),
      |assign AS (SELECT id, cell,
      |    row_number() OVER (PARTITION BY id ORDER BY scos DESC, cell ASC) AS arank
      |  FROM (SELECT e.id, s.cell, ${V.duckCosine("e.v", "s.sv")} AS scos
      |        FROM e CROSS JOIN seeds s)),
      |cand AS (SELECT DISTINCT p.id AS query_id, n.id AS neighbor_id
      |  FROM (SELECT id, cell FROM assign WHERE arank <= 2) p
      |  JOIN (SELECT id, cell FROM assign WHERE arank = 1) n ON p.cell = n.cell
      |  WHERE p.id <> n.id),
      |scored AS (SELECT query_id, neighbor_id,
      |    ${V.duckCosine("a.v", "b.v")} AS cos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY ${V.duckCosine("a.v", "b.v")} DESC, neighbor_id ASC) AS rank
      |  FROM cand JOIN e a ON cand.query_id = a.id
      |            JOIN e b ON cand.neighbor_id = b.id)
      |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
      |FROM scored WHERE rank <= 3""".stripMargin

  /** sim_pca_power's oracle: the power-iteration trajectory unrolled as
    * CTE rounds. Mirrors [[graft.operators.Similarity.pcaPower]] constant
    * for constant: 10^6 grid, floor mean via the n·2·10^6 shift, per-round
    * dot → α = floor(dot/10^6) via the 10^15 shift, HUGEINT t sums,
    * renormalization ((t+m)·10^6)//m − 10^6 (nonneg operands ⇒ DuckDB `//`
    * == the driver's BigInt floor). */
  private val pcaPowerOracle: String = {
    def round(r: Int, wPrev: String): String =
      s"""d$r AS (SELECT y.vec_id, sum(y.y * $wPrev.w) AS dot
         |  FROM y JOIN $wPrev ON y.i = $wPrev.i GROUP BY y.vec_id),
         |a$r AS (SELECT vec_id,
         |    ((dot + 1000000000000000) // 1000000) - 1000000000 AS alpha
         |  FROM d$r),
         |t$r AS (SELECT y.i, sum(y.y * a$r.alpha) AS t
         |  FROM y JOIN a$r ON y.vec_id = a$r.vec_id GROUP BY y.i),
         |m$r AS (SELECT max(abs(t)) AS m FROM t$r),
         |w$r AS (SELECT i, CAST(((t + m) * 1000000) // m - 1000000 AS BIGINT) AS w
         |  FROM t$r, m$r)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |x AS (SELECT vec_id, CAST(t.i AS INT) AS i,
       |        CAST(round(CAST(v[CAST(t.i AS INT)] AS DOUBLE) * 1000000.0)
       |             AS BIGINT) AS x
       |      FROM e, unnest(range(1, 65)) AS t(i)),
       |s AS (SELECT i, count(*) AS n, sum(x) AS sx FROM x GROUP BY i),
       |mu AS (SELECT i, CAST(((sx + n * 2000000) // n) - 2000000 AS BIGINT) AS mu
       |       FROM s),
       |y AS (SELECT vec_id, x.i, x.x - mu.mu AS y FROM x JOIN mu ON x.i = mu.i),
       |w0 AS (SELECT CAST(t.i AS INT) AS i, CAST(125000 AS BIGINT) AS w
       |       FROM unnest(range(1, 65)) AS t(i)),
       |${round(1, "w0")},
       |${round(2, "w1")}
       |SELECT CAST(i - 1 AS BIGINT) AS dim_idx, w AS pc_x1e6 FROM w2""".stripMargin
  }

  /** Deterministic replay of the persisted-PQ-index pipeline
    * ([[graft.operators.Similarity.buildPqIndex]]/`queryPqIndex` at the
    * sim_pq_* parameters: dim 64, 8 blocks × 8 dims, 16-code codebooks,
    * 2 Lloyd iters, queries id % 10 = 0, top 10) — the sim_ivfpq CTE
    * machinery minus the IVF half. `trainWhere` restricts the Lloyd
    * training slice (TRUE for full-corpus training; `id < 1000` for the
    * append-lifecycle entry, whose codebooks froze at build time); code
    * ASSIGNMENT and ADC scoring always run corpus-wide. */
  private[queries] def pqIndexOracle(trainWhere: String,
      srcSql: String = "SELECT vec_id AS id, embedding AS v FROM embeddings",
      preCtes: String = ""): String = {
    val blocks = 8; val bw = 8; val codebook = 16
    val sqd8 = (x: String, c: String) =>
      s"list_sum(list_transform(range(1, ${bw + 1}), j -> ($x[j] - $c[j]) * ($x[j] - $c[j])))"
    val rounds = (1 to 2).map { i =>
      s"""a$i AS (SELECT block, id, xs, cid FROM (
         |  SELECT s.block, s.id, s.xs, c.cid,
         |    row_number() OVER (PARTITION BY s.block, s.id
         |      ORDER BY ${sqd8("s.xs", "c.cs")} ASC, c.cid ASC) AS rn
         |  FROM st s JOIN c${i - 1} c ON s.block = c.block) WHERE rn = 1),
         |c$i AS (SELECT block, cid, list(v ORDER BY dim) AS cs FROM (
         |  SELECT a.block, a.cid, t.i AS dim,
         |    CAST(floor(CAST(sum(a.xs[t.i]) AS DOUBLE) / count(*)) AS BIGINT)
         |      AS v
         |  FROM a$i a CROSS JOIN range(1, ${bw + 1}) t(i) GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val withClause =
      if (preCtes.isEmpty) "WITH" else s"WITH RECURSIVE\n$preCtes,"
    s"""
    |$withClause e AS (SELECT id, v,
    |      SQRT(${V.duckDot("v", "v")}) AS nrm
    |    FROM ($srcSql)),
    |q AS (SELECT id, v, nrm FROM e WHERE id % 10 = 0),
    |s AS (SELECT id, b.blk AS block,
    |    list_transform(range(1, ${bw + 1}),
    |      i -> CAST(round(v[b.blk * $bw + i]::DOUBLE / nrm * 1000000.0) AS BIGINT)) AS xs
    |  FROM e CROSS JOIN range(0, $blocks) b(blk)),
    |st AS (SELECT * FROM s WHERE $trainWhere),
    |sq AS (SELECT id, b.blk AS block,
    |    list_transform(range(1, ${bw + 1}),
    |      i -> CAST(round(v[b.blk * $bw + i]::DOUBLE / nrm * 1000000.0) AS BIGINT)) AS xs
    |  FROM q CROSS JOIN range(0, $blocks) b(blk)),
    |c0 AS (SELECT block, rn - 1 AS cid, xs AS cs FROM (
    |  SELECT block, xs, row_number() OVER (PARTITION BY block ORDER BY id) AS rn
    |  FROM st) WHERE rn <= $codebook),
    |$rounds,
    |codes AS (SELECT block, id, cid AS code FROM (
    |  SELECT s.block, s.id, c.cid,
    |    row_number() OVER (PARTITION BY s.block, s.id
    |      ORDER BY ${sqd8("s.xs", "c.cs")} ASC, c.cid ASC) AS rn
    |  FROM s JOIN c2 c ON s.block = c.block) WHERE rn = 1),
    |adc AS (SELECT sq.id AS query_id, sq.block, c.cid AS code,
    |    ${sqd8("sq.xs", "c.cs")} AS pd
    |  FROM sq JOIN c2 c ON sq.block = c.block),
    |cand AS (SELECT adc.query_id, codes.id AS neighbor_id,
    |    sum(adc.pd) AS adist
    |  FROM codes JOIN adc ON adc.block = codes.block
    |                     AND adc.code = codes.code
    |  WHERE adc.query_id <> codes.id
    |  GROUP BY 1, 2)
    |SELECT query_id, neighbor_id, rank FROM (
    |  SELECT query_id, neighbor_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY adist ASC, neighbor_id ASC) AS rank
    |  FROM cand) WHERE rank <= 10""".stripMargin
  }

  def defs: Seq[Q] = Seq(
    // ---- record linkage (entity resolution) --------------------------
    // blocked fuzzy-match join: candidates share a 16-char name-prefix
    // block (equi-join — the O(N²) all-pairs never exists), edit distance
    // runs inside blocks only. Levenshtein is Spark's codegen'd native
    // expression; DuckDB ships the same function.
    Q("q84_fuzzy_linkage", (s, d) =>
      Linkage.fuzzyPairs(t(s, d, "customer"), "c_custkey", "c_name",
        substring(col("c_name"), 1, 16), maxDist = 1),
      Some("""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        FROM customer a JOIN customer b
          ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1""")),

    // ---- time-series resample + LOCF ---------------------------------
    // hourly per-user grid over each user's own span, bucket-averaged
    // (integerized micro-units — order-free sums), empty buckets filled
    // by last-observation-carried-forward
    Q("q85_resample_locf", (s, d) =>
      TimeSeries.resampleLocf(events(s, d).filter(col("user_id") < 50),
        "user_id", "ts", "value", binSeconds = 3600),
      Some("""
        WITH obs AS (
          SELECT user_id AS key,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 * 3600000000 AS bin_us,
                 sum(CAST(round(value * 1000000.0) AS BIGINT)) AS sv,
                 count(*) AS cnt
          FROM events WHERE user_id < 50 GROUP BY 1, 2),
        spans AS (SELECT key, min(bin_us) AS mn, max(bin_us) AS mx
                  FROM obs GROUP BY 1),
        grid AS (SELECT key, unnest(generate_series(mn, mx, 3600000000)) AS bin_us
                 FROM spans),
        j AS (SELECT g.key, g.bin_us, o.sv, o.cnt
              FROM grid g LEFT JOIN obs o USING (key, bin_us)),
        f AS (SELECT key, bin_us,
                last_value(sv IGNORE NULLS) OVER (PARTITION BY key ORDER BY bin_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fsv,
                last_value(cnt IGNORE NULLS) OVER (PARTITION BY key ORDER BY bin_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fcnt,
                sv IS NULL AS is_gap
              FROM j)
        SELECT key, bin_us, round(fsv::DOUBLE / fcnt / 1000000.0, 6) AS value,
               is_gap
        FROM f""")),

    // ---- time-series resample + linear interpolation -----------------
    // the interpolating sibling of q85: empty buckets between two
    // observations take the linear blend (exact-integer weight), buckets
    // after the last observation fall back to carry-forward
    Q("q91_resample_interp", (s, d) =>
      TimeSeries.resampleInterp(events(s, d).filter(col("user_id") < 50),
        "user_id", "ts", "value", binSeconds = 3600),
      Some("""
        WITH obs AS (
          SELECT user_id AS key,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 * 3600000000 AS bin_us,
                 sum(CAST(round(value * 1000000.0) AS BIGINT)) AS sv,
                 count(*) AS cnt
          FROM events WHERE user_id < 50 GROUP BY 1, 2),
        o2 AS (SELECT key, bin_us, sv::DOUBLE / cnt AS avg_micro FROM obs),
        spans AS (SELECT key, min(bin_us) AS mn, max(bin_us) AS mx
                  FROM o2 GROUP BY 1),
        grid AS (SELECT key, unnest(generate_series(mn, mx, 3600000000)) AS bin_us
                 FROM spans),
        j AS (SELECT g.key, g.bin_us, o.avg_micro
              FROM grid g LEFT JOIN o2 o USING (key, bin_us)),
        f AS (SELECT key, bin_us, avg_micro,
                last_value(avg_micro IGNORE NULLS) OVER (PARTITION BY key
                  ORDER BY bin_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                last_value(CASE WHEN avg_micro IS NOT NULL THEN bin_us END IGNORE NULLS)
                  OVER (PARTITION BY key ORDER BY bin_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
                first_value(avg_micro IGNORE NULLS) OVER (PARTITION BY key
                  ORDER BY bin_us ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                first_value(CASE WHEN avg_micro IS NOT NULL THEN bin_us END IGNORE NULLS)
                  OVER (PARTITION BY key ORDER BY bin_us
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
              FROM j)
        SELECT key, bin_us,
               CAST(round(CASE WHEN avg_micro IS NOT NULL THEN avg_micro
                               WHEN nv IS NULL THEN pv
                               ELSE pv + (nv - pv) *
                                 ((bin_us - pb)::DOUBLE / (nb - pb)::DOUBLE)
                          END) AS BIGINT) AS value_micro,
               avg_micro IS NULL AS is_gap
        FROM f""")),

    // ---- leave-one-out target encoding -------------------------------
    // market segment encoded by account balance, each row excluded from
    // its own category mean (the target-leakage guard); cents-exact
    // integer sums, two exact-input divisions per row
    Q("q92_target_encode", (s, d) =>
      graft.operators.FeatureEng.targetEncodeLoo(
          t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal")),
          "c_mktsegment", "c_acctbal", scale = 100L)
        .select(col("c_custkey"), col("c_mktsegment"), col("enc")),
      Some("""
        WITH t AS (SELECT c_custkey, c_mktsegment,
                     CAST(round(c_acctbal * 100.0) AS BIGINT) AS li
                   FROM customer),
        g AS (SELECT c_mktsegment, sum(li) AS s, count(*) AS n
              FROM t GROUP BY 1)
        SELECT c_custkey, c_mktsegment,
               CASE WHEN n > 1
                    THEN round((s - li)::DOUBLE / (n - 1) / 100.0, 6)
               END AS enc
        FROM t JOIN g USING (c_mktsegment)""")),

    // ---- event-rate anomaly scoring ----------------------------------
    // per-type 6-hour bucket counts z-scored against the type's own
    // distribution; variance from exact integer moments (Σc², Σc) so no
    // cross-row double sum exists anywhere
    Q("q86_rate_anomaly", (s, d) =>
      TimeSeries.rateAnomaly(events(s, d), "event_type", "ts",
        binSeconds = 21600),
      Some("""
        WITH cnts AS (
          SELECT event_type AS grp,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 * 21600000000 AS bin_us,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2),
        stats AS (SELECT grp, count(*) AS n, sum(cnt) AS s1,
                         sum(cnt * cnt) AS s2
                  FROM cnts GROUP BY 1),
        st2 AS (SELECT grp, s1::DOUBLE / n AS mean,
                       (s2::DOUBLE - s1::DOUBLE * s1 / n) / n AS variance
                FROM stats)
        SELECT c.grp, c.bin_us, c.cnt,
               CASE WHEN variance > 0
                    THEN round((c.cnt::DOUBLE - mean) / sqrt(variance), 6)
               END AS z
        FROM cnts c JOIN st2 USING (grp)""")),

    // ---- STREAMING event-rate anomaly --------------------------------
    // the streaming analog of q86 in the production train/score split:
    // per-type moments batch-trained, broadcast into the stream, windowed
    // counts z-scored incrementally. Epoch-aligned tumbling windows make
    // the full replay hash-exact to the batch operator — the oracle IS
    // q86's SQL. Complete mode: a finite replay's last window never
    // crosses a watermark.
    Q("q88_stream_anomaly", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val baseline = TimeSeries.momentStats(
        TimeSeries.binCounts(events(s, d), "event_type", "ts", 21600))
      val q = graft.streaming.StreamingAnomaly.score(
          Tables.eventsStream(s, d), baseline, "event_type", "ts", "6 hours")
        .writeStream.format("memory").queryName("q88_stream")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("q88_stream")
    }, Some("""
        WITH cnts AS (
          SELECT event_type AS grp,
                 epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 * 21600000000 AS bin_us,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2),
        stats AS (SELECT grp, count(*) AS n, sum(cnt) AS s1,
                         sum(cnt * cnt) AS s2
                  FROM cnts GROUP BY 1),
        st2 AS (SELECT grp, s1::DOUBLE / n AS mean,
                       (s2::DOUBLE - s1::DOUBLE * s1 / n) / n AS variance
                FROM stats)
        SELECT c.grp, c.bin_us, c.cnt,
               CASE WHEN variance > 0
                    THEN round((c.cnt::DOUBLE - mean) / sqrt(variance), 6)
               END AS z
        FROM cnts c JOIN st2 USING (grp)""")),

    // ---- learned quality classifier ----------------------------------
    // 3 full-batch GD steps of a fast-sigmoid logistic on 4 document
    // features (intercept, scaled length, mean word length, type-token
    // ratio), label = is-English; each step is ONE map-side-combined
    // aggregate with the weights broadcast as plan literals, and the whole
    // trajectory is bit-reproducible in DuckDB (rational link, integerized
    // gradients — see Classifier's determinism contract)
    Q("q87_lr_quality", (s, d) => {
      val nt = size(split(col("text"), " "))
      val feat = t(s, d, "documents").select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("label"),
        lit(1.0).as("x0"),
        (nt.cast("double") / lit(100.0)).as("x1"),
        (col("n_chars").cast("double") / nt / lit(10.0)).as("x2"),
        (size(array_distinct(split(col("text"), " "))).cast("double") / nt)
          .as("x3"))
      Classifier.fitPredict(feat, Seq("x0", "x1", "x2", "x3"),
          steps = 3, lr = 0.25)
        .select(col("doc_id"), col("label"), col("score"), col("pred"))
    }, Some(Classifier.oracleSql(lrFeatSql, Seq("x0", "x1", "x2", "x3"),
        steps = 3, lr = 0.25, selectCols = "doc_id, label"))),

    // ---- survival analysis: Kaplan-Meier time-to-conversion ----------
    // duration = days from a user's first event to their 30th (the
    // "conversion"); users who never reach 30 events are right-censored
    // at their last observed day. The curve is exact integer micro-nats
    // (cumulative SUM in log space — a float cumulative product would be
    // reduction-order-sensitive).
    Q("q93_kaplan_meier", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val per = events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("ts"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("f"),
          max(when(col("rn") === 30, col("us"))).as("kth"),
          max(col("us")).as("l"))
      val subj = per.select(
        expr("(coalesce(kth, l) - f) div 86400000000L").as("dur"),
        col("kth").isNotNull.cast("long").as("obs"))
      graft.operators.Survival.kaplanMeier(subj, "dur", "obs")
    }, Some("""
      WITH ranked AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS rn
                      FROM events),
      per AS (SELECT user_id, min(us) AS f,
                max(CASE WHEN rn = 30 THEN us END) AS kth, max(us) AS l
              FROM ranked GROUP BY 1),
      subj AS (SELECT (coalesce(kth, l) - f) // 86400000000 AS t,
                      CASE WHEN kth IS NOT NULL THEN 1 ELSE 0 END AS obs
               FROM per),
      tot AS (SELECT count(*) AS n FROM subj),
      byt AS (SELECT t, CAST(sum(obs) AS BIGINT) AS d, count(*) AS c
              FROM subj GROUP BY 1),
      w AS (SELECT t, d, c,
              CAST(coalesce(sum(c) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                AS left_before
            FROM byt),
      r AS (SELECT t, d, CAST(n - left_before AS BIGINT) AS n_risk
            FROM w, tot WHERE d > 0),
      costs AS (SELECT t, d, n_risk,
          CASE WHEN d < n_risk
               THEN CAST(round(-ln(1.0 - d::DOUBLE / n_risk) * 1e9) AS BIGINT)
          END AS cost
        FROM r)
      SELECT t, n_risk, d AS n_event,
             CAST(sum(cost) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_nats
      FROM costs""")),

    // ---- community detection: label propagation ----------------------
    // 2 synchronous LPA rounds on the part↔supplier co-occurrence graph
    // (q53's graph): adopt the most frequent neighbor label, ties to the
    // smallest — total integer orders, so the oracle unrolls the identical
    // rounds as CTEs. Same AQE-off/8-partition scoping as the pagerank
    // entries (small fixed-shape iterative stages).
    Q("q89_label_prop", (s, d) => {
      val li = t(s, d, "lineitem")
      val fwd = Tables.spread(li.select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))).distinct()
      val edges = fwd.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        graft.operators.Graph.labelPropagation(edges, iters = 2,
          broadcastLabels = true)
          .select(col("id").as("node"), col("community"))
      }
    }, Some("""
      WITH fwd AS (SELECT DISTINCT l_partkey AS src,
                     l_suppkey + 10000000 AS dst FROM lineitem),
      e AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      n AS (SELECT DISTINCT src AS id FROM e),
      l0 AS (SELECT id, id AS label FROM n),
      c1 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
             FROM e JOIN l0 l ON e.src = l.id GROUP BY 1, 2),
      l1 AS (SELECT id, min(label) AS label FROM (
               SELECT id, label, cnt, max(cnt) OVER (PARTITION BY id) AS mc
               FROM c1) WHERE cnt = mc GROUP BY id),
      c2 AS (SELECT e.dst AS id, l.label, count(*) AS cnt
             FROM e JOIN l1 l ON e.src = l.id GROUP BY 1, 2),
      l2 AS (SELECT id, min(label) AS label FROM (
               SELECT id, label, cnt, max(cnt) OVER (PARTITION BY id) AS mc
               FROM c2) WHERE cnt = mc GROUP BY id)
      SELECT id AS node, label AS community FROM l2""")),

    // ---- triangle enumeration ----------------------------------------
    // triangles of the co-purchase graph (parts sharing an order, 1-in-5
    // part slice): the operator orients edges by (degree, id) so wedge
    // generation is hub-safe; the oracle is the textbook a<b<c 3-way
    // self-join — same triangle set, orientation-independent.
    Q("q90_triangles", (s, d) => {
      val li = Tables.spread(t(s, d, "lineitem")
        .filter(col("l_partkey") % 5 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))
      val pairs = li.select(col("ok"), col("pk").as("id_a"))
        .join(li.select(col("ok"), col("pk").as("id_b")), "ok")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      graft.operators.Graph.triangles(pairs)
    }, Some("""
      WITH pp AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey % 5 = 0 AND b.l_partkey % 5 = 0)
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pp e1 JOIN pp e2 ON e1.v = e2.u
      JOIN pp e3 ON e3.u = e1.u AND e3.v = e2.v""")),

    // ---- per-group OLS trend -----------------------------------------
    // value trend per event type over the month (y-units per hour): exact
    // integer moments, closed-form slope/intercept on mirrored doubles;
    // x re-based at the 2024-01-01 hour index so moment products stay
    // exact
    Q("q95_trend", (s, d) =>
      graft.operators.Stats.olsTrend(
        events(s, d).select(col("event_type"),
          expr("unix_micros(ts) div 3600000000L - 473352L").as("xh"),
          col("value")),
        "event_type", "xh", "value"),
      Some("""
        WITH b AS (SELECT event_type AS grp,
            epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 - 473352 AS x,
            CAST(round(value * 1000000.0) AS BIGINT) AS y
          FROM events),
        m AS (SELECT grp, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
              FROM b GROUP BY 1)
        SELECT grp, n,
          CASE WHEN n::DOUBLE * sxx - sx::DOUBLE * sx <> 0 THEN
            round((n::DOUBLE * sxy - sx::DOUBLE * sy)
              / (n::DOUBLE * sxx - sx::DOUBLE * sx) / 1000000.0, 6)
          END AS slope,
          CASE WHEN n::DOUBLE * sxx - sx::DOUBLE * sx <> 0 THEN
            round((sy - (n::DOUBLE * sxy - sx::DOUBLE * sy)
                / (n::DOUBLE * sxx - sx::DOUBLE * sx) * sx)
              / n / 1000000.0, 6)
          END AS intercept
        FROM m""")),

    // ---- one-pass correlation matrix ---------------------------------
    // pairwise Pearson over integerized lineitem measures; all moments in
    // ONE aggregate (the corpus is scanned once for any number of pairs);
    // dollars (not cents) for price so Σp² stays inside exact range
    Q("q96_corr_matrix", (s, d) =>
      graft.operators.Stats.corrMatrix(t(s, d, "lineitem"), Seq(
        "qty" -> round(col("l_quantity")),
        "price" -> round(col("l_extendedprice")),
        "disc_c" -> round(col("l_discount") * 100))),
      Some("""
        WITH b AS (SELECT CAST(round(l_quantity) AS BIGINT) AS q,
            CAST(round(l_extendedprice) AS BIGINT) AS p,
            CAST(round(l_discount * 100) AS BIGINT) AS dc
          FROM lineitem),
        m AS (SELECT count(*) AS n,
            CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp,
            CAST(sum(dc) AS BIGINT) AS sd,
            CAST(sum(q * q) AS BIGINT) AS sqq, CAST(sum(p * p) AS BIGINT) AS spp,
            CAST(sum(dc * dc) AS BIGINT) AS sdd,
            CAST(sum(q * p) AS BIGINT) AS sqp, CAST(sum(q * dc) AS BIGINT) AS sqd,
            CAST(sum(p * dc) AS BIGINT) AS spd
          FROM b)
        SELECT 'qty' AS col_a, 'price' AS col_b,
               round((n::DOUBLE * sqp - sq::DOUBLE * sp)
                 / (sqrt(n::DOUBLE * sqq - sq::DOUBLE * sq)
                    * sqrt(n::DOUBLE * spp - sp::DOUBLE * sp)), 6) AS r
        FROM m
        UNION ALL
        SELECT 'qty', 'disc_c',
               round((n::DOUBLE * sqd - sq::DOUBLE * sd)
                 / (sqrt(n::DOUBLE * sqq - sq::DOUBLE * sq)
                    * sqrt(n::DOUBLE * sdd - sd::DOUBLE * sd)), 6)
        FROM m
        UNION ALL
        SELECT 'price', 'disc_c',
               round((n::DOUBLE * spd - sp::DOUBLE * sd)
                 / (sqrt(n::DOUBLE * spp - sp::DOUBLE * sp)
                    * sqrt(n::DOUBLE * sdd - sd::DOUBLE * sd)), 6)
        FROM m""")),

    // ---- association rules (market-basket affinity) ------------------
    // brand-affinity rules over order baskets: exact support counts,
    // single-division confidence/lift, pair space bounded by within-
    // basket joins (never cartesian) AND the enforced maxBasketSize cap
    // (over-cap baskets dropped whole — the oracle replays the filter;
    // TPC-H orders carry <= 7 lines so the cap is semantics-neutral here,
    // and the hot-basket boundedness is measured in ScaleSmoke)
    Q("q97_assoc_rules", (s, d) => {
      val baskets = t(s, d, "lineitem")
        .select(col("l_orderkey").as("bk"), col("l_partkey"))
        .join(t(s, d, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand").as("it")),
          "l_partkey")
        .select(col("bk"), col("it"))
      graft.operators.BasketAnalysis.rules(baskets, "bk", "it",
        minSupport = 10L, maxBasketSize = Some(64))
    }, Some("""
        WITH m0 AS (SELECT DISTINCT l_orderkey AS bk, p_brand AS it
                    FROM lineitem JOIN part ON l_partkey = p_partkey),
        m AS (SELECT bk, it FROM (
                SELECT bk, it, count(*) OVER (PARTITION BY bk) AS bn
                FROM m0) WHERE bn <= 64),
        items AS (SELECT it, count(*) AS s FROM m GROUP BY 1),
        nb AS (SELECT count(DISTINCT bk) AS nb FROM m),
        pc AS (SELECT a.it AS ia, b.it AS ib, count(*) AS s_ab
               FROM m a JOIN m b ON a.bk = b.bk AND a.it < b.it
               GROUP BY 1, 2 HAVING count(*) >= 10),
        dir AS (SELECT ia AS ante, ib AS cons, s_ab FROM pc
                UNION ALL SELECT ib, ia, s_ab FROM pc)
        SELECT ante, cons, s_ab,
               round(s_ab::DOUBLE / sa.s, 6) AS conf,
               round(nb::DOUBLE * s_ab / (sa.s * sb.s), 6) AS lift
        FROM dir JOIN items sa ON dir.ante = sa.it
                 JOIN items sb ON dir.cons = sb.it
        CROSS JOIN nb""")),

    // ---- distribution drift: population stability index --------------
    // value-distribution shift per event type between the month's first
    // half (baseline) and second half (current): 10 equal-width buckets,
    // add-one smoothing, per-bucket terms integerized to micro-nats so
    // the cross-bucket sum is order-free
    Q("q94_psi_drift", (s, d) =>
      graft.operators.FeatureEng.psiDrift(
        events(s, d).withColumn("cur", dayofmonth(col("ts")) > 15),
        "event_type", "value", "cur", bins = 10, lo = 0.0, hi = 250.0),
      Some("""
        WITH base AS (SELECT event_type AS grp,
            CAST(least(9, greatest(0, floor((value - 0.0) / 25.0))) AS BIGINT)
              AS bucket,
            (day(CAST(ts AS TIMESTAMP)) > 15) AS cur
          FROM events),
        cnts AS (SELECT grp, bucket,
            CAST(sum(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS cp,
            CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cq
          FROM base GROUP BY 1, 2),
        tot AS (SELECT grp, CAST(sum(cp) AS BIGINT) AS np,
                       CAST(sum(cq) AS BIGINT) AS nq
                FROM cnts GROUP BY 1),
        grid AS (SELECT grp, np, nq, unnest(range(0, 10)) AS bucket FROM tot),
        terms AS (SELECT g.grp, CAST(round(
            ((coalesce(cp, 0) + 1)::DOUBLE / (np + 10)
              - (coalesce(cq, 0) + 1)::DOUBLE / (nq + 10))
            * ln(((coalesce(cp, 0) + 1)::DOUBLE / (np + 10))
                 / ((coalesce(cq, 0) + 1)::DOUBLE / (nq + 10))) * 1e6)
            AS BIGINT) AS term
          FROM grid g LEFT JOIN cnts c ON g.grp = c.grp AND g.bucket = c.bucket)
        SELECT grp, CAST(sum(term) AS BIGINT) AS psi_micro
        FROM terms GROUP BY 1""")),

    // ---- feature hashing ---------------------------------------------
    // the hashing trick: tokens index a FIXED 32-wide count vector via
    // the shared deterministic char hash — constant-memory featurization
    // with no vocabulary state; both engines build the identical vector
    // the declared pair flattens the vector to a comma-joined scalar:
    // the driver's canonicalizer sorts columns with pandas, which cannot
    // hash an array cell — the operator itself still returns the typed
    // array<bigint> for downstream use (OperatorsSpec covers that shape)
    Q("text_hash_features", (s, d) =>
      graft.operators.TextAnalysis.hashFeatures(
        Tables.ts(s, d, "documents"), "doc_id", "text", dim = 32)
        .withColumnRenamed("id", "doc_id")
        .select(col("doc_id"),
          array_join(col("features"), ",").as("features")),
      Some(s"""
        WITH wh AS (SELECT doc_id, unnest(${H.duckWordHashes("text")}) AS h
                    FROM documents),
        bc AS (SELECT doc_id, h % 32 AS bucket, count(*) AS cnt
               FROM wh GROUP BY 1, 2),
        m AS (SELECT doc_id, map_from_entries(list({k: bucket, v: cnt})) AS m
              FROM bc GROUP BY 1)
        SELECT doc_id,
               array_to_string(
                 list_transform(range(0, 32), i -> coalesce(m[i][1], 0::BIGINT)),
                 ',') AS features
        FROM m""")),

    // ---- collocation mining + phrase rewrite -------------------------
    // PMI-scored adjacent-pair vocabulary (the phrase step of tokenizer
    // prep): exact integer counts, one division inside the ln, micro-nat
    // integerized rank order
    Q("text_phrases", (s, d) =>
      graft.operators.TextAnalysis.minePhrases(
        Tables.ts(s, d, "documents"), "text", minCount = 5, topK = 10),
      Some("""
        WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT w[i] AS a, w[i + 1] AS b
               FROM w, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
        bc AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
        uc AS (SELECT t, count(*) AS n_t
               FROM (SELECT unnest(w) AS t FROM w) GROUP BY 1),
        tot AS (SELECT count(*) AS nn FROM bg),
        scored AS (SELECT a || ' ' || b AS phrase, n_ab,
            CAST(round(ln((nn * n_ab)::DOUBLE / (ua.n_t * ub.n_t)) * 1e6)
              AS BIGINT) AS pmi_micro
          FROM bc JOIN uc ua ON bc.a = ua.t JOIN uc ub ON bc.b = ub.t
          CROSS JOIN tot
          WHERE n_ab >= 5)
        SELECT phrase, n_ab, pmi_micro FROM scored
        ORDER BY pmi_micro DESC, phrase ASC LIMIT 10""")),

    // greedy left-to-right rewrite of the mined phrases into single
    // tokens — the vocabulary is the bounded text_phrases output
    // (driver-collected: topK rows, control-plane); the rewrite is one
    // aggregate-HOF projection per doc, no explode/shuffle/UDF. The
    // oracle re-mines the same vocabulary and reproduces the greedy fold
    // with the equivalent ISLAND-PARITY form (within a run of consecutive
    // matching pair positions, greedy merge-starts are the even offsets)
    // — DuckDB 1.0.0's list_reduce segfaults on struct-state folds at
    // corpus scale, so the oracle must stay window-functional.
    Q("text_phrase_merge", (s, d) => {
      val phrases = graft.operators.TextAnalysis.minePhrases(
          Tables.ts(s, d, "documents"), "text", minCount = 5, topK = 10)
        .select(col("phrase")).collect().map(_.getString(0)).toSeq
      graft.operators.TextAnalysis.mergePhrases(
        Tables.ts(s, d, "documents"), "doc_id", "text", phrases)
    }, Some("""
        WITH w0 AS (SELECT string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT w[i] AS a, w[i + 1] AS b
               FROM w0, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
        bc AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
        uc AS (SELECT t, count(*) AS n_t
               FROM (SELECT unnest(w) AS t FROM w0) GROUP BY 1),
        tot AS (SELECT count(*) AS nn FROM bg),
        topk AS (SELECT a || ' ' || b AS phrase,
            CAST(round(ln((nn * n_ab)::DOUBLE / (ua.n_t * ub.n_t)) * 1e6)
              AS BIGINT) AS pmi_micro
          FROM bc JOIN uc ua ON bc.a = ua.t JOIN uc ub ON bc.b = ub.t
          CROSS JOIN tot
          WHERE n_ab >= 5
          ORDER BY pmi_micro DESC, phrase ASC LIMIT 10),
        pv AS (SELECT list(phrase) AS phr FROM topk),
        docs2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        pos AS (SELECT doc_id, i, w[i] AS tok, w[i + 1] AS nxt,
                  CASE WHEN i < len(w)
                         AND list_contains(phr, w[i] || ' ' || w[i + 1])
                       THEN 1 ELSE 0 END AS m
                FROM docs2 CROSS JOIN pv,
                     unnest(range(1, len(w) + 1)) AS t(i)),
        runs AS (SELECT *, i - row_number()
                   OVER (PARTITION BY doc_id, m ORDER BY i) AS grp
                 FROM pos),
        starts AS (SELECT *, CASE WHEN m = 1 AND
                     (i - min(i) OVER (PARTITION BY doc_id, m, grp)) % 2 = 0
                     THEN 1 ELSE 0 END AS is_start
                   FROM runs),
        fin AS (SELECT doc_id, i,
                  CASE WHEN is_start = 1 THEN tok || '_' || nxt
                       ELSE tok END AS outtok,
                  coalesce(lag(is_start)
                    OVER (PARTITION BY doc_id ORDER BY i), 0) AS dropped
                FROM starts)
        SELECT doc_id, string_agg(outtok, ' ' ORDER BY i) AS merged
        FROM fin WHERE dropped = 0 GROUP BY doc_id""")),

    // ---- persisted IVF index: build once, query many -----------------
    // the index lifecycle of a production vector store: corpus assignment
    // paid at BUILD (seeds + hive-partitioned cells on disk), the query
    // session pays seeds + partition-pruned probed cells only. Querying
    // the corpus against its own index must reproduce ivfTopK exactly —
    // the oracle is sim_ivf's SQL verbatim.
    Q("sim_ivf_index", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("ivf-index")
      dir.toFile.deleteOnExit()
      val e = t(s, d, "embeddings")
      Similarity.buildIvfIndex(e, "vec_id", "embedding", dir.toString,
        nCells = 8)
      Similarity.queryIvfIndex(s, dir.toString, e, "vec_id", "embedding",
        k = 3, nprobe = 2)
    }, Some(ivfIndexOracle)),

    // index APPEND lifecycle: build on the first corpus slice, append the
    // rest batch-wise (one broadcast argmin + partitioned parquet append
    // per batch — cost tracks the batch, never the indexed corpus), then
    // query the whole corpus. The seed contract is fixed at build, and
    // the build slice carries the 8 smallest ids, so append-then-query
    // must equal one-shot build — the oracle is sim_ivf's SQL verbatim.
    Q("sim_ivf_append", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("ivf-append")
      dir.toFile.deleteOnExit()
      val e = t(s, d, "embeddings")
      Similarity.buildIvfIndex(e.filter(col("vec_id") < 1000), "vec_id",
        "embedding", dir.toString, nCells = 8)
      Similarity.appendIvfIndex(
        e.filter(col("vec_id") >= 1000 && col("vec_id") % 2 === 0),
        "vec_id", "embedding", dir.toString)
      Similarity.appendIvfIndex(
        e.filter(col("vec_id") >= 1000 && col("vec_id") % 2 === 1),
        "vec_id", "embedding", dir.toString)
      Similarity.queryIvfIndex(s, dir.toString, e, "vec_id", "embedding",
        k = 3, nprobe = 2)
    }, Some(ivfIndexOracle)),

    // ---- persisted PQ index: codebooks + codes on disk ---------------
    // the compression analog of sim_ivf_index: codebook training + full
    // code assignment paid at BUILD, the query session pays ADC over the
    // code table only — no raw vector is ever read back. The oracle
    // replays the whole pipeline (sim_ivfpq's CTE machinery minus the
    // IVF half): integer Lloyd per block, codes, ADC sums, (adist, id)
    // top-10. AQE-off/8-partition scope — the iterative index build is
    // ~100 small sequential jobs (the sim_ivfpq measurement).
    Q("sim_pq_index", (s, d) =>
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        val dir = java.nio.file.Files.createTempDirectory("pq-index")
        dir.toFile.deleteOnExit()
        val e = t(s, d, "embeddings")
        Similarity.buildPqIndex(e, "vec_id", "embedding", dir.toString)
        Similarity.queryPqIndex(s, dir.toString,
          e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          k = 10)
      }, Some(pqIndexOracle("TRUE"))),

    // PQ index APPEND lifecycle: codebooks are the frozen quantizer
    // contract (the sim_ivf_append discipline) — the build slice carries
    // the rank seeds and the full training set, so appending the rest
    // batch-wise (one broadcast-codebook argmin per batch, cost tracking
    // the batch) then querying must equal the one-shot build trained on
    // that slice: the oracle trains its Lloyd CTEs on id < 1000 and
    // assigns codes corpus-wide.
    Q("sim_pq_append", (s, d) =>
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        val dir = java.nio.file.Files.createTempDirectory("pq-append")
        dir.toFile.deleteOnExit()
        val e = t(s, d, "embeddings")
        Similarity.buildPqIndex(e.filter(col("vec_id") < 1000), "vec_id",
          "embedding", dir.toString)
        Similarity.appendPqIndex(
          e.filter(col("vec_id") >= 1000 && col("vec_id") % 2 === 0),
          "vec_id", "embedding", dir.toString)
        Similarity.appendPqIndex(
          e.filter(col("vec_id") >= 1000 && col("vec_id") % 2 === 1),
          "vec_id", "embedding", dir.toString)
        Similarity.queryPqIndex(s, dir.toString,
          e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          k = 10)
      }, Some(pqIndexOracle("id < 1000"))),

    // ---- hybrid retrieval: reciprocal-rank fusion --------------------
    // lexical (whole-query BM25, top 50) + semantic (cosine to a fixed
    // query vector over the doc-embedding corpus, top 50) fused by RRF
    // k=60, top 20. Both input lists are bounded; the fusion never
    // touches corpus-sized frames.
    Q("sim_rrf_hybrid", (s, d) => {
      val emb = t(s, d, "embeddings")
      val corpus = emb.join(
        t(s, d, "documents").select(col("doc_id").as("vec_id")), "vec_id")
      val lex = Ranking.bm25DocScores(Tables.ts(s, d, "documents"),
          "doc_id", "text", Seq("join", "vector", "window"), 50)
        .select(col("doc").as("id"), col("rank"))
      val sem = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 3),
          corpus, "vec_id", "embedding", 50, broadcastCorpus = true)
        .select(col("neighbor_id").as("id"), col("rank"))
      Ranking.rrfFuse(Seq("lex" -> lex, "sem" -> sem), kConst = 60,
          topN = 20)
        .withColumnRenamed("id", "doc_id")
    }, Some(s"""
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
      lexagg AS (SELECT doc_id, sum(CAST(round(score * 1e9) AS BIGINT)) AS s
                 FROM scored GROUP BY 1),
      lex AS (SELECT doc_id AS id,
                row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
              FROM lexagg ORDER BY s DESC, doc_id ASC LIMIT 50),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
      corp AS (SELECT e.vec_id AS id, e.embedding AS cv
               FROM embeddings e JOIN documents dd ON e.vec_id = dd.doc_id),
      semscored AS (SELECT id, ${V.duckCosine("qv", "cv")} AS cos
                    FROM corp, q WHERE id <> 3),
      sem AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rank
              FROM semscored ORDER BY cos DESC, id ASC LIMIT 50),
      tagged AS (SELECT id, 'lex' AS src, rank FROM lex
                 UNION ALL SELECT id, 'sem', rank FROM sem),
      fused AS (SELECT id, sum(CAST(round(1e12 / (60 + rank)) AS BIGINT)) AS s,
                       max(CASE WHEN src = 'lex' THEN rank END) AS lex_rank,
                       max(CASE WHEN src = 'sem' THEN rank END) AS sem_rank
                FROM tagged GROUP BY 1)
      SELECT doc_id, lex_rank, sem_rank, rank, rrf FROM (
        SELECT id AS doc_id, lex_rank, sem_rank,
               row_number() OVER (ORDER BY s DESC, id ASC) AS rank,
               round(s::DOUBLE / 1e12, 6) AS rrf
        FROM fused)
      WHERE rank <= 20""")),

    // top principal component of the centered embedding corpus by TWO
    // power-iteration rounds, replayed bit-exactly: integer 10^6 grid,
    // nonneg-shifted floor divisions (Spark `div` and DuckDB `//` agree
    // only on nonnegatives), per-round data cost = ONE aggregate with the
    // iterate as broadcast literals (the q87 GD pattern), cross-row sums
    // in DECIMAL/HUGEINT so exactness holds at any corpus size
    Q("sim_pca_power", (s, d) =>
      Similarity.pcaPower(t(s, d, "embeddings"), "embedding",
        dim = 64, rounds = 2),
      Some(pcaPowerOracle)))
}
