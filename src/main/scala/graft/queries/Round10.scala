package graft.queries

import org.apache.spark.sql.functions._

import graft.GraftSession.withConf
import graft.operators.{Graph, IncrementalAgg, Sampling, Stats, TextAnalysis,
  TimeSeries}

/** Round-10 additions: CUSUM change detection, chi-square independence,
  * bounded-depth BFS reachability (the transitive-closure shape DuckDB
  * expresses as a recursive CTE), incremental aggregate maintenance, and
  * temperature-scaled source mixing.
  */
object Round10 {
  import Tables.t

  def defs: Seq[Q] = Seq(

    // ---- CUSUM changepoint --------------------------------------------
    // one-sided Page CUSUM over each event type's daily totals, allowance
    // k = mean/2. The max(0, ·) recursion is closed-formed into two
    // running windows (see TimeSeries.cusum), so the oracle is plain
    // window SQL — no recursion, bit-exact integer prefix sums.
    Q("q127_cusum", (s, d) =>
      TimeSeries.cusum(Tables.events(s, d), "event_type", "ts", "value"),
      Some("""
        WITH daily AS (
          SELECT event_type AS grp, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                 CAST(sum(CAST(round(value * 1000000.0) AS BIGINT))
                   AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        st AS (SELECT grp, d, x,
                 count(*) OVER (PARTITION BY grp) AS n,
                 CAST(sum(x) OVER (PARTITION BY grp) AS BIGINT) AS sx
               FROM daily),
        z AS (SELECT grp, d, x, n, 2 * (n * x - sx) - 1 * sx AS zt FROM st),
        c AS (SELECT grp, d, x, n,
                 CAST(sum(zt) OVER (PARTITION BY grp ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
               FROM z),
        sv AS (SELECT grp, d, x, n,
                 cum - least(0, min(cum) OVER (PARTITION BY grp ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
               FROM c)
        SELECT grp, d, x AS x_micro,
               CAST(round(CAST(s AS DOUBLE) / (2.0 * n)) AS BIGINT) AS s_micro
        FROM sv""")),

    // ---- chi-square independence --------------------------------------
    // order priority vs order status: is the mix independent? Per-cell
    // statistic rearranged to integer-exact numerators (see
    // Stats.chiSquare); the 1-row total rides an allow-listed broadcast.
    Q("q128_chi2", (s, d) =>
      Stats.chiSquare(t(s, d, "orders"), "o_orderpriority", "o_orderstatus"),
      Some("""
        WITH base AS (SELECT
                coalesce(CAST(o_orderpriority AS VARCHAR), chr(1)) AS a,
                coalesce(CAST(o_orderstatus AS VARCHAR), chr(1)) AS b
              FROM orders),
        cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
        ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        terms AS (SELECT n, a, b,
                CAST(round(CAST(n * o - ra * cb AS DOUBLE)
                  * CAST(n * o - ra * cb AS DOUBLE)
                  / CAST(n * ra * cb AS DOUBLE) * 1000000.0) AS BIGINT)
                  AS term
              FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot)
        SELECT max(n) AS n, count(DISTINCT a) AS r_cats,
               count(DISTINCT b) AS c_cats,
               (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
               CAST(sum(term) AS BIGINT) AS chi2_micro
        FROM terms""")),

    // ---- BFS reachability / transitive closure ------------------------
    // minimal hop distance from seed parts through the mirrored
    // part <-> supplier co-occurrence graph (q53's edge construction),
    // depth-bounded at 3. Spark iterates a frontier join (Pregel BFS);
    // DuckDB expresses the same fixpoint as WITH RECURSIVE — its working
    // table IS the frontier, so both engines do identical rounds and
    // min(dist) over enumerated pairs equals first-discovery distance.
    Q("q129_reachability", (s, d) => {
      val li = t(s, d, "lineitem")
      val fwd = Tables.spread(li.select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))).distinct()
      val edges = fwd.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = t(s, d, "part").filter(col("p_partkey") % 101 === 0)
        .select(col("p_partkey").as("id"))
      Graph.reachability(edges, seeds, maxDepth = 3)
    }, Some("""
      WITH RECURSIVE
      fwd AS (SELECT DISTINCT l_partkey AS src, l_suppkey + 10000000 AS dst
              FROM lineitem),
      edges AS (SELECT src, dst FROM fwd
                UNION ALL SELECT dst, src FROM fwd),
      seeds AS (SELECT p_partkey AS id FROM part WHERE p_partkey % 101 = 0),
      r AS (SELECT id, 0 AS dist FROM seeds
            UNION
            SELECT e.dst AS id, r.dist + 1 AS dist
            FROM r JOIN edges e ON e.src = r.id WHERE r.dist < 3)
      SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM r GROUP BY 1""")),

    // ---- incremental aggregate maintenance ----------------------------
    // state over the first half of January + state over the second half,
    // merged WITHOUT rescanning — the oracle recomputes from scratch and
    // must hash-match exactly (the merge algebra is the thing under test)
    Q("q130_incr_agg", (s, d) => {
      val ev = Tables.events(s, d)
      val split = "2024-01-16"
      val old = IncrementalAgg.state(
        ev.filter(to_date(col("ts")) < lit(split)),
        Seq("event_type"), "value")
      val delta = IncrementalAgg.state(
        ev.filter(to_date(col("ts")) >= lit(split)),
        Seq("event_type"), "value")
      IncrementalAgg.readout(
        IncrementalAgg.merge(Seq(old, delta), Seq("event_type")))
    }, Some("""
      WITH st AS (SELECT event_type, count(*) AS cnt,
              CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT)
                AS sum_micro,
              min(CAST(round(value * 1000000.0) AS BIGINT)) AS min_micro,
              max(CAST(round(value * 1000000.0) AS BIGINT)) AS max_micro
            FROM events GROUP BY 1)
      SELECT event_type, cnt, sum_micro, min_micro, max_micro,
             CAST(round(CAST(sum_micro AS DOUBLE) / cnt) AS BIGINT)
               AS avg_micro
      FROM st""")),

    // ---- temperature-scaled source mixture ----------------------------
    // quota ∝ √n over the language groups (en 3x the tail), 250 total;
    // members picked in Knuth-mix hash order so the draw reproduces on
    // any partitioning
    Q("text_temperature_mix", (s, d) =>
      Sampling.temperatureSample(
        t(s, d, "documents"), "lang", "doc_id", total = 250L),
      Some(s"""
        WITH counts AS (SELECT lang AS grp, count(*) AS n
              FROM documents GROUP BY 1),
        wts AS (SELECT grp,
              CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS r
              FROM counts),
        tot AS (SELECT CAST(sum(r) AS BIGINT) AS rt FROM wts),
        quotas AS (SELECT grp,
              CAST(round(250 * CAST(r AS DOUBLE) / rt) AS BIGINT) AS quota
              FROM wts CROSS JOIN tot),
        ranked AS (SELECT doc_id AS id, lang AS grp,
              row_number() OVER (PARTITION BY lang ORDER BY
                ((doc_id % 1000000007) * 2654435761) % 1000000007 ASC,
                doc_id ASC) AS rn
              FROM documents)
        SELECT id, grp FROM ranked JOIN quotas USING (grp)
        WHERE rn <= quota""")),

    // ---- curriculum staging -------------------------------------------
    // easy -> hard stages by mean-token-length difficulty, hash-shuffled
    // within a stage; the global ntile cut carries the equi-depth caveat
    // (sample boundaries past one sort's capacity)
    Q("text_curriculum", (s, d) =>
      TextAnalysis.curriculum(
        Tables.ts(s, d, "documents").filter(col("text").isNotNull),
        "doc_id", "text", nStages = 4),
      Some("""
        WITH scored AS (SELECT doc_id AS id,
                (length(text) * 1000000) // len(string_split(text, ' '))
                  AS difficulty_micro
              FROM documents WHERE text IS NOT NULL),
        st AS (SELECT id, difficulty_micro,
                CAST(ntile(4) OVER (ORDER BY difficulty_micro ASC, id ASC)
                  AS BIGINT) AS stage,
                ((id % 1000000007) * 2654435761) % 1000000007 AS hkey
              FROM scored)
        SELECT id, difficulty_micro, stage,
               CAST(row_number() OVER (PARTITION BY stage
                 ORDER BY hkey ASC, id ASC) AS BIGINT) AS ord_in_stage
        FROM st""")),

    // ---- personalized PageRank ----------------------------------------
    // random walk with restart to the q129 seed set over the same
    // mirrored co-occurrence graph — teleport mass lands ONLY on seeds;
    // the oracle unrolls the 3 integer rounds (q53's discipline), with
    // the teleport arm as a unioned seed row, exactly like the engine
    Q("q131_ppr", (s, d) => {
      val li = t(s, d, "lineitem")
      val fwd = Tables.spread(li.select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))).distinct()
      val edges = fwd.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = t(s, d, "part").filter(col("p_partkey") % 101 === 0)
        .select(col("p_partkey").as("id"))
      Graph.personalizedPageRank(edges, seeds, iters = 3,
          edgesDistinct = true)
        .select(col("id").as("node"), col("rank").as("rank_scaled"))
    }, Some {
      val rounds = (1 to 3).map { i =>
        s"""m$i AS (SELECT e.dst AS id,
           |         CAST(sum(r.rank // e.outdeg) AS BIGINT) AS m
           |       FROM e JOIN r${i - 1} r ON e.src = r.id GROUP BY 1),
           |r$i AS (SELECT id, CAST(sum(c) AS BIGINT) AS rank FROM (
           |         SELECT id, 85 * m // 100 AS c FROM m$i
           |         UNION ALL
           |         SELECT id, tele AS c FROM seeds CROSS JOIN params)
           |       GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH fwd AS (SELECT DISTINCT l_partkey AS src,
              l_suppkey + 10000000 AS dst FROM lineitem),
      edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
      e AS (SELECT edges.src, edges.dst, deg.outdeg
            FROM edges JOIN deg USING (src)),
      seeds AS (SELECT p_partkey AS id FROM part WHERE p_partkey % 101 = 0),
      params AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS unit,
              CAST((100 - 85) * (1000000000000 // count(*)) // 100 AS BIGINT)
                AS tele
            FROM seeds),
      r0 AS (SELECT id, unit AS rank FROM seeds CROSS JOIN params),
      $rounds
      SELECT id AS node, rank AS rank_scaled FROM r3"""
    }),

    // ---- Jaro-Winkler record linkage ----------------------------------
    // blocked pairs scored by the native JaroWinklerSim codegen
    // expression (Spark ships no Jaro); DuckDB's built-in
    // jaro_winkler_similarity IS the oracle — standard semantics verified
    // probe-for-probe (0.7 boost threshold, prefix <= 4), micro-rounded
    Q("q132_jaro_linkage", (s, d) =>
      graft.operators.Linkage.jaroPairs(t(s, d, "customer"),
        "c_custkey", "c_name", expr("right(c_name, 3)"),
        minSimMicro = 900000L, maxBlockSize = Some(256)),
      Some("""
        WITH proj AS (SELECT c_custkey AS id, c_name AS name,
                right(c_name, 3) AS block FROM customer),
        capped AS (SELECT id, name, block FROM (
                SELECT id, name, block,
                  count(*) OVER (PARTITION BY block) AS bn FROM proj)
              WHERE bn <= 256),
        pairs AS (SELECT a.id AS id_a, b.id AS id_b,
                CAST(round(jaro_winkler_similarity(a.name, b.name) * 1e6)
                  AS BIGINT) AS jw_micro
              FROM capped a JOIN capped b
                ON a.block = b.block AND a.id < b.id)
        SELECT id_a, id_b, jw_micro FROM pairs WHERE jw_micro >= 900000""")),

    // ---- Mann-Whitney U rank-sum test ---------------------------------
    // does 'click' value sit above/below 'purchase' value? Nonparametric
    // shift test — ranks reduce to the per-DISTINCT-VALUE table (doubled
    // midranks keep ties integer-exact); the one double op (z with tie
    // correction) is mirrored text-for-text.
    Q("q133_mann_whitney", (s, d) =>
      Stats.mannWhitneyU(Tables.events(s, d), "event_type", "value",
        "click", "purchase"),
      Some("""
        WITH base AS (SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
                (event_type = 'click') AS isa
              FROM events
              WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
        pv AS (SELECT v, CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na,
                 count(*) AS t
               FROM base GROUP BY 1),
        w AS (SELECT *, coalesce(CAST(sum(t) OVER (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                 0) AS cb
              FROM pv),
        agg AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                  CAST(sum(t) - sum(na) AS BIGINT) AS n_b,
                  CAST(sum(na * (2 * cb + t + 1)) AS BIGINT) AS r2_a,
                  CAST(sum(t * t * t - t) AS BIGINT) AS ties
                FROM w),
        u AS (SELECT n_a, n_b, r2_a - n_a * (n_a + 1) AS u_a_x2, ties FROM agg)
        SELECT n_a, n_b, u_a_x2,
               CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE)
                 WHEN (n_a + n_b + 1)
                      - CAST(ties AS DOUBLE)
                        / ((n_a + n_b) * CAST(n_a + n_b - 1 AS DOUBLE)) <= 0
                 THEN CAST(NULL AS DOUBLE)
                 ELSE round((CAST(u_a_x2 - n_a * n_b AS DOUBLE) / 2.0)
                   / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                       * ((n_a + n_b + 1)
                          - CAST(ties AS DOUBLE)
                            / ((n_a + n_b) * CAST(n_a + n_b - 1 AS DOUBLE)))), 6)
                 END AS z
        FROM u""")),

    // ---- Kolmogorov-Smirnov two-sample test ---------------------------
    // distribution-shape drift between 'view' and 'error' values: exact
    // integer ECDF-difference numerators per distinct value, one mirrored
    // division for d_micro; at_v is the smallest value witnessing the max.
    Q("q134_ks_test", (s, d) =>
      Stats.ksTest(Tables.events(s, d), "event_type", "value",
        "view", "error"),
      Some("""
        WITH base AS (SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
                (event_type = 'view') AS isa
              FROM events
              WHERE event_type IN ('view', 'error') AND value IS NOT NULL),
        pv AS (SELECT v, CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ta,
                 CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS tb
               FROM base GROUP BY 1),
        c AS (SELECT v,
                CAST(sum(ta) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
                CAST(sum(tb) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
                CAST(sum(ta) OVER () AS BIGINT) AS na,
                CAST(sum(tb) OVER () AS BIGINT) AS nb
              FROM pv),
        dd AS (SELECT *, abs(ca * nb - cb * na) AS diff FROM c),
        d2 AS (SELECT *, max(diff) OVER () AS md FROM dd),
        agg AS (SELECT max(na) AS n_a, max(nb) AS n_b,
                  max(diff) AS maxdiff,
                  min(CASE WHEN diff = md THEN v END) AS at_v
                FROM d2)
        SELECT n_a, n_b,
               CAST(round(1e6 * maxdiff / (CAST(n_a AS DOUBLE) * n_b))
                 AS BIGINT) AS d_micro,
               at_v
        FROM agg""")),

    // ---- modularity of the nation partition ---------------------------
    // are co-supply relations nation-assortative? Modularity of the
    // supplier co-purchase graph (suppliers sharing an order) under the
    // s_nationkey partition — every emitted number is an exact long
    // (num_c = 4·m·e_c − d_c² over the common denominator 4m²).
    Q("q135_modularity", (s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      // spread the PROBE side before the self-join, not the join output:
      // the broadcast join generates the ~1.2M candidate pairs inside the
      // probe side's (3-split) scan stage, so a post-join spread
      // parallelized everything except the expensive part
      val pairs = Tables.spread(li)
        .select(col("l_orderkey"), col("l_suppkey").as("id_a"))
        .join(li.select(col("l_orderkey"), col("l_suppkey").as("id_b")),
          Seq("l_orderkey"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val comms = t(s, d, "supplier")
        .select(col("s_suppkey").as("id"), col("s_nationkey").as("comm"))
      Graph.modularity(pairs, comms)
    }, Some("""
        WITH und AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
        mm AS (SELECT count(*) AS m FROM und),
        deg AS (SELECT id, count(*) AS d FROM (
                  SELECT u AS id FROM und UNION ALL SELECT v FROM und)
                GROUP BY 1),
        cm AS (SELECT s_suppkey AS id, s_nationkey AS comm FROM supplier),
        dt AS (SELECT comm, count(*) AS n_nodes,
                 CAST(sum(d) AS BIGINT) AS d_tot
               FROM deg JOIN cm USING (id) GROUP BY 1),
        ei AS (SELECT cu.comm AS comm, count(*) AS e_intra
               FROM und JOIN cm cu ON und.u = cu.id
                        JOIN cm cv ON und.v = cv.id
               WHERE cu.comm = cv.comm GROUP BY 1)
        SELECT dt.comm, n_nodes, coalesce(e_intra, 0) AS e_intra, d_tot,
               4 * mm.m * coalesce(e_intra, 0) - d_tot * d_tot AS num_c
        FROM dt LEFT JOIN ei ON dt.comm = ei.comm CROSS JOIN mm""")),

    // ---- rendezvous shard assignment ----------------------------------
    // highest-random-weight export sharding over order keys: per-key
    // argmax of the shared char hash across 8 shards — pure narrow
    // projection (no shuffle/join/explode); the minimal-movement property
    // under shard growth is asserted in OperatorsSpec.
    Q("q136_shard_assign", (s, d) =>
      graft.operators.Sharding.rendezvousAssign(
        t(s, d, "orders").select(col("o_orderkey").cast("string").as("k")),
        "k", 8)
        .groupBy(col("shard")).agg(count(lit(1)).as("n_keys")),
      Some(s"""
        WITH a AS (SELECT ${graft.operators.Sharding.duckRendezvous(
          "CAST(o_orderkey AS VARCHAR)", 8)} AS shard
              FROM orders)
        SELECT shard, count(*) AS n_keys FROM a GROUP BY 1""")),

    // ---- Kneser-Ney smoothed perplexity --------------------------------
    // the stronger perplexity-bucketing model: interpolated KN bigram LM
    // (D = 3/4) on the 200-token-capped vocabulary — continuation
    // probability scores words by distinct-context counts. The probability
    // is an exact integer rational over 4·c1·Nbt; one mirrored ln per
    // distinct model row, micro-nat integerized before the per-doc sum.
    Q("text_kn_perplexity", (s, d) =>
      graft.operators.LangModel.knBigramNll(
        Tables.ts(s, d, "documents"), "doc_id", "text", 200)
        .withColumnRenamed("doc", "doc_id"),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        uni AS (SELECT t AS term, count(*) AS cnt
                FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
        vocab AS (SELECT term FROM uni ORDER BY cnt DESC, term ASC LIMIT 200),
        bgr AS (SELECT doc_id,
                  unnest(list_zip(list_slice(tk, 1, len(tk)-1),
                                  list_slice(tk, 2, len(tk)))) AS z
                FROM toks WHERE len(tk) >= 2),
        bg AS (SELECT doc_id,
                 CASE WHEN z[1] IN (SELECT term FROM vocab) THEN z[1] ELSE '<unk>' END AS w1,
                 CASE WHEN z[2] IN (SELECT term FROM vocab) THEN z[2] ELSE '<unk>' END AS w2
               FROM bgr),
        db AS (SELECT doc_id, w1, w2, count(*) AS occ FROM bg GROUP BY 1, 2, 3),
        c12 AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c12 FROM db GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1
               FROM c12 GROUP BY 1),
        cw AS (SELECT w2, count(*) AS nc FROM c12 GROUP BY 1),
        nbt AS (SELECT count(*) AS nbt FROM c12),
        model AS (SELECT c12.w1, c12.w2,
                    CAST(round(-ln(
                      CAST(greatest(4 * c12.c12 - 3, 0) * nbt.nbt
                           + 3 * c1.n1 * cw.nc AS DOUBLE)
                      / CAST(4 * c1.c1 * nbt.nbt AS DOUBLE)) * 1000000.0, 0)
                      AS BIGINT) AS nll_x1e6
                  FROM c12 JOIN c1 USING (w1) JOIN cw USING (w2)
                  CROSS JOIN nbt)
        SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
               CAST(sum(occ * nll_x1e6) AS BIGINT) AS kn_nll_x1e6,
               CAST(sum(occ * nll_x1e6) // sum(occ) AS BIGINT) AS avg_kn_x1e6
        FROM db JOIN model USING (w1, w2)
        GROUP BY 1""")),

    // ---- HITS hubs & authorities --------------------------------------
    // who are the hub buyers and the authority suppliers? HITS over the
    // directed customer→supplier purchase graph: L1-normalized power
    // iteration with exact floor renormalization (raw·scale div total),
    // the per-round totals as control-plane scalars — the oracle unrolls
    // the identical integer rounds (the q53/q70 pagerank pattern).
    Q("q137_hits", (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = Tables.spread(
        o.join(li, o("o_orderkey") === li("l_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + 10000000L).as("dst"))).distinct()
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        Graph.hits(edges, iters = 2, edgesDistinct = true)
      }
    }, Some {
      val iterCtes = (1 to 2).map { i =>
        s"""ar$i AS (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS a
           |  FROM e0 e JOIN h${i - 1} h ON e.src = h.id GROUP BY 1),
           |ta$i AS (SELECT CAST(sum(a) AS BIGINT) AS t FROM ar$i),
           |a$i AS (SELECT n.id,
           |    CAST(coalesce(ar.a, 0) * 1000000 // ta.t AS BIGINT) AS a
           |  FROM nodes n CROSS JOIN ta$i ta
           |  LEFT JOIN ar$i ar ON n.id = ar.id),
           |hr$i AS (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS h
           |  FROM e0 e JOIN a$i a ON e.dst = a.id GROUP BY 1),
           |th$i AS (SELECT CAST(sum(h) AS BIGINT) AS t FROM hr$i),
           |h$i AS (SELECT n.id,
           |    CAST(coalesce(hr.h, 0) * 1000000 // th.t AS BIGINT) AS h
           |  FROM nodes n CROSS JOIN th$i th
           |  LEFT JOIN hr$i hr ON n.id = hr.id)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH e0 AS (SELECT DISTINCT o.o_custkey AS src,
                    l.l_suppkey + 10000000 AS dst
                  FROM orders o JOIN lineitem l
                    ON o.o_orderkey = l.l_orderkey),
      nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
      params AS (SELECT CAST(1000000 // count(*) AS BIGINT) AS unit
                 FROM nodes),
      h0 AS (SELECT id, unit AS h FROM nodes CROSS JOIN params),
      $iterCtes
      SELECT a2.id, a2.a AS auth_scaled, h2.h AS hub_scaled
      FROM a2 JOIN h2 USING (id)"""
    }),

    // ---- TextRank keywords --------------------------------------------
    // corpus keywords as PageRank over the adjacent-token co-occurrence
    // graph (symmetrized window-1 edges, nodes = shared char hashes so
    // both engines merge collisions identically); ranks replay q53's
    // integer rounds, terms map back by min-word per hash, top 10.
    Q("text_textrank", (s, d) =>
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        graft.operators.Ranking.textrankKeywords(
          Tables.ts(s, d, "documents"), "doc_id", "text",
          iters = 2, topN = 10)
      },
      Some {
        import graft.functions.HashExprs
        val iterCtes = (1 to 2).map { i =>
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
        WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
        pr AS (SELECT unnest(list_zip(list_slice(tk, 1, len(tk)-1),
                                      list_slice(tk, 2, len(tk)))) AS z
               FROM toks WHERE len(tk) >= 2),
        wp AS (SELECT z[1] AS w1, z[2] AS w2 FROM pr
               WHERE z[1] <> '' AND z[2] <> '' AND z[1] <> z[2]),
        hp AS (SELECT ${HashExprs.duckCharHash("w1")} AS a,
                      ${HashExprs.duckCharHash("w2")} AS b
               FROM wp),
        edges AS (SELECT a AS src, b AS dst FROM hp
                  UNION SELECT b, a FROM hp),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        params AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS unit,
                     CAST((15 * (1000000000000 // count(*))) // 100 AS BIGINT) AS tp
                   FROM nodes),
        r0 AS (SELECT id, unit AS rank FROM nodes CROSS JOIN params),
        $iterCtes,
        wm AS (SELECT ${HashExprs.duckCharHash("term")} AS id,
                      min(term) AS term
               FROM (SELECT unnest(string_split(text, ' ')) AS term
                     FROM documents)
               WHERE term <> '' GROUP BY 1),
        ranked AS (SELECT wm.term, r2.rank AS rank_scaled,
                     row_number() OVER (ORDER BY r2.rank DESC, wm.term ASC)
                       AS rank
                   FROM r2 JOIN wm ON r2.id = wm.id)
        SELECT term, rank_scaled, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 10"""
      }),

    // ---- item-item collaborative filtering ----------------------------
    // "bought X also bought Y": per-part top-5 neighbors by binary cosine
    // over customer interaction sets. Exact integer counts; one mirrored
    // round(1e6·c/√(n_i·n_j)); the per-user pair join rides the same
    // enforced cap as the basket rules (over-cap users dropped whole).
    Q("q138_item_cf", (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val ui = Tables.spread(
        o.join(li, o("o_orderkey") === li("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("it")))
      graft.operators.BasketAnalysis.itemCosine(ui, "u", "it",
        topK = 5, maxUserItems = Some(200))
    }, Some("""
        WITH m0 AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
              FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        m AS (SELECT u, it FROM (
                SELECT u, it, count(*) OVER (PARTITION BY u) AS un FROM m0)
              WHERE un <= 200),
        norms AS (SELECT it, count(*) AS n FROM m GROUP BY 1),
        p AS (SELECT a.it AS ia, b.it AS ib, count(*) AS c
              FROM m a JOIN m b ON a.u = b.u AND a.it < b.it GROUP BY 1, 2),
        dd AS (SELECT ia AS item, ib AS neighbor, c FROM p
               UNION ALL SELECT ib, ia, c FROM p),
        sc AS (SELECT dd.item, dd.neighbor, dd.c,
                 CAST(round(1e6 * dd.c
                   / sqrt(CAST(ni.n AS DOUBLE) * nj.n)) AS BIGINT) AS cos_micro
               FROM dd JOIN norms ni ON dd.item = ni.it
                       JOIN norms nj ON dd.neighbor = nj.it),
        r AS (SELECT *, row_number() OVER (PARTITION BY item
                ORDER BY cos_micro DESC, neighbor ASC) AS rn
              FROM sc)
        SELECT item, neighbor, c, cos_micro, CAST(rn AS BIGINT) AS rn
        FROM r WHERE rn <= 5""")),

    // ---- Markov stationary distribution -------------------------------
    // where does the event mix settle? 3 exact-integer power rounds of
    // x·P over the per-user transition chain, chain-end states self-
    // looped so mass persists; floor losses are replayed, not
    // renormalized. The oracle unrolls the identical rounds.
    Q("q139_markov_stationary", (s, d) =>
      graft.operators.EventAnalytics.stationaryDistribution(
        Tables.events(s, d), "user_id", "ts", "event_type", "event_id",
        iters = 3),
      Some {
        val iterCtes = (1 to 3).map { i =>
          s"""x$i AS (SELECT e.next AS state,
             |    CAST(sum(x.m * e.n // e.tot) AS BIGINT) AS m
             |  FROM e JOIN x${i - 1} x ON e.prev = x.state GROUP BY 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""
        WITH seq AS (SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
              FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        counts AS (SELECT prev, event_type AS next, count(*) AS n
                   FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        states AS (SELECT prev AS state FROM counts
                   UNION SELECT next FROM counts),
        sinks AS (SELECT state AS prev, state AS next, 1::BIGINT AS n
                  FROM states
                  WHERE state NOT IN (SELECT DISTINCT prev FROM counts)),
        ec AS (SELECT prev, next, n FROM counts
               UNION ALL SELECT prev, next, n FROM sinks),
        tot AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot FROM ec GROUP BY 1),
        e AS (SELECT ec.prev, ec.next, ec.n, tot.tot
              FROM ec JOIN tot USING (prev)),
        ns AS (SELECT count(*) AS ns FROM states),
        x0 AS (SELECT state, CAST(1000000000 // ns AS BIGINT) AS m
               FROM states CROSS JOIN ns),
        $iterCtes
        SELECT s.state, coalesce(x3.m, 0) AS mass_scaled
        FROM states s LEFT JOIN x3 ON s.state = x3.state"""
      }),

    // ---- prefix-filter EXACT Jaccard join -----------------------------
    // the lossless scale path for similarity joins: each doc posts only
    // its p = n − ⌈τn⌉ + 1 globally-RAREST shingles (AllPairs/PPJoin
    // prefix filter — candidates complete for Jaccard ≥ τ by pigeonhole,
    // unlike minhash banding or df-capped postings), then exact integer
    // verify. Same shingle domain as dedup_ngram, plus exact scores.
    Q("dedup_prefix_jaccard", (s, d) =>
      graft.operators.Dedup.prefixJaccardPairs(
        Tables.ts(s, d, "documents"), "doc_id", "text", tauMilli = 700),
      Some {
        import graft.functions.{HashExprs => H}
        s"""
        WITH wh AS (SELECT doc_id, ${H.duckWordHashes("text")} AS wh
                    FROM documents),
        shl AS (SELECT doc_id, ${H.duckShingles("wh")} AS sh FROM wh),
        tok AS (SELECT doc_id AS id, s FROM
                  (SELECT doc_id, unnest(sh) AS s FROM shl)
                WHERE s IS NOT NULL),
        sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY 1),
        dfreq AS (SELECT s, count(*) AS df FROM tok GROUP BY 1),
        pfx AS (SELECT id, s FROM (
                  SELECT t.id, t.s, sz.n,
                    row_number() OVER (PARTITION BY t.id
                      ORDER BY d.df ASC, t.s ASC) AS r
                  FROM tok t JOIN dfreq d USING (s) JOIN sizes sz USING (id))
                WHERE r <= n - ((700 * n + 999) // 1000) + 1),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM pfx a JOIN pfx b ON a.s = b.s AND a.id < b.id),
        inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
                  FROM cand c JOIN tok ta ON ta.id = c.id_a
                              JOIN tok tb ON tb.id = c.id_b AND tb.s = ta.s
                  GROUP BY 1, 2)
        SELECT i.id_a, i.id_b, CAST(i.inter AS BIGINT) AS inter,
               CAST(1000000 * i.inter // (sa.n + sb.n - i.inter) AS BIGINT)
                 AS jac_micro
        FROM inter i JOIN sizes sa ON i.id_a = sa.id
                     JOIN sizes sb ON i.id_b = sb.id
        WHERE i.inter * 1000 >= 700 * (sa.n + sb.n - i.inter)"""
      })
  )
}
