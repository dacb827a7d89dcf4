package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{HashExprs => H, VectorExprs => V}
import graft.operators.{Similarity, Stats, TextAnalysis, TimeSeries}

/** Round-13 additions. First, the two operators that shipped in round 12
  * with scaladoc but no declared query (the repo's own rule: every public
  * operator gets a green CORRECTNESS row): McNemar's paired-predicate
  * test and the Mann-Kendall trend test. The rest of the round follows
  * below as the new-operator families land.
  *
  * Discipline unchanged: declarative Spark plan + operation-for-operation
  * DuckDB oracle; doubles only as mirrored divisions/roots/lns of exact
  * integers, micro-scaled.
  */
object Round13 {
  import Tables.t

  private val K = TextAnalysis.WinnowPosCap

  /** Shared Pettitt CTE chain over `events` with the given group
    * expression, mirroring [[TimeSeries.pettitt]]: daily counts →
    * within-group doubled midranks → U_t cumulative → max-|U| pick →
    * 1-row-per-group (grp, n_days, k_stat, t_at, p_micro) as CTE `pt`. */
  private def duckPettitt(grpSql: String): String = s"""
    daily AS (SELECT $grpSql AS grp,
        CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd,
        CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    dt AS (SELECT grp,
        CAST(date_diff('day', DATE '1970-01-01', dd) AS BIGINT) AS t, x
      FROM daily),
    gv AS (SELECT grp, x, CAST(count(*) AS BIGINT) AS c
      FROM dt GROUP BY 1, 2),
    dm AS (SELECT grp, x,
        2 * CAST(coalesce(sum(c) OVER (PARTITION BY grp ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          + c + 1 AS dr
      FROM gv),
    nd AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days
      FROM dt GROUP BY 1),
    uu AS (SELECT dt.grp AS grp, t,
        CAST(sum(dr - n_days - 1) OVER (PARTITION BY dt.grp ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ut,
        row_number() OVER (PARTITION BY dt.grp ORDER BY t) AS rnk, n_days
      FROM dt JOIN dm ON dt.grp = dm.grp AND dt.x = dm.x
              JOIN nd ON dt.grp = nd.grp),
    pk AS (SELECT grp, n_days, t, ut,
        row_number() OVER (PARTITION BY grp ORDER BY abs(ut) DESC, t ASC)
          AS pick
      FROM uu WHERE rnk < n_days),
    pt AS (SELECT grp, n_days, CAST(abs(ut) AS BIGINT) AS k_stat,
        t AS t_at,
        CAST(round(1e6 * least(1.0,
          2.0 * exp(-6.0 * CAST(abs(ut) AS DOUBLE) * abs(ut)
            / (CAST(n_days AS DOUBLE) * n_days * n_days
               + CAST(n_days AS DOUBLE) * n_days)))) AS BIGINT) AS p_micro
      FROM pk WHERE pick = 1)"""

  /** DuckDB in-order word n-gram hash chain over a `wh` BIGINT[] column
    * — mirrors [[graft.functions.HashNative.GramHashes]] for any n. */
  private def duckGramChain(n: Int): String =
    (2 to n).foldLeft("wh[i+1]")((acc, j) => s"($acc * 31 + wh[i+$j]) % ${H.P}")

  private val RepNs = Seq(2, 3, 5, 10)

  /** Shared repetition CTE chain (documents → per-doc n-gram repetition
    * fractions), mirroring [[TextAnalysis.docRepetition]]: ends with
    * `rep(id, n_tokens, topN_micro/dupN_micro per n in [[RepNs]])`. */
  private def duckRepetition: String = {
    val perN = RepNs.map { n =>
      s"""g$n AS (SELECT id, unnest(CASE WHEN len(wh) >= $n
         |    THEN list_transform(range(0, len(wh) - ${n - 1}),
         |      i -> ${duckGramChain(n)})
         |    ELSE CAST([] AS BIGINT[]) END) AS g
         |  FROM wht),
         |c$n AS (SELECT id, g, CAST(count(*) AS BIGINT) AS c
         |  FROM g$n GROUP BY 1, 2),
         |a$n AS (SELECT id,
         |    CAST(round(1e6 * CAST(max(c) AS DOUBLE) / sum(c))
         |      AS BIGINT) AS top${n}_micro,
         |    CAST(round(1e6 * CAST(sum(CASE WHEN c >= 2 THEN c
         |      ELSE 0 END) AS DOUBLE) / sum(c)) AS BIGINT)
         |      AS dup${n}_micro
         |  FROM c$n GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val cols = RepNs.map(n => s"top${n}_micro, dup${n}_micro").mkString(", ")
    val joins = RepNs.map(n => s"LEFT JOIN a$n ON tok.id = a$n.id")
      .mkString(" ")
    s"""wht AS (SELECT doc_id AS id,
       |    ${H.duckWordHashes("text")} AS wh FROM documents),
       |tok AS (SELECT id, CAST(len(wh) AS BIGINT) AS n_tokens FROM wht),
       |$perN,
       |rep AS (SELECT tok.id, n_tokens, $cols FROM tok $joins)""".stripMargin
  }

  def defs: Seq[Q] = Seq(

    // ---- McNemar paired-predicate test ---------------------------------
    // do "click events" and "high-value events" disagree symmetrically on
    // the SAME rows? Only the discordant cells matter: one corpus
    // aggregate, one mirrored division.
    Q("q155_mcnemar", (s, d) =>
      Stats.mcnemar(Tables.events(s, d),
        col("event_type") === "click", col("value") > 50d),
      Some("""
        WITH base AS (SELECT
                coalesce(event_type = 'click', false) AS a,
                coalesce(value > 50, false) AS b
              FROM events),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
                CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS c_cnt
              FROM base)
        SELECT n, b_cnt AS b, c_cnt AS c,
          CASE WHEN b_cnt + c_cnt = 0 THEN CAST(NULL AS BIGINT)
          ELSE CAST(round(1e6
            * CAST((b_cnt - c_cnt) * (b_cnt - c_cnt) AS DOUBLE)
            / (b_cnt + c_cnt)) AS BIGINT) END AS mcnemar_micro
        FROM agg""")),

    // ---- Mann-Kendall trend test ----------------------------------------
    // the significance companion to q154's Theil-Sen slope: S over daily
    // count pairs, EXACT tie-corrected var18, continuity-corrected z as
    // the single mirrored double.
    Q("q156_mann_kendall", (s, d) =>
      TimeSeries.mannKendall(Tables.events(s, d), "event_type", "ts"),
      Some("""
        WITH daily AS (SELECT event_type AS grp,
                CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd,
                CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
        dt AS (SELECT grp,
                CAST(date_diff('day', DATE '1970-01-01', dd) AS BIGINT) AS t,
                x FROM daily),
        sp AS (SELECT a.grp,
                CAST(sum(CASE WHEN b.x > a.x THEN 1
                              WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                  AS s_stat,
                CAST(count(*) AS BIGINT) AS n_pairs
              FROM dt a JOIN dt b ON a.grp = b.grp AND a.t < b.t
              GROUP BY 1),
        nd AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days
              FROM daily GROUP BY 1),
        tie AS (SELECT grp,
                CAST(sum(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT) AS tie18
              FROM (SELECT grp, x, CAST(count(*) AS BIGINT) AS tt
                    FROM daily GROUP BY 1, 2) GROUP BY 1),
        j AS (SELECT sp.grp, n_days, n_pairs, s_stat,
                n_days * (n_days - 1) * (2 * n_days + 5) - tie18 AS var18
              FROM sp JOIN nd ON sp.grp = nd.grp
                      JOIN tie ON sp.grp = tie.grp)
        SELECT grp, n_days, n_pairs, s_stat, CAST(var18 AS BIGINT) AS var18,
          CASE WHEN var18 = 0 THEN CAST(NULL AS BIGINT)
               WHEN s_stat = 0 THEN 0
               ELSE CAST(round(1e6
                 * (CAST(s_stat AS DOUBLE)
                    - CASE WHEN s_stat > 0 THEN 1 ELSE -1 END)
                 / sqrt(CAST(var18 AS DOUBLE) / 18.0)) AS BIGINT)
          END AS z_micro
        FROM j""")),

    // ---- index-backed mutual nearest neighbors ---------------------------
    // the corpus-scale MNN path: both directions' top-5 come from the
    // PERSISTED IVF index (seeds + probed cells only), mutuality is the
    // reversed-pair join, and the declared output is the recall audit —
    // every EXACT mutual pair with a hit flag for whether the index path
    // surfaced it (the sim_recall_audit discipline, at pair grain).
    Q("sim_mnn_ivf", (s, d) => {
      val e = t(s, d, "embeddings")
      val dir = java.nio.file.Files.createTempDirectory("mnn-ivf").toString
      Similarity.buildIvfIndex(e, "vec_id", "embedding", dir, nCells = 8)
      val approx = Similarity.mutualTopKIvf(s, dir, e, "vec_id",
          "embedding", k = 5, nprobe = 2)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      val exact = Similarity.mutualTopK(e, "vec_id", "embedding", k = 5,
          broadcastCorpus = true)
        .select(col("id_a"), col("id_b"))
      exact.join(approx, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"),
          coalesce(col("hit"), lit(0L)).as("hit"))
    }, Some(s"""
      WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      seeds AS (SELECT id AS cell, v AS sv FROM e ORDER BY id LIMIT 8),
      assign AS (SELECT id, cell,
          row_number() OVER (PARTITION BY id ORDER BY scos DESC, cell ASC)
            AS arank
        FROM (SELECT e.id, s.cell, ${V.duckCosine("e.v", "s.sv")} AS scos
              FROM e CROSS JOIN seeds s)),
      cand AS (SELECT DISTINCT p.id AS query_id, n.id AS neighbor_id
        FROM (SELECT id, cell FROM assign WHERE arank <= 2) p
        JOIN (SELECT id, cell FROM assign WHERE arank = 1) n
          ON p.cell = n.cell
        WHERE p.id <> n.id),
      ivf AS (SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY ${V.duckCosine("a.v", "b.v")} DESC,
                neighbor_id ASC) AS rank
          FROM cand JOIN e a ON cand.query_id = a.id
                    JOIN e b ON cand.neighbor_id = b.id)
        WHERE rank <= 5),
      am AS (SELECT f.query_id AS id_a, f.neighbor_id AS id_b
        FROM ivf f JOIN ivf r ON f.query_id = r.neighbor_id
                             AND f.neighbor_id = r.query_id
        WHERE f.query_id < f.neighbor_id),
      ex AS (SELECT query_id, neighbor_id FROM (
          SELECT a.id AS query_id, c.id AS neighbor_id,
            row_number() OVER (PARTITION BY a.id
              ORDER BY ${V.duckCosine("a.v", "c.v")} DESC, c.id ASC) AS rank
          FROM e a JOIN e c ON a.id <> c.id)
        WHERE rank <= 5),
      em AS (SELECT f.query_id AS id_a, f.neighbor_id AS id_b
        FROM ex f JOIN ex r ON f.query_id = r.neighbor_id
                           AND f.neighbor_id = r.query_id
        WHERE f.query_id < f.neighbor_id)
      SELECT em.id_a, em.id_b,
        CAST(CASE WHEN am.id_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS hit
      FROM em LEFT JOIN am ON em.id_a = am.id_a AND em.id_b = am.id_b""")),

    // ---- Cramér's V ------------------------------------------------------
    // effect SIZE of the source x lang association over documents — chi2
    // says dependent, V says how much; the column-pair ranking a schema
    // audit sorts by.
    Q("q157_cramers_v", (s, d) =>
      Stats.cramersV(t(s, d, "documents"), "source", "lang"),
      Some("""
        WITH base AS (SELECT
                coalesce(CAST(source AS VARCHAR), chr(1)) AS a,
                coalesce(CAST(lang AS VARCHAR), chr(1)) AS b
              FROM documents),
        cells AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
        ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        terms AS (SELECT n, a, b,
                CAST(round(CAST(n * o - ra * cb AS DOUBLE)
                  * CAST(n * o - ra * cb AS DOUBLE)
                  / CAST(n * ra * cb AS DOUBLE) * 1000000.0) AS BIGINT)
                  AS term
              FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot),
        agg AS (SELECT max(n) AS n, count(DISTINCT a) AS r_cats,
                count(DISTINCT b) AS c_cats,
                CAST(sum(term) AS BIGINT) AS chi2_micro
              FROM terms)
        SELECT n, r_cats, c_cats, chi2_micro,
          CASE WHEN least(r_cats, c_cats) <= 1 OR n = 0
            THEN CAST(NULL AS BIGINT)
          ELSE CAST(round(1e6 * sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
            / (CAST(n AS DOUBLE) * (least(r_cats, c_cats) - 1))))
            AS BIGINT) END AS v_micro
        FROM agg""")),

    // ---- Cochran's Q -----------------------------------------------------
    // three paired predicates on the SAME event rows (click?, high-value?,
    // even-user?): do the pass rates differ at all — McNemar's k-way form.
    Q("q158_cochran_q", (s, d) =>
      Stats.cochranQ(Tables.events(s, d), Seq(
        col("event_type") === "click", col("value") > 50d,
        pmod(col("user_id"), lit(2L)) === 0L)),
      Some("""
        WITH b AS (SELECT
                CAST(coalesce(event_type = 'click', false) AS BIGINT) AS x0,
                CAST(coalesce(value > 50, false) AS BIGINT) AS x1,
                CAST(coalesce(user_id % 2 = 0, false) AS BIGINT) AS x2
              FROM events),
        r AS (SELECT x0, x1, x2, x0 + x1 + x2 AS l FROM b),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x0) AS BIGINT) AS g0, CAST(sum(x1) AS BIGINT) AS g1,
                CAST(sum(x2) AS BIGINT) AS g2,
                CAST(sum(l) AS BIGINT) AS t,
                CAST(sum(l * l) AS BIGINT) AS sl2
              FROM r)
        SELECT n, CAST(3 AS BIGINT) AS k, t,
          CASE WHEN 3 * t - sl2 = 0 THEN CAST(NULL AS BIGINT)
          ELSE CAST(round(1e6 * 2.0
            * (3.0 * (g0 * g0 + g1 * g1 + g2 * g2)
               - CAST(t AS DOUBLE) * t)
            / (3 * t - sl2)) AS BIGINT) END AS q_micro
        FROM a""")),

    // ---- Kruskal-Wallis --------------------------------------------------
    // do the five event types share a value distribution location? pooled
    // exact doubled midranks at value grain, per-group term micro-rounded
    // (the chi2 per-cell discipline), exact-DECIMAL tie correction.
    Q("q159_kruskal", (s, d) =>
      Stats.kruskalWallis(Tables.events(s, d), "event_type", "value"),
      Some("""
        WITH base AS (SELECT CAST(event_type AS VARCHAR) AS g,
                CAST(round(value * 1e6) AS BIGINT) AS v
              FROM events
              WHERE event_type IS NOT NULL AND value IS NOT NULL),
        pv AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY 1),
        dm AS (SELECT v,
                2 * (CAST(sum(t) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - t) + t + 1 AS dr
              FROM pv),
        gvc AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
              FROM base GROUP BY 1, 2),
        per AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng,
                CAST(sum(c * dr) AS BIGINT) AS r2
              FROM gvc JOIN dm USING (v) GROUP BY 1),
        terms AS (SELECT g,
                CAST(round(1e6 * CAST(r2 AS DOUBLE) * r2 / (4.0 * ng))
                  AS HUGEINT) AS term
              FROM per),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                coalesce(sum(term), 0) AS s_micro
              FROM terms),
        tie AS (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
                coalesce(sum(t * t * t - t), 0) AS tie3
              FROM pv)
        SELECT n, n_groups,
          CASE WHEN n < 2 OR n_groups < 2 THEN CAST(NULL AS BIGINT)
          ELSE CAST(round(1e6
            * (12.0 * (CAST(s_micro AS DOUBLE) / 1e6)
                 / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)))
            AS BIGINT) END AS h_micro,
          CASE WHEN n < 2 OR n_groups < 2
            OR CAST(n AS DOUBLE) * n * n - n - CAST(tie3 AS DOUBLE) = 0.0
            THEN CAST(NULL AS BIGINT)
          ELSE CAST(round(1e6
            * (12.0 * (CAST(s_micro AS DOUBLE) / 1e6)
                 / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
            * (CAST(n AS DOUBLE) * n * n - n)
            / (CAST(n AS DOUBLE) * n * n - n - CAST(tie3 AS DOUBLE)))
            AS BIGINT) END AS h_corr_micro
        FROM agg CROSS JOIN tie""")),

    // ---- Pettitt changepoint ---------------------------------------------
    // WHEN did each event type's daily level shift? Rank-based U_t via the
    // doubled-midrank identity — O(n) per group, no pair stage at all.
    Q("q160_pettitt", (s, d) =>
      TimeSeries.pettitt(Tables.events(s, d), "event_type", "ts"),
      Some(s"""
        WITH ${duckPettitt("event_type")}
        SELECT grp, n_days, k_stat, t_at, p_micro FROM pt""")),

    // ---- Benjamini-Hochberg FDR ------------------------------------------
    // 50 parallel Pettitt tests (user-id buckets as pseudo-streams), then
    // the BH adjusted p per test: which changepoint discoveries survive?
    // Suffix min rides the sharded GlobalRank cummin — no corpus-grain
    // window at any test count.
    Q("q161_bh_fdr", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ub", pmod(col("user_id"), lit(50L)).cast("string"))
      Stats.bhAdjust(
        TimeSeries.pettitt(ev, "ub", "ts")
          .select(col("grp"), col("p_micro")),
        "grp", "p_micro")
    }, Some(s"""
      WITH ${duckPettitt("CAST(user_id % 50 AS VARCHAR)")},
      p AS (SELECT grp AS k, p_micro FROM pt),
      r AS (SELECT k, p_micro,
          CAST(row_number() OVER (ORDER BY p_micro, k) AS BIGINT) AS rn,
          CAST(count(*) OVER () AS BIGINT) AS m
        FROM p),
      v AS (SELECT k, p_micro, rn,
          least(1000000, CAST(round(m * CAST(p_micro AS DOUBLE) / rn)
            AS BIGINT)) AS v
        FROM r)
      SELECT k, p_micro, rn,
        CAST(min(v) OVER (ORDER BY rn DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS p_adj_micro
      FROM v""")),

    // ---- Kendall tau-b ---------------------------------------------------
    // ordered-quantity vs discount concordance over lineitem: compact
    // joint cells (50 x 11), one bounded cell-pair join, exact C/D masses.
    Q("q162_kendall", (s, d) =>
      Stats.kendallTauB(t(s, d, "lineitem"), "l_quantity", "l_discount",
        xScale = 1.0, yScale = 100.0),
      Some("""
        WITH base AS (SELECT CAST(round(l_quantity * 1.0) AS BIGINT) AS x,
                CAST(round(l_discount * 100.0) AS BIGINT) AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
              FROM base GROUP BY 1, 2),
        p AS (SELECT
                CAST(coalesce(sum(CASE WHEN b.y > a.y THEN a.c * b.c
                  ELSE 0 END), 0) AS BIGINT) AS conc,
                CAST(coalesce(sum(CASE WHEN b.y < a.y THEN a.c * b.c
                  ELSE 0 END), 0) AS BIGINT) AS disc
              FROM cells a JOIN cells b ON b.x > a.x),
        m AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
                CAST(count(*) AS BIGINT) AS n_cells FROM cells),
        txa AS (SELECT CAST(coalesce(sum(t * (t - 1)), 0) AS BIGINT) AS tx2
              FROM (SELECT CAST(sum(c) AS BIGINT) AS t
                    FROM cells GROUP BY x)),
        tya AS (SELECT CAST(coalesce(sum(t * (t - 1)), 0) AS BIGINT) AS ty2
              FROM (SELECT CAST(sum(c) AS BIGINT) AS t
                    FROM cells GROUP BY y))
        SELECT n, n_cells, conc, disc,
          CASE WHEN n < 2
            OR CAST(n AS DOUBLE) * (n - 1) - tx2 = 0.0
            OR CAST(n AS DOUBLE) * (n - 1) - ty2 = 0.0
            THEN CAST(NULL AS BIGINT)
          ELSE CAST(round(1e6 * (conc - disc)
            / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2
                    - CAST(tx2 AS DOUBLE) / 2)
                 * (CAST(n AS DOUBLE) * (n - 1) / 2
                    - CAST(ty2 AS DOUBLE) / 2))) AS BIGINT) END
            AS tau_micro
        FROM m CROSS JOIN p CROSS JOIN txa CROSS JOIN tya""")),

    // ---- Friedman blocked rank test ----------------------------------------
    // do the event types differ, DAY BY DAY? blocks = calendar days
    // (zero-densified so the design is complete), treatments = types,
    // within-block exact doubled midranks over k-row partitions.
    Q("q163_friedman", (s, d) => {
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("dd"), col("event_type").as("et"))
      val days = ev.select(col("dd")).distinct()
      val types = ev.select(col("et")).distinct()
      val counts = ev.groupBy(col("dd"), col("et"))
        .agg(count(lit(1)).as("cnt"))
      val dense = days.crossJoin(broadcast(types))
        .join(counts, Seq("dd", "et"), "left")
        .select(col("dd").cast("string").as("b"), col("et").as("t"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      Stats.friedman(dense, "b", "t", "cnt", valScale = 1.0)
    }, Some("""
      WITH ev AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd,
              event_type AS et FROM events),
      days AS (SELECT DISTINCT dd FROM ev),
      types AS (SELECT DISTINCT et FROM ev),
      cnts AS (SELECT dd, et, CAST(count(*) AS BIGINT) AS cnt
            FROM ev GROUP BY 1, 2),
      dense AS (SELECT CAST(days.dd AS VARCHAR) AS b, types.et AS t,
              CAST(round(coalesce(cnt, 0) * 1.0) AS BIGINT) AS v
            FROM days CROSS JOIN types
            LEFT JOIN cnts ON days.dd = cnts.dd AND types.et = cnts.et),
      bv AS (SELECT b, v, CAST(count(*) AS BIGINT) AS c
            FROM dense GROUP BY 1, 2),
      dm AS (SELECT b, v,
              2 * CAST(coalesce(sum(c) OVER (PARTITION BY b ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) + c + 1 AS dr
            FROM bv),
      pt AS (SELECT t, CAST(sum(dr) AS BIGINT) AS r2
            FROM dense JOIN dm USING (b, v) GROUP BY 1),
      ag AS (SELECT coalesce(sum(
              CAST(round(1e6 * CAST(r2 AS DOUBLE) * r2 / 4.0) AS HUGEINT)),
              0) AS s_micro FROM pt),
      meta AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb,
              CAST(count(DISTINCT t) AS BIGINT) AS k FROM dense),
      tie AS (SELECT coalesce(sum(c * c * c - c), 0) AS tie3 FROM bv)
      SELECT nb AS n_blocks, k,
        CAST(round(1e6
          * (12.0 * (CAST(s_micro AS DOUBLE) / 1e6)
               / (CAST(nb AS DOUBLE) * k * (k + 1))
             - 3.0 * nb * (k + 1))) AS BIGINT) AS chi2_micro,
        CASE WHEN CAST(nb AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1)
            - CAST(tie3 AS DOUBLE) = 0.0 THEN CAST(NULL AS BIGINT)
        ELSE CAST(round(1e6
          * (12.0 * (CAST(s_micro AS DOUBLE) / 1e6)
               / (CAST(nb AS DOUBLE) * k * (k + 1))
             - 3.0 * nb * (k + 1))
          * (CAST(nb AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1))
          / (CAST(nb AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1)
             - CAST(tie3 AS DOUBLE))) AS BIGINT) END AS chi2_corr_micro
      FROM meta CROSS JOIN ag CROSS JOIN tie""")),

    // ---- Siegel repeated-median trend --------------------------------------
    // the 50%-breakdown robust slope next to q154's Theil-Sen: per-day
    // median of pairwise slopes, then the median of the medians — both
    // exact lower-median selections on the capped day-grain pair table.
    Q("q165_siegel", (s, d) =>
      TimeSeries.siegelSlope(Tables.events(s, d), "event_type", "ts"),
      Some("""
        WITH daily AS (SELECT event_type AS grp,
                CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd,
                CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
        dt AS (SELECT grp,
                CAST(date_diff('day', DATE '1970-01-01', dd) AS BIGINT) AS t,
                x FROM daily),
        p AS (SELECT a.grp, a.t AS ti, b.t AS tj,
                CAST(round(1e6 * CAST(b.x - a.x AS DOUBLE) / (b.t - a.t))
                  AS BIGINT) AS slope_micro
              FROM dt a JOIN dt b ON a.grp = b.grp AND a.t <> b.t),
        r1 AS (SELECT grp, ti, slope_micro,
                CAST(row_number() OVER (PARTITION BY grp, ti
                  ORDER BY slope_micro, tj) AS BIGINT) AS rn,
                CAST(count(*) OVER (PARTITION BY grp, ti) AS BIGINT) AS m
              FROM p),
        med1 AS (SELECT grp, ti, slope_micro AS med_i
              FROM r1 WHERE rn = (m + 1) // 2),
        r2 AS (SELECT grp, med_i,
                CAST(row_number() OVER (PARTITION BY grp
                  ORDER BY med_i, ti) AS BIGINT) AS rn,
                CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS m
              FROM med1)
        SELECT grp, m AS n_days, med_i AS slope_micro
        FROM r2 WHERE rn = (m + 1) // 2""")),

    // ---- winnow dedup yield curve -------------------------------------------
    // pair yield per min-shared-fingerprint threshold (1..5) off ONE
    // postings pass — the tuning table for dedup_winnow's threshold:
    // cumulative counts over the n_shared histogram, never a re-run per
    // threshold.
    Q("dedup_winnow_yield", (s, d) => {
      val pairs = TextAnalysis.winnowPairs(Tables.ts(s, d, "documents"),
        "doc_id", "text", w = 4, minShared = 1, dfCap = 50)
      val hist = pairs.groupBy(col("n_shared")).agg(count(lit(1)).as("c"))
      val out = s.range(1, 6).select(col("id").as("min_shared"))
        .join(hist, hist("n_shared") >= col("min_shared"), "left")
        .groupBy(col("min_shared"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_pairs"))
      out.persist().count()
      out
    }, Some(s"""
      WITH ${Round12.duckWinnowSel},
      fps AS (SELECT DISTINCT id, CAST(e // $K AS BIGINT) AS fp FROM sel),
      kept AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
      posts AS (SELECT fps.id, fps.fp FROM fps JOIN kept USING (fp)),
      pairs AS (SELECT a.id AS id_a, b.id AS id_b,
              CAST(count(*) AS BIGINT) AS n_shared
        FROM posts a JOIN posts b ON a.fp = b.fp AND a.id < b.id
        GROUP BY 1, 2),
      hist AS (SELECT n_shared, CAST(count(*) AS BIGINT) AS c FROM pairs
        GROUP BY 1),
      th AS (SELECT unnest(range(1, 6)) AS min_shared)
      SELECT CAST(min_shared AS BIGINT) AS min_shared,
        CAST(coalesce(sum(c), 0) AS BIGINT) AS n_pairs
      FROM th LEFT JOIN hist ON hist.n_shared >= th.min_shared
      GROUP BY 1""")),

    // ---- persisted winnow-postings index lifecycle ---------------------------
    // the MOSS index at crawl scale: winnow the corpus ONCE (build on
    // slice A, append slice B without rescanning A — selection is
    // data-independent, so append ≡ rebuild), then the day's probes pay
    // only their own winnowing + joins against the stored postings. The
    // df cap measures the STORED corpus, so outside batches cannot
    // promote a boilerplate fingerprint past it.
    Q("dedup_winnow_index", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("wn-index").toString
      TextAnalysis.buildWinnowIndex(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", dir)
      TextAnalysis.appendWinnowIndex(docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", dir)
      TextAnalysis.queryWinnowIndex(s, dir,
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text",
        w = 4, minShared = 3, dfCap = 50)
    }, Some(s"""
      WITH ${Round12.duckWinnowSel},
      fps AS (SELECT DISTINCT id, CAST(e // $K AS BIGINT) AS fp FROM sel),
      idx AS (SELECT id, fp FROM fps WHERE id % 3 <> 2),
      kept AS (SELECT fp FROM idx GROUP BY fp HAVING count(*) <= 50),
      probe AS (SELECT id, fp FROM fps WHERE id % 3 = 2)
      SELECT p.id AS probe_id, i.id AS match_id,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM probe p JOIN kept k ON p.fp = k.fp
                   JOIN idx i ON i.fp = p.fp
      WHERE p.id <> i.id
      GROUP BY 1, 2 HAVING count(*) >= 3""")),

    // ---- STREAMING probe against the winnow index ----------------------------
    // the crawl-ingest shape for the MOSS index: the postings sit on disk
    // (build + append as above), the day's documents arrive as a STREAM
    // that winnows itself inline (native expressions, stateless
    // projection — no state store), stream-static joins the df-capped
    // stored postings, and the shared-fingerprint threshold applies at
    // the sink where the result is a bounded table (the
    // dedup_stream_index_probe discipline). Same semantics as
    // dedup_winnow_index, so the oracle is the same replay.
    Q("dedup_stream_winnow_probe", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.functions.HashNative
      val docs = Tables.ts(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("wn-sidx").toString
      TextAnalysis.buildWinnowIndex(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", dir)
      TextAnalysis.appendWinnowIndex(docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", dir)
      val sch = Tables.t(s, d, "documents").schema
      val probes = s.readStream.schema(sch)
        .parquet(Tables.stagedStreamDir(d, "documents"))
        .filter(col("doc_id") % 3 === 2)
      val pf = probes.select(col("doc_id").as("probe_id"),
          HashNative.winnowSelect(HashNative.gramHashes(
            HashNative.wordHashes(col("text")), 3), 4,
            TextAnalysis.WinnowPosCap).as("sel"))
        .select(col("probe_id"), explode(col("sel")).as("e"))
        .select(col("probe_id"),
          expr(s"e div ${TextAnalysis.WinnowPosCap}L").as("fp"))
      val postings = s.read.parquet(s"$dir/postings")
      val kept = postings.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50).select(col("fp"))
      val keptPostings = postings.join(kept, Seq("fp"))
        .select(col("fp"), col("id").as("match_id"))
      val matched = pf.join(keptPostings, Seq("fp"))
        .filter(col("probe_id") =!= col("match_id"))
        .select(col("probe_id"), col("match_id"), col("fp"))
      val q = matched.writeStream.format("memory")
        .queryName("wn_sidx_stream")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // fingerprint multiplicity (one fp selected at several positions)
      // dedups at the SINK, where the result is bounded — then the
      // distinct-shared-fingerprint threshold
      s.table("wn_sidx_stream").distinct()
        .groupBy(col("probe_id"), col("match_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    }, Some(s"""
      WITH ${Round12.duckWinnowSel},
      fps AS (SELECT DISTINCT id, CAST(e // $K AS BIGINT) AS fp FROM sel),
      idx AS (SELECT id, fp FROM fps WHERE id % 3 <> 2),
      kept AS (SELECT fp FROM idx GROUP BY fp HAVING count(*) <= 50),
      probe AS (SELECT id, fp FROM fps WHERE id % 3 = 2)
      SELECT p.id AS probe_id, i.id AS match_id,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM probe p JOIN kept k ON p.fp = k.fp
                   JOIN idx i ON i.fp = p.fp
      WHERE p.id <> i.id
      GROUP BY 1, 2 HAVING count(*) >= 3""")),

    // ---- one-vs-rest KS drift audit ----------------------------------------
    // which source's length distribution drifted from the pool? All k
    // sources in ONE pass: exact integer ECDF-difference numerators over
    // the densified group x value grid, asymptotic 2exp(-2*neff*D^2) tail.
    // The per-source p column is exactly what q161's bhAdjust consumes.
    Q("q164_ks_drift", (s, d) =>
      Stats.ksDriftOneVsRest(t(s, d, "documents"), "source", "n_chars",
        valScale = 1.0),
      Some("""
        WITH base AS (SELECT CAST(source AS VARCHAR) AS g,
                CAST(round(n_chars * 1.0) AS BIGINT) AS v
              FROM documents
              WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        pv AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY 1),
        pooled AS (SELECT v, CAST(sum(t) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cuma FROM pv),
        grps AS (SELECT g, CAST(count(*) AS BIGINT) AS ng
              FROM base GROUP BY 1),
        tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n FROM grps),
        cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
              FROM base GROUP BY 1, 2),
        dense AS (SELECT grps.g AS g, ng, pooled.v AS v, cuma,
                coalesce(c, 0) AS c0
              FROM grps CROSS JOIN pooled
              LEFT JOIN cells ON grps.g = cells.g AND pooled.v = cells.v),
        cum AS (SELECT g, ng, v, cuma,
                CAST(sum(c0) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumg
              FROM dense),
        nm AS (SELECT g, ng, v, n,
                abs(cumg * (n - ng) - (cuma - cumg) * ng) AS num
              FROM cum CROSS JOIN tot),
        pick AS (SELECT g, ng, v, num, n,
                row_number() OVER (PARTITION BY g
                  ORDER BY num DESC, v ASC) AS pick
              FROM nm)
        SELECT g AS grp, ng AS n_g,
          CAST(round(1e6 * CAST(num AS DOUBLE)
            / (CAST(ng AS DOUBLE) * (n - ng))) AS BIGINT) AS d_micro,
          v AS at_v,
          CAST(round(1e6 * least(1.0, 2.0 * exp(
            -2.0 * (CAST(ng AS DOUBLE) * (n - ng) / n)
            * (CAST(num AS DOUBLE) / (CAST(ng AS DOUBLE) * (n - ng)))
            * (CAST(num AS DOUBLE) / (CAST(ng AS DOUBLE) * (n - ng)))
            ))) AS BIGINT) AS p_micro
        FROM pick WHERE pick = 1 AND ng < n AND ng > 0""")),

    // ---- Gopher n-gram repetition ----------------------------------------
    // per-document repetition quality signals: top-gram and duplicate-gram
    // position fractions for n = 2, 3, 5, 10 — the loop/boilerplate
    // detectors a pretraining filter stacks with qualityScore.
    Q("text_gopher_repetition", (s, d) =>
      TextAnalysis.docRepetition(Tables.ts(s, d, "documents"), "doc_id",
        "text"),
      Some(s"""
        WITH $duckRepetition
        SELECT * FROM rep""")),

    // ---- Gopher repetition gate ------------------------------------------
    // per-source breach rates of the repetition thresholds — "how much of
    // each source would the loop/boilerplate rules drop?", the report a
    // data-mix decision reads. Short docs (no gram slots) never breach.
    Q("text_repetition_gate", (s, d) => {
      val rep = TextAnalysis.docRepetition(Tables.ts(s, d, "documents"),
        "doc_id", "text")
      val src = t(s, d, "documents")
        .select(col("doc_id").as("id"),
          coalesce(col("source"), lit("\u0001")).as("source"))
      rep.join(src, Seq("id"))
        .withColumn("breach",
          (coalesce(col("top2_micro"), lit(0L)) > 200000L ||
            coalesce(col("dup5_micro"), lit(0L)) > 150000L ||
            coalesce(col("dup10_micro"), lit(0L)) > 100000L)
            .cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("breach")).as("n_breach"))
        .select(col("source"), col("n_docs"), col("n_breach"),
          expr("n_breach * 10000 div n_docs").as("breach_bp"))
    }, Some(s"""
      WITH $duckRepetition,
      j AS (SELECT coalesce(d.source, chr(1)) AS source,
          CASE WHEN coalesce(top2_micro, 0) > 200000
            OR coalesce(dup5_micro, 0) > 150000
            OR coalesce(dup10_micro, 0) > 100000 THEN 1 ELSE 0 END AS breach
        FROM rep JOIN documents d ON rep.id = d.doc_id)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(breach) AS BIGINT) AS n_breach,
        CAST(sum(breach) * 10000 // count(*) AS BIGINT) AS breach_bp
      FROM j GROUP BY 1""")),

    // ---- winnow-fingerprint dedup clusters ---------------------------------
    // connected components over the MOSS near-dup pair graph (the
    // dedup_clusters composition pointed at winnowing's local-guarantee
    // pairs): cluster = min reachable doc id, keep id == cluster.
    // The node ids come from the raw scan: only the shingling side needs
    // the spread, and spreading the id list would shuffle the full text.
    Q("dedup_winnow_clusters", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = TextAnalysis.winnowPairs(Tables.spread(docs), "doc_id",
          "text", w = 4, minShared = 3, dfCap = 50)
        .select(col("id_a"), col("id_b"))
      graft.operators.Dedup
        .connectedComponents(docs.select(col("doc_id").as("id")), pairs)
        .select(col("id"), col("cluster"),
          (col("id") === col("cluster")).as("is_kept"))
    }, Some(s"""
      WITH RECURSIVE ${Round12.duckWinnowSel},
      fps AS (SELECT DISTINCT id, CAST(e // $K AS BIGINT) AS fp FROM sel),
      kept AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
      posts AS (SELECT fps.id, fps.fp FROM fps JOIN kept USING (fp)),
      pairs AS (SELECT a.id AS id_a, b.id AS id_b
        FROM posts a JOIN posts b ON a.fp = b.fp AND a.id < b.id
        GROUP BY 1, 2 HAVING count(*) >= 3),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
      reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      SELECT src AS id, min(dst) AS cluster,
             (src = min(dst)) AS is_kept
      FROM reach GROUP BY src""")),

    // ---- IVF cell-balance audit --------------------------------------------
    // per-cell occupancy of the persisted IVF index — skewed cells mean
    // probe-cost variance at query time (the operational health check a
    // vector-store rollout watches); reads the hive-partitioned cells dir.
    Q("sim_ivf_balance", (s, d) => {
      val e = t(s, d, "embeddings")
      val dir = java.nio.file.Files.createTempDirectory("ivf-balance")
        .toString
      Similarity.buildIvfIndex(e, "vec_id", "embedding", dir, nCells = 8)
      val cells = s.read.parquet(s"$dir/cells")
      val tot = cells.agg(count(lit(1)).as("n_total"))
      cells.groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("n_vecs"),
          expr("n_vecs * 10000 div n_total").as("share_bp"))
    }, Some(s"""
      WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      seeds AS (SELECT id AS cell, v AS sv FROM e ORDER BY id LIMIT 8),
      assign AS (SELECT id, cell,
          row_number() OVER (PARTITION BY id ORDER BY scos DESC, cell ASC)
            AS arank
        FROM (SELECT e.id, s.cell, ${V.duckCosine("e.v", "s.sv")} AS scos
              FROM e CROSS JOIN seeds s)),
      c AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
        FROM assign WHERE arank = 1 GROUP BY 1),
      tt AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM c)
      SELECT cell, n_vecs,
        CAST(n_vecs * 10000 // n_total AS BIGINT) AS share_bp
      FROM c CROSS JOIN tt"""))
  )
}
