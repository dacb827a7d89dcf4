package graft.queries

import org.apache.spark.sql.functions._

import graft.GraftSession.withConf
import graft.operators.{Bpe, Diff, EventAnalytics, Graph, Sampling, Stats,
  TimeSeries}

/** Round-9 session-3 additions: BPE tokenizer training, k-core graph
  * decomposition, corpus snapshot diff (CDC), weighted sampling without
  * replacement, and exact winsorized aggregation.
  */
object Pipeline {
  import Tables.t

  def defs: Seq[Q] = Seq(
    // ---- BPE vocabulary ----------------------------------------------
    // the 30 most frequent tokens under the segmentation the 8 learned
    // merges produce — the "what vocabulary did training buy" readout
    Q("text_bpe_vocab", (s, d) =>
      Bpe.vocab(Tables.ts(s, d, "documents"), "text", merges = 8, topK = 30),
      Some(Bpe.vocabOracleSql(8, 30))),

    // ---- MAD robust outliers -----------------------------------------
    // per-priority order-total outliers under the 3-MAD rule; discrete
    // integer medians, so a wild tail cannot drag the cut the way the
    // mean/sigma z-score's moments can
    Q("q101_mad_outliers", (s, d) =>
      Stats.madOutliers(
        t(s, d, "orders").withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
        "o_orderpriority", "cents", "o_orderkey", cut = 3),
      Some("""
        WITH r AS (SELECT o_orderpriority AS grp,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                 o_orderkey AS rk FROM orders),
        m1 AS (SELECT grp, max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med
               FROM (SELECT grp, v,
                       row_number() OVER (PARTITION BY grp ORDER BY v, rk) AS rn,
                       count(*) OVER (PARTITION BY grp) AS n FROM r)
               GROUP BY grp),
        d AS (SELECT r.grp, abs(v - med) AS dv, rk, med
              FROM r JOIN m1 USING (grp)),
        m2 AS (SELECT grp, max(CASE WHEN rn = (n + 1) // 2 THEN dv END) AS mad
               FROM (SELECT grp, dv, row_number() OVER
                       (PARTITION BY grp ORDER BY dv, rk) AS rn,
                       count(*) OVER (PARTITION BY grp) AS n FROM d)
               GROUP BY grp)
        SELECT d.grp, count(*) AS n, max(med) AS med, max(mad) AS mad,
               CAST(sum(CASE WHEN d.dv > m2.mad * 3 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_outliers
        FROM d JOIN m2 ON d.grp = m2.grp GROUP BY d.grp""")),

    // ---- conversion attribution --------------------------------------
    // purchases credited to click/view touchpoints under both first- and
    // last-touch models; '(none)' rows keep each column summing to the
    // conversion count
    Q("q102_attribution", (s, d) =>
      EventAnalytics.attribution(Tables.events(s, d), "user_id", "ts",
        "event_type", convType = "purchase",
        touchTypes = Seq("click", "view")),
      Some("""
        WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events),
        touches AS (SELECT user_id, ts, max(event_type) AS touch_type
                    FROM ev WHERE event_type IN ('click', 'view')
                    GROUP BY 1, 2),
        conv AS (SELECT user_id, ts FROM ev WHERE event_type = 'purchase'),
        lastt AS (SELECT c.user_id, t.touch_type
                  FROM conv c ASOF LEFT JOIN touches t
                    ON c.user_id = t.user_id AND c.ts >= t.ts),
        firstt AS (SELECT user_id, ts AS f_ts, touch_type AS f_type
                   FROM (SELECT user_id, ts, touch_type, row_number() OVER
                           (PARTITION BY user_id
                            ORDER BY ts, touch_type) AS rn
                         FROM touches) WHERE rn = 1),
        fconv AS (SELECT CASE WHEN f.f_ts <= c.ts THEN f.f_type END AS ft
                  FROM conv c LEFT JOIN firstt f ON c.user_id = f.user_id),
        lc AS (SELECT coalesce(touch_type, '(none)') AS touch_type,
                      count(*) AS last_touch FROM lastt GROUP BY 1),
        fc AS (SELECT coalesce(ft, '(none)') AS touch_type,
                      count(*) AS first_touch FROM fconv GROUP BY 1)
        SELECT coalesce(lc.touch_type, fc.touch_type) AS touch_type,
               coalesce(last_touch, 0) AS last_touch,
               coalesce(first_touch, 0) AS first_touch
        FROM lc FULL OUTER JOIN fc ON lc.touch_type = fc.touch_type""")),

    // ---- BPE compression ratio ---------------------------------------
    // the learned segmentation applied back at corpus scale: per-source
    // whitespace-word vs BPE-token counts (what tokenizer training buys)
    Q("text_bpe_ratio", (s, d) =>
      Bpe.compression(Tables.ts(s, d, "documents"), "text", "source",
        merges = 8),
      Some(Bpe.compressionOracleSql(8))),

    // ---- session path mining -----------------------------------------
    // top-20 five-step user journeys over 30-minute-gap sessions; rows
    // are cut to the path length BEFORE the collect so per-session state
    // is bounded by construction
    Q("q103_paths", (s, d) =>
      EventAnalytics.topPaths(Tables.events(s, d), "user_id", "ts",
        "event_type", "event_id", gapMicros = 1800L * 1000000L,
        maxLen = 5, topK = 20),
      Some("""
        WITH e AS (SELECT user_id AS u, event_id AS tie,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type AS et
               FROM events),
        flagged AS (SELECT u, tie, us, et,
                 CASE WHEN us - lag(us) OVER w > 1800000000
                        OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY u ORDER BY us, tie)),
        s AS (SELECT u, tie, us, et,
                sum(brk) OVER (PARTITION BY u ORDER BY us, tie
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged),
        r AS (SELECT *, row_number() OVER
                (PARTITION BY u, sid ORDER BY us, tie) AS rn FROM s),
        p AS (SELECT u, sid, string_agg(et, '>' ORDER BY us, tie) AS path
              FROM r WHERE rn <= 5 GROUP BY u, sid)
        SELECT path, count(*) AS n_sessions FROM p
        GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""")),

    // ---- time-weighted average ---------------------------------------
    // per-user TWAP of the event value: each value holds until the user's
    // next event, so bursts stop over-counting; exact micro-unit weights
    Q("q104_twap", (s, d) =>
      TimeSeries.twap(Tables.events(s, d), "user_id", "ts", "value"),
      Some("""
        WITH e AS (SELECT user_id AS key,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        g AS (SELECT key, vm,
                lead(us) OVER (PARTITION BY key ORDER BY us) - us AS dur
              FROM e)
        SELECT key, count(*) AS n,
               CASE WHEN CAST(sum(dur) AS BIGINT) > 0 THEN
                 round(CAST(sum(vm::HUGEINT * dur) AS DOUBLE)
                   / CAST(sum(dur) AS DOUBLE) / 1000000.0, 6) END AS twap
        FROM g GROUP BY key""")),

    // ---- interval islands --------------------------------------------
    // each event claims a 2-hour validity window; overlapping windows per
    // user merge into islands (the gaps-and-islands pattern) — the
    // interval-QA primitive for SCD2 histories and session spans
    Q("q105_islands", (s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("s0"),
        (unix_micros(col("ts")) + 7200000000L).as("e0"))
      TimeSeries.mergeIntervals(iv, "user_id", "s0", "e0")
        .select(col("key").as("user_id"), col("island_start"),
          col("island_end"), col("n_intervals"))
    }, Some("""
      WITH iv AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP)) + 7200000000 AS e FROM events),
      f AS (SELECT user_id, s, e,
              CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     IS NULL
                OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS brk
            FROM iv),
      i AS (SELECT user_id, s, e,
              sum(brk) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM f)
      SELECT user_id, min(s) AS island_start, max(e) AS island_end,
             count(*) AS n_intervals
      FROM i GROUP BY user_id, island""")),

    // ---- ABC / Pareto classification ---------------------------------
    // customers classed by cumulative revenue share (A ≤ 80%, B ≤ 95%);
    // integer cross-multiplied cuts, entity-grain (bounded) ranked window
    Q("q106_abc", (s, d) =>
      Stats.abcClassification(
        t(s, d, "orders").withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
        "o_custkey", "cents")
        .select(col("ent").as("o_custkey"), col("v").as("cents"),
          col("abc_class")),
      Some("""
        WITH ents AS (SELECT o_custkey AS ent,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS v
              FROM orders GROUP BY 1),
        r AS (SELECT ent, v,
                CAST(sum(v) OVER (ORDER BY v DESC, ent ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(v) OVER () AS BIGINT) AS total
              FROM ents)
        SELECT ent AS o_custkey, v AS cents,
               CASE WHEN cum * 100 <= total * 80 THEN 'A'
                    WHEN cum * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM r""")),

    // ---- hot-key / skew diagnostics ----------------------------------
    // the pre-flight report before keying a 100 TB shuffle: per column,
    // the heaviest values with exact counts and basis-point share — the
    // report that finds the salted-join candidates BEFORE the 4-hour
    // stage does. NULL folds to the control-char sentinel for grouping
    // and comes back as NULL.
    Q("q125_key_skew", (s, d) =>
      graft.operators.Profile.keySkew(Tables.events(s, d),
        Seq("user_id", "event_type"), topK = 5),
      Some("""
        WITH p AS (
          SELECT 'user_id' AS col_name,
                 coalesce(CAST(user_id AS VARCHAR), chr(1)) AS k FROM events
          UNION ALL
          SELECT 'event_type', coalesce(event_type, chr(1)) FROM events),
        c AS (SELECT col_name, k, count(*) AS cnt FROM p GROUP BY 1, 2),
        t AS (SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n
              FROM c GROUP BY 1)
        SELECT col_name, CASE WHEN k = chr(1) THEN NULL ELSE k END AS key,
               cnt, cnt * 10000 // n AS share_x1e4, rank
        FROM (SELECT c.col_name, k, cnt, n,
                row_number() OVER (PARTITION BY c.col_name
                  ORDER BY cnt DESC, k ASC) AS rank
              FROM c JOIN t USING (col_name))
        WHERE rank <= 5""")),

    // ---- column entropy profiling ------------------------------------
    // Shannon entropy of the lang/source/event-shaped columns in one
    // corpus scan; micro-nat integerized terms so the cross-value sum is
    // reduction-order-free
    Q("q107_entropy", (s, d) =>
      graft.operators.Profile.entropy(t(s, d, "documents"),
        Seq("lang", "source")),
      Some("""
        WITH p AS (
          SELECT 'lang' AS col_name,
                 coalesce(CAST(lang AS VARCHAR), chr(1)) AS value
          FROM documents
          UNION ALL
          SELECT 'source', coalesce(CAST(source AS VARCHAR), chr(1))
          FROM documents),
        f AS (SELECT col_name, value, count(*) AS nv FROM p GROUP BY 1, 2),
        t AS (SELECT col_name, CAST(sum(nv) AS BIGINT) AS n,
                count(*) AS n_distinct,
                CAST(sum(nv * CAST(round(ln(CAST(nv AS DOUBLE)) * 1e6)
                  AS BIGINT)) AS BIGINT) AS st
              FROM f GROUP BY 1)
        SELECT col_name, n, n_distinct,
               CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
                 - CAST(round(CAST(st AS DOUBLE) / n) AS BIGINT)
                 AS entropy_micro
        FROM t""")),

    // ---- Benford first-digit audit -------------------------------------
    // order totals (cents) per priority vs the Benford expectation — the
    // unit-mixing / fabricated-data detector; integer leading digits only
    Q("q108_benford", (s, d) =>
      graft.operators.Profile.benford(
        t(s, d, "orders").withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
        "o_orderpriority", "cents"),
      Some("""
        WITH b AS (SELECT o_orderpriority AS grp,
                 CAST(substring(CAST(CAST(round(o_totalprice * 100)
                   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
               FROM orders
               WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        c AS (SELECT grp, digit, count(*) AS n FROM b GROUP BY 1, 2)
        SELECT grp, digit, n,
               CAST(round(CAST(sum(n) OVER (PARTITION BY grp) AS DOUBLE)
                 * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6)
                 AS BIGINT) AS expected_micro
        FROM c""")),

    // ---- streaming exact windowed distinct -----------------------------
    // chained stateful operators (watermarked dedup -> windowed count):
    // the EXACT distinct-users-per-window a stream can't get from
    // count(DISTINCT) (forbidden) or HLL (approximate past sparse) —
    // replayed to parity against the batch count(DISTINCT) oracle
    Q("q109_stream_distinct", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = Tables.eventsStream(s, d)
      // both stateful operators commit one state store per shuffle
      // partition per micro-batch; at this volume store open/commit is
      // the fixed cost (the q55 lesson) — scoped to stream start and
      // restored
      val q = withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        graft.streaming.WindowedAgg
          .tumblingDistinct(ev, "ts", "user_id", "6 hours", "1 hour")
          .writeStream.format("memory").queryName("q109_stream")
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      s.table("q109_stream")
    }, Some("""
      SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP))
               AS window_start,
             count(DISTINCT user_id) AS distinct_keys
      FROM events GROUP BY 1""")),

    // ---- rolling / lag features ----------------------------------------
    // per-user lag-1/-2 and rolling-3 sum/max of the event value in exact
    // micro-units — the tabular feature pass before sequence models
    Q("q110_rolling", (s, d) =>
      TimeSeries.rollingFeatures(Tables.events(s, d), "user_id", "ts",
        "value", "event_id", win = 3),
      Some("""
        WITH e AS (SELECT user_id AS key, event_id AS tie,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                 CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events)
        SELECT key, us, vm,
               lag(vm, 1) OVER w AS lag1,
               lag(vm, 2) OVER w AS lag2,
               CAST(sum(vm) OVER (PARTITION BY key ORDER BY us, tie
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS roll_sum,
               count(vm) OVER (PARTITION BY key ORDER BY us, tie
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_n,
               max(vm) OVER (PARTITION BY key ORDER BY us, tie
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_max
        FROM e WINDOW w AS (PARTITION BY key ORDER BY us, tie)""")),

    // ---- RFM segmentation ----------------------------------------------
    // customers quintile-scored on recency/frequency/monetary, anchored
    // at the dataset's own max order date; ntile over total orders is
    // engine-identical
    Q("q111_rfm", (s, d) =>
      Stats.rfm(t(s, d, "orders").withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
        "o_custkey", "o_orderdate", "cents")
        .select(col("ent").as("o_custkey"), col("recency_days"),
          col("frequency"), col("monetary"), col("r"), col("f"), col("m"),
          col("segment")),
      Some("""
        WITH ents AS (SELECT o_custkey AS ent,
                max(CAST(o_orderdate AS DATE)) AS last_d,
                count(*) AS frequency,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS monetary
              FROM orders GROUP BY 1),
        a AS (SELECT max(last_d) AS anchor FROM ents),
        s AS (SELECT ent, datediff('day', last_d, anchor) AS recency_days,
                frequency, monetary FROM ents, a),
        t AS (SELECT ent, recency_days, frequency, monetary,
                6 - ntile(5) OVER (ORDER BY recency_days ASC, ent ASC) AS r,
                6 - ntile(5) OVER (ORDER BY frequency DESC, ent ASC) AS f,
                6 - ntile(5) OVER (ORDER BY monetary DESC, ent ASC) AS m
              FROM s)
        SELECT ent AS o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
               frequency, monetary, r, f, m,
               concat(r, f, m) AS segment
        FROM t""")),

    // ---- embedding label-quality probe ---------------------------------
    // nearest-centroid purity per label: are the labels separable in
    // embedding space? Exact-integer centroid sums; shared-fold distances
    Q("q112_centroid_purity", (s, d) =>
      graft.operators.Similarity.centroidPurity(t(s, d, "embeddings"),
        "vec_id", "embedding", "label"),
      Some(s"""
        WITH comp AS (
          SELECT label AS lbl, i AS pos,
                 CAST(sum(CAST(round(embedding[i] * 1e6) AS BIGINT))
                   AS BIGINT) AS sx,
                 count(*) AS n
          FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
          GROUP BY 1, 2),
        cents AS (SELECT lbl AS clbl,
                    list(sx::DOUBLE / n / 1e6 ORDER BY pos) AS cvec
                  FROM comp GROUP BY 1),
        dist AS (SELECT e.vec_id AS id, e.label AS lbl, c.clbl,
                   ${graft.functions.VectorExprs.duckSqDistD(
                     "e.embedding", "c.cvec")} AS d
                 FROM embeddings e CROSS JOIN cents c),
        near AS (SELECT id, lbl, clbl AS nearest FROM (
                   SELECT *, row_number() OVER
                     (PARTITION BY id ORDER BY d, clbl) AS rn FROM dist)
                 WHERE rn = 1)
        SELECT lbl, count(*) AS n,
               CAST(sum(CASE WHEN nearest = lbl THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pure
        FROM near GROUP BY 1""")),

    // ---- mutual information --------------------------------------------
    // MI(lang; source) over the corpus: exact contingency counts,
    // micro-nat integerized cell terms, one division by N
    Q("q113_mutual_info", (s, d) =>
      Stats.mutualInformation(t(s, d, "documents"), "lang", "source"),
      Some("""
        WITH base AS (SELECT coalesce(CAST(lang AS VARCHAR), chr(1)) AS a,
                coalesce(CAST(source AS VARCHAR), chr(1)) AS b
              FROM documents),
        joint AS (SELECT a, b, count(*) AS nab FROM base GROUP BY 1, 2),
        ma AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM joint GROUP BY 1),
        mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM joint GROUP BY 1),
        tot AS (SELECT CAST(sum(nab) AS BIGINT) AS n FROM joint),
        cells AS (SELECT nab,
                CAST(nab AS BIGINT) * CAST(round(ln((CAST(nab AS DOUBLE) * n)
                  / (CAST(na AS DOUBLE) * nb)) * 1e6) AS BIGINT) AS term, n
              FROM joint JOIN ma USING (a) JOIN mb USING (b), tot)
        SELECT max(n) AS n, count(*) AS n_cells,
               CAST(round(CAST(CAST(sum(term) AS BIGINT) AS DOUBLE) / max(n))
                 AS BIGINT) AS mi_micro
        FROM cells""")),

    // ---- classifier calibration ----------------------------------------
    // reliability diagram of the q87-trained quality classifier: per
    // score decile, observed positive rate vs mean predicted score —
    // whether the filter's scores behave like probabilities
    Q("q114_calibration", (s, d) => {
      val nt = size(split(col("text"), " "))
      val feat = t(s, d, "documents").select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("label"),
        lit(1.0).as("x0"),
        (nt.cast("double") / lit(100.0)).as("x1"),
        (col("n_chars").cast("double") / nt / lit(10.0)).as("x2"),
        (size(array_distinct(split(col("text"), " "))).cast("double") / nt)
          .as("x3"))
      graft.operators.Classifier.calibration(feat,
        Seq("x0", "x1", "x2", "x3"), steps = 3, lr = 0.25, bins = 10)
    }, Some(graft.operators.Classifier.calibrationOracleSql(
        Curation.lrFeatSql, Seq("x0", "x1", "x2", "x3"), steps = 3,
        lr = 0.25, bins = 10))),

    // ---- declarative data contract -------------------------------------
    // Deequ-style contract over orders: row-local rules fold into one
    // scan, uniqueness rides the same pass, the FK check is one
    // left-anti count against customer
    Q("q115_contract", (s, d) => {
      import graft.operators.Quality._
      validate(t(s, d, "orders"), Seq(
        NotNull("o_orderkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 1000000.0),
        InSet("o_orderstatus", Seq("O", "F", "P")),
        MatchesRegex("o_orderpriority", "^[1-5]-[A-Z]+$"),
        ForeignKey("o_custkey", t(s, d, "customer"), "c_custkey")))
    }, Some("""
      SELECT 'not_null(o_orderkey)' AS rule,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS violations FROM orders
      UNION ALL
      SELECT 'unique(o_orderkey)',
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'in_range(o_totalprice)',
             CAST(sum(CASE WHEN o_totalprice IS NOT NULL
               AND (o_totalprice < 0 OR o_totalprice > 1000000)
               THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'in_set(o_orderstatus)',
             CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
               AND o_orderstatus NOT IN ('O', 'F', 'P')
               THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'matches_regex(o_orderpriority)',
             CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
               AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$')
               THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'foreign_key(o_custkey)',
             CAST((SELECT count(*) FROM orders o
               WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
                 (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)) AS BIGINT)""")),

    // ---- sorted-neighborhood linkage -----------------------------------
    // the block-boundary-free candidate generator: each record vs its 4
    // sort-order neighbors, N·4 comparisons guaranteed
    Q("q116_sorted_nbrs", (s, d) =>
      graft.operators.Linkage.sortedNeighborhood(t(s, d, "customer"),
        "c_custkey", "c_name", col("c_name"), window = 5, maxDist = 1),
      Some("""
        WITH s AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        l AS (SELECT id, name,
                lead(id, 1) OVER w AS i1, lead(name, 1) OVER w AS m1,
                lead(id, 2) OVER w AS i2, lead(name, 2) OVER w AS m2,
                lead(id, 3) OVER w AS i3, lead(name, 3) OVER w AS m3,
                lead(id, 4) OVER w AS i4, lead(name, 4) OVER w AS m4
              FROM s WINDOW w AS (ORDER BY name, id)),
        p AS (SELECT id, name, i1 AS nid, m1 AS nname FROM l WHERE i1 IS NOT NULL
              UNION ALL
              SELECT id, name, i2, m2 FROM l WHERE i2 IS NOT NULL
              UNION ALL
              SELECT id, name, i3, m3 FROM l WHERE i3 IS NOT NULL
              UNION ALL
              SELECT id, name, i4, m4 FROM l WHERE i4 IS NOT NULL)
        SELECT least(id, nid) AS id_a, greatest(id, nid) AS id_b,
               CAST(levenshtein(name, nname) AS BIGINT) AS dist
        FROM p WHERE levenshtein(name, nname) <= 1""")),

    // ---- Adamic-Adar link prediction -----------------------------------
    // top-50 predicted co-purchase links (non-adjacent part pairs with
    // shared neighbors, 1/ln(deg) micro-nat terms) on the q90/q98 graph
    Q("q117_adamic_adar", (s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_partkey") % 5 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val pp = Tables.spread(
          li.select(col("l_orderkey"), col("l_partkey").as("id_a"))
            .join(li.select(col("l_orderkey"), col("l_partkey").as("id_b")),
              Seq("l_orderkey"))
            .filter(col("id_a") < col("id_b"))
            .select(col("id_a"), col("id_b"))).distinct()
      // Intended: a 4 MB advisory size and 8 partitions for the wedge
      // join's z-keyed exchange (byte-light, but the x<y expansion sits on
      // top of it). The scope is INERT today: `Graph.adamicAdar` is lazy,
      // so the scope has closed before the runner's action plans the
      // exchanges, and they plan at the session conf. It becomes live
      // once the runner applies an entry's conf around its action
      // (ROADMAP A); until then no measurement of it exists.
      withConf(s, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4L << 20).toString,
          "spark.sql.shuffle.partitions" -> "8") {
        Graph.adamicAdar(pp, maxDegree = None, topK = 50)
      }
    }, Some("""
      WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                  WHERE l_partkey % 5 = 0),
      pp AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_partkey < b.l_partkey),
      nbrs AS (SELECT u AS z, v AS x FROM pp UNION ALL SELECT v, u FROM pp),
      deg AS (SELECT z, count(*) AS d FROM nbrs GROUP BY 1),
      c AS (SELECT n.z, n.x,
              CAST(round(1e6 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS term
            FROM nbrs n JOIN deg USING (z)),
      w AS (SELECT a.x AS id_x, b.x AS id_y, count(*) AS common_nbrs,
              CAST(sum(a.term) AS BIGINT) AS aa_micro
            FROM c a JOIN c b ON a.z = b.z AND a.x < b.x
            GROUP BY 1, 2),
      nonedge AS (SELECT w.* FROM w LEFT JOIN pp
                    ON w.id_x = pp.u AND w.id_y = pp.v
                  WHERE pp.u IS NULL)
      SELECT id_x, id_y, common_nbrs, aa_micro FROM nonedge
      ORDER BY aa_micro DESC, id_x, id_y LIMIT 50""")),

    // ---- seasonal-baseline anomalies -----------------------------------
    // top-50 events whose value is most anomalous for its
    // (event_type, hour-of-day) slot
    Q("q118_seasonal", (s, d) =>
      TimeSeries.seasonalResiduals(Tables.events(s, d), "event_id",
        "event_type", "ts", "value", topK = 50),
      Some("""
        WITH base AS (SELECT event_id AS id, event_type AS grp,
                CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS slot,
                CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        slots AS (SELECT grp, slot, CAST(sum(vm) AS BIGINT) AS sv,
                count(*) AS n FROM base GROUP BY 1, 2),
        r AS (SELECT id, grp, slot, vm,
                CAST(sv AS DOUBLE) / n AS seasonal,
                vm - CAST(sv AS DOUBLE) / n AS resid
              FROM base JOIN slots USING (grp, slot))
        SELECT id, grp, slot, vm AS value_micro,
               CAST(round(seasonal) AS BIGINT) AS seasonal_micro,
               CAST(round(resid) AS BIGINT) AS resid_micro
        FROM r ORDER BY abs(resid) DESC, id LIMIT 50""")),

    // ---- growth accounting ---------------------------------------------
    // daily new users (first-seen) and the cumulative activation curve
    Q("q119_growth", (s, d) =>
      Stats.growthCurve(Tables.events(s, d), "user_id", "ts"),
      Some("""
        WITH f AS (SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE))
                 AS d FROM events GROUP BY 1),
        daily AS (SELECT d, count(*) AS new_entities FROM f GROUP BY 1)
        SELECT d, new_entities,
               CAST(sum(new_entities) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_entities
        FROM daily""")),

    // ---- equi-depth histogram ------------------------------------------
    // 20 near-equal-count bins of order totals; rank-based boundaries,
    // no interpolated quantiles
    Q("q120_equidepth", (s, d) =>
      Stats.equiDepthHistogram(
        t(s, d, "orders").withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
        "cents", "o_orderkey", buckets = 20),
      Some("""
        WITH r AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                 o_orderkey AS rk FROM orders),
        b AS (SELECT v, ntile(20) OVER (ORDER BY v, rk) AS bucket FROM r)
        SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
               min(v) AS lo, max(v) AS hi
        FROM b GROUP BY 1""")),

    // ---- Zipf fit ------------------------------------------------------
    // slope of ln(freq) vs ln(rank) over the token frequency table —
    // natural text sits near -1; template corpora drift off it
    Q("text_zipf", (s, d) => {
      val freqs = Tables.ts(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      Stats.zipfFit(freqs, "tok", "f")
    }, Some("""
      WITH freqs AS (SELECT tok, count(*) AS f FROM (
               SELECT unnest(string_split(text, ' ')) AS tok
               FROM documents) WHERE tok <> '' GROUP BY 1),
      ranked AS (SELECT
               CAST(round(ln(CAST(row_number() OVER
                 (ORDER BY f DESC, tok ASC) AS DOUBLE)) * 1e3)
                 AS BIGINT) AS x,
               CAST(round(ln(CAST(f AS DOUBLE)) * 1e3) AS BIGINT) AS y
             FROM freqs),
      m AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
              CAST(sum(y) AS BIGINT) AS sy,
              CAST(sum(x * y) AS BIGINT) AS sxy,
              CAST(sum(x * x) AS BIGINT) AS sxx
            FROM ranked)
      SELECT n AS n_items,
             CASE WHEN CAST(n AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * sx <> 0.0 THEN
               round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
             END AS slope,
             CASE WHEN CAST(n AS DOUBLE) * sxx
                    - CAST(sx AS DOUBLE) * sx <> 0.0 THEN
               round((sy - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx)
                 / n / 1e3, 6)
             END AS intercept
      FROM m""")),

    // ---- quantile normalization ----------------------------------------
    // per-source document lengths rank-mapped onto the pooled length
    // distribution — cross-source score calibration with no interpolation
    Q("q121_quantile_norm", (s, d) =>
      graft.operators.FeatureEng.quantileNormalize(
        t(s, d, "documents"), "source", "n_chars", "doc_id")
        .select(col("rk").as("doc_id"), col("grp").as("source"),
          col("v").as("n_chars"), col("norm")),
      Some("""
        WITH base AS (SELECT doc_id AS rk, source AS grp,
                CAST(n_chars AS BIGINT) AS v FROM documents),
        r AS (SELECT rk, grp, v,
                CAST(row_number() OVER (PARTITION BY grp ORDER BY v, rk)
                  AS BIGINT) AS rn,
                count(*) OVER (PARTITION BY grp) AS n FROM base),
        p AS (SELECT CAST(row_number() OVER (ORDER BY v, rk) AS BIGINT)
                AS idx, v AS pv FROM base),
        t AS (SELECT count(*) AS nn FROM base)
        SELECT rk AS doc_id, grp AS source, v AS n_chars, pv AS norm
        FROM r CROSS JOIN t
        JOIN p ON ((r.rn * t.nn + r.n - 1) // r.n) = p.idx""")),

    // ---- embedding centroid drift --------------------------------------
    // per-label centroid L2 shift between the even/odd vec_id slices —
    // the embedding-space drift monitor (PSI's vector analog)
    Q("q122_centroid_shift", (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Similarity.centroidShift(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", "label")
    }, Some(s"""
      WITH comp AS (
        SELECT label AS lbl, vec_id % 2 AS side, i AS pos,
               CAST(sum(CAST(round(embedding[i] * 1e6) AS BIGINT))
                 AS BIGINT) AS sx,
               count(*) AS n
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
        GROUP BY 1, 2, 3),
      cent AS (SELECT lbl, side, max(n) AS n,
                 list(sx::DOUBLE / n / 1e6 ORDER BY pos) AS cv
               FROM comp GROUP BY 1, 2)
      SELECT a.lbl, a.n AS n_a, b.n AS n_b,
             round(sqrt(${graft.functions.VectorExprs.duckSqDistD(
               "a.cv", "b.cv")}), 6) AS l2_shift
      FROM cent a JOIN cent b ON a.lbl = b.lbl
       AND a.side = 0 AND b.side = 1""")),

    // ---- end-to-end curation pipeline ----------------------------------
    // the operators composed the way a production corpus run chains them:
    // exact dedup (md5 digest, keep lowest id) -> length gate -> per-source
    // deterministic cap (hash order) -> per-source yield report. Every
    // stage key-partitions on its own column; nothing widens.
    Q("text_curation_e2e", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.ts(s, d, "documents")
      val wDg = Window.partitionBy(col("dg")).orderBy(col("doc_id").asc)
      val dd = docs.withColumn("dg", md5(col("text")))
        .withColumn("rn", row_number().over(wDg))
        .filter(col("rn") === 1)
      val gated = dd.filter(col("n_chars").between(100, 3000))
      val wSrc = Window.partitionBy(col("source")).orderBy(
        expr(graft.functions.HashExprs
          .sparkCharHash("CAST(doc_id AS STRING)")).asc,
        col("doc_id").asc)
      val capped = gated.withColumn("srn", row_number().over(wSrc))
        .filter(col("srn") <= 200)
      capped.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    }, Some(s"""
      WITH dd AS (SELECT *, row_number() OVER
               (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM documents),
      gated AS (SELECT * FROM dd
                WHERE rn = 1 AND n_chars BETWEEN 100 AND 3000),
      capped AS (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY ${graft.functions.HashExprs
                   .duckCharHash("doc_id::VARCHAR")}, doc_id) AS srn
               FROM gated) WHERE srn <= 200)
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM capped GROUP BY 1""")),

    // ---- Poisson bootstrap CI ------------------------------------------
    // 95% CI for the mean order total via 64 deterministic Poisson(1)
    // replicas — the per-row-independent bootstrap that works distributed
    Q("q123_bootstrap", (s, d) =>
      Stats.poissonBootstrap(t(s, d, "orders"), "o_orderkey",
        "o_totalprice", replicas = 64),
      Some {
        val b = 64
        val lo = math.max((b * 25 + 999) / 1000, 1)
        val hi = math.max((b * 975 + 999) / 1000, 1)
        s"""
        WITH base AS (SELECT ${graft.functions.HashExprs
                  .duckCharHash("o_orderkey::VARCHAR")} AS h,
                CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS vm
              FROM orders),
        reps AS (SELECT b, CAST(sum(w * vm) AS BIGINT) AS swv,
                   CAST(sum(w) AS BIGINT) AS sw
                 FROM (SELECT vm, b,
                         ${Stats.poissonWeightSql("u")} AS w
                       FROM (SELECT vm, b,
                               ((h + b) * 2654435761)
                                 % ${graft.functions.HashExprs.P} AS u
                             FROM base,
                             UNNEST(generate_series(1, $b)) AS t(b)))
                 GROUP BY b),
        m AS (SELECT b,
                CAST(round(CAST(swv AS DOUBLE) / sw) AS BIGINT) AS mv
              FROM reps WHERE sw > 0),
        r AS (SELECT mv, row_number() OVER (ORDER BY mv, b) AS rn,
                count(*) OVER () AS bn FROM m),
        bounds AS (SELECT count(*) AS b_replicas,
                max(CASE WHEN rn = greatest((bn * 25 + 999) // 1000, 1)
                    THEN mv END) AS ci_lo_micro,
                max(CASE WHEN rn = greatest((bn * 975 + 999) // 1000, 1)
                    THEN mv END) AS ci_hi_micro
              FROM r),
        o AS (SELECT count(*) AS n,
                CAST(round(CAST(sum(vm) AS DOUBLE) / count(*)) AS BIGINT)
                  AS mean_micro FROM base)
        SELECT n, mean_micro, b_replicas, ci_lo_micro, ci_hi_micro
        FROM o CROSS JOIN bounds"""
      }),

    // ---- A/B test readout ----------------------------------------------
    // urgent vs high priority order totals: difference of means with a
    // paired-bootstrap 95% band — "does the CI cross zero"
    Q("q124_ab_test", (s, d) =>
      Stats.abTest(t(s, d, "orders"), "o_orderpriority", "1-URGENT",
        "2-HIGH", "o_orderkey", "o_totalprice", replicas = 64),
      Some {
        val b = 64
        val lo = math.max((b * 25 + 999) / 1000, 1)
        val hi = math.max((b * 975 + 999) / 1000, 1)
        s"""
        WITH base AS (SELECT o_orderpriority AS g,
                ${graft.functions.HashExprs
                  .duckCharHash("o_orderkey::VARCHAR")} AS h,
                CAST(round(o_totalprice * 1000000.0) AS BIGINT) AS vm
              FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
        reps AS (SELECT g, b, CAST(sum(w * vm) AS BIGINT) AS swv,
                   CAST(sum(w) AS BIGINT) AS sw
                 FROM (SELECT g, vm, b,
                         ${Stats.poissonWeightSql("u")} AS w
                       FROM (SELECT g, vm, b,
                               ((h + b) * 2654435761)
                                 % ${graft.functions.HashExprs.P} AS u
                             FROM base,
                             UNNEST(generate_series(1, $b)) AS t(b)))
                 GROUP BY g, b),
        m AS (SELECT g, b,
                CAST(round(CAST(swv AS DOUBLE) / sw) AS BIGINT) AS mv
              FROM reps WHERE sw > 0),
        diffs AS (SELECT a.b, a.mv - c.mv AS dv
                  FROM m a JOIN m c ON a.b = c.b
                  WHERE a.g = '1-URGENT' AND c.g = '2-HIGH'),
        r AS (SELECT dv, row_number() OVER (ORDER BY dv, b) AS rn,
                count(*) OVER () AS bn
              FROM diffs),
        band AS (SELECT
                max(CASE WHEN rn = greatest((bn * 25 + 999) // 1000, 1)
                    THEN dv END) AS ci_lo_micro,
                max(CASE WHEN rn = greatest((bn * 975 + 999) // 1000, 1)
                    THEN dv END) AS ci_hi_micro FROM r),
        means AS (SELECT g, count(*) AS n,
                CAST(round(CAST(CAST(sum(vm) AS HUGEINT) AS DOUBLE)
                  / count(*)) AS BIGINT) AS mv
              FROM base GROUP BY g),
        o AS (SELECT max(CASE WHEN g = '1-URGENT' THEN n END) AS n_a,
                max(CASE WHEN g = '2-HIGH' THEN n END) AS n_b,
                max(CASE WHEN g = '1-URGENT' THEN mv END) AS mean_a_micro,
                max(CASE WHEN g = '2-HIGH' THEN mv END) AS mean_b_micro
              FROM means)
        SELECT n_a, n_b, mean_a_micro, mean_b_micro,
               mean_a_micro - mean_b_micro AS diff_micro,
               ci_lo_micro, ci_hi_micro
        FROM o CROSS JOIN band"""
      }),

    // ---- BPE tokenizer training --------------------------------------
    // 8 merge rounds over the distinct-word table; the merge trajectory
    // (step, pair, weighted count) is the verified output. The corpus is
    // scanned once; every round runs on the vocabulary-sized table.
    Q("text_bpe", (s, d) =>
      Bpe.train(Tables.ts(s, d, "documents"), "text", merges = 8),
      Some(Bpe.trainOracleSql(8))),

    // ---- k-core decomposition ----------------------------------------
    // 2 peel rounds at k=16 over the co-purchase graph (parts sharing an
    // order, 1-in-5 part slice — same graph family as q90_triangles);
    // chosen so peeling genuinely cascades (round 2 removes nodes round 1
    // left alive) at every test scale.
    Q("q98_kcore", (s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_partkey") % 5 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val pp = Tables.spread(
          li.select(col("l_orderkey"), col("l_partkey").as("u"))
            .join(li.select(col("l_orderkey"), col("l_partkey").as("v")),
              Seq("l_orderkey"))
            .filter(col("u") < col("v"))
            .select(col("u"), col("v"))).distinct()
      val edges = pp.select(explode(array(
          struct(col("u").as("src"), col("v").as("dst")),
          struct(col("v").as("src"), col("u").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        Graph.kCore(edges, k = 16, rounds = 2)
      }
    }, Some("""
      WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                  WHERE l_partkey % 5 = 0),
      pp AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                                AND a.l_partkey < b.l_partkey),
      e AS (SELECT u AS src, v AS dst FROM pp UNION ALL SELECT v, u FROM pp),
      a0 AS (SELECT DISTINCT src AS id FROM e),
      d1 AS (SELECT e.src AS id, count(*) AS deg FROM e
             JOIN a0 s ON e.src = s.id JOIN a0 t ON e.dst = t.id GROUP BY 1),
      a1 AS (SELECT id, deg FROM d1 WHERE deg >= 16),
      d2 AS (SELECT e.src AS id, count(*) AS deg FROM e
             JOIN a1 s ON e.src = s.id JOIN a1 t ON e.dst = t.id GROUP BY 1),
      a2 AS (SELECT id, deg FROM d2 WHERE deg >= 16)
      SELECT id, deg FROM a2""")),

    // ---- corpus snapshot diff (CDC) ----------------------------------
    // old = crawl minus every 7th doc; new = crawl minus every 5th doc
    // with every 11th doc revised — the diff classifies exactly the keys
    // that moved. The join carries md5 digests, never the text.
    Q("q99_snapshot_diff", (s, d) => {
      val docs = t(s, d, "documents")
      val prev = docs.filter(col("doc_id") % 7 =!= 0)
      val next = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev")))
            .otherwise(col("text")))
      Diff.snapshotDiff(prev, next, "doc_id", Seq("text", "lang", "source"))
        .select(col("key").as("doc_id"), col("status"))
    }, Some("""
      WITH o AS (SELECT doc_id,
               md5(concat_ws(chr(1), coalesce(text, chr(2)),
                 coalesce(lang, chr(2)), coalesce(source, chr(2)))) AS dg
             FROM documents WHERE doc_id % 7 <> 0),
      n AS (SELECT doc_id,
               md5(concat_ws(chr(1),
                 coalesce(CASE WHEN doc_id % 11 = 0 THEN text || ' rev'
                               ELSE text END, chr(2)),
                 coalesce(lang, chr(2)), coalesce(source, chr(2)))) AS dg
             FROM documents WHERE doc_id % 5 <> 0)
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.dg <> n.dg""")),

    // ---- weighted sampling without replacement -----------------------
    // 100 docs drawn by n_chars-weighted exponential race; deterministic
    // (hash-derived u, integer micro-nat ln before the one division)
    Q("text_weighted_sample", (s, d) =>
      Sampling.weightedSample(t(s, d, "documents"), "doc_id", "n_chars",
        k = 100),
      Some(s"""
        SELECT doc_id, n_chars FROM (
          SELECT doc_id, n_chars,
                 ${Sampling.duckRaceKey("doc_id::VARCHAR", "n_chars")} AS race
          FROM documents WHERE n_chars > 0
          ORDER BY race DESC, doc_id LIMIT 100)""")),

    // ---- winsorized aggregation --------------------------------------
    // per-priority order totals with the tails clamped to the discrete
    // [p5, p95] cut — all-integer rank indices and cents, so the clamp
    // and the sum are exact in any engine
    Q("q100_winsorize", (s, d) =>
      Stats.winsorizedSum(
        t(s, d, "orders").withColumn("cents",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
        "o_orderpriority", "cents", "o_orderkey"),
      Some("""
        WITH r AS (SELECT o_orderpriority AS grp,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                 o_orderkey AS rk FROM orders),
        rn AS (SELECT grp, v, rk,
                 row_number() OVER (PARTITION BY grp ORDER BY v, rk) AS rn,
                 count(*) OVER (PARTITION BY grp) AS n FROM r),
        b AS (SELECT grp, max(n) AS n,
                max(CASE WHEN rn = greatest((n * 5 + 99) // 100, 1)
                    THEN v END) AS lo,
                max(CASE WHEN rn = greatest((n * 95 + 99) // 100, 1)
                    THEN v END) AS hi
              FROM rn GROUP BY grp)
        SELECT rn.grp, count(*) AS n, max(b.lo) AS lo, max(b.hi) AS hi,
               CAST(sum(greatest(least(v, b.hi), b.lo)) AS BIGINT) AS wsum
        FROM rn JOIN b ON rn.grp = b.grp GROUP BY rn.grp""")),

    // partitioned-write layout planner: per (source, lang) partition the
    // row/byte totals + the file split a compacting writer should use —
    // plans the small-files problem away BEFORE the write (the loader's
    // compaction merges it after); one map-side-combined aggregate,
    // metadata-sized output, exact integer ceil arithmetic
    Q("q126_layout_plan", (s, d) =>
      graft.operators.Profile.layoutPlan(t(s, d, "documents"),
        Seq("source", "lang"), octet_length(col("text")).cast("long"),
        targetBytes = 16384L),
      Some("""
        WITH g AS (SELECT source, lang, count(*) AS n_rows,
                CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
              FROM documents GROUP BY source, lang),
        f AS (SELECT source, lang, n_rows, n_bytes,
                greatest(CAST(1 AS BIGINT),
                         (n_bytes + 16383) // 16384) AS n_files
              FROM g)
        SELECT source, lang, n_rows, n_bytes, n_files,
               (n_rows + n_files - 1) // n_files AS rows_per_file
        FROM f""")))
}
