package graft.queries

import org.apache.spark.sql.functions._

import graft.GraftSession.withConf
import graft.functions.{VectorExprs => V}
import graft.operators.{FeatureEng, Similarity, Stats, TextAnalysis,
  TimeSeries}

/** Round-11 additions: rank statistics on the new distributed global-rank
  * primitive (Spearman, ROC AUC, Gini), classifier-evaluation tables and
  * curves (Cohen's kappa, PR/ROC curves, decile lift, label confusion),
  * data-quality audits (Benford first-digit, per-group OLS, language-ID
  * confusion, per-group quantile bands, frequency spectrum), distribution
  * drift (Jensen-Shannon, exact 1-D Wasserstein), embedding health
  * (per-dimension stats, int8 quantization error, dimension correlation),
  * token-entropy scoring, tokenizer fertility, autocorrelation
  * seasonality, mutual-nearest-neighbor alignment, hard-negative mining,
  * and strongly connected components.
  */
object Round11 {
  import Tables.t

  /** Generated DuckDB oracle for [[Q sim_dim_corr]]: the q96_corr_matrix
    * moment algebra expanded over embedding dims 1..`dims` (28 UNION arms
    * at 8 — hand-writing them invites typos; the generator mirrors
    * `Stats.corrMatrix`'s exact integer moments + one closing double). */
  private def dimCorrOracle(dims: Int): String = {
    val cols = (1 to dims).map(i =>
      s"CAST(round(embedding[$i] * 1e6) AS BIGINT) AS d$i").mkString(", ")
    val moments = (1 to dims).flatMap(i => Seq(
      s"CAST(sum(d$i) AS BIGINT) AS s$i",
      s"CAST(sum(d$i * d$i) AS BIGINT) AS ss$i")) ++
      (for (i <- 1 to dims; j <- 1 to dims if i < j)
        yield s"CAST(sum(d$i * d$j) AS BIGINT) AS sx${i}_$j")
    val arms = for (i <- 1 to dims; j <- 1 to dims if i < j) yield {
      val va = s"(n::DOUBLE * ss$i - s$i::DOUBLE * s$i)"
      val vb = s"(n::DOUBLE * ss$j - s$j::DOUBLE * s$j)"
      s"""SELECT 'd$i' AS col_a, 'd$j' AS col_b,
         |  CASE WHEN n > 0 AND $va > 0 AND $vb > 0
         |  THEN round((n::DOUBLE * sx${i}_$j - s$i::DOUBLE * s$j)
         |    / (sqrt($va) * sqrt($vb)), 6)
         |  ELSE CAST(NULL AS DOUBLE) END AS r FROM m""".stripMargin
    }
    s"""WITH b AS (SELECT $cols FROM embeddings),
       |m AS (SELECT count(*) AS n, ${moments.mkString(", ")} FROM b)
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  def defs: Seq[Q] = Seq(

    // ---- Spearman rank correlation ------------------------------------
    // monotone association between quantity and line price; DOUBLED
    // midranks keep ties integer-exact at value grain (the Mann-Whitney
    // machinery), ranks ride the GlobalRank sharded prefix sum, and the
    // closing Pearson-over-ranks is one mirrored double over exact longs.
    // 4 MB advisory scope (the text_chrf discipline): the y-rank window
    // exchange carries ~600k NARROW rows (few MB) but the aggregate on
    // top of it pays 2-4 BigDecimal ops per row, so default byte-sized
    // AQE coalescing serialized the closing moment aggregate into one
    // task (~2.7 s of the entry). Merge-only semantics — a no-op at scale.
    Q("q140_spearman", (s, d) =>
      withConf(s, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4L << 20).toString) {
        Stats.spearman(t(s, d, "lineitem"), "l_quantity", "l_extendedprice",
          xScale = 1.0, yScale = 100.0)
      },
      Some("""
        WITH base AS (SELECT CAST(round(l_quantity * 1.0) AS BIGINT) AS x,
                CAST(round(l_extendedprice * 100.0) AS BIGINT) AS y
              FROM lineitem),
        pvx AS (SELECT x AS v, count(*) AS t FROM base GROUP BY 1),
        rx AS (SELECT v, 2 * (CAST(sum(t) OVER (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) - t) + t + 1 AS dr FROM pvx),
        pvy AS (SELECT y AS v, count(*) AS t FROM base GROUP BY 1),
        ry AS (SELECT v, 2 * (CAST(sum(t) OVER (ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) - t) + t + 1 AS dr FROM pvy),
        j AS (SELECT rx.dr AS da, ry.dr AS db
              FROM base JOIN rx ON base.x = rx.v JOIN ry ON base.y = ry.v),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(da) AS BIGINT) AS sa,
                  CAST(sum(db) AS BIGINT) AS sb,
                  CAST(sum(da * db) AS BIGINT) AS sab,
                  CAST(sum(da * da) AS BIGINT) AS saa,
                  CAST(sum(db * db) AS BIGINT) AS sbb
                FROM j)
        SELECT n,
               round((CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
                 / sqrt((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
                      * (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)), 6)
                 AS rho
        FROM agg""")),

    // ---- ROC AUC of the heuristic quality score -----------------------
    // does the quality score separate English docs? AUC via the doubled
    // midrank rank-sum (exact tie handling; = the Mann-Whitney statistic
    // normalized), value-grain + GlobalRank — no per-row window.
    Q("q141_auc", (s, d) =>
      Stats.aucScore(Tables.ts(s, d, "documents"),
        col("lang") === "en",
        TextAnalysis.qualityScoreX1e4("text").cast("double"),
        valScale = 1.0),
      Some("""
        WITH sc AS (SELECT ((
          (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 10000
                WHEN length(text) < 100 THEN length(text) * 100
                ELSE 2000 END) * 4
          + (len(list_filter(string_split(text, ' '),
               tk -> tk IN ('the', 'a', 'of', 'and'))) * 30000)
              // len(string_split(text, ' '))
          + ((length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 30000)
              // length(text)
        ) // 10) AS q, (lang = 'en') AS pos FROM documents),
        base AS (SELECT CAST(round(q * 1.0) AS BIGINT) AS v, pos FROM sc),
        pv AS (SELECT v, CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                 count(*) AS tt
               FROM base GROUP BY 1),
        r AS (SELECT v, np, tt,
                2 * (CAST(sum(tt) OVER (ORDER BY v ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - tt) + tt + 1 AS dr
              FROM pv),
        agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                  CAST(sum(tt) - sum(np) AS BIGINT) AS n_neg,
                  CAST(sum(np * dr) AS BIGINT) AS r2
                FROM r)
        SELECT n_pos, n_neg,
               CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6 * CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2.0 * CAST(n_pos AS DOUBLE) * n_neg)) AS BIGINT) END
                 AS auc_micro
        FROM agg""")),

    // ---- Gini concentration of customer revenue -----------------------
    // how concentrated is revenue across customers? Entity-grain ranks
    // via GlobalRank (no single-task sort); exact integer rank-weighted
    // sum, one mirrored closing division.
    Q("q142_gini", (s, d) =>
      Stats.gini(t(s, d, "orders").withColumn("cents",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")),
        "o_custkey", "cents"),
      Some("""
        WITH ents AS (SELECT o_custkey AS ent,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
              FROM orders GROUP BY 1),
        r AS (SELECT v, CAST(row_number() OVER (ORDER BY v ASC, ent ASC)
                AS BIGINT) AS i FROM ents),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(min(v) AS BIGINT) AS minv,
                  CAST(sum(v) AS BIGINT) AS total,
                  CAST(sum(i * v) AS BIGINT) AS siv
                FROM r)
        SELECT n, total,
               CASE WHEN n = 0 OR total <= 0 OR minv < 0
               THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6 * (2.0 * CAST(siv AS DOUBLE)
                 - CAST(n + 1 AS DOUBLE) * total)
                 / (CAST(n AS DOUBLE) * total)) AS BIGINT) END AS gini_micro
        FROM agg""")),

    // ---- Cohen's kappa: declared lang vs n-gram language ID -----------
    // chance-corrected agreement between the dataset's lang label and the
    // heuristic n-gram language id — exact contingency + margins, mirrored
    // division, micro-scaled.
    Q("q143_kappa", (s, d) =>
      Stats.cohensKappa(
        Tables.ts(s, d, "documents").select(col("lang"),
          TextAnalysis.langId("text").as("pred")),
        "lang", "pred"),
      Some {
        val scores = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          s"len(list_filter(string_split(text, ' '), tk -> tk IN ${TextAnalysis.sqlSet(ms)})) AS s_$lang"
        }.mkString(",\n          ")
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val maxExpr = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val caseExpr = langs.map(l => s"WHEN s_$l = $maxExpr THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        s"""WITH scored AS (SELECT lang, $scores FROM documents),
          |pairs AS (SELECT lang AS a, $caseExpr AS b FROM scored),
          |joint AS (SELECT a, b, count(*) AS nab FROM pairs GROUP BY 1, 2),
          |ma AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM joint GROUP BY 1),
          |mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM joint GROUP BY 1),
          |st AS (SELECT CAST(sum(nab) AS BIGINT) AS n,
          |         CAST(sum(CASE WHEN a = b THEN nab ELSE 0 END) AS BIGINT) AS agree
          |       FROM joint),
          |pe AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS spe
          |       FROM ma JOIN mb ON ma.a = mb.b)
          |SELECT n,
          |  CAST(round(1e6 * CAST(agree AS DOUBLE) / n) AS BIGINT) AS po_micro,
          |  CAST(round(1e6 * CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS pe_micro,
          |  CASE WHEN CAST(n AS DOUBLE) * n = CAST(spe AS DOUBLE)
          |  THEN CAST(NULL AS BIGINT)
          |  ELSE CAST(round(1e6
          |    * (CAST(n AS DOUBLE) * agree - CAST(spe AS DOUBLE))
          |    / (CAST(n AS DOUBLE) * n - CAST(spe AS DOUBLE))) AS BIGINT)
          |  END AS kappa_micro
          |FROM st CROSS JOIN pe""".stripMargin
      }),

    // ---- Benford first-digit audit ------------------------------------
    // first digits of order totals (cents) vs log10(1+1/d): integer
    // digit extraction, exact counts, mirrored expected/chi2 doubles.
    Q("q144_benford", (s, d) =>
      Stats.benford(t(s, d, "orders").withColumn("cents",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)")), "cents"),
      Some("""
        WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders),
        dg AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
                AS digit FROM v WHERE v > 0),
        c AS (SELECT digit, count(*) AS n_obs FROM dg GROUP BY 1),
        tot AS (SELECT CAST(coalesce(sum(n_obs), 0) AS BIGINT) AS n FROM c),
        digits AS (SELECT CAST(d.range AS BIGINT) AS digit FROM range(1, 10) d)
        SELECT digits.digit,
               CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs,
               CAST(round(1e6 * log10(1.0 + 1.0 / CAST(digits.digit AS DOUBLE)))
                 AS BIGINT) AS expected_micro,
               CASE WHEN n = 0 THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6
                 * (CAST(coalesce(c.n_obs, 0) AS DOUBLE)
                    - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digits.digit AS DOUBLE)))
                 * (CAST(coalesce(c.n_obs, 0) AS DOUBLE)
                    - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digits.digit AS DOUBLE)))
                 / (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digits.digit AS DOUBLE))))
                 AS BIGINT) END AS chi2_micro
        FROM digits LEFT JOIN c ON digits.digit = c.digit CROSS JOIN tot""")),

    // ---- per-group OLS line fit ---------------------------------------
    // price-vs-quantity trend per return flag: exact integer moment sums
    // (integer quantity, price at cents), mirrored closed-form algebra —
    // the existing olsTrend kernel pointed at a second surface.
    Q("q145_ols", (s, d) =>
      Stats.olsTrend(t(s, d, "lineitem"), "l_returnflag", "l_quantity",
        "l_extendedprice", yScale = 100.0),
      Some("""
        WITH base AS (SELECT l_returnflag AS grp,
                CAST(round(l_quantity * 1.0) AS BIGINT) AS x,
                CAST(round(l_extendedprice * 100.0) AS BIGINT) AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(x * y) AS BIGINT) AS sxy,
                CAST(sum(x * x) AS BIGINT) AS sxx
              FROM base GROUP BY 1),
        w AS (SELECT *, CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx
                AS den FROM m)
        SELECT grp, n,
               CASE WHEN den = 0.0 THEN CAST(NULL AS DOUBLE)
               ELSE round((CAST(n AS DOUBLE) * sxy
                 - CAST(sx AS DOUBLE) * sy) / den / 100.0, 6) END AS slope,
               CASE WHEN den = 0.0 THEN CAST(NULL AS DOUBLE)
               ELSE round((CAST(sy AS DOUBLE)
                 - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / den
                   * sx) / n / 100.0, 6) END AS intercept
        FROM w""")),

    // ---- Jensen-Shannon drift between event slices --------------------
    // event-type mix drift between the two user-parity halves (a random
    // split, so JSD should sit near 0 — the monitor's null reading);
    // bounded symmetric divergence, exact counts, one mirrored ln per
    // category per side, micro-nats.
    Q("q146_jsd", (s, d) => {
      val ev = Tables.events(s, d)
      FeatureEng.jsDivergence(ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1), "event_type")
    }, Some("""
        WITH ca AS (SELECT event_type AS cat, count(*) AS a
              FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        cb AS (SELECT event_type AS cat, count(*) AS b
              FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ca.cat, cb.cat) AS cat,
                CAST(coalesce(a, 0) AS BIGINT) AS a,
                CAST(coalesce(b, 0) AS BIGINT) AS b
              FROM ca FULL JOIN cb ON ca.cat = cb.cat),
        tot AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
                  CAST(sum(b) AS BIGINT) AS n_b FROM j),
        terms AS (SELECT a, b,
                CASE WHEN a = 0 THEN 0 ELSE a * CAST(round(ln(
                  2.0 * CAST(a AS DOUBLE) * n_b
                  / (CAST(a AS DOUBLE) * n_b + CAST(b AS DOUBLE) * n_a))
                  * 1000000.0) AS BIGINT) END AS ta,
                CASE WHEN b = 0 THEN 0 ELSE b * CAST(round(ln(
                  2.0 * CAST(b AS DOUBLE) * n_a
                  / (CAST(a AS DOUBLE) * n_b + CAST(b AS DOUBLE) * n_a))
                  * 1000000.0) AS BIGINT) END AS tb
              FROM j CROSS JOIN tot)
        SELECT (SELECT n_a FROM tot) AS n_a, (SELECT n_b FROM tot) AS n_b,
               CAST(count(*) AS BIGINT) AS n_cats,
               CAST(round(CAST(sum(ta) AS DOUBLE) / (2.0 * (SELECT n_a FROM tot))
                 + CAST(sum(tb) AS DOUBLE) / (2.0 * (SELECT n_b FROM tot)))
                 AS BIGINT) AS jsd_micro
        FROM terms""")),

    // ---- per-document token entropy -----------------------------------
    // information-theoretic repetition scoring: H = ln L − Σc·ln c / L in
    // micro-nats; one ln per distinct (doc, token) count, integerized
    // before the count-weighted sum.
    Q("text_token_entropy", (s, d) =>
      TextAnalysis.tokenEntropy(Tables.ts(s, d, "documents"), "doc_id",
        "text"),
      Some("""
        WITH c AS (SELECT doc_id, w, count(*) AS c FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents) GROUP BY 1, 2),
        s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0)
                  AS BIGINT)) AS BIGINT) AS s
              FROM c GROUP BY 1)
        SELECT doc_id AS id, n_tokens,
               CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0
                 - CAST(s AS DOUBLE) / n_tokens) AS BIGINT) AS entropy_micro
        FROM s""")),

    // ---- autocorrelation of daily event counts ------------------------
    // weekly-rhythm probe: ACF at lags 1..7 per event type over the
    // CALENDAR-densified daily count series (zero-count days ride as
    // x = 0, so lag 7 is a true week); mean multiplied through so every
    // sum is an exact long, one mirrored division per (grp, lag).
    Q("q147_acf", (s, d) =>
      TimeSeries.acf(Tables.events(s, d), "event_type", "ts", 7),
      Some("""
        WITH obs AS (SELECT event_type AS grp,
                CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, count(*) AS x
              FROM events GROUP BY 1, 2),
        spans AS (SELECT grp, min(d) AS d0, max(d) AS d1 FROM obs GROUP BY 1),
        dense AS (SELECT grp, CAST(unnest(generate_series(d0, d1,
                INTERVAL 1 DAY)) AS DATE) AS d FROM spans),
        daily AS (SELECT dense.grp, dense.d,
                CAST(coalesce(obs.x, 0) AS BIGINT) AS x
              FROM dense LEFT JOIN obs
                ON obs.grp = dense.grp AND obs.d = dense.d),
        st AS (SELECT grp, x,
                CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n,
                CAST(sum(x) OVER (PARTITION BY grp) AS BIGINT) AS sx,
                CAST(row_number() OVER (PARTITION BY grp ORDER BY d)
                  AS BIGINT) AS rn
              FROM daily),
        cxt AS (SELECT grp, rn, n, n * x - sx AS cx FROM st),
        den AS (SELECT grp, CAST(max(n) AS BIGINT) AS n_days,
                  CAST(sum(cx * cx) AS BIGINT) AS den
                FROM cxt GROUP BY 1),
        pairs AS (SELECT c.grp, CAST(t.range AS BIGINT) AS lag,
                  CAST(sum(c.cx * c2.cx) AS BIGINT) AS num
                FROM cxt c CROSS JOIN range(1, 8) t
                JOIN cxt c2 ON c2.grp = c.grp AND c2.rn = c.rn + t.range
                GROUP BY 1, 2)
        SELECT den.grp, lag, n_days,
               CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6 * CAST(num AS DOUBLE) / den) AS BIGINT)
               END AS acf_micro
        FROM den JOIN pairs ON den.grp = pairs.grp""")),

    // ---- precision/recall curve ---------------------------------------
    // thresholding the quality score against the lang label at every
    // distinct value: both cumulatives ride ONE GlobalRank sharded pass;
    // precision/recall/F1 are single mirrored divisions (F1 an exact
    // integer rational 2·tp/(n_kept+P)).
    Q("q148_pr_curve", (s, d) =>
      Stats.prCurve(Tables.ts(s, d, "documents"),
        col("lang") === "en",
        TextAnalysis.qualityScoreX1e4("text").cast("double"),
        valScale = 1.0),
      Some("""
        WITH sc AS (SELECT ((
          (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 10000
                WHEN length(text) < 100 THEN length(text) * 100
                ELSE 2000 END) * 4
          + (len(list_filter(string_split(text, ' '),
               tk -> tk IN ('the', 'a', 'of', 'and'))) * 30000)
              // len(string_split(text, ' '))
          + ((length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 30000)
              // length(text)
        ) // 10) AS q, (lang = 'en') AS pos FROM documents),
        base AS (SELECT CAST(round(q * 1.0) AS BIGINT) AS v, pos FROM sc),
        pv AS (SELECT v, CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                 count(*) AS t
               FROM base GROUP BY 1),
        c AS (SELECT v,
                CAST(sum(np) OVER (ORDER BY v DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS tp,
                CAST(sum(t) OVER (ORDER BY v DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_kept,
                CAST(sum(np) OVER () AS BIGINT) AS pp
              FROM pv)
        SELECT v, n_kept, tp,
               CAST(round(1e6 * CAST(tp AS DOUBLE) / n_kept) AS BIGINT)
                 AS precision_micro,
               CAST(round(1e6 * CAST(tp AS DOUBLE) / pp) AS BIGINT)
                 AS recall_micro,
               CAST(round(1e6 * 2.0 * tp / (n_kept + pp)) AS BIGINT)
                 AS f1_micro
        FROM c""")),

    // ---- decile lift / calibration table ------------------------------
    // equal-count score deciles (GlobalRank sharded ntile, bin 1 =
    // highest scores): per-bin positive rate, lift vs the base rate, and
    // cumulative gain — the model-evaluation table next to q141_auc.
    Q("q149_lift", (s, d) =>
      Stats.liftTable(Tables.ts(s, d, "documents"),
        col("lang") === "en",
        TextAnalysis.qualityScoreX1e4("text").cast("double"),
        col("doc_id"), nBins = 10, valScale = 1.0),
      Some("""
        WITH sc AS (SELECT doc_id, ((
          (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 10000
                WHEN length(text) < 100 THEN length(text) * 100
                ELSE 2000 END) * 4
          + (len(list_filter(string_split(text, ' '),
               tk -> tk IN ('the', 'a', 'of', 'and'))) * 30000)
              // len(string_split(text, ' '))
          + ((length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 30000)
              // length(text)
        ) // 10) AS q, (lang = 'en') AS pos FROM documents),
        base AS (SELECT doc_id, CAST(round(q * 1.0) AS BIGINT) AS v, pos
              FROM sc),
        binned AS (SELECT v, pos,
                CAST(ntile(10) OVER (ORDER BY v DESC, doc_id ASC)
                  AS BIGINT) AS bin
              FROM base),
        per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_pos,
                  CAST(sum(v) AS BIGINT) AS sv
                FROM binned GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                  CAST(sum(n_pos) AS BIGINT) AS pp FROM per),
        cum AS (SELECT per.*, nn, pp,
                  CAST(sum(n_pos) OVER (ORDER BY bin ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_pos
                FROM per CROSS JOIN tot)
        SELECT bin, n, n_pos,
               CAST(round(CAST(sv AS DOUBLE) / n) AS BIGINT)
                 AS mean_score_micro,
               CAST(round(1e6 * CAST(n_pos AS DOUBLE) / n) AS BIGINT)
                 AS pos_rate_micro,
               CASE WHEN pp = 0 THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6 * (CAST(n_pos AS DOUBLE) / n)
                 / (CAST(pp AS DOUBLE) / nn)) AS BIGINT) END AS lift_micro,
               CASE WHEN pp = 0 THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6 * CAST(cum_pos AS DOUBLE) / pp)
                 AS BIGINT) END AS cum_gain_micro
        FROM cum""")),

    // ---- strongly connected components of the event-type machine -----
    // which event types form recurrent loops? Transition edges from
    // consecutive per-user events, node ids = shared char hashes (so
    // both engines label identically), scc = min mutually-reachable id,
    // mapped back to the type string of that minimal node.
    Q("q150_scc", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val trans = ev
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(expr(graft.functions.HashExprs.sparkCharHash("prev"))
            .as("src"),
          expr(graft.functions.HashExprs.sparkCharHash("event_type"))
            .as("dst"))
        .distinct()
      val labels = graft.operators.Graph.scc(trans)
      val names = ev.select(col("event_type")).distinct()
        .select(col("event_type"),
          expr(graft.functions.HashExprs.sparkCharHash("event_type"))
            .as("id"))
      // labels stays persisted: Graph.scc hands its materialized output to
      // the caller, and unpersisting it before this join runs would only
      // recompute it
      labels.join(names, "id")
        .join(names.select(col("event_type").as("scc_type"),
          col("id").as("scc")), "scc")
        .select(col("event_type"), col("scc_type"))
    }, Some(s"""
        WITH RECURSIVE ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                event_id, event_type FROM events),
        tr AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS p, event_type AS c
               FROM ev),
        edges AS (SELECT DISTINCT
                ${graft.functions.HashExprs.duckCharHash("p")} AS src,
                ${graft.functions.HashExprs.duckCharHash("c")} AS dst
              FROM tr WHERE p IS NOT NULL),
        nodesq AS (SELECT src AS id FROM edges
                   UNION SELECT dst FROM edges),
        reach(v, u) AS (
          SELECT id, id FROM nodesq
          UNION
          SELECT r.v, e.dst FROM reach r JOIN edges e ON r.u = e.src),
        lbl AS (SELECT f.v AS id, min(f.u) AS scc
                FROM reach f JOIN reach b ON f.v = b.u AND f.u = b.v
                GROUP BY 1),
        names AS (SELECT DISTINCT event_type,
                ${graft.functions.HashExprs.duckCharHash("event_type")} AS id
              FROM ev)
        SELECT n1.event_type, n2.event_type AS scc_type
        FROM lbl JOIN names n1 ON lbl.id = n1.id
                 JOIN names n2 ON lbl.scc = n2.id""")),

    // ---- hard-negative mining -----------------------------------------
    // contrastive-training negatives: each query's nearest neighbors with
    // a DIFFERENT label — close in embedding space but semantically
    // wrong, the examples a contrastive loss learns most from. One
    // bounded-query exact top-k + two label joins; rank preserved from
    // the unfiltered neighbor list so consumers see how near each
    // negative sat.
    Q("sim_hard_negatives", (s, d) => {
      val e = t(s, d, "embeddings")
      val topk = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50),
        e, "vec_id", "embedding", 10, broadcastCorpus = true)
      topk
        .join(e.select(col("vec_id").as("query_id"),
          col("label").as("ql")), "query_id")
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("label").as("nl")), "neighbor_id")
        .filter(col("ql") =!= col("nl"))
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("cos"), col("nl").as("neg_label"))
    }, Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
              FROM embeddings WHERE vec_id < 50),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
              FROM embeddings),
        scored AS (SELECT query_id, neighbor_id, ql, nl,
            ${V.duckCosine("qv", "cv")} AS cos,
            row_number() OVER (PARTITION BY query_id
              ORDER BY ${V.duckCosine("qv", "cv")} DESC, neighbor_id ASC)
              AS rank
          FROM q JOIN c ON query_id <> neighbor_id)
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos,
               nl AS neg_label
        FROM scored WHERE rank <= 10 AND ql <> nl""")),

    // ---- tokenizer fertility by language ------------------------------
    // BPE tokens per whitespace word, per lang — the tokenizer-prep
    // metric that flags languages a vocabulary serves poorly (fertility
    // far above ~1.3 ⇒ the language fragments into sub-word confetti).
    Q("text_fertility", (s, d) =>
      Tables.ts(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount("text")).as("n_words"),
          sum(TextAnalysis.bpeTokenCount("text")).as("n_bpe"))
        .withColumn("fertility_micro",
          expr("1000000 * n_bpe div n_words")),
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
               CAST(sum(len(regexp_extract_all(text,
                 '[a-z]+|[0-9]+|[^a-z0-9\s]+'))) AS BIGINT) AS n_bpe,
               1000000 * CAST(sum(len(regexp_extract_all(text,
                 '[a-z]+|[0-9]+|[^a-z0-9\s]+'))) AS BIGINT)
                 // CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                 AS fertility_micro
        FROM documents GROUP BY 1""")),

    // ---- mutual nearest neighbors -------------------------------------
    // alignment pairs: both sides in each other's exact top-5 — the
    // hub-resistant matching primitive; one top-k pass + one self-join
    // of the k·N candidate list on the reversed pair.
    Q("sim_mnn", (s, d) =>
      Similarity.mutualTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 5, broadcastCorpus = true),
      Some(s"""
        WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
        scored AS (SELECT a.id AS query_id, c.id AS neighbor_id,
            ${V.duckCosine("a.v", "c.v")} AS cos,
            row_number() OVER (PARTITION BY a.id
              ORDER BY ${V.duckCosine("a.v", "c.v")} DESC, c.id ASC) AS rank
          FROM e a JOIN e c ON a.id <> c.id),
        tk AS (SELECT query_id, neighbor_id, round(cos, 6) AS cos
               FROM scored WHERE rank <= 5)
        SELECT f.query_id AS id_a, f.neighbor_id AS id_b, f.cos
        FROM tk f JOIN tk r ON f.query_id = r.neighbor_id
                           AND f.neighbor_id = r.query_id
        WHERE f.query_id < f.neighbor_id""")),

    // ---- ROC curve ------------------------------------------------------
    // the threshold-grain curve under q141's AUC scalar: tpr/fpr per
    // distinct score value, both cumulatives on ONE GlobalRank multi-sum
    // sharded pass (the q148 machinery pointed at the false-positive axis).
    Q("q151_roc", (s, d) =>
      Stats.rocCurve(Tables.ts(s, d, "documents"),
        col("lang") === "en",
        TextAnalysis.qualityScoreX1e4("text").cast("double"),
        valScale = 1.0),
      Some("""
        WITH sc AS (SELECT ((
          (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 10000
                WHEN length(text) < 100 THEN length(text) * 100
                ELSE 2000 END) * 4
          + (len(list_filter(string_split(text, ' '),
               tk -> tk IN ('the', 'a', 'of', 'and'))) * 30000)
              // len(string_split(text, ' '))
          + ((length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 30000)
              // length(text)
        ) // 10) AS q, (lang = 'en') AS pos FROM documents),
        base AS (SELECT CAST(round(q * 1.0) AS BIGINT) AS v, pos FROM sc),
        pv AS (SELECT v, CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                 count(*) AS t
               FROM base GROUP BY 1),
        c AS (SELECT v,
                CAST(sum(np) OVER (ORDER BY v DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS tp,
                CAST(sum(t) OVER (ORDER BY v DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS kept,
                CAST(sum(np) OVER () AS BIGINT) AS pp,
                CAST(sum(t) OVER () - sum(np) OVER () AS BIGINT) AS nn
              FROM pv)
        SELECT v, tp, kept - tp AS fp,
               CASE WHEN pp = 0 THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6 * CAST(tp AS DOUBLE) / pp) AS BIGINT) END
                 AS tpr_micro,
               CASE WHEN nn = 0 THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6 * CAST(kept - tp AS DOUBLE) / nn)
                 AS BIGINT) END AS fpr_micro
        FROM c""")),

    // ---- token frequency-of-frequency spectrum --------------------------
    // the Good-Turing / vocabulary-health readout: how many distinct
    // tokens occur exactly c times, and what share of the corpus mass the
    // c-count tokens carry. Two hash aggregates + one broadcast total —
    // never a window; hapax mass (freq = 1) is the "is the tokenizer
    // fragmenting?" number next to text_fertility.
    Q("text_freq_spectrum", (s, d) =>
      Stats.freqSpectrum(
        Tables.ts(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0),
        col("tok")),
      Some("""
        WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents),
        items AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM tok
                  WHERE length(tok) > 0 GROUP BY 1),
        spec AS (SELECT f AS freq, CAST(count(*) AS BIGINT) AS n_items,
                   CAST(sum(f) AS BIGINT) AS mass
                 FROM items GROUP BY 1),
        tot AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM spec)
        SELECT freq, n_items, mass,
               CASE WHEN total = 0 THEN CAST(NULL AS BIGINT)
               ELSE CAST(round(1e6 * CAST(mass AS DOUBLE) / total)
                 AS BIGINT) END AS mass_share_micro
        FROM spec, tot""")),

    // ---- per-dimension embedding health ---------------------------------
    // dead / collapsed / off-scale dimensions break cosine geometry
    // silently: exact 1e6-grid component sums, integer E[x²]−E[x]² chain,
    // one dim-grain map-side-combined aggregate.
    Q("sim_dim_stats", (s, d) =>
      Similarity.dimStats(t(s, d, "embeddings"), "embedding"),
      Some("""
        WITH ex AS (SELECT i AS dim,
                CAST(round(embedding[i] * 1e6) AS BIGINT) AS xi
              FROM embeddings,
                UNNEST(generate_series(1, len(embedding))) AS u(i)
              WHERE embedding IS NOT NULL),
        agg AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(xi) AS BIGINT) AS sx,
                  CAST(sum(xi * xi) AS BIGINT) AS sxx,
                  CAST(sum(CASE WHEN xi = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_zero
                FROM ex GROUP BY 1)
        SELECT dim, n,
               CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT) AS mean_micro,
               CAST(round((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx)
                 / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS var_micro,
               n_zero
        FROM agg""")),

    // ---- embedding label confusion matrix -------------------------------
    // the full-matrix readout behind q112's per-label purity diagonal:
    // WHICH labels collide in embedding space (the weak-label audit a
    // relabeling pass starts from). Bounded broadcast centroids, one
    // corpus scan, deterministic (d, label) argmin.
    Q("sim_label_confusion", (s, d) =>
      Similarity.labelConfusion(t(s, d, "embeddings"),
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
        SELECT lbl, nearest, count(*) AS n
        FROM near GROUP BY 1, 2""")),

    // ---- int8 quantization audit ----------------------------------------
    // what affine int8 storage costs per dimension: min/max on the exact
    // 1e6 grid, mirrored quantize/dequantize rounds, exact integer
    // residuals — the "is int8 good enough for this encoder" number next
    // to sim_dim_stats.
    Q("sim_int8_quant", (s, d) =>
      Similarity.int8QuantError(t(s, d, "embeddings"), "embedding"),
      Some("""
        WITH ex AS (SELECT i AS dim,
                CAST(round(embedding[i] * 1e6) AS BIGINT) AS xi
              FROM embeddings,
                UNNEST(generate_series(1, len(embedding))) AS u(i)
              WHERE embedding IS NOT NULL),
        rg AS (SELECT dim, CAST(min(xi) AS BIGINT) AS mn,
                 CAST(max(xi) AS BIGINT) AS mx
               FROM ex GROUP BY 1),
        qd AS (SELECT ex.dim, xi, mn, mx,
                 CASE WHEN mx = mn THEN 0
                 ELSE CAST(round(255.0 * (xi - mn) / (mx - mn)) AS BIGINT)
                 END AS q
               FROM ex JOIN rg ON ex.dim = rg.dim),
        er AS (SELECT dim, mn, mx,
                 xi - (CASE WHEN mx = mn THEN mn
                       ELSE CAST(round(mn + q * (mx - mn) / 255.0) AS BIGINT)
                       END) AS e
               FROM qd)
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               min(mn) AS min_micro, min(mx) AS max_micro,
               CAST(sum(e * e) AS BIGINT) AS sse,
               CAST(round(sqrt(CAST(sum(e * e) AS DOUBLE) / count(*)))
                 AS BIGINT) AS rmse_micro
        FROM er GROUP BY 1""")),

    // ---- embedding dimension correlation probe ---------------------------
    // redundant (highly correlated) dimensions mean wasted width — the
    // whitening/OPQ motivation next to sim_pca_power. The ONE-aggregate
    // corrMatrix kernel over a probe prefix of 8 dims (the cell count is
    // C(dims,2); the probe shape is what a geometry audit reads, full-width
    // correlation belongs to the covariance pipeline): corpus scanned
    // once, 45 exact integer moments, 28 closing doubles from literals.
    Q("sim_dim_corr", (s, d) =>
      Stats.corrMatrix(t(s, d, "embeddings"), (1 to 8).map(i =>
        s"d$i" -> round(element_at(col("embedding"), i) * 1e6))),
      Some(dimCorrOracle(8))),

    // ---- language-ID confusion matrix ------------------------------------
    // the full matrix under q143's kappa scalar: WHICH declared languages
    // the n-gram heuristic mistakes for which — the per-cell audit that
    // says whether 'und' fallbacks or a specific language pair drive the
    // disagreement. One scan + one hash aggregate.
    Q("text_lang_confusion", (s, d) =>
      Tables.ts(s, d, "documents")
        .select(col("lang"), TextAnalysis.langId("text").as("pred"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n")),
      Some {
        val scores = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          s"len(list_filter(string_split(text, ' '), tk -> tk IN ${TextAnalysis.sqlSet(ms)})) AS s_$lang"
        }.mkString(",\n          ")
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val maxExpr = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val caseExpr = langs.map(l => s"WHEN s_$l = $maxExpr THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        s"""WITH scored AS (SELECT lang, $scores FROM documents)
          |SELECT lang, $caseExpr AS pred, count(*) AS n
          |FROM scored GROUP BY 1, 2""".stripMargin
      }),

    // ---- per-language document-length quantile bands ----------------------
    // p50/p90/p99 doc length per lang — the banded length report a
    // truncation/packing policy reads. Exact discrete quantiles (smallest
    // value reaching ceil(p·n/100)), integer arithmetic end to end; the
    // cumulative window partitions on the GROUP, never globally.
    Q("text_length_quantiles", (s, d) =>
      Stats.groupQuantiles(Tables.ts(s, d, "documents"), "lang", "n_chars"),
      Some("""
        WITH pv AS (SELECT lang AS grp, CAST(n_chars AS BIGINT) AS v,
                count(*) AS t
              FROM documents GROUP BY 1, 2),
        c AS (SELECT grp, v, t,
                CAST(sum(t) OVER (PARTITION BY grp ORDER BY v ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
                CAST(sum(t) OVER (PARTITION BY grp) AS BIGINT) AS n
              FROM pv)
        SELECT grp, max(n) AS n,
               min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS q50,
               min(CASE WHEN cum * 100 >= n * 90 THEN v END) AS q90,
               min(CASE WHEN cum * 100 >= n * 99 THEN v END) AS q99
        FROM c GROUP BY 1""")),

    // ---- Wasserstein-1 distribution shift --------------------------------
    // earth-mover distance between returned and delivered line-price
    // distributions — unlike KS (max gap) and JSD (bin counts), W₁ weighs
    // HOW FAR the mass moved. Exact CDF integral: value-grain counts, one
    // GlobalRank multi-sum pass, successor widths from the rank r ⋈ r+1
    // join, DECIMAL term accumulation, one closing mirrored double.
    // Dollars (valScale 1) keep the value grain at ~100k (the cents grain
    // adds nothing to a distance already integrating over the domain).
    Q("q152_wasserstein", (s, d) =>
      Stats.wasserstein1(t(s, d, "lineitem"), "l_returnflag",
        "l_extendedprice", "R", "N", valScale = 1.0),
      Some("""
        WITH base AS (SELECT CAST(round(l_extendedprice * 1.0) AS BIGINT)
                AS v, (l_returnflag = 'R') AS isa
              FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        pv AS (SELECT v,
                 CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ta,
                 CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS tb
               FROM base GROUP BY 1),
        c AS (SELECT v, row_number() OVER (ORDER BY v ASC) AS r,
                CAST(sum(ta) OVER (ORDER BY v ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS ca,
                CAST(sum(tb) OVER (ORDER BY v ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cb,
                CAST(sum(ta) OVER () AS BIGINT) AS na,
                CAST(sum(tb) OVER () AS BIGINT) AS nb
              FROM pv),
        terms AS (SELECT CAST(abs(f.ca * f.nb - f.cb * f.na) AS HUGEINT)
                    * (g.v - f.v) AS term
                  FROM c f JOIN c g ON g.r = f.r + 1),
        tot AS (SELECT max(na) AS na, max(nb) AS nb FROM c)
        SELECT na AS n_a, nb AS n_b,
               CAST(round(1e6 * CAST((SELECT coalesce(sum(term), 0)
                   FROM terms) AS DOUBLE)
                 / (CAST(na AS DOUBLE) * nb * 1.0)) AS BIGINT) AS w1_micro
        FROM tot""")))
}
