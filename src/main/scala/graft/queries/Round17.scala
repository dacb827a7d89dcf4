package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftSession.withConf
import graft.operators.{CompandedWav, EvalText, Similarity, Wordpiece}

/** Round-17 queries:
  *  - text_chrf: corpus chrF + chrF++ over the same lossy-paraphrase
  *    pairs as text_bleu — character-grain gram tables through the same
  *    fused single-pass counting and [[EvalText]] oracle machinery,
  *    completing the standard generation-eval triple (BLEU, ROUGE, chrF);
  *  - text_wordpiece: WordPiece tokenizer training — BPE's merge loop
  *    with the likelihood-ratio score and `##` continuation marking,
  *    completing the tokenizer-family triple (BPE, unigram-LM, WordPiece);
  *  - mm_msadpcm_stats: MS-ADPCM (WAV format tag 2) through the
  *    CompandedWav door — the oracle replays the coefficient-pair
  *    predictor recursion per class, so every one of the 1200 state
  *    transitions (truncating division, both clamps, delta adaptation)
  *    must match the Scala decoder exactly;
  *  - sim_opq_index: OPQ-lite — [[graft.operators.Similarity.pcaPower]]'s
  *    discipline composed into the persisted-PQ lifecycle as a full-rank
  *    learned rotation (driver-side power iteration with in-loop
  *    Gram-Schmidt projection-deflation over the one-scan dim×dim moment
  *    matrix) plus round-robin eigenvalue allocation; the oracle replays
  *    the eigen loop as a 64-step recursive CTE carrying the accumulated
  *    rotation rows as LIST state, then runs the unchanged PQ replay over
  *    the rotated vectors;
  *  - sim_opq_append: the OPQ append lifecycle — rotation + codebooks as
  *    the frozen quantizer contract, the oracle learning its replayed
  *    rotation from the build slice only;
  *  - text_ter: shift-less TER (word-level Levenshtein / ref length) via
  *    the native [[graft.functions.WordEditDistance]] kernel, completing
  *    the BLEU/ROUGE/chrF/TER eval quartet; the oracle replays the DP at
  *    (doc, ref-pos) grain via the prefix-min identity.
  */
object Round17 {

  /** Per-class MS-ADPCM block headers: predictor-class index (covering
    * four of the seven coefficient pairs), initial delta, sample1,
    * sample2 — shared with the oracle's `cf` VALUES row by row. */
  private val MsPred = Array(0, 1, 3, 5)
  private val MsDelta0 = Array(16, 32, 50, 100)

  /** sim_opq_index's rotation replay: mirrors
    * [[graft.operators.Similarity.opqRotation]] constant for constant as
    * recursive-CTE state — ONE single-row step per component carrying
    * only the accumulated rotation rows (`racc`); the 64×64 moment
    * matrix (`sm`, row-major HUGEINT list) is CONSTANT (projection-
    * deflation — no matrix mutation) and re-joined from `mom` each step.
    * Inside each step the three power rounds each apply the classical
    * Gram-Schmidt projection against all accepted rows (one list
    * expression over `racc` — the reason the Scala side uses classical,
    * not modified, GS) before the matvec, and the final iterate is
    * projected once more and L2-normalized through the isqrt-corrected
    * integer sqrt. Every floored division of a possibly-negative
    * numerator uses the shared `(a - ((a % b + b) % b)) // b` form (`%`
    * follows the dividend sign in both engines; the final division is
    * exact); nonneg renormalizations use the `((t + m) * s) // m - s`
    * form — the [[Curation]] pcaPower discipline. `rote` then applies
    * the round-robin-permuted rows (position p takes component
    * (p%8)*8 + p//8) to the grid vectors and hands exact-integer-valued
    * REALs to the unchanged PQ replay tail. */
  private def opqPreCtes(momWhere: String = "TRUE"): String = {
    val dim = 64; val sc = 1000000L
    def fd(a: String, b: String) =
      s"(($a) - ((($a) % ($b) + ($b)) % ($b))) // ($b)"
    val carry = "k, racc, sm, nns"
    // GS projection: two levels (dots against accepted rows, then the
    // corrected iterate); g comes out as a HUGEINT list
    def gsLevels(wname: String, gname: String, inner: String): String =
      s"""SELECT $carry,
        |  list_transform(range(0, $dim), i ->
        |    CAST($wname[i + 1] AS HUGEINT) - coalesce(
        |      list_sum(list_transform(range(0, k), l ->
        |        CASE WHEN nns[l + 1] = 0 THEN CAST(0 AS HUGEINT)
        |             ELSE ${fd(s"pds[l + 1] * racc[l * $dim + i + 1]",
                           "nns[l + 1]")} END)),
        |      CAST(0 AS HUGEINT))) AS $gname
        |FROM (
        |  SELECT $carry, $wname,
        |    list_transform(range(0, k), l -> list_sum(
        |      list_transform(range(0, $dim), j ->
        |        CAST($wname[j + 1] AS HUGEINT)
        |          * racc[l * $dim + j + 1]))) AS pds
        |  FROM ($inner))""".stripMargin
    val base = s"""SELECT k, racc, sm,
      |  list_transform(range(0, k), l -> list_sum(
      |    list_transform(range(0, $dim), j ->
      |      CAST(racc[l * $dim + j + 1] AS HUGEINT)
      |        * racc[l * $dim + j + 1]))) AS nns,
      |  list_transform(range(0, $dim), i ->
      |    CAST((k * $dim + i) * 2654435761 % 1000003 - 500000 AS BIGINT)) AS w0
      |FROM est, mom WHERE k < $dim""".stripMargin
    // three power rounds: GS-project the iterate, matvec on the constant
    // moment matrix, renormalize to the grid (m = 0 keeps the projection)
    val rounds = (1 to 3).foldLeft(base) { (inner, r) =>
      val w = if (r == 1) "w0" else s"w${r - 1}"
      s"""SELECT $carry,
        |  CASE WHEN m$r = 0 THEN list_transform(g$r, x -> CAST(x AS BIGINT))
        |       ELSE list_transform(t$r,
        |         x -> CAST(((x + m$r) * $sc) // m$r - $sc AS BIGINT)) END AS w$r
        |FROM (
        |  SELECT $carry, g$r, t$r,
        |    list_max(list_transform(t$r, x -> abs(x))) AS m$r
        |  FROM (
        |    SELECT $carry, g$r,
        |      list_transform(range(0, $dim), i -> list_sum(
        |        list_transform(range(0, $dim),
        |          j -> sm[i * $dim + j + 1] * g$r[j + 1]))) AS t$r
        |    FROM (
        |${gsLevels(w, s"g$r", inner)})))""".stripMargin
    }
    s"""xg AS (SELECT vec_id AS id,
      |    list_transform(range(1, ${dim + 1}), i ->
      |      CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
      |        * $sc.0) AS BIGINT)) AS xa
      |  FROM embeddings),
      |mom AS (SELECT list(s ORDER BY i, j) AS sm FROM (
      |  SELECT t.i AS i, u.j AS j,
      |    sum(CAST(xg.xa[CAST(t.i AS INT)] AS HUGEINT)
      |        * xg.xa[CAST(u.j AS INT)]) AS s
      |  FROM (SELECT * FROM xg WHERE $momWhere) xg,
      |       range(1, ${dim + 1}) t(i), range(1, ${dim + 1}) u(j)
      |  GROUP BY 1, 2)),
      |est(k, racc) AS (
      |  SELECT 0, CAST([] AS BIGINT[])
      |  UNION ALL
      |  SELECT k + 1, racc || u
      |  FROM (
      |    SELECT $carry,
      |      CASE WHEN ssq = 0
      |           THEN list_transform(g, x -> CAST(x AS BIGINT))
      |           ELSE list_transform(g, x ->
      |             CAST(${fd(s"x * $sc", "rc")} AS BIGINT)) END AS u
      |    FROM (
      |      SELECT $carry, g, ssq,
      |        CASE WHEN r0 * r0 > ssq THEN r0 - 1
      |             WHEN (r0 + 1) * (r0 + 1) <= ssq THEN r0 + 1
      |             ELSE r0 END AS rc
      |      FROM (
      |        SELECT $carry, g, ssq,
      |          CAST(floor(sqrt(CAST(ssq AS DOUBLE))) AS BIGINT) AS r0
      |        FROM (
      |          SELECT $carry, g,
      |            list_sum(list_transform(g, x -> x * x)) AS ssq
      |          FROM (
      |${gsLevels("w3", "g", rounds)})))))
      |  ),
      |rfin AS (SELECT racc FROM est WHERE k = $dim),
      |rote AS (SELECT x.id AS id,
      |    list_transform(range(0, $dim), p -> CAST(CAST(list_sum(
      |      list_transform(range(0, $dim), i ->
      |        CAST(r.racc[((p % 8) * 8 + p // 8) * $dim + i + 1] AS HUGEINT)
      |          * x.xa[i + 1])) AS DOUBLE) AS REAL)) AS v
      |  FROM xg x, rfin r)""".stripMargin
  }

  val defs: Seq[Q] = Seq(

    // ---- MS ADPCM through the stats gate --------------------------------
    // the fourth spec-bounded audio door (format tag 2): per-block
    // coefficient-pair linear prediction + delta adaptation; nibble
    // formulas and per-class headers shared with the recursive-CTE
    // oracle, which walks all 1200 (s1, s2, delta) transitions per class
    Q("mm_msadpcm_stats", (s, d) => {
      val payloads = (0 until 4).map(k =>
        CompandedWav.msWavFromNibbles(MsPred(k), MsDelta0(k),
          k * 500, k * 250,
          Array.tabulate(Round16.ImaN)(i => Round16.imaNibble(k, i.toLong)),
          8000))
      Round16.audioStatsQuery(s, d, payloads)
    }, Some(s"""
      WITH RECURSIVE
      adp(anib, ad) AS (VALUES
        ${CompandedWav.MsAdaptTable.zipWithIndex
          .map { case (a, ix) => s"($ix,$a)" }.mkString(",")}),
      cf(cls, c1, c2, d0, s10, s20) AS (VALUES
        ${(0 until 4).map(k => s"($k,${CompandedWav.MsCoefs(MsPred(k))._1}," +
          s"${CompandedWav.MsCoefs(MsPred(k))._2},${MsDelta0(k)}," +
          s"${k * 500},${k * 250})").mkString(",")}),
      cl AS (SELECT DISTINCT doc_id % 4 AS cls FROM documents
             WHERE doc_id < 400),
      dec AS (
        SELECT f.cls, CAST(0 AS BIGINT) AS j,
               CAST(f.s10 AS BIGINT) AS s1, CAST(f.s20 AS BIGINT) AS s2,
               CAST(f.d0 AS BIGINT) AS delta
        FROM cf f JOIN cl USING (cls)
        UNION ALL
        SELECT cls, j + 1,
          least(32767, greatest(-32768, pb + sn * delta)),
          s1,
          least(32767, greatest(16,
            ((ad * delta) - ((ad * delta) % 256)) // 256))
        FROM (
          SELECT cls, j, s1, s2, delta, nib, ad,
                 CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END AS sn,
                 ((s1 * c1 + s2 * c2) - ((s1 * c1 + s2 * c2) % 256))
                   // 256 AS pb
          FROM (
            SELECT cls, j, s1, s2, delta, c1, c2,
                   CAST(${Round16.imaNibbleSql} AS BIGINT) AS nib
            FROM (
              SELECT d0.cls AS cls, d0.j AS j, d0.s1 AS s1, d0.s2 AS s2,
                     d0.delta AS delta, f.c1 AS c1, f.c2 AS c2
              FROM dec d0 JOIN cf f ON f.cls = d0.cls
              WHERE d0.j < ${Round16.ImaN}) z) a
          JOIN adp ON adp.anib = a.nib) b),
      sm AS (
        SELECT cls, CAST(0 AS BIGINT) AS i, s2 AS m FROM dec WHERE j = 0
        UNION ALL
        SELECT cls, j + 1 AS i, s1 AS m FROM dec),
      sl AS (SELECT cls, i, m,
               lag(m) OVER (PARTITION BY cls ORDER BY i) AS pm FROM sm),
      ${Round16.audioStatsReadout("doc_id < 400")}""")),

    // ---- WordPiece tokenizer training ---------------------------------
    // which merges does the LIKELIHOOD score pick, at what pair/unit
    // counts? (diverges from text_bpe's frequency trajectory whenever a
    // rarer pair of rarer symbols beats a frequent pair of ubiquitous
    // ones — the hand case in Round17OpsSpec); the oracle replays all 8
    // rounds' unit counts, pair counts, argmax and fold rewrite
    Q("text_wordpiece", (s, d) =>
      Wordpiece.train(Tables.ts(s, d, "documents"), "text", merges = 8),
      Some(Wordpiece.trainOracleSql(8))),

    // ---- OPQ-lite: learned rotation before the PQ block split ----------
    // pcaPower composed into the PQ lifecycle: full-rank power-iteration +
    // deflation rotation learned from ONE corpus scan (the bounded dim×dim
    // moment matrix), eigenvalue-allocation-lite round-robin dimension
    // assignment, then the unchanged persisted-PQ build/query. The oracle
    // replays the entire pipeline — the eigen loop as a 64-step recursive
    // CTE, then the sim_pq_index Lloyd/ADC tail over rotated vectors.
    Q("sim_opq_index", (s, d) =>
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        val dir = java.nio.file.Files.createTempDirectory("opq-index")
        dir.toFile.deleteOnExit()
        val e = Tables.t(s, d, "embeddings")
        Similarity.buildOpqIndex(e, "vec_id", "embedding", dir.toString)
        Similarity.queryOpqIndex(s, dir.toString,
          e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          k = 10)
      },
      Some(Curation.pqIndexOracle("TRUE", "SELECT id, v FROM rote",
        opqPreCtes()))),

    // OPQ index APPEND lifecycle: rotation + codebooks are BOTH part of
    // the frozen quantizer contract learned at build — the oracle learns
    // its replayed rotation from the build slice only (momWhere) and
    // trains its Lloyd CTEs on id < 1000, then assigns codes and scores
    // ADC corpus-wide, so append-then-query must equal the one-shot
    // pinned-train build (the sim_pq_append discipline, rotation
    // included).
    Q("sim_opq_append", (s, d) =>
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        val dir = java.nio.file.Files.createTempDirectory("opq-append")
        dir.toFile.deleteOnExit()
        val e = Tables.t(s, d, "embeddings")
        Similarity.buildOpqIndex(e.filter(col("vec_id") < 1000), "vec_id",
          "embedding", dir.toString)
        Similarity.appendOpqIndex(
          e.filter(col("vec_id") >= 1000 && col("vec_id") % 2 === 0),
          "vec_id", "embedding", dir.toString)
        Similarity.appendOpqIndex(
          e.filter(col("vec_id") >= 1000 && col("vec_id") % 2 === 1),
          "vec_id", "embedding", dir.toString)
        Similarity.queryOpqIndex(s, dir.toString,
          e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding",
          k = 10)
      },
      Some(Curation.pqIndexOracle("id < 1000", "SELECT id, v FROM rote",
        opqPreCtes("id < 1000")))),

    // ---- TER (translation edit rate, shift-less) -----------------------
    // the fourth standard generation-eval metric next to BLEU/ROUGE/chrF:
    // word-level Levenshtein over reference length via the native
    // WordEditDistance kernel; the oracle replays the DP at (doc, ref-pos)
    // grain using the prefix-min identity + running-min window (the
    // serial in-row dependence never exists in SQL)
    Q("text_ter", (s, d) =>
      EvalText.ter(Round15.evalPairs(s, d), "id", "cand", "ref"),
      Some(EvalText.terOracleSql(Round15.evalPairsCte))),

    // ---- chrF / chrF++ -------------------------------------------------
    // the third metric of the generation-eval triple: character-n-gram
    // F-score (orders 1-6, whitespace removed) averaged with β=2 recall
    // weighting; chrF++ extends the average with word 1/2-grams. Every
    // per-order match/total is an exact corpus integer; both closing
    // doubles share the fragment with the oracle.
    // 4 MB advisory scope: the gram-count exchanges carry few BYTES at
    // eval-panel size but heavy per-row aggregate/join work, so default
    // byte-sized AQE coalescing serialized the match/total stages into
    // 1-3 tasks (measured ~2.5 s single-task stages). No-op at scale —
    // coalescing only merges below-advisory partitions, never splits.
    Q("text_chrf", (s, d) =>
      withConf(s, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4L << 20).toString) {
        EvalText.chrF(Round15.evalPairs(s, d), "id", "cand", "ref")
      },
      Some(EvalText.chrfOracleSql(Round15.evalPairsCte)))
  )
}
