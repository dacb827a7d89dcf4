package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftSession.withConf
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.functions.{HashExprs => H, VectorExprs => V}

/** LLM-training-data pipeline extensions: dedup (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard / embedding cosine), similarity search (brute
  * force + random-projection LSH), and text analysis.
  *
  * Oracle strategy: every sketch is exact integer arithmetic and every
  * cosine a fixed-order IEEE fold, so the DuckDB oracle runs the *same
  * algorithm* (generated from the same constants in
  * [[graft.functions.HashExprs]] / [[graft.functions.VectorExprs]]) and the
  * driver's hash compare is exact by construction — the LSH variants are
  * verified as deterministic algorithms, and their *recall* is measured
  * against the brute-force operators in the test suite.
  */
object Extensions {
  import Tables.t

  private val docsSql =
    s"""WITH wh AS (SELECT doc_id, ${H.duckWordHashes("text")} AS wh FROM documents),
       |sh AS (SELECT doc_id, ${H.duckShingles("wh")} AS sh FROM wh)""".stripMargin

  /** First-occurrence novelty scoring — shared verbatim by text_novelty
    * and text_novelty_incremental (id-ordered incremental batches must
    * reproduce the one-shot scoring exactly). */
  private val noveltyOracle =
    s"""$docsSql,
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       |exn AS (SELECT doc_id, s FROM ex WHERE s IS NOT NULL),
       |f AS (SELECT s, min(doc_id) AS first_id FROM exn GROUP BY s)
       |SELECT exn.doc_id AS doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN f.first_id = exn.doc_id THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN f.first_id = exn.doc_id THEN 1 ELSE 0 END)
       |       * 10000 // count(*) AS BIGINT) AS novelty_bp
       |FROM exn JOIN f ON exn.s = f.s
       |GROUP BY exn.doc_id""".stripMargin

  /** The MinHash-LSH pair pipeline as a reusable CTE chain ending in
    * `pairs(id_a, id_b)` — shared by dedup_minhash and dedup_clusters. */
  private[queries] val minhashPairCtes =
    s"""$docsSql,
       |mh AS (SELECT doc_id, ${H.duckMinhash("sh")} AS mh FROM sh),
       |bands AS (SELECT doc_id, unnest(${H.duckBands("mh")}) AS bv FROM mh),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b ON a.bv = b.bv AND a.doc_id < b.doc_id),
       |pairs AS (SELECT id_a, id_b
       |  FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
       |            JOIN sh sb ON cand.id_b = sb.doc_id
       |  WHERE len(list_intersect(sa.sh, sb.sh)) * 10
       |        >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 7)""".stripMargin

  /** The banded RP-LSH near-dup pair pipeline (2 planes × 8 tables, the
    * dedup_embed_lsh parameters) as a CTE chain ending in
    * `lshp(id_a, id_b)`: bucket ids per table from the SAME deterministic
    * integer-constructed hyperplanes Spark uses
    * ([[graft.functions.VectorExprs.sparkRpBucketOffset]]), candidates =
    * pairs colliding in ≥ 1 band, verified on the HALF_UP(4) exact-cosine
    * grid. Shared by dedup_embed_lsh and dedup_embed_clusters_lsh. */
  private val lshTables = 8
  private val lshPlanes = 2
  private[queries] val lshPairsCte = {
    val buckets = (0 until lshTables).map(tb =>
      s"${V.duckRpBucketOffset("embedding", lshPlanes, 64, tb * lshPlanes)} AS bk$tb")
      .mkString(",\n             ")
    val collide = (0 until lshTables).map(tb => s"a.bk$tb = c.bk$tb")
      .mkString(" OR ")
    s"""b AS (SELECT vec_id AS id, embedding AS v,
       |             $buckets
       |      FROM embeddings),
       |cand AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b
       |         FROM b a JOIN b c ON a.id < c.id AND ($collide)),
       |lshp AS (SELECT id_a, id_b
       |  FROM cand JOIN b ba ON cand.id_a = ba.id
       |            JOIN b bc ON cand.id_b = bc.id
       |  WHERE round(${V.duckCosine("ba.v", "bc.v")}, 4) >= 0.45)""".stripMargin
  }

  private[queries] val lshPairsOracle =
    s"WITH $lshPairsCte\nSELECT id_a, id_b FROM lshp"

  /** Deterministic replay of the full IVF×PQ×rerank pipeline
    * ([[graft.operators.Similarity.ivfPqRerankTopK]] at the sim_ivfpq
    * parameters: dim 64, 8 blocks × 8 dims, 16-code codebooks, 2 Lloyd
    * iters, 8 cells, nprobe 6, 100 candidates, top 10). Structure:
    *   e/q       raw vectors + IEEE norms (the shared fixed-order fold)
    *   s/sq      per-block unit-normalized slices scaled to 1e-6 ints —
    *             the exact scaledG(normSlice(...)) arithmetic
    *   c0,a_,c_  rank-seeded integer Lloyd rounds per block (q54_kmeans'
    *             CTE pattern with a block group key; FLOOR `//` means)
    *   codes     final full-corpus code assignment
    *   seeds/ccell/probes  IVF coarse cells: float-cosine argmin, the
    *             sim_ivf oracle shape
    *   adc/cand  integer ADC partial distances summed per (query, vector)
    *             meeting in a probed cell, top-100 by (adist, id)
    *   rerank    exact cosine on the candidate list, HALF_UP(6) grid. */
  private[queries] val ivfPqOracle: String = {
    val blocks = 8; val bw = 8; val codebook = 16; val nprobe = 6
    val sqd8 = (x: String, c: String) =>
      s"list_sum(list_transform(range(1, ${bw + 1}), j -> ($x[j] - $c[j]) * ($x[j] - $c[j])))"
    val rounds = (1 to 2).map { i =>
      s"""a$i AS (SELECT block, id, xs, cid FROM (
         |  SELECT s.block, s.id, s.xs, c.cid,
         |    row_number() OVER (PARTITION BY s.block, s.id
         |      ORDER BY ${sqd8("s.xs", "c.cs")} ASC, c.cid ASC) AS rn
         |  FROM s JOIN c${i - 1} c ON s.block = c.block) WHERE rn = 1),
         |c$i AS (SELECT block, cid, list(v ORDER BY dim) AS cs FROM (
         |  SELECT a.block, a.cid, t.i AS dim,
         |    CAST(floor(CAST(sum(a.xs[t.i]) AS DOUBLE) / count(*)) AS BIGINT)
         |      AS v
         |  FROM a$i a CROSS JOIN range(1, ${bw + 1}) t(i) GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""
    |WITH e AS (SELECT vec_id AS id, embedding AS v,
    |      SQRT(${V.duckDot("embedding", "embedding")}) AS nrm
    |    FROM embeddings),
    |q AS (SELECT id, v, nrm FROM e WHERE id % 10 = 0),
    |s AS (SELECT id, b.blk AS block,
    |    list_transform(range(1, ${bw + 1}),
    |      i -> CAST(round(v[b.blk * $bw + i]::DOUBLE / nrm * 1000000.0) AS BIGINT)) AS xs
    |  FROM e CROSS JOIN range(0, $blocks) b(blk)),
    |sq AS (SELECT id, b.blk AS block,
    |    list_transform(range(1, ${bw + 1}),
    |      i -> CAST(round(v[b.blk * $bw + i]::DOUBLE / nrm * 1000000.0) AS BIGINT)) AS xs
    |  FROM q CROSS JOIN range(0, $blocks) b(blk)),
    |c0 AS (SELECT block, rn - 1 AS cid, xs AS cs FROM (
    |  SELECT block, xs, row_number() OVER (PARTITION BY block ORDER BY id) AS rn
    |  FROM s) WHERE rn <= $codebook),
    |$rounds,
    |codes AS (SELECT block, id, cid AS code FROM (
    |  SELECT s.block, s.id, c.cid,
    |    row_number() OVER (PARTITION BY s.block, s.id
    |      ORDER BY ${sqd8("s.xs", "c.cs")} ASC, c.cid ASC) AS rn
    |  FROM s JOIN c2 c ON s.block = c.block) WHERE rn = 1),
    |seeds AS (SELECT id AS cell, v AS sv, nrm AS sn FROM e ORDER BY id LIMIT $blocks),
    |ccell AS (SELECT id, cell FROM (
    |  SELECT e.id, s.cell,
    |    row_number() OVER (PARTITION BY e.id
    |      ORDER BY ${V.duckDot("e.v", "s.sv")} / (e.nrm * s.sn) DESC, s.cell ASC) AS rn
    |  FROM e CROSS JOIN seeds s) WHERE rn = 1),
    |probes AS (SELECT id AS query_id, cell FROM (
    |  SELECT q.id, s.cell,
    |    row_number() OVER (PARTITION BY q.id
    |      ORDER BY ${V.duckDot("q.v", "s.sv")} / (q.nrm * s.sn) DESC, s.cell ASC) AS rn
    |  FROM q CROSS JOIN seeds s) WHERE rn <= $nprobe),
    |adc AS (SELECT sq.id AS query_id, sq.block, c.cid AS code,
    |    ${sqd8("sq.xs", "c.cs")} AS pd
    |  FROM sq JOIN c2 c ON sq.block = c.block),
    |cand AS (SELECT p.query_id, codes.id AS neighbor_id,
    |    sum(adc.pd) AS adist
    |  FROM codes
    |  JOIN ccell ON codes.id = ccell.id
    |  JOIN probes p ON ccell.cell = p.cell AND p.query_id <> codes.id
    |  JOIN adc ON adc.query_id = p.query_id AND adc.block = codes.block
    |           AND adc.code = codes.code
    |  GROUP BY 1, 2),
    |cand100 AS (SELECT query_id, neighbor_id FROM (
    |  SELECT query_id, neighbor_id,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY adist ASC, neighbor_id ASC) AS rn
    |  FROM cand) WHERE rn <= 100),
    |rer AS (SELECT c.query_id, c.neighbor_id,
    |    ${V.duckCosine("qe.v", "ne.v")} AS cos
    |  FROM cand100 c JOIN e qe ON c.query_id = qe.id
    |                 JOIN e ne ON c.neighbor_id = ne.id)
    |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM (
    |  SELECT query_id, neighbor_id, cos,
    |    row_number() OVER (PARTITION BY query_id
    |      ORDER BY cos DESC, neighbor_id ASC) AS rank
    |  FROM rer) WHERE rank <= 10""".stripMargin
  }

  def defs: Seq[Q] = Seq(
    // ---- dedup family -------------------------------------------------
    Q("dedup_exact", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      Dedup.exact(docs.unionByName(docs), Seq("text"), "doc_id")
        .select(col("kept_id"), col("copies"))
    }, Some("""
      SELECT min(doc_id) AS kept_id, count(*) AS copies
      FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
      GROUP BY text""")),

    Q("dedup_minhash", (s, d) =>
      Dedup.minhashNearDups(Tables.ts(s, d, "documents"), "doc_id", "text", 7, 10),
      Some(s"""$minhashPairCtes
        |SELECT id_a, id_b FROM pairs""".stripMargin)),

    // persisted MinHash-LSH index lifecycle — the production near-dup
    // shape at 100 TB: sketch the corpus ONCE (build on slice A, append
    // slice B without rescanning A), then each day's probes (slice C) pay
    // only their own shingling + joins against the stored postings. The
    // oracle replays the full banding over everything and restricts to
    // probe×corpus pairs — append ≡ rebuild because band boundaries are
    // data-independent (no trained state, unlike IVF seeds).
    Q("dedup_minhash_index", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("mh-index").toString
      Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", dir)
      Dedup.appendMinhashIndex(docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", dir)
      Dedup.queryMinhashIndex(s, dir,
        docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", 7, 10)
    }, Some(s"""$docsSql,
      |mh AS (SELECT doc_id, ${H.duckMinhash("sh")} AS mh FROM sh),
      |bands AS (SELECT doc_id, unnest(${H.duckBands("mh")}) AS bv FROM mh),
      |cand AS (SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS match_id
      |         FROM bands a JOIN bands b ON a.bv = b.bv
      |           AND a.doc_id <> b.doc_id
      |         WHERE a.doc_id % 3 = 2 AND b.doc_id % 3 <> 2)
      |SELECT probe_id, match_id
      |FROM cand JOIN sh sa ON cand.probe_id = sa.doc_id
      |          JOIN sh sb ON cand.match_id = sb.doc_id
      |WHERE len(list_intersect(sa.sh, sb.sh)) * 10
      |      >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 7"""
      .stripMargin)),

    // STREAMING probe against the persisted MinHash index — the
    // crawl-ingest production shape: the corpus index sits on disk
    // (build + append as above), and the day's documents arrive as a
    // STREAM that shingles/bands itself inline (no persist on an
    // unbounded frame), stream-static joins the stored postings, and
    // verifies exact Jaccard against the stored shingle sets. Candidate
    // multiplicity (several band collisions per pair) is deduped at the
    // sink, where the result is a bounded table. Same semantics as
    // dedup_minhash_index, so the oracle is the same banding replay.
    Q("dedup_stream_index_probe", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.functions.HashNative
      import graft.functions.HashExprs.sparkBands
      val docs = Tables.ts(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("mh-sidx").toString
      Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", dir)
      Dedup.appendMinhashIndex(docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", dir)
      val sch = Tables.t(s, d, "documents").schema
      val probes = s.readStream.schema(sch)
        .parquet(Tables.stagedStreamDir(d, "documents"))
        .filter(col("doc_id") % 3 === 2)
      val psh = probes
        .select(col("doc_id").as("probe_id"),
          HashNative.wordHashes(col("text")).as("wh"))
        .select(col("probe_id"), HashNative.shingleHashes(col("wh")).as("sa"))
      val pBands = psh
        .withColumn("mh", HashNative.minhashSig(col("sa")))
        .select(col("probe_id"), col("sa"),
          explode(expr(sparkBands("mh"))).as("bv"))
      val postings = s.read.parquet(s"$dir/postings")
        .select(col("id").as("match_id"), col("bv"))
      val corpusSh = s.read.parquet(s"$dir/shingles")
        .select(col("id").as("match_id"), col("sh").as("sb"))
      val verified = pBands
        .join(postings, Seq("bv"))
        .filter(col("probe_id") =!= col("match_id"))
        .join(corpusSh, Seq("match_id"))
        .withColumn("inter", size(array_intersect(
          expr("filter(sa, x -> x IS NOT NULL)"), col("sb"))))
        .filter(col("inter") * 10 >=
          (size(col("sa")) + size(col("sb")) - col("inter")) * 7)
        .select(col("probe_id"), col("match_id"))
      val q = verified.writeStream.format("memory")
        .queryName("mh_sidx_stream")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("mh_sidx_stream").distinct()
    }, Some(s"""$docsSql,
      |mh AS (SELECT doc_id, ${H.duckMinhash("sh")} AS mh FROM sh),
      |bands AS (SELECT doc_id, unnest(${H.duckBands("mh")}) AS bv FROM mh),
      |cand AS (SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS match_id
      |         FROM bands a JOIN bands b ON a.bv = b.bv
      |           AND a.doc_id <> b.doc_id
      |         WHERE a.doc_id % 3 = 2 AND b.doc_id % 3 <> 2)
      |SELECT probe_id, match_id
      |FROM cand JOIN sh sa ON cand.probe_id = sa.doc_id
      |          JOIN sh sb ON cand.match_id = sb.doc_id
      |WHERE len(list_intersect(sa.sh, sb.sh)) * 10
      |      >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 7"""
      .stripMargin)),

    // cross-source duplicate overlap matrix: near-dup pairs rolled up by
    // the (source, source) they straddle — the "which feeds re-crawl each
    // other" audit that decides dataset precedence before dedup keeps one
    // copy. Canonical unordered source pair so both directions land in
    // one cell; pair volume is the minhash near-dup output, orders of
    // magnitude below corpus grain.
    Q("dedup_source_overlap", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", 7, 10)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("sb")), "id_b")
        .groupBy(least(col("sa"), col("sb")).as("source_lo"),
          greatest(col("sa"), col("sb")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
    }, Some(s"""$minhashPairCtes
      |SELECT least(da.source, db.source) AS source_lo,
      |       greatest(da.source, db.source) AS source_hi,
      |       count(*) AS n_pairs
      |FROM pairs JOIN documents da ON pairs.id_a = da.doc_id
      |           JOIN documents db ON pairs.id_b = db.doc_id
      |GROUP BY 1, 2""".stripMargin)),

    // pairs -> duplicate clusters -> survivors: connected components via
    // min-label propagation (Spark) vs transitive closure (DuckDB recursive
    // CTE) — independent algorithms, identical fixpoint
    Q("dedup_clusters", (s, d) =>
      Dedup.fuzzyDedup(Tables.ts(s, d, "documents"), "doc_id", "text", 7, 10),
      Some(s"""${minhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS id, min(dst) AS cluster,
        |       (src = min(dst)) AS is_kept
        |FROM reach GROUP BY src""".stripMargin)),

    // dup clusters -> best-quality representative: real pipelines keep the
    // HIGHEST-QUALITY member of each duplicate cluster, not the min-id one.
    // Reuses the minhash clustering, joins the quality score, and picks the
    // (quality desc, id asc) head per cluster with its member count — the
    // window rides the cluster key the clustering already shuffled on.
    Q("dedup_best_rep", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      val clusters = Dedup.fuzzyDedup(docs, "doc_id", "text", 7, 10)
      val quality = docs.select(col("doc_id").as("id"),
        TextAnalysis.qualityScoreX1e4("text").as("qual_x1e4"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("qual_x1e4").desc, col("id").asc)
      clusters.join(quality, "id")
        .withColumn("n_members",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("id").as("rep_id"),
          col("qual_x1e4").as("rep_qual_x1e4"), col("n_members"))
    }, Some(s"""${minhashPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |clusters AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
      |quality AS (SELECT doc_id AS id, (
      |    (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 10000
      |          WHEN length(text) < 100 THEN length(text) * 100
      |          ELSE 2000 END) * 4
      |    + (len(list_filter(string_split(text, ' '),
      |         t -> t IN ('the', 'a', 'of', 'and'))) * 30000)
      |        // len(string_split(text, ' '))
      |    + ((length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 30000)
      |        // length(text)
      |  ) // 10 AS qual_x1e4 FROM documents),
      |joined AS (SELECT c.cluster, c.id, q.qual_x1e4,
      |    count(*) OVER (PARTITION BY c.cluster) AS n_members,
      |    row_number() OVER (PARTITION BY c.cluster
      |      ORDER BY q.qual_x1e4 DESC, c.id ASC) AS rn
      |  FROM clusters c JOIN quality q ON c.id = q.id)
      |SELECT cluster, id AS rep_id, qual_x1e4 AS rep_qual_x1e4, n_members
      |FROM joined WHERE rn = 1""".stripMargin)),

    Q("dedup_ngram", (s, d) =>
      Dedup.ngramNearDups(Tables.ts(s, d, "documents"), "doc_id", "text", 7, 10),
      Some(s"""$docsSql
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 10
        |      >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 7""".stripMargin)),

    // containment near-dups: asymmetric overlap (inter vs the SMALLER
    // shingle set) — catches a short doc quoted inside a long one, which
    // Jaccard dilutes away. Same postings kernel as dedup_ngram.
    Q("dedup_containment", (s, d) =>
      Dedup.containmentPairs(Tables.ts(s, d, "documents"), "doc_id", "text", 8, 10),
      Some(s"""$docsSql
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS shared_shingles
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 10
        |      >= least(len(a.sh), len(b.sh)) * 8""".stripMargin)),

    // contamination attribution: the eval item each contaminated doc
    // overlaps MOST (ties -> lowest eval id) — the audit view behind
    // text_decontaminate's boolean gate
    Q("text_decontaminate_top", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      Dedup.decontaminateReport(docs, docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", minShared = 3)
    },
      Some(s"""$docsSql,
        |ev AS (SELECT DISTINCT doc_id AS eval_id, s FROM
        |         (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 50 = 0)
        |       WHERE s IS NOT NULL),
        |cs AS (SELECT DISTINCT doc_id, s FROM
        |         (SELECT doc_id, unnest(sh) AS s FROM sh)
        |       WHERE s IS NOT NULL),
        |pp AS (SELECT cs.doc_id, ev.eval_id, count(*) AS shared
        |       FROM cs JOIN ev USING (s) GROUP BY 1, 2
        |       HAVING count(*) >= 3),
        |r AS (SELECT doc_id, eval_id, shared,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY shared DESC, eval_id) AS rn
        |      FROM pp)
        |SELECT doc_id, eval_id AS top_eval_id, shared AS shared_shingles
        |FROM r WHERE rn = 1""".stripMargin)),

    // benchmark decontamination: per doc, distinct shingles shared with an
    // eval set (every 50th doc stands in for the benchmark) — the
    // train-on-test gate. Eval shingle set broadcasts; corpus side is one
    // explode + semi-join + count, no corpus-corpus pairing.
    // Plain t (no spread): the frame feeds THREE consumers (corpus
    // shingles, eval shingles, final id left-join) and each replays the
    // defensive exchange — PerfProbe decon @ sf0.1: spread_all
    // 0.97-1.2 s warm vs no_spread 0.55-0.6 s (the r5-record shape). At
    // cluster scale spread is a no-op on well-split inputs, so nothing
    // is lost by skipping it here.
    Q("text_decontaminate", (s, d) => {
      val docs = Tables.t(s, d, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", minShared = 3)
    },
      Some(s"""$docsSql,
        |ev AS (SELECT DISTINCT s FROM
        |         (SELECT unnest(sh) AS s FROM sh WHERE doc_id % 50 = 0)
        |       WHERE s IS NOT NULL),
        |cs AS (SELECT DISTINCT doc_id, s FROM
        |         (SELECT doc_id, unnest(sh) AS s FROM sh)
        |       WHERE s IS NOT NULL),
        |hits AS (SELECT cs.doc_id, count(*) AS shared
        |         FROM cs JOIN ev USING (s) GROUP BY cs.doc_id)
        |SELECT d.doc_id, coalesce(h.shared, 0) AS shared_shingles,
        |       coalesce(h.shared, 0) >= 3 AS is_contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin)),

    // cross-source contamination matrix: distinct shared shingles per
    // source pair, with per-source totals (Jaccard/containment are one
    // division away). Pairs come from each shingle's bounded SOURCE set,
    // never from doc-doc or postings-pair joins — see Dedup.sourceOverlap
    // 4 MB advisory (the q140 discipline): the shingle-keyed exchange is
    // byte-light but feeds the collect_set + nested-transform pair
    // explode — default AQE coalescing folded it to 3 tasks (measured
    // 0.7-1.9 s stage). Live: sourceOverlap materializes its result
    // inside the scope.
    Q("text_overlap_matrix", (s, d) =>
      withConf(s, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4L << 20).toString) {
        Dedup.sourceOverlap(Tables.ts(s, d, "documents"), "text", "source")
      },
      Some(s"""
        |WITH w AS (SELECT source, ${H.duckWordHashes("text")} AS wh FROM documents),
        |sh AS (SELECT source, ${H.duckShingles("wh")} AS sh FROM w),
        |g AS (SELECT DISTINCT source, s FROM
        |        (SELECT source, unnest(sh) AS s FROM sh)
        |      WHERE s IS NOT NULL),
        |tot AS (SELECT source, count(*) AS n FROM g GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |             count(*) AS n_shared
        |      FROM g a JOIN g b ON a.s = b.s AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.n_shared, ta.n AS n_a, tb.n AS n_b
        |FROM p JOIN tot ta ON p.source_a = ta.source
        |       JOIN tot tb ON p.source_b = tb.source""".stripMargin)),

    Q("text_simhash", (s, d) =>
      Dedup.simhashFingerprints(Tables.ts(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
      Some(s"""$docsSql
        |SELECT doc_id, ${H.duckSimhash("sh")} AS simhash FROM sh""".stripMargin)),

    Q("dedup_simhash", (s, d) =>
      Dedup.simhashNearDups(Tables.ts(s, d, "documents"), "doc_id", "text"),
      Some(s"""$docsSql,
        |fp AS (SELECT doc_id, ${H.duckSimhash("sh")} AS f FROM sh),
        |ck AS (SELECT doc_id, f, unnest(${H.duckSimhashChunks("f")}) AS ck FROM fp),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM ck a JOIN ck b ON a.ck = b.ck AND a.doc_id < b.doc_id
        |         WHERE bit_count(xor(a.f, b.f)) <= ${H.SimhashMaxHamming})
        |SELECT id_a, id_b
        |FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
        |          JOIN sh sb ON cand.id_b = sb.doc_id
        |WHERE len(list_intersect(sa.sh, sb.sh)) * 2
        |      >= (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) * 1""".stripMargin)),

    Q("dedup_embed", (s, d) =>
      Similarity.cosineNearDups(t(s, d, "embeddings"), "vec_id", "embedding", 0.45),
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(${V.duckCosine("a.embedding", "b.embedding")}, 4) >= 0.45""".stripMargin)),

    // the SUBQUADRATIC embedding near-dup path: banded RP-LSH candidates,
    // exact-cosine verify. The entry runs the ANN path ALONE — round 8
    // embedded the exact quadratic pair set as a self-check, which made
    // the subquadratic path bench 12× slower than the exact kernel it
    // exists to beat; the recall (>= 0.9 vs the exact pair set; measured
    // 1.00 at sf0.01, 0.94 at sf0.1) and precision-1 invariants now live
    // in OperatorsSpec. The oracle is hash-EXACT: both engines construct
    // identical deterministic hyperplanes (VectorExprs.PlaneMul/PlaneMod),
    // so DuckDB reproduces the banding bit-for-bit and verifies on the
    // same HALF_UP(4) cosine grid.
    // AQE-off/8-partition scope (the sim_ivfpq measurement): 8 banded
    // bucket joins over 2k vectors are all small fixed-shape stages
    Q("dedup_embed_lsh", (s, d) =>
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        Similarity.cosineNearDupsLsh(t(s, d, "embeddings"), "vec_id",
          "embedding", 0.45, numPlanes = 2, tables = 8)
      },
      Some(lshPairsOracle)),

    // semantic-dedup E2E on the subquadratic path: LSH pairs feed the
    // same graph clustering as dedup_embed_clusters, output shape
    // matching it ((id, cluster, is_kept) per vector). The refinement
    // invariant (every LSH cluster sits inside exactly one exact cluster;
    // split count bounded) moved to OperatorsSpec with the recall check —
    // round 8 ran connectedComponents TWICE plus the exact all-pairs
    // kernel inside this benched entry. The oracle closes the SAME
    // deterministic LSH pair graph with a recursive CTE.
    Q("dedup_embed_clusters_lsh", (s, d) =>
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        val e = t(s, d, "embeddings")
        Dedup.connectedComponents(e.select(col("vec_id").as("id")),
            Similarity.cosineNearDupsLsh(e, "vec_id", "embedding", 0.45,
              numPlanes = 2, tables = 8))
          .select(col("id"), col("cluster"),
            (col("id") === col("cluster")).as("is_kept"))
      }, Some(s"""
      WITH RECURSIVE $lshPairsCte,
      edges AS (SELECT id_a AS src, id_b AS dst FROM lshp
                UNION ALL SELECT id_b, id_a FROM lshp),
      reach(src, dst) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      SELECT src AS id, min(dst) AS cluster, (src = min(dst)) AS is_kept
      FROM reach GROUP BY src""")),

    // ---- similarity search -------------------------------------------
    Q("sim_topk", (s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", 5, broadcastCorpus = true)
    }, Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      |scored AS (SELECT query_id, neighbor_id,
      |    ${V.duckCosine("qv", "cv")} AS cos,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY ${V.duckCosine("qv", "cv")} DESC, neighbor_id ASC) AS rank
      |  FROM q JOIN c ON query_id <> neighbor_id)
      |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
      |FROM scored WHERE rank <= 5""".stripMargin)),

    Q("sim_lsh", (s, d) =>
      Similarity.rpLshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 3, numPlanes = 4, dim = 64),
      Some(s"""WITH b AS (SELECT vec_id AS id, embedding AS v,
        |    ${V.duckRpBucket("embedding", 4, 64)} AS bucket FROM embeddings),
        |scored AS (SELECT a.id AS query_id, c.id AS neighbor_id,
        |    ${V.duckCosine("a.v", "c.v")} AS cos,
        |    row_number() OVER (PARTITION BY a.id
        |      ORDER BY ${V.duckCosine("a.v", "c.v")} DESC, c.id ASC) AS rank
        |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.id <> c.id)
        |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
        |FROM scored WHERE rank <= 3""".stripMargin)),

    Q("sim_ivf", (s, d) =>
      Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        k = 3, nCells = 8, nprobe = 2),
      Some(s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
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
        |FROM scored WHERE rank <= 3""".stripMargin)),

    // IVF x PQ composed ANN: coarse cells prune, ADC scores codes inside
    // the probed cells only, exact re-rank refines. The entry runs the
    // ANN path ALONE (round 8 embedded a full brute-force oracle +
    // recall join, which dominated the benched time); the recall floor
    // (>= 0.75 of the exact top-10; measured 0.822 at sf0.01) is
    // asserted per round in OperatorsSpec.
    //
    // The oracle replays the WHOLE pipeline deterministically (the
    // q54_kmeans CTE machinery, grouped by PQ block): every stage is
    // either exact integer arithmetic (scaled block slices, the Lloyd
    // rounds' squared-L2 argmin with FLOOR-division centroid means, ADC
    // partial distances) or the shared fixed-order IEEE cosine fold
    // (cell probing, final re-rank on the HALF_UP(6) grid) — so DuckDB
    // reproduces ranks bit-for-bit. The declared entry trains codebooks
    // on the FULL corpus (trainMaxRows = 0): the hash-sampled training
    // path (xxhash64, not oracle-expressible) keeps its recall-parity
    // coverage in OperatorsSpec, and assignment cost — the part that
    // scales — is full-corpus in both modes.
    // AQE off + shuffle parallelism sized to the 2k-vector index build
    // (the q53/q70 iterative-loop scoping): the path runs ~100 sequential
    // small jobs, and 32-task stages pay pure per-task scheduling —
    // measured warm 6.9 s @ 32/AQE -> 3.8 s @ 8/no-AQE. The operator
    // materializes internally, so the scope covers every real job.
    Q("sim_ivfpq", (s, d) =>
      withConf(s, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "8") {
        val e = t(s, d, "embeddings")
        Similarity.ivfPqRerankTopK(e.filter(col("vec_id") % 10 === 0), e,
          "vec_id", "embedding", 10, candidates = 100, nCells = 8, nprobe = 6)
      }, Some(ivfPqOracle)),

    // kNN weak labeling: each query takes the majority label of its 3
    // nearest neighbors (ties: most votes, then smallest label) — the
    // label-propagation shape of training-data curation
    Q("sim_knn_label", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, d, "embeddings")
      val topk = Similarity.bruteForceTopK(e.filter(col("vec_id") < 50), e,
        "vec_id", "embedding", 3, broadcastCorpus = true)
      val votes = topk
        .join(e.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("votes").desc, col("label").asc)
      votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("label").as("pred_label"), col("votes"))
    }, Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 50),
      |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
      |scored AS (SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY ${V.duckCosine("qv", "cv")} DESC, neighbor_id ASC) AS rank
      |  FROM q JOIN c ON query_id <> neighbor_id),
      |votes AS (SELECT query_id, n.label, count(*) AS votes
      |  FROM scored JOIN embeddings n ON scored.neighbor_id = n.vec_id
      |  WHERE rank <= 3 GROUP BY 1, 2)
      |SELECT query_id, label AS pred_label, votes FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY votes DESC, label ASC) AS rn FROM votes)
      |WHERE rn = 1""".stripMargin)),

    // per-vector norm + sign-bit quantization (8-plane code): the embedding
    // hygiene projection (norm filter + compact code) of a vector pipeline
    Q("sim_norm_quantize", (s, d) =>
      t(s, d, "embeddings").select(col("vec_id"),
        round(sqrt(graft.functions.VecDot.vecDot(col("embedding"), col("embedding"))), 6).as("l2_norm"),
        expr(V.sparkRpBucket("embedding", 8, 64)).as("code8")),
      Some(s"""SELECT vec_id,
        |  round(SQRT(${V.duckDot("embedding", "embedding")}), 6) AS l2_norm,
        |  ${V.duckRpBucket("embedding", 8, 64)} AS code8
        |FROM embeddings""".stripMargin)),

    // ---- text analysis ------------------------------------------------
    Q("text_tokens", (s, d) =>
      Tables.ts(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount("text").as("n_tokens"),
        TextAnalysis.bpeTokenCount("text").as("n_bpe_tokens"),
        TextAnalysis.avgTokenLenX1e4("text").as("avg_token_len_x1e4")),
      Some("""
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS n_bpe_tokens,
               ((length(text) - (len(string_split(text, ' ')) - 1)) * 10000)
                 // len(string_split(text, ' ')) AS avg_token_len_x1e4
        FROM documents""")),

    Q("text_quality", (s, d) =>
      Tables.ts(s, d, "documents").select(col("doc_id"),
        TextAnalysis.qualityScoreX1e4("text").as("quality_x1e4")),
      Some("""
        SELECT doc_id, (
          (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 10000
                WHEN length(text) < 100 THEN length(text) * 100
                ELSE 2000 END) * 4
          + (len(list_filter(string_split(text, ' '),
               t -> t IN ('the', 'a', 'of', 'and'))) * 30000)
              // len(string_split(text, ' '))
          + ((length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 30000)
              // length(text)
        ) // 10 AS quality_x1e4
        FROM documents""")),

    Q("text_langid", (s, d) =>
      Tables.ts(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langId("text").as("pred_lang"),
        (TextAnalysis.langId("text") === col("lang")).as("is_match")),
      Some {
        val scores = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          s"len(list_filter(string_split(text, ' '), t -> t IN ${TextAnalysis.sqlSet(ms)})) AS s_$lang"
        }.mkString(",\n          ")
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val maxExpr = s"greatest(${langs.map("s_" + _).mkString(", ")})"
        val caseExpr = langs.map(l => s"WHEN s_$l = $maxExpr THEN '$l'")
          .mkString("CASE ", " ", " ELSE 'und' END")
        s"""WITH scored AS (SELECT doc_id, lang,
          |          $scores
          |  FROM documents)
          |SELECT doc_id, $caseExpr AS pred_lang,
          |       ($caseExpr = lang) AS is_match
          |FROM scored""".stripMargin
      }),

    Q("text_fingerprint", (s, d) =>
      Tables.ts(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint("text").as("fp")),
      Some(s"""SELECT doc_id, ${H.duckCharHash("text")} AS fp FROM documents""")),

    // deterministic hash-based sampling / train-test split: membership is a
    // pure function of content, so the same split reproduces on any cluster,
    // any partitioning, any run — the property random() sampling lacks
    Q("text_sample", (s, d) =>
      Tables.ts(s, d, "documents")
        .filter(TextAnalysis.fingerprint("text") % 10 === 0)
        .select(col("doc_id")),
      Some(s"""SELECT doc_id FROM documents WHERE ${H.duckCharHash("text")} % 10 = 0""")),

    // group-aware split: hash the GROUP key (source), not the content, so a
    // whole group lands on one side and intra-group near-dups can't leak
    // train -> eval. md5 under the char hash decorrelates similar group
    // names (raw "src1"/"src2" hash adjacently, biasing the threshold)
    Q("text_group_split", (s, d) =>
      TextAnalysis.groupSplit(Tables.ts(s, d, "documents"), "source", 800)
        .select(col("doc_id"), col("source"), col("split")),
      Some(s"""
        SELECT doc_id, source,
               CASE WHEN ${H.duckCharHash("coalesce(md5(source), '<null-group>')")} % 1000 < 800
                    THEN 'train' ELSE 'eval' END AS split
        FROM documents""")),

    // deterministic data-mix assembly: resample the 20 sources to a
    // 1:3 weight split (src0-9 vs src10-19). Thresholds derive from exact
    // integer arithmetic both engines mirror; membership is content-hash
    // acceptance, so the mix reproduces on any partitioning and re-running
    // after an append keeps previously selected docs
    Q("text_mixture", (s, d) => {
      val weights = (0 until 20)
        .map(i => s"src$i" -> (if (i < 10) 1L else 3L)).toMap
      TextAnalysis.mixtureSample(Tables.ts(s, d, "documents"), "doc_id", "text",
        "source", weights)
    },
      Some {
        val values = (0 until 20)
          .map(i => s"('src$i', ${if (i < 10) 1 else 3})").mkString(", ")
        s"""WITH w AS (SELECT * FROM (VALUES $values) AS t(source, wt)),
           |counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
           |j AS (SELECT w.source, coalesce(n, 0) AS n, wt
           |      FROM w LEFT JOIN counts USING (source)),
           |f AS (SELECT min(n * 40 // wt) AS tot FROM j),
           |thr AS (SELECT source,
           |          CASE WHEN n = 0 THEN 0
           |               ELSE ((tot * wt // 40) * 1000000) // n END AS thr
           |        FROM j, f)
           |SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
           |WHERE (${H.duckCharHash("text")}) % 1000000 < thr""".stripMargin
      }),

    // retrieval-prep chunking: 40-token windows, 30-token stride (10-token
    // overlap), short tail chunk kept — one generator projection, no shuffle
    Q("text_chunks", (s, d) =>
      TextAnalysis.chunk(Tables.ts(s, d, "documents"), "doc_id", "text", 40, 30),
      Some("""
        |WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(range(0, len(w), 30)) AS s FROM w)
        |SELECT doc_id, s // 30 AS chunk_idx,
        |       array_to_string(w[s+1:s+40], ' ') AS chunk_text,
        |       len(w[s+1:s+40]) AS n_chunk_tokens
        |FROM st""".stripMargin)),

    // intra-doc repetition metric (the classic "repeated n-gram fraction"
    // quality filter): per doc, bigram occurrences vs distinct bigrams and
    // the hottest bigram's count; rep_x1e4 = repeated-occurrence fraction
    // in integer 1e-4 units. Zero-bigram docs (< 2 tokens) emit zeros.
    Q("text_repetition", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      val bg = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), expr(
          """explode(CASE WHEN size(w) >= 2 THEN
            |  transform(sequence(1, size(w) - 1),
            |    i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
            |ELSE array() END""".stripMargin + ")").as("g"))
      val per = bg.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_distinct_bigrams"),
          max(col("c")).as("top_bigram_n"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
          expr("""CASE WHEN coalesce(n_bigrams, 0) > 0
            |THEN (n_bigrams - n_distinct_bigrams) * 10000 div n_bigrams
            |ELSE 0 END""".stripMargin).as("rep_x1e4"))
    },
      Some("""
        |WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)),
        |                  i -> w[i] || ' ' || w[i+1])) AS g
        |       FROM w WHERE len(w) >= 2),
        |per AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |          count(*) AS n_distinct_bigrams, max(c) AS top_bigram_n
        |        FROM per GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
        |  coalesce(top_bigram_n, 0) AS top_bigram_n,
        |  CASE WHEN coalesce(n_bigrams, 0) > 0
        |    THEN (n_bigrams - n_distinct_bigrams) * 10000 // n_bigrams
        |    ELSE 0 END AS rep_x1e4
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // training-batch sequence packing: greedy per-shard token-budget bins
    // (deterministic by doc_id order within source) — ONE window aggregate
    // per shard, never a global running sum
    Q("text_pack", (s, d) =>
      TextAnalysis.packSequences(Tables.ts(s, d, "documents"), "doc_id", "text",
        "source", budgetTokens = 512),
      Some("""
        |WITH c AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(sum(len(string_split(text, ' '))) OVER (
        |      PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM documents)
        |SELECT source, doc_id, n_tokens,
        |  (cum - n_tokens) // 512 AS bin,
        |  (cum - n_tokens) % 512 AS bin_offset
        |FROM c""".stripMargin)),

    // per-shard quality band: drop each source's junk tail AND its
    // suspiciously-perfect head; band membership is integer rank
    // arithmetic, so the cut is engine-exact at the edges
    Q("text_quality_band", (s, d) =>
      TextAnalysis.qualityBand(Tables.ts(s, d, "documents"), "doc_id", "text",
        "source", loX1e4 = 1000, hiX1e4 = 9000),
      Some("""
        |WITH q AS (SELECT source, doc_id, (
        |    (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 10000
        |          WHEN length(text) < 100 THEN length(text) * 100
        |          ELSE 2000 END) * 4
        |    + (len(list_filter(string_split(text, ' '),
        |         t -> t IN ('the', 'a', 'of', 'and'))) * 30000)
        |        // len(string_split(text, ' '))
        |    + ((length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))) * 30000)
        |        // length(text)
        |  ) // 10 AS q FROM documents),
        |r AS (SELECT source, doc_id, q,
        |    row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM q)
        |SELECT source, doc_id, q FROM r
        |WHERE (r - 1) * 10000 >= 1000 * (n - 1)
        |  AND (r - 1) * 10000 <= 9000 * (n - 1)""".stripMargin)),

    // vocabulary-floor scrub: tokens below corpus document-frequency 3 are
    // dropped and docs reassembled in order (empty string, not a dropped
    // row, when nothing survives)
    Q("text_scrub_rare", (s, d) =>
      TextAnalysis.scrubRareTokens(Tables.ts(s, d, "documents"), "doc_id", "text",
        minDf = 3),
      Some("""
        |WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM dd),
        |toks AS (SELECT doc_id, pos, ws[pos] AS w FROM t),
        |vocab AS (SELECT w FROM (
        |    SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
        |  WHERE df >= 3),
        |re AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS scrubbed_text
        |       FROM toks JOIN vocab USING (w) GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(re.scrubbed_text, '') AS scrubbed_text
        |FROM documents d2 LEFT JOIN re USING (doc_id)""".stripMargin)),

    // cross-document boilerplate scrub: drop word-3-gram spans shared by
    // more than 3 docs; tokens covered by any hot span vanish, survivors
    // rejoin in order — the cross-doc complement of text_scrub_rare
    Q("text_scrub_boilerplate", (s, d) =>
      // 4 MB advisory: byte-light gram exchanges under CPU-dense span
      // reassembly coalesced to 1 task (measured 0.5-0.8 s stage)
      withConf(s, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (4L << 20).toString) {
        TextAnalysis.scrubBoilerplateSpans(Tables.ts(s, d, "documents"),
          "doc_id", "text", spanLen = 3, maxDf = 3)
      },
      Some("""
        |WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS p FROM dd),
        |grams AS (SELECT doc_id, p, array_to_string(ws[p:p+2], ' ') AS g FROM g0),
        |hot AS (SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1)
        |  WHERE df > 3),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 3)) AS pos
        |        FROM grams JOIN hot USING (g)),
        |t AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM dd),
        |toks AS (SELECT doc_id, pos, ws[pos] AS w FROM t),
        |re AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS scrubbed_text
        |       FROM toks ANTI JOIN cov USING (doc_id, pos) GROUP BY doc_id)
        |SELECT d2.doc_id, coalesce(re.scrubbed_text, '') AS scrubbed_text
        |FROM documents d2 LEFT JOIN re USING (doc_id)""".stripMargin)),

    // corpus-wide n-gram frequency: explode word 3-grams, count, top-20
    Q("text_ngram_counts", (s, d) =>
      Tables.ts(s, d, "documents")
        // split once per row; the transform references `w`, not the split
        .select(split(col("text"), " ").as("w"))
        .select(expr(
          """explode(CASE WHEN size(w) >= 3 THEN
            |  transform(sequence(1, size(w) - 2),
            |    i -> concat(element_at(w, i), ' ',
            |                element_at(w, i + 1), ' ',
            |                element_at(w, i + 2)))
            |ELSE array() END""".stripMargin + ")").as("ngram"))
        .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram").asc)
        .limit(20),
      Some("""
        WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        g AS (SELECT unnest(CASE WHEN len(w) >= 3 THEN
                list_transform(range(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
              ELSE [] END) AS ngram FROM w)
        SELECT ngram, count(*) AS n FROM g GROUP BY ngram
        ORDER BY n DESC, ngram ASC LIMIT 20""")),

    // duplicated-span counting (the memorization-risk metric of corpus
    // curation): per doc, how many of its distinct 3-gram shingles occur in
    // at least one other document — reuses the dedup inverted index
    Q("text_dup_spans", (s, d) => {
      val sh = Dedup.shingleTable(Tables.ts(s, d, "documents"), "doc_id", "text")
      val ex = sh.select(col("id"), explode(col("sh")).as("s"))
        .filter(col("s").isNotNull)
      val df = ex.groupBy(col("s"))
        .agg(countDistinct(col("id")).as("ndocs"))
      ex.join(df, "s")
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
    }, Some(s"""$docsSql,
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |exn AS (SELECT doc_id, s FROM ex WHERE s IS NOT NULL),
      |df AS (SELECT s, count(DISTINCT doc_id) AS ndocs FROM exn GROUP BY s)
      |SELECT exn.doc_id AS doc_id, count(*) AS n_spans,
      |       CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      |FROM exn JOIN df ON exn.s = df.s
      |GROUP BY exn.doc_id""".stripMargin)),

    // Lee et al. exact-substring dedup: maximal verbatim token runs >= 8
    // occurring more than once anywhere in the corpus, as per-doc excisable
    // (start, end) token spans — the positional equivalent of the
    // suffix-array formulation (mark duplicated k-gram positions, merge
    // islands, widen by k-1); the oracle replays the identical rolling
    // hash so spans match bit-for-bit
    Q("text_exact_dup_spans", (s, d) =>
      Dedup.exactDupSpans(Tables.ts(s, d, "documents"), "doc_id", "text",
        minTokens = 8),
      Some(s"""
        |WITH wh AS (SELECT doc_id, ${H.duckWordHashes("text")} AS wh
        |            FROM documents),
        |g AS (SELECT doc_id, t.i AS pos,
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, 9), j -> wh[CAST(t.i + j AS INT)])),
        |          (acc, x) -> (acc * 31 + x) % ${graft.functions.HashExprs.P}) AS g
        |      FROM wh, unnest(range(0, greatest(len(wh) - 7, 0))) AS t(i)),
        |f AS (SELECT g, count(*) AS occ FROM g GROUP BY g),
        |dup AS (SELECT doc_id, pos FROM g JOIN f USING (g) WHERE occ >= 2),
        |isl AS (SELECT doc_id, pos,
        |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |            AS grp
        |        FROM dup)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
        |       count(*) AS n_grams
        |FROM isl GROUP BY doc_id, grp""".stripMargin)),

    // C4-style quality filter chain: length bounds, symbol ratio, stopword
    // presence — keep/drop with a deterministic first-failure reason, the
    // composite gate shape every corpus pipeline ends with
    Q("text_filter_pipeline", (s, d) => {
      val nChars = length(col("text"))
      val nTokens = size(split(col("text"), " "))
      val nStop = expr("size(filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'and')))")
      val symbolRatioHigh = // non-alnum-space chars * 10 > chars
        (nChars - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))) * 10 > nChars
      val reason = when(nChars < 100, "too_short")
        .when(nChars > 5000, "too_long")
        .when(nTokens < 20, "too_few_tokens")
        .when(symbolRatioHigh, "symbol_heavy")
        .when(nStop === 0, "no_stopwords")
        .otherwise("kept")
      Tables.ts(s, d, "documents")
        .select(col("doc_id"), reason.as("reason"),
          (reason === "kept").as("is_kept"))
    }, Some("""
      SELECT doc_id,
        CASE WHEN length(text) < 100 THEN 'too_short'
             WHEN length(text) > 5000 THEN 'too_long'
             WHEN len(string_split(text, ' ')) < 20 THEN 'too_few_tokens'
             WHEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) * 10
                  > length(text) THEN 'symbol_heavy'
             WHEN len(list_filter(string_split(text, ' '),
                  t -> t IN ('the', 'a', 'of', 'and'))) = 0 THEN 'no_stopwords'
             ELSE 'kept' END AS reason,
        (CASE WHEN length(text) < 100 THEN 'too_short'
             WHEN length(text) > 5000 THEN 'too_long'
             WHEN len(string_split(text, ' ')) < 20 THEN 'too_few_tokens'
             WHEN (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) * 10
                  > length(text) THEN 'symbol_heavy'
             WHEN len(list_filter(string_split(text, ' '),
                  t -> t IN ('the', 'a', 'of', 'and'))) = 0 THEN 'no_stopwords'
             ELSE 'kept' END = 'kept') AS is_kept
      FROM documents""")),

    // regex feature extraction (vowel-start/-end tokens, email/url hits) —
    // the filter-feature shape used for corpus quality gates
    Q("text_regex", (s, d) =>
      Tables.ts(s, d, "documents").select(col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), t -> t rlike '^[aeiou]')) AS BIGINT)").as("n_vowel_start"),
        expr("CAST(size(filter(split(text, ' '), t -> t rlike '[aeiou]$')) AS BIGINT)").as("n_vowel_end"),
        expr("CAST(size(filter(split(text, ' '), t -> t rlike '^[a-z0-9.]+@[a-z0-9.]+$')) AS BIGINT)").as("n_emails")),
      Some("""
        SELECT doc_id,
          len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[aeiou]'))) AS n_vowel_start,
          len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[aeiou]$'))) AS n_vowel_end,
          len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[a-z0-9.]+@[a-z0-9.]+$'))) AS n_emails
        FROM documents""")),

    // per-doc n-gram NOVELTY vs ingest order: share of a doc's distinct
    // shingles first seen (min doc id) in this doc — the freshness signal
    // that separates new content from re-scrapes; the dup_spans plan shape
    // (explode + min-aggregate + 1:1 join back), no pair kernel
    Q("text_novelty", (s, d) =>
      TextAnalysis.novelty(Tables.ts(s, d, "documents"), "doc_id", "text"),
      Some(noveltyOracle)),

    // the same novelty as an INCREMENTAL loop against a persisted
    // first-seen gram index: two id-ordered batches must reproduce the
    // one-shot scoring exactly (oracle = text_novelty's SQL verbatim) —
    // the ingestion-KPI shape of dedup_incremental
    Q("text_novelty_incremental", (s, d) => {
      val docs = Tables.ts(s, d, "documents")
      val dir = java.nio.file.Files.createTempDirectory("novelty-idx").toString
      val b1 = TextAnalysis.noveltyIncremental(
        docs.filter(col("doc_id") < 250), "doc_id", "text", dir)
      val b2 = TextAnalysis.noveltyIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", dir)
      b1.unionByName(b2)
    }, Some(noveltyOracle)),

    // deterministic global shuffle + sharded export manifest: Knuth-mix
    // hash shard + within-shard (hash, id) order + byte-budget file split
    // — the reproducible "write the training set" step; the only exchange
    // is the shard-partitioned window
    Q("text_shard_export", (s, d) =>
      TextAnalysis.shuffleShards(t(s, d, "documents"), "doc_id",
          octet_length(col("text")).cast("long"), nShards = 8,
          targetBytes = 16384L)
        .withColumnRenamed("id", "doc_id"),
      Some(s"""
        |WITH k AS (SELECT doc_id AS id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    ((doc_id % ${H.P}) * 2654435761) % ${H.P} AS hkey
        |  FROM documents),
        |s AS (SELECT id, n_bytes, hkey, hkey % 8 AS shard FROM k),
        |w AS (SELECT id, shard, n_bytes,
        |    CAST(row_number() OVER (PARTITION BY shard ORDER BY hkey, id)
        |         - 1 AS BIGINT) AS pos,
        |    sum(n_bytes) OVER (PARTITION BY shard ORDER BY hkey, id) AS cum
        |  FROM s)
        |SELECT id AS doc_id, shard, pos, n_bytes,
        |       CAST((cum - n_bytes) // 16384 AS BIGINT) AS file_idx
        |FROM w""".stripMargin)),

    // sketch-error audit: per LSH-candidate pair, signature-agreement
    // Jaccard estimate vs EXACT shingle Jaccard (integer basis points) —
    // measuring the estimator itself is how thresholds and permutation
    // counts get picked from data instead of folklore
    Q("dedup_minhash_quality", (s, d) =>
      Dedup.minhashQuality(Tables.ts(s, d, "documents"), "doc_id", "text"),
      Some(s"""$docsSql,
        |shn AS (SELECT doc_id, sh FROM sh WHERE sh[1] IS NOT NULL),
        |mh AS (SELECT doc_id, sh, ${H.duckMinhash("sh")} AS mh FROM shn),
        |bands AS (SELECT doc_id, unnest(${H.duckBands("mh")}) AS bv FROM mh),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bands a JOIN bands b
        |           ON a.bv = b.bv AND a.doc_id < b.doc_id),
        |j AS (SELECT id_a, id_b, ma.sh AS sa, mb.sh AS sb,
        |        ma.mh AS sig_a, mb.mh AS sig_b
        |      FROM cand JOIN mh ma ON cand.id_a = ma.doc_id
        |                JOIN mh mb ON cand.id_b = mb.doc_id),
        |sc AS (SELECT id_a, id_b,
        |    CAST(len(list_filter(range(1, ${H.NumPerm + 1}),
        |           i -> sig_a[CAST(i AS INT)] = sig_b[CAST(i AS INT)]))
        |         * 10000 // ${H.NumPerm} AS BIGINT) AS est_bp,
        |    CAST(len(list_intersect(sa, sb)) * 10000
        |         // (len(sa) + len(sb) - len(list_intersect(sa, sb)))
        |         AS BIGINT) AS exact_bp
        |  FROM j)
        |SELECT id_a, id_b, est_bp, exact_bp,
        |       abs(est_bp - exact_bp) AS err_bp
        |FROM sc""".stripMargin)),

    // ANN quality audit: recall@5 of the IVF path against the exact
    // brute-force top-5, per query — the metric an ANN rollout is judged
    // on, oracle-replayed end-to-end (both rankings are deterministic)
    Q("sim_recall_audit", (s, d) => {
      val e = t(s, d, "embeddings")
      val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", k = 5,
          nCells = 8, nprobe = 2)
        .filter(col("query_id") < 20)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", 5, broadcastCorpus = true)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          expr("n_hits * 10000 div k").as("recall_bp"))
    }, Some(s"""
      |WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      |seeds AS (SELECT id AS cell, v AS sv FROM e ORDER BY id LIMIT 8),
      |assign AS (SELECT id, cell,
      |    row_number() OVER (PARTITION BY id ORDER BY scos DESC, cell ASC) AS arank
      |  FROM (SELECT e.id, s.cell, ${V.duckCosine("e.v", "s.sv")} AS scos
      |        FROM e CROSS JOIN seeds s)),
      |cand AS (SELECT DISTINCT p.id AS query_id, n.id AS neighbor_id
      |  FROM (SELECT id, cell FROM assign WHERE arank <= 2) p
      |  JOIN (SELECT id, cell FROM assign WHERE arank = 1) n ON p.cell = n.cell
      |  WHERE p.id <> n.id AND p.id < 20),
      |ivf AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY ${V.duckCosine("a.v", "b.v")} DESC, neighbor_id ASC) AS rank
      |    FROM cand JOIN e a ON cand.query_id = a.id
      |              JOIN e b ON cand.neighbor_id = b.id)
      |  WHERE rank <= 5),
      |ex AS (SELECT query_id, neighbor_id FROM (
      |    SELECT q.id AS query_id, c.id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.id
      |        ORDER BY ${V.duckCosine("q.v", "c.v")} DESC, c.id ASC) AS rank
      |    FROM (SELECT id, v FROM e WHERE id < 20) q
      |    JOIN e c ON q.id <> c.id)
      |  WHERE rank <= 5)
      |SELECT ex.query_id,
      |  CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_hits,
      |  CAST(sum(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |       * 10000 // count(*) AS BIGINT) AS recall_bp
      |FROM ex LEFT JOIN ivf
      |  ON ex.query_id = ivf.query_id AND ex.neighbor_id = ivf.neighbor_id
      |GROUP BY ex.query_id""".stripMargin))
  )
}
