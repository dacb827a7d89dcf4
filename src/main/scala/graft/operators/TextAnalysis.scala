package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashExprs, HashNative}

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristics, document fingerprinting.
  *
  * Every score is either pure integer arithmetic (scaled by 10^4 and
  * integer-divided instead of float ratios) or a deterministic regexp count,
  * so outputs are engine-exact against the DuckDB oracle. All expressions
  * are Catalyst built-ins — fully codegen'd, no UDFs, safe inside
  * whole-stage codegen at any scale. Functions take the text *column name*
  * and return a `Column`.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: String): Column = size(split(col(text), " ")).cast("long")

  /** BPE-ish subword token count: letter runs, digit runs, and punctuation
    * runs each count as one token (the pre-tokenization split every BPE
    * vocabulary starts from). ASCII classes only, so the Java and RE2
    * dialects agree. */
  def bpeTokenCount(text: String): Column =
    expr(s"CAST(size(regexp_extract_all($text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]+', 0)) AS BIGINT)")

  /** Mean token length ×10^4 as exact integer arithmetic:
    * (chars - spaces) * 10^4 div tokens. */
  def avgTokenLenX1e4(text: String): Column =
    expr(s"((length($text) - (size(split($text, ' ')) - 1)) * 10000) div size(split($text, ' '))")

  /** Sentence count for the readability formulas: terminal-punctuation
    * runs, floored at 1 (a fragment with no terminator is one sentence,
    * not a division by zero). ASCII class only — Java and RE2 agree. */
  def sentenceCount(text: String): Column = expr(
    s"greatest(1L, CAST(size(regexp_extract_all($text, '[.!?]+', 0)) AS BIGINT))")

  /** Heuristic syllable count: maximal vowel runs (`[aeiouy]+`), the
    * standard dictionary-free approximation the Flesch-Kincaid family is
    * routinely computed with (silent-e and diphthong errors wash out at
    * corpus scale). */
  def syllableCount(text: String): Column = expr(
    s"CAST(size(regexp_extract_all($text, '[aeiouy]+', 0)) AS BIGINT)")

  /** Count of tokens drawn from a marker set. */
  def markerCount(text: String, markers: Seq[String]): Column =
    expr(s"size(filter(split($text, ' '), t -> t IN ${sqlSet(markers)}))")

  def sqlSet(markers: Seq[String]): String =
    markers.map(m => s"'$m'").mkString("(", ", ", ")")

  /** Language marker sets for the heuristic language-ID (argmax of marker
    * frequency with fixed priority tiebreak). On a real corpus these would
    * be per-language stopword profiles; the operator mechanics (N scored
    * marker sets, deterministic argmax) are identical. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("customer", "hash", "join"),
    "en" -> Seq("the", "a", "order"),
    "es" -> Seq("slow", "agg", "merge"),
    "fr" -> Seq("scan", "data", "query"),
    "zh" -> Seq("row", "column", "small"))

  /** Predicted language: lang with the max marker count; ties resolve to the
    * earliest entry in [[LangMarkers]]. */
  def langId(text: String): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> markerCount(text, ms) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, sc), els) =>
      when(sc === maxScore, lit(lang)).otherwise(els)
    }
  }

  /** Quality score ×10^4: integer-weighted mix of length band, stopword
    * ratio and vowel ratio — a deterministic filter heuristic. */
  def qualityScoreX1e4(text: String): Column =
    graft.functions.QualityNative.qualityScoreX1e4(expr(text))

  /** The SQL formulation [[qualityScoreX1e4]]'s native expression
    * replaced (HOF `filter` evaluates interpreted) — kept as the parity
    * reference: the spec asserts native ≡ SQL over the corpus, the same
    * discipline as the codegen/interpreted parity tests of the other
    * native expressions. */
  private[graft] def qualityScoreX1e4Sql(text: String): Column = expr(
    s"""(
       |  (CASE WHEN length($text) BETWEEN 100 AND 2000 THEN 10000
       |        WHEN length($text) < 100 THEN length($text) * 100
       |        ELSE 2000 END) * 4
       |  + (size(filter(split($text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) * 30000)
       |      div size(split($text, ' '))
       |  + ((length($text) - length(regexp_replace($text, '[aeiou]', ''))) * 30000)
       |      div length($text)
       |) div 10""".stripMargin)

  /** Polynomial rolling-hash fingerprint of the full text (Rabin-Karp,
    * base 31 mod 1e9+7). */
  def fingerprint(text: String): Column =
    expr(HashExprs.sparkCharHash(text))

  /** Group-aware train/eval split: the split key is a GROUP column
    * (source domain, url host, author), so every document of a group lands
    * on the same side — templated or near-duplicate documents within a
    * group cannot leak from train into eval, the failure mode of per-row
    * sampling. The char hash is taken over `md5(group)` rather than the
    * raw key: similar group names ("src1"/"src2") sit adjacent in
    * polynomial-hash space, which would bias a percentage threshold, while
    * the digest decorrelates them. Deterministic and partitioning-free: a
    * pure projection (no shuffle), reproducible on any cluster, and
    * documents appended later join their group's existing side. */
  def groupSplit(docs: DataFrame, groupCol: String,
      trainPermille: Int): DataFrame = {
    require(trainPermille >= 0 && trainPermille <= 1000,
      s"trainPermille must be in [0, 1000], got $trainPermille")
    // NULL group keys form one ordinary group (a sentinel no real md5 hex
    // collides with) and route by the threshold like any other — without
    // it, when(NULL < t) is false and every null row would silently land
    // in eval even at trainPermille = 1000
    val key = s"coalesce(md5($groupCol), '<null-group>')"
    docs.withColumn("split",
      when(expr(HashExprs.sparkCharHash(key)) % 1000
             < trainPermille, lit("train"))
        .otherwise(lit("eval")))
  }

  /** Convenience: documents frame -> per-doc analysis columns. */
  def analyze(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      tokenCount(textCol).as("n_tokens"),
      avgTokenLenX1e4(textCol).as("avg_token_len_x1e4"),
      langId(textCol).as("pred_lang"),
      qualityScoreX1e4(textCol).as("quality_x1e4"),
      fingerprint(textCol).as("fingerprint"))

  /** Sliding-window chunking: split each doc into `chunkTokens`-token
    * windows advancing by `stride` tokens (`stride < chunkTokens` gives
    * overlapping chunks) — the preprocessing step of every
    * retrieval/embedding pipeline, where the unit of indexing is the
    * chunk, not the document. Chunk starts are `0, stride, 2*stride, ...`
    * while they land inside the doc, so every token is covered and the
    * final chunk may be short.
    *
    * Emits `(<idCol>, chunk_idx, chunk_text, n_chunk_tokens)`. Pure
    * per-row generator — whitespace tokenize once, slice per window — no
    * shuffle anywhere; output size is `ceil(n/stride)` rows per doc. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0,
      "chunkTokens and stride must be positive")
    docs.select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), expr(
        s"""explode(transform(sequence(0, (size(w) - 1) div $stride),
           |  i -> struct(
           |    CAST(i AS BIGINT) AS chunk_idx,
           |    array_join(slice(w, i * $stride + 1, $chunkTokens), ' ')
           |      AS chunk_text,
           |    CAST(size(slice(w, i * $stride + 1, $chunkTokens)) AS BIGINT)
           |      AS n_chunk_tokens)))""".stripMargin).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.chunk_text"),
        col("c.n_chunk_tokens"))
  }

  /** Training-batch sequence packing: assign each doc to a fixed
    * token-budget bin, greedily in `idCol` order WITHIN each shard
    * (`shardCol`). Emits `(shard, id, n_tokens, bin, bin_offset)` where
    * `bin = tokens_before div budget` — the deterministic contract every
    * packer needs (same inputs → same bins on any cluster), and docs may
    * straddle a boundary exactly as contiguous-concatenation packing does.
    *
    * Scale shape: ONE window aggregate partitioned by shard — a global
    * running sum would serialize the corpus through one task, so packing
    * is per-shard by construction (which is also the practice: training
    * shards are packed independently). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      shardCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
    docs.select(col(shardCol), col(idCol), tokenCount(textCol).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col(shardCol), col(idCol), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budgetTokens").as("bin"),
        expr(s"(cum - n_tokens) % $budgetTokens").as("bin_offset"))
  }

  /** Per-shard quality-band filter: keep docs whose quality rank within
    * their shard lies in the `[loX1e4, hiX1e4]` percentile band (×10^4) —
    * the "trim the junk tail AND the suspiciously-perfect head per domain"
    * curation step. The percentile test is pure integer arithmetic
    * (`(rank-1)·10^4` vs `bound·(n-1)`), with ranks made unique by an
    * `idCol` tiebreak, so membership is engine-exact — no float
    * percent_rank comparison at the band edges. One window per shard, no
    * global ordering. */
  def qualityBand(docs: DataFrame, idCol: String, textCol: String,
      shardCol: String, loX1e4: Int, hiX1e4: Int): DataFrame = {
    require(0 <= loX1e4 && loX1e4 <= hiX1e4 && hiX1e4 <= 10000,
      "need 0 <= lo <= hi <= 10000")
    val w = Window.partitionBy(col(shardCol)).orderBy(col("q"), col(idCol))
    docs.select(col(shardCol), col(idCol), qualityScoreX1e4(textCol).as("q"))
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(shardCol))))
      .filter((col("r") - 1) * 10000 >= lit(loX1e4) * (col("n") - 1) &&
        (col("r") - 1) * 10000 <= lit(hiX1e4) * (col("n") - 1))
      .select(col(shardCol), col(idCol), col("q"))
  }

  /** Vocabulary-floor scrub: drop every token whose corpus DOCUMENT
    * frequency is below `minDf` and reassemble the survivors in their
    * original order (rare-token cleanup — misspellings, binary junk, and
    * exotica that bloat a tokenizer's long tail). Docs reduced to nothing
    * come back as empty strings, not dropped rows.
    *
    * Scale shape: token explode → one distinct + count aggregate (the
    * vocabulary, shuffled on token), an equi-join of tokens to the kept
    * vocabulary, and one per-doc reassembly aggregate (`array_sort` on
    * (pos, token) structs restores order without a sort exchange). No
    * all-pairs anything; every stage is key-partitioned. */
  /** Cross-document boilerplate scrub: drop every word-`spanLen`-gram SPAN
    * that appears in more than `maxDf` distinct documents (headers,
    * footers, license blurbs, navigation chrome — the crawl-cleaning
    * complement of [[scrubRareTokens]], which drops RARE tokens). A token
    * is removed when ANY hot span covers its position; survivors rejoin in
    * original order. Docs shorter than `spanLen` pass through untouched
    * (no span can cover them); fully-covered docs come back as empty
    * strings — the output stays 1:1 with the input either way.
    *
    * Scale shape: the gram df-aggregate is one shuffle on the gram hash
    * with map-side partial distinct; the hot-gram set is tiny by
    * construction (boilerplate = high-df tail), so the join back onto the
    * corpus-sized gram stream broadcasts; covered-position expansion is
    * spanLen rows per hot occurrence; the rebuild is one anti-join plus
    * one groupBy, both partitioned on the doc id. Nothing is ever
    * doc-paired: a span in 10⁶ docs costs 10⁶ covered rows, not C(10⁶,2).
    */
  def scrubBoilerplateSpans(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int, maxDf: Int): DataFrame = {
    require(spanLen >= 2, "spanLen must be >= 2")
    require(maxDf >= 1, "maxDf must be >= 1")
    val arr = docs.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
    // (id, 1-based start, gram) — docs shorter than spanLen emit nothing
    val grams = arr.filter(size(col("ws")) >= spanLen)
      .select(col("id"), explode(expr(
        s"""transform(sequence(1, size(ws) - ${spanLen - 1}),
           |  i -> struct(i AS p, array_join(slice(ws, i, $spanLen), ' ') AS g))"""
          .stripMargin)).as("gp"))
      .select(col("id"), col("gp.p").as("p"), col("gp.g").as("g"))
    val hot = grams.select(col("g"), col("id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("g"))
    val covered = grams.join(hot, Seq("g"))
      .select(col("id"),
        explode(expr(s"sequence(p, p + ${spanLen - 1})")).as("pos"))
      .distinct()
    val toks = arr
      .select(col("id"), posexplode(col("ws")).as(Seq("pos0", "w")))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("w"))
    val re = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(pos, w))), p -> p.w)"),
        " ").as("scrubbed_text"))
    docs.select(col(idCol).as("id"))
      .join(re, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
  }

  def scrubRareTokens(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int): DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    val toks = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
    val vocab = toks.select(col("w"), col("id")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("w"))
    val re = toks.join(vocab, Seq("w"))
      .groupBy(col("id"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(pos, w))), p -> p.w)"),
        " ").as("scrubbed_text"))
    docs.select(col(idCol).as("id"))
      .join(re, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
  }

  /** Deterministic mixture resampling: downsample each source so the
    * sampled corpus approximates integer target `weights` (the data-mix
    * step of training-set assembly — "N parts web to M parts code").
    *
    * The largest feasible total is `T = min over s of (n_s * W div w_s)`
    * (the minority-vs-target source caps the mix; W = sum of weights), and
    * each source keeps `T * w_s div W` docs via content-hash acceptance —
    * membership is a pure function of text, so the same mix reproduces on
    * any cluster, partitioning, or run, and re-running after an append
    * KEEPS previously selected docs (monotone w.r.t. corpus growth at
    * fixed thresholds). Sources absent from `weights` are excluded; a
    * WEIGHTED source absent from the corpus makes the mix infeasible
    * (n_s = 0 caps T at 0) and the sample is empty.
    *
    * All integer arithmetic (mirrored exactly by the DuckDB oracle):
    * acceptance is `hash(text) mod hashSpace < (keep_s * hashSpace) div
    * n_s`, so realized counts track targets within hash-uniformity noise,
    * not exactly. Scale shape: one count aggregate over the corpus, a
    * broadcast threshold table, one filtered scan — no shuffle of the
    * corpus itself. */
  def mixtureSample(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weights: Map[String, Long],
      hashSpace: Long = 1000000L): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val wSum = weights.values.sum
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF(sourceCol, "wt")
    // weights-side outer join: a weighted source with NO corpus rows keeps
    // its weight row at n = 0, capping the feasible total at 0 — the
    // requested mix is infeasible and the sample is honestly empty, never
    // silently renormalized over the sources that do exist
    val counts = w.join(
        docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("n0")),
        Seq(sourceCol), "left")
      .select(col(sourceCol), col("wt"), coalesce(col("n0"), lit(0L)).as("n"))
    val feasible = counts.agg(min(expr(s"n * $wSum div wt")).as("tot"))
    val thr = counts.crossJoin(broadcast(feasible))
      .select(col(sourceCol), expr(
        s"CASE WHEN n = 0 THEN 0 ELSE ((tot * wt div $wSum) * $hashSpace) div n END")
        .as("thr"))
    docs.join(broadcast(thr), sourceCol)
      .filter(fingerprint(textCol) % hashSpace < col("thr"))
      .select(col(idCol), col(sourceCol))
  }

  /** Collocation (phrase) mining by pointwise mutual information: adjacent
    * word pairs occurring ≥ `minCount` times, scored
    * `pmi = ln(N·c(ab) / (c(a)·c(b)))` over exact integer counts (one
    * division inside the ln, integerized to micro-nats — deterministic
    * rank order), top-`topK`. This is the phrase-vocabulary step of
    * tokenizer prep / collocation-aware indexing.
    *
    * Plan: one bigram explode + count, one unigram count joined twice
    * (bigram LEFT tokens and RIGHT tokens — key joins, broadcastable when
    * the vocab is), the bigram total riding the plan as a broadcast 1-row
    * aggregate. Output: (phrase, n_ab, pmi_micro) ordered (pmi desc,
    * phrase asc). */
  def minePhrases(docs: DataFrame, textCol: String, minCount: Long,
      topK: Int): DataFrame = {
    val w = docs.select(split(col(textCol), " ").as("w"))
    val bigrams = w.select(explode(expr(
        """CASE WHEN size(w) >= 2 THEN
          |  transform(sequence(1, size(w) - 1),
          |    i -> named_struct('a', element_at(w, i), 'b', element_at(w, i + 1)))
          |ELSE array() END""".stripMargin)).as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
    val bc = bigrams.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val uni = w.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val tot = bigrams.agg(count(lit(1)).as("nn"))
    bc.filter(col("n_ab") >= minCount)
      .join(uni.select(col("t").as("a"), col("n_t").as("n_a")), Seq("a"))
      .join(uni.select(col("t").as("b"), col("n_t").as("n_b")), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(concat(col("a"), lit(" "), col("b")).as("phrase"),
        col("n_ab"),
        round(log((col("nn") * col("n_ab")).cast("double") /
          (col("n_a") * col("n_b"))) * 1e6).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("phrase").asc)
      .limit(topK)
  }

  /** Feature hashing (the "hashing trick"): every token indexes into a
    * FIXED `dim`-wide count vector through the shared deterministic char
    * hash — the constant-memory featurizer for linear models / n-gram
    * classifiers where a vocabulary dictionary would be unbounded state.
    * Output: (id, features: array<long>[dim]).
    *
    * Plan: one token-hash explode + groupBy(id, bucket) count (map-side
    * combined), then one per-doc map assembly; the dense vector builds
    * from a bounded `sequence(0, dim-1)` transform, so row width is fixed
    * by construction. No vocabulary table exists anywhere — the operator
    * is a pure projection+aggregate, reproducible on any partitioning.
    */
  def hashFeatures(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    val b = docs.select(col(idCol).as("id"),
        explode(expr(graft.functions.HashExprs.sparkWordHashes(textCol)))
          .as("h"))
      .select(col("id"), (col("h") % dim).as("bucket"))
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("cnt"))
    b.groupBy(col("id"))
      .agg(map_from_arrays(collect_list(col("bucket")),
        collect_list(col("cnt"))).as("m"))
      .select(col("id"), expr(
        s"transform(sequence(0, ${dim - 1}), i -> coalesce(element_at(m, CAST(i AS BIGINT)), 0L))")
        .as("features"))
  }

  /** Greedy left-to-right phrase rewrite: each occurrence of a mined
    * phrase "a b" becomes the single token "a_b" (first match wins,
    * merged tokens are not re-matched — standard tokenizer-merge
    * greediness). The phrase set is a bounded mined vocabulary and rides
    * the fold as a literal array; the rewrite itself is one generator-free
    * projection (an `aggregate` HOF fold per document — no explode, no
    * shuffle, no UDF). */
  def mergePhrases(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    val lits = phrases.map(p => "'" + p.replace("\\", "\\\\")
      .replace("'", "\\'") + "'").mkString("array(", ", ", ")")
    docs.select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol),
        expr(s"""array_join(aggregate(sequence(1, size(__w)),
          |  named_struct('out', CAST(array() AS array<string>), 'skip', false),
          |  (acc, i) -> CASE
          |    WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
          |    WHEN i < size(__w)
          |         AND array_contains($lits,
          |           concat(element_at(__w, i), ' ', element_at(__w, i + 1)))
          |      THEN named_struct('out', concat(acc.out,
          |             array(concat(element_at(__w, i), '_',
          |                          element_at(__w, i + 1)))),
          |           'skip', true)
          |    ELSE named_struct('out', concat(acc.out,
          |           array(element_at(__w, i))), 'skip', false)
          |  END).out, ' ')""".stripMargin).as("merged"))
  }

  /** Per-document n-gram novelty against ingest order: the share of a
    * document's distinct 3-shingles whose FIRST corpus occurrence (minimum
    * doc id over the whole corpus) is this document. A freshness /
    * diversity signal for curation — a crawl snapshot full of re-scraped
    * pages scores near zero, genuinely new content near 10^4 — and the
    * corpus-level complement of [[graft.operators.Dedup.exactDupSpans]]
    * (that one localizes repeats, this one credits firsts).
    *
    * Scale shape: one shingle explode (corpus-token-linear), one map-side-
    * combined `min(id)` aggregate on the shingle hash, one 1:1 join back on
    * the shingle hash, one per-doc aggregate — the text_dup_spans plan
    * shape exactly, no pair kernel anywhere, so a boilerplate shingle in
    * every doc costs its occurrence count, not its pair count. The shingle
    * arrays arrive de-duplicated per doc (`array_distinct` inside
    * [[graft.functions.HashNative.ShingleHashes]]), so counts are over
    * DISTINCT shingles by construction. Docs under 3 words carry the
    * null-sentinel shingle and are excluded (no shingles → no novelty
    * denominator). `novelty_bp` is integer basis points (×10^4, floor),
    * engine-exact. */
  def novelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = Dedup.shingleTable(docs, idCol, textCol)
      .select(col("id"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    val first = ex.groupBy(col("s")).agg(min(col("id")).as("first_id"))
    ex.join(first, "s")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_shingles"))
  }

  /** [[novelty]] against a PERSISTED first-seen gram index — the ingestion
    * KPI loop: "how much genuinely new content did today's batch bring?"
    * answered without re-reading yesterday's corpus. A shingle is novel for
    * batch doc `d` iff it is absent from the index AND `d` is the minimum
    * id claiming it within the batch; the batch's new shingles then append
    * to the index. Processing id-ordered batches reproduces the one-shot
    * [[novelty]] output exactly (the [[IncrementalDedup]] equivalence
    * discipline — spec-checked), so the oracle is `text_novelty`'s SQL
    * verbatim.
    *
    * Scale shape: batch-side cost is the novelty plan (explode + min
    * aggregate + 1:1 joins); the index contributes one key equi-join on
    * the shingle hash. As plain appended parquet that join shuffles the
    * index per batch; the production layout buckets `grams/` by the hash
    * (`bucketBy` on a real metastore) so the probe is map-side and
    * per-batch cost tracks the BATCH, never the corpus. The result is
    * localCheckpoint-frozen BEFORE the append for the same
    * re-compile-reads-own-writes hazard documented in
    * [[IncrementalDedup.processBatch]]. */
  def noveltyIncremental(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String): DataFrame = {
    val spark = batch.sparkSession
    val gramsPath = s"${indexDir.stripSuffix("/")}/grams"
    val ex = Dedup.shingleTable(batch, idCol, textCol)
      .select(col("id"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull)
      .persist()
    val p = new org.apache.hadoop.fs.Path(gramsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old =
      if (fs.exists(p)) spark.read.parquet(gramsPath)
      else ex.select(col("s")).limit(0)
    val firstInBatch = ex.groupBy(col("s")).agg(min(col("id")).as("first_id"))
    val out = ex
      .join(firstInBatch, "s")
      .join(old.select(col("s"), lit(true).as("seen")), Seq("s"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull && col("first_id") === col("id"), 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_shingles"))
      .localCheckpoint()
    firstInBatch.select(col("s"))
      .join(old.select(col("s")), Seq("s"), "left_anti")
      .write.mode("append").parquet(gramsPath)
    ex.unpersist()
    out
  }

  /** Deterministic global shuffle + sharded training-data export plan:
    * every row is assigned a shard by a Knuth-mix hash of its id, ordered
    * within its shard by (hash, id) — a reproducible corpus-wide random
    * permutation with NO global sort — and split into files by a byte
    * budget, so the export lands as `nShards × ceil(shard_bytes/target)`
    * uniformly-sized files (the small-files antidote, and the shape
    * `maxRecordsPerFile`-style writers want). Output columns:
    * (id, shard, pos, n_bytes, file_idx).
    *
    * Scale shape: the hash is one codegen'd projection; the only exchange
    * is the shard-partitioned window (hash-partition on `shard`, sort
    * within — Spark plans exactly one Exchange + per-partition sort).
    * Size `nShards` ≥ cluster parallelism so each shard is one task's
    * sort; no single-partition window anywhere. Determinism: same ids →
    * same (shard, pos, file_idx) on any cluster size or input layout,
    * which is what makes a training run reproducible bit-for-bit. The
    * Knuth mix reduces `id % P` BEFORE multiplying so the arithmetic stays
    * in nonnegative BIGINT range in both engines (DuckDB throws on BIGINT
    * overflow where Spark wraps). */
  def shuffleShards(docs: DataFrame, idCol: String, sizeCol: Column,
      nShards: Int, targetBytes: Long): DataFrame = {
    require(nShards > 0 && targetBytes > 0,
      s"nShards/targetBytes must be positive; got $nShards/$targetBytes")
    val P = HashExprs.P
    val keyed = docs.select(col(idCol).as("id"), sizeCol.as("n_bytes"))
      .withColumn("hkey", expr(s"((id % $P) * 2654435761) % $P"))
      .withColumn("shard", expr(s"hkey % $nShards"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("hkey"), col("id"))
    keyed
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .withColumn("cum", sum(col("n_bytes")).over(w))
      .select(col("id"), col("shard"), col("pos"), col("n_bytes"),
        expr(s"(cum - n_bytes) div $targetBytes").as("file_idx"))
  }

  /** Curriculum staging: rank documents by an integer difficulty score
    * (mean token length in micro-chars — longer words ≈ harder text; any
    * integer score column plugs in the same way) and cut the ranked corpus
    * into `nStages` equal-count stages, easy → hard; within a stage the
    * training order is the Knuth-mix hash of the id, so each stage is
    * internally shuffled but globally reproducible — the easy-to-hard
    * schedule curriculum training consumes.
    *
    * The stage cut is a [[GlobalRank]] sharded ntile (quantile-cut shards,
    * broadcast boundaries, per-shard windows + offsets) — fully parallel
    * at corpus grain; the per-stage shuffle windows partition on the stage
    * key and stay parallel at any scale. Output: (id, difficulty_micro,
    * stage, ord_in_stage) — stage in 1..nStages.
    */
  def curriculum(docs: DataFrame, idCol: String, textCol: String,
      nStages: Int): DataFrame = {
    require(nStages > 0, s"nStages must be > 0, got $nStages")
    val P = HashExprs.P
    val scored = docs.select(col(idCol).as("id"),
        expr(s"(length($textCol) * 1000000L) div size(split($textCol, ' '))")
          .as("difficulty_micro"))
    val staged = GlobalRank.withNtile(scored, col("difficulty_micro"),
      asc = true, col("id"), nStages, "stage")
    val inStage = Window.partitionBy(col("stage"))
      .orderBy(col("hkey").asc, col("id").asc)
    staged
      .withColumn("hkey", expr(s"((id % $P) * 2654435761) % $P"))
      .withColumn("ord_in_stage", row_number().over(inStage).cast("long"))
      .select(col("id"), col("difficulty_micro"), col("stage"),
        col("ord_in_stage"))
  }

  /** Per-document token-distribution Shannon entropy in micro-nats — the
    * repetition/gibberish detector on the information-theory axis: spammy
    * "buy buy buy" text scores near 0, diverse prose near ln(L). Using
    * `H = ln L − (Σ_w c_w·ln c_w)/L` over per-document token counts,
    * each distinct (doc, token) count pays ONE mirrored ln integerized to
    * micro-nats BEFORE the count-weighted sum (order-free), and the
    * closing `ln L − s/L` is a single mirrored double rounded to a
    * BIGINT. One token explode + two doc-keyed hash aggregates —
    * corpus-linear, map-side combined, no windows.
    * Output: (id, n_tokens, entropy_micro). */
  def tokenEntropy(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c"))
      .withColumn("clnc",
        col("c") * expr("CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT)"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_tokens"), sum(col("clnc")).as("s"))
      .select(col("id"), col("n_tokens"), expr(
        """CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0
          |  - CAST(s AS DOUBLE) / n_tokens) AS BIGINT)"""
          .stripMargin).as("entropy_micro"))
  }

  /** Winnowing position cap: selected-fingerprint encoding packs
    * (gram hash, position) into one BIGINT `h·K + (K − pos)` so the
    * rightmost-minimum window selection is a plain `array_min` (min h,
    * ties → max pos) — no struct aggregate, fully codegen'd. K bounds the
    * per-document gram count; h < P < 2³⁰ keeps the packed value < 2⁶¹,
    * so K = 2³¹ spends the position headroom a long actually has: a
    * 2-billion-gram document (~10 GB of text in one row — past any
    * realistic row size) is the first input that can hit the cap, and
    * [[graft.functions.HashNative.WinnowSelect]] fails LOUD there instead
    * of silently packing negative (K − p) offsets. The decoded
    * (pos = K − e mod K, fp = e div K) values are invariant to K, so
    * raising the cap changes no emitted fingerprint. */
  val WinnowPosCap = 1L << 31

  /** Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the MOSS
    * algorithm): hash every word 3-gram IN ORDER, slide a window of `w`
    * consecutive gram hashes, and keep the window's minimum (rightmost on
    * ties — the "robust winnowing" rule that makes selection depend only
    * on local context). The selected set carries the guarantee exact
    * Jaccard/minhash fingerprints lack: ANY shared word run of length
    * ≥ w + 2 between two documents shares at least one selected
    * fingerprint, at ~2/(w+1) the density of full gram hashing — the
    * plagiarism/near-dup primitive that localizes WHERE the overlap is
    * (the position rides along), not just that it exists.
    *
    * Plan: pure narrow per-document projection — native word hashes →
    * in-order gram hashes ([[graft.functions.HashNative.GramHashes]]) →
    * native per-window packed-min selection
    * ([[graft.functions.HashNative.WinnowSelect]]) → explode. The HOF
    * formulation of the selection step is a trap at this nesting depth:
    * Spark evaluates lambdas interpreted AND project collapse re-inlines
    * the gram array into every lambda reference (plus filter pushdown
    * duplicates the whole chain into predicates), turning O(m·w) per doc
    * into O(m²·w)+ — the native expression is one tight loop. No shuffle
    * until the caller aggregates; documents shorter than 3 words
    * contribute no grams hence no rows, and docs with fewer than `w`
    * grams yield one whole-array window (the standard short-document
    * case). Corpus-linear at any scale.
    * Output: (id, pos, fp) — pos the 1-based gram index of the selected
    * hash. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 4): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val K = WinnowPosCap
    docs
      .select(col(idCol).as("id"),
        HashNative.winnowSelect(
          HashNative.gramHashes(HashNative.wordHashes(col(textCol)), 3),
          w, K).as("sel"))
      .select(col("id"), explode(col("sel")).as("e"))
      .select(col("id"), (lit(K) - col("e") % K).as("pos"),
        expr(s"e div ${K}L").as("fp"))
  }

  /** Winnowing near-dup pairs: postings join on selected fingerprints
    * ([[winnowFingerprints]]), pairs sharing at least `minShared`
    * DISTINCT fingerprint hashes. The df cap drops fingerprints appearing
    * in more than `dfCap` documents before pairing (boilerplate grams
    * would otherwise emit O(df²) pairs — the containment-join discipline,
    * a lossy-only-for-stopword-fps cap the caller sizes). Pair emission is
    * Σ C(df, 2) over surviving postings — never all-pairs.
    *
    * Plan: ONE exchange on `fp` serves the postings distinct, the df and
    * the self-join — each fingerprint's sorted id SET is its distinct
    * postings, the set's size is its df, and its ascending id pairs are
    * the join output; one more aggregate counts shared fingerprints per
    * pair. Lazy: nothing runs until the caller's action, and nothing is
    * left cached. NULL ids post nothing.
    * Output: (id_a, id_b, n_shared), id_a < id_b. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 4, minShared: Int = 3, dfCap: Int = 50): DataFrame =
    winnowFingerprints(docs, idCol, textCol, w)
      .groupBy(col("fp")).agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= dfCap)
      .select(Dedup.ascendingPairs("ids", "id_a", "id_b", diagonal = false))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Persist a winnow-fingerprint postings index — the MOSS analog of
    * [[graft.operators.Dedup.buildMinhashIndex]]'s lifecycle:
    * `dir/postings` holds the DISTINCT (id, fp) selected-fingerprint
    * postings. Fingerprint selection is data-independent (no trained
    * state — like MinHash bands, unlike IVF seeds), so append ≡ rebuild
    * by construction. */
  def buildWinnowIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, w: Int = 4): Unit =
    winnowFingerprints(docs, idCol, textCol, w)
      .select(col("id"), col("fp")).distinct()
      .write.mode("overwrite").parquet(s"$dir/postings")

  /** Append a batch of NEW docs to a [[buildWinnowIndex]] index — one
    * native winnowing pass over the BATCH plus one parquet append; never
    * rescans the indexed corpus. Ids must be new (the index does not
    * dedup ids). */
  def appendWinnowIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, w: Int = 4): Unit =
    winnowFingerprints(docs, idCol, textCol, w)
      .select(col("id"), col("fp")).distinct()
      .write.mode("append").parquet(s"$dir/postings")

  /** Shared-run lookup of a probe slice against a [[buildWinnowIndex]]
    * index: probes winnow themselves (batch cost only), candidates come
    * from the stored postings (equi-join on fingerprint), and pairs
    * sharing ≥ `minShared` DISTINCT fingerprints survive — identical
    * semantics to [[winnowPairs]] between probes and the indexed corpus,
    * with the corpus side read from disk instead of re-winnowed. The
    * `dfCap` boilerplate guard measures document frequency over the
    * STORED index (the stable corpus-side statistic — probe batches must
    * not be able to promote a stopword fingerprint past the cap from the
    * outside). Self-matches (a probe id also present in the index) are
    * excluded. Output: (probe_id, match_id, n_shared). */
  def queryWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, idCol: String, textCol: String,
      w: Int = 4, minShared: Int = 3, dfCap: Int = 50): DataFrame = {
    val pf = winnowFingerprints(probes, idCol, textCol, w)
      .select(col("id").as("probe_id"), col("fp")).distinct().persist()
    val postings = spark.read.parquet(s"$dir/postings")
    val kept = postings.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select(col("fp"))
    val out = pf
      .join(kept, Seq("fp"))
      .join(postings.select(col("fp"), col("id").as("match_id")),
        Seq("fp"))
      .filter(col("probe_id") =!= col("match_id"))
      .groupBy(col("probe_id"), col("match_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .persist()
    out.count()
    pf.unpersist(false)
    out
  }

  /** Vocabulary-growth curve in CORPUS ORDER (Heaps'-law readout): after
    * the first r documents (ordered by `idCol` — the deterministic stand-in
    * for ingest order), how many tokens have been seen and how many
    * DISTINCT word types? The curve is the diminishing-returns monitor of
    * a data-collection program: a flattening vocab curve says new data is
    * re-treading old vocabulary. Token counts ride a [[GlobalRank]]
    * sharded cumulative sum (never a single-partition
    * window); first occurrences are `min(rank)` per word — one explode +
    * one word-grain aggregate — folded back as per-rank new-type counts.
    * Emitted every `step`-th rank plus the final rank, so output stays
    * bounded no matter the corpus size.
    * Output: (r, cum_tokens, cum_types). */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      step: Long = 10L): DataFrame = {
    require(step >= 1, s"step must be >= 1, got $step")
    val base = docs.select(col(idCol).as("id"),
        split(col(textCol), " ").as("ws"))
      .persist()
    val n = base.count()
    val (ranked, _) = GlobalRank.withRowNumber(
      base, col("id"), asc = true, col("id"), "r", n)
    val rankedW = ranked.persist()
    val firsts = rankedW
      .select(col("r"), explode(array_distinct(col("ws"))).as("w"))
      .groupBy(col("w")).agg(min(col("r")).as("fr"))
      .groupBy(col("fr").as("r")).agg(count(lit(1)).as("nw"))
    val perDoc = rankedW
      .select(col("r"), size(col("ws")).cast("long").as("ntok"))
      .join(firsts, Seq("r"), "left")
      .select(col("r"), col("ntok"), coalesce(col("nw"), lit(0L)).as("nw"))
    val (cum, _, _) = GlobalRank.withCumSums(perDoc, col("r"), asc = true,
      col("r"), Seq(col("ntok") -> "cum_tokens", col("nw") -> "cum_types"),
      n)
    val out = cum
      .filter(col("r") % step === 0 || col("r") === n)
      .select(col("r"), col("cum_tokens"), col("cum_types"))
      .persist()
    out.count()
    base.unpersist(false); rankedW.unpersist(false)
    out
  }

  /** Heaps'-law fit V = k·Nᵝ over the [[vocabGrowth]] curve: OLS of
    * ln(cum_types) on ln(cum_tokens) across the sampled points. Each point
    * pays two mirrored `ln`s integerized to micro BEFORE the moment sums;
    * the moments ride DECIMAL(38,0) (micro-lns are ~10⁷, squares ~10¹⁴ —
    * long sums would wrap past ~10⁵ points; decimal keeps the fit exact at
    * any sample count, and DuckDB's HUGEINT sums mirror it). β for natural
    * text sits in (0.4, 0.7); β drifting up over ingest rounds means the
    * corpus keeps finding genuinely new vocabulary.
    * Output: 1 row (n_points, beta_micro, lnk_micro). */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
      step: Long = 10L): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val vg = vocabGrowth(docs, idCol, textCol, step)
    val moments = vg
      .filter(col("cum_tokens") > 0 && col("cum_types") > 0)
      .select(
        expr("CAST(round(1e6 * ln(CAST(cum_tokens AS DOUBLE))) AS BIGINT)")
          .as("x"),
        expr("CAST(round(1e6 * ln(CAST(cum_types AS DOUBLE))) AS BIGINT)")
          .as("y"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
    // materialize the 1-row moment aggregate (bounded control-plane
    // collect) so the persisted growth curve can be RELEASED here — the
    // lazy plan would otherwise pin vocabGrowth's cache until the caller's
    // action, a bounded-but-real leak per invocation
    val spark = docs.sparkSession
    val row = moments.collect()(0)
    vg.unpersist(false)
    heapsFit(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), moments.schema))
  }

  /** Per-document n-gram repetition signals (the Gopher/MassiveText
    * quality-rule family): for each n in `ns`, the fraction of the
    * document's n-gram POSITIONS covered by the single most frequent
    * n-gram (`topN_micro` — catches "subscribe now subscribe now ..."
    * loops) and by n-grams occurring more than once (`dupN_micro` —
    * catches internally-templated listings/boilerplate). Both are exact
    * integer rationals per document: `max(c)/m` and `Σ_{c≥2} c / m` over
    * the per-(doc, gram) counts, m = tokens − n + 1 gram slots — one
    * mirrored micro division each. Grams are the native in-order hash
    * chain ([[graft.functions.HashNative.GramHashes]] — no string n-gram
    * materialization); per n the plan is one explode + one (doc, gram)
    * hash aggregate + one doc-grain aggregate, corpus-linear, shuffling
    * on (doc, gram). Documents with fewer than n tokens have no gram
    * slots → NULL fractions for that n (never a 0/0).
    * Output: (id, n_tokens, then per n: topN_micro, dupN_micro). */
  def docRepetition(docs: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3, 5, 10)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1) && ns.distinct == ns,
      s"ns must be distinct and >= 1, got $ns")
    val base = docs.select(col(idCol).as("id"),
        HashNative.wordHashes(col(textCol)).as("wh"))
      .persist()
    val out = ns.foldLeft(
      base.select(col("id"), size(col("wh")).cast("long").as("n_tokens"))) {
      (acc, n) =>
        val per = base
          .select(col("id"),
            explode(HashNative.gramHashes(col("wh"), n)).as("g"))
          .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("id"))
          .agg(sum(col("c")).as("m"), max(col("c")).as("mx"),
            sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"))
          .select(col("id"),
            expr("CAST(round(1e6 * CAST(mx AS DOUBLE) / m) AS BIGINT)")
              .as(s"top${n}_micro"),
            expr("CAST(round(1e6 * CAST(dup AS DOUBLE) / m) AS BIGINT)")
              .as(s"dup${n}_micro"))
        acc.join(per, Seq("id"), "left")
    }.persist()
    out.count()
    base.unpersist(false)
    out
  }

  /** CCNet/C4-style line-level boilerplate removal: a line that appears
    * in more than `maxLineDf` distinct documents is corpus boilerplate
    * (cookie banners, nav chrome, per-source templates) and is dropped
    * from EVERY document; the document survives with its remaining lines
    * in original order. The per-line document frequency is the exact
    * count of distinct doc ids per line (CCNet counts documents, not
    * occurrences — a doc repeating its own line doesn't inflate df), and
    * lines travel the df aggregate as md5 keys so the shuffle carries a
    * 32-char hash, not the line text (md5 is bit-identical in Spark and
    * DuckDB, so even a collision would be mirrored).
    *
    * Plan: one posexplode to line grain (corpus-linear), one
    * combine-friendly (hash → distinct-doc count) aggregate, one line →
    * df equi-join, one doc-grain reassembly aggregate. No corpus-grain
    * window, nothing all-pairs — scan-bound at 100 TB.
    *
    * Output: one row per input document —
    * (id, n_lines, n_kept, kept_hash) with kept_hash = md5 of the
    * surviving lines rejoined by `\n` (md5('') for a fully-boilerplate
    * doc), so the oracle pins the reassembled TEXT, not just counts. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      maxLineDf: Long): DataFrame = {
    require(maxLineDf >= 1, s"maxLineDf must be >= 1, got $maxLineDf")
    val lines = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "ln")))
      .withColumn("h", md5(col("ln")))
    val dfreq = lines.groupBy(col("h"))
      .agg(count_distinct(col("id")).as("ldf"))
    lines.join(dfreq, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("ldf") <= maxLineDf, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(
          when(col("ldf") <= maxLineDf, struct(col("pos"), col("ln"))))),
          x => x("ln")), "\n")).as("kept_hash"))
  }

  /** Concat-and-chunk sequence packing — the step that turns a document
    * corpus into fixed-length training sequences: documents are laid end
    * to end in a deterministic global order (id asc) and cut every
    * `seqLen` tokens, exactly the packing GPT-style pipelines apply
    * before batching. Per document this reports which training sequences
    * ("bins") it lands in: `start_bin = start_offset div L`,
    * `end_bin = (end_offset − 1) div L`, and whether it straddles a cut
    * (`crosses` — the fraction of crossing docs is the attention-mask
    * fragmentation a packing review reads).
    *
    * The GLOBAL companion of [[packSequences]] (which bins per shard and
    * restarts the offset at each source): one corpus-wide token stream,
    * so the crossing flag is meaningful — that is what the attention
    * mask pays for. The global running token offset rides
    * [[GlobalRank.withRunningSum]]'s sharded machinery — no corpus-grain
    * single-partition window at any corpus size; everything else is a
    * projection. Exact integer
    * arithmetic throughout.
    * Output: (id, n_tokens, start_bin, end_bin, crosses). */
  def seqPack(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokenCount(textCol).as("n_tokens"))
    val cum = GlobalRank.withRunningSum(base, col("id"), asc = true,
      col("id"), col("n_tokens"), "cum")
    cum.select(col("id"), col("n_tokens"),
      expr(s"(cum - n_tokens) div ${seqLen}L").as("start_bin"),
      expr(s"(cum - 1) div ${seqLen}L").as("end_bin"))
      .withColumn("crosses", col("end_bin") > col("start_bin"))
  }

  /** Closed-form OLS readout over a 1-row (n_points, sx, sy, sxy, sxx)
    * DECIMAL(38,0) moment frame — split from [[heapsLaw]] so the
    * degenerate-variance guard is testable on constructed moments. The
    * slope numerator `n·sxy − sx·sy` and denominator `n·sxx − sx²` are
    * computed in EXACT decimal arithmetic (past 2⁵³ the double-multiplied
    * forms lose bits — at 10⁶ sampled points the moments sit well past
    * it), the zero-variance guard compares the exact denominator to zero
    * (a double-cast comparison can collide two DIFFERENT moments into a
    * spurious NULL), and the ONLY doubles are the final mirrored
    * divisions of the two exact integers — DuckDB mirrors them as
    * HUGEINT-exact differences cast to DOUBLE the same way. */
  private[graft] def heapsFit(moments: DataFrame): DataFrame =
    moments
      .withColumn("nm", expr(
        "CAST(n_points AS DECIMAL(38,0)) * sxy - sx * sy"))
      .withColumn("dn", expr(
        "CAST(n_points AS DECIMAL(38,0)) * sxx - sx * sx"))
      .select(col("n_points"), expr(
        """CASE WHEN n_points = 0 OR dn = 0 THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(1e6
          |  * (CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE))) AS BIGINT)
          |END""".stripMargin).as("beta_micro"), expr(
        """CASE WHEN n_points = 0 OR dn = 0 THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(
          |  (CAST(sy AS DOUBLE) - CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE)
          |    * CAST(sx AS DOUBLE)) / n_points) AS BIGINT)
          |END""".stripMargin).as("lnk_micro"))
}
