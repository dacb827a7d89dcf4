package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashExprs._
import graft.functions.HashNative
import Checkpoints.finalized

/** Deduplication operators for large-scale text corpora.
  *
  * Scale design notes (the point of each variant):
  *  - `exact`: one hash-shuffle on the key; map-side partial aggregation
  *    makes this the cheapest possible full-corpus dedup.
  *  - `minhashNearDups`: the 100 TB path. Candidate generation is
  *    shuffle-on-band-key (each doc emits `Bands` short keys), so the
  *    quadratic all-pairs comparison collapses to per-bucket joins; exact
  *    Jaccard verification runs only on candidates. No driver-side state.
  *  - `ngramNearDups`: EXACT n-gram Jaccard via an inverted index (no
  *    cartesian, but Σ C(df,2) pair emissions); the correctness baseline
  *    that verifies the LSH variants' recall in tests. An opt-in
  *    stop-shingle cap bounds the pair blow-up at scale (see its doc for
  *    the recall caveat that keeps it opt-in).
  *  - `simhashNearDups`: constant-size fingerprint (single long), candidate
  *    filter by Hamming distance, verified by token Jaccard.
  *
  * All hashes are exact integer arithmetic (see [[graft.functions.HashExprs]])
  * so results are engine-independent and oracle-checkable.
  */
object Dedup {

  /** Exact dedup: one surviving id per distinct key, plus multiplicity. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("copies"))

  /** id -> distinct word-3-shingle hash array. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        HashNative.wordHashes(col(textCol)).as("wh"))
      .select(col("id"), HashNative.shingleHashes(col("wh")).as("sh"))

  /** Maximal exact-duplicate substrings — the Lee et al. exact-substring
    * dedup (arXiv:2107.06499): every verbatim token run of ≥ `minTokens`
    * that occurs MORE THAN ONCE anywhere in the corpus (another doc or the
    * same one), reported as per-doc token spans so a pipeline can excise
    * the duplicated text rather than drop whole documents.
    *
    * The suffix-array formulation distributes poorly; this is the exact
    * positional equivalent: a substring of ≥ `minTokens` occurring twice
    * ⟺ every one of its `minTokens`-gram positions occurs twice (at the
    * matching offsets) — so mark each position whose k-gram has corpus
    * frequency ≥ 2, merge consecutive marked positions per doc
    * (gaps-and-islands), and widen each island by k−1 trailing tokens.
    * The span set is IDENTICAL to the suffix-array answer up to rolling-
    * hash collisions (polynomial mod 1e9+7 — the oracle replays the same
    * hash, so parity is exact; a production paranoia pass can re-verify
    * spans byte-wise).
    *
    * Scale shape: one (position, gram-hash) explode (corpus-token-linear),
    * one map-side-combined frequency aggregate on the gram hash, ONE
    * 1:1 join back (positions never pair with positions — no Σ C(df,2)
    * kernel anywhere, so a boilerplate gram in every doc costs its
    * occurrence count, not its pair count), and a per-doc window merge
    * co-partitioned on the doc id. Output:
    * (<idCol>, span_start, span_end, n_grams) — token indices, end
    * exclusive, spans ≥ `minTokens` tokens by construction. */
  def exactDupSpans(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 8): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2, got $minTokens")
    val k = minTokens
    // the gram table rides the native position-preserving k-gram combine
    // ([[graft.functions.HashNative.GramHashes]] — a tight JVM loop): the
    // HOF formulation (transform × nested aggregate) evaluated interpreted
    // per POSITION and benched 10.1 s at sf0.1 vs ~1 s native
    val grams = materialized(docs
      .select(col(idCol).as("id"),
        HashNative.wordHashes(col(textCol)).as("wh"))
      .select(col("id"), HashNative.gramHashes(col("wh"), k).as("gs"))
      .select(col("id"), posexplode(col("gs")).as(Seq("pos", "g"))))
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("occ"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos").asc)
    finalized(grams.join(freq, "g")
      .filter(col("occ") >= 2)
      .select(col("id"), col("pos").cast("long").as("pos"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("id").as(idCol), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + k).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("grp"), grams)
  }

  /** Whether ids of this type survive a lossless round-trip through Long
    * (the pair kernels and the union-find path carry ids as longs). */
  private[operators] def integralType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(dt)
  }

  /** Materialize a sketch table before joins touch it. Two reasons, both
    * load-bearing at scale:
    * 1. sketch tables are read multiple times (candidate join + verify) —
    *    recomputing interpreted higher-order-function hash chains per pass
    *    costs more than the cache;
    * 2. an InMemoryRelation is an optimizer barrier: without it,
    *    InferFiltersFromConstraints derives `isnotnull(<join key>)` and
    *    pushes it below the projections, INLINING the whole hash-expression
    *    chain into an interpreted per-row filter with every intermediate
    *    array reference re-expanded (observed: >100x blowup — 9+ min for a
    *    1000-doc corpus vs <1 s materialized).
    * At 100 TB the equivalent move is writing the sketch table to storage
    * once; MEMORY_AND_DISK is the single-job analog. */
  private def materialized(df: DataFrame): DataFrame = df.persist()

  /** Jaccard(a, b) >= num/den as pure integer comparison. The NULL sentinel
    * (docs with <3 words) must never count as a shared shingle: Spark's
    * array_intersect matches NULL to NULL (DuckDB's list_intersect does
    * not), so NULLs are stripped from one side before intersecting — two
    * short docs then have intersection 0 over union 2 and never pair. */
  private[operators] def jaccardGe(num: Int, den: Int) = {
    val inter = size(array_intersect(
      expr("filter(sa, x -> x IS NOT NULL)"), col("sb")))
    val union = size(col("sa")) + size(col("sb")) - inter
    inter * den >= union * num
  }

  /** MinHash+LSH near-duplicate pairs (id_a < id_b), verified by exact
    * shingle Jaccard >= num/den. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      num: Int = 7, den: Int = 10): DataFrame = {
    val sh = materialized(shingleTable(docs, idCol, textCol))
    val bands = sh
      .select(col("id"), HashNative.minhashSig(col("sh")).as("mh"))
      .select(col("id"), explode(expr(sparkBands("mh"))).as("bv"))
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.bv") === col("b.bv") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    finalized(cand
      .join(sh.select(col("id"), col("sh").as("sa")), cand("id_a") === col("id"))
      .drop("id")
      .join(sh.select(col("id"), col("sh").as("sb")), cand("id_b") === col("id"))
      .filter(jaccardGe(num, den))
      .select(col("id_a"), col("id_b")), sh)
  }

  /** Sketch-error audit for the MinHash estimator: for every LSH band
    * candidate pair, the signature-agreement Jaccard estimate
    * (`matching positions / NumPerm`) next to the EXACT shingle-set
    * Jaccard, both in integer basis points, plus their absolute error.
    * "Measure, don't guess" applied to the sketch itself — this is how a
    * pipeline owner picks `num/den` thresholds and the permutation count
    * from data instead of folklore (the estimator's σ ≈ √(J(1−J)/32) ≈
    * 850 bp at J=0.5; a measured error distribution far off that flags a
    * broken hash family faster than any unit test).
    *
    * Scale shape: identical to [[minhashNearDups]] up to the candidate
    * join (banded LSH — the pair space is collision-bounded, never
    * all-pairs); the per-pair scoring adds one 32-element signature walk
    * and one shingle-set intersect, both O(|doc|) array ops on the
    * already-joined rows. Docs under 3 words (null-sentinel shingles)
    * are excluded up front on BOTH engines. */
  def minhashQuality(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sh0 = shingleTable(docs, idCol, textCol)
      .filter(col("sh").getItem(0).isNotNull)
    val sh = materialized(
      sh0.select(col("id"), col("sh"), HashNative.minhashSig(col("sh")).as("mh")))
    val bands = sh
      .select(col("id"), explode(expr(sparkBands("mh"))).as("bv"))
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.bv") === col("b.bv") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    finalized(cand
      .join(sh.select(col("id"), col("sh").as("sa"), col("mh").as("ma")),
        cand("id_a") === col("id"))
      .drop("id")
      .join(sh.select(col("id"), col("sh").as("sb"), col("mh").as("mb")),
        cand("id_b") === col("id"))
      .withColumn("est_bp", expr(
        s"size(filter(sequence(1, $NumPerm), " +
          s"i -> element_at(ma, i) = element_at(mb, i))) * 10000 " +
          s"div $NumPerm").cast("long"))
      .withColumn("exact_bp", expr(
        "size(array_intersect(sa, sb)) * 10000 div " +
          "(size(sa) + size(sb) - size(array_intersect(sa, sb)))").cast("long"))
      .select(col("id_a"), col("id_b"), col("est_bp"), col("exact_bp"),
        abs(col("est_bp") - col("exact_bp")).as("err_bp")), sh)
  }

  /** Exact n-gram Jaccard near-dup pairs via an inverted index: explode
    * shingles, build per-shingle postings lists, emit each co-occurring doc
    * pair from a tight kernel loop, count co-occurrences = intersection
    * size, then filter on the integer Jaccard inequality. Identical output
    * to the naive all-pairs comparison, but the cartesian collapses to
    * per-shingle blocks — one groupBy shuffle, then Σ C(df,2) emitted pairs
    * (a self-JOIN on the shingle computes the same set but materializes
    * twice the rows through the join machinery).
    *
    * `maxShingleDf` (default OFF): when set, shingles appearing in more
    * than this many docs are dropped from CANDIDATE generation — a shingle
    * in k docs contributes C(k,2) kernel pairs, so one near-universal
    * shingle would dominate shuffle+CPU at web scale while carrying no
    * dedup signal. Capped candidates are verified by exact Jaccard over the
    * FULL shingle arrays, so the cap cannot alter any emitted pair's score
    * — but it CAN miss pairs: a near-dup cluster larger than the cap
    * (heavily replicated boilerplate) has every shared shingle above the
    * cap and silently produces zero candidates. That missed-cluster mode is
    * why the cap is opt-in for scale call sites that accept it (route such
    * corpora through `exact`/`minhashNearDups` first, which dissolve the
    * giant clusters the cap would miss). With `None` (the default), every
    * co-occurring pair is scored by pure intersection counting with no
    * second pass over the arrays — exact output, Σ C(df,2) cost.
    * Ids must be integral (they travel through the kernel as longs). */
  def ngramNearDups(docs: DataFrame, idCol: String, textCol: String,
      num: Int = 7, den: Int = 10,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(integralType(idType),
      s"ngramNearDups requires an integral id column, got $idType " +
        "(ids travel through the pair kernel as longs)")
    val sh = materialized(shingleTable(docs, idCol, textCol))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    // the NULL sentinel shingle (docs with <3 words) carries no dedup signal
    // and must not key a postings group — NULL-keyed grouping would pair
    // every short doc with every other short doc
    val ex = sh.select(col("id").cast("long").as("id"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    maxShingleDf match {
      case Some(maxDf) =>
        // scale path: candidates from sub-cap shingles only, exact verify
        finalized(cappedCandidates(ex, sh, maxDf, idType)
          .filter(jaccardGe(num, den))
          .select(col("id_a"), col("id_b")), sh)
      case None =>
        // exact-count path: co-occurrence count IS the intersection size
        finalized(exactPairScores(ex, sizes, idType)
          .filter(col("inter") * den >= (col("na") + col("nb") - col("inter")) * num)
          .select(col("id_a"), col("id_b")), sh)
    }
  }

  /** Shared capped-candidate scaffold for the `maxShingleDf` scale paths
    * of [[ngramNearDups]] and [[containmentPairs]]: candidate pairs come
    * only from shingles appearing in ≤ `maxDf` docs, each candidate joined
    * back to BOTH docs' FULL shingle arrays — `(id_a, id_b, sa, sb)` — so
    * the caller's predicate verifies against uncapped sets (the cap can
    * miss a pair, never mis-score an emitted one). */
  private def cappedCandidates(ex: DataFrame, sh: DataFrame, maxDf: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val rare = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("s"))
    val cand = postingsPairs(ex.join(rare, "s")).distinct()
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"))
    cand
      .join(sh.select(col("id"), col("sh").as("sa")), cand("id_a") === col("id"))
      .drop("id")
      .join(sh.select(col("id"), col("sh").as("sb")), cand("id_b") === col("id"))
      .drop("id")
  }

  /** Shared exact-overlap kernel: postings co-occurrence counts joined to
    * both docs' shingle-set sizes — `(id_a, id_b, inter, na, nb)`,
    * `id_a < id_b`. [[ngramNearDups]] filters it on the Jaccard
    * inequality, [[containmentPairs]] on the containment one. */
  private def exactPairScores(ex: DataFrame, sizes: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val inter = postingsPairs(ex).groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"), col("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
  }

  /** Containment near-dup pairs: `|sh_a ∩ sh_b| · den >= min(|sh_a|,
    * |sh_b|) · num` — the asymmetric overlap Jaccard cannot see. A short
    * doc fully quoted inside a long one has tiny Jaccard (union is the
    * long doc) but containment ≈ 1; this is the quote/subset-duplication
    * detector of a curation pipeline. Same inverted-index kernel and cost
    * shape as [[ngramNearDups]]' exact path (one postings shuffle,
    * Σ C(df,2) streamed pairs, co-occurrence count IS the intersection) —
    * only the final integer inequality differs. Emits
    * `(id_a, id_b, shared_shingles)`, `id_a < id_b`.
    *
    * `maxShingleDf` (default OFF) is the scale escape hatch, mirroring
    * [[ngramNearDups]]: with it set, candidates come only from shingles in
    * ≤ `maxShingleDf` docs (one boilerplate shingle at df=10^6 would emit
    * 5·10^11 kernel pairs), and each candidate's containment is verified
    * against the FULL shingle sets — the cap can therefore never alter an
    * emitted pair's `shared_shingles`, but it CAN miss a pair whose every
    * shared shingle is above the cap (heavily replicated boilerplate).
    * Containment is MORE exposed to that miss than Jaccard — the short
    * quoted doc's shingles are exactly the mass-duplicated ones — so route
    * boilerplate-heavy corpora through [[exact]]/[[minhashNearDups]] first,
    * as the ngram doc prescribes. Opt-in for that reason. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      num: Int = 8, den: Int = 10,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(integralType(idType),
      s"containmentPairs requires an integral id column, got $idType")
    val sh = materialized(shingleTable(docs, idCol, textCol))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val ex = sh.select(col("id").cast("long").as("id"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    maxShingleDf match {
      case Some(maxDf) =>
        // scale path: candidates from sub-cap shingles, exact verify over
        // the full arrays — `inter` recomputed there, so capped candidates
        // carry exact scores (NULL sentinel stripped as in jaccardGe)
        val inter = size(array_intersect(
          expr("filter(sa, x -> x IS NOT NULL)"), col("sb")))
        finalized(cappedCandidates(ex, sh, maxDf, idType)
          .withColumn("inter", inter.cast("long"))
          .filter(col("inter") * den >=
            least(size(col("sa")), size(col("sb"))) * num)
          .select(col("id_a"), col("id_b"), col("inter").as("shared_shingles")),
          sh)
      case None =>
        finalized(exactPairScores(ex, sizes, idType)
          .filter(col("inter") * den >= least(col("na"), col("nb")) * num)
          .select(col("id_a"), col("id_b"), col("inter").as("shared_shingles")),
          sh)
    }
  }

  /** Per-doc contamination attribution: for each corpus doc overlapping
    * the eval set at `minShared`+, WHICH eval doc it shares the most
    * distinct shingles with (ties resolve to the lowest eval id). The
    * actionable companion to [[decontaminate]]'s boolean gate — an audit
    * needs to see the matched benchmark item, not just a flag.
    *
    * Scale shape: eval shingles broadcast (benchmarks are small by
    * definition); per-(doc, eval) counts come from one aggregate over the
    * semi-joined explode, and the argmax is a window over each doc's
    * bounded hit list — no corpus-corpus pairing anywhere. Emits
    * `(<idCol>, top_eval_id, shared_shingles)`, contaminated docs only. */
  def decontaminateReport(corpus: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, minShared: Int = 3): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val evSh = broadcast(shingleTable(evalDocs, idCol, textCol)
      .select(col("id").as("eval_id"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull).distinct())
    val cs = shingleTable(corpus, idCol, textCol)
      .select(col("id"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull).distinct()
    val perPair = cs.join(evSh, "s")
      .groupBy(col("id"), col("eval_id")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("shared").desc, col("eval_id").asc)
    perPair.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id").as(idCol), col("eval_id").as("top_eval_id"),
        col("shared").as("shared_shingles"))
  }

  /** Benchmark decontamination: per corpus doc, the count of distinct
    * shingles it shares with ANY document of `evalDocs` (an evaluation /
    * benchmark set), and a flag at `minShared`. The standard LLM-pipeline
    * gate against train-on-test leakage: n-gram overlap, not exact match,
    * so paraphrased or partially quoted benchmark items still trip it.
    *
    * Scale shape: the eval set is small by definition (benchmarks are
    * ~10^4-10^5 items) — its distinct shingle set ships as a broadcast
    * and the corpus side is ONE shingle explode + broadcast semi-join +
    * per-doc count, no corpus-corpus pairing anywhere. For eval sets too
    * big to broadcast, `broadcastEval = false` degrades to a shuffle
    * equi-join on the shingle hash — same row counts, same result.
    *
    * Returns one row per corpus doc: `(<idCol>, shared_shingles,
    * is_contaminated)` — zero-overlap docs included (the common case;
    * the output is a gate, not a report). */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, minShared: Int = 3,
      broadcastEval: Boolean = true): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val evSh0 = shingleTable(evalDocs, idCol, textCol)
      .select(explode(col("sh")).as("s"))
      .filter(col("s").isNotNull).distinct()
    val evSh = if (broadcastEval) broadcast(evSh0) else evSh0
    // distinct (doc, shingle) before the join so the per-doc count IS the
    // distinct-intersection size (a doc repeating one contaminated shingle
    // must not inflate its score)
    val cs = shingleTable(corpus, idCol, textCol)
      .select(col("id"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull).distinct()
    // reserved-prefix the hits columns: shingleTable hardcodes "id", so a
    // caller whose idCol is literally "id" (or "shared") would otherwise
    // make the post-join select ambiguous
    val hits = cs.join(evSh, "s")
      .groupBy(col("id")).agg(count(lit(1)).as("__decon_shared"))
      .withColumnRenamed("id", "__decon_id")
    corpus.select(col(idCol))
      .join(hits, col(idCol) === col("__decon_id"), "left")
      .select(col(idCol),
        coalesce(col("__decon_shared"), lit(0L)).as("shared_shingles"),
        (coalesce(col("__decon_shared"), lit(0L)) >= minShared)
          .as("is_contaminated"))
  }

  /** Cross-source contamination matrix: for every pair of sources, the
    * number of distinct word-3-shingles present in BOTH — the
    * corpus-composition audit run before mixing crawls ("how much of
    * source B is already in source A?"). Emits one row per source pair
    * with any overlap: `(source_a, source_b, n_shared, n_a, n_b)`
    * (`source_a < source_b`; `n_a`/`n_b` are each source's distinct
    * shingle counts, so Jaccard/containment are one division away).
    *
    * Scale shape: ONE shuffle on the shingle hash builds each shingle's
    * sorted source SET — the distinct `(shingle, source)` table, bounded
    * by the number of SOURCES (a corpus-provenance label with
    * tens-to-hundreds of values), never by document count. Each set's
    * ascending source pairs, diagonal included, feed one aggregate:
    * `(a, a)` counts the distinct shingles of source a (its total),
    * `(a, b)` with a < b the shingles both hold. Never a doc-doc or
    * shingle-posting-pair join: a boilerplate shingle in every doc of two
    * sources costs ONE pair row, where a postings-pair kernel would emit
    * C(df, 2). */
  def sourceOverlap(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val cells = srcShingles(docs, textCol, sourceCol)
      .groupBy(col("s")).agg(sort_array(collect_set(col("src"))).as("srcs"))
      .select(ascendingPairs("srcs", "sa", "sb", diagonal = true))
      .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .agg(count(lit(1)).as("n"))
    // each pair reads both totals off the diagonal through a window over
    // the (sources²-row) cell table — no join, no broadcast
    val total = max(when(col("sa") === col("sb"), col("n")))
    finalized(cells
      .withColumn("n_a", total.over(Window.partitionBy(col("sa"))))
      .withColumn("n_b", total.over(Window.partitionBy(col("sb"))))
      .filter(col("sa") < col("sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n").as("n_shared"), col("n_a"), col("n_b")))
  }

  /** Sketch variant of [[sourceOverlap]] for corpora where even the
    * distinct `(shingle, source)` table is worth avoiding: ONE pass
    * builds a fixed-size HLL sketch of each source's shingle set
    * (`lgConfigK` registers, mergeable, map-side combined), and pairwise
    * overlap is estimated driver-free by inclusion-exclusion over the
    * tiny per-source sketch table: `|A ∩ B| ≈ |A| + |B| − |A ∪ B|`.
    * The pair frame is sources × sources — a broadcast self-join of a
    * #sources-row table, not a data-scale op. Estimates carry HLL error
    * (~1.6% at lgConfigK=12) and small intersections of large sets can
    * even go negative (clamped to 0): an audit signal, not an exact
    * count — tests bound it against [[sourceOverlap]]. */
  // (docs don't need an id here: shingles attach to the SOURCE, so both
  // variants project (src, shingle) straight off the text — no id join)
  def sourceOverlapApprox(docs: DataFrame, textCol: String,
      sourceCol: String, lgConfigK: Int = 12): DataFrame = {
    val sk = srcShingles(docs, textCol, sourceCol)
      .groupBy(col("src"))
      .agg(expr(s"hll_sketch_agg(s, $lgConfigK)").as("sk"))
    val a = sk.select(col("src").as("source_a"), col("sk").as("sk_a"))
    val b = sk.select(col("src").as("source_b"), col("sk").as("sk_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        greatest(lit(0.0),
          expr("hll_sketch_estimate(sk_a) + hll_sketch_estimate(sk_b)" +
            " - hll_sketch_estimate(hll_union(sk_a, sk_b))"))
          .as("n_shared_est"),
        expr("hll_sketch_estimate(sk_a)").as("n_a_est"),
        expr("hll_sketch_estimate(sk_b)").as("n_b_est"))
  }

  /** Ascending element pairs of the SORTED, duplicate-free array column
    * `set`, exploded to one row per pair as struct `p` with fields `a` < `b`
    * (nested `transform`s, no shuffle): C(k, 2) rows for k elements, plus
    * the k (x, x) rows when `diagonal`. Without the diagonal the array
    * needs at least 2 elements (`sequence(1, 0)` counts down). */
  private[operators] def ascendingPairs(set: String, a: String, b: String,
      diagonal: Boolean): Column = {
    val (first, lastJ) = if (diagonal) (0, "i") else (1, "i - 1")
    explode(expr(
      s"""flatten(transform(sequence($first, size($set) - 1),
         |  i -> transform(sequence(0, $lastJ),
         |    j -> struct(element_at($set, j + 1) AS $a,
         |                element_at($set, i + 1) AS $b))))""".stripMargin))
      .as("p")
  }

  /** `(src, shingle)` rows, NULL sentinel (docs with <3 words) stripped —
    * NOT distinct: [[sourceOverlap]] dedups through its per-shingle source
    * sets, the HLL variant lets the sketch absorb duplicates instead. */
  private def srcShingles(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    docs.select(col(sourceCol).as("src"),
        HashNative.wordHashes(col(textCol)).as("wh"))
      .select(col("src"), HashNative.shingleHashes(col("wh")).as("sh"))
      .select(col("src"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull)

  /** Co-occurring doc pairs from per-shingle postings lists. Pairs are
    * emitted LAZILY (iterator, no buffer): a high-df shingle's C(df,2)
    * pairs stream through the downstream aggregation instead of
    * materializing in task memory; singleton shingles are dropped before
    * the kernel ever sees them. */
  private def postingsPairs(ex: DataFrame): DataFrame = {
    val spark0 = ex.sparkSession
    import spark0.implicits._
    ex.groupBy(col("s"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids")).as[Array[Long]]
      .flatMap { ids =>
        for {
          i <- ids.indices.iterator
          j <- Iterator.range(i + 1, ids.length)
        } yield (ids(i), ids(j))
      }
      .toDF("id_a", "id_b")
  }

  /** [[postingsPairs]] with the PPJoin length + positional filters applied
    * AT EMISSION (Xiao et al. 2008): postings rows carry each doc's token
    * count `n` and the token's 1-based rarity position `r`, so a pair
    * emission can be dropped lazily when
    *  - length filter: `min(na,nb)·1000 < tauMilli·max(na,nb)` — Jaccard
    *    can never reach τ across that size gap, or
    *  - positional filter: `1 + min(na−ra, nb−rb) < α` where
    *    `α = ⌈τ·(na+nb)/(1+τ)⌉` is the required overlap — both token lists
    *    are sorted in the SAME global (df, token) order, so the shared
    *    token plus everything after it upper-bounds the intersection.
    * Both are LOSSLESS: a τ-pair's first shared token lies inside both
    * prefixes (the AllPairs completeness argument) and its emission passes
    * the positional bound, so at least one emission per true pair
    * survives. Near-threshold non-matches stop here instead of paying the
    * two verify joins. */
  private def postingsPairsPpjoin(ex: DataFrame, tauMilli: Int): DataFrame = {
    val spark0 = ex.sparkSession
    import spark0.implicits._
    val tau = tauMilli.toLong
    ex.groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("id").as("_1"),
        col("n").as("_2"), col("r").cast("long").as("_3")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids")).as[Array[(Long, Long, Long)]]
      .flatMap { ids =>
        for {
          i <- ids.indices.iterator
          j <- Iterator.range(i + 1, ids.length)
          (ida, na, ra) = ids(i)
          (idb, nb, rb) = ids(j)
          if math.min(na, nb) * 1000 >= tau * math.max(na, nb)
          if 1L + math.min(na - ra, nb - rb) >=
            (tau * (na + nb) + 1000L + tau - 1) / (1000L + tau)
        } yield (ida, idb)
      }
      .toDF("id_a", "id_b")
  }

  /** id -> 30-bit simhash fingerprint over the doc's distinct shingle-hash
    * set. Shingle-level (not unigram) simhash: on narrow shared vocabularies
    * unigram frequency profiles barely differ between documents, while
    * shingle sets stay discriminative. */
  def simhashFingerprints(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    shingleTable(docs, idCol, textCol)
      .select(col("id"), HashNative.simhash(col("sh")).as("simhash"))

  /** SimHash near-dup pairs: banded chunk join for candidates (COMPLETE for
    * Hamming <= [[graft.functions.HashExprs.SimhashMaxHamming]] by
    * pigeonhole — see HashExprs), Hamming filter on the single-long
    * fingerprints, then exact shingle-Jaccard verification. The candidate
    * join carries only (id, chunk-key): narrow rows, shuffle-bounded, no
    * cartesian anywhere.
    *
    * Scale envelope: the 30-bit/5-chunk oracle-exact configuration gives
    * 64 values per chunk position, so expected bucket size grows N/64 —
    * fine to ~10^5 docs, quadratic beyond. The 100 TB path widens the
    * fingerprint (64-bit, e.g. xxhash64-fed bit votes) so chunk keys carry
    * 12-13 bits each — same plan shape, buckets stay bounded; like
    * [[minhashCandidatesXx]] that variant trades the DuckDB oracle for a
    * recall test against the exact operators. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = SimhashMaxHamming, num: Int = 1, den: Int = 2): DataFrame = {
    val sh = materialized(shingleTable(docs, idCol, textCol))
    // docs with no real shingles (<3 words) all collapse to the same
    // degenerate fingerprint; excluding them BEFORE the chunk join avoids a
    // quadratic candidate flood that verification would only reject later
    val fp = materialized(sh
      .filter(expr("exists(sh, x -> x IS NOT NULL)"))
      .select(col("id"), HashNative.simhash(col("sh")).as("f")))
    val chunks = fp.select(col("id"), col("f"),
      explode(expr(sparkSimhashChunks("f"))).as("ck"))
    val cand = chunks.as("a")
      .join(chunks.as("b"), col("a.ck") === col("b.ck") && col("a.id") < col("b.id"))
      .filter(bit_count(col("a.f").bitwiseXOR(col("b.f"))) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    finalized(cand
      .join(sh.select(col("id"), col("sh").as("sa")), cand("id_a") === col("id")).drop("id")
      .join(sh.select(col("id"), col("sh").as("sb")), cand("id_b") === col("id"))
      .filter(jaccardGe(num, den))
      .select(col("id_a"), col("id_b")), sh, fp)
  }

  /** Connected components over near-dup pairs: every document is labeled
    * with the minimum doc id reachable through the pair graph (its cluster
    * id); fuzzy dedup keeps `id == cluster` rows.
    *
    * Physical strategy is adaptive on the EDGE count (the pair list is
    * already LSH-reduced, typically ≪ corpus size):
    *  - ≤ `smallGraphMaxEdges` integral-id edges: one-task union-find with
    *    path compression — a single job, no iterative shuffles;
    *  - larger graphs: iterative min-label propagation with pointer doubling
    *    — each round one join + aggregate (the Pregel pattern on
    *    DataFrames), O(log diameter) rounds, all data movement distributed,
    *    labels checkpointed per round, convergence by exact changed-count.
    * Both paths emit identical (id, cluster=min reachable id) labels.
    *
    * Storage: a `pairs` frame the caller has cached stays the caller's to
    * unpersist; an uncached (lazy) one is cached here for the edge count
    * and the labeling, and released before return. The result is
    * persisted and materialized; the caller owns it.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      smallGraphMaxEdges: Long = 20_000_000L): DataFrame = {
    // Adaptive physical strategy, same spirit as AQE's broadcast decision:
    // the input here is the NEAR-DUP PAIR LIST, already reduced by LSH +
    // verification to a sliver of the corpus. When it fits one task, a
    // single-pass union-find beats tens of per-round shuffle jobs by orders
    // of magnitude; past the threshold the distributed min-label loop below
    // takes over. Both produce identical labels (min id per component).
    // The edge count is the one driver decision, made once over a cached
    // pair list, so the labeling reads the cache instead of a recompute.
    val owned = pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cachedPairs = if (owned) pairs.persist() else pairs
    val release = if (owned) Seq(cachedPairs) else Nil
    val pairCount = cachedPairs.count()
    if (pairCount <= smallGraphMaxEdges / 2 && integralType(pairs.schema("id_a").dataType)) {
      val spark0 = pairs.sparkSession
      import spark0.implicits._
      val idType = pairs.schema("id_a").dataType
      // coalesce, not repartition: the one union-find task reads every
      // cached partition, with no shuffle in between
      val labeled = cachedPairs
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          // union-find with path compression; final label = component min id
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != r) {
              val next = parent.getOrElse(c, c); parent(c) = r; c = next
            }
            r
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(ra) = rb
          }
          val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
          parent.keys.foreach { n =>
            val r = find(n)
            minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
          }
          parent.keys.iterator.map(n => (n, minOfRoot(find(n))))
        }
        .toDF("id", "cluster")
        .select(col("id").cast(idType), col("cluster").cast(idType))
        .persist()
      // labeled is tiny → broadcast anti-join labels the singleton majority
      val singletonsSmall = nodes.select(col("id"))
        .join(broadcast(labeled.select(col("id"))), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster"))
      return finalized(labeled.unionByName(singletonsSmall),
        labeled +: release: _*)
    }

    // bidirectional edges; isolated nodes keep their own label
    val edges = cachedPairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(cachedPairs.select(col("id_b").as("src"),
        col("id_a").as("dst")))
      .persist()
    // only nodes touching an edge need propagation; singletons (the vast
    // majority of a near-dup graph) are their own cluster by definition
    val connected = edges.select(col("src").as("id")).distinct().persist()
    val singletons = nodes.select(col("id"))
      .join(connected, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    // Iterative loop discipline: every round ends in localCheckpoint, which
    // TRUNCATES the logical plan to the materialized result. Without it the
    // plan embeds the previous round's tree (and the pointer-jump self-join
    // doubles it), so analyzer/optimizer time grows geometrically with
    // rounds — measured 13s of pure driver planning on a 256-pair graph.
    // (On a cluster with a checkpoint dir configured, `checkpoint` would
    // make rounds fault-tolerant too; localCheckpoint is the session-local
    // equivalent.)
    var labels = connected.select(col("id"), col("id").as("cluster"))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id")).agg(min(col("cluster")).as("nmin"))
      val viaNeighbor = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
      // pointer doubling: follow each label to ITS label, halving the
      // remaining chain length every round — convergence in
      // O(log diameter) rounds instead of O(diameter)
      val mapping = viaNeighbor
        .select(col("id").as("m_id"), col("cluster").as("m_cluster"))
      val updated = viaNeighbor
        .join(mapping, viaNeighbor("cluster") === mapping("m_id"), "left")
        .select(viaNeighbor("id"),
          least(viaNeighbor("cluster"),
            coalesce(col("m_cluster"), viaNeighbor("cluster"))).as("cluster"))
        .localCheckpoint(true)
      val changed = updated
        .join(labels.select(col("id"), col("cluster").as("old")), "id")
        .filter(col("cluster") =!= col("old")).count()
      // the superseded round's checkpoint blocks are dead the moment
      // `changed` is computed — release them now, or 50 rounds of label
      // tables stay pinned for the life of the session (the storage bleed
      // the bench's leaked_storage_bytes column caught)
      releaseCheckpoint(labels)
      labels = updated
      converged = changed == 0
      rounds += 1
    }
    if (!converged)
      // wrong labels are worse than no labels: an unconverged return would
      // silently mark several members of one true cluster as survivors
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds")
    val out = finalized(labels.unionByName(singletons),
      Seq(edges, connected) ++ release: _*)
    // the final round's checkpoint is consumed by the (now materialized)
    // persisted result — release it too
    releaseCheckpoint(labels)
    out
  }

  private def releaseCheckpoint(df: DataFrame): Unit = Checkpoints.release(df)

  /** Fuzzy dedup end-to-end: MinHash-LSH near-dup pairs -> connected
    * components -> per-doc (cluster, is_kept). */
  def fuzzyDedup(docs: DataFrame, idCol: String, textCol: String,
      num: Int = 7, den: Int = 10): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, textCol, num, den)
    val out = connectedComponents(docs.select(col(idCol).as("id")), pairs)
      .select(col("id"), col("cluster"),
        (col("id") === col("cluster")).as("is_kept"))
    // the pair table was this composition's intermediate, not its output:
    // connectedComponents has already materialized its own persisted
    // result, so the pairs cache is dead weight from here on
    pairs.unpersist(false)
    out
  }

  /** Scale-path SimHash: 64-bit fingerprints (shingle hashes re-scattered
    * through xxhash64 so all 64 bit positions carry signal), Hamming cutoff
    * 8 (the 30-bit variant's 4/30 fraction, rescaled), candidates from a
    * 9-chunk × 7-bit banded join. Per chunk position there are 128 values
    * (vs 64 for the 30-bit variant) and the higher-resolution fingerprint
    * separates non-dups better, so candidate volume and bucket growth both
    * improve while the plan shape is identical. Completeness for
    * Hamming <= 8 holds by pigeonhole: <=8 differing bits spread over 9
    * disjoint chunk regions leave at least one chunk equal (bit 63 sits
    * outside every chunk; a difference there only raises the Hamming
    * distance, never hides a qualifying pair). Not oracle-checkable
    * (xxhash64); recall-tested against [[simhashNearDups]] in the suite. */
  def simhashNearDupsXx(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8, num: Int = 1, den: Int = 2): DataFrame = {
    val sh = materialized(shingleTable(docs, idCol, textCol))
    // exclude no-shingle docs before the chunk join (see simhashNearDups)
    val fp = materialized(sh
      .filter(expr("exists(sh, x -> x IS NOT NULL)"))
      .select(col("id"),
        HashNative.simhash64(expr("transform(sh, h -> xxhash64(h))")).as("f")))
    val chunkExprs = (0 until 9).map(j =>
      s"(shiftrightunsigned(f, ${j * 7}) & 127) * 9 + $j").mkString(", ")
    val chunks = fp.select(col("id"), col("f"),
      explode(expr(s"array($chunkExprs)")).as("ck"))
    val cand = chunks.as("a")
      .join(chunks.as("b"), col("a.ck") === col("b.ck") && col("a.id") < col("b.id"))
      .filter(bit_count(col("a.f").bitwiseXOR(col("b.f"))) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    finalized(cand
      .join(sh.select(col("id"), col("sh").as("sa")), cand("id_a") === col("id")).drop("id")
      .join(sh.select(col("id"), col("sh").as("sb")), cand("id_b") === col("id"))
      .filter(jaccardGe(num, den))
      .select(col("id_a"), col("id_b")), sh, fp)
  }

  /** Scale-path MinHash candidates using Spark's native xxhash64 for word
    * hashing — same plan shape as [[minhashNearDups]] with a cheaper,
    * codegen'd hash. Not oracle-checkable (DuckDB has no xxhash64); benched
    * and recall-tested against [[ngramNearDups]] in the test suite. */
  def minhashCandidatesXx(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // pmod keeps hashes inside the prime field (ANSI mode would overflow
    // on 64-bit products otherwise)
    val sh = docs.select(col(idCol).as("id"),
        expr(s"transform(split($textCol, ' '), w -> pmod(xxhash64(w), ${graft.functions.HashExprs.P}))").as("wh"))
      .select(col("id"), HashNative.shingleHashes(col("wh")).as("sh"))
    val shMat = materialized(sh)
    val bands = shMat
      .select(col("id"), HashNative.minhashSig(col("sh")).as("mh"))
      .select(col("id"), explode(expr(sparkBands("mh"))).as("bv"))
    finalized(bands.as("a")
      .join(bands.as("b"), col("a.bv") === col("b.bv") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct(), shMat)
  }

  /** EXACT word-set Jaccard join by prefix filtering (AllPairs/PPJoin,
    * Bayardo et al. 2007 / Xiao et al. 2008) — the scale path that keeps
    * COMPLETENESS: [[minhashNearDups]] banding can miss true pairs and
    * [[ngramNearDups]]' `maxShingleDf` cap trades completeness for
    * boundedness, but the prefix filter is a lossless candidate bound.
    * Sort every doc's distinct tokens by GLOBAL rarity (df asc, token
    * asc); a doc of n tokens posts only its first
    * `p = n − ⌈τ·n⌉ + 1` tokens. Any pair with Jaccard ≥ τ overlaps in
    * more than (1−τ)·max(na, nb) tokens, so both sides must post a shared
    * token inside those windows — candidates are complete, and because
    * prefixes are each doc's RAREST tokens, posting lists stay short
    * exactly where df is large (the common token that floods an uncapped
    * inverted index never enters a long doc's prefix).
    *
    * `⌈τ·n⌉` is the integer `(tauMilli·n + 999) div 1000`; the verify is
    * the pure integer inequality `inter·1000 ≥ tauMilli·(na+nb−inter)`
    * over exact full-set intersection counts, and the emitted score is
    * floor-exact `jac_micro = 10⁶·inter div union`. No doubles anywhere.
    *
    * Plan shape: one distinct-token explode, one df aggregate, a per-doc
    * rarity window (keyed on the doc — corpus-parallel), the candidate
    * postings join over prefix tokens only, and an intersection count
    * via two key joins of the candidate pairs back onto the token table.
    * Output: (id_a, id_b, inter, jac_micro), id_a < id_b, Jaccard ≥ τ. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      tauMilli: Int): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(integralType(idType),
      s"prefixJaccardPairs requires an integral id column, got $idType")
    val tok = shingleTable(docs, idCol, textCol)
      .select(col("id").cast("long").as("id"), explode(col("sh")).as("s"))
      .filter(col("s").isNotNull)
    prefixJaccardPairsFromTokens(tok, tauMilli, idType)
  }

  /** The [[prefixJaccardPairs]] kernel over an arbitrary pre-built
    * distinct (id, s) token table — same algorithm on any token domain
    * (word hashes, shingles, feature ids). */
  def prefixJaccardPairsFromTokens(tokens: DataFrame, tauMilli: Int,
      idType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tauMilli > 0 && tauMilli <= 1000,
      s"tauMilli must be in (0, 1000], got $tauMilli")
    // defensive distinct: a non-distinct (id, s) table would silently
    // inflate sizes/df/intersections (wrong Jaccard, broken completeness)
    // — one extra hash aggregate on a table the df pass shuffles anyway
    val tok = materialized(tokens.select(col("id"), col("s")).distinct())
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val dfreq = tok.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = tok.join(dfreq, "s").join(sizes, "id")
      .withColumn("r", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df").asc, col("s").asc)))
      .filter(col("r") <= col("n") -
        expr(s"($tauMilli * n + 999) div 1000") + 1)
      .select(col("id"), col("s"), col("n"), col("r"))
    val cand = postingsPairsPpjoin(prefix, tauMilli).distinct()
    val inter = cand
      .join(tok.select(col("id").as("id_a"), col("s")), Seq("id_a"))
      .join(tok.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    finalized(inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(col("inter") * 1000 >=
        lit(tauMilli) * (col("na") + col("nb") - col("inter")))
      .select(col("id_a").cast(idType).as("id_a"),
        col("id_b").cast(idType).as("id_b"), col("inter"),
        expr("1000000 * inter div (na + nb - inter)").as("jac_micro")), tok)
  }

  /** Shingle sets + LSH band postings for one doc slice — the unit both
    * [[buildMinhashIndex]] and [[appendMinhashIndex]] write. */
  private def minhashIndexTables(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame) = {
    import graft.functions.HashNative
    import graft.functions.HashExprs.sparkBands
    val sh = materialized(shingleTable(docs, idCol, textCol))
    val postings = sh
      .select(col("id"), HashNative.minhashSig(col("sh")).as("mh"))
      .select(col("id"), explode(expr(sparkBands("mh"))).as("bv"))
    (sh, postings)
  }

  /** Persist a MinHash-LSH near-duplicate index: `dir/shingles` (id,
    * shingle set — the verify side) and `dir/postings` (id, band value —
    * the candidate side). The production shape of [[minhashNearDups]] at
    * 100 TB: the corpus is sketched ONCE, and each day's crawl pays only
    * its own shingling plus joins against the stored postings — the
    * [[IncrementalDedup]] lifecycle for near-dups, completing the
    * persisted-index triad (IVF and PQ for vectors, this for text).
    * Hash functions are plan literals, so build/append/query all agree by
    * construction; append ≡ rebuild exactly (no trained state — unlike
    * IVF seeds, band boundaries are data-independent). */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val (sh, postings) = minhashIndexTables(docs, idCol, textCol)
    sh.write.mode("overwrite").parquet(s"$dir/shingles")
    postings.write.mode("overwrite").parquet(s"$dir/postings")
    sh.unpersist(false)
  }

  /** Append a batch of NEW docs to a [[buildMinhashIndex]] index — one
    * shingling pass over the BATCH plus two parquet appends; never
    * rescans the indexed corpus. Ids must be new (the index does not
    * dedup ids). */
  def appendMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    val (sh, postings) = minhashIndexTables(docs, idCol, textCol)
    sh.write.mode("append").parquet(s"$dir/shingles")
    postings.write.mode("append").parquet(s"$dir/postings")
    sh.unpersist(false)
  }

  /** Near-duplicate lookup of a probe slice against a
    * [[buildMinhashIndex]] index: probes are shingled and banded (batch
    * cost only), candidates come from the stored postings (equi-join on
    * band value), and the exact-Jaccard verify joins the stored shingle
    * sets — identical semantics to [[minhashNearDups]] between probes and
    * the indexed corpus, with the corpus side read from disk instead of
    * recomputed. Self-matches (a probe id also present in the index) are
    * excluded. Output: (probe_id, match_id, one row per verified pair). */
  def queryMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, idCol: String, textCol: String,
      num: Int = 7, den: Int = 10): DataFrame = {
    val (psh, pBands) = minhashIndexTables(probes, idCol, textCol)
    val postings = spark.read.parquet(s"$dir/postings")
    val cand = pBands.as("a")
      .join(postings.as("b"),
        col("a.bv") === col("b.bv") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("probe_id"), col("b.id").as("match_id"))
      .distinct()
    val corpusSh = spark.read.parquet(s"$dir/shingles")
    finalized(cand
      .join(psh.select(col("id").as("probe_id"), col("sh").as("sa")),
        Seq("probe_id"))
      .join(corpusSh.select(col("id").as("match_id"), col("sh").as("sb")),
        Seq("match_id"))
      .filter(jaccardGe(num, den))
      .select(col("probe_id"), col("match_id")), psh)
  }

  /** Exact duplicated-substring SCRUB (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every `k`-token span
    * whose gram hash occurs at least `minOcc` times in the corpus —
    * occurrences, not documents, so a document repeating ITSELF is
    * scrubbed too, per the paper — marks its token positions duplicated
    * in every occurrence, and the duplicated tokens are CUT from the
    * document (the paper's ExactSubstr remedy, where the winnow/minhash
    * families only detect document pairs).
    *
    * Plan: positional gram table ([[graft.functions.HashNative
    * .gramHashes]] — in-order hash chain, no string n-gram
    * materialization) → combine-friendly corpus occurrence count → the
    * duplicated occurrences explode into their ≤ `k` covered positions
    * (output bounded by k · dup-gram occurrences — corpus-linear, and on
    * a mostly-unique corpus near zero) → distinct (doc, pos) coverage →
    * one anti-join against the positional word table → order-preserving
    * reassembly (the [[TextAnalysis.lineDedup]] shape). No corpus-grain
    * window, nothing all-pairs.
    *
    * Output: one row per input doc — (id, n_tokens, n_dup_tokens,
    * dup_frac_micro, scrubbed_hash = md5 of the surviving tokens joined
    * by ' '; md5('') for a fully-duplicated doc). */
  def exactSpanScrub(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minOcc: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"))
    val grams = base.select(col("id"), posexplode(
        HashNative.gramHashes(HashNative.wordHashes(col("t")), k))
        .as(Seq("p", "g")))
    val dupG = grams.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc)
      .select(col("g"))
    val covered = grams.join(dupG, Seq("g"))
      .select(col("id"),
        explode(expr(s"sequence(p, p + ${k - 1})")).as("pos"))
      .distinct()
    val words = base.select(col("id"),
      posexplode(split(col("t"), " ")).as(Seq("pos", "w")))
    val kept = words.join(covered, Seq("id", "pos"), "left_anti")
    val reassembled = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(
          struct(col("pos"), col("w")))), x => x("w")), " "))
          .as("scrubbed_hash"))
    base.select(col("id"),
        (size(split(col("t"), " "))).cast("long").as("n_tokens"))
      .join(reassembled, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dup_tokens"),
        expr("CAST(round(1e6 * (n_tokens - coalesce(n_kept, 0L)) " +
          "/ n_tokens) AS BIGINT)").as("dup_frac_micro"),
        coalesce(col("scrubbed_hash"),
          lit(java.security.MessageDigest.getInstance("MD5")
            .digest("".getBytes("UTF-8")).map("%02x".format(_)).mkString))
          .as("scrubbed_hash"))
  }

  /** Per-source remediation ROLLUP of [[exactSpanScrub]] — the corpus-
    * scale readout a scrub run is judged by (the mix-report companion
    * the Gopher gate has): for each `srcCol` bucket, document and token
    * totals, tokens removed, documents touched at all, and documents
    * scrubbed to nothing. Rides the per-doc scrub output (one extra
    * vocabulary-free aggregate over the doc-grain frame + a doc-grain
    * source join) — cost is the scrub itself at any scale.
    *
    * Output: one row per source — (source, n_docs, tokens_total,
    * tokens_removed, docs_affected, docs_fully_scrubbed,
    * removed_frac_micro = round(1e6·removed/total)). */
  def exactSpanReport(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, k: Int, minOcc: Long = 2L): DataFrame = {
    val per = exactSpanScrub(docs, idCol, textCol, k, minOcc)
    val src = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(srcCol).as("source"))
    per.join(src, Seq("id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(col("n_dup_tokens")).as("tokens_removed"),
        sum(when(col("n_dup_tokens") > 0, 1L).otherwise(0L))
          .as("docs_affected"),
        sum(when(col("n_dup_tokens") === col("n_tokens"), 1L).otherwise(0L))
          .as("docs_fully_scrubbed"))
      .select(col("source"), col("n_docs"), col("tokens_total"),
        col("tokens_removed"), col("docs_affected"),
        col("docs_fully_scrubbed"),
        expr("CAST(round(1e6 * tokens_removed / tokens_total) AS BIGINT)")
          .as("removed_frac_micro"))
  }

  /** Exact-verbatim k-gram decontamination — the overlap MECHANISM the
    * published GPT-3/Llama recipes use (verbatim n-token grams),
    * complementing the shingle-HASH screen of the 5-arg
    * [[decontaminate]] overload above (round-5's `text_decontaminate`):
    * flag every training document sharing any verbatim `k`-token gram
    * with a benchmark/eval set. The reference side is a SMALL
    * fixed set (benchmarks are kilobytes against a 100 TB corpus), so
    * the corpus pays ONE scan and one broadcast hash join against the
    * distinct benchmark-gram table — no corpus-side self-join, no
    * candidate generation, trivially linear at any corpus size. Grams
    * here join on exact TEXT (U+001F-joined tokens — oracle-exact);
    * a 100 TB deployment would broadcast 64-bit gram hashes instead,
    * same plan shape, small false-positive rate to re-verify.
    *
    * Output: one row per corpus doc — (id, grams_total, grams_matched
    * over DISTINCT doc grams, contaminated 0/1). Docs with < k tokens
    * have no grams and read clean. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def grams(df: DataFrame, idc: Option[String], tc: String): DataFrame = {
      val base = idc.map(c => df.select(col(c).as("id"), col(tc).as("t")))
        .getOrElse(df.select(monotonically_increasing_id().as("id"),
          col(tc).as("t")))
      val toks = base
        .select(col("id"), posexplode(split(col("t"), " ")).as(Seq("p", "w")))
        .filter(col("w") =!= "")
      val w = Window.partitionBy(col("id")).orderBy(col("p"))
      val parts = (0 until k).map(i =>
        if (i == 0) col("w") else lead(col("w"), i).over(w))
      toks.select(col("id"), concat_ws("\u001f", parts: _*).as("g"),
          parts.last.isNotNull.as("full"))
        .filter(col("full")).select(col("id"), col("g"))
    }
    val bg = grams(bench, None, benchTextCol).select(col("g")).distinct()
      .withColumn("hit", lit(1L))
    val cg = grams(corpus, Some(idCol), textCol).distinct()
    val per = cg.join(broadcast(bg), Seq("g"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("grams_total"),
        count(col("hit")).as("grams_matched"))
    corpus.select(col(idCol).as("id")).distinct()
      .join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("grams_total"), lit(0L)).as("grams_total"),
        coalesce(col("grams_matched"), lit(0L)).as("grams_matched"),
        when(coalesce(col("grams_matched"), lit(0L)) > 0L, 1L)
          .otherwise(0L).as("contaminated"))
  }

  /** DuckDB replica of [[decontaminate]]. `corpusCte` must define
    * `dcorpus(id, text)`, `benchCte` must define `dbench(text)`. */
  def decontaminateOracleSql(corpusCte: String, benchCte: String,
      k: Int): String = {
    def gramSel(src: String, hasId: Boolean): String = {
      val idSel = if (hasId) "id" else "CAST(row_number() OVER () AS BIGINT) AS id"
      val idCol = "id"
      val g = (0 until k).map {
        case 0 => "w"
        case i => s"lead(w, $i) OVER (PARTITION BY $idCol ORDER BY pos)"
      }.mkString(" || chr(31) || ")
      val full =
        s"lead(w, ${k - 1}) OVER (PARTITION BY $idCol ORDER BY pos) IS NOT NULL"
      s"""SELECT id, g FROM (
         |  SELECT $idCol, $g AS g, $full AS is_full
         |  FROM (
         |    SELECT id, CAST(row_number() OVER (PARTITION BY id ORDER BY i)
         |      AS BIGINT) AS pos, w
         |    FROM (SELECT id, t.i AS i, ws[CAST(t.i AS INT)] AS w
         |          FROM (SELECT $idSel, string_split(text, ' ') AS ws
         |                FROM $src),
         |               unnest(range(1, len(ws) + 1)) AS t(i))
         |    WHERE w <> ''))
         |WHERE is_full""".stripMargin
    }
    s"""WITH $corpusCte,
       |$benchCte,
       |bgr AS MATERIALIZED (
       |  SELECT DISTINCT g FROM (${gramSel("dbench", hasId = false)})),
       |cgr AS MATERIALIZED (
       |  SELECT DISTINCT id, g FROM (${gramSel("dcorpus", hasId = true)})),
       |per AS (
       |  SELECT c.id, CAST(count(*) AS BIGINT) AS grams_total,
       |         CAST(count(b.g) AS BIGINT) AS grams_matched
       |  FROM cgr c LEFT JOIN bgr b ON b.g = c.g
       |  GROUP BY 1)
       |SELECT d.id,
       |  CAST(coalesce(p.grams_total, 0) AS BIGINT) AS grams_total,
       |  CAST(coalesce(p.grams_matched, 0) AS BIGINT) AS grams_matched,
       |  CAST(CASE WHEN coalesce(p.grams_matched, 0) > 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS contaminated
       |FROM (SELECT DISTINCT id FROM dcorpus) d
       |LEFT JOIN per p ON p.id = d.id""".stripMargin
  }
}
