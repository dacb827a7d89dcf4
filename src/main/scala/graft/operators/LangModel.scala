package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistical language-model scoring for corpus curation — the CCNet /
  * DSIR stage of a training-data pipeline: score every document by how
  * well it fits a reference distribution, then filter or importance-weight
  * on the score.
  *
  * Two operators:
  *  - [[bigramNll]]: a bigram LM with add-one smoothing trained on the
  *    corpus itself (vocab capped at `vocabSize`, tail tokens mapped to
  *    `<unk>`); each document scored by its summed negative log-likelihood.
  *    CCNet-style "perplexity bucketing" is a band filter on this score.
  *  - [[dsirWeights]]: importance weights against a target slice —
  *    `sum over tokens of ln p_target(tok) - ln p_raw(tok)` (hashed-ngram
  *    DSIR reduced to its unigram form). Positive weight = looks more like
  *    the target distribution than the corpus at large.
  *
  * Determinism discipline: per-token costs are integerized
  * (`round(x * 1e6)` to a BIGINT — "micro-nats") BEFORE the per-document
  * sum, so the aggregate is an integer sum and summation ORDER cannot
  * change the result (a raw double sum is order-dependent and would not
  * reproduce across engines or partitionings). The only double arithmetic
  * is a single mirrored `ln(num / den)` per DISTINCT model row.
  *
  * Plan shape at scale (the 100 TB contract):
  *  - one explode of the token stream feeding hash aggregates (map-side
  *    combined); the model tables are bounded by the vocab cap
  *    (`vocabSize + 1` rows for unigram contexts, observed bigrams for the
  *    pair table) and ride broadcast/key joins;
  *  - per-document scoring is a key join (doc tokens → model) plus an
  *    integer-sum `groupBy(doc)`;
  *  - corpus totals (N, V) are single-row aggregates — bounded
  *    control-plane collects, same discipline as k-means centroids;
  *  - no cartesian, no driver loops, no per-row Python.
  */
object LangModel {

  import Checkpoints.finalized

  private def toks(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).as("doc"), split(col(textCol), " ").as("tk"))

  /** Top-`vocabSize` corpus tokens by (count desc, token asc) — the
    * deterministic vocabulary cut. Bounded output (≤ vocabSize rows). */
  def vocab(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame =
    toks(docs, idCol, textCol)
      .select(explode(col("tk")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"))

  /** Per-document bigram negative log-likelihood under an add-one-smoothed
    * bigram LM trained on `docs` itself with a `vocabSize`-capped
    * vocabulary (out-of-vocab tokens collapse to `<unk>`, so the model is
    * `vocabSize + 1` symbols regardless of corpus size — the cap is what
    * makes the model table bounded at 100 TB).
    *
    * `p(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V + 1)` where `c(w1 ·)` is
    * the count of w1 as a bigram context and `V = min(vocabSize, distinct
    * corpus tokens)`. Each bigram occurrence costs
    * `round(-ln(p) * 1e6)` micro-nats (integerized before summing — see
    * the object scaladoc for why).
    *
    * Output: `(doc, n_bigrams, nll_x1e6, avg_nll_x1e6)` — one row per
    * document with ≥ 2 tokens. `avg_nll_x1e6` is the integer mean
    * (`nll_x1e6 div n_bigrams`); `exp(avg / 1e6)` is the document's
    * perplexity if a float view is wanted downstream. */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    // the tokenized corpus feeds two passes (vocab training, bigram
    // scoring); both re-derive from the source scan — measured CHEAPER
    // than caching the token arrays (the columnar cache build for 10⁶
    // small strings costs more than the rescan, 11 s vs 3.4 s warm at
    // sf0.1).
    val t = toks(docs, idCol, textCol)
    // the vocab cut is consumed twice (scalar count + broadcast join);
    // persisting the ≤ vocabSize-row result stops the corpus-wide token
    // count re-running for the join build
    val v = vocab(docs, idCol, textCol, vocabSize).persist()
    // V is bounded by vocabSize — a control-plane scalar, not a data collect
    val vCount = v.count()
    val unk = lit("<unk>")

    // ordered bigrams are built ARRAY-SIDE (zip of the two token-array
    // slices) so token order never needs a positional shuffle — no
    // posexplode, no per-doc window sort; the whole stream stays in one
    // narrow codegen stage. OOV mapping is two broadcast hash lookups
    // (vocab is cap-bounded by construction).
    val bg0 = t.filter(size(col("tk")) >= 2)
      .select(col("doc"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("z"))
      .select(col("doc"), col("z").getField("0").as("r1"),
        col("z").getField("1").as("r2"))
    val bg = bg0
      .join(broadcast(v.select(col("term").as("t1"))),
        col("r1") === col("t1"), "left")
      .join(broadcast(v.select(col("term").as("t2"))),
        col("r2") === col("t2"), "left")
      .select(col("doc"),
        when(col("t1").isNotNull, col("r1")).otherwise(unk).as("w1"),
        when(col("t2").isNotNull, col("r2")).otherwise(unk).as("w2"))

    // per-(doc, bigram) occurrence table for scoring, and the model counts
    // straight off the bigram stream. Both sides re-derive from the narrow
    // codegen'd scan — measured cheaper than persisting either (the
    // columnar cache build for millions of small strings costs more than
    // the recompute; the model derivation is the CHEAPER branch since it
    // skips the doc-keyed aggregate).
    val db = bg.groupBy(col("doc"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val den = lit((vCount + 1).toDouble)
    val model = c12.join(c1, "w1")
      .withColumn("nll_x1e6",
        round(-log((col("c12") + lit(1.0)) / (col("c1") + den)) * lit(1e6), 0)
          .cast("long"))

    // per-doc: broadcast join of the doc-bigram table to the model (the
    // model is ≤ (vocabSize+1)² rows by construction — always
    // broadcastable, so the doc-bigram stream never shuffles on the
    // bigram key), then one integer-sum groupBy(doc)
    finalized(
      db.join(broadcast(model.select(col("w1"), col("w2"), col("nll_x1e6"))),
          Seq("w1", "w2"))
        .groupBy(col("doc"))
        .agg(sum(col("occ")).as("n_bigrams"),
          sum(col("occ") * col("nll_x1e6")).as("nll_x1e6"))
        .withColumn("avg_nll_x1e6",
          expr("nll_x1e6 div n_bigrams")),
      v)
  }

  /** DSIR-style importance weights: how much more likely is each document
    * under the unigram distribution of the TARGET slice (`isTarget` rows)
    * than under the corpus at large. Per-token weight (micro-nats,
    * integerized before summing):
    * `round((ln((ct+1)/(Nt+V)) - ln((cr+1)/(Nr+V))) * 1e6)` with `ct`/`cr`
    * the token's target/corpus counts, `Nt`/`Nr` the total token counts and
    * `V` the distinct-token count of the corpus (shared smoothing base, so
    * both distributions are proper).
    *
    * Output: `(doc, n_tokens, weight_x1e6)` — every document scored, one
    * row each. Selecting training data is `ORDER BY weight_x1e6 DESC` or a
    * threshold filter downstream.
    *
    * Scale: the weight table is one row per distinct corpus token — larger
    * than a capped vocab but still the token-type count (Heaps-law sublinear
    * in corpus size) and it never leaves the executors (key join, not a
    * broadcast requirement). Totals are a single-row aggregate. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    // aggregate straight to the per-(doc, term) table (is_t is constant
    // per doc, so carrying it in the groupBy adds no groups); the model
    // tables derive from this aggregate and the two consumers RE-DERIVE it
    // rather than caching — measured cheaper than the columnar cache
    // build for a corpus-sized string table.
    val db = docs.select(col(idCol).as("doc"), isTarget.as("is_t"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("doc"), col("is_t"), col("term"))
      .agg(count(lit(1)).as("occ"))
    val counts = db.groupBy(col("term"))
      .agg(sum(when(col("is_t"), col("occ")).otherwise(0L)).as("ct"),
        sum(col("occ")).as("cr"))
    // corpus totals: Nt, Nr, V — one single-row aggregate
    val statsRow = counts
      .agg(sum(col("ct")), sum(col("cr")), count(lit(1))).head()
    val nt = statsRow.getLong(0)
    val nr = statsRow.getLong(1)
    val vCount = statsRow.getLong(2)
    val weights = counts.withColumn("w_x1e6",
      round((log((col("ct") + lit(1.0)) / lit((nt + vCount).toDouble))
        - log((col("cr") + lit(1.0)) / lit((nr + vCount).toDouble))) * lit(1e6),
        0).cast("long"))

    // the weight table is one row per corpus token TYPE. At validation
    // scale that's broadcastable and saves shuffling the doc-term table on
    // the term key; past the threshold (a 100 TB corpus can carry 10⁸
    // types) fall back to the key join.
    val wTbl = weights.select(col("term"), col("w_x1e6"))
    val joined =
      if (vCount <= (1L << 20)) db.join(broadcast(wTbl), Seq("term"))
      else db.join(wTbl, Seq("term"))
    joined.groupBy(col("doc"))
      .agg(sum(col("occ")).as("n_tokens"),
        sum(col("occ") * col("w_x1e6")).as("weight_x1e6"))
  }

  /** Per-document bigram NLL under an interpolated KNESER-NEY smoothed
    * bigram LM (Chen & Goodman 1998) trained on `docs` itself with the
    * same `vocabSize`-capped vocabulary as [[bigramNll]] — the stronger
    * perplexity-bucketing model: KN's continuation probability scores a
    * word by how many CONTEXTS it follows, not how often it occurs, which
    * is what separates boilerplate from fluent text.
    *
    * With the standard fixed discount D = 3/4:
    * `p(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/Nbt`
    * which over the common denominator `4·c1·Nbt` is the EXACT rational
    * `(max(4·c12 − 3, 0)·Nbt + 3·N1+(w1·)·N1+(·w2)) / (4·c1·Nbt)` —
    * numerator and denominator are exact longs (counts bounded by the
    * capped alphabet), so the single mirrored `ln` per distinct model row
    * is the only double op, integerized to micro-nats BEFORE the per-doc
    * integer sum (the [[bigramNll]] order-free discipline). Scoring the
    * training corpus keeps every scored bigram observed (c12 ≥ 1), so the
    * max() branch never zeroes a probability and no backoff-to-unseen
    * path is needed.
    *
    * Plan shape: identical to [[bigramNll]] — the model table is
    * ≤ (vocabSize+1)² rows by construction (always broadcastable), the
    * context/continuation marginals derive from it (bounded aggregates),
    * `Nbt` is a bounded control-plane scalar, and per-doc scoring is one
    * broadcast join + one integer-sum groupBy.
    *
    * Output: (doc, n_bigrams, kn_nll_x1e6, avg_kn_x1e6), one row per
    * document with ≥ 2 tokens.
    */
  def knBigramNll(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val t = toks(docs, idCol, textCol)
    val v = vocab(docs, idCol, textCol, vocabSize).persist()
    v.count()
    val unk = lit("<unk>")
    val bg0 = t.filter(size(col("tk")) >= 2)
      .select(col("doc"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("z"))
      .select(col("doc"), col("z").getField("0").as("r1"),
        col("z").getField("1").as("r2"))
    val bg = bg0
      .join(broadcast(v.select(col("term").as("t1"))),
        col("r1") === col("t1"), "left")
      .join(broadcast(v.select(col("term").as("t2"))),
        col("r2") === col("t2"), "left")
      .select(col("doc"),
        when(col("t1").isNotNull, col("r1")).otherwise(unk).as("w1"),
        when(col("t2").isNotNull, col("r2")).otherwise(unk).as("w2"))

    // per-(doc, bigram) occurrence table for scoring; the model counts
    // derive from the same bigram stream by RE-DERIVATION (the bigramNll
    // lesson: the columnar cache build for millions of small strings costs
    // more than the narrow codegen'd rescan). c12 is cap-bounded
    // (≤ (vocabSize+1)² rows), so IT is persisted — it feeds two marginals
    // plus the scalar type count and is tiny by construction.
    val db = bg.groupBy(col("doc"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .persist()
    // context marginals: total count + distinct-successor count per w1
    val c1 = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1"))
    // continuation marginal: distinct-predecessor count per w2
    val cw = c12.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val nbt = c12.count() // distinct bigram types — control-plane scalar
    val model = c12.join(c1, "w1").join(cw, "w2")
      .withColumn("nll_x1e6", expr(
        // numerator and denominator are exact integer products CAST to
        // DOUBLE as wholes (not built up in float — and on the oracle side
        // not in DuckDB DECIMAL, whose width a three-factor product of
        // fractional literals would overflow)
        s"""CAST(round(-ln(
           |  CAST(greatest(4 * c12 - 3, 0) * $nbt + 3 * n1 * nc AS DOUBLE)
           |  / CAST(4 * c1 * $nbt AS DOUBLE)) * 1000000.0, 0) AS BIGINT)"""
          .stripMargin))
    finalized(
      db.join(broadcast(model.select(col("w1"), col("w2"), col("nll_x1e6"))),
          Seq("w1", "w2"))
        .groupBy(col("doc"))
        .agg(sum(col("occ")).as("n_bigrams"),
          sum(col("occ") * col("nll_x1e6")).as("kn_nll_x1e6"))
        .withColumn("avg_kn_x1e6", expr("kn_nll_x1e6 div n_bigrams")),
      v, c12)
  }

  /** DoReMi-style domain-mixture reweighting (Xie et al. 2023,
    * "Doremi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining", reduced to its deterministic excess-loss form): the
    * domains whose proxy loss exceeds the corpus-wide mean get their
    * mixture weight exponentiated UP, round after round, and the
    * published recipe trains on the ROUND-AVERAGED weights — the
    * group-DRO exponentiated-gradient update with a static reference.
    *
    * `perDoc` is any per-document (domain, loss) frame — e.g.
    * [[bigramNll]] joined to the source column; losses are micro-nat
    * longs. Per-domain mean and the corpus mean are EXACT integer
    * divisions; `excess_d = max(mean_d − mean_corpus, 0)`.
    *
    * Each of the `rounds` updates is
    * `w'_d = round(10⁶ · u_d / Σu)` with
    * `u_d = round(w_d · exp(η · excess_d / 10¹²))` — the factor is the
    * ONE mirrored double op per domain per round, micro-rounded to an
    * exact long BEFORE the sum, so Σu is order-independent and every
    * round's input is exact integers: cross-engine double drift cannot
    * compound across rounds (the chiSquare per-cell discipline applied
    * to an iteration).
    *
    * Scale shape: ONE corpus-grain aggregate (domain×loss sums) is the
    * distributed part; the EG iteration is bounded control-plane work on
    * the collected k-row domain table (k = |domains| — the k-means-
    * centroid pattern; a Spark-side round loop pays a fixed multi-job
    * latency per round for zero distributed benefit).
    * Output: (grp, n_docs, mean_loss_micro, excess_micro, w_micro
    * [final round], w_avg_micro [round-averaged, the DoReMi readout]). */
  def doremiMixture(perDoc: DataFrame, grpCol: String, lossCol: String,
      etaMicro: Long = 200000L, rounds: Int = 8): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val dom0 = perDoc
      .filter(col(grpCol).isNotNull && col(lossCol).isNotNull)
      .select(col(grpCol).cast("string").as("grp"),
        col(lossCol).cast("long").as("loss"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("loss")).as("s"))
      .withColumn("mean_loss_micro", expr("s div n_docs"))
    val tot = dom0.agg(sum(col("s")).as("st"), sum(col("n_docs")).as("nt"),
      count(lit(1)).as("k"))
    val dom = dom0.crossJoin(broadcast(tot))
      .withColumn("excess_micro",
        greatest(col("mean_loss_micro") - expr("st div nt"), lit(0L)))
      .select(col("grp"), col("n_docs"), col("mean_loss_micro"),
        col("excess_micro"), col("k"))
    // the EG iteration runs DRIVER-SIDE on the collected k-row domain
    // table — bounded control-plane (the k-means-centroid pattern; a
    // Spark-side round loop pays a fixed multi-job latency per round for
    // zero distributed benefit, and the corpus-grain loss aggregate
    // above is the distributed part). Math.exp / math.round on the
    // nonnegative micro longs reproduce Spark's and DuckDB's doubles
    // bit-for-bit, and every intermediate is micro-rounded exactly as
    // the oracle's unrolled CTEs compute it.
    val domRows = dom.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    val kk = domRows.headOption.map(_._5).getOrElse(1L)
    var w = domRows.map(d => d._1 -> math.round(1e6 / kk)).toMap
    var wSum = domRows.map(d => d._1 -> 0L).toMap
    for (_ <- 1 to rounds) {
      val u = domRows.map { case (g, _, _, ex, _) =>
        g -> math.round(w(g) * math.exp(etaMicro * ex / 1e12))
      }.toMap
      val su = u.valuesIterator.sum.toDouble
      w = u.map { case (g, v) => g -> math.round(1e6 * v / su) }
      wSum = wSum.map { case (g, v) => g -> (v + w(g)) }
    }
    val spark = perDoc.sparkSession
    import spark.implicits._
    val out = domRows.toSeq.map { case (g, nd, ml, ex, _) =>
      (g, nd, ml, ex, w(g), wSum(g) / rounds)
    }.toDF("grp", "n_docs", "mean_loss_micro", "excess_micro",
      "w_micro", "w_avg_micro")
    out
  }
}
