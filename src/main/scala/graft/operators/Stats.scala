package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Moment-based statistics: per-group trend lines and one-pass correlation
  * matrices. Everything reduces to exact integer moment sums (n, Σx, Σy,
  * Σxy, Σx², Σy²) — the closed forms then run on identical doubles in any
  * engine (products of exact longs are correctly-rounded IEEE, mirrored
  * operation-for-operation by the oracles), and nothing downstream of the
  * one aggregate pass is proportional to row count.
  */
object Stats {

  // The GlobalRank consumers below cache their AGGREGATE inputs, because
  // the sharded rank machinery scans its input three times (quantile
  // sketch, shard counts, the windows); without the cache each scan
  // re-runs the upstream shuffle. `finalized` releases those caches.
  import Checkpoints.finalized

  /** Per-group ordinary-least-squares trend of `yCol` (integerized at
    * `yScale`) against integer `xCol`:
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept = (Σy − slope·Σx)/n.
    * Callers should re-base x near zero (e.g. hours since a fixed anchor)
    * so the moment products stay well inside exact-long range. Groups
    * with zero x-variance yield NULL slope/intercept. Output:
    * (grp, n, slope, intercept) in y-units per x-unit, rounded at 6.
    */
  def olsTrend(df: DataFrame, grpCol: String, xCol: String, yCol: String,
      yScale: Double = 1e6): DataFrame = {
    val x = col(xCol).cast("long")
    val y = round(col(yCol) * yScale).cast("long")
    val m = df.select(col(grpCol).as("grp"), x.as("x"), y.as("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val den = col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")
    val slope = (col("n").cast("double") * col("sxy") -
      col("sx").cast("double") * col("sy")) / den
    m.select(col("grp"), col("n"),
      when(den =!= 0.0, round(slope / yScale, 6)).as("slope"),
      when(den =!= 0.0,
        round((col("sy") - slope * col("sx")) / col("n") / yScale, 6))
        .as("intercept"))
  }

  /** One-pass Pearson correlation matrix over integerized numeric columns:
    * `cols` maps column name → integerization expression (exact longs).
    * ALL pairwise moments ride ONE aggregate (3 sums + 3 square sums +
    * C(k,2) cross sums for k columns), then the bounded 1-row result
    * unions into (col_a, col_b, r) rows — the corpus is scanned exactly
    * once regardless of how many pairs are requested. Zero-variance
    * columns yield NULL r. */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val named = cols.map { case (n, c) => n -> c.cast("long") }
    val base = df.select(named.map { case (n, c) => c.as(n) }: _*)
    val sums = named.flatMap { case (n, _) =>
      Seq(sum(col(n)).as(s"s_$n"), sum(col(n) * col(n)).as(s"ss_$n"))
    }
    val crosses = for {
      i <- named.indices; j <- named.indices if i < j
      a = named(i)._1; b = named(j)._1
    } yield sum(col(a) * col(b)).as(s"sx_${a}_$b")
    // ONE aggregate action; its single bounded row (2k+C(k,2)+1 longs) is
    // control-plane and collects like a k-means centroid fold — the pair
    // rows then build from literals, so the corpus is scanned exactly once
    val row = base.agg(count(lit(1)).as("n"), (sums ++ crosses): _*).head()
    def l(name: String): Long = row.getLong(row.fieldIndex(name))
    val n = row.getLong(0)
    val pairs = for {
      i <- named.indices; j <- named.indices if i < j
      a = named(i)._1; b = named(j)._1
    } yield {
      val nd = n.toDouble
      val cov = nd * l(s"sx_${a}_$b") - l(s"s_$a").toDouble * l(s"s_$b")
      val va = nd * l(s"ss_$a") - l(s"s_$a").toDouble * l(s"s_$a")
      val vb = nd * l(s"ss_$b") - l(s"s_$b").toDouble * l(s"s_$b")
      val r: Any =
        if (n > 0 && va > 0.0 && vb > 0.0)
          BigDecimal(cov / (math.sqrt(va) * math.sqrt(vb)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else null
      (a, b, r)
    }
    val spark = df.sparkSession
    val rows = pairs.map { case (a, b, r) =>
      org.apache.spark.sql.Row(a, b, r) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("col_a",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("col_b",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("r",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }

  /** Per-group winsorized sum: clamp integer `valCol` to the group's
    * [pLo, pHi] DISCRETE percentiles, then sum. Percentile indices are
    * pure integer arithmetic — idx = ceil(n·p/100) = (n·p + 99) div 100
    * over the (value, rowKey)-ranked window — so the cut values, the
    * clamped values, and the sums are all exact longs; no interpolated
    * (float) quantile ever exists, which is what keeps the oracle
    * hash-exact and the sum reduction-order-free. Two window passes over
    * the group partition + one aggregate, all co-partitioned on the
    * group. Output: (grp, n, lo, hi, wsum).
    */
  def winsorizedSum(df: DataFrame, grpCol: String, valCol: String,
      rowKey: String, pLo: Int = 5, pHi: Int = 95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("v").asc, col("rk").asc)
    val ranked = df.select(col(grpCol).as("grp"),
        col(valCol).cast("long").as("v"), col(rowKey).as("rk"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val loIdx = expr(s"(n * $pLo + 99) div 100")
    val hiIdx = expr(s"(n * $pHi + 99) div 100")
    val bounds = ranked
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === greatest(loIdx, lit(1L)), col("v"))).as("lo"),
        max(when(col("rn") === greatest(hiIdx, lit(1L)), col("v"))).as("hi"))
    ranked.join(broadcast(bounds.select(col("grp"), col("lo"), col("hi"))),
        Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        sum(greatest(least(col("v"), col("hi")), col("lo"))).as("wsum"))
  }

  /** Robust per-group outlier detection via median absolute deviation:
    * outlier ⇔ |v − med| > cut·mad, with med and mad both DISCRETE lower
    * medians (rank index `(n+1) div 2` over (value, rowKey) order) — the
    * whole pipeline is integer-exact, so it hash-matches any engine and,
    * unlike the mean/σ z-score ([[graft.operators.TimeSeries.rateAnomaly]]),
    * a single wild value cannot drag the threshold. Two ranked-window
    * passes + one aggregate, all co-partitioned on the group; the
    * per-group cut rows ride back as broadcasts.
    * Output: (grp, n, med, mad, n_outliers).
    */
  def madOutliers(df: DataFrame, grpCol: String, valCol: String,
      rowKey: String, cut: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(grpCol).as("grp"),
      col(valCol).cast("long").as("v"), col(rowKey).as("rk"))
    def lowerMedian(in: DataFrame, c: String): DataFrame = {
      val w = Window.partitionBy(col("grp")).orderBy(col(c).asc, col("rk").asc)
      in.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
        .groupBy(col("grp"))
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col(c)))
          .as(s"${c}_med"))
    }
    val med = lowerMedian(base, "v")
      .select(col("grp"), col("v_med").as("med"))
    val dev = base.join(broadcast(med), Seq("grp"))
      .withColumn("d", abs(col("v") - col("med")))
    val mad = lowerMedian(dev.select(col("grp"), col("d"), col("rk")), "d")
      .select(col("grp"), col("d_med").as("mad"))
    dev.join(broadcast(mad), Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("d") > col("mad") * cut, 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Growth accounting: first-seen date per entity, rolled up to daily
    * new-entity counts with a running cumulative — the activation curve.
    * The corpus reduces to one row per entity (min date), then to one row
    * per day; the cumulative window runs on the bounded day table.
    * Output: (d, new_entities, cum_entities).
    */
  def growthCurve(df: DataFrame, entCol: String, dateCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(entCol).as("ent"), col(dateCol).cast("date").as("d"))
      .groupBy(col("ent")).agg(min(col("d")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("new_entities"))
      .withColumn("cum_entities", sum(col("new_entities")).over(
        // day-grain table — bounded by the calendar; explicit
        // single-partition key keeps the warning channel clean
        Window.partitionBy(GlobalRank.boundedKey(col("d")))
          .orderBy(col("d").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Equi-depth histogram of integer `valCol`: `buckets` near-equal-count
    * bins via ntile over the (value, rowKey) total order — rank-based, so
    * boundaries are exact values from the data, never interpolated
    * floats. Output: (bucket, n, lo, hi). The ranked pass is the
    * [[GlobalRank]] sharded window (quantile-cut shards + offset add) —
    * fully parallel at any row count, bit-identical to the single-task
    * global ntile.
    */
  def equiDepthHistogram(df: DataFrame, valCol: String, rowKey: String,
      buckets: Int): DataFrame = {
    val base = df.select(col(valCol).cast("long").as("v"),
      col(rowKey).as("rk"))
    GlobalRank.withNtile(base, col("v"), asc = true, col("rk"),
        buckets, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
  }

  /** Poisson bootstrap confidence interval for a mean — THE resampling
    * scheme that works distributed (Efron's multinomial bootstrap needs
    * the global n per replica; Poisson(1) weights are per-row independent,
    * so every replica is one weighted aggregate — the standard production
    * A/B-testing formulation). Weights are DETERMINISTIC: u derives from
    * the shared char hash of (id, replica) and inverts the Poisson(1) CDF
    * through integer thresholds precomputed once here and injected into
    * both dialects verbatim (tail truncated at w = 6; residual mass
    * ~5·10⁻⁵). All replicas ride ONE corpus scan (a B-wide explode into a
    * map-side-combined (replica → Σwv, Σw) aggregate); replica means are
    * exact-input divisions; the CI bounds are DISCRETE rank picks over
    * the B-row replica table. Output: one row
    * (n, mean_micro, b_replicas, ci_lo_micro, ci_hi_micro) — the 2.5/97.5
    * percentile band.
    */
  def poissonBootstrap(df: DataFrame, idCol: String, valCol: String,
      replicas: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // id hashed ONCE per row BEFORE the replica explode — hashing the
    // (id, b) string per replica costs B interpreted folds per row
    // (measured 15-20 s at sf0.1); the per-replica draw is then one
    // codegen'd integer mix. The Knuth multiplicative step is a bijection
    // mod the prime that spreads any input across [0, P) — the raw char
    // hash alone is NOT uniform for short ids (a 3-char id never wraps
    // the modulus, so u would sit near 0 and every weight collapse to 0).
    val base = df.select(
      expr(graft.functions.HashExprs
        .sparkCharHash(s"CAST($idCol AS STRING)")).as("h"),
      round(col(valCol) * 1e6).cast("long").as("vm"))
    val reps = base
      .select(col("h"), col("vm"),
        explode(expr(s"sequence(1, $replicas)")).as("b"))
      .withColumn("u", expr(
        s"((h + b) * 2654435761) % ${graft.functions.HashExprs.P}"))
      .withColumn("w", expr(poissonWeightSql("u")))
      .groupBy(col("b"))
      .agg(sum(col("w") * col("vm")).as("swv"), sum(col("w")).as("sw"))
      // a zero-total-weight replica is only reachable on near-empty
      // inputs (P ≈ 0.37^n) — dropped rather than divided
      .filter(col("sw") > 0)
      .withColumn("m",
        expr("CAST(round(CAST(swv AS DOUBLE) / sw) AS BIGINT)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(GlobalRank.boundedKey(col("b")))
          .orderBy(col("m").asc, col("b").asc)))
      // rank indices from the SURVIVING replica count (a window count over
      // the B-row bounded table — free next to the rn sort), not the
      // requested one: if zero-weight replicas were dropped, a
      // requested-count hi-rank may not exist and ci_hi would silently go
      // NULL instead of the degraded-but-valid band
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy(GlobalRank.boundedKey(col("b")))))
    val bounds = reps.agg(
      count(lit(1)).as("b_replicas"),
      max(when(col("rn") === greatest(expr("(bn * 25 + 999) div 1000"),
        lit(1L)), col("m"))).as("ci_lo_micro"),
      max(when(col("rn") === greatest(expr("(bn * 975 + 999) div 1000"),
        lit(1L)), col("m"))).as("ci_hi_micro"))
    val overall = base.agg(count(lit(1)).as("n"),
      expr("CAST(round(CAST(sum(vm) AS DOUBLE) / count(1)) AS BIGINT)")
        .as("mean_micro"))
    overall.crossJoin(broadcast(bounds))
  }

  /** Two-sample A/B comparison with a paired-bootstrap difference CI:
    * per variant, the mean; per replica b, the DIFFERENCE of the two
    * variants' Poisson-bootstrap means (same deterministic weights as
    * [[poissonBootstrap]], same single corpus scan for all replicas of
    * both arms); the 2.5/97.5 discrete-rank band over the B differences
    * is the experiment readout — "does the CI cross zero". Output: one
    * row (n_a, n_b, mean_a_micro, mean_b_micro, diff_micro, ci_lo_micro,
    * ci_hi_micro).
    */
  def abTest(df: DataFrame, grpCol: String, variantA: String,
      variantB: String, idCol: String, valCol: String,
      replicas: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(grpCol).isin(variantA, variantB))
      .select(col(grpCol).cast("string").as("g"),
        expr(graft.functions.HashExprs
          .sparkCharHash(s"CAST($idCol AS STRING)")).as("h"),
        round(col(valCol) * 1e6).cast("long").as("vm"))
    val reps = base
      .select(col("g"), col("h"), col("vm"),
        explode(expr(s"sequence(1, $replicas)")).as("b"))
      // hash once per row, per-replica integer mix — see poissonBootstrap
      .withColumn("u", expr(
        s"((h + b) * 2654435761) % ${graft.functions.HashExprs.P}"))
      .withColumn("w", expr(poissonWeightSql("u")))
      .groupBy(col("g"), col("b"))
      .agg(sum(col("w") * col("vm")).as("swv"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .withColumn("m",
        expr("CAST(round(CAST(swv AS DOUBLE) / sw) AS BIGINT)"))
    val diffs = reps.filter(col("g") === variantA)
      .select(col("b"), col("m").as("ma"))
      .join(reps.filter(col("g") === variantB)
        .select(col("b"), col("m").as("mb")), Seq("b"))
      .withColumn("dv", col("ma") - col("mb"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(GlobalRank.boundedKey(col("b")))
          .orderBy(col("dv").asc, col("b").asc)))
      // surviving-count rank indices — see poissonBootstrap
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy(GlobalRank.boundedKey(col("b")))))
    val band = diffs.agg(
      max(when(col("rn") === greatest(expr("(bn * 25 + 999) div 1000"),
        lit(1L)), col("dv"))).as("ci_lo_micro"),
      max(when(col("rn") === greatest(expr("(bn * 975 + 999) div 1000"),
        lit(1L)), col("dv"))).as("ci_hi_micro"))
    val means = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"))
      .withColumn("m",
        expr("CAST(round(CAST(sv AS DOUBLE) / n) AS BIGINT)"))
    val overall = means.agg(
      max(when(col("g") === variantA, col("n"))).as("n_a"),
      max(when(col("g") === variantB, col("n"))).as("n_b"),
      max(when(col("g") === variantA, col("m"))).as("mean_a_micro"),
      max(when(col("g") === variantB, col("m"))).as("mean_b_micro"))
    overall.crossJoin(broadcast(band))
      .withColumn("diff_micro", col("mean_a_micro") - col("mean_b_micro"))
      .select(col("n_a"), col("n_b"), col("mean_a_micro"),
        col("mean_b_micro"), col("diff_micro"), col("ci_lo_micro"),
        col("ci_hi_micro"))
  }

  /** Poisson(1) inverse-CDF weight over a uniform-hash column
    * u ∈ [0, P), as a CASE chain against cumulative-probability
    * thresholds scaled to P — computed ONCE here and injected verbatim
    * into both dialects, so the engines compare identical integers. */
  def poissonWeightSql(uCol: String): String = {
    val P = graft.functions.HashExprs.P
    val pmf = (0 to 5).scanLeft(0.0) { case (acc, k) =>
      acc + math.exp(-1.0) / (1 to k).product }.tail
    val cum = pmf.map(c => (c * P).toLong)
    val cases = cum.zipWithIndex
      .map { case (t, k) => s"WHEN $uCol < $t THEN $k" }
      .mkString(" ")
    s"CASE $cases ELSE 6 END"
  }

  /** Zipf-law fit over a frequency table: OLS slope of ln(freq) against
    * ln(rank) — the "does this corpus look like natural language"
    * diagnostic (natural text sits near slope −1; synthetic or
    * template-heavy corpora drift off it). Ranks come from a total order
    * (freq desc, item asc) over the bounded frequency table; both logs
    * are integerized to MILLI-nats (1e3 — milli, not the usual micro,
    * keeps Σx²·n inside exact-long range at any realistic vocabulary:
    * ln(1e9)·1e3 ≈ 2·10⁴, squared ≈ 4.3·10⁸, ×10⁹ rows ≈ 4.3·10¹⁷ < 2⁶³)
    * before the moment sums, so the closed form runs on exact longs.
    * Output: one row (n_items, slope, intercept) in nat units, rounded
    * at 6.
    */
  def zipfFit(freqs: DataFrame, itemCol: String, freqCol: String): DataFrame = {
    // vocabulary-grain rank — unbounded in principle, so it rides the
    // GlobalRank sharded row_number rather than a one-task window; the
    // caller's frequency table is usually itself an aggregate, so cache
    // it across the rank machinery's scans
    val base = freqs.select(col(itemCol).as("item"),
      col(freqCol).cast("long").as("f")).persist()
    val (rankedIn, _) = GlobalRank.withRowNumber(
      base, col("f"), asc = false, col("item"), "r", base.count())
    val ranked = rankedIn
      .select(
        expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1e3) AS BIGINT)").as("x"),
        expr("CAST(round(ln(CAST(f AS DOUBLE)) * 1e3) AS BIGINT)").as("y"))
    val m = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val den = col("n").cast("double") * col("sxx") -
      col("sx").cast("double") * col("sx")
    val slope = (col("n").cast("double") * col("sxy") -
      col("sx").cast("double") * col("sy")) / den
    finalized(m.select(col("n").as("n_items"),
      when(den =!= 0.0, round(slope, 6)).as("slope"),
      when(den =!= 0.0,
        round((col("sy") - slope * col("sx")) / col("n") / 1e3, 6))
        .as("intercept")), base)
  }

  /** RFM segmentation: per entity, recency (days since its last event,
    * anchored at the dataset's own max date so the segmentation is
    * data-relative and reproducible), frequency (event count), monetary
    * (integer value sum), each quintile-scored 5-high via `ntile(5)` over
    * a total order (metric, entity) — ANSI ntile is engine-identical given
    * a total order. The corpus reduces to entity grain first; the three
    * ranked passes run on the bounded entity table (same contract as
    * [[abcClassification]]); the 1-row anchor rides a broadcast join.
    * Output: (ent, recency_days, frequency, monetary, r, f, m, segment).
    */
  def rfm(df: DataFrame, entCol: String, dateCol: String,
      valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ents = df.select(col(entCol).as("ent"),
        col(dateCol).cast("date").as("d"), col(valCol).cast("long").as("v"))
      .groupBy(col("ent"))
      .agg(max(col("d")).as("last_d"), count(lit(1)).as("frequency"),
        sum(col("v")).as("monetary"))
    val anchor = ents.agg(max(col("last_d")).as("anchor"))
    val scored = ents.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("anchor"), col("last_d")).cast("long"))
    // Three global ntiles over the ENTITY-grain table (reduced, but still
    // unbounded) — each a GlobalRank sharded window over the SAME frozen
    // frame, computed INDEPENDENTLY and joined back on the entity key.
    // (The first cut chained them through one frame; each pass's control
    // jobs then re-ran the previous pass's windows and the entry measured
    // 10× its pre-conversion time. Independent passes over the cached
    // entity table keep every control job a cache scan.)
    val frozen = scored.persist()
    val nEnts = frozen.count()
    def tile(c: Column, asc: Boolean, out: String): DataFrame =
      GlobalRank.withNtile(frozen.select(col("ent"), c.as("v")),
          col("v"), asc, col("ent"), 5, out, nEnts)
        .select(col("ent"), col(out))
    val out = frozen
      .join(tile(col("recency_days"), asc = true, "rt"), Seq("ent"))
      .join(tile(col("frequency"), asc = false, "ft"), Seq("ent"))
      .join(tile(col("monetary"), asc = false, "mt"), Seq("ent"))
      .withColumn("r", lit(6L) - col("rt"))
      .withColumn("f", lit(6L) - col("ft"))
      .withColumn("m", lit(6L) - col("mt"))
      .select(col("ent"), col("recency_days"), col("frequency"),
        col("monetary"), col("r"), col("f"), col("m"),
        concat(col("r"), col("f"), col("m")).as("segment"))
      .persist()
    out.count()
    frozen.unpersist(false)
    out
  }

  /** Mutual information between two categorical columns, in micro-nats:
    * MI = Σ_xy (n_xy/N)·ln(n_xy·N / (n_x·n_y)) — the model-free feature
    * relevance / redundancy measure. Contingency cells and margins are
    * exact counts; each cell's ln is integerized to micro-nats before the
    * cross-cell sum (reduction-order-free), and the single division by N
    * runs on exact inputs. NULLs count as a category (folded to the
    * \\u0001 control-char sentinel — see [[Profile.entropy]]; a printable
    * sentinel would merge a genuine equal value into the NULL bucket).
    * Cost: one corpus
    * aggregate to the (a, b) contingency table, margins and total derived
    * from it (cell-table-sized), 1-row total broadcast.
    * Output: one row (n, n_cells, mi_micro).
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(
      coalesce(col(aCol).cast("string"), lit("\u0001")).as("a"),
      coalesce(col(bCol).cast("string"), lit("\u0001")).as("b"))
    val joint = base.groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
    val ma = joint.groupBy(col("a")).agg(sum(col("nab")).as("na"))
    val mb = joint.groupBy(col("b")).agg(sum(col("nab")).as("nb"))
    val tot = joint.agg(sum(col("nab")).as("n"))
    joint.join(ma, Seq("a")).join(mb, Seq("b")).crossJoin(broadcast(tot))
      .withColumn("term", col("nab") * expr(
        "CAST(round(ln((CAST(nab AS DOUBLE) * n) / (CAST(na AS DOUBLE) * nb)) * 1e6) AS BIGINT)"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_cells"),
        sum(col("term")).as("st"))
      .select(col("n"), col("n_cells"),
        expr("CAST(round(CAST(st AS DOUBLE) / n) AS BIGINT)").as("mi_micro"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns — the drift/association gate a curation pipeline runs between
    * a label and a source (is the mix independent of the shard?).
    *
    * Plan shape mirrors [[mutualInformation]]: one groupBy to the R×C
    * contingency grain (map-side combined — the only full-data pass), then
    * marginals as two aggregates OF THE CELL TABLE (bounded by category
    * cardinality, never re-reading the data) and a broadcast 1-row total.
    * Everything after the first aggregate operates on ≤ R·C rows.
    *
    * Determinism: the per-cell statistic is algebraically rearranged to
    * one integer difference and one integer product —
    * `term = (N·o − ra·cb)² / (N·ra·cb)` — computed as exactly two double
    * ops (multiply, divide) on exactly-representable integers, rounded to
    * micro per CELL, then summed as BIGINT; summation order cannot move
    * the result. BIGINT bounds: N·ra·cb < 2^63 up to N ≈ 2e6 per category
    * pair at uniform margins; beyond that the margins themselves need
    * bucketing first (categorical tests on 1e6+ distinct values are
    * meaningless anyway). NULLs fold to the \\u0001 sentinel — a category,
    * not a dropped row, same convention as [[mutualInformation]].
    *
    * Output: 1 row — (n, r_cats, c_cats, dof, chi2_micro).
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(
      coalesce(col(aCol).cast("string"), lit("\u0001")).as("a"),
      coalesce(col(bCol).cast("string"), lit("\u0001")).as("b"))
    val cells = base.groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val tot = cells.agg(sum(col("o")).as("n"))
    cells.join(ra, Seq("a")).join(cb, Seq("b")).crossJoin(broadcast(tot))
      .withColumn("term", expr(
        """CAST(round(CAST(n * o - ra * cb AS DOUBLE)
          |  * CAST(n * o - ra * cb AS DOUBLE)
          |  / CAST(n * ra * cb AS DOUBLE) * 1000000.0) AS BIGINT)"""
          .stripMargin))
      .agg(max(col("n")).as("n"),
        countDistinct(col("a")).as("r_cats"),
        countDistinct(col("b")).as("c_cats"),
        sum(col("term")).as("chi2_micro"))
      .select(col("n"), col("r_cats"), col("c_cats"),
        ((col("r_cats") - 1) * (col("c_cats") - 1)).as("dof"),
        col("chi2_micro"))
  }

  /** Mann-Whitney U rank-sum test between two groups of `valCol` — the
    * nonparametric two-sample shift test (drift gates where the metric is
    * heavy-tailed and a t-test's mean is meaningless). Values integerize at
    * `valScale` before ranking, so ties are exact and engine-independent.
    *
    * Exactness: ranks never materialize per row. The sample reduces to one
    * per-DISTINCT-VALUE table (value, n_a rows, t total rows); midranks use
    * DOUBLED ranks (`dr = 2·cum_before + t + 1 = min_rank + max_rank`) so
    * tied averages stay integers, giving the doubled rank sum
    * `r2_a = Σ n_a·dr` and the doubled statistic
    * `u_a_x2 = r2_a − n_a(n_a+1)` — all exact longs. The normal
    * approximation applies the standard tie correction
    * `var = n_a·n_b/12·((n+1) − Σ(t³−t)/(n(n−1)))`; z is the single
    * mirrored double op, rounded at 6.
    *
    * Plan shape: one hash aggregate to value grain, one ordered window
    * OVER THE DISTINCT-VALUE TABLE (bounded by value-domain cardinality,
    * not row count — integerized metrics have compact domains), one 1-row
    * final aggregate. No per-row rank shuffle at any scale. The
    * compactness caveat is ENFORCED, not advisory: the value-grain
    * cardinality is counted (one extra hash aggregate — the guard's
    * price) and the operator refuses above `maxDistinctValues` rather
    * than silently rebuilding the per-row single-task window this design
    * exists to avoid — coarsen `valScale` or raise the bound.
    *
    * Degenerate case: when every value is tied across both groups the
    * tie-corrected variance is 0 and z would be 0/0 — z is NULL there
    * (and when either group is empty), mirrored in the oracle.
    *
    * Output: one row (n_a, n_b, u_a_x2, z).
    */
  def mannWhitneyU(df: DataFrame, grpCol: String, valCol: String,
      groupA: String, groupB: String, valScale: Double = 1e6,
      maxDistinctValues: Int = 1 << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(grpCol).isin(groupA, groupB) && col(valCol).isNotNull)
      .select(round(col(valCol) * valScale).cast("long").as("v"),
        (col(grpCol) === groupA).as("isa"))
    val pv = base.groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
        count(lit(1)).as("t"))
    requireCompactDomain("mannWhitneyU", pv, maxDistinctValues)
    // ordered window over the per-value table: already aggregated, so the
    // single-partition WindowExec sees |value domain| rows, not |sample|
    // value-grain table bounded by the enforced compactness gate —
    // explicit single-partition key (see GlobalRank.boundedKey)
    val w = Window.partitionBy(GlobalRank.boundedKey(col("v")))
      .orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pv.withColumn("cb", coalesce(sum(col("t")).over(w), lit(0L)))
      .withColumn("dr", lit(2) * col("cb") + col("t") + 1)
      .agg(sum(col("na")).as("n_a"),
        (sum(col("t")) - sum(col("na"))).as("n_b"),
        sum(col("na") * col("dr")).as("r2_a"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      .select(col("n_a"), col("n_b"),
        (col("r2_a") - col("n_a") * (col("n_a") + 1)).as("u_a_x2"),
        col("ties"))
      .withColumn("z", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 THEN CAST(NULL AS DOUBLE)
          |  WHEN (n_a + n_b + 1)
          |       - CAST(ties AS DOUBLE)
          |         / ((n_a + n_b) * CAST(n_a + n_b - 1 AS DOUBLE)) <= 0
          |  THEN CAST(NULL AS DOUBLE)
          |  ELSE round((CAST(u_a_x2 - n_a * n_b AS DOUBLE) / 2.0)
          |    / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
          |        * ((n_a + n_b + 1)
          |           - CAST(ties AS DOUBLE)
          |             / ((n_a + n_b) * CAST(n_a + n_b - 1 AS DOUBLE)))), 6)
          |  END""".stripMargin))
      .select(col("n_a"), col("n_b"), col("u_a_x2"), col("z"))
  }

  /** The [[mannWhitneyU]]/[[ksTest]] compactness gate: counts the
    * value-grain table (bounded control-plane scalar) and refuses when it
    * exceeds the cap — a continuous metric at too fine a `valScale` would
    * otherwise silently rebuild the per-row single-task global window the
    * value-grain design avoids. */
  private def requireCompactDomain(op: String, pv: DataFrame,
      maxDistinctValues: Int): Unit = {
    val nv = pv.count()
    require(nv <= maxDistinctValues,
      s"$op: $nv distinct integerized values exceed " +
        s"maxDistinctValues=$maxDistinctValues; the ordered window over " +
        "the value-grain table would approach per-row scale — coarsen " +
        "valScale (fewer distinct integerized values) or raise the bound")
  }

  /** Two-sample Kolmogorov-Smirnov statistic between two groups of
    * `valCol`: `D = max_x |F_a(x) − F_b(x)|` — the distribution-equality
    * drift gate that catches shape changes a mean/rank test misses.
    *
    * Exactness: per distinct integerized value, the inclusive cumulative
    * counts give the exact integer ECDF-difference NUMERATOR
    * `|cum_a·n_b − cum_b·n_a|`; the max over values and its smallest
    * witnessing value are integer comparisons, and the only double op is
    * the final mirrored `d_micro = round(1e6·maxdiff/(n_a·n_b))`.
    *
    * Same plan shape as [[mannWhitneyU]]: value-grain aggregate, one
    * ordered window over the distinct-value table (compactness ENFORCED
    * via the same `maxDistinctValues` count-guard), 1-row result
    * (n_a, n_b, d_micro, at_v).
    */
  def ksTest(df: DataFrame, grpCol: String, valCol: String,
      groupA: String, groupB: String, valScale: Double = 1e6,
      maxDistinctValues: Int = 1 << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(grpCol).isin(groupA, groupB) && col(valCol).isNotNull)
      .select(round(col(valCol) * valScale).cast("long").as("v"),
        (col(grpCol) === groupA).as("isa"))
    val pv = base.groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ta"),
        sum(when(col("isa"), 0L).otherwise(1L)).as("tb"))
    requireCompactDomain("ksTest", pv, maxDistinctValues)
    // value-grain, compactness-gated — explicit single-partition key
    val w = Window.partitionBy(GlobalRank.boundedKey(col("v")))
      .orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(GlobalRank.boundedKey(col("v")))
      .orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pv.withColumn("ca", sum(col("ta")).over(w))
      .withColumn("cb", sum(col("tb")).over(w))
      .withColumn("na", sum(col("ta")).over(wAll))
      .withColumn("nb", sum(col("tb")).over(wAll))
      .withColumn("diff", abs(col("ca") * col("nb") - col("cb") * col("na")))
      .withColumn("md", max(col("diff")).over(wAll))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("diff")).as("maxdiff"),
        min(when(col("diff") === col("md"), col("v"))).as("at_v"))
      .select(col("n_a"), col("n_b"),
        expr("CAST(round(1e6 * maxdiff / (CAST(n_a AS DOUBLE) * n_b)) AS BIGINT)")
          .as("d_micro"),
        col("at_v"))
  }

  /** ABC / Pareto classification: entities ranked by integer `valCol`
    * descending, classed by cumulative share of the total — A while the
    * running sum (including the current row) stays within `aPct`% of the
    * total, B within `bPct`%, else C. The comparisons are pure integer
    * cross-multiplications (`cum·100 ≤ pct·total`), so no float share
    * ever exists and the class split is engine-exact even at ties (total
    * order: value desc, entity asc).
    *
    * One aggregate to entity grain, one ordered window for the running
    * sum (the 1-row total rides the same window, no extra collect).
    * Output: (ent, v, abc_class).
    */
  def abcClassification(df: DataFrame, entCol: String, valCol: String,
      aPct: Int = 80, bPct: Int = 95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ents = df.select(col(entCol).as("ent"),
        col(valCol).cast("long").as("v"))
      .groupBy(col("ent")).agg(sum(col("v")).as("v"))
      .persist()
    // Global running sum over (v desc, ent asc) via the GlobalRank sharded
    // prefix-sum; the grand total comes back from the same offset
    // aggregate — no second full-frame window. The entity aggregate is
    // cached across the rank machinery's scans (finalized releases it).
    val (cum, total) = GlobalRank.withCumSum(ents, col("v"), asc = false,
      col("ent"), col("v"), "cum", ents.count())
    finalized(cum.select(col("ent"), col("v"),
      when(col("cum") * 100 <= lit(total) * aPct, "A")
        .when(col("cum") * 100 <= lit(total) * bPct, "B")
        .otherwise("C").as("abc_class")), ents)
  }

  /** Doubled midranks of integer values at VALUE grain — the shared
    * rank kernel of [[spearman]]/[[aucScore]] (and the arithmetic of
    * [[mannWhitneyU]]'s `dr`): per distinct value,
    * `dr = 2·(rows before) + (rows at value) + 1 = min_rank + max_rank`,
    * so tied midranks stay integers. The prefix count rides the
    * [[GlobalRank]] sharded cumulative — value-grain but fully parallel,
    * so an (almost-)continuous metric needs no compactness cap here.
    * Input: (v: long, t: rows at v); `rowBound` is any upper bound on its
    * rows (the [[GlobalRank.withRunningSum]] fast-path gate).
    * Output: + (dr). */
  private def doubledMidranks(pv: DataFrame, rowBound: Long = -1L): DataFrame =
    GlobalRank.withRunningSum(pv, col("v"), asc = true, col("v"), col("t"),
        "cumt", rowBound)
      .withColumn("dr", lit(2) * (col("cumt") - col("t")) + col("t") + 1)

  /** Spearman rank correlation between two numeric columns — the
    * monotone-association gate (quality score vs length, price vs
    * quantity) that Pearson's linearity assumption breaks on. Both
    * variables integerize at their scale, reduce to value grain, take
    * exact DOUBLED midranks ([[doubledMidranks]] — ties handled the
    * textbook way); the x ranks broadcast back onto the rows, which fold
    * to y grain. ρ is then Pearson over the doubled ranks: all moment
    * sums (Σa, Σb, Σab, Σa², Σb²) are EXACT integer aggregates; the
    * closing `(n·Σab − Σa·Σb) / √(...)` is one mirrored double expression
    * over those exact longs, rounded at 6. n²-scale products ride doubles
    * identically in both engines (they exceed 2⁶³ long before they exceed
    * IEEE range).
    *
    * Eager work: one row count (no shuffle) picks the plan; up to
    * [[GlobalRank.SmallInput]] rows it is one task end to end. The result
    * is persisted and materialized (the caller `unpersist()`s it); any
    * cache taken on the way is released before return.
    * Output: one row (n, rho). */
  def spearman(df: DataFrame, xCol: String, yCol: String,
      xScale: Double = 1e6, yScale: Double = 1e6): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(round(col(xCol) * xScale).cast("long").as("x"),
        round(col(yCol) * yScale).cast("long").as("y"))
    // x-side value grain first (the bounded-cardinality side in every
    // in-repo use): its ranks broadcast back onto the rows, so the row
    // grain is NEVER joined against the near-row-grain y-rank table —
    // the round-11 formulation paid a 600k ⋈ 583k sort-merge join at
    // sf0.1 for exactly that. Instead ONE aggregate folds the rows to y
    // grain carrying the x-rank sums: Σ_rows dr_x·dr_y =
    // Σ_y dr_y·(Σ_{rows at y} dr_x), and likewise Σ_rows dr_x and
    // Σ_rows dr_x² fold through y grain, exact integer algebra, so every
    // moment is ONE y-grain aggregate and the only row-grain work left is
    // the broadcast join + hash aggregate.
    //
    // The one driver decision is the row count n (one scan, no shuffle).
    // At or below [[GlobalRank.SmallInput]] rows the whole statistic runs
    // in ONE task: one shuffle moves the rows to a single partition (a
    // shuffle, not a coalesce, so whatever computes `df` keeps its
    // parallelism), after which the aggregates, both rank windows (fast
    // path: n bounds both value counts) and the moments need no further
    // exchange. Past the bound the x side (bounded cardinality in every
    // in-repo use) is counted exactly, over a cache its rank pass then
    // reads, and the y side ranks sharded.
    val n = base.queryExecution.toRdd.count()
    val small = n <= GlobalRank.SmallInput
    val rows = if (small) base.repartition(1) else base
    val pvx0 = rows.groupBy(col("x").as("v")).agg(count(lit(1)).as("t"))
    val (pvx, nx) =
      if (small) (pvx0, n) else { val p = pvx0.persist(); (p, p.count()) }
    val rx = doubledMidranks(pvx, nx)
    val pvy = rows
      .join(broadcast(rx.select(col("v").as("x"), col("dr").as("dr_x"))),
        Seq("x"))
      .groupBy(col("y").as("v"))
      .agg(count(lit(1)).as("t"), sum(col("dr_x")).as("sx"),
        sum((col("dr_x") * col("dr_x")).cast(dec)).as("sxx"))
    val ry = doubledMidranks(pvy, n)
    // the SQUARED-rank moment sums pass 2⁶³ near 2-3·10⁶ rows (dr ≤ 2n,
    // so Σdr² ~ 4n³) — ANSI Spark fails loud there; DECIMAL(38,0) keeps
    // them exact to 10³⁸ rows³ and DuckDB's HUGEINT sums mirror it (the
    // heapsLaw moment discipline). Per-value dr² and per-value rank sums
    // (sx ≤ 2n·t) stay in long to 2³¹ rows — the round-11 per-row-product
    // bound; the t/sx multiplier rides the decimal side of each product.
    // The closing expression reads the moments through the same
    // exact-integer→double conversion as before.
    finalized(ry.agg(coalesce(sum(col("t")), lit(0L)).as("n"),
        sum(col("sx")).as("sa"), sum(col("sxx")).as("saa"),
        sum(col("t") * col("dr")).as("sb"),
        sum((col("dr") * col("dr")).cast(dec) * col("t")).as("sbb"),
        sum(col("dr").cast(dec) * col("sx")).as("sab"))
      .select(col("n"), expr(
        """round((CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
          |  / sqrt((CAST(n AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
          |       * (CAST(n AS DOUBLE) * sbb - CAST(sb AS DOUBLE) * sb)), 6)"""
          .stripMargin).as("rho")), pvx)
  }

  /** ROC AUC of a score against a binary label, with exact midrank tie
    * handling — the standard evaluation of a quality/filter classifier at
    * corpus scale. AUC = U⁺/(n⁺·n⁻) where U⁺ is the Mann-Whitney
    * statistic of the positive class; with [[doubledMidranks]],
    * `auc_micro = round(10⁶ · (Σ⁺dr − n⁺(n⁺+1)·... )` — concretely
    * `u2 = Σ_{v} pos(v)·dr(v) − n⁺(n⁺+1)` is the DOUBLED U, and
    * `auc_micro = round(10⁶·u2 / (2·n⁺·n⁻))` is the single mirrored
    * division. Rank arithmetic is value-grain and rides the GlobalRank
    * sharded prefix sum — no compactness cap needed, no per-row window.
    * Output: one row (n_pos, n_neg, auc_micro).
    */
  def aucScore(df: DataFrame, labelCol: Column, scoreCol: Column,
      valScale: Double = 1e6): DataFrame = {
    val base = df
      .filter(labelCol.isNotNull && scoreCol.isNotNull)
      .select(round(scoreCol * valScale).cast("long").as("v"),
        labelCol.cast("boolean").as("pos"))
    val pv = base.groupBy(col("v"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("t"))
      .persist()
    finalized(doubledMidranks(pv, pv.count())
      .agg(sum(col("np")).as("n_pos"),
        (sum(col("t")) - sum(col("np"))).as("n_neg"),
        sum(col("np") * col("dr")).as("r2"))
      .select(col("n_pos"), col("n_neg"), expr(
        """CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(1e6 * CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
          |  / (2.0 * CAST(n_pos AS DOUBLE) * n_neg)) AS BIGINT) END"""
          .stripMargin).as("auc_micro")), pv)
  }

  /** Gini coefficient of an entity-level value distribution — the
    * concentration audit (is 90% of the corpus from 1% of sources?):
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the ascending (value,
    * entity) order. The corpus reduces to entity grain, ranks ride
    * [[GlobalRank]] (no single-task sort), and Σᵢ i·xᵢ is an exact long
    * (caller contract: n²·max(v) must stay clear of 2⁶³ — at petabyte
    * grain pre-aggregate entities or rescale v); the closing division is
    * one mirrored double, micro-scaled. Negative values are refused (the
    * coefficient is undefined there). Output: one row (n, total, gini_micro). */
  def gini(df: DataFrame, entCol: String, valCol: String): DataFrame = {
    val ents = df.select(col(entCol).as("ent"),
        col(valCol).cast("long").as("v"))
      .groupBy(col("ent")).agg(sum(col("v")).as("v"))
      .filter(col("v").isNotNull)
      .persist()
    val (ranked, n) = GlobalRank.withRowNumber(ents, col("v"), asc = true,
      col("ent"), "i", ents.count())
    val res = ranked
      .agg(min(col("v")).as("minv"), sum(col("v")).as("total"),
        sum(col("i") * col("v")).as("siv"))
      .select(lit(n).as("n"), col("total"), col("minv"), col("siv"))
      .withColumn("gini_micro", expr(
        s"""CASE WHEN n = 0 OR total <= 0 OR minv < 0
           |THEN CAST(NULL AS BIGINT)
           |ELSE CAST(round(1e6 * (2.0 * CAST(siv AS DOUBLE)
           |  - CAST(n + 1 AS DOUBLE) * total)
           |  / (CAST(n AS DOUBLE) * total)) AS BIGINT) END""".stripMargin))
      .select(col("n"), col("total"), col("gini_micro"))
    finalized(res, ents)
  }

  /** Cohen's kappa between two categorical raters — chance-corrected
    * agreement (human label vs model label, two labeling runs):
    * κ = (pₒ − pₑ)/(1 − pₑ) = (n·Σdiag − Σ_c rowₙ·colₙ) /
    * (n² − Σ_c rowₙ·colₙ) over the exact contingency table. Same plan
    * shape as [[mutualInformation]]: one aggregate to (a, b) cells,
    * margins derived from it, one mirrored division, micro-scaled. NULLs
    * fold to the control-char sentinel (a real category). Degenerate
    * pₑ = 1 (both raters constant) → NULL. Output: one row
    * (n, po_micro, pe_micro, kappa_micro). */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(
      coalesce(col(aCol).cast("string"), lit("\u0001")).as("a"),
      coalesce(col(bCol).cast("string"), lit("\u0001")).as("b"))
    val joint = base.groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
    val ma = joint.groupBy(col("a")).agg(sum(col("nab")).as("na"))
    val mb = joint.groupBy(col("b")).agg(sum(col("nab")).as("nb"))
    val stats = joint
      .agg(sum(col("nab")).as("n"),
        sum(when(col("a") === col("b"), col("nab")).otherwise(0L))
          .as("agree"))
    val pe = ma.join(mb, ma("a") === mb("b"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("spe"))
    stats.crossJoin(broadcast(pe))
      .select(col("n"),
        expr("CAST(round(1e6 * CAST(agree AS DOUBLE) / n) AS BIGINT)")
          .as("po_micro"),
        expr("CAST(round(1e6 * CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * n)) AS BIGINT)")
          .as("pe_micro"),
        expr(
          """CASE WHEN CAST(n AS DOUBLE) * n = CAST(spe AS DOUBLE)
            |THEN CAST(NULL AS BIGINT)
            |ELSE CAST(round(1e6
            |  * (CAST(n AS DOUBLE) * agree - CAST(spe AS DOUBLE))
            |  / (CAST(n AS DOUBLE) * n - CAST(spe AS DOUBLE))) AS BIGINT)
            |END""".stripMargin).as("kappa_micro"))
  }

  /** McNemar's test of two PAIRED binary predicates — the right
    * comparison when two document filters (or two model versions) score
    * the SAME rows: accuracy deltas hide which side flips which rows;
    * McNemar looks only at the discordant cells b = |A ∧ ¬B| and
    * c = |¬A ∧ B| and asks whether the flips are symmetric,
    * χ² = (b − c)²/(b + c) (1 df). Everything is an exact long off ONE
    * corpus aggregate — (b − c)² stays in long for any corpus that fits
    * row counts in a long — and the single mirrored division is the only
    * double. NULL predicate values fold to false (a filter that abstains
    * rejects). Degenerate b + c = 0 (perfect agreement) → NULL stat.
    * Output: one row (n, b, c, mcnemar_micro).
    *
    * Plan: one narrow projection + one 1-row hash aggregate — no join, no
    * window, no shuffle beyond the final reduce. Scale-free. */
  def mcnemar(df: DataFrame, aPred: Column, bPred: Column): DataFrame = {
    val base = df.select(
      coalesce(aPred, lit(false)).as("a"),
      coalesce(bPred, lit(false)).as("b"))
    base.agg(count(lit(1)).as("n"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("b_cnt"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("c_cnt"))
      .select(col("n"), col("b_cnt").as("b"), col("c_cnt").as("c"),
        expr("""CASE WHEN b_cnt + c_cnt = 0 THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(1e6
          |  * CAST((b_cnt - c_cnt) * (b_cnt - c_cnt) AS DOUBLE)
          |  / (b_cnt + c_cnt)) AS BIGINT) END""".stripMargin)
          .as("mcnemar_micro"))
  }

  /** Benford first-digit audit of a positive numeric column — the
    * fabricated-data / unit-mixup smell test on financial-ish fields.
    * Per digit d ∈ 1..9: observed count, expected share
    * `log10(1 + 1/d)` (micro), and the χ² contribution
    * `(obs − exp)²/exp` (micro) — the total rides the same 9-row frame.
    * First digit extraction is integer string arithmetic on the LONG
    * value (no float log10 of the value itself); non-positive rows are
    * excluded and counted nowhere. One corpus aggregate to 9 rows.
    * Output: (digit, n_obs, expected_micro, chi2_micro). */
  def benford(df: DataFrame, valCol: String): DataFrame = {
    val base = df.select(col(valCol).cast("long").as("v"))
      .filter(col("v") > 0)
      .select(expr("CAST(substring(CAST(v AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
    val digits = base.sparkSession.range(1, 10)
      .select(col("id").as("digit"))
    val counts = base.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = counts.agg(coalesce(sum(col("n_obs")), lit(0L)).as("n"))
    digits.join(counts, Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("exp_d", expr(
        "CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))"))
      .select(col("digit"), col("n_obs"),
        expr("CAST(round(1e6 * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) AS BIGINT)")
          .as("expected_micro"),
        expr(
          """CASE WHEN n = 0 THEN CAST(NULL AS BIGINT)
            |ELSE CAST(round(1e6 * (CAST(n_obs AS DOUBLE) - exp_d)
            |  * (CAST(n_obs AS DOUBLE) - exp_d) / exp_d) AS BIGINT) END"""
            .stripMargin).as("chi2_micro"))
  }

  /** Precision/recall curve of a score against a binary label — one row
    * per DISTINCT score value (the curve's natural grain): thresholding
    * at that value (inclusive, descending), `tp` and `n_kept` are the
    * cumulative positive/total counts down the score order, and
    * precision = tp/n_kept, recall = tp/P,
    * F1 = 2·tp/(n_kept + P) — the last an exact integer rational, so all
    * three are single mirrored divisions (micro). Both cumulative rides
    * share ONE [[GlobalRank]] sharded pass (no per-row window, no
    * compactness cap needed); the output is value-grain — downsample
    * upstream (coarser `valScale`) if a plotted curve needs fewer points.
    * Output: (v, n_kept, tp, precision_micro, recall_micro, f1_micro),
    * descending-threshold order by v. */
  def prCurve(df: DataFrame, labelCol: Column, scoreCol: Column,
      valScale: Double = 1e6): DataFrame = {
    val base = df
      .filter(labelCol.isNotNull && scoreCol.isNotNull)
      .select(round(scoreCol * valScale).cast("long").as("v"),
        labelCol.cast("boolean").as("pos"))
    val pv = base.groupBy(col("v"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("t"))
      .persist()
    val (cum, _, grands) = GlobalRank.withCumSums(pv, col("v"),
      asc = false, col("v"),
      Seq(col("np") -> "tp", col("t") -> "n_kept"), pv.count())
    val totalPos = grands.head
    finalized(cum.select(col("v"), col("n_kept"), col("tp"),
      expr("CAST(round(1e6 * CAST(tp AS DOUBLE) / n_kept) AS BIGINT)")
        .as("precision_micro"),
      expr(s"CAST(round(1e6 * CAST(tp AS DOUBLE) / ${totalPos}L) AS BIGINT)")
        .as("recall_micro"),
      expr(s"CAST(round(1e6 * 2.0 * tp / (n_kept + ${totalPos}L)) AS BIGINT)")
        .as("f1_micro")), pv)
  }

  /** Decile lift / calibration table of a score against a binary label —
    * the model-evaluation companion of [[aucScore]]: rank the corpus by
    * score DESCENDING into `nBins` equal-count bins ([[GlobalRank]]
    * sharded ntile; bin 1 = highest scores), then per bin report size,
    * positives, mean score, positive rate, lift vs the base rate
    * (`rate_bin/rate_all`), and the cumulative gain (share of ALL
    * positives captured through this bin). Counts and score sums are
    * exact longs; the rates/lift/gain are single mirrored divisions
    * (micro). The per-bin reduction is one hash aggregate; the cumulative
    * runs on the `nBins`-row table (explicit bounded single-partition
    * key). Output: (bin, n, n_pos, mean_score_micro, pos_rate_micro,
    * lift_micro, cum_gain_micro). */
  def liftTable(df: DataFrame, labelCol: Column, scoreCol: Column,
      tieCol: Column, nBins: Int = 10,
      valScale: Double = 1e6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBins > 0, s"nBins must be > 0, got $nBins")
    // the (v, pos, tk) projection carries the caller's scoring expression
    // (often regex/HOF-expensive per row) — persist it across the rank
    // machinery's scans and let the exact count arm the GlobalRank
    // small-input fast path (finalized releases it below)
    val base = df
      .filter(labelCol.isNotNull && scoreCol.isNotNull)
      .select(round(scoreCol * valScale).cast("long").as("v"),
        labelCol.cast("boolean").as("pos"), tieCol.as("tk"))
      .persist()
    val binned = GlobalRank.withNtile(base, col("v"), asc = false,
      col("tk"), nBins, "bin", base.count())
    val per = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("v")).as("sv"))
    val tot = per.agg(sum(col("n")).as("nn"), sum(col("n_pos")).as("pp"))
    val wc = Window.partitionBy(GlobalRank.boundedKey(col("bin")))
      .orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    finalized(per.crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(wc))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("CAST(round(CAST(sv AS DOUBLE) / n) AS BIGINT)")
          .as("mean_score_micro"),
        expr("CAST(round(1e6 * CAST(n_pos AS DOUBLE) / n) AS BIGINT)")
          .as("pos_rate_micro"),
        expr(
          """CASE WHEN pp = 0 THEN CAST(NULL AS BIGINT)
            |ELSE CAST(round(1e6 * (CAST(n_pos AS DOUBLE) / n)
            |  / (CAST(pp AS DOUBLE) / nn)) AS BIGINT) END""".stripMargin)
          .as("lift_micro"),
        expr(
          """CASE WHEN pp = 0 THEN CAST(NULL AS BIGINT)
            |ELSE CAST(round(1e6 * CAST(cum_pos AS DOUBLE) / pp) AS BIGINT)
            |END""".stripMargin).as("cum_gain_micro")), base)
  }

  /** Per-group exact discrete quantiles — the length-distribution band
    * report (doc length per language, order value per segment): for each
    * percent p, the smallest value whose cumulative count reaches
    * ceil(p·n/100) (classic discrete-quantile semantics — always an
    * observed value, no interpolation, so parity is pure integer
    * arithmetic). One (grp, value)-grain aggregate, one cumulative window
    * PARTITIONED BY the group (co-partitioned with the aggregate's
    * shuffle — never a global window), and one conditional-min fold per
    * percent. Group cardinality is the output bound; value grain is the
    * window's partition size — fine wherever a per-group sort fits a
    * task, which is the regime a banded report targets (coarsen `valCol`
    * upstream otherwise). Output: (grp, n, q<p1>, q<p2>, ...). */
  def groupQuantiles(df: DataFrame, grpCol: String, valCol: String,
      percents: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be within [1, 100], got $percents")
    val pv = df.filter(col(valCol).isNotNull)
      .select(col(grpCol).as("grp"), col(valCol).cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("t"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = pv.withColumn("cum", sum(col("t")).over(w))
      .withColumn("n", sum(col("t")).over(Window.partitionBy(col("grp"))))
    val aggs = percents.map { p =>
      // cum >= ceil(p*n/100)  ⇔  100*cum >= p*n (integer-exact)
      min(when(col("cum") * 100 >= col("n") * p, col("v"))).as(s"q$p")
    }
    cum.groupBy(col("grp"))
      .agg(max(col("n")).as("n"), aggs: _*)
  }

  /** ROC curve of a score against a binary label — the threshold-grain
    * companion of [[aucScore]] (the scalar is the area under exactly this
    * curve) and the false-positive view [[prCurve]] lacks: one row per
    * DISTINCT score value, thresholding inclusive-descending, with
    * tpr = tp/P and fpr = fp/N (fp = kept − tp, N = total − P). Both
    * cumulative counts ride ONE [[GlobalRank]] multi-sum sharded pass —
    * value-grain, fully parallel, no compactness cap; P and N come back
    * from the same offset aggregate (no second corpus pass). NULL rate on
    * a degenerate side (all-positive or all-negative input). Output:
    * (v, tp, fp, tpr_micro, fpr_micro). */
  def rocCurve(df: DataFrame, labelCol: Column, scoreCol: Column,
      valScale: Double = 1e6): DataFrame = {
    val base = df
      .filter(labelCol.isNotNull && scoreCol.isNotNull)
      .select(round(scoreCol * valScale).cast("long").as("v"),
        labelCol.cast("boolean").as("pos"))
    val pv = base.groupBy(col("v"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        count(lit(1)).as("t"))
      .persist()
    val (cum, _, grands) = GlobalRank.withCumSums(pv, col("v"),
      asc = false, col("v"),
      Seq(col("np") -> "tp", col("t") -> "kept"), pv.count())
    val totalPos = grands.head
    val totalNeg = grands(1) - totalPos
    finalized(cum
      .select(col("v"), col("tp"), (col("kept") - col("tp")).as("fp"))
      .withColumn("tpr_micro",
        if (totalPos == 0L) lit(null).cast("long")
        else expr(s"CAST(round(1e6 * CAST(tp AS DOUBLE) / ${totalPos}L) " +
          "AS BIGINT)"))
      .withColumn("fpr_micro",
        if (totalNeg == 0L) lit(null).cast("long")
        else expr(s"CAST(round(1e6 * CAST(fp AS DOUBLE) / ${totalNeg}L) " +
          "AS BIGINT)")), pv)
  }

  /** Exact 1-D Wasserstein (earth-mover) distance between two groups'
    * value distributions — the drift measure that, unlike [[ksTest]]'s
    * max-gap and the bin-count JSD, weighs HOW FAR mass moved:
    * W₁ = ∫|F_A − F_B| dv over the piecewise-constant empirical CDFs.
    * Exactly integerized: value-grain counts, both cumulatives on ONE
    * [[GlobalRank]] multi-sum sharded pass (no compactness cap), the
    * successor step width dv from a rank r ⋈ r+1 self-join (the
    * distributed `lead()` — the top value contributes no width), and each
    * term |ca·n_b − cb·n_a|·dv accumulated in DECIMAL(38,0) (cross-
    * multiplied CDFs stay integers; the product can pass 2⁶³ at large n ×
    * wide domains). ONE closing mirrored double divides by n_a·n_b·scale.
    * Output: (n_a, n_b, w1_micro) — micro-units of the ORIGINAL value
    * scale; NULL on an empty side. */
  def wasserstein1(df: DataFrame, grpCol: String, valCol: String,
      groupA: String, groupB: String,
      valScale: Double = 1e6): DataFrame = {
    val base = df
      .filter(col(grpCol).isin(groupA, groupB) && col(valCol).isNotNull)
      .select(round(col(valCol) * valScale).cast("long").as("v"),
        (col(grpCol) === groupA).as("isa"))
    val pv = base.groupBy(col("v"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ta"),
        sum(when(col("isa"), 0L).otherwise(1L)).as("tb"))
      .persist()
    val (cum, _, grands) = GlobalRank.withRankedCumSums(pv, col("v"),
      asc = true, col("v"), "r",
      Seq(col("ta") -> "ca", col("tb") -> "cb"), pv.count())
    val (na, nb) = (grands.head, grands(1))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val terms = cum.select(col("v"), col("r"), col("ca"), col("cb"))
      .join(cum.select((col("r") - 1).as("r"), col("v").as("vn")), Seq("r"))
      .select((abs(col("ca").cast(dec) * lit(nb).cast(dec) -
        col("cb").cast(dec) * lit(na).cast(dec)) *
        (col("vn") - col("v")).cast(dec)).as("term"))
    // a single distinct value has no successor rows — an empty term set
    // is W1 = 0 (identical point masses), not NULL
    val res = terms.agg(coalesce(sum(col("term")), lit(0).cast(dec)).as("s"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        if (na == 0L || nb == 0L) lit(null).cast("long").as("w1_micro")
        else expr(("CAST(round(1e6 * CAST(s AS DOUBLE) / " +
          s"(${na}e0 * ${nb}e0 * $valScale)) AS BIGINT)")).as("w1_micro"))
    finalized(res, pv)
  }

  /** Frequency-of-frequency spectrum of an item distribution — the
    * Good-Turing/vocabulary-health readout: for each occurrence count c,
    * how many distinct items occur exactly c times, what share of the
    * corpus mass they carry, and the count-of-counts a smoother consumes.
    * Two hash aggregates (item grain, then count grain) + one 1-row total
    * crossed on — never a window. Input is (item, weight) at ROW grain;
    * items aggregate by exact long sums. Output:
    * (freq, n_items, mass, mass_share_micro). */
  def freqSpectrum(df: DataFrame, itemCol: Column,
      weight: Column = lit(1L)): DataFrame = {
    val items = df.filter(itemCol.isNotNull)
      .groupBy(itemCol.as("item"))
      .agg(sum(weight.cast("long")).as("f"))
    val spec = items.groupBy(col("f").as("freq"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("f")).as("mass"))
    val tot = spec.agg(sum(col("mass")).as("total"))
    spec.crossJoin(broadcast(tot))
      .select(col("freq"), col("n_items"), col("mass"),
        expr(
          """CASE WHEN total = 0 THEN CAST(NULL AS BIGINT)
            |ELSE CAST(round(1e6 * CAST(mass AS DOUBLE) / total) AS BIGINT)
            |END""".stripMargin).as("mass_share_micro"))
  }

  /** Weight of evidence + information value of a categorical feature
    * against a binary label — the credit-scoring-born feature screen a
    * curation pipeline runs before trusting a source/lang/shard column as
    * a quality signal: WoE_c = ln(share of positives in c / share of
    * negatives in c), IV = Σ_c (p_c − q_c)·WoE_c. Jeffreys-style 0.5
    * smoothing keeps single-class categories finite; halves are cleared
    * by doubling, so each WoE is ONE double ln of an EXACT integer
    * rational `((2·np+1)·(2N+C)) / ((2·nn+1)·(2P+C))` (P/N = positive /
    * negative totals, C = category count) — order-free, micro-scaled per
    * category before any sum. The IV contribution mirrors as two exact
    * integer ratios and one multiply per category. Plan: one corpus
    * aggregate to category grain, one 1-row total (positive/negative
    * totals + category count) broadcast; everything after is
    * category-cardinality-bounded. NULL categories fold to the \\u0001
    * sentinel ([[mutualInformation]]).
    * Output: (cat, n_pos, n_neg, woe_micro, iv_micro) per category. */
  def weightOfEvidence(df: DataFrame, catCol: Column,
      label: Column): DataFrame = {
    val cats = df
      .select(coalesce(catCol.cast("string"), lit("\u0001")).as("cat"),
        label.cast("boolean").as("y"))
      .filter(col("y").isNotNull)
      .groupBy(col("cat"))
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("n_neg"))
    val tot = cats.agg(sum(col("n_pos")).as("tp"), sum(col("n_neg")).as("tn"),
      count(lit(1)).as("c"))
    // the 2n+1 / 2N+C factors stay EXACT BIGINTs cast to DOUBLE: a bare
    // `2.0 * n` literal is DECIMAL in Spark SQL (scale-6-truncated
    // quotient) but DOUBLE-promoted in DuckDB — the one-micro drift trap
    cats.crossJoin(broadcast(tot))
      .withColumn("woe_micro", expr(
        """CAST(round(1e6 * ln(
          |  (CAST(2*n_pos+1 AS DOUBLE) * CAST(2*tn+c AS DOUBLE))
          |  / (CAST(2*n_neg+1 AS DOUBLE) * CAST(2*tp+c AS DOUBLE)))) AS BIGINT)"""
          .stripMargin))
      .withColumn("iv_micro", expr(
        """CAST(round(1e6 * (CAST(2*n_pos+1 AS DOUBLE) / CAST(2*tp+c AS DOUBLE)
          |               - CAST(2*n_neg+1 AS DOUBLE) / CAST(2*tn+c AS DOUBLE))
          |  * ln((CAST(2*n_pos+1 AS DOUBLE) * CAST(2*tn+c AS DOUBLE))
          |       / (CAST(2*n_neg+1 AS DOUBLE) * CAST(2*tp+c AS DOUBLE)))) AS BIGINT)"""
          .stripMargin))
      .select(col("cat"), col("n_pos"), col("n_neg"), col("woe_micro"),
        col("iv_micro"))
  }

  /** Cramér's V association strength between two categoricals — the
    * normalized companion to [[chiSquare]]: χ² grows with n, so it says
    * "dependent?" but never "how much"; V = √(χ²/(n·(min(r,c)−1))) maps
    * it to [0,1] (the effect size a schema audit ranks column pairs by).
    * Rides [[chiSquare]]'s output verbatim — same per-cell micro-rounded
    * exact-integer terms — plus two mirrored double ops (one division,
    * one sqrt). Degenerate single-category margins (min(r,c) = 1: V's
    * denominator is 0) → NULL.
    * Output: one row (n, r_cats, c_cats, chi2_micro, v_micro). */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chiSquare(df, aCol, bCol)
      .select(col("n"), col("r_cats"), col("c_cats"), col("chi2_micro"),
        expr(
          """CASE WHEN least(r_cats, c_cats) <= 1 OR n = 0
            |  THEN CAST(NULL AS BIGINT)
            |ELSE CAST(round(1e6 * sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
            |  / (CAST(n AS DOUBLE) * (least(r_cats, c_cats) - 1))))
            |  AS BIGINT) END""".stripMargin).as("v_micro"))

  /** Cochran's Q test of k ≥ 2 PAIRED binary predicates — [[mcnemar]]'s
    * k-treatment generalization (three filter versions scored on the same
    * corpus rows: do the pass rates differ at all?).
    * `Q = (k−1)·(k·ΣGⱼ² − T²) / (k·T − ΣLᵢ²)` with Gⱼ the per-predicate
    * success totals, Lᵢ the per-row success counts, T = ΣGⱼ = ΣLᵢ — all
    * exact longs off ONE corpus aggregate (k + 2 sums); the single
    * mirrored division is the only double. NULL predicate values fold to
    * false (the [[mcnemar]] abstain-rejects rule). Degenerate
    * k·T = ΣLᵢ² (every row all-true or all-false — no discordance) →
    * NULL. Q ~ χ²(k−1) under H₀.
    * Output: one row (n, k, t, q_micro). */
  def cochranQ(df: DataFrame, preds: Seq[Column]): DataFrame = {
    require(preds.size >= 2, s"cochranQ needs >= 2 predicates, got ${preds.size}")
    val k = preds.size
    val ind = df.select(preds.zipWithIndex.map { case (p, i) =>
      coalesce(p, lit(false)).cast("long").as(s"x$i") }: _*)
      .withColumn("l", preds.indices.map(i => col(s"x$i")).reduce(_ + _))
    val aggs = preds.indices.map(i => sum(col(s"x$i")).as(s"g$i")) ++ Seq(
      count(lit(1)).as("n"), coalesce(sum(col("l")), lit(0L)).as("t"),
      coalesce(sum(col("l") * col("l")), lit(0L)).as("sl2"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    ind.agg(aggs.head, aggs.tail: _*)
      .withColumn("sg2", preds.indices
        .map(i => coalesce(col(s"g$i"), lit(0L)).cast(dec)
          * coalesce(col(s"g$i"), lit(0L)).cast(dec)).reduce(_ + _))
      .select(col("n"), lit(k.toLong).as("k"), col("t"), expr(
        // k·Σg² and T² pass 2⁶³ near 3·10⁹ rows — Σg² accumulates in
        // exact DECIMAL(38,0) (the kruskalWallis discipline) and the
        // numerator difference rides doubles (mirrored); the denominator
        // k·T − ΣL² stays an exact long at any corpus size (≤ k·n)
        s"""CASE WHEN ${k}L * t - sl2 = 0 THEN CAST(NULL AS BIGINT)
           |ELSE CAST(round(1e6 * ${k - 1}.0
           |  * (${k}.0 * sg2 - CAST(t AS DOUBLE) * t)
           |  / (${k}L * t - sl2)) AS BIGINT) END""".stripMargin)
          .as("q_micro"))
  }

  /** Kruskal-Wallis H test — the k-group extension of [[mannWhitneyU]]
    * (one-way ANOVA on ranks): do ≥ 2 groups of `valCol` share a
    * location, distribution-free? Values integerize at `valScale`;
    * pooled EXACT doubled midranks ride the [[doubledMidranks]]
    * value-grain machinery (compactness ENFORCED by the same guard), the
    * per-group doubled rank sums `r2_g = Σ c·dr = 2·R_g` are exact
    * longs, and each group's `R_g²/n_g = r2_g²/(4·n_g)` term is
    * micro-rounded per GROUP then summed (the [[chiSquare]] per-cell
    * discipline — r2² would pass 2⁶³ near 2·10⁹ rows, so the square is
    * a mirrored double). `h = 12·S/(n(n+1)) − 3(n+1)`; the tie
    * correction divides by `1 − Σ(t³−t)/(n³−n)` with the tie sum in
    * exact DECIMAL (one hot value's t³ wraps a long past ~2·10⁶ rows).
    * Degenerates: fewer than 2 groups, or all values tied (correction
    * denominator 0) → NULL h_corr; h itself NULL only below 2 rows.
    * Output: one row (n, n_groups, h_micro, h_corr_micro). */
  def kruskalWallis(df: DataFrame, grpCol: String, valCol: String,
      valScale: Double = 1e6, maxDistinctValues: Int = 1 << 22): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(col(grpCol).isNotNull && col(valCol).isNotNull)
      .select(col(grpCol).cast("string").as("g"),
        round(col(valCol) * valScale).cast("long").as("v"))
    val pv = base.groupBy(col("v")).agg(count(lit(1)).as("t")).persist()
    requireCompactDomain("kruskalWallis", pv, maxDistinctValues)
    val dmid = doubledMidranks(pv, pv.count())
      .select(col("v"), col("dr"))
    val per = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .join(dmid, Seq("v"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("ng"), sum(col("c") * col("dr")).as("r2"))
      // the micro term grows ~10⁶·n³/k and passes 2⁶³ near 10⁵ rows
      // (found by the sf0.1 verify) — accumulate the rounded doubles in
      // DECIMAL(38,0); DuckDB mirrors with a HUGEINT cast of the SAME
      // rounded double, both exact conversions of an integral double
      .withColumn("term", expr(
        "CAST(round(1e6 * CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) " +
          "/ (4.0 * ng)) AS DECIMAL(38,0))"))
      .agg(count(lit(1)).as("n_groups"),
        coalesce(sum(col("term")),
          lit(BigDecimal(0)).cast(dec)).as("s_micro"))
    val tie = pv.agg(coalesce(sum(col("t")), lit(0L)).as("n"),
      coalesce(sum((col("t").cast(dec) * col("t") * col("t"))
        - col("t").cast(dec)), lit(BigDecimal(0)).cast(dec)).as("tie3"))
    finalized(per.crossJoin(broadcast(tie))
      .select(col("n"), col("n_groups"), expr(
        """CASE WHEN n < 2 OR n_groups < 2 THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(1e6
          |  * (12.0 * (CAST(s_micro AS DOUBLE) / 1e6)
          |       / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)))
          |  AS BIGINT) END""".stripMargin).as("h_micro"), expr(
        """CASE WHEN n < 2 OR n_groups < 2
          |  OR CAST(n AS DOUBLE) * n * n - n - CAST(tie3 AS DOUBLE) = 0.0
          |  THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(1e6
          |  * (12.0 * (CAST(s_micro AS DOUBLE) / 1e6)
          |       / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
          |  * (CAST(n AS DOUBLE) * n * n - n)
          |  / (CAST(n AS DOUBLE) * n * n - n - CAST(tie3 AS DOUBLE)))
          |  AS BIGINT) END""".stripMargin).as("h_corr_micro")), pv)
  }

  /** Kendall's τ-b rank correlation between two numerics with compact
    * integerized domains — the concordance companion to [[spearman]]
    * (bounded influence of a single wild pair; the τ the as-of/ordering
    * audits quote). The sample reduces to JOINT value cells
    * (x, y, count); concordant/discordant pair MASSES are one
    * cell-pair join under `x_b > x_a` (cells ≤ `maxCells`, ENFORCED —
    * the join is broadcast-nested-loop by construction, which is exactly
    * why the cap exists): `C = Σ c_a·c_b [y_b > y_a]`,
    * `D = Σ c_a·c_b [y_b < y_a]`, both exact longs — they are OUTPUT
    * columns, so they stay BIGINT rather than DECIMAL, and since each is
    * bounded by n(n−1)/2 the exact sum FAILS LOUD (ANSI) past n ≈ 6·10⁹
    * rows instead of silently wrapping; the same bound covers the tie
    * masses on the margins (`n1 = Σ t_x(t_x−1)/2`,
    * `n2 = Σ t_y(t_y−1)/2`). Only `τ_b = (C−D)/√((n0−n1)(n0−n2))` rides
    * a mirrored double (the n0-scale PRODUCTS under the root pass 2⁶³
    * around 3·10⁹ rows — doubles carry them identically in both
    * engines). Degenerate all-tied margins → NULL.
    * Output: one row (n, n_cells, conc, disc, tau_micro). */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String,
      xScale: Double = 1e6, yScale: Double = 1e6,
      maxCells: Int = 1 << 14): DataFrame = {
    val base = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(round(col(xCol) * xScale).cast("long").as("x"),
        round(col(yCol) * yScale).cast("long").as("y"))
    val cells = base.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
      .persist()
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"kendallTauB: $nCells joint value cells exceed maxCells=$maxCells; " +
        "the cell-pair join would approach per-row scale — coarsen the " +
        "scales (fewer distinct integerized values) or raise the bound")
    val a = cells.select(col("x").as("xa"), col("y").as("ya"),
      col("c").as("ca"))
    val b = cells.select(col("x").as("xb"), col("y").as("yb"),
      col("c").as("cb"))
    val pairs = a.join(broadcast(b), col("xb") > col("xa"))
      .agg(
        coalesce(sum(when(col("yb") > col("ya"), col("ca") * col("cb"))
          .otherwise(0L)), lit(0L)).as("conc"),
        coalesce(sum(when(col("yb") < col("ya"), col("ca") * col("cb"))
          .otherwise(0L)), lit(0L)).as("disc"))
    val margins = cells
      .agg(coalesce(sum(col("c")), lit(0L)).as("n"),
        count(lit(1)).as("n_cells"))
    val tx = cells.groupBy(col("x")).agg(sum(col("c")).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1L)), lit(0L)).as("tx2"))
    val ty = cells.groupBy(col("y")).agg(sum(col("c")).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1L)), lit(0L)).as("ty2"))
    finalized(margins.crossJoin(broadcast(pairs))
      .crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select(col("n"), col("n_cells"), col("conc"), col("disc"), expr(
        """CASE WHEN n < 2
          |  OR CAST(n AS DOUBLE) * (n - 1) - tx2 = 0.0
          |  OR CAST(n AS DOUBLE) * (n - 1) - ty2 = 0.0
          |  THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(1e6 * (conc - disc)
          |  / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2 - CAST(tx2 AS DOUBLE) / 2)
          |       * (CAST(n AS DOUBLE) * (n - 1) / 2 - CAST(ty2 AS DOUBLE) / 2)))
          |  AS BIGINT) END""".stripMargin).as("tau_micro")), cells)
  }

  /** Friedman test of k treatments over n complete blocks — the BLOCKED
    * companion to [[kruskalWallis]] (each block is its own mini-ranking,
    * so block-to-block level shifts cancel: the right shape for "do the
    * k pipeline variants differ, day by day?"). Values integerize at
    * `valScale`; within-block EXACT doubled midranks ride a
    * block-partitioned window whose partitions hold exactly k rows
    * (bounded by construction — never corpus-grain); the per-treatment
    * doubled rank sums `r2_j = 2·R_j` are exact longs and each
    * treatment's `R_j² = r2_j²/4` term is micro-rounded per TREATMENT
    * then summed (the [[chiSquare]] discipline).
    * `χ²_F = 12·S/(n·k·(k+1)) − 3·n·(k+1)`; the tie correction divides
    * by `1 − Σ(t³−t)/(n·k·(k²−1))` with the within-block tie sum in
    * exact DECIMAL. The design is ENFORCED complete: exactly one value
    * per (block, treatment) and every block covering all k treatments —
    * fail loud, never a silently-biased rank sum (densify with zeros
    * upstream if absence means zero). Degenerate all-tied blocks
    * (correction denominator 0) → NULL corrected stat.
    * Output: one row (n_blocks, k, chi2_micro, chi2_corr_micro). */
  def friedman(df: DataFrame, blockCol: String, treatCol: String,
      valCol: String, valScale: Double = 1e6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull &&
        col(valCol).isNotNull)
      .select(col(blockCol).cast("string").as("b"),
        col(treatCol).cast("string").as("t"),
        round(col(valCol) * valScale).cast("long").as("v"))
      .persist()
    // completeness guard: one ≤|blocks|+1-row control-plane check
    val kRow = base.agg(countDistinct(col("t")).as("k"),
      count(lit(1)).as("nr"), countDistinct(col("b"), col("t")).as("bt"),
      countDistinct(col("b")).as("nb")).collect()(0)
    val k = kRow.getLong(0)
    require(k >= 2, s"friedman needs >= 2 treatments, got $k")
    require(kRow.getLong(1) == kRow.getLong(2),
      "friedman: duplicate (block, treatment) cells — pre-aggregate to " +
        "one value per cell first")
    require(kRow.getLong(2) == kRow.getLong(3) * k,
      "friedman: incomplete blocks (some block is missing a treatment) " +
        "— densify with zeros upstream if absence means zero")
    val wv = Window.partitionBy(col("b")).orderBy(col("v").asc)
    val dmid = base.groupBy(col("b"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("cumb", coalesce(sum(col("c")).over(
        wv.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("dr", lit(2L) * col("cumb") + col("c") + 1L)
      .select(col("b"), col("v"), col("dr"))
    val perT = base.join(dmid, Seq("b", "v"))
      .groupBy(col("t")).agg(sum(col("dr")).as("r2"))
      // same DECIMAL accumulation as kruskalWallis: the micro term grows
      // ~10⁶·(n_blocks·k)² and passes 2⁶³ near 10⁶ blocks
      .withColumn("term", expr(
        "CAST(round(1e6 * CAST(r2 AS DOUBLE) * r2 / 4.0) AS DECIMAL(38,0))"))
      .agg(coalesce(sum(col("term")),
        lit(BigDecimal(0)).cast(dec)).as("s_micro"))
    val tie = base.groupBy(col("b"), col("v")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum((col("c").cast(dec) * col("c") * col("c"))
        - col("c").cast(dec)), lit(BigDecimal(0)).cast(dec)).as("tie3"))
    val nb = kRow.getLong(3)
    finalized(perT.crossJoin(broadcast(tie))
      .select(lit(nb).as("n_blocks"), lit(k).as("k"), expr(
        s"""CAST(round(1e6
           |  * (12.0 * (CAST(s_micro AS DOUBLE) / 1e6)
           |       / (${nb}.0 * $k * ${k + 1}) - 3.0 * $nb * ${k + 1}))
           |  AS BIGINT)""".stripMargin).as("chi2_micro"), expr(
        s"""CASE WHEN ${nb}.0 * $k * (${k}.0 * $k - 1) - CAST(tie3 AS DOUBLE) = 0.0
           |  THEN CAST(NULL AS BIGINT)
           |ELSE CAST(round(1e6
           |  * (12.0 * (CAST(s_micro AS DOUBLE) / 1e6)
           |       / (${nb}.0 * $k * ${k + 1}) - 3.0 * $nb * ${k + 1})
           |  * (${nb}.0 * $k * (${k}.0 * $k - 1))
           |  / (${nb}.0 * $k * (${k}.0 * $k - 1) - CAST(tie3 AS DOUBLE)))
           |  AS BIGINT) END""".stripMargin).as("chi2_corr_micro")),
      base)
  }

  /** One-vs-rest Kolmogorov-Smirnov drift audit across ALL groups in one
    * pass — the per-stream drift gate ([[ksTest]] asks "A vs B"; a
    * 50-source ingest asks "which source's distribution drifted from the
    * pool?", and running k pairwise tests is k scans). Per group g:
    * `D_g = max_v |F_g(v) − F_rest(v)|` with the EXACT integer numerator
    * `|cum_g·(n − n_g) − (cum_all − cum_g)·n_g|`, max and its smallest
    * witnessing value by integer comparison; the asymptotic one-term
    * p ≈ 2·exp(−2·(n_g·n_r/n)·D²) is the mirrored double tail, clamped
    * to 1.
    *
    * Plan: one pooled value-grain aggregate (compactness ENFORCED — the
    * [[mannWhitneyU]] guard), one group×value densify (k·d rows, both
    * factors bounded: d by the guard, the product by `maxCells`), one
    * GROUP-partitioned cumulative window, one bounded-table global
    * cumulative for the pool. Feed the p column to [[bhAdjust]] for the
    * which-discoveries-survive readout.
    * Output: (grp, n_g, d_micro, at_v, p_micro) per group with ≥ 1 row. */
  def ksDriftOneVsRest(df: DataFrame, grpCol: String, valCol: String,
      valScale: Double = 1e6, maxDistinctValues: Int = 1 << 16,
      maxCells: Long = 1L << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(grpCol).isNotNull && col(valCol).isNotNull)
      .select(col(grpCol).cast("string").as("g"),
        round(col(valCol) * valScale).cast("long").as("v"))
    val pv = base.groupBy(col("v")).agg(count(lit(1)).as("t")).persist()
    requireCompactDomain("ksDriftOneVsRest", pv, maxDistinctValues)
    val nValues = pv.count()
    // pooled cumulative on the BOUNDED value table (deliberate
    // single-partition window — the boundedKey contract)
    val pooled = pv
      .withColumn("cuma", sum(col("t")).over(
        Window.partitionBy(GlobalRank.boundedKey(col("v")))
          .orderBy(col("v").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("v"), col("cuma"))
    val groups = base.groupBy(col("g")).agg(count(lit(1)).as("ng"))
      .persist()
    val nGroups = groups.count()
    require(nGroups * nValues <= maxCells,
      s"ksDriftOneVsRest: $nGroups groups x $nValues values exceed " +
        s"maxCells=$maxCells — coarsen valScale or raise the bound")
    val tot = groups.agg(coalesce(sum(col("ng")), lit(0L)).as("n"))
    val cells = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy(col("g")).orderBy(col("v").asc)
    val dense = groups.crossJoin(broadcast(pooled))
      .join(cells, Seq("g", "v"), "left")
      .withColumn("cumg", coalesce(sum(coalesce(col("c"), lit(0L))).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("num", abs(col("cumg") * (col("n") - col("ng"))
        - (col("cuma") - col("cumg")) * col("ng")))
    val wk = Window.partitionBy(col("g"))
      .orderBy(col("num").desc, col("v").asc)
    finalized(dense
      .withColumn("pick", row_number().over(wk))
      .filter(col("pick") === 1 && col("ng") < col("n") && col("ng") > 0)
      .select(col("g").as("grp"), col("ng").as("n_g"),
        expr("""CAST(round(1e6 * CAST(num AS DOUBLE)
          |  / (CAST(ng AS DOUBLE) * (n - ng))) AS BIGINT)"""
          .stripMargin).as("d_micro"),
        col("v").as("at_v"),
        expr("""CAST(round(1e6 * least(1.0, 2.0 * exp(
          |  -2.0 * (CAST(ng AS DOUBLE) * (n - ng) / n)
          |  * (CAST(num AS DOUBLE) / (CAST(ng AS DOUBLE) * (n - ng)))
          |  * (CAST(num AS DOUBLE) / (CAST(ng AS DOUBLE) * (n - ng)))
          |  ))) AS BIGINT)""".stripMargin).as("p_micro")),
      pv, groups)
  }

  /** Anderson-Darling k-sample test (Scholz-Stephens A²ₐₖₙ, the
    * tie-corrected midrank version): do k groups of `valCol` come from
    * one distribution? — the tail-sensitive companion to
    * [[ksDriftOneVsRest]] (KS weighs the middle of the ECDF; AD's
    * `1/(F(1−F))` weight makes it the detector for tail drift, which is
    * where quality-filter regressions usually hide). Per pooled distinct
    * value j with mass h_j, the test compares each group's MID-cumulative
    * `M_gj = cum_gj − h_gj/2` to the pooled `B_j = cum_j − h_j/2`; in
    * DOUBLED units both are exact integers, and each (g, j) term
    * `h_j·(N·M2 − n_g·B2)² / ((B2·(2N−B2) − N·h_j)·n_g)` is a ratio of
    * exact integers (numerator squared as a mirrored double — it passes
    * 2⁶³ immediately), micro-rounded THEN summed in DECIMAL(38,0).
    * Terms whose denominator ≤ 0 (a single distinct value carrying the
    * whole pool) are skipped, the standard treatment. Each summed term
    * is N× the textbook `(h_j/N)·…` weight, so the closing
    * `A² = S·(N−1)/N²` carries the missing 1/N along with the (N−1)/N
    * factor — one mirrored double. The raw A²ₐₖₙ is
    * reported un-standardized (the σ_N normalization tables are a
    * driver-side lookup, not an engine shape). Degenerate: < 2 groups
    * or < 2 values → NULL.
    *
    * Same plan as [[ksDriftOneVsRest]]: pooled value-grain aggregate
    * (compactness ENFORCED), k·d densify under `maxCells`, one
    * group-partitioned cumulative window, one bounded pooled cumulative.
    * Output: one row (n, n_groups, n_values, a2_micro). */
  def andersonDarlingK(df: DataFrame, grpCol: String, valCol: String,
      valScale: Double = 1e6, maxDistinctValues: Int = 1 << 16,
      maxCells: Long = 1L << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(col(grpCol).isNotNull && col(valCol).isNotNull)
      .select(col(grpCol).cast("string").as("g"),
        round(col(valCol) * valScale).cast("long").as("v"))
    val pv = base.groupBy(col("v")).agg(count(lit(1)).as("h")).persist()
    requireCompactDomain("andersonDarlingK", pv, maxDistinctValues)
    val nValues = pv.count()
    val pooled = pv
      .withColumn("cum", sum(col("h")).over(
        Window.partitionBy(GlobalRank.boundedKey(col("v")))
          .orderBy(col("v").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("v"), col("h"), (lit(2) * col("cum") - col("h")).as("b2"))
    val groups = base.groupBy(col("g")).agg(count(lit(1)).as("ng"))
      .persist()
    val nGroups = groups.count()
    require(nGroups * nValues <= maxCells,
      s"andersonDarlingK: $nGroups groups x $nValues values exceed " +
        s"maxCells=$maxCells — coarsen valScale or raise the bound")
    val tot = groups.agg(coalesce(sum(col("ng")), lit(0L)).as("n"))
    val cells = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy(col("g")).orderBy(col("v").asc)
    val terms = groups.crossJoin(broadcast(pooled))
      .join(cells, Seq("g", "v"), "left")
      .withColumn("hg", coalesce(col("c"), lit(0L)))
      .withColumn("m2", lit(2) * sum(col("hg")).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("hg"))
      .crossJoin(broadcast(tot))
      // denominator sign must be EXACT (a true-zero denominator read as
      // a tiny double would explode the term): B2·(2N−B2) reaches N²,
      // past 2⁶³ at corpus scale — compare in DECIMAL
      .filter(col("b2").cast(dec) * (lit(2) * col("n") - col("b2"))
        - col("n").cast(dec) * col("h") > lit(BigDecimal(0)).cast(dec))
      .withColumn("t_micro", expr(
        """CAST(round(1e6 * h
          |  * (CAST(n AS DOUBLE) * m2 - CAST(ng AS DOUBLE) * b2)
          |  * (CAST(n AS DOUBLE) * m2 - CAST(ng AS DOUBLE) * b2)
          |  / ((CAST(b2 AS DOUBLE) * (2 * n - b2)
          |      - CAST(n AS DOUBLE) * h) * ng))
          |  AS DECIMAL(38,0))""".stripMargin))
    finalized(terms
      .agg(coalesce(sum(col("t_micro")), lit(BigDecimal(0)).cast(dec))
        .as("s_micro"), max(col("n")).as("n"))
      .select(col("n"), lit(nGroups).as("n_groups"),
        lit(nValues).as("n_values"), expr(
        s"""CASE WHEN $nGroups < 2 OR $nValues < 2 OR n IS NULL
          |  THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(CAST(s_micro AS DOUBLE) * (n - 1) / n / n)
          |  AS BIGINT)
          |END""".stripMargin).as("a2_micro")), pv, groups)
  }

  /** Jonckheere-Terpstra ordered-alternative test: does `valCol` TREND
    * monotonically across the ordered groups of `grpCol` (ordered by the
    * group key's natural sort)? — the directional sibling of
    * [[kruskalWallis]]: when the alternative is "doses increase the
    * response", KW burns power on unordered permutations that JT
    * concentrates on the trend. `JT = Σ_{i<j} U_ij` over group pairs in
    * key order, with each Mann-Whitney mass expanded on the dense
    * group×value grid instead of a cell-pair join (which would be
    * d²-quadratic): in DOUBLED units,
    * `JT2 = Σ_{v,g} c_g(v)·(2·A_g(v) + B_g(v))` where `A_g(v)` sums the
    * strictly-below-v cumulative of every EARLIER group and `B_g(v)`
    * their mass at v — two bounded windows (one over values within each
    * group, one over group order within each value) on the ENFORCED
    * k·d grid, everything exact longs until the closing z. The normal
    * approximation uses the tie-corrected variance (Lehmann), whose
    * n³-scale moment sums ride DECIMAL(38,0); `z_micro` is the one
    * mirrored double, micro-rounded at scale 0. Degenerates: < 2 groups
    * or zero variance → NULL z. Output: one row (n, n_groups, jt2,
    * z_micro). */
  def jonckheereTerpstra(df: DataFrame, grpCol: String, valCol: String,
      valScale: Double = 1e6, maxDistinctValues: Int = 1 << 16,
      maxCells: Long = 1L << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(col(grpCol).isNotNull && col(valCol).isNotNull)
      .select(col(grpCol).cast("string").as("g"),
        round(col(valCol) * valScale).cast("long").as("v"))
    val pv = base.groupBy(col("v")).agg(count(lit(1)).as("t")).persist()
    requireCompactDomain("jonckheereTerpstra", pv, maxDistinctValues)
    val nValues = pv.count()
    val groups = base.groupBy(col("g")).agg(count(lit(1)).as("ng"))
      .persist()
    val nGroups = groups.count()
    require(nGroups * nValues <= maxCells,
      s"jonckheereTerpstra: $nGroups groups x $nValues values exceed " +
        s"maxCells=$maxCells — coarsen valScale or raise the bound")
    val cells = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val wgv = Window.partitionBy(col("g")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wvg = Window.partitionBy(col("v")).orderBy(col("g").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dense = groups.crossJoin(broadcast(pv.select(col("v"))))
      .join(cells, Seq("g", "v"), "left")
      .withColumn("cg", coalesce(col("c"), lit(0L)))
      .withColumn("below", coalesce(sum(col("cg")).over(wgv), lit(0L)))
      .withColumn("a", coalesce(sum(col("below")).over(wvg), lit(0L)))
      .withColumn("b", coalesce(sum(col("cg")).over(wvg), lit(0L)))
    val jt = dense
      .agg(coalesce(sum(col("cg") * (lit(2) * col("a") + col("b"))),
        lit(0L)).as("jt2"))
    // tie-corrected moments: group sizes and pooled tie masses, the
    // n³-scale sums in DECIMAL (one hot group/value wraps a long)
    val gm = groups.agg(
      coalesce(sum(col("ng")), lit(0L)).as("n"),
      count(lit(1)).as("k"),
      coalesce(sum(col("ng").cast(dec) * col("ng")), lit(BigDecimal(0))
        .cast(dec)).as("s2g"),
      coalesce(sum(col("ng").cast(dec) * (col("ng") - 1)
        * (lit(2) * col("ng") + 5)), lit(BigDecimal(0)).cast(dec))
        .as("g25"),
      coalesce(sum(col("ng").cast(dec) * (col("ng") - 1)
        * (col("ng") - 2)), lit(BigDecimal(0)).cast(dec)).as("g3"),
      coalesce(sum(col("ng").cast(dec) * (col("ng") - 1)),
        lit(BigDecimal(0)).cast(dec)).as("g2"))
    val tm = pv.agg(
      coalesce(sum(col("t").cast(dec) * (col("t") - 1)
        * (lit(2) * col("t") + 5)), lit(BigDecimal(0)).cast(dec))
        .as("t25"),
      coalesce(sum(col("t").cast(dec) * (col("t") - 1) * (col("t") - 2)),
        lit(BigDecimal(0)).cast(dec)).as("t3"),
      coalesce(sum(col("t").cast(dec) * (col("t") - 1)),
        lit(BigDecimal(0)).cast(dec)).as("t2"))
    finalized(jt.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
      // variance as its own column so the z guard can test it: an
      // all-tied pool drives it to <= 0 and round(x/0.0) would fail
      // loud at the BIGINT cast (ANSI) instead of going NULL
      .withColumn("varr", expr(
        """CASE WHEN k < 2 OR n < 3 THEN CAST(NULL AS DOUBLE)
          |ELSE (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
          |    - CAST(g25 AS DOUBLE) - CAST(t25 AS DOUBLE)) / 72.0
          |  + CAST(g3 AS DOUBLE) * CAST(t3 AS DOUBLE)
          |    / (36.0 * n * (n - 1) * (n - 2))
          |  + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)
          |    / (8.0 * n * (n - 1))
          |END""".stripMargin))
      .select(col("n"), col("k").as("n_groups"), col("jt2"), expr(
        """CASE WHEN varr IS NULL OR varr <= 0.0D THEN CAST(NULL AS BIGINT)
          |ELSE CAST(round(1e6
          |  * (CAST(jt2 AS DOUBLE) / 2.0
          |     - (CAST(n AS DOUBLE) * n - CAST(s2g AS DOUBLE)) / 4.0)
          |  / sqrt(varr)) AS BIGINT)
          |END""".stripMargin).as("z_micro")), pv, groups)
  }

  /** Benjamini-Hochberg FDR adjustment over a frame of per-test p-values
    * (micro-scaled longs) — the multiple-comparisons closer for every
    * per-group test in this file: run [[TimeSeries.pettitt]] /
    * [[mannWhitneyU]] / [[chiSquare]] per stream, then ask which
    * discoveries survive at FDR q. `p_adj(i) = min over j ≥ i of
    * m·p₍ⱼ₎/j` (capped at 1): the global p-rank rides
    * [[GlobalRank.withRowNumber]], the raw `m·p/rank` is one mirrored
    * double division micro-rounded per test, and the suffix min is ONE
    * [[GlobalRank.withCumMin]] pass down the reversed rank order — no
    * corpus-grain window at any test count. Reject test i at level q
    * iff p_adj ≤ q. NULL p-values are dropped (a test that did not run
    * is not a discovery).
    * Output: (k, p_micro, rn, p_adj_micro) per test. */
  def bhAdjust(tests: DataFrame, keyCol: String, pCol: String): DataFrame = {
    val base = tests
      .select(col(keyCol).as("k"), col(pCol).cast("long").as("p_micro"))
      .filter(col("p_micro").isNotNull)
      .persist()
    val m = base.count()
    val (ranked, _) = GlobalRank.withRowNumber(base, col("p_micro"),
      asc = true, col("k"), "rn", m)
    val v = ranked.withColumn("v", expr(
      s"least(1000000L, CAST(round(${m}L * CAST(p_micro AS DOUBLE) / rn) " +
        "AS BIGINT))"))
    finalized(GlobalRank
      .withCumMin(v, col("rn"), asc = false, col("k"), col("v"),
        "p_adj_micro", m)
      .select(col("k"), col("p_micro"), col("rn"), col("p_adj_micro")),
      base)
  }

  /** Bradley-Terry pairwise-strength fit via Hunter's (2004) MM updates —
    * the model behind every pairwise-preference leaderboard (LLM eval
    * arenas rank models with exactly this): given match outcomes
    * (winner, loser), find strengths s with
    * `P(i beats j) = s_i / (s_i + s_j)`. The MM iteration is
    * `s'_i = W_i / Σ_j n_ij / (s_i + s_j)` (W_i = i's total wins,
    * n_ij = matches between i and j), renormalized to Σs = k each round.
    *
    * Determinism discipline (the [[LangModel.doremiMixture]] pattern):
    * strengths are micro longs; each round's per-cell term
    * `t_ij = round(10¹² · n_ij / (s_i + s_j))` and per-item readout
    * `u_i = round(10¹² · W_i / Σ_j t_ij)` are micro-rounded to exact
    * longs BEFORE any sum, and the renormalization
    * `s''_i = round(k·10⁶ · u_i / Σu)` divides two exact integers — so
    * cross-engine double drift cannot compound across rounds.
    *
    * Scale shape: ONE corpus-grain aggregate (the win matrix — combine-
    * friendly counts) is the distributed part; items are ENFORCED
    * ≤ `maxItems`, so the k²-cell MM iteration is bounded control-plane
    * work and runs DRIVER-SIDE on the collected tables (the k-means-
    * centroid pattern — a Spark-side round loop pays a fixed multi-job
    * latency per round for zero distributed benefit; measured 4.5-5.8 s
    * vs ~2 s at sf0.1). An item that never wins converges to strength 0.
    * Output: (item, n_wins, n_matches, s_micro) after `rounds` updates.
    */
  def bradleyTerry(matches: DataFrame, winCol: String, loseCol: String,
      rounds: Int = 10, maxItems: Int = 1024): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val m1 = matches
      .filter(col(winCol).isNotNull && col(loseCol).isNotNull &&
        col(winCol) =!= col(loseCol))
      .select(col(winCol).cast("string").as("w"),
        col(loseCol).cast("string").as("l"))
      .groupBy(col("w"), col("l")).agg(count(lit(1)).as("c"))
      .persist()
    val cells = m1.select(col("w").as("i"), col("l").as("j"), col("c"))
      .unionByName(m1.select(col("l").as("i"), col("w").as("j"), col("c")))
      .groupBy(col("i"), col("j")).agg(sum(col("c")).as("n"))
      .persist()
    val items = cells.groupBy(col("i").as("item"))
      .agg(sum(col("n")).as("n_matches")).persist()
    val k = items.count()
    require(k <= maxItems,
      s"bradleyTerry: $k items exceed maxItems=$maxItems; the k^2-cell " +
        "iteration would leave bounded-table scale — bucket the items " +
        "or raise the bound")
    val wins = items
      .join(m1.groupBy(col("w").as("item")).agg(sum(col("c")).as("n_wins")),
        Seq("item"), "left")
      .select(col("item"), coalesce(col("n_wins"), lit(0L)).as("n_wins"),
        col("n_matches"))
    // the iteration runs DRIVER-SIDE on the collected bounded tables —
    // the k-means-centroid control-plane pattern: cells ≤ k² and wins
    // ≤ k rows by the ENFORCED maxItems bound, and a Spark-side round
    // loop costs a fixed multi-job latency per round that dwarfs the
    // arithmetic (measured 4.5-5.8 s vs ~2 s at sf0.1 for ZERO
    // distributed work — the corpus-grain win-matrix aggregate above is
    // the distributed part). Driver doubles reproduce the engines'
    // bit-for-bit: Math.exp == Spark's exp == DuckDB's, and every
    // intermediate is micro-rounded to a long exactly as the oracle's
    // unrolled CTEs compute it (nonnegative values, so HALF_UP == the
    // floor(x+0.5) of math.round).
    val byI = cells.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    val winRows = wins.collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
    val itemsArr = winRows.map(_._1)
    var sMap = itemsArr.map(_ -> 1000000L).toMap
    for (_ <- 1 to rounds) {
      // den_i = Σ_j t_ij with each t micro-rounded first (t > 0 always:
      // n ≥ 1 and at least one of any playing pair has a win, so
      // strengths cannot all collapse — den = 0 is unreachable from
      // real matches and guarded by the oracle's mirrored CASE)
      val den = itemsArr.map { i =>
        i -> byI(i).map { case (_, j, n) =>
          math.round(1e12 * n / (sMap(i) + sMap(j)))
        }.sum
      }.toMap
      val u = winRows.map { case (i, (nw, _)) =>
        i -> (if (den(i) == 0L) 0L else math.round(1e12 * nw / den(i)))
      }.toMap
      val su = u.valuesIterator.sum.toDouble
      sMap = itemsArr.map(i => i -> math.round(k * 1e6 * u(i) / su)).toMap
    }
    val spark = matches.sparkSession
    import spark.implicits._
    val out = winRows.toSeq
      .map { case (i, (nw, nm)) => (i, nw, nm, sMap(i)) }
      .toDF("item", "n_wins", "n_matches", "s_micro")
    m1.unpersist(false); cells.unpersist(false); items.unpersist(false)
    out
  }

  /** Wilcoxon signed-rank test over PRE-INTEGERIZED pairs — the paired
    * companion to [[mannWhitneyU]] (matched before/after measurements on
    * the same entity, where the two-sample rank test would throw away the
    * pairing). Input rows carry exact-long `xCol`/`yCol` (the caller
    * integerizes — a per-entity sum of micro-rounded values stays exact
    * where a double mean would not); zero differences drop per the
    * textbook treatment, |d| takes pooled EXACT doubled midranks on the
    * value-grain table ([[doubledMidranks]]; compactness ENFORCED), and
    * the doubled positive-rank sum `w2p = Σ t⁺·dr = 2·W⁺` is an exact
    * long. The normal approximation
    * `z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48)` is the only
    * double, with the tie sum carried in DECIMAL(38,0) (one hot |d|
    * value's t³ wraps a long past ~2·10⁶ pairs — the kruskalWallis
    * lesson). Degenerate n = 0 (all pairs tied) or zero variance → NULL
    * z. Output: one row (n_pairs, w2_plus, z).
    *
    * Scale: pair-grain aggregates + one value-grain rank pass — the
    * mannWhitney plan shape; nothing is proportional to the pair count
    * after the first groupBy. */
  def wilcoxonSignedRank(pairs: DataFrame, xCol: String, yCol: String,
      maxDistinctValues: Int = 1 << 22): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = pairs
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((col(xCol).cast("long") - col(yCol).cast("long")).as("dd"))
      .filter(col("dd") =!= 0L)
      .select(abs(col("dd")).as("v"), (col("dd") > 0L).as("pos"))
    val pv = base.groupBy(col("v"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("tp"))
      .persist()
    requireCompactDomain("wilcoxonSignedRank", pv, maxDistinctValues)
    val dmid = doubledMidranks(pv.select(col("v"), col("t")), pv.count())
      .select(col("v"), col("dr"))
    finalized(pv.join(dmid, Seq("v"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_pairs"),
        coalesce(sum(col("tp") * col("dr")), lit(0L)).as("w2_plus"),
        coalesce(sum((col("t").cast(dec) * col("t") * col("t"))
          - col("t").cast(dec)), lit(BigDecimal(0)).cast(dec)).as("tie3"))
      .select(col("n_pairs"), col("w2_plus"), expr(
        """CASE WHEN n_pairs = 0 THEN CAST(NULL AS DOUBLE)
          |  WHEN CAST(n_pairs AS DOUBLE) * (n_pairs + 1)
          |       * (2 * n_pairs + 1) / 24.0
          |       - CAST(tie3 AS DOUBLE) / 48.0 <= 0.0
          |  THEN CAST(NULL AS DOUBLE)
          |  ELSE round((CAST(w2_plus AS DOUBLE) / 2.0
          |      - CAST(n_pairs AS DOUBLE) * (n_pairs + 1) / 4.0)
          |    / sqrt(CAST(n_pairs AS DOUBLE) * (n_pairs + 1)
          |        * (2 * n_pairs + 1) / 24.0
          |        - CAST(tie3 AS DOUBLE) / 48.0), 6)
          |  END""".stripMargin).as("z")), pv)
  }

  /** Brown-Forsythe variance-homogeneity test: one-way ANOVA F over
    * absolute deviations from each group's LOWER MEDIAN — the robust
    * Levene variant, and the gate a location test (t/Mann-Whitney) wants
    * checked before pooling variances. The lower median (the ⌈n/2⌉-th
    * order statistic, an exact ELEMENT of the integerized domain rather
    * than an interpolated average) keeps every deviation an exact long —
    * documented deviation from the mean-of-two-middles textbook median,
    * chosen so the hash compare is integer-exact on both engines.
    *
    * Plan: value-grain cells (g, v, c) with a per-GROUP ordered window
    * (parallel across groups; pooled compactness ENFORCED by the
    * mannWhitney guard) pick each group's median; deviations stay on the
    * cell grain, so the moment sums `S_g = Σ c·z` and `Q_g = Σ c·z²`
    * aggregate cells, not rows, with z² carried in DECIMAL(38,0)
    * (micro-unit deviations square past 2⁶³ immediately). Between/within
    * sums of squares use the computational identities
    * `SSB = Σ S_g²/n_g − S²/N`, `SSW = Σ Q_g − Σ S_g²/n_g`, with each
    * group's `round(1e6·S_g²/n_g)` micro-rounded then summed in DECIMAL
    * (the kruskalWallis term discipline); `F = (SSB/(k−1))/(SSW/(N−k))`
    * is the one closing mirrored double. Degenerates: k < 2, N ≤ k, or
    * SSW = 0 → NULL f. Output: one row (n, n_groups, f_micro). */
  def brownForsythe(df: DataFrame, grpCol: String, valCol: String,
      valScale: Double = 1e6, maxDistinctValues: Int = 1 << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(col(grpCol).isNotNull && col(valCol).isNotNull)
      .select(col(grpCol).cast("string").as("g"),
        round(col(valCol) * valScale).cast("long").as("v"))
    val cells = base.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("c")).persist()
    requireCompactDomain("brownForsythe",
      cells.select(col("v")).distinct(), maxDistinctValues)
    val wg = Window.partitionBy(col("g")).orderBy(col("v").asc)
    val med = cells
      .withColumn("cum", sum(col("c")).over(
        wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ng", sum(col("c")).over(
        Window.partitionBy(col("g"))))
      .filter(col("cum") * 2 >= col("ng"))
      .groupBy(col("g")).agg(min(col("v")).as("med"))
    val per = cells.join(med, Seq("g"))
      .withColumn("z", abs(col("v") - col("med")))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("ng"),
        sum(col("c") * col("z")).as("sg"),
        sum(col("c").cast(dec) * col("z") * col("z")).as("qg"))
      .select(col("ng"), col("sg"), col("qg"), expr(
        "CAST(round(1e6 * CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng) " +
          "AS DECIMAL(38,0))").as("term"))
      .agg(coalesce(sum(col("ng")), lit(0L)).as("n"),
        count(lit(1)).as("n_groups"),
        coalesce(sum(col("sg")), lit(0L)).as("s_all"),
        coalesce(sum(col("qg")), lit(BigDecimal(0)).cast(dec)).as("q_all"),
        coalesce(sum(col("term")), lit(BigDecimal(0)).cast(dec)).as("t_all"))
    finalized(per.select(col("n"), col("n_groups"), expr(
      """CASE WHEN n_groups < 2 OR n <= n_groups THEN CAST(NULL AS BIGINT)
        |  WHEN CAST(q_all AS DOUBLE) - CAST(t_all AS DOUBLE) / 1e6 <= 0.0
        |  THEN CAST(NULL AS BIGINT)
        |  ELSE CAST(round(1e6
        |    * ((CAST(t_all AS DOUBLE) / 1e6
        |        - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n)
        |       / (n_groups - 1))
        |    / ((CAST(q_all AS DOUBLE) - CAST(t_all AS DOUBLE) / 1e6)
        |       / (n - n_groups))) AS BIGINT)
        |  END""".stripMargin).as("f_micro")), cells)
  }

  /** Dunn's post-hoc pairwise comparisons after [[kruskalWallis]], with
    * the Benjamini-Hochberg closer — WHICH groups differ, once the
    * omnibus H says some do. Pooled doubled midranks ride the same
    * value-grain machinery (compactness ENFORCED); each group reduces to
    * (n_g, Σ doubled ranks), and the C(k,2) pair stage is a self-join of
    * the k-row GROUP table (broadcast by construction — k is the number
    * of categories, never the row count). Per pair
    * `z = |R̄_i − R̄_j| / √((N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/n_i+1/n_j))`
    * with mean ranks `R̄ = r2/(2n)` as mirrored doubles and the tie sum
    * in DECIMAL(38,0); the two-sided p uses Lin's (1989) logistic-tail
    * approximation `p = min(1, 2·exp(−0.717z − 0.416z²))` — elementary
    * ops only, so both engines compute the identical double (neither
    * Spark SQL nor DuckDB exposes erf; the approximation is monotone in
    * z, which is all the FDR ranking needs). The family then rides
    * [[bhAdjust]] unchanged. Output: (k = "gi|gj", p_micro, rn,
    * p_adj_micro) per unordered pair. */
  def dunnPosthoc(df: DataFrame, grpCol: String, valCol: String,
      valScale: Double = 1e6, maxDistinctValues: Int = 1 << 22): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df
      .filter(col(grpCol).isNotNull && col(valCol).isNotNull)
      .select(col(grpCol).cast("string").as("g"),
        round(col(valCol) * valScale).cast("long").as("v"))
    val pv = base.groupBy(col("v")).agg(count(lit(1)).as("t")).persist()
    requireCompactDomain("dunnPosthoc", pv, maxDistinctValues)
    val dmid = doubledMidranks(pv, pv.count()).select(col("v"), col("dr"))
    val per = base.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .join(dmid, Seq("v"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("ng"), sum(col("c") * col("dr")).as("r2"))
    val tie = pv.agg(coalesce(sum(col("t")), lit(0L)).as("n"),
      coalesce(sum((col("t").cast(dec) * col("t") * col("t"))
        - col("t").cast(dec)), lit(BigDecimal(0)).cast(dec)).as("tie3"))
    val a = per.select(col("g").as("gi"), col("ng").as("ni"),
      col("r2").as("ri"))
    val b = per.select(col("g").as("gj"), col("ng").as("nj"),
      col("r2").as("rj"))
    val pairs = a.join(broadcast(b), col("gi") < col("gj"))
      .crossJoin(broadcast(tie))
      .withColumn("z", expr(
        """CASE WHEN n < 2
          |    OR CAST(n AS DOUBLE) * (n + 1) / 12.0
          |       - CAST(tie3 AS DOUBLE) / (12.0 * (n - 1)) <= 0.0
          |  THEN CAST(NULL AS DOUBLE)
          |  ELSE abs(CAST(ri AS DOUBLE) / (2.0 * ni)
          |      - CAST(rj AS DOUBLE) / (2.0 * nj))
          |    / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12.0
          |        - CAST(tie3 AS DOUBLE) / (12.0 * (n - 1)))
          |      * (1.0D / ni + 1.0D / nj))
          |  END""".stripMargin))
      .select(concat(col("gi"), lit("|"), col("gj")).as("k"), expr(
        """CASE WHEN z IS NULL THEN CAST(NULL AS BIGINT)
          |  ELSE CAST(round(1e6 * least(1.0,
          |    2.0 * exp(-0.717 * z - 0.416 * z * z))) AS BIGINT)
          |  END""".stripMargin).as("p_micro"))
    val out = bhAdjust(pairs, "k", "p_micro")
    pv.unpersist(false)
    out
  }
}