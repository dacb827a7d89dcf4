package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed global-rank primitive — the cure for the single-partition
  * `WindowExec` that an unpartitioned `Window.orderBy(...)` plans (Spark
  * logs `WARN WindowExec: No Partition Defined` and serializes the WHOLE
  * input through one task: the one plan shape in this repo that does not
  * survive a 100× scale-up).
  *
  * Strategy (the broadcast-boundary variant of the
  * [[Linkage.sortedNeighborhood]] range-shard pattern): cut the value
  * domain into `shards` ranges with a one-pass quantile sketch, broadcast
  * the cut points as LITERALS so the shard id is a pure deterministic
  * function of the row (no persisted frame needed to freeze a sampled
  * partitioning — the hazard `repartitionByRange` has across two jobs),
  * aggregate per-shard row counts (a ≤`shards`-row collect, the usual
  * control-plane scalar), and run the rank window PARTITIONED by the shard
  * id with each shard's global offset added back. Because the shard
  * assignment is monotone in the value (rows with equal values always land
  * in the same shard), the concatenation of per-shard (value, tie) orders
  * IS the global order, and the emitted ranks are bit-identical to the
  * one-task `row_number().over(Window.orderBy(value, tie))` — verified by
  * the unchanged DuckDB oracle hashes of every converted query.
  *
  * Cost: one sketch pass + one count aggregate + one hash exchange for the
  * windows — all full-width and fully parallel; the sketch keeps bounded
  * memory (Greenwald-Khanna) at any input size. Skewed value domains
  * degrade gracefully: a hot value maps to ONE shard (never split —
  * required for correctness), so the worst case for one pathological value
  * is the old single-task sort for that value's rows only.
  *
  * Contracts: `value` must cast to long without loss (micro-scaled
  * integers throughout this repo; |v| must stay clear of Long.MinValue so
  * descending negation cannot overflow); for descending order NULL values
  * sort FIRST here (the negated-ascending convention), unlike Spark's
  * default desc NULLS LAST — callers pass non-null measures (counts/sums),
  * which every in-repo site does.
  */
object GlobalRank {

  private val SV = "__gr_sv"
  private val SHARD = "__gr_shard"

  /** A non-foldable constant partition key for windows over tables that
    * are BOUNDED by construction (top-N lists, day/replica/digit grain,
    * cap-guarded value grain): `pmod(hash(anchor), 1)` is always 0 but
    * survives constant folding (a literal key is folded away and the spec
    * reverts to empty — verified in GlobalRankSpec), so WindowExec
    * carries an EXPLICIT single-partition spec and the
    * `No Partition Defined` warning channel stays reserved for
    * unintended corpus-grain windows. The hash is one cheap op per row
    * of an already-bounded table; the exchange it plans is the same
    * all-to-one move the empty spec required. Do NOT use on unbounded
    * input — that is what the sharded ranks above are for. */
  def boundedKey(anchor: Column): Column = pmod(hash(anchor), lit(1))

  /** Inputs at or below this row count take the single-window fast path:
    * a `boundedKey`-partitioned window computes identical rank/cumsum
    * values in ONE task with none of the sketch/offset machinery — 128k
    * (long, tie) rows sort in milliseconds and sit far below task
    * memory. The adaptive small-side discipline of
    * [[Dedup.connectedComponents]]: callers that already hold the EXACT
    * row count (they persisted + counted the aggregate feeding the rank)
    * pass it as `knownCount`; unknown (-1) or large counts keep the
    * fully-parallel sharded path. */
  val SmallInput = 131072L

  private def fastEligible(knownCount: Long): Boolean =
    knownCount >= 0 && knownCount <= SmallInput

  /** Quantile cut points of `sv` (already direction-adjusted), floored to
    * long. Deduplicated: a constant column yields ZERO cuts (one shard) —
    * never an empty shard per duplicate boundary. */
  private def cutPoints(df: DataFrame, sv: Column, shards: Int): Array[Long] = {
    if (shards <= 1) return Array.empty
    val probs = (1 until shards).map(_.toDouble / shards).toArray
    // relativeError sizes ONLY the load balance (shard assignment is
    // monotone in the value, so the emitted ranks are identical under any
    // cuts): 0.02 bounds shard-size error at ±2% of n — indistinguishable
    // from perfect cuts for task balance — while the Greenwald-Khanna
    // sketch is ~an order of magnitude cheaper than the 0.001 it replaced
    // (measured 2.9 s -> 0.4 s of q140_spearman's rank pass at sf0.1)
    df.select(sv.cast("double").as("__d")).filter(col("__d").isNotNull)
      .stat.approxQuantile("__d", probs, 0.02)
      .map(d => math.floor(d).toLong).distinct.sorted
  }

  /** Monotone shard id: number of cut points strictly below `sv`. Equal
    * values always share a shard; NULL compares to null → 0 (shard 0,
    * matching asc NULLS FIRST). A fold of ≤`shards` codegen'd long
    * comparisons — no HOF, no re-hash. */
  private def shardOf(cuts: Array[Long], sv: Column): Column =
    cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(sv > lit(c), 1).otherwise(0)
    }

  /** Core: adds `rankCol` = global 1-based row_number over
    * (`value` asc-or-desc, `tie` asc) and, for each `(expr, name)` in
    * `cums`, a global running sum of `expr` over the same order into
    * column `name` — all the cumulative columns ride the SAME per-shard
    * window and the SAME ≤`shards`-row offset aggregate. Returns the
    * frame (original columns + the added ones) plus (total row count,
    * grand total per cumulative). With `grandTotals = false` the fast path
    * runs no job (the totals are empty) and `knownCount` need only bound
    * the row count. */
  private def rankedCore(df: DataFrame, value: Column, asc: Boolean,
      tie: Column, rankCol: String, cums: Seq[(Column, String)],
      knownCount: Long = -1L,
      grandTotals: Boolean = true): (DataFrame, Long, Seq[Long]) = {
    val spark = df.sparkSession
    val shards = spark.sessionState.conf.numShufflePartitions
    val sv = if (asc) value.cast("long") else -value.cast("long")
    val svDf = df.withColumn(SV, sv)
    if (fastEligible(knownCount)) {
      // small-input fast path: ONE deliberately-single-partition window
      // (explicit boundedKey spec) — same SV/tie order, identical values
      val w = Window.partitionBy(boundedKey(tie))
        .orderBy(col(SV).asc, tie.asc)
      val ranked0 = svDf.withColumn(rankCol,
        row_number().over(w).cast("long"))
      val ranked = cums.foldLeft(ranked0) { case (acc, (c, cumCol)) =>
        acc.withColumn(cumCol, sum(c.cast("long")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      }
      val grands =
        if (cums.isEmpty || !grandTotals) Seq.empty[Long]
        else {
          val aggs = cums.zipWithIndex.map { case ((c, _), i) =>
            sum(c.cast("long")).as(s"__s$i") }
          val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
          cums.indices.map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
        }
      return (ranked.drop(SV), knownCount, grands)
    }
    val cuts = cutPoints(svDf, col(SV), shards)
    val assigned = svDf.withColumn(SHARD, shardOf(cuts, col(SV)))
    // per-shard count (+ sums) — ≤ shards rows, driver-side fold
    val sumAggs = cums.zipWithIndex.map { case ((c, _), i) =>
      sum(c.cast("long")).as(s"__s$i")
    }
    val perShard = assigned.groupBy(col(SHARD))
      .agg(count(lit(1)).as("__c"), sumAggs: _*)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        cums.indices.map(i =>
          if (r.isNullAt(2 + i)) 0L else r.getLong(2 + i))))
      .sortBy(_._1)
    val total = perShard.map(_._2).sum
    val grands = cums.indices.map(i => perShard.map(_._3(i)).sum)
    // offset(p) = rows (resp. sums) in shards strictly before p
    var cAcc = 0L
    val sAcc = Array.fill(cums.size)(0L)
    val offs = perShard.map { case (p, c, ss) =>
      val o = (p, cAcc, sAcc.toSeq); cAcc += c
      cums.indices.foreach(i => sAcc(i) += ss(i)); o
    }
    val cntOff = typedLit(offs.map(o => o._1 -> o._2).toMap)
    val w = Window.partitionBy(col(SHARD)).orderBy(col(SV).asc, tie.asc)
    val ranked0 = assigned.withColumn(rankCol,
      row_number().over(w).cast("long") +
        coalesce(element_at(cntOff, col(SHARD)), lit(0L)))
    val ranked = cums.zipWithIndex.foldLeft(ranked0) {
      case (acc, ((c, cumCol), i)) =>
        val sumOff = typedLit(offs.map(o => o._1 -> o._3(i)).toMap)
        acc.withColumn(cumCol,
          sum(c.cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) +
            coalesce(element_at(sumOff, col(SHARD)), lit(0L)))
    }
    (ranked.drop(SV, SHARD), total, grands)
  }

  /** Global 1-based row_number over (`value` asc/desc, `tie` asc), plus
    * the total row count (free from the offset aggregate — saves callers a
    * separate `count()` pass). */
  def withRowNumber(df: DataFrame, value: Column, asc: Boolean, tie: Column,
      rankCol: String, knownCount: Long = -1L): (DataFrame, Long) = {
    val (out, n, _) = rankedCore(df, value, asc, tie, rankCol, Nil,
      knownCount)
    (out, n)
  }

  /** SQL-standard NTILE(buckets) over (`value` asc/desc, `tie` asc):
    * derived arithmetically from the global rank — first n%B buckets get
    * ceil(n/B) rows — exactly Spark's and DuckDB's NTILE. */
  def withNtile(df: DataFrame, value: Column, asc: Boolean, tie: Column,
      buckets: Int, bucketCol: String,
      knownCount: Long = -1L): DataFrame = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val rk = "__gr_rn"
    val (ranked, n) = withRowNumber(df, value, asc, tie, rk, knownCount)
    val q = n / buckets
    val r = n % buckets
    val bucket =
      if (q == 0) col(rk) // n < buckets: bucket i holds exactly row i
      else expr(s"CASE WHEN $rk <= ${r * (q + 1)} " +
        s"THEN ($rk - 1) div ${q + 1} + 1 " +
        s"ELSE $r + ($rk - ${r * (q + 1)} - 1) div $q + 1 END")
    ranked.withColumn(bucketCol, bucket.cast("long")).drop(rk)
  }

  /** Global running sum of `sumOf` over (`value` asc/desc, `tie` asc) into
    * `cumCol`, plus the grand total (the `sum() OVER ()` companion,
    * without a second full-frame window). The rank column is internal. */
  def withCumSum(df: DataFrame, value: Column, asc: Boolean, tie: Column,
      sumOf: Column, cumCol: String,
      knownCount: Long = -1L): (DataFrame, Long) = {
    val rk = "__gr_rn"
    val (out, _, grands) =
      rankedCore(df, value, asc, tie, rk, Seq((sumOf, cumCol)), knownCount)
    (out.drop(rk), grands.head)
  }

  /** [[withCumSum]] without the grand total, for callers that never read
    * it: the small-input fast path then plans the window and runs nothing.
    * `rowBound` is any upper bound on `df`'s row count (the fast path is
    * taken at or below [[SmallInput]]); -1 means unknown. */
  def withRunningSum(df: DataFrame, value: Column, asc: Boolean, tie: Column,
      sumOf: Column, cumCol: String, rowBound: Long = -1L): DataFrame = {
    val rk = "__gr_rn"
    rankedCore(df, value, asc, tie, rk, Seq((sumOf, cumCol)), rowBound,
      grandTotals = false)._1.drop(rk)
  }

  /** Several global running sums over ONE (`value` asc/desc, `tie` asc)
    * order — all riding the same sharded window and one offset aggregate
    * (the PR-curve shape: cumulative positives AND cumulative totals down
    * the score order). Returns the frame plus (row count, grand total per
    * cumulative, in `sums` order). */
  def withCumSums(df: DataFrame, value: Column, asc: Boolean, tie: Column,
      sums: Seq[(Column, String)],
      knownCount: Long = -1L): (DataFrame, Long, Seq[Long]) = {
    val rk = "__gr_rn"
    val (out, n, grands) = rankedCore(df, value, asc, tie, rk, sums,
      knownCount)
    (out.drop(rk), n, grands)
  }

  /** Global running MINIMUM of `minOf` (long, non-null) over
    * (`value` asc/desc, `tie` asc) into `cumCol` — min is associative
    * like sum, so the exact sharded machinery applies: per-shard window
    * min combined (via `least`) with the min of all STRICTLY-PRIOR
    * shards, broadcast as a literal map off one ≤`shards`-row aggregate.
    * The suffix-min consumer (Benjamini-Hochberg's adjusted p =
    * min over j ≥ i of m·p₍ⱼ₎/j) runs this with `asc = false` — a running
    * min down the reversed order IS the suffix min, with no
    * corpus-grain single-partition window at any test count. */
  def withCumMin(df: DataFrame, value: Column, asc: Boolean, tie: Column,
      minOf: Column, cumCol: String, knownCount: Long = -1L): DataFrame = {
    val MV = "__gr_mv"
    val spark = df.sparkSession
    val shards = spark.sessionState.conf.numShufflePartitions
    val sv = if (asc) value.cast("long") else -value.cast("long")
    val svDf = df.withColumn(SV, sv).withColumn(MV, minOf.cast("long"))
    if (fastEligible(knownCount)) {
      val w = Window.partitionBy(boundedKey(tie))
        .orderBy(col(SV).asc, tie.asc)
      return svDf.withColumn(cumCol, min(col(MV)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .drop(SV, MV)
    }
    val cuts = cutPoints(svDf, col(SV), shards)
    val assigned = svDf.withColumn(SHARD, shardOf(cuts, col(SV)))
    val perShard = assigned.groupBy(col(SHARD))
      .agg(min(col(MV)).as("__m")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    // offset(p) = min over shards strictly before p (identity = MaxValue)
    var acc = Long.MaxValue
    val offs = perShard.map { case (p, m) =>
      val o = (p, acc); acc = math.min(acc, m); o
    }
    val minOff = typedLit(offs.toMap)
    val w = Window.partitionBy(col(SHARD)).orderBy(col(SV).asc, tie.asc)
    assigned.withColumn(cumCol,
        least(min(col(MV)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          coalesce(element_at(minOff, col(SHARD)), lit(Long.MaxValue))))
      .drop(SV, SHARD, MV)
  }

  /** [[withCumSums]] keeping the global rank column too — for consumers
    * that need BOTH running sums and a successor join (rank r ⋈ r+1 is
    * the distributed `lead()`: the step-width term of a piecewise-constant
    * CDF integral, the gap test of a sortedness audit). One rankedCore
    * pass; nothing extra over withCumSums. */
  def withRankedCumSums(df: DataFrame, value: Column, asc: Boolean,
      tie: Column, rankCol: String, sums: Seq[(Column, String)],
      knownCount: Long = -1L): (DataFrame, Long, Seq[Long]) =
    rankedCore(df, value, asc, tie, rankCol, sums, knownCount)
}
