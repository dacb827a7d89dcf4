package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecSqDist

/** Exact-integer Lloyd k-means over embedding columns — the clustering
  * stage of corpus curation (diversity sampling, per-cluster quotas,
  * semantic bucketing before dedup).
  *
  * All arithmetic is 64-bit integer: vectors are scaled to `1/scale` units
  * once up front (`round(v * scale)` in double — exact for |v|·scale below
  * 2^52), distances are integer squared-L2, and centroid means use FLOOR
  * division, so the result is bit-identical across engines, partitionings,
  * and runs. A floating-point k-means' centroid means depend on summation
  * order, which would make every downstream assignment nondeterministic —
  * the same reduction-order hazard the integer PageRank avoids.
  *
  * Vectors are assumed fixed-dimension (an embedding table invariant; the
  * dimension is read from the data once per call).
  *
  * Scale shape per round: one broadcast of the k centroids (k·dim longs),
  * one codegen'd native squared-L2 distance per (row, centroid)
  * ([[graft.functions.VecSqDistLong]] — a primitive loop, not an interpreted
  * higher-order function), a map-side-combinable packed-long min HASH
  * aggregate for the argmin (each task reduces its local N×k rows to one per
  * id BEFORE the shuffle — no sort, no WindowExec; asserted in ScaleOpsSpec),
  * a shuffle-free co-partitioned re-join of the winning cid onto the cached
  * vectors, and one dim-wide sum aggregate for the new means (k rows through
  * the shuffle, not k·dim, and no posexplode row blow-up) — no driver-side
  * vectors, no cartesian beyond the deliberate row×k assignment.
  *
  * Seeds are the k lowest-id vectors (deterministic, mirrors the IVF
  * seeding fixed in round 3 — rank-based, no dense-id assumption).
  */
object KMeans {

  /** One assignment round under the seed centroids, without the
    * lineage-truncating localCheckpoint — the checkpoint in [[assign]]
    * collapses the returned frame's plan to an RDD scan, so plan-shape
    * tests (no WindowExec/SortAggregate in the argmin) must inspect this
    * hook instead. */
  private[graft] def assignmentRound(emb: DataFrame, idCol: String,
      vecCol: String, k: Int, scale: Long = 1000000L): DataFrame = {
    val scaled = scaledVectors(emb, idCol, vecCol, scale)
    assignIds(scaled, seedCentroids(scaled, k), packing(scaled, k))
  }

  private def scaledVectors(emb: DataFrame, idCol: String, vecCol: String,
      scale: Long): DataFrame =
    emb.select(col(idCol).cast("long").as("id"),
      expr(s"transform($vecCol, v -> CAST(round(CAST(v AS DOUBLE) * $scale.0) AS BIGINT))")
        .as("xs"))

  private def seedCentroids(scaled: DataFrame, k: Int): DataFrame = {
    // runs over the limit(k) seed rows only — bounded
    val seedW = Window.partitionBy(GlobalRank.boundedKey(col("id")))
      .orderBy(col("id"))
    scaled.orderBy(col("id")).limit(k)
      .select((row_number().over(seedW) - 1).cast("long").as("cid"),
        col("xs").as("cs"))
  }

  /** Tie-break radix for the DECIMAL fallback packing. */
  private val TieRadix = 1000000000L

  /** Next power of two > k-1: any radix > max cid orders (dist, cid)
    * lexicographically; a small one maximizes the long headroom. */
  private def radixFor(k: Int): Long =
    math.max(java.lang.Long.highestOneBit(math.max(k - 1, 1)) * 2, 2L)

  /** How the per-round (dist, cid) argmin key is packed: a plain long when
    * the worst-case distance provably fits (`maxDist·radix + k < 2^63`),
    * DECIMAL(32,0) otherwise. `dim` is the vector dimension for the
    * centroid recompute. */
  private final case class Packing(useLong: Boolean, radix: Long, dim: Int) {
    def packed(dist: Column): Column =
      if (useLong) dist * lit(radix) + col("cid")
      else dist.cast("decimal(20,0)") * lit(TieRadix) + col("cid")
    def unpack(c: Column): Column = c % (if (useLong) radix else TieRadix)
  }

  private object Packing {
    /** The packing for `k` clusters over `dim`-wide vectors whose
      * components differ by at most `span` between a row and a centroid:
      * the worst-case squared L2 is `dim·span²`. */
    def apply(k: Int, dim: Int, span: BigInt): Packing = {
      val radix = radixFor(k)
      Packing(BigInt(dim) * span.pow(2) * radix + k < BigInt(Long.MaxValue),
        radix, dim)
    }

    /** No envelope known (an empty or all-null input): DECIMAL packing. */
    def decimal(k: Int): Packing = Packing(useLong = false, radixFor(k), 0)

    /** From a caller's static `envelopeHint = (dim, spanEmb, spanCent)`.
      * A hint is trusted to skip the stats scans, so a non-positive one
      * fails loudly instead of selecting a packing for nothing. */
    def hinted(k: Int, hint: (Int, Long, Long)): Packing = {
      val (dim, spanEmb, spanCent) = hint
      require(dim > 0 && spanEmb > 0 && spanCent > 0,
        s"envelopeHint needs dim, spanEmb, spanCent > 0; got $hint")
      Packing(k, dim, BigInt(spanEmb) + BigInt(spanCent))
    }
  }

  /** The packing bound from the data, in one cheap stats pass over the
    * cached scaled vectors. */
  private def packing(scaled: DataFrame, k: Int): Packing = {
    val row = scaled
      .select(max(size(col("xs"))), max(expr("array_max(transform(xs, x -> abs(x)))")))
      .first()
    if (row.isNullAt(0) || row.isNullAt(1)) Packing.decimal(k)
    // worst-case squared L2 between any two in-corpus vectors (centroid
    // means never leave the per-dimension [-maxAbs, maxAbs] envelope)
    else Packing(k, row.getInt(0), 2 * BigInt(row.getLong(1)))
  }

  /** Per-round argmin as a TRUE hash aggregate — map-side combinable and
    * sort-free. The naive formulations both sort k× the corpus per round:
    * `row_number().over(Window.partitionBy(id))` plans a WindowExec
    * (shuffle + sort), and `min_by(cid, struct(dist, cid))` falls back to
    * SortAggregate because a struct ordering is not a mutable aggregation-
    * buffer type. Packing (dist, cid) into one fixed-precision value keeps
    * the buffer primitive-mutable, so Spark plans HashAggregateExec: each
    * task reduces its local N×k rows to one per id BEFORE the shuffle, and
    * nothing is sorted. The packing is a plain long whenever the stats-pass
    * bound allows (zero allocation in the hot loop); otherwise
    * DECIMAL(20,0)·radix + cid = DECIMAL(32,0) — exact, still a mutable
    * buffer type. Returns (id, cid). */
  private def assignIds(scaled: DataFrame, cents: DataFrame,
      p: Packing): DataFrame = {
    scaled.crossJoin(broadcast(cents))
      .withColumn("packed", p.packed(VecSqDist.vecSqDistLong(col("xs"), col("cs"))))
      .groupBy(col("id"))
      .agg(min(col("packed")).as("p"))
      .select(col("id"), p.unpack(col("p")).cast("long").as("cid"))
  }

  /** Assignment-only pass against FROZEN per-group integer centroids
    * `(groupCol, cid, cs)` — the persisted-index append/query path
    * ([[Similarity.appendPqIndex]]): new vectors are scaled and argmin'd
    * exactly like [[fitGroupedSampled]]'s closing pass (same integer
    * scaling, packed-min hash aggregate, cid tie-break), so appended
    * codes equal what a build under these centroids would assign. The
    * packing envelope covers BOTH sides (batch vectors and the frozen
    * centroids): a small appended batch must not shrink the overflow
    * bound below what centroids trained on a wider corpus can reach.
    * `envelopeHint = Some((dim, spanEmb, spanCent))` supplies a static
    * upper bound on (vector width, max |component| of the scaled batch,
    * max |component| of the centroids) and skips the two per-call driver
    * stats scans — safe whenever the caller can prove the bound (e.g.
    * unit-normalized slices: every scaled component is ≤ scale, and the
    * frozen centroids are means of such rows). The envelope only selects
    * long vs DECIMAL packing; the assigned codes are identical either
    * way (both orderings are lexicographic in (dist, cid)), and ANSI
    * mode fails loud on overflow if a hint were ever wrong.
    * Returns (groupCol, id, cluster). */
  def assignGroupedFrozen(emb: DataFrame, cents: DataFrame,
      groupCol: String, idCol: String, vecCol: String, k: Int,
      scale: Long = 1000000L,
      envelopeHint: Option[(Int, Long, Long)] = None): DataFrame = {
    require(k > 0 && k < TieRadix, s"need 0 < k < $TieRadix, got $k")
    val scaled = emb.select(col(groupCol), col(idCol).cast("long").as("id"),
      expr(s"transform($vecCol, v -> CAST(round(CAST(v AS DOUBLE) * $scale.0) AS BIGINT))")
        .as("xs"))
    val p = envelopeHint match {
      case Some(hint) => Packing.hinted(k, hint)
      case None =>
        val rowS = scaled.select(max(size(col("xs"))),
          max(expr("array_max(transform(xs, x -> abs(x)))"))).first()
        val rowC = cents.select(max(size(col("cs"))),
          max(expr("array_max(transform(cs, x -> abs(x)))"))).first()
        if (rowS.isNullAt(0) || rowS.isNullAt(1) || rowC.isNullAt(1))
          Packing.decimal(k)
        else Packing(k, math.max(rowS.getInt(0), rowC.getInt(0)),
          BigInt(rowS.getLong(1)) + BigInt(rowC.getLong(1)))
    }
    scaled.join(broadcast(cents), Seq(groupCol))
      .withColumn("packed", p.packed(VecSqDist.vecSqDistLong(col("xs"), col("cs"))))
      .groupBy(col(groupCol), col("id"))
      .agg(min(col("packed")).as("p"))
      .select(col(groupCol), col("id"),
        p.unpack(col("p")).cast("long").as("cluster"))
  }

  /** `iters` rounds of [assign → recompute centroids], then a final
    * assignment under the last centroids. Returns `(id, cluster)` with
    * cluster in 0..k-1 (centroid rank order).
    *
    * The returned frame is `localCheckpoint`ed and therefore PERSISTED:
    * callers own its lifecycle and release it with
    * [[Checkpoints.release]] when done (`unpersist()` cannot see
    * checkpoint blocks — see the ownership contract on [[Checkpoints]]). */
  def assign(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, scale: Long = 1000000L): DataFrame = {
    val (result, centroids) = fit(emb, idCol, vecCol, k, iters, scale)
    Checkpoints.release(centroids)
    result
  }

  /** As [[assign]], but also returns the final codebook: `(assignments,
    * centroids)` where centroids is `(cid, cs)` with `cs` in the SCALED
    * integer space (`round(v * scale)`) — consumers scoring against the
    * codebook (product quantization's ADC tables) must scale their probe
    * vectors identically. BOTH frames are `localCheckpoint`-backed; the
    * caller owns both lifecycles ([[Checkpoints.release]] each). */
  def fit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, scale: Long = 1000000L): (DataFrame, DataFrame) =
    fitImpl(emb, None, idCol, vecCol, k, iters, scale)

  /** As [[fit]], but the Lloyd rounds train on `train` — a deterministic
    * sample of `emb` (same schema) — while the FINAL assignment still
    * covers every `emb` row. At corpus scale the iterative rounds must
    * not rescan 100 TB per iteration: codebook quality saturates at a
    * modest training size (the FAISS rule), so training cost becomes
    * O(sample · iters) and the full corpus is touched exactly once, by
    * the closing assignment pass. Seeds are the k lowest-id TRAINING
    * rows (deterministic given a deterministic sample); `train` must
    * carry at least k rows or the codebook silently shrinks. */
  def fitSampled(emb: DataFrame, train: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int,
      scale: Long = 1000000L): (DataFrame, DataFrame) =
    fitImpl(emb, Some(train), idCol, vecCol, k, iters, scale)

  /** Per-group [[fitSampled]] fused into ONE Lloyd loop: every group's
    * codebook trains inside the same per-round jobs (the centroid join,
    * the argmin aggregate and the mean recompute all carry the group key),
    * so `g` groups cost the same NUMBER of Spark jobs as one. Product
    * quantization's per-block training would otherwise run `g` sequential
    * k-means loops whose job-scheduling + checkpoint overhead dominates
    * when each block's data is small — the round-8 IVF-PQ entry spent its
    * worst reps (>100 s) in exactly that storm. Groups may differ in
    * vector width (ragged PQ blocks): each group's centroids keep their
    * own width (per-dimension sums beyond a group's width aggregate to
    * NULL and are trimmed).
    *
    * `emb` and `train` carry (groupCol, idCol, vecCol); pass `train` `eq`
    * `emb` for full-corpus training. Returns
    * `((groupCol, id, cluster), (groupCol, cid, cs))`, both
    * checkpoint-backed — the caller owns both ([[Checkpoints.release]]). */
  def fitGroupedSampled(emb: DataFrame, train: DataFrame, groupCol: String,
      idCol: String, vecCol: String, k: Int, iters: Int,
      scale: Long = 1000000L,
      envelopeHint: Option[(Int, Long, Long)] = None): (DataFrame, DataFrame) = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got $k, $iters")
    require(k < TieRadix, s"k must be < $TieRadix for the argmin packing")
    // a hint is checked before anything is cached
    val hinted = envelopeHint.map(Packing.hinted(k, _))
    def scaledG(df: DataFrame): DataFrame =
      df.select(col(groupCol), col(idCol).cast("long").as("id"),
        expr(s"transform($vecCol, v -> CAST(round(CAST(v AS DOUBLE) * $scale.0) AS BIGINT))")
          .as("xs"))
    // co-partition on (group, id) once: the per-round argmin aggregate and
    // the assignment re-join both cluster on that pair
    val scaled = scaledG(emb).repartition(col(groupCol), col("id")).cache()
    val sameFrame = train eq emb
    val scaledTrain =
      if (sameFrame) scaled
      else scaledG(train).repartition(col(groupCol), col("id")).cache()
    // ONE packing bound from the all-groups envelope: looser than a
    // per-group bound but still exact (it only selects long vs DECIMAL).
    // `envelopeHint = (dim, spanEmb, spanCent)` supplies the bound
    // statically ([[assignGroupedFrozen]]'s contract: valid whenever the
    // caller can prove |component| bounds for rows AND centroids — e.g.
    // unit-normalized slices) and skips the per-call driver stats scan.
    val p = hinted.getOrElse(packing(scaled, k))
    val seedW = Window.partitionBy(col(groupCol)).orderBy(col("id"))
    var centroids = scaledTrain
      .withColumn("rn", row_number().over(seedW)).filter(col("rn") <= k)
      .select(col(groupCol), (col("rn") - 1).cast("long").as("cid"),
        col("xs").as("cs"))
    var prevCkpt: Option[DataFrame] = None

    def assignG(sc: DataFrame, cents: DataFrame): DataFrame =
      sc.join(broadcast(cents), Seq(groupCol))
        .withColumn("packed", p.packed(VecSqDist.vecSqDistLong(col("xs"), col("cs"))))
        .groupBy(col(groupCol), col("id"))
        .agg(min(col("packed")).as("p"))
        .select(col(groupCol), col("id"),
          p.unpack(col("p")).cast("long").as("cid"))

    for (i <- 0 until iters) {
      val a = scaledTrain
        .join(assignG(scaledTrain, centroids), Seq(groupCol, "id"))
      // p.dim is the WIDEST group's dimension; narrower groups' trailing
      // sums are NULL (try_element_at past the end — plain indexing throws
      // under ANSI) and get trimmed, so each group's centroid keeps its
      // native width
      val sums = (0 until p.dim)
        .map(d => sum(expr(s"try_element_at(xs, ${d + 1})")).as(s"s$d"))
      val meanExprs = (0 until p.dim)
        .map(d => s"CAST(FLOOR(CAST(s$d AS DOUBLE) / n) AS BIGINT)")
        .mkString(", ")
      centroids = a.groupBy(col(groupCol), col("cid"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col(groupCol), col("cid"),
          expr(s"filter(array($meanExprs), x -> x IS NOT NULL)").as("cs"))
      if ((i + 1) % 2 == 0 && i != iters - 1) {
        centroids = centroids.localCheckpoint()
        prevCkpt.foreach(Checkpoints.release)
        prevCkpt = Some(centroids)
      }
    }
    val finalCents = centroids.localCheckpoint()
    val result = assignG(scaled, finalCents)
      .select(col(groupCol), col("id"), col("cid").as("cluster"))
      .localCheckpoint()
    prevCkpt.foreach(Checkpoints.release)
    if (!sameFrame) scaledTrain.unpersist()
    scaled.unpersist()
    (result, finalCents)
  }

  private def fitImpl(emb: DataFrame, train: Option[DataFrame],
      idCol: String, vecCol: String, k: Int, iters: Int,
      scale: Long): (DataFrame, DataFrame) = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got $k, $iters")
    require(k < TieRadix, s"k must be < $TieRadix for the argmin packing")
    // hash-partition on id ONCE and cache: the per-round argmin aggregate's
    // clustering requirement is then already satisfied (no Exchange), and
    // the per-round xs re-join sees both sides co-partitioned on id
    val scaled = scaledVectors(emb, idCol, vecCol, scale)
      .repartition(col("id")).cache()
    val scaledTrain = train match {
      case None => scaled
      case Some(tr) => scaledVectors(tr, idCol, vecCol, scale)
        .repartition(col("id")).cache()
    }

    // packing bound from the FULL corpus envelope: sample-trained centroid
    // means never leave the per-dimension envelope of their training rows,
    // a subset of the corpus', so the bound holds for every (row, centroid)
    // distance the final full-corpus assignment computes
    val p = packing(scaled, k)
    var centroids = seedCentroids(scaledTrain, k)
    var prevCkpt: Option[DataFrame] = None

    for (i <- 0 until iters) {
      // centroid recompute needs each row's xs next to its assigned cid:
      // re-join the (id, cid) argmin result with the cached co-partitioned
      // vectors — shuffle-free on both sides (same hashpartitioning(id))
      val a = scaledTrain.join(assignIds(scaledTrain, centroids, p), "id")
      // integer centroid mean with FLOOR semantics: Spark's `div` AND
      // DuckDB's `//` both truncate toward zero, which differs on negative
      // sums (round-10 finding: -7//2 = -3 in DuckDB), so BOTH sides take
      // the floor through an exact double division (|sum| ≪ 2^52 and
      // a non-integral quotient is ≥ 1/n away from an integer — no
      // boundary-crossing rounding is possible). One dim-wide hash
      // aggregate: k rows of dim+1 longs through the shuffle — no
      // posexplode (which pushed N·dim rows into the aggregate) and no
      // collect_list sort on the reduce side.
      val sums = (0 until p.dim).map(d => sum(expr(s"xs[$d]")).as(s"s$d"))
      centroids = a.groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("cid"), array((0 until p.dim).map(d =>
          expr(s"CAST(FLOOR(CAST(s$d AS DOUBLE) / n) AS BIGINT)")): _*).as("cs"))
      // truncate lineage every couple of rounds: each level nests a
      // crossJoin + two aggregations, and unchecked nesting blows up driver
      // planning time (the centroid frame is k rows — the checkpoint is
      // cheap); the superseded checkpoint is released once the next one
      // materializes so long loops don't pin dead centroid copies
      if ((i + 1) % 2 == 0 && i != iters - 1) {
        centroids = centroids.localCheckpoint()
        prevCkpt.foreach(Checkpoints.release)
        prevCkpt = Some(centroids)
      }
    }
    // checkpoint the final codebook BEFORE releasing the superseded
    // intermediate (k rows — cheap), so the returned frame never references
    // released blocks
    val finalCents = centroids.localCheckpoint()
    val result = assignIds(scaled, finalCents, p)
      .select(col("id"), col("cid").as("cluster"))
      .localCheckpoint()
    // both result checkpoints are materialized — the last intermediate
    // centroid checkpoint (if any) is now dead
    prevCkpt.foreach(Checkpoints.release)
    if (!(scaledTrain eq scaled)) scaledTrain.unpersist()
    scaled.unpersist()
    (result, finalCents)
  }

  /** Simplified (centroid-based) silhouette per cluster — the clustering
    * quality readout: for each vector, a = squared distance to its OWN
    * centroid, b = min squared distance to any OTHER centroid,
    * s = (b−a)/max(a,b) ∈ [−1, 1]. The full silhouette's per-pair mean
    * distances are O(N²); the centroid form is the standard large-N
    * surrogate and needs exactly ONE broadcast of the k-row codebook and
    * one map-side-combinable aggregate over the N×k expansion — the same
    * plan shape as the assignment round itself, corpus-linear.
    *
    * Determinism: distances are exact integer squared-L2 in the scaled
    * space; s is integerized per ROW (round(1e6·(b−a)/max(a,b)) — one
    * IEEE division on exact inputs) and the per-cluster mean divides two
    * exact longs once. A vector equidistant-at-zero (on top of two
    * centroids) defines s = 0 — both engines would otherwise diverge on
    * 0/0. Output: (cluster, n, mean_sil_micro); near-zero means flag
    * overlapping clusters, negative means misassignment.
    */
  def silhouette(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, scale: Long = 1000000L): DataFrame = {
    val (asg, cents) = fit(emb, idCol, vecCol, k, iters, scale)
    val scaled = scaledVectors(emb, idCol, vecCol, scale)
    val dist = VecSqDist.vecSqDistLong(col("xs"), col("cs"))
    val perVec = scaled.join(asg, Seq("id"))
      .crossJoin(broadcast(cents))
      .groupBy(col("id"))
      .agg(max(when(col("cid") === col("cluster"), dist)).as("da"),
        min(when(col("cid") =!= col("cluster"), dist)).as("db"),
        max(col("cluster")).as("cluster"))
    val out = perVec
      .withColumn("sm", expr(
        """CASE WHEN greatest(da, db) = 0 THEN 0L
          |ELSE CAST(round(1000000.0 * CAST(db - da AS DOUBLE)
          |  / CAST(greatest(da, db) AS DOUBLE)) AS BIGINT) END"""
          .stripMargin))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("sm")).as("ssm"))
      .select(col("cluster"), col("n"),
        expr("CAST(round(CAST(ssm AS DOUBLE) / n) AS BIGINT)")
          .as("mean_sil_micro"))
      .persist()
    out.count()
    Checkpoints.release(asg)
    Checkpoints.release(cents)
    out
  }
}
