package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs._
import graft.functions.VecDot.vecDot
import graft.queries.Tables.spread

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  *  - `bruteForceTopK`: exact cosine top-k of every query against the full
  *    corpus. The corpus side is broadcast when small; the general shape is a
  *    cartesian per query — correctness baseline only.
  *  - `rpLshTopK`: the scale path. A random-hyperplane bucket id (sign bits
  *    of `numPlanes` fixed projections) is computed per vector; the search
  *    joins only within equal buckets, collapsing the cartesian to
  *    per-bucket blocks (expected corpus/2^planes per bucket). Bucket
  *    hyperplanes are deterministic integer-arithmetic constructions, so the
  *    whole operator is oracle-checkable — recall vs brute force is measured
  *    in tests, not assumed.
  *
  * Cosine is a sequential IEEE fold (see [[graft.functions.VectorExprs]]):
  * bit-identical across engines, so rank ordering never diverges.
  */
object Similarity {

  import Checkpoints.finalized

  /** Exact top-k: for each row of `queries`, the k nearest corpus rows by
    * cosine (excluding self-matches by id), ranked desc with id tiebreak.
    *
    * `broadcastCorpus` forces the hint only when the caller KNOWS the corpus
    * fits in memory; the default lets AQE / autoBroadcastJoinThreshold pick,
    * degrading to a shuffled nested-loop instead of an OOM on a big corpus. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, broadcastCorpus: Boolean = false): DataFrame = {
    // norms are hoisted to one computation per VECTOR (not per pair);
    // cos = dot/(nrm_a*nrm_b) is the identical IEEE op sequence
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("qn"))
    // broadcast path: ALL the O(|queries|·|corpus|) scoring happens on the
    // query side's partitions — a small-file scan delivers ONE task and
    // the whole score matrix runs serial (measured: sim_mnn spent 3.2 of
    // 3.9 s in that single task). Spread an under-partitioned query side
    // to the configured shuffle parallelism; the exchange moves |queries|
    // rows once, strictly dominated by the pairwise compute at any scale.
    val q = if (broadcastCorpus) spread(q0) else q0
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    q.join(if (broadcastCorpus) broadcast(c) else c,
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Mutual nearest neighbors: pairs where each vector sits in the
    * OTHER's top-k — the alignment/anchor-mining primitive (parallel-
    * corpus pair mining, cross-snapshot entity matching, MNN batch
    * correction): a one-directional top-k match can be a hub artifact
    * (one popular vector absorbs everyone), mutuality filters hubs out
    * by construction. One top-k pass over the corpus
    * ([[bruteForceTopK]] here; swap any ANN top-k with the same schema
    * for the corpus-scale path) + ONE self-join of the k·N candidate
    * list on the reversed pair — never touches raw vectors again. The
    * cosine is symmetric (the shared fold reads the component pairs in
    * the same order from either side), so both directions carry the
    * identical rounded score. Output: (id_a, id_b, cos), id_a < id_b. */
  def mutualTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      broadcastCorpus: Boolean = false): DataFrame =
    mutualPairs(bruteForceTopK(emb, emb, idCol, vecCol, k, broadcastCorpus))

  /** The mutuality join alone, over ANY `(query_id, neighbor_id, cos)`
    * top-k frame — the schema contract every top-k producer in this file
    * shares ([[bruteForceTopK]], [[rpLshTopK]], [[ivfTopK]],
    * [[queryIvfIndex]], [[queryPqIndex]]). ONE self-join of the k·N
    * candidate list on the reversed pair; never touches raw vectors. The
    * cosine is symmetric (both directions carry the identical rounded
    * score), so either side's `cos` is THE pair score. */
  def mutualPairs(topk: DataFrame): DataFrame = {
    val tk = topk.select(col("query_id"), col("neighbor_id"), col("cos"))
    tk.as("f")
      .join(tk.select(col("query_id").as("neighbor_id"),
        col("neighbor_id").as("query_id")).as("r"),
        Seq("query_id", "neighbor_id"))
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos"))
  }

  /** Index-backed mutual nearest neighbors — the corpus-scale path the
    * [[mutualTopK]] scaladoc promises: top-k comes from the PERSISTED IVF
    * index ([[queryIvfIndex]] — seeds + probed cells only, never the N×N
    * score matrix), then [[mutualPairs]] runs the same reversed-pair
    * join. Cost: |corpus|·(nprobe/nCells) candidate scoring + one k·N
    * self-join — at 10⁹ vectors the exact path's N² is unrunnable while
    * this stays probe-bounded; recall follows the one-directional index
    * recall squared (BOTH directions must surface the pair), so size
    * nprobe one notch higher than a plain top-k query would. */
  def mutualTopKIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 2): DataFrame =
    mutualPairs(queryIvfIndex(spark, dir, emb, idCol, vecCol, k, nprobe))

  /** Vectors annotated with their random-projection LSH bucket. */
  def withBucket(emb: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dim: Int): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      expr(sparkRpBucket(vecCol, numPlanes, dim)).as("bucket"))

  /** ANN top-k searching only within the query's LSH bucket(s).
    *
    * `tables` independent hash tables (disjoint plane sets) trade compute
    * for recall the standard way: a candidate pair only needs to collide in
    * ONE table. Each table is a separate equi-join on its bucket id (shuffle
    * hash join — never a cartesian), unioned and deduplicated before
    * scoring, so the plan stays shuffle-bounded at any corpus size. */
  def rpLshTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      numPlanes: Int = 0, dim: Int = 64, tables: Int = 1,
      knownCount: Long = 0L): DataFrame = {
    // numPlanes = 0 → auto-size so the expected bucket holds ~64 vectors
    // (planes ~ log2(N/64)): a FIXED plane count lets bucket sizes — and the
    // within-bucket join — grow linearly with the corpus, i.e. quadratic
    // total work. More planes trade recall for compute exactly like a
    // larger IVF nlist; multi-table search buys the recall back.
    // `knownCount` skips the sizing pass — at scale, pass the row count
    // from catalog/file statistics instead of paying a full scan here
    val planes =
      if (numPlanes > 0) numPlanes
      else {
        val n = if (knownCount > 0) knownCount else emb.count()
        math.min(24, math.max(4,
          math.ceil(math.log(n.toDouble / 64) / math.log(2)).toInt))
      }
    // spread: the bucket HOFs and pairwise scoring are per-row expensive
    val e = spread(
      emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")))
    // persist: bucket ids are consumed by `tables` self-joins, and the
    // materialization barrier keeps the optimizer from inlining the bucket
    // HOF chains into pushed-down isnotnull filters (see Dedup.materialized)
    val withBuckets = (0 until tables).foldLeft(e) { (df, t) =>
      // table t uses planes [t*planes, (t+1)*planes): offset the plane
      // index by passing a shifted plane range through the bucket expr
      df.withColumn(s"bucket_$t",
        expr(sparkRpBucketOffset("v", planes, dim, t * planes)))
    }.persist()
    // Vectors + norms ride the bucket join itself — no post-hoc id→vector
    // joins. With a single table a pair meets in at most one bucket, so the
    // scored pairs are already distinct; multi-table candidates dedup on the
    // (cheap) id pair before scoring.
    def table(t: Int): DataFrame =
      withBuckets.select(col("id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col(s"bucket_$t").as("bk"))
        .join(withBuckets.select(col("id").as("neighbor_id"), col("v").as("cv"),
          col("nrm").as("cn"), col(s"bucket_$t").as("bk2")),
          col("bk") === col("bk2") && col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val scored =
      if (tables == 1)
        table(0)
          .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      else {
        val candidates = (0 until tables).map(t =>
          table(t).select(col("query_id"), col("neighbor_id"))).reduce(_ unionByName _)
          .distinct()
        candidates
          .join(withBuckets.select(col("id"), col("v").as("qv"), col("nrm").as("qn")),
            col("query_id") === col("id")).drop("id")
          .join(withBuckets.select(col("id"), col("v").as("cv"), col("nrm").as("cn")),
            col("neighbor_id") === col("id")).drop("id")
          .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      }
    finalized(scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cos"), 6).as("cos")), withBuckets)
  }

  /** IVF-style ANN: a coarse quantizer assigns every vector to the cell of
    * its nearest seed vector (the `nCells` SMALLEST ids serve as seeds — a
    * deterministic, averaging-free quantizer, so every step stays bit-exact
    * against the oracle; classic k-means centroids would inject
    * summation-order float noise). Rank-based seed selection works for any
    * id domain — sparse, hashed or negative ids still yield exactly
    * `nCells` seeds, where a naive `id < nCells` filter would silently
    * under-seed (worst case zero seeds → empty result). Search compares
    * queries only against vectors in the same cell.
    *
    * Scale shape: assignment is a broadcast join against `nCells` seeds
    * (seeds are tiny by construction); search is an equi-join on cell id —
    * both shuffle-bounded, no cartesian. Recall improves with more probes
    * (assign to top-`nprobe` cells instead of 1) exactly like FAISS IVF;
    * here the probe count is the assignment rank cutoff.
    *
    * `trainedSeeds = true` swaps the rank quantizer for integer-k-means
    * centroids ([[KMeans.fitSampled]] over a deterministic `trainMaxRows`
    * hash sample, 2 Lloyd rounds): on CLUSTERED real embeddings,
    * arbitrary-row seeds can land several seeds in one natural cluster
    * and none in another, so cell populations skew and recall@nprobe
    * sags — trained centroids track the density. Still fully
    * deterministic (integer codebook, exact scaling back to float), but
    * not rank-seed-compatible, so the oracle-parity entries keep the
    * default; recall parity is asserted in the suite. Cells whose
    * cluster empties during training drop out (the codebook-shrink
    * contract of [[KMeans]]); zero-norm centroids are filtered before
    * the cosine probe. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int = 0, nprobe: Int = 1, knownCount: Long = 0L,
      trainedSeeds: Boolean = false, trainMaxRows: Long = 4096L): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"))
    // nCells = 0 → auto-size to ~sqrt(N) (the standard IVF nlist rule):
    // fixed cell COUNT makes cell SIZE grow linearly and per-cell scoring
    // quadratic in the corpus; sqrt keeps candidates/query ~ sqrt(N)*nprobe
    // `knownCount` skips the sizing pass (see rpLshTopK)
    lazy val n = if (knownCount > 0) knownCount else emb.count()
    val cells =
      if (nCells > 0) nCells
      else math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    // top-k by id, not a filter: planned as TakeOrderedAndProject (per-
    // partition heap + driver merge of `cells` rows — no global sort); the
    // result is broadcast below anyway, so the √N-row collect is free
    val (seeds, seedCkpts) =
      if (!trainedSeeds)
        (e.orderBy(col("id")).limit(cells)
          .select(col("id").as("cell"), col("v").as("sv"), col("nrm").as("sn")),
          Seq.empty[DataFrame])
      else {
        val corpus = e.select(col("id"), col("v"))
        val train = trainingSample(corpus, "id", n, trainMaxRows, cells)
        // fit over the SAMPLE only — the quantizer needs centroids, not
        // assignments; the op below does its own (cosine) cell assignment
        // against the seeds, so fitSampled's full-corpus closing pass
        // would be a wasted corpus scan
        val (asg, cents) = KMeans.fit(train, "id", "v", cells, iters = 2)
        Checkpoints.release(asg)
        // centroids back to float space at the EXACT training scale; the
        // checkpoint pins the tiny (≤ cells)-row frame so the broadcast
        // below never replays the Lloyd loop
        val s = cents.select(col("cid").as("cell"),
            expr("transform(cs, x -> CAST(CAST(x AS DOUBLE) / 1000000.0 AS FLOAT))")
              .as("sv"))
          .withColumn("sn", sqrt(vecDot(col("sv"), col("sv"))))
          .filter(col("sn") > 0d)
          .localCheckpoint()
        Checkpoints.release(cents)
        (s, Seq(s))
      }
    val aw = Window.partitionBy(col("id"))
      .orderBy(col("scos").desc, col("cell").asc)
    // queries probe their top-nprobe cells, corpus vectors index into their
    // single best cell (standard IVF asymmetry). Vectors + norms ride the
    // assignment so the cell join scores directly — no id→vector re-joins.
    val assign = e.crossJoin(broadcast(seeds))
      .withColumn("scos", vecDot(col("v"), col("sv")) / (col("nrm") * col("sn")))
      .withColumn("arank", row_number().over(aw))
      .select(col("id"), col("v"), col("nrm"), col("cell"), col("arank"))
      .persist()
    // a pair (q, n) meets in exactly one bucket — n indexes into its single
    // best cell — so the cell join needs no distinct even under multi-probe
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val out = finalized(assign.filter(col("arank") <= nprobe)
      .select(col("id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("cell"))
      .join(assign.filter(col("arank") === 1)
        .select(col("id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"), col("cell")),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cos"), 6).as("cos")), assign)
    seedCkpts.foreach(Checkpoints.release)
    out
  }

  /** One side of a block pair: every (id, vector, norm) in the block,
    * transposed to primitive arrays so the kernel loop never boxes.
    * (Not `private`: the deserializer is codegen'd in Catalyst's package and
    * needs constructor access.) */
  final case class VecBlock(bi: Int, bj: Int, side: Int,
      ids: Array[Long], vecs: Array[Array[Float]], nrms: Array[Double])

  /** Near-duplicate pairs by embedding cosine >= threshold (rounded to 4
    * decimals so the compare sits on an exact grid; the data's nearest pair
    * to the default 0.45 threshold is 5.5e-4 away).
    *
    * Exact all-pairs is inherently O(n²) compute. The DISTRIBUTION is a
    * block decomposition: rows hash into `blocks` buckets, every unordered
    * block pair becomes one equi-join key, so the cartesian spreads over
    * `blocks*(blocks+1)/2` tasks with ~`blocks/2`-x row replication and no
    * full-corpus broadcast — the shape that survives a 1000-executor
    * scale-up (`blocks` scales so a block pair fits an executor's memory).
    * The COMPUTE per block pair is a tight primitive-array kernel
    * (`mapPartitions`-class imperative code, the GEMM analog): materializing
    * 2M joined rows of 2x64 floats through UnsafeRow costs more than the
    * dot products themselves, so each task loops over two decoded float
    * blocks and emits only qualifying pairs. Same integer/IEEE op sequence
    * as the expression form — oracle-exact.
    */
  def cosineNearDups(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.45, blocks: Int = 8): DataFrame = {
    val spark0 = emb.sparkSession
    import spark0.implicits._
    val idType = emb.schema(idCol).dataType
    require(graft.operators.Dedup.integralType(idType),
      s"cosineNearDups requires an integral id column, got $idType " +
        "(ids travel through the block kernel as longs)")
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"))
      .withColumn("blk", pmod(col("id"), lit(blocks)).cast("int"))
    // per-block packed vectors (one grouped row per block)
    val packed = e.groupBy(col("blk"))
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("items"))
      .select(col("blk"),
        expr("transform(items, x -> x.id)").as("ids"),
        expr("transform(items, x -> x.v)").as("vecs"),
        expr("transform(items, x -> x.nrm)").as("nrms"))
    // left emits (blk, j) for j in [blk, blocks); right emits (i, blk) for
    // i in [0, blk] — pair (p, q<=p swapped) meets in bucket (min, max) once
    val lhs = packed.select(col("blk").as("bi"),
      explode(sequence(col("blk"), lit(blocks - 1))).as("bj"),
      lit(0).as("side"), col("ids"), col("vecs"), col("nrms"))
    val rhs = packed.select(
      explode(sequence(lit(0), col("blk"))).as("bi"), col("blk").as("bj"),
      lit(1).as("side"), col("ids"), col("vecs"), col("nrms"))
    val pairsLong = lhs.unionByName(rhs).as[VecBlock]
      .groupByKey(b => (b.bi, b.bj))
      .flatMapGroups { (key: (Int, Int), it: Iterator[VecBlock]) =>
        val (bi, bj) = key
        val sides = it.toArray.sortBy(_.side)
        // an off-diagonal bucket with one side missing (empty block) has no
        // cross pairs; a nonempty diagonal bucket always carries both rows
        if (sides.length < 2 && bi != bj) Iterator.empty
        else {
        val a = sides.head
        val b = if (sides.length > 1) sides(1) else a
        val out = Seq.newBuilder[(Long, Long)]
        var i = 0
        while (i < a.ids.length) {
          val av = a.vecs(i); val an = a.nrms(i); val aid = a.ids(i)
          var j = 0
          while (j < b.ids.length) {
            val bid = b.ids(j)
            // diagonal buckets see both arrangements of a pair — keep one
            if (if (bi == bj) aid < bid else aid != bid) {
              val bv = b.vecs(j)
              var acc = 0.0
              var k = 0
              val n = math.min(av.length, bv.length)
              while (k < n) {
                acc += av(k).toDouble * bv(k).toDouble
                k += 1
              }
              // same rounding as the SQL form: HALF_UP on BigDecimal
              val cos = BigDecimal(acc / (an * b.nrms(j)))
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
              if (cos >= threshold)
                out += ((math.min(aid, bid), math.max(aid, bid)))
            }
            j += 1
          }
          i += 1
        }
        out.result().iterator
        }
      }
      .toDF("id_a", "id_b")
    pairsLong.select(col("id_a").cast(idType), col("id_b").cast(idType))
  }

  /** Near-duplicate pairs by embedding cosine — the SUBQUADRATIC scale
    * path, composing [[rpLshTopK]]'s banded random-projection bucketing
    * (candidate generation) with [[cosineNearDups]]'s exact scoring
    * (verification). Pairs that collide in at least one of `tables`
    * disjoint plane bands become candidates; every candidate is scored
    * with the exact cosine on the same HALF_UP(4) grid as the all-pairs
    * kernel, so PRECISION IS ALWAYS 1 — the output is a subset of
    * [[cosineNearDups]]'s, never a superset. RECALL is the standard
    * banded-LSH collision probability `1 - (1 - p^planes)^tables` with
    * `p = 1 - acos(cos)/pi` per plane: true near-dups (cos >= ~0.8)
    * collide almost surely at the auto-sized plane count; pairs sitting
    * AT a low threshold need explicit `numPlanes`/`tables` tuned for it
    * (measured against the exact kernel in the suite, not assumed).
    *
    * Scale shape: `planes` auto-sizes to keep the expected bucket ~64
    * vectors, so candidates grow LINEARLY with the corpus (~32·tables·N
    * pairs) where the exact kernel's pair space grows quadratically; the
    * per-table joins are equi-joins on the band id, candidates dedup on
    * the id pair before the (broadcastable-side-free) verify joins. This
    * is the pair generator to feed [[graft.operators.Dedup
    * .connectedComponents]] for semantic dedup at 100 TB. */
  def cosineNearDupsLsh(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.45, numPlanes: Int = 0, dim: Int = 64,
      tables: Int = 8, knownCount: Long = 0L): DataFrame = {
    val idType = emb.schema(idCol).dataType
    require(graft.operators.Dedup.integralType(idType),
      s"cosineNearDupsLsh requires an integral id column, got $idType")
    require(tables > 0, "need at least one hash table")
    val planes =
      if (numPlanes > 0) numPlanes
      else {
        val n = if (knownCount > 0) knownCount else emb.count()
        math.min(24, math.max(2,
          math.ceil(math.log(n.toDouble / 64) / math.log(2)).toInt))
      }
    val e = spread(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm")))
    // persist: band ids feed `tables` self-joins plus two verify joins
    // (and the materialization barrier keeps the HOF bucket chains out of
    // pushed-down filters — see rpLshTopK)
    val withBuckets = (0 until tables).foldLeft(e) { (df, t) =>
      df.withColumn(s"bucket_$t",
        expr(sparkRpBucketOffset("v", planes, dim, t * planes)))
    }.persist()
    // candidates: unordered id pairs colliding in >= 1 band. `<` halves
    // the pair space in the join itself; the distinct collapses pairs that
    // met in several bands before the exact scoring pays for them.
    val cands = (0 until tables).map { t =>
        withBuckets.select(col("id").as("id_a"), col(s"bucket_$t").as("bk"))
          .join(withBuckets.select(col("id").as("id_b"),
            col(s"bucket_$t").as("bk2")),
            col("bk") === col("bk2") && col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
      }.reduce(_ unionByName _).distinct()
    // exact verify on the same rounding grid as the all-pairs kernel
    // (Spark round = HALF_UP, matching the kernel's BigDecimal setScale)
    val verified = cands
      .join(withBuckets.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(withBuckets.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .filter(round(vecDot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
        >= threshold)
      .select(col("id_a").cast(idType), col("id_b").cast(idType))
    finalized(verified, withBuckets)
  }

  /** Dimension-block boundaries for product quantization: `subspaces + 1`
    * cut points over a `dim`-wide vector (block b = [bounds(b), bounds(b+1))). */
  private def sliceBounds(dim: Int, subspaces: Int): Seq[Int] =
    (0 to subspaces).map(b => b * dim / subspaces)

  /** Unit-normalized block slice: (id, vb) with vb = v[start..end) / |v| —
    * the representation PQ codebooks train and score on (unit vectors make
    * squared-L2 order equal cosine order). */
  private def normSlice(df: DataFrame, idCol: String, vecCol: String,
      bounds: Seq[Int], b: Int): DataFrame = {
    val start = bounds(b) + 1 // slice() is 1-based
    val len = bounds(b + 1) - bounds(b)
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"))
      .select(col("id"),
        expr(s"transform(slice(v, $start, $len), x -> CAST(x AS DOUBLE) / nrm)")
          .as("vb"))
  }

  /** Every [[normSlice]] block of every row in ONE scan: (id, block, vb)
    * via a single posexplode of the array-of-slices. The previous shape —
    * a `subspaces`-way unionByName of per-block normSlice branches — read
    * the input (and recomputed the norm) once PER BLOCK and carried a
    * plan `subspaces`× as wide through the analyzer/optimizer; the rows
    * are identical (block = array position), and every consumer
    * aggregates or joins on (block, id), so row order never mattered. */
  private def explodedSlices(df: DataFrame, idCol: String, vecCol: String,
      bounds: Seq[Int]): DataFrame = {
    val slices = (0 until bounds.size - 1).map { b =>
      val start = bounds(b) + 1 // slice() is 1-based
      val len = bounds(b + 1) - bounds(b)
      expr(s"transform(slice(v, $start, $len), x -> CAST(x AS DOUBLE) / nrm)")
    }
    df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"))
      .select(col("id"), posexplode(array(slices: _*)).as(Seq("block", "vb")))
  }

  /** Deterministic content-hash training sample of ~`maxRows` rows: keep
    * rows whose `xxhash64(id)` lands in the first `ceil(M·maxRows/n)` of
    * M buckets — the same rows regardless of partitioning, task order or
    * cluster size (a `sample()` would be seed- and split-dependent).
    * Degenerates to the full frame when `maxRows` already covers the
    * corpus or is unset (<= 0). The count is binomial around `maxRows`
    * (concentration makes large deviations vanish at any size worth
    * sampling); `minRows` guards the k-means contract — a codebook needs
    * at least k training rows. */
  private def trainingSample(corpus: DataFrame, idCol: String, n: Long,
      maxRows: Long, minRows: Int): DataFrame =
    if (maxRows <= 0 || n <= maxRows) corpus
    else {
      require(maxRows >= math.max(minRows, 64),
        s"trainMaxRows ($maxRows) too small to train a $minRows-code codebook")
      val m = 1L << 20
      val thresh = (m * maxRows + n - 1) / n
      corpus.filter(pmod(xxhash64(col(idCol)), lit(m)) < lit(thresh))
    }

  /** Integer k-means per dimension block over `train` (== `corpus` for
    * full-corpus training), codes assigned for every `corpus` row. All
    * blocks train in ONE fused Lloyd loop ([[KMeans.fitGroupedSampled]]
    * over the block-exploded frame): 8 sequential per-block fits were a
    * job storm — 8× the driver-synchronized rounds, checkpoints and stats
    * passes for the same total data. Returns
    * (codes(id, block, code), codebook(block, code, cs), checkpoint-backed
    * frames to release after the result materializes). */
  private def fitBlocks(corpus: DataFrame, train: DataFrame, idCol: String,
      vecCol: String, bounds: Seq[Int], codebook: Int, iters: Int,
      scale: Long): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val full = explodedSlices(corpus, idCol, vecCol, bounds)
    val trainE =
      if (train eq corpus) full
      else explodedSlices(train, idCol, vecCol, bounds)
    // static packing envelope (assignGroupedFrozen's append-path argument,
    // applied at build): slices are unit-normalized (grid |xs| <= scale)
    // and centroids are floor-means of such rows, so (width, scale, scale)
    // bounds every distance — skips the per-build packing stats scan
    val width = (1 until bounds.size).map(b => bounds(b) - bounds(b - 1)).max
    val (asg, cents) = KMeans.fitGroupedSampled(full, trainE, "block",
      "id", "vb", codebook, iters, scale,
      envelopeHint = Some((width, scale, scale)))
    (asg.select(col("id"), col("block"), col("cluster").as("code")),
      cents.select(col("block"), col("cid").as("code"), col("cs")),
      Seq(asg, cents))
  }

  /** ADC tables: query block slices scaled EXACTLY like the codebook
    * training data, partial sqdist against every (block, code) centroid —
    * a (queries x subspaces x codebook)-row table, joined on the block
    * key and broadcast, so ADC scoring joins are shuffle-free. */
  private def adcTable(queries: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, bounds: Seq[Int], scale: Long): DataFrame =
    explodedSlices(queries, idCol, vecCol, bounds)
      .select(col("id").as("query_id"), col("block"),
        expr(s"transform(vb, x -> CAST(round(x * $scale.0) AS BIGINT))")
          .as("xs"))
      .join(broadcast(cents), Seq("block"))
      .select(col("query_id"), col("block"), col("code"),
        graft.functions.VecSqDist.vecSqDistLong(col("xs"), col("cs")).as("pd"))

  /** Product-quantization ANN top-k (the compression half of IVF-PQ, with
    * asymmetric-distance scoring).
    *
    * The memory-bounded ANN path: when the corpus no longer fits as raw
    * floats, each vector is compressed to `subspaces` small codes — one
    * deterministic integer k-means ([[KMeans.fit]]) per dimension block,
    * over UNIT-NORMALIZED vectors so squared-L2 order equals cosine order
    * and ranks are comparable to [[bruteForceTopK]]'s. Queries never touch
    * corpus vectors at scoring time: one (query x subspaces x codebook)
    * partial-distance table is broadcast against the codes table and summed
    * per (query, vector) — |corpus| x subspaces lookup-adds on codes
    * instead of |corpus| x dim float multiplies on raw vectors, and the
    * only exchange is the map-side-combinable sum. Storage per vector is
    * `subspaces` byte-sized codes vs `4 x dim` float bytes (32x at
    * dim=64, m=8).
    *
    * Returns (query_id, neighbor_id, rank), ranks approximate —
    * recall-tested against the exact scorer in the suite. Deterministic:
    * codebook training, code assignment, and tie-breaks are all
    * integer-exact.
    *
    * `trainMaxRows > 0` trains each codebook on a deterministic
    * content-hash sample of ~that many corpus rows ([[trainingSample]])
    * instead of the full corpus — at 100 TB the `iters` Lloyd rounds
    * must not each rescan the corpus; code ASSIGNMENT is always
    * full-corpus. 0 (the default) keeps full-corpus training. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, subspaces: Int = 8, codebook: Int = 16,
      iters: Int = 2, scale: Long = 1000000L,
      trainMaxRows: Long = 0L): DataFrame = {
    val statsRow = corpus
      .select(max(size(col(vecCol))), count(lit(1))).collect()(0)
    require(!statsRow.isNullAt(0),
      s"pqTopK: corpus is empty or $vecCol is all-null — no dimension to derive")
    val dim = statsRow.getInt(0)
    require(subspaces > 0 && subspaces <= dim,
      s"need 0 < subspaces <= dim; got $subspaces over dim $dim")
    val bounds = sliceBounds(dim, subspaces)
    val train = trainingSample(corpus, idCol, statsRow.getLong(1),
      trainMaxRows, codebook)

    // per-block codebook + corpus codes (both checkpoint-backed, released
    // after the result materializes)
    val (codes, cents, fittedCkpts) = fitBlocks(corpus, train, idCol,
      vecCol, bounds, codebook, iters, scale)
    val table = adcTable(queries, cents, idCol, vecCol, bounds, scale)

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val result = codes
      .join(broadcast(table), Seq("block", "code"))
      .filter(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("pd")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))

    val out = result.persist()
    out.count()
    fittedCkpts.foreach(Checkpoints.release)
    out
  }

  /** PQ candidate generation + exact re-rank — the full production ANN
    * shape (FAISS-style IVF-PQ + refine): [[pqTopK]] proposes
    * `candidates` neighbors per query from compressed codes, then ONLY
    * those `queries x candidates` rows are scored against their raw
    * vectors and the exact top-`k` kept. The expensive exact scoring is
    * bounded by the candidate list, never |corpus|, while recall is set
    * by `candidates` (on near-random synthetic vectors — the hardest
    * case, distances concentrate — ADC@100 over a 500-vector corpus
    * contains 82% of the exact top-10; clustered real corpora do far
    * better at far smaller ratios). Output schema matches
    * [[bruteForceTopK]]: (query_id, neighbor_id, rank, cos). */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, candidates: Int = 0, subspaces: Int = 8,
      codebook: Int = 16, iters: Int = 2, scale: Long = 1000000L,
      trainMaxRows: Long = 0L): DataFrame = {
    val r = if (candidates > 0) candidates else 8 * k
    require(r >= k, s"candidate list ($r) must cover k ($k)")
    exactRerank(pqTopK(queries, corpus, idCol, vecCol, r, subspaces,
      codebook, iters, scale, trainMaxRows), queries, corpus, idCol,
      vecCol, k)
  }

  /** Exact-cosine re-rank of an ANN candidate list (query_id, neighbor_id,
    * ...): only the candidate rows are scored against raw vectors — cost
    * bounded by the list, never |corpus|. `cand` must be persisted (it is
    * released here after the result materializes). Output schema matches
    * [[bruteForceTopK]]: (query_id, neighbor_id, rank, cos). */
  private def exactRerank(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("qn"))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    finalized(cand
      .join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .withColumn("cos", vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos")),
      cand)
  }

  /** IVF×PQ composed ANN index — the standard production shape (FAISS
    * IVFPQ): an IVF coarse quantizer prunes the corpus to each query's
    * `nprobe` nearest cells, and ONLY the PQ codes inside those cells are
    * ADC-scored against the query's per-block distance table.
    * [[ivfTopK]] prunes cells but scores raw floats; [[pqTopK]] scores
    * compressed codes but ALL of them per query — this is the product of
    * the two shipped halves: rows scored per query drop from |corpus| to
    * ~`nprobe·N/nCells` (≈ `nprobe·√N` at the auto cell count), and each
    * scored row touches `subspaces` byte codes, not `dim` floats.
    *
    * Scale shape: the seed set (√N rows) and the query-side probe and ADC
    * tables (Q-bounded) ride broadcasts, so candidate generation and
    * scoring are shuffle-free up to the final map-side-combinable ADC
    * sum; corpus-side work is the cell argmin (one crossJoin against
    * broadcast seeds), the per-block codebook assignment, and ONE
    * id-keyed join gluing codes to cells. Codebooks train on a
    * deterministic hash sample when `trainMaxRows` is set; cell and code
    * ASSIGNMENT always cover the full corpus.
    *
    * Same determinism contract as [[pqTopK]] (integer codebooks + ADC,
    * id tie-breaks); cell probing uses the same cosine/row_number shape
    * as [[ivfTopK]]. Output: (query_id, neighbor_id, rank), approximate;
    * recall and scored-row fraction are measured against [[pqTopK]] and
    * [[bruteForceTopK]] in the suite. */
  def ivfPqTopK(queriesIn: DataFrame, corpusIn: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 0, nprobe: Int = 4,
      subspaces: Int = 8, codebook: Int = 16, iters: Int = 2,
      scale: Long = 1000000L, knownCount: Long = 0L,
      trainMaxRows: Long = 0L): DataFrame = {
    // (id, vec) projections persisted ONCE: the index build reads the
    // corpus from 10+ consumers (seeds, cell argmin, 8 per-block slice
    // arms, training sample) and the query side from nprobe + subspaces
    // arms — without the cache each consumer re-scans and re-decodes the
    // source (measured: the ADC broadcast build alone re-scanned the
    // corpus 8x single-threaded). Both released before returning.
    val corpus = corpusIn.select(col(idCol), col(vecCol)).persist()
    val queries = queriesIn.select(col(idCol), col(vecCol)).persist()
    val statsRow = corpus
      .select(max(size(col(vecCol))), count(lit(1))).collect()(0)
    require(!statsRow.isNullAt(0),
      s"ivfPqTopK: corpus is empty or $vecCol is all-null — no dimension to derive")
    val dim = statsRow.getInt(0)
    val n = statsRow.getLong(1)
    require(subspaces > 0 && subspaces <= dim,
      s"need 0 < subspaces <= dim; got $subspaces over dim $dim")
    require(nprobe > 0, "need at least one probed cell")
    val cells =
      if (nCells > 0) nCells
      else {
        val kc = if (knownCount > 0) knownCount else n
        math.max(8, math.ceil(math.sqrt(kc.toDouble)).toInt)
      }
    val bounds = sliceBounds(dim, subspaces)

    // ---- IVF half: corpus → single best cell, queries → top-nprobe cells
    // (rank-based seeding + cosine argmin, the ivfTopK shape; oracle-exact
    // float cosine keeps the cell structure identical to sim_ivf's)
    val e = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"))
    val seeds = e.orderBy(col("id")).limit(cells)
      .select(col("id").as("cell"), col("v").as("sv"), col("nrm").as("sn"))
    val caw = Window.partitionBy(col("id"))
      .orderBy(col("scos").desc, col("cell").asc)
    val corpusCell = e.crossJoin(broadcast(seeds))
      .withColumn("scos",
        vecDot(col("v"), col("sv")) / (col("nrm") * col("sn")))
      .withColumn("arank", row_number().over(caw))
      .filter(col("arank") === 1)
      .select(col("id"), col("cell"))
    val q = queries.select(col(idCol).cast("long").as("qid"),
      col(vecCol).as("qv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("qn"))
    val qaw = Window.partitionBy(col("qid"))
      .orderBy(col("scos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(seeds))
      .withColumn("scos",
        vecDot(col("qv"), col("sv")) / (col("qn") * col("sn")))
      .withColumn("arank", row_number().over(qaw))
      .filter(col("arank") <= nprobe)
      .select(col("qid").as("query_id"), col("cell"))

    // ---- PQ half: per-block codebooks (optionally sample-trained),
    // full-corpus codes, broadcast ADC tables — all shared with pqTopK
    val train = trainingSample(corpus, idCol, n, trainMaxRows, codebook)
    val (codes, cents, fittedCkpts) = fitBlocks(corpus, train, idCol,
      vecCol, bounds, codebook, iters, scale)
    val table = adcTable(queries, cents, idCol, vecCol, bounds, scale)

    // ---- compose: codes pick up their vector's cell (one id-keyed join),
    // the broadcast probe list prunes to the queries that probe that cell,
    // the broadcast ADC table scores, and one hash aggregate sums blocks —
    // a candidate row exists ONLY for (query, vector) pairs meeting in a
    // probed cell (a pair meets at most once: vectors index into exactly
    // one cell, so no distinct is needed even under multi-probe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val result = codes
      .join(corpusCell, Seq("id"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .join(broadcast(table), Seq("query_id", "block", "code"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("pd")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))

    val out = result.persist()
    out.count()
    fittedCkpts.foreach(Checkpoints.release)
    corpus.unpersist(); queries.unpersist()
    out
  }

  /** [[ivfPqTopK]] candidates + exact re-rank — prune (IVF), compress
    * (PQ/ADC), refine (raw-vector cosine on the candidate list only): the
    * full FAISS `IVFPQR` pipeline. Output matches [[bruteForceTopK]]. */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, candidates: Int = 0, nCells: Int = 0,
      nprobe: Int = 4, subspaces: Int = 8, codebook: Int = 16,
      iters: Int = 2, scale: Long = 1000000L,
      trainMaxRows: Long = 0L): DataFrame = {
    val r = if (candidates > 0) candidates else 8 * k
    require(r >= k, s"candidate list ($r) must cover k ($k)")
    exactRerank(ivfPqTopK(queries, corpus, idCol, vecCol, r, nCells,
      nprobe, subspaces, codebook, iters, scale, 0L, trainMaxRows),
      queries, corpus, idCol, vecCol, k)
  }

  /** Persist an IVF index for [[queryIvfIndex]]: `dir/seeds` holds the
    * coarse seeds (+ norms), `dir/cells` the per-vector (id, v, nrm)
    * assignments hive-partitioned BY CELL. This is the build-once /
    * query-many lifecycle of a production vector index: the corpus
    * assignment cost is paid once at build; a later query session pays
    * seeds + the PROBED cells only, and the hive layout means the probe
    * is a partition-pruned parquet scan — untouched cells are never read.
    * Same sizing rule and bit-exact arithmetic as [[ivfTopK]] (seeds =
    * smallest-id rank quantizer), so querying a corpus against its own
    * freshly-built index reproduces ivfTopK's output exactly.
    * `trainedSeeds` swaps in the k-means quantizer (same contract as
    * [[ivfTopK]]'s flag — better cell balance on clustered corpora, still
    * deterministic; the persisted `dir/seeds` schema is unchanged, so
    * [[queryIvfIndex]] works against either quantizer).
    */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      dir: String, nCells: Int = 0, knownCount: Long = 0L,
      trainedSeeds: Boolean = false, trainMaxRows: Long = 4096L): Unit = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"))
    lazy val n = if (knownCount > 0) knownCount else emb.count()
    val cells =
      if (nCells > 0) nCells
      else math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    val (seeds, seedCkpts) =
      if (!trainedSeeds)
        (e.orderBy(col("id")).limit(cells)
          .select(col("id").as("cell"), col("v").as("sv"), col("nrm").as("sn")),
          Seq.empty[DataFrame])
      else {
        val corpus = e.select(col("id"), col("v"))
        val train = trainingSample(corpus, "id", n, trainMaxRows, cells)
        val (asg, cents) = KMeans.fit(train, "id", "v", cells, iters = 2)
        Checkpoints.release(asg)
        val s = cents.select(col("cid").as("cell"),
            expr("transform(cs, x -> CAST(CAST(x AS DOUBLE) / 1000000.0 AS FLOAT))")
              .as("sv"))
          .withColumn("sn", sqrt(vecDot(col("sv"), col("sv"))))
          .filter(col("sn") > 0d)
          .localCheckpoint()
        Checkpoints.release(cents)
        (s, Seq(s))
      }
    seeds.write.mode("overwrite").parquet(s"$dir/seeds")
    val aw = Window.partitionBy(col("id"))
      .orderBy(col("scos").desc, col("cell").asc)
    e.crossJoin(broadcast(seeds))
      .withColumn("scos",
        vecDot(col("v"), col("sv")) / (col("nrm") * col("sn")))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") === 1)
      .select(col("id"), col("v"), col("nrm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    seedCkpts.foreach(Checkpoints.release)
  }

  /** Append a batch of NEW vectors to a [[buildIvfIndex]] index without
    * rebuilding: the persisted seeds are the quantizer contract, so the
    * batch pays one broadcast cell argmin + one partitioned parquet
    * append — cost tracks the BATCH, never the indexed corpus (the
    * [[IncrementalDedup]] lifecycle for the vector store). Ids must be
    * new (the index does not dedup); the seed set is fixed at build, so
    * querying after appends equals building over the union as long as
    * the build slice contained the seed rows. */
  def appendIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = emb.sparkSession
    val seeds = spark.read.parquet(s"$dir/seeds")
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("nrm"))
    val aw = Window.partitionBy(col("id"))
      .orderBy(col("scos").desc, col("cell").asc)
    e.crossJoin(broadcast(seeds))
      .withColumn("scos",
        vecDot(col("v"), col("sv")) / (col("nrm") * col("sn")))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") === 1)
      .select(col("id"), col("v"), col("nrm"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** Top-k search against a [[buildIvfIndex]] index on disk: queries
    * assign to their top-`nprobe` seeds (broadcast — √N rows), then join
    * the cell scan. Output matches [[ivfTopK]].
    *
    * `pruneCells = true` additionally collects the probed cell ids (a
    * bounded control-plane set: |queries| × nprobe, the point of an index
    * lookup) and pushes them as a LITERAL partition filter, so the hive-
    * partitioned scan provably reads only probed cell directories — the
    * static-pruning guarantee a bounded query session wants, independent
    * of whether dynamic partition pruning fires on the join. Leave false
    * for corpus-sized query sets (every cell is probed anyway).
    */
  def queryIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 1, pruneCells: Boolean = false): DataFrame = {
    val seeds = spark.read.parquet(s"$dir/seeds")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      sqrt(vecDot(col(vecCol), col(vecCol))).as("qn"))
    val aw = Window.partitionBy(col("query_id"))
      .orderBy(col("scos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(seeds))
      .withColumn("scos",
        vecDot(col("qv"), col("sv")) / (col("qn") * col("sn")))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    val raw = spark.read.parquet(s"$dir/cells")
    val pruned =
      if (pruneCells) {
        val cellIds = probes.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).toSeq
        raw.filter(col("cell").isin(cellIds: _*))
      } else raw
    val corpus = pruned
      .select(col("id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn"), col("cell").cast("long").as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    probes.join(corpus, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        vecDot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cos"), 6).as("cos"))
  }

  /** Persist a PQ index for [[queryPqIndex]] — the compression analog of
    * [[buildIvfIndex]]'s lifecycle: `dir/codebooks` holds the per-block
    * integer centroids (block, code, cs), `dir/codes` the per-vector
    * compressed codes (id, block, code), the `dir/meta.txt` sidecar the
    * geometry (dim, subspaces, codebook, scale). Codebook training and full-corpus
    * code assignment — the expensive passes — are paid ONCE at build; a
    * later query session reads the broadcast-sized codebooks and pays ADC
    * only (|corpus|·subspaces code lookups, zero raw-vector I/O — the
    * production shape where codes are ~32× smaller than float rows).
    * Same integer arithmetic as [[pqTopK]], so querying a corpus against
    * its own freshly-built index reproduces pqTopK's ranks exactly.
    * `trainMaxRows` keeps the deterministic hash-sampled training path
    * ([[trainingSample]]); `trainOn` pins training to an explicit slice
    * (the append≡rebuild equality harness — a rebuild over an appended
    * corpus reproduces the incremental index only when it trains on the
    * ORIGINAL build slice, since appended codebooks are frozen);
    * assignment always covers the full build slice. */
  /** Geometry sidecar for the persisted-PQ lifecycle: four driver-held
    * scalars as one plain text line under `dir/meta.txt` — replaces the
    * 1-row parquet round-trip that cost a Spark job at build plus a
    * collect-job per append/query session. Index dirs are local paths
    * (the lifecycle queries build under `Files.createTempDirectory`). */
  private def writePqMeta(dir: String, dim: Int, subspaces: Int,
      codebook: Int, scale: Long): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve("meta.txt"),
      s"$dim $subspaces $codebook $scale".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Read back [[writePqMeta]]'s sidecar: (dim, subspaces, codebook,
    * scale). */
  private def readPqMeta(dir: String): (Int, Int, Int, Long) = {
    val line = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.txt")),
      java.nio.charset.StandardCharsets.UTF_8).trim
    val parts = line.split("\\s+")
    require(parts.length == 4, s"malformed PQ meta sidecar in $dir: '$line'")
    (parts(0).toInt, parts(1).toInt, parts(2).toInt, parts(3).toLong)
  }

  def buildPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      dir: String, subspaces: Int = 8, codebook: Int = 16, iters: Int = 2,
      scale: Long = 1000000L, trainMaxRows: Long = 0L,
      trainOn: DataFrame = null,
      statsHint: Option[(Int, Long)] = None): Unit = {
    statsHint.foreach { case (dim, nRows) =>
      require(dim > 0 && nRows > 0,
        s"buildPqIndex: statsHint needs dim > 0 and rows > 0; got ($dim, $nRows)")
    }
    val spark = emb.sparkSession
    val corpus = emb.select(col(idCol), col(vecCol)).persist()
    // (dim, rowCount): from the caller when it already paid the stats scan
    // (buildOpqIndex collects both alongside its rotation prep), otherwise
    // one collect here
    val (dim, nRows) = statsHint.getOrElse {
      val statsRow = corpus
        .select(max(size(col(vecCol))), count(lit(1))).collect()(0)
      require(!statsRow.isNullAt(0),
        s"buildPqIndex: corpus is empty or $vecCol is all-null")
      (statsRow.getInt(0), statsRow.getLong(1))
    }
    require(subspaces > 0 && subspaces <= dim,
      s"need 0 < subspaces <= dim; got $subspaces over dim $dim")
    val bounds = sliceBounds(dim, subspaces)
    val train =
      if (trainOn != null) trainOn.select(col(idCol), col(vecCol))
      else trainingSample(corpus, idCol, nRows, trainMaxRows, codebook)
    val (codes, cents, fittedCkpts) = fitBlocks(corpus, train, idCol,
      vecCol, bounds, codebook, iters, scale)
    // geometry sidecar: four scalars the driver already holds — a plain
    // file write/read instead of a 1-row parquet ROUND-TRIP that cost one
    // Spark job at build and one collect-job per append/query session
    // (the persisted-PQ lifecycle entries are job-count-bound: ~30 tiny
    // sequential jobs per rep)
    writePqMeta(dir, dim, subspaces, codebook, scale)
    // the codebook is bounded (subspaces x codebook rows) at ANY corpus
    // scale — one output file instead of one per shuffle partition
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    fittedCkpts.foreach(Checkpoints.release)
    corpus.unpersist(false)
  }

  /** Append a batch of NEW vectors to a [[buildPqIndex]] index without
    * retraining: the persisted codebooks are the quantizer contract
    * (frozen at build, like [[appendIvfIndex]]'s seeds), so the batch
    * pays one broadcast-codebook argmin over its own rows + a parquet
    * append — cost tracks the BATCH, never the indexed corpus. The
    * assignment rule is bit-identical to the build's closing pass
    * ([[KMeans.assignGroupedFrozen]]), so append-then-query equals a
    * one-shot build over the union whenever that build would train on
    * the original slice (e.g. the slice holds the rank seeds / training
    * sample) — asserted in the suite. Ids must be new (no dedup here). */
  def appendPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val spark = emb.sparkSession
    val (dim, subspaces, codebook, scale) = readPqMeta(dir)
    val bounds = sliceBounds(dim, subspaces)
    val cents = spark.read.parquet(s"$dir/codebooks")
      .select(col("block"), col("code").as("cid"), col("cs"))
    val exploded = explodedSlices(emb, idCol, vecCol, bounds)
    // static packing envelope: normSlice components are unit-normalized
    // (|vb| <= 1 => grid |xs| <= scale) and the frozen centroids are
    // means of such rows, so (width, scale, scale) bounds every distance
    // WITHOUT the two per-append stats scans the data-derived envelope
    // paid (the packing choice only selects long vs DECIMAL — the
    // assigned codes are identical either way, and ANSI mode would fail
    // loud if the bound were ever violated)
    val width = (1 until bounds.size).map(b => bounds(b) - bounds(b - 1)).max
    KMeans.assignGroupedFrozen(exploded, cents, "block", "id", "vb",
        codebook, scale, envelopeHint = Some((width, scale, scale)))
      .select(col("id"), col("block"), col("cluster").as("code"))
      .write.mode("append").parquet(s"$dir/codes")
  }

  /** Top-k search against a [[buildPqIndex]] index on disk: the query
    * session reads the (subspaces × codebook)-row codebooks, builds the
    * broadcast ADC table from its own queries, and scores the code table
    * with one shuffle-free join + a map-side-combinable sum — never
    * touching a raw corpus vector ([[pqTopK]]'s scoring tail verbatim,
    * so ranks are bit-identical to an in-session pqTopK under the same
    * codebooks). Output: (query_id, neighbor_id, rank). */
  def queryPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val (dim, subspaces, _, scale) = readPqMeta(dir)
    val bounds = sliceBounds(dim, subspaces)
    val cents = spark.read.parquet(s"$dir/codebooks")
    val table = adcTable(queries.select(col(idCol), col(vecCol)), cents,
      idCol, vecCol, bounds, scale)
    val codes = spark.read.parquet(s"$dir/codes")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    codes
      .join(broadcast(table), Seq("block", "code"))
      .filter(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("pd")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
  }

  /** Embedding-space label quality probe: per label, how many of its
    * vectors sit nearest their OWN label centroid (nearest-centroid
    * purity — the cheap first look at whether labels are separable in
    * embedding space before training on them).
    *
    * Determinism: centroids come from EXACT integer component sums
    * (micro-integerized floats through a posexplode aggregate — float
    * order-dependence never exists) divided once; distances are the
    * shared left-to-right fold ([[graft.functions.VectorExprs]]), and the
    * argmin tie-breaks on the label. Scale: the component aggregate is
    * corpus-linear and map-side combined; the centroid table is
    * (labels × dims) — broadcast; per-vector work is labels × dims.
    * Output: (lbl, n, n_pure).
    */
  /** Embedding drift monitor between two corpus slices: per label, the
    * L2 distance between slice centroids — the embedding-space analog of
    * the PSI histogram drift ([[graft.operators.FeatureEng.psiDrift]]):
    * a retrained encoder, a data-source change, or silent input drift
    * moves centroids long before downstream metrics notice. Same
    * determinism scheme as [[centroidPurity]] (exact integer component
    * sums; shared-fold distance; one sqrt of an exact-chain double).
    * Output: (lbl, n_a, n_b, l2_shift) rounded at 6.
    */
  def centroidShift(embA: DataFrame, embB: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame = {
    def cents(emb: DataFrame, nOut: String, vOut: String): DataFrame =
      emb.select(col(labelCol).as("lbl"),
          posexplode(col(vecCol)).as(Seq("pos", "x")))
        .withColumn("xi", round(col("x") * 1e6).cast("long"))
        .groupBy(col("lbl"), col("pos"))
        .agg(sum(col("xi")).as("sx"), count(lit(1)).as("n"))
        .withColumn("c", col("sx").cast("double") / col("n") / 1e6)
        .groupBy(col("lbl"))
        .agg(max(col("n")).as(nOut),
          sort_array(collect_list(struct(col("pos"), col("c")))).as("ca"))
        .withColumn(vOut, expr("transform(ca, s -> s.c)")).drop("ca")
    cents(embA, "n_a", "va").join(cents(embB, "n_b", "vb"), Seq("lbl"))
      .select(col("lbl"), col("n_a"), col("n_b"),
        round(sqrt(expr(sparkSqDistD("va", "vb"))), 6).as("l2_shift"))
  }

  def centroidPurity(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val comp = emb
      .select(col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("xi", round(col("x") * 1e6).cast("long"))
      .groupBy(col("lbl"), col("pos"))
      .agg(sum(col("xi")).as("sx"), count(lit(1)).as("n"))
    val cents = comp
      .withColumn("c", col("sx").cast("double") / col("n") / 1e6)
      .groupBy(col("lbl"))
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("ca"))
      .select(col("lbl").as("clbl"), expr("transform(ca, s -> s.c)").as("cvec"))
    val nearest = emb
      .select(col(idCol).as("id"), col(labelCol).as("lbl"),
        col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("d", expr(sparkSqDistD("v", "cvec")))
      .groupBy(col("id"), col("lbl"))
      .agg(min(struct(col("d"), col("clbl"))).as("m"))
      .select(col("lbl"), col("m.clbl").as("nearest"))
    nearest.groupBy(col("lbl"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("nearest") === col("lbl"), 1L).otherwise(0L))
          .as("n_pure"))
  }

  /** Per-dimension embedding-column health stats — the first thing to
    * look at before trusting a 100 TB embedding corpus: a dead dimension
    * (all zeros), a collapsed one (near-zero variance), or a wildly
    * off-scale one each break cosine geometry silently. Components are
    * integerized at 1e6 (exact long sums; the mirrored-rounding discipline
    * of [[centroidPurity]]), variance closes as the exact integer
    * E[x²]−E[x]² chain in ONE mirrored double division, and the zero
    * fraction counts exact-grid zeros. One posexplode + one dim-grain hash
    * aggregate — map-side combined, never a window; output is dim rows.
    * Overflow audit: |xi| ≤ 1e6-grid component c ⇒ Σxi² ≤ n·c²; at
    * c ≈ 1e6 (unit-norm vectors) a long holds n up to ~9e6 per dimension
    * — larger corpora pass a coarser `compScale`.
    * Output: (dim 1-based, n, mean_micro, var_micro, n_zero). */
  def dimStats(emb: DataFrame, vecCol: String,
      compScale: Double = 1e6): DataFrame = {
    emb.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("xi", round(col("x") * compScale).cast("long"))
      .groupBy((col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"),
        sum(col("xi") * col("xi")).as("sxx"),
        sum(when(col("xi") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .select(col("dim"), col("n"),
        expr("CAST(round(CAST(sx AS DOUBLE) / n) AS BIGINT)")
          .as("mean_micro"),
        expr(
          """CAST(round((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx)
            |  / (CAST(n AS DOUBLE) * n)) AS BIGINT)""".stripMargin)
          .as("var_micro"),
        col("n_zero"))
  }

  /** Int8 post-training-quantization audit of an embedding column — what
    * affine (scale/zero-point) int8 storage would cost, per dimension:
    * min/max on the exact 1e6 grid, each component quantized to
    * q = round(255·(x−min)/range) and dequantized back, and the
    * reconstruction error accumulated as EXACT integer grid residuals
    * (e = xi − round(min + q·range/255) — both rounds are mirrored
    * single-double ops, so the residual is engine-exact; Σe² stays in a
    * long at any corpus: |e| ≤ range/510 + 1). Degenerate (constant)
    * dimensions quantize to q = 0 with zero error. Two corpus scans (one
    * for per-dim min/max — a dim-bounded broadcast — one for the
    * residuals), both map-side-combined aggregates over ONE posexplode.
    * Output: (dim 1-based, n, min_micro, max_micro, sse, rmse_micro) —
    * rmse in 1e6-grid units, the "is int8 good enough for this encoder"
    * number next to [[dimStats]]. */
  def int8QuantError(emb: DataFrame, vecCol: String,
      compScale: Double = 1e6): DataFrame = {
    val ex = emb.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("long").as("dim"),
        round(col("x") * compScale).cast("long").as("xi"))
      .persist()
    val ranges = ex.groupBy(col("dim"))
      .agg(min(col("xi")).as("mn"), max(col("xi")).as("mx"))
    val out = ex.join(broadcast(ranges), Seq("dim"))
      .withColumn("q",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          expr("CAST(round(255.0 * (xi - mn) / (mx - mn)) AS BIGINT)")))
      .withColumn("e",
        col("xi") - when(col("mx") === col("mn"), col("mn")).otherwise(
          expr("CAST(round(mn + q * (mx - mn) / 255.0) AS BIGINT)")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), min(col("mn")).as("min_micro"),
        min(col("mx")).as("max_micro"),
        sum(col("e") * col("e")).as("sse"))
      .withColumn("rmse_micro",
        expr("CAST(round(sqrt(CAST(sse AS DOUBLE) / n)) AS BIGINT)"))
    finalized(out, ex)
  }

  /** Label confusion matrix in embedding space — the full-matrix readout
    * behind [[centroidPurity]]'s per-label diagonal: assign every vector
    * to its nearest label centroid (exact-integer centroid sums, shared
    * squared-distance fold, deterministic (d, label) argmin) and count
    * (true label, nearest label) pairs. Off-diagonal mass names WHICH
    * labels collide — the weak-label audit a relabeling pass starts from.
    * Centroids are bounded by the label vocabulary and broadcast; one
    * corpus scan against them. Output: (lbl, nearest, n). */
  def labelConfusion(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val comp = emb
      .select(col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("xi", round(col("x") * 1e6).cast("long"))
      .groupBy(col("lbl"), col("pos"))
      .agg(sum(col("xi")).as("sx"), count(lit(1)).as("n"))
    val cents = comp
      .withColumn("c", col("sx").cast("double") / col("n") / 1e6)
      .groupBy(col("lbl"))
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("ca"))
      .select(col("lbl").as("clbl"),
        expr("transform(ca, s -> s.c)").as("cvec"))
    emb.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("d", expr(sparkSqDistD("v", "cvec")))
      .groupBy(col("id"), col("lbl"))
      .agg(min(struct(col("d"), col("clbl"))).as("m"))
      .select(col("lbl"), col("m.clbl").as("nearest"))
      .groupBy(col("lbl"), col("nearest"))
      .agg(count(lit(1)).as("n"))
  }

  /** Top principal component of the (mean-centered) embedding corpus by
    * power iteration — the primitive behind OPQ-style rotations, embedding
    * whitening, and "which direction did the encoder drift" diagnostics
    * (the vector complement of [[centroidShift]], which needs labels; this
    * is unsupervised).
    *
    * Bit-reproducible by the q87/q54 replay discipline: everything is
    * integer arithmetic on a 10^6 grid, so a DuckDB oracle replays the
    * trajectory exactly. Per round the iterate `w` is a broadcast PLAN
    * LITERAL (the GD-training pattern) and the data contributes ONE
    * map-side-combined aggregate:
    *   dot_r  = Σ_i y_i·w_i        (per row, codegen'd 64-term sum)
    *   α_r    = floor(dot_r / 10^6) (rescale so products stay in range)
    *   t_i    = Σ_rows y_i·α_r      (DECIMAL(38,0) — exact at any corpus)
    *   w'_i   = floor(t_i·10^6 / max_j|t_j|)  (driver, exact BigInt)
    * All floor divisions are computed as `((a + shift) div b) - shift/b`
    * with nonnegative operands, where Spark's truncating `div` and
    * DuckDB's `//` agree (they diverge on negatives). Overflow audit at
    * |x| ≤ 2·10^6 (unit-norm embeddings are ≤ 0.58·10^6): |y| ≤ 4·10^6,
    * per-row dot ≤ 64·|y|·10^6 ≈ 2.6·10^14 < 10^15 shift, per-term
    * y·α ≤ 10^15 — row-local values stay in BIGINT at ANY corpus size
    * (bounds are row-local, N-free); only the cross-row t sums grow with
    * N, and those are DECIMAL/HUGEINT. Scale: `rounds`+1 full scans, each
    * one aggregate; the driver holds 64 numbers — nothing else leaves the
    * executors.
    *
    * Output: (dim_idx 0-based, pc_x1e6) — the unit(ish) direction on the
    * 10^6 grid after `rounds` iterations from the deterministic uniform
    * start w0 = scale/8. Sign follows w0 (a fixed start makes the sign
    * deterministic; eigenvectors are sign-ambiguous by nature). */
  def pcaPower(emb: DataFrame, vecCol: String, dim: Int,
      rounds: Int = 2, scale: Long = 1000000L): DataFrame = {
    require(dim > 0 && rounds >= 1 && scale > 0)
    val spark = emb.sparkSession
    val shift = 1000000000000000L // 10^15 > any row dot at |y| <= 4e6·dim=64
    // the DOUBLE cast before the multiply is load-bearing for oracle
    // parity: a FLOAT-typed product (DuckDB's default for FLOAT·literal)
    // rounds exact-half grid points differently than the double product
    val xs = emb.select((1 to dim).map(i =>
      round(element_at(col(vecCol), i).cast("double") * lit(1e6))
        .cast("long").as(s"x$i")): _*)
      .persist()
    val r1 = xs.agg(count(lit(1)).as("n"),
      (1 to dim).map(i => sum(col(s"x$i")).as(s"s$i")): _*).head()
    val n = r1.getLong(0)
    require(n > 0, "pcaPower needs a non-empty corpus")
    // floor mean — identical to the oracle's ((sx + n·muShift) // n) − muShift
    val mu = (1 to dim).map(i => Math.floorDiv(r1.getLong(i), n))
    var w = Array.fill(dim)(BigInt(scale / 8))
    for (_ <- 1 to rounds) {
      val dot = (1 to dim).map(i =>
        (col(s"x$i") - lit(mu(i - 1))) * lit(w(i - 1).toLong)).reduce(_ + _)
      val withAlpha = xs.withColumn("__dot", dot)
        .withColumn("__alpha",
          expr(s"((__dot + $shift) div $scale) - ${shift / scale}"))
      val aggs = (1 to dim).map(i =>
        sum(((col(s"x$i") - lit(mu(i - 1))) * col("__alpha"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as(s"t$i"))
      val row = withAlpha.agg(aggs.head, aggs.tail: _*).head()
      val t = (0 until dim).map(i =>
        BigInt(row.getDecimal(i).toBigInteger))
      val m = t.map(_.abs).max
      if (m != 0)
        w = t.map(ti => ((ti + m) * scale) / m - scale).toArray
    }
    xs.unpersist()
    import spark.implicits._
    (0 until dim).map(i => (i.toLong, w(i).toLong))
      .toDF("dim_idx", "pc_x1e6")
  }

  /** Floored division for possibly-negative `a` over positive `b`, written
    * as `(a - nonneg_mod(a, b)) / b` so the DuckDB oracle can replay it
    * textually (`(a - ((a % b + b) % b)) // b`): both engines' `%` follows
    * the dividend sign, the subtraction makes the quotient exact, and the
    * final division never rounds. Spark's `div`/BigInt `/` truncation vs
    * DuckDB's `//` floor therefore cannot diverge. */
  private def floorDivBI(a: BigInt, b: BigInt): BigInt =
    (a - (((a % b) + b) % b)) / b

  /** Exact integer sqrt with the shared one-step correction: both engines
    * start from `floor(sqrt(double(x)))` — off by at most 1 for x ≤ 2^52,
    * since the double conversion is exact and sqrt is correctly rounded —
    * then apply the SAME single CASE adjustment, so a half-ulp landing on
    * either side of an integer boundary cannot split the engines. */
  private def isqrtCorrected(x: BigInt): BigInt = {
    val r = BigInt(math.sqrt(x.toDouble).toLong)
    if (r * r > x) r - 1
    else if ((r + 1) * (r + 1) <= x) r + 1
    else r
  }

  /** OPQ-lite learned rotation (Ge et al., CVPR 2013, the parametric
    * recipe): the full dim×dim rotation whose rows are the principal
    * directions of the UNCENTERED second-moment matrix, obtained by power
    * iteration + Hotelling deflation — run entirely on the driver over the
    * bounded dim×dim moment matrix, the [[pcaPower]]/q87 broadcast-literal
    * pattern taken one step further: the corpus pays exactly ONE scan
    * (2080 map-side-combined DECIMAL sums for dim 64), and every
    * subsequent eigen-round is driver-side BigInt arithmetic on that
    * 64×64 table — zero additional scans at ANY corpus size, vs
    * `rounds`-scans-per-component for data-side iteration.
    *
    * Uncentered on purpose: PQ ranks by cosine over unit-normalized
    * vectors, and an orthogonal rotation of RAW vectors preserves cosine
    * geometry exactly — centering would shift the origin and change the
    * ranking target. Bit-reproducible end to end: grid integers
    * (round(x·10⁶)), DECIMAL(38,0) cross-row sums, BigInt power rounds
    * with [[pcaPower]]'s renormalization `((t+m)·s)//m − s`, rows
    * L2-normalized to the grid through [[isqrtCorrected]], deflation
    * `S ← S − fd(fd(uSu·uᵢ, uᵀu)·uⱼ, uᵀu)` in two floored stages (keeps
    * every oracle-side intermediate within HUGEINT at sf ≤ 0.1 — audit:
    * |uSu·uᵢ| ≤ (Σ|u|)²·maxS·10⁶ ≈ 2.5·10³⁷ < 1.7·10³⁸ at N = 1500;
    * driver-side BigInt is unbounded, so 100-TB corpora only ever stress
    * the DECIMAL(38,0) moment sums, exact to ~10²⁵ rows). Rank-deficient
    * corpora (N < dim) deflate trailing components to a zero matrix; the
    * m = 0 guard then keeps the uniform start vector — deterministic, and
    * harmless downstream since trailing directions carry no energy.
    *
    * Returns the rotation rows in decreasing-eigenvalue order, each on the
    * 10⁶ grid with unit(ish) L2 norm. */
  def opqRotation(emb: DataFrame, vecCol: String, dim: Int,
      powerRounds: Int = 3, scale: Long = 1000000L): Array[Array[Long]] = {
    require(dim > 0 && powerRounds >= 1 && scale > 0)
    val xa = emb.select(
      expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale.0) AS BIGINT))")
        .as("xa"))
    val mom = xa
      .select(col("xa"), posexplode(col("xa")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("xa")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("xi") * col("xj"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
      .collect()
    val S = Array.ofDim[BigInt](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim) S(i)(j) = BigInt(0)
    mom.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val v = BigInt(r.getDecimal(2).toBigInteger)
      S(i)(j) = v; S(j)(i) = v
    }
    val R = Array.ofDim[Array[Long]](dim)
    val sc = BigInt(scale)
    // Projection-deflation (orthogonal iteration), NOT Hotelling matrix
    // deflation: the iterate is Gram-Schmidt-projected against every
    // ACCEPTED row inside each power round, on the CONSTANT moment
    // matrix. Matrix deflation with a non-eigenvector (unavoidable when
    // eigenvalues are close and `powerRounds` small) leaves cross-terms
    // that later components re-discover; a post-hoc GS then holds only a
    // tiny residual whose floor-div bias normalizes into duplicate
    // all-ones-ish junk rows (observed: two bit-identical rows
    // scrambling half the corpus energy). In-loop projection keeps the
    // iterate in the uncovered subspace, where the matvec always finds
    // real energy — rows come out orthogonal unconditionally. Classical
    // (not modified) GS, so the oracle evaluates all projections in one
    // list expression over the accumulated rows.
    def gs(k: Int, v: Array[BigInt]): Array[BigInt] = {
      val prev = (0 until k).map(l => R(l).map(BigInt(_)))
      val nns = prev.map(ul => ul.map(x => x * x).sum)
      val dots = prev.map(ul => (0 until dim).map(i => v(i) * ul(i)).sum)
      Array.tabulate(dim)(i => v(i) - (0 until k).map(l =>
        if (nns(l) == 0) BigInt(0)
        else floorDivBI(dots(l) * prev(l)(i), nns(l))).sum)
    }
    for (k <- 0 until dim) {
      // per-component deterministic start: a SHARED start would converge
      // to the SAME direction for every component of a degenerate
      // (noise-floor) eigenspace, leaving nothing for the projection to
      // keep; the integer form is replayed verbatim by the oracle
      var w = Array.tabulate(dim)(i =>
        BigInt((k.toLong * dim + i) * 2654435761L % 1000003L - 500000L))
      for (_ <- 1 to powerRounds) {
        val g = gs(k, w)
        val t = Array.tabulate(dim)(i =>
          (0 until dim).map(j => S(i)(j) * g(j)).sum)
        val m = t.map(_.abs).max
        // nonneg operands: BigInt truncation == floor == DuckDB `//`
        w = if (m == 0) g else t.map(ti => ((ti + m) * sc) / m - sc)
      }
      val g = gs(k, w)
      val ssq = g.map(x => x * x).sum
      val u =
        if (ssq == 0) g // fully covered: zero row, carries no energy
        else { val l2 = isqrtCorrected(ssq); g.map(gi => floorDivBI(gi * sc, l2)) }
      R(k) = u.map(_.toLong)
    }
    R
  }

  /** Apply a grid rotation as a plan literal: out[j] = Σᵢ R[j][i]·x[i] on
    * the integer grid (|out| ≤ dim·10⁶·2·10⁶ ≈ 1.3·10¹⁴ < 2⁵³, so the
    * LONG→DOUBLE widening is exact), then narrowed to FLOAT because the
    * downstream PQ machinery's native [[vecDot]] takes `array<float>`.
    * The narrowing is the ONE rounding step and it is engine-parity-safe:
    * both sides round the identical exact double to nearest-even float
    * (oracle: `CAST(CAST(… AS DOUBLE) AS REAL)`), and its 2⁻²⁴ relative
    * error sits an order below the 10⁻⁶ unit-normalized grid the PQ build
    * re-quantizes to. The unit-normalization also absorbs the 10⁶·10⁶
    * grid scaling wholesale. One codegen'd projection per row — no
    * shuffle, no UDF. */
  private def applyRotation(df: DataFrame, idCol: String, vecCol: String,
      rot: Array[Array[Long]]): DataFrame = {
    // grid-integerize ONCE into an array (same round/cast chain the
    // KMeans.scaledVectors discipline uses, element order unchanged), then
    // one native matvec per row. The previous expression-tree form — an
    // `array(...)` of dim per-output sums over dim extracted columns —
    // inlined dim² ≈ 4096 multiply-adds into one generated projection,
    // which exceeds Janino's method limits: every plan paid a ~6-8 s
    // FAILED whole-stage compile (ERROR CodeGenerator) and then ran
    // interpreted. The kernel is bit-identical (exact long products,
    // left-to-right sum, LONG→DOUBLE→FLOAT close) and one static call
    // site — see [[graft.functions.MatVecImpl]]; oracle unchanged.
    val xs = df.select(col(idCol),
      transform(col(vecCol),
        x => round(x.cast("double") * lit(1e6)).cast("long")).as("__xs"))
    xs.select(col(idCol),
      graft.functions.MatVecNative.rotateMatVec(col("__xs"),
        typedLit(rot.map(_.toSeq).toSeq)).as(vecCol))
  }

  /** OPQ-lite index build: [[opqRotation]]'s learned rotation applied
    * before [[buildPqIndex]]'s block split, with eigenvalue-allocation-lite
    * dimension assignment — component c lands at output position so that
    * block b holds components {b, b+subspaces, b+2·subspaces, …}
    * (round-robin), spreading the high-variance directions one per block
    * instead of letting block 0 hoard the top eight. On correlated
    * corpora each block then quantizes one dominant direction plus tail
    * energy — the published reason OPQ recall beats plain PQ when raw
    * dimensions are correlated across block boundaries.
    *
    * Persists `dir/rotation` (j, i, r) next to the PQ artifacts; the
    * rotation is part of the frozen quantizer contract exactly like the
    * codebooks — [[queryOpqIndex]] replays it over queries, and an
    * [[appendPqIndex]]-style batch append stays valid because rotation is
    * per-row and corpus-independent once learned. */
  def buildOpqIndex(emb: DataFrame, idCol: String, vecCol: String,
      dir: String, subspaces: Int = 8, codebook: Int = 16, iters: Int = 2,
      scale: Long = 1000000L, powerRounds: Int = 3): Unit = {
    val spark = emb.sparkSession
    // one stats collect serves the rotation prep AND the PQ build below
    // (statsHint) — the lifecycle entries are job-count-bound
    val dimRow = emb.select(max(size(col(vecCol))), count(lit(1))).collect()(0)
    require(!dimRow.isNullAt(0),
      s"buildOpqIndex: corpus is empty or $vecCol is all-null")
    val dim = dimRow.getInt(0)
    val nRows = dimRow.getLong(1)
    require(dim % subspaces == 0,
      s"round-robin allocation needs subspaces | dim; got $subspaces, $dim")
    val bw = dim / subspaces
    val eigen = opqRotation(emb, vecCol, dim, powerRounds, scale)
    // position p (block p/bw, slot p%bw) takes component (p%bw)·subspaces + p/bw
    val rot = Array.tabulate(dim)(p => eigen((p % bw) * subspaces + p / bw))
    import spark.implicits._
    rot.zipWithIndex.flatMap { case (row, j) =>
      row.zipWithIndex.map { case (r, i) => (j, i, r) }
    }.toSeq.toDF("j", "i", "r")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
    buildPqIndex(applyRotation(emb, idCol, vecCol, rot), idCol, vecCol,
      dir, subspaces, codebook, iters, scale,
      statsHint = Some((dim, nRows)))
  }

  private def readRotation(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Long]] = {
    val rows = spark.read.parquet(s"$dir/rotation")
      .select(col("j"), col("i"), col("r")).collect()
    val dim = rows.map(_.getInt(0)).max + 1
    val rot = Array.ofDim[Long](dim, dim)
    rows.foreach(r => rot(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    rot
  }

  /** Append a batch of NEW vectors to a [[buildOpqIndex]] index: the
    * persisted rotation joins the codebooks in the frozen quantizer
    * contract (both learned at build, both corpus-independent afterward),
    * so the batch pays one driver-literal rotation + [[appendPqIndex]]'s
    * broadcast-codebook argmin — cost tracks the BATCH. Append-then-query
    * equals a one-shot build trained (rotation AND codebooks) on the
    * original slice, the [[appendPqIndex]] equality, asserted via the
    * sim_opq_append oracle which learns its replayed rotation from the
    * build slice only. */
  def appendOpqIndex(emb: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit =
    appendPqIndex(applyRotation(emb, idCol, vecCol,
      readRotation(emb.sparkSession, dir)), idCol, vecCol, dir)

  /** Top-k search against a [[buildOpqIndex]] index: read the persisted
    * rotation (dim² rows — driver-literal sized), rotate the queries the
    * same way the corpus was rotated at build, then [[queryPqIndex]]
    * verbatim — ADC over the code table, zero raw-vector I/O. */
  def queryOpqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    queryPqIndex(spark, dir,
      applyRotation(queries, idCol, vecCol, readRotation(spark, dir)),
      idCol, vecCol, k)

  /** Dimension-truncation recall audit (the Matryoshka question): if
    * retrieval kept only the FIRST `dims` coordinates of every embedding —
    * half the index bytes, half the ADC work — what fraction of the
    * true full-dimension top-k survives? recall@k per query of
    * truncated-cosine top-k against full-cosine top-k, both exact
    * [[bruteForceTopK]] rankings over the same corpus (deterministic
    * tie order, so the oracle replays both bit-for-bit). Run it before
    * committing to a truncated index layout; pair with
    * [[int8QuantError]] for the precision axis.
    *
    * Scale: queries are a bounded audit panel (`nQueries`), so both
    * rankings are panel × corpus broadcast-joined scans — corpus-linear,
    * shuffle-free candidate generation, per-query TakeOrdered-sized
    * windows. Output: (query_id, n_hits, recall_bp). */
  def truncationRecall(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, dims: Int, nQueries: Int): DataFrame = {
    require(dims >= 1 && k >= 1 && nQueries >= 1,
      s"bad audit config: dims=$dims k=$k nQueries=$nQueries")
    val queries = emb.filter(col(idCol) < nQueries)
    val full = bruteForceTopK(queries, emb, idCol, vecCol, k,
        broadcastCorpus = true)
      .select(col("query_id"), col("neighbor_id"))
    val truncQ = queries.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val truncC = emb.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val trunc = bruteForceTopK(truncQ, truncC, idCol, vecCol, k,
        broadcastCorpus = true)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    full.join(trunc, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("kk"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        expr("n_hits * 10000 div kk").as("recall_bp"))
  }
}
