package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames. PageRank here is the
  * link-analysis shape of corpus curation (authority-weighting pages /
  * domains before sampling) — and the representative "iterate a join +
  * aggregate to a fixpoint" workload whose scale behavior matters: each
  * iteration is ONE equi-join of the rank table with the edge list plus ONE
  * `groupBy(dst).sum` — both shuffle on the same key, no driver-side graph
  * state, edge list never materializes on one node.
  *
  * All arithmetic is exact 64-bit integer: ranks are scaled to
  * `scale / N` units and contributions use integer division, so results are
  * bit-identical across engines and partitionings (a floating-point
  * PageRank's sums depend on reduction order). Precision loss per division
  * is < 1 unit = `1/scale` of total mass — negligible for ranking at
  * `scale = 10^12`.
  *
  * Requirements (default mode): every node must have at least one OUT-edge
  * (build the edge list bidirectionally for undirected graphs); node ids
  * non-negative and distinct across node classes (offset one side of a
  * bipartite graph). Real web/link graphs violate the out-edge requirement
  * constantly (sink pages) — `danglingMass = true` lifts it with the
  * standard dangling-mass redistribution: sinks' rank is summed each round
  * (ONE bounded control-plane aggregate, collected to the driver like a
  * convergence count) and every node receives an equal integer share,
  * keeping the arithmetic exact.
  */
object Graph {

  /** `iters` damped PageRank rounds over `edges(src, dst)`. Returns
    * `(id, rank)` with rank in integer `1/scale` units of total mass.
    * Damping is the exact rational `dampNum/dampDen` (default 85/100).
    *
    * Per-round plan: rank ⋈ edges on src (shuffle on src — edges can be
    * pre-bucketed on src to eliminate it), groupBy dst (shuffle on dst),
    * left join back to the node list for no-inlink nodes (dangling mode
    * instead folds the node list into the aggregate as zero rows — one
    * join and one aggregate per round, no node join). The rank frame is
    * `localCheckpoint`ed periodically so the logical plan stays flat
    * across iterations (lineage growth, not data volume, is what kills
    * iterative DataFrame jobs). */
  /** Fold each source's out-degree onto its edges so every pagerank round
    * is a single join. NOT a window: WindowExec sorts its input on the
    * partition keys, a full sort of the edge list; this aggregate+join
    * reuses the input's partitioning on `src` (repartitioned, cached, or
    * bucketed). `broadcastDegrees` fits graphs whose distinct-source count
    * broadcasts comfortably (one row per source); disable it for
    * billion-node graphs and the join stays co-located on src anyway. */
  def withDegrees(part: DataFrame, broadcastDegrees: Boolean): DataFrame = {
    val deg = part.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    part.join(if (broadcastDegrees) broadcast(deg) else deg, "src")
  }

  /** One pagerank round's mass flow: each source's rank split integrally
    * across its out-edges, summed per destination. Exposed so plan tests
    * can assert the per-round shape (with a bucketed edge table the edge
    * side of the join carries NO exchange — only the rank frame moves). */
  def contributions(e: DataFrame, rank: DataFrame): DataFrame =
    e.join(rank, e("src") === rank("id"))
      .select(col("dst").as("id"),
        expr("`rank` div outdeg").as("c"))
      .groupBy(col("id")).agg(sum(col("c")).as("m"))

  def pageRank(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L,
      edgesDistinct: Boolean = false,
      broadcastDegrees: Boolean = true,
      prePartitioned: Boolean = false,
      broadcastRank: Boolean = false,
      danglingMass: Boolean = false): DataFrame = {
    // static frames are CACHED (lazy, reused every round); only the evolving
    // rank is checkpointed, and only every few rounds — an eager checkpoint
    // per round would serialize the loop into iters separate jobs
    val raw = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // dedup is semantics (parallel edges must not double-weight) but it is
    // the most expensive shuffle here — callers that construct provably
    // distinct edge lists (e.g. mirrored distinct pairs) skip it
    val deduped = if (edgesDistinct) raw else raw.distinct()
    // pre-partition on the per-round join key: the cached partitioning is
    // reused by every iteration's join, so only the (small) rank side
    // moves — the edge list never re-shuffles after this. When the caller
    // reads a table bucketed on src (`Distribution.writeBucketed`), the
    // scan already delivers that partitioning and `prePartitioned = true`
    // makes the FIRST materialization exchange-free too (the long cast
    // below is erased by SimplifyCasts for long columns, so the bucketed
    // partitioning survives the projection).
    // broadcastRank makes the per-round join a broadcast hash join, which
    // streams ANY partitioning — pre-partitioning the edges would be a full
    // shuffle that buys nothing, so skip it on that path too
    // NOT cached despite feeding two consumers (degree agg + degree join):
    // the round-8 A/B probe measured the persist variant consistently
    // ~0.4-0.5 s SLOWER at sf0.1 — the cache write sits on the critical
    // path and freezes partitioning across the AQE boundary, costing more
    // than the second upstream scan it saves
    val part =
      if (prePartitioned || broadcastRank) deduped
      else deduped.repartition(col("src"))
    // the degree aggregate is cached and reused THREE ways: folded onto the
    // edges for the per-round integral split, and — because its keys are
    // the distinct sources — as the source node set, saving the separate
    // distinct pass over the (much larger) edge list that a
    // `e.select(src).distinct()` would cost
    val deg = part.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).cache()
    val e = part.join(if (broadcastDegrees) broadcast(deg) else deg, "src")
      .cache()
    // default mode: every node has an out-edge (operator requirement), so
    // the distinct sources ARE the node set. With dangling support the dst
    // side is unioned in (sinks appear only as destinations, so the union
    // arms are each already node-sized aggregates — the big edge scan pays
    // one distinct on dst, never a distinct over the doubled union), and
    // the sinks themselves are the anti-join of two node-sized frames.
    val sources = deg.select(col("src").as("id"))
    val nodes =
      (if (danglingMass)
        sources.union(e.select(col("dst").as("id")).distinct()).distinct()
      else sources).cache()
    val dangling =
      if (danglingMass)
        Some(nodes.join(sources, Seq("id"), "left_anti").cache())
      else None

    val n = nodes.count()
    require(n > 0, "pageRank on an empty graph")
    // exact integer teleport mass per node: computed once, mirrored verbatim
    // by the SQL oracle — division ORDER is part of the contract
    val unit = scale / n
    val teleport = (dampDen - dampNum) * unit / dampDen

    // `broadcastRank`: the rank table is one row per NODE while the edge
    // list is one row per EDGE — for graphs with high average degree (or
    // just node counts that broadcast comfortably) shipping the rank to the
    // edges replaces the per-round sort-merge join (full sort of the edge
    // list + shuffle of the rank) with a broadcast hash join over the
    // cached edge partitions: the only per-round exchange left is the
    // map-side-combined contribution aggregate (≤ one row per node per
    // task). Same results bit-identically — only the join strategy moves.
    // Off by default: at billion-node scale the rank no longer broadcasts
    // and the co-partitioned SMJ path is the right shape.
    def hinted(df: DataFrame) = if (broadcastRank) broadcast(df) else df
    var rank = nodes.select(col("id"), lit(unit).as("rank"))
    // dangling mode consumes `rank` TWICE per round (contributions + the
    // sink-mass sum): left bare, both branches re-evaluate the whole
    // prior-round plan and the recompute doubles per iteration (measured:
    // 6.3 s vs 4.8 s for the single-use loop at 3 iters). A LAZY per-round
    // persist makes the two uses share one materialization — the sink-mass
    // collect populates the cache, the contributions join reads it —
    // without the eager per-round checkpoint that serialized the loop into
    // one job per round (the round-6 shape this replaces). A superseded
    // round cache is released as soon as its successor materializes (and
    // the last one after the result does).
    var prevCkpt: Option[DataFrame] = None
    val roundCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    for (i <- 0 until iters) {
      // Dangling mode's per-round plan: ONE join (rank onto edges) and ONE
      // aggregate. The no-inlink nodes are handled by a zero-contribution
      // row per node UNIONED into the same aggregate — cheaper than a left
      // join back to the node list (a second broadcast exchange and a join
      // per round), and bit-identical since the node set contains every
      // destination: summing an extra 0 is the join's coalesce(m, 0).
      // Default mode keeps the left-join formulation: its node set is the
      // SOURCES only, and the join is what drops contributions flowing to
      // out-of-contract dst-only nodes (they must vanish, not accumulate).
      // dangling redistribution: the sinks' total rank is ONE bounded
      // control-plane aggregate per round, collected to the driver and
      // inlined as a literal. The "no driver round-trip" alternative —
      // cross the 1-row sum back as a broadcast so the loop stays one
      // lazy plan — was BUILT AND MEASURED in round 8 (PerfProbe,
      // interleaved A/B at sf0.1): the broadcast form ran 4.3-5.1 s vs
      // 3.3-4.3 s for this collect form, because it adds a second
      // broadcast exchange per round while the loop is ALREADY
      // driver-synchronized every round by the `broadcastRank` broadcast
      // (and, on the SMJ path, a 1-row collect is noise next to the
      // per-round edge shuffle). The collect also materializes the prior
      // round's persisted rank, so the flow join below reads the cache.
      // `dm / n` on non-negative longs floors exactly as the oracle's `//`
      val dmShare = dangling match {
        case Some(d) =>
          rank.join(d, Seq("id"))
            .agg(coalesce(sum(col("rank")), lit(0L)))
            .collect()(0).getLong(0) / n
        case None => 0L
      }
      // that collect just materialized the NEWEST round cache; no future
      // plan can read an older one (each round's plan references only its
      // predecessor), so release them now — a long loop pins at most one
      // rank-table copy plus the 4-round checkpoint, never one per round.
      // Eviction of the newest cache merely recomputes from the last
      // checkpoint (bounded by the cadence), it cannot break correctness.
      while (roundCaches.length > 1) roundCaches.remove(0).unpersist(false)
      rank = dangling match {
        case Some(_) =>
          e.join(hinted(rank), e("src") === rank("id"))
            .select(col("dst").as("id"), expr("`rank` div outdeg").as("c"))
            .unionByName(nodes.select(col("id"), lit(0L).as("c")))
            .groupBy(col("id")).agg(sum(col("c")).as("m"))
            .select(col("id"),
              (lit(teleport) +
                expr(s"$dampNum * (m + $dmShare) div $dampDen")).as("rank"))
        case None =>
          nodes.join(hinted(contributions(e, hinted(rank))), Seq("id"), "left")
            .select(col("id"),
              (lit(teleport) +
                expr(s"$dampNum * coalesce(m, 0L) div $dampDen")).as("rank"))
      }
      // truncate lineage before the plan tree grows superlinear (driver
      // planning time, not data volume, kills long iterative loops).
      // Superseded checkpoints are released as soon as the next one
      // materializes (eager) — a long loop must not pin one rank-table
      // copy per checkpoint for the session's life.
      val checkpointNow = (i + 1) % 4 == 0 && i != iters - 1
      if (checkpointNow) {
        rank = rank.localCheckpoint()
        prevCkpt.foreach(Checkpoints.release)
        prevCkpt = Some(rank)
        // the eager checkpoint is self-contained — every round cache is dead
        roundCaches.foreach(_.unpersist(false))
        roundCaches.clear()
      } else if (danglingMass && i != iters - 1) {
        rank = rank.persist()
        roundCaches += rank
      }
    }
    // one eager materialization hands back a dependency-free result, so the
    // caches can be released immediately. OWNERSHIP: the returned frame is
    // checkpoint-persisted; the caller owns its lifecycle and should
    // release it with `Checkpoints.release(result)` when done — NOT
    // `unpersist()`, which cannot see checkpoint blocks (long-lived
    // sessions invoking many operators would otherwise bleed executor
    // storage one result at a time; the bench releases every entry's
    // result under this contract)
    // when the loop's last round already checkpointed `rank`, that
    // checkpoint IS the result handed to the caller (ownership contract
    // above); otherwise materialize once, then release any superseded
    // intermediate checkpoint the loop still holds
    val result =
      if (prevCkpt.exists(_ eq rank)) rank
      else {
        val r = rank.localCheckpoint()
        prevCkpt.foreach(Checkpoints.release)
        r
      }
    // the result is materialized — the per-round share caches are dead
    roundCaches.foreach(_.unpersist(false))
    part.unpersist(false)
    deg.unpersist(); e.unpersist(); nodes.unpersist()
    dangling.foreach(_.unpersist())
    result
  }

  /** Synchronous label propagation (community detection): starting from
    * label = own id, `iters` rounds of every node adopting its neighbors'
    * most frequent label, ties broken by SMALLEST label. Both rules are
    * total orders over exact integers, so the result is deterministic
    * across engines and partitionings — no hash-order or float hazard.
    *
    * Per-round plan: edges ⋈ labels on src (labels optionally broadcast —
    * one row per node, the same size/shape trade as pageRank's
    * `broadcastRank`), then ONE groupBy(dst, label) count and ONE
    * groupBy(dst) lexicographic-max — `max(struct(cnt, MaxValue-label))`
    * picks (highest count, then lowest label) without a window sort.
    * Nodes keep their previous label when an `iters` round sees no
    * neighbors (can't happen on mirrored edge lists, where every node has
    * in-edges). Labels re-checkpointed per round to keep lineage flat.
    * Returns (id, community).
    */
  def labelPropagation(edges: DataFrame, iters: Int,
      broadcastLabels: Boolean = false): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val nodes = e.select(col("src").as("id")).distinct()
      .unionByName(e.select(col("dst").as("id")).distinct())
      .distinct().persist()
    var labels = nodes.select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val lbl = if (broadcastLabels) broadcast(labels) else labels
      val counted = e.join(lbl, e("src") === lbl("id"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        // lexicographic struct max = (cnt desc, label asc) argmax
        .groupBy(col("dst").as("nid"))
        .agg(max(struct(col("cnt"),
          (lit(Long.MaxValue) - col("label")).as("nl"))).as("m"))
        .select(col("nid"),
          (lit(Long.MaxValue) - col("m.nl")).as("newLabel"))
      val next = labels.join(counted, labels("id") === counted("nid"), "left")
        .select(col("id"),
          coalesce(col("newLabel"), col("label")).as("label"))
        .localCheckpoint()
      prev.foreach(Checkpoints.release)
      prev = Some(labels)
      labels = next
    }
    prev.foreach(Checkpoints.release)
    e.unpersist(); nodes.unpersist()
    labels.select(col("id"), col("label").as("community"))
  }

  /** Triangle enumeration over an undirected pair list via degree-ordered
    * orientation: each edge points from its lower-(degree, id) endpoint to
    * the higher one, which bounds every out-neighborhood by O(√m) — wedge
    * generation cannot explode on hub nodes the way naive id-ordered
    * two-path joins do (a hub of degree d contributes C(d,2) wedges under
    * id order, but its edges orient INTO it under degree order). The
    * classic MapReduce triangle-count shape (Suri & Vassilvitskii):
    * orient → wedge join on the center → close with one more equi-join.
    * Output: one row per triangle as canonical sorted ids (a < b < c).
    */
  def triangles(pairs: DataFrame): DataFrame = {
    val und = pairs.select(
        least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().persist()
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    // orientation key: (degree, id) — total order, broadcastable (one row
    // per node; key-join for graphs whose node set outgrows a broadcast)
    val du = deg.select(col("id").as("u"), col("d").as("du"))
    val dv = deg.select(col("id").as("v"), col("d").as("dv"))
    val oriented = und.join(broadcast(du), "u").join(broadcast(dv), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("dv"))
          .otherwise(col("du")).as("dt"))
      .persist()
    // wedges centered on s: unordered out-neighbor pairs, ordered by the
    // same (degree, id) key so each wedge is generated once
    val a = oriented.select(col("s"), col("t").as("x"), col("dt").as("dx"))
    val b = oriented.select(col("s"), col("t").as("y"), col("dt").as("dy"))
    val wedges = a.join(b, "s")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    // close: the (x, y) edge, if present, is oriented x→y under the SAME
    // key order the wedge filter used — one equi-join, no disjunction
    val closing = oriented.select(col("s").as("x"), col("t").as("y"))
    val tri = wedges.join(closing, Seq("x", "y"))
      .select(array_sort(array(col("s"), col("x"), col("y"))).as("n"))
      .select(col("n").getItem(0).as("a"), col("n").getItem(1).as("b"),
        col("n").getItem(2).as("c"))
    und.unpersist(); oriented.unpersist()
    tri
  }

  /** k-core decomposition by iterative peeling, `rounds` rounds unrolled
    * (the oracle replays each round as a CTE; on a converged graph the
    * result IS the k-core fixpoint — callers size `rounds` to the graph's
    * peel depth the same way `pageRank`/`labelPropagation` size `iters`).
    * Input is a MIRRORED edge list (both directions present, like
    * [[labelPropagation]]), so every node appears as `src` and degree is
    * one `groupBy(src)`. Per round: two semi-joins restrict edges to
    * surviving endpoints, one map-side-combined count aggregate, a
    * threshold filter — all key-partitioned, nothing grows with rounds;
    * the survivor set is `localCheckpoint`ed per round so plans stay flat.
    * Output: (id, deg) of nodes alive after the final round, with their
    * degree inside that round's surviving subgraph. Caller owns the
    * result per the [[Checkpoints]] contract.
    */
  /** Adamic–Adar link prediction over an undirected pair list: for every
    * non-adjacent pair (x, y) sharing at least one neighbor, score
    * AA = Σ_z 1/ln(deg z) over common neighbors z — the classic
    * local-structure "who should be connected" heuristic. Each term is
    * integerized to `round(1e6/ln(deg))` BEFORE the per-pair sum
    * (micro-nat discipline → reduction-order-free; a wedge center has
    * deg ≥ 2, so ln > 0). Wedge generation costs Σ C(deg, 2); pass
    * `maxDegree` to drop hub centers past the cap (standard AA practice —
    * a hub's 1/ln(deg) contribution is noise anyway), which bounds the
    * worst task. Existing edges are removed by one left-anti join; the
    * top-k reduces through TakeOrdered. Output: (id_x, id_y,
    * common_nbrs, aa_micro), id_x < id_y.
    */
  def adamicAdar(pairs: DataFrame, maxDegree: Option[Int] = None,
      topK: Int = 50): DataFrame = {
    val und = pairs.select(
        least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val nbrs = und.select(explode(array(
        struct(col("u").as("z"), col("v").as("x")),
        struct(col("v").as("z"), col("u").as("x")))).as("e"))
      .select(col("e.z").as("z"), col("e.x").as("x"))
    val deg = nbrs.groupBy(col("z")).agg(count(lit(1)).as("d"))
    // d >= 2 before the term: a degree-1 center has ln(d) = 0, where Spark
    // (non-ANSI) folds 1e6/0 → Infinity → Long.MaxValue but DuckDB yields
    // NULL, and ANSI mode would throw on the cast. Unobservable today
    // (deg-1 centers form no x<y wedge) but load-bearing against any
    // refactor that exposes `term` — and it matches the wedge-center
    // invariant anyway (a wedge needs two distinct neighbors).
    val centers0 = nbrs.join(deg.filter(col("d") >= 2), Seq("z"))
      .withColumn("term",
        expr("CAST(round(1e6 / ln(CAST(d AS DOUBLE))) AS BIGINT)"))
    val centers = maxDegree.fold(centers0)(cap =>
      centers0.filter(col("d") <= cap))
    val a = centers.select(col("z"), col("x"), col("term"))
    val b = centers.select(col("z"), col("x").as("y"))
    val scored = a.join(b, Seq("z"))
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("id_x"), col("y").as("id_y"))
      .agg(count(lit(1)).as("common_nbrs"), sum(col("term")).as("aa_micro"))
    val out = scored
      .join(und.select(col("u").as("id_x"), col("v").as("id_y")),
        Seq("id_x", "id_y"), "left_anti")
      .orderBy(col("aa_micro").desc, col("id_x").asc, col("id_y").asc)
      .limit(topK)
    out
  }

  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    var alive = e.select(col("src").as("id")).distinct()
      .withColumn("deg", lit(0L)).localCheckpoint()
    for (_ <- 1 to rounds) {
      val ea = e
        .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
      val next = ea.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .localCheckpoint()
      Checkpoints.release(alive)
      alive = next
    }
    e.unpersist()
    alive
  }

  /** Bounded-depth BFS reachability from a seed set: minimal hop distance
    * to every node within `maxDepth` hops. The Spark-native transitive
    * closure — each round is ONE equi-join of the current FRONTIER (not
    * the whole visited set) with the edge list, one distinct, and one
    * anti-join against the visited set; per-round cost is proportional to
    * the frontier's edge neighborhood, never to what is already settled.
    * BFS order guarantees the first discovery IS the minimal distance, so
    * no min-aggregate over paths is needed (the recursive-CTE oracle
    * enumerates (node, dist) pairs and takes the min; same result).
    *
    * Each frontier is eagerly `localCheckpoint`ed — the loop's plans would
    * otherwise nest one join per round deep, and the anti-join against
    * `visited` would re-derive every prior round per iteration. An eager
    * cut per round is right here (unlike pageRank's lazy cadence) because
    * the isEmpty early-exit already materializes each round anyway.
    * Visited stays cached per round and is bounded by the node count.
    *
    * Scale shape: edges pre-partitioned by `src` are reused by every
    * round's join (the frontier is the small side and moves to the edge
    * partitioning); a 1000-executor run settles a billion-node graph in
    * maxDepth shuffles of frontier size, which is the textbook Pregel BFS
    * cost. Output: (id, dist) — seeds at dist 0.
    */
  def reachability(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).repartition(col("src")).persist()
    // visited = lazy UNION of the per-round checkpointed frontiers: each
    // round pays ONE eager checkpoint (the new frontier — bounded by the
    // round's discoveries) instead of also re-checkpointing the whole
    // visited set (an O(|visited|) copy job per round). The union of
    // checkpointed LogicalRDDs keeps the plan flat, and Checkpoints.release
    // on the returned union releases every part (release walks ALL
    // RDD-backed sources of the plan).
    var frontier = seeds.select(col("id").cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    val parts = scala.collection.mutable.Buffer(frontier)
    def visited = parts.reduce(_ union _)
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      depth += 1
      val next = frontier.select(col("id").as("src"))
        .join(e, Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti")
        .withColumn("dist", lit(depth.toLong))
        .localCheckpoint()
      parts += next
      frontier = next
    }
    e.unpersist()
    visited
  }

  /** Personalized PageRank: random walk with restart to a SEED set — the
    * "importance relative to these nodes" ranking (seed-anchored corpus
    * expansion: start from known-good domains/docs, rank the neighborhood).
    * Differs from [[pageRank]] in exactly one term: the teleport mass
    * lands only on seeds (scale/|S| each), all other arithmetic is the
    * same exact-integer contract, so the result is bit-identical across
    * engines and the oracle unrolls the rounds like q53's.
    *
    * The rank table stays SPARSE — only nodes reached by the walk carry
    * rows — so early rounds touch the seed neighborhood, not the graph
    * (the BFS-frontier property [[reachability]] exploits, with mass).
    * Per round: ONE equi-join (rank onto the cached degree-folded edges)
    * + ONE aggregate; the teleport rides the same aggregate as a unioned
    * seed-row arm (no per-round second join — the dangling-mode trick).
    * Requirement (as [[pageRank]] default mode): reached nodes must have
    * out-edges — build edge lists bidirectionally for undirected graphs.
    * Output: (id, rank) in `scale` units; absent node = rank 0.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L,
      edgesDistinct: Boolean = false,
      broadcastRank: Boolean = true): DataFrame = {
    // broadcastRank default ON (opposite of pageRank): the PPR rank table
    // starts seed-sized and grows with the walk's reach, so it broadcasts
    // comfortably for seed-anchored expansion; flip OFF when the walk
    // saturates a billion-node graph and the SMJ path is the right shape
    def hinted(df: DataFrame) = if (broadcastRank) broadcast(df) else df
    val raw = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val deduped = if (edgesDistinct) raw else raw.distinct()
    val part = if (broadcastRank) deduped else deduped.repartition(col("src"))
    val deg = part.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = part.join(broadcast(deg), "src").cache()
    val sd = seeds.select(col("id").cast("long").as("id")).distinct().cache()
    val ns = sd.count()
    require(ns > 0, "personalized pagerank needs a non-empty seed set")
    val unit = scale / ns
    val teleport = (dampDen - dampNum) * unit / dampDen
    val tele = sd.select(col("id"), lit(teleport).as("c"))
    var rank = sd.select(col("id"), lit(unit).as("rank"))
    var prevCkpt: Option[DataFrame] = None
    for (i <- 0 until iters) {
      rank = contributions(e, hinted(rank))
        .select(col("id"), expr(s"$dampNum * m div $dampDen").as("c"))
        .unionByName(tele)
        .groupBy(col("id")).agg(sum(col("c")).as("rank"))
      if ((i + 1) % 4 == 0 && i != iters - 1) {
        rank = rank.localCheckpoint()
        prevCkpt.foreach(Checkpoints.release)
        prevCkpt = Some(rank)
      }
    }
    val result =
      if (prevCkpt.exists(_ eq rank)) rank
      else {
        val r = rank.localCheckpoint()
        prevCkpt.foreach(Checkpoints.release)
        r
      }
    e.unpersist(false)
    sd.unpersist(false)
    result
  }

  /** Newman modularity of a GIVEN node partition over an undirected graph:
    * per community c, `Q_c = e_c/m − (d_c/2m)²` where `e_c` counts
    * intra-community edges, `d_c` sums member degrees, `m` counts edges —
    * the standard "is this clustering better than chance" readout for
    * label-propagation / topic / dedup-cluster partitions (`Σ_c Q_c = Q`).
    *
    * Exactness: everything emitted is an exact long — the per-community
    * NUMERATOR `num_c = 4·m·e_c − d_c²` over the common denominator 4m²
    * (so `Q_c = num_c/4m²`; summing numerators downstream reconstructs Q
    * with ONE division, no per-community rounding drift). Long range holds
    * to m ≈ 10⁹ edges with d_c ≤ 2m ≈ 10⁹·2... beyond that (the 100 TB
    * web graph) switch the two products to DECIMAL(38,0) — the plan shape
    * is unchanged.
    *
    * Plan shape: canonical-distinct the edge list once (cached — it feeds
    * degrees, intra-edge counting, and m), one aggregate for degrees, two
    * key joins of the bounded (node → community) map onto edge endpoints,
    * community-grain aggregates, and m as a bounded driver scalar (the
    * k-means-centroid control-plane pattern). No cartesian, nothing wider
    * than the edge list itself.
    *
    * `comms` maps (id, comm); nodes missing from it are dropped from the
    * readout (their edges still count toward m and endpoint degrees).
    * Output: (comm, n_nodes, e_intra, d_tot, num_c) per community.
    */
  def modularity(pairs: DataFrame, comms: DataFrame): DataFrame = {
    val und = pairs.select(
        least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().persist()
    val m = und.count() // bounded control-plane scalar
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val cm = comms.select(col("id"), col("comm"))
    val dTot = deg.join(cm, Seq("id"))
      .groupBy(col("comm"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
    val eIntra = und
      .join(cm.select(col("id").as("u"), col("comm").as("cu")), Seq("u"))
      .join(cm.select(col("id").as("v"), col("comm").as("cv")), Seq("v"))
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("comm")).agg(count(lit(1)).as("e_intra"))
    val out = dTot.join(eIntra, Seq("comm"), "left")
      .select(col("comm"), col("n_nodes"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"), col("d_tot"),
        (lit(4L) * lit(m) * coalesce(col("e_intra"), lit(0L)) -
          col("d_tot") * col("d_tot")).as("num_c"))
    // community-grain (bounded) result; eager localCheckpoint materializes
    // it before the edge cache is released — the caller owns the blocks
    // (the Bench/test release contract, same as kCore/pageRank)
    val r = out.localCheckpoint()
    und.unpersist(false)
    r
  }

  /** HITS (Kleinberg) hubs-and-authorities over a DIRECTED edge list —
    * the link-analysis readout PageRank can't give: on a bipartite
    * buyer→product graph, authority scores the pointed-at side by the
    * quality of its pointers and hub scores the pointing side by the
    * quality of what it points at, mutually reinforcing.
    *
    * Exactness: power iteration with L1 (sum) normalization instead of
    * the textbook L2 — the renormalized score is the exact floor
    * `raw · scale div total`, all longs, so results are bit-identical
    * across engines and partitionings and the oracle replays the rounds
    * in chained CTEs (the q70 pagerank pattern). Overflow bound: each
    * normalized score ≤ `scale`, so a raw in-sum ≤ |E|·scale and the
    * renormalization product ≤ |E|·scale² — with the default micro scale
    * (10⁶) that holds to |E| ≈ 9·10⁶ in long range; larger graphs raise
    * to DECIMAL(38,0) with the same plan shape.
    *
    * Per-round plan: TWO edge⋈score joins and two per-node aggregates
    * (auth from the hubs, then hubs from the fresh auth), each followed
    * by a 1-row total collected to the driver and inlined (the dangling-
    * mass control-plane pattern — measured cheaper than a broadcast
    * re-join in the pagerank A/B). Edges are cached once; scores are
    * node-sized and broadcast by default (`broadcastScores = false` for
    * billion-node graphs keeps co-partitioned SMJ). Nodes missing from a
    * side (never pointed at / never pointing) carry score 0 there.
    *
    * OWNERSHIP: the result is checkpoint-persisted; release with
    * `Checkpoints.release` (the pageRank contract). Output:
    * (id, auth_scaled, hub_scaled) per node, sums ≈ scale each.
    */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000L,
      edgesDistinct: Boolean = false,
      broadcastScores: Boolean = true): DataFrame = {
    // iters == 0 would leave `auth` null and NPE at the final join — guard
    // it like the node-count bound below
    require(iters > 0, s"hits needs iters > 0, got $iters")
    val raw = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val e = (if (edgesDistinct) raw else raw.distinct()).cache()
    val nodes = e.select(col("src").as("id")).distinct()
      .union(e.select(col("dst").as("id")).distinct()).distinct().cache()
    val n = nodes.count()
    require(n > 0 && n <= scale, s"hits needs 0 < n <= scale, got n=$n")
    def hinted(df: DataFrame) = if (broadcastScores) broadcast(df) else df
    def renorm(rawScores: DataFrame, c: String): DataFrame = {
      // 1-row control-plane total, inlined as a literal so the floor
      // division `raw * scale div total` is mirrored verbatim
      val tot = rawScores.agg(coalesce(sum(col(c)), lit(0L)))
        .collect()(0).getLong(0)
      require(tot > 0, "hits: zero total mass (graph has no edges?)")
      nodes.join(hinted(rawScores), Seq("id"), "left")
        .select(col("id"),
          expr(s"coalesce($c, 0L) * ${scale}L div ${tot}L").as(c))
    }
    var hub = nodes.select(col("id"), lit(scale / n).as("h"))
    var auth: DataFrame = null
    val caches = scala.collection.mutable.Buffer.empty[DataFrame]
    for (i <- 0 until iters) {
      val aRaw = e.join(hinted(hub.select(col("id").as("src"), col("h"))),
          Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a"))
      auth = renorm(aRaw, "a").persist()
      caches += auth
      val hRaw = e.join(hinted(auth.select(col("id").as("dst"), col("a"))),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("h"))
      hub = renorm(hRaw, "h")
      if (i != iters - 1) { hub = hub.persist(); caches += hub }
      // release superseded round caches (each round reads only its
      // predecessor; the renorm collect just materialized the newest)
      while (caches.length > 2) caches.remove(0).unpersist(false)
    }
    val out = auth.join(hub, Seq("id"))
      .select(col("id"), col("a").as("auth_scaled"), col("h").as("hub_scaled"))
    val r = out.localCheckpoint()
    caches.foreach(_.unpersist(false))
    e.unpersist(false)
    nodes.unpersist(false)
    r
  }

  /** Strongly connected components of a BOUNDED-node directed graph —
    * the recurrence structure of a state machine (event-type transition
    * graphs, crawl/redirect maps, workflow DAG validation: an SCC of
    * size > 1 is a cycle): scc(v) = min{u : v→*u and u→*v} (v itself
    * always qualifies), so two mutually-reachable nodes share a label
    * and a DAG gets all-singleton labels.
    *
    * Algorithm: the distinct edges reach ONE task (the distinct's final
    * aggregate is coalesced to a single partition, so no second
    * exchange), which runs an iterative Tarjan pass — O(nodes + edges),
    * no recursion, no per-round Spark jobs — and labels each component
    * with its smallest node id. This is the small-graph pattern of
    * [[Dedup.connectedComponents]]'s union-find path.
    *
    * Bound: the task holds the graph in memory, so it refuses a graph
    * with more than `maxNodes` distinct node ids (it stops reading at the
    * first id past the bound); the driver rethrows that
    * `IllegalArgumentException`. Corpus-grain SCC needs a distributed
    * (multi-pivot forward-backward) decomposition, out of scope here.
    *
    * Output: (id, scc), node ids as longs, every node of any edge once.
    * The result is persisted and materialized before return (that is how
    * the bound is enforced at the call); the caller owns it and
    * `unpersist()`s it when done. */
  def scc(edges: DataFrame, maxNodes: Int = 10000): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val out = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().coalesce(1)
      .as[(Long, Long)]
      .mapPartitions(it => tarjanMinLabels(it, maxNodes))
      .toDF("id", "scc")
      .persist()
    try out.count()
    catch { case e: org.apache.spark.SparkException =>
      out.unpersist(false)
      throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case bound: IllegalArgumentException => bound }
        .getOrElse(e)
    }
    out
  }

  /** (node, smallest node id of its strongly connected component) for
    * every node of `edges`, by iterative Tarjan. Raises
    * `IllegalArgumentException` once more than `maxNodes` node ids are
    * seen. Duplicate edges are harmless (a repeat visit changes no
    * low-link). */
  private[operators] def tarjanMinLabels(edges: Iterator[(Long, Long)],
      maxNodes: Int): Iterator[(Long, Long)] = {
    import scala.collection.mutable.{ArrayBuffer, LongMap}
    val index = LongMap.empty[Int]
    val ids = ArrayBuffer.empty[Long]
    val adj = ArrayBuffer.empty[ArrayBuffer[Int]]
    def node(v: Long): Int = index.getOrElse(v, {
      require(ids.size < maxNodes,
        s"scc: more than maxNodes=$maxNodes nodes — this in-memory SCC is " +
          "for state-machine-grain graphs; decompose or raise the bound")
      index(v) = ids.size; ids += v; adj += ArrayBuffer.empty[Int]
      ids.size - 1
    })
    edges.foreach { case (s, d) => val a = node(s); adj(a) += node(d) }
    val n = ids.size
    val order = Array.fill(n)(-1) // DFS discovery index, -1 = unvisited
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    var sp = 0
    val frameNode = new Array[Int](n) // explicit DFS call stack:
    val frameEdge = new Array[Int](n) // node and its next edge position
    var fp = 0
    val label = new Array[Long](n)
    var counter = 0
    def visit(v: Int): Unit = {
      order(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      frameNode(fp) = v; frameEdge(fp) = 0; fp += 1
    }
    for (root <- 0 until n if order(root) < 0) {
      visit(root)
      while (fp > 0) {
        val v = frameNode(fp - 1)
        val i = frameEdge(fp - 1)
        if (i < adj(v).length) {
          frameEdge(fp - 1) = i + 1
          val w = adj(v)(i)
          if (order(w) < 0) visit(w)
          else if (onStack(w)) low(v) = math.min(low(v), order(w))
        } else {
          fp -= 1
          if (low(v) == order(v)) { // v roots a component: pop it
            var top = sp
            var m = Long.MaxValue
            while ({ top -= 1; m = math.min(m, ids(stack(top))); stack(top) != v }) ()
            for (k <- top until sp) { label(stack(k)) = m; onStack(stack(k)) = false }
            sp = top
          }
          if (fp > 0) {
            val u = frameNode(fp - 1)
            low(u) = math.min(low(u), low(v))
          }
        }
      }
    }
    Iterator.range(0, n).map(v => (ids(v), label(v)))
  }
}
