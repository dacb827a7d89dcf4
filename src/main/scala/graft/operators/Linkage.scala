package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Tables.spread

/** Record linkage (entity resolution): find pairs of records that refer to
  * the same real-world entity despite textual drift in their names/keys.
  *
  * The classic scale trap is the all-pairs comparison — O(N²) string
  * distances. The standard fix (and the one here) is *blocking*: a cheap
  * deterministic key (prefix, phonetic code, sorted-token signature) that
  * any true match must share. Candidates then come from an EQUI-join on the
  * block key — a hash-partitioned shuffle join Catalyst plans natively —
  * and the expensive edit-distance only runs inside blocks:
  * Σ C(|block|, 2) comparisons instead of C(N, 2).
  *
  * Plan shape at 100 TB: one shuffle of the narrow (id, name, block)
  * projection on the block key; no cartesian, no broadcast of a data-sized
  * side. Skewed (hot) blocks are the residual risk — `maxBlockSize`
  * drops blocks too big to mean anything (a blocking key shared by
  * thousands of records has stopped discriminating; standard practice is
  * to re-block those with a stronger key), which also bounds the worst
  * task. The cap is applied via a window count, not a groupBy+join, so it
  * adds no extra shuffle beyond the one the join already needs.
  */
object Linkage {

  /** Candidate pairs from `df` sharing `blockKey` with
    * `levenshtein(name_a, name_b) <= maxDist`, `id_a < id_b`.
    * Output: (id_a, id_b, dist). Levenshtein is Spark's codegen'd native
    * expression — no UDF in the hot loop.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
      blockKey: Column, maxDist: Int,
      maxBlockSize: Option[Int] = None): DataFrame = {
    val proj0 = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      blockKey.as("block"))
    val proj = maxBlockSize match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("block"))
        proj0.withColumn("bn", count(lit(1)).over(w))
          .filter(col("bn") <= cap).drop("bn")
      case None => proj0
    }
    // the blocked pair join broadcasts the build side at these sizes, so
    // on a one-split scan the WHOLE pair expansion + scorer would run in
    // that single task (measured: one 2.9 s task carrying all of q84's
    // levenshtein pairs) — spread the probe side
    val a = spread(proj.select(col("id").as("id_a"),
      col("name").as("name_a"), col("block")))
    val b = proj.select(col("id").as("id_b"), col("name").as("name_b"),
      col("block"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** [[fuzzyPairs]] with the Jaro–Winkler scorer instead of Levenshtein —
    * the similarity that rewards shared prefixes and tolerates
    * transpositions (person/company names). Same blocked-equi-join shape
    * and `maxBlockSize` hot-block cap; the score is the native
    * [[graft.functions.JaroWinklerSim]] codegen expression, integerized
    * to micro per pair (`round(jw·1e6)`) so thresholds and hashes are
    * engine-exact. Output: (id_a, id_b, jw_micro) with
    * jw_micro ≥ `minSimMicro`, id_a < id_b. */
  def jaroPairs(df: DataFrame, idCol: String, nameCol: String,
      blockKey: Column, minSimMicro: Long,
      maxBlockSize: Option[Int] = None): DataFrame = {
    import graft.functions.JaroWinkler.jaroWinkler
    val proj0 = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      blockKey.as("block"))
    val proj = maxBlockSize match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("block"))
        proj0.withColumn("bn", count(lit(1)).over(w))
          .filter(col("bn") <= cap).drop("bn")
      case None => proj0
    }
    val a = spread(proj.select(col("id").as("id_a"),
      col("name").as("name_a"), col("block")))
    val b = proj.select(col("id").as("id_b"), col("name").as("name_b"),
      col("block"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jw_micro",
        round(jaroWinkler(col("name_a"), col("name_b")) * 1e6).cast("long"))
      .filter(col("jw_micro") >= minSimMicro)
      .select(col("id_a"), col("id_b"), col("jw_micro"))
  }

  /** Sorted-neighborhood candidate generation — the complementary
    * blocking strategy: records sorted by a key, each compared only to
    * its next `window − 1` neighbors in sort order. Catches matches that
    * straddle a block boundary (prefix blocking's blind spot: "alpha" vs
    * "alpho" share no 5-prefix) at a guaranteed N·(window−1) comparison
    * budget — no hot-block risk at all.
    *
    * A Spark window with ORDER BY and no PARTITION BY plans a SINGLE
    * partition (WindowExec's requirement) — single-task and OOM-bound at
    * exactly the corpus scales this operator targets. So the sort is
    * sharded instead: `repartitionByRange` on the (key, id) total order,
    * per-shard `lead` windows (the shard id is the window PARTITION key,
    * restoring full parallelism), and each shard receives its first
    * `window − 1` GLOBAL successor rows as lead-only "borrow" rows so
    * boundary-straddling neighbor pairs are not lost. The successors are
    * assembled exactly from the bounded head set (every shard's first
    * `window − 1` rows + per-shard counts — ≤ shards·(window−1) rows, a
    * control-plane collect like the k-means centroid fold; walking shards
    * in range order covers underfull and empty shards, which a naive
    * "borrow from the next shard" would miss). Range partitioning makes
    * every borrowed row sort AFTER the receiving shard's native rows, so
    * the per-shard order concatenates to the global (key, id) order and
    * the emitted pair set is IDENTICAL to the one-task global sort's.
    * Borrowed rows serve only as lead targets (pairs emit from native
    * rows), so nothing double-counts. Cost: the range exchange + one hash
    * exchange on the shard id, both full-width and fully parallel.
    * Output: (id_a, id_b, dist) with id_a < id_b, dist ≤ `maxDist`.
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, nameCol: String,
      sortKey: Column, window: Int, maxDist: Int): DataFrame = {
    require(window >= 2, "window must cover at least one neighbor")
    val spark = df.sparkSession
    val shards = spark.sessionState.conf.numShufflePartitions
    // persist freezes the shard assignment: the native and borrow branches
    // below MUST see the same row→shard mapping (range sampling is
    // plan-deterministic, but two physical scans are two samplings)
    val parts = df.select(col(idCol).as("id"), col(nameCol).as("name"),
        sortKey.as("sk"))
      .repartitionByRange(shards, col("sk").asc, col("id").asc)
      .withColumn("pid", spark_partition_id())
      .persist()
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("sk").asc, col("id").asc)
    // bounded head set + shard counts → exact per-shard successor lists,
    // assembled on the driver (needed ≤ window−1 rows per shard, and each
    // shard's head set holds its first min(count, window−1) rows, so
    // walking shards in order always covers the demand)
    val headRows = parts
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") < window)
      .orderBy(col("pid").asc, col("rn").asc)
      .select(col("id"), col("name"), col("sk"), col("pid"))
      .collect()
    val borrowRows = (0 until shards - 1).flatMap { p =>
      headRows.iterator.filter(_.getInt(3) > p).take(window - 1).map { r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), p)
      }
    }
    val borrows = spark.createDataFrame(
        spark.sparkContext.parallelize(borrowRows.toList,
          math.max(1, borrowRows.size / 64 + 1)),
        parts.schema)
      .withColumn("borrowed", lit(true))
    val aug = parts.withColumn("borrowed", lit(false)).unionByName(borrows)
    val withLeads = aug
      .withColumn("nbrs", array((1 until window).map(i =>
        lead(struct(col("id"), col("name")), i).over(pw)): _*))
      .filter(!col("borrowed"))
    val out = withLeads
      .select(col("id"), col("name"), explode(col("nbrs")).as("nb"))
      .filter(col("nb").isNotNull)
      .select(least(col("id"), col("nb.id")).as("id_a"),
        greatest(col("id"), col("nb.id")).as("id_b"),
        levenshtein(col("name"), col("nb.name")).as("d"))
      .filter(col("d") <= maxDist)
      .select(col("id_a"), col("id_b"), col("d").cast("long").as("dist"))
    // materialize before releasing the frozen shard assignment: the
    // result is persisted (callers unpersist), `parts` must not be
    // recomputed with a fresh range sampling after its unpersist
    val fin = out.persist()
    fin.count()
    parts.unpersist(false)
    fin
  }
}
