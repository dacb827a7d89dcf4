package graft.operators

import org.apache.spark.sql.DataFrame

/** Storage lifecycle for checkpoint-backed results.
  *
  * Iterative operators (`Graph.pageRank`, `KMeans.assign`,
  * `IncrementalDedup.processBatch`) return `localCheckpoint`-materialized
  * frames: the caller owns them, and `Dataset.unpersist` CANNOT release
  * them — checkpoint blocks are plain persisted RDDs with no CacheManager
  * entry, so unpersist on the Dataset is a silent no-op. Call
  * [[Checkpoints.release]] on such a result when done with it (the bench
  * does exactly this per entry); cache-`persist`ed results (the dedup pair
  * tables) keep using plain `unpersist()`.
  */
object Checkpoints {
  /** Release the storage behind a `localCheckpoint`ed frame.
    *
    * Only call this on a frame you OWN under the contract above: it
    * unpersists every RDD-backed source (`LogicalRDD`) in the plan, and a
    * non-checkpoint RDD source (e.g. a `createDataFrame(rdd, _)` ingest
    * whose backing RDD is persisted and shared) would be evicted too. A
    * frame with no RDD-backed source is a safe no-op. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** Eagerly materialize a (small) operator result, then release the
    * `persist`ed intermediates it was built from (sketch tables, vocab and
    * model tables, cached aggregate inputs). They are only needed while
    * the result's plan runs, and CacheManager holds persisted plans until
    * an explicit unpersist, so a long-lived session calling the operator
    * repeatedly would otherwise accumulate caches without bound. The
    * returned frame stays persisted: it is the operator's output (pair,
    * label, score or stats tables, far smaller than the corpus), and the
    * caller `unpersist()`s it. */
  def finalized(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.persist()
    // a noop write fills the cache in one pass over the result's
    // partitions; `count()` on a multi-partition result adds an exchange
    // and a final aggregate, one more job
    out.write.format("noop").mode("overwrite").save()
    cached.foreach(_.unpersist(false))
    out
  }
}
