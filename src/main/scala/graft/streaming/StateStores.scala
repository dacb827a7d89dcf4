package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store provider selection for the stateful streaming operators
  * ([[StreamingDedup.intervalJoin]]/-Left/-Full, [[StreamingDedup.cappedSessions]],
  * [[StreamingDedup.dedupWithinWatermark]], windowed aggregations).
  *
  * The provider is a session-level Spark conf that BINDS WHEN A STREAMING
  * QUERY STARTS — it cannot be attached to a DataFrame, so it is exposed
  * here as a scoped wrapper around whatever starts the query.
  *
  * Trade-off (the reason this knob exists):
  *  - `HDFSBacked` (Spark's default): every key's state lives as JVM
  *    objects ON-HEAP in each executor, snapshotted to the checkpoint dir.
  *    Fastest at small state, but state competes with execution memory —
  *    at production key cardinality (a stream-stream interval join buffers
  *    `lateness + bound` of event time for BOTH streams per key) heap
  *    state means GC pressure, then OOM.
  *  - `RocksDB` (built-in since Spark 3.2): state lives off-heap in an
  *    embedded RocksDB per partition, spilling to local disk, with
  *    incremental (changelog) checkpointing. Bounded memory at any key
  *    cardinality; the production choice for the operators above when key
  *    counts stop fitting comfortably on-heap. Costs per-access
  *    serialization — measurably slower on tiny state, irrelevant once
  *    state exceeds cache sizes.
  *
  * The results are provider-independent (the q55/q71/q72 parity oracles
  * hold under either; `StreamingSpec` runs the interval join under RocksDB
  * against the batch oracle).
  */
object StateStores {
  val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  val RocksDB =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val HDFSBacked =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Run `body` with the given state-store provider set; restores the
    * previous setting afterwards. Scope it around query START (for
    * `AvailableNow`/`processAllAvailable` runs, around the whole run):
    * queries already running keep the provider they started with. */
  def withProvider[T](spark: SparkSession, provider: String)(body: => T): T =
    graft.GraftSession.withConf(spark, ProviderConf -> provider)(body)

  /** [[withProvider]] pinned to RocksDB — the high-cardinality path. */
  def withRocksDB[T](spark: SparkSession)(body: => T): T =
    withProvider(spark, RocksDB)(body)
}
