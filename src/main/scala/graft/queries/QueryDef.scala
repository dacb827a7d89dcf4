package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark DataFrame program plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Column names must match exactly between the two (the driver's
  * compare sorts columns by name before hashing). `oracle = None` marks
  * operators whose semantics are not SQL-expressible (probabilistic /
  * loader-side); those get a weaker rows-only check.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {
  /** All testdata tables are single parquet files `{dir}/{name}.parquet`.
    * The schema comes from the file's footer, read on the driver, so the
    * read plans no schema-inference job. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(graft.core.ParquetFooter.fileSchema(spark, path))
      .parquet(path)
  }

  /** `events` with `ts` normalized to a microsecond timestamp. Parquet
    * written by different tools lands differently in Spark: TIMESTAMP(NANOS)
    * reads as a nanos-since-epoch long (under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which [[graft.GraftSession]]
    * sets), while pyarrow/pandas `timestamp[us]` (no timezone) reads as
    * TIMESTAMP_NTZ. A real ingest sees all of these on day one, so the
    * engine accepts them all here. DuckDB oracles must
    * `CAST(ts AS TIMESTAMP)` for the same value.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(t(spark, dir, "events"))

  /** Normalize an events-shaped frame's `ts` to a microsecond TIMESTAMP,
    * whichever way the session read it: nanos-as-long (legacy flag),
    * TIMESTAMP_NTZ (pyarrow `timestamp[us]` without timezone), or already
    * TIMESTAMP. THE single home for this dance — replicated/synthetic event
    * frames qualify too, which is why it takes a DataFrame rather than a
    * path. `ts div 1000` keeps integer precision for the nanos case (a
    * double division would lose sub-second bits past 2^53); the NTZ cast is
    * value-preserving because [[graft.GraftSession]] pins the session
    * timezone to UTC. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Spread `df` across the session's parallelism when its physical
    * partitioning is narrower than half the shuffle parallelism. The
    * driver's testdata is single-row-group parquet, which Spark plans as a
    * ONE-task scan (a parquet row group belongs to exactly one split), so
    * per-row-expensive stages (regex, shingling, hashing, explode) that
    * ride scan partitioning lose all parallelism — the round-8 lesson:
    * never let expensive per-row work inherit file layout. A NO-OP on
    * well-split inputs (real multi-row-group data at cluster scale), so
    * the defensive exchange costs nothing where it isn't needed. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= math.max(2, target / 2)) df
    else df.repartition(target)
  }

  /** [[t]] + [[spread]]: the read for tables feeding per-row-EXPENSIVE
    * operators (the text/dedup family over `documents`: regex, shingling,
    * rolling hashes). Measured boundary: cheap-per-row stages (plain
    * aggregates, Expand row blow-ups the map-side combiner absorbs) run
    * FASTER on the 1-task scan than behind a full-width shuffle — q1/q15
    * cost ~2x spread; text_cap_per_source costs ~20x UNspread. Spread
    * pays for expensive rows, not for many rows. */
  def ts(spark: SparkSession, dir: String, name: String): DataFrame =
    spread(t(spark, dir, name))

  /** Stage `{dir}/{name}.parquet` behind a temp directory symlink — the
    * file streaming source monitors DIRECTORIES, and the testdata tables
    * are single files. Absolute target (a relative data dir would produce
    * a broken relative symlink); both paths registered for exit cleanup,
    * link before dir so the dir is empty when its turn comes. */
  def stagedStreamDir(dir: String, name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"stream-$name")
    d.toFile.deleteOnExit()
    val link = d.resolve(s"$name.parquet")
    link.toFile.deleteOnExit()
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(s"$dir/$name.parquet").toAbsolutePath)
    d.toString
  }

  /** `events` as a STREAMING frame with `ts` normalized to microseconds —
    * the streaming analog of [[events]]. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val sch = t(spark, dir, "events").schema
    normalizeEventTs(spark.readStream.schema(sch)
      .parquet(stagedStreamDir(dir, "events")))
  }
}
