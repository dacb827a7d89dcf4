package graft

import org.apache.spark.sql.SparkSession

/** The one home for building a session and for scoping a conf.
  *
  * Every main (Bench, Verify, the tools, GraftTarget when no caller
  * session is live) builds its session here, so they all run under the
  * same rules:
  *  - master `SPARK_MASTER` if set, else `local[cpus]`;
  *  - `cpus` from `SPARK_GRAFT_CPUS`, else the JVM's available processors,
  *    and `spark.sql.shuffle.partitions = cpus`;
  *  - session time zone UTC (the TIMESTAMP_NTZ → TIMESTAMP cast in
  *    `Tables.normalizeEventTs` is value-preserving only under UTC);
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`, so TIMESTAMP(NANOS)
  *    parquet (`events.parquet`) reads as a nanos long instead of failing;
  *  - UI off, log level ERROR;
  *  - AQE and its partition coalescing left at the Spark 4 defaults (on).
  *
  * Every "set a conf, run, put it back" goes through [[withConf]].
  */
object GraftSession {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else the available processors. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def getOrCreate(appName: String): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run `body` with each `key -> value` set on `spark`'s runtime conf.
    * On exit, also when `body` throws, each key gets back the value it had
    * before (a SQL conf with a default reads as that default), or is unset
    * if it had none. Session confs bind when a query is PLANNED or a
    * stream STARTS, so the scope must wrap the action that runs the work,
    * not only the code that builds the frame. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally before.reverseIterator.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
