package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset] — the driver
    // always passes exactly two; the subset is a local iteration aid
    val sfDir = args(0)
    val outDir = args(1)
    val subset = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    val declared = SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
    // Failures are MACHINE-VISIBLE: round 8's correctness artifact silently
    // shrank 125 → 120 because throwing queries were only logged to stderr;
    // errors.json + the declared-vs-written count make a shrinking suite
    // impossible to misread as 100% green.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    declared.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val wrote = declared.size - errors.size
    println(s"[verify] declared=${declared.size} written=$wrote failed=${errors.size}" +
      (if (errors.nonEmpty) s" FAILED: ${errors.keys.mkString(",")}" else ""))
    spark.stop()
  }
}
