package graft.tools

/** Dump `.explain("formatted")` of named declared queries to files — the
  * plan evidence the optimization rounds commit under `plans/rNN/`.
  * Run: `sbt "runMain graft.tools.PlanDump <sfdir> <outdir> <suffix> q1,q2"`.
  * Writes `<outdir>/<name>_<suffix>.txt`. Builds the bench's session
  * ([[graft.GraftSession]]) so the dumped plan matches what the bench
  * executes at the same `SPARK_GRAFT_CPUS`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfdir> <outdir> <suffix> <names>")
    val Array(sfDir, outDir, suffix, namesCsv) = args.take(4)
    val spark = graft.GraftSession.getOrCreate("graft-plan-dump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    namesCsv.split(",").foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
