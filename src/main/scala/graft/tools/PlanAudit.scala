package graft.tools

/** Plan hygiene audit: for every declared query, report scan pushdown,
  * join strategies, exchange (shuffle) count, and whole-stage-codegen
  * coverage. Run: `sbt "runMain graft.tools.PlanAudit <sfdir>"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.getOrCreate("graft-plan-audit")

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString()
        def n(pat: String) = pat.r.findAllIn(plan).size
        val joins = Seq(
          "BroadcastHashJoin" -> n("BroadcastHashJoin"),
          "SortMergeJoin" -> n("SortMergeJoin"),
          "ShuffledHashJoin" -> n("ShuffledHashJoin"),
          "BroadcastNestedLoop" -> n("BroadcastNestedLoopJoin"),
          "CartesianProduct" -> n("CartesianProduct"))
          .filter(_._2 > 0).map { case (k, v) => s"$k x$v" }.mkString(", ")
        val pushed = n("""PushedFilters: \[[^\]]""")
        val scansWithFilters = n("PushedFilters")
        val exchanges = n("Exchange ") + n("Exchange\\b") - n("BroadcastExchange")
        val wsc = n("WholeStageCodegen")
        println(f"$name%-22s exch=${n("ShuffleExchange|Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition")}%-3d bcast=${n("BroadcastExchange")}%-3d wsc=$wsc%-3d pushed=$pushed/$scansWithFilters ${if (joins.nonEmpty) "joins: " + joins else ""}")
      } catch { case e: Throwable => println(s"$name AUDIT ERROR: ${e.getMessage.take(100)}") }
    }
    spark.stop()
  }
}
