package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counters one scope (a set of timed ops) accumulates. Times in ms. */
final class ScopeStats {
  var jobs = 0L
  var tasks = 0L
  val jobMsByLayer = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var peakExecMemBytes = 0L
  var serialStageMs = 0L
}

/** Attributes Spark work to layers of the program, from outside it.
  *
  * A job belongs to the scope named by the `perfbench.scope` local property
  * the benchmark sets around each op, and to the layer named by the source
  * file of the innermost frame under `classPrefix` in the job's call site:
  * the SQL execution's call site when the job runs one, else its first
  * stage's. A job the program triggers from `Compaction.scala` lands under
  * `Compaction`. A stage of at least [[Tracer.SerialStageMs]] that ran at
  * most two tasks counts as serial. */
class Tracer(classPrefix: String = "graft.") extends SparkListener {
  private val scopes = mutable.Map.empty[String, ScopeStats]
  private val execSites = mutable.Map.empty[Long, String]
  private val jobStart = mutable.Map.empty[Int, (Long, String, String)]
  private val stageScope = mutable.Map.empty[Int, String]

  private def stats(scope: String) = scopes.getOrElseUpdate(scope, new ScopeStats)

  /** Snapshot of one scope's counters (drain the listener bus first). */
  def scope(name: String): ScopeStats = synchronized(stats(name))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized(execSites(e.executionId) = e.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val scope = props.flatMap(p => Option(p.getProperty(Tracer.ScopeKey)))
      .getOrElse("none")
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
      .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
    jobStart(e.jobId) = (e.time, scope, Tracer.layerOf(site, classPrefix))
    e.stageIds.foreach(stageScope(_) = scope)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, scope, layer) =>
      val s = stats(scope)
      s.jobs += 1
      s.jobMsByLayer(layer) += e.time - t0
      s.jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (t0 <- info.submissionTime; t1 <- info.completionTime)
      if (t1 - t0 >= Tracer.SerialStageMs && info.numTasks <= 2)
        stats(stageScope.getOrElse(info.stageId, "none")).serialStageMs += t1 - t0
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageScope.getOrElse(e.stageId, "none"))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskCpuNs += m.executorCpuTime
      s.taskRunMs += m.executorRunTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.peakExecMemBytes = math.max(s.peakExecMemBytes, m.peakExecutionMemory)
    }
  }
}

object Tracer {
  val ScopeKey = "perfbench.scope"
  val SerialStageMs = 500L

  private val Frame = """([\w$.]+)\.[\w$<>]+\(([\w$]+)\.scala:\d+\)""".r

  /** Source file (without `.scala`) of the first call-site frame whose
    * class is under `classPrefix`; "other" when there is none. */
  def layerOf(callSite: String, classPrefix: String): String =
    Frame.findAllMatchIn(callSite)
      .collectFirst { case m if m.group(1).startsWith(classPrefix) => m.group(2) }
      .getOrElse("other")

  /** Total length of the union of `[start, end]` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total, curStart, curEnd = 0L
    var open = false
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (open && s <= curEnd) curEnd = math.max(curEnd, e)
      else {
        if (open) total += curEnd - curStart
        curStart = s; curEnd = e; open = true
      }
    }
    if (open) total += curEnd - curStart
    total
  }
}
