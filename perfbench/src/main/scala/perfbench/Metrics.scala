package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.CommandResultExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals of the jobs that ran under one job group. */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]

  /** Slowest task's run time over the median task's (1 with no tasks). */
  def skew: Double =
    if (taskRunMs.isEmpty) 1.0
    else {
      val s = taskRunMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/**
 * Rolls executor task metrics up by the job group the benchmark set
 * around each call (`SparkContext.setJobGroup`). Jobs with no group
 * land under "". Registered once per SparkContext.
 */
final class TaskMetricsListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  def reset(): Unit = synchronized { stageGroup.clear(); groups.clear() }
  def stats(group: String): GroupStats = synchronized { groups.getOrElseUpdate(group, new GroupStats) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(PerfbenchBus.JobGroupKey)))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    val st = groups.getOrElseUpdate(g, new GroupStats)
    st.jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupStats)
      st.tasks += 1
      st.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      st.gcMs += m.jvmGCTime
      st.inputBytes += m.inputMetrics.bytesRead
      st.outputBytes += m.outputMetrics.bytesWritten
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.peakExecBytes = math.max(st.peakExecBytes, m.peakExecutionMemory)
      st.taskRunMs += m.executorRunTime
    }
  }
}

/**
 * Counts how many rows the `Generate` (explode) operators of each
 * finished query produced. The melt is two explodes; the larger one is
 * the dependent explode, so per query the maximum over its `Generate`
 * nodes is the number of melted rows (before the null filter) that
 * query produced. Queries run while `muted` is set are the benchmark's
 * own materializations and are not counted.
 */
final class GenerateRowsListener extends QueryExecutionListener {
  @volatile var muted = false
  private var total = 0L
  private var mutedGen = 0L
  private var mutedFilter = 0L
  def reset(): Unit = synchronized { total = 0L }
  def rows: Long = synchronized(total)
  /** Generate rows and rows out of the filter above it, in the last
    * muted query (the melt's materialization). */
  def lastMutedGenerateRows: Long = synchronized(mutedGen)
  def lastMutedFilterRows: Long = synchronized(mutedFilter)

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = synchronized {
    val plan = qe.executedPlan
    if (!muted) total += GenerateRowsListener.maxGenerateRows(plan)
    else {
      mutedGen = GenerateRowsListener.maxGenerateRows(plan)
      mutedFilter = GenerateRowsListener.filterAboveGenerateRows(plan)
    }
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
}

object GenerateRowsListener {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case w: DataWritingCommandExec => Seq(w.child)
      case _ => p.children ++ p.innerChildren.collect { case s: SparkPlan => s }
    }
    p +: inner.distinct.flatMap(nodes)
  }

  private def rowsOf(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Output rows of the topmost filter that sits above a Generate. */
  def filterAboveGenerateRows(plan: SparkPlan): Long =
    nodes(plan).collectFirst {
      case f: FilterExec if nodes(f).exists(_.isInstanceOf[GenerateExec]) => rowsOf(f)
    }.getOrElse(0L)

  def maxGenerateRows(plan: SparkPlan): Long =
    nodes(plan).collect { case g: GenerateExec => g.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }
      .foldLeft(0L)(math.max)
}
