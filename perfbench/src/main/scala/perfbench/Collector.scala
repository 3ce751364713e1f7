package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Spark runtime totals for one job group. */
case class TaskTotals(jobs: Int = 0, stages: Int = 0, tasks: Int = 0, failedTasks: Int = 0,
                   taskMs: Long = 0, schedDelayMs: Long = 0, gcMs: Long = 0,
                   inputBytes: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
                   spillBytes: Long = 0, peakExecMem: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    failedTasks + o.failedTasks, taskMs + o.taskMs, schedDelayMs + o.schedDelayMs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    math.max(peakExecMem, o.peakExecMem))

  /** Work of a prefix pipeline beyond the previous prefix; the peak is a
    * maximum, so it is kept rather than subtracted.
    */
  def -(o: TaskTotals): TaskTotals = TaskTotals(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    failedTasks - o.failedTasks, taskMs - o.taskMs, schedDelayMs - o.schedDelayMs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes, peakExecMem)
}

/** The outside-in metrics collector: a listener that files every task's
  * metrics under the job group the harness set around the call that ran
  * it. One listener per session, registered before any timed work.
  */
class Collector(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val totals = mutable.HashMap[String, TaskTotals]()
  sc.addSparkListener(this)

  private def add(group: String, r: TaskTotals): Unit = synchronized {
    totals(group) = totals.getOrElse(group, TaskTotals()) + r
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    synchronized { e.stageInfos.foreach(s => stageGroup.getOrElseUpdate(s.stageId, group)) }
    add(group, TaskTotals(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(synchronized(stageGroup.getOrElse(e.stageInfo.stageId, "")), TaskTotals(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = synchronized(stageGroup.getOrElse(e.stageId, ""))
    val m = e.taskMetrics
    val info = e.taskInfo
    val failed = if (e.reason == Success) 0 else 1
    if (m == null) add(group, TaskTotals(tasks = 1, failedTasks = failed))
    else {
      // the scheduler-delay formula of Spark's own UI
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      add(group, TaskTotals(tasks = 1, failedTasks = failed, taskMs = m.executorRunTime,
        schedDelayMs = delay, gcMs = m.jvmGCTime, inputBytes = m.inputMetrics.bytesRead,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled, peakExecMem = m.peakExecutionMemory))
    }
  }

  /** Totals of one group, after every event posted so far is delivered. */
  def group(name: String): TaskTotals = {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    synchronized(totals.getOrElse(name, TaskTotals()))
  }

  /** Runs `body` with every job it starts filed under `name`. */
  def within[A](name: String)(body: => A): A = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** One operator of an executed plan with its SQL metrics. */
case class OpMetrics(name: String, desc: String, metrics: Map[String, Long]) {
  def rowsOut: Long = metrics.getOrElse("numOutputRows", 0L)
}

/** Reads the SQL metrics (rows out, and rows in where an operator records
  * them) of every operator in an executed plan, looking through adaptive
  * query stages and reused exchanges.
  */
object PlanMetrics {
  def operators(plan: SparkPlan): Seq[OpMetrics] = plan match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case r: ReusedExchangeExec => operators(r.child)
    case p =>
      OpMetrics(p.nodeName, p.simpleString(100),
        p.metrics.map { case (k, v) => k -> v.value }) +: p.children.flatMap(operators)
  }
}
