package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters of one job group (one query invocation, or one layer probe). */
final class Counters {
  var jobs, stages, tasks = 0L
  var sqlExecs, exchanges, bnlj, cartesian = 0L
  var taskMs, cpuNs = 0L
  var shuffleWriteB, shuffleReadB, spillB, inputB = 0L
  var prepareNs = 0L
  /** (start ms, end ms) of every job, epoch clock. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val scannedPaths = mutable.Set.empty[String]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    sqlExecs += o.sqlExecs; exchanges += o.exchanges; bnlj += o.bnlj
    cartesian += o.cartesian; taskMs += o.taskMs; cpuNs += o.cpuNs
    shuffleWriteB += o.shuffleWriteB
    shuffleReadB += o.shuffleReadB
    spillB += o.spillB; inputB += o.inputB; prepareNs += o.prepareNs
    jobSpans ++= o.jobSpans; scannedPaths ++= o.scannedPaths
  }
}

/** Public-API observer of the engine: a SparkListener for the scheduler,
  * executor, shuffle and SQL-plan counters, plus a QueryExecutionListener
  * for Catalyst phase times. Everything is keyed by the job group the
  * harness sets per query (`setJobGroup`), so counters of an invocation are
  * exact however late the listener bus delivers them. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  /** (epoch ms the planning started, planning ns) of every execution. */
  private val plannings = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var events = 0L

  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    of(g).jobs += 1
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobStart.remove(e.jobId).foreach { case (g, t0) => of(g).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val i = e.stageInfo
    val c = of(stageGroup.getOrElse(i.stageId, ""))
    val m = i.taskMetrics
    c.stages += 1
    c.tasks += i.numTasks
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.diskBytesSpilled
      c.inputB += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      events += 1
      val c = of(s.jobGroupId.getOrElse(""))
      c.sqlExecs += 1
      countPlan(s.sparkPlanInfo, c)
    }
    case _ => ()
  }

  private def countPlan(p: SparkPlanInfo, c: Counters): Unit = {
    val n = p.nodeName
    if (n.endsWith("Exchange") && !n.startsWith("Reused")) c.exchanges += 1
    if (n == "BroadcastNestedLoopJoin") c.bnlj += 1
    if (n == "CartesianProduct") c.cartesian += 1
    p.metadata.get("Location").foreach { loc =>
      val i = loc.indexOf('[')
      if (i >= 0) loc.substring(i + 1).stripSuffix("]").split(",\\s*")
        .filter(_.nonEmpty).foreach(c.scannedPaths += _)
    }
    p.children.foreach(countPlan(_, c))
  }

  // A QueryExecutionListener sees no job group, so planning is binned by
  // when its phases started instead (the loop is single-threaded).
  private def planning(qe: QueryExecution): Unit = synchronized {
    events += 1
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) plannings += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum * 1000000L))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  /** Blocks until the listener buses have been quiet for 300 ms, so every
    * counter of the work issued so far has been delivered. */
  def drain(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(300) }
  }

  /** Catalyst planning ns of the executions whose planning began in [fromMs, toMs]. */
  def planningNs(fromMs: Long, toMs: Long): Long = synchronized {
    plannings.collect { case (t, ns) if t >= fromMs && t <= toMs => ns }.sum
  }

  def take(group: String): Counters = synchronized(byGroup.remove(group).getOrElse(new Counters))
}
