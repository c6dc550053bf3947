package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Collects Spark's public listener events for the traced run and holds
  * them in memory until the run ends. Nothing here reaches into the
  * library: jobs, stages, tasks and SQL executions are tied to a query
  * only through the job group the client thread sets around it.
  *
  * Listener events carry wall-clock milliseconds; every record keeps
  * that clock, and `Attribution` converts the client's spans to it.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  val executions = new ConcurrentHashMap[Long, ExecRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val events = new java.util.concurrent.atomic.AtomicLong()

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobs.put(e.jobId, JobRec(e.time, group(e.properties)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    val si = e.stageInfo
    stages.put((si.stageId, si.attemptNumber()),
      StageRec(si.numTasks, group(e.properties),
        si.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stages.get((e.stageId, e.stageAttemptId))
    val m = e.taskMetrics
    if (rec != null && m != null) {
      val ti = e.taskInfo
      val busy = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + (if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L)
      rec.synchronized {
        rec.tasks += 1
        rec.schedDelayMs += math.max(0L, ti.duration - busy)
        rec.runMs += m.executorRunTime
        rec.cpuNs += m.executorCpuTime
        rec.gcMs += m.jvmGCTime
        rec.inputRecords += m.inputMetrics.recordsRead
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        rec.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val si = e.stageInfo
    Option(stages.get((si.stageId, si.attemptNumber())))
      .foreach(_.endMs = si.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      executions.put(s.executionId, ExecRec(s.time, s.jobGroupId))
    case s: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet()
      Option(executions.get(s.executionId)).foreach(_.endMs = s.time)
    case _ =>
  }

  // The callbacks give no execution id that matches the SQL events, so
  // plans are matched to executions by time (one client, one query at once).
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet()
    plans.add(PlanRec.of(qe))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    events.incrementAndGet()
    plans.add(PlanRec.of(qe))
  }

  /** True once every started job, stage and SQL execution has ended. */
  def drained: Boolean =
    jobs.values.asScala.forall(_.endMs > 0) &&
      stages.values.asScala.forall(_.endMs > 0) &&
      executions.values.asScala.forall(_.endMs > 0)

  /** Waits (at most 10 s) until everything started has ended and no event
    * has arrived for 100 ms, so detaching the tracer loses nothing queued.
    */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L
    while (System.nanoTime() < deadline && !(drained && events.get == last)) {
      last = events.get
      Thread.sleep(100)
    }
  }
}

object Tracer {
  final case class JobRec(startMs: Long, group: Option[String]) {
    @volatile var endMs: Long = 0L
  }

  final case class StageRec(numTasks: Int, group: Option[String], startMs: Long) {
    @volatile var endMs: Long = 0L
    var tasks = 0
    var schedDelayMs, runMs, cpuNs, gcMs = 0L
    var inputRecords, shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  }

  final case class ExecRec(startMs: Long, group: Option[String]) {
    @volatile var endMs: Long = 0L
  }

  /** What one query execution's tracker and executed plan show. `planMs`
    * sums the analysis, optimization and planning phases; the first of
    * them starts at `fromMs`.
    */
  final case class PlanRec(planMs: Double, fromMs: Long,
      exchanges: Int, broadcasts: Int, cachedScans: Int)

  object PlanRec {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

    // Walks children, the current plan of adaptive plans and query
    // stages, and subquery plans. A reused exchange is not walked again.
    private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Iterator.single(a.executedPlan)
        case s: QueryStageExec => Iterator.single(s.plan)
        case _ => Iterator.empty
      }
      Iterator.single(p) ++ (p.children.iterator ++ inner ++ p.subqueries.iterator)
        .flatMap(nodes)
    }

    def of(qe: QueryExecution): PlanRec = {
      val phases = qe.tracker.phases
      val ps = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      val planMs = ps.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val ns = scala.util.Try(nodes(qe.executedPlan).toVector).getOrElse(Vector.empty)
      PlanRec(planMs, ps.map(_.startTimeMs).minOption.getOrElse(0L),
        ns.count(_.isInstanceOf[ShuffleExchangeExec]),
        ns.count(_.isInstanceOf[BroadcastExchangeExec]),
        ns.count(_.isInstanceOf[InMemoryTableScanExec]))
    }
  }
}
