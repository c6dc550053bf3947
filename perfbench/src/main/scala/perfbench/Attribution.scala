package perfbench

import scala.jdk.CollectionConverters._

/** Turns the tracer's events into one span record per query execution.
  *
  * The chain is query -> build / plan / exec -> job -> stage. A job or
  * stage belongs to a query when it carries that execution's job group
  * and starts inside its wall window. Any other job is unattributed:
  * counted, never dropped.
  */
object Attribution {
  import Main.Run
  import Tracer._

  /** Length of the part of [from, to] that none of the intervals covers. */
  def uncovered(from: Double, to: Double, intervals: Seq[(Double, Double)]): Double = {
    var gap = 0.0
    var cursor = from
    intervals.map { case (a, b) => (a max from, b min to) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > cursor) gap += a - cursor
        cursor = cursor max b
      }
    gap + (to - cursor).max(0.0)
  }

  def apply(t: Tracer, runs: Seq[Run], ms: Long => Double): Map[String, Any] = {
    val jobs = t.jobs.values.asScala.toVector
    val stages = t.stages.values.asScala.toVector
    val execs = t.executions.values.asScala.toVector
    val byTag = runs.map(r => r.tag -> r).toMap
    // slack for the listener's millisecond clock against nanoTime spans
    def inside(r: Run, atMs: Long): Boolean = atMs >= ms(r.t0) - 2 && atMs <= ms(r.t1) + 2
    def owner(group: Option[String], atMs: Long): Option[Run] =
      group.flatMap(byTag.get).filter(inside(_, atMs))

    val jobsOf = jobs.flatMap(j => owner(j.group, j.startMs).map(_.tag -> j)).groupMap(_._1)(_._2)
    val stagesOf = stages.flatMap(s => owner(s.group, s.startMs).map(_.tag -> s)).groupMap(_._1)(_._2)
    val execsOf = execs.flatMap(e => owner(e.group, e.startMs).map(_.tag -> e)).groupMap(_._1)(_._2)
    val unattributed = jobs.filter(j => owner(j.group, j.startMs).isEmpty)

    val plans = t.plans.asScala.toVector
    val perRun = runs.map { r =>
      val js = jobsOf.getOrElse(r.tag, Vector.empty)
      val ss = stagesOf.getOrElse(r.tag, Vector.empty)
      val builtMs = ms(r.tBuilt)
      // The write's SQL execution is the first one started after build;
      // executions nested in it start later and end inside it.
      val write = execsOf.getOrElse(r.tag, Vector.empty)
        .filter(_.startMs >= builtMs - 2).sortBy(_.startMs).headOption
      val (execFrom, execTo) = write.map(e => (e.startMs.toDouble, e.endMs.toDouble))
        .getOrElse((builtMs, ms(r.t1)))
      // planning runs inside the execution span, at its start
      val inWrite = plans.filter(p => p.fromMs >= execFrom - 2 && p.fromMs <= execTo)
      val writePlan = inWrite.sortBy(_.fromMs).headOption
      val wallS = (r.t1 - r.t0) / 1e9
      val buildS = (r.tBuilt - r.t0) / 1e9
      val planS = inWrite.map(_.planMs).sum / 1e3
      val execS = ((execTo - execFrom) / 1e3 - planS).max(0.0)
      val sum = (f: StageRec => Long) => ss.map(f).sum
      Map(
        "name" -> r.q.name, "group" -> Workloads.groupOf.getOrElse(r.q.name, "other"),
        "pass" -> r.pass,
        "wall_s" -> wallS, "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
        "covered" -> (buildS + planS + execS) / wallS,
        "build_jobs" -> js.count(_.startMs < builtMs),
        "jobs" -> js.size,
        "stages" -> ss.size,
        "one_task_stages" -> ss.count(_.numTasks == 1),
        "tasks" -> sum(_.tasks.toLong),
        "task_s" -> sum(_.runMs) / 1e3,
        "task_cpu_s" -> sum(_.cpuNs) / 1e9,
        "gc_s" -> sum(_.gcMs) / 1e3,
        "sched_delay_s" -> sum(_.schedDelayMs) / 1e3,
        "driver_gap_s" -> uncovered(execFrom, execTo,
          ss.map(s => (s.startMs.toDouble, s.endMs.toDouble))) / 1e3,
        "shuffle_write_mb" -> sum(_.shuffleWriteBytes) / 1048576.0,
        "shuffle_read_mb" -> sum(_.shuffleReadBytes) / 1048576.0,
        "fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "spill_mb" -> sum(_.spillBytes) / 1048576.0,
        "input_mrows" -> sum(_.inputRecords) / 1e6,
        "scan_stages" -> ss.count(_.inputRecords > 0),
        "scan_tasks" -> ss.filter(_.inputRecords > 0).map(_.numTasks).sum,
        "exchanges" -> writePlan.map(_.exchanges).getOrElse(0),
        "broadcasts" -> writePlan.map(_.broadcasts).getOrElse(0),
        "cached_scans" -> writePlan.map(_.cachedScans).getOrElse(0),
        "plan_found" -> writePlan.isDefined,
        "pins_added" -> r.pinsAdded,
        "unattributed_jobs" -> unattributed.count(j => inside(r, j.startMs)))
    }
    Map(
      "runs" -> perRun,
      "jobs_total" -> jobs.size,
      "jobs_attributed" -> jobsOf.values.map(_.size).sum,
      "jobs_unattributed" -> unattributed.size,
      "drained" -> t.drained)
  }
}
