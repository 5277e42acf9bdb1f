package perfbench

import scala.jdk.CollectionConverters._

import perfbench.Harness.{Rec, jstr, num}
import perfbench.Trace._

/** Turns the raw trace into the per-layer metrics and the per-call span
  * tree (call -> build / plan / exec -> job -> stage). */
object Layers {

  /** A call's reconciliation, against measurements the trace does not
    * make itself:
    *   - time: the build span (timed by the harness) plus the time after
    *     it that the trace saw (planning phases, SQL executions, jobs)
    *     must cover the call's wall time (timed by the harness) to within
    *     max(ResidualFloorMs, ResidualShare * wall);
    *   - jobs: the listener's jobs of the call's job group must be the
    *     ones Spark's status tracker lists for that group, and must lie
    *     inside the call's window (time attribution agrees with the group).
    * A lost job end fails the second; a lost SQL execution fails the first. */
  val ResidualFloorMs = 25.0
  val ResidualShare = 0.05

  final case class CallLayers(r: Rec, jobsIn: Seq[JobRec], planMs: Double,
      execMs: Double, residualMs: Double, jobsAgree: Boolean, m: Map[String, Double]) {
    def reconciled: Boolean = jobsAgree &&
      math.abs(residualMs) <= math.max(ResidualFloorMs, ResidualShare * r.wallMs)
  }

  private def within(t: Long, r: Rec): Boolean = t >= r.start && t <= r.end

  def perCall(tr: Trace, r: Rec): CallLayers = {
    val jobs   = tr.jobs.asScala.filter(j => within(j.start, r)).toSeq
    val stages = tr.stages.asScala.filter(s => within(s.start, r)).toSeq
    val tasks  = tr.tasks.asScala.filter(t => within(t.start, r)).toSeq
    val plans  = tr.plans.asScala.filter(p => within(p.at, r)).toSeq
    val aqe    = tr.aqe.asScala.count(t => within(t.longValue, r))
    val jobIv  = jobs.map(j => (j.start, j.end))
    val execMs = covered(jobIv, r.start, r.end).toDouble
    val taskCover = covered(tasks.map(t => (t.start, t.end)), r.start, r.end)
    def phase(name: String): Double =
      plans.flatMap(_.phases.get(name)).map { case (a, b) => (b - a).toDouble }.sum
    // After the builder returns: the plan span is the planning phases
    // that start then (the result action's analysis ran eagerly inside
    // the builder); the exec span is the rest of what the trace saw, the
    // SQL executions and jobs: the jobs plus the driver work between them
    // (AQE re-plans, stage codegen, result conversion).
    val planIv = plans.flatMap(_.phases.values.filter(_._1 >= r.buildEnd))
    val sqlIv = tr.sqls.asScala.filter(q => q.end >= r.buildEnd && q.start <= r.end)
      .map(q => (q.start, q.end)).toSeq
    val planAfterBuild = covered(planIv, r.buildEnd, r.end).toDouble
    val seen = covered(planIv ++ sqlIv ++ jobIv, r.buildEnd, r.end).toDouble
    val execSpan = seen - planAfterBuild
    val residual = r.wallMs - r.buildMs - seen
    val grouped = tr.jobs.asScala.filter(_.group == r.group).toSeq
    val jobsAgree = grouped.map(_.id).toSet == r.trackerJobs &&
      grouped.forall(j => within(j.start, r) && within(j.end, r))
    val run = tasks.map(_.runMs).sum.toDouble
    val cpu = tasks.map(_.cpuMs).sum.toDouble
    val inBytes = tasks.map(_.inputBytes).sum.toDouble
    val mb = 1048576.0
    val m = Map(
      "build.ms" -> r.buildMs,
      "build.jobs" -> jobs.count(_.start <= r.buildEnd).toDouble,
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimizer_ms" -> phase("optimization"),
      "plan.physical_ms" -> phase("planning"),
      "exec.ms" -> execMs,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_ms" -> run,
      "exec.task_cpu_ms" -> cpu,
      "exec.offcpu_ms" -> math.max(0.0, run - cpu),
      "exec.task_gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
      "exec.task_deser_ms" -> tasks.map(_.deserMs).sum.toDouble,
      "exec.sched_gap_ms" -> math.max(0.0, execMs - taskCover),
      "exec.driver_ms" -> math.max(0.0, execSpan - covered(jobIv, r.buildEnd, r.end)),
      "exec.aqe_updates" -> aqe.toDouble,
      "exec.peak_exec_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / mb),
      "shuffle.write_mb" -> tasks.map(_.shWrite).sum / mb,
      "shuffle.read_mb" -> tasks.map(_.shRead).sum / mb,
      "shuffle.records" -> tasks.map(_.shRecords).sum.toDouble,
      "spill.mem_mb" -> tasks.map(_.spillMem).sum / mb,
      "spill.disk_mb" -> tasks.map(_.spillDisk).sum / mb,
      "cache.rdds_held" -> r.rddsHeld.toDouble,
      "cache.held_mb" -> r.heldMb,
      "stream.disk_written_mb" -> r.tmpGrowth / mb,
      "io.input_mb" -> inBytes / mb
    ) ++ Trace.PlanKinds.map(k => s"plan.$k" -> plans.map(_.counts.getOrElse(k, 0)).sum.toDouble)
    CallLayers(r, jobs, planAfterBuild, execSpan, residual, jobsAgree, m)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }

  /** Every per-layer metric. Layer sums come from the traced warm pass(es)
    * (median over them); per-call times are medians over all warm passes. */
  def compute(tr: Trace, warm: Seq[Rec], cpus: Int, passes: Seq[(Double, Boolean)],
      calibFirst: Double, calibLast: Double, loadAvg: Double): Seq[(String, Double)] = {
    val tracedPasses = warm.filter(_.traced).groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    val perPass = tracedPasses.map { recs =>
      val ls = recs.map(perCall(tr, _))
      val sums = ls.flatMap(_.m.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val wall = recs.map(_.wallMs).sum
      val batches = tr.batches.asScala.filter(b => recs.exists(r => within(b.at, r))).toSeq
      val lastPerQuery = batches.groupBy(_.query).values.map(_.maxBy(_.at))
      val inMb = sums.getOrElse("io.input_mb", 0.0)
      val written = sums.getOrElse("stream.disk_written_mb", 0.0)
      sums ++ Map(
        "exec.peak_exec_mem_mb" -> ls.map(_.m("exec.peak_exec_mem_mb")).maxOption.getOrElse(0.0),
        "exec.occupancy" -> (if (wall > 0) sums("exec.task_run_ms") / (wall * cpus) else 0.0),
        "cache.held_mb" -> sums("cache.held_mb") / recs.size,
        "stream.batches" -> batches.size.toDouble,
        "stream.batch_p50_ms" -> quantile(batches.map(_.durMs.toDouble), 0.5),
        "stream.batch_p90_ms" -> quantile(batches.map(_.durMs.toDouble), 0.9),
        "stream.add_batch_ms" -> batches.map(_.addBatchMs).sum.toDouble,
        "stream.planning_ms" -> batches.map(_.planningMs).sum.toDouble,
        "stream.wal_commit_ms" -> batches.map(_.walMs).sum.toDouble,
        "stream.input_rows" -> batches.map(_.inputRows).sum.toDouble,
        "stream.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
        "stream.state_mem_mb" -> lastPerQuery.map(_.stateMem).sum / 1048576.0,
        "stream.write_amp" -> (if (inMb > 0) written / inMb else 0.0),
        "trace.residual_ms" -> ls.map(l => math.abs(l.residualMs)).sum,
        "trace.unreconciled_calls" -> ls.count(!_.reconciled).toDouble)
    }
    val keys = perPass.flatMap(_.keys).distinct.filterNot(_ == "io.input_mb")
    val layer = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0))))

    val byCall = warm.groupBy(_.name).map { case (n, rs) => n -> median(rs.map(_.wallMs)) }
    val kernel = AggKernel.CellNames.map(c => s"kernel.$c.ms" -> byCall.getOrElse(c, 0.0))
    val query = Workloads.PerQuery.map(q => s"query.$q.ms" -> byCall.getOrElse(q, 0.0))
    val fam = Workloads.Families.map { f =>
      val names = Workloads.Registry.filter(_._2 == f).map(_._1).toSet
      s"family.${f}_ms" -> byCall.collect { case (n, v) if names(n) => v }.sum
    }
    // warm pass 1 (the first of `passes`) still carries JIT warm-up
    val untraced = median(passes.drop(1).filterNot(_._2).map(_._1))
    val tracedS  = median(passes.filter(_._2).map(_._1))
    val machine = Seq(
      "machine.calib_first_ms" -> calibFirst,
      "machine.calib_last_ms" -> calibLast,
      "machine.load_avg" -> loadAvg,
      "trace.overhead_pct" -> (if (untraced > 0) (tracedS - untraced) / untraced * 100 else 0.0))
    layer ++ kernel ++ query ++ fam ++ machine
  }

  /** The span tree of every traced call, as JSON objects. */
  def spans(tr: Trace, recs: Seq[Rec]): Seq[String] = recs.map { r =>
    val l = perCall(tr, r)
    val stages = tr.stages.asScala.filter(s => within(s.start, r)).toSeq
    val jobs = l.jobsIn.sortBy(_.start).map { j =>
      val st = stages.filter(s => s.start >= j.start && s.start <= j.end)
        .map(s => s"[${s.start - r.start},${s.end - r.start}]").mkString("[", ",", "]")
      s"""{"start":${j.start - r.start},"end":${j.end - r.start},"stages":$st}"""
    }
    s"""{"call":${jstr(r.name)},"pass":${r.pass},"wall_ms":${num(r.wallMs)},""" +
      s""""build_ms":${num(r.buildMs)},"build_jobs":${l.m("build.jobs").toInt},"plan_ms":${num(l.planMs)},""" +
      s""""exec_ms":${num(l.execMs)},"exec_driver_ms":${num(l.m("exec.driver_ms"))},""" +
      s""""residual_ms":${num(l.residualMs)},"jobs_agree":${l.jobsAgree},""" +
      s""""reconciled":${l.reconciled},"exec_jobs":${l.m("exec.jobs").toInt},""" +
      s""""exec_stages":${l.m("exec.stages").toInt},""" +
      Trace.PlanKinds.map(k => s""""plan.$k":${l.m(s"plan.$k").toInt}""").mkString(",") +
      s""","jobs":${jobs.mkString("[", ",", "]")}}"""
  }
}
