package perfbench

import scala.collection.mutable

/** Folds one traced pass (its call spans plus the listener's jobs and
  * stages) into per-layer numbers. A job's parent is the span named by
  * its job group; a job without a usable group falls back to the
  * innermost span open at its start, and is counted as ungrouped.
  */
final class Layers(spans: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec]) {
  private val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap
  private val kids: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  private def innermostAt(t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(s => (s.dur, -s.start)).headOption

  private val grouped: Map[Int, Boolean] =
    jobs.map(j => j.jobId -> j.group.flatMap(_.toLongOption).exists(byId.contains)).toMap

  val ungroupedJobs: Int = grouped.values.count(!_)

  /** Span id each job is a child of. */
  val jobParent: Map[Int, Long] = jobs.flatMap { j =>
    j.group.flatMap(_.toLongOption).filter(byId.contains)
      .orElse(innermostAt(j.start).map(_.id)).map(j.jobId -> _)
  }.toMap

  /** Job each stage ran under: the latest job that lists it and started
    * before it.
    */
  val stageJob: Map[StageRec, Int] = stages.flatMap { s =>
    jobs.filter(j => j.stageIds.contains(s.stageId) && j.start <= s.submit + 1)
      .sortBy(-_.start).headOption.map(s -> _.jobId)
  }.toMap

  private val jobsOf: Map[Long, Seq[JobRec]] =
    jobs.filter(j => jobParent.contains(j.jobId)).groupBy(j => jobParent(j.jobId))

  private val stagesOfJob: Map[Int, Seq[StageRec]] =
    stages.filter(stageJob.contains).groupBy(stageJob)

  def children(id: Long): Seq[Span] = kids.getOrElse(id, Nil).sortBy(_.start)

  def descendants(id: Long): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def walk(i: Long): Unit = kids.getOrElse(i, Nil).foreach { c => out += c; walk(c.id) }
    byId.get(id).foreach(out += _)
    walk(id)
    out.toSeq
  }

  def jobsUnder(id: Long): Seq[JobRec] = descendants(id).flatMap(s => jobsOf.getOrElse(s.id, Nil))
  def stagesUnder(id: Long): Seq[StageRec] = jobsUnder(id).flatMap(j => stagesOfJob.getOrElse(j.jobId, Nil))

  def jobIv(j: JobRec): (Double, Double) = (j.start, if (j.end.isNaN) j.start else j.end)
  private def stageIv(s: StageRec) = (s.submit, s.complete)

  def attr(a: collection.Map[Long, collection.Map[String, Double]], id: Long, k: String): Double =
    descendants(id).map(s => a.get(s.id).flatMap(_.get(k)).getOrElse(0.0)).sum

  /** Task-side totals of the stages launched under span `id`. */
  def stageTotals(id: Long): Map[String, Double] = {
    val st = stagesUnder(id)
    Map(
      "task_s" -> st.map(_.runMs).sum / 1e3,
      "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "gc_s" -> st.map(_.gcMs).sum / 1e3,
      "max_task_s" -> (if (st.isEmpty) 0.0 else st.map(_.maxTaskMs).max / 1e3),
      "shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1e6,
      "shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1e6,
      "spill_mb" -> st.map(_.spill).sum / 1e6,
      "stages" -> st.size.toDouble,
      "tasks" -> st.map(_.tasks).sum.toDouble,
      "jobs" -> jobsUnder(id).size.toDouble)
  }

  /** The per-layer metrics of pass span `passId` on `cores` cores. */
  def passMetrics(
      passId: Long,
      attrs: collection.Map[Long, collection.Map[String, Double]],
      cores: Int): Map[String, Double] = {
    val pass = byId(passId)
    val all = descendants(passId)
    val construct = all.filter(_.kind == "construct")
    val execute = all.filter(_.kind == "execute")
    def ivs(s: Span) = children(s.id).map(c => (c.start, c.end)) ++ jobsOf.getOrElse(s.id, Nil).map(jobIv)
    val st = stageTotals(passId)
    Map(
      "construct_self_s" -> construct.map(s => Arith.selfTime(s.start, s.end, ivs(s))).sum / 1e3,
      "construct_jobs" -> construct.map(s => jobsUnder(s.id).size).sum.toDouble,
      "construct_job_s" -> construct.map(s => Arith.covered(s.start, s.end, jobsUnder(s.id).map(jobIv))).sum / 1e3,
      "analysis_s" -> attr(attrs, passId, "analysis_ms") / 1e3,
      "optimization_s" -> attr(attrs, passId, "optimization_ms") / 1e3,
      "planning_s" -> attr(attrs, passId, "planning_ms") / 1e3,
      "plan_exchanges" -> attr(attrs, passId, "plan_exchanges"),
      "plan_scans" -> attr(attrs, passId, "plan_scans"),
      "execute_s" -> execute.map(_.dur).sum / 1e3,
      "stage_gap_s" -> execute.map { s =>
        s.dur - Arith.covered(s.start, s.end, stagesUnder(s.id).map(stageIv))
      }.sum / 1e3,
      "core_busy_frac" -> st("task_s") / (cores * pass.dur / 1e3)
    ) ++ st
  }
}

object Layers {
  /** The per-layer metrics every workload reports (BENCHMARK.json's
    * per_layer list, same order), with their units.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "construct_self_s" -> "s", "construct_jobs" -> "count", "construct_job_s" -> "s",
    "analysis_s" -> "s", "optimization_s" -> "s", "planning_s" -> "s",
    "codegen_compile_s" -> "s", "codegen_compiles" -> "count",
    "plan_exchanges" -> "count", "plan_scans" -> "count",
    "execute_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "stage_gap_s" -> "s", "task_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "max_task_s" -> "s", "core_busy_frac" -> "frac",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "cache_mb_peak" -> "MB", "cache_rdds_left" -> "count",
    "host.steal_frac" -> "frac", "host.calib_s" -> "s",
    "trace.overhead_frac" -> "frac", "trace.children_frac" -> "frac",
    "trace.unattributed_shuffle_mb" -> "MB", "trace.ungrouped_jobs" -> "count")
}
