package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run, averaged over its traced warm passes
  * (codegen: over the first pass, where plans compile). Layer names follow
  * the repository's modules and Spark's phases; perfbench/README.md maps
  * each one to the end-to-end metric it should move. */
object Layers {
  private val MiB = 1024.0 * 1024.0

  def report(r: Run, first: Span, warm: Seq[Span], batches: BatchRecorder,
      sessionBuildS: Double): Seq[(String, Double)] = {
    val t = r.tracer
    val spans = t.spans.toSeq
    val kids = spans.groupBy(_.parent)
    def below(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(k => k +: below(k))
    def within(s: Span, time: Double): Boolean = s.start <= time && time <= s.end
    val n = warm.size.toDouble
    val in = warm.flatMap(below)
    def kind(k: String): Seq[Span] = in.filter(_.kind == k)
    val ops = kind("op")
    val jobs = kind("job")
    val stages = kind("stage").flatMap(s => t.stageOf.get(s.id).map(s -> _))
    val sums = stages.flatMap { case (_, st) => t.taskSums.get(st.id) }
    def total(f: Tracer.TaskSums => Double): Double = sums.map(f).sum / n
    def jobsOf(op: Span): Seq[(Double, Double)] =
      below(op).filter(_.kind == "job").map(j => (j.start, j.end))
    val qes = t.qes.asScala.toSeq.filter(q => warm.exists(within(_, q.end)))
    def phase(p: String): Double = qes.flatMap(_.phases.get(p)).sum / n
    val compiles = t.codegen.compiles.asScala.toSeq.filter { case (at, _) => within(first, at) }
    val passMs = warm.map(_.dur).sum
    val self = Tracer.selfTimes(spans)

    val common = Seq(
      "sessions.build_s" -> sessionBuildS,
      "catalog.construct_s" -> kind("construct").map(_.dur).sum / 1000 / n,
      "catalog.construct_jobs" -> kind("construct").map(c =>
        jobs.count(_.parent == c.id)).sum / n,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "catalyst.codegen_compile_ms" -> compiles.map(_._2).sum,
      "catalyst.codegen_compiles" -> compiles.size.toDouble,
      "sched.jobs" -> jobs.size / n,
      "sched.stages" -> stages.size / n,
      "sched.tasks" -> total(_.tasks.toDouble),
      "sched.driver_gap_s" -> ops.filter(_.name != "resume").map(o =>
        o.dur - Tracer.covered(jobsOf(o), o.start, o.end)).sum / 1000 / n,
      "sched.single_task_stage_s" ->
        stages.collect { case (s, st) if st.numTasks == 1 => s.dur }.sum / 1000 / n,
      "exec.task_run_s" -> total(_.runMs) / 1000,
      "exec.task_cpu_s" -> total(_.cpuNs) / 1e9,
      "exec.gc_s" -> total(_.gcMs) / 1000,
      "exec.task_deser_s" -> total(_.deserMs) / 1000,
      "exec.core_idle_share" -> (1 - sums.map(_.runMs).sum / (r.cores * passMs)),
      "shuffle.write_mb" -> total(_.shufWrite) / MiB,
      "shuffle.read_mb" -> total(_.shufRead) / MiB,
      "shuffle.fetch_wait_s" -> total(_.fetchWaitMs) / 1000,
      "shuffle.spill_mb" -> total(_.spill) / MiB,
      "tap.read_mb" -> total(_.bytesRead) / MiB,
      "tap.write_mb" -> total(_.bytesWritten) / MiB,
      "tap.files_written" -> qes.map(_.files).sum / n,
    ) ++ Seq("pass", "op", "construct", "execute", "job", "stage").map { k =>
      s"self_s.$k" -> (warm ++ in).filter(_.kind == k).map(s => self(s.id)).sum / 1000 / n
    }

    val resumes = ops.filter(_.name == "resume")
    val pipeline = if (resumes.isEmpty) Nil else
      CurationWorkload.StageNames.map { st =>
        s"pipeline.stage_s.$st" -> ops.filter(_.name == st).map(_.dur).sum / 1000 / n
      } ++ CurationWorkload.StageNames.map { st =>
        s"pipeline.rows_out.$st" -> r.rowsOut.getOrElse(st, 0L).toDouble
      } ++ Seq(
        "pipeline.memo_hits" -> r.memoHits.toDouble / r.resumeRuns,
        "pipeline.memo_check_s" -> resumes.map(o =>
          o.dur - Tracer.covered(jobsOf(o), o.start, o.end)).sum / 1000 / n)

    val bs = batches.batches.asScala.toSeq.filter(b => warm.exists(within(_, b.time)))
    def mean(f: Batch => Double): Double = bs.map(f).sum / bs.size
    val streaming = if (bs.isEmpty) Nil else Seq(
      "streaming.batches" -> bs.size / n,
      "streaming.add_batch_ms" -> mean(_.addBatchMs),
      "streaming.wal_commit_ms" -> mean(_.walCommitMs),
      "streaming.latest_offset_ms" -> mean(_.latestOffsetMs),
      "streaming.state_commit_ms" -> mean(_.stateCommitMs),
      "streaming.state_rows" -> mean(_.stateRows))

    common ++ pipeline ++ streaming
  }
}
