package perfbench

import Util.Obj

/** Per-layer figures of a traced run. Listener events are attributed by
  * time: a job, SQL execution or Catalyst phase counts toward the batch
  * layers when it starts inside a query's build or action (so warm-up,
  * output-check writes and releases are left out), and toward the
  * streaming layers when it belongs to the ingest phase's reference
  * window. */
object Layers {
  private val mib = 1024.0 * 1024.0

  def apply(l: Listeners, spans: Seq[Span], runs: Seq[QueryRun],
      ingest: Option[IngestResult], sessionS: Double, confLeaks: Int,
      cores: Int): Obj = {
    val byId = spans.map(s => s.id -> s).toMap
    val batchPhase = spans.find(s => s.kind == "phase" && s.name == "batch")
    def under(s: Span, ancestor: Span): Boolean = {
      var p = s.parent
      while (p >= 0 && p != ancestor.id) p = byId.get(p).map(_.parent).getOrElse(-1)
      p == ancestor.id
    }
    val timed = spans.filter(s => (s.kind == "build" || s.kind == "action") &&
      batchPhase.exists(under(s, _)))
    val builds = timed.filter(_.kind == "build")
    def inside(t: Long, in: Seq[Span]) = in.exists(s => s.start <= t && t < s.end)
    def sum(xs: Iterable[Double]) = xs.foldLeft(0.0)(_ + _)

    val jobs = l.jobs.filter(j => inside(j.start, timed))
    val sql = l.sqlExecutions.filter(s => inside(s.start, timed))
    val ckpt = sql.filter(_.description.startsWith("localCheckpoint"))
    val phases = l.catalyst.filter(p => inside(p.at, timed))
    val t = jobs.map(_.totals)
    val timedWallS = sum(runs.map(r => r.buildS + r.actionS))
    val runS = sum(t.map(_.runMs / 1e3))

    val ref = spans.find(s => s.kind == "ingest" && s.name == "reference")
    val ingestBatches = l.progress.filter { p =>
      p.name == "perfbench_ingest" &&
        ref.exists(r => inside(SpanTree.progressStart(p), Seq(r)))
    }
    def mean(k: String) =
      if (ingestBatches.isEmpty) 0.0
      else sum(ingestBatches.map(SpanTree.duration(_, k))) / ingestBatches.size
    def batchPct(p: Double) =
      if (ingestBatches.isEmpty) 0.0
      else Util.percentile(ingestBatches.map(SpanTree.duration(_,
        "triggerExecution")), p)
    val stateful = l.progress.filter(p => p.name != "perfbench_ingest" &&
      inside(SpanTree.progressStart(p), timed) && p.stateOperators.nonEmpty)
    // State size: the largest state each replay reached, summed over
    // replays; commit time: every stateful batch's commits.
    val lastState = stateful.groupBy(_.runId).values.map(_.maxBy(_.batchId))

    val byModule = Batch.modules.map { case (m, _) =>
      s"$m.wall_s" -> sum(runs.filter(_.module == m).map(_.wallS))
    }
    Obj(Seq(
      "harness.session_s" -> sessionS,
      "harness.release_s" -> sum(runs.map(_.releaseS)),
      "harness.conf_leaks" -> confLeaks,
      "operators.build_s" -> sum(runs.map(_.buildS)),
      "operators.build_jobs" -> jobs.count(j => inside(j.start, builds)),
      "operators.action_s" -> sum(runs.map(_.actionS))) ++
      byModule ++ Seq(
      "operators.checkpoints" -> ckpt.size,
      "operators.checkpoint_s" -> sum(ckpt.map(c => (c.end - c.start) / 1e6)),
      "sql.executions" -> sql.size,
      "sql.analysis_ms" -> sum(phases.map(_.analysisMs)),
      "sql.optimization_ms" -> sum(phases.map(_.optimizationMs)),
      "sql.planning_ms" -> sum(phases.map(_.planningMs)),
      "exec.jobs" -> jobs.size,
      "exec.tasks" -> t.map(_.tasks).sum,
      "exec.cpu_s" -> sum(t.map(_.cpuNs / 1e9)),
      "exec.run_s" -> runS,
      "exec.gc_s" -> sum(runs.map(_.gcS)),
      "exec.busy_frac" -> (if (timedWallS > 0) runS / (timedWallS * cores)
        else 0.0),
      "exec.peak_mem_mib" -> t.map(_.peakMemB).maxOption.getOrElse(0L) / mib,
      "shuffle.read_mib" -> t.map(_.shuffleReadB).sum / mib,
      "shuffle.write_mib" -> t.map(_.shuffleWriteB).sum / mib,
      "shuffle.records" -> t.map(_.shuffleRecords).sum,
      "shuffle.fetch_wait_s" -> t.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mib" -> t.map(_.spillB).sum / mib,
      "sources.input_mib" -> t.map(_.inputB).sum / mib,
      "sources.input_rows" -> t.map(_.inputRows).sum,
      "streaming.batches" -> ingestBatches.size,
      "streaming.batch_p50_ms" -> batchPct(50),
      "streaming.batch_p99_ms" -> batchPct(99),
      "streaming.get_batch_ms" -> mean("getBatch"),
      "streaming.query_planning_ms" -> mean("queryPlanning"),
      "streaming.add_batch_ms" -> mean("addBatch"),
      "streaming.wal_commit_ms" -> mean("walCommit"),
      "streaming.commit_offsets_ms" -> mean("commitOffsets"),
      "streaming.backlog_rows" -> ingest.map(_.refBacklogMax).getOrElse(0L),
      "streaming.generator_late_ms" -> ingest.map(_.refLateMs).getOrElse(0.0),
      "streaming.state_rows" ->
        lastState.map(_.stateOperators.map(_.numRowsTotal).sum).sum,
      "streaming.state_mem_mib" ->
        lastState.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / mib,
      "streaming.state_commit_ms" ->
        sum(stateful.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)))))
  }
}
