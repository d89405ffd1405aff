package graftbench

/** Per-layer metrics of a traced run. Counts, times and bytes are means
  * per operation: per query execution on the batch workloads, per
  * micro-batch on `stream_ref`. Every name is always present, as 0 when
  * the workload does not reach that layer. */
object Layers {
  val names: Seq[String] = Seq(
    "session.build_ms", "setup.first_s", "setup.warmup_s",
    "plans.query_executions", "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "operators.build_ms", "operators.action_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_ms", "exec.driver_gap_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.task_gc_ms", "exec.sched_delay_ms",
    "exec.core_busy_ratio", "exec.empty_task_ratio",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "sources.scan_bytes", "sources.scan_records", "sources.write_bytes",
    "sources.files_written", "sources.dir_bytes_end",
    "stream.batches", "stream.data_batch_ratio", "stream.rows_per_batch",
    "stream.planning_ms", "stream.walcommit_ms", "stream.commitoffsets_ms",
    "stream.latestoffset_ms", "stream.addbatch_ms", "stream.trigger_ms",
    "stream.backlog_rows_max", "stream.gen_late_ms", "stream.match_ratio",
    "stream.drain_orders_per_s",
    "state.rows_total", "state.memory_bytes", "state.commit_ms", "state.rows_dropped_by_watermark",
    "latency.p50_ms", "latency.tail_ms", "latency.tail_pct", "latency.samples",
    "memory.peak_rss_mb", "host.canary_ms", "host.canary_ratio", "bench.failed_ratio", "trace.spans")

  def fill(r: Main.Result): Unit = names.foreach(n => if (!r.layers.contains(n)) r.layers(n) = 0.0)

  /** Layers below the harness for the timed batch operations. */
  def batch(x: Recorder, ops: Seq[Op], cores: Int, r: Main.Result): Unit = {
    val n = math.max(1, ops.size).toDouble
    val jobMs = ops.map(o => Recorder.unionMs(x.jobsOf(o.group).map(j => (j.start, j.end))))
    plans(x, ops.map(_.group), n, r)
    r.layers("operators.build_ms") = ops.map(o => o.buildEnd - o.start).sum / n
    r.layers("operators.action_ms") = ops.map(o => o.end - o.buildEnd).sum / n
    r.layers("exec.driver_gap_ms") = ops.zip(jobMs).map { case (o, j) => o.wallMs - j }.sum / n
    exec(x, ops.map(_.group), jobMs.sum, n, cores, r)
    r.layers("sources.write_bytes") = ops.map(_.bytesWritten).sum / n
    r.layers("sources.files_written") = ops.map(_.filesWritten).sum / n
  }

  /** Layers below the stream: every micro-batch's Spark work. */
  def stream(x: Recorder, op: Op, batches: Seq[StreamBatch], cores: Int, r: Main.Result): Unit = {
    val n = math.max(1, batches.size).toDouble
    val jobMs = Recorder.unionMs(x.jobsOf(op.group).map(j => (j.start, j.end)))
    plans(x, Seq(op.group), n, r)
    r.layers("exec.driver_gap_ms") = (batches.map(b => b.end - b.start).sum - jobMs) / n
    exec(x, Seq(op.group), jobMs, n, cores, r)
    r.layers("sources.write_bytes") = op.bytesWritten / n
    r.layers("sources.files_written") = op.filesWritten / n
  }

  private def plans(x: Recorder, groups: Seq[String], n: Double, r: Main.Result): Unit = {
    val qes = groups.flatMap(x.qesOf)
    def phase(k: String) = qes.map(q => q.phases.get(k).map(p => p._2 - p._1).getOrElse(0.0)).sum / n
    r.layers("plans.query_executions") = qes.size / n
    r.layers("plans.analysis_ms") = phase("analysis")
    r.layers("plans.optimization_ms") = phase("optimization")
    r.layers("plans.planning_ms") = phase("planning")
  }

  private def exec(x: Recorder, groups: Seq[String], jobMs: Double, n: Double, cores: Int,
      r: Main.Result): Unit = {
    val a = groups.map(x.agg)
    def sum(f: TaskAgg => Long) = a.map(f).sum.toDouble
    r.layers("exec.jobs") = groups.map(g => x.jobsOf(g).size).sum / n
    r.layers("exec.stages") = groups.map(g => x.stagesOf(g).size).sum / n
    r.layers("exec.tasks") = sum(_.tasks) / n
    r.layers("exec.job_ms") = jobMs / n
    r.layers("exec.task_run_ms") = sum(_.runMs) / n
    r.layers("exec.task_cpu_ms") = sum(_.cpuNs) / 1e6 / n
    r.layers("exec.task_gc_ms") = sum(_.gcMs) / n
    r.layers("exec.sched_delay_ms") = sum(_.waitMs) / n
    r.layers("exec.core_busy_ratio") = if (jobMs > 0) sum(_.runMs) / (jobMs * cores) else 0.0
    r.layers("exec.empty_task_ratio") = if (sum(_.tasks) > 0) sum(_.emptyTasks) / sum(_.tasks) else 0.0
    r.layers("exec.shuffle_write_bytes") = sum(_.shuffleWrite) / n
    r.layers("exec.shuffle_read_bytes") = sum(_.shuffleRead) / n
    r.layers("exec.spill_bytes") = sum(_.spill) / n
    r.layers("sources.scan_bytes") = sum(_.scanBytes) / n
    r.layers("sources.scan_records") = sum(_.scanRecords) / n
  }
}
