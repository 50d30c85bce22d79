package perfbench

/** The per-layer metrics of a traced run, named `<layer>.<metric>` after
  * the engine's modules. Every traced run prints all of them: a layer
  * that a workload does not call reports 0, which is the prediction the
  * benchmark makes for it on that workload. */
object Layers {
  val Steps = 4

  val units: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s",
    "sources.records_read" -> "count",
    "sources.input_bytes" -> "bytes",
    "sources.scan_tasks" -> "count",
    "flowlog.parse_s" -> "s",
    "flowlog.enrich_s" -> "s",
    "flowlog.package_s" -> "s",
    "flowlog.package_bytes_per_record" -> "bytes",
    "flowlog.parse_ok_ratio" -> "ratio",
    "flowlog.eni_hit_ratio" -> "ratio",
    "flowlog.geo_hit_ratio" -> "ratio",
    "ingestor.decode_s" -> "s",
    "ingestor.envelopes_in" -> "count",
    "ingestor.events_out" -> "count",
    "ingestor.deadletter_envelopes" -> "count",
    "ingestor.control_dropped" -> "count",
    "streaming.batches" -> "count",
    "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.backlog_files_max" -> "count",
    "streaming.backlog_slope" -> "1/s",
    "streaming.generator_lag_ms_max" -> "ms") ++
    (1 to Steps).map(i => s"streaming.latency_p50_ms.step$i" -> "ms") ++ Seq(
    "sinks.write_s" -> "s",
    "sinks.files_written" -> "count",
    "sinks.bytes_written" -> "bytes",
    "sinks.bytes_per_input_byte" -> "ratio",
    "sinks.batch_commit_ms_p50" -> "ms",
    "sinks.files_scanned_per_query" -> "count",
    "sinks.partitions_pruned_ratio" -> "ratio",
    "sinks.read_amplification" -> "ratio",
    "plans.topk_rewrites" -> "count",
    "similarity.search_ms_p50" -> "ms",
    "similarity.rows_scanned_per_probe" -> "count",
    "similarity.append_ms_p50" -> "ms",
    "similarity.delete_ms_p50" -> "ms",
    "similarity.compact_s" -> "s",
    "similarity.index_bytes" -> "bytes",
    "similarity.recall_at_10" -> "ratio",
    "textanalysis.search_ms_p50" -> "ms",
    "textanalysis.postings_scanned_per_query" -> "count",
    "textanalysis.delete_ms_p50" -> "ms",
    "engine.jobs_per_op" -> "count",
    "engine.stages_per_op" -> "count",
    "engine.tasks_per_op" -> "count",
    "engine.fixed_overhead_ms_per_stage" -> "ms",
    "engine.task_busy_share" -> "ratio",
    "engine.task_skew" -> "ratio",
    "engine.shuffle_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes",
    "engine.gc_share" -> "ratio",
    "engine.heap_after_gc_peak_mb" -> "MB",
    "engine.parallel_speedup" -> "ratio",
    "engine.tracing_overhead_ratio" -> "ratio")

  val names: Seq[String] = units.map(_._1)
  private val unitOf = units.toMap

  def put(out: Outcome, name: String, value: Double): Unit = {
    require(unitOf.contains(name), s"unknown layer metric $name")
    out.put(name, value, unitOf(name))
  }

  /** Report 0 for every metric of a layer the workload never calls. */
  def idle(out: Outcome, exercised: Set[String]): Unit =
    names.filterNot(n => exercised(n.takeWhile(_ != '.')) || out.metrics.contains(n))
      .foreach(n => out.put(n, 0.0, unitOf(n)))

  def engine(out: Outcome, e: EngineSummary, speedup: Double, overhead: Double): Unit = {
    put(out, "engine.jobs_per_op", e.jobsPerOp)
    put(out, "engine.stages_per_op", e.stagesPerOp)
    put(out, "engine.tasks_per_op", e.tasksPerOp)
    put(out, "engine.fixed_overhead_ms_per_stage", e.fixedOverheadMsPerStage)
    put(out, "engine.task_busy_share", e.taskBusyShare)
    put(out, "engine.task_skew", e.taskSkew)
    put(out, "engine.shuffle_bytes", e.shuffleBytesPerOp)
    put(out, "engine.spill_bytes", e.spillBytesPerOp)
    put(out, "engine.gc_share", e.gcShare)
    put(out, "engine.parallel_speedup", speedup)
    put(out, "engine.tracing_overhead_ratio", overhead)
  }

  /** One human-readable line of an operation kind's engine figures. */
  def describe(kind: String, e: EngineSummary): String =
    f"engine[$kind]: ops=${e.ops} jobs/op=${e.jobsPerOp}%.2f stages/op=${e.stagesPerOp}%.2f " +
      f"tasks/op=${e.tasksPerOp}%.1f fixed_ms/stage=${e.fixedOverheadMsPerStage}%.1f " +
      f"busy=${e.taskBusyShare}%.3f skew=${e.taskSkew}%.2f gc=${e.gcShare}%.3f"
}
