package graft.perfbench

/** The per-layer metrics of the traced run, with units, in the order
  * BENCHMARK.json lists them. Every traced run reports all of them; a
  * layer the workload leaves idle reads 0 (its sample count is 0 in the
  * detail lines). */
object PerLayer {
  private val ingestModules = Seq("bump", "cc", "state", "dedup", "semdedup", "pipeline", "other")

  val names: Seq[(String, String)] = Seq(
    "server.cache_hit_ratio" -> "ratio",
    "server.coalesced_ratio" -> "ratio",
    "server.spark_actions_per_request" -> "count",
    "server.format_ms_p50" -> "ms",
    "server.resolve_ms_per_query" -> "ms",
    "plan.build_ms_p50" -> "ms",
    "plan.eager_jobs_per_query" -> "count",
    "catalyst.analysis_ms_p50" -> "ms",
    "catalyst.optimize_ms_p50" -> "ms",
    "catalyst.physical_ms_p50" -> "ms",
    "exec.jobs_per_query" -> "count",
    "exec.tasks_per_query" -> "count",
    "exec.task_ms_per_query" -> "ms",
    "exec.shuffle_bytes_per_query" -> "bytes",
    "exec.job_wall_ms_p50" -> "ms",
    "jvm.gc_ms_per_op" -> "ms",
    "ingest.text_bump_s_p50" -> "s",
    "ingest.vec_bump_s_p50" -> "s") ++
    ingestModules.flatMap(m => Seq(
      s"ingest.$m.jobs_per_bump" -> "count",
      s"ingest.$m.job_wall_s_per_bump" -> "s",
      s"ingest.$m.task_s_per_bump" -> "s")) ++ Seq(
    "ingest.shuffle_bytes_per_bump" -> "bytes",
    "ingest.spill_bytes_per_bump" -> "bytes",
    "ingest.driver_result_bytes_per_bump" -> "bytes",
    "ingest.pinned_bytes_peak" -> "bytes",
    "state.bytes_written_per_bump" -> "bytes",
    "state.files_per_bump" -> "count",
    "trace.overhead_p50" -> "ratio",
    "trace.overhead_rps" -> "ratio")
}
