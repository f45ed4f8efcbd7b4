package perfbench

/** The per-layer metrics a traced run reports, with their units: the
  * `per_layer` list of BENCHMARK.json. Every workload reports every
  * name, so a count or ratio reads 0 where the workload does not reach
  * its layer. No time is listed that reads 0 by construction on some
  * workload: the per-step times and shuffle fetch wait (always 0 in
  * local mode) stay in the report's `layer_reps` and spans.
  * perfbench/README.md maps each name to the end-to-end metric and
  * workload it should move.
  */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "session.build_s" -> "s", "session.warmup_s" -> "s",
    "session.plan_build_s" -> "s", "session.eager_jobs" -> "count",
    "session.analyze_s" -> "s", "session.optimize_s" -> "s",
    "session.physical_plan_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.delay_s" -> "s",
    "scheduler.floor_share" -> "share", "scheduler.core_busy_share" -> "share",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s",
    "exec.peak_task_mem_mb" -> "MB", "exec.spill_bytes" -> "B",
    "jvm.jit_cpu_s" -> "s", "jvm.gc_cpu_s" -> "s",
    "shuffle.exchanges" -> "count", "shuffle.write_bytes" -> "B",
    "shuffle.write_records" -> "count", "shuffle.read_bytes" -> "B",
    "sources.scan_bytes" -> "B", "sources.scan_rows" -> "count",
    "sources.scan_files" -> "count", "sources.write_bytes" -> "B",
    "sources.write_rows" -> "count", "sources.write_files" -> "count",
    "sources.bytes_written_per_input_byte" -> "ratio",
    "operators.dedup_dropped_rows" -> "count",
    "ann.candidates_scanned" -> "count", "ann.candidates_per_query" -> "count",
    "ann.semdedup_removed" -> "count", "ann.recall_at_10" -> "share",
    "trace.overhead_share" -> "share")

  /** Reported in addition by corpus_prep, which is not in BENCHMARK.json. */
  val corpus: Seq[(String, String)] = Seq(
    "corpus.full_s" -> "s", "corpus.prep_s" -> "s",
    "dedup.signatures_s" -> "s", "dedup.candidates_s" -> "s",
    "dedup.verify_s" -> "s", "dedup.components_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio", "dedup.components_jobs" -> "count",
    "corpus.kept_docs" -> "count")
}
