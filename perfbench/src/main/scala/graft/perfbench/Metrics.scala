package graft.perfbench

/** The metric registry: every name the benchmark reports, with its unit.
  * BENCHMARK.json at the repository root lists the same names (checked by
  * MetricsSpec).
  */
object Metrics {

  /** Reported by every untraced run, on every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms")

  /** Reported by every traced run; 0 where the workload does not run that
    * layer.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s",
    "setup.self_s" -> "s",
    "sources.corpus_gen_s" -> "s",
    "text.tokenize_s" -> "s",
    "bm25.embed_s" -> "s",
    "index.build.forward_s" -> "s",
    "index.build.stats_s" -> "s",
    "index.build.postings_s" -> "s",
    "index.build.termstats_s" -> "s",
    "index.build.jobs" -> "count",
    "index.build.tasks" -> "count",
    "index.build.task_ms" -> "ms",
    "index.build.shuffle_write_bytes" -> "B",
    "index.build.spill_bytes" -> "B",
    "index.postings" -> "count",
    "index.bytes_per_posting" -> "B",
    "index.df_skew_ratio" -> "ratio",
    "index.bytes_per_input_byte" -> "ratio",
    "index.term_dfs_ms" -> "ms",
    "index.wand_ms" -> "ms",
    "index.wand_jobs" -> "count",
    "index.exhaustive_ms" -> "ms",
    "api.search_ms" -> "ms",
    "api.search_jobs" -> "count",
    "api.search_tasks" -> "count",
    "api.search_task_ms" -> "ms",
    "api.search_shuffle_bytes" -> "B",
    "api.engine_self_ms" -> "ms",
    "api.wand_blocks_skipped" -> "count",
    "api.open_ms" -> "ms",
    "api.get_ms" -> "ms",
    "api.upsert_ms" -> "ms",
    "api.remove_ms" -> "ms",
    "api.write_jobs" -> "count",
    "api.compact_s" -> "s",
    "api.compact_jobs" -> "count",
    "api.compact_shuffle_bytes" -> "B",
    "api.build_base_s" -> "s") ++
    endToEnd.map { case (n, u) => s"trace.overhead.$n" -> u }
}
