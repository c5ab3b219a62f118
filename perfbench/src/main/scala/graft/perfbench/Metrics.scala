package graft.perfbench

/** The benchmark's metric catalogue, mirrored in BENCHMARK.json. Every
  * workload reports every end-to-end metric; per-layer metrics that a
  * workload does no work for read 0 (the "no change" side of a claim). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "live_heap_peak_mb" -> "MB",
    "jobs_per_op" -> "count",
    "tasks_per_op" -> "count")

  /** Spark work per completed operation of the measured window. */
  def perOp(w: Work, ops: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    Map("jobs_per_op" -> w.jobs / n, "tasks_per_op" -> w.tasks / n,
      "input_bytes_per_op" -> w.inputBytes / n, "shuffle_bytes_per_op" -> w.shuffleBytes / n)
  }

  private def route(r: String) = Seq(
    s"search.$r.plan_ms" -> "ms", s"search.$r.execute_ms" -> "ms",
    s"search.$r.jobs" -> "count", s"search.$r.tasks" -> "count",
    s"search.$r.input_bytes" -> "bytes", s"search.$r.shuffle_bytes" -> "bytes")

  val PerLayer: Seq[(String, String)] = Seq(
    // the whole workload: bytes per operation, wall and CPU time
    "input_bytes_per_op" -> "bytes", "shuffle_bytes_per_op" -> "bytes",
    "build_files_per_s" -> "1/s", "build_cpu_ms_per_file" -> "ms", "cpu_ms_per_op" -> "ms",
    "search_qps" -> "1/s", "search_p50_ms" -> "ms", "search_p90_ms" -> "ms",
    "bm25_p50_ms" -> "ms", "wand_p50_ms" -> "ms", "cascade_p50_ms" -> "ms",
    "append_files_per_s" -> "1/s", "fresh_search_p50_ms" -> "ms",
    // graft.functions kernels
    "functions.tokenize_ns_per_byte" -> "ns",
    "functions.vbyte_encode_ns_per_posting" -> "ns",
    "functions.vbyte_decode_ns_per_posting" -> "ns",
    // graft.query
    "query.parse_us" -> "us",
    // graft.index
    "index.build.docs_s" -> "s", "index.build.postings_s" -> "s",
    "index.build.doclen_s" -> "s", "index.build.dict_s" -> "s",
    "index.build.stats_s" -> "s", "index.build.cpu_s" -> "s",
    "index.build.tasks" -> "count", "index.build.shuffle_write_bytes" -> "bytes",
    "index.build.spill_bytes" -> "bytes", "index.positions_build_s" -> "s",
    "index.bytes_per_input_byte" -> "ratio",
    "index.append.s" -> "s", "index.append.jobs" -> "count",
    "index.append.shuffle_write_bytes" -> "bytes", "index.delete_ms" -> "ms",
    "index.open_ms" -> "ms", "index.open_jobs" -> "count",
    "index.dict_lookup_ms" -> "ms", "index.dict_bucketed_ms" -> "ms",
    "index.dict_terms" -> "count") ++
    // graft.search
    route("bm25") ++ route("wand") ++ Seq(
    "search.levwalk_ms" -> "ms", "search.levwalk_visited_nodes" -> "count",
    "search.wand_topk_shard_us" -> "us",
    // graft.rank
    "rank.analyze_ms" -> "ms", "rank.search_ms" -> "ms",
    "rank.jobs" -> "count", "rank.tasks" -> "count",
    "rank.input_bytes" -> "bytes", "rank.shuffle_bytes" -> "bytes",
    // graft.api
    "api.overhead_ms" -> "ms", "api.format_ms" -> "ms",
    // tracing itself
    "trace.overhead_pct" -> "%") ++
    SpanStats.Names.map(n => s"span.$n.self_ms" -> "ms")
}
