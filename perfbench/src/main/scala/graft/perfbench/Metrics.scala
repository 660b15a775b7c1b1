package graft.perfbench

/** Names of the per-layer metrics. A traced run reports every one of them;
  * a metric whose layer the workload does not exercise reads 0.
  */
object Metrics {
  /** The registry_mix rows: every family (TPC-H, stats/marketing, graph,
    * streaming, dedup, text, embedding), the known fixed-cost hot spots
    * (g_kcore, g_sssp_weighted, the streaming drains, the LSH pair row,
    * q_mad_outliers, q_hll_distinct) and cheap controls (q1, q5).
    */
  val RegistryRows: Seq[String] = Seq(
    "q1_pricing_summary", "q5_supplier_volume",
    "q_markov_attribution", "q_mad_outliers", "q_hll_distinct",
    "g_kcore", "g_sssp_weighted",
    "s_rollup_stream", "s_sessionize_stream",
    "d_minhash_lsh_pairs", "t_textrank", "e_ivf_index_topk").sorted

  /** tpch for the TPC-H rows (q<digits>_...), else the name's prefix. */
  def family(row: String): String =
    if (row.matches("q\\d+_.*")) "tpch" else row.takeWhile(_ != '_')

  val Families: Seq[String] = Seq("tpch", "q", "g", "s", "d", "t", "e")

  val perLayer: Map[String, Double] = (Seq(
    "config.load_s", "config.executions",
    "io.input_rows", "io.input_bytes", "io.control_rows_read", "io.dedup_removed_rows",
    "io.writeback_rows", "io.write_s",
    "transform.hash_s", "transform.hash_rows_per_s", "transform.antijoin_s",
    "sink.requests", "sink.request_bytes", "sink.rows_sent", "sink.send_busy_s",
    "sink.send_p50_ms", "sink.send_p99_ms", "sink.render_s", "sink.af_max_events_per_s",
    "pipeline.attempted_rows", "pipeline.succeeded_rows", "pipeline.branch_span_p50_s",
    "pipeline.branch_span_max_s", "pipeline.pin_jobs",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.plan_analysis_ms", "spark.plan_optimization_ms", "spark.plan_planning_ms",
    "spark.fixed_cost_s", "spark.exchanges", "spark.bhj", "spark.smj",
    "stream.batches", "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
    "stream.state_rows", "trace.overhead") ++
    RegistryRows.flatMap(n => Seq(s"row.$n.s", s"row.$n.jobs")) ++
    Families.map(f => s"registry.$f.s")).map(_ -> 0.0).toMap
}
