package perfbench

/** Metric names and units, mirrored by BENCHMARK.json (SelfTest checks
  * the two agree). A per-layer metric lists the workloads that call its
  * layer; on the others it reads 0, which is the measurement: the layer
  * did no work there. */
object Spec {
  val e2eUnits: Map[String, String] = Map(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms",
    "op2_p50_ms" -> "ms",
    "bytes_per_row" -> "B/row")

  private val I = "ingest"
  private val T = "table_mix"
  private val L = "llm_dedup"
  private val all = Seq(I, T, L)

  /** name → (unit, workloads that produce it). */
  val layer: Seq[(String, String, Seq[String])] = Seq(
    ("trigger.latestOffset_ms", "ms", Seq(I)),
    ("trigger.getBatch_ms", "ms", Seq(I)),
    ("trigger.queryPlanning_ms", "ms", Seq(I)),
    ("trigger.walCommit_ms", "ms", Seq(I)),
    ("trigger.addBatch_ms", "ms", Seq(I)),
    ("trigger.commitOffsets_ms", "ms", Seq(I)),
    ("trigger.batches", "count", Seq(I)),
    ("SchemaRegistry.decode_ns_per_row", "ns/row", Seq(I)),
    ("SchemaRegistry.quarantined_frac", "ratio", Seq(I)),
    ("CommitLog.append_p50_ms", "ms", Seq(I)),
    ("CommitLog.append_tail_ms", "ms", Seq(I)),
    ("CommitLog.append_jobs", "count", Seq(I)),
    ("CommitLog.append_gap_ms", "ms", Seq(I)),
    ("CommitLog.manifest_bytes", "B", Seq(I, T)),
    ("CommitLog.files_per_version", "count", Seq(I, T)),
    ("CommitLog.files_live", "count", Seq(I, T)),
    ("CommitLog.write_jobs", "count", Seq(T)),
    ("CommitLog.write_gap_ms", "ms", Seq(T)),
    ("CommitLog.rewrite_bytes_per_changed_row", "B/row", Seq(T)),
    ("CommitLog.optimize_ms", "ms", Seq(T)),
    ("CommitLog.vacuum_ms", "ms", Seq(T)),
    ("GraftCatalog.plan_ms", "ms", Seq(T)),
    ("GraftCatalog.rows_read_per_row_returned", "ratio", Seq(T)),
    ("GraftCatalog.bytes_read", "B", Seq(T)),
    ("GraftCatalog.read_jobs", "count", Seq(T)),
    ("GraftCatalog.tasks_per_read", "count", Seq(T)),
    ("GraftSqlParser.parse_select_ms", "ms", Seq(T)),
    ("GraftSqlParser.parse_merge_ms", "ms", Seq(T)),
    ("GraftSqlParser.parse_delete_ms", "ms", Seq(T)),
    ("GraftSqlParser.parse_update_ms", "ms", Seq(T)),
    ("GraftSqlParser.parse_insert_ms", "ms", Seq(T)),
    ("GraftSqlParser.parse_optimize_ms", "ms", Seq(T)),
    ("GraftSqlParser.parse_vacuum_ms", "ms", Seq(T)),
    ("Dedup.nearDupPairs_s", "s", Seq(L)),
    ("Dedup.dedupClusters_s", "s", Seq(L)),
    ("Dedup.candidate_shuffle_records", "count", Seq(L)),
    ("Dedup.pairs", "count", Seq(L)),
    ("Dedup.pair_yield", "ratio", Seq(L)),
    ("Dedup.cluster_jobs", "count", Seq(L)),
    ("Similarity.lshPairs_s", "s", Seq(L)),
    ("Similarity.lsh_shuffle_records", "count", Seq(L)),
    ("Similarity.lsh_recall", "ratio", Seq(L)),
    ("VectorExprs.word_shingles_ns_per_row", "ns/row", Seq(L)),
    ("VectorExprs.prefix_shingles_ns_per_row", "ns/row", Seq(L)),
    ("VectorExprs.minhash_sig_ns_per_row", "ns/row", Seq(L)),
    ("VectorExprs.intersect_count_ns_per_row", "ns/row", Seq(L)),
    ("VectorExprs.srp_sig_ns_per_row", "ns/row", Seq(L)),
    ("VectorExprs.cosine_sim_ns_per_row", "ns/row", Seq(L)),
    ("spark.jobs", "count", all),
    ("spark.tasks", "count", all),
    ("spark.job_wall_s", "s", all),
    ("spark.driver_gap_s", "s", all),
    ("spark.shuffle_write_bytes", "B", all),
    ("spark.shuffle_read_bytes", "B", all),
    ("spark.spill_bytes", "B", all),
    ("spark.task_gc_s", "s", all),
    ("spark.sched_delay_s", "s", all),
    ("spark.task_skew", "ratio", all),
    ("self.workload_s", "s", all),
    ("self.op_s", "s", all),
    ("self.trigger_s", "s", Seq(I)),
    ("self.SchemaRegistry_s", "s", Seq(I)),
    ("self.CommitLog_s", "s", Seq(I, T)),
    ("self.GraftCatalog_s", "s", Seq(T)),
    ("self.GraftSqlParser_s", "s", Seq(T)),
    ("self.Dedup_s", "s", Seq(L)),
    ("self.Similarity_s", "s", Seq(L)),
    ("trace.ops", "count", all),
    ("trace.spans", "count", all),
    ("trace.jobs_reattributed", "count", all),
    ("trace.overhead_frac", "ratio", all),
    ("baseline.local1_rows_per_s", "rows/s", Seq(I)),
    ("baseline.local1_batch_p50_ms", "ms", Seq(I)),
    ("env.nproc", "count", all),
    ("env.local_n", "count", all),
    ("env.default_parallelism", "count", all),
    ("env.steal_share", "ratio", all),
    ("env.xmx_mb", "MB", all),
    ("env.seed", "count", all))

  val layerUnits: Map[String, String] = layer.map(t => t._1 -> t._2).toMap

  def producedBy(workload: String): Set[String] =
    layer.filter(_._3.contains(workload)).map(_._1).toSet
}
