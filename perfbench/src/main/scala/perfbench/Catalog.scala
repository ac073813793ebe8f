package perfbench

/** Every metric the benchmark reports, with its unit. `BENCHMARK.json`
  * lists the same names and units. */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "iteration_s" -> "s",
    "rows_per_s" -> "rows/s",
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB")

  /** The thirteen `*Ops.all` families of `SparkEntry.queries`. */
  val families: Seq[String] = Seq("RelationalOps", "ArchiveOps", "ScalarOps", "DedupOps",
    "AnnOps", "TextOps", "MultimodalOps", "TemporalJoinOps", "PipelineOps",
    "StreamingOps", "ProfilingOps", "AnalyticsOps", "CurationOps")

  /** Queries timed on their own in the traced operator-suite run. */
  val namedQueries: Seq[String] = Seq("f1_ndjson_roundtrip", "dedup_levenshtein",
    "dedup_cluster_starjoin", "stream_left_outer_join")

  val sweepPredicates: Seq[Int] = Seq(150, 1500, 3000)

  val perLayer: Seq[(String, String)] = Seq(
    "plan.s" -> "s", "plan.predicates" -> "count", "plan.jobs" -> "count",
    "source.scan_s" -> "s", "source.partitions" -> "count", "source.rows" -> "count",
    "source.bytes_read" -> "B",
    "sink.ingest_s" -> "s", "sink.ingests" -> "count",
    "sink.batch_s.p50" -> "s", "sink.batch_s.p90" -> "s",
    "sink.batch_s.last_over_first" -> "ratio", "sink.jobs_per_ingest" -> "count",
    "sink.stage_write_s" -> "s", "sink.load_write_s" -> "s",
    "sink.bytes_written_per_row" -> "B/row", "sink.target_bytes_per_row" -> "B/row",
    "sink.shuffle_bytes" -> "B", "sink.retries" -> "count",
    "verify.s" -> "s", "verify.jobs" -> "count",
    "dml.delete_s" -> "s", "dml.jobs" -> "count", "dml.rows_deleted" -> "count",
    "dml.bytes_rewritten" -> "B",
    "archiver.self_s" -> "s",
    "trace.phase_sum_s" -> "s", "trace.untraced_s" -> "s", "trace.gap_s" -> "s",
    "trace.drain_s" -> "s") ++
    sweepPredicates.flatMap(n => Seq(
      s"source.scan_s.preds$n" -> "s", s"sink.ingest_s.preds$n" -> "s")) ++
    families.flatMap(f => Seq(
      s"ops.$f.s" -> "s", s"ops.$f.jobs" -> "count", s"ops.$f.task_cpu_s" -> "s",
      s"ops.$f.gc_s" -> "s", s"ops.$f.shuffle_bytes" -> "B", s"ops.$f.spill_bytes" -> "B")) ++
    namedQueries.map(q => s"ops.q.$q.s" -> "s") ++
    Seq("query_s.p50" -> "s", "query_s.p95" -> "s",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
      "spark.gc_s" -> "s", "spark.spill_bytes" -> "B",
      "failed_ratio" -> "ratio", "session_start_s" -> "s", "first_run_s" -> "s")
}
