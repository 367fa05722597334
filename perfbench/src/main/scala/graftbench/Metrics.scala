package graftbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json
  * declares the same names; the smoke test holds the two together. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s",
    "input_mb_per_s" -> "MB/s",
    "cpu_ms_per_doc" -> "ms/doc",
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB")

  private val ops = Seq("incremental_dedup", "gates", "pii_scrub", "exact_dedup",
    "minhash", "dup_clusters", "cosine_neardups", "paragraph_dedup", "sink")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.warc_decode_us_per_doc" -> "us/doc",
    "sources.warc_records" -> "count",
    "sources.warc_corrupt_units" -> "count",
    "sources.scan_stage_busy_s" -> "s",
    "sources.scan_task_skew" -> "ratio",
    "html.tokenize_us_per_doc" -> "us/doc",
    "html.segment_us_per_doc" -> "us/doc",
    "html.classify_us_per_doc" -> "us/doc",
    "html.docs" -> "count",
    "html.layer1_accept_frac" -> "fraction",
    "html.layer3_frac" -> "fraction",
    "html.self_us_per_doc" -> "us/doc",
    "pdf.parse_us_per_doc" -> "us/doc",
    "pdf.parse_us_per_page" -> "us/page",
    "pdf.docs" -> "count",
    "pdf.input_kb_per_doc" -> "KB/doc",
    "pdf.empty_text_frac" -> "fraction",
    "pdf.self_us_per_doc" -> "us/doc",
    "text.sanitize_us_per_doc" -> "us/doc",
    "text.quality_us_per_doc" -> "us/doc",
    "text.classify_us_per_doc" -> "us/doc",
    "text.fields_us_per_doc" -> "us/doc",
    "text.confidence_us_per_doc" -> "us/doc",
    "text.lang_us_per_doc" -> "us/doc",
    "text.readiness_us_per_doc" -> "us/doc",
    "text.self_us_per_doc" -> "us/doc",
    "pipeline.extract_us_per_doc" -> "us/doc",
    "pipeline.kernel_covered_frac" -> "fraction",
    "pipeline.self_us_per_doc" -> "us/doc",
    "pipeline.replay_docs" -> "count",
    "pipeline.replay_text_mismatches" -> "count",
    "pipeline.extract_stage_busy_s" -> "s",
    "pipeline.core_util" -> "fraction",
    "pipeline.kernel_eff" -> "fraction",
    "pipeline.shuffle_write_mb" -> "MB",
    "pipeline.shuffle_read_mb" -> "MB",
    "pipeline.spill_mb" -> "MB",
    "pipeline.gc_s" -> "s",
    "pipeline.task_p50_ms" -> "ms",
    "pipeline.task_p99_ms" -> "ms",
    "pipeline.tasks" -> "count",
    "pipeline.bucket_records_skew" -> "ratio",
    "pipeline.sink_mb" -> "MB",
    "pipeline.sink_files" -> "count",
    "pipeline.commit_ms" -> "ms",
    "pipeline.jobs" -> "count",
    "pipeline.task_failures" -> "count") ++
    ops.flatMap(op => Seq(
      s"ops.$op.wall_s" -> "s",
      s"ops.$op.busy_s" -> "s",
      s"ops.$op.rows_out" -> "count",
      s"ops.$op.shuffle_mb" -> "MB")) ++ Seq(
    "ops.minhash.candidate_pairs" -> "count",
    "ops.minhash.verified_frac" -> "fraction",
    "ops.dup_clusters.jobs" -> "count",
    "ops.near_dup_recall" -> "fraction",
    "ops.spill_mb" -> "MB",
    "ops.gc_s" -> "s",
    "trace.docs_per_s_untraced" -> "docs/s",
    "trace.docs_per_s_traced" -> "docs/s",
    "trace.overhead_frac" -> "fraction")
}
