package perfbench

/** The per-layer metrics of a traced run, with their units. Every traced
  * run reports all of them; a layer the workload does not exercise reads 0
  * (the "predicted flat" side of each row in the benchmark's table). */
object Layers {

  /** The battery: 12 of the 49 `SparkEntry.queries`, one per ops module (Dedup,
    * TextAnalysis, Similarity, Multimodal, Windows, Routing, Scoring and
    * the VecMath and CappedCollectList functions), the extraction query
    * x1, and the queries the round-6 records list as heaviest (q12, d2,
    * d4, d7, c2, s3). All 49 do not fit the benchmark's time budget: one
    * warm plus one timed round of all of them costs about 70 s per run on
    * a 4-core host. d8 and m3 may never join: d8 keeps its label stores
    * under /dev/shm and m3 writes its PNG fixtures under /tmp, and the
    * benchmark may write only inside its checkout. */
  val BatteryQueries: Seq[String] = Seq(
    "q4b_chunked_peak", "q12_region_revenue", "t2_quality",
    "d2_ngram_jaccard", "d4_lsh_pairs", "d7_dup_clusters", "c2_semantic_curation",
    "s3_ivf_ann", "m1_media_meta", "r1_smart_routing",
    "x1_extract_spans", "x4_golden_verdicts")

  val Families: Seq[String] = Seq("q", "t", "d", "c", "s", "m", "r", "x")

  val all: Seq[(String, String)] =
    Seq("layout_json", "html", "markdown").map(t => s"kernel.us_per_page.$t" -> "us") ++
    Seq("kernel.busy_share" -> "ratio",
      "pipeline.codec.pack_ns_per_doc" -> "ns",
      "pipeline.codec.unpack_ns_per_doc" -> "ns",
      "pipeline.codec.bytes_per_doc" -> "bytes",
      "pipeline.exchange.shuffle_write_bytes" -> "bytes",
      "pipeline.exchange.shuffle_read_bytes" -> "bytes",
      "pipeline.exchange.stage_s" -> "s",
      "pipeline.exchange.task_skew" -> "ratio",
      "pipeline.exchange.spill_bytes" -> "bytes",
      "pipeline.exchange.gc_s" -> "s",
      "sources.read_s" -> "s",
      "sources.write_s" -> "s",
      "sources.out_bytes" -> "bytes",
      "main.extract_jobs" -> "count",
      "main.metrics_pass_s" -> "s",
      "main.pages_per_s_1t" -> "1/s",
      "main.scaling_eff" -> "ratio") ++
    BatteryQueries.map(q => s"query.${q}_s" -> "s") ++
    Families.flatMap(f => Seq(s"ops.$f.jobs" -> "count", s"ops.$f.plan_ms" -> "ms",
      s"ops.$f.shuffle_bytes" -> "bytes", s"ops.$f.cpu_s" -> "s")) ++
    Seq("ops.join.max_task_records" -> "count",
      "ops.join.task_skew" -> "ratio",
      "ops.join.shuffle_bytes" -> "bytes",
      "ops.join.spill_bytes" -> "bytes",
      "streaming.jobs_per_drop" -> "count",
      "streaming.batch_plan_ms" -> "ms",
      "streaming.add_batch_s" -> "s",
      "streaming.compact_dedup_s" -> "s",
      "streaming.compact_labels_s" -> "s",
      "streaming.store_bytes" -> "bytes",
      "streaming.store_files" -> "count",
      "jvm.peak_heap_after_gc_mb" -> "MB",
      "trace.overhead_share" -> "ratio")
}
