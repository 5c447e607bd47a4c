package perfbench

/** Metric names and units. The end-to-end set is the same on every
  * workload; the per-layer set is printed whole on every traced run, 0
  * where the workload does not exercise the layer. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "session_s" -> "s",
    "storage_ratio" -> "ratio", "heap_live_mb" -> "MiB")

  val Kernels: Seq[String] = Seq("MinHashSig", "GramHashes", "CharOccToks",
    "CharGramBuckets", "DotProduct", "PrefixMergeDot", "NearestCentroid",
    "SimHash60", "JaroWinkler", "BottomK")

  val perLayer: Seq[(String, String)] = Seq(
    "mat.table_s" -> "s", "mat.view_s" -> "s", "mat.seed_s" -> "s",
    "mat.incremental.merge_s" -> "s",
    "mat.incremental.delete_insert_s" -> "s",
    "mat.incremental.append_s" -> "s",
    "mat.incremental.insert_overwrite_s" -> "s",
    "mat.snapshot_s" -> "s", "mat.snapshot_bucketed_s" -> "s",
    "mat.data_tests_s" -> "s", "mat.catalog_s" -> "s",
    "mat.jobs_per_run" -> "count", "mat.write_amplification" -> "ratio",
    "mat.files_written_per_run" -> "count",
    "sources.bytes_read" -> "bytes", "sources.rows_read" -> "count",
    "operators.asof_s" -> "s", "operators.range_s" -> "s",
    "operators.gapfill_s" -> "s", "operators.fuzzy_join_s" -> "s",
    "llm.text_filter_s" -> "s", "llm.minhash_clusters_s" -> "s",
    "llm.pair_join_s" -> "s", "llm.semantic_dedup_s" -> "s",
    "llm.knn_s" -> "s", "llm.pairs_out" -> "count") ++
    Kernels.map(k => s"functions.$k.ns_per_row" -> "ns/row") ++ Seq(
    "stream.ingest.minhash_s" -> "s", "stream.ingest.embedding_s" -> "s",
    "stream.ingest.key_s" -> "s", "stream.jobs_per_batch" -> "count",
    "stream.compact_s" -> "s", "stream.index_files" -> "count",
    "stream.index_rows" -> "count", "stream.novel_ratio" -> "ratio",
    "engine.jobs" -> "count", "engine.construction_jobs" -> "count",
    "engine.construction_s" -> "s", "engine.driver_only_s" -> "s",
    "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.shuffle_write_bytes" -> "bytes",
    "engine.shuffle_read_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.executor_run_s" -> "s", "engine.executor_cpu_s" -> "s",
    "engine.gc_s" -> "s", "trace.overhead_s" -> "s")

  val units: Map[String, String] = (endToEnd ++ perLayer).toMap

  /** Per workload, what its pass, its step and its rows are called:
    * `pass_s` is `build_s` on dbt_project and `pipeline_s` on
    * llm_pipeline; the median step is `incr_run_p50_s` and `batch_p50_s`. */
  val named: Map[String, (String, String, String)] = Map(
    "dbt_project" -> ("build", "incr_run", "applied_rows_per_s"),
    "llm_pipeline" -> ("pipeline", "batch", "ingest_rows_per_s"))

  /** Engine metrics as medians over traced cycles: job counts and job-free
    * time per step (incremental run, micro-batch), where per-call
    * overhead shows; construction and task-level work per pass (build,
    * dedup pipeline), where DataFrame-returning calls and bulk work are. */
  def engine(r: Recorder, steps: Seq[Seq[Span]],
             passes: Seq[Seq[Span]]): Map[String, Double] = {
    def med(f: Counters => Double) =
      Stats.median(passes.map(c => f(r.counters(c))))
    def constructs(c: Seq[Span]) = c.filter(_.kind == "construct")
    Map(
      "engine.jobs" -> Stats.median(steps.map(c => r.counters(c).jobs.toDouble)),
      "engine.construction_jobs" -> Stats.median(passes.map(c =>
        r.counters(constructs(c).flatMap(s => c.filter(x => within(x, s, c))))
          .jobs.toDouble)),
      "engine.construction_s" -> Stats.median(passes.map(c =>
        constructs(c).map(_.seconds).sum)),
      "engine.driver_only_s" -> Stats.median(steps.map(c =>
        r.driverOnlySeconds(c.head))),
      "engine.stages" -> med(_.stages.toDouble),
      "engine.tasks" -> med(_.tasks.toDouble),
      "engine.shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
      "engine.shuffle_read_bytes" -> med(_.shuffleRead.toDouble),
      "engine.spill_bytes" -> med(_.spill.toDouble),
      "engine.executor_run_s" -> med(_.runMs / 1e3),
      "engine.executor_cpu_s" -> med(_.cpuNs / 1e9),
      "engine.gc_s" -> med(_.gcMs / 1e3))
  }

  /** Whether `x` is `anc` or nested under it, within one cycle's spans. */
  private def within(x: Span, anc: Span, cycle: Seq[Span]): Boolean = {
    val byId = cycle.map(s => s.id -> s).toMap
    var cur: Option[Span] = Some(x)
    while (cur.exists(_.id != anc.id))
      cur = cur.flatMap(s => byId.get(s.parent))
    cur.isDefined
  }

  /** Every per-layer metric, 0 where the workload does not produce it. */
  def complete(layers: Map[String, Double]): Map[String, Double] = {
    val unknown = layers.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    perLayer.map { case (k, _) => k -> layers.getOrElse(k, 0.0) }.toMap
  }
}
