package perfbench

/** Per-layer metric names, one block per module under graft/. A traced
  * run reports every name; a layer a workload does not call reads 0. */
object Layers {
  val Ops: Seq[String] = Seq("q03_join_revenue_by_nation", "q108_dedup_survivorship",
    "q125_dup_spans", "q142_setsim_shingles", "q152_ann_recall",
    "q166_sorted_neighborhood", "q186_copurchase_triangles", "q25_jaccard_neardups")
  val QueryClasses: Seq[String] = Seq("point", "agg", "join", "gold", "wide", "dialect", "reject")

  val names: Seq[String] =
    Seq("ingest.call_ms", "ingest.flush_ms", "ingest.records_per_s", "ingest.bronze_bytes",
      "silver.merge_ms", "silver.bucketed_merge_ms", "silver.partitioned_merge_ms",
      "silver.jobs", "silver.stages", "silver.tasks", "silver.bytes_read",
      "silver.bytes_written", "silver.shuffle_bytes", "silver.files_written",
      "silver.files_linked", "silver.rewrite_ratio", "silver.core_util",
      "gold.refresh_ms", "gold.stages", "gold.tasks", "gold.bytes_read", "gold.bytes_written") ++
    QueryClasses.map(c => s"query.${c}_ms") ++
    Seq("query.parse_ms", "query.analysis_ms", "query.optimize_ms", "query.plan_ms",
      "query.exec_ms", "query.overhead_ms", "query.rows_scanned_per_row_returned",
      "query.stages", "query.stale_reads") ++
    Ops.map(q => s"ops.${q}_s") ++
    Seq("ops.shuffle_bytes", "ops.spill_bytes", "ops.stages", "ops.persisted_rdds_left",
      "ops.cached_bytes_held", "spark.task_cpu_ms", "spark.gc_ms", "spark.jobs",
      "bench.tracing_overhead", "bench.failed_ratio")

  def defaults: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Mean over `spans` of one field of the Spark work attributed to them. */
  def perCall(ctx: Ctx, spans: Seq[Span])(f: Work => Long): Double =
    if (spans.isEmpty) 0.0 else spans.map(s => f(ctx.work(s)).toDouble).sum / spans.size

  def medianMs(spans: Seq[Span]): Double =
    if (spans.isEmpty) 0.0 else Stats.median(spans.map(s => (s.endNs - s.startNs) / 1e6))

  /** Spark totals per operation over a window of the run. */
  final class Window(ctx: Ctx) {
    private def snap = ctx.counters.map(c =>
      (c.total.cpuNs.sum, c.total.gcNs.sum, c.total.jobs.sum)).getOrElse((0L, 0L, 0L))
    private val start = { ctx.drain(); snap }
    def perOp(ops: Long): Map[String, Double] = {
      ctx.drain()
      val end = snap
      val n = math.max(1L, ops).toDouble
      Map("spark.task_cpu_ms" -> (end._1 - start._1) / 1e6 / n,
        "spark.gc_ms" -> (end._2 - start._2) / 1e6 / n,
        "spark.jobs" -> (end._3 - start._3) / n)
    }
  }

  /** Relative latency cost of tracing: traced over untraced median, minus 1. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Stats.median(traced) / Stats.median(untraced) - 1.0
}
