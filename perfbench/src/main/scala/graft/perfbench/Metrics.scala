package graft.perfbench

/** The declared per-layer metrics, in report order, with their units.
  * Spans a workload does not run report 0. */
object Metrics {
  /** Per-span metrics kept for every span. Shuffle reads, output bytes and
    * task failures are kept only where a change is likely to move them:
    * output bytes on the state-writing spans, task failures summed over
    * all spans. */
  private val PerSpan = Seq(
    "wall_s" -> "s", "self_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "small_jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "sched_wait_s" -> "s", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB")

  private val Ratios = Seq(
    "er.blocking.keys_per_mention" -> "ratio",
    "er.blocking.max_block" -> "count",
    "er.scoring.pairs" -> "count",
    "er.scoring.dup_ratio" -> "ratio",
    "er.scoring.match_ratio" -> "ratio",
    "er.scoring.pairs_per_s" -> "1/s",
    "streaming.fold_clusters.output_mb" -> "MB",
    "streaming.fold_clusters.ranges_touched" -> "count",
    "streaming.fold_clusters.files_written" -> "count",
    "streaming.fold_dup_ngrams.output_mb" -> "MB",
    "streaming.fold_dup_ngrams.ranges_touched" -> "count",
    "streaming.fold_dup_ngrams.files_written" -> "count",
    "dedup.fold_survivors.changed_ratio" -> "ratio",
    "dedup.fold_survivors.exact" -> "count",
    "dedup.fold_survivors.near" -> "count",
    "dedup.fold_survivors.contained" -> "count")

  val perLayer: Seq[(String, String)] =
    Main.Spans.flatMap(s => PerSpan.map { case (m, u) => s"$s.$m" -> u }) ++ Ratios ++
      Seq("task_failures" -> "count", "trace_overhead_s" -> "s")
}
