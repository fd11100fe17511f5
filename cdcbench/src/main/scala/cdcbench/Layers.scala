package cdcbench

/** Per-layer figures of a traced run, from the bench spans, the replay
  * loop's printed phase timings, the Spark jobs attributed by call site, and
  * the commit log. Times are totals over the traced units unless the name
  * says otherwise (`loop.batch_ms` and `loop.jobs_per_batch` are per batch).
  */
object Layers {

  /** Every per-layer metric, with its unit, in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "stage.append_ms" -> "ms",
    "stage.append_cpu_s" -> "s",
    "stage.rows" -> "count",
    "stage.bytes_written" -> "bytes",
    "stage.files_written" -> "count",
    "feed.parse_cpu_s" -> "s",
    "table.merge_ms" -> "ms",
    "table.merge_cpu_s" -> "s",
    "table.merge_shuffle_mb" -> "MB",
    "table.merge_spill_mb" -> "MB",
    "table.rows_written" -> "count",
    "table.tombstones" -> "count",
    "table.touched_buckets" -> "count",
    "table.files_written" -> "count",
    "table.bytes_written" -> "bytes",
    "table.dropped_late" -> "count",
    "table.compaction_ms" -> "ms",
    "table.compactions" -> "count",
    "table.delta_merge_ms" -> "ms",
    "table.delta_merges" -> "count",
    "table.read_ms" -> "ms",
    "table.read_deltas_folded" -> "count",
    "table.read_shuffle_mb" -> "MB",
    "loop.batch_ms" -> "ms",
    "loop.driver_ms" -> "ms",
    "loop.jobs_per_batch" -> "count",
    "applyops.plan_ms" -> "ms",
    "loop.housekeeping_ms" -> "ms",
    "table.dirs_reaped" -> "count",
    "stage.backlog_bytes" -> "bytes",
    "spark.cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.tasks" -> "count",
    "spark.jobs" -> "count",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "heap.peak_after_gc_mb" -> "MB",
    "trace.unattributed_frac" -> "ratio",
    "trace.overhead_frac" -> "ratio"
  )

  /** Traced minus untraced median unit time, over untraced. */
  def overhead(units: Seq[(Boolean, Double)]): Double = {
    val on = units.filter(_._1).map(_._2)
    val off = units.filterNot(_._1).map(_._2)
    if (on.isEmpty || off.isEmpty) 0.0 else Stats.median(on) / Stats.median(off) - 1.0
  }

  def report(
      ctx: Ctx,
      fences: Seq[FenceRec],
      extra: Map[String, Double],
      batchWindows: Option[Seq[(Double, Double)]] = None
  ): Seq[(String, Double, String)] = {
    val listener = ctx.listener.get
    val spans = ctx.tracer.all
    val jobs = listener.allJobs
    val batches = batchWindows.getOrElse(ctx.batches.all)
    def within(t: Double, ws: Seq[(Double, Double)]) = ws.exists { case (a, b) => t >= a - 1 && t <= b + 1 }
    val batchJobs = jobs.filter(j => within(j.startMs, batches))
    val reads = spans.filter(_.name == "table.read").map(s => (s.startMs, s.endMs))
    val readJobs = jobs.filter(j => within(j.startMs, reads))
    def layer(l: String) = batchJobs.filter(_.layer == l)
    def tot(js: Seq[LayerListener.Job]) = TaskTotals.sum(js.map(_.m))
    def wall(js: Seq[LayerListener.Job]) = Stats.covered(js.map(j => (j.startMs, j.endMs)), Double.MinValue, Double.MaxValue)
    def phase(p: String) = spans.filter(_.name.startsWith(s"phase.$p"))
    val stageJobs = tot(layer("stage"))
    val tableJobs = tot(layer("table"))
    val readTot = tot(readJobs)
    val all = tot(jobs)
    val printedAppend = phase("stage-append").map(_.durMs).sum
    val phases = spans.filter(_.name.startsWith("phase.")).map(s => (s.startMs, s.endMs))
    val mergeEnds = phase("merge").map(_.endMs)
    val batchWall = batches.map { case (a, b) => b - a }.sum
    val jobIv = jobs.map(j => (j.startMs, j.endMs))
    val (compactions, deltas) = fences.partition(!_.delta)
    val base = Map(
      "stage.append_ms" -> (if (printedAppend > 0) printedAppend else wall(layer("stage"))),
      "stage.append_cpu_s" -> stageJobs.cpuNs / 1e9,
      "stage.rows" -> stageJobs.recordsWritten.toDouble,
      "stage.bytes_written" -> stageJobs.bytesWritten.toDouble,
      "stage.files_written" -> listener.filesWritten("stage").toDouble,
      "table.merge_ms" -> phase("merge").map(_.durMs).sum,
      "table.merge_cpu_s" -> tableJobs.cpuNs / 1e9,
      "table.merge_shuffle_mb" -> tableJobs.shuffleWrite / 1e6,
      "table.merge_spill_mb" -> tableJobs.spill / 1e6,
      "table.rows_written" -> fences.map(_.rows).sum.toDouble,
      "table.tombstones" -> fences.map(_.tombstones).sum.toDouble,
      "table.touched_buckets" -> fences.map(_.touched).sum.toDouble,
      "table.files_written" -> listener.filesWritten("table").toDouble,
      "table.bytes_written" -> tableJobs.bytesWritten.toDouble,
      "table.dropped_late" -> fences.map(_.droppedLate).sum.toDouble,
      "table.compaction_ms" -> compactions.map(_.mergeMs).sum,
      "table.compactions" -> compactions.size.toDouble,
      "table.delta_merge_ms" -> deltas.map(_.mergeMs).sum,
      "table.delta_merges" -> deltas.size.toDouble,
      "table.read_ms" -> reads.map { case (a, b) => b - a }.sum,
      "table.read_shuffle_mb" -> readTot.shuffleWrite / 1e6,
      "loop.batch_ms" -> (if (batches.isEmpty) 0.0 else batchWall / batches.size),
      "loop.driver_ms" -> batches.map { case (a, b) => (b - a) - Stats.covered(jobIv, a, b) }.sum,
      "loop.jobs_per_batch" -> (if (batches.isEmpty) 0.0 else batchJobs.size.toDouble / batches.size),
      "applyops.plan_ms" -> phase("plan").map(_.durMs).sum,
      "loop.housekeeping_ms" -> batches.map { case (a, b) =>
        mergeEnds.filter(e => e >= a && e <= b).maxOption.map(b - _).getOrElse(0.0)
      }.sum,
      "spark.cpu_s" -> all.cpuNs / 1e9,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.shuffle_write_mb" -> all.shuffleWrite / 1e6,
      "spark.spill_mb" -> all.spill / 1e6,
      "heap.peak_after_gc_mb" -> ctx.heap.peakMb,
      "trace.unattributed_frac" -> (if (batchWall <= 0) 0.0 else
        batches.map { case (a, b) => (b - a) - Stats.covered(phases ++ jobIv, a, b) }.sum / batchWall)
    )
    val merged = base ++ extra
    Metrics.map { case (n, u) => (n, merged.getOrElse(n, 0.0), u) }
  }
}
