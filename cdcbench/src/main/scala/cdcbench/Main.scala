package cdcbench

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload catchup|steady --seed N --seconds S --trace 0|1
  *      --work DIR --out DIR [--cores C]
  * }}}
  *
  * Set-up (session start, engine construction and a small run of the same
  * workload to warm the JIT) happens three times; `setup_s` is the median.
  * Writing the small run's feed, once, is not part of it.
  * The last line on stdout is the result object; the line before it holds
  * sample counts.
  */
object Main {
  final case class Workload(
      warmFeed: (SparkSession, String, Long) => Unit,
      warm: (SparkSession, String, String, Long) => Unit,
      run: Ctx => Result
  )

  val Workloads: Map[String, Workload] = Map(
    "catchup" -> Workload(cdcbench.Workloads.Catchup.warmFeed, cdcbench.Workloads.Catchup.warm,
      cdcbench.Workloads.Catchup.run),
    "steady" -> Workload(cdcbench.Workloads.Steady.warmFeed, cdcbench.Workloads.Steady.warm,
      cdcbench.Workloads.Steady.run)
  )

  val SetupRounds = 3
  val TailPct = 90.0

  def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", "")
    val w = Workloads.getOrElse(name, {
      System.err.println(s"cdcbench: unknown workload '$name' (${Workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val out = opts("out")
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val tracer = new Tracer(s"$name-seed$seed-${System.currentTimeMillis()}")
    val realOut = System.out
    val tee = new java.io.PrintStream(new PhaseTee(System.err, tracer), true)

    val code = Console.withOut(tee) {
      var spark: SparkSession = null
      val setup = (0 until SetupRounds).map { i =>
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = session(cores, work)
        val started = System.nanoTime()
        if (i == 0) w.warmFeed(spark, s"$work/warm-feed", seed + 1)
        val t1 = System.nanoTime()
        w.warm(spark, s"$work/setup-$i", s"$work/warm-feed", seed + 1)
        cdcbench.Workloads.note(s"setup round $i done")
        (started - t0 + System.nanoTime() - t1) / 1e9
      }
      (0 until SetupRounds).foreach(i => cdcbench.Workloads.deleteTree(s"$work/setup-$i"))
      val listener = if (trace) Some(new LayerListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val batches = new BatchListener(tracer)
      if (trace) spark.streams.addListener(batches)
      val heap = new HeapMeter
      val ctx = new Ctx(spark, work, seed, seconds, tracer, listener, batches, heap)
      val r = w.run(ctx)
      System.err.println(s"cdcbench: fence_ms=${r.fenceMs.map(v => f"$v%.0f").mkString(",")} " +
        s"read_ms=${r.readMs.map(v => f"$v%.0f").mkString(",")}")
      val metrics: Seq[(String, Double, String)] =
        if (!trace)
          Seq(
            ("apply_events_per_s", r.eventsPerS, "events/s"),
            ("apply_cpu_ms_per_event", r.cpuMsPerEvent, "ms/event"),
            ("fence_apply_p50_ms", Stats.median(r.fenceMs), "ms"),
            ("fence_apply_tail_ms", Stats.pct(r.fenceMs, TailPct), "ms"),
            ("read_p50_ms", Stats.median(r.readMs), "ms"),
            ("read_tail_ms", Stats.pct(r.readMs, TailPct), "ms"),
            ("write_amp", r.writeAmp, "ratio"),
            ("space_amp", r.spaceAmp, "ratio"),
            ("setup_s", Stats.median(setup), "s"),
            ("retained_heap_mb", r.retainedHeapMb, "MB")
          )
        else r.layers
      if (trace) {
        val path = java.nio.file.Paths.get(out, s"trace-$name-seed$seed.json")
        java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.writeString(path, tracer.toJson(listener.get.allJobs))
      }
      spark.stop()
      cdcbench.Workloads.note("session stopped")
      realOut.println(
        s"""{"samples":{"fences":${r.fenceMs.size},"reads":${r.readMs.size},"setups":$SetupRounds,"tail_pct":${TailPct.toInt},"heap_gcs":${heap.inTimed.size},"setup_s":[${setup.map(num).mkString(",")}]}}""")
      val correct = r.failed == 0
      realOut.println(
        s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},"metrics":{""" +
          metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",") +
          "}}")
      realOut.flush()
      if (correct) 0 else 1
    }
    sys.exit(code)
  }
}
