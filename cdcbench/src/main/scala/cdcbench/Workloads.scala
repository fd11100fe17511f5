package cdcbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.applyops.TableSpec
import graft.feed.{Changefeed, Generator}
import graft.feed.Generator.FeedSpec
import graft.loop.ReplayLoop
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.{CommitMeta, SnapshotTable}

/** What one run hands back: the end-to-end samples and, when traced, the
  * per-layer figures.
  */
final case class Result(
    eventsPerS: Double,
    cpuMsPerEvent: Double,
    fenceMs: Seq[Double],
    readMs: Seq[Double],
    writeAmp: Double,
    spaceAmp: Double,
    retainedHeapMb: Double,
    attempted: Long,
    failed: Long,
    layers: Seq[(String, Double, String)]
)

final class Ctx(
    val spark: SparkSession,
    val work: String,
    val seed: Long,
    val seconds: Int,
    val tracer: Tracer,
    val listener: Option[LayerListener],
    val batches: BatchListener,
    val heap: HeapMeter
) {
  def traced: Boolean = listener.nonEmpty

  /** Tracing on or off for the next unit of work (traced runs alternate). */
  def tracing(on: Boolean): Unit = {
    tracer.enabled = on
    listener.foreach(_.enabled = on)
  }
}

/** Micro-batch wall intervals of the streaming loops, from the query
  * progress events (public Spark API), while tracing is on.
  */
final class BatchListener(tracer: Tracer) extends StreamingQueryListener {
  val windows = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (tracer.enabled && e.progress.numInputRows > 0) {
      val start = java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble
      val dur = Option(e.progress.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      windows.add((start, start + dur))
    }
  def all: Seq[(Double, Double)] = windows.asScala.toSeq.sortBy(_._1)
}

/** One fence as the commit log and the printed merge timing describe it. */
final case class FenceRec(
    mergeMs: Double,
    delta: Boolean,
    rows: Long,
    tombstones: Long,
    touched: Long,
    droppedLate: Long
)

object FenceRec {
  def of(m: CommitMeta, mergeMs: Double): FenceRec = FenceRec(
    mergeMs,
    m.metric("delta_merge").contains(1L),
    m.metric("rows_written").getOrElse(0L),
    m.metric("tombstones").getOrElse(0L),
    m.metric("touched_buckets").getOrElse(0L),
    m.metric("dropped_late").getOrElse(0L)
  )
}

object Workloads {
  val RepoFiles: StructType = StructType(
    Seq("repo", "path", "commit", "lang", "content").map(StructField(_, StringType))
  )

  /** KB-sized row images, as the frozen replay bench uses. */
  def changefeedSpec(seed: Long, events: Long, keys: Long, windows: Int, eventsPerFile: Long): FeedSpec =
    FeedSpec(seed = seed, numEvents = events, numKeys = keys, resolvedWindows = windows,
      eventsPerFile = eventsPerFile, disorderBlock = 500L, contentMin = 512, contentRange = 1536)

  /** Buckets per table: one per core of the 4-vCPU reference host, so a
    * merge writes 16 files (4 writers per bucket) instead of 256.
    */
  val Buckets = 4

  // ------------------------------------------------------------- helpers

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }
  def du(p: String): Long = du(Paths.get(p))

  def dataDirs(table: SnapshotTable): Set[String] = {
    val d = Paths.get(table.root, "data")
    if (!Files.exists(d)) Set.empty
    else scala.util.Using.resource(Files.list(d))(_.iterator().asScala.map(_.getFileName.toString).toSet)
  }

  def deleteTree(p: String): Unit = graft.util.Dirs.deleteRecursively(Paths.get(p))

  def deltasOf(table: SnapshotTable): Long =
    table.log.latest().flatMap(m => Option(m.deltas)).map(_.values.map(_.size.toLong).sum).getOrElse(0L)

  /** Data files under `dir`, without Spark's `_SUCCESS` and `.crc` files. */
  def listFiles(dir: String): Seq[String] =
    scala.util.Using.resource(Files.walk(Paths.get(dir))) {
      _.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.map(_.toString).toSeq.sorted
    }

  /** Mutation bytes of feed files: every line but the resolved markers,
    * with its newline.
    */
  def payloadBytes(files: Seq[String]): Long =
    files.map { f =>
      scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8")) {
        _.getLines().filterNot(_.startsWith("{\"resolved\"")).map(_.getBytes("UTF-8").length + 1L).sum
      }
    }.sum

  /** The changefeed of `spec` under `dir`, written by the engine's own
    * generator (chunk directories, mtimes in arrival order).
    */
  def writeFeed(spark: SparkSession, spec: FeedSpec, dir: String): Unit =
    Generator.writeFeed(spark, spec, dir, spark.sparkContext.defaultParallelism)

  private def ms(t0: Double): Double = Clock.nowMs - t0

  /** Progress line on stderr (the run log), stamped with JVM uptime. */
  def note(what: String): Unit = {
    import java.lang.management.ManagementFactory
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    System.err.println(f"cdcbench: t=${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs jit=${jit}ms gc=${gc}ms $what")
  }

  /** Flush the page cache and wait for it, so a timed section does not pay
    * for writing back the generated feed or the trees deleted before it.
    */
  def quiesceDisk(): Unit = new ProcessBuilder("sync").inheritIO().start().waitFor()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads) spent inside `body`, in ms. */
  def cpuMs(body: => Unit): Double = {
    val c0 = os.getProcessCpuTime
    body
    (os.getProcessCpuTime - c0) / 1e6
  }

  /** Timed full read of a table folded to its fingerprint. */
  def timedRead(ctx: Ctx, table: SnapshotTable): ((Long, Long), Double) = {
    val t0 = Clock.nowMs
    val fp = ctx.heap.during(ctx.tracer.span("table.read")(
      Reference.fingerprint(table.read(), Reference.ChangefeedCols)))
    (fp, ms(t0))
  }

  /** Standalone parse probe: task CPU of parsing `files` once, read after
    * the timed section so no timed call is forced.
    */
  def parseProbe(ctx: Ctx, files: Seq[String]): Double = ctx.listener match {
    case None => 0.0
    case Some(l) =>
      ctx.tracing(true)
      val before = Clock.nowMs
      ctx.tracer.span("feed.parse") {
        Changefeed.parseLines(ctx.spark.read.text(files: _*))
          .agg(sum(hash(col("key"), col("data"), col("nanos"), col("logical"))))
          .collect()
      }
      ctx.tracing(false)
      l.allJobs.filter(_.startMs >= before - 1).map(_.m.cpuNs).sum / 1e9
  }

  def checkFp(what: String, got: (Long, Long), want: Reference.State): Boolean = {
    val ok = got._1 == want.rows && got._2 == want.fingerprint
    if (!ok)
      System.err.println(s"cdcbench: $what state mismatch: rows=${got._1} fp=${got._2}, " +
        s"reference rows=${want.rows} fp=${want.fingerprint}")
    ok
  }

  // --------------------------------------------------------------- catchup

  /** Backfill one changefeed with `ReplayLoop.runAvailableNow`. */
  object Catchup {
    val Windows = 4
    val FilesPerWindow = 4
    val Reads = 8

    /** Backlog size: 4 windows of 20000 events at `--seconds 12`, scaled
      * with the run length in steps of 500 events per window.
      */
    def events(seconds: Int): Long = Windows * math.max(1000L, seconds * 5000L / 3 / 500 * 500)

    private def spec(seed: Long, n: Long, windows: Int): FeedSpec =
      changefeedSpec(seed, n, n / 4, windows, n / windows / FilesPerWindow)

    private def warmSpec(seed: Long) = spec(seed, 1000, 1)

    def warmFeed(spark: SparkSession, feed: String, seed: Long): Unit =
      writeFeed(spark, warmSpec(seed), feed)

    def warm(spark: SparkSession, dir: String, feed: String, seed: Long): Unit = {
      val (table, loop) = build(spark, dir, feed, warmSpec(seed))
      loop.runAvailableNow()
      Reference.fingerprint(table.read(), Reference.ChangefeedCols)
    }

    private def build(spark: SparkSession, dir: String, feed: String, spec: FeedSpec) = {
      val table = new SnapshotTable(spark, s"$dir/table", numBuckets = Buckets, compactEvery = 4)
      val stage = new StagedStore(spark, s"$dir/stage",
        bucketNanos = spec.nanosStep * spec.windowSize / FilesPerWindow)
      val loop = new ReplayLoop(spark, feed, table, stage, s"$dir/checkpoint",
        TableSpec(RepoFiles, Seq("repo", "path")), saltBuckets = Buckets,
        maxFilesPerTrigger = FilesPerWindow)
      (table, loop)
    }

    /** One drain of the whole backlog, then its reads. A traced run drains
      * three times and traces the middle drain, so `trace.overhead_frac`
      * compares equal work on both sides of it; only the traced drain feeds
      * the per-layer figures.
      */
    def run(ctx: Ctx): Result = {
      val n = events(ctx.seconds)
      val s = spec(ctx.seed, n, Windows)
      val feed = s"${ctx.work}/feed"
      writeFeed(ctx.spark, s, feed)
      val payload = payloadBytes(listFiles(feed))
      note("feed written")
      val want = Reference.changefeed(ctx.spark, s)
      note("reference computed")
      var attempted, failed = 0L
      val eps, cpu, fence, reads, wamp, samp = Seq.newBuilder[Double]
      val traceUnits = Seq.newBuilder[(Boolean, Double)]
      val fences = Seq.newBuilder[FenceRec]
      var deltasFolded = 0L
      var retained = 0.0
      val drains = if (ctx.traced) Seq(false, true, false) else Seq(false)
      drains.zipWithIndex.foreach { case (traceOn, r) =>
        val dir = s"${ctx.work}/drain-$r"
        quiesceDisk()
        ctx.tracing(traceOn)
        val (table, loop) = build(ctx.spark, dir, feed, s)
        val t0Wall = System.currentTimeMillis()
        val t0 = Clock.nowMs
        cpu += cpuMs(ctx.heap.during(ctx.tracer.span("loop.runAvailableNow")(loop.runAvailableNow()))) / n
        traceUnits += ((traceOn, ms(t0)))
        val commits = table.log.all()
        attempted += Windows
        failed += math.max(0, Windows - commits.size)
        commits.foreach(m => fence += (m.committedAtMs - t0Wall).toDouble)
        val last = commits.map(_.committedAtMs).maxOption.getOrElse(System.currentTimeMillis())
        eps += n * 1000.0 / (last - t0Wall)
        // four fences stay within the vacuum window (four versions), so
        // every data directory the drain wrote is still on disk
        wamp += du(s"$dir/table/data").toDouble / payload
        if (traceOn) {
          val merges = ctx.tracer.all.filter(_.name.startsWith("phase.merge fence="))
          commits.foreach { m =>
            val f = Hlc(m.resolvedNanos, m.resolvedLogical).format
            fences += FenceRec.of(m, merges.filter(_.name.endsWith(f)).map(_.durMs).sum)
          }
        }
        // one untimed read first: it compiles the fold for a table of this
        // size, which a long-running sink pays once, not on every read
        ctx.tracing(false)
        Reference.fingerprint(table.read(), Reference.ChangefeedCols)
        ctx.tracing(traceOn)
        (0 until Reads).foreach { _ =>
          attempted += 1
          if (traceOn) deltasFolded += deltasOf(table)
          val (fp, t) = timedRead(ctx, table)
          reads += t
          if (!checkFp(s"catchup drain $r", fp, want)) failed += 1
        }
        ctx.tracing(false)
        note(s"drain $r and reads done")
        samp += du(s"$dir/table").toDouble / want.liveBytes
        if (r == drains.size - 1) retained = ctx.heap.retainedMb()
        deleteTree(dir)
      }
      val layers =
        if (!ctx.traced) Nil
        else Layers.report(ctx, fences.result(), Map(
          "table.read_deltas_folded" -> deltasFolded.toDouble,
          "feed.parse_cpu_s" -> parseProbe(ctx, listFiles(feed)),
          "trace.overhead_frac" -> Layers.overhead(traceUnits.result())
        ))
      Result(Stats.median(eps.result()), Stats.median(cpu.result()), fence.result(), reads.result(),
        Stats.median(wamp.result()), Stats.median(samp.result()), retained, attempted, failed, layers)
    }
  }

  // ---------------------------------------------------------------- steady

  /** Closed loop over one table: land a fence's file, apply it with
    * `ReplayLoop.processBatch`, read the snapshot, repeat.
    */
  object Steady {
    val FenceEvents = 500L
    val BaseWindows = 4
    /** Untimed fences (each with its read) on the timed table before the
      * timed ones: one compaction cycle, so the JIT has caught up with the
      * code every fence generates before the first sample.
      */
    val WarmFences = 4
    /** One fence per second of run time. */
    def fenceCount(seconds: Int): Int = math.max(8, seconds)

    private def build(spark: SparkSession, dir: String, spec: FeedSpec) = {
      val table = new SnapshotTable(spark, s"$dir/table", numBuckets = Buckets, compactEvery = 4)
      val stage = new StagedStore(spark, s"$dir/stage", bucketNanos = spec.nanosStep * FenceEvents)
      val loop = new ReplayLoop(spark, s"$dir/feed", table, stage, s"$dir/checkpoint",
        TableSpec(RepoFiles, Seq("repo", "path")), saltBuckets = Buckets)
      (table, loop)
    }

    /** One window, and one chunk directory, per fence. */
    private def spec(seed: Long, fences: Int): FeedSpec =
      changefeedSpec(seed, FenceEvents * (BaseWindows + fences), 5000L, BaseWindows + fences, FenceEvents)

    private def chunk(root: String, w: Int): Path = Paths.get(root, f"chunk=$w%06d")

    /** Land window `w`: move its chunk from the holding directory into the
      * feed. Returns the landed directory and its mutation bytes.
      */
    private def land(dir: String, w: Int): (String, Long) = {
      val to = chunk(s"$dir/feed", w)
      Files.createDirectories(to.getParent)
      Files.move(chunk(s"$dir/hold", w), to)
      (to.toString, payloadBytes(listFiles(to.toString)))
    }

    /** Base table: the first `base` windows in one batch, untimed. */
    private def loadBase(spark: SparkSession, dir: String, base: Int, loop: ReplayLoop): Unit = {
      val dirs = (0 until base).map(w => land(dir, w)._1)
      loop.processBatch(spark.read.text(dirs: _*), 0L)
    }

    def warmFeed(spark: SparkSession, feed: String, seed: Long): Unit =
      writeFeed(spark, spec(seed, 1), feed)

    /** Two fences straight from the warm feed, each followed by a read. */
    def warm(spark: SparkSession, dir: String, feed: String, seed: Long): Unit = {
      val (table, loop) = build(spark, dir, spec(seed, 1))
      (0 until 2).foreach { w =>
        loop.processBatch(spark.read.text(chunk(feed, w).toString), w.toLong)
        Reference.fingerprint(table.read(), Reference.ChangefeedCols)
      }
    }

    def run(ctx: Ctx): Result = {
      val n = fenceCount(ctx.seconds)
      val s = spec(ctx.seed, WarmFences + n)
      val dir = ctx.work
      writeFeed(ctx.spark, s, s"$dir/hold")
      note("feed written")
      val (table, loop) = build(ctx.spark, dir, s)
      loadBase(ctx.spark, dir, BaseWindows, loop)
      note("base loaded")
      (BaseWindows until BaseWindows + WarmFences).foreach { w =>
        loop.processBatch(ctx.spark.read.text(land(dir, w)._1), w.toLong)
        Reference.fingerprint(table.read(), Reference.ChangefeedCols)
      }
      note("warm fences done")
      quiesceDisk()
      var attempted, failed = 0L
      val fence, reads = Seq.newBuilder[Double]
      val traceUnits = Seq.newBuilder[(Boolean, Double)]
      val fences = Seq.newBuilder[FenceRec]
      val backlog = Seq.newBuilder[Double]
      val roundFiles = Seq.newBuilder[String]
      var written, payload, reaped, deltasFolded = 0L
      var cpu = 0.0
      var dirs = dataDirs(table)
      var lastFp = (0L, 0L)
      (0 until n).foreach { r =>
        val w = BaseWindows + WarmFences + r
        val (landed, bytes) = land(dir, w)
        roundFiles ++= listFiles(landed)
        payload += bytes
        // traced in alternate blocks of four fences: each block spans a
        // whole delta/compaction cycle
        val traceOn = ctx.traced && (r / 4) % 2 == 1
        ctx.tracing(traceOn)
        attempted += 1
        val t0 = Clock.nowMs
        val ok =
          try {
            cpu += cpuMs(ctx.heap.during(ctx.tracer.span("loop.processBatch") {
              loop.processBatch(ctx.spark.read.text(landed), w.toLong)
            }))
            true
          } catch {
            case e: Exception =>
              System.err.println(s"cdcbench: steady fence $w failed: $e"); false
          }
        val t = ms(t0)
        traceUnits += ((traceOn, t))
        if (ok) fence += t else failed += 1
        // untimed bookkeeping: bytes the fence wrote, directories vacuum
        // reaped, staged bytes left behind
        val now = dataDirs(table)
        written += (now -- dirs).toSeq.map(d => du(Paths.get(table.root, "data", d))).sum
        if (traceOn) {
          reaped += (dirs -- now).size
          backlog += du(s"$dir/stage/data").toDouble
          table.log.latest().foreach { m =>
            val f = Hlc(m.resolvedNanos, m.resolvedLogical).format
            val merge = ctx.tracer.all.filter(_.name == s"phase.merge fence=$f").map(_.durMs).sum
            fences += FenceRec.of(m, merge)
          }
          deltasFolded += deltasOf(table)
        }
        dirs = now
        attempted += 1
        val (fp, rt) = timedRead(ctx, table)
        reads += rt
        lastFp = fp
        ctx.tracing(false)
      }
      note("fences done")
      val retained = ctx.heap.retainedMb()
      val want = Reference.changefeed(ctx.spark, s)
      note("reference computed")
      if (!checkFp("steady", lastFp, want)) failed += 1
      val fenceMs = fence.result()
      val layers =
        if (!ctx.traced) Nil
        else Layers.report(ctx, fences.result(), Map(
          "table.dirs_reaped" -> reaped.toDouble,
          "stage.backlog_bytes" -> Stats.median(backlog.result()),
          "table.read_deltas_folded" -> deltasFolded.toDouble,
          "feed.parse_cpu_s" -> parseProbe(ctx, roundFiles.result()),
          "trace.overhead_frac" -> Layers.overhead(traceUnits.result())
        ), batchWindows = Some(ctx.tracer.named("loop.processBatch").map(s => (s.startMs, s.endMs))))
      Result(n * FenceEvents * 1000.0 / fenceMs.sum, cpu / (fenceMs.size * FenceEvents), fenceMs, reads.result(),
        written.toDouble / payload, du(table.root).toDouble / want.liveBytes, retained,
        attempted, failed, layers)
    }
  }
}
