package graft.loop

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.applyops.{ApplyPlanner, TableSpec}
import graft.feed.Changefeed
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** The logical-replication loop: one Structured Streaming query that tails a
  * changefeed directory and applies it to a [[SnapshotTable]].
  *
  * This is the Spark re-expression of the reference's per-schema loop
  * (reference: internal/source/logical/loop.go, internal/source/cdc/
  * resolver.go:347-465): the channel/goroutine machinery collapses into
  * micro-batches, and `foreachBatch` supplies the transactional boundary the
  * reference gets from `OnBegin`/`OnCommit`.
  *
  * Per micro-batch, in staged (transactional) mode:
  *   1. parse ndjson lines → mutations + resolved markers;
  *   2. stage mutations durably (idempotent append — the staging state lives
  *      in parquet, not the Spark state store, so it is unbounded and
  *      restart-safe);
  *   3. fold resolved markers into the fence: newFence = max resolved seen;
  *      non-monotonic markers are silently ignored exactly like the
  *      reference's `Mark` (resolver.go:154-157);
  *   4. if the fence advanced: read staged mutations in
  *      `(committedFence, newFence]` (partition-pruned), run the apply
  *      planner (drift checks → transforms → salted LWW dedup) and MERGE
  *      into the snapshot (CAS-gated against the current rows inside the
  *      merge attempt, if configured) with idempotence key = the fence —
  *      replays of the same window no-op; a batch whose markers are all at
  *      or below the fence but which staged rows (a redelivery) merges
  *      those rows under the unchanged fence;
  *   5. retire staging partitions below the fence (metadata-only drop).
  * Steps 4-5 are the [[Applier]] that [[MultiTableLoop]] runs per table.
  *
  * Immediate mode (`--immediate` in the reference,
  * internal/source/logical/config.go:73-75) skips staging and fencing and
  * merges each micro-batch directly with idempotence key = the batch's
  * file-set key.
  *
  * Exactly-once: Spark's checkpoint makes file delivery at-least-once per
  * batch id; the staging append markers, the merge's per-key max_by, and the
  * commit-log idempotence keys make every step replay-safe; and because the
  * table itself is an LWW register per key (max-HLC row wins, deletes are
  * tombstones), replay from ANY checkpoint converges to the same final
  * state.
  */
final class ReplayLoop(
    spark: SparkSession,
    val feedDir: String,
    val table: SnapshotTable,
    val stage: StagedStore,
    val checkpointDir: String,
    initialSpec: TableSpec,
    val immediate: Boolean = false,
    val saltBuckets: Int = 64,
    val maxFilesPerTrigger: Int = 8,
    /** expire snapshot versions older than this many after each merge
      * (None = never) — keeps long-running tables' storage bounded
      */
    val vacuumKeepVersions: Option[Int] = Some(4),
    /** byte budget per micro-batch — the reference's `bytesInFlight`
      * backpressure knob (internal/source/logical/config.go:35). The vanilla
      * file source caps by file COUNT, so the budget is converted to a count
      * from the observed feed file sizes at start; the smaller of this and
      * `maxFilesPerTrigger` wins.
      */
    val maxBytesPerTrigger: Option[Long] = None,
    /** Envelope codec: raw lines `(value, src_file)` → the unified feed
      * schema. Defaults to the plain ndjson changefeed; pass
      * `Envelopes.parseQueryLines(_, pkCols)` for CDC-query feeds or
      * `Envelopes.parseWebhookQueryLines(_, pkCols)` for webhook-query
      * feeds — the loop machinery (staging, fencing, merge) is
      * envelope-agnostic, mirroring the reference's per-URL handler
      * dispatch (internal/source/cdc/handler.go).
      */
    val parse: DataFrame => DataFrame = Changefeed.parseLines(_),
    /** Also derive resolved fences from `<33-digit>.RESOLVED` marker FILES
      * in the feed directory — the changefeed cloud-storage layout, where
      * the resolved signal is the file NAME, not a payload line (reference:
      * internal/source/cdc/resolved.go:36-101). Markers are observed via a
      * driver-side directory listing (metadata only) and gated on delivery
      * progress: a marker fences only when NO data file older than it (by
      * mtime) can still be undelivered, judged against a per-batch
      * delivered-mtime high-water persisted with the checkpoint — so
      * neither a multi-batch catch-up nor a post-wipe redelivery can fence
      * past data the source has listed but not yet staged
      * ([[safeMarkerFence]]). Trailing markers (newer than every data
      * file) fence at the [[runAvailableNow]] drain, through the same gate.
      */
    val resolvedFromFilenames: Boolean = false,
    /** Opt-in CDC-out: after every commit, publish the commit's changelog
      * segment (insert/update/delete row images) under this directory via
      * [[SnapshotTable.emitChangelog]] — the reference's consumer-facing
      * fan-out (internal/source/logical/loop.go:452-486). Idempotent and
      * self-healing: each merge emits every segment still missing, so a
      * crash between commit and emission is repaired by the next batch.
      */
    val changelogDir: Option[String] = None
) {

  /** High-water mtime (millis) over all DATA files delivered so far — the
    * filename-marker gate's ground truth ("anything with mtime < hw was
    * delivered; anything above it may not have been"). Files AT the
    * high-water tick are ambiguous by mtime alone: with coarse filesystem
    * timestamps or burst writes, several files share one tick while
    * `maxFilesPerTrigger` caps what one batch delivers — so the gate also
    * persists the IDENTITY (path set) of delivered files at exactly the
    * high-water mtime, and a same-tick file NOT in that set counts as
    * undelivered. Persisted per batch in a file scoped to the CHECKPOINT
    * directory: the streaming checkpoint decides which files count as
    * delivered, so the two must live and die together — a wiped checkpoint
    * redelivers everything and rebuilds the high-water from zero, while a
    * surviving checkpoint keeps it exact even for batches that never
    * triggered a merge. The set is bounded: only paths sharing the single
    * newest delivered mtime are kept (older ticks are covered by `< hw`).
    */
  private def hwFile = java.nio.file.Paths.get(checkpointDir, "graft_delivered_hw")

  private var deliveredMtimeHw: Long = 0L

  /** Paths (scheme-stripped) of delivered data files whose mtime equals
    * [[deliveredMtimeHw]] exactly.
    */
  private var deliveredAtHw: Set[String] = Set.empty

  locally {
    val (fromFileHw, fromFileSet) =
      try {
        if (java.nio.file.Files.exists(hwFile)) {
          val ls = java.nio.file.Files.readString(hwFile).linesIterator.toSeq
          (ls.headOption.map(_.trim.toLong).getOrElse(0L),
            ls.drop(1).map(_.trim).filter(_.nonEmpty).toSet)
        } else (0L, Set.empty[String])
      } catch { case _: Exception => (0L, Set.empty[String]) }
    // legacy fallback: rounds that persisted the high-water as a commit
    // metric only (no identity set — conservative: same-tick files then
    // count undelivered, which can only delay a fence)
    val legacy =
      table.log.latest().flatMap(_.metric("delivered_mtime_hw")).getOrElse(0L)
    if (legacy > fromFileHw) {
      deliveredMtimeHw = legacy
      deliveredAtHw = Set.empty
    } else {
      deliveredMtimeHw = fromFileHw
      deliveredAtHw = fromFileSet
    }
  }

  private def advanceDeliveredHw(delivered: Seq[(String, Long)]): Unit =
    if (delivered.nonEmpty && delivered.map(_._2).max >= deliveredMtimeHw) {
      val newHw = math.max(deliveredMtimeHw, delivered.map(_._2).max)
      val atTick = delivered.collect {
        case (p, m) if m == newHw => ReplayLoop.normalizePath(p)
      }.toSet
      deliveredAtHw =
        if (newHw == deliveredMtimeHw) deliveredAtHw ++ atTick else atTick
      deliveredMtimeHw = newHw
      java.nio.file.Files.createDirectories(hwFile.getParent)
      java.nio.file.Files.writeString(
        hwFile,
        (deliveredMtimeHw.toString +: deliveredAtHw.toSeq.sorted)
          .mkString("\n")
      )
    }

  def committedFence: Hlc = ReplayLoop.fenceOf(table)

  private def applier: Applier =
    new Applier(spark, TableTarget(initialSpec, table, stage), saltBuckets,
      changelogDir, vacuumKeepVersions)

  /** Process one micro-batch of raw ndjson lines. Public for batch-mode
    * replay and tests; the streaming query calls this via foreachBatch.
    */
  def processBatch(linesRaw: DataFrame, batchId: Long): Unit = {
    val b = BatchPrelude(linesRaw, batchId, parse)
    val muts = b.mutations.select("key", "data", "nanos", "logical", "src_file")
    val lineage = s"batch=$batchId" +: b.files

    if (immediate) {
      applier.applyImmediate(muts, b, batchId, lineage)
      return
    }

    val pkSrc = initialSpec.pkCols.map(c => initialSpec.config.sourceNames.getOrElse(c, c))
    val staged = ReplayLoop.timed("stage-append", batchId) {
      // drift summary (arity / field set / PK presence) rides this write;
      // violations fail the batch here, fields land in the field-set file.
      // A PK-less spec synthesizes its rowid at plan time, so key-arity /
      // PK-presence validation does not apply while staging.
      stage.append(
        muts,
        b.stageKey,
        validatePk =
          if (initialSpec.pkCols.isEmpty) None
          else Some((initialSpec.pkCols.size, pkSrc))
      )
    }

    // advance the filename-marker gate: everything in this batch was
    // delivered, so the delivered-data high-water moves to the newest
    // mtime among this batch's files
    if (resolvedFromFilenames && b.files.nonEmpty) {
      advanceDeliveredHw(
        b.files.flatMap(f => ReplayLoop.fileMtimeMillis(f).map(f -> _))
      )
    }
    val markerFence: Option[Hlc] =
      if (!resolvedFromFilenames) None else safeMarkerFence()

    (b.resolved.toSeq ++ markerFence).maxOption.foreach { target =>
      mergeToFence(target, batchId, lineage, staged)
    }
  }

  /** Newest `.RESOLVED` marker that is SAFE to fence: no data file older
    * than the marker (by mtime) can still be undelivered. "Undelivered"
    * is conservative — any data file with mtime above the delivered
    * high-water counts, and so does a file AT the high-water tick whose
    * path is not in the delivered identity set (coarse mtimes / burst
    * writes put several files on one tick while `maxFilesPerTrigger` caps
    * a batch; mtime alone cannot tell the delivered ones apart) — so the
    * gate can only delay a fence (the marker qualifies one trigger later,
    * or at the post-catch-up drain), never jump ahead of data the stream
    * has listed but not yet staged. A ROWLESS data file above the
    * high-water keeps later markers gated until a newer data file
    * delivers (conservative; markers themselves are exempt because their
    * content is irrelevant by definition).
    */
  private def safeMarkerFence(): Option[Hlc] = {
    val entries = listFeedEntries()
    val minUndeliveredData = entries
      .collect {
        case (p, mtime, false, _)
            if mtime > deliveredMtimeHw ||
              (mtime == deliveredMtimeHw &&
                !deliveredAtHw.contains(
                  ReplayLoop.normalizePath(p.toAbsolutePath.toString)
                )) =>
          mtime
      }
      .minOption
      .getOrElse(Long.MaxValue)
    entries
      .collect {
        case (_, mtime, _, Some(hlc)) if mtime < minUndeliveredData => hlc
      }
      .maxOption
  }

  /** Merge the staged window up to `target` and commit the fence, whether
    * the resolved event arrived in-stream, as a `.RESOLVED` marker file, or
    * from the post-catch-up drain. The marker gate's high-water rides the
    * commit so a restart without the checkpoint file can recover it.
    */
  private def mergeToFence(
      target: Hlc,
      batchId: Long,
      lineage: Seq[String],
      staged: Boolean
  ): Unit =
    applier.applyFence(
      target, batchId, lineage, staged,
      if (resolvedFromFilenames) Map("delivered_mtime_hw" -> deliveredMtimeHw) else Map.empty
    )

  /** Every regular file in the feed tree (depth 2 — top level plus chunk
    * subdirectories): (path, mtime millis, isMarker, parsed marker HLC).
    * ANY `*.RESOLVED` name counts as marker-kind (excluded from the
    * undelivered-data check even when its 33 digits fail to parse — a
    * malformed rowless marker must not block later fences forever); only
    * parseable ones contribute a fence candidate. Driver-side metadata
    * listing only.
    */
  private def listFeedEntries()
      : Seq[(java.nio.file.Path, Long, Boolean, Option[Hlc])] =
    ReplayLoop.feedFiles(feedDir).map { p =>
      val name = p.getFileName.toString
      val isMarker = name.endsWith(".RESOLVED")
      val hlc =
        if (isMarker) graft.feed.Envelopes.parseResolvedFilename(name)
        else None
      (p, java.nio.file.Files.getLastModifiedTime(p).toMillis, isMarker, hlc)
    }

  /** Fence trailing `.RESOLVED` markers after a catch-up pass: once the
    * AvailableNow query has terminated, every data file it listed was
    * delivered, so the high-water covers them and [[safeMarkerFence]]'s
    * gate is open for markers newer than all data (the only ones an
    * in-batch fence cannot reach — markers carry no rows, so they never
    * advance the high-water themselves). The gate itself stays authoritative:
    * data that raced into the directory AFTER the pass started (and so may
    * not have been delivered) still blocks markers newer than it.
    */
  def drainResolvedFilenameMarkers(): Unit = if (resolvedFromFilenames) {
    safeMarkerFence().foreach { target =>
      mergeToFence(target, batchId = -1L, Seq("drain=resolved-markers"), staged = false)
    }
  }

  /** File cap for one trigger: `maxFilesPerTrigger`, tightened by the byte
    * budget divided by the observed mean feed-file size (sampled from the
    * directory listing — metadata only).
    */
  private[graft] def effectiveMaxFiles: Int =
    ReplayLoop.effectiveMaxFiles(feedDir, maxFilesPerTrigger, maxBytesPerTrigger)

  /** Start the continuous streaming query. Backfill ordering: the file
    * source delivers oldest-first (modification time), which matches the
    * reference's backfill scan order over committed timestamps
    * (internal/source/logical/factory.go:219-223) — and the staged merge is
    * order-immune regardless (LWW register + fence).
    */
  def start(trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    spark.readStream
      .option("maxFilesPerTrigger", effectiveMaxFiles)
      .text(s"$feedDir/chunk=*")
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()

  /** Catch-up run: process everything currently in the feed, then stop —
    * the reference's backfill mode (loop.go:394-441) as Trigger.AvailableNow.
    * With filename markers enabled, trailing `.RESOLVED` files (markers
    * newer than every data file) are drained after the pass: at that point
    * everything listed was delivered, so the delivery gate is open.
    */
  def runAvailableNow(): Unit = {
    val q = start(Trigger.AvailableNow())
    q.awaitTermination()
    drainResolvedFilenameMarkers()
  }

  /** Age-triggered backfill↔streaming switch, the reference's
    * `BackfillWindow` semantics (internal/source/logical/loop.go:394-441):
    * when the committed consistent point lags `nowNanos` by more than
    * `backfillWindowNanos`, run a maximal-throughput catch-up pass
    * (AvailableNow over everything already in the feed) BEFORE starting the
    * continuous trigger; a fresh table (zero fence) always backfills.
    * Returns the streaming query, plus whether a backfill pass ran.
    *
    * The staleness check is ONE-SHOT, at startup — unlike the reference's
    * loop, which re-enters backfill mode whenever lag exceeds the window
    * mid-stream. A continuous query that falls far behind keeps its
    * trigger; the operator owning the query decides when to cycle it:
    * poll [[isLagging]] (cheap — commit-log metadata only) and, when true,
    * `query.stop()` and call `startAuto` again for a fresh catch-up pass.
    * Deliberate: restarting a Structured Streaming query is the engine's
    * native mode switch, and an in-flight self-restart from inside
    * foreachBatch would deadlock the stream it runs on.
    */
  def startAuto(
      backfillWindowNanos: Long,
      nowNanos: Long = System.currentTimeMillis() * 1000000L,
      trigger: Trigger = Trigger.ProcessingTime("1 second")
  ): (StreamingQuery, Boolean) = {
    val stale = isLagging(backfillWindowNanos, nowNanos)
    if (stale) runAvailableNow()
    (start(trigger), stale)
  }

  /** True when the committed consistent point lags `nowNanos` by more than
    * `backfillWindowNanos` (a zero fence is always lagging). Commit-log
    * metadata only — safe to poll from a monitor thread while the
    * continuous query runs, to decide a stop-and-[[startAuto]] cycle (see
    * [[startAuto]]'s one-shot note).
    */
  def isLagging(
      backfillWindowNanos: Long,
      nowNanos: Long = System.currentTimeMillis() * 1000000L
  ): Boolean = {
    val fence = committedFence
    fence.isZero || fence.nanos < nowNanos - backfillWindowNanos
  }

  /** Handle over a monitored loop: the CURRENT streaming query (replaced
    * on every backfill cycle) plus monitor control.
    */
  final class Monitored private[ReplayLoop] (
      backfillWindowNanos: Long,
      pollMillis: Long,
      trigger: Trigger,
      nowNanos: () => Long
  ) {
    @volatile private var current: StreamingQuery = _
    @volatile private var stopped = false
    private val cycles = new java.util.concurrent.atomic.AtomicInteger(0)
    // feed signature at the last (possibly implicit) cycle: re-backfilling
    // when the feed has not changed since the last pass cannot advance the
    // fence, so the monitor would thrash — a source that is simply OLD
    // stays lagging forever, exactly like the reference parked at the end
    // of a stale changefeed
    @volatile private var lastFeedSig: (Int, Long) = feedSig()

    private def feedSig(): (Int, Long) = {
      val es = listFeedEntries()
      (es.size, es.map(_._2).maxOption.getOrElse(0L))
    }

    /** current streaming query (replaced after each backfill cycle) */
    def query: StreamingQuery = current

    /** completed backfill re-entry cycles */
    def backfillCycles: Int = cycles.get()

    private[ReplayLoop] def begin(): Unit = {
      if (isLagging(backfillWindowNanos, nowNanos())) {
        // record the signature BEFORE the pass: a file landing while the
        // pass runs may be listed yet undelivered, and must leave the
        // post-pass signature UNEQUAL so the next poll cycles again — a
        // post-pass snapshot would swallow it (an extra cycle for a file
        // the pass did deliver is merely an idempotent no-op)
        lastFeedSig = feedSig()
        runAvailableNow()
      }
      current = start(trigger)
      val t = new Thread(
        () =>
          while (!stopped) {
            Thread.sleep(pollMillis)
            try {
              if (!stopped && isLagging(backfillWindowNanos, nowNanos())) {
                val sig = feedSig()
                if (sig != lastFeedSig) synchronized {
                  if (!stopped) {
                    // the engine-native mode switch: stop the continuous
                    // query (blocks until terminated), catch up at full
                    // throughput, start fresh. `sig` was read BEFORE the
                    // pass (files racing in during the pass re-arm the
                    // monitor instead of being swallowed), but it is
                    // COMMITTED only after the whole cycle succeeds: a
                    // cycle that throws mid-way leaves lastFeedSig at its
                    // old value, so the next poll still sees a changed
                    // feed and retries the cycle (stop() on an already-
                    // terminated query is a no-op, the catch-up pass is
                    // idempotent)
                    current.stop()
                    runAvailableNow()
                    current = start(trigger)
                    lastFeedSig = sig
                    cycles.incrementAndGet()
                  }
                }
              }
            } catch {
              // a transient cycle failure must not kill the monitor: the
              // next poll retries (stop() still exits the loop via the
              // flag)
              case scala.util.control.NonFatal(e) =>
                println(s"[graft-monitor] cycle failed: ${e.getMessage}")
            }
            // liveness guard, independent of the feed signature: a cycle
            // that failed between stop() and start(), or a query killed by
            // its own stream exception, must not leave the loop down until
            // the feed happens to change — restart the continuous query
            // whenever none is running (bounded to one attempt per poll)
            try {
              if (!stopped) synchronized {
                if (!stopped && (current == null || !current.isActive)) {
                  current = start(trigger)
                  println("[graft-monitor] restarted inactive query")
                }
              }
            } catch {
              case scala.util.control.NonFatal(e) =>
                println(s"[graft-monitor] restart failed: ${e.getMessage}")
            }
          },
        s"graft-backfill-monitor-$feedDir"
      )
      t.setDaemon(true)
      t.start()
    }

    /** Stop the monitor and the current query. */
    def stop(): Unit = synchronized {
      stopped = true
      if (current != null) current.stop()
    }
  }

  /** The reference's CONTINUOUS backfill re-entry
    * (internal/source/logical/loop.go:394-441), operationalized: start the
    * loop like [[startAuto]], then keep a driver-side daemon polling
    * [[isLagging]] every `pollMillis`. When the consistent point falls
    * behind the window AND the feed has changed since the last catch-up
    * pass, the monitor performs the engine-native mode switch — stop the
    * continuous query, run an AvailableNow catch-up, start a fresh
    * continuous query — so an operator never has to cycle a lagging loop
    * by hand. The feed-change gate prevents backfill thrash on a feed
    * that is merely old (re-reading it cannot advance the fence).
    * `nowNanos` is injectable for deterministic tests.
    */
  def startMonitored(
      backfillWindowNanos: Long,
      pollMillis: Long = 1000L,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      nowNanos: () => Long = () => System.currentTimeMillis() * 1000000L
  ): Monitored = {
    val m = new Monitored(backfillWindowNanos, pollMillis, trigger, nowNanos)
    m.begin()
    m
  }
}

object ReplayLoop {

  /** The resolved fence `table`'s latest commit carried it to. */
  def fenceOf(table: SnapshotTable): Hlc =
    table.log.latest().map(_.resolved).getOrElse(Hlc.Zero)

  /** Run `f` as phase `what` of batch `batchId` and print its wall time. */
  private[loop] def timed[T](what: String, batchId: Long)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    // driver-side phase metric (a few lines per micro-batch); stdout so it
    // survives setLogLevel(WARN) — the lightweight analog of the
    // reference's stage/apply Prometheus timers (apply/metrics.go:27-48)
    println(s"[graft-loop] batch=$batchId $what ${(System.nanoTime() - t0) / 1000000} ms")
    r
  }

  /** True when the failure chain bottoms out in a missing or unreadable
    * input file — the signature of a concurrent applier retiring staged
    * partitions mid-scan (Spark 4 wraps it as a `FAILED_READ_FILE.*`
    * condition, e.g. `FILE_NOT_EXIST`; older paths surface a raw
    * `FileNotFoundException`).
    */
  def isMissingFileRead(e: Throwable): Boolean =
    causes(e).exists {
      case _: java.io.FileNotFoundException => true
      case c =>
        // besides the typed condition, the error-CLASS token in the message
        // (wrappers that carry the class marker without implementing
        // SparkThrowable) — never free text like "does not exist", which
        // also matches analyzer errors ("Table or view does not exist") and
        // would swallow genuine planner bugs as concurrency no-ops
        (conditionOf(c).toSeq ++ Option(c.getMessage)).exists(m =>
          m.contains("FAILED_READ_FILE.") || m.contains("PATH_NOT_FOUND"))
    }

  private def conditionOf(t: Throwable): Option[String] = t match {
    case st: org.apache.spark.SparkThrowable => Option(st.getCondition)
    case _ => None
  }

  /** The cause chain of `e`, cut at 16 links (cycle-safe). */
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq

  /** Whether a failed fence apply lost a race: a competing applier (HA
    * restart overlap — two drivers on one table) merged the window and
    * retired its staged files while this attempt's lazy scan was
    * mid-flight. Only a missing-file read while the committed fence
    * (`covered`) reaches the target qualifies: the competitor's commit
    * proves every retired row was applied, so the attempt is the no-op the
    * commit log would have made it. A covered fence with any other failure
    * is a signature this check does not know: its class and condition are
    * logged before the caller re-raises it.
    */
  private[graft] def lostRace(e: Throwable, covered: Boolean): Boolean =
    covered && (isMissingFileRead(e) || {
      val condition = causes(e).flatMap(conditionOf).headOption
      println(
        s"[graft] fence committed by a concurrent writer, but the failure is not a " +
          s"missing-file read: ${e.getClass.getName} " +
          s"(condition ${condition.getOrElse("none")}); re-raising"
      )
      false
    })

  /** Deterministic 64-bit identity of a batch's source-file set: SHA-256 of
    * the sorted file names, folded to a Long. Stable across checkpoint
    * wipes and engine batch renumbering; collision odds are negligible at
    * any realistic batch count (~1e-10 at a billion batches).
    */
  def batchKeyOf(files: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = md.digest(files.sorted.mkString("\n").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Scheme-stripped path identity shared by `input_file_name()` names and
    * `java.nio` listings, so the delivered-file identity set matches across
    * both spellings.
    */
  def normalizePath(name: String): String =
    name.stripPrefix("file://").stripPrefix("file:")

  /** mtime (millis) of a feed file as named by `input_file_name()` —
    * tolerates the `file:`/`file://` scheme prefix; None if unreadable.
    */
  def fileMtimeMillis(name: String): Option[Long] =
    try Some(
      java.nio.file.Files
        .getLastModifiedTime(java.nio.file.Paths.get(normalizePath(name)))
        .toMillis
    )
    catch { case _: Exception => None }

  /** Every regular file in the feed tree, depth 2 (top level plus chunk
    * subdirectories). Driver-side metadata listing only.
    */
  private def feedFiles(feedDir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(feedDir)
    if (!java.nio.file.Files.exists(dir)) Nil
    else
      scala.util.Using.resource(java.nio.file.Files.walk(dir, 2)) {
        _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
      }
  }

  /** File cap for one trigger: `maxFilesPerTrigger`, tightened by the byte
    * budget divided by the observed mean feed-file size (sampled from the
    * directory listing — metadata only). Shared by the single- and
    * multi-table loops — the reference's `bytesInFlight` backpressure knob
    * (internal/source/logical/config.go:35) expressed against a file
    * source that caps by COUNT.
    */
  def effectiveMaxFiles(
      feedDir: String,
      maxFilesPerTrigger: Int,
      maxBytesPerTrigger: Option[Long]
  ): Int = maxBytesPerTrigger match {
    case None => maxFilesPerTrigger
    case Some(budget) =>
      val sizes = feedFiles(feedDir).take(256).map(java.nio.file.Files.size)
      if (sizes.isEmpty) maxFilesPerTrigger
      else {
        val mean = math.max(1L, sizes.sum / sizes.size)
        math.max(1, math.min(maxFilesPerTrigger.toLong, budget / mean).toInt)
      }
  }
}

/** What both loops learn about a micro-batch before staging it: its parsed
  * mutations, its source-file set, its identity key and its newest
  * in-stream resolved marker.
  *
  * The lines are NOT cached: they feed two passes (the resolved scan with
  * the file set observed on it, then the staging append), but re-scanning
  * raw text from the page cache with the single-from_json parse is
  * measurably cheaper than building a multi-GB columnar cache of the lines
  * (which also made concurrent cache-builder tasks the peak-heap hotspot).
  * input_file_name() is captured per scan, so every pass sees the same
  * file column.
  */
private[graft] final case class BatchPrelude(
    mutations: DataFrame,
    files: Seq[String],
    stageKey: Long,
    resolved: Option[Hlc]
)

private[graft] object BatchPrelude {
  def apply(linesRaw: DataFrame, batchId: Long, parse: DataFrame => DataFrame): BatchPrelude = {
    val lines = linesRaw.select(col("value"), input_file_name().as(Changefeed.SRC_FILE))
    // ONE pass before staging, one job with no Exchange: the file set is
    // observed on every line, below the filter that keeps only lines
    // containing a resolved marker (every supported envelope spells its
    // marker with a "resolved" key), and the newest marker is a top-1 over
    // those. The top-1 reads every partition, so the observation sees
    // every line. Observation names match globally on the listener bus,
    // hence the UUID.
    val fileSet = org.apache.spark.sql.Observation(s"prelude-$batchId-${java.util.UUID.randomUUID()}")
    val newest = parse(
      lines
        .observe(fileSet, collect_set(col(Changefeed.SRC_FILE)).as("files"))
        .filter(col("value").contains("\"resolved\""))
    ).filter(col(Changefeed.RESOLVED))
      .orderBy(col(Changefeed.NANOS).desc, col(Changefeed.LOGICAL).desc)
      .limit(1)
      .select(Changefeed.NANOS, Changefeed.LOGICAL)
      .collect()
      .headOption
      .map(r => Hlc(r.getLong(0), r.getInt(1)))
    // Identify the batch by its SOURCE FILE SET, not the engine's batch id:
    // after a wiped checkpoint the file source renumbers batches from 0,
    // and an id-keyed marker would wrongly skip a brand-new batch that
    // happens to reuse an old id. The file-set hash is stable under
    // renumbering AND still dedups true redeliveries of the same files.
    val files = fileSet.get("files").asInstanceOf[collection.Seq[String]]
      .filter(_.nonEmpty).sorted.toSeq
    // fall back to the engine batch id when the batch has no file
    // provenance (in-memory DataFrames via the public processBatch):
    // hashing an empty file set would collapse EVERY such batch onto one
    // constant key and silently skip all but the first
    val stageKey = if (files.isEmpty) batchId else ReplayLoop.batchKeyOf(files)
    BatchPrelude(parse(lines).filter(!col(Changefeed.RESOLVED)), files, stageKey, newest)
  }
}

/** One table's apply step, shared by both loops — the analog of the
  * reference's per-table Applier, which serial and fan events use alike
  * (internal/target/apply/apply.go:148-191): the table's apply config
  * (CAS, deadlines, expressions) applies identically on every path.
  */
private[loop] final class Applier(
    spark: SparkSession,
    t: TableTarget,
    saltBuckets: Int,
    changelogDir: Option[String],
    vacuumKeepVersions: Option[Int]
) {

  /** Merge the staged window up to `target` and commit the fence, then
    * publish the changelog, retire staging below the fence and vacuum.
    *
    * The window is `(committed fence, target]` PLUS anything staged since
    * the last merge regardless of ts: a mutation below an already-committed
    * fence can still arrive late when the transport reorders deliveries
    * (the file source orders by mtime) — it was staged AFTER the last
    * merge, so the stage-seq branch picks it up exactly once, while rows
    * merged by earlier fences are not re-read every fence. The read is raw
    * (not deduplicated): exact duplicates collapse in the merge's per-key
    * max_by anyway. Not cached: the window feeds exactly one consumer, the
    * merge, and the field set was recorded while staging, so planning
    * runs no summary scan.
    *
    * A `target` at or below the committed fence (a redelivered feed) still
    * applies the late branch when this batch `staged` rows: window
    * `(fence, fence]` plus the stage-seq branch, idempotence key
    * `late-<seq>`, the fence left where it is — so the rows are merged and
    * retired instead of sitting in staging until a newer fence. A batch
    * that staged nothing commits nothing.
    */
  def applyFence(
      target: Hlc,
      batchId: Long,
      lineage: Seq[String],
      staged: Boolean,
      extraMetrics: Map[String, Long] = Map.empty
  ): Unit = {
    val fence = ReplayLoop.fenceOf(t.table)
    if (target > fence || staged) {
      val mergedThroughSeq =
        t.table.log.latest().flatMap(_.metric("merged_through_seq")).getOrElse(0L)
      val seqNow = t.stage.currentSeq() // this batch's append already happened
      val (to, idempotenceKey) =
        if (target > fence) (target, s"fence-${target.format}") else (fence, s"late-$seqNow")
      val window = t.stage.selectWindowRaw(fence, to, stagedAfterSeq = Some(mergedThroughSeq))
      val applied =
        try {
          planMerge(
            window, Some(t.stage.observedFields().toSeq), batchId, s"merge fence=${to.format}",
            idempotenceKey, to, lineage,
            Map("merged_through_seq" -> seqNow) ++ extraMetrics)
          true
        } catch {
          // only the plan/merge phase is guarded: housekeeping failures
          // below must propagate, never masquerade as this no-op. A lost
          // race skips housekeeping — the winner owns that fence's retire
          // and vacuum, and a loser retiring concurrently races the
          // winner's staging bookkeeping.
          case e: Throwable if ReplayLoop.lostRace(e, ReplayLoop.fenceOf(t.table) >= to) =>
            println(
              s"[graft] ${t.table.root}: fence ${to.format} already applied by a " +
                "concurrent writer (staged files retired mid-read); no-op"
            )
            false
        }
      if (applied) {
        // changelog BEFORE vacuum: the new segment diffs against the
        // previous version's manifest, which vacuum may retire
        changelogDir.foreach(t.table.emitChangelog)
        t.stage.retire(to)
        vacuumKeepVersions.foreach(t.table.vacuum(_))
      }
    }
  }

  /** Immediate mode (`--immediate` in the reference,
    * internal/source/logical/config.go:73-75): merge `rows` directly, with
    * no staging and no fence gate, then publish the changelog and vacuum.
    * Idempotence key = the batch's file-set key, which survives
    * checkpoint-wipe renumbering. Resolved markers are still RECORDED on
    * the commit they ride with, so the ledger shows source progress
    * (internal/source/cdc/resolver.go:291-309).
    */
  def applyImmediate(rows: DataFrame, b: BatchPrelude, batchId: Long, lineage: Seq[String]): Unit = {
    planMerge(rows, None, batchId, "merge", s"batch-${b.stageKey}",
      b.resolved.getOrElse(Hlc.Zero), lineage, Map.empty)
    changelogDir.foreach(t.table.emitChangelog)
    vacuumKeepVersions.foreach(t.table.vacuum(_))
  }

  /** plan → merge (CAS-gated inside each merge attempt), timed as the
    * `plan` and `mergePhase` phases of `batchId`.
    */
  private def planMerge(
      rows: DataFrame,
      observedFields: Option[Seq[String]],
      batchId: Long,
      mergePhase: String,
      idempotenceKey: String,
      resolved: Hlc,
      lineage: Seq[String],
      extraMetrics: Map[String, Long]
  ): Unit = {
    val spec = t.currentSpec
    // pre-dedup only when a CAS gate needs one candidate per key; the
    // merge's per-key max_by reduction is the LWW otherwise (saves two
    // shuffles)
    val planned = ReplayLoop.timed("plan", batchId) {
      ApplyPlanner.plan(spark, spec, rows, saltBuckets,
        dedup = spec.config.casColumns.nonEmpty, observedFields = observedFields)
    }
    ReplayLoop.timed(mergePhase, batchId) {
      t.table.merge(planned.batch, planned.pkCols, idempotenceKey, resolved, lineage, extraMetrics,
        spec.config.casColumns)
    }
  }
}
