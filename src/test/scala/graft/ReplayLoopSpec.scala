package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.applyops.TableSpec
import graft.feed.Generator
import graft.feed.Generator.FeedSpec
import graft.loop.ReplayLoop
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** End-to-end replay against an independent in-memory oracle, with
  * kill/resume and replay-from-zero idempotence — the analog of the
  * reference's chaos + mass-backfill convergence test
  * (reference: internal/source/cdc/handler_test.go:403-540).
  */
class ReplayLoopSpec extends SparkSpec {
  import spark.implicits._

  private val feedSpec = FeedSpec(
    seed = 42L,
    numEvents = 3000L,
    numKeys = 700L,
    numRepos = 11,
    resolvedWindows = 3,
    eventsPerFile = 250L,
    disorderBlock = 100L
  )

  private val payloadSchema = StructType(
    Seq(
      StructField("repo", StringType),
      StructField("path", StringType),
      StructField("commit", StringType),
      StructField("lang", StringType),
      StructField("content", StringType)
    )
  )
  private val spec = TableSpec(payloadSchema, Seq("repo", "path"))

  /** In-memory oracle: last-writer-wins over the canonical event stream. */
  private def expectedState(
      fs: FeedSpec
  ): Map[(String, String), (String, String, String)] = {
    // per key, the canonical event with max (nanos, logical)
    val winners = scala.collection.mutable.Map[Long, (Long, Int, Long)]()
    (0L until fs.numEvents).foreach { jIn =>
      val j = Generator.canonicalIndex(fs, jIn)
      val k = Generator.keyId(fs, j)
      val nanos = fs.baseNanos + Generator.tsRank(fs, j) * fs.nanosStep
      val logical = (Generator.mix64(fs.seed ^ j) & 0x3).toInt
      val cur = winners.get(k)
      val newer = cur.isEmpty || nanos > cur.get._1 ||
        (nanos == cur.get._1 && logical > cur.get._2)
      if (newer) {
        winners(k) = (nanos, logical, j)
      }
    }
    winners.flatMap { case (k, (_, _, j)) =>
      if (Generator.isDeleteOf(fs, j)) None
      else
        Some(
          (Generator.repoOf(fs, k), Generator.pathOf(k)) ->
            ((Generator.commitOf(fs, j), Generator.langOf(k), Generator.contentOf(fs, k, j)))
        )
    }.toMap
  }

  private def tableState(
      t: SnapshotTable
  ): Map[(String, String), (String, String, String)] =
    t.read()
      .select("repo", "path", "commit", "lang", "content")
      .as[(String, String, String, String, String)]
      .collect()
      .map { case (r, p, c, l, ct) => ((r, p), (c, l, ct)) }
      .toMap

  private def newLoop(feedDir: String, base: String): (ReplayLoop, SnapshotTable) = {
    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 16)
    val stage = new StagedStore(
      spark,
      s"$base/stage",
      bucketNanos = feedSpec.nanosStep * 500
    )
    val loop = new ReplayLoop(
      spark,
      feedDir,
      table,
      stage,
      s"$base/checkpoint",
      spec,
      saltBuckets = 8,
      maxFilesPerTrigger = 3
    )
    (loop, table)
  }

  test("full replay matches the oracle, including per-row sha256(content)") {
    val feedDir = tmpDir("feed")
    val base = tmpDir("e2e")
    Generator.writeFeed(spark, feedSpec, feedDir, parallelism = 4)

    val (loop, table) = newLoop(feedDir, base)
    loop.runAvailableNow()

    val expected = expectedState(feedSpec)
    val got = tableState(table)
    assert(got.size == expected.size)
    assert(got == expected)

    // per-row content sha256 equality (the BASELINE per-row invariant)
    val gotSha = table
      .read()
      .select(concat_ws("|", col("repo"), col("path"), sha2(col("content"), 256)))
      .as[String]
      .collect()
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expSha = expected.toSeq.map { case ((r, p), (_, _, ct)) =>
      val hex = md
        .digest(ct.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      s"$r|$p|$hex"
    }.sorted
    assert(gotSha.toSeq == expSha)

    // fence advanced to the last resolved window
    assert(loop.committedFence.nanos > 0)

    // replay from a WIPED checkpoint must converge to the identical state
    // (idempotent commits + LWW register semantics)
    deleteRecursively(Paths.get(s"$base/checkpoint"))
    val (loop2, table2) = newLoop(feedDir, base)
    loop2.runAvailableNow()
    assert(tableState(table2) == expected)
  }

  test("kill mid-feed, resume from checkpoint, state converges") {
    val feedDir = tmpDir("feed2")
    val holdback = tmpDir("holdback")
    val base = tmpDir("e2e2")
    Generator.writeFeed(spark, feedSpec, feedDir, parallelism = 4)

    // hold back the last third of the chunks (simulates the kill point)
    val chunks = Files
      .list(Paths.get(feedDir))
      .iterator()
      .asScala
      .filter(_.getFileName.toString.startsWith("chunk="))
      .toSeq
      .sortBy(_.getFileName.toString)
    val toHold = chunks.drop(chunks.size * 2 / 3)
    toHold.foreach { p =>
      Files.move(p, Paths.get(holdback, p.getFileName.toString))
    }

    val (loop1, table1) = newLoop(feedDir, base)
    loop1.runAvailableNow()
    val fence1 = loop1.committedFence
    assert(fence1 > Hlc.Zero) // at least one window committed
    assert(tableState(table1).nonEmpty)

    // "restart": deliver the held-back chunks, resume from the checkpoint
    Files
      .list(Paths.get(holdback))
      .iterator()
      .asScala
      .foreach(p => Files.move(p, Paths.get(feedDir, p.getFileName.toString)))
    val (loop2, table2) = newLoop(feedDir, base)
    loop2.runAvailableNow()

    assert(tableState(table2) == expectedState(feedSpec))
    assert(loop2.committedFence > fence1)
  }

  test("a redelivered, fully applied feed is merged late and retired, not left staged") {
    val feedDir = tmpDir("feedredeliver")
    val base = tmpDir("e2eredeliver")
    Generator.writeFeed(spark, feedSpec, feedDir, parallelism = 4)
    val (loop, table) = newLoop(feedDir, base)
    loop.runAvailableNow()
    val fence = loop.committedFence
    val state = tableState(table)
    assert(state == expectedState(feedSpec))

    // the same lines under new file names, delivered as one batch whose
    // markers are all at or below the committed fence
    val copy = Paths.get(tmpDir("redelivered"))
    Files.walk(Paths.get(feedDir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.matches("^[._].*"))
      .zipWithIndex
      .foreach { case (p, i) => Files.copy(p, copy.resolve(s"$i-${p.getFileName}")) }
    loop.processBatch(spark.read.text(copy.toString), batchId = 1000L)

    assert(loop.committedFence == fence)
    assert(tableState(table) == state)
    assert(table.log.all().exists(_.idempotenceKey.startsWith("late-")))
    val stage = loop.stage
    val belowFenceBucket =
      stage.readAll().filter(col(StagedStore.TS_BUCKET) < stage.bucketOfNanos(fence.nanos))
    assert(belowFenceBucket.count() == 0, "redelivered rows must be retired")
  }

  test("bounded re-merge window: applied rows stop rewriting; late below-fence rows still apply") {
    val feedDir = tmpDir("feed3")
    Files.createDirectories(Paths.get(feedDir, "chunk=000000"))
    val base = tmpDir("e2e3")

    def mut(repo: String, path: String, c: String, nanos: Long): String =
      s"""{"after":{"repo":"$repo","path":"$path","commit":"$c","lang":"x","content":"$c"},"key":["$repo","$path"],"updated":"$nanos.0000000000"}"""
    def res(nanos: Long): String = s"""{"resolved":"$nanos.0000000000"}"""

    var mtime = 1000000L
    def writeChunk(name: String, lines: Seq[String]): Unit = {
      val p = Paths.get(feedDir, "chunk=000000", name)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
      mtime += 1000
    }

    // window 1: 100 keys, fence 1100
    writeChunk(
      "w1.ndjson",
      (0 until 100).map(i => mut("r", s"p$i", "c1", 1000L + i)) :+ res(1100L)
    )
    // window 2: ONE key, fence 2100 — the 100 already-applied staged rows
    // must NOT re-merge (they share the staging ts-bucket, so retirement
    // alone cannot exclude them)
    writeChunk("w2.ndjson", Seq(mut("r", "fresh", "c2", 2000L), res(2100L)))
    // window 3: a LATE, below-fence mutation (ts 1150 < fence 2100 but
    // ABOVE the gc horizon 1100 — within the tolerated disorder window)
    // plus a below-fence DELETE of an applied key — both staged after the
    // last merge, both must apply exactly once. A mutation at/below the gc
    // horizon (ts 1050 <= 1100) must be dropped AND counted instead: its
    // tombstone protection may already be GC'd, so merging it could
    // resurrect a deleted key (tolerance == GC lag, by construction).
    writeChunk(
      "w3.ndjson",
      Seq(
        mut("r", "late_insert", "c3", 1150L),
        mut("r", "too_late", "c3", 1050L),
        s"""{"after":null,"key":["r","p7"],"updated":"2050.0000000000"}""",
        res(2200L)
      )
    )

    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 16)
    val stage = new StagedStore(spark, s"$base/stage", bucketNanos = 1000L * 3600)
    val loop = new ReplayLoop(
      spark, feedDir, table, stage, s"$base/checkpoint", spec,
      saltBuckets = 8, maxFilesPerTrigger = 1
    )
    loop.runAvailableNow()

    val paths = table.read().select("path").as[String].collect().toSet
    assert(paths.contains("fresh"))
    assert(paths.contains("late_insert"), "late below-fence insert must apply")
    assert(!paths.contains("p7"), "late below-fence delete must apply")
    assert(
      !paths.contains("too_late"),
      "a mutation at/below the gc horizon must be rejected, not merged"
    )
    assert(paths.size == 101) // 100 - p7 + fresh + late_insert
    val w3 = table.log.all().find(_.idempotenceKey == "fence-2200.0000000000").get
    assert(
      w3.metric("dropped_late").contains(1L),
      s"dropped-late counter must surface the rejected row, got ${w3.metrics}"
    )

    // the window-2 merge must not have rewritten the 100 window-1 rows:
    // its rows_written covers only the fresh key's bucket cohabitants
    val commits = table.log.all()
    val w2 = commits.find(_.idempotenceKey == "fence-2100.0000000000").get
    assert(
      w2.metric("rows_written").get <= 20,
      s"window-2 merge rewrote ${w2.metric("rows_written")} rows — bounded window regressed"
    )
    assert(w2.metric("merged_through_seq").isDefined)
  }

  test("PK-less spec drives the full loop: synthetic rowid through staging, merge and fence") {
    val feedDir = tmpDir("feedpkless")
    Files.createDirectories(Paths.get(feedDir, "chunk=000000"))
    val base = tmpDir("e2epkless")

    // feed with single-value keys (the reference maps them positionally to
    // the synthesized rowid) and NO declared primary key in the spec
    def mut(id: Long, v: String, nanos: Long): String =
      s"""{"after":{"v":"$v"},"key":[$id],"updated":"$nanos.0000000000"}"""
    val lines = Seq(
      mut(1, "a", 100L),
      mut(2, "b", 110L),
      mut(1, "a2", 120L), // same rowid: LWW applies
      s"""{"resolved":"200.0000000000"}"""
    )
    val p = Paths.get(feedDir, "chunk=000000", "w1.ndjson")
    Files.writeString(p, lines.mkString("", "\n", "\n"))

    val pkless = TableSpec(
      StructType(Seq(StructField("v", StringType))),
      pkCols = Nil
    )
    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 4)
    val stage = new StagedStore(spark, s"$base/stage", bucketNanos = 1000L)
    val loop = new ReplayLoop(
      spark, feedDir, table, stage, s"$base/checkpoint", pkless,
      saltBuckets = 4, maxFilesPerTrigger = 4
    )
    loop.runAvailableNow()

    val rows = table.read().select("rowid", "v").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a2"), (2L, "b")), s"got $rows")
    assert(loop.committedFence == Hlc(200L, 0))
    assert(table.log.latest().get.pkCols == Seq("rowid"))
  }

  test("startAuto: stale consistent point triggers a backfill pass before streaming") {
    val feedDir = tmpDir("feedauto")
    Files.createDirectories(Paths.get(feedDir, "chunk=000000"))
    val base = tmpDir("e2eauto")
    def mut(id: Long, v: String, nanos: Long): String =
      s"""{"after":{"repo":"r","path":"p$id","commit":"$v","lang":"x","content":"$v"},"key":["r","p$id"],"updated":"$nanos.0000000000"}"""
    Files.writeString(
      Paths.get(feedDir, "chunk=000000", "w1.ndjson"),
      (Seq(mut(1, "a", 100L), mut(2, "b", 110L)) :+ s"""{"resolved":"200.0000000000"}""")
        .mkString("", "\n", "\n")
    )
    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 4)
    val stage = new StagedStore(spark, s"$base/stage", bucketNanos = 1000L)
    val loop = new ReplayLoop(
      spark, feedDir, table, stage, s"$base/checkpoint", spec,
      saltBuckets = 4, maxFilesPerTrigger = 4
    )
    // fresh table: consistent point is zero -> stale at any window -> the
    // catch-up pass runs BEFORE the continuous query starts (the
    // reference's BackfillWindow switch, loop.go:394-441)
    val (q1, backfilled1) = loop.startAuto(
      backfillWindowNanos = 1000L,
      nowNanos = 10000L
    )
    try {
      assert(backfilled1, "zero fence must trigger backfill")
      assert(loop.committedFence == Hlc(200L, 0), "backfill pass must have applied the feed")
    } finally { q1.stop(); q1.awaitTermination() }

    // fence 200 within the window of now=500 -> no backfill, straight to
    // streaming
    val (q2, backfilled2) = loop.startAuto(
      backfillWindowNanos = 1000L,
      nowNanos = 500L
    )
    try assert(!backfilled2, "a fresh consistent point must skip backfill")
    finally { q2.stop(); q2.awaitTermination() }
  }

  test("CDC-query envelope drives the full loop: alternating key order, deletes, in-stream resolved") {
    val feedDir = tmpDir("feedq")
    Files.createDirectories(Paths.get(feedDir, "chunk=000000"))
    val base = tmpDir("e2eq")

    def ins(pk: Int, v: String, ts: Long, eventFirst: Boolean): String =
      if (eventFirst)
        s"""{"__event__":"insert","pk":$pk,"v":"$v","__crdb__":{"updated":"$ts.0000000000"}}"""
      else
        s"""{"__crdb__":{"updated":"$ts.0000000000"},"pk":$pk,"v":"$v","__event__":"insert"}"""
    def del(pk: Int, ts: Long): String =
      s"""{"pk":$pk,"v":null,"__event__":"delete","__crdb__":{"updated":"$ts.0000000000"}}"""
    def res(ts: Long): String = s"""{"__crdb__":{"resolved":"$ts.0000000000"}}"""

    var mtime = 1000000L
    def writeChunk(name: String, lines: Seq[String]): Unit = {
      val p = Paths.get(feedDir, "chunk=000000", name)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
      mtime += 1000
    }
    writeChunk(
      "w1.ndjson",
      (1 to 20).map(i => ins(i, s"v$i", 100L + i, eventFirst = i % 2 == 0)) :+ res(200L)
    )
    writeChunk(
      "w2.ndjson",
      Seq(ins(3, "v3b", 300L, eventFirst = true), del(7, 301L), res(400L))
    )

    val qSchema = StructType(
      Seq(StructField("pk", LongType), StructField("v", StringType))
    )
    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 4, compactEvery = 2)
    val stage = new StagedStore(spark, s"$base/stage", bucketNanos = 1000L)
    val loop = new ReplayLoop(
      spark, feedDir, table, stage, s"$base/checkpoint",
      TableSpec(qSchema, Seq("pk")),
      saltBuckets = 4, maxFilesPerTrigger = 1,
      parse = graft.feed.Envelopes.parseQueryLines(_, Seq("pk"))
    )
    loop.runAvailableNow()

    assert(loop.committedFence == Hlc(400L, 0))
    val state = table.read().select("pk", "v").as[(Long, String)].collect().toMap
    assert(state.size == 19) // 20 inserted, pk=7 deleted
    assert(state(3L) == "v3b") // LWW update through the query envelope
    assert(!state.contains(7L))
    assert(state(4L) == "v4")
  }

  test("maxBytesPerTrigger backpressure tightens the per-trigger file cap") {
    val feedDir = tmpDir("feedbp")
    Files.createDirectories(Paths.get(feedDir, "chunk=000000"))
    (0 until 6).foreach { i =>
      Files.writeString(
        Paths.get(feedDir, "chunk=000000", s"f$i.ndjson"),
        "x" * 10000 // ~10 KB per file
      )
    }
    val base = tmpDir("bp")
    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 4)
    val stage = new StagedStore(spark, s"$base/stage")
    def loop(budget: Option[Long]) = new ReplayLoop(
      spark, feedDir, table, stage, s"$base/checkpoint", spec,
      maxFilesPerTrigger = 8, maxBytesPerTrigger = budget
    )
    assert(loop(None).effectiveMaxFiles == 8)
    // ~10 KB files, 25 KB budget -> 2 files per trigger
    assert(loop(Some(25000L)).effectiveMaxFiles == 2)
    // budget below one file still makes progress (floor of 1)
    assert(loop(Some(10L)).effectiveMaxFiles == 1)
    // huge budget: the file cap still wins
    assert(loop(Some(Long.MaxValue / 2)).effectiveMaxFiles == 8)
  }

  test("fences solely off .RESOLVED filename markers (cloud-storage layout)") {
    val feedDir = tmpDir("feedres")
    Files.createDirectories(Paths.get(feedDir, "chunk=000000"))
    val base = tmpDir("e2eres")

    def mut(id: Int, v: String, nanos: Long): String =
      s"""{"after":{"repo":"r","path":"p$id","commit":"$v","lang":"x","content":"$v"},"key":["r","p$id"],"updated":"$nanos.0000000000"}"""
    // the reference's 33-digit marker name: YYYYMMDDHHMMSS ++ 9 nanos
    // digits ++ 10 logical digits (resolved.go:69-101)
    def markerName(nanos: Long, logical: Int): String = {
      val dt = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMddHHmmss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochSecond(nanos / 1000000000L))
      f"$dt${nanos % 1000000000L}%09d$logical%010d.RESOLVED"
    }

    var mtime = 1000000L
    def stamp(p: Path): Unit = {
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
      mtime += 1000
    }
    def writeChunk(name: String, lines: Seq[String]): Unit = {
      val p = Paths.get(feedDir, "chunk=000000", name)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
      stamp(p)
    }
    // marker files live OUTSIDE the data glob (top level), are EMPTY, and
    // carry the resolved timestamp purely in their name
    def writeMarker(nanos: Long): Unit = {
      val p = Paths.get(feedDir, markerName(nanos, 0))
      Files.writeString(p, "")
      stamp(p)
    }

    // data files carry NO in-stream resolved lines at all
    writeChunk("a.ndjson", Seq(mut(1, "c1", 10L), mut(2, "c2", 11L)))
    writeMarker(15L)
    writeChunk("b.ndjson", Seq(mut(3, "c3", 20L), mut(2, "c2b", 21L)))
    writeMarker(25L) // trailing marker: only the post-catch-up drain covers it

    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 4)
    val stage = new StagedStore(spark, s"$base/stage", bucketNanos = 1000L)
    def mkLoop() = new ReplayLoop(
      spark, feedDir, table, stage, s"$base/checkpoint", spec,
      saltBuckets = 4, maxFilesPerTrigger = 1,
      resolvedFromFilenames = true
    )
    val loop = mkLoop()
    loop.runAvailableNow()

    // both windows fenced: 15 via the in-stream mtime gate (delivery of
    // b.ndjson proves the source passed the marker), 25 via the drain
    assert(loop.committedFence == Hlc(25L, 0), s"got ${loop.committedFence}")
    val state = table.read().select("path", "commit").as[(String, String)].collect().toMap
    assert(state == Map("p1" -> "c1", "p2" -> "c2b", "p3" -> "c3"))

    // restart: the persisted mtime high-water resumes the gate; a new chunk
    // plus a new marker fence as usual
    writeChunk("c.ndjson", Seq(mut(4, "c4", 30L)))
    writeMarker(35L)
    val loop2 = mkLoop()
    loop2.runAvailableNow()
    assert(loop2.committedFence == Hlc(35L, 0))
    assert(
      table.read().select("path").as[String].collect().toSet ==
        Set("p1", "p2", "p3", "p4")
    )
  }

  test("startMonitored: mid-stream lag triggers an automatic backfill re-entry cycle") {
    // the reference re-enters backfill WHENEVER the consistent point falls
    // behind BackfillWindow (loop.go:394-441); here the driver-side
    // monitor does the engine-native stop -> AvailableNow -> restart cycle
    // without operator action. Deterministic clock via injected nowNanos;
    // the continuous trigger is 1 hour so only the monitor can pick up the
    // late window.
    val feedDir = tmpDir("feedmon")
    Files.createDirectories(Paths.get(feedDir, "chunk=000000"))
    val base = tmpDir("e2emon")
    def mut(id: Int, v: String, nanos: Long): String =
      s"""{"after":{"repo":"r","path":"p$id","commit":"$v","lang":"x","content":"$v"},"key":["r","p$id"],"updated":"$nanos.0000000000"}"""
    def res(nanos: Long): String = s"""{"resolved":"$nanos.0000000000"}"""
    def write(name: String, lines: Seq[String]): Unit =
      Files.writeString(
        Paths.get(feedDir, "chunk=000000", name),
        lines.mkString("", "\n", "\n")
      )
    write("w1.ndjson", Seq(mut(1, "c1", 1000L), mut(2, "c2", 1001L), res(1100L)))

    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 4)
    val stage = new StagedStore(spark, s"$base/stage", bucketNanos = 1000L)
    val loop = new ReplayLoop(
      spark, feedDir, table, stage, s"$base/checkpoint", spec,
      saltBuckets = 4
    )
    @volatile var now = 1500L
    val windowNanos = 1000L
    val handle = loop.startMonitored(
      backfillWindowNanos = windowNanos,
      pollMillis = 100L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 hour"),
      nowNanos = () => now
    )
    try {
      // zero fence is always lagging -> the begin-time backfill applied w1
      assert(loop.committedFence == Hlc(1100L, 0), s"got ${loop.committedFence}")
      assert(handle.backfillCycles == 0)
      // wait for the continuous query's immediate first (empty) trigger to
      // COMPLETE (lastProgress turns non-null) — only then is the next
      // trigger a full hour away, so the late window below is reachable
      // solely through the monitor's cycle
      val d0 = System.currentTimeMillis() + 30000L
      while (handle.query.lastProgress == null &&
        System.currentTimeMillis() < d0) Thread.sleep(50L)
      assert(handle.query.lastProgress != null, "first trigger never completed")
      write("w2.ndjson", Seq(mut(3, "c3", 2000L), res(2100L)))
      now = 5000L
      // wait on the CYCLE COUNTER (it increments after the catch-up pass
      // and restart complete — the fence advances mid-cycle)
      val deadline = System.currentTimeMillis() + 60000L
      while (handle.backfillCycles < 1 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100L)
      assert(handle.backfillCycles == 1, s"got ${handle.backfillCycles} cycles")
      assert(loop.committedFence == Hlc(2100L, 0), s"got ${loop.committedFence}")
      assert(
        table.read().select("path").as[String].collect().toSet ==
          Set("p1", "p2", "p3")
      )
      // still lagging by clock (2100 < 5000 - 1000) but the feed has NOT
      // changed since the cycle: the monitor must not thrash
      Thread.sleep(700L)
      assert(handle.backfillCycles == 1, "monitor re-backfilled an unchanged feed")
    } finally handle.stop()
  }

  test(".RESOLVED marker gate survives mtime TIES (burst writes, coarse clock)") {
    // Burst scenario: two data files and the marker all land on the SAME
    // mtime tick while maxFilesPerTrigger=1 caps each batch to one file.
    // A gate keyed on max delivered mtime alone treats the not-yet-
    // delivered twin as delivered (tie is not `>` the high-water) and
    // fences past its rows, orphaning them forever; the delivered-identity
    // set keeps the marker gated until BOTH files actually deliver.
    val feedDir = tmpDir("feedtie")
    Files.createDirectories(Paths.get(feedDir, "chunk=000000"))
    val base = tmpDir("e2etie")

    def mut(id: Int, v: String, nanos: Long): String =
      s"""{"after":{"repo":"r","path":"p$id","commit":"$v","lang":"x","content":"$v"},"key":["r","p$id"],"updated":"$nanos.0000000000"}"""
    def markerName(nanos: Long): String = {
      val dt = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMddHHmmss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochSecond(nanos / 1000000000L))
      f"$dt${nanos % 1000000000L}%09d${0}%010d.RESOLVED"
    }
    val tick = java.nio.file.attribute.FileTime.fromMillis(5000000L)
    def write(rel: String, content: String): Unit = {
      val p = Paths.get(feedDir, rel)
      Files.writeString(p, content)
      Files.setLastModifiedTime(p, tick)
    }
    write("chunk=000000/a.ndjson", Seq(mut(1, "c1", 10L), mut(2, "c2", 11L)).mkString("", "\n", "\n"))
    write("chunk=000000/b.ndjson", Seq(mut(3, "c3", 20L), mut(4, "c4", 21L)).mkString("", "\n", "\n"))
    write(markerName(25L), "")

    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 4)
    val stage = new StagedStore(spark, s"$base/stage", bucketNanos = 1000L)
    val loop = new ReplayLoop(
      spark, feedDir, table, stage, s"$base/checkpoint", spec,
      saltBuckets = 4, maxFilesPerTrigger = 1,
      resolvedFromFilenames = true
    )
    loop.runAvailableNow()

    // no orphaned rows: every mutation from BOTH same-tick files is applied
    // under the one fence
    assert(loop.committedFence == Hlc(25L, 0), s"got ${loop.committedFence}")
    val state = table.read().select("path", "commit").as[(String, String)].collect().toMap
    assert(state == Map("p1" -> "c1", "p2" -> "c2", "p3" -> "c3", "p4" -> "c4"))
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}
