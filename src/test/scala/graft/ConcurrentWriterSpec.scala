package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.applyops.TableSpec
import graft.feed.Generator
import graft.feed.Generator.FeedSpec
import graft.loop.ReplayLoop
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** Serialization of CONCURRENT writers on one table — the reference runs 3
  * concurrent handler instances over one changefeed and demands convergence
  * (internal/source/cdc/handler_test.go:403-540), serializing appliers with
  * leases (internal/staging/leases/leases.go:355-371). The Spark engine's
  * lease is the commit log's atomic rename; these tests race real writers
  * to prove the claim rather than assert it:
  *   - same idempotence key (the HA restart overlap — an old driver still
  *     flushing while its replacement replays the same batch): exactly one
  *     commit, the loser a silent no-op, even across INSTANCES (separate
  *     key caches, the cross-JVM analog);
  *   - different keys (independent batches): the loser re-runs against the
  *     winner's head (optimistic concurrency) and both land, converging to
  *     the LWW fold regardless of interleaving;
  *   - two full replay loops over one feed + table, overlapped, including
  *     a mid-stream second joiner: final state equals the single-writer
  *     oracle, no duplicate idempotence keys, no double-counted applies.
  */
class ConcurrentWriterSpec extends SparkSpec {
  import spark.implicits._

  private def batch(
      rows: Seq[(String, String, String, Long, Int, Boolean)]
  ): DataFrame =
    rows.toDF("repo", "path", "content", "__hlc_nanos", "__hlc_logical", "__deleted")

  private val pk = Seq("repo", "path")

  /** Race `a` and `b` on two threads with a start barrier; propagate any
    * failure; return both results.
    */
  private def race[T](a: => T, b: => T): (T, T) = {
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    try {
      val fa = pool.submit(() => { gate.await(); a })
      val fb = pool.submit(() => { gate.await(); b })
      gate.countDown()
      (fa.get(120, TimeUnit.SECONDS), fb.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("same-key race across writer instances: exactly one commit, loser no-ops") {
    val root = tmpDir("cw-same")
    // two INSTANCES over one root: separate CommitLog key caches — the
    // cross-process analog (an HA restart overlap never shares a JVM object)
    val t1 = new SnapshotTable(spark, root, numBuckets = 4)
    val t2 = new SnapshotTable(spark, root, numBuckets = 4)
    (1 to 5).foreach { round =>
      // row HLCs must track the fence scale: rows below the lagged GC
      // horizon are (correctly) dropped as late by the intake bound
      val b = batch(
        (0 until 40).map(i =>
          (s"r${i % 3}", s"p$i", s"v$round-$i", round * 1000L + i, 0, false)
        )
      )
      val key = s"fence-$round"
      val (ra, rb) =
        race(t1.merge(b, pk, key, Hlc(round * 1000L + 999, 0)),
             t2.merge(b, pk, key, Hlc(round * 1000L + 999, 0)))
      // exactly one writer committed; the other must be a clean no-op
      // (never an exception, never a second commit)
      assert(ra.isDefined != rb.isDefined, s"round $round: $ra / $rb")
      val withKey = t1.log.all().filter(_.idempotenceKey == key)
      assert(withKey.size == 1, s"round $round: duplicate commits for $key")
    }
    // every round merged once: state equals the serial application
    val fresh = new SnapshotTable(spark, root, numBuckets = 4)
    assert(fresh.read().count() == 40)
    val m = fresh.read().select("path", "content").as[(String, String)].collect().toMap
    (0 until 40).foreach(i => assert(m(s"p$i") == s"v5-$i"))
    // applied-row metrics count each batch exactly once
    val applied = fresh.log.all().map(_.metric("rows_written").getOrElse(0L)).sum
    assert(applied == 5L * 40)
  }

  test("different-key race: loser retries against the new head, both commit, LWW state") {
    val root = tmpDir("cw-diff")
    val t1 = new SnapshotTable(spark, root, numBuckets = 4)
    val t2 = new SnapshotTable(spark, root, numBuckets = 4)
    // overlapping key spaces with distinct HLCs: the fold must converge to
    // max-HLC per key in either commit order
    val bA = batch((0 until 30).map(i => ("rA", s"k$i", s"a$i", 100L + i, 0, false)))
    val bB = batch(
      (15 until 45).map(i => ("rA", s"k$i", s"b$i", 200L + i, 0, false))
    )
    val (ra, rb) = race(
      t1.merge(bA, pk, "key-A", Hlc(1000L, 0)),
      t2.merge(bB, pk, "key-B", Hlc(2000L, 0))
    )
    assert(ra.isDefined && rb.isDefined, "both independent batches must land")
    val fresh = new SnapshotTable(spark, root, numBuckets = 4)
    val log = fresh.log.all()
    assert(log.map(_.idempotenceKey).toSet == Set("key-A", "key-B"))
    assert(log.map(_.version) == Seq(1L, 2L))
    val m = fresh.read().select("path", "content").as[(String, String)].collect().toMap
    assert(m.size == 45)
    (0 until 15).foreach(i => assert(m(s"k$i") == s"a$i"))
    (15 until 45).foreach(i => assert(m(s"k$i") == s"b$i")) // newer HLC wins
    // the loser's failed attempt must leave no orphaned data directory
    val dataDirs = graft.util.Dirs
      .listDir(java.nio.file.Paths.get(root, "data"))
      .map(_.getFileName.toString)
    val referenced = log
      .flatMap(mm => mm.buckets.values ++ mm.deltas.values.flatten.toSeq)
      .map(_.split("/")(1))
      .toSet
    assert(dataDirs.toSet == referenced, s"orphans: ${dataDirs.toSet -- referenced}")
  }

  // ---- full loop overlap (the reference's concurrent-handler test) -------

  private val feedSpec = FeedSpec(
    seed = 77L,
    numEvents = 2400L,
    numKeys = 500L,
    numRepos = 7,
    resolvedWindows = 4,
    eventsPerFile = 200L,
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

  /** Independent oracle: per-key max-HLC over the canonical event stream. */
  private def expectedState(
      fs: FeedSpec
  ): Map[(String, String), String] = {
    val winners = scala.collection.mutable.Map[Long, (Long, Int, Long)]()
    (0L until fs.numEvents).foreach { jIn =>
      val j = Generator.canonicalIndex(fs, jIn)
      val k = Generator.keyId(fs, j)
      val nanos = fs.baseNanos + Generator.tsRank(fs, j) * fs.nanosStep
      val logical = (Generator.mix64(fs.seed ^ j) & 0x3).toInt
      val cur = winners.get(k)
      if (
        cur.isEmpty || nanos > cur.get._1 ||
        (nanos == cur.get._1 && logical > cur.get._2)
      ) winners(k) = (nanos, logical, j)
    }
    winners.flatMap { case (k, (_, _, j)) =>
      if (Generator.isDeleteOf(fs, j)) None
      else
        Some(
          (Generator.repoOf(fs, k), Generator.pathOf(k)) ->
            Generator.contentOf(fs, k, j)
        )
    }.toMap
  }

  private def newLoop(feedDir: String, base: String, who: String): (ReplayLoop, SnapshotTable) = {
    // separate INSTANCES of table + stage over the SAME roots; separate
    // checkpoints (each "driver" owns its own streaming progress)
    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 8)
    val stage = new StagedStore(
      spark,
      s"$base/stage",
      bucketNanos = feedSpec.nanosStep * 400
    )
    val loop = new ReplayLoop(
      spark,
      feedDir,
      table,
      stage,
      s"$base/checkpoint-$who",
      spec,
      saltBuckets = 4,
      maxFilesPerTrigger = 3
    )
    (loop, table)
  }

  private def tableState(t: SnapshotTable): Map[(String, String), String] =
    t.read()
      .select("repo", "path", "content")
      .as[(String, String, String)]
      .collect()
      .map { case (r, p, c) => ((r, p), c) }
      .toMap

  private def assertConverged(base: String, what: String): Unit = {
    val fresh = new SnapshotTable(spark, s"$base/table", numBuckets = 8)
    assert(tableState(fresh) == expectedState(feedSpec), s"$what: state diverged")
    val keys = fresh.log.all().map(_.idempotenceKey)
    assert(keys.distinct == keys, s"$what: duplicate idempotence keys: $keys")
    // applied-row accounting: with every commit exactly-once, total applied
    // rows can never exceed the number of events in the feed (duplicate
    // staged rows collapse in the merge, a double-applied batch would not)
    val applied = fresh.log.all().map(_.metric("rows_written").getOrElse(0L)).sum
    assert(applied <= feedSpec.numEvents, s"$what: double-applied rows ($applied)")
  }

  test("two concurrent replay loops on one table converge exactly-once") {
    val feedDir = tmpDir("cw-feed")
    val base = tmpDir("cw-loops")
    Generator.writeFeed(spark, feedSpec, feedDir, parallelism = 4)

    val (loopA, _) = newLoop(feedDir, base, "a")
    val (loopB, _) = newLoop(feedDir, base, "b")
    race(loopA.runAvailableNow(), loopB.runAvailableNow())
    assertConverged(base, "concurrent availableNow")

    // a third replay over the converged table is a pure no-op
    val (loopC, tableC) = newLoop(feedDir, base, "c")
    val before = tableC.log.listVersions()
    loopC.runAvailableNow()
    assert(tableC.log.listVersions() == before, "replay must not re-commit")
    assertConverged(base, "post-race replay")
  }

  test("restart overlap: a second loop joins while the first is mid-flush") {
    val feedDir = tmpDir("cw-feed2")
    val base = tmpDir("cw-overlap")
    Generator.writeFeed(spark, feedSpec, feedDir, parallelism = 4)

    // "old driver": a slow continuous query, still flushing
    val (loopA, tableA) = newLoop(feedDir, base, "a")
    val qa = loopA.start(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds")
    )
    // wait until A has made real progress (some batches committed)
    val deadline = System.currentTimeMillis() + 60000
    while (
      tableA.log.latest().isEmpty && System.currentTimeMillis() < deadline
    ) Thread.sleep(100)
    assert(tableA.log.latest().nonEmpty, "old driver never committed")

    // "new driver" replays everything from its own fresh checkpoint while
    // the old one is still running — the HA takeover overlap
    val (loopB, _) = newLoop(feedDir, base, "b")
    loopB.runAvailableNow()

    // old driver keeps flushing a while longer, then is stopped (killed)
    Thread.sleep(2000)
    qa.stop()

    // whatever the interleaving, the table must equal the oracle with
    // exactly-once commits; drain A's staged leftovers via one more pass
    val (loopC, _) = newLoop(feedDir, base, "c")
    loopC.runAvailableNow()
    assertConverged(base, "restart overlap")
  }

  test("missing-file-read detector unwraps the Spark 4 failure chain") {
    import graft.loop.ReplayLoop.isMissingFileRead
    assert(isMissingFileRead(new java.io.FileNotFoundException("/x/y.parquet")))
    assert(
      isMissingFileRead(
        new RuntimeException(
          "outer",
          new RuntimeException(
            "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error while reading file"
          )
        )
      )
    )
    // any FAILED_READ_FILE sub-condition, typed or only in the message
    val unreadable = new org.apache.spark.SparkException(
      "FAILED_READ_FILE.NO_HINT", Map("path" -> "/x/y.parquet"), null)
    assert(isMissingFileRead(new RuntimeException("job aborted", unreadable)))
    assert(isMissingFileRead(new RuntimeException("[FAILED_READ_FILE.NO_HINT] reading /x")))
    assert(!isMissingFileRead(new RuntimeException("plain failure")))
    // a cycle-free walk even on pathological self-caused chains
    val self = new RuntimeException("loop")
    assert(!isMissingFileRead(new RuntimeException("outer", self)))
  }

  test("lost-race check: a covered fence with an unknown failure is logged, then re-raised") {
    import graft.loop.ReplayLoop.lostRace
    val missing = new java.io.FileNotFoundException("/x/y.parquet")
    def logged(f: => Boolean): (Boolean, String) = {
      val out = new java.io.ByteArrayOutputStream()
      val r = Console.withOut(out)(f)
      (r, out.toString("UTF-8"))
    }
    // a missing-file read under a covering fence is a lost race, silently
    assert(logged(lostRace(missing, covered = true)) == ((true, "")))
    // nothing is a lost race while the fence does not cover the target
    assert(logged(lostRace(missing, covered = false)) == ((false, "")))
    // a covered fence with an unknown failure re-raises, logged first
    val unknown = new org.apache.spark.SparkException(
      "DIVIDE_BY_ZERO", Map("config" -> "spark.sql.ansi.enabled"), null)
    val (raced, log) = logged(lostRace(new IllegalStateException("wrapped", unknown), covered = true))
    assert(!raced)
    assert(log.contains("java.lang.IllegalStateException"), log)
    assert(log.contains("condition DIVIDE_BY_ZERO"), log)
  }
}
