package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Hlc
import graft.table.SnapshotTable

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def batch(
      rows: Seq[(String, String, String, Long, Int, Boolean)]
  ): DataFrame =
    rows.toDF("repo", "path", "content", "__hlc_nanos", "__hlc_logical", "__deleted")

  private val pk = Seq("repo", "path")

  test("a delta merge whose rows all lie at/below the gc horizon counts them as dropped_late") {
    val t = new SnapshotTable(spark, tmpDir("snaplate"), numBuckets = 1, compactEvery = 4)
    Seq(10L, 20L, 30L).zipWithIndex.foreach { case (ts, i) =>
      t.merge(batch(Seq(("r", s"p$i", "v", ts, 0, false))), pk, s"k$i", Hlc(ts, 0))
    }
    // horizon is fence 20: both rows are late, the whole delta batch drops
    val whole = t.merge(
      batch(Seq(("r", "x", "v", 15L, 0, false), ("r", "y", "v", 5L, 0, false))),
      pk, "late-all", Hlc(30, 0)).get
    assert(whole.metric("delta_merge").contains(1L))
    assert(whole.metric("rows_written").contains(0L))
    assert(whole.metric("dropped_late").contains(2L))
    // a partly late batch: one dropped, one written
    val part = t.merge(
      batch(Seq(("r", "z", "v", 25L, 0, false), ("r", "w", "v", 5L, 0, false))),
      pk, "late-part", Hlc(30, 0)).get
    assert(part.metric("rows_written").contains(1L))
    assert(part.metric("dropped_late").contains(1L))
    assert(t.read().count() == 4)
  }

  test("merge + read round-trip, idempotent replay, LWW vs table") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 8)
    val b1 = batch(
      Seq(
        ("r1", "a", "v1", 10L, 0, false),
        ("r1", "b", "v1", 11L, 0, false),
        ("r2", "a", "v1", 12L, 0, false)
      )
    )
    assert(t.merge(b1, pk, "k1", Hlc(12, 0)).isDefined)
    assert(t.read().count() == 3)

    // replay of the same idempotence key is a no-op
    assert(t.merge(b1, pk, "k1", Hlc(12, 0)).isEmpty)
    assert(t.log.all().size == 1)

    // newer row wins; OLDER row arriving later must NOT clobber (LWW vs table)
    val b2 = batch(
      Seq(
        ("r1", "a", "v2", 20L, 0, false), // newer: wins
        ("r1", "b", "v0", 5L, 0, false) // older: ignored
      )
    )
    assert(t.merge(b2, pk, "k2", Hlc(20, 0)).isDefined)
    val m = t.read()
      .select("repo", "path", "content")
      .as[(String, String, String)]
      .collect()
      .map { case (r, p, c) => ((r, p), c) }
      .toMap
    assert(m(("r1", "a")) == "v2")
    assert(m(("r1", "b")) == "v1")
    assert(m(("r2", "a")) == "v1")
  }

  test("deletes tombstone, hide from read, GC below the previous fence") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 4)
    t.merge(batch(Seq(("r1", "a", "v1", 10L, 0, false))), pk, "k1", Hlc(10, 0))
    t.merge(batch(Seq(("r1", "a", null, 20L, 0, true))), pk, "k2", Hlc(20, 0))
    assert(t.read().count() == 0)
    // tombstone still present raw (protects against late older upserts)
    assert(t.readRaw().filter(col(SnapshotTable.DELETED)).count() == 1)

    // a LATE older upsert for the deleted key must stay dead
    t.merge(batch(Seq(("r1", "a", "old", 15L, 0, false))), pk, "k3", Hlc(21, 0))
    assert(t.read().count() == 0)

    // next merge GCs tombstones at/below the previous fence (21)
    t.merge(batch(Seq(("r1", "a", "new", 30L, 0, false))), pk, "k4", Hlc(30, 0))
    assert(t.read().count() == 1)
    assert(t.readRaw().filter(col(SnapshotTable.DELETED)).count() == 0)
  }

  test("lagged tombstone GC: late below-fence upsert cannot resurrect a deleted key") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 4)
    t.merge(batch(Seq(("r1", "a", "v1", 10L, 0, false))), pk, "k1", Hlc(10, 0))
    // delete at t=20, fence passes 20
    t.merge(batch(Seq(("r1", "a", null, 20L, 0, true))), pk, "k2", Hlc(20, 0))
    // an unrelated merge advances the fence further; an eager GC-at-prevFence
    // policy would drop the tombstone here — the lagged horizon must not
    t.merge(batch(Seq(("r2", "b", "v1", 25L, 0, false))), pk, "k3", Hlc(25, 0))
    assert(t.readRaw().filter(col(SnapshotTable.DELETED)).count() == 1)
    // the late, transport-reordered upsert@15 (below the committed fence)
    // arrives now: it must lose to the still-present tombstone@20
    t.merge(batch(Seq(("r1", "a", "ghost", 15L, 0, false))), pk, "k4", Hlc(26, 0))
    assert(!t.read().select("repo").as[String].collect().contains("r1"))
  }

  test("intake bound == GC lag: an upsert older than a GC'd tombstone is dropped, key stays deleted") {
    // numBuckets=1 so every merge compacts the tombstone's bucket
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 1)
    t.merge(batch(Seq(("r1", "a", "v1", 10L, 0, false))), pk, "k1", Hlc(10, 0))
    // delete at t=20, fence 20
    t.merge(batch(Seq(("r1", "a", null, 20L, 0, true))), pk, "k2", Hlc(20, 0))
    // fence 30: gcHorizon = 10 — tombstone@20 survives
    t.merge(batch(Seq(("r2", "b", "v", 30L, 0, false))), pk, "k3", Hlc(30, 0))
    assert(t.readRaw().filter(col(SnapshotTable.DELETED)).count() == 1)
    // fence 40: gcHorizon = 20 — compaction GCs the tombstone@20
    t.merge(batch(Seq(("r3", "c", "v", 40L, 0, false))), pk, "k4", Hlc(40, 0))
    assert(t.readRaw().filter(col(SnapshotTable.DELETED)).count() == 0)
    // the upsert@15 arrives TWO+ fence generations late, older than the
    // GC'd delete@20: with no tombstone left to lose against, merging it
    // would resurrect the key — the intake bound (ts <= gcHorizon 30)
    // rejects it instead, and the drop is counted
    val m5 = t.merge(batch(Seq(("r1", "a", "ghost", 15L, 0, false))), pk, "k5", Hlc(50, 0)).get
    assert(m5.metric("dropped_late").contains(1L))
    assert(!t.read().select("repo").as[String].collect().contains("r1"))
  }

  test("commits that keep the fence, vacuumed, keep the intake bound") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 1)
    t.merge(batch(Seq(("r1", "a", "v1", 10L, 0, false))), pk, "k1", Hlc(10, 0))
    t.merge(batch(Seq(("r1", "a", null, 20L, 0, true))), pk, "k2", Hlc(20, 0))
    t.merge(batch(Seq(("r2", "b", "v", 30L, 0, false))), pk, "k3", Hlc(30, 0))
    // fence 40 GCs the tombstone@20
    t.merge(batch(Seq(("r3", "c", "v", 40L, 0, false))), pk, "k4", Hlc(40, 0))
    // late applies of redelivered rows: same fence, vacuumed after each,
    // until no retained commit carries a fence older than 40
    (1 to 3).foreach { i =>
      t.merge(batch(Seq(("r3", "c", "v", 40L, 0, false))), pk, s"late-$i", Hlc(40, 0))
      t.vacuum(keepVersions = 2)
    }
    // the gc horizon is still 30: the upsert@15 is dropped, not merged
    val m = t.merge(batch(Seq(("r1", "a", "ghost", 15L, 0, false))), pk, "late-4", Hlc(40, 0)).get
    assert(m.metric("dropped_late").contains(1L))
    assert(!t.read().select("repo").as[String].collect().contains("r1"))
  }

  test("a head commit without a prior_fence record logs that the intake bound is off") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 1)
    Seq(10L, 20L, 30L).zipWithIndex.foreach { case (ts, i) =>
      t.merge(batch(Seq(("r", s"p$i", "v", ts, 0, false))), pk, s"k$i", Hlc(ts, 0))
    }
    // rewrite the head as an engine that did not record the field would have
    val head = t.log.latest().get
    val file = java.nio.file.Paths.get(t.root, "commits", f"${head.version}%020d.json").toFile
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(file, head.copy(metrics = head.metrics -- Seq("prior_fence_nanos", "prior_fence_logical")))
    val out = new java.io.ByteArrayOutputStream()
    val m = Console.withOut(out)(
      t.merge(batch(Seq(("r", "x", "v", 5L, 0, false))), pk, "k3", Hlc(30, 0))).get
    assert(out.toString("UTF-8").contains(s"commit ${head.version} of ${t.root} records no prior_fence_*"))
    // with the record the row@5 would be dropped (horizon 20); here it merges
    assert(m.metric("dropped_late").contains(0L))
    // the new head carries the record again: no warning on the next merge
    val quiet = new java.io.ByteArrayOutputStream()
    Console.withOut(quiet)(
      t.merge(batch(Seq(("r", "y", "v", 40L, 0, false))), pk, "k4", Hlc(40, 0)))
    assert(!quiet.toString("UTF-8").contains("prior_fence"))
  }

  test("merge-on-read reads are bucket-local: delta-free buckets read with no shuffle") {
    val t = new SnapshotTable(spark, tmpDir("morlocal"), numBuckets = 8, compactEvery = 4)
    t.merge(batch((0 until 64).map(i => (s"r$i", "p", "v1", 10L, 0, false))), pk, "k1", Hlc(10, 0))
    // one small delta: exactly one key's bucket carries a delta now
    t.merge(batch(Seq(("r3", "p", "v2", 20L, 0, false))), pk, "k2", Hlc(20, 0))
    val meta = t.log.latest().get
    assert(meta.metric("delta_merge").contains(1L))
    val dirty = meta.deltas.filter(_._2.nonEmpty).keys.map(_.toInt).toSet
    assert(dirty.nonEmpty)
    val clean = meta.buckets.keys.map(_.toInt).toSet -- dirty
    assert(clean.nonEmpty)
    // a read pruned to delta-free buckets must not shuffle at all — one
    // delta elsewhere must not un-do bucket pruning (the 100 TB contract)
    val cleanPlan = t.readCurrent(Some(clean)).queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("Exchange"), s"clean-bucket read must not shuffle:\n$cleanPlan")
    // the full read folds only the dirty buckets; visible state is exact
    val m = t.read().select("repo", "content").as[(String, String)].collect().toMap
    assert(m.size == 64 && m("r3") == "v2" && m("r5") == "v1")
  }

  test("hot-bucket writes fan out over multiple files (writersPerBucket)") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 1)
    val big = batch((0 until 400).map(i => (s"r$i", s"p$i", "v", 10L, 0, false)))
    val meta = t.merge(big, pk, "k1", Hlc(10, 0)).get
    // one bucket, but the write produced several part files inside it
    val dir = java.nio.file.Paths.get(t.root, meta.buckets.values.head)
    import scala.jdk.CollectionConverters._
    val parts = java.nio.file.Files.list(dir).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parts > 1, s"expected multi-file bucket write, got $parts file(s)")
    assert(meta.partitionMetrics.values.sum == 400L)
    assert(t.read().count() == 400)
  }

  test("schema evolution: added column and int->long widening, old buckets reused") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 16)
    val b1 = Seq(("r1", "a", "v1", 1, 10L, 0, false), ("r9", "z", "v1", 2, 10L, 0, false))
      .toDF("repo", "path", "content", "stars", "__hlc_nanos", "__hlc_logical", "__deleted")
    t.merge(b1, pk, "k1", Hlc(10, 0))
    assert(t.read().schema("stars").dataType.typeName == "integer")

    // second batch: stars becomes long, and a new column appears
    val b2 = Seq(("r1", "a", "v2", 99999999999L, "main", 20L, 0, false))
      .toDF("repo", "path", "content", "stars", "branch", "__hlc_nanos", "__hlc_logical", "__deleted")
    val meta2 = t.merge(b2, pk, "k2", Hlc(20, 0)).get
    val out = t.read()
    assert(out.schema("stars").dataType.typeName == "long")
    assert(out.schema.fieldNames.contains("branch"))
    val rows = out
      .select("repo", "path", "stars", "branch")
      .as[(String, String, Long, Option[String])]
      .collect()
      .toSet
    assert(rows.contains(("r1", "a", 99999999999L, Some("main"))))
    assert(rows.contains(("r9", "z", 2L, None)))

    // untouched bucket dirs must be carried forward from v1 (copy-on-write)
    assert(meta2.buckets.values.exists(_.contains("v00000001")))
  }

  test("empty batch commits a metadata-only fence advance") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 4)
    t.merge(batch(Seq(("r1", "a", "v1", 10L, 0, false))), pk, "k1", Hlc(10, 0))
    val empty = batch(Seq.empty)
    val m = t.merge(empty, pk, "k2", Hlc(50, 0))
    assert(m.isDefined)
    assert(m.get.metrics("rows_written") == 0L)
    assert(t.read().count() == 1)
    assert(t.log.latest().get.resolvedNanos == 50L)
  }

  test("vacuum reclaims unreferenced versions; current reads survive") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 4)
    // v1..v4: four merges, each touching a different single key so old
    // version dirs stay partially referenced (copy-on-write reuse)
    (1 to 4).foreach { i =>
      t.merge(batch(Seq((s"r$i", "p", s"v$i", i.toLong * 10, 0, false))), pk, s"k$i", Hlc(i * 10L, 0))
    }
    assert(t.log.listVersions() == Seq(1L, 2L, 3L, 4L))
    val before = t.read().count()
    val removed = t.vacuum(keepVersions = 2)
    // only dirs not referenced by v3/v4 manifests may be removed
    assert(t.log.listVersions() == Seq(3L, 4L))
    assert(t.read().count() == before) // all rows still readable
    assert(
      t.read().select("repo").as[String].collect().toSet ==
        Set("r1", "r2", "r3", "r4")
    )
    // vacuum again: nothing further to reclaim
    assert(t.vacuum(2) == 0)
    assert(removed >= 0)

    // fence monotonicity: a merge carrying an OLDER resolved ts must not
    // regress the fence
    t.merge(batch(Seq(("rX", "p", "v", 100L, 0, false))), pk, "k5", Hlc(5L, 0))
    assert(t.log.latest().get.resolvedNanos == 40L)
  }

  test("merge-on-read: delta merges write O(batch), state equals pure COW, compaction folds") {
    val mor = new SnapshotTable(spark, tmpDir("mor"), numBuckets = 4, compactEvery = 3)
    val cow = new SnapshotTable(spark, tmpDir("cow"), numBuckets = 4, compactEvery = 1)

    def state(t: SnapshotTable): Set[(String, String, String)] =
      t.read().select("repo", "path", "content")
        .as[(String, String, String)].collect().toSet

    val batches = Seq(
      // v1: base creation (first merge always compacts)
      (batch((0 until 40).map(i => (s"r$i", "p", "v1", 10L, 0, false))), "k1", Hlc(10, 0)),
      // v2: small update batch -> DELTA (no COW of the 40-row buckets)
      (batch(Seq(("r3", "p", "v2", 20L, 0, false), ("r7", "p", null, 21L, 0, true))), "k2", Hlc(21, 0)),
      // v3: another delta
      (batch(Seq(("r3", "p", "v3", 30L, 0, false), ("rNew", "p", "n1", 31L, 0, false))), "k3", Hlc(31, 0)),
      // v4: touches r3, whose bucket now holds 2 deltas (cap for
      // compactEvery=3) -> compaction of the touched buckets
      (batch(Seq(("r3", "p", "v4", 40L, 0, false))), "k4", Hlc(40, 0)),
      // v5: delta again after compaction
      (batch(Seq(("r3", "p", "v5", 50L, 0, false))), "k5", Hlc(50, 0))
    )
    batches.foreach { case (b, k, f) =>
      val mMor = mor.merge(b, pk, k, f).get
      val mCow = cow.merge(b, pk, k, f).get
      // the visible state is identical at every cadence
      assert(state(mor) == state(cow), s"state diverged at $k")
      // COW writes at least as many rows as MOR per merge
      assert(mMor.metric("rows_written").get <= mCow.metric("rows_written").get)
    }
    val metas = mor.log.all()
    // v2, v3 were deltas (tiny writes); v4 compacted; v5 delta again
    assert(metas.find(_.idempotenceKey == "k2").get.metric("delta_merge").get == 1L)
    assert(metas.find(_.idempotenceKey == "k2").get.metric("rows_written").get == 2L)
    assert(metas.find(_.idempotenceKey == "k3").get.metric("delta_merge").get == 1L)
    assert(metas.find(_.idempotenceKey == "k4").get.metric("delta_merge").get == 0L)
    assert(metas.find(_.idempotenceKey == "k5").get.metric("delta_merge").get == 1L)
    // compaction (per-bucket cap) cleared the TOUCHED bucket's deltas;
    // other buckets' deltas survive; v5 re-opened one delta generation
    val v3 = metas.find(_.idempotenceKey == "k3").get
    val v4 = metas.find(_.idempotenceKey == "k4").get
    val v5 = metas.find(_.idempotenceKey == "k5").get
    assert(v4.deltas.values.flatten.size < v3.deltas.values.flatten.size)
    assert(v5.deltas.values.flatten.size == v4.deltas.values.flatten.size + 1)
    // deleted key stays dead through delta generations
    assert(!state(mor).exists(_._1 == "r7"))
    // readCurrent folds to exactly one row per key
    assert(mor.readCurrent().groupBy("repo", "path").count().filter($"count" > 1).count() == 0)

    // vacuum must preserve every referenced base AND delta dir
    val before = state(mor)
    mor.vacuum(keepVersions = 2)
    assert(state(mor) == before)

    // idempotent replay still no-ops in delta mode
    assert(mor.merge(batches(4)._1, pk, "k5", Hlc(50, 0)).isEmpty)
  }

  test("merge-on-read + schema evolution: deltas carry widened/added columns, fold aligns") {
    val t = new SnapshotTable(spark, tmpDir("morevo"), numBuckets = 2, compactEvery = 4)
    // base: stars INT
    val b1 = Seq(("r1", "a", "v1", 1, 10L, 0, false), ("r2", "b", "v1", 2, 10L, 0, false))
      .toDF("repo", "path", "content", "stars", "__hlc_nanos", "__hlc_logical", "__deleted")
    t.merge(b1, pk, "k1", Hlc(10, 0))
    // delta generation 1: stars widens to LONG and a new column appears
    val b2 = Seq(("r1", "a", "v2", 99999999999L, "main", 20L, 0, false))
      .toDF("repo", "path", "content", "stars", "branch", "__hlc_nanos", "__hlc_logical", "__deleted")
    val m2 = t.merge(b2, pk, "k2", Hlc(20, 0)).get
    assert(m2.metric("delta_merge").get == 1L)
    // read folds an INT base row and a LONG delta row under the widened schema
    val rows = t.read()
      .select("repo", "path", "content", "stars", "branch")
      .as[(String, String, String, Long, Option[String])]
      .collect()
      .toSet
    assert(rows == Set(
      ("r1", "a", "v2", 99999999999L, Some("main")),
      ("r2", "b", "v1", 2L, None)
    ))
    // delta generation 2 then compaction keeps the evolved schema
    val b3 = Seq(("r2", "b", "v3", 5L, "dev", 30L, 0, false))
      .toDF("repo", "path", "content", "stars", "branch", "__hlc_nanos", "__hlc_logical", "__deleted")
    t.merge(b3, pk, "k3", Hlc(30, 0))
    (4 to 6).foreach { i => // push buckets past the cap to force compaction
      t.merge(
        Seq(("r1", "a", s"v$i", 7L, "main", i * 10L, 0, false))
          .toDF("repo", "path", "content", "stars", "branch", "__hlc_nanos", "__hlc_logical", "__deleted"),
        pk, s"k$i", Hlc(i * 10L, 0)
      )
    }
    val fin = t.read()
      .select("repo", "path", "content", "stars")
      .as[(String, String, String, Long)]
      .collect()
      .toSet
    assert(fin == Set(("r1", "a", "v6", 7L), ("r2", "b", "v3", 5L)))
  }

  test("CommitLog.contains is O(1) per merge after the one-time key load") {
    import graft.table.{CommitLog, CommitMeta}
    val root = tmpDir("cl500")
    val log = new CommitLog(root)
    (1 to 500).foreach { v =>
      assert(
        log.commit(
          CommitMeta(v.toLong, s"key-$v", 0L, 0, "`a` INT", 4,
            Map.empty, Map.empty, Map.empty, Map.empty, Nil,
            Map.empty, Map.empty, Nil, 0L)
        )
      )
    }
    // a fresh instance (restart) loads keys once, then answers from memory
    val fresh = new CommitLog(root)
    assert(!fresh.contains("nope"))
    val afterLoad = fresh.fileReads
    (1 to 100).foreach(i => assert(fresh.contains(s"key-${i * 5}")))
    assert(fresh.fileReads == afterLoad, "contains() must not re-read commit files")
  }

  test("per-partition metrics and lineage are recorded") {
    val t = new SnapshotTable(spark, tmpDir("snap"), numBuckets = 4)
    val meta = t
      .merge(
        batch((0 until 100).map(i => (s"r$i", "p", "v", 10L, 0, false))),
        pk,
        "k1",
        Hlc(10, 0),
        lineage = Seq("file-1.ndjson")
      )
      .get
    assert(meta.partitionMetrics.values.sum == 100L)
    assert(meta.partitionMetrics.size > 1) // spread over buckets
    assert(meta.lineage == Seq("file-1.ndjson"))
    assert(meta.metrics("rows_written") == 100L)
  }

  test("snapshot files are written in PK order (row-group stats usable for point reads)") {
    // the state fingerprint is order-independent, so only a file-level
    // check catches a planner change (e.g. V1Writes replacing the user
    // sort) that silently un-sorts the files
    val root = tmpDir("snapsorted")
    val t = new SnapshotTable(spark, root, numBuckets = 4)
    // (i * 37) % 97 scrambles the input order so sorted output files can't
    // happen by accident
    val b = batch(
      (0 until 400).map { i =>
        val j = (i * 37) % 97
        (f"r$j%03d", f"p$i%04d", "v", 10L, 0, false)
      }
    )
    assert(t.merge(b, pk, "k1", Hlc(10, 0)).isDefined)
    import scala.jdk.CollectionConverters._
    val files = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
    )(_.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList)
    assert(files.nonEmpty)
    var checked = 0
    files.foreach { f =>
      val keys = spark.read
        .parquet(f.toString)
        .select("repo", "path")
        .as[(String, String)]
        .collect()
      if (keys.length > 1) {
        checked += 1
        assert(
          keys.sameElements(keys.sortBy(identity)),
          s"$f is not in PK order"
        )
      }
    }
    assert(checked > 0, "no multi-row file was checked")
  }

  test("time travel + changesBetween: manifest-diff CDC-out with HLC classification") {
    val t = new SnapshotTable(spark, tmpDir("vdiff"), numBuckets = 4)
    val b1 = batch(
      (1 to 8).map(i => ("r", s"p$i", s"v1-$i", 10L, 0, false))
    )
    t.merge(b1, pk, "v1", Hlc(10, 0))
    // v2: update p2 (newer HLC, new value + an EVOLVED column), insert
    // p20, delete p3; p1/p4..p8 untouched — some share rewritten buckets
    // and must be classified unchanged via HLC equality
    val b2 = Seq(
      ("r", "p2", "v2-2", "x2", 20L, 0, false),
      ("r", "p20", "v2-20", "x20", 20L, 0, false),
      ("r", "p3", null, null, 20L, 0, true)
    ).toDF("repo", "path", "content", "extra", "__hlc_nanos", "__hlc_logical", "__deleted")
    t.merge(b2, pk, "v2", Hlc(20, 0))

    // time travel: v1 state is intact behind the latest version
    assert(t.readAt(1).count() == 8)
    val at1 = t.readAt(1).select("path", "content").as[(String, String)].collect().toMap
    assert(at1("p2") == "v1-2" && at1.contains("p3"))
    assert(t.readAt(2).count() == 8) // 8 - 1 delete + 1 insert

    val changes = t
      .changesBetween(1, 2)
      .select("path", "content", "extra", "change_type")
      .as[(String, String, String, String)]
      .collect()
      .map(r => r._1 -> r)
      .toMap
    assert(changes.size == 3, s"got $changes")
    assert(changes("p2") == (("p2", "v2-2", "x2", "update")))
    assert(changes("p20") == (("p20", "v2-20", "x20", "insert")))
    // delete carries the FROM-side image; the evolved column did not
    // exist at v1, so it surfaces null
    assert(changes("p3") == (("p3", "v1-3", null, "delete")))

    // same-version diff is empty without reading anything
    assert(t.changesBetween(2, 2).count() == 0)

    // vacuumed versions throw instead of silently reading wrong state
    t.merge(
      Seq(("r", "p9", "v3-9", "x9", 30L, 0, false))
        .toDF("repo", "path", "content", "extra", "__hlc_nanos", "__hlc_logical", "__deleted"),
      pk, "v3", Hlc(30, 0))
    t.vacuum(1)
    intercept[IllegalArgumentException](t.readAt(1))
  }
}
