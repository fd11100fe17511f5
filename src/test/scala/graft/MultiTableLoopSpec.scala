package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._
import graft.applyops.TableSpec
import graft.loop.{MultiTableLoop, TableTarget}
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** Multi-table webhook ingest with FK-level ordered apply — the analog of
  * the reference's 3-table FK-chain backfill test
  * (reference: internal/source/cdc/handler_test.go:403-540, scaled down).
  */
class MultiTableLoopSpec extends SparkSpec {
  import spark.implicits._

  test("webhook feed routes topics to tables, FK levels, one global fence") {
    val base = tmpDir("mtl")
    val feedDir = s"$base/feed"
    Files.createDirectories(Paths.get(feedDir))

    def mut(topic: String, pk: Int, v: String, ts: Long): String =
      s"""{"after":{"pk":$pk,"v":"$v"},"key":[$pk],"topic":"$topic","updated":"$ts.0000000000"}"""

    val bodies = Seq(
      s"""{"payload":[${mut("child", 1, "c1", 10)},${mut("parent", 1, "p1", 11)}],"length":2}""",
      s"""{"payload":[${mut("parent", 2, "p2", 12)},${mut("child", 2, "c2", 13)},${mut("child", 1, "c1b", 14)}],"length":3}""",
      s"""{"resolved":"20.0000000000"}"""
    )
    Files.writeString(Paths.get(feedDir, "0001.json"), bodies.mkString("\n"))

    val schema = StructType(
      Seq(StructField("pk", IntegerType), StructField("v", StringType))
    )
    def target(name: String) = TableTarget(
      TableSpec(schema, Seq("pk")),
      new SnapshotTable(spark, s"$base/$name/table", numBuckets = 4),
      new StagedStore(spark, s"$base/$name/stage", bucketNanos = 100L)
    )
    val targets = Map("parent" -> target("parent"), "child" -> target("child"))
    val loop = new MultiTableLoop(
      spark,
      feedDir,
      targets,
      dependsOn = Map("child" -> Set("parent")),
      checkpointDir = s"$base/checkpoint",
      saltBuckets = 4,
      maxFilesPerTrigger = 4
    )
    loop.runAvailableNow()

    val parents = targets("parent").table
      .read()
      .select("pk", "v")
      .as[(Int, String)]
      .collect()
      .toSet
    val children = targets("child").table
      .read()
      .select("pk", "v")
      .as[(Int, String)]
      .collect()
      .toSet
    assert(parents == Set((1, "p1"), (2, "p2")))
    assert(children == Set((1, "c1b"), (2, "c2"))) // LWW: c1b@14 beats c1@10
    assert(loop.committedFence == Hlc(20L, 0))

    // parent commits before child within the same fence (FK order)
    val pc = targets("parent").table.log.latest().get.committedAtMs
    val cc = targets("child").table.log.latest().get.committedAtMs
    assert(pc <= cc)

    // nothing staged beyond the fence => no pending topics (S12 analog)
    assert(loop.pendingTopics().isEmpty)
  }

  test("per-topic CAS config gates the fan path: a stale update is rejected") {
    val base = tmpDir("mtlcas")
    val feedDir = s"$base/feed"
    Files.createDirectories(Paths.get(feedDir))

    def mut(topic: String, pk: Int, v: String, ver: Int, ts: Long): String =
      s"""{"after":{"pk":$pk,"v":"$v","ver":$ver},"key":[$pk],"topic":"$topic","updated":"$ts.0000000000"}"""

    // window 1: seed rows (acct ver=5, plain v=base); window 2: a STALE
    // acct update (ver 3 < 5, despite the newer HLC) that CAS must reject,
    // a winning acct update on another key, and a plain-topic update that
    // has no CAS config and lands by LWW as usual
    Files.writeString(
      Paths.get(feedDir, "0001.json"),
      Seq(
        s"""{"payload":[${mut("acct", 1, "seed", 5, 10)},${mut("plain", 1, "base", 1, 11)}],"length":2}""",
        s"""{"resolved":"20.0000000000"}"""
      ).mkString("\n")
    )
    Files.writeString(
      Paths.get(feedDir, "0002.json"),
      Seq(
        s"""{"payload":[${mut("acct", 1, "stale", 3, 30)},${mut("acct", 2, "new", 1, 31)},${mut("plain", 1, "upd", 0, 32)}],"length":3}""",
        s"""{"resolved":"40.0000000000"}"""
      ).mkString("\n")
    )

    val schema = StructType(
      Seq(
        StructField("pk", IntegerType),
        StructField("v", StringType),
        StructField("ver", IntegerType)
      )
    )
    def target(name: String, cas: Seq[String]) = TableTarget(
      TableSpec(schema, Seq("pk"), graft.model.TableConfig(casColumns = cas)),
      new SnapshotTable(spark, s"$base/$name/table", numBuckets = 4),
      new StagedStore(spark, s"$base/$name/stage", bucketNanos = 100L)
    )
    val targets = Map(
      "acct" -> target("acct", Seq("ver")),
      "plain" -> target("plain", Nil)
    )
    val loop = new MultiTableLoop(
      spark, feedDir, targets,
      dependsOn = Map.empty,
      checkpointDir = s"$base/checkpoint",
      saltBuckets = 4,
      maxFilesPerTrigger = 1 // two fences, so the CAS gate sees committed state
    )
    loop.runAvailableNow()

    val acct = targets("acct").table.read()
      .select("pk", "v", "ver").as[(Int, String, Int)].collect().toSet
    // pk=1 keeps ver 5: the stale ver-3 update was CAS-rejected even though
    // its HLC was newer; pk=2 landed (no current row)
    assert(acct == Set((1, "seed", 5), (2, "new", 1)), s"got $acct")
    val plain = targets("plain").table.read()
      .select("pk", "v").as[(Int, String)].collect().toSet
    assert(plain == Set((1, "upd"))) // no CAS on this topic: plain LWW
  }

  test("immediate (fan) mode: applies without fences, matches staged state, records resolved") {
    val base = tmpDir("mtlimm")
    val feedDir = s"$base/feed"
    Files.createDirectories(Paths.get(feedDir))

    def mut(topic: String, pk: Int, v: String, ts: Long): String =
      s"""{"after":{"pk":$pk,"v":"$v"},"key":[$pk],"topic":"$topic","updated":"$ts.0000000000"}"""

    var mtime = 1000000L
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val p = Paths.get(feedDir, name)
      Files.writeString(p, lines.mkString("\n"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
      mtime += 1000
    }
    writeFile(
      "0001.json",
      Seq(
        s"""{"payload":[${mut("parent", 1, "p1", 10)},${mut("child", 1, "c1", 11)}],"length":2}""",
        s"""{"payload":[${mut("child", 2, "c2", 12)},${mut("child", 1, "c1b", 13)}],"length":2}""",
        s"""{"resolved":"20.0000000000"}"""
      )
    )

    val schema = StructType(
      Seq(StructField("pk", IntegerType), StructField("v", StringType))
    )
    def target(dir: String, name: String) = TableTarget(
      TableSpec(schema, Seq("pk")),
      new SnapshotTable(spark, s"$base/$dir/$name/table", numBuckets = 4),
      new StagedStore(spark, s"$base/$dir/$name/stage", bucketNanos = 100L)
    )
    def mkLoop(dir: String, immediate: Boolean) = {
      val targets =
        Map("parent" -> target(dir, "parent"), "child" -> target(dir, "child"))
      (
        new MultiTableLoop(
          spark, feedDir, targets,
          dependsOn = Map("child" -> Set("parent")),
          checkpointDir = s"$base/$dir/checkpoint",
          saltBuckets = 4, maxFilesPerTrigger = 4,
          immediate = immediate
        ),
        targets
      )
    }
    def state(targets: Map[String, TableTarget]) = targets.map { case (n, t) =>
      n -> t.table.read().select("pk", "v").as[(Int, String)].collect().toSet
    }

    val (stagedLoop, stagedTargets) = mkLoop("staged", immediate = false)
    stagedLoop.runAvailableNow()
    val (immLoop, immTargets) = mkLoop("imm", immediate = true)
    immLoop.runAvailableNow()

    // staged ≡ immediate across the FK levels
    assert(state(immTargets) == state(stagedTargets))
    assert(state(immTargets)("child") == Set((1, "c1b"), (2, "c2")))
    // immediate mode never staged anything
    assert(immTargets.values.forall(_.stage.maxStagedBucket().isEmpty))
    // no fence GATING, but the marker is RECORDED on the commit it rode with
    assert(immLoop.committedFence == Hlc(20L, 0))

    // the round-3 gap, demonstrated closed: a follow-up batch WITHOUT any
    // resolved marker still applies in immediate mode, while the staged
    // loop (correctly) keeps accumulating until the next fence
    writeFile(
      "0002.json",
      // ts 130: a later staging ts-bucket than the fence (bucketNanos=100),
      // so the staged loop's pending-topic scan can see it
      Seq(s"""{"payload":[${mut("parent", 9, "p9", 130)}],"length":1}""")
    )
    immLoop.runAvailableNow()
    stagedLoop.runAvailableNow()
    assert(state(immTargets)("parent") == Set((1, "p1"), (9, "p9")))
    assert(state(stagedTargets)("parent") == Set((1, "p1")))
    assert(stagedLoop.pendingTopics() == Seq("parent"))
  }

  test("webhook CDC-QUERY feed drives the multi-table loop (topic from path, per-topic PKs)") {
    // the reference routes webhook-query bodies to tables by URL
    // (webhook_query.go via handler.go); here the topic rides the file
    // path as topic=<name> and the pluggable parse feeds the same fan
    // machinery. Topics deliberately use DIFFERENT pk column names so the
    // one-pass union-schema key extraction is exercised, and the child
    // delete arrives WITH a row image (query-envelope semantics).
    val base = tmpDir("mtlwq")
    val feedDir = s"$base/feed"
    Files.createDirectories(Paths.get(feedDir, "topic=parent"))
    Files.createDirectories(Paths.get(feedDir, "topic=child"))

    def row(fields: String, ev: String, ts: Long): String =
      s"""{$fields,"__event__":"$ev","__crdb__":{"updated":"$ts.0000000000"}}"""
    Files.writeString(
      Paths.get(feedDir, "topic=parent", "0001.json"),
      Seq(
        s"""{"payload":[${row("\"pk\":1,\"v\":\"p1\"", "insert", 10)},${row("\"pk\":2,\"v\":\"p2\"", "insert", 11)}]}""",
        s"""{"__crdb__":{"resolved":"20.0000000000"}}"""
      ).mkString("\n")
    )
    Files.writeString(
      Paths.get(feedDir, "topic=child", "0001.json"),
      Seq(
        s"""{"payload":[${row("\"cid\":1,\"v\":\"c1\"", "insert", 12)},${row("\"cid\":2,\"v\":\"c2\"", "insert", 13)},${row("\"cid\":1,\"v\":\"c1\"", "delete", 15)}]}"""
      ).mkString("\n")
    )

    def target(name: String, pk: String) = TableTarget(
      TableSpec(
        StructType(Seq(StructField(pk, IntegerType), StructField("v", StringType))),
        Seq(pk)
      ),
      new SnapshotTable(spark, s"$base/$name/table", numBuckets = 4),
      new StagedStore(spark, s"$base/$name/stage", bucketNanos = 100L)
    )
    val targets = Map("parent" -> target("parent", "pk"), "child" -> target("child", "cid"))
    val loop = new MultiTableLoop(
      spark, feedDir, targets,
      dependsOn = Map("child" -> Set("parent")),
      checkpointDir = s"$base/checkpoint",
      saltBuckets = 4, maxFilesPerTrigger = 4,
      parse = graft.feed.Envelopes.parseWebhookQueryTopicLines(
        _,
        Map("parent" -> Seq("pk"), "child" -> Seq("cid"))
      )
    )
    loop.runAvailableNow()

    val parents = targets("parent").table.read()
      .select("pk", "v").as[(Int, String)].collect().toSet
    val children = targets("child").table.read()
      .select("cid", "v").as[(Int, String)].collect().toSet
    assert(parents == Set((1, "p1"), (2, "p2")), s"got $parents")
    assert(children == Set((2, "c2")), s"got $children") // cid=1 deleted @15
    assert(loop.committedFence == Hlc(20L, 0))
  }

  test("immediate split path (one-pass per-topic partitions) matches the re-scan path") {
    val base = tmpDir("mtlsplit")
    val feedDir = s"$base/feed"
    Files.createDirectories(Paths.get(feedDir))
    def mut(topic: String, pk: Int, v: String, ts: Long): String =
      s"""{"after":{"pk":$pk,"v":"$v"},"key":[$pk],"topic":"$topic","updated":"$ts.0000000000"}"""
    Files.writeString(
      Paths.get(feedDir, "0001.json"),
      Seq(
        s"""{"payload":[${mut("parent", 1, "p1", 10)},${mut("child", 1, "c1", 11)},${mut("child", 1, "c1b", 13)},${mut("child", 2, "c2", 12)}],"length":4}""",
        s"""{"resolved":"20.0000000000"}"""
      ).mkString("\n")
    )
    val schema = StructType(
      Seq(StructField("pk", IntegerType), StructField("v", StringType))
    )
    def mk(dir: String, threshold: Int) = {
      def target(name: String) = TableTarget(
        TableSpec(schema, Seq("pk")),
        new SnapshotTable(spark, s"$base/$dir/$name/table", numBuckets = 4),
        new StagedStore(spark, s"$base/$dir/$name/stage", bucketNanos = 100L)
      )
      val targets = Map("parent" -> target("parent"), "child" -> target("child"))
      (
        new MultiTableLoop(
          spark, feedDir, targets,
          dependsOn = Map("child" -> Set("parent")),
          checkpointDir = s"$base/$dir/checkpoint",
          saltBuckets = 4, maxFilesPerTrigger = 4,
          immediate = true,
          immediateSplitThreshold = threshold
        ),
        targets
      )
    }
    def state(targets: Map[String, TableTarget]) = targets.map { case (n, t) =>
      n -> t.table.read().select("pk", "v").as[(Int, String)].collect().toSet
    }
    val (splitLoop, splitTargets) = mk("split", threshold = 1) // forces split
    splitLoop.runAvailableNow()
    val (scanLoop, scanTargets) = mk("scan", threshold = 100) // forces re-scan
    scanLoop.runAvailableNow()
    assert(state(splitTargets) == state(scanTargets))
    assert(state(splitTargets)("child") == Set((1, "c1b"), (2, "c2")))
    assert(splitLoop.committedFence == Hlc(20L, 0))
    // the split scratch is reclaimed after the batch
    import scala.jdk.CollectionConverters._
    val leftovers = Files
      .list(Paths.get(s"$base/split/checkpoint"))
      .iterator()
      .asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("imm-split"))
      .toSeq
    assert(leftovers.isEmpty, s"split scratch leaked: $leftovers")
  }

  test("fan path vacuums snapshots: data versions and commit files stay bounded over many fences") {
    val base = tmpDir("mtlvac")
    val feedDir = s"$base/feed"
    Files.createDirectories(Paths.get(feedDir))

    def mut(topic: String, pk: Int, v: String, ts: Long): String =
      s"""{"after":{"pk":$pk,"v":"$v"},"key":[$pk],"topic":"$topic","updated":"$ts.0000000000"}"""

    // 12 files, each its own fence => 12 per-table commits at cadence; both
    // tables commit EVERY fence (untouched tables get metadata-only
    // commits), which is exactly the unbounded-growth regime
    var mtime = 1000000L
    (1 to 12).foreach { i =>
      val topic = if (i % 2 == 0) "a" else "b"
      val p = Paths.get(feedDir, f"$i%04d.json")
      Files.writeString(
        p,
        Seq(
          s"""{"payload":[${mut(topic, i % 5, s"v$i", i * 10L)}],"length":1}""",
          s"""{"resolved":"${i * 10L + 5}.0000000000"}"""
        ).mkString("\n")
      )
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
      mtime += 1000
    }

    val schema = StructType(
      Seq(StructField("pk", IntegerType), StructField("v", StringType))
    )
    def target(name: String) = TableTarget(
      TableSpec(schema, Seq("pk")),
      new SnapshotTable(spark, s"$base/$name/table", numBuckets = 4),
      new StagedStore(spark, s"$base/$name/stage", bucketNanos = 100L)
    )
    val targets = Map("a" -> target("a"), "b" -> target("b"))
    val keep = 3
    val loop = new MultiTableLoop(
      spark, feedDir, targets,
      dependsOn = Map.empty,
      checkpointDir = s"$base/checkpoint",
      saltBuckets = 4,
      maxFilesPerTrigger = 1, // one fence per micro-batch
      vacuumKeepVersions = Some(keep)
    )
    loop.runAvailableNow()

    targets.foreach { case (name, t) =>
      val commits = Files.list(Paths.get(s"$base/$name/table/commits")).count()
      assert(
        commits <= keep,
        s"table $name holds $commits commit files after 12 fences (keep=$keep)"
      )
      // copy-on-write: a bucket untouched since version v keeps v's data
      // dir referenced (and protected) until it is rewritten, so the bound
      // is keep + numBuckets distinct version dirs — still O(1) in the
      // number of fences, which is the property under test (12 fences
      // would otherwise leave 12 dirs)
      val dataDirs = Files.list(Paths.get(s"$base/$name/table/data")).count()
      assert(
        dataDirs <= keep + 4,
        s"table $name holds $dataDirs data-version dirs after 12 fences (keep=$keep)"
      )
    }
    // and the state is still right (vacuum never touches referenced dirs)
    val a = targets("a").table.read().select("pk", "v").as[(Int, String)].collect().toSet
    assert(a == Set((2, "v12"), (0, "v10"), (3, "v8"), (1, "v6"), (4, "v4")), s"got $a")
    assert(loop.committedFence == Hlc(125L, 0))
  }

  test("appendTopics: one-pass staging, idempotent replays, per-topic drift, seq bumps") {
    val base = tmpDir("amt")
    val t1 = new StagedStore(spark, s"$base/t1", bucketNanos = 100L)
    val t2 = new StagedStore(spark, s"$base/t2", bucketNanos = 1000L)
    val stores = Map("t1" -> t1, "t2" -> t2)
    val validate = Map(
      "t1" -> ((1, Seq("pk"))),
      "t2" -> ((1, Seq("pk")))
    )
    val muts = Seq(
      ("t1", "[1]", """{"pk":1,"v":"a"}""", 50L, 0, "f"),
      ("t1", "[2]", """{"pk":2,"v":"b"}""", 150L, 0, "f"), // second ts bucket
      ("t2", "[7]", """{"pk":7,"w":9}""", 50L, 0, "f")
    ).toDF("topic", "key", "data", "nanos", "logical", "src_file")

    assert(StagedStore.appendTopics(muts, batchId = 1L, stores, validate) == Set("t1", "t2"))
    // rows landed in the right stores and ts buckets; seq stamped per store
    val r1 = t1.readAll().orderBy("nanos")
    assert(r1.count() == 2)
    assert(
      r1.select("ts_bucket").as[Long].collect().toSet == Set(0L, 1L)
    ) // bucketNanos=100 => buckets 0 and 1
    assert(t2.readAll().count() == 1)
    assert(t1.currentSeq() == 1L && t2.currentSeq() == 1L)
    assert(t1.observedFields() == Set("pk", "v"))
    assert(t2.observedFields() == Set("pk", "w"))

    // replay of the same batch id is a no-op (markers)
    assert(StagedStore.appendTopics(muts, batchId = 1L, stores, validate).isEmpty)
    assert(t1.readAll().count() == 2 && t2.readAll().count() == 1)
    assert(t1.currentSeq() == 1L)

    // a second batch bumps seq and appends
    val muts2 = Seq(("t1", "[3]", """{"pk":3,"v":"c"}""", 60L, 0, "f"))
      .toDF("topic", "key", "data", "nanos", "logical", "src_file")
    assert(StagedStore.appendTopics(muts2, batchId = 2L, stores, validate) == Set("t1"))
    assert(t1.currentSeq() == 2L)
    assert(t1.readAll().count() == 3)
    // t2 had no rows in batch 2 but gets its marker (replay-safe) anyway
    assert(t2.readAll().count() == 1)

    // per-topic drift: a missing PK in ONE topic fails the whole batch
    val seqBefore = t2.currentSeq()
    val bad = Seq(("t2", "[9]", """{"w":1}""", 70L, 0, "f"))
      .toDF("topic", "key", "data", "nanos", "logical", "src_file")
    val e = intercept[graft.model.SchemaDriftException] {
      StagedStore.appendTopics(bad, batchId = 3L, stores, validate)
    }
    assert(e.getMessage.contains("[t2]"))
    // the rejected batch staged nothing
    assert(t2.readAll().count() == 1 && t2.currentSeq() == seqBefore)
    assert(t1.readAll().count() == 3)
  }

  test("fence 2 of an evolved topic runs as many jobs as fence 2 of a topic that never evolved") {
    // one single-topic loop per topic, so their jobs never interleave; the
    // "evo" payloads carry a column the declared spec lacks
    val schema = StructType(Seq(StructField("pk", IntegerType), StructField("v", StringType)))
    def fenceJobs(topic: String, extra: String): Seq[Int] = {
      val base = tmpDir(s"mtl-evo-$topic")
      val t = TableTarget(
        TableSpec(schema, Seq("pk")),
        new SnapshotTable(spark, s"$base/table", numBuckets = 4),
        new StagedStore(spark, s"$base/stage", bucketNanos = 100L))
      val loop = new MultiTableLoop(spark, s"$base/feed", Map(topic -> t), Map.empty,
        s"$base/checkpoint", saltBuckets = 4)
      def body(fence: Int) = {
        val muts = (1 to 5).map { pk =>
          val ts = fence * 100 + pk
          s"""{"after":{"pk":$pk,"v":"f$fence"$extra},"key":[$pk],"topic":"$topic","updated":"$ts.0000000000"}"""
        }
        Seq(s"""{"payload":[${muts.mkString(",")}],"length":5}""",
          s"""{"resolved":"${fence * 100 + 50}.0000000000"}""")
      }
      val jobs = (1 to 2).map(f => jobShape(loop.processBatch(body(f).toDF("value"), f))._1)
      assert(loop.committedFence == Hlc(250L, 0))
      jobs
    }
    val evolved = fenceJobs("evo", extra = ""","stars":7""")
    val plain = fenceJobs("plain", extra = "")
    assert(evolved(0) > plain(0), s"fence 1 evolves the schema: $evolved vs $plain")
    assert(evolved(1) == plain(1), s"fence 2 must not infer again: $evolved vs $plain")
  }
}
