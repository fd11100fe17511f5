package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.applyops.TableSpec
import graft.feed.Generator
import graft.feed.Generator.FeedSpec
import graft.loop.{MultiTableLoop, ReplayLoop, TableTarget}
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** CDC back OUT of the loop: `changelogDir` publishes each commit's
  * insert/update/delete row images as ordered parquet segments — the
  * consumer-facing fan-out of the reference
  * (reference: internal/source/logical/loop.go:452-486). The binding
  * property: a from-nothing consumer that folds the segments in version
  * order (LWW puts + deletes) reconstructs EXACTLY the table's final
  * state — verified here against an apply that never touches
  * `changesBetween`, so the check is independent of the diff machinery
  * the emitter uses internally.
  */
class ChangelogEmitSpec extends SparkSpec {
  import spark.implicits._

  private val feedSpec = FeedSpec(
    seed = 1905L,
    numEvents = 1200L,
    numKeys = 260L,
    numRepos = 7,
    resolvedWindows = 3,
    eventsPerFile = 150L,
    disorderBlock = 50L
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

  private def segmentDirs(dir: String): Seq[(Long, Path)] =
    Files
      .list(Paths.get(dir))
      .iterator()
      .asScala
      .filter(_.getFileName.toString.startsWith("v"))
      .toSeq
      .map(p => (p.getFileName.toString.drop(1).toLong, p))
      .sortBy(_._1)

  /** Fold the segments in version order like a downstream consumer:
    * insert/update = put, delete = remove. No graft code in the loop —
    * plain parquet reads and a mutable map.
    */
  private def foldSegments(
      dir: String
  ): Map[(String, String), (String, String, String)] = {
    val state =
      scala.collection.mutable.Map[(String, String), (String, String, String)]()
    segmentDirs(dir).foreach { case (_, p) =>
      spark.read
        .parquet(p.toString)
        .select("repo", "path", "commit", "lang", "content", "change_type")
        .as[(String, String, String, String, String, String)]
        .collect()
        .foreach {
          case (r, pa, c, l, ct, "delete") => state.remove((r, pa))
          case (r, pa, c, l, ct, _)        => state((r, pa)) = (c, l, ct)
        }
    }
    state.toMap
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

  test("replay loop changelog: fold(segments) == final state; idempotent; self-healing") {
    val feedDir = tmpDir("clfeed")
    val base = tmpDir("clbase")
    val clDir = s"$base/changelog"
    Generator.writeFeed(spark, feedSpec, feedDir, parallelism = 2)

    val table = new SnapshotTable(spark, s"$base/table", numBuckets = 8)
    val stage = new StagedStore(
      spark,
      s"$base/stage",
      bucketNanos = feedSpec.nanosStep * 300
    )
    val loop = new ReplayLoop(
      spark,
      feedDir,
      table,
      stage,
      s"$base/checkpoint",
      spec,
      saltBuckets = 8,
      maxFilesPerTrigger = 3,
      changelogDir = Some(clDir)
    )
    loop.runAvailableNow()

    // one segment per committed version, starting at the oldest retained
    val versions = table.log.listVersions()
    val segs = segmentDirs(clDir)
    assert(versions.nonEmpty && segs.nonEmpty)
    assert(
      versions.toSet.subsetOf(segs.map(_._1).toSet),
      s"missing segments: committed=$versions emitted=${segs.map(_._1)}"
    )

    // the binding property: an order-folding consumer lands on the table
    val folded = foldSegments(clDir)
    val finalState = tableState(table)
    assert(folded.nonEmpty)
    assert(folded == finalState)

    // deletes must actually ride the stream (the feed contains them) —
    // otherwise the fold==state check would pass vacuously on inserts only
    val changeTypes = segs
      .map(_._2)
      .map(p => spark.read.parquet(p.toString))
      .reduce(_ unionByName _)
      .select("change_type")
      .distinct()
      .as[String]
      .collect()
      .toSet
    assert(changeTypes.contains("delete"), s"no deletes in $changeTypes")
    assert(changeTypes.contains("insert"))

    // idempotent: everything already emitted => no new segments
    assert(table.emitChangelog(clDir) == 0)

    // self-healing: a consumer-side loss of one MIDDLE segment is repaired
    // by the next emission with identical content (the segment is a pure
    // function of the two commit manifests)
    val (healV, healPath) = segs(segs.size / 2)
    val before = spark.read
      .parquet(healPath.toString)
      .collect()
      .map(_.toString)
      .sorted
      .toSeq
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.toSeq.foreach(rm)
      Files.delete(p)
    }
    rm(healPath)
    assert(table.emitChangelog(clDir) == 1)
    val after = spark.read
      .parquet(healPath.toString)
      .collect()
      .map(_.toString)
      .sorted
      .toSeq
    assert(after == before, "healed segment content diverged")
  }

  test("changelog dir hygiene: stale orphaned tmp dirs reclaimed, fresh ones left alone") {
    val base = tmpDir("clhyg")
    val cl = s"$base/changelog"
    val t = new SnapshotTable(spark, s"$base/table", numBuckets = 4)
    t.merge(
      spark
        .createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row("a", "v1", 10L, 0, false)),
          org.apache.spark.sql.types.StructType.fromDDL(
            "repo STRING, content STRING, __hlc_nanos BIGINT, __hlc_logical INT, __deleted BOOLEAN"
          )
        ),
      Seq("repo"),
      "k1",
      graft.model.Hlc(10, 0)
    )
    Files.createDirectories(Paths.get(cl))
    val stale = Paths.get(cl, ".tmp-deadbeef")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("junk"), "crashed writer leftovers")
    Files.setLastModifiedTime(
      stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60 * 60 * 1000L
      )
    )
    val fresh = Paths.get(cl, ".tmp-12345678")
    Files.createDirectories(fresh) // a live emitter's in-flight segment
    assert(t.emitChangelog(cl) == 1)
    assert(!Files.exists(stale), "stale tmp not reclaimed")
    assert(Files.exists(fresh), "fresh tmp must be left alone")
  }

  test("multi-table changelog: per-topic segments fold to per-topic state") {
    val base = tmpDir("mtlcl")
    val feedDir = s"$base/feed"
    val clDir = s"$base/changelog"
    Files.createDirectories(Paths.get(feedDir))

    def mut(topic: String, pk: Int, v: String, ts: Long): String =
      s"""{"after":{"pk":$pk,"v":"$v"},"key":[$pk],"topic":"$topic","updated":"$ts.0000000000"}"""
    def del(topic: String, pk: Int, ts: Long): String =
      s"""{"after":null,"key":[$pk],"topic":"$topic","updated":"$ts.0000000000"}"""

    // two fences: inserts+update, then a delete and a late update
    Files.writeString(
      Paths.get(feedDir, "0001.json"),
      Seq(
        s"""{"payload":[${mut("parent", 1, "p1", 10)},${mut("child", 1, "c1", 11)},${mut("child", 2, "c2", 12)}],"length":3}""",
        s"""{"resolved":"20.0000000000"}"""
      ).mkString("\n")
    )
    Files.writeString(
      Paths.get(feedDir, "0002.json"),
      Seq(
        s"""{"payload":[${del("child", 1, 25)},${mut("parent", 2, "p2", 26)},${mut("child", 2, "c2b", 27)}],"length":3}""",
        s"""{"resolved":"30.0000000000"}"""
      ).mkString("\n")
    )

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
      maxFilesPerTrigger = 1, // force the two fences through separate batches
      changelogDir = Some(clDir)
    )
    loop.runAvailableNow()

    targets.foreach { case (topic, t) =>
      val segs = segmentDirs(s"$clDir/$topic")
      assert(segs.nonEmpty, s"no segments for $topic")
      val state =
        scala.collection.mutable.Map[Int, String]()
      segs.foreach { case (_, p) =>
        spark.read
          .parquet(p.toString)
          .select("pk", "v", "change_type")
          .as[(Int, String, String)]
          .collect()
          .foreach {
            case (pk, _, "delete") => state.remove(pk)
            case (pk, v, _)        => state(pk) = v
          }
      }
      val want = t.table
        .read()
        .select("pk", "v")
        .as[(Int, String)]
        .collect()
        .toMap
      assert(state.toMap == want, s"$topic changelog fold diverged")
      assert(t.table.emitChangelog(s"$clDir/$topic") == 0)
    }
    // the delete of child pk=1 must appear in child's stream
    val childTypes = segmentDirs(s"$clDir/child")
      .map(_._2)
      .map(p => spark.read.parquet(p.toString))
      .reduce(_ unionByName _)
      .select("change_type")
      .distinct()
      .as[String]
      .collect()
      .toSet
    assert(childTypes.contains("delete"))
  }

  test("changelog over a vacuumed table, and after a crash between vacuum's two steps") {
    val base = tmpDir("clvac")
    val cl = s"$base/changelog"
    val t = new SnapshotTable(spark, s"$base/table", numBuckets = 4, compactEvery = 3)
    val schema = StructType.fromDDL(
      "repo STRING, path STRING, commit STRING, lang STRING, content STRING, " +
        "__hlc_nanos BIGINT, __hlc_logical INT, __deleted BOOLEAN"
    )
    val rnd = new scala.util.Random(77)
    def mergeNext(v: Int): Unit = {
      val rows = (0 until 12).map { _ =>
        val k = rnd.nextInt(30)
        val del = rnd.nextInt(4) == 0
        org.apache.spark.sql.Row(s"r${k % 3}", s"p$k", if (del) null else s"c$v",
          "scala", if (del) null else s"v$v-$k", v * 100L + k, 0, del)
      }.groupBy(r => (r.getString(0), r.getString(1))).values.map(_.head).toSeq
      val df = spark.createDataFrame(java.util.List.of(rows: _*), schema)
      t.merge(df, Seq("repo", "path"), s"k$v", graft.model.Hlc(v * 100L + 99, 0))
    }
    def dataDirs: Set[String] =
      Files.list(Paths.get(t.root, "data")).iterator().asScala
        .map(p => s"data/${p.getFileName}").toSet
    def referencedDirs: Set[String] =
      t.log.listVersions().flatMap(t.log.tryRead).flatMap { m =>
        (m.buckets.values ++ Option(m.deltas).getOrElse(Map.empty).values.flatten)
          .map(_.split("/").take(2).mkString("/"))
      }.toSet

    // the loop's order per fence: commit, emit, vacuum; a second consumer
    // stops emitting after v2
    val lagging = s"$base/lagging"
    (1 to 8).foreach { v =>
      mergeNext(v)
      t.emitChangelog(cl)
      if (v <= 2) t.emitChangelog(lagging)
      t.vacuum(keepVersions = 2)
      // every retained commit's files are all there
      assert(referencedDirs.subsetOf(dataDirs))
    }
    assert(t.log.listVersions() == Seq(7L, 8L))
    assert(segmentDirs(cl).map(_._1) == (1L to 8L))
    assert(foldSegments(cl) == tableState(t))
    assert(intercept[IllegalArgumentException](t.readAt(6)).getMessage.contains("vacuumed"))
    // v3..v6 are gone: the lagging consumer cannot be continued, and a new
    // one bootstraps from the oldest retained version
    assert(intercept[IllegalStateException](t.emitChangelog(lagging))
      .getMessage.contains("ends at v2"))
    assert(segmentDirs(lagging).map(_._1) == Seq(1L, 2L))
    val fresh = s"$base/fresh"
    assert(t.emitChangelog(fresh) == 2)
    assert(foldSegments(fresh) == tableState(t))

    // a vacuum that crashed after retiring the superseded commit files and
    // before reaping their data: the retained commits read and diff as
    // before, and the leftover directories are orphans the grace rule reaps
    (9 to 10).foreach { v => mergeNext(v); t.emitChangelog(cl) }
    val heldAt10 = t.readAt(10).collect().map(_.toString).sorted.toSeq
    val keep = Seq(9L, 10L)
    t.log.listVersions().filterNot(keep.contains).foreach { v =>
      Files.delete(Paths.get(t.root, "commits", f"$v%020d.json"))
    }
    val leftover = dataDirs -- referencedDirs
    assert(leftover.nonEmpty)
    assert(t.readAt(10).collect().map(_.toString).sorted.toSeq == heldAt10)
    mergeNext(11)
    assert(t.emitChangelog(cl) == 1)
    assert(segmentDirs(cl).map(_._1) == (1L to 11L))
    assert(foldSegments(cl) == tableState(t))
    // inside the grace period the orphans stay; past it they are reaped
    t.vacuum(keepVersions = 2)
    assert(leftover.subsetOf(dataDirs))
    mergeNext(12)
    t.emitChangelog(cl)
    t.vacuum(keepVersions = 2, orphanGraceMillis = 0L)
    assert(dataDirs == referencedDirs)
    assert(foldSegments(cl) == tableState(t))
  }
}
