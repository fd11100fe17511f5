package graft

import java.nio.file.{Files, Paths}
import graft.model.Hlc
import graft.stage.StagedStore

/** Staging-store metadata bounds: the compacted field-set file and batch
  * marker retirement. A long-running loop appends once per micro-batch for
  * days — the driver-side metadata cost per merge must stay O(1), not
  * O(batches-ever-staged).
  */
class StagedStoreSpec extends SparkSpec {
  import spark.implicits._

  test("observedFields is one compacted file; retire prunes old batch markers") {
    val root = tmpDir("stagec")
    val st = new StagedStore(spark, root, bucketNanos = 100L)

    (1 to 30).foreach { b =>
      val muts = Seq((s"[$b]", s"""{"pk":$b,"f$b":1}""", b * 10L, 0, "f"))
        .toDF("key", "data", "nanos", "logical", "src_file")
      st.append(muts, batchId = b.toLong, validatePk = Some((1, Seq("pk"))))
    }

    // the field universe is the union over every batch ever staged...
    val expected = Set("pk") ++ (1 to 30).map(i => s"f$i")
    assert(st.observedFields() == expected)
    // ...served from ONE compacted file, not a per-marker scan
    assert(Files.exists(Paths.get(root, "_fields")))

    // retirement prunes markers beyond the keep-tail; the field universe
    // must survive losing them (it lives in _fields, not the markers)
    st.retire(Hlc(10000L, 0), markerKeep = 8)
    val markers = java.nio.file.Files
      .list(Paths.get(root, "_batch_markers"))
    val names =
      try {
        import scala.jdk.CollectionConverters._
        markers.iterator().asScala.map(_.getFileName.toString.toLong).toSeq
      } finally markers.close()
    assert(names.size == 8, s"expected 8 retained markers, got ${names.size}")
    assert(names.sorted == (23L to 30L), "the NEWEST markers must be kept")
    assert(st.observedFields() == expected)

    // append idempotence still holds for a retained marker's batch id
    val replay = Seq(("[30]", """{"pk":30,"f30":1}""", 300L, 0, "f"))
      .toDF("key", "data", "nanos", "logical", "src_file")
    assert(!st.append(replay, batchId = 30L))
  }

  test("legacy per-marker field sets survive when the first post-upgrade call is an append") {
    // pre-compaction stores kept the field universe in per-batch markers;
    // the loop's first post-upgrade action is stage.append (NOT
    // observedFields), so the fold into _fields must happen on the first
    // recordFields write or staged-but-unmerged legacy batches lose their
    // fields and schema evolution silently drops their columns
    val root = tmpDir("stageleg")
    val markers = Paths.get(root, "_batch_markers")
    Files.createDirectories(markers)
    Files.writeString(
      markers.resolve("7"),
      """{"fields":["pk","legacy_col"]}"""
    )

    val st = new StagedStore(spark, root, bucketNanos = 100L)
    val muts = Seq(("[1]", """{"pk":1,"new_col":2}""", 10L, 0, "f"))
      .toDF("key", "data", "nanos", "logical", "src_file")
    st.append(muts, batchId = 100L, validatePk = Some((1, Seq("pk"))))

    assert(
      st.observedFields() == Set("pk", "legacy_col", "new_col"),
      "legacy marker fields must fold into _fields on the first write"
    )
  }

  test("a drift-rejected append stages nothing, so retries never pile up copies") {
    val st = new StagedStore(spark, tmpDir("stagedrift"), bucketNanos = 100L)
    // key arity 1 against a 2-column PK
    val bad = Seq(("[1]", """{"a":1,"b":2}""", 10L, 0, "f"))
      .toDF("key", "data", "nanos", "logical", "src_file")
    (1 to 2).foreach { _ =>
      intercept[graft.model.SchemaDriftException] {
        st.append(bad, batchId = 1L, validatePk = Some((2, Seq("a", "b"))))
      }
    }
    assert(st.readAll().count() == 0)
    assert(st.currentSeq() == 0L)
    assert(st.observedFields().isEmpty)
  }
}
