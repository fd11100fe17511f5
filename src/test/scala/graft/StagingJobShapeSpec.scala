package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.feed.Changefeed
import graft.loop.{BatchPrelude, ReplayLoop}
import graft.model.Hlc
import graft.stage.StagedStore

/** Job shape of a batch before and while it is staged: the prelude (file
  * set, identity key, newest resolved marker) is one Spark job, and so is
  * one append, with no shuffle, for one table or many — the drift summary
  * and the file set ride those jobs as Observations instead of running
  * their own passes.
  */
class StagingJobShapeSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int) = (0 until n).map(i => (s"[$i]", s"""{"pk":$i,"v":"x$i"}""", i * 10L, 0, "f"))

  test("a single-table append is one Spark job with no Exchange") {
    val st = new StagedStore(spark, tmpDir("shape1"), bucketNanos = 100L)
    val muts = rows(200).toDF("key", "data", "nanos", "logical", "src_file").repartition(4)
      .localCheckpoint()
    val (jobs, plans) = jobShape {
      assert(st.append(muts, batchId = 1L, validatePk = Some((1, Seq("pk")))))
    }
    assert(jobs == 1, s"jobs=$jobs")
    assert(plans.nonEmpty && plans.forall(!_.contains("Exchange")), plans.mkString("\n"))
    assert(st.readAll().count() == 200)
  }

  test("a two-topic staging call is one Spark job with no Exchange") {
    val base = tmpDir("shape2")
    val stores = Map(
      "a" -> new StagedStore(spark, s"$base/a", bucketNanos = 100L),
      "b" -> new StagedStore(spark, s"$base/b", bucketNanos = 1000L))
    val muts = rows(200)
      .map { case (k, d, n, l, f) => (if (n % 20 == 0) "a" else "b", k, d, n, l, f) }
      .toDF("topic", "key", "data", "nanos", "logical", "src_file").repartition(4)
      .localCheckpoint()
    val (jobs, plans) = jobShape {
      assert(StagedStore.appendTopics(muts, 1L, stores,
        Map("a" -> ((1, Seq("pk"))), "b" -> ((1, Seq("pk"))))) == Set("a", "b"))
    }
    assert(jobs == 1, s"jobs=$jobs")
    assert(plans.nonEmpty && plans.forall(!_.contains("Exchange")), plans.mkString("\n"))
    assert(stores("a").readAll().count() == 100 && stores("b").readAll().count() == 100)
  }

  test("the batch prelude over text files is one Spark job with no Exchange") {
    val dir = tmpDir("shape-prelude")
    def mut(i: Int, nanos: Long) =
      s"""{"after":{"pk":$i},"key":[$i],"updated":"$nanos.0000000000"}"""
    Files.writeString(Paths.get(dir, "a.ndjson"),
      ((0 until 50).map(i => mut(i, 100L + i)) :+ """{"resolved":"150.0000000003"}""").mkString("\n"))
    Files.writeString(Paths.get(dir, "b.ndjson"),
      ((50 until 90).map(i => mut(i, 100L + i)) :+ """{"resolved":"150.0000000001"}""").mkString("\n"))
    Files.writeString(Paths.get(dir, "c.ndjson"), (90 until 99).map(i => mut(i, 300L + i)).mkString("\n"))
    val lines = spark.read.text(dir)
    val expectedFiles =
      lines.select(input_file_name()).distinct().as[String].collect().sorted.toSeq
    val (jobs, plans) = jobShape {
      val b = BatchPrelude(lines, batchId = 7L, Changefeed.parseLines(_))
      assert(b.files == expectedFiles && b.files.size == 3)
      assert(b.stageKey == ReplayLoop.batchKeyOf(expectedFiles))
      assert(b.resolved.contains(Hlc(150L, 3)))
    }
    assert(jobs == 1, s"jobs=$jobs")
    assert(plans.nonEmpty && plans.forall(!_.contains("Exchange")), plans.mkString("\n"))

    // no file provenance and no rows: the engine batch id keys the batch
    val empty = BatchPrelude(spark.emptyDataFrame.select(lit("").as("value")), 9L,
      Changefeed.parseLines(_))
    assert(empty.files.isEmpty && empty.stageKey == 9L && empty.resolved.isEmpty)
  }
}
