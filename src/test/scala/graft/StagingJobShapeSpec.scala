package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.stage.StagedStore

/** Job shape of staging: one Spark job per append, with no shuffle, for one
  * table or many — the drift summary rides the write as an Observation
  * instead of running its own pass.
  */
class StagingJobShapeSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs started by `f`, and the physical plans it executed. */
  private def shape(f: => Unit): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan.toString)
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      f
      ListenerBusAccess.drain(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    import scala.jdk.CollectionConverters._
    (jobs.get, plans.asScala.toSeq)
  }

  private def rows(n: Int) = (0 until n).map(i => (s"[$i]", s"""{"pk":$i,"v":"x$i"}""", i * 10L, 0, "f"))

  test("a single-table append is one Spark job with no Exchange") {
    val st = new StagedStore(spark, tmpDir("shape1"), bucketNanos = 100L)
    val muts = rows(200).toDF("key", "data", "nanos", "logical", "src_file").repartition(4)
      .localCheckpoint()
    val (jobs, plans) = shape {
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
    val (jobs, plans) = shape {
      assert(StagedStore.appendTopics(muts, 1L, stores,
        Map("a" -> ((1, Seq("pk"))), "b" -> ((1, Seq("pk"))))))
    }
    assert(jobs == 1, s"jobs=$jobs")
    assert(plans.nonEmpty && plans.forall(!_.contains("Exchange")), plans.mkString("\n"))
    assert(stores("a").readAll().count() == 100 && stores("b").readAll().count() == 100)
  }
}
