package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Shared local SparkSession + temp-dir helpers for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Spark jobs started by `f`, and the physical plans it executed. */
  def jobShape(f: => Unit): (Int, Seq[String]) = {
    import org.apache.spark.GraftListenerBusAccess.waitUntilEmpty
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
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
    waitUntilEmpty(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      f
      waitUntilEmpty(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    import scala.jdk.CollectionConverters._
    (jobs.get, plans.asScala.toSeq)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
