package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{
  SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart
}

/** Wall clock in milliseconds with sub-millisecond resolution: the epoch
  * offset is fixed once, the increments come from `nanoTime`. Spark's
  * listener events carry epoch milliseconds, so bench spans and job
  * intervals share one time axis.
  */
object Clock {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def nowMs: Double = baseWall + (System.nanoTime() - baseNano) / 1e6
}

/** One recorded interval. `parent` is the id of the enclosing span on the
  * same thread (-1 at top level); the run id is the tracer's.
  */
final case class Span(
    id: Int,
    parent: Int,
    name: String,
    startMs: Double,
    endMs: Double
) {
  def durMs: Double = endMs - startMs
}

/** Outside-in tracer: spans around the benchmark's own calls into the
  * engine's public functions, plus phase spans rebuilt from the timing lines
  * the replay loop prints. Everything stays in memory until [[toJson]].
  * When disabled, [[span]] only runs its body.
  */
final class Tracer(val runId: String) {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = Clock.nowMs
      try body
      finally {
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(-1), name, t0, Clock.nowMs))
      }
    }

  /** Record an interval measured elsewhere (an engine timing line). */
  def record(name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), -1, name, startMs, endMs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def toJson(jobs: Seq[LayerListener.Job]): String = {
    val sb = new StringBuilder
    sb.append(s"""{"run_id":"$runId","spans":[""")
    sb.append(all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }.mkString(",\n"))
    sb.append("],\"jobs\":[")
    sb.append(jobs.map { j =>
      f"""{"id":${j.id},"layer":"${j.layer}","file":"${j.file}","start_ms":${j.startMs}%.3f,"end_ms":${j.endMs}%.3f,"tasks":${j.m.tasks},"cpu_s":${j.m.cpuNs / 1e9}%.4f,"shuffle_write_mb":${j.m.shuffleWrite / 1e6}%.3f,"bytes_written":${j.m.bytesWritten}}"""
    }.mkString(",\n"))
    sb.append("]}")
    sb.toString
  }
}

/** Parses the replay loop's `[graft-loop] batch=N <phase> <ms> ms` lines as
  * they are printed and turns each into a phase span ending at the print.
  * Every line is passed through unchanged.
  */
final class PhaseTee(out: java.io.PrintStream, tracer: Tracer)
    extends java.io.OutputStream {
  private val line = new java.io.ByteArrayOutputStream()
  private val Phase = """\[graft-loop\] batch=(-?\d+) (stage-append|plan|merge)( fence=(\S+))? (\d+) ms""".r

  override def write(b: Int): Unit = synchronized {
    if (b == '\n') flushLine() else line.write(b)
  }

  private def flushLine(): Unit = {
    val s = line.toString("UTF-8")
    line.reset()
    out.println(s)
    if (tracer.enabled) s match {
      case Phase(_, phase, _, fence, ms) =>
        val end = Clock.nowMs
        val name = if (fence == null) phase else s"$phase fence=$fence"
        tracer.record(s"phase.$name", end - ms.toLong, end)
      case _ =>
    }
  }
}

/** Task totals, as in the frozen benchmark's TaskAgg, widened with spill,
  * output and input counters.
  */
final class TaskTotals {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    bytesWritten += m.outputMetrics.bytesWritten
    recordsWritten += m.outputMetrics.recordsWritten
  }

  def plus(o: TaskTotals): TaskTotals = {
    val r = new TaskTotals
    r.tasks = tasks + o.tasks; r.cpuNs = cpuNs + o.cpuNs
    r.gcMs = gcMs + o.gcMs
    r.shuffleWrite = shuffleWrite + o.shuffleWrite; r.spill = spill + o.spill
    r.bytesWritten = bytesWritten + o.bytesWritten
    r.recordsWritten = recordsWritten + o.recordsWritten
    r
  }
}

object TaskTotals {
  def sum(xs: Iterable[TaskTotals]): TaskTotals = xs.foldLeft(new TaskTotals)(_ plus _)
}

/** Spark listener that attributes every job to the engine source file in
  * its call site (`collect at SnapshotTable.scala:587` → `table`) and sums
  * task metrics per job. Write jobs also get their file counts from the SQL
  * write metrics. Counting starts and stops with `enabled`.
  */
final class LayerListener extends SparkListener {
  import LayerListener._
  @volatile var enabled = false
  private val jobs = TrieMap.empty[Int, Job]
  private val stageToJob = TrieMap.empty[Int, Int]
  private val execFile = TrieMap.empty[Long, String]
  private val fileAccums = TrieMap.empty[Long, Long] // accum id -> execution id
  private val filesByExec = TrieMap.empty[Long, Long]

  private val execLayer = TrieMap.empty[Long, String]

  override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
    val last = js.stageInfos.maxByOption(_.stageId)
    val file = last.map(s => fileOf(s.name)).getOrElse("?")
    val exec = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val layer = exec.flatMap(execLayer.get).getOrElse(layerOf(file))
    jobs.put(js.jobId, Job(js.jobId, js.time.toDouble, Double.NaN, file, layer))
    js.stageInfos.foreach(s => stageToJob.put(s.stageId, js.jobId))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobs.get(je.jobId).foreach(_.endMs = je.time.toDouble)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (enabled && te.taskMetrics != null)
      stageToJob.get(te.stageId).flatMap(jobs.get).foreach(_.m.add(te.taskMetrics))

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: SparkListenerSQLExecutionStart =>
      execFile.put(s.executionId, fileOf(s.description))
      planLayer(s.physicalPlanDescription).foreach(execLayer.put(s.executionId, _))
      watchFiles(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      watchFiles(u.executionId, u.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates =>
      u.accumUpdates.foreach { case (id, v) =>
        fileAccums.get(id).foreach(ex => filesByExec.put(ex, filesByExec.getOrElse(ex, 0L) + v))
      }
    case _ =>
  }

  /** Adaptive execution re-plans with fresh metric accumulators, so every
    * plan version of an execution is scanned for its written-files metric.
    */
  private def watchFiles(exec: Long, plan: SparkPlanInfo): Unit = {
    plan.metrics.filter(_.name == "number of written files")
      .foreach(m => fileAccums.put(m.accumulatorId, exec))
    plan.children.foreach(watchFiles(exec, _))
  }

  def allJobs: Seq[Job] = jobs.values.toSeq.filter(!_.endMs.isNaN).sortBy(_.startMs)

  /** Files written by SQL executions attributed to `layer`. */
  def filesWritten(layer: String): Long =
    filesByExec.collect {
      case (ex, n) if execLayer.get(ex).orElse(execFile.get(ex).map(layerOf)).contains(layer) => n
    }.sum
}

object LayerListener {
  final case class Job(id: Int, startMs: Double, var endMs: Double, file: String, layer: String) {
    val m = new TaskTotals
  }

  /** Layer of an SQL execution from the paths in its physical plan. Jobs a
    * streaming query runs all carry the query's start call site, so the
    * plan is what tells a staging write from a table write: a write goes
    * to the layer owning its output directory; anything else reading the
    * staging or table tree runs inside a merge; a scan of the feed alone is
    * the loop's resolved scan or batch identity.
    */
  def planLayer(plan: String): Option[String] = {
    if (plan == null) return None
    // the formatted plan lists node details after the tree; the write
    // node's "Arguments:" line starts with its output path
    val ins = plan.lastIndexOf("InsertIntoHadoopFsRelationCommand")
    if (ins >= 0) {
      val args = plan.indexOf("Arguments:", ins)
      val out = if (args < 0) "" else plan.substring(args, plan.indexOf(',', args) max args)
      if (out.contains("/stage/")) Some("stage")
      else if (out.contains("/table/")) Some("table")
      else None
    } else if (plan.contains("/stage/") || plan.contains("/table/")) Some("table")
    else if (plan.contains("/feed")) Some("loop")
    else None
  }

  private val Site = """.* at ([A-Za-z0-9_$]+\.scala):\d+.*""".r
  def fileOf(callSite: String): String = callSite match {
    case null => "?"
    case Site(f) => f
    case _ => "?"
  }

  /** Engine source file → layer (the engine's module names). */
  def layerOf(file: String): String = file match {
    case "Changefeed.scala" | "Envelopes.scala" | "Generator.scala" => "feed"
    case "StagedStore.scala" => "stage"
    case "ApplyPlanner.scala" | "Routing.scala" => "applyops"
    case "SnapshotTable.scala" | "CommitLog.scala" | "SchemaEvolution.scala" => "table"
    case "ReplayLoop.scala" | "MultiTableLoop.scala" | "FkLevels.scala" => "loop"
    case f if f.startsWith("Main") || f.startsWith("Workloads") => "bench"
    case _ => "other"
  }
}

/** Heap figures of a run. [[peakMb]]: the highest heap in use after a
  * garbage collection that ran inside a timed call (`during`), summed over
  * the heap pools, from the collectors' GC notifications; it sees what a
  * merge holds while it runs, but which collections land inside a merge
  * varies from run to run. [[retainedMb]]: heap in use after one full
  * collection once the timed work is over, the state the engine keeps.
  * Neither forces a collection inside or between timed calls.
  */
final class HeapMeter {
  import java.lang.management.{ManagementFactory, MemoryType}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val runtime = ManagementFactory.getRuntimeMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // (end of collection in ms of JVM uptime, heap used after it)
  private val collections = new ConcurrentLinkedQueue[(Long, Long)]()
  private val timed = new ConcurrentLinkedQueue[(Long, Long)]()

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        collections.add((gc.getEndTime, used))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def during[T](body: => T): T = {
    val t0 = runtime.getUptime
    try body
    finally timed.add((t0, runtime.getUptime))
  }

  /** Collections that ended inside a timed call; read once the run is over,
    * when every notification has been delivered.
    */
  def inTimed: Seq[Long] = {
    val ivs = timed.asScala.toSeq
    collections.asScala.toSeq.collect {
      case (end, used) if ivs.exists { case (a, b) => end >= a && end <= b } => used
    }
  }
  def peakMb: Double = inTimed.maxOption.getOrElse(0L) / 1e6

  def retainedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
