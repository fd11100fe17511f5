package graft.loop

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.applyops.TableSpec
import graft.feed.Envelopes
import graft.model.Hlc
import graft.stage.StagedStore
import graft.table.SnapshotTable

/** One table's wiring inside either loop: its declared spec, its snapshot
  * table and its staging store.
  */
final case class TableTarget(
    spec: TableSpec,
    table: SnapshotTable,
    stage: StagedStore
) {

  /** The spec to plan with: the declared config, with the payload columns
    * the table's committed schema has evolved to (less the extras column),
    * so a column added by an earlier fence is known to every later one.
    */
  def currentSpec: TableSpec = table.payloadSchema() match {
    case Some(s) =>
      spec.copy(payloadSchema =
        StructType(s.fields.filterNot(f => spec.config.extras.contains(f.name))))
    case None => spec
  }
}

/** Multi-table webhook loop: one streaming query consuming webhook-envelope
  * bodies whose payload elements are routed by `topic` to different target
  * tables, applied in FK-dependency order.
  *
  * Mirrors the reference's fan-out path: webhook bodies stage all tables in
  * one transaction (reference: internal/source/cdc/webhook.go:117-164), the
  * resolver drains tables level-by-level per `SchemaData.Order`
  * (resolver.go:375-386). Here one `foreachBatch` is the transaction; FK
  * levels apply in order, and the tables within a level concurrently.
  * Staging ([[StagedStore.appendTopics]]) and each table's apply step
  * ([[Applier]]) are the ones [[ReplayLoop]] uses.
  *
  * Each table keeps its own staging store and snapshot table; the fence is
  * global (webhook resolved markers cover every topic, like the reference's
  * per-schema resolved timestamps).
  */
final class MultiTableLoop(
    spark: SparkSession,
    val feedDir: String,
    val targets: Map[String, TableTarget],
    val dependsOn: Map[String, Set[String]],
    val checkpointDir: String,
    val saltBuckets: Int = 32,
    val maxFilesPerTrigger: Int = 8,
    /** Immediate (fan) mode: apply every micro-batch directly, per topic in
      * FK order, without staging or fence gating — the reference's fan path
      * (internal/source/logical/loop.go:452-486, fan_events.go:28-124).
      * Resolved markers are still RECORDED on the commits they ride with,
      * so the ledger shows source progress (resolver.go:291-309). Without
      * this flag, a feed that never emits resolved markers accumulates in
      * staging forever — immediate mode is the right setting for feeds
      * without transaction boundaries.
      */
    val immediate: Boolean = false,
    /** Immediate mode's per-topic slicing strategy switches at this many
      * targets: below it, each topic's merge re-filters the batch's raw
      * text (T cheap re-scans — measured faster than any materialization
      * at small T); at or above it, ONE job splits the parsed batch into
      * per-topic parquet partitions (as staging splits the staged path's
      * batch in one job) and each merge does a partition-pruned read, so a
      * many-table fan (the reference runs dozens of tables across 16
      * shards, fan_workers.go:136-194) parses the batch once, not T times.
      */
    val immediateSplitThreshold: Int = 4,
    /** expire snapshot versions older than this many after each per-table
      * merge (None = never) — same storage bound as ReplayLoop: every fence
      * commits a new version per table (untouched tables get metadata-only
      * commits), so an unvacuumed fan loop grows data-version directories
      * and commit files without bound at streaming cadence
      */
    val vacuumKeepVersions: Option[Int] = Some(4),
    /** byte budget per micro-batch, converted to a file cap against the
      * observed mean feed-file size (see ReplayLoop.effectiveMaxFiles)
      */
    val maxBytesPerTrigger: Option[Long] = None,
    /** Envelope codec: raw lines `(value, src_file)` → the unified feed
      * schema PLUS a `topic` routing column (null topic on resolved
      * markers = global marker). Defaults to the plain webhook envelope;
      * pass `Envelopes.parseWebhookQueryTopicLines(_, pkColsByTopic)` for
      * webhook CDC-query feeds laid out under `topic=<name>` path
      * segments — the fan machinery (multi-topic staging, FK-ordered
      * merges, fencing) is envelope-agnostic, mirroring the reference's
      * per-URL handler dispatch (internal/source/cdc/handler.go).
      */
    val parse: DataFrame => DataFrame = Envelopes.parseWebhookLines(_),
    /** Opt-in CDC-out, the fan analog of [[ReplayLoop]]'s `changelogDir`:
      * after each topic's merge, publish its changelog segments under
      * `<changelogDir>/<topic>` via [[graft.table.SnapshotTable.emitChangelog]].
      * Idempotent + self-healing per topic (every merge emits whatever
      * committed versions are still missing from the topic's directory).
      */
    val changelogDir: Option[String] = None
) {
  private val levelOrder: Seq[Seq[String]] =
    FkLevels.levels(targets.keys.toSeq.sorted, dependsOn)

  def committedFence: Hlc =
    targets.values.map(t => ReplayLoop.fenceOf(t.table)).minOption.getOrElse(Hlc.Zero)

  /** Topics that still hold staged data in partitions beyond their committed
    * fence — the startup-discovery analog of the reference's pending-schema
    * scan (reference: internal/source/cdc/resolver.go:647-676). Metadata
    * only: staging directory listing vs the commit-log fence.
    */
  def pendingTopics(): Seq[String] =
    targets.toSeq
      .filter { case (_, t) =>
        t.stage
          .maxStagedBucket()
          .exists(_ > t.stage.bucketOfNanos(ReplayLoop.fenceOf(t.table).nanos))
      }
      .map(_._1)
      .sorted

  private def applier(topic: String): Applier =
    new Applier(spark, targets(topic), saltBuckets,
      changelogDir.map(d => s"$d/$topic"), vacuumKeepVersions)

  def processBatch(linesRaw: DataFrame, batchId: Long): Unit = {
    val b = BatchPrelude(linesRaw, batchId, parse)

    if (immediate) {
      applyImmediate(b, batchId)
      return
    }

    // stage EVERY table's slice in one Spark job (idempotent per batch)
    val staged = StagedStore.appendTopics(
      b.mutations.select("topic", "key", "data", "nanos", "logical", "src_file"),
      b.stageKey,
      stores = targets.map { case (topic, t) => topic -> t.stage },
      // PK-less topics synthesize a rowid at plan time — no key-arity /
      // PK-presence validation while staging
      validatePk = targets.collect {
        case (topic, t) if t.spec.pkCols.nonEmpty =>
          topic -> ((t.spec.pkCols.size,
            t.spec.pkCols.map(c => t.spec.config.sourceNames.getOrElse(c, c))))
      }
    )

    b.resolved.foreach { target =>
      inFkOrder { topic =>
        applier(topic).applyFence(target, batchId, Seq(s"batch=$batchId", s"topic=$topic"),
          staged(topic))
      }
    }
  }

  /** Run `apply` for every topic, parents before children, level by level;
    * tables WITHIN a level are independent, so they apply concurrently
    * (each is its own Spark job chain — the scheduler interleaves them,
    * which keeps the cluster busy when a level has many small tables, the
    * reference's fan-shards analog, fan_workers.go:136-194).
    */
  private def inFkOrder(apply: String => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    levelOrder.foreach { level =>
      val applies = level.map(topic => Future(apply(topic)))
      // barrier between levels: children must see committed parents
      applies.foreach(f => Await.result(f, Duration.Inf))
    }
  }

  /** Immediate (fan) application of one micro-batch: per-topic slices are
    * applied directly, parents-before-children, with NO staging and NO
    * fence gate (see [[Applier.applyImmediate]]). Per-topic slicing is
    * re-scan below [[immediateSplitThreshold]] targets and a one-pass
    * partitioned split at or above it (see the knob's doc).
    */
  private def applyImmediate(b: BatchPrelude, batchId: Long): Unit = {
    val sliceCols = Seq("key", "data", "nanos", "logical", "src_file")
    val splitDir: Option[String] =
      if (targets.size < immediateSplitThreshold) None
      else {
        val dir = s"$checkpointDir/imm-split-${b.stageKey}"
        // ONE job parses the whole batch and writes per-topic partitions
        // (idempotent: overwrite — a redelivered batch rewrites the same
        // scratch); every subsequent per-topic read prunes to its own
        // partition instead of re-parsing the batch
        b.mutations
          .select((Seq("topic") ++ sliceCols).map(col): _*)
          .write
          .mode("overwrite")
          .partitionBy("topic")
          .parquet(dir)
        Some(dir)
      }
    def slice(topic: String): DataFrame = splitDir match {
      case None =>
        b.mutations.filter(col("topic") === topic).select(sliceCols.map(col): _*)
      case Some(dir) =>
        // explicit schema: an all-marker batch writes no partitions, and
        // schemaless parquet reads of an empty scratch cannot infer
        spark.read
          .schema("key STRING, data STRING, nanos BIGINT, logical INT, src_file STRING, topic STRING")
          .parquet(dir)
          .filter(col("topic") === topic)
          .select(sliceCols.map(col): _*)
    }
    inFkOrder { topic =>
      applier(topic).applyImmediate(slice(topic), b, batchId,
        Seq(s"batch=$batchId", s"topic=$topic", "mode=immediate"))
    }
    // reclaim the split scratch once every topic has merged
    splitDir.foreach(d => graft.util.Dirs.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  def start(trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    spark.readStream
      .option(
        "maxFilesPerTrigger",
        ReplayLoop.effectiveMaxFiles(feedDir, maxFilesPerTrigger, maxBytesPerTrigger))
      .text(feedDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .start()

  def runAvailableNow(): Unit = {
    val q = start(Trigger.AvailableNow())
    q.awaitTermination()
  }
}
