package graft.stage

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.applyops.DriftSummary
import graft.model.Hlc
import graft.util.Dirs.{deleteRecursively, listDir}

/** Durable staging buffer for mutations awaiting their resolved fence.
  *
  * Mirrors the reference's per-table staging tables
  * (reference: internal/staging/stage/stage.go:49-53, 90-97): an append-only
  * parquet dataset keyed `(nanos, logical, key)`, partitioned by an HLC time
  * bucket so that
  *   - fence-window reads prune partitions (the analog of the
  *     `(nanos, logical) BETWEEN prev AND next` index scan, stage.go:171-195),
  *   - retirement of applied mutations is a metadata-only partition drop
  *     (the analog of the windowed DELETE loop, stage.go:390-436).
  *
  * Idempotence: appends may be replayed (micro-batch retry) and the feed
  * itself may deliver duplicates (types.go:150-151); duplicate deliveries
  * are byte-identical by protocol, so any survivor is correct — the merge's
  * per-key max_by keeps one, and [[readAll]] deduplicates on
  * `(nanos, logical, key)`.
  */
final class StagedStore(
    spark: SparkSession,
    val root: String,
    /** HLC nanos per staging partition bucket */
    val bucketNanos: Long = 3600L * 1000000000L
) {
  import StagedStore._

  private val dataDir = s"$root/data"
  private val markerDir = Paths.get(root, "_batch_markers")
  private val seqFile = Paths.get(root, "_seq")
  private val fieldsFile = Paths.get(root, "_fields")
  Files.createDirectories(markerDir)
  Files.createDirectories(Paths.get(dataDir))

  private def bucketOf(nanos: Long): Long = Math.floorDiv(nanos, bucketNanos)

  private def marker(batchId: Long) = markerDir.resolve(s"$batchId")

  /** Monotone append counter, persisted across restarts. Every successful
    * (non-replayed) [[append]] stamps its rows with the next value; the
    * replay loop records the counter at merge time so later merges can
    * separate "staged after my last merge" (late, must apply) from "already
    * merged" rows without re-reading either. Unlike Spark batch ids, this
    * never resets when a checkpoint is wiped.
    */
  def currentSeq(): Long =
    if (Files.exists(seqFile)) Files.readString(seqFile).trim.toLong else 0L

  /** Append a batch of parsed mutations
    * `(key, data, nanos, logical, src_file)` — the one-table call of
    * [[StagedStore.appendTopics]]. `batchId` makes replays cheap no-ops (a
    * marker is written after a successful append). Returns whether rows
    * were staged: false for such a replay and for a batch without
    * mutations.
    *
    * `validatePk = Some((arity, payloadPkNames))` checks key arity and PK
    * presence; a PK-less spec (synthetic rowid) passes None and only has
    * its field set recorded.
    */
  def append(
      mutations: DataFrame,
      batchId: Long,
      validatePk: Option[(Int, Seq[String])] = None
  ): Boolean = {
    val one = DriftSummary.OneTable
    stageTopics(mutations, lit(one), batchId, Map(one -> this), validatePk.map(one -> _).toMap)
      .nonEmpty
  }

  /** Fold `fields` into the compacted field-set file (read-union-write,
    * atomic rename; single writer per store). Keeps [[observedFields]] an
    * O(1) file read no matter how many batches have ever been staged.
    */
  private def readFieldsFile(): Set[String] = {
    if (!Files.exists(fieldsFile)) return Set.empty
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = mapper.readTree(Files.readString(fieldsFile)).get("fields")
    if (f == null) Set.empty
    else f.elements().asScala.map(_.asText()).toSet
  }

  /** Field sets recorded per-marker by the pre-compaction format. Folded in
    * whenever the compacted file is first created so staged-but-unmerged
    * pre-upgrade batches keep their field universe — the fold must run on
    * the first WRITE, not only on the first read: the loop's own first
    * append calls [[recordFields]] before any [[observedFields]] call, and
    * creating `_fields` from the new batch alone would orphan the legacy
    * sets forever.
    */
  private def legacyMarkerFields(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    listDir(markerDir)
      .flatMap { p =>
        val f = mapper.readTree(Files.readString(p)).get("fields")
        if (f == null) Nil else f.elements().asScala.map(_.asText()).toList
      }
      .toSet
  }

  private def recordFields(fields: Seq[String]): Unit = {
    val legacy =
      if (!Files.exists(fieldsFile)) legacyMarkerFields() else Set.empty[String]
    val merged = (readFieldsFile() ++ legacy ++ fields).toSeq.sorted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    val arr = node.putArray("fields")
    merged.foreach(arr.add)
    val tmp = Paths.get(root, s"._fields-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, mapper.writeValueAsString(node))
    Files.move(
      tmp,
      fieldsFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING
    )
  }

  /** Union of every payload field set ever staged (monotone — schemas only
    * grow). ONE compacted-file read, independent of batch count: the
    * per-batch markers exist only for append idempotence and are retired by
    * [[retire]], so the field universe cannot live in them.
    */
  def observedFields(): Set[String] = {
    if (!Files.exists(fieldsFile)) {
      // read-side half of the migration (see [[legacyMarkerFields]])
      val legacy = legacyMarkerFields()
      if (legacy.nonEmpty) recordFields(Nil)
      return legacy
    }
    readFieldsFile()
  }

  private def schema: StructType = StructType(
    Seq(
      StructField("key", StringType),
      StructField("data", StringType),
      StructField("nanos", LongType),
      StructField("logical", IntegerType),
      StructField("src_file", StringType),
      StructField(SEQ, LongType)
    )
  )

  private def readRaw(): DataFrame =
    spark.read
      .schema(schema.add(TS_BUCKET, LongType))
      .parquet(dataDir)
      // files written before the seq column existed read as null -> 0
      .withColumn(SEQ, coalesce(col(SEQ), lit(0L)))

  /** All currently staged mutations (deduplicated). */
  def readAll(): DataFrame =
    readRaw().dropDuplicates("nanos", "logical", "key")

  /** Staged mutations with `from < ts <= to` (HLC order), NOT
    * deduplicated: duplicate deliveries are byte-identical by protocol, and
    * the snapshot merge's per-key max_by keeps exactly one of any exact-tie
    * group, so the merge path needs no dedup shuffle. The `ts_bucket` range
    * predicate prunes partitions; the `nanos` range is pushed to the
    * parquet scan; the exact HLC tuple bounds are applied post-scan.
    *
    * @param stagedAfterSeq when set, rows staged with `stage_seq >` this
    *   value are included even when their ts is at/below `from` — the
    *   late-delivery branch: a transport-reordered mutation below the
    *   committed fence still applies exactly once (it was never merged),
    *   while rows already merged by earlier fences (ts <= from AND staged
    *   before the last merge) stop being re-read and re-written every fence.
    */
  def selectWindowRaw(
      from: Hlc,
      to: Hlc,
      stagedAfterSeq: Option[Long] = None
  ): DataFrame = {
    val ts = struct(col("nanos"), col("logical"))
    val lo = struct(lit(from.nanos), lit(from.logical))
    val hi = struct(lit(to.nanos), lit(to.logical))
    val inWindow = ts > lo
    val cond = stagedAfterSeq match {
      case None =>
        // pure window read: lower-bound partition pruning applies
        col(TS_BUCKET).between(bucketOf(from.nanos), bucketOf(to.nanos)) &&
          col("nanos").between(from.nanos, to.nanos) && inWindow
      case Some(seq) =>
        // late rows live in ts buckets below `from`; retirement keeps the
        // on-disk set bounded, so only the UPPER bound prunes here
        col(TS_BUCKET) <= bucketOf(to.nanos) &&
          col("nanos") <= to.nanos &&
          (inWindow || col(SEQ) > seq)
    }
    readRaw().filter(cond && ts <= hi)
  }

  /** Highest staging partition bucket currently on disk (directory listing
    * only — no data read). None when nothing is staged.
    */
  def maxStagedBucket(): Option[Long] = {
    listDir(Paths.get(dataDir))
      .map(_.getFileName.toString)
      .filter(_.startsWith(s"$TS_BUCKET="))
      .map(_.stripPrefix(s"$TS_BUCKET=").toLong)
      .maxOption
  }

  def bucketOfNanos(nanos: Long): Long = bucketOf(nanos)

  /** Drop whole staging partitions whose every mutation is at or below the
    * committed fence, and prune old batch markers. Metadata-only (directory
    * removal); partial buckets are kept — their applied rows are screened
    * out by the fence on read. Returns the number of partitions dropped.
    *
    * Marker retirement: markers exist only so an append replayed by the
    * streaming engine is a cheap no-op, and the engine only ever replays
    * the most recent uncommitted batch — so the newest `markerKeep` markers
    * are ample. A re-append past that horizon (wiped checkpoint) is still
    * absorbed by the read-side `(nanos, logical, key)` dedup / merge
    * max_by; without pruning, a day at 1 batch/s leaves ~86k files that
    * every directory listing pays for.
    */
  def retire(upTo: Hlc, markerKeep: Int = 64): Int = {
    val fenceBucket = bucketOf(upTo.nanos) // drop buckets strictly below
    var dropped = 0
    listDir(Paths.get(dataDir)).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith(s"$TS_BUCKET=")) {
        val b = name.stripPrefix(s"$TS_BUCKET=").toLong
        if (b < fenceBucket) {
          deleteRecursively(p)
          dropped += 1
        }
      }
    }
    // marker names are batch-identity hashes (not sequential); recency
    // comes from the store seq embedded in the marker CONTENT (exact and
    // monotone — file mtime alone mis-orders markers written within one
    // coarse-granularity mtime tick). Legacy seq-less markers sort oldest,
    // then by (mtime, name) for determinism.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def markerSeq(p: java.nio.file.Path): Long =
      try {
        val n = mapper.readTree(Files.readString(p)).get("seq")
        if (n == null) Long.MinValue else n.asLong(Long.MinValue)
      } catch { case _: Exception => Long.MinValue }
    val markers = listDir(markerDir)
      .map(p =>
        (markerSeq(p), Files.getLastModifiedTime(p).toMillis, p.getFileName.toString, p)
      )
      .sortBy { case (s, t, n, _) => (s, t, n) }
    markers.dropRight(markerKeep).foreach { case (_, _, _, p) => Files.deleteIfExists(p) }
    dropped
  }
}

object StagedStore {
  val TS_BUCKET = "ts_bucket"
  val SEQ = "stage_seq"

  /** Routing column of [[appendTopics]]' input. */
  private val TOPIC = "topic"

  /** Spill partition column naming a batch's target store by its index. */
  private val STORE = "__store"

  /** The ONE staging append, for one table or many: stage every pending
    * store's slice of `mutations` `(topic, key, data, nanos, logical,
    * src_file)` in a single Spark job with no shuffle, then validate,
    * adopt and mark. In order:
    *   1. write the batch into a private scratch dir under the first
    *      store's root, partitioned by ts bucket (under a store-index
    *      level when there are several stores);
    *   2. the drift summary ([[graft.applyops.DriftSummary]]) rides that
    *      same write as an Observation — no second pass over the data;
    *   3. validate: a wrong key arity or missing PK throws, and the
    *      scratch (the batch's ONLY copy) is dropped — a rejected batch
    *      never reaches staging, so retries never pile up copies;
    *   4. ADOPT each store's part files into its partition layout with
    *      driver-side renames;
    *   5. bump each store's seq, fold its field set into `_fields`, write
    *      its batch marker.
    *
    * A private scratch tree per append is what makes concurrent appenders
    * safe: two jobs writing `mode("append")` into one directory share the
    * Hadoop committer's `_temporary` tree, and the first job's cleanup
    * deletes the second's in-flight task files (TASK_WRITE_FAILED — the
    * write-side face of an HA restart overlap, two drivers on one staging
    * store). Part names carry the job UUID, so two appenders adopt into
    * one bucket dir without collisions; a concurrent retire may drop the
    * target dir between create and move — retried, recreating the dir
    * (the row is then re-merged from this fresh file or already covered by
    * the competitor's fence).
    *
    * Idempotence: stores already holding this `batchId`'s marker are
    * skipped (their rows are filtered out). A crash between adopt and
    * marker replays the batch; the duplicate rows are byte-identical and
    * collapse in the merge's per-key max_by. Field sets only grow, so a
    * replayed `_fields` fold is idempotent. The seq is bumped only after
    * adoption, so a merge that reads the counter never covers rows not yet
    * visible in staging.
    *
    * @param validatePk topic -> (key arity, payload PK names); topics
    *   absent from it (PK-less specs synthesize a rowid at plan time) only
    *   have their field sets recorded
    * @return the topics this call staged rows for: none when every store
    *   had already staged `batchId`
    */
  def appendTopics(
      mutations: DataFrame,
      batchId: Long,
      stores: Map[String, StagedStore],
      validatePk: Map[String, (Int, Seq[String])]
  ): Set[String] =
    stageTopics(mutations, col(TOPIC), batchId, stores, validatePk)

  /** [[appendTopics]] with the routing column given as `topic`: a literal
    * for [[StagedStore.append]], so the routing constant-folds at plan time
    * and a single table's write evaluates no per-row routing.
    */
  private def stageTopics(
      mutations: DataFrame,
      topic: Column,
      batchId: Long,
      stores: Map[String, StagedStore],
      validatePk: Map[String, (Int, Seq[String])]
  ): Set[String] = {
    val pending = stores.toSeq.sortBy(_._1).filterNot { case (_, st) =>
      Files.exists(st.marker(batchId))
    }
    if (pending.isEmpty) return Set.empty
    // per-store values folded into single columns; one store's value is
    // used as is
    def perStore(f: ((String, StagedStore), Int) => Column): Column =
      if (pending.size == 1) f(pending.head, 0)
      else
        pending.zipWithIndex.foldLeft(lit(null)) { case (acc, (ts, i)) =>
          when(topic === ts._1, f(ts, i)).otherwise(acc)
        }
    val seqs = pending.map { case (_, st) => st.currentSeq() + 1 }
    val multi = pending.size > 1
    val obs = org.apache.spark.sql.Observation(
      // globally unique: Observations match by name on the shared listener
      // bus, so two sessions staging one batch id must not read each
      // other's drift metrics
      s"stage-$batchId-${java.util.UUID.randomUUID()}"
    )
    val drift = DriftSummary.columns(
      topic, validatePk.map { case (t, (_, names)) => t -> names })
    val staged = mutations
      .filter(topic.isin(pending.map(_._1): _*))
      .withColumn(SEQ, perStore((_, i) => lit(seqs(i))))
      .withColumn(TS_BUCKET, perStore { case ((_, st), _) => floor(col("nanos") / st.bucketNanos) })
      .observe(obs, drift.head, drift.tail: _*)
    // one store writes its buckets straight; several add a leading
    // store-index level (partition columns stay out of the files)
    val (rows, partitions) =
      if (multi) (staged.withColumn(STORE, perStore((_, i) => lit(i))), Seq(STORE, TS_BUCKET))
      else (staged, Seq(TS_BUCKET))

    val host = pending.head._2
    // reclaim orphans of killed writers (a scratch tree is live for the
    // duration of one append job; 30 min is far past any batch)
    listDir(Paths.get(host.root)).foreach { p =>
      if (p.getFileName.toString.startsWith("_scratch-") &&
        Files.getLastModifiedTime(p).toMillis < System.currentTimeMillis() - 30 * 60 * 1000L)
        deleteRecursively(p)
    }
    val scratch = Files.createTempDirectory(Paths.get(host.root), "_scratch-")
    try {
      val out = scratch.resolve("out")
      rows.drop(TOPIC).write.mode("overwrite").partitionBy(partitions: _*).parquet(out.toString)
      val summary = DriftSummary.decode(obs.get)
      validatePk.foreach { case (t, (arity, names)) =>
        summary.get(t).foreach(DriftSummary.check(t, _, arity, names))
      }
      pending.zipWithIndex.foreach { case ((t, st), i) =>
        adopt(if (multi) out.resolve(s"$STORE=$i") else out, Paths.get(st.dataDir))
        Files.writeString(st.seqFile, math.max(st.currentSeq(), seqs(i)).toString)
        st.recordFields(summary.get(t).map(_.fields.toSeq).getOrElse(Nil))
        Files.writeString(st.marker(batchId), s"""{"seq":${seqs(i)}}""")
      }
      // a topic is in the summary iff it staged a row
      pending.map(_._1).filter(summary.contains).toSet
    } finally deleteRecursively(scratch)
  }

  /** Move the parquet files of every `ts_bucket=N` dir under `from` into
    * `to/ts_bucket=N`.
    */
  private def adopt(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    listDir(from).filter(_.getFileName.toString.startsWith(s"$TS_BUCKET=")).foreach {
      bucketDir =>
        val target = to.resolve(bucketDir.getFileName)
        listDir(bucketDir).filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
          var tries = 0
          var done = false
          while (!done) {
            try {
              Files.createDirectories(target)
              Files.move(f, target.resolve(f.getFileName))
              done = true
            } catch {
              case _: java.nio.file.NoSuchFileException if tries < 3 =>
                tries += 1
            }
          }
        }
    }
}
