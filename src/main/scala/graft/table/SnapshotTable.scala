package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Hlc

/** Exactly-once, schema-evolving lake table: parquet data files + a JSON
  * commit log with idempotence keys, bucketed by primary-key hash for
  * partial (copy-on-write) rewrites.
  *
  * This is the engine's stand-in for an Iceberg table (no Iceberg jars ship
  * in this sandbox): the commit protocol — write data files, then atomically
  * publish a manifest that references them — is the same shape Iceberg uses,
  * and realizes the reference's staged-then-applied + memo semantics
  * (reference: internal/source/logical/loop.go:136-169,
  * serial_events.go:67-90, source/cdc/resolver.go:318-337).
  *
  * Scale design:
  *   - Rows are hash-bucketed on the PK (`pmod(xxhash64(pk...), numBuckets)`).
  *     A merge only reads and rewrites buckets that the batch touches;
  *     untouched buckets are carried forward by manifest reference. At 100 TB
  *     the work per commit is proportional to touched data, not table size.
  *   - The merge itself is a hash aggregation (`max_by` over the HLC tuple),
  *     not a window: partial aggregation combines map-side, so hot keys never
  *     serialize through a single sort partition.
  *   - Rows carry `(__hlc_nanos, __hlc_logical, __deleted)`; the merge keeps
  *     the max-HLC version per key and deletes are tombstones. This makes the
  *     table a last-writer-wins register per key: *any* replay or reordering
  *     of batches converges to the same final state, which is what makes the
  *     whole pipeline idempotent end-to-end (the exactly-once north rule).
  *     Tombstones are garbage-collected on the next compaction once they
  *     fall at/below a LAGGED fence horizon (one fence generation behind
  *     the committed fence), and the merge enforces the matching intake
  *     bound: batch rows with `ts <= gcHorizon` are dropped and counted
  *     (`dropped_late` metric) instead of merged. The GC policy and the
  *     late-delivery tolerance therefore agree EXACTLY — a late upsert
  *     older than an already-GC'd tombstone can never resurrect the key,
  *     because it is rejected at the door (the analog of the reference
  *     refusing to re-apply below the committed fence, internal/source/
  *     cdc/resolver.go:154-157, + staged retirement, stage.go:390-436).
  *   - Schema evolution: added columns and type widening evolve the snapshot
  *     schema ([[SchemaEvolution]]); old data files are read with the schema
  *     they were written with and cast up, so evolution never rewrites
  *     untouched buckets.
  *
  * Single writer per table (the reference serializes appliers with leases;
  * here one streaming query owns the table).
  */
final class SnapshotTable(
    spark: SparkSession,
    val root: String,
    val numBuckets: Int = 64,
    /** Merge-on-read compaction cadence. 1 (default) = pure copy-on-write:
      * every merge rewrites its touched buckets' full contents. N > 1 = a
      * touched bucket accumulates up to N-1 DELTA directories (each merge
      * writes only the batch's own rows — write work O(batch), not
      * O(touched buckets)); once a touched bucket reaches the cap, the
      * merge compacts (base ∪ deltas ∪ batch → new base, deltas cleared,
      * tombstones GC'd). Readers fold base ∪ deltas per key, so the visible
      * state is identical at every cadence — the knob trades read-side fold
      * work for an N-fold cut in steady-state write amplification, the same
      * trade Iceberg/Hudi MOR tables make.
      */
    val compactEvery: Int = 1
) {
  import SnapshotTable._
  require(compactEvery >= 1)

  val log = new CommitLog(root)

  // ---------------------------------------------------------------- reading

  /** Current visible rows: payload columns only, tombstones filtered out. */
  def read(): DataFrame =
    readCurrent()
      .filter(!col(DELETED))
      .drop(META_COLS: _*)

  /** One CURRENT row per key (max-HLC fold over base ∪ deltas), incl.
    * HLC/tombstone metadata. Equal to [[readRaw]] when no deltas exist.
    *
    * The fold is BUCKET-LOCAL: only buckets that actually carry deltas are
    * folded; delta-free buckets are unioned raw — their base files are
    * themselves fold results (one max-HLC row per key by construction). The
    * dirty buckets are read as one [[BucketScan]] that reports one input
    * partition per bucket, and a key lives in exactly one bucket, so the
    * per-key `max_by` grouped by bucket and key runs inside each bucket's own
    * task with no exchange: read cost stays proportional to delta-bearing
    * data and never shuffles it.
    */
  def readCurrent(onlyBuckets: Option[Set[Int]] = None): DataFrame =
    readCurrentAt(log.latest(), onlyBuckets)

  private def readCurrentAt(
      meta: Option[CommitMeta],
      onlyBuckets: Option[Set[Int]]
  ): DataFrame = {
    val pks = meta.map(m => Option(m.pkCols).getOrElse(Nil)).getOrElse(Nil)
    val deltaBuckets: Set[Int] =
      deltasOf(meta).filter(_._2.nonEmpty).keys.map(_.toInt).toSet
    val dirty: Set[Int] = deltaBuckets.filter(b => onlyBuckets.forall(_.contains(b)))
    if (dirty.isEmpty || pks.isEmpty) readRawAt(meta, onlyBuckets)
    else {
      val allBuckets: Set[Int] =
        meta.map(_.buckets.keys.map(_.toInt).toSet).getOrElse(Set.empty) ++ deltaBuckets
      val clean = allBuckets.filter(b => onlyBuckets.forall(_.contains(b))) -- dirty
      val m = meta.get
      val raw = BucketScan.read(spark, root, withMeta(StructType.fromDDL(m.schemaDdl)),
        dirsOf(m, Some(dirty)).groupBy(_._1).toSeq.sortBy(_._1).map { case (b, ds) =>
          b -> ds.map { case (_, ddl, rel) => ddl -> s"$root/$rel" }
        })
      val folded = maxHlc(raw, BUCKET +: pks, raw.columns.toSeq)
      if (clean.isEmpty) folded
      else readRawAt(meta, Some(clean)).unionByName(folded)
    }
  }

  /** Raw rows (possibly several HLC versions per key when deltas exist),
    * optionally restricted to a set of buckets (path-level pruning: only
    * those buckets' base + delta files are read).
    */
  def readRaw(onlyBuckets: Option[Set[Int]] = None): DataFrame =
    readRawAt(log.latest(), onlyBuckets)

  /** Visible rows as of a historical committed version — time travel.
    * Requires the version's commit file and referenced data dirs to still
    * be inside the vacuum window (`vacuumKeepVersions`); vacuumed versions
    * throw.
    */
  def readAt(version: Long): DataFrame = {
    val meta = metaAtOrThrow(version)
    readCurrentAt(Some(meta), None)
      .filter(!col(DELETED))
      .drop(META_COLS: _*)
  }

  private def metaAtOrThrow(version: Long): CommitMeta =
    log.tryRead(version).getOrElse(
      throw new IllegalArgumentException(
        s"version $version is not available for $root (never committed, or vacuumed)"
      )
    )

  /** Buckets whose contents can differ between two commit metas: the base
    * dir moved or the delta list changed. A key's row can only change if
    * its bucket was rewritten — untouched buckets are carried forward by
    * manifest REFERENCE, so identical references prove identical contents.
    */
  private[graft] def changedBuckets(from: CommitMeta, to: CommitMeta): Set[Int] = {
    val ids = from.buckets.keySet ++ to.buckets.keySet ++
      deltasOf(Some(from)).keySet ++ deltasOf(Some(to)).keySet
    ids.filter { b =>
      from.buckets.get(b) != to.buckets.get(b) ||
      deltasOf(Some(from)).getOrElse(b, Nil) != deltasOf(Some(to)).getOrElse(b, Nil)
    }.map(_.toInt)
  }

  /** Change rows between two committed versions — CDC back OUT of the
    * lake table (the Iceberg changelog-scan analog; downstream consumers
    * read increments instead of diffing snapshots). Returns one row per
    * key whose visible state differs between `vFrom` and `vTo`, with a
    * `change_type` column:
    *   - `insert`: absent (or tombstoned) at vFrom, live at vTo — row
    *     image from vTo;
    *   - `update`: live at both with a different HLC — row image from
    *     vTo;
    *   - `delete`: live at vFrom, tombstoned/absent at vTo — row image
    *     from vFrom (the deleted values).
    *
    * Scale shape: bucket-pruned BEFORE any read — a key can only change
    * if its bucket's base dir or delta list changed between the two
    * manifests ([[changedBuckets]]), so unchanged buckets are never read,
    * never joined. The full-outer join then shuffles only the changed
    * buckets' rows on the pk; cost is proportional to rewritten data, not
    * table size. HLC equality (not value comparison) detects unchanged
    * keys inside rewritten buckets — the table is an LWW register, so the
    * HLC IS the row version.
    */
  def changesBetween(vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"vFrom $vFrom must be <= vTo $vTo")
    val mFrom = metaAtOrThrow(vFrom)
    val mTo = metaAtOrThrow(vTo)
    val pks = Option(mTo.pkCols).getOrElse(Nil)
    require(pks.nonEmpty, "changesBetween needs a primary-keyed table")
    val changed = changedBuckets(mFrom, mTo)
    val payloadCols = StructType.fromDDL(mTo.schemaDdl).fieldNames.toSeq
      .filterNot(pks.contains)
    val from = readCurrentAt(Some(mFrom), Some(changed))
    val to = readCurrentAt(Some(mTo), Some(changed))
    // a column added by schema evolution after vFrom is absent on the
    // from side: surface it as null (what the old version's rows held)
    def side(df: DataFrame, tag: String): DataFrame = {
      val have = df.columns.toSet
      df.select(
        pks.map(col) ++ (payloadCols ++ META_COLS).map(c =>
          (if (have.contains(c)) col(c) else lit(null)).as(s"__${tag}_$c")
        ): _*
      )
    }
    val j = side(from, "f").join(side(to, "t"), pks, "full_outer")
    val fLive = col(s"__f_$NANOS").isNotNull && !col(s"__f_$DELETED")
    val tLive = col(s"__t_$NANOS").isNotNull && !col(s"__t_$DELETED")
    val sameHlc = col(s"__f_$NANOS") === col(s"__t_$NANOS") &&
      col(s"__f_$LOGICAL") === col(s"__t_$LOGICAL")
    val changeType = when(!fLive && tLive, "insert")
      .when(fLive && !tLive, "delete")
      .when(fLive && tLive && !sameHlc, "update")
    j.withColumn("change_type", changeType)
      .filter(col("change_type").isNotNull)
      .select(
        pks.map(col) ++ payloadCols.map(c =>
          when(col("change_type") === "delete", col(s"__f_$c"))
            .otherwise(col(s"__t_$c"))
            .as(c)
        ) :+ col("change_type"): _*
      )
  }

  /** Publish the commit-granularity changelog as parquet SEGMENTS under
    * `outDir` — the consumer-facing CDC-out of the apply loop (the
    * reference delivers changes to downstream consumers from its fan-out
    * side, internal/source/logical/loop.go:452-486; here consumers tail a
    * directory instead of re-deriving diffs by polling
    * [[changesBetween]]).
    *
    * Segment `v%08d` holds `changesBetween(v-1, v)` (pks + payload +
    * `change_type`); into an empty `outDir` the oldest retained version
    * bootstraps as all-inserts, and a directory whose segments stop short
    * of the oldest retained commit throws (its missing deletes cannot be
    * published). Emission is IDEMPOTENT and crash-safe: every call
    * emits all committed versions missing from `outDir` (self-healing
    * when a crash lands between commit and emission), each segment is
    * fully written to a temp name then atomically moved, and a lost
    * rename race just discards the duplicate. Cost per segment is the
    * manifest-pruned diff — proportional to rewritten buckets, not table
    * size. Returns the number of segments written.
    *
    * Every row carries `commit_version` so consumers discovering segments
    * out of order (e.g. [[SnapshotTable.changelogStream]]'s file source,
    * which lists without ordering guarantees) can still fold in commit
    * order.
    */
  def emitChangelog(outDir: String): Int = {
    val versions = log.listVersions()
    if (versions.isEmpty) return 0
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    val entries = SnapshotTable.listDir(out)
    // reclaim tmp dirs orphaned by a writer that crashed mid-segment-write
    // (dot-prefixed, so readers never see them); age-gated so a LIVE
    // concurrent emitter's in-flight tmp is left alone
    val staleMs = System.currentTimeMillis() - 15 * 60 * 1000L
    entries
      .filter(_.getFileName.toString.startsWith(".tmp-"))
      .filter(p => java.nio.file.Files.getLastModifiedTime(p).toMillis < staleMs)
      .foreach(deleteRecursively)
    val emitted: Set[Long] = entries
      .map(_.getFileName.toString)
      .filter(_.startsWith("v"))
      .map(_.drop(1))
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toLong)
      .toSet
    var wrote = 0
    versions.filterNot(emitted.contains).foreach { v =>
      val seg: DataFrame =
        if (log.tryRead(v - 1).isDefined) changesBetween(v - 1, v)
        else if (!emitted.exists(_ < v)) {
          // bootstrap: the first retained version's visible rows are the
          // inserts a from-nothing consumer must see
          val m = metaAtOrThrow(v)
          val pks = Option(m.pkCols).getOrElse(Nil)
          val payloadCols = StructType
            .fromDDL(m.schemaDdl)
            .fieldNames
            .toSeq
            .filterNot(pks.contains)
          readAt(v).select(
            (pks ++ payloadCols).map(col) :+ lit("insert").as("change_type"): _*
          )
        } else
          // the consumer holds older segments, but the commit this one must
          // diff against is vacuumed: an all-inserts segment would drop the
          // deletes in between, so the changelog cannot continue
          throw new IllegalStateException(
            s"changelog $outDir ends at v${emitted.filter(_ < v).max} but commit " +
              s"${v - 1} of $root is vacuumed: the changes up to v$v cannot be " +
              "published; re-bootstrap the consumer from an empty directory"
          )
      val df = seg.withColumn("commit_version", lit(v))
      val tmp =
        out.resolve(s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      df.write.mode("overwrite").parquet(tmp.toString)
      try {
        java.nio.file.Files.move(
          tmp,
          out.resolve(f"v$v%08d"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE
        )
        wrote += 1
      } catch {
        // another emitter published this segment first (same content by
        // construction) — drop ours
        case _: java.nio.file.FileAlreadyExistsException =>
          deleteRecursively(tmp)
        case _: java.nio.file.DirectoryNotEmptyException =>
          deleteRecursively(tmp)
      }
    }
    wrote
  }

  /** Row schema of the changelog segments [[emitChangelog]] writes for
    * this table: committed table columns (pks + payload) plus
    * `change_type` and `commit_version`. The file-stream reader needs it
    * up front ([[SnapshotTable.changelogStream]]).
    */
  def changelogSchema: StructType = {
    val m = log
      .latest()
      .getOrElse(
        throw new IllegalStateException(s"$root has no committed version")
      )
    StructType.fromDDL(m.schemaDdl)
      .add("change_type", StringType)
      .add("commit_version", LongType)
  }

  private def readRawAt(
      metaOpt: Option[CommitMeta],
      onlyBuckets: Option[Set[Int]]
  ): DataFrame = {
    metaOpt match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          withMeta(new StructType())
        )
      case Some(meta) =>
        val target = withMeta(StructType.fromDDL(meta.schemaDdl))
        // group dirs (base + delta) by the schema their files carry; read
        // each group with its own (exact) schema, then cast up to the
        // current snapshot schema — old files are never rewritten on
        // evolution
        val entries = dirsOf(meta, onlyBuckets)
        if (entries.isEmpty) {
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            target
          )
        } else {
          entries
            .groupBy(_._2)
            .map { case (ddl, group) =>
              val fileSchema = withMeta(StructType.fromDDL(ddl))
              val paths = group.map { case (_, _, rel) => s"$root/$rel" }
              val df = spark.read.schema(fileSchema).parquet(paths: _*)
              alignTo(df, target)
            }
            .reduce(_.unionByName(_))
        }
    }
  }

  /** The base and delta directories of `meta`'s buckets (optionally only
    * `onlyBuckets`), each as `(bucket, schema DDL its files carry, path
    * relative to the root)`.
    */
  private def dirsOf(meta: CommitMeta, onlyBuckets: Option[Set[Int]]): Seq[(Int, String, String)] = {
    val deltaSchemaOf = Option(meta.deltaSchemas).getOrElse(Map.empty[String, String])
    val bases = meta.buckets.toSeq.map { case (b, rel) =>
      (b.toInt, meta.bucketSchemas.getOrElse(b, meta.schemaDdl), rel)
    }
    val deltas = deltasOf(Some(meta)).toSeq.flatMap { case (b, ds) =>
      ds.map(d => (b.toInt, deltaSchemaOf.getOrElse(d, meta.schemaDdl), d))
    }
    (bases ++ deltas).filter { case (b, _, _) => onlyBuckets.forall(_.contains(b)) }
  }

  private def deltasOf(meta: Option[CommitMeta]): Map[String, Seq[String]] =
    meta.flatMap(m => Option(m.deltas)).getOrElse(Map.empty)

  def payloadSchema(): Option[StructType] =
    log.latest().map(m => StructType.fromDDL(m.schemaDdl))

  /** Drop the superseded commit files, then delete data directories no
    * commit among the newest `keepVersions` references: the storage-reclaim
    * step a long-running table needs (the snapshot analog of staged-mutation
    * retirement; Iceberg calls it expire_snapshots). Never touches
    * directories the retained manifests still point to — copy-on-write
    * means an old version dir can still serve CURRENT buckets.
    *
    * Commit files go FIRST: a crash between the two steps leaves data
    * directories no commit references (the next vacuum reaps them past the
    * orphan grace period), never a commit that [[readAt]] or
    * [[emitChangelog]] would trust but whose files are gone.
    * Returns the number of data directories removed.
    */
  def vacuum(keepVersions: Int = 2, orphanGraceMillis: Long = 3600000L): Int = {
    require(keepVersions >= 1)
    val versions = log.listVersions()
    if (versions.size <= keepVersions) return 0
    val keep = versions.takeRight(keepVersions)
    def dirsOf(vs: Seq[Long]): Set[String] = vs
      .flatMap(log.tryRead)
      .flatMap { m =>
        val baseDirs = m.buckets.values
        val deltaDirs = deltasOf(Some(m)).values.flatten
        (baseDirs ++ deltaDirs).map(_.split("/").take(2).mkString("/"))
      }
      .toSet // e.g. "data/v00000003-1a2b3c4d"
    val referenced = dirsOf(keep)
    // dirs referenced ONLY by superseded commits were published once — no
    // writer is mid-write in them — so they reap immediately; a dir no
    // commit has EVER referenced is either a crashed writer's leftover or a
    // CONCURRENT writer's in-flight attempt (data is written before the
    // commit rename), told apart conservatively: never reap above the
    // committed head, and below it only past a grace period
    val everReferenced = dirsOf(versions)
    // retire the superseded commit files (keep the ledger compact);
    // idempotence keys of retired commits are forgotten — acceptable
    // because replays older than the retained horizon are screened by the
    // fence and the LWW register anyway
    versions.dropRight(keepVersions).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, "commits", f"$v%020d.json")
      )
    }
    val dataRoot = java.nio.file.Paths.get(root, "data")
    if (!java.nio.file.Files.exists(dataRoot)) return 0
    var removed = 0
    val latestVersion = versions.last
    val nowMs = System.currentTimeMillis()
    SnapshotTable.listDir(dataRoot).foreach { d =>
      val rel = s"data/${d.getFileName}"
      val name = d.getFileName.toString
      val vDigits =
        if (name.startsWith("v")) name.drop(1).takeWhile(_.isDigit) else ""
      val orphanReapable =
        vDigits.nonEmpty && vDigits.toLong <= latestVersion &&
          (try {
            // staleness from the NEWEST mtime anywhere in the subtree, and
            // never while a live _temporary tree exists: task writes deep
            // inside _temporary do not refresh the top-level dir's mtime,
            // so judging by the latter could reap a slow in-flight merge
            // whose write outlasts the grace period (spurious job failure
            // — no corruption, but exactly what "never clobber" promises
            // not to do). The walk is bounded: an orphan dir holds one
            // merge attempt's files.
            !java.nio.file.Files.exists(d.resolve("_temporary")) &&
            SnapshotTable.newestMtimeMillis(d) < nowMs - orphanGraceMillis
          } catch { case _: java.io.IOException => false })
      if (
        !referenced.contains(rel) &&
        (everReferenced.contains(rel) || orphanReapable)
      ) {
        deleteRecursively(d)
        removed += 1
      }
    }
    removed
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p))
      SnapshotTable.listDir(p).foreach(deleteRecursively)
    java.nio.file.Files.deleteIfExists(p)
  }

  /** Resolved-timestamp ledger view: one row per commit with its fence and
    * applied-mutation counters — the queryable analog of the reference's
    * resolved ledger + memo (internal/source/cdc/resolver.go:43-52,
    * internal/staging/memo/memo.go:40-47). Tiny (metadata-scale).
    */
  def ledger(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    log
      .all()
      .map(m =>
        (
          m.version,
          m.idempotenceKey,
          m.resolvedNanos,
          m.resolvedLogical,
          m.committedAtMs,
          m.metric("rows_written").getOrElse(0L),
          m.metric("tombstones").getOrElse(0L)
        )
      )
      .toDF(
        "version",
        "idempotence_key",
        "resolved_nanos",
        "resolved_logical",
        "committed_at_ms",
        "rows_written",
        "tombstones"
      )
  }

  // ---------------------------------------------------------------- merging

  /** Merge a change batch into the table and commit a new snapshot version.
    *
    * `batch` must carry the payload columns plus `__hlc_nanos`,
    * `__hlc_logical`, `__deleted`, and should already be LWW-deduped per key
    * (the merge is still correct otherwise — max_by keeps one max-HLC row —
    * but pre-dedup keeps the shuffle small; a CAS-gated batch needs it, so
    * the gate sees one candidate per key).
    *
    * `casColumns` (the table's compare-and-set columns) gate the batch
    * against the current rows with [[SnapshotTable.casFilter]]; an empty
    * list merges by LWW alone.
    *
    * Returns the committed version, or None when `idempotenceKey` was
    * already committed (replay no-op).
    *
    * Concurrency: publication is decided by the commit log's atomic
    * rename, so two writers racing on one table serialize there — the
    * Spark stand-in for the reference's lease-serialized appliers
    * (internal/staging/leases/leases.go:355-371). A SAME-KEY race (two
    * loop instances replaying one batch — the HA restart overlap) makes
    * the loser a no-op (`None`): the failed rename invalidates the key
    * cache, so the re-check sees the winner's key even across instances.
    * A DIFFERENT-KEY race (two independent batches) makes the loser
    * RE-RUN the whole merge against the new head — optimistic
    * concurrency, the protocol an Iceberg commit uses. The re-run is
    * correct under any interleaving because the table is an LWW register:
    * re-folding the loser's batch against the winner's committed state
    * converges to the same rows as any serial order. The CAS gate is part
    * of the attempt, so the re-run also re-gates against the winner's
    * rows — the reference checks CAS in the upsert statement itself
    * (queries/conditional.tmpl:48-86). Each attempt writes to its OWN
    * uniquely-suffixed data directory, so a doomed attempt can never
    * clobber the winner's files; orphaned attempt dirs are reclaimed by
    * [[vacuum]].
    */
  def merge(
      batch: DataFrame,
      pkCols: Seq[String],
      idempotenceKey: String,
      resolved: Hlc = Hlc.Zero,
      lineage: Seq[String] = Nil,
      /** caller-supplied counters persisted alongside the merge metrics
        * (e.g. the replay loop's merged-through staging sequence)
        */
      extraMetrics: Map[String, Long] = Map.empty,
      casColumns: Seq[String] = Nil
  ): Option[CommitMeta] = {
    val maxAttempts = 5
    var attempt = 1
    while (true) {
      try
        return mergeOnce(batch, pkCols, idempotenceKey, resolved, lineage, extraMetrics, casColumns)
      catch {
        case _: SnapshotTable.CommitConflict if attempt < maxAttempts =>
          // lost the version race to a different key: re-read the head and
          // recompute (the next attempt gates and folds against the
          // winner's state)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One merge attempt: everything that depends on the head — the CAS
    * gate, the intake bound, delta-or-compaction, the manifest — is derived
    * from the ONE head read at its start.
    */
  private def mergeOnce(
      batch: DataFrame,
      pkCols: Seq[String],
      idempotenceKey: String,
      resolved: Hlc,
      lineage: Seq[String],
      extraMetrics: Map[String, Long],
      casColumns: Seq[String]
  ): Option[CommitMeta] = {
    // head FIRST, idempotence check second (see CommitLog.contains): a
    // foreign same-key commit landing between the two is at/below the
    // version this attempt targets, so the commit rename collides and the
    // post-failure re-check no-ops — never a double apply
    val prev = log.latest()
    if (log.contains(idempotenceKey)) return None
    val prevSchema = prev.map(m => StructType.fromDDL(m.schemaDdl))
    val batchPayload = StructType(
      batch.schema.fields.filterNot(f => META_COL_SET.contains(f.name))
    )
    val evolved = prevSchema match {
      case None => batchPayload
      case Some(s) => SchemaEvolution.merge(s, batchPayload)
    }
    val target = withMeta(evolved)

    val prevFence = prev.map(_.resolved).getOrElse(Hlc.Zero)
    // the fence never regresses (a replayed old window can merge — its rows
    // no-op against newer LWW state — but must not move the fence backward,
    // mirroring the reference's monotonic Mark, resolver.go:154-157)
    val fenceOut = if (resolved > prevFence) resolved else prevFence

    // Tombstone GC horizon: the newest fence strictly OLDER than the
    // previous one (one fence generation of lag). The replay loop tolerates
    // transport-reordered deliveries below the committed fence (file sources
    // order by mtime), so a tombstone must outlive its own fence by at least
    // one generation — otherwise delete@t2 could be GC'd and a late
    // upsert@t1 (t1<t2) would resurrect the deleted key. Every commit
    // records that fence for its successor, so commits that keep the fence
    // (late applies of a redelivered batch, immediate mode) cannot push it
    // out of the commits vacuum retains.
    val recordedHorizon: Option[Hlc] = prev.flatMap(p =>
      for (n <- p.metric("prior_fence_nanos"); l <- p.metric("prior_fence_logical"))
        yield Hlc(n, l.toInt))
    // a later head without the record was written by an older engine: the
    // intake bound is off for this merge, so say so
    for (p <- prev if p.version > 1 && recordedHorizon.isEmpty)
      println(
        s"[graft] commit ${p.version} of $root records no prior_fence_*: gc horizon " +
          "taken as zero, late rows are not bounded for this merge"
      )
    val gcHorizon: Hlc = recordedHorizon.getOrElse(Hlc.Zero)
    // this commit's record: the newest fence strictly older than `fenceOut`
    val priorFence = if (fenceOut > prevFence) prevFence else gcHorizon

    // Intake bound matching the tombstone-GC policy: a batch row at/below
    // the gcHorizon may be older than a tombstone that compaction already
    // GC'd, so merging it could resurrect a deleted key. It is dropped AND
    // counted (`dropped_late`), so the loop's late-delivery tolerance and
    // the GC window agree exactly and violations are observable.
    val lateCond =
      struct(col(NANOS), col(LOGICAL)) <=
        struct(lit(gcHorizon.nanos), lit(gcHorizon.logical))

    // the incoming batch is usually the tail of an expensive pipeline
    // (staged scan -> drift checks -> transforms -> salted dedup); it is
    // consumed by touched-bucket discovery and by the write, so materialize
    // it once per attempt instead of recomputing the lineage
    val bucketed = batch
      .withColumn(BUCKET, pmod(xxhash64(pkCols.map(col): _*), lit(numBuckets)).cast(IntegerType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE pass counts the rows and the late rows of every bucket (every
      // batch row at/below the horizon, whether or not the CAS gate would
      // also refuse it). A bucket is touched only if a row of it lies above
      // the horizon: a batch that is entirely late touches nothing, writes
      // nothing and commits the head's manifest with its `dropped_late`.
      val late = if (gcHorizon.isZero) lit(0L) else when(lateCond, 1L).otherwise(0L)
      val byBucket = bucketed.groupBy(BUCKET).agg(count(lit(1)), sum(late)).collect()
      val touched: Set[Int] =
        byBucket.filter(r => r.getLong(1) > r.getLong(2)).map(_.getInt(0)).toSet
      val droppedLate = byBucket.map(_.getLong(2)).sum

      // CAS gate against this attempt's head, pruned to the touched
      // buckets. No current row to compare against (empty table), or a
      // committed schema that predates the CAS/PK columns (they arrive
      // with this very batch): every row passes, like a join miss.
      val gateable = casColumns.nonEmpty &&
        prevSchema.exists(s => (pkCols ++ casColumns).forall(s.fieldNames.contains))
      val gated =
        if (!gateable) bucketed
        else casFilter(bucketed, readCurrentAt(prev, Some(touched)).filter(!col(DELETED)),
          pkCols, casColumns)
      val alignedBatch = alignTo(gated, target)

      val prevDeltas = deltasOf(prev)
      val prevDeltaSchemas: Map[String, String] =
        prev.flatMap(m => Option(m.deltaSchemas)).getOrElse(Map.empty)

      // merge-on-read: while every touched bucket is under its delta cap,
      // write ONLY the batch's own rows as a new delta generation — no
      // current-read, no COW rewrite. Any touched bucket at the cap forces a
      // compaction merge (base ∪ deltas ∪ batch → new base) for all touched.
      // A batch that touches nothing (empty, or entirely late) is neither:
      // its manifest is the head's either way.
      val deltaMode = compactEvery > 1 && prev.nonEmpty && touched.nonEmpty &&
        touched.forall(b =>
          prevDeltas.getOrElse(b.toString, Nil).size < compactEvery - 1
        )

      // ONE shuffle serves both the per-key LWW fold and the (bucket, salt)
      // write fan-out: `bucket` and the write salt are deterministic
      // functions of the PK, so grouping by (bucket, salt, pk) yields exactly
      // the per-pk groups — and an input explicitly repartitioned on
      // (bucket, salt) already satisfies the aggregation's clustering
      // requirement (HashPartitioning on a subset of the grouping keys), so
      // Catalyst inserts NO second exchange between the fold and the write.
      // The explicit partition count keeps AQE from coalescing the fan-out.
      val SALT = "__wsalt"
      def lwwFold(df: DataFrame): DataFrame =
        maxHlc(
          df.withColumn(SALT, pmod(xxhash64(pkCols.map(col): _*), lit(WritersPerBucket)))
            .repartition(math.max(1, touched.size * WritersPerBucket), col(BUCKET), col(SALT)),
          (Seq(BUCKET, SALT) ++ pkCols).distinct,
          df.columns.toSeq
        )

      val boundedBatch =
        if (gcHorizon.isZero) alignedBatch else alignedBatch.filter(!lateCond)

      val winners =
        if (deltaMode)
          // delta merge: per-key LWW within the batch only (keeps the delta
          // minimal; readers fold across generations). Tombstones are NOT
          // GC'd here — they must survive until compaction folds them
          // against any earlier base/delta versions of the key.
          lwwFold(boundedBatch)
        else
          // compaction: fold base ∪ existing deltas of the touched buckets
          // with the batch, then GC tombstones at/below the lagged horizon
          // — the intake bound above guarantees nothing older can merge
          // afterwards
          lwwFold(alignTo(readRawAt(prev, Some(touched)), target).unionByName(boundedBatch))
            .filter(
              !col(DELETED) ||
                struct(col(NANOS), col(LOGICAL)) >
                struct(lit(gcHorizon.nanos), lit(gcHorizon.logical))
            )

      val version = prev.map(_.version + 1).getOrElse(1L)
      // unique per ATTEMPT, not per version: two writers racing on the same
      // next version must never share a data directory (mode("overwrite")
      // would silently clobber the winner's files before the commit rename
      // decides the race). The committed manifest records the full relative
      // path, so readers never reconstruct it from the version number; a
      // losing attempt's orphaned dir is reclaimed by vacuum() once its
      // version is at/below the committed head.
      val dataRel =
        f"data/v$version%08d-${java.util.UUID.randomUUID().toString.take(8)}"
      val dataDir = s"$root/$dataRel"
      // a batch that touches nothing writes nothing: its commit records the
      // fence advance (and any dropped late rows) alone. Totals ride the write itself (Observation, 2 aggregates — a
      // wide per-bucket observe would janino-compile a pathological
      // method); per-bucket row counts come from the parquet FOOTERS of the
      // files just written: driver-side metadata reads, no extra Spark
      // job, exact.
      val (rowsWritten, tombstones, perBucket) =
        if (touched.isEmpty) (0L, 0L, Seq.empty[(Int, Long)])
        else {
          val obs = org.apache.spark.sql.Observation(
            s"merge-v$version-${java.util.UUID.randomUUID()}"
          )
          winners
            .observe(
              obs,
              count(lit(1)).as("rows"),
              sum(col(DELETED).cast(LongType)).as("tombstones")
            )
            .withColumn("__bp", col(BUCKET))
            // no repartition here: the fold's (bucket, salt) exchange IS the
            // write fan-out — a bucket's rewrite spreads over up to
            // `WritersPerBucket` tasks/files (one hot bucket never serializes
            // the COW write), and directory (`partitionBy`) writes tolerate
            // many tasks per partition value.
            // The map-side PK sort (no shuffle — SortExec inside the existing
            // partitioning) writes each file in key order: parquet row-group
            // min/max stats then skip groups on pk point reads, and adjacent
            // similar keys compress better — both free at write time.
            // MUST lead with the PARTITION column `__bp`, not BUCKET: V1Writes
            // requires a sort by the partition columns and REPLACES a user sort
            // whose prefix is a different attribute — sorting on BUCKET here
            // silently produced unsorted files (verified file-by-file).
            .sortWithinPartitions((Seq("__bp") ++ pkCols).distinct.map(col): _*)
            .write
            .mode("overwrite")
            .partitionBy("__bp")
            .parquet(dataDir)
          val m = obs.get
          // an aggregate over zero rows (e.g. the whole batch dropped as
          // late) observes SQL NULL, not a missing key
          def asLong(k: String): Long =
            m.get(k) match {
              case Some(n: Number) => n.longValue()
              case _ => 0L
            }
          (asLong("rows"), asLong("tombstones"), footerCounts(dataDir))
        }

      val (finalBuckets, newBucketSchemas, newDeltas, newDeltaSchemas) =
        if (deltaMode) {
          // base untouched; register this version's bucket dirs as one more
          // delta generation per bucket that actually produced rows
          val appended = prevDeltas ++ perBucket.map { case (b, _) =>
            val dir = s"$dataRel/__bp=$b"
            b.toString -> (prevDeltas.getOrElse(b.toString, Nil) :+ dir)
          }.toMap
          val ds = prevDeltaSchemas ++ perBucket.map { case (b, _) =>
            s"$dataRel/__bp=$b" -> evolved.toDDL
          }.toMap
          (
            prev.map(_.buckets).getOrElse(Map.empty),
            prev.map(_.bucketSchemas).getOrElse(Map.empty),
            appended,
            ds
          )
        } else {
          val newBuckets: Map[String, String] =
            prev.map(_.buckets).getOrElse(Map.empty) ++
              perBucket.map { case (b, _) => b.toString -> s"$dataRel/__bp=$b" }.toMap
          // a touched bucket may end up empty (all rows deleted + GC'd): drop it
          val emptied = touched.map(_.toString) --
            perBucket.map(_._1.toString).toSet
          val fb = newBuckets -- emptied
          val bs = (prev.map(_.bucketSchemas).getOrElse(Map.empty) ++
            perBucket.map { case (b, _) => b.toString -> evolved.toDDL }.toMap)
            .filter { case (b, _) => fb.contains(b) }
          // compaction folds the touched buckets' deltas into the new base
          val remainingDeltas = prevDeltas -- touched.map(_.toString)
          val keptDirs = remainingDeltas.values.flatten.toSet
          val ds = prevDeltaSchemas.filter { case (d, _) => keptDirs.contains(d) }
          (fb, bs, remainingDeltas, ds)
        }

      val meta = CommitMeta(
        version = version,
        idempotenceKey = idempotenceKey,
        resolvedNanos = fenceOut.nanos,
        resolvedLogical = fenceOut.logical,
        schemaDdl = evolved.toDDL,
        numBuckets = numBuckets,
        buckets = finalBuckets,
        bucketSchemas = newBucketSchemas,
        deltas = newDeltas,
        deltaSchemas = newDeltaSchemas,
        pkCols = pkCols,
        metrics = Map(
          "rows_written" -> rowsWritten,
          "tombstones" -> tombstones,
          "live_rows_in_touched_buckets" -> (rowsWritten - tombstones),
          "touched_buckets" -> touched.size.toLong,
          "delta_merge" -> (if (deltaMode) 1L else 0L),
          "dropped_late" -> droppedLate,
          "prior_fence_nanos" -> priorFence.nanos,
          "prior_fence_logical" -> priorFence.logical.toLong
        ) ++ extraMetrics,
        partitionMetrics =
          perBucket.map { case (b, n) => b.toString -> n }.toMap,
        lineage = lineage,
        committedAtMs = System.currentTimeMillis()
      )
      if (log.commit(meta)) Some(meta)
      else {
        // this attempt lost the publication race: its (uniquely-suffixed)
        // files can never be referenced by any manifest — remove them
        // eagerly so the loser leaves no orphan behind
        deleteRecursively(java.nio.file.Paths.get(dataDir))
        if (log.contains(idempotenceKey)) None
        else {
          // version collision without our key: a concurrent writer with a
          // DIFFERENT batch won this version — signal merge() to re-run the
          // whole attempt against the new head (optimistic concurrency)
          throw new SnapshotTable.CommitConflict(version, root)
        }
      }
    } finally bucketed.unpersist()
  }
}

object SnapshotTable {
  val NANOS = "__hlc_nanos"
  val LOGICAL = "__hlc_logical"
  val DELETED = "__deleted"
  val BUCKET = "__bucket"
  val META_COLS: Seq[String] = Seq(NANOS, LOGICAL, DELETED, BUCKET)
  val META_COL_SET: Set[String] = META_COLS.toSet

  /** Write-task fan-out per touched bucket: the merge write repartitions by
    * `(bucket, pk-hash % WritersPerBucket)`, so a hot or very large bucket
    * is rewritten by up to this many tasks/files instead of exactly one.
    * A bucket directory with several part files is already the read path's
    * normal case, and footer counts sum per-bucket across files.
    */
  val WritersPerBucket = 4

  /** The LWW fold: the max-HLC row of every `keys` group, projected back to
    * `cols`. One definition for the merge-on-read fold and the merge.
    */
  private[graft] def maxHlc(df: DataFrame, keys: Seq[String], cols: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*), struct(col(NANOS), col(LOGICAL))).as("__row"))
      .select(cols.map(c => col(s"__row.`$c`").as(c)): _*)

  /** Compare-and-set gate against the current table rows: keep an incoming
    * row iff there is no current row for its key, or its CAS tuple is
    * strictly greater than the current row's. Deletes pass unconditionally
    * (the reference's delete path has no CAS — queries/delete.tmpl).
    * Mirrors queries/conditional.tmpl:48-75; [[SnapshotTable#merge]] runs
    * it inside each attempt, against that attempt's head, whenever the
    * table has CAS columns.
    */
  def casFilter(
      batch: DataFrame,
      current: DataFrame,
      pkCols: Seq[String],
      casColumns: Seq[String]
  ): DataFrame =
    casJoined(batch, current, pkCols, casColumns)
      .filter(casCond(casColumns))
      .drop((casColumns.map(c => s"__cur_$c") :+ "__cur_exists"): _*)

  /** The left join of a batch against current rows that both the CAS filter
    * and the CAS audit (`ApplyPlanner.casAudit`, harness `q_cas_gate`) gate on —
    * ONE definition so they cannot drift. Precondition: `current` has at
    * most one row per key.
    */
  private[graft] def casJoined(
      batch: DataFrame,
      current: DataFrame,
      pkCols: Seq[String],
      casColumns: Seq[String]
  ): DataFrame = {
    val curProj = current.select(
      (pkCols.map(col) ++
        casColumns.map(c => col(c).as(s"__cur_$c")) :+
        lit(true).as("__cur_exists")): _*
    )
    batch.join(curProj, pkCols, "left")
  }

  /** The gate predicate over [[casJoined]] output: row passes iff it is a
    * delete, has no current row, or its CAS tuple strictly beats the
    * current one.
    */
  private[graft] def casCond(casColumns: Seq[String]): Column = {
    val proposed = struct(casColumns.map(col): _*)
    val curTuple = struct(casColumns.map(c => col(s"__cur_$c")): _*)
    col(DELETED) || col("__cur_exists").isNull || proposed > curTuple
  }

  /** Tail a changelog directory written by [[SnapshotTable.emitChangelog]]
    * as a Structured Streaming source: the file source discovers each
    * `v%08d` segment as the applier's atomic rename publishes it (dot-
    * prefixed temp dirs are invisible to Spark's file listing). Rows carry
    * `commit_version`; within one micro-batch segments may surface in any
    * order, so consumers needing commit order sort/window on that column.
    * Schema comes from [[SnapshotTable#changelogSchema]] (file streams
    * need it declared up front).
    */
  def changelogStream(
      spark: SparkSession,
      changelogDir: String,
      schema: StructType
  ): DataFrame =
    spark.readStream.schema(schema).parquet(s"$changelogDir/v*")

  def withMeta(payload: StructType): StructType =
    StructType(
      payload.fields ++ Seq(
        StructField(NANOS, LongType, nullable = false),
        StructField(LOGICAL, IntegerType, nullable = false),
        StructField(DELETED, BooleanType, nullable = false),
        StructField(BUCKET, IntegerType, nullable = true)
      )
    )

  /** Eager, stream-closing directory listing (shared impl: [[graft.util.Dirs]]). */
  private[graft] def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    graft.util.Dirs.listDir(p)

  /** Newest last-modified time (millis) of any entry under `p`, `p`
    * itself included — the liveness signal vacuum's orphan reaping uses
    * (a write refreshes mtimes deep in the tree, not the top-level dir).
    */
  private[graft] def newestMtimeMillis(p: java.nio.file.Path): Long = {
    val own = java.nio.file.Files.getLastModifiedTime(p).toMillis
    if (!java.nio.file.Files.isDirectory(p)) own
    else listDir(p).foldLeft(own)((mx, c) => math.max(mx, newestMtimeMillis(c)))
  }

  /** A concurrent writer with a DIFFERENT idempotence key published the
    * version this attempt targeted; merge() re-runs the attempt against
    * the new head (bounded retries).
    */
  private[graft] final class CommitConflict(version: Long, root: String)
      extends RuntimeException(
        s"lost commit race at version $version for $root"
      )

  /** Per-bucket row counts of a freshly written snapshot version, from the
    * parquet file footers (driver-side metadata reads — no Spark job).
    * Footer opens run in parallel: with 64 buckets x several files this is
    * otherwise ~256 serial opens per merge — pure driver latency that does
    * not shrink with executor count.
    */
  def footerCounts(dataDir: String): Seq[(Int, Long)] = {
    val root = java.nio.file.Paths.get(dataDir)
    if (!java.nio.file.Files.exists(root)) return Nil
    val conf = new org.apache.hadoop.conf.Configuration()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val perBucket = listDir(root)
      .filter(_.getFileName.toString.startsWith("__bp="))
      .map { bucketDir =>
        val b = bucketDir.getFileName.toString.stripPrefix("__bp=").toInt
        val files = listDir(bucketDir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
        val counts = Future.traverse(files) { f =>
          Future {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toUri),
              conf
            )
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount
            finally r.close()
          }
        }
        b -> counts
      }
    perBucket
      .map { case (b, fut) => (b, Await.result(fut, Duration.Inf).sum) }
      .sortBy(_._1)
  }

  /** Project/cast `df` to exactly `target`'s columns: missing columns become
    * typed nulls, present columns are cast (widening only, by construction).
    */
  def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fieldNames.toSet
    df.select(target.fields.map { f =>
      if (have.contains(f.name)) col(s"`${f.name}`").cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }
}
