package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One committed snapshot version.
  *
  * @param version        monotonically increasing snapshot version
  * @param idempotenceKey caller-supplied replay key — commits carrying a key
  *                       already present in the log are skipped (the
  *                       exactly-once contract: `(partition, resolvedTs)` /
  *                       batch id, mirroring the reference's memo +
  *                       applied-ledger pairing, internal/staging/memo/
  *                       memo.go:67-78 and source/cdc/resolver.go:318-337)
  * @param resolvedNanos/resolvedLogical the resolved fence this commit
  *                       carried the table to (0 for immediate mode)
  * @param schemaDdl      snapshot schema at this version (DDL string)
  * @param buckets        bucket id -> relative BASE data directory holding
  *                       that bucket's compacted rows; untouched buckets
  *                       point at files of earlier versions (copy-on-write
  *                       reuse)
  * @param bucketSchemas  bucket id -> version whose schema its files carry
  *                       (needed to read old files after type widening)
  * @param deltas         bucket id -> ordered relative DELTA directories
  *                       appended since the bucket's last compaction
  *                       (merge-on-read: a delta merge writes only the
  *                       batch's rows; readers fold base ∪ deltas per key)
  * @param deltaSchemas   delta directory -> schema DDL its files carry
  * @param pkCols         the table's merge key, recorded so readers can
  *                       fold multi-version rows without a spec
  * @param metrics        applied-mutation counters (upserts/deletes/rows)
  * @param partitionMetrics per-bucket applied row counts (lineage/metrics
  *                       requirement of the north rule)
  * @param lineage        input provenance: source files / batch ids folded in
  */
final case class CommitMeta(
    version: Long,
    idempotenceKey: String,
    resolvedNanos: Long,
    resolvedLogical: Int,
    schemaDdl: String,
    numBuckets: Int,
    buckets: Map[String, String],
    bucketSchemas: Map[String, String],
    deltas: Map[String, Seq[String]],
    deltaSchemas: Map[String, String],
    pkCols: Seq[String],
    metrics: Map[String, Long],
    partitionMetrics: Map[String, Long],
    lineage: Seq[String],
    committedAtMs: Long
) {

  /** The resolved fence this commit carried the table to. */
  def resolved: graft.model.Hlc = graft.model.Hlc(resolvedNanos, resolvedLogical)

  /** Type-safe metric read. `metrics` is declared `Map[String, Long]`, but a
    * meta RE-READ from JSON carries boxed Integers for small values (Jackson
    * + type erasure) — pattern-matching through Number absorbs both.
    */
  def metric(name: String): Option[Long] =
    metrics.asInstanceOf[Map[String, Any]].get(name) match {
      case Some(n: Number) => Some(n.longValue())
      case _ => None
    }
}

/** File-based commit log with atomic create-if-absent commits.
  *
  * Commit files are `commits/<version>%020d.json`, fully written to a temp
  * name and atomically HARD-LINKED into place (create-if-absent — see
  * [[commit]] for why rename is not good enough); the reader's "current
  * snapshot" is the highest version present. A crashed writer leaves only
  * a temp file, which is ignored — this is the sandbox stand-in for an
  * Iceberg/metastore catalog commit, and the link-wins race is the
  * serialization point competing appliers get from leases in the
  * reference (internal/staging/leases/leases.go).
  */
final class CommitLog(root: String) {
  private val dir: Path = Paths.get(root, "commits")
  Files.createDirectories(dir)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def pathFor(version: Long): Path =
    dir.resolve(f"$version%020d.json")

  def listVersions(): Seq[Long] =
    graft.util.Dirs
      .listDir(dir)
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(_.stripSuffix(".json").toLong)
      .sorted

  def latest(): Option[CommitMeta] =
    listVersions().lastOption.map(read)

  /** test hook: commit-file deserializations performed by this instance */
  private[graft] var fileReads: Long = 0

  def read(version: Long): CommitMeta = {
    fileReads += 1
    mapper.readValue(pathFor(version).toFile, classOf[CommitMeta])
  }

  def all(): Seq[CommitMeta] = listVersions().map(read)

  /** [[read]] that absorbs a missing commit file (vacuumed / never written). */
  def tryRead(version: Long): Option[CommitMeta] =
    if (Files.exists(pathFor(version))) Some(read(version)) else None

  // idempotence keys, loaded once per process then maintained on commit():
  // contains() is O(1) per merge instead of deserializing every commit JSON.
  // While this instance wins every commit, the cache can only be a superset
  // of the on-disk keys (the safe direction for idempotence); the moment a
  // commit LOSES a rename race — another instance is writing the same
  // table — commit() drops the cache so the next contains() re-reads the
  // log and sees the foreign writer's keys
  private var keyCache: scala.collection.mutable.Set[String] = null
  private var cacheHead: Long = 0L

  private def keys(): scala.collection.mutable.Set[String] = synchronized {
    // incremental sync to the on-disk head: one directory listing per call
    // (cheap — the merge path lists the log for latest() anyway), and only
    // commits NEWER than the cache's head are deserialized. This keeps a
    // foreign writer's commits visible without re-reading the whole log.
    val vs = listVersions()
    if (keyCache == null) {
      keyCache = scala.collection.mutable.Set.empty[String]
      vs.foreach(v => keyCache += read(v).idempotenceKey)
    } else {
      vs.iterator.filter(_ > cacheHead).foreach(v => keyCache += read(v).idempotenceKey)
    }
    cacheHead = math.max(cacheHead, vs.lastOption.getOrElse(0L))
    keyCache
  }

  /** True if some commit already carries this idempotence key (synced to
    * the on-disk head at call time). The caller ordering that makes this
    * race-proof: read the head version FIRST, then check `contains` — a
    * foreign same-key commit after the head read lands at/below the
    * version this writer will target, so the atomic rename collides and
    * the post-failure re-check (on an invalidated cache) sees the key.
    */
  def contains(idempotenceKey: String): Boolean =
    keys().contains(idempotenceKey)

  /** Atomically publish a commit. Returns false if the version already
    * exists (lost race / replay) — callers re-check idempotence then.
    *
    * Publication must be CREATE-IF-ABSENT, not rename: POSIX rename(2) —
    * what `Files.move(ATOMIC_MOVE)` compiles to — silently REPLACES an
    * existing target, so a rename-based protocol lets the second of two
    * racing writers clobber the winner's commit file (found by the
    * concurrent-writer race spec). A hard link of the fully-written temp
    * file throws `FileAlreadyExistsException` atomically when the target
    * exists — the filesystem analog of a catalog's conditional PUT (what
    * an Iceberg metastore commit or the reference's lease acquisition
    * provides, internal/staging/leases/leases.go:355-371).
    */
  def commit(meta: CommitMeta): Boolean = {
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    mapper.writerWithDefaultPrettyPrinter().writeValue(tmp.toFile, meta)
    try {
      try Files.createLink(pathFor(meta.version), tmp)
      catch {
        case _: UnsupportedOperationException =>
          // no hard links on this filesystem: fall back to atomic rename
          // (single-writer deployments only — rename cannot detect a race)
          Files.move(tmp, pathFor(meta.version), StandardCopyOption.ATOMIC_MOVE)
      }
      Files.deleteIfExists(tmp)
      synchronized {
        if (keyCache != null) {
          keyCache += meta.idempotenceKey
          cacheHead = math.max(cacheHead, meta.version)
        }
      }
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        // lost race: ANOTHER WRITER INSTANCE published this version, and
        // its idempotence key was never seen by this instance's cache —
        // drop the cache so the caller's post-failure idempotence re-check
        // reads the log (a stale cache here turned a cross-instance
        // same-key replay into a spurious conflict error)
        synchronized { keyCache = null; cacheHead = 0L }
        false
    }
  }
}
