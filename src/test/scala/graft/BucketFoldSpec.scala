package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Hlc
import graft.table.SnapshotTable

/** The merge-on-read fold of [[SnapshotTable]] reads — one scan that keeps
  * each bucket in its own task, folded with no exchange — against the fold
  * it replaced, kept here as the reference: `maxHlc` grouped by primary key
  * over `readRaw`. Seeded random tables carry several files per bucket, one
  * to three delta generations, exact-HLC duplicates, tombstones, a schema
  * evolved between base and deltas (a column added, int widened to long)
  * and an empty bucket; reads cover bucket subsets, time travel and
  * `changesBetween`, with v2 bucketing on (no exchange) and off (Catalyst
  * adds the exchange back).
  */
class BucketFoldSpec extends SparkSpec {

  private val pk = Seq("repo", "path")
  private val NumBuckets = 8
  private val EmptyBucket = 5
  private val CleanBucket = 2
  private val Bucketing = "spark.sql.sources.v2.bucketing.enabled"

  /** One generated row version; `stars`/`branch` are rendered to the
    * generation's schema (the base has `stars INT` and no `branch`).
    */
  private final case class Rec(
      repo: String,
      path: String,
      content: Option[String],
      stars: Option[Long],
      branch: Option[String],
      nanos: Long,
      logical: Int,
      deleted: Boolean
  )

  private val baseSchema = StructType.fromDDL(
    "repo STRING, path STRING, content STRING, stars INT, " +
      "__hlc_nanos BIGINT, __hlc_logical INT, __deleted BOOLEAN")
  private val evolvedSchema = StructType.fromDDL(
    "repo STRING, path STRING, content STRING, stars BIGINT, branch STRING, " +
      "__hlc_nanos BIGINT, __hlc_logical INT, __deleted BOOLEAN")

  private def frame(recs: Seq[Rec], evolved: Boolean): DataFrame = {
    val rows = recs.map { r =>
      if (evolved)
        Row(r.repo, r.path, r.content.orNull, r.stars.map(Long.box).orNull, r.branch.orNull,
          r.nanos, r.logical, r.deleted)
      else
        Row(r.repo, r.path, r.content.orNull, r.stars.map(s => Int.box(s.toInt)).orNull,
          r.nanos, r.logical, r.deleted)
    }
    spark.createDataFrame(java.util.List.of(rows: _*), if (evolved) evolvedSchema else baseSchema)
  }

  /** Keys of every bucket but [[EmptyBucket]], each with its bucket by the
    * table's own bucketing.
    */
  private lazy val keys: Seq[((String, String), Int)] = {
    import spark.implicits._
    (0 until 240).map(i => (s"r${i % 7}", s"p$i")).toDF("repo", "path")
      .withColumn("b", pmod(xxhash64(col("repo"), col("path")), lit(NumBuckets)).cast("int"))
      .filter(col("b") =!= EmptyBucket)
      .as[(String, String, Int)].collect().toSeq
      .map { case (r, p, b) => ((r, p), b) }
  }

  /** A table of one base and 1-3 delta generations (the first evolves the
    * schema; [[CleanBucket]] gets none), or with `compact` three delta
    * generations and a merge that compacts the buckets it touches. Returns
    * the table and the reference state of every version.
    */
  private def build(seed: Long, compact: Boolean)
      : (SnapshotTable, Map[Long, Map[(String, String), Row]]) = {
    val rnd = new scala.util.Random(seed)
    val t = new SnapshotTable(spark, tmpDir(s"bfold$seed"), numBuckets = NumBuckets,
      compactEvery = 4)
    // first versions in [100g, 100g+50), second ones in [100g+50, 100g+90):
    // equal HLCs only ever mean the same row
    def version(k: (String, String), gen: Int, second: Boolean): Rec = {
      val del = gen > 0 && rnd.nextInt(8) == 0
      Rec(k._1, k._2, if (del) None else Some(s"c$gen-${rnd.nextInt(1000)}"),
        if (del) None else Some(rnd.nextInt(1000).toLong + (if (gen > 0) 3000000000L else 0L)),
        if (del || gen == 0) None else Some(s"b$gen"),
        100L * gen + (if (second) 50 + rnd.nextInt(40) else rnd.nextInt(50)), rnd.nextInt(3), del)
    }
    // the compacting merge touches only buckets 0, 1 and 3
    def movable(gen: Int): Set[(String, String)] =
      keys.filter { case (_, b) => b != CleanBucket && (gen < 4 || Set(0, 1, 3)(b)) }
        .map(_._1).toSet
    var previous: Seq[Rec] = Nil
    val gens = if (compact) 4 else 1 + rnd.nextInt(3)
    val history = (0 to gens).map { gen =>
      val allowed = movable(gen)
      val chosen =
        if (gen == 0) keys.map(_._1) else keys.map(_._1).filter(k => allowed(k) && rnd.nextInt(10) < 4)
      // a second version of some keys inside the batch, and exact-HLC
      // duplicates of rows the previous generation already merged
      val fresh = chosen.map(version(_, gen, second = false)) ++
        chosen.filter(_ => rnd.nextInt(10) == 0).map(version(_, gen, second = true))
      val dups = previous.filter(r => allowed((r.repo, r.path)) && rnd.nextInt(20) == 0)
      val merged = t.merge(frame(fresh ++ dups, evolved = gen > 0), pk, s"g$gen",
        Hlc(100L * gen + 99, 0)).get
      assert(merged.metric("dropped_late").contains(0L))
      assert(merged.metric("delta_merge").contains(if (gen == 0 || gen == 4) 0L else 1L))
      previous = fresh
      merged.version -> referenceState(t)
    }.toMap
    (t, history)
  }

  private def withBucketing[T](on: Boolean)(f: => T): T = {
    val was = spark.conf.get(Bucketing)
    spark.conf.set(Bucketing, on.toString)
    try f
    finally spark.conf.set(Bucketing, was)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def reference(t: SnapshotTable, only: Option[Set[Int]]): DataFrame = {
    val raw = t.readRaw(only)
    SnapshotTable.maxHlc(raw, pk, raw.columns.toSeq)
  }

  /** Visible rows keyed by pk, by the reference fold (for time travel and
    * the changelog reference).
    */
  private def referenceState(t: SnapshotTable): Map[(String, String), Row] =
    reference(t, None).collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap

  private def check(t: SnapshotTable, history: Map[Long, Map[(String, String), Row]]): Unit = {
    val meta = t.log.latest().get
    val dirty = meta.deltas.filter(_._2.nonEmpty).keySet.map(_.toInt)
    val clean = meta.buckets.keySet.map(_.toInt) -- dirty
    assert(dirty.nonEmpty && clean.contains(CleanBucket))
    assert(!meta.buckets.contains(EmptyBucket.toString))
    val subsets = Seq(None, Some(dirty.take(2)), Some(Set(EmptyBucket)),
      Some(dirty.take(1) + CleanBucket + EmptyBucket))
    subsets.foreach { only =>
      val got = rows(t.readCurrent(only))
      assert(got == rows(reference(t, only)), s"readCurrent($only) differs from the reference")
      assert(got.size == got.distinct.size)
    }
    history.foreach { case (v, state) =>
      val want = state.values.filter(r => !r.getAs[Boolean](SnapshotTable.DELETED))
        .map(r => Row.fromSeq(r.toSeq.take(r.length - SnapshotTable.META_COLS.size)).toString)
        .toSeq.sorted
      assert(rows(t.readAt(v)) == want, s"readAt($v) differs from the reference")
    }
    val versions = history.keys.toSeq.sorted
    versions.zip(versions.tail).foreach { case (a, b) =>
      assert(rows(t.changesBetween(a, b)) == expectedChanges(history(a), history(b)),
        s"changesBetween($a, $b) differs from the reference")
    }
    assert(rows(t.changesBetween(versions.head, versions.last)) ==
      expectedChanges(history(versions.head), history(versions.last)))
  }

  /** `changesBetween` by hand over two reference states. */
  private def expectedChanges(
      from: Map[(String, String), Row],
      to: Map[(String, String), Row]
  ): Seq[String] = {
    def live(r: Option[Row]) = r.exists(x => !x.getAs[Boolean](SnapshotTable.DELETED))
    def hlc(r: Row) = (r.getAs[Long](SnapshotTable.NANOS), r.getAs[Int](SnapshotTable.LOGICAL))
    def image(r: Row, change: String) = {
      def opt(c: String): Any =
        if (r.schema.fieldNames.contains(c)) r.getAs[Any](c) match {
          case i: Int => i.toLong
          case other => other
        }
        else null
      Row(r.getString(0), r.getString(1), opt("content"), opt("stars"), opt("branch"),
        change).toString
    }
    (from.keySet ++ to.keySet).toSeq.flatMap { k =>
      val (f, t) = (from.get(k), to.get(k))
      if (!live(f) && live(t)) Some(image(t.get, "insert"))
      else if (live(f) && !live(t)) Some(image(f.get, "delete"))
      else if (live(f) && live(t) && hlc(f.get) != hlc(t.get)) Some(image(t.get, "update"))
      else None
    }.sorted
  }

  Seq(11L, 12L, 13L, 14L).foreach { seed =>
    test(s"bucket-local fold equals maxHlc over readRaw (seed $seed)") {
      val (t, history) = build(seed, compact = seed == 14L)
      withBucketing(on = true)(check(t, history))
      withBucketing(on = false)(check(t, history))
    }
  }

  test("a read over deltas in every bucket plans its fold with no exchange") {
    val t = new SnapshotTable(spark, tmpDir("bfoldplan"), numBuckets = 4, compactEvery = 4)
    val all = (0 until 64).map(i => Rec("r", s"p$i", Some("v1"), Some(1L), None, 10L, 0, false))
    t.merge(frame(all, evolved = false), pk, "k1", Hlc(10, 0))
    t.merge(frame(all.map(_.copy(content = Some("v2"), nanos = 20L)), evolved = false), pk, "k2",
      Hlc(20, 0))
    val meta = t.log.latest().get
    assert(meta.deltas.count(_._2.nonEmpty) == 4)
    val want = rows(reference(t, None))
    withBucketing(on = true) {
      val df = t.readCurrent()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"the fold must not shuffle:\n$plan")
      assert("BatchScan".r.findAllMatchIn(plan).size == 1, s"one scan per read:\n$plan")
      assert(rows(df) == want)
    }
    withBucketing(on = false) {
      val df = t.readCurrent()
      assert(df.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(rows(df) == want)
    }
  }
}
