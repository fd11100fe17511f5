package cdcbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.feed.Generator
import graft.feed.Generator.FeedSpec

/** Independent last-writer-wins reference: per key, the max-HLC row image
  * over the generated events, a delete meaning absence. Built from the
  * generator's pure per-event functions and plain Spark SQL; no engine code.
  */
object Reference {

  /** Row count, state fingerprint and live payload bytes of a final state. */
  final case class State(rows: Long, fingerprint: Long, liveBytes: Long)

  /** The fingerprint every check uses, over a table's visible rows. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df
      .agg(
        count(lit(1)),
        expr(s"bit_xor(xxhash64(${cols.mkString(", ")}, sha2(content, 256)))")
      )
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  val ChangefeedCols: Seq[String] = Seq("repo", "path", "commit")

  /** Winning arrival index per key over the whole feed: the highest HLC. */
  private def winners(spec: FeedSpec): Iterable[Long] = {
    val best = scala.collection.mutable.HashMap.empty[Long, (Long, Int, Long)]
    (0L until spec.numEvents).foreach { j =>
      val e = Generator.eventAt(spec, j)
      val k = Generator.keyId(spec, Generator.canonicalIndex(spec, j))
      best.get(k) match {
        case Some((bn, bl, _)) if bn > e.nanos || (bn == e.nanos && bl >= e.logical) =>
        case _ => best.put(k, (e.nanos, e.logical, j))
      }
    }
    best.values.map(_._3)
  }

  /** Final state of the repo_files changefeed after every event of `spec`. */
  def changefeed(spark: SparkSession, spec: FeedSpec): State = {
    import spark.implicits._
    val live = winners(spec).toSeq.flatMap(j => Generator.eventAt(spec, j).data.map(d => (j, d)))
    val rows = live.map { case (j, _) =>
      val c = Generator.canonicalIndex(spec, j)
      val k = Generator.keyId(spec, c)
      (Generator.repoOf(spec, k), Generator.pathOf(k), Generator.commitOf(spec, c),
        Generator.contentOf(spec, k, c))
    }
    val (n, fp) = fingerprint(rows.toDF("repo", "path", "commit", "content"), ChangefeedCols)
    State(n, fp, live.map(_._2.length.toLong).sum)
  }
}
