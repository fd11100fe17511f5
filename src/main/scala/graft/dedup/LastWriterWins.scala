package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-writer-wins dedup: for duplicate keys keep the row with the maximum
  * HLC timestamp.
  *
  * Mirrors the reference's `msort.UniqueByKey` kernel (reference:
  * internal/util/msort/msort.go:36-71), which is run on every batch before
  * apply (internal/target/apply/apply.go:148-151). Re-expressed as the
  * canonical Catalyst window:
  *
  * {{{ row_number() OVER (PARTITION BY key ORDER BY nanos DESC, logical DESC) = 1 }}}
  *
  * Tie-breaking: the reference keeps an arbitrary winner for exact-ts
  * duplicates (msort.go:33-35). Here ties are broken deterministically by a
  * caller-supplied tiebreaker column (defaults to none — arbitrary like the
  * reference, but stable within a plan).
  *
  * Skew: changefeeds of hot keys concentrate a single key's updates into one
  * window partition. [[dedupSalted]] is the scale path: a two-phase reduce
  * that first combines within `(key, salt)` sub-partitions — where salt is
  * derived from the *timestamp* so it spreads one key's rows across S
  * reducers — then reduces the S survivors per key. Map-side partial
  * aggregation (`max_by`) keeps the shuffle small; no single reducer ever
  * sees all rows of a hot key.
  */
object LastWriterWins {

  /** Plain windowed LWW. `keyCols` identify the row; `tsCols` order versions
    * (highest wins), compared lexicographically like an HLC.
    */
  def dedup(df: DataFrame, keyCols: Seq[String], tsCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(tsCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Salted two-phase LWW for hot-key skew. Semantically identical to
    * [[dedup]] up to timestamp ties (both keep *a* max-ts row; when several
    * rows share the exact max timestamp the surviving payload is arbitrary,
    * as in the reference).
    *
    * Phase 1 groups by (key, salt) with `max_by(struct(all), ts)` — partial
    * aggregation combines map-side, so the shuffle carries at most
    * S rows per key regardless of input skew. Phase 2 reduces the S
    * survivors.
    *
    * Plan-shape note (r7 audit): `max_by` carries a struct-typed
    * aggregation buffer, which HashAggregateExec cannot hold (it requires
    * mutable primitive buffer fields), so BOTH phases physically plan as
    * SortAggregate — each partial pays a per-partition sort by its grouping
    * key, much like the window variant's sort. ObjectHashAggregate is no
    * escape either: it only serves TypedImperativeAggregates and falls back
    * to sort-based at 128 distinct keys by default. The salted shape's
    * value is therefore skew immunity (bounded rows per reducer key), NOT a
    * sort-free plan; rewrites that would dodge the sort (argmax-via-join,
    * packed orderings) cost extra shuffles or only work for special key
    * types, and were measured/rejected in the r7 optimization pass.
    */
  def dedupSalted(
      df: DataFrame,
      keyCols: Seq[String],
      tsCols: Seq[String],
      saltBuckets: Int = 64
  ): DataFrame = {
    val cols = df.columns
    val tsStruct = struct(tsCols.map(col): _*)
    val salt = pmod(xxhash64(tsCols.map(col): _*), lit(saltBuckets))
    val rowStruct = struct(cols.map(col): _*)
    val phase1 = df
      .groupBy((keyCols.map(col) :+ salt.as("__salt")): _*)
      .agg(max_by(rowStruct, tsStruct).as("__row"))
    val phase2 = phase1
      .groupBy(keyCols.map(col): _*)
      .agg(
        max_by(
          col("__row"),
          struct(tsCols.map(c => col(s"__row.$c")): _*)
        ).as("__row")
      )
    phase2.select(cols.map(c => col(s"__row.$c").as(c)): _*)
  }
}
