package graft.feed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ndjson changefeed codec.
  *
  * Wire format (reference: internal/source/cdc/ndjson.go:78-106,
  * resolved.go:36-115):
  * {{{
  * {"after":{...row image...}|null, "key":["pk1","pk2"], "updated":"<nanos>.<logical10>"}
  * {"resolved":"<nanos>.<logical10>"}
  * }}}
  *
  * Parsing is fully declarative: one `from_json` per line whose string-typed
  * fields keep raw JSON subtrees (so `after` stays an unparsed JSON string —
  * payload decoding against the target schema happens later, with explicit
  * types), and the HLC stamp is split with native string functions.
  * Everything stays inside whole-stage codegen; no UDFs.
  */
object Changefeed {

  /** Columns of a parsed feed DataFrame. */
  val KEY = "key"
  val DATA = "data"
  val NANOS = "nanos"
  val LOGICAL = "logical"
  val RESOLVED = "is_resolved"
  val SRC_FILE = "src_file"

  // The unified-feed core: every codec here and in [[Envelopes]] is built
  // from these helpers, the analog of the one mutation model the
  // reference's per-URL handlers share (internal/source/cdc/handler.go).

  /** The source-file column of raw `lines`: a pre-captured `src_file`
    * survives caching, input_file_name() does not (it evaluates to "" once
    * the scan is behind a cache node).
    */
  private[feed] def srcFile(lines: DataFrame, withFile: Boolean): Column =
    if (lines.columns.contains(SRC_FILE)) col(SRC_FILE)
    else if (withFile) input_file_name()
    else lit("")

  /** `rows` projected to the unified schema, `topic` (when given) first,
    * with the `<nanos>.<logical>` `stamp` split (no `.logical` part means
    * logical 0); rows whose stamp is missing are dropped. `rows` carries
    * `src_file`.
    */
  private[feed] def unified(
      rows: DataFrame,
      topic: Option[Column],
      key: Column,
      data: Column,
      stamp: Column,
      resolved: Column
  ): DataFrame =
    rows
      .select(
        topic.map(_.as("topic")).toSeq ++ Seq(
          key.as(KEY),
          data.as(DATA),
          substring_index(stamp, ".", 1).cast(LongType).as(NANOS),
          when(stamp.contains("."), substring_index(stamp, ".", -1).cast(IntegerType))
            .otherwise(lit(0))
            .as(LOGICAL),
          resolved.as(RESOLVED),
          col(SRC_FILE)
        ): _*
      )
      .filter(col(NANOS).isNotNull)

  /** Resolved-marker rows of `rows`, one per non-null `stamp`: key, data
    * (and topic, when `withTopic`: a global marker) are null.
    */
  private[feed] def markerRows(rows: DataFrame, stamp: Column, withTopic: Boolean): DataFrame = {
    val none = lit(null).cast(StringType)
    unified(rows, if (withTopic) Some(none) else None, none, none, stamp, lit(true))
  }

  /** Mutation rows of CDC-query row payloads held in `rowJson`: the
    * payload carries `__event__` and the stamp under `__crdb__.updated`,
    * and `key` builds the key column from the parsed envelope, whose
    * fields include `pkCols` as raw JSON text (so numeric keys serialize
    * exactly as on the wire). Deletes get `data = null` even though the
    * wire carries a row image (query_payload.go:117-139). The envelope is
    * stripped STRUCTURALLY ([[graft.functions.JsonDropKeys]]): any key
    * order, nested `__crdb__` and envelope-name lookalikes inside string
    * values parse correctly — the reference's decode-into-map-then-delete
    * (query_payload.go:117-158), not its wire bytes.
    */
  private[feed] def queryRows(
      rows: DataFrame,
      rowJson: Column,
      pkCols: Seq[String],
      topic: Option[Column]
  )(key: Column => Column): DataFrame = {
    graft.functions.GraftFunctions.register(rows.sparkSession)
    val envSchema = StructType(
      Seq(
        StructField("__event__", StringType),
        StructField("__crdb__", StructType(Seq(StructField("updated", StringType))))
      ) ++ pkCols.map(c => StructField(c, StringType))
    )
    val env = from_json(rowJson, envSchema)
    val data = when(env.getField("__event__") === "delete", lit(null).cast(StringType))
      .otherwise(graft.functions.GraftFunctions.jsonDropKeys(rowJson, "__event__", "__crdb__"))
    unified(rows, topic, key(env), data, env.getField("__crdb__").getField("updated"), lit(false))
  }

  /** Parse a DataFrame of raw ndjson lines (column `value`) into the unified
    * mutation/resolved schema:
    * `(key STRING, data STRING, nanos LONG, logical INT, is_resolved BOOLEAN, src_file STRING)`.
    *
    * Mutations: `data` is the raw row-image JSON (null => delete).
    * Resolved markers: `is_resolved = true`, key/data null.
    * Blank lines and unrecognized lines are dropped.
    */
  def parseLines(lines: DataFrame, withFile: Boolean = true): DataFrame = {
    // ONE from_json per line (string-typed fields keep raw JSON subtrees:
    // `after` stays the unparsed row image, `key` the raw array text) —
    // the previous per-field get_json_object re-parsed every line 3-4x.
    // The two-step projection keeps the parse from being duplicated by
    // projection collapse (from_json is non-cheap, so Catalyst preserves it).
    val envelope = StructType(
      Seq(
        StructField("after", StringType),
        StructField("key", StringType),
        StructField("updated", StringType),
        StructField("resolved", StringType)
      )
    )
    unified(
      lines.select(from_json(col("value"), envelope).as("__j"), srcFile(lines, withFile).as(SRC_FILE)),
      topic = None,
      key = col("__j.key"),
      data = col("__j.after"),
      stamp = coalesce(col("__j.resolved"), col("__j.updated")),
      resolved = col("__j.resolved").isNotNull
    )
  }

  /** Column expression encoding one parsed-feed row back to its ndjson line.
    * Inverse of [[parseLines]]; used by the generator and by tests.
    */
  def lineCol: Column = {
    val stamp = format_string("%d.%010d", col(NANOS), col(LOGICAL))
    when(
      col(RESOLVED),
      concat(lit("{\"resolved\":\""), stamp, lit("\"}"))
    ).otherwise(
      concat(
        lit("{\"after\":"),
        coalesce(col(DATA), lit("null")),
        lit(",\"key\":"),
        col(KEY),
        lit(",\"updated\":\""),
        stamp,
        lit("\"}")
      )
    )
  }
}
