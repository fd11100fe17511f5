package graft.feed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Hlc
import Changefeed.{SRC_FILE, markerRows, queryRows, srcFile, unified}

/** The reference's other ingest envelopes, re-expressed declaratively.
  *
  *  - Webhook (CRDB v21.2 webhook sink): one JSON body carrying a payload
  *    ARRAY of mutations plus an optional resolved field, each element
  *    routed by `topic` to its target table
  *    (reference: internal/source/cdc/webhook.go:35-115). All mutations of
  *    one body share a staging transaction — in Spark the whole micro-batch
  *    shares the `foreachBatch` commit, which is strictly stronger.
  *
  *  - CDC-query envelope: row payloads carry `__event__`
  *    (insert/update/delete) and the MVCC stamp under `__crdb__.updated`;
  *    deletes arrive WITH a row image, and the key is extracted positionally
  *    from the target's PK columns
  *    (reference: internal/source/cdc/ndjson_query.go:43-109,
  *    query_payload.go:50-158).
  *
  *  - Webhook CDC-query envelope: a webhook body whose payload elements
  *    are CDC-query rows, with a body-level `__crdb__.resolved` timestamp
  *    (reference: internal/source/cdc/webhook_query.go:58-115).
  *
  *  - Resolved-filename timestamps: `.../<33 digits>.RESOLVED` where the
  *    digits are YYYYMMDDHHMMSS + 9 nanos digits + 10 logical digits
  *    (reference: internal/source/cdc/resolved.go:69-101).
  *
  * Every parser here is built from the unified-feed core in [[Changefeed]]
  * (stamp split, source-file column, marker rows, CDC-query rows) and
  * produces the schema of [[Changefeed.parseLines]], so any of them plugs
  * into the replay loop via `ReplayLoop(parse = ...)`.
  */
object Envelopes {

  /** Parse webhook bodies (column `value`) into the unified feed schema
    * plus a `topic` column:
    * `(topic, key, data, nanos, logical, is_resolved, src_file)`.
    */
  def parseWebhookLines(lines: DataFrame, withFile: Boolean = true): DataFrame = {
    // ONE from_json per body and ONE per payload element (string fields
    // keep raw JSON subtrees) — no repeated get_json_object re-parses
    val bodySchema = StructType(
      Seq(
        StructField("payload", ArrayType(StringType)),
        StructField("resolved", StringType)
      )
    )
    val elemSchema = StructType(
      Seq(
        StructField("topic", StringType),
        StructField("key", StringType),
        StructField("after", StringType),
        StructField("updated", StringType)
      )
    )
    val base = lines.select(
      from_json(col("value"), bodySchema).as("__b"),
      srcFile(lines, withFile).as(SRC_FILE)
    )
    val elems = base
      .select(explode(col("__b.payload")).as("elem"), col(SRC_FILE))
      .select(from_json(col("elem"), elemSchema).as("__e"), col(SRC_FILE))
    unified(elems, Some(col("__e.topic")), col("__e.key"), col("__e.after"),
      col("__e.updated"), lit(false))
      .unionByName(markerRows(base, col("__b.resolved"), withTopic = true))
  }

  /** Parse CDC-query ndjson (column `value`): payload rows carry
    * `__event__` and `__crdb__.updated`; the key is built positionally from
    * `pkCols`. Output matches [[Changefeed.parseLines]]'s schema (see
    * [[Changefeed.queryRows]] for deletes and envelope stripping).
    */
  def parseQueryLines(
      lines: DataFrame,
      pkCols: Seq[String],
      withFile: Boolean = true
  ): DataFrame = {
    val base = lines.select(col("value"), srcFile(lines, withFile).as(SRC_FILE))
    // in-stream resolved markers `{"__crdb__":{"resolved":"<hlc>"}}` — the
    // webhook-query marker shape carried over the ndjson transport. (The
    // reference signals query-feed resolved timestamps as URL-side
    // `<33-digit>.RESOLVED` requests, resolved_query.go:13-48; a file feed
    // has no URL side-channel, so the marker rides the stream exactly like
    // the plain ndjson envelope's `{"resolved":...}` lines.)
    val resolved = from_json(col("value"), crdbResolved).getField("__crdb__").getField("resolved")
    queryRows(base, col("value"), pkCols, topic = None)(positionalKey(pkCols))
      .unionByName(markerRows(base, resolved, withTopic = false))
  }

  /** Parse webhook CDC-query bodies (column `value`) — the v23.1 webhook
    * scheme for changefeeds with queries: one JSON body carrying a `payload`
    * ARRAY whose elements are CDC-query rows (`__event_op__` convention via
    * `__event__` label + per-row `__crdb__.updated`), or a body-level
    * `__crdb__.resolved` timestamp
    * (reference: internal/source/cdc/webhook_query.go:58-115). The webhook
    * URL routes the whole body to ONE target table, so the output is the
    * unified feed schema without a topic column.
    */
  def parseWebhookQueryLines(
      lines: DataFrame,
      pkCols: Seq[String],
      withFile: Boolean = true
  ): DataFrame =
    webhookQuery(lines, withFile, pkCols, topic = None)(positionalKey(pkCols))

  /** Parse webhook CDC-query bodies for the MULTI-TABLE loop. The
    * reference routes a webhook-query body to its one target table by URL
    * path (internal/source/cdc/handler.go:60-116 dispatching
    * webhook_query.go:58-115); a file feed has no URL side-channel, so the
    * topic rides the file PATH as a `topic=<name>` segment — the
    * cloud-storage per-table-subdirectory convention. ONE pass over the
    * batch: a single union envelope schema carries the PK columns of
    * EVERY topic and per-topic key extraction selects its own columns via
    * a chained CASE on the topic column, so T topics cost one scan, not T
    * (codegen'd; no per-topic re-parse). Output matches
    * [[parseWebhookLines]]: `(topic, key, data, nanos, logical,
    * is_resolved, src_file)`; body-level `__crdb__.resolved` markers are
    * global (null topic), like webhook resolved timestamps covering the
    * whole schema.
    */
  def parseWebhookQueryTopicLines(
      lines: DataFrame,
      pkColsByTopic: Map[String, Seq[String]],
      withFile: Boolean = true
  ): DataFrame = {
    val allPk = pkColsByTopic.values.flatten.toSeq.distinct.sorted
    val topic = regexp_extract(col(SRC_FILE), "topic=([^/]+)", 1)
    webhookQuery(lines, withFile, allPk, Some(topic)) { env =>
      pkColsByTopic.toSeq.sortBy(_._1).foldLeft(lit(null).cast(StringType)) {
        case (acc, (t, pks)) => when(col("topic") === t, positionalKey(pks)(env)).otherwise(acc)
      }
    }
  }

  /** `{"__crdb__":{"resolved":...}}`: the CDC-query resolved marker. */
  private val crdbResolved = StructType(
    Seq(StructField("__crdb__", StructType(Seq(StructField("resolved", StringType)))))
  )

  /** The CDC-query key: a JSON array of the envelope's `pkCols` values. */
  private def positionalKey(pkCols: Seq[String])(env: Column): Column =
    to_json(array(pkCols.map(env.getField): _*))

  /** Webhook CDC-query bodies: payload elements are CDC-query rows keyed by
    * `key` over `pkCols`, and a body-level `__crdb__.resolved` is a marker.
    * A `topic` (an expression over `src_file`) leads the output as column
    * `topic`, and then markers are global (null topic).
    */
  private def webhookQuery(
      lines: DataFrame,
      withFile: Boolean,
      pkCols: Seq[String],
      topic: Option[Column]
  )(key: Column => Column): DataFrame = {
    val bodySchema = StructType(
      Seq(StructField("payload", ArrayType(StringType))) ++ crdbResolved.fields
    )
    val base = lines.select(
      from_json(col("value"), bodySchema).as("__b"),
      srcFile(lines, withFile).as(SRC_FILE)
    )
    // payload elements stay raw JSON text; each is one CDC-query row
    val elems = base.select(explode(col("__b.payload")).as("elem"), col(SRC_FILE))
    queryRows(topic.fold(elems)(elems.withColumn("topic", _)), col("elem"), pkCols,
      topic.map(_ => col("topic")))(key)
      .unionByName(markerRows(base, col("__b.__crdb__.resolved"), withTopic = topic.nonEmpty))
  }

  /** Parse the 33-digit resolved-filename timestamp
    * (YYYYMMDDHHMMSS ++ 9 nanos digits ++ 10 logical digits) — driver-side
    * Scala, mirroring resolved.go:69-101.
    */
  def parseResolvedFilename(name: String): Option[Hlc] = {
    val digits = name.takeWhile(_.isDigit)
    if (digits.length != 33) return None
    try {
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMddHHmmss")
        .withZone(java.time.ZoneOffset.UTC)
      val inst = java.time.Instant.from(fmt.parse(digits.substring(0, 14)))
      val nanosInSecond = digits.substring(14, 23).toLong
      val logical = digits.substring(23, 33).toInt
      Some(Hlc(inst.getEpochSecond * 1000000000L + nanosInSecond, logical))
    } catch { case _: Exception => None }
  }
}
