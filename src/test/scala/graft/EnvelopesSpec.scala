package graft

import org.apache.spark.sql.functions._
import graft.feed.{Changefeed, Envelopes}
import graft.model.Hlc

class EnvelopesSpec extends SparkSpec {
  import spark.implicits._

  test("webhook envelope: payload fan-out by topic + resolved marker") {
    val body1 =
      """{"payload":[
        |{"after":{"pk":1,"v":"a"},"key":[1],"topic":"t1","updated":"10.0000000001"},
        |{"after":{"pk":2,"v":"b"},"key":[2],"topic":"t2","updated":"11.0000000000"},
        |{"after":null,"key":[3],"topic":"t1","updated":"12.0000000000"}
        |],"length":3}""".stripMargin.replaceAll("\n", "")
    val body2 = """{"resolved":"15.0000000002"}"""
    val df = Seq(body1, body2).toDF("value")
    val parsed = Envelopes.parseWebhookLines(df, withFile = false)
    val muts = parsed
      .filter(!col(Changefeed.RESOLVED))
      .select("topic", "key", "data", "nanos", "logical")
      .as[(String, String, Option[String], Long, Int)]
      .collect()
      .toSet
    assert(
      muts == Set(
        ("t1", "[1]", Some("""{"pk":1,"v":"a"}"""), 10L, 1),
        ("t2", "[2]", Some("""{"pk":2,"v":"b"}"""), 11L, 0),
        ("t1", "[3]", None, 12L, 0)
      )
    )
    val res = parsed
      .filter(col(Changefeed.RESOLVED))
      .select("nanos", "logical")
      .as[(Long, Int)]
      .collect()
      .toSeq
    assert(res == Seq((15L, 2)))
  }

  test("CDC-query envelope: __event__ delete + positional key from PK cols") {
    val lines = Seq(
      """{"pk1":"a","pk2":7,"v":"x","__event__":"insert","__crdb__":{"updated":"20.0000000001"}}""",
      """{"pk1":"b","pk2":8,"v":"y","__event__":"delete","__crdb__":{"updated":"21.0000000000"}}"""
    ).toDF("value")
    val parsed =
      Envelopes.parseQueryLines(lines, Seq("pk1", "pk2"), withFile = false)
    val rows = parsed
      .select("key", "data", "nanos", "logical")
      .as[(String, Option[String], Long, Int)]
      .collect()
      .toSet
    assert(rows.exists { case (k, d, n, l) =>
      k == """["a","7"]""" && n == 20L && l == 1 && d.exists(s =>
        s.contains("\"v\":\"x\"") && !s.contains("__event__") && !s.contains("__crdb__")
      )
    })
    assert(rows.contains((("""["b","8"]"""), None, 21L, 0)))
  }

  test("CDC-query envelope: structural strip survives any key order / nesting / lookalikes") {
    // __crdb__ FIRST and __event__ first — the regex-parser failure modes:
    // a leading envelope key must not leave a dangling comma, a nested
    // object inside __crdb__ must not break the strip, and a string VALUE
    // containing the literal text "__event__" must survive untouched.
    val lines = Seq(
      """{"__crdb__":{"updated":"30.0000000000","mvcc":{"inner":1}},"__event__":"insert","pk1":"a","v":5}""",
      """{"__event__":"update","pk1":"b","v":{"nested":[1,2]},"note":"contains \"__event__\" text","__crdb__":{"updated":"31.0000000007"}}""",
      """{"pk1":"c","v":9007199254740993,"dec":4E+2,"__event__":"insert","__crdb__":{"updated":"32.0000000000"}}"""
    ).toDF("value")
    val parsed = Envelopes.parseQueryLines(lines, Seq("pk1"), withFile = false)
    val rows = parsed
      .select("key", "data", "nanos", "logical")
      .as[(String, Option[String], Long, Int)]
      .collect()
      .map(r => (r._1, r._2.getOrElse(""), r._3, r._4))
      .sortBy(_._3)
    assert(rows(0)._1 == """["a"]""" && rows(0)._3 == 30L)
    // the rebuilt row image is VALID JSON with exactly the payload keys
    val d0 = spark.read.json(Seq(rows(0)._2).toDS()).collect()(0)
    assert(d0.getAs[String]("pk1") == "a" && d0.getAs[Long]("v") == 5L)
    assert(!rows(0)._2.contains("__crdb__") && !rows(0)._2.contains("__event__"))
    // string value containing the envelope-key text is preserved
    assert(rows(1)._2.contains("""contains \"__event__\" text"""))
    assert(rows(1)._2.contains(""""nested":[1,2]"""))
    assert(rows(1)._4 == 7)
    // numbers copied as exact wire text: 2^53+1 and engineering decimals
    assert(rows(2)._2.contains("9007199254740993"))
    assert(rows(2)._2.contains("4E+2"))
  }

  test("webhook CDC-query envelope: payload rows + body-level resolved") {
    val body1 =
      """{"payload":[
        |{"__event__":"insert","pk":42,"v":99,"__crdb__":{"updated":"10.0000000000"}},
        |{"__crdb__":{"updated":"11.0000000003"},"__event__":"delete","pk":43,"v":null}
        |],"length":2}""".stripMargin.replaceAll("\n", "")
    val body2 = """{"__crdb__":{"resolved":"15.0000000002"}}"""
    val df = Seq(body1, body2).toDF("value")
    val parsed = Envelopes.parseWebhookQueryLines(df, Seq("pk"), withFile = false)
    val muts = parsed
      .filter(!col(Changefeed.RESOLVED))
      .select("key", "data", "nanos", "logical")
      .as[(String, Option[String], Long, Int)]
      .collect()
      .toSet
    assert(muts.exists { case (k, d, n, l) =>
      k == """["42"]""" && n == 10L && l == 0 &&
        d.exists(s => s.contains("\"v\":99") && !s.contains("__"))
    })
    // delete: data null even though the wire carries a row image
    assert(muts.contains((("""["43"]"""), None, 11L, 3)))
    val res = parsed
      .filter(col(Changefeed.RESOLVED))
      .select("nanos", "logical")
      .as[(Long, Int)]
      .collect()
      .toSeq
    assert(res == Seq((15L, 2)))
  }

  test("golden: one logical feed in every envelope parses to the same unified rows") {
    // upsert, delete, a stamp without a `.logical` part, a second upsert and
    // a resolved marker, plus a blank and a garbage line in every rendering
    val rows = Seq(
      ("a", """{"pk":"a","v":1}""", "10.0000000001", "insert"),
      ("b", """{"pk":"b","v":null}""", "11", "delete"),
      ("c", """{"pk":"c","v":"x"}""", "12.0000000000", "update")
    )
    val marker = "15.0000000002"
    val noise = Seq("", "not json {")
    def isDelete(event: String) = event == "delete"
    def changefeed(withTopic: Boolean) = rows.map { case (pk, data, stamp, event) =>
      val after = if (isDelete(event)) "null" else data
      val topic = if (withTopic) ""","topic":"t"""" else ""
      s"""{"after":$after,"key":["$pk"]$topic,"updated":"$stamp"}"""
    }
    val queryRows = rows.map { case (_, data, stamp, event) =>
      data.stripSuffix("}") + s""","__event__":"$event","__crdb__":{"updated":"$stamp"}}"""
    }
    def webhook(payload: Seq[String]) =
      s"""{"payload":[${payload.mkString(",")}],"length":${payload.size}}"""
    val queryMarker = s"""{"__crdb__":{"resolved":"$marker"}}"""
    val ndjson = changefeed(withTopic = false) :+ s"""{"resolved":"$marker"}"""
    val hook = Seq(webhook(changefeed(withTopic = true)), s"""{"resolved":"$marker"}""")
    val query = queryRows :+ queryMarker
    val hookQuery = Seq(webhook(queryRows), queryMarker)
    def df(lines: Seq[String]) = (lines ++ noise).toDF("value")

    val expected = Seq(
      (Some("""["a"]"""), Some("""{"pk":"a","v":1}"""), 10L, 1, false),
      (Some("""["b"]"""), None, 11L, 0, false),
      (Some("""["c"]"""), Some("""{"pk":"c","v":"x"}"""), 12L, 0, false),
      (None, None, 15L, 2, true)
    )
    def unified(parsed: org.apache.spark.sql.DataFrame) =
      parsed
        .select("key", "data", "nanos", "logical", "is_resolved")
        .as[(Option[String], Option[String], Long, Int, Boolean)]
        .collect()
        .toSeq
        .sortBy(r => (r._3, r._4))
    def topics(parsed: org.apache.spark.sql.DataFrame) =
      parsed.orderBy("nanos").select("topic").as[Option[String]].collect().toSeq
    val topicFile = df(hookQuery).withColumn(Changefeed.SRC_FILE, lit("/feed/topic=t/0001.json"))
    val byTopic = Envelopes.parseWebhookQueryTopicLines(topicFile, Map("t" -> Seq("pk")))
    val parsedAll = Seq(
      "ndjson" -> Changefeed.parseLines(df(ndjson), withFile = false),
      "webhook" -> Envelopes.parseWebhookLines(df(hook), withFile = false),
      "query" -> Envelopes.parseQueryLines(df(query), Seq("pk"), withFile = false),
      "webhook-query" -> Envelopes.parseWebhookQueryLines(df(hookQuery), Seq("pk"), withFile = false),
      "webhook-query-topic" -> byTopic
    )
    parsedAll.foreach { case (name, parsed) =>
      assert(unified(parsed) == expected, name)
    }
    val someT = Seq(Some("t"), Some("t"), Some("t"), None)
    assert(topics(parsedAll(1)._2) == someT)
    assert(topics(byTopic) == someT)
    assert(byTopic.select(Changefeed.SRC_FILE).as[String].collect().toSet ==
      Set("/feed/topic=t/0001.json"))
  }

  test("resolved filename timestamp parse (33 digits)") {
    // 2023-11-14 22:13:20 UTC = epoch 1700000000
    val name = "20231114221320" + "123456789" + "0000000042" + ".RESOLVED"
    val got = Envelopes.parseResolvedFilename(name)
    assert(got.contains(Hlc(1700000000123456789L, 42)))
    assert(Envelopes.parseResolvedFilename("junk.RESOLVED").isEmpty)
  }

  test("FK levels: layered order, parallel-safe within level, cycle error") {
    import graft.loop.FkLevels
    val levels = FkLevels.levels(
      Seq("grandchild", "child_a", "child_b", "parent", "lone"),
      Map(
        "child_a" -> Set("parent"),
        "child_b" -> Set("parent"),
        "grandchild" -> Set("child_a", "child_b")
      )
    )
    assert(levels(0).toSet == Set("parent", "lone"))
    assert(levels(1).toSet == Set("child_a", "child_b"))
    assert(levels(2) == Seq("grandchild"))
    intercept[IllegalArgumentException] {
      FkLevels.levels(Seq("a", "b"), Map("a" -> Set("b"), "b" -> Set("a")))
    }
  }
}
