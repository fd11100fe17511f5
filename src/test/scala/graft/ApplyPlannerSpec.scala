package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.applyops.{ApplyPlanner, TableSpec}
import graft.model.{SchemaDriftException, TableConfig}
import graft.table.SnapshotTable

/** Mirrors the reference's apply-configuration truth tables
  * (reference: internal/target/apply/apply_test.go:42-200, 413-744).
  */
class ApplyPlannerSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(
    Seq(
      StructField("repo", StringType),
      StructField("path", StringType),
      StructField("commit", StringType),
      StructField("content", StringType)
    )
  )
  private val baseSpec =
    TableSpec(schema, Seq("repo", "path"), TableConfig(), allowEvolution = false)

  private def win(rows: Seq[(String, String, Long, Int)]): DataFrame =
    rows
      .map { case (k, d, n, l) => (k, Option(d), n, l, "f") }
      .toDF("key", "data", "nanos", "logical", "src_file")

  private def mut(repo: String, path: String, extra: String = "", n: Long = 10L) =
    (
      s"""["$repo","$path"]""",
      s"""{"repo":"$repo","path":"$path","commit":"c1","content":"x"$extra}""",
      n,
      0
    )

  test("happy path: upsert and delete rows, PK from key for deletes") {
    val w = win(Seq(mut("r1", "a"), (s"""["r1","b"]""", null, 11L, 0)))
    val r = ApplyPlanner.plan(spark, baseSpec, w, saltBuckets = 4)
    val rows = r.batch
      .select("repo", "path", SnapshotTable.DELETED)
      .as[(String, String, Boolean)]
      .collect()
      .toSet
    assert(rows == Set(("r1", "a", false), ("r1", "b", true)))
  }

  test("unexpected column without extras/evolution is a drift error") {
    val w = win(Seq(mut("r1", "a", ""","no_good":true""")))
    val e = intercept[SchemaDriftException] {
      ApplyPlanner.plan(spark, baseSpec, w, 4)
    }
    assert(e.getMessage.contains("unexpected columns"))
    assert(e.getMessage.contains("no_good"))
  }

  test("unexpected column with extras configured lands in the extras map") {
    val spec = baseSpec.copy(config = TableConfig(extras = Some("meta")))
    val w = win(Seq(mut("r1", "a", ""","no_good":"true"""")))
    val r = ApplyPlanner.plan(spark, spec, w, 4)
    val m = r.batch.select("meta").as[Map[String, String]].head()
    assert(m == Map("no_good" -> "true"))
    assert(r.evolvedSchema.fieldNames.contains("meta"))
  }

  test("unexpected column with evolution enabled widens the schema") {
    val spec = baseSpec.copy(allowEvolution = true)
    val w = win(Seq(mut("r1", "a", ""","stars":42""")))
    val r = ApplyPlanner.plan(spark, spec, w, 4)
    assert(r.evolvedSchema.fieldNames.contains("stars"))
    assert(r.batch.select("stars").as[Long].head() == 42L)
  }

  test("missing PK column in payload is an error") {
    val w = win(
      Seq((s"""["r1","a"]""", s"""{"repo":"r1","commit":"c"}""", 10L, 0))
    )
    val e = intercept[SchemaDriftException] {
      ApplyPlanner.plan(spark, baseSpec, w, 4)
    }
    assert(e.getMessage.contains("primary-key"))
  }

  test("wrong key arity is an error (received N expect M)") {
    for (badKey <- Seq(s"""["r1"]""", s"""["r1","a","x"]""")) {
      val w = win(
        Seq((badKey, s"""{"repo":"r1","path":"a","commit":"c","content":"x"}""", 10L, 0))
      )
      val e = intercept[SchemaDriftException] {
        ApplyPlanner.plan(spark, baseSpec, w, 4)
      }
      assert(e.getMessage.contains("expected 2"))
    }
  }

  test("missing non-PK columns are tolerated (null)") {
    val w = win(
      Seq((s"""["r1","a"]""", s"""{"repo":"r1","path":"a"}""", 10L, 0))
    )
    val r = ApplyPlanner.plan(spark, baseSpec, w, 4)
    val row = r.batch.select("commit", "content").as[(Option[String], Option[String])].head()
    assert(row == ((None, None)))
  }

  test("ignored columns are silently dropped") {
    val spec = baseSpec.copy(config = TableConfig(ignore = Set("no_good")))
    val w = win(Seq(mut("r1", "a", ""","no_good":true""")))
    val r = ApplyPlanner.plan(spark, spec, w, 4)
    assert(!r.batch.columns.contains("no_good"))
    assert(r.batch.count() == 1)
  }

  test("renamed source column feeds the target column") {
    val spec = baseSpec.copy(
      config = TableConfig(sourceNames = Map("commit" -> "rev"))
    )
    val w = win(
      Seq(
        (
          s"""["r1","a"]""",
          s"""{"repo":"r1","path":"a","rev":"abc","content":"x"}""",
          10L,
          0
        )
      )
    )
    val r = ApplyPlanner.plan(spark, spec, w, 4)
    assert(r.batch.select("commit").as[String].head() == "abc")
  }

  test("expression columns rewrite values, including PK ($0 substitution)") {
    val spec = baseSpec.copy(
      config = TableConfig(exprs =
        Map(
          "path" -> "concat($0, '.bak')", // PK rewrite
          "content" -> "upper($0)",
          "commit" -> "'fixed'" // constant expression
        )
      )
    )
    val w = win(Seq(mut("r1", "a")))
    val r = ApplyPlanner.plan(spark, spec, w, 4)
    val row =
      r.batch.select("path", "content", "commit").as[(String, String, String)].head()
    assert(row == (("a.bak", "X", "fixed")))
  }

  test("deadline filter silently drops stale rows; deletes exempt") {
    val tsSchema = StructType(
      Seq(
        StructField("repo", StringType),
        StructField("path", StringType),
        StructField("seen_at", TimestampType)
      )
    )
    val spec = TableSpec(
      tsSchema,
      Seq("repo", "path"),
      TableConfig(deadlines = Map("seen_at" -> "10 MINUTES")),
      allowEvolution = false
    )
    val now = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def row(path: String, t: String) =
      (
        s"""["r1","$path"]""",
        s"""{"repo":"r1","path":"$path","seen_at":"$t"}""",
        10L,
        0
      )
    val w = win(
      Seq(
        row("fresh", "2024-01-01 11:55:00"),
        row("stale", "2024-01-01 11:40:00"),
        (s"""["r1","dead"]""", null, 11L, 0) // delete: exempt
      )
    )
    val r = ApplyPlanner.plan(spark, spec, w, 4, now = Some(now))
    val paths = r.batch.select("path").as[String].collect().toSet
    assert(paths == Set("fresh", "dead"))
  }

  test("CAS filter: apply iff no current row or proposed tuple greater") {
    // current table: pk -> ver
    val current = Seq(("r1", "a", 5, false), ("r1", "b", 9, false))
      .toDF("repo", "path", "ver", SnapshotTable.DELETED)
    val batch = Seq(
      ("r1", "a", 7, false), // 7 > 5: applied
      ("r1", "b", 9, false), // 9 == 9: rejected (strictly greater required)
      ("r1", "c", 1, false), // no current row: applied
      ("r1", "b", 0, true) // delete: always applied
    ).toDF("repo", "path", "ver", SnapshotTable.DELETED)
    val got = SnapshotTable
      .casFilter(batch, current, Seq("repo", "path"), Seq("ver"))
      .select("repo", "path", "ver")
      .as[(String, String, Int)]
      .collect()
      .toSet
    assert(got == Set(("r1", "a", 7), ("r1", "c", 1), ("r1", "b", 0)))
  }

  test("CAS audit: one-pass counts equal the casFilter-derived accounting") {
    val current = Seq(("r1", "a", 5, false), ("r1", "b", 9, false))
      .toDF("repo", "path", "ver", SnapshotTable.DELETED)
    val batch = Seq(
      ("r1", "a", 7, false), // accepted (7 > 5)
      ("r1", "a", 3, false), // rejected (3 < 5)
      ("r1", "b", 9, false), // rejected (ties lose)
      ("r1", "c", 1, false), // accepted (no current row)
      ("r1", "b", 0, true) // accepted (delete bypasses CAS)
    ).toDF("repo", "path", "ver", SnapshotTable.DELETED)
    val audit = ApplyPlanner
      .casAudit(batch, current, Seq("repo", "path"), Seq("ver"))
      .select("repo", "path", "n_proposed", "n_accepted")
      .as[(String, String, Long, Long)]
      .collect()
      .toSet
    assert(
      audit == Set(
        ("r1", "a", 2L, 1L), // 7 accepted, 3 rejected
        ("r1", "b", 2L, 1L), // tie rejected, delete accepted
        ("r1", "c", 1L, 1L) // no current row
      )
    )
    // the audit must be EXACTLY the accounting the two-pass
    // casFilter-based formulation produces (the shape it replaced)
    import org.apache.spark.sql.functions._
    val accepted =
      SnapshotTable.casFilter(batch, current, Seq("repo", "path"), Seq("ver"))
    val twoPass = batch
      .groupBy("repo", "path")
      .agg(count(lit(1)).as("n_proposed"))
      .join(
        accepted
          .groupBy("repo", "path")
          .agg(count(lit(1)).as("n_accepted")),
        Seq("repo", "path"),
        "left"
      )
      .select(
        col("repo"),
        col("path"),
        col("n_proposed"),
        coalesce(col("n_accepted"), lit(0L)).as("n_accepted")
      )
      .as[(String, String, Long, Long)]
      .collect()
      .toSet
    assert(audit == twoPass)
  }

  test("PK-less spec synthesizes a rowid primary key (coldata.go:147-182)") {
    val schema2 = StructType(Seq(StructField("v", StringType)))
    val spec = TableSpec(schema2, Nil, TableConfig(), allowEvolution = false)
    val window = Seq(
      ("[]", """{"v":"a"}""", 1L, 0, "f"),
      ("[]", """{"v":"a"}""", 1L, 0, "f"), // duplicate delivery: collapses
      ("[]", """{"v":"b"}""", 2L, 0, "f"), // distinct mutation: appends
      ("[7]", """{"v":"c"}""", 3L, 0, "f") // keyed feed: rowid positional
    ).toDF("key", "data", "nanos", "logical", "src_file")
    val planned = ApplyPlanner.plan(spark, spec, window, 4)
    assert(planned.pkCols == Seq("rowid"))
    assert(planned.evolvedSchema.fieldNames.head == "rowid")
    val rows = planned.batch
      .select($"rowid", $"v")
      .as[(Long, String)]
      .collect()
      .sortBy(_._2)
    assert(rows.length == 3) // duplicate collapsed, others kept
    assert(rows.map(_._2).toSeq == Seq("a", "b", "c"))
    assert(rows.find(_._2 == "c").get._1 == 7L) // positional key mapping
    // merge into a snapshot table on the synthetic key
    val t = new SnapshotTable(spark, tmpDir("pkless"), numBuckets = 2)
    t.merge(planned.batch, planned.pkCols, "k1", graft.model.Hlc(3, 0))
    assert(t.read().count() == 3)
  }
}
