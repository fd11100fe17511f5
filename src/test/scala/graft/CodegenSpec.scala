package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** The custom Catalyst expressions must COMPILE under whole-stage codegen,
  * not silently fall back to interpreted eval (a Janino error degrades
  * performance without failing any correctness test — this spec makes it
  * a failure). Two checks per expression: the generated source contains
  * the static kernel call (so the expression is INSIDE the fused span,
  * not wrapped as an interpreted reference), and execution succeeds with
  * codegen fallback disabled.
  */
class CodegenSpec extends SparkSpec {
  import spark.implicits._

  test("all custom expressions stay inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val merges = graft.functions.Bpe.encodeMerges(
      graft.functions.Bpe.learn(
        Seq("hello" -> 3L, "world" -> 2L, "words" -> 2L, "of" -> 1L),
        16
      )
    )
    // the text must DERIVE from a non-foldable column: literal children
    // would constant-fold the expressions away at optimization time
    // (interpreted eval) and leave nothing for codegen to prove
    val df = spark
      .range(1, 3)
      .select(
        concat(lit("hello world of words "), col("id").cast("string")).as("t"),
        concat(
          lit("""{"a":"""),
          col("id").cast("string"),
          lit(""","__crdb__":{"x":2},"b":"y"}""")
        ).as("j")
      )
    val out = df.select(
      GraftFunctions.minhash(col("t"), 5, 8).as("mh"),
      GraftFunctions.simhash64(col("t")).as("sh"),
      GraftFunctions.winnow(col("t"), 4, 3).as("wn"),
      GraftFunctions.bpeCount(col("t"), merges).as("bc"),
      GraftFunctions.jsonDropKeys(col("j"), "__crdb__").as("jd"),
      GraftFunctions
        .sigAgree(
          GraftFunctions.minhash(col("t"), 5, 8),
          GraftFunctions.minhash(concat(col("t"), lit("x")), 5, 8)
        )
        .as("sa"),
      GraftFunctions.shingleHashes(col("t"), 5).as("shh"),
      GraftFunctions.qualityCounts(col("t")).as("qc")
    )

    val cg = org.apache.spark.sql.execution.debug.codegenString(
      out.queryExecution.executedPlan
    )
    Seq(
      "MinHashSig.signature",
      "SimHash64.simhash",
      "Winnow.fingerprints",
      "Bpe.tokenCount",
      "JsonDropKeys.strip",
      "SigAgree.agree",
      "ShingleHashes.hashes",
      "QualityCounts.counts"
    ).foreach { kernel =>
      assert(cg.contains(kernel), s"$kernel not in generated code:\n${cg.take(2000)}")
    }

    // execution with fallback disabled: a Janino compile error now throws
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = out.collect().head
      assert(r.getSeq[Long](r.fieldIndex("mh")).size == 8)
      assert(r.getSeq[Long](r.fieldIndex("wn")).nonEmpty)
      assert(r.getAs[Int]("bc") > 0)
      assert(r.getAs[String]("jd").contains("\"b\""))
      assert(!r.getAs[String]("jd").contains("__crdb__"))
      val sa = r.getAs[Int]("sa")
      assert(sa >= 0 && sa <= 8)
      assert(r.getSeq[Long](r.fieldIndex("shh")).nonEmpty)
      assert(!r.isNullAt(r.fieldIndex("qc")))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("SigAgree equals the composed zip_with agreement count") {
    GraftFunctions.register(spark)
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
      .select(
        GraftFunctions.minhash(col("text"), 5, 32).as("s1"),
        GraftFunctions.minhash(reverse(col("text")), 5, 32).as("s2")
      )
    val cmp = df.select(
      GraftFunctions.sigAgree(col("s1"), col("s2")).as("native"),
      size(filter(zip_with(col("s1"), col("s2"), (a, b) => a === b), x => x))
        .as("composed"),
      GraftFunctions.sigAgree(col("s1"), col("s1")).as("self")
    )
    assert(cmp.filter(col("native") =!= col("composed")).count() == 0)
    assert(cmp.filter(col("self") =!= 32).count() == 0)
  }

  test(
    "ShingleHashes set semantics equal the composed string-shingle form"
  ) {
    GraftFunctions.register(spark)
    import graft.ops.DedupOps.shingles
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    // (1) per-doc distinct count: the native hash family is injective on
    //     the fixture iff every doc's hash-set size matches its string-set
    //     size (includes the short-text single-shingle branch)
    val sizes = docs.select(
      size(GraftFunctions.shingleHashes(col("text"), 5)).as("native"),
      size(array_distinct(shingles(col("text"), 5))).as("composed")
    )
    assert(sizes.filter(col("native") =!= col("composed")).count() == 0)
    // (2) pairwise intersection counts: the quantity every downstream
    //     consumer (jaccardVerify, contaminatedIds) actually reads
    val sh = docs.select(
      col("doc_id"),
      GraftFunctions.shingleHashes(col("text"), 5).as("hs"),
      array_distinct(shingles(col("text"), 5)).as("ss")
    )
    val a = sh.selectExpr("doc_id AS id_a", "hs AS hs_a", "ss AS ss_a")
    val b = sh.selectExpr("doc_id AS id_b", "hs AS hs_b", "ss AS ss_b")
    val pairs = a
      .crossJoin(b)
      .filter(col("id_a") < col("id_b") && col("id_b") < col("id_a") + 5)
      .select(
        size(array_intersect(col("hs_a"), col("hs_b"))).as("native"),
        size(array_intersect(col("ss_a"), col("ss_b"))).as("composed"),
        GraftFunctions
          .sortedIntersectCount(col("hs_a"), col("hs_b"))
          .as("merged")
      )
    assert(pairs.count() > 50)
    assert(pairs.filter(col("native") =!= col("composed")).count() == 0)
    // the merge-walk intersect needs the SORTED contract and must agree
    // with the hash-set builtin on every pair
    assert(pairs.filter(col("merged") =!= col("native")).count() == 0)
    // the sorted contract itself
    val unsorted = sh.select(
      size(filter(
        zip_with(col("hs"), slice(col("hs"), 2, 1000000), (x, y) => y <= x),
        v => v
      )).as("violations")
    )
    assert(unsorted.filter(col("violations") =!= 0).count() == 0)
  }

  test("CosineSim and LshCode are bit-identical to the declarative forms") {
    GraftFunctions.register(spark)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
      .select(col("vec_id"), col("embedding").as("vec"))
    val a = emb.selectExpr("vec_id AS ida", "vec AS va")
    val b = emb.selectExpr("vec_id AS idb", "vec AS vb")
    val pairs = a
      .crossJoin(b)
      .filter(col("ida") < col("idb") && col("idb") < col("ida") + 4)
      .select(
        GraftFunctions.cosineSim(col("va"), col("vb")).as("native"),
        graft.ops.SimilarityOps
          .cosineDeclarative(col("va"), col("vb"))
          .as("composed"),
        // the array<double> path (near-dup queries cast before scoring):
        // getFloat on a double array reads garbage — this caught it
        GraftFunctions
          .cosineSim(
            transform(col("va"), x => x.cast("double")),
            transform(col("vb"), x => x.cast("double"))
          )
          .as("native_d"),
        graft.ops.SimilarityOps
          .cosineDeclarative(
            transform(col("va"), x => x.cast("double")),
            transform(col("vb"), x => x.cast("double"))
          )
          .as("composed_d")
      )
    assert(pairs.count() > 50)
    // EXACT double equality: same accumulation order, same guard formula
    assert(pairs.filter(col("native") =!= col("composed")).count() == 0)
    assert(pairs.filter(col("native_d") =!= col("composed_d")).count() == 0)

    val codes = emb.select(
      GraftFunctions.lshCode(col("vec"), 8, 0).as("n0"),
      graft.ops.SimilarityOps.lshCodeDeclarative(col("vec"), 8, 0).as("c0"),
      GraftFunctions.lshCode(col("vec"), 6, 5).as("n5"),
      graft.ops.SimilarityOps.lshCodeDeclarative(col("vec"), 6, 5).as("c5"),
      GraftFunctions
        .lshCode(transform(col("vec"), x => x.cast("double")), 6, 3)
        .as("nd"),
      graft.ops.SimilarityOps
        .lshCodeDeclarative(transform(col("vec"), x => x.cast("double")), 6, 3)
        .as("cd")
    )
    assert(codes.filter(col("n0") =!= col("c0")).count() == 0)
    assert(codes.filter(col("n5") =!= col("c5")).count() == 0)
    assert(codes.filter(col("nd") =!= col("cd")).count() == 0)
    // codes actually discriminate (not all rows in one bucket)
    assert(codes.select(countDistinct(col("n0"))).head.getLong(0) > 1)

    // both kernels sit inside the fused codegen span
    val plan = emb
      .select(
        GraftFunctions.cosineSim(col("vec"), col("vec")).as("c"),
        GraftFunctions.lshCode(col("vec"), 8, 0).as("l")
      )
      .queryExecution
      .executedPlan
    val cg = org.apache.spark.sql.execution.debug.codegenString(plan)
    assert(cg.contains("CosineSim.cosine"), cg.take(1500))
    assert(cg.contains("LshCode.code"), cg.take(1500))
  }
}
