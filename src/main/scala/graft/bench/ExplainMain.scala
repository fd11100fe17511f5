package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.Hlc
import graft.stage.StagedStore

/** Plan-inspection driver: prints formatted physical plans for the hot
  * paths so scan pruning / pushdown / aggregation strategy can be reviewed
  * (and regressions spotted) without a debugger.
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // staged window scan: expect PartitionFilters on ts_bucket and
    // PushedFilters on nanos
    val stageRoot = java.nio.file.Files
      .createTempDirectory("graft-explain-stage")
      .toString
    val stage = new StagedStore(spark, stageRoot, bucketNanos = 1000L)
    val muts = (0 until 10000)
      .map(i => (s"""["k$i"]""", s"""{"k":"v$i"}""", i.toLong, 0, "f"))
      .toDF("key", "data", "nanos", "logical", "src_file")
    stage.append(muts, 1L)
    println("=== StagedStore.selectWindowRaw(2000, 5000) ===")
    stage.selectWindowRaw(Hlc(2000, 0), Hlc(5000, 0)).explain("formatted")

    // merge-on-read, bucket-local reads: a table with a delta in ONE
    // bucket must read its other buckets raw — expect NO Exchange in the
    // clean-bucket plan (one delta must not un-do bucket pruning)
    locally {
      val root = java.nio.file.Files
        .createTempDirectory("graft-explain-mor")
        .toString
      val t = new graft.table.SnapshotTable(spark, root, numBuckets = 8,
        compactEvery = 4)
      val base = (0 until 64)
        .map(i => (s"r$i", "p", "v1", 10L, 0, false))
        .toDF("repo", "path", "content", "__hlc_nanos", "__hlc_logical", "__deleted")
      t.merge(base, Seq("repo", "path"), "k1", Hlc(10, 0))
      t.merge(
        Seq(("r3", "p", "v2", 20L, 0, false))
          .toDF("repo", "path", "content", "__hlc_nanos", "__hlc_logical", "__deleted"),
        Seq("repo", "path"), "k2", Hlc(20, 0)
      )
      val meta = t.log.latest().get
      val dirty = meta.deltas.filter(_._2.nonEmpty).keys.map(_.toInt).toSet
      val clean = meta.buckets.keys.map(_.toInt).toSet -- dirty
      println(s"=== MOR bucket-local read: deltas in buckets $dirty; " +
        s"readCurrent over CLEAN buckets $clean (expect NO Exchange) ===")
      t.readCurrent(Some(clean)).explain("formatted")
      println("=== MOR full read (expect the max_by fold over the " +
        s"${dirty.size} dirty bucket(s) only, unioned with raw clean buckets) ===")
      t.readCurrent().explain("formatted")
      // a delta in EVERY bucket: the fold groups by (bucket, pk) over one
      // scan that keeps each bucket in its own input partition, so it plans
      // inside each bucket's task — expect NO Exchange below the fold
      t.merge(
        (0 until 64)
          .map(i => (s"r$i", "p", "v3", 30L, 0, false))
          .toDF("repo", "path", "content", "__hlc_nanos", "__hlc_logical", "__deleted"),
        Seq("repo", "path"), "k3", Hlc(30, 0)
      )
      val allDirty = t.log.latest().get.deltas.count(_._2.nonEmpty)
      println(s"=== MOR read with deltas in all $allDirty buckets " +
        "(expect ONE BatchScan under the max_by fold, NO Exchange) ===")
      t.readCurrent().explain("formatted")
    }

    println("=== salted LWW dedup (expect 2 aggregate phases, no Window) ===")
    graft.dedup.LastWriterWins
      .dedupSalted(
        muts.toDF(),
        Seq("key"),
        Seq("nanos", "logical"),
        16
      )
      .explain("formatted")

    println("=== q_agg_lineitem on sf0.001 (expect pruned ReadSchema) ===")
    graft.SparkEntry
      .queries("q_agg_lineitem")(spark, "/root/testdata/sf0.001")
      .explain("formatted")

    println("=== q_join_mktsegment (expect BroadcastHashJoin) ===")
    graft.SparkEntry
      .queries("q_join_mktsegment")(spark, "/root/testdata/sf0.001")
      .explain("formatted")

    println("=== knn brute force (expect BroadcastNestedLoopJoin of queries) ===")
    graft.SparkEntry
      .queries("q_knn_cosine")(spark, "/root/testdata/sf0.001")
      .explain("formatted")

    // the IVF 100 TB path: the inverted-list assignment persisted as a
    // partition column — a probe of 2 of 4 lists must show PartitionFilters
    // on list_id (whole partitions skipped, scan cost = nprobe/nlist)
    locally {
      val root = java.nio.file.Files
        .createTempDirectory("graft-explain-ivf")
        .toString
      val base = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = graft.ops.SimilarityOps
        .ivfTrainCentroids(base, nlist = 4, iters = 2, sampleSize = 64)
      graft.ops.SimilarityOps.ivfBuildIndex(base, cents, root)
      println("=== ivfSearchIndexed over a list_id-partitioned index " +
        "(expect PartitionFilters on list_id: unprobed lists never open) ===")
      // ONE query so the probe set (nprobe=2 of nlist=4) visibly prunes
      // half the partitions in the printed PartitionFilters
      val queries = base
        .filter(col("id") < 1)
        .select(col("id").as("qid"), col("vec").as("qvec"))
      graft.ops.SimilarityOps
        .ivfSearchIndexed(queries, root, cents, k = 3, nprobe = 2)
        .explain("formatted")
    }

    // changesBetween: manifest-diff bucket pruning — the second merge
    // touches ONE key, so only its bucket's files appear in the diff
    // plan's scans (unchanged buckets are proven identical by manifest
    // reference and never read)
    locally {
      val root = java.nio.file.Files
        .createTempDirectory("graft-explain-vdiff")
        .toString
      val t = new graft.table.SnapshotTable(spark, root, numBuckets = 8)
      val base = (0 until 64)
        .map(i => (s"r$i", "p", "v1", 10L, 0, false))
        .toDF("repo", "path", "content", "__hlc_nanos", "__hlc_logical", "__deleted")
      t.merge(base, Seq("repo", "path"), "k1", Hlc(10, 0))
      t.merge(
        Seq(("r1", "p", "v2", 20L, 0, false))
          .toDF("repo", "path", "content", "__hlc_nanos", "__hlc_logical", "__deleted"),
        Seq("repo", "path"), "k2", Hlc(20, 0))
      println("=== SnapshotTable.changesBetween(1, 2) " +
        "(expect scans over the ONE rewritten bucket only) ===")
      t.changesBetween(1, 2).explain("formatted")
    }

    // custom-expression codegen: the five graft kernels implement doGenCode,
    // so a signature projection must be ONE fused WholeStageCodegen span with
    // the static kernel calls inside the generated source (CodegenFallback
    // would split the span and interpret the hottest expressions)
    locally {
      graft.functions.GraftFunctions.register(spark)
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
          col("doc_id"),
          graft.functions.GraftFunctions.minhash(col("text"), 9, 32).as("mh"),
          graft.functions.GraftFunctions.simhash64(col("text")).as("sh"),
          graft.functions.GraftFunctions.winnow(col("text"), 8, 4).as("wn")
        )
      val cg = org.apache.spark.sql.execution.debug
        .codegenString(docs.queryExecution.executedPlan)
      println("=== hash-kernel projection (expect 1 WholeStageCodegen span, " +
        "kernels inside the generated source) ===")
      println(cg.linesIterator.take(2).mkString("\n"))
      Seq("MinHashSig.signature", "SimHash64.simhash", "Winnow.fingerprints")
        .foreach(k => println(s"  $k inside codegen: ${cg.contains(k)}"))
    }

    {
      import spark.implicits._
      val left = Seq((1L, "k", 10L), (2L, "k", 20L)).toDF("id", "key", "t")
      val right = Seq(("k", 5L, 100L)).toDF("key", "t", "v")
      println("=== asofJoin (expect ONE Exchange on key; keyed window, no pair join) ===")
      graft.ops.JoinOps
        .asofJoin(left, right, Seq("key"), "t", Seq("v"))
        .explain("formatted")
      println("=== asofJoinSalted (expect window Exchanges clustering on (key, __tb): " +
        "a hot key splits across time buckets instead of one sorted task) ===")
      graft.ops.JoinOps
        .asofJoinSalted(left, right, Seq("key"), "t", Seq("v"), bucketSecs = 3600L)
        .explain("formatted")
    }

    spark.stop()
  }
}
