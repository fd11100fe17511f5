package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A set of buckets read as ONE DataSource V2 scan: one input partition per
  * bucket, listing that bucket's base and delta files, reported as
  * key-grouped on `identity(__bucket)`. A key lives in exactly one bucket, so
  * an aggregation grouped by `__bucket` plus the primary key is already
  * clustered by this scan: Catalyst plans the merge-on-read fold inside each
  * bucket's own task, with no exchange (with
  * `spark.sql.sources.v2.bucketing.enabled=false` it adds the exchange back
  * and the answer is the same).
  *
  * Each file is read with the schema its directory was written with and cast
  * up to the snapshot schema — the per-file form of
  * [[SnapshotTable.alignTo]].
  */
private[table] object BucketScan {

  /** One data file and the index of the schema it was written with. */
  final case class DataFile(path: String, length: Long, modifiedMs: Long, schema: Int)

  final case class BucketPartition(bucket: Int, files: Seq[DataFile]) extends HasPartitionKey {
    override def partitionKey(): InternalRow = InternalRow(bucket)
  }

  /** Rows of `dirs` — per bucket, its `(schema DDL, directory)` pairs — cast
    * to `target`, which must carry [[SnapshotTable.BUCKET]].
    */
  def read(
      spark: SparkSession,
      name: String,
      target: StructType,
      dirs: Seq[(Int, Seq[(String, String)])]
  ): DataFrame = {
    val ddls = dirs.flatMap(_._2.map(_._1)).distinct
    val fs = new Path(name).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = dirs.map { case (b, ds) =>
      BucketPartition(
        b,
        ds.flatMap { case (ddl, dir) =>
          fs.listStatus(new Path(dir))
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(s => DataFile(s.getPath.toString, s.getLen, s.getModificationTime, ddls.indexOf(ddl)))
        }
      )
    }
    val table = new BucketTable(spark, name,
      StructType(target.fields.map(_.copy(nullable = true))), ddls, parts)
    val rel = DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty())
    new org.apache.spark.sql.classic.Dataset[Row](
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      rel,
      Encoders.row(rel.schema)
    )
  }

  private final class BucketTable(
      spark: SparkSession,
      root: String,
      target: StructType,
      ddls: Seq[String],
      parts: Seq[BucketPartition]
  ) extends Table with SupportsRead {
    override def name(): String = s"buckets of $root"
    override def schema(): StructType = target
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new BucketScanOf(spark, root, target, ddls, parts)
  }

  private final class BucketScanOf(
      spark: SparkSession,
      root: String,
      target: StructType,
      ddls: Seq[String],
      parts: Seq[BucketPartition]
  ) extends Scan with Batch with SupportsReportPartitioning {
    override def readSchema(): StructType = target
    override def description(): String =
      s"BucketScan $root buckets=${parts.size} files=${parts.map(_.files.size).sum}"
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] = parts.toArray
    override def outputPartitioning(): Partitioning =
      new KeyGroupedPartitioning(Array(Expressions.identity(SnapshotTable.BUCKET)), parts.size)

    override def createReaderFactory(): PartitionReaderFactory = {
      val tz = spark.conf.get("spark.sql.session.timeZone")
      val format = new ParquetFileFormat()
      val schemas = ddls.map(d => SnapshotTable.withMeta(StructType.fromDDL(d)))
      // the reader records its schema in the conf it is given and
      // broadcasts it: one fresh conf per schema
      val readers = schemas.map { s =>
        format.buildReaderWithPartitionValues(spark, s, new StructType(), s, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
      }
      val casts = schemas.map { s =>
        val at = s.fieldNames.zipWithIndex.toMap
        target.fields.toSeq.map { f =>
          at.get(f.name) match {
            case None => Literal(null, f.dataType)
            case Some(i) =>
              val in = BoundReference(i, s(i).dataType, nullable = true)
              if (s(i).dataType == f.dataType) in else Cast(in, f.dataType, Some(tz))
          }
        }
      }
      new BucketReaderFactory(readers, casts)
    }
  }

  private final class BucketReaderFactory(
      readers: Seq[PartitionedFile => Iterator[InternalRow]],
      casts: Seq[Seq[Expression]]
  ) extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val projections = collection.mutable.Map.empty[Int, UnsafeProjection]
      val rows = p.asInstanceOf[BucketPartition].files.iterator.flatMap { f =>
        val file = PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f.path), 0L,
          f.length, Array.empty[String], f.modifiedMs, f.length)
        readers(f.schema)(file)
          .map(projections.getOrElseUpdate(f.schema, UnsafeProjection.create(casts(f.schema))))
      }
      new PartitionReader[InternalRow] {
        private var row: InternalRow = _
        override def next(): Boolean = rows.hasNext && { row = rows.next(); true }
        override def get(): InternalRow = row
        // each file's reader closes when exhausted, or at task completion
        override def close(): Unit = ()
      }
    }
  }
}
