package graft.lake

import java.util.OptionalLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession, V2Frames}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.TableCapability
import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileFormat, NoopCache, PartitionedFile, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{FilePartitionReaderFactory, FileTable}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.internal.connector.SupportsMetadata
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** One segment directory as a [[LakeScan]] reads it.
  *
  * @param files       the data files of `dir`, from the manifest-driven
  *                    listing (no file index of Spark's own)
  * @param writer      the schema version that wrote the files, with meta
  *                    columns
  * @param chain       the schemas its rows are cast through, in order; the
  *                    last one is the scan's target schema
  * @param seqOverride a seq ≥ 0 replaces the files' visibility seq (a
  *                    commit-domain delta: the segment seq is authoritative)
  * @param side        the value of [[LakeScan.SideCol]] for these rows */
final case class ScanSource(bucket: Int, dir: HPath, files: Seq[FileStatus],
    writer: StructType, chain: Seq[StructType], seqOverride: Long, side: Int)

/** The lake's read path: a DSv2 scan planned from an explicit segment list.
  *
  * Every root key lives in exactly one bucket directory, so the scan has
  * one input partition per bucket and reports
  * `KeyGroupedPartitioning(identity(_gbucket))`. A window or aggregate
  * whose keys include `_gbucket` then plans no exchange: merge-on-read
  * resolution, changefeed diffs and compaction all run in the scan's
  * stage. One consequence: a read runs one task per bucket it touches.
  *
  * Each file is decoded by Spark's Parquet reader with the schema version
  * that wrote it, then cast to the target schema; constants (bucket,
  * overriding seq, side) ride in as Parquet partition values. Filters on
  * columns read as written reach the Parquet reader for row-group pruning
  * and are evaluated again after the scan. The table is a [[FileTable]]
  * whose file index is the manifest listing, so `Dataset.inputFiles`
  * stays exact, and it reports the listed bytes as its size so small
  * reads still broadcast. */
object LakeScan {
  val BucketCol = "_gbucket"
  val SideCol = "_gside"

  // constant columns handed to the Parquet reader as partition values
  private val Consts = StructType(Seq(
    StructField("_gconst_bucket", IntegerType, nullable = false),
    StructField("_gconst_seq", LongType, nullable = false),
    StructField("_gconst_side", IntegerType, nullable = false)))

  /** Scan output: the target columns (nullable, as Parquet reads them),
    * then the bucket and side columns. */
  def outputSchema(target: StructType): StructType =
    nullable(target)
      .add(StructField(BucketCol, IntegerType, nullable = false))
      .add(StructField(SideCol, IntegerType, nullable = false))

  // tombstone rows carry nulls in key columns the schema declares
  // non-null: every column is read as nullable, as Spark's file sources do
  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  def frame(spark: SparkSession, target: StructType,
      sources: Seq[ScanSource]): DataFrame =
    if (sources.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        outputSchema(target))
    else V2Frames.ofTable(spark, new LakeScanTable(spark, target, sources))

  /** `sources` read outside any query: the scan's reader factory and its
    * input partition of each bucket. `columns` are the output columns,
    * in order, followed by [[BucketCol]] when they lack it. Rows pass
    * through the same decode, schema-version casts and seq overrides as
    * a [[frame]] of the same sources. Serializable: tasks read buckets
    * with it. */
  final class BucketReader private[LakeScan] (
      factory: PartitionReaderFactory, parts: Map[Int, InputPartition])
      extends Serializable {
    /** Each row of `bucket`'s files (none for a bucket the sources lack),
      * handed to `f` while the reader holds it. */
    def foreach(bucket: Int)(f: InternalRow => Unit): Unit =
      parts.get(bucket).foreach { p =>
        val r = factory.createReader(p)
        try while (r.next()) f(r.get())
        finally r.close()
      }
  }

  def bucketReader(spark: SparkSession, target: StructType,
      sources: Seq[ScanSource], columns: Seq[String]): BucketReader =
    if (sources.isEmpty) new BucketReader(null, Map.empty) // nothing to read
    else {
      val table = new LakeScanTable(spark, target, sources)
      val builder = table.newScanBuilder(CaseInsensitiveStringMap.empty())
        .asInstanceOf[LakeScanBuilder]
      builder.pruneColumns(StructType(columns.map(table.schema(_))))
      val batch = builder.build().toBatch
      new BucketReader(batch.createReaderFactory(),
        batch.planInputPartitions().map(p =>
          p.asInstanceOf[LakePartition].bucket -> p).toMap)
    }

  private final class LakeScanTable(spark: SparkSession, target: StructType,
      sources: Seq[ScanSource])
      extends FileTable(spark, CaseInsensitiveStringMap.empty(),
        sources.map(_.dir.toString).distinct, Some(target)) {
    override lazy val schema: StructType = outputSchema(target)
    override lazy val fileIndex: PartitioningAwareFileIndex =
      new ManifestFileIndex(spark, sources)
    override def name(): String = "graft-lake"
    override def formatName: String = "graft-lake"
    override def inferSchema(files: Seq[FileStatus]): Option[StructType] =
      Some(target)
    override def fallbackFileFormat: Class[_ <: FileFormat] =
      classOf[ParquetFileFormat]
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
      new LakeScanBuilder(spark, target, sources, schema, fileIndex)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      throw new UnsupportedOperationException("a lake scan is read-only")
  }

  /** The manifest listing as a file index: what `inputFiles` and the
    * Parquet reader setup see. Never lists anything itself. */
  private final class ManifestFileIndex(spark: SparkSession,
      sources: Seq[ScanSource])
      extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {
    private val byDir: Map[HPath, Array[FileStatus]] =
      sources.groupBy(_.dir).map { case (d, ss) => d -> ss.head.files.toArray }
    override val rootPaths: Seq[HPath] = sources.map(_.dir).distinct
    override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
    override protected def leafFiles: mutable.LinkedHashMap[HPath, FileStatus] =
      mutable.LinkedHashMap(byDir.values.flatten.map(f => f.getPath -> f).toSeq: _*)
    override protected def leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] =
      byDir
    override def refresh(): Unit = ()
  }

  private final class LakeScanBuilder(spark: SparkSession, target: StructType,
      sources: Seq[ScanSource], full: StructType,
      index: PartitioningAwareFileIndex)
      extends ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns {
    private var required = full
    private var pushed = Array.empty[Filter]

    // every filter is still evaluated after the scan: the Parquet reader
    // only uses them to skip row groups
    override def pushFilters(fs: Array[Filter]): Array[Filter] = {
      val data = target.fieldNames.toSet
      pushed = fs.filter(_.references.forall(data))
      fs
    }
    override def pushedFilters(): Array[Filter] = pushed

    // the bucket column stays in the output: the reported partitioning
    // refers to it
    override def pruneColumns(s: StructType): Unit =
      required = if (s.fieldNames.contains(BucketCol)) s
        else s.add(full(BucketCol))

    override def build(): Scan =
      new LakeScan(spark, full, sources, required, pushed, index)
  }

  /** The decode setup shared by every file of one (written schema, cast
    * chain, seq override) shape. */
  private final case class Shape(writer: StructType, chain: Seq[StructType],
      overridesSeq: Boolean)

  private final class LakeScan(spark: SparkSession, full: StructType,
      sources: Seq[ScanSource], required: StructType, pushed: Array[Filter],
      index: PartitioningAwareFileIndex)
      extends Scan with Batch with SupportsReportPartitioning
      with SupportsReportStatistics with SupportsMetadata {
    private def shapeOf(s: ScanSource) =
      Shape(s.writer, s.chain, s.seqOverride >= 0)
    private val shapes: IndexedSeq[Shape] = sources.map(shapeOf).distinct.toIndexedSeq
    private val buckets: Seq[(Int, Seq[ScanSource])] =
      sources.groupBy(_.bucket).toSeq.sortBy(_._1)
    private val nFiles = sources.map(_.files.size).sum

    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"LakeScan [${buckets.size} buckets, $nFiles files] " +
        s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"
    override def getMetaData(): Map[String, String] = Map(
      "Format" -> "graft-lake",
      "Buckets" -> buckets.size.toString,
      "Files" -> nFiles.toString,
      "PushedFilters" -> pushed.mkString("[", ", ", "]"),
      "ReadSchema" -> required.catalogString)

    override def planInputPartitions(): Array[InputPartition] =
      buckets.map { case (b, ss) =>
        LakePartition(b, ss.flatMap { s =>
          val k = shapes.indexOf(shapeOf(s))
          s.files.map(f => LakeFile(f.getPath.toString, f.getLen,
            f.getModificationTime, k, s.seqOverride, s.side))
        }.toArray): InputPartition
      }.toArray

    override def outputPartitioning(): Partitioning =
      new KeyGroupedPartitioning(
        Array[V2Expression](Expressions.identity(BucketCol)), buckets.size)

    override def estimateStatistics(): Statistics = {
      val bytes = sources.map(_.files.map(_.getLen).sum).sum
      val size = (spark.sessionState.conf.fileCompressionFactor * bytes /
        full.defaultSize * required.defaultSize).toLong
      new Statistics {
        override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(1L, size))
        override def numRows(): OptionalLong = OptionalLong.empty()
      }
    }

    // rows only: planning then never builds the reader factory just to
    // ask, and the factory (one Hadoop conf copy and broadcast per shape)
    // is built once per scan however often the plan is copied
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      Scan.ColumnarSupportMode.UNSUPPORTED
    private lazy val factory = LakeReaderFactory(shapes.map(decoder).toArray)
    override def createReaderFactory(): PartitionReaderFactory = factory

    /** One Parquet reader factory plus the bound expressions that turn
      * its rows (written columns ++ constants) into the scan output. */
    private def decoder(sh: Shape): Decoder = {
      val consts = Set(BucketCol, SideCol)
      val writer = nullable(sh.writer)
      val readData = StructType(required.fields
        .filterNot(f => consts(f.name) || (sh.overridesSeq && f.name == LakeTable.SeqCol))
        .flatMap(f => writer.fields.find(_.name == f.name)))
      // row-group pruning only on columns whose values are the file's own:
      // read at the written type all along the chain, and not a seq that
      // the segment overrides
      val stable = sh.writer.fields.filter { w =>
        !(sh.overridesSeq && w.name == LakeTable.SeqCol) &&
          sh.chain.forall(_.fields.exists(c =>
            c.name == w.name && c.dataType == w.dataType))
      }.map(_.name).toSet
      val parquet = ParquetScan(spark, spark.sessionState.newHadoopConf(),
        index, writer, readData, Consts,
        pushed.filter(_.references.forall(stable)),
        CaseInsensitiveStringMap.empty(), None, Seq.empty, Seq.empty,
        Array.empty).createReaderFactory()
        .asInstanceOf[FilePartitionReaderFactory]
      val conf = spark.sessionState.conf
      val tz = Some(conf.sessionLocalTimeZone)
      val mode = EvalMode.fromSQLConf(conf)
      val n = readData.length
      val exprs: Seq[Expression] = required.fields.toSeq.map { f =>
        f.name match {
          case BucketCol => BoundReference(n, IntegerType, nullable = false)
          case SideCol   => BoundReference(n + 2, IntegerType, nullable = false)
          case LakeTable.SeqCol if sh.overridesSeq =>
            BoundReference(n + 1, LongType, nullable = false)
          case name => readData.fieldNames.indexOf(name) match {
            case -1 => Literal(null, f.dataType)
            case i =>
              val start: (Expression, DataType) =
                (BoundReference(i, readData(i).dataType, nullable = true),
                  readData(i).dataType)
              sh.chain.foldLeft(start) { case ((e, t), sch) =>
                sch.fields.find(_.name == name) match {
                  case Some(c) if c.dataType != t =>
                    (Cast(e, c.dataType, tz, mode), c.dataType)
                  case Some(_) => (e, t)
                  case None    => (Literal(null, f.dataType), f.dataType)
                }
              }._1
          }
        }
      }
      // batches when the Parquet reader can produce them: the row reader
      // would generate a projection per file to append the constants
      Decoder(parquet, parquet.supportColumnarReads(null), exprs)
    }
  }

  private final case class LakeFile(path: String, length: Long, mtime: Long,
      shape: Int, seq: Long, side: Int)

  private final case class LakePartition(bucket: Int, files: Array[LakeFile])
      extends HasPartitionKey {
    override def partitionKey(): InternalRow = InternalRow(bucket)
  }

  private final case class Decoder(parquet: FilePartitionReaderFactory,
      columnar: Boolean, exprs: Seq[Expression])

  /** Reads a bucket's files one after the other. */
  private final case class LakeReaderFactory(decoders: Array[Decoder])
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val part = p.asInstanceOf[LakePartition]
      new PartitionReader[InternalRow] {
        private val projections = new Array[UnsafeProjection](decoders.length)
        private var i = -1
        private var rows: Iterator[InternalRow] = Iterator.empty
        private var close0: () => Unit = () => ()
        private var proj: UnsafeProjection = _
        private var row: InternalRow = _

        override def next(): Boolean = {
          while (!rows.hasNext) {
            close()
            i += 1
            if (i >= part.files.length) return false
            val f = part.files(i)
            val d = decoders(f.shape)
            if (projections(f.shape) == null)
              projections(f.shape) = UnsafeProjection.create(d.exprs)
            proj = projections(f.shape)
            val file = PartitionedFile(InternalRow(part.bucket, f.seq, f.side),
              SparkPath.fromPathString(f.path), 0L, f.length,
              Array.empty[String], f.mtime, f.length, Map.empty)
            if (d.columnar) {
              val r = d.parquet.buildColumnarReader(file)
              close0 = () => r.close()
              rows = Iterator.continually(r).takeWhile(_.next())
                .flatMap(_.get().rowIterator().asScala)
            } else {
              val r = d.parquet.buildReader(file)
              close0 = () => r.close()
              rows = Iterator.continually(r).takeWhile(_.next()).map(_.get())
            }
          }
          row = proj(rows.next())
          true
        }
        override def get(): InternalRow = row
        override def close(): Unit = {
          close0()
          close0 = () => ()
        }
      }
    }
  }
}
