package graft.streaming

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming.{
  Offset => OffsetV2, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.lake.{Fio, LakeTable}

/** STREAMING changefeed over a lake table — the CDC loop closed as a real
  * Structured Streaming source:
  *
  * {{{
  * spark.readStream.format("graft-changefeed")
  *   .option("root", lakeRoot).option("table", "REPOS")
  *   .load()                  // table schema + _change_type
  * }}}
  *
  * Design (the Delta-source shape, rebuilt on this lake's snapshot log):
  *  - OFFSETS ARE SNAPSHOT VERSIONS, and the stream's position is Spark's
  *    own: as a [[SupportsAdmissionControl]] source it is handed each
  *    batch's start offset from the checkpoint's offset log
  *    (`latestOffset(start, limit)`), so it keeps no high-water of its
  *    own and can never report an offset below a committed one. A poll
  *    is one listing of the snapshot log — no data scan, no max(seq)
  *    job — so idle triggers cost nothing at any table size.
  *  - each micro-batch is `readChangesBetween(start, end)`: the
  *    classified net diff (insert/update/delete), bucket-pruned to
  *    segments that actually changed. Batch cost tracks the data that
  *    moved between the two versions, never the table.
  *  - the one durable file is the STARTING POSITION of batch 0, written
  *    to the stream's checkpoint metadata dir on first creation, so a
  *    replayed batch 0 covers the same window (options: `startingVersion`
  *    = N | "latest" | default 1 = full-snapshot backfill as inserts).
  *  - `maxVersionsPerTrigger` is the source's default read limit: a batch
  *    advances at most that many versions past its start.
  *  - every version handed to the engine is PINNED against vacuum until
  *    `commit` moves past it. A reported end is pinned, then verified
  *    readable (snapshot JSON and segments on disk); one that is not
  *    falls forward to the next readable version — the head always is.
  *    A window whose start was vacuumed (e.g. a checkpoint older than
  *    retention) throws rather than misreads, when the batch runs: a
  *    window is planned only when a job runs over it.
  *
  * The batch plan is wrapped `isStreaming = true` (MicroBatchExecution's
  * v1 contract) via the one-line [[GraftSqlShims]] doorway. Schema is
  * captured at source creation (streams are fixed-schema; post-creation
  * lake evolution surfaces when the query restarts, same as Delta). */
final class ChangefeedSource(
    sqlContext: SQLContext,
    metadataPath: String,
    table: LakeTable,
    startOpt: String,
    maxVersionsPerTrigger: Option[Long],
    cdf: Boolean,
) extends Source with SupportsAdmissionControl {

  private val spark = sqlContext.sparkSession
  private val fio = new Fio(spark.sessionState.newHadoopConf())

  // resolve-once starting version, durable in the stream checkpoint: a
  // replay of batch 0 MUST rebuild the same window even if the table
  // moved on (or the option said "latest", which is no longer latest)
  private val baseVersion: Long = {
    val f = new HPath(metadataPath, "graft-changefeed-base")
    if (fio.exists(f)) fio.readString(f).trim.toLong
    else {
      val v = startOpt match {
        case "latest" => table.currentVersion().toLong
        case s => s.toLong
      }
      require(v >= 1 && v <= table.currentVersion(),
        s"startingVersion $v outside 1..${table.currentVersion()}")
      // atomic: a crash after a plain create would leave an empty file
      // that fails to parse on every restart
      fio.writeAtomic(f, v.toString)
      v
    }
  }
  @volatile private var pinned: Set[Int] = Set.empty

  override val schema: StructType = StructType(
    table.snapshot().schema.fields.map(_.copy(nullable = true)) :+
      org.apache.spark.sql.types.StructField("_change_type", StringType))

  private def ver(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  private def pin(v: Int): Unit = synchronized {
    if (!pinned(v)) { table.pinSnapshot(v); pinned += v }
  }

  /** Pin-THEN-verify: the listing that named `v` is already stale, so a
    * concurrent vacuum may have taken it after all. */
  private def pinReadable(v: Int): Boolean = synchronized {
    pinned(v) || {
      table.pinSnapshot(v)
      val ok =
        try table.materialized(table.snapshotAt(v))
        catch { case _: FileNotFoundException => false }
      if (ok) pinned += v else table.unpinSnapshot(v)
      ok
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.fold(ReadLimit.allAvailable())(
      ChangefeedSource.MaxVersions(_))

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = Option(start).fold(baseVersion)(ver)
    val vs = table.snapshotVersions()
    val head = vs.lastOption.getOrElse(0).toLong
    val want = limit match {
      case ChangefeedSource.MaxVersions(n) => math.min(head, from + n)
      case _ => head // ReadLimit.allAvailable()
    }
    // retention is NOT contiguous (vacuum keeps newest-k PLUS pinned), and
    // a retained JSON may name segments compaction + vacuum already
    // removed: the batch ends at the first readable version at or past
    // the limit (the diff spans the gap — one batch runs larger than the
    // limit, nothing is skipped). None readable (the head lost to a
    // commit + vacuum race): no new data this trigger.
    vs.iterator.filter(v => v >= want && v > from).find(pinReadable)
      .map(v => LongOffset(v.toLong): OffsetV2).getOrElse(start)
  }

  override def getOffset: Option[Offset] = throw new UnsupportedOperationException(
    "graft-changefeed: Spark calls latestOffset(start, limit) on this source")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.fold(baseVersion)(ver).toInt
    val to = ver(end).toInt
    pin(from); pin(to)
    // planned when a job runs: on restart Spark re-plans the last committed
    // batch and drops it. An inverted window (offsets a release with its
    // own high-water could log out of order) is empty. cdf=true: updates
    // as update_preimage/postimage pairs
    val rdd = new ChangefeedSource.Deferred(spark.sparkContext, () => {
      val feed =
        if (cdf) table.readChangesBetweenCdf(math.min(from, to), to)
        else table.readChangesBetween(math.min(from, to), to)
      feed.select(schema.fieldNames.toSeq.map(col): _*).queryExecution.toRdd
    })
    GraftSqlShims.streamingDataFrame(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      rdd, schema)
  }

  override def commit(end: Offset): Unit = {
    val done = ver(end)
    // keep `end` pinned — it is the FROM side of the next batch
    val release = synchronized {
      val r = pinned.filter(_ < done); pinned --= r; r
    }
    release.foreach(table.unpinSnapshot)
  }

  override def stop(): Unit = {
    val release = synchronized { val r = pinned; pinned = Set.empty; r }
    release.foreach(table.unpinSnapshot)
  }
}

object ChangefeedSource {
  /** The `maxVersionsPerTrigger` read limit: snapshot versions a batch may
    * advance past its start. */
  final case class MaxVersions(n: Long) extends ReadLimit

  /** The rows of the RDD `plan` builds, planned when a job runs over them,
    * on the submitting thread (where Spark computes every RDD's partitions). */
  private final class Deferred(sc: SparkContext,
      @transient plan: () => RDD[InternalRow])
      extends RDD[InternalRow](sc, Nil) {
    @transient private lazy val planned = plan()
    override protected def getDependencies: Seq[Dependency[_]] =
      Seq(new OneToOneDependency(planned))
    override protected def getPartitions: Array[Partition] = planned.partitions
    override def compute(p: Partition, ctx: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(p, ctx)
  }
}

/** `format("graft-changefeed")` provider. Options: `root` (lake root),
  * `table` (lake table name), `startingVersion` (N | "latest"; default 1
  * = full backfill), `maxVersionsPerTrigger` (backpressure: cap how many
  * snapshot versions one micro-batch may advance — a deep backlog
  * replays as bounded batches), `cdf` (true = Delta-CDF form: updates
  * as `update_preimage`/`update_postimage` pairs, for delta consumers
  * that must retire old contributions), `buckets` (opener default for
  * pre-persistence snapshots; the persisted layout always wins). */
final class ChangefeedSourceProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-changefeed"

  private def open(sqlContext: SQLContext,
      params: Map[String, String]): LakeTable = {
    val root = params.getOrElse("root",
      throw new IllegalArgumentException("graft-changefeed needs .option(\"root\", <lake root>)"))
    val name = params.getOrElse("table",
      throw new IllegalArgumentException("graft-changefeed needs .option(\"table\", <table name>)"))
    val t = new LakeTable(sqlContext.sparkSession, root, name,
      numBuckets = params.getOrElse("buckets", "16").toInt)
    require(t.exists(), s"lake table $name does not exist under $root")
    t
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val t = open(sqlContext, parameters)
    (shortName(), StructType(
      t.snapshot().schema.fields.map(_.copy(nullable = true)) :+
        org.apache.spark.sql.types.StructField("_change_type", StringType)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new ChangefeedSource(sqlContext, metadataPath,
      open(sqlContext, parameters),
      parameters.getOrElse("startingVersion", "1"),
      parameters.get("maxVersionsPerTrigger").map(_.toLong),
      parameters.getOrElse("cdf", "false").toBoolean)
}
