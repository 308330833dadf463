package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SQLContext}
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
  *  - OFFSETS ARE SNAPSHOT VERSIONS. `getOffset` is one tiny log-head
  *    read — no data scan, no max(seq) job — so idle triggers cost
  *    nothing at any table size.
  *  - each micro-batch is `readChangesBetween(start, end)`: the
  *    classified net diff (insert/update/delete), bucket-pruned to
  *    segments that actually changed. Batch cost tracks the data that
  *    moved between the two versions, never the table.
  *  - the STARTING POSITION persists in the stream's checkpoint metadata
  *    dir on first creation, so a restarted query reconstructs batch 0
  *    identically (options: `startingVersion` = N | "latest" | default 1
  *    = full-snapshot backfill as inserts).
  *  - every offset this source hands to the engine is PINNED against
  *    vacuum until `commit(end)` releases its predecessors — the
  *    pin-then-verify protocol the lake's consistent views already use;
  *    a horizon that was vacuumed before the pin (e.g. a checkpoint
  *    older than retention) throws rather than misreads.
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
) extends Source {

  private val spark = sqlContext.sparkSession
  private val fio = new Fio(spark.sessionState.newHadoopConf())

  // resolve-once starting version, durable in the stream checkpoint: a
  // restart MUST rebuild batch 0 over the same window even if the table
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
  table.pinSnapshot(baseVersion.toInt)
  // pin-then-verify: a pin only protects FUTURE vacuums — a checkpoint
  // (or startingVersion) older than retention must fail friendly here,
  // not as a raw log-read error inside batch 0
  if (!table.retained(baseVersion.toInt)) {
    table.unpinSnapshot(baseVersion.toInt)
    throw new IllegalArgumentException(
      s"graft-changefeed: starting version $baseVersion of table was " +
        "vacuumed — use startingVersion=latest, a retained version, or " +
        "raise keepSnapshots/retention before subscribing")
  }
  @volatile private var pinned: Set[Int] = Set(baseVersion.toInt)

  // rate-limit high-water: the newest version already handed to the
  // engine. Offsets must only move forward, and with
  // maxVersionsPerTrigger set the value must survive restarts: after a
  // restart whose last batch COMMITTED, Spark never calls getBatch for
  // it, so an in-memory-only high-water would re-base at baseVersion and
  // getOffset would report an offset BELOW the committed one —
  // readChangesBetween(committed, lower) then wedges the checkpoint
  // permanently. Persisted in the stream's metadata dir (the same place
  // the base version lives), written BEFORE an offset is reported so the
  // offset log can never get ahead of it; a crash between the two writes
  // at worst widens one batch past the rate limit, never replays or
  // skips data.
  // −1 = unknown: the file exists but does not parse (a checkpoint from
  // a release that wrote it non-atomically). Unknown disables the
  // rate-limit clamp for the next getOffset (it reports cur, which is
  // never below the committed offset), trading one unbounded batch for
  // neither a wedge nor a replay; the file is rewritten on the next
  // advance.
  private val hwFile = new HPath(metadataPath, "graft-changefeed-hw")
  @volatile private var lastReported: Long =
    if (!fio.exists(hwFile)) baseVersion
    else scala.util.Try(fio.readString(hwFile).trim.toLong).toOption match {
      case Some(v) => math.max(baseVersion, v)
      case None => -1L
    }
  // pin the RESUME horizon too, not just the base: after a restart the
  // first batch's FROM side is the committed offset (== the high-water
  // on any clean stop), and stop() released every pin the old process
  // held — without a fresh pin a vacuum between construction and the
  // first getBatch could remove it. If it was already vacuumed while
  // the stream was down, leave it: getBatch raises the friendly
  // vacuumed-horizon error (the documented checkpoint-older-than-
  // retention contract).
  if (lastReported > baseVersion && table.retained(lastReported.toInt)) {
    table.pinSnapshot(lastReported.toInt)
    if (table.retained(lastReported.toInt)) pinned += lastReported.toInt
    else table.unpinSnapshot(lastReported.toInt) // lost to vacuum: see above
  }

  // COMMITTED FLOOR (ADVICE r7, medium): a pre-high-water checkpoint with
  // maxVersionsPerTrigger (or a torn hw file that parses low) can make
  // getOffset report an offset BELOW the committed one; the inverted-
  // window empty batch then COMMITS that lower offset, and the next
  // window's from-side replays already-delivered versions — with fresh
  // batch ids, so downstream mv:<batch> tag dedup does not fire. Every
  // batch's start offset is by construction a previously COMMITTED
  // position, so it is recorded as a durable floor and every later
  // window's from-side is clipped up to it: clipping can only skip
  // versions that were already delivered, never data.
  private val floorFile = new HPath(metadataPath, "graft-changefeed-floor")
  @volatile private var committedFloor: Long = math.max(baseVersion,
    if (!fio.exists(floorFile)) baseVersion
    else scala.util.Try(fio.readString(floorFile).trim.toLong)
      .getOrElse(baseVersion))

  override val schema: StructType = StructType(
    table.snapshot().schema.fields.map(_.copy(nullable = true)) :+
      org.apache.spark.sql.types.StructField("_change_type", StringType))

  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def getOffset: Option[Offset] = {
    val vs = table.snapshotVersions()
    val cur = vs.lastOption.getOrElse(0).toLong
    // backpressure: advance at most maxVersionsPerTrigger versions per
    // micro-batch — a consumer catching up over a deep backlog processes
    // it as bounded batches instead of one giant diff. Pins make
    // retention NON-contiguous (vacuum keeps newest-k PLUS pinned), so a
    // rate-limited endpoint may name a vacuumed version — clamp forward
    // to the oldest retained version covering it (the diff spans the
    // gap; one batch runs larger than the limit, nothing is skipped).
    // lastReported < 0 = torn high-water file: the resume horizon is
    // unknown, so the clamp must not apply this trigger — report cur
    // (never below any committed offset) and re-learn the high-water
    val floor = if (lastReported < 0) cur
      else math.max(lastReported, baseVersion)
    val want = maxVersionsPerTrigger
      .fold(cur)(m => math.min(cur, floor + m)).toInt
    val clamped =
      if (want.toLong == cur) want else vs.find(_ >= want).getOrElse(cur.toInt)
    if (clamped <= baseVersion) return None
    synchronized {
      // pin before reporting (once per version — getOffset fires every
      // trigger): the engine will read back to this version after
      // arbitrary wall time; vacuum must not outrun the batch.
      // Pin-THEN-verify: the listing above is already stale, so a
      // concurrent vacuum may have taken the candidate — fall forward
      // to the head (which vacuum keeps), or skip this trigger if even
      // that was lost to a commit+vacuum race.
      def pinVerified(cand: Int): Boolean =
        pinned.contains(cand) || {
          table.pinSnapshot(cand)
          if (table.retained(cand)) { pinned += cand; true }
          else { table.unpinSnapshot(cand); false }
        }
      val v: Int =
        if (pinVerified(clamped)) clamped
        else if (clamped != cur.toInt && pinVerified(cur.toInt)) cur.toInt
        else return None
      if (v.toLong > lastReported) {
        lastReported = v.toLong
        // ATOMIC write (ADVICE r7): a plain create-then-write can leave a
        // partially flushed numeric prefix ('1' of '12') that parses as a
        // valid-but-low high-water — re-enabling the below-committed
        // getOffset report this file exists to prevent. tmp+rename makes
        // torn content impossible; durable BEFORE the offset is reported.
        fio.writeAtomic(hwFile, lastReported.toString)
      }
      Some(LongOffset(v.toLong))
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from0 = start.map(ver).getOrElse(baseVersion)
    val to = ver(end)
    // advance + persist the committed floor BEFORE building the batch: a
    // crash right after this write keeps the clip; a crash before it at
    // worst re-observes the same start offset next run
    if (from0 > committedFloor) synchronized {
      if (from0 > committedFloor) {
        committedFloor = from0
        fio.writeAtomic(floorFile, committedFloor.toString)
      }
    }
    val from = math.max(from0, committedFloor)
    synchronized { lastReported = math.max(lastReported, math.max(from, to)) }
    // cdf=true: Delta-CDF form — updates as update_preimage/postimage
    // pairs (same schema; only the _change_type domain widens)
    // to <= from: an inverted/stale window (a checkpoint written by a
    // pre-high-water build, or an offset-log regression clipped by the
    // floor) — emit an empty batch rather than wedging the checkpoint
    val feed =
      if (to <= from) table.readChangesBetween(to.toInt, to.toInt)
      else if (cdf) table.readChangesBetweenCdf(from.toInt, to.toInt)
      else table.readChangesBetween(from.toInt, to.toInt)
    val batch = feed.select(schema.fieldNames.toSeq.map(col): _*)
    val qe = batch.queryExecution
    GraftSqlShims.streamingDataFrame(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      qe.toRdd, schema)
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
