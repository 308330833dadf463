package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.cdc.{ChangeEvent, EventGen}
import graft.engine.ApplyStats
import graft.lake.LakeTable
import graft.schema.{JNum, JObj, JStr, Json}
import graft.streaming.Materialize

/** Reads beside a live tail. One closed-loop client alternates a small
  * write with a fixed read mix. The write is one event file renamed into
  * the source directory of a running `Engine.stream(incremental = true)`;
  * the client waits for the batch that commits it. Each file carries
  * [[RoundEvents]] new events and re-delivers the previous file's new
  * events, whose documents the revision skip must drop. The read mix: wait for the
  * rollup view (`Materialize.rollup`) to fold the commit, [[Lookups]]
  * bucket-pruned point lookups, one changefeed poll from the last
  * high-water (root `readChangesSince` plus the entity-wide
  * `changesBetween` between consistent cuts), and one `readAsOf` scan. No
  * compaction runs in the loop, so snapshots and segments accumulate; the
  * run ends with one timed `maintain`. The streaming entry's per-batch
  * fixed cost, the read path, manifest resolution, changefeed and view
  * maintenance do the work; writes are small. */
final class ReadWhileWrite(spark: SparkSession, o: Opts, tracer: Tracer,
    res: Result) extends Workload(spark, o, tracer, res) {

  val Preload = 2000
  val Buckets = 8
  val RoundEvents = 100
  val MaxRounds = 200
  val Lookups = 8
  // one round takes longer than the window on a 4-vCPU host
  val MinOps = 1
  // narrow Zipf-hot keys; the evolved shape lands inside the pre-load so
  // every table exists before the loop starts. No duplicate deliveries in
  // the tail: a duplicate split across two files would be revision-skipped
  // too, and the skip count could not be checked exactly against the
  // planted re-deliveries.
  val p = EventGen.Params(nEvents = Preload + MaxRounds.toLong * RoundEvents,
    seed = o.seed, dupPct = 0, evolveAfterFraction = 0.02)

  private val expect = new Expect
  private var lake: Lake = _
  private var tail: StreamingQuery = _
  private var mv: StreamingQuery = _
  private var view: LakeTable = _
  private val ViewName = "LANG_ROLLUP"
  private var src = ""
  private val commits = new LinkedBlockingQueue[(Long, Double, ApplyStats)]()

  /** Materialize the pre-load events (repeated, median) then, once,
    * pre-load the lake, start the view and the tail and warm the lookup. */
  def setup(): Double = {
    var input = ""
    val materialize = repeatSetup { rep =>
      if (rep > 0) rm(input)
      input = dir(s"preload-$rep")
      import spark.implicits._
      val pp = p
      spark.range(0, Preload, 1, Main.cores).as[Long]
        .map(i => EventGen.eventAt(i, pp)).write.parquet(input)
    }
    val t0 = System.nanoTime()
    val base = dir("run")
    lake = new Lake(spark, s"$base/lake", Buckets)
    lake.engine.applyEvents(lake.entity, spark.read.parquet(input), "preload")
    mv = Materialize.rollup(spark, lake.root, lake.rootTable.name,
      s"$base/view", ViewName, "LANG",
      Map("BYTES" -> length(col("CONTENT")).cast("long")),
      checkpoint = s"$base/view-checkpoint")
    mv.processAllAvailable()
    view = new LakeTable(spark, s"$base/view", ViewName)
    src = s"$base/src"
    new File(src).mkdirs()
    val schema = StructType(Seq(StructField("lsn", LongType),
      StructField("op", StringType), StructField("ts", StringType),
      StructField("doc", StringType)))
    tail = lake.engine.stream(lake.entity,
      spark.readStream.schema(schema).json(src), s"$base/checkpoint",
      queryName = "tail", incremental = true,
      onStats = (b: Long, st: ApplyStats) => { commits.put((b, Clock.nowMs, st)); () })
    // warm the lookup path once so the first round is not a cold outlier
    lake.rootTable.readWhere(col("ID") === "warm").collect()
    expect.addRange(p, 0, Preload)
    inputBytes = expect.docBytes
    prevEvents = (Preload - RoundEvents until Preload).map(EventGen.eventAt(_, p))
    materialize + (System.nanoTime() - t0) / 1e9
  }

  private final case class Batch(id: Long, dueMs: Double, commitMs: Double,
      stats: ApplyStats, events: Long, bytes: Long, traced: Boolean)

  private var next = Preload.toLong
  private var round = 0
  private var prevEvents = Seq.empty[ChangeEvent]
  private var cut: (String, Map[String, Int]) = _
  private val rnd = new scala.util.Random(o.seed)
  private val roundWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private var mvBatch = -1L
  private val mvRows = mutable.ArrayBuffer.empty[Double]
  private val mvGroups = mutable.ArrayBuffer.empty[Double]
  private val lookupPool = mutable.ArrayBuffer.empty[String]
  private var redelivered = 0L
  private var inputBytes = 0L

  private def fileOf(evs: Seq[ChangeEvent]): Array[Byte] = evs.map(e =>
    Json.render(JObj(Vector("lsn" -> JNum(e.lsn.toString), "op" -> JStr(e.op),
      "ts" -> JStr(e.ts.toString), "doc" -> JStr(e.doc)))))
    .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)

  /** Re-delivered documents the revision skip must drop: the upsert
    * winners among `again` (already applied, nothing newer since) whose key
    * no new event of the same batch supersedes. */
  private def skipsDue(again: Seq[ChangeEvent], fresh: Seq[ChangeEvent]): Long = {
    val e = new Expect
    again.foreach(e.add)
    val newer = fresh.map(x => Expect.idOf(x.doc)).toSet
    e.live.keys.count(k => !newer(k)).toLong
  }

  private def oneRound(): Unit = {
    round += 1
    val fresh = (next until next + RoundEvents).map(EventGen.eventAt(_, p))
    val evs = prevEvents ++ fresh
    val want = skipsDue(prevEvents, fresh)
    val bytes = evs.map(_.doc.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    inputBytes += bytes
    fresh.foreach(expect.add)
    next += RoundEvents
    val name = f"r$round%05d.json"
    val staged = new File(o.work, name)
    Files.write(staged.toPath, fileOf(evs))
    val asOfMs = lake.rootTable.snapshot().timeMs
    val horizon = fresh.head.lsn - 1

    val t0 = Clock.nowMs
    Files.move(staged.toPath, new File(src, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    res.op(s"tail commit of $name") {
      val c = commits.poll(120, TimeUnit.SECONDS)
      require(c != null, "no commit within 120 s")
      c
    }.foreach { case (b, commitMs, st) =>
      res.sample("freshness_s", (commitMs - t0) / 1000.0)
      batches += Batch(b, t0, commitMs, st, evs.size.toLong, bytes, tracer.attached)
      if (tracer.attached) redelivered += want
      res.check(Checks.skips(st.skippedUnchanged, want).map(x => s"$name: $x"))
    }
    prevEvents = fresh

    res.op("view fold") {
      tracer.time("streaming.mv.fold")(mv.processAllAvailable())
    }.foreach { case (_, s) =>
      res.sample("mv_fold_s", s)
      if (tracer.attached) {
        val ps = mv.recentProgress.filter(_.batchId > mvBatch)
        mvRows += ps.map(_.numInputRows.toDouble).sum
        ps.lastOption.foreach(x => mvBatch = x.batchId)
        mvGroups += view.snapshot().lineage.lastOption
          .map(l => (l.upserted + l.deleted).toDouble).getOrElse(0.0)
      }
    }
    res.check(Checks.rollup(viewState(), recompute()))

    val hot = fresh.map(e => Expect.idOf(e.doc)).distinct
    lookupPool ++= hot
    val keys = Seq.fill(Lookups / 2)(hot(rnd.nextInt(hot.size))) ++
      Seq.fill(Lookups - Lookups / 2)(lookupPool(rnd.nextInt(lookupPool.size)))
    keys.foreach(k => lookup(lake, k, expect.rev(k)))

    feedPoll(lake, horizon, cut, s"c$round").foreach(to => cut = (s"c$round", to))

    res.op("as-of scan") {
      tracer.time("lake.asof")(Lake.consume(lake.rootTable.readAsOf(asOfMs)))
    }.foreach { case (_, s) => res.sample("asof_s", s) }
    roundWall += ((tracer.attached, (Clock.nowMs - t0) / 1000.0))
  }

  private def viewState(): Map[String, (Long, Long)] =
    view.read().collect().map(r => r.getAs[String]("LANG") ->
      (r.getAs[Long]("N"), r.getAs[Long]("BYTES"))).toMap

  private def recompute(): Map[String, (Long, Long)] =
    lake.rootTable.read().groupBy(col("LANG"))
      .agg(count(lit(1)), sum(length(col("CONTENT")).cast("long")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private var preloadFiles = 0.0

  def measure(): Unit = {
    preloadFiles = lake.shape()("lake.data_files")
    lookupPool ++= expect.live.keys.toSeq.sorted
    cut = ("c0", lake.engine.consistentCut(lake.entity, "c0"))
    startClock()
    while (timeLeft(round) && round < MaxRounds) {
      if (round % 2 == 1) tracer.attach() else tracer.detach()
      oneRound()
    }
    tracer.detach()
    res.detail("rounds") = Out.num(round.toLong)
  }

  def finish(): Unit = {
    tail.stop()
    mv.stop()
    lake.engine.releaseCut(lake.entity, cut._1)
    res.check(Checks.finalState(lake.rootState(), expect.live))
    // stream batch walls as the engine logged them
    val wallMs = lake.engine.metricsLog(lake.entity).collect()
      .map(r => r.getAs[Long]("batch") -> r.getAs[Long]("wall_ms")).toMap
    batches.foreach { b =>
      wallMs.get(b.id).foreach { w =>
        res.sample("batch_s", w / 1000.0)
        res.sample("queue_wait_s", (b.commitMs - w - b.dueMs) / 1000.0)
        appliedEvents += b.events
        applyWallS += w / 1000.0
        if (b.traced) tracer.record("engine.apply", b.commitMs - w, b.commitMs)
          .foreach(sp => applies += ApplyRec(sp, b.stats, b.events, b.bytes))
      }
    }
    val shape = lake.shape()
    maintain(lake)
    commonE2e(lake.bytes(), inputBytes)
    if (o.trace) {
      layerMetrics(shape, roundWall.toSeq)
      res.layer("lake.write.files") =
        (shape("lake.data_files") - preloadFiles) / round
      res.layer("engine.skip.ratio") = if (redelivered == 0) 0.0
        else batches.filter(_.traced).map(_.stats.skippedUnchanged).sum.toDouble / redelivered
      res.layer("streaming.batch.wall_s") = res.p50("batch_s")
      res.layer("streaming.queue_wait_s") = res.p50("queue_wait_s")
      res.layer("streaming.mv.fold.wall_s") = res.p50("mv_fold_s")
      if (mvRows.nonEmpty) {
        res.layer("streaming.mv.rows_in") = mvRows.sum / mvRows.size
        res.layer("streaming.mv.groups_changed") = mvGroups.sum / mvGroups.size
      }
      res.layer("lake.asof.wall_s") = res.p50("asof_s")
    }
  }
}
