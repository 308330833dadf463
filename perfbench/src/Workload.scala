package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.ApplyStats

/** One traced apply: its span, what it returned, its input size. */
final case class ApplyRec(span: Span, stats: ApplyStats, events: Long,
    docBytes: Long)

/** Shared measuring steps. Each public call is timed from outside through
  * the [[Tracer]]; a failure is counted by [[Result.op]]. Subclasses set up
  * their inputs, run their loop until the deadline and check outputs
  * outside the timed calls. */
abstract class Workload(val spark: SparkSession, val o: Opts,
    val tracer: Tracer, val res: Result) {

  /** Sets up the run: the input set-up is repeated [[SetupReps]] times
    * (median); one-off steps (start queries, warm-up) add once. Seconds. */
  def setup(): Double
  def measure(): Unit
  def finish(): Unit

  val SetupReps = 3

  protected def dir(name: String): String = new File(o.work, name).getPath
  protected def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(path))
  }

  /** Run `once(rep)` [[SetupReps]] times; median seconds. */
  protected def repeatSetup(once: Int => Unit): Double = {
    val ts = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      once(rep)
      (System.nanoTime() - t0) / 1e9
    }
    res.detail("setup_reps_s") = graft.schema.JArr(ts.map(Out.num).toVector)
    Stats.median(ts)
  }

  protected var deadlineMs = 0.0
  protected def startClock(): Unit = deadlineMs = Clock.nowMs + o.seconds * 1000
  /** A loop starts another whole pass or round while this holds: at least
    * [[MinOps]] of them, then more while the window lasts. A traced run
    * alternates traced and untraced ones and needs both for the tracing
    * overhead, so it does at least two. */
  protected def timeLeft(done: Int): Boolean =
    done < (if (o.trace) math.max(2, MinOps) else MinOps) || Clock.nowMs < deadlineMs
  def MinOps: Int

  // ---- engine.apply ----
  protected var appliedEvents = 0L
  protected var applyWallS = 0.0
  protected val applies = mutable.ArrayBuffer.empty[ApplyRec]

  protected def apply(lake: Lake, df: DataFrame, tag: String, events: Long,
      docBytes: Long): Option[ApplyStats] =
    res.op(s"apply $tag") {
      tracer.time("engine.apply")(lake.engine.applyEvents(lake.entity, df, tag))
    }.map { case (st, s) =>
      appliedEvents += events
      applyWallS += s
      res.sample("batch_s", s)
      if (tracer.attached)
        applies += ApplyRec(tracer.lastSpan.get, st, events, docBytes)
      st
    }

  // ---- lake.lookup ----
  private var lookupFiles = 0L
  private var lookupHits = 0L
  private var lookupSpans = 0

  protected def lookup(lake: Lake, key: String, expected: Option[String]): Unit =
    res.op(s"lookup $key") {
      tracer.time("lake.lookup")(lake.rootTable.readWhere(col("ID") === key)
        .select(col("REV")).collect().map(_.getString(0)).toSeq)
    }.foreach { case (revs, s) =>
      res.sample("lookup_s", s)
      res.check(Checks.lookup(key, revs, expected))
      if (tracer.attached) {
        lookupSpans += 1
        lookupHits += revs.size
        lookupFiles += lake.rootTable.readWhere(col("ID") === key).inputFiles.length
      }
    }

  // ---- lake.feed: root changefeed + entity-wide consistent-cut diff ----
  private var feedFiles = 0L
  private var feedRows = 0L
  private var feedPolls = 0

  /** Poll the root table's changes since `horizon` and the entity's
    * changes from the pinned cut `from` to a new cut `toId`, which stays
    * pinned and is returned; `from` is released. */
  protected def feedPoll(lake: Lake, horizon: Long,
      from: (String, Map[String, Int]), toId: String): Option[Map[String, Int]] =
    res.op("feed poll") {
      tracer.time("lake.feed") {
        Lake.consume(lake.rootTable.readChangesSince(horizon))
        val to = lake.engine.consistentCut(lake.entity, toId)
        lake.engine.changesBetween(lake.entity, from._2, to).values
          .foreach(Lake.consume)
        to
      }
    }.map { case (to, s) =>
      res.sample("feed_poll_s", s)
      if (tracer.attached) {
        val frames = lake.rootTable.readChangesSince(horizon) +:
          lake.engine.changesBetween(lake.entity, from._2, to).values.toSeq
        feedPolls += 1
        feedFiles += frames.map(_.inputFiles.length.toLong).sum
        feedRows += frames.map(_.count()).sum
      }
      lake.engine.releaseCut(lake.entity, from._1)
      to
    }

  // ---- lake.maintain ----
  private var maintainDeleted = 0L

  protected def maintain(lake: Lake): Unit = {
    val before = lake.files()
    tracer.attach()
    res.op("maintain") {
      tracer.time("lake.maintain")(
        lake.engine.maintain(lake.entity, vacuumGraceMs = 0L))
    }.foreach { case (_, s) => res.layer("lake.maintain.wall_s") = s }
    val after = lake.files()
    maintainDeleted = before.keySet.diff(after.keySet)
      .count(p => lake.isData(p) && p.endsWith(".parquet")).toLong
  }

  /** End-to-end metrics every workload shares. */
  protected def commonE2e(lakeBytes: Long, lakeInputBytes: Long): Unit = {
    res.e2e("events_per_s") = appliedEvents / applyWallS
    res.e2e("batch_s_p50") = res.p50("batch_s")
    res.e2e("freshness_s_p50") = res.p50("freshness_s")
    res.e2e("lookup_s_p50") = res.p50("lookup_s")
    res.e2e("lake_bytes_per_input_byte") = lakeBytes.toDouble / lakeInputBytes
  }

  /** Per-layer metrics from the trace. `headline` holds (traced?, value)
    * samples of the workload's headline timing, for the tracing overhead. */
  protected def layerMetrics(shape: Map[String, Double],
      headline: Seq[(Boolean, Double)]): Unit = {
    val view = new TraceView(tracer.allSpans, tracer.stages)
    val jobs = tracer.jobStarts
    shape.foreach { case (k, v) => res.layer(k) = v }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    if (applies.nonEmpty) {
      val per = applies.toSeq.map { a =>
        val sp = a.span
        val ats = view.attributed.filter(_.span.id == sp.id)
        val walls = view.layerWallS(sp)
        def of(l: String*) = ats.filter(x => l.contains(x.layer)).map(_.stage)
        val wall = (sp.endMs - sp.startMs) / 1000.0
        val gap = view.driverGapS(sp)
        val attributedWall = walls.filter(_._1 != sp.name).values.sum
        Map(
          "engine.apply.wall_s" -> wall,
          "engine.dedup.cpu_s" -> of("engine.dedup").map(_.cpuS).sum,
          "engine.dedup.shuffle_write_bytes" -> of("engine.dedup").map(_.shuffleWrite).sum.toDouble,
          "engine.dedup.rows_in" -> a.events.toDouble,
          "engine.dedup.rows_out" ->
            (a.stats.dedupedDocs + a.stats.skippedUnchanged + a.stats.deletes).toDouble,
          "engine.exchanges_per_batch" -> ats.count(_.stage.shuffleMap).toDouble,
          "engine.jobs_per_batch" ->
            jobs.count(t => t >= sp.startMs - 1 && t <= sp.endMs + 1).toDouble,
          "engine.driver_gap_s" -> gap,
          "engine.stream.wall_s" -> walls.getOrElse("engine.stream", 0.0),
          "schema.infer.cpu_s" -> of("schema.infer").map(_.cpuS).sum,
          "schema.infer.wall_s" -> walls.getOrElse("schema.infer", 0.0),
          "flatten.parse.cpu_s" -> of("flatten.parse").map(_.cpuS).sum,
          "flatten.parse.wall_s" -> walls.getOrElse("flatten.parse", 0.0),
          "lake.merge.wall_s" ->
            (walls.getOrElse("lake.merge", 0.0) + walls.getOrElse("lake.write", 0.0)),
          "lake.merge.cpu_s" -> of("lake.merge", "lake.write").map(_.cpuS).sum,
          "lake.merge.shuffle_bytes" -> of("lake.merge").map(_.shuffleWrite).sum.toDouble,
          "lake.write.bytes" -> of("lake.write").map(_.outBytes).sum.toDouble,
          "trace.closure" -> (attributedWall + gap) / wall)
      }
      val medianOf = Set("engine.apply.wall_s", "engine.driver_gap_s", "trace.closure")
      per.head.keys.foreach { k =>
        val xs = per.map(_(k))
        res.layer(k) = if (medianOf(k)) med(xs) else mean(xs)
      }
      res.layer("lake.write_amp") =
        per.map(_("lake.write.bytes")).sum / applies.map(_.docBytes).sum
      res.detail("trace_closure_per_apply") =
        graft.schema.JArr(per.map(m => Out.num(m("trace.closure"))).toVector)
    }
    val lookups = view.attributed.filter(_.span.name == "lake.lookup")
    if (lookupSpans > 0) {
      res.layer("lake.lookup.files_read") = lookupFiles.toDouble / lookupSpans
      res.layer("lake.lookup.bytes_read") =
        lookups.map(_.stage.inBytes).sum.toDouble / lookupSpans
      res.layer("lake.lookup.rows_scanned_per_hit") =
        lookups.map(_.stage.inRecords).sum.toDouble / math.max(1L, lookupHits)
    }
    if (feedPolls > 0) {
      res.layer("lake.feed.poll_s") = res.p50("feed_poll_s")
      val feeds = view.attributed.filter(_.span.name == "lake.feed")
      res.layer("lake.feed.files_read") = feedFiles.toDouble / feedPolls
      res.layer("lake.feed.bytes_read") = feeds.map(_.stage.inBytes).sum.toDouble / feedPolls
      res.layer("lake.feed.rows") = feedRows.toDouble / feedPolls
    }
    res.layer("lake.maintain.bytes_rewritten") =
      view.attributed.filter(_.span.name == "lake.maintain").map(_.stage.outBytes).sum.toDouble
    res.layer("lake.maintain.files_deleted") = maintainDeleted.toDouble
    Seq("freshness_s" -> "freshness_s_tail", "lookup_s" -> "lookup_s_tail")
      .foreach { case (s, m) =>
        Stats.tail(res.samplesOf(s)).foreach(t => res.layer(m) = t._2)
      }
    val (on, off) = headline.partition(_._1)
    if (on.nonEmpty && off.nonEmpty)
      res.layer("trace_overhead_frac") =
        Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1
  }
}
