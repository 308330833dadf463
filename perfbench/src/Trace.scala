package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * time base as Spark's listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One Spark stage as the listener saw it. Times are epoch ms. */
final case class StageRec(id: Int, name: String, startMs: Double,
    endMs: Double, cpuS: Double, shuffleRead: Long, shuffleWrite: Long,
    inBytes: Long, inRecords: Long, outBytes: Long, outRecords: Long,
    spill: Long, schedDelayS: Double, shuffleMap: Boolean)

/** Records every completed stage and every job start. */
final class StageListener extends SparkListener {
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobStartsMs = new ConcurrentLinkedQueue[java.lang.Double]()
  private val delay = new ConcurrentHashMap[Integer, java.lang.Double]()
  /** SQL execution id → the call site that started it */
  private val execSite = new ConcurrentHashMap[java.lang.Long, String]()
  /** stage id → SQL execution id of the job that ran it */
  private val stageExec = new ConcurrentHashMap[Integer, java.lang.Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, s.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStartsMs.add(e.time.toDouble)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => e.stageIds.foreach(id => stageExec.put(id, x.toLong)))
  }

  /** Call site of the SQL execution that ran the stage. */
  def execCallSite(stageId: Int): Option[String] =
    Option(stageExec.get(stageId)).flatMap(x => Option(execSite.get(x)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val d = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      delay.merge(e.stageId, math.max(0L, d) / 1000.0, (a, b) => a + b)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    val start = si.submissionTime.getOrElse(end)
    val d = Option(delay.remove(si.stageId)).map(_.doubleValue).getOrElse(0.0)
    stages.add(StageRec(si.stageId,
      Layers.resolveSite(si.name, execCallSite(si.stageId)),
      start.toDouble, end.toDouble,
      if (m == null) 0 else m.executorCpuTime / 1e9,
      if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0 else m.inputMetrics.bytesRead,
      if (m == null) 0 else m.inputMetrics.recordsRead,
      if (m == null) 0 else m.outputMetrics.bytesWritten,
      if (m == null) 0 else m.outputMetrics.recordsWritten,
      if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled,
      d,
      org.apache.spark.SparkAccess.isShuffleMap(si)))
  }
}

/** Stage → layer attribution by the stage's call site: the operation and
  * the source file of the engine frame that launched it, never the line
  * number, so an edit that shifts lines keeps the attribution. */
object Layers {

  private val SiteForm = "\\S+ at \\S+:\\d+".r

  /** The call site a stage is attributed by. Adaptive execution submits
    * its query stages from a pool thread, so their own name is a JDK frame
    * ("... at CompletableFuture.java:..."); those take the call site of the
    * SQL execution that planned them, when it has one. */
  def resolveSite(stageName: String, execSite: Option[String]): String =
    if (callSite(stageName)._2.endsWith(".scala")) stageName
    else execSite.filter(SiteForm.matches).getOrElse(stageName)

  /** ("fold", "Engine.scala") from "fold at Engine.scala:179". */
  def callSite(stageName: String): (String, String) = {
    val i = stageName.lastIndexOf(" at ")
    if (i < 0) (stageName, "")
    else {
      val loc = stageName.substring(i + 4)
      val colon = loc.lastIndexOf(':')
      (stageName.substring(0, i), if (colon < 0) loc else loc.substring(0, colon))
    }
  }

  /** The layer of a stage, from its resolved call site. In Engine.scala:
    * the dedup job is the `rdd` conversion in front of inference (its map
    * stage is the dedup exchange, its result stage the reduce into the
    * cached winners; in an incremental apply the revision-skip join runs
    * there too) or, in an incremental apply, the touched-bucket `collect`,
    * whose source-reading map stage is the dedup exchange and whose other
    * stages are the revision-skip bucket scan; `fold` is schema inference;
    * the noop `save` is the shared `from_json` parse (multi-table
    * catalogs only; a single table parses inside its merge). Streamed
    * batches carry the query's `start` call site instead (below). In
    * LakeTable.scala map stages are the merge exchange and result stages
    * the file writes. A stage launched from the benchmark's own code (a
    * read it consumes) belongs to the layer of the public call it was
    * timing, `spanLayer`. */
  def of(s: StageRec, spanLayer: String): String = {
    val (op, file) = callSite(s.name)
    file match {
      case "Engine.scala" => op match {
        case "rdd" => "engine.dedup"
        case "collect" if s.shuffleMap && s.shuffleRead == 0 => "engine.dedup"
        case "collect" => "engine.skip"
        case "fold" => "schema.infer"
        case "save" => "flatten.parse"
        // Structured Streaming stamps every job of a query's thread with
        // the call site of the query's start(), so dedup, revision skip,
        // inference and parse of a streamed batch share this one layer
        case "start" => "engine.stream"
        case _ => "engine.other"
      }
      case "LakeTable.scala" | "Fio.scala" =>
        if (s.shuffleMap) "lake.merge" else "lake.write"
      case "Flattener.scala" => "flatten.explode"
      case "Materialize.scala" | "ChangefeedSource.scala" => "streaming.mv"
      case _ => spanLayer
    }
  }

  /** Module of a layer name: "lake" for "lake.merge". */
  def module(layer: String): String = layer.takeWhile(_ != '.')
}

/** A benchmark-owned span around one public call. Times are epoch ms. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
    endMs: Double)

/** Spans around the public calls the benchmark makes and, while tracing
  * is on, a SparkListener recording every stage. Timed runs construct it
  * with `enabled = false`: then nothing is recorded and no listener is
  * attached. A traced run may attach the listener for some operations
  * only (`attach`/`detach`) to measure the tracing overhead against the
  * untraced ones of the same run. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var listener: Option[StageListener] = None
  private val allListeners = mutable.ArrayBuffer.empty[StageListener]

  def attached: Boolean = listener.isDefined

  /** The span the last [[time]] call on this tracer recorded. */
  @volatile var lastSpan: Option[Span] = None

  def attach(): Unit = if (enabled && listener.isEmpty) {
    val l = new StageListener
    sc.addSparkListener(l)
    allListeners += l
    listener = Some(l)
  }

  def detach(): Unit = listener.foreach { l =>
    drain()
    sc.removeSparkListener(l)
    listener = None
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = if (listener.isDefined) org.apache.spark.SparkAccess.drainListenerBus(sc)

  /** Time `f`; returns its result and its wall seconds. When tracing, the
    * interval is kept as a span named `name`. */
  def time[T](name: String)(f: => T): (T, Double) = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = synchronized { stack.headOption.getOrElse(0) }
    synchronized { stack = id :: stack }
    val s = Clock.nowMs
    try {
      val r = f
      (r, (Clock.nowMs - s) / 1000.0)
    } finally {
      val e = Clock.nowMs
      synchronized {
        stack = stack.tail
        if (enabled) {
          val sp = Span(id, name, parent, s, e)
          spans += sp
          lastSpan = Some(sp)
        }
      }
    }
  }

  /** Record a span measured elsewhere (e.g. a streaming batch, known only
    * from its commit callback). */
  def record(name: String, startMs: Double, endMs: Double): Option[Span] =
    if (!enabled) None
    else synchronized {
      val sp = Span(nextId, name, 0, startMs, endMs)
      spans += sp
      nextId += 1
      Some(sp)
    }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def stages: Seq[StageRec] = {
    drain()
    allListeners.toSeq.flatMap(_.stages.asScala).sortBy(_.startMs)
  }
  def jobStarts: Seq[Double] =
    allListeners.toSeq.flatMap(_.jobStartsMs.asScala.map(_.doubleValue))
}

/** A stage parented to a span, with its attributed layer. */
final case class Attributed(stage: StageRec, span: Span, layer: String)

/** Span/stage analysis of a traced run. */
final class TraceView(val spans: Seq[Span], stages: Seq[StageRec]) {

  /** Innermost span whose interval holds the stage's submission. */
  private def parentOf(s: StageRec): Option[Span] =
    spans.filter(sp => sp.startMs <= s.startMs && s.startMs <= sp.endMs)
      .sortBy(sp => sp.endMs - sp.startMs).headOption

  val attributed: Seq[Attributed] = stages.flatMap { s =>
    parentOf(s).map(sp => Attributed(s, sp, Layers.of(s, sp.name)))
  }

  private val byId = spans.map(s => s.id -> s).toMap
  private def ancestry(s: Span): List[Span] =
    s :: byId.get(s.parent).map(ancestry).getOrElse(Nil)

  private def clip(iv: (Double, Double), lo: Double, hi: Double) =
    (math.max(iv._1, lo), math.min(iv._2, hi))

  /** Seconds of `span` not covered by any stage it caused: driver time. */
  def driverGapS(span: Span): Double = {
    val iv = attributed.filter(a => a.span.id == span.id || isBelow(a, span))
      .map(a => clip((a.stage.startMs, a.stage.endMs), span.startMs, span.endMs))
    ((span.endMs - span.startMs) - Stats.unionLength(iv)) / 1000.0
  }

  private def isBelow(a: Attributed, sp: Span) =
    ancestry(a.span).exists(_.id == sp.id)

  /** Stage wall inside `span` shared out by layer: at each instant the
    * running stages split it evenly, so the shares sum to the union of
    * the stage intervals. Seconds per layer. */
  def layerWallS(span: Span): Map[String, Double] = {
    val iv = attributed.filter(a => a.span.id == span.id || isBelow(a, span))
      .map { a =>
        val (s, e) = clip((a.stage.startMs, a.stage.endMs), span.startMs, span.endMs)
        (a.layer, s, e)
      }.filter(t => t._3 > t._2)
    val cuts = iv.flatMap(t => Seq(t._2, t._3)).distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val live = iv.filter(t => t._2 <= a && t._3 >= b)
      live.foreach(t => acc(t._1) += (b - a) / live.size / 1000.0)
    }
    acc.toMap
  }

  /** Self seconds per module: each span's duration minus the part its
    * child spans and stages cover, plus each stage's wall (shared evenly
    * among concurrent stages), summed by the module of its name/layer. */
  def selfByModule: Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { sp =>
      val kids = spans.filter(_.parent == sp.id).map(k => (k.startMs, k.endMs)) ++
        attributed.filter(_.span.id == sp.id).map(a => (a.stage.startMs, a.stage.endMs))
      val covered = Stats.unionLength(kids.map(clip(_, sp.startMs, sp.endMs)))
      acc(Layers.module(sp.name)) += ((sp.endMs - sp.startMs) - covered) / 1000.0
      layerWallOwn(sp).foreach { case (l, s) => acc(Layers.module(l)) += s }
    }
    acc.toMap
  }

  private def layerWallOwn(sp: Span): Map[String, Double] = {
    val own = attributed.filter(_.span.id == sp.id)
    new TraceView(Seq(sp), own.map(_.stage)).layerWallS(sp)
  }
}
