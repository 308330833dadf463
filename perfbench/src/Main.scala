package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.schema.{JArr, JBool, JNum, JObj, JStr, JValue, Json}

/** The metrics the benchmark reports, with their units; BENCHMARK.json
  * lists the same names (checked by [[SelfTest]]). Every workload reports
  * every metric; a per-layer metric of work a workload does not do reads 0. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "events_per_s" -> "events/s",
    "batch_s_p50" -> "s",
    "freshness_s_p50" -> "s",
    "lookup_s_p50" -> "s",
    "lake_bytes_per_input_byte" -> "ratio",
    "peak_rss_mb" -> "MB",
  )

  val PerLayer: Seq[(String, String)] = Seq(
    "engine.apply.wall_s" -> "s",
    "engine.dedup.cpu_s" -> "s",
    "engine.dedup.shuffle_write_bytes" -> "bytes",
    "engine.dedup.rows_in" -> "count",
    "engine.dedup.rows_out" -> "count",
    "engine.exchanges_per_batch" -> "count",
    "engine.jobs_per_batch" -> "count",
    "engine.driver_gap_s" -> "s",
    "engine.stream.wall_s" -> "s",
    "engine.skip.ratio" -> "ratio",
    "schema.infer.cpu_s" -> "s",
    "schema.infer.wall_s" -> "s",
    "schema.registry.versions" -> "count",
    "flatten.parse.cpu_s" -> "s",
    "flatten.parse.wall_s" -> "s",
    "flatten.tables" -> "count",
    "lake.merge.wall_s" -> "s",
    "lake.merge.cpu_s" -> "s",
    "lake.merge.shuffle_bytes" -> "bytes",
    "lake.write.bytes" -> "bytes",
    "lake.write.files" -> "count",
    "lake.write_amp" -> "ratio",
    "lake.snapshots" -> "count",
    "lake.segments" -> "count",
    "lake.data_files" -> "count",
    "lake.data_bytes" -> "bytes",
    "lake.control.files" -> "count",
    "lake.control.bytes" -> "bytes",
    "lake.lookup.files_read" -> "count",
    "lake.lookup.bytes_read" -> "bytes",
    "lake.lookup.rows_scanned_per_hit" -> "count",
    "lake.feed.files_read" -> "count",
    "lake.feed.bytes_read" -> "bytes",
    "lake.feed.rows" -> "count",
    "lake.feed.poll_s" -> "s",
    "lake.asof.wall_s" -> "s",
    "lake.maintain.wall_s" -> "s",
    "lake.maintain.bytes_rewritten" -> "bytes",
    "lake.maintain.files_deleted" -> "count",
    "streaming.batch.wall_s" -> "s",
    "streaming.queue_wait_s" -> "s",
    "streaming.mv.fold.wall_s" -> "s",
    "streaming.mv.rows_in" -> "count",
    "streaming.mv.groups_changed" -> "count",
    "freshness_s_tail" -> "s",
    "lookup_s_tail" -> "s",
    "jvm.gc_s" -> "s",
    "jvm.cpu_util" -> "ratio",
    "spark.scheduler_delay_s" -> "s",
    "spark.spill_bytes" -> "bytes",
    "self_s.engine" -> "s",
    "self_s.schema" -> "s",
    "self_s.flatten" -> "s",
    "self_s.lake" -> "s",
    "self_s.streaming" -> "s",
    "trace.closure" -> "ratio",
    "trace_overhead_frac" -> "ratio",
  )
}

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, heap: String)

/** What one run measured and checked. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, JValue]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def check(ps: Seq[String]): Unit = problems ++= ps.map(_.take(2000))

  /** One measured operation. A failure counts against the attempts and
    * fails the run; it is never dropped. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case NonFatal(e) =>
        failed += 1
        problems += s"$what failed: $e".take(2000)
        None
    }
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def samplesOf(name: String): Seq[Double] =
    samples.get(name).map(_.toSeq).getOrElse(Nil)
  def p50(name: String): Double =
    if (samplesOf(name).isEmpty) 0.0 else Stats.median(samplesOf(name))

  def samplesJson: JValue = JObj(samples.toVector.map { case (k, xs) =>
    val t = Stats.tail(xs.toSeq)
    k -> JObj(Vector("n" -> Out.num(xs.size), "p50" -> Out.num(Stats.median(xs.toSeq)),
      "tail_q" -> t.map(x => Out.num(x._1)).getOrElse(graft.schema.JNull),
      "tail" -> t.map(x => Out.num(x._2)).getOrElse(graft.schema.JNull)))
  })
}

object Out {
  def num(d: Double): JValue =
    if (d.isNaN || d.isInfinite) graft.schema.JNull else JNum(d.toString)
  def num(l: Long): JValue = JNum(l.toString)
}

object Main {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m("out"), m.getOrElse("heap", "?"))
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // Spark 4.1's checkpoint checksum manager can deadlock state stores
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val res = new Result
    val proc = new ProcessClock
    try {
      val w: Workload = o.workload match {
        case "replay_wide" => new ReplayWide(spark, o, tracer, res)
        case "read_while_write" => new ReadWhileWrite(spark, o, tracer, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val t1 = System.nanoTime()
      res.e2e("setup_s") = sessionS + w.setup()
      res.detail("session_start_s") = Out.num(sessionS)
      val t2 = System.nanoTime()
      proc.start()
      w.measure()
      proc.stop()
      val t3 = System.nanoTime()
      w.finish()
      res.detail("phase_s") = JObj(Vector("session" -> Out.num(sessionS),
        "setup" -> Out.num((t2 - t1) / 1e9), "measure" -> Out.num((t3 - t2) / 1e9),
        "finish" -> Out.num((System.nanoTime() - t3) / 1e9)))
      res.e2e("peak_rss_mb") = ProcessClock.peakRssMb
      if (o.trace) {
        res.layer("jvm.gc_s") = proc.gcS
        res.layer("jvm.cpu_util") = proc.cpuUtil
        val st = tracer.stages
        res.layer("spark.scheduler_delay_s") = st.map(_.schedDelayS).sum
        res.layer("spark.spill_bytes") = st.map(_.spill).sum.toDouble
        val view = new TraceView(tracer.allSpans, st)
        view.selfByModule.foreach { case (m, s) =>
          if (Metrics.PerLayer.exists(_._1 == s"self_s.$m")) res.layer(s"self_s.$m") = s
        }
        writeSpans(o, view)
      }
    } catch {
      case NonFatal(e) =>
        res.failed += 1
        res.attempted = math.max(res.attempted, 1)
        res.problems += s"run failed: $e"
        e.printStackTrace()
    }
    write(o, res, spark)
    try spark.stop() catch { case NonFatal(_) => () }
  }

  private def writeSpans(o: Opts, view: TraceView): Unit = {
    val dir = new File(new File(o.work).getParentFile.getParentFile, "traces")
    dir.mkdirs()
    val spans = view.spans.map(s => JObj(Vector("id" -> Out.num(s.id.toLong),
      "name" -> JStr(s.name), "parent" -> Out.num(s.parent.toLong),
      "start_ms" -> Out.num(s.startMs), "end_ms" -> Out.num(s.endMs))))
    val stages = view.attributed.map(a => JObj(Vector(
      "stage" -> Out.num(a.stage.id.toLong), "name" -> JStr(a.stage.name),
      "layer" -> JStr(a.layer), "parent" -> Out.num(a.span.id.toLong),
      "start_ms" -> Out.num(a.stage.startMs), "end_ms" -> Out.num(a.stage.endMs),
      "cpu_s" -> Out.num(a.stage.cpuS), "shuffle_read" -> Out.num(a.stage.shuffleRead),
      "shuffle_write" -> Out.num(a.stage.shuffleWrite),
      "in_bytes" -> Out.num(a.stage.inBytes), "in_records" -> Out.num(a.stage.inRecords),
      "out_bytes" -> Out.num(a.stage.outBytes), "out_records" -> Out.num(a.stage.outRecords),
      "spill_bytes" -> Out.num(a.stage.spill), "scheduler_delay_s" -> Out.num(a.stage.schedDelayS))))
    val f = new File(dir, s"${o.workload}-${o.seed}.json")
    Files.write(f.toPath, Json.render(JObj(Vector(
      "spans" -> JArr(spans.toVector), "stages" -> JArr(stages.toVector))))
      .getBytes(StandardCharsets.UTF_8))
  }

  private def write(o: Opts, res: Result, spark: SparkSession): Unit = {
    val wanted = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    val got = if (o.trace) res.layer else res.e2e
    val metrics = wanted.map { case (name, unit) =>
      val v = got.getOrElse(name, if (o.trace) 0.0 else Double.NaN)
      if (v.isNaN || v.isInfinite)
        res.problems += s"metric $name was not measured"
      name -> JObj(Vector("value" -> Out.num(v), "unit" -> JStr(unit)))
    }
    res.detail("samples") = res.samplesJson
    res.detail("end_to_end") = JObj(res.e2e.toVector.map(kv => kv._1 -> Out.num(kv._2)))
    res.detail("provenance") = Provenance(o, spark)
    res.detail("problems") = JArr(res.problems.toVector.map(JStr(_)))
    val correct = res.problems.isEmpty && res.failed == 0
    val doc = JObj(Vector(
      "correct" -> JBool(correct),
      "attempted" -> Out.num(math.max(1L, res.attempted)),
      "failed" -> Out.num(res.failed),
      "metrics" -> JObj(metrics.toVector),
      "detail" -> JObj(res.detail.toVector)))
    Files.write(Paths.get(o.out), Json.render(doc).getBytes(StandardCharsets.UTF_8))
  }
}

/** Host and build facts recorded with every result. */
object Provenance {
  def apply(o: Opts, spark: SparkSession): JValue = {
    val memTotal = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong / 1024)
        .getOrElse(-1L)
      finally src.close()
    }.getOrElse(-1L)
    val knobs = sys.env.toSeq.filter(_._1.startsWith("GRAFT_")).sorted
    JObj(Vector(
      "workload" -> JStr(o.workload),
      "seed" -> Out.num(o.seed),
      "seconds" -> Out.num(o.seconds),
      // both workloads are closed loops: no offered rate
      "load" -> JStr("closed loop, one client"),
      "nproc" -> Out.num(Runtime.getRuntime.availableProcessors().toLong),
      "master" -> JStr(spark.sparkContext.master),
      "mem_total_mb" -> Out.num(memTotal),
      "heap" -> JStr(o.heap),
      "heap_max_mb" -> Out.num(Runtime.getRuntime.maxMemory() / (1L << 20)),
      "jvm" -> JStr(s"${sys.props("java.vm.name")} ${sys.props("java.version")}"),
      "spark" -> JStr(spark.version),
      "scala" -> JStr(scala.util.Properties.versionNumberString),
      "graft_env" -> JObj(knobs.toVector.map(kv => kv._1 -> JStr(kv._2))),
    ))
  }
}

/** Process CPU and GC time over the measured window. */
final class ProcessClock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
  private var w0, c0, g0, w1, c1, g1 = 0L
  def start(): Unit = { w0 = System.nanoTime(); c0 = os.getProcessCpuTime; g0 = gcMs }
  def stop(): Unit = { w1 = System.nanoTime(); c1 = os.getProcessCpuTime; g1 = gcMs }
  def gcS: Double = (g1 - g0) / 1000.0
  def cpuUtil: Double =
    (c1 - c0).toDouble / ((w1 - w0).toDouble * Runtime.getRuntime.availableProcessors())
}

object ProcessClock {
  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
