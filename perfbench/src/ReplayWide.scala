package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.cdc.EventGen

/** Backfill: a pre-materialized EventGen tail over a wide key space (most
  * keys of a batch are distinct) with schema evolution mid-tail, applied to
  * a fresh lake in a few large `applyEvents` micro-batches. Closed loop,
  * one caller; passes repeat until the deadline. Dedup, inference,
  * `from_json` and the per-table merge writes do nearly all the work;
  * after each batch a consumer spot-checks four keys. */
final class ReplayWide(spark: SparkSession, o: Opts, tracer: Tracer,
    res: Result) extends Workload(spark, o, tracer, res) {

  val Events = 20000
  val Batches = 2
  val LookupsPerBatch = 4
  val MinOps = 2
  val p = EventGen.Params(nEvents = Events, nRepos = 2000, pathsPerRepo = 500,
    seed = o.seed)
  private def bounds(b: Int) =
    (b.toLong * Events / Batches, (b + 1).toLong * Events / Batches)

  private var input = ""
  private val docBytes = new Array[Long](Batches)
  /** Per batch: the keys looked up after it and their expected REV. */
  private val lookups = Array.fill(Batches)(Seq.empty[(String, Option[String])])
  private val expect = new Expect

  /** Materialize the tail (repeated, median), then warm the apply path
    * once on a slice of the first batch. */
  def setup(): Double = {
    val s = repeatSetup { rep =>
      input = dir(s"input-$rep")
      import spark.implicits._
      val pp = p
      (0 until Batches).foreach { b =>
        val (lo, hi) = bounds(b)
        spark.range(lo, hi, 1, Main.cores).as[Long]
          .map(i => EventGen.eventAt(i, pp))
          .write.parquet(s"$input/batch-$b")
      }
      if (rep > 0) rm(dir(s"input-${rep - 1}"))
    }
    val t0 = System.nanoTime()
    val warm = new Lake(spark, dir("lake-warm"), 64)
    warm.engine.applyEvents(warm.entity,
      spark.read.parquet(s"$input/batch-0").limit(2000), "warm")
    warm.rootTable.readWhere(col("ID") === "warm").collect()
    rm(warm.root)
    val warmS = (System.nanoTime() - t0) / 1e9
    // expected state, per-batch doc bytes and lookup keys (driver side,
    // not part of the system's set-up)
    val rnd = new scala.util.Random(o.seed)
    (0 until Batches).foreach { b =>
      val (lo, hi) = bounds(b)
      val before = expect.docBytes
      expect.addRange(p, lo, hi)
      docBytes(b) = expect.docBytes - before
      lookups(b) = (0 until LookupsPerBatch).map { _ =>
        val id = Expect.idOf(EventGen.eventAt(lo + rnd.nextInt((hi - lo).toInt), p).doc)
        id -> expect.rev(id)
      }
    }
    s + warmS
  }

  private var lake: Lake = _
  private val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]

  private def pass(n: Int): Unit = {
    if (lake != null) rm(lake.root)
    lake = new Lake(spark, dir(s"lake-$n"), 64)
    val t0 = Clock.nowMs
    (0 until Batches).foreach { b =>
      val df = spark.read.parquet(s"$input/batch-$b")
      val events = bounds(b)._2 - bounds(b)._1
      apply(lake, df, s"pass$n:$b", events, docBytes(b))
      res.sample("freshness_s", (Clock.nowMs - t0) / 1000.0)
      // expected REVs were taken from the winners after this batch
      lookups(b).foreach { case (k, rev) => lookup(lake, k, rev) }
    }
  }

  def measure(): Unit = {
    startClock()
    var n = 1
    while (timeLeft(n - 1)) {
      if (n % 2 == 0) tracer.attach() else tracer.detach()
      val t0 = Clock.nowMs
      pass(n)
      passWall += ((tracer.attached, (Clock.nowMs - t0) / 1000.0))
      n += 1
    }
    tracer.detach()
    res.detail("passes") = Out.num((n - 1).toLong)
  }

  def finish(): Unit = {
    res.check(Checks.finalState(lake.rootState(),
      EventGen.expectedFinalState(p).map { case (k, e) => k -> Expect.revOf(e.doc) }))
    commonE2e(lake.bytes(), docBytes.sum)
    if (o.trace) {
      layerMetrics(lake.shape(), passWall.toSeq)
      res.layer("lake.write.files") = res.layer("lake.data_files") / Batches
      // the stage wall the trace attributes to layers, plus the driver
      // gap, must account for each apply's wall
      val closure = res.layer.getOrElse("trace.closure", 0.0)
      if (math.abs(closure - 1) > 0.1)
        res.problems += f"trace closure $closure%.3f: layers miss part of the apply wall"
    }
  }
}
