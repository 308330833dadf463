package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.schema.{JArr, JObj, JStr, Json}

/** Tests of the benchmark's own helpers (no Spark session needed):
  *
  *   python3 perfbench/run.py --selftest
  *
  * Exits non-zero when a test fails. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"PASS $name") }
    catch {
      case NonFatal(e) => failures += name; println(s"FAIL $name: $e")
      case e: AssertionError => failures += name; println(s"FAIL $name: $e")
    }

  private def eq[T](got: T, want: T): Unit =
    assert(got == want, s"got $got, want $want")

  private def stage(name: String, shuffleMap: Boolean = false,
      shuffleRead: Long = 0, start: Double = 0, end: Double = 1): StageRec =
    StageRec(0, name, start, end, 0, shuffleRead, if (shuffleMap) 1 else 0,
      0, 0, 0, 0, 0, 0, shuffleMap)

  def main(args: Array[String]): Unit = {
    test("percentile rule: highest percentile with >= 10 samples beyond") {
      def xs(n: Int) = (1 to n).map(_.toDouble).reverse
      eq(Stats.tail(xs(19)), None)
      eq(Stats.tail(xs(20)), Some(0.5 -> 10.0))
      eq(Stats.tail(xs(99)), Some(0.5 -> 50.0))
      eq(Stats.tail(xs(100)), Some(0.9 -> 90.0))
      eq(Stats.tail(xs(999)), Some(0.9 -> 900.0))
      eq(Stats.tail(xs(1000)), Some(0.99 -> 990.0))
      eq(Stats.tail(xs(10000)), Some(0.999 -> 9990.0))
      eq(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)), 2.5)
    }

    test("call site -> layer on a recorded apply, line numbers ignored") {
      // the stages of one traced replay_wide apply (names as Spark reports
      // them), then the same list with every line number shifted
      val recorded = Seq(
        stage("rdd at Engine.scala:162", shuffleMap = true) -> "engine.dedup",
        stage("rdd at Engine.scala:162", shuffleRead = 10) -> "engine.dedup",
        stage("fold at Engine.scala:179") -> "schema.infer",
        stage("save at Engine.scala:426") -> "flatten.parse",
        stage("parquet at LakeTable.scala:927", shuffleMap = true) -> "lake.merge",
        stage("parquet at LakeTable.scala:927", shuffleRead = 10) -> "lake.write",
        stage("collect at Engine.scala:362", shuffleMap = true) -> "engine.dedup",
        stage("collect at Engine.scala:362", shuffleMap = true, shuffleRead = 5) -> "engine.skip",
        stage("collect at Engine.scala:362", shuffleRead = 5) -> "engine.skip",
        stage("start at Materialize.scala:127") -> "streaming.mv",
        stage("start at Engine.scala:557", shuffleMap = true) -> "engine.stream",
        stage("collect at Workload.scala:83") -> "lake.lookup",
      )
      recorded.foreach { case (s, want) => eq(Layers.of(s, "lake.lookup"), want) }
      val shifted = recorded.map { case (s, want) =>
        s.copy(name = s.name.replaceAll(":(\\d+)$", ":9$1")) -> want
      }
      shifted.foreach { case (s, want) => eq(Layers.of(s, "lake.lookup"), want) }
      eq(Layers.callSite("fold at Engine.scala:179"), ("fold", "Engine.scala"))
      // adaptive query stages carry a pool-thread frame; the SQL
      // execution's call site stands in for it
      val aqe = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
      eq(Layers.resolveSite(aqe, Some("parquet at LakeTable.scala:927")),
        "parquet at LakeTable.scala:927")
      eq(Layers.resolveSite(aqe, None), aqe)
      eq(Layers.resolveSite("fold at Engine.scala:179", Some("x at Y.scala:1")),
        "fold at Engine.scala:179")
    }

    test("stage wall shares sum to the union; driver gap is the rest") {
      val sp = Span(1, "engine.apply", 0, 0, 10000)
      val st = Seq(
        stage("rdd at Engine.scala:1", shuffleMap = true, start = 0, end = 4000),
        stage("parquet at LakeTable.scala:1", start = 2000, end = 6000),
        stage("parquet at LakeTable.scala:2", start = 3000, end = 5000))
      val v = new TraceView(Seq(sp), st)
      val w = v.layerWallS(sp)
      assert(math.abs(w.values.sum - 6.0) < 1e-9, w)
      assert(math.abs(w("engine.dedup") - (2 + 1.0 / 2 + 1.0 / 3)) < 1e-9, w)
      assert(math.abs(v.driverGapS(sp) - 4.0) < 1e-9)
      eq(Stats.unionLength(Seq((0.0, 1.0), (0.5, 2.0), (3.0, 4.0))), 3.0)
      val self = v.selfByModule
      assert(math.abs(self("engine") - (4.0 + w("engine.dedup"))) < 1e-9, self)
    }

    test("final-state check catches a missing key and a stale REV") {
      val want = Map("a" -> "1.x", "b" -> "2.y", "c" -> "3.z")
      eq(Checks.finalState(want, want), Nil)
      val missing = Checks.finalState(want - "b", want)
      assert(missing.exists(_.contains("1 missing keys: b")), missing)
      val stale = Checks.finalState(want.updated("c", "0.old"), want)
      assert(stale.exists(_.contains("c has REV 0.old, expected 3.z")), stale)
      val deleted = Checks.finalState(want + ("d" -> "4.w"), want)
      assert(deleted.exists(_.contains("unexpected keys")), deleted)
    }

    test("lookup check catches a stale REV and a deleted key returned") {
      eq(Checks.lookup("k", Seq("5.a"), Some("5.a")), Nil)
      eq(Checks.lookup("k", Nil, None), Nil)
      assert(Checks.lookup("k", Seq("4.a"), Some("5.a")).nonEmpty)
      assert(Checks.lookup("k", Nil, Some("5.a")).nonEmpty)
      assert(Checks.lookup("k", Seq("5.a"), None).nonEmpty)
    }

    test("rollup check catches a wrong total") {
      val r = Map("scala" -> (3L, 300L), "py" -> (1L, 10L))
      eq(Checks.rollup(r, r), Nil)
      val bad = Checks.rollup(r.updated("py", (1L, 11L)), r)
      assert(bad.exists(_.contains("rollup group py")), bad)
      assert(Checks.rollup(r - "py", r).nonEmpty)
    }

    test("skip check compares against the re-delivered count") {
      eq(Checks.skips(40, 40), Nil)
      assert(Checks.skips(39, 40).nonEmpty)
    }

    if (args.nonEmpty) test("BENCHMARK.json lists the metrics the benchmark reports") {
      val text = new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8)
      val doc = Json.parse(text).asInstanceOf[JObj]
      def names(key: String) = doc.get(key).collect { case JArr(xs) =>
        xs.collect { case o: JObj =>
          (o.get("name").collect { case JStr(s) => s }.get,
            o.get("unit").collect { case JStr(s) => s }.get)
        }
      }.get
      eq(names("end_to_end"), Metrics.EndToEnd.toVector)
      eq(names("per_layer"), Metrics.PerLayer.toVector)
    }

    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
