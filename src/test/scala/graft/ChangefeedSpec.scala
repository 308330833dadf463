package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.LakeTable

/** Changefeed (CDC OUTPUT) readers: seq-space incremental read
  * (readChangesSince) and classified version diff (readChangesBetween) —
  * net semantics, compaction survival, schema-evolution crossing,
  * touched-bucket pruning, vacuumed-horizon rejection. */
class ChangefeedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ID", StringType, nullable = false),
    StructField("V", StringType, nullable = true)))

  private def newTable(maxDeltas: Int = 4): LakeTable = {
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-cfspec-"),
      "T", numBuckets = 4, maxDeltas = maxDeltas)
    t.create(schema, Seq("ID"), "ID")
    t
  }

  private def df(rows: (String, String)*) = rows.toDF("ID", "V")

  private def sinceMap(t: LakeTable, h: Long): Map[String, (String, String)] =
    t.readChangesSince(h).collect()
      .map(r => r.getString(0) -> (r.getString(2), Option(r.getString(1)).orNull))
      .toMap // ID -> (change_type, V)

  private def betweenMap(t: LakeTable, a: Int, b: Int): Map[String, (String, String)] =
    t.readChangesBetween(a, b).collect()
      .map { r =>
        val ct = r.getString(r.fieldIndex("_change_type"))
        r.getString(0) -> (ct, Option(r.getString(1)).orNull)
      }.toMap

  test("readChangesSince: commit domain — net upserts and deletes after horizon") {
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "1", "c" -> "1"), Seq("ID"), "ID", "c1")
    val h = t.currentVersion().toLong
    t.merge(df("b" -> "2", "d" -> "1"), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq("c").toDF("ID")))
    val got = sinceMap(t, h)
    assert(got == Map(
      "b" -> ("upsert", "2"), "d" -> ("upsert", "1"), "c" -> ("delete", null)))
    // horizon at head → empty feed; horizon 0 → full state as upserts
    assert(t.readChangesSince(t.currentVersion().toLong).count() == 0)
    val full = sinceMap(t, 0L)
    assert(full.filter(_._2._1 == "upsert").keySet == Set("a", "b", "d"))
  }

  test("readChangesSince: intermediate revisions collapse (net, not replay)") {
    val t = newTable()
    t.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val h = t.currentVersion().toLong
    t.merge(df("a" -> "2"), Seq("ID"), "ID", "c2")
    t.merge(df("a" -> "3"), Seq("ID"), "ID", "c3")
    val rows = t.readChangesSince(h).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1) == "3") // only the final image
  }

  test("readChangesSince: lsn domain — horizon is an event lsn; change_seq carries it") {
    val t = newTable()
    val up1 = Seq(("a", "1", 100L), ("b", "1", 101L)).toDF("ID", "V", "lsn")
    t.merge(up1, Seq("ID"), "ID", "c1", rowSeqCol = Some("lsn"))
    val up2 = Seq(("b", "2", 205L)).toDF("ID", "V", "lsn")
    t.merge(up2, Seq("ID"), "ID", "c2", rowSeqCol = Some("lsn"),
      deleteRootKeys = Some(Seq(("a", 210L)).toDF("ID", "dlsn")))
    val got = t.readChangesSince(101L).collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(("b", "upsert", 205L), ("a", "delete", 210L)))
    // a late event BELOW the horizon never surfaces, even applied after
    t.merge(Seq(("c", "old", 50L)).toDF("ID", "V", "lsn"),
      Seq("ID"), "ID", "c3", rowSeqCol = Some("lsn"))
    assert(!t.readChangesSince(101L).collect().exists(_.getString(0) == "c"))
  }

  test("readChangesSince: manifest maxSeq prunes cold segments from the " +
      "file list (r8 — O(changed segments) per poll, not O(live))") {
    val t = newTable()
    // cold batch: every row's lsn ≤ 20
    t.merge((0 until 16).map(i => (s"k$i", "old", (i + 5).toLong))
      .toDF("ID", "V", "lsn"), Seq("ID"), "ID", "c1",
      rowSeqCol = Some("lsn"))
    // hot batch: lsn 100..103
    t.merge((0 until 4).map(i => (s"k$i", "new", (100 + i).toLong))
      .toDF("ID", "V", "lsn"), Seq("ID"), "ID", "c2",
      rowSeqCol = Some("lsn"))
    // manifest records the per-commit max seq on every segment
    val segs = t.snapshot().segments
    assert(segs.filter(_.path.contains("c00002d")).forall(_.maxSeq == 20L))
    assert(segs.filter(_.path.contains("c00003d")).forall(_.maxSeq == 103L))
    // the feed past the cold batch lists ONLY hot-commit files — the
    // pruning happens at the manifest, before any footer is opened
    val feed = t.readChangesSince(20L)
    val files = feed.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("c00003d")),
      s"cold segments not pruned: ${files.mkString(", ")}")
    // behavioral proof (readWhere-style): corrupt every cold file — the
    // pruned feed still reads clean while a full read throws
    segs.filter(_.path.contains("c00002d")).foreach { seg =>
      val segDir = java.nio.file.Paths.get(t.root, t.name, seg.path)
        .normalize()
      val fs = java.nio.file.Files.list(segDir)
      try fs.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.write(p, "NOT PARQUET".getBytes("UTF-8"))
        ()
      } finally fs.close()
    }
    val got = t.readChangesSince(20L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == (0 until 4).map(i => (s"k$i", "new", "upsert")).toSet)
    intercept[Throwable] { t.read().count() }
  }

  test("readChangesSince: survives compaction (winners keep seq, tombstones carried)") {
    val t = newTable(maxDeltas = 2) // aggressive inline compaction
    t.merge(df("a" -> "1", "b" -> "1"), Seq("ID"), "ID", "c1")
    val h = t.currentVersion().toLong
    t.merge(df("a" -> "2"), Seq("ID"), "ID", "c2")
    t.merge(df("b" -> "2"), Seq("ID"), "ID", "c3",
      deleteRootKeys = Some(Seq("a").toDF("ID")))
    t.compactAll("cf-compact")
    assert(t.snapshot().segments.forall(_.kind == "base"))
    val got = sinceMap(t, h)
    assert(got == Map("b" -> ("upsert", "2"), "a" -> ("delete", null)))
  }

  test("readChangesSince: create-then-delete inside the window → bare delete") {
    val t = newTable()
    t.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val h = t.currentVersion().toLong
    t.merge(df("x" -> "1"), Seq("ID"), "ID", "c2")
    t.merge(df(), Seq("ID"), "ID", "c3",
      deleteRootKeys = Some(Seq("x").toDF("ID")))
    val got = sinceMap(t, h)
    assert(got == Map("x" -> ("delete", null))) // idempotent downstream no-op
  }

  test("readChangesBetween: insert/update/delete classification, net semantics") {
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "1", "c" -> "1", "z" -> "zz"),
      Seq("ID"), "ID", "c1")
    val v1 = t.currentVersion()
    t.merge(df("b" -> "2", "d" -> "1", "z" -> "zz"), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq("c").toDF("ID")))
    val v2 = t.currentVersion()
    val got = betweenMap(t, v1, v2)
    // z re-merged byte-identical → silent; a untouched → silent
    assert(got == Map(
      "b" -> ("update", "2"),   // post-image
      "d" -> ("insert", "1"),
      "c" -> ("delete", "1")))  // pre-image
    // identical endpoints → empty; inverted/overrun windows → reject
    assert(t.readChangesBetween(v2, v2).count() == 0)
    intercept[IllegalArgumentException] { t.readChangesBetween(v2, v1) }
    intercept[IllegalArgumentException] { t.readChangesBetween(0, v2) }
    intercept[IllegalArgumentException] { t.readChangesBetween(v1, v2 + 99) }
  }

  test("readChangesBetween: crosses schema evolution (null pre-image for new columns)") {
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "1"), Seq("ID"), "ID", "c1")
    val v1 = t.currentVersion()
    t.evolve(schema.add("W", LongType), Seq("ID"), "ID")
    t.merge(Seq(("b", "2", 7L)).toDF("ID", "V", "W"), Seq("ID"), "ID", "c2")
    val v2 = t.currentVersion()
    val rows = t.readChangesBetween(v1, v2).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "b" &&
      r.getString(r.fieldIndex("_change_type")) == "update" &&
      r.getLong(r.fieldIndex("W")) == 7L)
    // an update whose only difference is the NEW column still surfaces
    t.merge(Seq(("a", "1", 9L)).toDF("ID", "V", "W"), Seq("ID"), "ID", "c3")
    val v3 = t.currentVersion()
    val r2 = betweenMap(t, v2, v3)
    assert(r2 == Map("a" -> ("update", "1")))
  }

  test("readChangesBetween: reads only touched buckets (behavioral proof)") {
    val t = newTable()
    val keys = (0 until 32).map(i => s"k$i")
    t.merge(df(keys.map(k => k -> "v1"): _*), Seq("ID"), "ID", "c1")
    val v1 = t.currentVersion()
    t.merge(df("k0" -> "v2"), Seq("ID"), "ID", "c2")
    val v2 = t.currentVersion()
    // corrupt every bucket EXCEPT k0's, in BOTH snapshots' segment dirs:
    // a touched-bucket-pruned diff never opens them; a full diff throws
    val keep = t.bucketOfKey("k0")
    t.snapshot().segments.filter(_.bucket != keep).foreach { seg =>
      val segDir = java.nio.file.Paths.get(t.root, t.name, seg.path)
        .normalize()
      val fs = java.nio.file.Files.list(segDir)
      try fs.iterator().forEachRemaining { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.write(p, "NOT PARQUET".getBytes("UTF-8"))
        ()
      }
      finally fs.close()
    }
    val got = betweenMap(t, v1, v2)
    assert(got == Map("k0" -> ("update", "v2")))
    intercept[Throwable] { t.read().count() }
  }

  test("follower: MERGE-applying the feed converges to source state across batches") {
    // the downstream-consumer loop the feed exists for: after each source
    // batch, pull changes past the horizon, MERGE them into a follower
    // table (upserts under the carried seq, deletes as tombstones), then
    // advance the horizon. At-least-once delivery is exercised by
    // re-applying one pull verbatim — LWW under the carried seq makes the
    // replay a no-op.
    val src = newTable()
    val dst = newTable()
    val batches = Seq(
      (Seq(("a", "1", 10L), ("b", "1", 11L), ("c", "1", 12L)), Seq.empty[(String, Long)]),
      (Seq(("b", "2", 20L), ("d", "1", 21L)), Seq(("c", 25L))),
      (Seq.empty[(String, String, Long)], Seq(("a", 30L))),
      (Seq(("c", "back", 40L), ("e", "1", 41L)), Seq(("e", 39L)))) // stale del loses
    var horizon = 0L
    batches.zipWithIndex.foreach { case ((ups, dels), i) =>
      src.merge(ups.toDF("ID", "V", "lsn"), Seq("ID"), "ID", s"s$i",
        deleteRootKeys =
          if (dels.isEmpty) None else Some(dels.toDF("ID", "dlsn")),
        rowSeqCol = Some("lsn"))
      val feed = src.readChangesSince(horizon)
      def applyOnce(tag: String): Unit = dst.merge(
        feed.filter(col("_change_type") === "upsert")
          .select(col("ID"), col("V"), col("_change_seq").as("lsn")),
        Seq("ID"), "ID", tag,
        deleteRootKeys = Some(feed.filter(col("_change_type") === "delete")
          .select(col("ID"), col("_change_seq"))),
        rowSeqCol = Some("lsn"))
      applyOnce(s"d$i")
      if (i == 1) applyOnce(s"d$i-redelivery") // at-least-once replay
      val seen = feed.agg(max(col("_change_seq"))).head()
      if (!seen.isNullAt(0)) horizon = seen.getLong(0)
    }
    def state(t: LakeTable) = t.read().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state(dst) == state(src))
    assert(state(src) == Map("b" -> "2", "d" -> "1", "c" -> "back", "e" -> "1"))
    // and the follower's own feed past the final horizon is empty
    assert(dst.readChangesSince(horizon).count() == 0)
  }

  test("streaming source: readStream(graft-changefeed) backfills, tails, resumes, and a follower converges") {
    import org.apache.spark.sql.DataFrame
    val root = SparkTestSession.tmpDir("graft-cfstream-")
    val ckpt = SparkTestSession.tmpDir("graft-cfstream-ckpt-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df("a" -> "1", "b" -> "1"), Seq("ID"), "ID", "c1") // pre-stream

    val dst = newTable()
    def startFollower() = spark.readStream.format("graft-changefeed")
      .option("root", root).option("table", "SRC").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // ordered micro-batches → commit-domain LWW application works
        dst.merge(
          batch.filter(col("_change_type") =!= "delete").select("ID", "V"),
          Seq("ID"), "ID", s"cf:$id",
          deleteRootKeys = Some(
            batch.filter(col("_change_type") === "delete").select("ID")))
        ()
      }.start()

    def state(t: LakeTable) = t.read().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    val q1 = startFollower()
    q1.processAllAvailable() // batch 0 = full backfill as inserts
    assert(state(dst) == Map("a" -> "1", "b" -> "1"))

    src.merge(df("b" -> "2", "c" -> "1"), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq("a").toDF("ID")))
    q1.processAllAvailable() // tail batch: classified net diff
    assert(state(dst) == Map("b" -> "2", "c" -> "1"))
    q1.stop()

    // changes land while the stream is DOWN; restart resumes from the
    // checkpointed version offset and picks up exactly the gap
    src.merge(df("c" -> "2", "d" -> "1"), Seq("ID"), "ID", "c3")
    val q2 = startFollower()
    q2.processAllAvailable()
    q2.stop()
    assert(state(dst) == state(src))
    assert(state(src) == Map("b" -> "2", "c" -> "2", "d" -> "1"))

    // startingVersion=latest: a NEW subscriber sees only what happens
    // after it subscribed — and its resolved base survives in ITS ckpt
    val lateSeen = scala.collection.mutable.Set.empty[(String, String)]
    val q3 = spark.readStream.format("graft-changefeed")
      .option("root", root).option("table", "SRC")
      .option("startingVersion", "latest").load()
      .writeStream.option("checkpointLocation",
        SparkTestSession.tmpDir("graft-cfstream-ckpt2-"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        lateSeen ++= batch.collect().map(r =>
          r.getString(0) -> r.getString(r.fieldIndex("_change_type")))
        ()
      }.start()
    q3.processAllAvailable()
    assert(lateSeen.isEmpty) // no backfill
    src.merge(df("e" -> "1"), Seq("ID"), "ID", "c4")
    q3.processAllAvailable()
    q3.stop()
    assert(lateSeen.toSet == Set("e" -> "insert"))
  }

  test("streaming source: maxVersionsPerTrigger replays a backlog as bounded batches") {
    import org.apache.spark.sql.DataFrame
    val root = SparkTestSession.tmpDir("graft-cfbp-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    // a 3-commit backlog accumulated BEFORE the consumer starts
    src.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    src.merge(df("a" -> "2", "b" -> "1"), Seq("ID"), "ID", "c2")
    src.merge(df("c" -> "1"), Seq("ID"), "ID", "c3",
      deleteRootKeys = Some(Seq("b").toDF("ID")))

    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String)]]
    val q = spark.readStream.format("graft-changefeed")
      .option("root", root).option("table", "SRC")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation",
        SparkTestSession.tmpDir("graft-cfbp-ckpt-"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().map(r => r.getString(0) ->
          r.getString(r.fieldIndex("_change_type"))).toSet
        if (rows.nonEmpty) batches += rows; ()
      }.start()
    q.processAllAvailable()
    q.stop()
    // one bounded batch per source version — each commit replayed
    // individually instead of one collapsed diff (c2's a-update visible,
    // b created-then-deleted visible as its two batches)
    assert(batches.toSeq == Seq(
      Set("a" -> "insert"),
      Set("a" -> "update", "b" -> "insert"),
      Set("c" -> "insert", "b" -> "delete")))
  }

  test("streaming source: restart with maxVersionsPerTrigger resumes past a " +
      "COMMITTED checkpoint (high-water survives restart — wedge regression)") {
    // regression: the rate-limit high-water used to live only in memory;
    // after a restart whose final batch committed, Spark never calls
    // getBatch for it, so getOffset re-based at startingVersion and
    // reported an offset BELOW the committed one —
    // readChangesBetween(committed, lower) then threw on every restart,
    // permanently wedging the checkpoint.
    import org.apache.spark.sql.DataFrame
    val root = SparkTestSession.tmpDir("graft-cfhw-")
    val ckpt = SparkTestSession.tmpDir("graft-cfhw-ckpt-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    src.merge(df("b" -> "1"), Seq("ID"), "ID", "c2")

    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String)]]
    def run(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root).option("table", "SRC")
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().map(r => r.getString(0) ->
            r.getString(r.fieldIndex("_change_type"))).toSet
          if (rows.nonEmpty) seen += rows; ()
        }.start()
      q.processAllAvailable()
      q.stop() // all available batches COMMITTED before the stop
    }
    run()
    assert(seen.toSeq == Seq(Set("a" -> "insert"), Set("b" -> "insert")))

    // the table moves on while the stream is down; the restarted query
    // must pick up exactly the gap, one bounded batch per version
    src.merge(df("c" -> "1"), Seq("ID"), "ID", "c3")
    src.merge(df("a" -> "2"), Seq("ID"), "ID", "c4",
      deleteRootKeys = Some(Seq("b").toDF("ID")))
    run()
    assert(seen.toSeq == Seq(
      Set("a" -> "insert"), Set("b" -> "insert"),
      Set("c" -> "insert"), Set("a" -> "update", "b" -> "delete")))
  }

  test("streaming source: the base-version file is published atomically (no create at its final path)") {
    // a plain create-then-write torn by a crash leaves an empty file that
    // fails to parse on every restart
    import scala.jdk.CollectionConverters._
    val t = newTable()
    t.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val dir = SparkTestSession.tmpDir("graft-cfbase-")
    GraftTestFs.createdPaths.clear()
    def open() = new graft.streaming.ChangefeedSource(spark.sqlContext,
      "graftfs:" + dir, t, "latest", None, cdf = false)
    open().stop()
    val created = GraftTestFs.createdPaths.asScala.toSeq
    assert(created.exists(_.contains("graft-changefeed-base")))
    assert(!created.exists(_.endsWith("/graft-changefeed-base")), created)
    val base = java.nio.file.Paths.get(dir, "graft-changefeed-base")
    assert(java.nio.file.Files.readString(base) == "2")
    // a restart keeps that base after the table moved on: v3 is new
    t.merge(df("b" -> "1"), Seq("ID"), "ID", "c2")
    val restarted = open()
    try assert(restarted.latestOffset(null, restarted.getDefaultReadLimit) ==
      org.apache.spark.sql.execution.streaming.runtime.LongOffset(3L))
    finally restarted.stop()
  }

  /** A `foreachBatch` changefeed query on `ckpt` over lake table SRC,
    * run until idle and stopped; appends each non-empty batch's
    * (ID, change type) set to `seen`. */
  private def drainFeed(root: String, ckpt: String,
      seen: scala.collection.mutable.Buffer[Set[(String, String)]],
      opts: (String, String)*): Unit = {
    val q = spark.readStream.format("graft-changefeed")
      .option("root", root).option("table", "SRC").options(opts.toMap).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect().map(r => r.getString(0) ->
          r.getString(r.fieldIndex("_change_type"))).toSet
        if (rows.nonEmpty) seen += rows; ()
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  test("streaming source: a restart needs only its committed offset, not " +
      "a starting version vacuumed since") {
    val root = SparkTestSession.tmpDir("graft-cfold-")
    val ckpt = SparkTestSession.tmpDir("graft-cfold-ckpt-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    (2 to 14).foreach(i =>
      src.merge(df("a" -> i.toString), Seq("ID"), "ID", s"c$i"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String)]]
    drainFeed(root, ckpt, seen) // batch 0: v1 → v14, committed
    assert(src.currentVersion() == 14)
    assert(seen.toSeq == Seq(Set("a" -> "insert")))

    // while the stream is down (its pins released), the table moves on
    // and maintenance expires the starting version's snapshot
    src.merge(df("z" -> "1"), Seq("ID"), "ID", "cz")
    src.vacuum(keepSnapshots = 2)
    assert(!src.retained(1) && src.retained(14))
    seen.clear()
    drainFeed(root, ckpt, seen) // needs only v14 → v15
    assert(seen.toSeq == Seq(Set("z" -> "insert")))
  }

  test("streaming source: a rate-limited stream falls forward past " +
      "retained versions whose segments were vacuumed") {
    val root = SparkTestSession.tmpDir("graft-cfwedge-")
    val ckpt = SparkTestSession.tmpDir("graft-cfwedge-ckpt-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4, maxDeltas = 2)
    src.create(schema, Seq("ID"), "ID")
    (1 to 6).foreach(i =>
      src.merge(df(s"k$i" -> "1", "a" -> i.toString), Seq("ID"), "ID", s"c$i"))
    src.compactAll("compact")
    src.vacuum(graceMs = 0)
    val head = src.currentVersion()
    // the defect's shape: v2 is retained but not readable
    assert(src.retained(2) && !src.materialized(src.snapshotAt(2)))
    assert((2 until head).forall(v => !src.materialized(src.snapshotAt(v))))

    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String)]]
    drainFeed(root, ckpt, seen, "maxVersionsPerTrigger" -> "1")
    // one batch, v1 → head: the first readable version past the limit
    assert(seen.toSeq ==
      Seq(((1 to 6).map(i => s"k$i" -> "insert") :+ ("a" -> "insert")).toSet))
    // a restart neither throws nor replays
    drainFeed(root, ckpt, seen, "maxVersionsPerTrigger" -> "1")
    assert(seen.size == 1)
    src.merge(df("z" -> "1"), Seq("ID"), "ID", "cz")
    drainFeed(root, ckpt, seen, "maxVersionsPerTrigger" -> "1")
    assert(seen.toSeq.drop(1) == Seq(Set("z" -> "insert")))
  }

  test("streaming source: a checkpoint carrying the retired high-water and " +
      "floor files resumes with exactly the gap") {
    val root = SparkTestSession.tmpDir("graft-cfupg-")
    val ckpt = SparkTestSession.tmpDir("graft-cfupg-ckpt-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    src.merge(df("b" -> "1"), Seq("ID"), "ID", "c2")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String)]]
    drainFeed(root, ckpt, seen, "maxVersionsPerTrigger" -> "1")
    assert(seen.toSeq == Seq(Set("a" -> "insert"), Set("b" -> "insert")))
    // the side files an earlier release kept next to the base file, at
    // values that disagree with the offset log (committed through v3)
    val meta = java.nio.file.Paths.get(ckpt, "sources", "0")
    java.nio.file.Files.writeString(meta.resolve("graft-changefeed-hw"), "1")
    java.nio.file.Files.writeString(meta.resolve("graft-changefeed-floor"), "2")

    src.merge(df("c" -> "1"), Seq("ID"), "ID", "c3")
    src.merge(df("a" -> "2"), Seq("ID"), "ID", "c4",
      deleteRootKeys = Some(Seq("b").toDF("ID")))
    drainFeed(root, ckpt, seen, "maxVersionsPerTrigger" -> "1")
    assert(seen.toSeq.drop(2) ==
      Seq(Set("c" -> "insert"), Set("a" -> "update", "b" -> "delete")))
  }

  test("streaming source: a rate-limited stream and its restart write no " +
      "source file but the base version") {
    import scala.jdk.CollectionConverters._
    val root = SparkTestSession.tmpDir("graft-cfstate-")
    val ckpt = "graftfs:" + SparkTestSession.tmpDir("graft-cfstate-ckpt-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    src.merge(df("b" -> "1"), Seq("ID"), "ID", "c2")
    GraftTestFs.createdPaths.clear()
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String)]]
    drainFeed(root, ckpt, seen, "maxVersionsPerTrigger" -> "1")
    src.merge(df("c" -> "1"), Seq("ID"), "ID", "c3")
    drainFeed(root, ckpt, seen, "maxVersionsPerTrigger" -> "1")
    assert(seen.toSeq ==
      Seq(Set("a" -> "insert"), Set("b" -> "insert"), Set("c" -> "insert")))
    val sourceFiles = GraftTestFs.createdPaths.asScala.toSeq
      .filter(_.contains("/sources/0/"))
    assert(sourceFiles.nonEmpty)
    assert(sourceFiles.forall(_.contains("graft-changefeed-base")), sourceFiles)
  }

  test("streaming source: a restart lists no segment dir of the window " +
      "Spark re-plans and drops") {
    import scala.jdk.CollectionConverters._
    val root = "graftfs:" + SparkTestSession.tmpDir("graft-cflazy-")
    val ckpt = SparkTestSession.tmpDir("graft-cflazy-ckpt-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[(String, String)]]
    drainFeed(root, ckpt, seen)
    src.merge(df("b" -> "1"), Seq("ID"), "ID", "c2")
    drainFeed(root, ckpt, seen)
    assert(seen.toSeq == Seq(Set("a" -> "insert"), Set("b" -> "insert")))
    // a restart with nothing new: Spark re-plans the last committed batch
    // and never runs it
    GraftTestFs.listedPaths.clear()
    drainFeed(root, ckpt, seen)
    assert(seen.size == 2)
    val segmentDirs = GraftTestFs.listedPaths.asScala.toSeq
      .filter(_.contains("/SRC/data/"))
    assert(segmentDirs.isEmpty, segmentDirs)
  }

  test("streaming source: additive lake evolution mid-stream — fixed schema until restart") {
    import org.apache.spark.sql.DataFrame
    val root = SparkTestSession.tmpDir("graft-cfevo-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Int)]
    def follow(ckpt: String) = spark.readStream.format("graft-changefeed")
      .option("root", root).option("table", "SRC").load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect()
        if (rows.nonEmpty) seen += ((b.columns.toSeq, rows.length)); ()
      }.start()

    val ckpt = SparkTestSession.tmpDir("graft-cfevo-ckpt-")
    val q = follow(ckpt)
    q.processAllAvailable()
    // additive evolution + new-column data arrive MID-STREAM: the live
    // query keeps its captured schema (new column invisible), no crash
    src.evolve(schema.add("W", LongType), Seq("ID"), "ID")
    src.merge(Seq(("b", "1", 7L)).toDF("ID", "V", "W"), Seq("ID"), "ID", "c2")
    q.processAllAvailable()
    q.stop()
    assert(seen.toSeq == Seq(
      (Seq("ID", "V", "_change_type"), 1),
      (Seq("ID", "V", "_change_type"), 1)))

    // a restart (same checkpoint) re-captures the evolved schema
    seen.clear()
    src.merge(Seq(("c", "1", 9L)).toDF("ID", "V", "W"), Seq("ID"), "ID", "c3")
    val q2 = follow(ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert(seen.toSeq == Seq((Seq("ID", "V", "W", "_change_type"), 1)))
  }

  test("engine: consistent multi-table changefeed between two cuts") {
    import graft.cdc.EventGen
    import graft.engine.Engine
    val lake = SparkTestSession.tmpDir("graft-cfeng-")
    val engine = new Engine(spark, lake, numBuckets = 8)
    val p = EventGen.Params(nEvents = 600, nRepos = 10, pathsPerRepo = 8)
    val ev = EventGen.events(spark, p, 4).toDF()
    val cutLsn = 300L

    engine.applyEvents("repos", ev.filter(col("lsn") < cutLsn), "cf:0")
    val cutA = engine.consistentCut("repos", "a")
    engine.applyEvents("repos", ev.filter(col("lsn") >= cutLsn), "cf:1")
    val cutB = engine.consistentCut("repos", "b")
    try {
      // batch 2 crosses the evolution boundary (stats object, topics
      // array at 0.6·n = 360): REPOS existed at both cuts; the child
      // tables were BORN inside the window
      assert(cutA.keySet == Set("REPOS"))
      assert(cutB.keySet == Set("REPOS", "REPOS_STATS", "REPOS_TOPICS"))

      val feeds = engine.changesBetween("repos", cutA, cutB)
      assert(feeds.keySet == cutB.keySet)

      // driver-side expected model, same winner rule as the engine
      // (max-lsn per id, delete-winners absent) at both horizons
      def winners(upTo: Long): Map[String, (Long, String)] = {
        val m = scala.collection.mutable.HashMap.empty[String, (Long, String)]
        var i = 0L
        while (i < upTo) {
          val e = EventGen.eventAt(i, p)
          if (e.lsn < upTo) { // dup deliveries carry the ORIGINAL lsn
            val s = e.doc.indexOf("\"id\":\"") + 6
            val id = e.doc.substring(s, e.doc.indexOf('"', s))
            if (m.get(id).forall(_._1 <= e.lsn)) m(id) = (e.lsn, e.op)
          }
          i += 1
        }
        m.toMap
      }
      val pre = winners(cutLsn).filter(_._2._2 != "delete").keySet
      val post = winners(p.nEvents)
      val postLive = post.filter(_._2._2 != "delete")
      val expected =
        postLive.filter { case (id, (lsn, _)) => lsn >= cutLsn }.keySet.map {
          id => id -> (if (pre(id)) "update" else "insert")
        } ++
        pre.filter(id => post(id)._2 == "delete" && post(id)._1 >= cutLsn)
          .map(_ -> "delete")
      val got = feeds("REPOS").collect().map { r =>
        r.getString(r.fieldIndex("ID")) ->
          r.getString(r.fieldIndex("_change_type"))
      }.toSet
      assert(got == expected)

      // newborn child tables feed their full to-state as inserts
      val stats = feeds("REPOS_STATS")
      assert(stats.collect()
        .forall(_.getString(stats.columns.indexOf("_change_type")) == "insert"))
      assert(stats.count() ==
        engine.table(graft.catalog.Catalog
          .fromTree(engine.loadRegistry("repos").get)
          .find(_.fullName == "REPOS_STATS").get).read().count())

      // INVERTED window (a degraded cutA can carry a newer version than
      // cutB resolves for a table): the INVERSE feed — never a throw,
      // and never a silent empty (which would strand this table ahead
      // of every other at the to-cut). Forward inserts come back as
      // deletes, deletes as inserts, updates as updates carrying the
      // to-cut image.
      val inverted = engine.changesBetween("repos", cutB, cutA)
      assert(inverted.keySet == Set("REPOS")) // to-cut names the tables
      val inv = inverted("REPOS").collect().map { r =>
        r.getString(r.fieldIndex("ID")) ->
          r.getString(r.fieldIndex("_change_type"))
      }.toSet
      val expectedInv = got.map { case (id, ct) =>
        id -> (ct match {
          case "insert" => "delete"
          case "delete" => "insert"
          case u => u
        })
      }
      assert(inv == expectedInv)
    } finally {
      engine.releaseCut("repos", "a")
      engine.releaseCut("repos", "b")
    }
  }

  test("readChangesBetween: vacuumed horizon throws instead of misreading") {
    val t = newTable(maxDeltas = 2)
    t.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val v1 = t.currentVersion()
    t.merge(df("a" -> "2"), Seq("ID"), "ID", "c2")
    t.merge(df("a" -> "3"), Seq("ID"), "ID", "c3") // hits cap → compaction
    val v2 = t.currentVersion()
    t.vacuum(graceMs = 0)
    val e = intercept[IllegalArgumentException] {
      t.readChangesBetween(v1, v2)
    }
    assert(e.getMessage.contains("vacuumed"))
    // pinned horizons stay readable through the same vacuum pattern
    val t2 = newTable(maxDeltas = 2)
    t2.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val p1 = t2.currentVersion()
    t2.pinSnapshot(p1)
    try {
      t2.merge(df("a" -> "2"), Seq("ID"), "ID", "c2")
      t2.merge(df("a" -> "3"), Seq("ID"), "ID", "c3")
      t2.vacuum(graceMs = 0)
      val got = betweenMap(t2, p1, t2.currentVersion())
      assert(got == Map("a" -> ("update", "3")))
    } finally t2.unpinSnapshot(p1)

    // the OTHER vacuum shape: the horizon's snapshot JSON itself is gone
    // (keepSnapshots exceeded) — same friendly error, not a raw
    // FileNotFoundException from the log read
    val t3 = newTable()
    t3.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val g1 = t3.currentVersion()
    (2 to 13).foreach(i => t3.merge(df("a" -> i.toString), Seq("ID"), "ID", s"c$i"))
    t3.vacuum(keepSnapshots = 2, graceMs = 0)
    assert(!t3.retained(g1))
    val e3 = intercept[IllegalArgumentException] {
      t3.readChangesBetween(g1, t3.currentVersion())
    }
    assert(e3.getMessage.contains("vacuumed"), e3.getMessage)
  }

  test("streaming source: startingVersion older than retention fails friendly") {
    val root = SparkTestSession.tmpDir("graft-cfvac-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    (1 to 13).foreach(i => src.merge(df("a" -> i.toString), Seq("ID"), "ID", s"c$i"))
    src.vacuum(keepSnapshots = 2, graceMs = 0)
    // the default startingVersion=1 (full backfill) names a vacuumed
    // snapshot: the subscribe must fail with the retention story, not
    // wedge batch 0 on a raw log-read error
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft-changefeed")
        .option("root", root).option("table", "SRC").load()
        .writeStream.option("checkpointLocation",
          SparkTestSession.tmpDir("graft-cfvac-ckpt-"))
        .format("noop").start()
      try q.processAllAvailable() finally q.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("vacuumed"))), e.toString)
  }

  test("streaming source: cdf=true feeds update image pairs; a feed-only rollup converges") {
    import org.apache.spark.sql.DataFrame
    val root = SparkTestSession.tmpDir("graft-cfcdf-")
    val src = new LakeTable(spark, root, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df("a" -> "x", "b" -> "x", "c" -> "y"), Seq("ID"), "ID", "c1")

    // a delta consumer: per-V doc count maintained ONLY from the feed —
    // correct iff updates retire their pre-image (the 3-valued form
    // can't support this consumer; that's what cdf=true is for)
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String, String)]()
    val q = spark.readStream.format("graft-changefeed")
      .option("root", root).option("table", "SRC")
      .option("cdf", "true").load()
      .writeStream.option("checkpointLocation",
        SparkTestSession.tmpDir("graft-cfcdf-ckpt-"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          val v = r.getString(r.fieldIndex("V"))
          val ct = r.getString(r.fieldIndex("_change_type"))
          seen.add((r.getString(0), ct, v))
          val sgn = if (ct == "insert" || ct == "update_postimage") 1L else -1L
          counts.merge(v, sgn, (x, y) => x + y)
          ()
        }
        ()
      }.start()
    q.processAllAvailable() // backfill batch 0 = inserts (CDF form too)
    src.merge(df("b" -> "y", "d" -> "y"), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq("a").toDF("ID")))
    q.processAllAvailable()
    q.stop()
    // the tail batch carried BOTH of b's images
    assert(seen.contains(("b", "update_preimage", "x")) &&
      seen.contains(("b", "update_postimage", "y")))
    // rollup from the feed alone ≡ recompute over the source state
    val want = src.read().collect().groupBy(_.getString(1))
      .view.mapValues(_.length.toLong).toMap
    import scala.jdk.CollectionConverters._
    assert(counts.asScala.filter(_._2 != 0L).toMap == want)
    assert(want == Map("y" -> 3L)) // a deleted; b,c,d all "y"
  }

  test("readChangesBetweenCdf: updates emit both images; base + delta ≡ to-state") {
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "1", "c" -> "1", "z" -> "zz"),
      Seq("ID"), "ID", "c1")
    val v1 = t.currentVersion()
    t.merge(df("b" -> "2", "d" -> "1", "z" -> "zz"), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq("c").toDF("ID")))
    val v2 = t.currentVersion()
    val feed = t.readChangesBetweenCdf(v1, v2).collect()
      .map { r =>
        (r.getString(0), r.getString(r.fieldIndex("_change_type")),
          Option(r.getString(1)).orNull)
      }.toSet
    // update = pre+post image PAIR; z re-merged identical and a
    // untouched stay silent — same net semantics as the 3-valued form
    assert(feed == Set(
      ("b", "update_preimage", "1"), ("b", "update_postimage", "2"),
      ("d", "insert", "1"), ("c", "delete", "1")))
    // the delta invariant the CDF shape exists for: retire pre-images
    // and deletes from the from-state, admit post-images and inserts —
    // lands exactly on the to-state
    def state(v: Int): Set[(String, String)] =
      t.readAt(t.snapshotAt(v)).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val retired = feed.collect {
      case (id, ct, v) if ct == "update_preimage" || ct == "delete" =>
        (id, v)
    }
    val admitted = feed.collect {
      case (id, ct, v) if ct == "update_postimage" || ct == "insert" =>
        (id, v)
    }
    assert((state(v1) -- retired) ++ admitted == state(v2))
    // empty window / bad windows: same contract as the 3-valued reader
    assert(t.readChangesBetweenCdf(v2, v2).count() == 0)
    intercept[IllegalArgumentException] { t.readChangesBetweenCdf(v2, v1) }
  }
}
