package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.LakeTable

/** LakeTable unit behavior: merge-on-read visibility, tombstones,
  * reinsert-after-delete, delta-cap compaction, schema evolution across
  * mixed-version segments, exactly-once commit tags. */
class LakeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ID", StringType, nullable = false),
    StructField("V", StringType, nullable = true)))

  private def newTable(maxDeltas: Int = 4): LakeTable = {
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-lakespec-"),
      "T", numBuckets = 4, maxDeltas = maxDeltas)
    t.create(schema, Seq("ID"), "ID")
    t
  }

  private def df(rows: (String, String)*) = rows.toDF("ID", "V")

  test("readWhere: root-key predicates prune the scan to matching buckets") {
    val t = newTable()
    val keys = (0 until 32).map(i => s"k$i")
    t.merge(df(keys.map(k => k -> s"v-$k"): _*), Seq("ID"), "ID", "c1")
    // behavioral proof (same trick as the incr test): corrupt every
    // bucket EXCEPT k0's — a pruned point lookup succeeds, a full scan
    // throws on the garbage footer
    val keep = t.bucketOfKey("k0")
    val root = t.snapshot().segments.filter(_.bucket != keep)
    assert(root.nonEmpty)
    root.foreach { seg =>
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
    val got = t.readWhere(col("ID") === "k0").collect()
    assert(got.map(r => r.getString(0) -> r.getString(1)).toSeq ==
      Seq("k0" -> "v-k0"))
    intercept[Throwable] { t.read().count() }
    // IN / OR prune to the union of key buckets (only keys co-bucketed
    // with k0 stay readable here, so use k0 twice through different
    // predicate shapes)
    assert(t.readWhere(col("ID").isin("k0")).count() == 1)
    assert(t.readWhere(col("ID") === "k0" || col("ID") === "k0").count() == 1)
    // conjunction with a non-key predicate still prunes
    assert(t.readWhere(col("ID") === "k0" && col("V") === "nope").count() == 0)
  }

  test("readWhere: complex and unsupported predicates stay correct via fallback") {
    val t = newTable()
    val keys = (0 until 16).map(i => s"p$i")
    t.merge(df(keys.map(k => k -> k.toUpperCase): _*), Seq("ID"), "ID", "c1")
    // unsupported shapes fall back to an unpruned (correct) scan
    assert(t.readWhere(col("ID").startsWith("p1")).count() ==
      keys.count(_.startsWith("p1")))
    assert(t.readWhere(lower(col("ID")) === "p4").count() == 1)
    // OR with a non-key side must NOT prune to the key side's buckets
    assert(t.readWhere(col("ID") === "p3" || col("V") === "P5").count() == 2)
    // conjunction narrows: IN ∧ ≠ still returns the right rows
    assert(t.readWhere(
      col("ID").isin("p1", "p2", "p3") && col("ID") =!= "p2").count() == 2)
  }

  test("readWhere: NON-STRING root key disables pruning, rows stay correct") {
    // the persisted layout hashes the key in its native type while the
    // driver-side bucketOfKey replica hashes a string rendering — for a
    // LongType key those disagree, so pruning must NOT apply (ADVICE r4:
    // the pruned path silently returned missing rows)
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-lakespec-"),
      "TL", numBuckets = 4)
    t.create(StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("V", StringType, nullable = true))), Seq("ID"), "ID")
    val rows = (0L until 32L).map(i => i -> s"v-$i")
    t.merge(rows.toDF("ID", "V"), Seq("ID"), "ID", "c1")
    // every point lookup must hit (the old code pruned to the wrong
    // bucket for most long keys and returned 0 rows)
    rows.foreach { case (k, v) =>
      val got = t.readWhere(col("ID") === k).collect()
      assert(got.length == 1 && got.head.getString(1) == v, s"key $k")
    }
    assert(t.readWhere(col("ID").isin(3L, 17L)).count() == 2)
  }

  test("two concurrent writers: create-exclusive publish loses no commits") {
    // VERDICT r4 #7: the old ATOMIC_MOVE publish was last-writer-wins on a
    // version collision — a concurrent writer's commit silently vanished.
    // Race two instances over the same table (low maxDeltas so inline
    // compaction races too) and prove every commit tag and every row lands.
    val root = SparkTestSession.tmpDir("graft-lakespec-")
    val a = new LakeTable(spark, root, "T2W", numBuckets = 4, maxDeltas = 3)
    a.create(schema, Seq("ID"), "ID")
    val b = new LakeTable(spark, root, "T2W", numBuckets = 4, maxDeltas = 3)
    val nPer = 6
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(a, b).zipWithIndex.map { case (t, w) =>
      new Thread(() => {
        try (0 until nPer).foreach { i =>
          t.merge(df(s"w$w-k$i" -> s"v$w-$i"), Seq("ID"), "ID", s"w$w:c$i")
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    val s = a.snapshot()
    val tags = (for (w <- 0 until 2; i <- 0 until nPer)
      yield s"w$w:c$i").toSet
    assert(tags.subsetOf(s.commits.toSet),
      s"lost commits: ${tags -- s.commits.toSet}")
    val rows = a.read().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.size == 2 * nPer)
    (0 until 2).foreach(w => (0 until nPer).foreach(i =>
      assert(rows(s"w$w-k$i") == s"v$w-$i")))
    // the log is a gapless version chain (every attempt re-derived on the
    // fresh head instead of clobbering)
    assert(s.version >= 1 + 2 * nPer)
  }

  test("pinned snapshot survives an aggressive vacuum; unpin re-enables GC") {
    val t = newTable(maxDeltas = 2)
    t.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val cut = t.snapshot()
    t.pinSnapshot(cut.version)
    // supersede the cut's segments entirely
    t.merge(df("a" -> "2", "b" -> "1"), Seq("ID"), "ID", "c2")
    t.compactAll("c3")
    t.merge(df("a" -> "3"), Seq("ID"), "ID", "c4")
    t.compactAll("c5")
    Thread.sleep(50)
    t.vacuum(keepSnapshots = 1, graceMs = 0L)
    assert(t.materialized(cut), "pinned cut's segments were vacuumed")
    assert(t.snapshotVersions().contains(cut.version),
      "pinned snapshot FILE expired")
    assert(t.readAt(cut).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq == Seq("a" -> "1"))
    t.unpinSnapshot(cut.version)
    Thread.sleep(50)
    t.vacuum(keepSnapshots = 1, graceMs = 0L)
    assert(!t.materialized(cut), "unpinned superseded segments not GC'd")
  }

  test("upsert visibility: newest commit wins per key") {
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "1"), Seq("ID"), "ID", "c1")
    t.merge(df("a" -> "2"), Seq("ID"), "ID", "c2")
    val got = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "2", "b" -> "1"))
  }

  test("tombstones delete across deltas; reinsert after delete works") {
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "1"), Seq("ID"), "ID", "c1")
    t.merge(df(), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq("a").toDF("ID")))
    assert(t.read().collect().map(_.getString(0)).toSeq == Seq("b"))
    // reinsert with a NEWER seq than the tombstone → visible again
    t.merge(df("a" -> "3"), Seq("ID"), "ID", "c3")
    val got = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "3", "b" -> "1"))
  }

  test("delta-cap compaction: buckets collapse to a single base, state intact") {
    val t = newTable(maxDeltas = 3)
    (1 to 8).foreach { i =>
      t.merge(df("k" -> i.toString, s"x$i" -> "v"), Seq("ID"), "ID", s"c$i")
    }
    val s = t.snapshot()
    // compaction fired: no bucket holds ≥ maxDeltas deltas
    val deltasPerBucket = s.segments.filter(_.kind == "delta")
      .groupBy(_.bucket).map(_._2.size)
    assert(deltasPerBucket.forall(_ < 3), s.segments.toString)
    assert(s.segments.exists(_.kind == "base"))
    assert(s.lineage.exists(_.compacted.nonEmpty))
    val got = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("k") == "8") // newest wins through base+delta mix
    assert(got.size == 9)   // k + x1..x8
  }

  test("tombstone survives compaction correctly (delete then compact then read)") {
    val t = newTable(maxDeltas = 3)
    t.merge(df("a" -> "1", "b" -> "1"), Seq("ID"), "ID", "c1")
    t.merge(df("c" -> "1"), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq("a").toDF("ID")))
    // force compaction with more merges
    (3 to 7).foreach(i => t.merge(df(s"z$i" -> "v"), Seq("ID"), "ID", s"c$i"))
    val ids = t.read().collect().map(_.getString(0)).toSet
    assert(!ids.contains("a"))
    assert(ids.contains("b") && ids.contains("c"))
  }

  test("delete retention: late lower-lsn row stays dead ACROSS compaction; horizon expires tombstones") {
    // lsn-domain table: delete at lsn 100, compact, then a stale lsn-50
    // delivery of the same key arrives. The tombstone must have been
    // carried into the compacted base or the key resurrects.
    def lsnDf(rows: (String, String, Long)*) = rows.toDF("ID", "V", "LSN")
    val t = newTable(maxDeltas = 100)
    t.merge(lsnDf(("a", "1", 10L), ("b", "1", 11L)), Seq("ID"), "ID", "c1",
      rowSeqCol = Some("LSN"))
    t.merge(lsnDf(), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq(("a", 100L)).toDF("ID", "LSN")),
      rowSeqCol = Some("LSN"))
    t.compactAll("compact:1")
    assert(t.snapshot().segments.forall(_.kind == "base"))
    // stale redelivery (lsn 50 < delete's 100) after the compaction
    t.merge(lsnDf(("a", "stale", 50L)), Seq("ID"), "ID", "c3",
      rowSeqCol = Some("LSN"))
    assert(t.read().collect().map(_.getString(0)).toSeq == Seq("b"))
    // a genuinely newer row (lsn 200) resurrects the key — correct LWW
    t.merge(lsnDf(("a", "new", 200L)), Seq("ID"), "ID", "c4",
      rowSeqCol = Some("LSN"))
    val got = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "new", "b" -> "1"))
    // retention horizon: expire tombstones below lsn 1000 → the carried
    // tombstone is dropped from the next compaction (bounded metadata)
    t.compactAll("compact:2", expireTombstonesBelow = Some(1000L))
    val raw = spark.read.parquet(
      t.snapshot().segments.map(seg =>
        s"${t.root}/${t.name}/${seg.path}"): _*)
    assert(!raw.collect().exists(_.getAs[Boolean]("_gdel")))
  }

  test("schema evolution: mixed-version segments align on read") {
    val t = newTable()
    t.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val wider = StructType(schema.fields :+ StructField("W", IntegerType, nullable = true))
    t.evolve(wider, Seq("ID"), "ID")
    t.merge(Seq(("b", "2", 7)).toDF("ID", "V", "W"), Seq("ID"), "ID", "c2")
    val got = t.read().orderBy("ID").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(got(0).isNullAt(2)) // old segment null-filled for W
    assert(got(1).getInt(2) == 7)
  }

  test("vacuum removes unreferenced commit dirs, keeps live segments readable") {
    val t = newTable(maxDeltas = 2)
    (1 to 6).foreach(i => t.merge(df("k" -> i.toString), Seq("ID"), "ID", s"c$i"))
    val before = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // graceMs=0: the mtime grace period protects in-flight concurrent
    // writers in production; this test has none and wants instant cleanup
    val removed = t.vacuum(keepSnapshots = 2, graceMs = 0L)
    assert(removed > 0) // superseded (compacted-away) commit dirs deleted
    val after = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after == before && after("k") == "6")
    // another merge after vacuum still works
    t.merge(df("k" -> "7"), Seq("ID"), "ID", "c7")
    assert(t.read().collect().map(r => r.getString(1)).toSeq == Seq("7"))
  }

  test("vacuum grace period protects an in-flight writer's commit dir") {
    // a concurrent merge writes its commit dir BEFORE publishing the
    // snapshot — during that window the dir is unreferenced with a fresh
    // mtime. Default-grace vacuum must leave it alone (deleting it would
    // corrupt the in-flight commit); only a STALE unreferenced dir (a
    // crashed write) is garbage.
    val t = newTable()
    t.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    val dataDir = java.nio.file.Paths.get(t.root, t.name, "data")
    val inflight = dataDir.resolve("c99999d")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("part-0.parquet"), "x")
    // fresh mtime → survives a graced vacuum
    t.vacuum(graceMs = 600000L)
    assert(java.nio.file.Files.isDirectory(inflight),
      "vacuum deleted an in-flight commit dir inside the grace window")
    // the snapshot publish then completes — simulate by merging more and
    // confirming the table still works with the foreign dir present
    t.merge(df("b" -> "2"), Seq("ID"), "ID", "c2")
    assert(t.read().count() == 2)
    // aged out (mtime older than grace) and still unreferenced → removed
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    java.nio.file.Files.setLastModifiedTime(inflight, old)
    java.nio.file.Files.setLastModifiedTime(inflight.resolve("part-0.parquet"), old)
    t.vacuum(graceMs = 600000L)
    assert(!java.nio.file.Files.exists(inflight))
    assert(t.read().count() == 2) // live data untouched
  }

  test("compactAll: collapses every delta bucket to base, state preserved") {
    val t = newTable(maxDeltas = 100) // never auto-compacts
    (1 to 5).foreach(i => t.merge(df("k" -> i.toString, s"y$i" -> "v"),
      Seq("ID"), "ID", s"c$i"))
    t.merge(df(), Seq("ID"), "ID", "c6",
      deleteRootKeys = Some(Seq("y1").toDF("ID")))
    val before = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    t.compactAll("compact:1")
    val snap = t.snapshot()
    assert(snap.segments.nonEmpty && snap.segments.forall(_.kind == "base"))
    val after = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after == before && !after.contains("y1") && after("k") == "5")
    // idempotent under the same tag
    t.compactAll("compact:1")
    assert(t.snapshot().version == snap.version)
  }

  test("readBuckets: bucket-pruned scan returns exactly that bucket's keys") {
    val t = newTable()
    val keys = (1 to 40).map(i => s"k$i")
    t.merge(keys.map(k => k -> "v").toDF("ID", "V"), Seq("ID"), "ID", "c1")
    // ground truth via the table's own bucket expression
    val withB = t.read().withColumn("_b", t.bucketExpr(col("ID")))
    val b0 = withB.filter(col("_b") === 0).select("ID")
      .collect().map(_.getString(0)).toSet
    val pruned = t.readBuckets(Set(0)).select("ID")
      .collect().map(_.getString(0)).toSet
    assert(pruned == b0 && pruned.nonEmpty && pruned.size < keys.size)
  }

  test("bucket layout is pinned by the snapshot, not the opener's constructor") {
    val root = SparkTestSession.tmpDir("graft-lakespec-")
    val t4 = new LakeTable(spark, root, "T", numBuckets = 4)
    t4.create(schema, Seq("ID"), "ID")
    t4.merge((1 to 20).map(i => s"k$i" -> "old").toDF("ID", "V"),
      Seq("ID"), "ID", "c1")
    // a different session reopens with ANOTHER constructor default — its
    // merges MUST hash with the persisted 4-bucket layout, or the same
    // key lands in different buckets across segments and the clean-bucket
    // fast path emits stale duplicates
    val t16 = new LakeTable(spark, root, "T", numBuckets = 16)
    t16.merge((1 to 20).map(i => s"k$i" -> "new").toDF("ID", "V"),
      Seq("ID"), "ID", "c2")
    val got = t16.read().collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.length == 20, s"expected 20 rows, got ${got.length}")
    assert(got.forall(_._2 == "new"))
    assert(t16.snapshot().numBuckets == 4)
    assert(t16.snapshot().segments.forall(_.bucket < 4))
  }

  test("rebucket: atomic re-layout to more buckets preserves state; merges follow") {
    val t = newTable(maxDeltas = 100)
    t.merge((1 to 30).map(i => s"k$i" -> "v1").toDF("ID", "V"),
      Seq("ID"), "ID", "c1")
    t.merge((1 to 10).map(i => s"k$i" -> "v2").toDF("ID", "V"),
      Seq("ID"), "ID", "c2")
    t.merge(df(), Seq("ID"), "ID", "c3",
      deleteRootKeys = Some(Seq("k30").toDF("ID")))
    val before = t.read().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val snap = t.rebucket(16, "grow:16")
    assert(snap.numBuckets == 16)
    assert(snap.segments.forall(_.kind == "base"))
    assert(snap.segments.map(_.bucket).distinct.size > 4)
    val after = t.read().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after == before && !after.contains("k30") && after("k1") == "v2")
    // idempotent re-apply; unchanged-count no-op
    assert(t.rebucket(16, "grow:16").version == snap.version)
    assert(t.rebucket(16, "grow:again").segments == snap.segments)
    // subsequent merges hash with the new modulus (buckets beyond 4 appear)
    t.merge((31 to 60).map(i => s"x$i" -> "v3").toDF("ID", "V"),
      Seq("ID"), "ID", "c4")
    assert(t.read().count() == before.size + 30)
    assert(t.snapshot().segments.exists(s => s.kind == "delta" && s.bucket >= 4))
    // bucket-pruned reads agree with the new layout
    val withB = t.read().withColumn("_b", t.bucketExpr(col("ID")))
    val b0 = withB.filter(col("_b") === 0).select("ID")
      .collect().map(_.getString(0)).toSet
    assert(t.readBuckets(Set(0)).select("ID")
      .collect().map(_.getString(0)).toSet == b0)
  }

  test("compacted table reads with ZERO exchanges (clean-bucket fast path)") {
    val t = newTable(maxDeltas = 100)
    (1 to 4).foreach(i => t.merge(df(s"k$i" -> i.toString), Seq("ID"), "ID", s"c$i"))
    // pre-compaction: deltas need the merge-on-read window → shuffles
    t.compactAll("compact:plan")
    assert(t.snapshot().segments.forall(_.kind == "base"))
    val plan = t.read().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"compacted read should be shuffle-free:\n$plan")
    assert(t.read().count() == 4)
  }

  test("exactly-once: same tag re-merge is a no-op; different tag applies") {
    val t = newTable()
    t.merge(df("a" -> "1"), Seq("ID"), "ID", "c1")
    t.merge(df("a" -> "X"), Seq("ID"), "ID", "c1") // retry with same tag
    assert(t.read().collect().head.getString(1) == "1")
    assert(t.snapshot().commits == Seq("c1"))
  }

  test("a table dropped and re-created at its path in one JVM: reads and vacuum see the new table") {
    val root = SparkTestSession.tmpDir("graft-recreate-")
    def rows(t: LakeTable) =
      t.read().collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val old = new LakeTable(spark, root, "T", numBuckets = 4)
    old.create(schema, Seq("ID"), "ID")
    old.merge(df("a" -> "old"), Seq("ID"), "ID", "c1")
    assert(rows(old) == Set("a" -> "old")) // v1 and v2 parsed and cached
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root, "T"))

    // same path, same version numbers, same schema
    val t = new LakeTable(spark, root, "T", numBuckets = 4)
    t.create(schema, Seq("ID"), "ID")
    t.merge(df("b" -> "new", "c" -> "new"), Seq("ID"), "ID", "c9")
    assert(t.snapshot().version == 2 && t.snapshot().commits == Seq("c9"))
    assert(rows(t) == Set("b" -> "new", "c" -> "new"))
    def dataDirs(): Set[String] =
      new java.io.File(root, "T/data").list().toSet
    val live = dataDirs()
    assert(live.nonEmpty)
    assert(t.vacuum(graceMs = 0L) == 0)
    assert(dataDirs() == live)
    assert(rows(t) == Set("b" -> "new", "c" -> "new"))
  }

  test("control plane runs against a NON-DEFAULT FileSystem (graftfs scheme)") {
    // VERDICT r5 #1: the snapshot log, data segments, registry and
    // vacuum must all route through the Hadoop FS API — here via a
    // registered non-file scheme, which also forces Fio's generic DFS
    // branch (tmp-then-rename publish) instead of the local fast path
    val root = "graftfs:" + SparkTestSession.tmpDir("graft-fs-")
    val before = GraftTestFs.total
    val t = new LakeTable(spark, root, "T", numBuckets = 4, maxDeltas = 2)
    t.create(schema, Seq("ID"), "ID")
    t.merge(df("a" -> "1", "b" -> "2"), Seq("ID"), "ID", "c1")
    t.merge(df("a" -> "3"), Seq("ID"), "ID", "c2")
    assert(t.read().collect().map(r => r.getString(0) -> r.getString(1))
      .toSet == Set("a" -> "3", "b" -> "2"))
    // delete + compact + vacuum, all through graftfs
    t.merge(df(), Seq("ID"), "ID", "c3",
      deleteRootKeys = Some(Seq("b").toDF("ID")))
    t.compactAll("cpt")
    t.vacuum(graceMs = 0)
    assert(t.read().collect().map(r => r.getString(0) -> r.getString(1))
      .toSet == Set("a" -> "3"))
    // exactly-once across a re-opened table on the same scheme
    val t2 = new LakeTable(spark, root, "T", numBuckets = 4)
    t2.merge(df("a" -> "X"), Seq("ID"), "ID", "c2") // replayed tag: no-op
    assert(t2.read().collect().map(_.getString(1)).toSeq == Seq("3"))
    assert(GraftTestFs.inits.get > 0, "graftfs was never instantiated")
    assert(GraftTestFs.total > before,
      "no control-plane op went through the registered FileSystem")
    // the engine's registry + lake DDL on the same scheme
    val e = new graft.engine.Engine(spark, root, numBuckets = 4)
    e.load("fsent",
      Seq("""{"id":"d1","rev":"r1","content":"x"}""").toDF("doc"),
      "doc", "t:1")
    graft.lake.VersionLog.clearCache()
    assert(e.loadRegistry("fsent").isDefined)
    val spec = graft.catalog.Catalog
      .fromTree(e.loadRegistry("fsent").get).find(_.isRoot).get
    assert(e.table(spec).read().count() == 1)
  }

  test("control plane survives an OBJECT-STORE FileSystem (no append, replace-rename)") {
    // VERDICT r6 #2: graftobj rejects FileSystem.append and its rename
    // replaces existing destinations (the plain-S3 shape). The session
    // pins graft.fio.publish.graftobj=create (conditional-put seam), and
    // Fio.append must rotate part files instead of dying on the first
    // metrics write.
    val root = "graftobj:" + SparkTestSession.tmpDir("graft-obj-")
    val t = new LakeTable(spark, root, "T", numBuckets = 4, maxDeltas = 2)
    t.create(schema, Seq("ID"), "ID")
    t.merge(df("a" -> "1", "b" -> "2"), Seq("ID"), "ID", "c1")
    t.merge(df("a" -> "3"), Seq("ID"), "ID", "c2")
    assert(t.read().collect().map(r => r.getString(0) -> r.getString(1))
      .toSet == Set("a" -> "3", "b" -> "2"))
    t.merge(df(), Seq("ID"), "ID", "c3",
      deleteRootKeys = Some(Seq("b").toDF("ID")))
    t.compactAll("cpt")
    t.vacuum(graceMs = 0)
    assert(t.read().collect().map(r => r.getString(0) -> r.getString(1))
      .toSet == Set("a" -> "3"))
    // exactly-once across a re-opened table on the same scheme
    val t2 = new LakeTable(spark, root, "T", numBuckets = 4)
    t2.merge(df("a" -> "X"), Seq("ID"), "ID", "c2") // replayed tag: no-op
    assert(t2.read().collect().map(_.getString(1)).toSeq == Seq("3"))
    // the engine end-to-end: registry, DDL, flatten, merge — and the
    // STREAMING path, whose per-batch metrics line hits Fio.append
    val e = new graft.engine.Engine(spark, root, numBuckets = 4)
    e.load("objent",
      Seq("""{"id":"d1","rev":"r1","content":"x"}""").toDF("doc"),
      "doc", "t:1")
    graft.lake.VersionLog.clearCache()
    assert(e.loadRegistry("objent").isDefined)
    val spec = graft.catalog.Catalog
      .fromTree(e.loadRegistry("objent").get).find(_.isRoot).get
    assert(e.table(spec).read().count() == 1)
  }

  test("history: one row per retained snapshot — ddl vs data commits, counters, monotone clock") {
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "1"), Seq("ID"), "ID", "c1")
    t.merge(df("b" -> "2"), Seq("ID"), "ID", "c2")
    t.evolve(schema.add("W", LongType), Seq("ID"), "ID")
    t.merge(Seq(("c", "1", 5L)).toDF("ID", "V", "W"), Seq("ID"), "ID", "c3")
    val h = t.history().collect().sortBy(_.getInt(0))
    assert(h.map(_.getInt(0)).toSeq == t.snapshotVersions())
    // operation/tag attribution: create and evolve are lineage-free DDL
    val ops = h.map(r => (r.getString(3), Option(r.getString(4)).orNull)).toSeq
    assert(ops == Seq(("ddl", null), ("commit", "c1"), ("commit", "c2"),
      ("ddl", null), ("commit", "c3")))
    // lineage counters surface per data commit
    assert(h(1).getLong(6) == 2L && h(2).getLong(6) == 1L &&
      h(4).getLong(6) == 1L)
    // publish clock strictly monotone; schema_ver bumps at the evolve
    val times = h.map(_.getLong(1)).toSeq
    assert(times == times.sorted && times.distinct == times)
    assert(h(3).getInt(2) == h(2).getInt(2) + 1)
  }

  test("time travel: readAsOf resolves the commit-clock state; times are strictly monotone") {
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "1"), Seq("ID"), "ID", "c1")
    val s1 = t.snapshot()
    t.merge(df("a" -> "2", "c" -> "2"), Seq("ID"), "ID", "c2")
    t.merge(df("b" -> "3"), Seq("ID"), "ID", "c3")
    val s3 = t.snapshot()

    // publish monotonization: strictly increasing per table even when
    // commits land within one wall-clock millisecond
    val times = t.snapshotVersions().map(v => t.snapshotAt(v).timeMs)
    assert(times == times.sorted && times.distinct == times)

    // as-of each commit's own clock = that commit's state
    def state(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(t.versionAsOf(s1.timeMs) == s1.version)
    assert(state(t.readAsOf(s1.timeMs)) == Set("a" -> "1", "b" -> "1"))
    assert(state(t.readAsOf(s3.timeMs)) ==
      Set("a" -> "2", "b" -> "3", "c" -> "2"))
    // between two commits → the earlier one (strict monotonicity means
    // prev.timeMs ≤ s3.timeMs - 1 always); at-or-after head → head
    assert(t.versionAsOf(s3.timeMs - 1) == s3.version - 1)
    assert(t.versionAsOf(System.currentTimeMillis() + 60000) == s3.version)
    // before the oldest retained snapshot → error, never a misread
    intercept[IllegalArgumentException] { t.versionAsOf(0L) }
  }

  test("snapshot format: an empty per-segment sub reads unchanged; a nested-commit sub is refused") {
    import graft.schema.{JArr, JObj, JStr, JValue, Json}
    val t = newTable()
    t.merge(df("a" -> "1", "b" -> "2"), Seq("ID"), "ID", "c1")
    t.merge(df("a" -> "3"), Seq("ID"), "ID", "c2")
    def rows() = t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = rows()
    assert(want == Map("a" -> "3", "b" -> "2"))
    // republish this head as the next version with every segment carrying
    // a "sub" field, placed after "seq" as earlier releases wrote it
    val snapDir = java.nio.file.Paths.get(t.root, t.name, "_snap")
    val head = Json.parse(java.nio.file.Files.readString(
      snapDir.resolve(f"v${t.currentVersion()}%05d.json"))).asInstanceOf[JObj]
    def republish(sub: String): Unit = {
      val v = t.currentVersion()
      def withSub(seg: JValue): JValue = seg match {
        case JObj(fs) =>
          val at = fs.indexWhere(_._1 == "seq") + 1
          JObj(fs.take(at) ++ Vector("sub" -> JStr(sub)) ++ fs.drop(at))
        case other => other
      }
      val body = JObj(head.fields.map {
        case ("segments", JArr(ss)) => "segments" -> JArr(ss.map(withSub))
        case f => f
      })
      java.nio.file.Files.writeString(
        snapDir.resolve(f"v${v + 1}%05d.json"), Json.render(body))
    }
    republish("")
    assert(java.nio.file.Files.readString(snapDir.resolve(
      f"v${t.currentVersion()}%05d.json")).contains("\"sub\":\"\""))
    assert(t.snapshot().segments.nonEmpty)
    assert(rows() == want)
    // a segment nested by the removed multi-table commit: refused, never
    // read as if its rows were top-level
    republish("_p_T")
    val ex = intercept[IllegalStateException](rows())
    assert(ex.getMessage.contains("compactAll"))
    assert(ex.getMessage.contains(t.snapshotAt(t.currentVersion() - 1)
      .segments.head.path))
  }
}
