package graft.lake

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestSession

/** Read equivalence of the bucket-partitioned lake scan. Every expected
  * row comes from a driver-side last-write-wins model of the writes, never
  * from another read of the lake: full reads, point lookups, the seq-space
  * feed and the version diffs must all agree with it. */
class LakeScanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val kv = StructType(Seq(
    StructField("ID", StringType, nullable = false),
    StructField("V", StringType, nullable = true)))

  private def table(schema: StructType, keys: Seq[String], rootKey: String,
      maxDeltas: Int = 8, buckets: Int = 4): LakeTable = {
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-scan-"), "T",
      numBuckets = buckets, maxDeltas = maxDeltas)
    t.create(schema, keys, rootKey)
    t
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0001"))

  private def sorted(xs: Iterable[Seq[Any]]): Seq[Seq[Any]] =
    xs.toSeq.sortBy(_.mkString("\u0001"))

  /** Random lsn-domain upserts and deletes over a small key space, with
    * out-of-order lsns, inline compaction and full compactions in between;
    * after every commit the lake must read as the model. */
  test("random upserts/deletes with compaction: read, lookups, feeds and " +
      "diffs match a driver-side LWW model") {
    val rnd = new Random(7)
    val t = table(kv, Seq("ID"), "ID", maxDeltas = 3)
    val keys = (0 until 12).map(i => s"k$i")
    // every event ever applied: key -> (lsn, Some(value) | None = delete)
    var events = Vector.empty[(String, Long, Option[String])]
    var states = Map(t.currentVersion() -> Map.empty[String, String])
    def state(evs: Seq[(String, Long, Option[String])]): Map[String, String] =
      evs.groupBy(_._1).flatMap { case (k, es) => es.maxBy(_._2)._3.map(k -> _) }
    val lsns = rnd.shuffle((1 to 400).map(_.toLong)).iterator
    for (b <- 1 to 10) {
      val batch = rnd.shuffle(keys).take(5).map { k =>
        (k, lsns.next(), if (rnd.nextInt(4) == 0) None else Some(s"$k-b$b"))
      }
      val ups = batch.collect { case (k, l, Some(v)) => (k, v, l) }
      val dels = batch.collect { case (k, l, None) => (k, l) }
      t.merge(ups.toDF("ID", "V", "lsn"), Seq("ID"), "ID", s"c$b",
        deleteRootKeys = Some(dels.toDF("ID", "lsn")), rowSeqCol = Some("lsn"))
      events ++= batch
      if (b == 6) t.compactAll("full")
      states += t.currentVersion() -> state(events)

      val want = state(events)
      assert(rows(t.read()) == sorted(want.map { case (k, v) => Seq(k, v) }),
        s"batch $b")
      keys.foreach { k =>
        assert(rows(t.readWhere(col("ID") === k)) ==
          want.get(k).map(v => Seq(k, v)).toSeq, s"batch $b lookup $k")
      }
    }
    assert(t.snapshot().segments.exists(_.kind == "base"))

    // seq-space feed: the newest post-horizon event per touched key
    Seq(0L, 50L, 200L, 390L).foreach { h =>
      val want = events.filter(_._2 > h).groupBy(_._1).map { case (k, es) =>
        val (_, l, v) = es.maxBy(_._2)
        Seq(k, v.orNull, if (v.isDefined) "upsert" else "delete", l)
      }
      assert(rows(t.readChangesSince(h)) == sorted(want), s"since $h")
    }

    // version diffs against the model's states at both versions
    val vs = states.keys.toSeq.sorted
    for ((from, to) <- Seq(vs.head -> vs.last, vs(2) -> vs(7), vs(5) -> vs(6))) {
      val (a, z) = (states(from), states(to))
      val changed = (a.keySet ++ z.keySet).filter(k => a.get(k) != z.get(k))
      val want = changed.map { k =>
        (a.get(k), z.get(k)) match {
          case (None, Some(v))    => Seq(k, v, "insert")
          case (Some(v), None)    => Seq(k, v, "delete")
          case (Some(_), Some(v)) => Seq(k, v, "update")
          case _                  => sys.error("unreachable")
        }
      }
      assert(rows(t.readChangesBetween(from, to)) == sorted(want),
        s"between $from $to")
      val wantCdf = changed.toSeq.flatMap { k =>
        (a.get(k), z.get(k)) match {
          case (None, Some(v))    => Seq(Seq(k, v, "insert"))
          case (Some(v), None)    => Seq(Seq(k, v, "delete"))
          case (Some(p), Some(v)) =>
            Seq(Seq(k, p, "update_preimage"), Seq(k, v, "update_postimage"))
          case _                  => sys.error("unreachable")
        }
      }
      assert(rows(t.readChangesBetweenCdf(from, to)) == sorted(wantCdf),
        s"cdf $from $to")
    }
  }

  test("three schema versions, one a widened type: every row reads at the " +
      "current schema, diffs cast the pre-image through its own version") {
    val v1 = StructType(Seq(
      StructField("ID", StringType, nullable = false),
      StructField("N", IntegerType, nullable = true)))
    val t = table(v1, Seq("ID"), "ID")
    t.merge(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("ID", "N"), Seq("ID"),
      "ID", "c1")
    val afterV1 = t.currentVersion()
    val v2 = v1.add("W", StringType)
    t.evolve(v2, Seq("ID"), "ID")
    t.merge(Seq(("b", 20, "w")).toDF("ID", "N", "W"), Seq("ID"), "ID", "c2")
    // widen N: int -> string
    val v3 = StructType(Seq(v2("ID"), StructField("N", StringType),
      v2("W")))
    t.evolve(v3, Seq("ID"), "ID")
    t.merge(Seq(("c", "x", "w3")).toDF("ID", "N", "W"), Seq("ID"), "ID", "c3")
    assert(t.snapshot().segments.map(_.schemaVer).toSet == Set(1, 2, 3))

    val read = t.read()
    assert(read.schema.map(f => f.name -> f.dataType) ==
      v3.map(f => f.name -> f.dataType))
    val want = Seq(Seq("a", "1", null), Seq("b", "20", "w"), Seq("c", "x", "w3"))
    assert(rows(read) == want)
    assert(rows(t.readWhere(col("ID") === "b")) == Seq(want(1)))
    assert(rows(t.readChangesBetween(afterV1, t.currentVersion())) == Seq(
      Seq("b", "20", "w", "update"), Seq("c", "x", "w3", "update")))
    assert(rows(t.readChangesBetweenCdf(afterV1, t.currentVersion())) == Seq(
      Seq("b", "2", null, "update_preimage"),
      Seq("b", "20", "w", "update_postimage"),
      Seq("c", "3", null, "update_preimage"),
      Seq("c", "x", "w3", "update_postimage")))
  }

  test("commit-domain collision retry: the segment seq overrides the stale " +
      "parquet seq in reads, lookups and the feed") {
    val t = table(kv, Seq("ID"), "ID")
    t.merge(Seq("k" -> "v0", "j" -> "j0").toDF("ID", "V"), Seq("ID"), "ID",
      "seed")
    val s0 = t.snapshot()
    // both writers stage at s0: their parquet rows carry _gseq = v+1
    val upA = t.prepareDelta(s0, Seq("k" -> "a").toDF("ID", "V"), "ID",
      None, None)
    val upB = t.prepareDelta(s0, Seq("k" -> "b").toDF("ID", "V"), "ID",
      None, None)
    val (segsA, nA, _) = t.writeDelta(s0, upA)
    val (segsB, nB, _) = t.writeDelta(s0, upB)
    t.commitDelta(s0, "A", Seq("ID"), "ID", segsA, nA, 0, System.nanoTime(),
      "commit")
    val sB = t.commitDelta(s0, "B", Seq("ID"), "ID", segsB, nB, 0,
      System.nanoTime(), "commit")
    assert(sB.version == s0.version + 2)
    assert(rows(t.read()) == Seq(Seq("j", "j0"), Seq("k", "b")))
    assert(rows(t.readWhere(col("ID") === "k")) == Seq(Seq("k", "b")))
    // the retried commit's rows count at their committed seq: visible
    // past a horizon their stale parquet seq would fall below
    assert(rows(t.readChangesSince(s0.version + 1L)) ==
      Seq(Seq("k", "b", "upsert", sB.version.toLong)))
  }

  test("child rows shadowed by a newer root tombstone across base and " +
      "delta; FK not the first column; a later child re-appears") {
    // child layout: own PK first, the root FK last
    val child = StructType(Seq(
      StructField("PK", StringType, nullable = false),
      StructField("V", StringType, nullable = true),
      StructField("FK", StringType, nullable = false)))
    val t = table(child, Seq("FK", "PK"), "FK")
    def ups(rs: (String, String, String, Long)*) =
      rs.toDF("PK", "V", "FK", "lsn")
    t.merge(ups(("c1", "x", "r1", 1L), ("c2", "y", "r1", 2L),
      ("c1", "z", "r2", 3L)), Seq("FK", "PK"), "FK", "c1",
      rowSeqCol = Some("lsn"))
    t.compactAll("compact")
    assert(t.snapshot().segments.forall(_.kind == "base"))
    // delta: r1 deleted at lsn 5 (shadows both base children), a stale
    // r1 child at lsn 4 stays dead, r2's child updated
    t.merge(ups(("c3", "old", "r1", 4L), ("c1", "z2", "r2", 6L)),
      Seq("FK", "PK"), "FK", "c2",
      deleteRootKeys = Some(Seq(("r1", 5L)).toDF("FK", "lsn")),
      rowSeqCol = Some("lsn"))
    val read = t.read()
    assert(read.columns.toSeq == Seq("PK", "V", "FK"))
    assert(rows(read) == Seq(Seq("c1", "z2", "r2")))
    assert(rows(t.readWhere(col("FK") === "r1")).isEmpty)
    // a child written after the delete re-appears, alone
    t.merge(ups(("c4", "new", "r1", 7L)), Seq("FK", "PK"), "FK", "c3",
      rowSeqCol = Some("lsn"))
    assert(rows(t.readWhere(col("FK") === "r1")) == Seq(Seq("c4", "new", "r1")))
    assert(rows(t.readChangesSince(4L)) == Seq(
      Seq("c1", "z2", "r2", "upsert", 6L),
      Seq("c4", "new", "r1", "upsert", 7L)))
    assert(rows(t.readChangesSince(3L).filter(col("_change_type") === "delete"))
      .isEmpty) // r1 re-created after its tombstone: no net delete
  }

  test("non-string root key: unpruned lookups, reads and feeds stay exact") {
    val s = StructType(Seq(
      StructField("ID", LongType, nullable = false),
      StructField("V", StringType, nullable = true)))
    val t = table(s, Seq("ID"), "ID")
    t.merge((0L until 20L).map(i => (i, s"a$i")).toDF("ID", "V"), Seq("ID"),
      "ID", "c1")
    val h = t.currentVersion()
    t.merge((0L until 20L by 3).map(i => (i, s"b$i")).toDF("ID", "V"),
      Seq("ID"), "ID", "c2", deleteRootKeys = Some(Seq(1L, 4L).toDF("ID")))
    def want(i: Long): Option[String] =
      if (i == 1L || i == 4L) None else Some(if (i % 3 == 0) s"b$i" else s"a$i")
    assert(rows(t.read()) == (0L until 20L).flatMap(i => want(i).map(v => Seq(i, v)))
      .sortBy(_.mkString("\u0001")))
    Seq(0L, 1L, 5L, 9L).foreach { i =>
      assert(rows(t.readWhere(col("ID") === i)) == want(i).map(v => Seq(i, v)).toSeq)
    }
    assert(rows(t.readChangesSince(h.toLong)) == sorted(
      (0L until 20L by 3).map(i =>
        Seq(i, s"b$i", "upsert", (h + 1).toLong)) ++
        Seq(1L, 4L).map(i => Seq(i, null, "delete", (h + 1).toLong))))
  }

  test("empty bucket set and empty snapshot: typed empty frames") {
    val t = table(kv, Seq("ID"), "ID")
    assert(t.read().isEmpty && t.read().columns.toSeq == Seq("ID", "V"))
    t.merge(Seq("a" -> "1").toDF("ID", "V"), Seq("ID"), "ID", "c1")
    val empty = t.readBuckets(Set.empty)
    assert(empty.columns.toSeq == Seq("ID", "V") && empty.isEmpty)
    val other = (0 until 4).find(_ != t.bucketOfKey("a")).get
    assert(t.readBuckets(Set(other)).isEmpty)
    assert(rows(t.readBuckets(Set(t.bucketOfKey("a")))) == Seq(Seq("a", "1")))
    assert(t.readChangesSince(t.currentVersion().toLong).isEmpty)
    assert(t.readChangesBetween(t.currentVersion(), t.currentVersion()).isEmpty)
  }

  test("inline compaction at maxDeltas reads the unpublished delta and " +
      "keeps the newest row per key") {
    val t = table(kv, Seq("ID"), "ID", maxDeltas = 2, buckets = 1)
    t.merge(Seq("a" -> "1", "b" -> "1").toDF("ID", "V"), Seq("ID"), "ID", "c1")
    // the second merge hits the cap: its own fresh delta is compacted
    // together with the published one before the snapshot exists
    t.merge(Seq("a" -> "2", "c" -> "2").toDF("ID", "V"), Seq("ID"), "ID", "c2",
      deleteRootKeys = Some(Seq("b").toDF("ID")))
    val segs = t.snapshot().segments
    assert(segs.size == 1 && segs.head.kind == "base", segs)
    assert(rows(t.read()) == Seq(Seq("a", "2"), Seq("c", "2")))
    assert(rows(t.readWhere(col("ID") === "b")).isEmpty)
  }

  test("diffs across a rebucket: unchanged rows are absent, a changed row " +
      "is one update") {
    val t = table(kv, Seq("ID"), "ID", buckets = 4)
    val keys = (0 until 16).map(i => s"k$i")
    t.merge(keys.map(k => k -> "1").toDF("ID", "V"), Seq("ID"), "ID", "c1")
    val v1 = t.currentVersion()
    val before = keys.map(k => k -> t.bucketOfKey(k)).toMap
    t.rebucket(8, "relayout")
    val relaid = t.currentVersion()
    assert(t.buckets == 8)
    // the case the pairing must survive: keys whose bucket id changed
    assert(keys.exists(k => t.bucketOfKey(k) != before(k)))
    // a pure relayout changes no row
    assert(t.readChangesBetween(v1, relaid).isEmpty)
    assert(t.readChangesBetweenCdf(v1, relaid).isEmpty)
    t.merge(Seq("k1" -> "2", "k2" -> "1", "k99" -> "1").toDF("ID", "V"),
      Seq("ID"), "ID", "c2", deleteRootKeys = Some(Seq("k3").toDF("ID")))
    val v2 = t.currentVersion()
    val want = Seq(Seq("k1", "2", "update"), Seq("k3", "1", "delete"),
      Seq("k99", "1", "insert"))
    assert(rows(t.readChangesBetween(v1, v2)) == want)
    assert(rows(t.readChangesBetween(relaid, v2)) == want)
    assert(rows(t.readChangesBetweenCdf(v1, v2)) == Seq(
      Seq("k1", "1", "update_preimage"), Seq("k1", "2", "update_postimage"),
      Seq("k3", "1", "delete"), Seq("k99", "1", "insert")))
  }

  test("inputFiles lists exactly the scanned segments' data files") {
    val t = table(kv, Seq("ID"), "ID")
    t.merge((0 until 16).map(i => s"k$i" -> "1").toDF("ID", "V"), Seq("ID"),
      "ID", "c1")
    t.merge(Seq("k0" -> "2").toDF("ID", "V"), Seq("ID"), "ID", "c2")
    val b = t.bucketOfKey("k0")
    val files = t.readWhere(col("ID") === "k0").inputFiles.toSeq
    val onDisk = t.snapshot().segments.filter(_.bucket == b).flatMap { seg =>
      val d = java.nio.file.Paths.get(t.root, t.name, seg.path).normalize()
      val ls = java.nio.file.Files.list(d)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally ls.close()
    }
    assert(files.size == onDisk.size && files.size == 2, files)
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)).sorted ==
      onDisk.sorted)
    assert(files.forall(_.contains(s"_gbucket=$b")))
  }
}
