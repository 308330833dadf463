package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, TableSpec}
import graft.engine.{ApplyStats, Engine}

/** Every row of an apply lands in the bucket its root key hashes to, also
  * where a document's key text and its root key could part ways: `_id`
  * vs `id`, numeric lexical forms, a key widened from number to text
  * mid-stream, and a partial rebucket. Per case, over an incremental
  * stream of batches: every root and child row sits in its root key's
  * bucket dir, a bucket-pruned lookup finds every live key, deletes shadow
  * their rows, each batch's ApplyStats are the expected ones, and the
  * tables hold the rows of a fresh lake fed the same events in one
  * applyEvents. */
class BucketSoundnessSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // root + id-keyed array child + object child; `key` is the JSON of the
  // key fields
  private def doc(key: String, rev: Int): String =
    s"""{$key,"rev":"$rev","name":"n-$rev",""" +
      s""""items":[{"id":"a","q":$rev},{"id":"b","q":${rev + 1}}],""" +
      s""""meta":{"m":"m$rev"}}"""

  private def events(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("lsn", "op", "doc")

  private def filler(lsn0: Long): Seq[(Long, String, String)] =
    (0 until 12).map(i => (lsn0 + i, "insert", doc(s""""id":"f-$i"""", 1)))

  private def tablesOf(e: Engine): Seq[TableSpec] =
    Catalog.fromTree(e.loadRegistry("ent").get)

  private def rootKeyOf(t: TableSpec): String =
    if (t.isRoot) t.tablePk else t.fkColumns.last.sqlName

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString)
      .sorted.toSeq

  /** Applies `batches` one by one (incrementally) to a lake, calling
    * `between(e, i)` after batch i, and all of them in one applyEvents to
    * a fresh lake; checks both lakes and returns their stats. */
  private def check(batches: Seq[Seq[(Long, String, String)]],
      live: Set[String], deleted: Set[String],
      between: (Engine, Int) => Unit = (_, _) => ())
      : (Seq[ApplyStats], ApplyStats) = {
    val e = new Engine(spark, SparkTestSession.tmpDir("graft-sound-"), 8)
    val stats = batches.zipWithIndex.map { case (b, i) =>
      val s = e.applyEvents("ent", events(b), s"b:$i", incremental = true)
      between(e, i)
      s
    }
    val fresh = new Engine(spark, SparkTestSession.tmpDir("graft-sound-f-"), 8)
    val freshStats = fresh.applyEvents("ent", events(batches.flatten), "f:0",
      incremental = true)

    val tables = tablesOf(e)
    assert(tables.map(_.fullName).toSet == tablesOf(fresh).map(_.fullName).toSet)
    assert(tables.size == 3, tables.map(_.fullName))
    tables.foreach { t =>
      val (got, want) = (e.table(t), fresh.table(t))
      assert(rows(got.read()) == rows(want.read()), t.fullName)
      Seq(got, want).foreach { lake =>
        val n = lake.buckets
        val root = lake.root
        lake.snapshot().segments.foreach { seg =>
          val d = java.nio.file.Paths.get(root, t.fullName, seg.path)
            .normalize().toString
          val misplaced = spark.read.parquet(d)
            .filter(pmod(xxhash64(col(rootKeyOf(t))), lit(n)) =!= seg.bucket)
          assert(misplaced.isEmpty,
            s"${t.fullName} bucket ${seg.bucket} of $n: ${rows(misplaced)}")
        }
      }
      val k = rootKeyOf(t)
      live.foreach { key =>
        val found = got.readWhere(col(k) === key)
        assert(rows(found) == rows(got.read().filter(col(k) === key)),
          s"${t.fullName} $key")
        assert(!found.isEmpty, s"${t.fullName}: live key $key not found")
      }
      deleted.foreach { key =>
        assert(got.readWhere(col(k) === key).isEmpty,
          s"${t.fullName}: deleted key $key still has rows")
        assert(got.read().filter(col(k) === key).isEmpty)
      }
    }
    val ids = e.table(tables.find(_.isRoot).get).read()
      .select("ID").as[String].collect().toSet
    assert(ids == live ++ (0 until 12).map(i => s"f-$i"))
    (stats, freshStats)
  }

  test("_id vs id: the key is id before _id, so deletes and re-deliveries " +
      "of a doc carrying both find its rows") {
    val both1 = """"_id":"x-1","id":"both-1""""
    val both2 = """"_id":"x-2","id":"both-2""""
    val b1 = filler(0) ++ Seq(
      (20L, "insert", doc(""""_id":"u-1"""", 1)),
      (21L, "insert", doc(""""id":"i-1"""", 1)),
      (22L, "insert", doc(both1, 1)),
      (23L, "insert", doc(both2, 1)))
    val b2 = Seq(
      (30L, "update", doc(both1, 1)), // re-delivery: skipped
      (31L, "update", doc(""""_id":"u-1"""", 2)),
      (32L, "delete", s"{$both2}"),
      (33L, "delete", """{"id":"i-1"}"""))
    val (stats, fresh) = check(Seq(b1, b2), live = Set("u-1", "both-1"),
      deleted = Set("both-2", "i-1", "x-1", "x-2"))
    assert(stats == Seq(ApplyStats(16, 16, 0, 0, 3), ApplyStats(3, 1, 2, 1, 3)))
    assert(fresh == ApplyStats(16, 14, 2, 0, 3))
  }

  test("numeric lexical forms: 1, 1.0 and 1e3 are the keys their text reads") {
    val b1 = filler(0) ++ Seq(
      (20L, "insert", doc(""""id":1""", 1)),
      (21L, "insert", doc(""""id":1.0""", 1)),
      (22L, "insert", doc(""""id":1e3""", 1)))
    val b2 = Seq(
      (30L, "update", doc(""""id":1E3""", 2)), // 1e3 again: 1000.0
      (31L, "update", doc(""""id":1.0""", 1)), // re-delivery: skipped
      (32L, "delete", """{"id":1}"""))
    val (stats, fresh) = check(Seq(b1, b2), live = Set("1.0", "1000.0"),
      deleted = Set("1"))
    assert(stats == Seq(ApplyStats(15, 15, 0, 0, 3), ApplyStats(2, 1, 1, 1, 3)))
    assert(fresh == ApplyStats(15, 14, 1, 0, 3))
  }

  test("a root key widened from number to text mid-stream") {
    val b1 = (0 until 12).map(i => (i.toLong, "insert", doc(s""""id":$i""", 1)))
    val b2 = filler(100) ++ Seq(
      (200L, "update", doc(""""id":3""", 2)),
      (201L, "update", doc(""""id":"5"""", 1)), // the number 5 as text: skipped
      (202L, "insert", doc(""""id":"t-1"""", 1)),
      (203L, "delete", """{"id":"7"}"""))
    val liveNums = (0 until 12).filterNot(_ == 7).map(_.toString).toSet
    val (stats, fresh) = check(Seq(b1, b2), live = liveNums + "t-1",
      deleted = Set("7"))
    assert(stats == Seq(ApplyStats(12, 12, 0, 0, 3), ApplyStats(15, 14, 1, 1, 3)))
    assert(fresh == ApplyStats(25, 24, 1, 0, 3))
  }

  test("a partial rebucket: the root, then a child, re-laid between batches") {
    def k(i: Int) = s""""id":"k-$i""""
    val b1 = filler(0) ++ (0 until 20).map(i => (100L + i, "insert", doc(k(i), 1)))
    val b2 = (0 until 10).map(i => (200L + i, "update", doc(k(i), 1))) ++
      (10 until 15).map(i => (300L + i, "update", doc(k(i), 2))) ++
      (15 until 18).map(i => (400L + i, "delete", s"{${k(i)}}"))
    val b3 = (0 until 5).map(i => (500L + i, "update", doc(k(i), 3))) ++
      (10 until 12).map(i => (600L + i, "update", doc(k(i), 2))) ++
      Seq((700L, "delete", s"{${k(19)}}"))
    val live = ((0 until 15) ++ Seq(18)).map(i => s"k-$i").toSet
    val (stats, fresh) = check(Seq(b1, b2, b3), live,
      deleted = Set(15, 16, 17, 19).map(i => s"k-$i"),
      between = (e, i) => {
        val ts = tablesOf(e)
        if (i == 0) e.table(ts.find(_.isRoot).get).rebucket(16, "rb:root")
        if (i == 1) e.table(ts.find(_.attrName == "meta").get)
          .rebucket(4, "rb:meta")
      })
    assert(stats == Seq(ApplyStats(32, 32, 0, 0, 3),
      ApplyStats(8, 5, 3, 10, 3), ApplyStats(6, 5, 1, 2, 3)))
    assert(fresh == ApplyStats(32, 28, 4, 0, 3))
  }
}
