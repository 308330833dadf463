package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.LakeTable
import graft.streaming.Materialize

/** Incrementally maintained materialized view (Materialize.rollup): the
  * target lake table converges to the source's group-by recompute after
  * every micro-batch — across inserts, group-migrating updates, deletes,
  * group extinction, and a stop/restart gap — with exactly-once merges
  * (tags) and no driver-side state. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ID", StringType, nullable = false),
    StructField("LANG", StringType, nullable = true),
    StructField("SZ", LongType, nullable = true)))

  private def df(rows: (String, String, Long)*) =
    rows.toDF("ID", "LANG", "SZ")

  private def recompute(src: LakeTable): Map[String, (Long, Long)] =
    src.read().groupBy("LANG")
      .agg(count(lit(1)).as("N"), sum("SZ").as("BYTES"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  private def state(mv: LakeTable): Map[String, (Long, Long)] =
    mv.read().collect().map { r =>
      r.getString(r.fieldIndex("LANG")) ->
        (r.getLong(r.fieldIndex("N")), r.getLong(r.fieldIndex("BYTES")))
    }.toMap

  test("rollup converges to the group-by recompute across batches, " +
      "group migration, extinction, and restart") {
    val srcRoot = SparkTestSession.tmpDir("graft-mv-src-")
    val mvRoot = SparkTestSession.tmpDir("graft-mv-dst-")
    val ckpt = SparkTestSession.tmpDir("graft-mv-ckpt-")
    val src = new LakeTable(spark, srcRoot, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df(("a", "en", 10L), ("b", "en", 20L), ("c", "de", 5L)),
      Seq("ID"), "ID", "c1")

    def start() = Materialize.rollup(spark, srcRoot, "SRC", mvRoot, "MV",
      "LANG", Map("BYTES" -> col("SZ")), ckpt)

    val mv = new LakeTable(spark, mvRoot, "MV", numBuckets = 4)
    val q1 = start()
    q1.processAllAvailable() // batch 0: full backfill as inserts
    assert(state(mv) == Map("en" -> (2L, 30L), "de" -> (1L, 5L)))

    // update values, MIGRATE a row between groups, delete a row, insert
    src.merge(df(("a", "en", 11L), ("b", "de", 20L), ("d", "fr", 7L)),
      Seq("ID"), "ID", "c2", deleteRootKeys = Some(Seq("c").toDF("ID")))
    q1.processAllAvailable()
    assert(state(mv) == recompute(src))
    assert(state(mv) == Map(
      "en" -> (1L, 11L), "de" -> (1L, 20L), "fr" -> (1L, 7L)))

    // a group EMPTIES: its row must vanish from the target, not linger
    // at zero
    src.merge(df(), Seq("ID"), "ID", "c3",
      deleteRootKeys = Some(Seq("b").toDF("ID")))
    q1.processAllAvailable()
    assert(!state(mv).contains("de"))
    assert(state(mv) == recompute(src))
    q1.stop()

    // changes land while the view is DOWN; a restarted stream (same
    // checkpoint) folds exactly the gap and converges again
    src.merge(df(("e", "en", 3L), ("f", "de", 9L)), Seq("ID"), "ID", "c4")
    src.merge(df(("a", "en", 12L)), Seq("ID"), "ID", "c5")
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(state(mv) == recompute(src))
    assert(state(mv) == Map(
      "en" -> (2L, 15L), "de" -> (1L, 9L), "fr" -> (1L, 7L)))

    // exactly-once plumbing: every micro-batch merged under an mv: tag,
    // and a replayed tag is a no-op (the lake's applied-tag dedup)
    val mvTags = mv.snapshot().commits.filter(_.startsWith("mv:"))
    assert(mvTags.size >= 4,
      s"expected one mv: tag per non-empty batch, got ${mvTags.size}")
    // tags are namespaced per stream (mv:<streamId>:<batchId>) so a fresh
    // checkpoint can never collide with an old target's applied tags —
    // replay an ACTUALLY-APPLIED tag to exercise the no-op contract
    val before = state(mv)
    Materialize.applyDelta(
      src.readChangesBetweenCdf(1, src.currentVersion()),
      mv, "LANG", Map("BYTES" -> col("SZ")), "N", mvTags.last)
    assert(state(mv) == before) // applied tag replayed → no-op
  }

  test("checkpoint upgrade: a batch torn before stream ids existed " +
      "(merged under the bare mv:<batchId> tag, never committed) replays " +
      "exactly once") {
    val srcRoot = SparkTestSession.tmpDir("graft-mvu-src-")
    val mvRoot = SparkTestSession.tmpDir("graft-mvu-dst-")
    val ckpt = SparkTestSession.tmpDir("graft-mvu-ckpt-")
    val src = new LakeTable(spark, srcRoot, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df(("a", "en", 10L), ("b", "de", 5L)), Seq("ID"), "ID", "c1")
    val mv = new LakeTable(spark, mvRoot, "MV", numBuckets = 4)
    mv.create(StructType(Seq(
      StructField("LANG", StringType, nullable = false),
      StructField("N", LongType), StructField("BYTES", LongType))),
      Seq("LANG"), "LANG")

    // the rollup as it ran before stream ids: same feed, bare tags, no
    // graft-mv-id file in the checkpoint
    val legacy = spark.readStream.format("graft-changefeed")
      .option("root", srcRoot).option("table", "SRC").option("cdf", "true")
      .load().writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Materialize.applyDelta(batch, mv, "LANG", Map("BYTES" -> col("SZ")),
          "N", s"mv:$id")
        ()
      }.start()
    legacy.processAllAvailable() // batch 0
    src.merge(df(("c", "en", 7L)), Seq("ID"), "ID", "c2")
    legacy.processAllAvailable() // batch 1
    legacy.stop()
    assert(state(mv) == recompute(src))
    assert(mv.snapshot().hasCommit("mv:1"))
    // tear batch 1: its merge landed, its checkpoint commit did not
    Seq("1", ".1.crc").foreach(n =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(ckpt, "commits", n)))

    val q = Materialize.rollup(spark, srcRoot, "SRC", mvRoot, "MV",
      "LANG", Map("BYTES" -> col("SZ")), ckpt)
    q.processAllAvailable() // replays batch 1 under mv:1 → no-op
    assert(state(mv) == recompute(src))
    assert(state(mv) == Map("en" -> (2L, 17L), "de" -> (1L, 5L)))
    // batches after the upgrade take the namespaced tag and apply
    src.merge(df(("d", "fr", 3L)), Seq("ID"), "ID", "c3")
    q.processAllAvailable()
    q.stop()
    assert(state(mv) == recompute(src))
    assert(mv.snapshot().commits.exists(t =>
      t.startsWith("mv:") && t.count(_ == ':') == 2))
  }

  test("cascade: the MV target is itself a changefeed source — a " +
      "second-level rollup (derived group expression) converges") {
    val srcRoot = SparkTestSession.tmpDir("graft-mvc-src-")
    val mv1Root = SparkTestSession.tmpDir("graft-mvc-mv1-")
    val mv2Root = SparkTestSession.tmpDir("graft-mvc-mv2-")
    val ck1 = SparkTestSession.tmpDir("graft-mvc-ck1-")
    val ck2 = SparkTestSession.tmpDir("graft-mvc-ck2-")
    val src = new LakeTable(spark, srcRoot, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df(("a", "en", 10L), ("b", "es", 20L), ("c", "de", 5L)),
      Seq("ID"), "ID", "c1")

    // level 1: per-LANG; level 2: per lang-FAMILY (first letter) — a
    // DERIVED group over the level-1 table, consuming ITS changefeed
    val q1 = Materialize.rollup(spark, srcRoot, "SRC", mv1Root, "MV1",
      "LANG", Map("BYTES" -> col("SZ")), ck1)
    val q2 = Materialize.rollup(spark, mv1Root, "MV1", mv2Root, "MV2",
      "FAM", Map("DOCS" -> col("N"), "BYTES" -> col("BYTES")), ck2,
      countCol = "LANGS",
      groupExpr = Some(substring(col("LANG"), 1, 1)))

    def mv2State(): Map[String, (Long, Long, Long)] = {
      val t = new LakeTable(spark, mv2Root, "MV2", numBuckets = 4)
      t.read().collect().map { r =>
        r.getString(r.fieldIndex("FAM")) ->
          (r.getLong(r.fieldIndex("LANGS")),
            r.getLong(r.fieldIndex("DOCS")),
            r.getLong(r.fieldIndex("BYTES")))
      }.toMap
    }
    def settle(): Unit = { q1.processAllAvailable(); q2.processAllAvailable() }

    settle()
    // en,es → family e (2 langs, 2 docs, 30 bytes); de → family d
    assert(mv2State() == Map("e" -> (2L, 2L, 30L), "d" -> (1L, 1L, 5L)))

    // doc migrates es → de (family migration THROUGH both levels: es
    // group extinct in MV1, de group grows) and a new fr doc lands
    src.merge(df(("b", "de", 20L), ("d", "fr", 7L)), Seq("ID"), "ID", "c2")
    settle()
    assert(mv2State() == Map(
      "e" -> (1L, 1L, 10L),          // en only
      "d" -> (1L, 2L, 25L),          // de: 2 docs now
      "f" -> (1L, 1L, 7L)))

    // family EXTINCTION propagates: deleting every d-family doc must
    // delete MV1's de row, whose delete pre-image retires family d in MV2
    src.merge(df(), Seq("ID"), "ID", "c3",
      deleteRootKeys = Some(Seq("b", "c").toDF("ID")))
    settle()
    q1.stop(); q2.stop()
    assert(mv2State() == Map("e" -> (1L, 1L, 10L), "f" -> (1L, 1L, 7L)))
  }

  test("null handling: null group keys are dropped (a keyed table can't " +
      "key a null); a null sum input contributes 0 without wiping the " +
      "running total") {
    val srcRoot = SparkTestSession.tmpDir("graft-mvn-src-")
    val mvRoot = SparkTestSession.tmpDir("graft-mvn-dst-")
    val src = new LakeTable(spark, srcRoot, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df(("a", "en", 10L)), Seq("ID"), "ID", "c1")

    val mv = new LakeTable(spark, mvRoot, "MV", numBuckets = 4)
    mv.create(StructType(Seq(
      StructField("LANG", StringType, nullable = false),
      StructField("N", LongType), StructField("BYTES", LongType))),
      Seq("LANG"), "LANG")
    def fold(tag: String, fromV: Int, toV: Int): Unit =
      Materialize.applyDelta(src.readChangesBetweenCdf(fromV, toV),
        mv, "LANG", Map("BYTES" -> col("SZ")), "N", tag)

    val v1 = src.currentVersion()
    fold("mv:a", 1, v1)
    assert(state(mv) == Map("en" -> (1L, 10L)))

    // (x, null, 5): group key null → dropped, lands in no group;
    // (b, en, null): counts as a doc, contributes 0 bytes — and must
    // NOT null out en's accumulated 10 (sum over an all-null batch
    // would otherwise poison the running total)
    val withNulls = Seq(
      ("x", Option.empty[String], Some(5L)),
      ("b", Some("en"), Option.empty[Long])).toDF("ID", "LANG", "SZ")
    src.merge(withNulls, Seq("ID"), "ID", "c2")
    fold("mv:b", v1, src.currentVersion())
    assert(state(mv) == Map("en" -> (2L, 10L)))
  }

  test("net-zero feed groups write nothing; an update changing only the " +
      "summed value updates its group") {
    val srcRoot = SparkTestSession.tmpDir("graft-mv0-src-")
    val mvRoot = SparkTestSession.tmpDir("graft-mv0-dst-")
    val src = new LakeTable(spark, srcRoot, "SRC", numBuckets = 4)
    src.create(schema, Seq("ID"), "ID")
    src.merge(df(("a", "en", 10L), ("b", "de", 4L)), Seq("ID"), "ID", "c1")

    val mv = new LakeTable(spark, mvRoot, "MV", numBuckets = 4)
    mv.create(StructType(Seq(
      StructField("LANG", StringType, nullable = false),
      StructField("N", LongType), StructField("BYTES", LongType))),
      Seq("LANG"), "LANG")
    def fold(tag: String, fromV: Int, toV: Int): Unit =
      Materialize.applyDelta(src.readChangesBetweenCdf(fromV, toV),
        mv, "LANG", Map("BYTES" -> col("SZ")), "N", tag)

    val v1 = src.currentVersion()
    fold("mv:a", 1, v1)
    assert(state(mv) == Map("en" -> (1L, 10L), "de" -> (1L, 4L)))

    // same group, same size → net-zero contribution for "en": the fold
    // filters it out entirely (no rewrite of an unchanged group)
    src.merge(df(("a", "en", 10L), ("b", "de", 6L)), Seq("ID"), "ID", "c2")
    fold("mv:b", v1, src.currentVersion())
    assert(state(mv) == Map("en" -> (1L, 10L), "de" -> (1L, 6L)))
    // the merge wrote only the de bucket's delta (en group untouched);
    // cheap proxy: upserted rowcount of the last commit is 1
    val last = mv.history().orderBy(col("version").desc).limit(1)
      .collect().head
    assert(last.getLong(last.fieldIndex("upserted")) == 1L,
      s"expected exactly one upserted row, got $last")
  }
}
