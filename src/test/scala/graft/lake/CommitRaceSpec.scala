package graft.lake

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.SparkTestSession

/** The collision-retry LWW contract (ADVICE r5 #1): a commit-domain writer
  * that loses the snapshot publish race re-stamps only the SEGMENT seq
  * before republishing — the parquet keeps the losing attempt's stale
  * row-level `_gseq`. Resolution must honor the committed segment seq, or
  * same-key rows from the two commits tie nondeterministically and an
  * earlier commit's tombstone permanently shadows the later commit's
  * upsert. These tests drive the exact interleaving with the split
  * prepare/write/commit internals (both writers read the SAME snapshot). */
class CommitRaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ID", StringType, nullable = false),
    StructField("V", StringType, nullable = true)))

  private def newTable(): LakeTable = {
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-race-"),
      "T", numBuckets = 4)
    t.create(schema, Seq("ID"), "ID")
    t
  }

  test("commit-domain collision retry: republished rows win same-key LWW") {
    val t = newTable()
    val s0 = t.snapshot()
    // both writers read version 1 and stage deltas whose parquet rows
    // carry _gseq = 2
    val upA = t.prepareDelta(s0, Seq("k" -> "a").toDF("ID", "V"), "ID",
      None, None)
    val upB = t.prepareDelta(s0, Seq("k" -> "b").toDF("ID", "V"), "ID",
      None, None)
    val (segsA, nA, _) = t.writeDelta(s0, upA)
    val (segsB, nB, _) = t.writeDelta(s0, upB)
    // A publishes v2; B loses the race and republishes as v3, but its
    // parquet rows still read _gseq = 2
    t.commitDelta(s0, "A", Seq("ID"), "ID", segsA, nA, 0,
      System.nanoTime(), "commit")
    val sB = t.commitDelta(s0, "B", Seq("ID"), "ID", segsB, nB, 0,
      System.nanoTime(), "commit")
    assert(sB.version == 3)
    assert(sB.segments.filter(_.kind == "delta").map(_.seq).toSet ==
      Set(2L, 3L))
    // the later COMMIT must win deterministically (segment-seq order),
    // not tie on the shared stale row seq
    val got = t.read().collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.toSeq == Seq("k" -> "b"))
  }

  test("collision retry: earlier tombstone must not shadow the later commit's upsert") {
    val t = newTable()
    t.merge(Seq("k" -> "v0").toDF("ID", "V"), Seq("ID"), "ID", "seed")
    val s0 = t.snapshot()
    // writer A deletes k; writer B upserts k — both staged against s0
    val delA = t.prepareDelta(s0,
      Seq.empty[(String, String)].toDF("ID", "V"), "ID",
      Some(Seq("k").toDF("ID")), None)
    val upB = t.prepareDelta(s0, Seq("k" -> "new").toDF("ID", "V"), "ID",
      None, None)
    val (segsA, nA, dA) = t.writeDelta(s0, delA)
    val (segsB, nB, _) = t.writeDelta(s0, upB)
    t.commitDelta(s0, "A", Seq("ID"), "ID", segsA, nA, dA,
      System.nanoTime(), "commit")
    t.commitDelta(s0, "B", Seq("ID"), "ID", segsB, nB, 0,
      System.nanoTime(), "commit")
    // B committed AFTER the delete: its upsert must be visible (without
    // the segment-seq override B's rows read _gseq equal to the
    // tombstone's seq and resolveRows' strict > drops them forever)
    val got = t.read().collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.toSeq == Seq("k" -> "new"))
    // and the resolved state survives compaction with the same answer
    t.compactAll("compact-after-race")
    val got2 = t.read().collect().map(r => r.getString(0) -> r.getString(1))
    assert(got2.toSeq == Seq("k" -> "new"))
  }

  test("a rebucket between write and commit fails the commit; a retry " +
      "lands under the new layout") {
    val t = newTable()
    t.merge(Seq("k" -> "v0").toDF("ID", "V"), Seq("ID"), "ID", "seed")
    val s0 = t.snapshot()
    // a merge planned against the 4-bucket layout, re-laid before it
    // commits: its delta is hashed mod 4
    val up = t.prepareDelta(s0, (0 until 20).map(i => s"k$i" -> "new")
      .toDF("ID", "V"), "ID", None, None)
    val (segs, n, _) = t.writeDelta(s0, up)
    t.rebucket(16, "grow")
    val head = t.snapshot()
    val err = intercept[IllegalStateException](t.commitDelta(s0, "late",
      Seq("ID"), "ID", segs, n, 0, System.nanoTime(), "commit"))
    assert(err.getMessage.contains("re-laid"))
    assert(t.snapshot().version == head.version && !head.hasCommit("late"))
    // the retried merge re-plans under the 16-bucket layout
    val done = t.merge((0 until 20).map(i => s"k$i" -> "new").toDF("ID", "V"),
      Seq("ID"), "ID", "late")
    assert(done.hasCommit("late") && done.numBuckets == 16)
    val want = (0 until 20).map(i => s"k$i" -> "new").toSet + ("k" -> "v0")
    val rows = t.read().collect().map(r => r.getString(0) -> r.getString(1))
    assert(rows.toSet == want)
    // bucket-pruned lookups find every key where the new modulus puts it
    val keys = want.map(_._1).toSeq
    val hit = t.readWhere(org.apache.spark.sql.functions.col("ID")
      .isin(keys: _*)).collect().map(r => r.getString(0) -> r.getString(1))
    assert(hit.toSet == want)
  }

  test("registry race: the loser of a widening fails without replacing the " +
      "winner's version; its retry keeps both fields") {
    import graft.GraftTestFs
    import graft.catalog.Catalog
    import graft.engine.Engine
    val root = "graftfs:" + SparkTestSession.tmpDir("graft-regrace-")
    val regDir = java.nio.file.Paths.get(root.stripPrefix("graftfs:"),
      "_registry_ent")
    def batch(lsn: Long, doc: String) =
      Seq((lsn, "insert", doc)).toDF("lsn", "op", "doc")
    val winner = new Engine(spark, root, numBuckets = 4)
    val loser = new Engine(spark, root, numBuckets = 4)
    winner.applyEvents("ent", batch(1L, """{"id":"k1","rev":"1","a":"x"}"""),
      "w:0")
    // the loser lists the registry at v1; before it publishes, the winner
    // widens the same entity with field b and publishes v2
    var won: Array[Byte] = null
    GraftTestFs.afterList.set((p => p.getName == "_registry_ent", () => {
      winner.applyEvents("ent",
        batch(2L, """{"id":"k2","rev":"1","a":"x","b":"wb"}"""), "w:1")
      won = java.nio.file.Files.readAllBytes(regDir.resolve("v00002.json"))
    }))
    val loserBatch = batch(3L, """{"id":"k3","rev":"1","a":"x","c":"lc"}""")
    val err = intercept[IllegalStateException](
      loser.applyEvents("ent", loserBatch, "l:1"))
    assert(won != null, "the winner's apply did not run inside the race")
    assert(err.getMessage.contains("registry"), err.getMessage)
    assert(java.nio.file.Files.readAllBytes(regDir.resolve("v00002.json"))
      .sameElements(won))
    def rootOf(e: Engine) = {
      val t = Catalog.fromTree(e.loadRegistry("ent").get).find(_.isRoot).get
      (t, e.table(t))
    }
    assert(!rootOf(loser)._2.snapshot().hasCommit("l:1"))

    // the retry under the same tag widens the winner's registry
    loser.applyEvents("ent", loserBatch, "l:1")
    val (spec, lake) = rootOf(loser)
    assert(Seq("A", "B", "C").forall(c => spec.columns.exists(_.sqlName == c)))
    assert(Seq("A", "B", "C").forall(lake.snapshot().schema.fieldNames.contains))
    val rows = lake.read().collect().map(r => r.getAs[String]("ID") ->
      (Option(r.getAs[String]("B")), Option(r.getAs[String]("C")))).toMap
    assert(rows == Map("k1" -> (None, None), "k2" -> (Some("wb"), None),
      "k3" -> (None, Some("lc"))))
  }
}
