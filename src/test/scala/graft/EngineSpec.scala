package graft

import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.cdc.EventGen
import graft.engine.Engine
import graft.schema.{JObj, JStr, Json}

/** End-to-end golden suite — the Spark port of the reference's
  * sqlDML.test.ts:562-921 (load → read back → field-by-field compare,
  * then evolution, then re-merge) plus the CDC replay / exactly-once /
  * delete-cascade semantics of BASELINE.json. */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newEngine(): (Engine, String) = {
    val root = SparkTestSession.tmpDir("graft-lake-")
    (new Engine(spark, root, numBuckets = 8), root)
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def tablesOf(e: Engine, entity: String) =
    Catalog.fromTree(e.loadRegistry(entity).get)

  private def readTable(e: Engine, entity: String, attr: String) = {
    val t = tablesOf(e, entity).find(_.attrName == attr).get
    e.table(t).read()
  }

  // golden load of the canonical fixture (sqlDML.test.ts:562-727)
  private def loadDoc1(): Engine = {
    val (e, _) = newEngine()
    e.load("testd2s", Seq(Fixtures.doc1).toDF("doc"), "doc", "t:1")
    e
  }

  test("root row: values and coercions") {
    val e = loadDoc1()
    val r = readTable(e, "testd2s", "testd2s").collect().head
    assert(r.getAs[String]("ID") == "doc-0001")
    assert(r.getAs[String]("REV") == "0.rev-0001")
    assert(r.getAs[Int]("A_BOOLEAN") == 1)
    assert(r.getAs[String]("A_NUMBER") == "31.61705701614879") // lexical text
    assert(r.getAs[java.sql.Timestamp]("A_DATE").toInstant.toString ==
      "2020-06-23T12:00:00Z")
    assert(r.getAs[String]("A_STRING") == "Thirty One Point Six One Seven ...")
  }

  test("engine never mutates session conf: ANSI survives and coercions stay lenient") {
    // ADVICE r4 / VERDICT r4 #6: constructing an Engine used to flip
    // spark.sql.ansi.enabled for the whole session. The lenient coercions
    // now ride explicit try_cast, so the same golden doc loads with
    // identical values on an ANSI session — and the session's conf is
    // untouched afterwards.
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val (e, _) = newEngine()
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
        "Engine construction must not flip session ANSI conf")
      e.load("testd2s", Seq(Fixtures.doc1).toDF("doc"), "doc", "t:1")
      val r = readTable(e, "testd2s", "testd2s").collect().head
      assert(r.getAs[String]("ID") == "doc-0001")
      assert(r.getAs[Int]("A_BOOLEAN") == 1)
      assert(r.getAs[String]("A_NUMBER") == "31.61705701614879")
      assert(r.getAs[java.sql.Timestamp]("A_DATE").toInstant.toString ==
        "2020-06-23T12:00:00Z")
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  test("lone object w/o id: AI=0, FK to root") {
    val e = loadDoc1()
    val r = readTable(e, "testd2s", "anObjectWithNoId").collect().head
    assert(r.getAs[String]("TESTD2S_ID") == "doc-0001")
    assert(r.getAs[Int]("AI") == 0)
    assert(r.getAs[Int]("A_BOOLEAN") == 0)
    assert(r.getAs[String]("A_NUMBER") == "2.0")
  }

  test("array w/o ids: AI = positions 0,1") {
    val e = loadDoc1()
    val rows = readTable(e, "testd2s", "anArrayWithNoIds")
      .orderBy("AI").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Int]("AI")).toSeq == Seq(0, 1))
    assert(rows.map(_.getAs[String]("A_NUMBER")).toSeq == Seq("4.0", "4.2"))
    assert(rows.forall(_.getAs[String]("TESTD2S_ID") == "doc-0001"))
  }

  test("array w/ ids + 2-level nested object FK chain") {
    val e = loadDoc1()
    val arr = readTable(e, "testd2s", "anArrayWithIds").orderBy("ID").collect()
    assert(arr.map(_.getAs[String]("ID")).toSeq == Seq("arr-01", "arr-02"))
    val nested = readTable(e, "testd2s", "anObjectWithinAnObjectInAnArray")
      .collect().head
    assert(nested.getAs[String]("ID") == "arr-02-obj")
    assert(nested.getAs[String]("AN_ARRAY_WITH_IDS_ID") == "arr-02")
    assert(nested.getAs[String]("TESTD2S_ID") == "doc-0001")
    assert(nested.getAs[String]("A_NUMBER") == "7.0")
  }

  test("evolution: doc2 adds column + widens + new table; doc1 untouched (sqlDML.test.ts:729-919)") {
    val e = loadDoc1()
    e.load("testd2s", Seq(Fixtures.doc2).toDF("doc"), "doc", "t:2")

    val root = readTable(e, "testd2s", "testd2s").orderBy("ID").collect()
    assert(root.length == 2)
    val d1 = root(0); val d2 = root(1)
    // doc1 row untouched, new column null for it
    assert(d1.getAs[String]("ID") == "doc-0001")
    assert(d1.getAs[Any]("A_NEW_DATE") == null)
    assert(d1.getAs[String]("A_NUMBER") == "31.61705701614879")
    // doc2 has the new column + long string
    assert(d2.getAs[String]("ID") == "doc-0002")
    assert(d2.getAs[java.sql.Timestamp]("A_NEW_DATE") != null)
    assert(d2.getAs[String]("A_STRING").length > 80)
    // new child table with composite FK (AN_OBJECT_WITH_NO_ID_AI, DOCS_ID)
    val newT = readTable(e, "testd2s", "aNewObject").collect()
    assert(newT.length == 1)
    assert(newT.head.getAs[String]("ID") == "new-obj-01")
    assert(newT.head.getAs[Int]("AN_OBJECT_WITH_NO_ID_AI") == 0)
    assert(newT.head.getAs[String]("TESTD2S_ID") == "doc-0002")
    // widened catalog persisted
    val spec = tablesOf(e, "testd2s").find(_.isRoot).get
    assert(spec.columns.find(_.sqlName == "A_STRING").get.sqlType == "VARCHAR(800)")
  }

  test("update in place: same id, new rev replaces values, no dup rows") {
    val e = loadDoc1()
    val updated = Fixtures.doc1
      .replace("0.rev-0001", "1.rev-0002")
      .replace("31.61705701614879", "99.5")
    e.load("testd2s", Seq(updated).toDF("doc"), "doc", "t:2")
    val root = readTable(e, "testd2s", "testd2s").collect()
    assert(root.length == 1)
    assert(root.head.getAs[String]("REV") == "1.rev-0002")
    assert(root.head.getAs[String]("A_NUMBER") == "99.5")
  }

  test("incr: unchanged (ID,REV) docs are skipped (index.ts:43-72)") {
    val e = loadDoc1()
    val s1 = e.incr("testd2s", Seq(Fixtures.doc1).toDF("doc"), "doc", "t:2")
    assert(s1.skippedUnchanged == 1 && s1.dedupedDocs == 0)
    val changed = Fixtures.doc1.replace("0.rev-0001", "2.rev-0003")
    val s2 = e.incr("testd2s", Seq(changed).toDF("doc"), "doc", "t:3")
    assert(s2.skippedUnchanged == 0 && s2.dedupedDocs == 1)
    assert(readTable(e, "testd2s", "testd2s").collect()
      .head.getAs[String]("REV") == "2.rev-0003")
  }

  test("incr revision scan is BUCKET-PRUNED: untouched buckets are never read") {
    // Plant docs across all 8 buckets, then CORRUPT every parquet file of
    // the buckets the incr batch does NOT touch. A full-table (ID, REV)
    // scan would hit the garbage footers and throw; the pruned scan reads
    // only the batch's own buckets and succeeds. This is behavioral proof
    // (not plan inspection) that incr's revision read is O(touched
    // buckets), the 10^10-row scale requirement (VERDICT r3 #2).
    val (e, root) = newEngine()
    val docs = (0 until 50).map(i => s"""{"id":"d-$i","rev":"1","v":$i}""")
    e.load("ent", docs.toDF("doc"), "doc", "t:1")
    val rootSpec = tablesOf(e, "ent").find(_.isRoot).get
    val lake = e.table(rootSpec)
    // the incr batch touches exactly d-0's bucket
    val touched = spark.range(1)
      .select(pmod(xxhash64(lit("d-0")), lit(8)).cast("int")).head.getInt(0)
    val untouchedSegs = lake.snapshot().segments.filter(_.bucket != touched)
    assert(untouchedSegs.nonEmpty)
    untouchedSegs.foreach { seg =>
      val segDir = java.nio.file.Paths.get(root, rootSpec.fullName, seg.path)
        .normalize()
      val fs = java.nio.file.Files.list(segDir)
      try fs.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => java.nio.file.Files.write(p,
          "NOT A PARQUET FILE".getBytes("UTF-8")))
      finally fs.close()
    }
    // unchanged rev → skip; the revision join only read d-0's bucket
    val s1 = e.incr("ent",
      Seq("""{"id":"d-0","rev":"1","v":0}""").toDF("doc"), "doc", "t:2")
    assert(s1.skippedUnchanged == 1 && s1.dedupedDocs == 0)
    // the corruption IS fatal to a full scan — proving prune, not luck
    intercept[Throwable] { lake.read().count() }
  }

  test("exactly-once: re-applying a committed batch tag is a no-op") {
    val e = loadDoc1()
    val v1 = e.table(tablesOf(e, "testd2s").find(_.isRoot).get)
      .snapshot().version
    val mutated = Fixtures.doc1.replace("31.61705701614879", "0.0")
    e.load("testd2s", Seq(mutated).toDF("doc"), "doc", "t:1") // same tag!
    val root = readTable(e, "testd2s", "testd2s").collect().head
    assert(root.getAs[String]("A_NUMBER") == "31.61705701614879") // unchanged
  }

  test("delete cascades from root key to all child tables") {
    // bootstrap-then-CDC-tail: the bootstrap load carries an explicit lsn
    // (0/1) so the table lives in the lsn seq domain from the start — a
    // seq-less load followed by lsn events is REJECTED (see next test)
    val (e, _) = newEngine()
    e.load("testd2s", Seq(Fixtures.doc1).toDF("doc")
      .withColumn("lsn", lit(0L)), "doc", "t:1", seqCol = Some("lsn"))
    e.load("testd2s", Seq(Fixtures.doc2).toDF("doc")
      .withColumn("lsn", lit(1L)), "doc", "t:2", seqCol = Some("lsn"))
    val events = Seq(
      (10L, "delete", """{"id":"doc-0001","rev":"9.x"}"""),
    ).toDF("lsn", "op", "doc")
    e.applyEvents("testd2s", events, "t:3")
    assert(readTable(e, "testd2s", "testd2s").collect()
      .map(_.getAs[String]("ID")).toSeq == Seq("doc-0002"))
    // children of doc-0001 gone; doc-0002's survive
    assert(readTable(e, "testd2s", "anArrayWithIds").collect()
      .map(_.getAs[String]("TESTD2S_ID")).forall(_ == "doc-0002"))
    assert(readTable(e, "testd2s", "anObjectWithinAnObjectInAnArray")
      .count() == 0)
  }

  test("a delete event is ordered by its lsn against the row; lsn-domain " +
      "delete keys without a delete lsn are rejected") {
    val (e, _) = newEngine()
    e.load("testd2s", Seq(Fixtures.doc1).toDF("doc")
      .withColumn("lsn", lit(5L)), "doc", "t:1", seqCol = Some("lsn"))
    def delete(lsn: Long, tag: String) = e.applyEvents("testd2s",
      Seq((lsn, "delete", """{"id":"doc-0001"}""")).toDF("lsn", "op", "doc"),
      tag)
    // STALE delete (lsn 3 < row's lsn 5): must NOT shadow the row
    delete(3L, "t:3")
    assert(readTable(e, "testd2s", "testd2s").count() == 1)
    // NEWER delete (lsn 9): shadows it
    delete(9L, "t:4")
    assert(readTable(e, "testd2s", "testd2s").count() == 0)
    // the lake's own contract: a key-only delete frame under the lsn
    // domain is rejected — a guessed lsn would silently mis-order deletes
    // against same-key upserts (ADVICE r2)
    val t = tablesOf(e, "testd2s").find(_.isRoot).get
    val ex = intercept[IllegalArgumentException] {
      e.table(t).merge(Seq.empty[(String, Long)].toDF("ID", "_seq"),
        t.keyColumns, "ID", "t:5",
        deleteRootKeys = Some(Seq("doc-0001").toDF("ID")),
        rowSeqCol = Some("_seq"))
    }
    assert(ex.getMessage.contains("lsn-domain deletes need an explicit " +
      "delete lsn"))
  }

  test("loose-rev quirk: numeric rev and string rev compare equal in incr skip (sqlDML.ts:433)") {
    // The reference's revision compare is JS loose `==`, so {"rev":1}
    // matches a stored "1". Our extraction (get_json_object) yields the
    // raw token "1" for BOTH the JSON number 1 and the JSON string "1",
    // so the (ID, REV) anti-join reproduces the loose-equality behavior.
    val (e, _) = newEngine()
    e.load("q", Seq("""{"id":"d1","rev":"1","v":"a"}""").toDF("doc"),
      "doc", "t:1")
    // same rev as a JSON NUMBER → skipped, exactly like the reference
    val s = e.incr("q", Seq("""{"id":"d1","rev":1,"v":"CHANGED"}""").toDF("doc"),
      "doc", "t:2")
    assert(s.skippedUnchanged == 1 && s.dedupedDocs == 0)
    val r = readTable(e, "q", "q").collect().head
    assert(r.getAs[String]("V") == "a") // untouched
  }

  test("mixed seq domains are rejected: commit-seq table + lsn merge") {
    // Without this guard a seq-less load()'s rows (commit seqs, tiny)
    // would silently lose to every lsn-domain row, and lsn-less deletes
    // would never delete — the lake refuses instead of corrupting LWW.
    val e = loadDoc1() // commit domain
    val events = Seq((10L, "delete", """{"id":"doc-0001","rev":"9.x"}"""))
      .toDF("lsn", "op", "doc")
    val ex = intercept[Exception] {
      e.applyEvents("testd2s", events, "t:mixed")
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(ex).getMessage.contains("seq domain"))
  }

  test("bootstrap-then-tail: snapshot at lsn 0, CDC events win; SQL views query current state") {
    val (e, _) = newEngine()
    // the north rule's input shape: a source-code repo table snapshot
    val snapshot = Seq(
      ("repo-a", "src/f1.scala", "c1", "scala", "v0 content a1"),
      ("repo-a", "src/f2.scala", "c1", "scala", "v0 content a2"),
      ("repo-b", "src/g1.py", "c2", "py", "v0 content b1"),
    ).toDF("repo", "path", "commit", "lang", "content")
    val s0 = e.bootstrap("repos", snapshot,
      Seq("repo", "path", "commit"), "boot:0")
    assert(s0.dedupedDocs == 3)

    // the tail: update one file, delete another (lsns > bootstrap's 0)
    val events = Seq(
      (10L, "update",
        """{"id":"repo-a|src/f1.scala|c1","rev":"10","repo":"repo-a","path":"src/f1.scala","commit":"c1","lang":"scala","content":"v1 UPDATED"}"""),
      (11L, "delete", """{"id":"repo-b|src/g1.py|c2","rev":"11"}"""),
    ).toDF("lsn", "op", "doc")
    e.applyEvents("repos", events, "tail:0")

    val views = e.registerViews("repos")
    assert(views.contains("REPOS"))
    val rows = spark.sql(
      "SELECT ID, CONTENT FROM REPOS ORDER BY ID").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(rows.toSeq == Seq(
      "repo-a|src/f1.scala|c1" -> "v1 UPDATED",
      "repo-a|src/f2.scala|c1" -> "v0 content a2"))
  }

  test("struct-native bootstrap works on an ANSI session (lenient casts explicit)") {
    import java.sql.Timestamp
    val before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val snapshot = Seq(
        ("r1", "f1", "c1", "scala", "body", "123", "2024-01-02"),
        ("r2", "f2", "c2", "py", "body2", "456", "not-a-date"),
      ).toDF("repo", "path", "commit", "lang", "content", "numstr", "mixed")
      val (e, _) = newEngine()
      val s = e.bootstrap("bansi", snapshot, Seq("repo", "path", "commit"),
        "b:1", bootstrapLsn = 5L)
      assert(s.dedupedDocs == 2)
      val rows = readTable(e, "bansi", "bansi").orderBy("ID").collect()
      assert(rows.length == 2)
      // mixed string/date column widened to string, read intact
      assert(rows.map(_.getAs[String]("MIXED")).toSet ==
        Set("2024-01-02", "not-a-date"))
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    } finally spark.conf.set("spark.sql.ansi.enabled", before)
  }

  test("struct-native bootstrap ≡ JSON-path bootstrap: same catalog, same rows") {
    import java.sql.Timestamp
    // mixed-type snapshot exercising every classification branch:
    // numeric string → number, ISO string → date, conflict → string,
    // native long/double → number, boolean, timestamp, all-null column
    val snapshot = Seq(
      ("r1", "a/b.scala", "c1", "scala", "content one", 42L, 3.5, true,
        Timestamp.valueOf("2024-05-01 12:00:00"), "123", "2024-01-02",
        null.asInstanceOf[String]),
      ("r2", "a/c.py", "c2", "py", "content two", 7L, 0.25, false,
        Timestamp.valueOf("2024-06-01 08:30:00"), "456", "plain text",
        null.asInstanceOf[String]),
    ).toDF("repo", "path", "commit", "lang", "content", "size", "score",
      "flag", "mtime", "numstr", "mixedcol", "allnull")

    // struct-native path (all-atomic schema)
    val (e1, _) = newEngine()
    val s1 = e1.bootstrap("repos", snapshot, Seq("repo", "path", "commit"),
      "b:1", bootstrapLsn = 5L)
    assert(s1.dedupedDocs == 2 && s1.tables == 1)

    // reference behavior: the JSON round-trip path (same docs, via load)
    val (e2, _) = newEngine()
    val docs = snapshot
      .withColumn("doc", to_json(struct(
        concat_ws("|", col("repo"), col("path"), col("commit")).as("id") +:
          lit("5").as("rev") +: snapshot.columns.toSeq.map(col): _*)))
      .withColumn("lsn", lit(5L)).select("doc", "lsn")
    e2.load("repos", docs, "doc", "b:1", seqCol = Some("lsn"))

    // identical catalog: table names, column names + SQL types, keys
    def catOf(e: Engine) = tablesOf(e, "repos").map(t =>
      (t.fullName, t.tablePk, t.keyColumns,
        t.columns.map(c => c.sqlName -> c.sqlType)))
    assert(catOf(e1) == catOf(e2))
    // identical rows (timestamps compare as instants under UTC session)
    val cols = tablesOf(e1, "repos").head.columns.map(_.sqlName)
    def rowsOf(e: Engine) = readTable(e, "repos", "repos")
      .select(cols.map(c => col(c).cast("string")): _*)
      .orderBy("ID").collect().map(_.toString).toSeq
    assert(rowsOf(e1) == rowsOf(e2) && rowsOf(e1).size == 2)
    // all-null column produced no SQL column on either path
    assert(!cols.contains("ALLNULL"))
    // classification spot-checks
    val spec = tablesOf(e1, "repos").head
    def ty(n: String) = spec.columns.find(_.sqlName == n).get.sqlType
    assert(ty("NUMSTR") == "VARCHAR(38)")      // numeric strings → number
    assert(ty("MIXEDCOL").startsWith("VARCHAR")) // date ⊔ string → string
    assert(ty("MTIME") == "DATETIMEOFFSET")
    assert(ty("FLAG") == "INT")
    assert(ty("SIZE") == "VARCHAR(38)")
  }

  test("bootstrap renames colliding id/rev source columns instead of corrupting the key") {
    // a source `id` column used to become a duplicate JSON key — and
    // json_tuple's last-occurrence-wins made _docid the SOURCE value,
    // silently breaking the bootstrap-then-tail keying (ADVICE r2)
    val (e, _) = newEngine()
    val snap = Seq(
      ("own-id-1", "r1", "f1", "x"),
      ("own-id-2", "r2", "f2", "y"),
    ).toDF("id", "repo", "path", "content")
    e.bootstrap("repos", snap, Seq("repo", "path"), "b:1")
    val rows = readTable(e, "repos", "repos").orderBy("ID").collect()
    // composite key wins; the source id survives as ID_SRC
    assert(rows.map(_.getAs[String]("ID")).toSeq == Seq("r1|f1", "r2|f2"))
    assert(rows.map(_.getAs[String]("ID_SRC")).toSeq ==
      Seq("own-id-1", "own-id-2"))
    // keying on the COLLIDING column name also works (renamed transparently)
    val (e2, _) = newEngine()
    e2.bootstrap("repos", snap, Seq("id"), "b:1")
    assert(readTable(e2, "repos", "repos").orderBy("ID").collect()
      .map(_.getAs[String]("ID")).toSeq == Seq("own-id-1", "own-id-2"))
    // CASE-INSENSITIVE collision: Spark resolves `ID`/`Rev` against the
    // synthetic id/rev fields too (default caseSensitive=false), so the
    // rename guard must catch them (ADVICE r3)
    val (e3, _) = newEngine()
    val snapUpper = Seq(("OWN-1", "0.9", "r1", "f1", "x"))
      .toDF("ID", "Rev", "repo", "path", "content")
    e3.bootstrap("repos", snapUpper, Seq("repo", "path"), "b:1")
    val r3 = readTable(e3, "repos", "repos").collect().head
    assert(r3.getAs[String]("ID") == "r1|f1")     // synthetic key wins
    assert(r3.getAs[String]("ID_SRC") == "OWN-1") // source survives renamed
    assert(r3.getAs[String]("REV_SRC") == "0.9")
  }

  test("keyless / malformed events are dropped, not silently merged into a null key") {
    val (e, _) = newEngine()
    val events = Seq(
      (1L, "insert", """{"id":"good-1","rev":"1","v":"a"}"""),
      (2L, "insert", """{"rev":"1","v":"keyless"}"""),  // contract violation
      (3L, "insert", """{"id":"good-2","rev":"""),       // malformed JSON
      (4L, "insert", """{"id":"good-3","rev":"1","v":"c"}"""),
    ).toDF("lsn", "op", "doc")
    val stats = e.applyEvents("q", events, "t:1")
    val ids = readTable(e, "q", "q").collect()
      .map(_.getAs[String]("ID")).toSet
    // the keyless doc is gone; the malformed doc contributes no schema
    // (inference skips it whole) and no usable row
    assert(ids == Set("good-1", "good-3"))
    assert(!ids.contains(null))
    assert(stats.dedupedDocs <= 3)
  }

  test("consistent views PIN their cut: aggressive vacuum cannot dirty-read them") {
    // VERDICT r4 #8: the cut picked by registerConsistentViews could be
    // GC'd by a concurrent vacuum before the reader ran. The cut is now
    // pinned (choose-pin-verify), so even a grace-0 maintain right after
    // registration leaves the historical cut fully queryable.
    val (e, _) = newEngine()
    def doc(id: String, rev: String, v: String) =
      s"""{"id":"$id","rev":"$rev","v":"$v","items":[{"id":"i-$id","w":"$v"}]}"""
    e.applyEvents("pq", Seq(
      (1L, "insert", doc("d1", "1", "a")),
      (2L, "insert", doc("d2", "1", "b"))).toDF("lsn", "op", "doc"), "pv:0")
    val views = e.registerConsistentViews("pq", prefix = "PIN_")
    assert(views.nonEmpty)
    // advance the tables well past the cut, then vacuum with ZERO grace —
    // without the pin this GC'd the cut's superseded delta segments
    (1 to 4).foreach { i =>
      e.applyEvents("pq", Seq(
        (10L + i, "update", doc("d1", s"${i + 1}", s"x$i")))
        .toDF("lsn", "op", "doc"), s"pv:$i")
    }
    Thread.sleep(50)
    e.maintain("pq", vacuumGraceMs = 0L)
    val got = spark.table(views.find(_.endsWith("PQ")).get)
      .orderBy("ID").collect().map(r => r.getAs[String]("V")).toSeq
    assert(got == Seq("a", "b"), s"pinned cut torn: $got")
    // release: the cut loses protection and the next vacuum may GC it
    e.releaseConsistentViews("pq")
    Thread.sleep(50)
    e.maintain("pq", vacuumGraceMs = 0L)
  }

  test("consistent views DEGRADE to a verified current cut when the common cut can never materialize") {
    // ADVICE r6 #3: the degradation path (a cut whose segments were GC'd
    // before it was ever pinned re-derives identically forever) used to
    // FORCE-pin the iteration-top snapshots without the materialized()
    // verify — a stale head in that window could register dead views.
    // Now it re-reads the log head at pin time and keeps the verify.
    // This test manufactures the unreadable-forever cut deterministically.
    val (e, _) = newEngine()
    def doc(id: String, rev: String, v: String) =
      s"""{"id":"$id","rev":"$rev","v":"$v","items":[{"id":"i-$id","w":"$v"}]}"""
    e.applyEvents("dg", Seq(
      (1L, "insert", doc("d1", "1", "a"))).toDF("lsn", "op", "doc"), "dv:0")
    e.applyEvents("dg", Seq(
      (2L, "update", doc("d1", "2", "b"))).toDF("lsn", "op", "doc"), "dv:1")
    // the root advances ALONE: dv:1 stays the newest COMMON tag, so the
    // cut resolves to an OLD root snapshot …
    val rootSpec = tablesOf(e, "dg").find(_.isRoot).get
    val rootLake = e.table(rootSpec)
    val extra = rootLake.read().withColumn("V", lit("ROOTONLY"))
      .withColumn("_seq", lit(10L))
    rootLake.merge(extra, rootSpec.keyColumns, "ID", "dv:2",
      rowSeqCol = Some("_seq"))
    // … compaction makes the old snapshot's delta segments cut-only …
    rootLake.compactAll("cpt")
    val cur = rootLake.snapshot()
    val cutSnap = rootLake.snapshotVersions().iterator
      .map(rootLake.snapshotAt).find(_.hasCommit("dv:1")).get
    val curPaths = cur.segments.map(_.path).toSet
    val cutOnly = cutSnap.segments.filterNot(s => curPaths.contains(s.path))
    assert(cutOnly.nonEmpty, "scenario needs cut-only segments")
    // … and deleting them makes the cut unreadable FOREVER
    cutOnly.foreach { seg =>
      val p = java.nio.file.Paths.get(rootLake.root, rootLake.name, seg.path)
        .normalize()
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().forEachRemaining(x =>
          java.nio.file.Files.deleteIfExists(x))
      finally s.close()
    }
    assert(!rootLake.materialized(cutSnap))
    // the loop must settle on a VERIFIED current-state cut, not loop
    // forever, not throw, not register views over deleted files
    val views = e.registerConsistentViews("dg", prefix = "DG_")
    assert(views.nonEmpty)
    assert(spark.sql("SELECT V FROM DG_DG WHERE ID='d1'")
      .head().getString(0) == "ROOTONLY")
    assert(spark.sql("SELECT count(*) FROM DG_DG_ITEMS")
      .head().getLong(0) == 1L)
    e.releaseConsistentViews("dg")
  }

  test("consistent views: a mid-commit batch is invisible until every table has it") {
    val (e, _) = newEngine()
    def doc(id: String, rev: String, v: String) =
      s"""{"id":"$id","rev":"$rev","v":"$v","items":[{"id":"i-$id","w":"$v"}]}"""
    e.applyEvents("q", Seq(
      (1L, "insert", doc("d1", "1", "a")),
      (2L, "insert", doc("d2", "1", "b"))).toDF("lsn", "op", "doc"), "cv:0")
    e.applyEvents("q", Seq(
      (3L, "update", doc("d1", "2", "c"))).toDF("lsn", "op", "doc"), "cv:1")

    // simulate an apply caught mid-commit: batch cv:2 lands on the ROOT
    // table but not (yet) on the items table
    val specs = tablesOf(e, "q")
    val rootSpec = specs.find(_.isRoot).get
    val rootLake = e.table(rootSpec)
    val partial = rootLake.read().filter(col("ID") === "d2")
      .withColumn("V", lit("PARTIAL")).withColumn("_seq", lit(10L))
    rootLake.merge(partial, rootSpec.keyColumns, "ID", "cv:2",
      rowSeqCol = Some("_seq"))

    // raw views see the torn state …
    e.registerViews("q", prefix = "RAW_")
    assert(spark.sql("SELECT V FROM RAW_Q WHERE ID='d2'")
      .head().getString(0) == "PARTIAL")
    // … the consistent cut does not: newest tag on ALL tables is cv:1
    e.registerConsistentViews("q", prefix = "C_")
    assert(spark.sql("SELECT V FROM C_Q WHERE ID='d2'")
      .head().getString(0) == "b")
    assert(spark.sql("SELECT V FROM C_Q WHERE ID='d1'")
      .head().getString(0) == "c") // cv:1 IS in the cut
    assert(spark.sql("SELECT count(*) FROM C_Q_ITEMS").head().getLong(0) == 2)

    // the lagging table finishes cv:2 → the cut advances
    val itemSpec = specs.find(_.attrName == "items").get
    val itemLake = e.table(itemSpec)
    itemLake.merge(
      itemLake.read().limit(0).withColumn("_seq", lit(10L)),
      itemSpec.keyColumns, itemSpec.fkColumns.last.sqlName, "cv:2",
      rowSeqCol = Some("_seq"))
    e.registerConsistentViews("q", prefix = "C2_")
    assert(spark.sql("SELECT V FROM C2_Q WHERE ID='d2'")
      .head().getString(0) == "PARTIAL")
  }

  test("maintain: compacts every table, expires old tombstones, vacuums orphans") {
    val (e, root) = newEngine()
    val p = EventGen.Params(nEvents = 400, nRepos = 6, pathsPerRepo = 4,
      deletePct = 10)
    val all = EventGen.events(spark, p, partitions = 2).toDF()
    (0 until 4).foreach { b =>
      e.applyEvents("repos",
        all.filter(col("lsn") >= b * 100 && col("lsn") < (b + 1) * 100),
        s"m:$b")
    }
    val spec = tablesOf(e, "repos").find(_.isRoot).get
    val before = readTable(e, "repos", "repos").orderBy("ID")
      .collect().map(_.toString).toSeq
    // horizon beyond every lsn: all tombstones expire; grace 0 for test
    e.maintain("repos", expireTombstonesBelow = Some(10000L),
      vacuumGraceMs = 0L)
    val snap = e.table(spec).snapshot()
    assert(snap.segments.nonEmpty && snap.segments.forall(_.kind == "base"))
    // no tombstone rows remain in the compacted base
    val raw = spark.read.parquet(snap.segments.map(seg =>
      s"$root/${spec.fullName}/${seg.path}"): _*)
    assert(!raw.collect().exists(_.getAs[Boolean]("_gdel")))
    // visible state unchanged by maintenance
    val after = readTable(e, "repos", "repos").orderBy("ID")
      .collect().map(_.toString).toSeq
    assert(after == before && after.nonEmpty)
  }

  test("engine rebucket: whole family re-laid, tail keeps applying, state intact") {
    val (e, _) = newEngine() // 8 buckets at creation
    e.load("testd2s", Seq(Fixtures.doc1).toDF("doc")
      .withColumn("lsn", lit(0L)), "doc", "t:1", seqCol = Some("lsn"))
    e.load("testd2s", Seq(Fixtures.doc2).toDF("doc")
      .withColumn("lsn", lit(1L)), "doc", "t:2", seqCol = Some("lsn"))
    val before = readTable(e, "testd2s", "testd2s")
      .collect().map(_.toString).sorted.toSeq
    e.rebucket("testd2s", 32)
    assert(tablesOf(e, "testd2s").forall(t =>
      e.table(t).snapshot().numBuckets == 32))
    assert(readTable(e, "testd2s", "testd2s")
      .collect().map(_.toString).sorted.toSeq == before)
    // the CDC tail keeps applying against the new layout
    e.applyEvents("testd2s", Seq(
      (10L, "delete", """{"id":"doc-0001","rev":"9.x"}"""))
      .toDF("lsn", "op", "doc"), "t:3")
    assert(readTable(e, "testd2s", "testd2s").collect()
      .map(_.getAs[String]("ID")).toSeq == Seq("doc-0002"))
  }

  test("hot-key dedup combines MAP-SIDE: shuffle records ≈ distinct keys, not events") {
    // one pathological key carries 20k of 21k events. The partial
    // aggregate of the max(struct) dedup runs BELOW the batch's one
    // exchange (on the root-key bucket): a hot key collapses to one row
    // per map task before the shuffle, so per-reducer load is bounded by
    // DISTINCT keys (the reason no salting machinery exists anywhere in
    // the engine). A row_number window would shuffle all 21k rows.
    val (e, _) = newEngine()
    val hot = spark.range(0, 20000).selectExpr(
      "id AS lsn", "'update' AS op",
      "timestamp'2024-01-01' AS ts",
      """concat('{"id":"hot|f|c","rev":"', id, '","repo":"hot","content":"x"}') AS doc""")
    val cold = spark.range(20000, 21000).selectExpr(
      "id AS lsn", "'insert' AS op",
      "timestamp'2024-01-01' AS ts",
      """concat('{"id":"cold|f', id, '|c","rev":"1","repo":"cold","content":"y"}') AS doc""")
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger
    val mapTasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(s.stageInfo.taskMetrics)
          .filter(_.shuffleWriteMetrics.recordsWritten > 0).foreach { m =>
            shuffleStages.incrementAndGet()
            mapTasks.addAndGet(s.stageInfo.numTasks)
            shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val stats = e.applyEvents("repos", hot.unionByName(cold), "skew:0")
      org.apache.spark.ListenerDrain(spark.sparkContext)
      assert(stats.dedupedDocs == 1001) // 1 hot + 1000 cold keys
      // the dedup's exchange is the batch's only one (the lone table's
      // write inherits it), and each of its map tasks wrote at most one
      // version of the hot key plus the cold keys it saw
      assert(shuffleStages.get == 1, s"${shuffleStages.get} shuffle stages")
      assert(shuffleRecords.get <= mapTasks.get + 1000,
        s"map-side combine failed: ${shuffleRecords.get} records shuffled " +
          s"by ${mapTasks.get} map tasks")
      val root = readTable(e, "repos", "repos")
      assert(root.count() == 1001)
      assert(root.filter(col("ID") === "hot|f|c").head()
        .getAs[String]("REV") == "19999") // max-lsn version won
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("out-of-order batches converge: late (lower-lsn) batch cannot clobber newer rows") {
    val (e, _) = newEngine()
    val p = EventGen.Params(nEvents = 600, nRepos = 8, pathsPerRepo = 6,
      deletePct = 5)
    val all = EventGen.events(spark, p, partitions = 2).toDF()
    // apply the SECOND half first, then the stale first half
    e.applyEvents("repos", all.filter(col("lsn") >= 300), "ooo:1")
    e.applyEvents("repos", all.filter(col("lsn") < 300), "ooo:0")
    val got = readTable(e, "repos", "repos").select("ID", "REV")
      .orderBy("ID").collect().map(_.toString).toSeq

    val (e2, _) = newEngine()
    e2.applyEvents("repos", all, "inorder:0")
    val want = readTable(e2, "repos", "repos").select("ID", "REV")
      .orderBy("ID").collect().map(_.toString).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("CDC replay: 2000 skewed events in 4 batches → exact final state (sha256 per row)") {
    val (e, _) = newEngine()
    val p = EventGen.Params(nEvents = 2000, nRepos = 20, pathsPerRepo = 10)
    val all = EventGen.events(spark, p, partitions = 4).toDF()

    val batches = 4
    val per = p.nEvents / batches
    (0 until batches).foreach { b =>
      val batch = all.filter(col("lsn") >= b * per && col("lsn") < (b + 1) * per)
      e.applyEvents("repos", batch, s"replay:$b")
    }

    val expected = EventGen.expectedFinalState(p)
    val got = readTable(e, "repos", "repos")
      .select("ID", "REV", "CONTENT").collect()
      .map(r => r.getAs[String]("ID") ->
        ((r.getAs[String]("REV"), sha256(r.getAs[String]("CONTENT"))))).toMap

    assert(got.size == expected.size)
    expected.foreach { case (id, ev) =>
      val doc = Json.parse(ev.doc).asInstanceOf[JObj]
      val expRev = doc.get("rev").collect { case JStr(s) => s }.get
      val expSha = sha256(doc.get("content").collect { case JStr(s) => s }.get)
      assert(got.contains(id), s"missing $id")
      assert(got(id)._1 == expRev, s"rev mismatch for $id")
      assert(got(id)._2 == expSha, s"content sha mismatch for $id")
    }

    // mid-stream evolution arrived: stats + topics tables exist and filled
    val stats = readTable(e, "repos", "stats")
    assert(stats.count() > 0)
    val topics = readTable(e, "repos", "topics")
    assert(topics.count() > 0)
    assert(topics.columns.contains("REPOS_ID"))

    // retry a middle batch (simulated foreachBatch replay) → no state change
    val before = readTable(e, "repos", "repos").orderBy("ID")
      .collect().map(_.toString).toSeq
    val batch2 = all.filter(col("lsn") >= per && col("lsn") < 2 * per)
    e.applyEvents("repos", batch2, "replay:1")
    val after = readTable(e, "repos", "repos").orderBy("ID")
      .collect().map(_.toString).toSeq
    assert(before == after)
  }

  test("registry growth: steady-state batches add zero versions; restart loads newest; maintain prunes") {
    // VERDICT r5 #2: at 10^6 micro-batches the registry dir must hold
    // O(schema-changes) files, not O(batches)
    val (e, root) = newEngine()
    // fixed-width ids/revs/content so the widened tree is IDENTICAL
    // across batches (maxLength is part of the tree)
    def doc(i: Int, extra: Boolean = false) = {
      val x = if (extra) ""","extra":7""" else ""
      f"""{"id":"d$i%04d","rev":"r$i%04d","content":"cccc"$x}"""
    }
    def nVersions = {
      val d = java.nio.file.Paths.get(root, "_registry_regrow")
      if (!java.nio.file.Files.isDirectory(d)) 0
      else {
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.count { p =>
          val n = p.getFileName.toString
          n.startsWith("v") && n.endsWith(".json")
        } finally s.close()
      }
    }
    (0 until 20).foreach { i =>
      e.load("regrow", Seq(doc(i)).toDF("doc"), "doc", s"t:$i")
    }
    assert(nVersions == 1, "20 same-schema batches must leave ONE version")
    // a new field evolves the tree: exactly one more version
    e.load("regrow", Seq(doc(100, extra = true)).toDF("doc"), "doc", "t:x")
    assert(nVersions == 2)
    (21 until 26).foreach { i =>
      e.load("regrow", Seq(doc(i, extra = true)).toDF("doc"), "doc", s"t:$i")
    }
    assert(nVersions == 2)
    // restart (cold cache): the newest tree — with the evolved column —
    // loads from disk
    graft.lake.VersionLog.clearCache()
    val e2 = new Engine(spark, root, numBuckets = 8)
    val spec2 = Catalog.fromTree(e2.loadRegistry("regrow").get)
      .find(_.isRoot).get
    assert(spec2.columns.exists(_.sqlName == "EXTRA"))
    // maintain-time pruning keeps the newest K
    assert(e2.pruneRegistry("regrow", keep = 1) == 1)
    assert(nVersions == 1)
    graft.lake.VersionLog.clearCache()
    assert(Catalog.fromTree(e2.loadRegistry("regrow").get)
      .find(_.isRoot).get.columns.exists(_.sqlName == "EXTRA"))
  }

  test("a lake root dropped and re-created in one JVM gets its registry written again") {
    val (e, root) = newEngine()
    e.load("testd2s", Seq(Fixtures.doc1).toDF("doc"), "doc", "t:1")
    val v1 = java.nio.file.Paths.get(root, "_registry_testd2s", "v00001.json")
    assert(java.nio.file.Files.exists(v1))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    // same tree, same process: the cached registry must not stand in for
    // the file that is gone
    val e2 = new Engine(spark, root, numBuckets = 8)
    e2.load("testd2s", Seq(Fixtures.doc1).toDF("doc"), "doc", "t:1")
    assert(java.nio.file.Files.exists(v1))
    assert(readTable(e2, "testd2s", "testd2s").collect()
      .map(_.getAs[String]("ID")).toSeq == Seq("doc-0001"))
  }

  test("a failing table merge fails the apply only after every sibling merge has finished") {
    val (e, _) = newEngine()
    val batch = Seq((1L, "insert", Fixtures.doc1)).toDF("lsn", "op", "doc")
    // learn the array child's spec from a throwaway lake, then create that
    // table here pinned to the COMMIT seq domain: in the apply below its
    // merge throws at once while the root and five other tables write
    val (probe, _) = newEngine()
    probe.applyEvents("testd2s", batch, "probe")
    val itemSpec = tablesOf(probe, "testd2s").find(_.attrName == "anArrayWithIds").get
    val rows = probe.table(itemSpec).read()
    val pinned = e.table(itemSpec)
    pinned.create(itemSpec.schema, itemSpec.keyColumns,
      itemSpec.fkColumns.last.sqlName)
    pinned.merge(spark.createDataFrame(rows.collectAsList(), rows.schema),
      itemSpec.keyColumns, itemSpec.fkColumns.last.sqlName, "pin")
    assert(pinned.snapshot().seqDomain == "commit")

    val tracker = spark.sparkContext.statusTracker
    val activeBefore = tracker.getActiveJobIds().toSet
    val ex = intercept[Exception] { e.applyEvents("testd2s", batch, "f:0") }
    // no job of the failed apply outlives it …
    val lingering = tracker.getActiveJobIds().toSet -- activeBefore
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(ex).getMessage.contains("seq domain"))
    assert(lingering.isEmpty, s"jobs still running after the apply threw: $lingering")
    // … every sibling committed before the error surfaced …
    val lakes = tablesOf(e, "testd2s").map(t => t.attrName -> e.table(t))
    assert(lakes.size == 7)
    lakes.foreach { case (attr, lake) =>
      assert(lake.snapshot().hasCommit("f:0") == (attr != "anArrayWithIds"), attr)
    }
    // … and nothing publishes afterwards
    val versions = lakes.map { case (a, l) => a -> l.currentVersion() }
    Thread.sleep(2000)
    assert(lakes.map { case (a, l) => a -> l.currentVersion() } == versions)
  }

  test("torn apply: same-tag re-apply heals a crash between publishes") {
    def ev(lsn: Long, doc: String) = (lsn, "insert", doc)
    val b1 = Seq(ev(1L, Fixtures.doc1)).toDF("lsn", "op", "doc")
    val b2 = Seq(ev(2L, Fixtures.doc1.replace("Five Point Zero", "Five Again")),
      ev(3L, Fixtures.doc2)).toDF("lsn", "op", "doc")
    val (e, root) = newEngine()
    e.applyEvents("testd2s", b1, "t:1")
    e.applyEvents("testd2s", b2, "t:2")

    // the state a crash just before the child's publish leaves: the root
    // committed t:2, the child's delta dir is written but its snapshot is
    // not. The child's newest snapshot is read (and cached in this
    // process) before it is deleted: the heal republishes the same
    // version, and no later read may be served the deleted file's parse.
    val specs = tablesOf(e, "testd2s")
    val rootLake = e.table(specs.find(_.isRoot).get)
    val childSpec = specs.find(_.attrName == "anArrayWithIds").get
    val child = e.table(childSpec)
    val vTorn = child.currentVersion()
    assert(child.snapshot().hasCommit("t:2"))
    val childDir = java.nio.file.Paths.get(root, childSpec.fullName)
    java.nio.file.Files.delete(childDir.resolve(f"_snap/v$vTorn%05d.json"))
    val prior = child.snapshotAt(vTorn - 1)
    assert(!prior.hasCommit("t:2") && rootLake.snapshot().hasCommit("t:2"))
    def dataDirs(): Set[String] = {
      val ls = java.nio.file.Files.list(childDir.resolve("data"))
      try ls.iterator().asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    }
    def dirsOf(s: graft.lake.Snapshot): Set[String] =
      s.segments.map(_.path.split('/')(1)).toSet
    val orphans = dataDirs() -- dirsOf(prior)
    assert(orphans.nonEmpty)

    val vRoot = rootLake.currentVersion()
    e.applyEvents("testd2s", b2, "t:2")
    assert(rootLake.currentVersion() == vRoot) // root no-ops on its tag
    val healed = child.snapshot()
    assert(healed.version == vTorn && healed.hasCommit("t:2"))
    assert((dirsOf(healed) intersect orphans).isEmpty)

    val (clean, _) = newEngine()
    clean.applyEvents("testd2s", b1, "t:1")
    clean.applyEvents("testd2s", b2, "t:2")
    def state(eng: Engine): Map[String, Seq[String]] =
      tablesOf(eng, "testd2s").map { t =>
        t.attrName -> eng.table(t).read().collect().map(_.toString).toSeq.sorted
      }.toMap
    val want = state(clean)
    assert(want.size == specs.size && want(childSpec.attrName).nonEmpty)
    assert(state(e) == want)

    assert(orphans.subsetOf(dataDirs()))
    e.maintain("testd2s", vacuumGraceMs = 0L)
    assert((dataDirs() intersect orphans).isEmpty)
    assert(state(e) == want)
  }

  test("metrics log: deduped_docs is the root table's upsert count of " +
      "each batch, as the batch's ApplyStats reports it") {
    val lakeRoot = SparkTestSession.tmpDir("graft-mlog-lake-")
    val ckpt = SparkTestSession.tmpDir("graft-mlog-ckpt-")
    val srcDir = SparkTestSession.tmpDir("graft-mlog-src-")
    val e = new Engine(spark, lakeRoot, numBuckets = 4)
    def doc(i: Int, rev: Int) =
      s"""{"id":"k-$i","rev":"$rev","v":"v$i-$rev","xs":[{"id":"x$i"}]}"""
    // inserts; then updates with in-batch duplicates, re-deliveries and
    // deletes; then a batch of re-deliveries only
    val batches = Seq(
      (0 until 12).map(i => (i.toLong, "insert", doc(i, 1))),
      (0 until 6).map(i => (100L + i, "update", doc(i, 2))) ++
        (0 until 3).map(i => (110L + i, "update", doc(i, 3))) ++
        (6 until 9).map(i => (i.toLong, "insert", doc(i, 1))) ++
        (9 until 11).map(i => (120L + i, "delete", s"""{"id":"k-$i"}""")),
      (0 until 3).map(i => (110L + i, "update", doc(i, 3))))
    batches.zipWithIndex.foreach { case (evs, i) =>
      evs.toDF("lsn", "op", "doc").coalesce(1).write.json(s"$srcDir/f$i")
    }
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = e.stream("ent", spark.readStream.schema("lsn LONG, op STRING, doc STRING")
      .option("maxFilesPerTrigger", "1").json(s"$srcDir/*/"), ckpt,
      queryName = "mlog", incremental = true,
      onStats = (b, st) => { seen.put(b, st.dedupedDocs); () })
    try q.processAllAvailable() finally q.stop()

    val rootT = tablesOf(e, "ent").find(_.isRoot).get
    val lineage = e.table(rootT).snapshot().lineage
      .map(l => l.tag -> l.upserted).toMap
    val logged = e.metricsLog("ent").select("batch", "deduped_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(logged == Map(0L -> 12L, 1L -> 6L, 2L -> 0L), logged)
    assert(logged == seen.asScala.toMap)
    logged.foreach { case (b, n) =>
      assert(lineage.getOrElse(s"mlog:$b", 0L) == n, s"batch $b")
    }
  }

  test("maintain folds the metrics log's rotated parts on an append-less " +
      "store; a crash between the fold's publish and its deletes loses " +
      "and duplicates nothing") {
    import java.nio.file.{Files, Paths}
    // a fresh probe of the store's append support, whatever ran before:
    // the log's first line creates its base file, and every later line on
    // this append-less store is one rotated part
    graft.lake.Fio.clearAppendProbe()
    val local = SparkTestSession.tmpDir("graft-mfold-lake-")
    val ckpt = SparkTestSession.tmpDir("graft-mfold-ckpt-")
    val srcDir = SparkTestSession.tmpDir("graft-mfold-src-")
    val e = new Engine(spark, "graftobj:" + local, numBuckets = 4)
    val partsDir = Paths.get(local, "_metrics_ent.jsonl.parts")
    def parts(): Seq[String] =
      if (!Files.isDirectory(partsDir)) Nil
      else {
        val ls = Files.list(partsDir)
        try ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
        finally ls.close()
      }
    def rows(): Seq[(Long, Long)] = e.metricsLog("ent")
      .select("batch", "batch_events").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    // one streamed batch per file from `from` until `until`
    def run(from: Int, until: Int): Unit = {
      (from until until).foreach { i =>
        (0 to i).map(j => (100L * i + j, "insert",
            s"""{"id":"k-$j","rev":"$i","v":"v$i"}"""))
          .toDF("lsn", "op", "doc").coalesce(1).write.json(s"$srcDir/f$i")
      }
      val q = e.stream("ent", spark.readStream
        .schema("lsn LONG, op STRING, doc STRING")
        .option("maxFilesPerTrigger", "1").json(s"$srcDir/*/"), ckpt,
        queryName = "mfold")
      try q.processAllAvailable() finally q.stop()
    }
    run(0, 3)
    assert(parts().size == 2) // batch 0's line is the base's
    val three = rows()
    assert(three == Seq(0L -> 1L, 1L -> 2L, 2L -> 3L))
    e.maintain("ent", vacuumGraceMs = 0L)
    assert(parts().isEmpty && rows() == three)

    run(3, 5)
    val five = rows()
    assert(five == three ++ Seq(3L -> 4L, 4L -> 5L) && parts().size == 2)
    val saved = parts().map(n => n -> Files.readAllBytes(partsDir.resolve(n)))
    e.maintain("ent", vacuumGraceMs = 0L)
    // the state a crash right after the fold's publish leaves: the base
    // holds the folded lines and the folded parts are still there
    saved.foreach { case (n, b) => Files.write(partsDir.resolve(n), b) }
    assert(rows() == five)
    run(5, 6)
    assert(parts().size == 3 && rows() == five :+ (5L -> 6L))
    e.maintain("ent", vacuumGraceMs = 0L)
    assert(parts().isEmpty && rows() == five :+ (5L -> 6L))
  }
}
