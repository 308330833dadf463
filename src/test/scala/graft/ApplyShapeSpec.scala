package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.{Catalog, TableSpec}
import graft.engine.Engine
import graft.flatten.Flattener
import graft.lake.LakeTable

/** Job shape of one apply: the dedup's exchange partitions the batch by
  * root-key bucket, the batch's one shuffle, and every table's delta write
  * inherits that partitioning (no exchange of its own, still one file per
  * bucket dir, same rows and layout as tables merged one by one), the
  * struct bootstrap's included; a table whose layout differs from the
  * root's falls back to its own shuffle; the incr revision probe reads
  * the touched buckets' root files once; a
  * steady-state batch infers its schema inside the reduce stage, and a
  * batch that widens the schema lands as a single-batch apply would. */
class ApplyShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // root + id-keyed array child (a within-doc duplicate id exercises the
  // key-dedup window) + object inside the array element + object child
  private def doc(i: Int, rev: Int): String =
    s"""{"id":"k-$i","rev":"$rev","name":"n$i-$rev",""" +
      s""""items":[{"id":"a$i","q":$rev,"tag":{"t":"x$i-$rev"}},""" +
      s"""{"id":"b$i","q":${rev + 1}},{"id":"a$i","q":${rev + 2}}],""" +
      s""""meta":{"m":"m$i-$rev"}}"""

  private def events(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("lsn", "op", "doc")

  private val batch1 = events((0 until 40).map(i =>
    (i.toLong, "insert", doc(i, 1))))
  // updates, deletes and fresh inserts in one batch
  private val batch2 = events(
    (0 until 20).map(i => (100L + i, "update", doc(i, 2))) ++
      (20 until 30).map(i => (200L + i, "delete", s"""{"id":"k-$i"}""")) ++
      (40 until 50).map(i => (300L + i, "insert", doc(i, 1))))

  private def tablesOf(e: Engine, entity: String): Seq[TableSpec] =
    Catalog.fromTree(e.loadRegistry(entity).get)

  private def rootKeyOf(t: TableSpec): String =
    if (t.isRoot) t.tablePk else t.fkColumns.last.sqlName

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Shuffle exchanges in each lake data write, by output path. */
  private def writeExchanges(body: => Unit): Seq[(String, Int)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
          .foreach { w =>
            w.cmd match {
              case c: InsertIntoHadoopFsRelationCommand =>
                seen.add((c.outputPath.toString,
                  collect(w.child) { case x: ShuffleExchangeLike => x }.size))
              case _ =>
            }
          }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Data files of each segment a table's newest commit added. */
  private def newSegmentFiles(root: String, t: TableSpec,
      lake: LakeTable): Seq[(Int, Seq[String])] = {
    val s = lake.snapshot()
    s.segments.filter(seg => seg.kind == "delta" && seg.seq == s.version)
      .map { seg =>
        val d = java.nio.file.Paths.get(root, t.fullName, seg.path).normalize()
        val ls = java.nio.file.Files.list(d)
        try seg.bucket -> ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally ls.close()
      }
  }

  /** The same two batches merged table by table: each table's frame is
    * flattened from the unclustered batch and merged on its own (its write
    * shuffles to its buckets itself). */
  private def mergeTableByTable(e: Engine, entity: String, root: String,
      batch: DataFrame, tag: String): Unit = {
    val tree = e.loadRegistry(entity).get
    val rootElem = tree.attributes(tree.name)
    val tables = Catalog.fromTree(tree)
    val docs = batch.filter(col("op") =!= "delete").select(
      get_json_object(col("doc"), "$.id").as("_docid"), col("lsn").as("_seq"),
      from_json(col("doc"), Flattener.readSchema(rootElem)).as("_gdoc"))
    val dels = batch.filter(col("op") === "delete").select(
      get_json_object(col("doc"), "$.id").as("_docid"), col("lsn"))
    tables.foreach { t =>
      val lake = new LakeTable(spark, root, t.fullName, 8)
      if (!lake.exists()) lake.create(t.schema, t.keyColumns, rootKeyOf(t))
      else lake.evolve(t.schema, t.keyColumns, rootKeyOf(t))
      val dedup = !t.isRoot && t.tablePk == "ID" && t.path.exists(_.isArray)
      val raw = Flattener.tableFrame(docs, rootElem, tables, t, col("_gdoc"),
        extraCols = Seq("_seq"), withOrd = dedup)
      val frame =
        if (!dedup) raw
        else raw.withColumn("_krn", row_number().over(Window
          .partitionBy(t.keyColumns.map(col): _*)
          .orderBy(col("_gord").desc)))
          .filter(col("_krn") === 1).drop("_krn", "_gord")
      lake.merge(frame, t.keyColumns, rootKeyOf(t), tag,
        deleteRootKeys = Some(dels), rowSeqCol = Some("_seq"))
    }
  }

  test("clustered writes: one shuffle per batch, no exchange in any table's " +
      "write, one file per touched bucket dir, rows as merged table by table") {
    val root = SparkTestSession.tmpDir("graft-cluster-")
    val e = new Engine(spark, root, numBuckets = 8)
    e.applyEvents("ent", batch1, "b:1")
    var writes: Seq[(String, Int)] = Nil
    val shape = jobsOf { writes = writeExchanges(e.applyEvents("ent", batch2, "b:2")) }
    // the dedup's exchange is the batch's one shuffle
    assert(shape.shuffleStages == 1, shape)
    val tables = tablesOf(e, "ent")
    assert(tables.size == 4, tables.map(_.fullName))
    assert(tables.exists(t => !t.isRoot && t.tablePk == "ID" &&
      t.path.exists(_.isArray)), "no id-keyed array child")

    tables.foreach { t =>
      val mine = writes.filter(_._1.contains(s"/${t.fullName}/data/"))
      assert(mine.size == 1, s"${t.fullName}: ${mine.size} delta writes")
      assert(mine.head._2 == 0,
        s"${t.fullName}: write plan has ${mine.head._2} exchange(s)")
      val segs = newSegmentFiles(root, t, e.table(t))
      assert(segs.nonEmpty, s"${t.fullName}: batch 2 wrote no segment")
      segs.foreach { case (b, files) =>
        assert(files.size == 1, s"${t.fullName} bucket $b: $files")
      }
    }

    // the same batches merged table by table give the same rows in the
    // same bucket layout
    val refRoot = SparkTestSession.tmpDir("graft-cluster-ref-")
    mergeTableByTable(e, "ent", refRoot, batch1, "b:1")
    mergeTableByTable(e, "ent", refRoot, batch2, "b:2")
    tables.foreach { t =>
      val got = e.table(t)
      val want = new LakeTable(spark, refRoot, t.fullName, 8)
      assert(sortedRows(got.read()) == sortedRows(want.read()), t.fullName)
      assert(got.snapshot().segments.map(_.bucket).sorted ==
        want.snapshot().segments.map(_.bucket).sorted, t.fullName)
    }
    val rootRows = e.table(tables.find(_.isRoot).get).read()
    assert(rootRows.count() == 40) // 50 inserted, 10 deleted
    assert(rootRows.filter(col("ID") === "k-3").head()
      .getAs[String]("REV") == "2")
  }

  test("struct bootstrap: the dedup's exchange is its one shuffle, its " +
      "table's write plans none, and equal-lsn duplicates keep one winner") {
    // 200 rows over 4 partitions, keys (repo, path) repeating every 150
    // rows: 50 keys carry two rows at the bootstrap's one lsn
    def snapshot(ascending: Boolean) = (if (ascending)
      spark.range(0, 200, 1, 4) else spark.range(199, -1, -1, 4))
      .select(concat(lit("r"), col("id") % 150).as("repo"),
        lit("p").as("path"), concat(lit("body-"), col("id")).as("content"))
    def bootstrapped(ascending: Boolean): (Engine, String, Shape,
        Seq[(String, Int)]) = {
      val root = SparkTestSession.tmpDir("graft-boot-shape-")
      val e = new Engine(spark, root, numBuckets = 8)
      var writes: Seq[(String, Int)] = Nil
      var st: graft.engine.ApplyStats = null
      val shape = jobsOf { writes = writeExchanges {
        st = e.bootstrap("ent", snapshot(ascending), Seq("repo", "path"), "boot")
      } }
      assert(st.dedupedDocs == 150 && st.tables == 1, st)
      (e, root, shape, writes)
    }
    val (e, root, shape, writes) = bootstrapped(true)
    assert(shape.shuffleStages == 1, shape)
    val t = tablesOf(e, "ent").head
    val mine = writes.filter(_._1.contains(s"/${t.fullName}/data/"))
    assert(mine.map(_._2) == Seq(0), mine)
    newSegmentFiles(root, t, e.table(t)).foreach { case (b, files) =>
      assert(files.size == 1, s"bucket $b: $files")
    }
    // the winner of a tie on the lsn does not depend on input order
    def rows(e: Engine) = sortedRows(e.table(t).read().select("ID", "CONTENT"))
    val (again, _, _, _) = bootstrapped(false)
    assert(rows(e).size == 150 && rows(e) == rows(again))
    // an empty snapshot applies nothing
    assert(e.bootstrap("ent", snapshot(true).limit(0), Seq("repo", "path"),
      "boot:empty") == graft.engine.ApplyStats(0, 0, 0, 0, 0))
  }

  test("partial rebucket: a child whose bucket count differs from the " +
      "root's keeps its own layout, and readWhere finds its rows") {
    val root = SparkTestSession.tmpDir("graft-cluster-rb-")
    val e = new Engine(spark, root, numBuckets = 8)
    e.applyEvents("ent", batch1, "b:1")
    val rootT = tablesOf(e, "ent").find(_.isRoot).get
    e.table(rootT).rebucket(16, "rb:root")
    e.applyEvents("ent", batch2, "b:2")

    val tables = tablesOf(e, "ent")
    tables.foreach { t =>
      val lake = e.table(t)
      val n = if (t.isRoot) 16 else 8
      assert(lake.buckets == n, t.fullName)
      // every row sits in the segment its root key hashes to, under the
      // table's own bucket count
      lake.snapshot().segments.foreach { seg =>
        val d = java.nio.file.Paths.get(root, t.fullName, seg.path)
          .normalize().toString
        val misplaced = spark.read.parquet(d)
          .filter(pmod(xxhash64(col(rootKeyOf(t))), lit(n)) =!= seg.bucket)
          .count()
        assert(misplaced == 0, s"${t.fullName} bucket ${seg.bucket}")
      }
      // a bucket-pruned point lookup finds what a full read finds
      Seq("k-3", "k-45", "k-25").foreach { k =>
        val full = lake.read().filter(col(rootKeyOf(t)) === k)
        val pruned = lake.readWhere(col(rootKeyOf(t)) === k)
        assert(sortedRows(pruned) == sortedRows(full), s"${t.fullName} $k")
        if (k == "k-25") assert(full.isEmpty) // deleted in batch 2
        else assert(!full.isEmpty, s"${t.fullName} $k")
      }
    }
  }

  test("incr: the revision probe opens each root file of the touched " +
      "buckets once, and no other; empty and delete-only batches apply") {
    val root = "graftfs:" + SparkTestSession.tmpDir("graft-revscan-")
    val e = new Engine(spark, root, numBuckets = 8)
    e.applyEvents("ent", batch1, "b:1", incremental = true)
    val rootT = tablesOf(e, "ent").find(_.isRoot).get
    val lake = e.table(rootT)
    // opens of each root-table data file made by Spark tasks in `body`
    def opensPerFile(body: => Unit): Map[String, Int] = {
      GraftTestFs.taskOpens.clear()
      body
      GraftTestFs.taskOpens.asScala.toSeq.map(_._2)
        .filter(p => p.contains(s"/${rootT.fullName}/data/") &&
          p.endsWith(".parquet"))
        .groupBy(identity).map { case (p, xs) => p -> xs.size }
    }
    // 10 unchanged revisions (re-deliveries) + 10 new ones
    val next = events(
      (0 until 10).map(i => (500L + i, "update", doc(i, 1))) ++
        (10 until 20).map(i => (600L + i, "update", doc(i, 3))))
    // calibration: what ONE read of the batch's buckets opens (the probe
    // runs inside the reduce stage, outside any query, so the proof counts
    // file opens)
    val touched = (0 until 20).map(i => lake.bucketOfKey(s"k-$i")).toSet
    val oneScan = opensPerFile(lake.readBuckets(touched)
      .select("ID", "REV").write.format("noop").mode("overwrite").save())
    assert(oneScan.nonEmpty)
    var shape: Shape = null
    val applyOpens = opensPerFile {
      shape = jobsOf {
        val s = e.applyEvents("ent", next, "b:2", incremental = true)
        assert(s.skippedUnchanged == 10 && s.dedupedDocs == 10)
      }
    }
    assert(applyOpens == oneScan, "opens per root file: apply " +
      s"${applyOpens.values.toSeq.sorted}, one scan ${oneScan.values.toSeq.sorted}")
    assert(shape.broadcastJobs == 0 && shape.shuffleStages == 1, shape)

    val emptyStats = e.applyEvents("ent", batch1.limit(0), "b:3",
      incremental = true)
    assert(emptyStats.batchEvents == 0 && emptyStats.dedupedDocs == 0 &&
      emptyStats.deletes == 0)

    val dels = events((30 until 35).map(i =>
      (700L + i, "delete", s"""{"id":"k-$i"}""")))
    val delStats = e.applyEvents("ent", dels, "b:4", incremental = true)
    assert(delStats.deletes == 5 && delStats.dedupedDocs == 0)
    val ids = lake.read().select("ID").as[String].collect().toSet
    assert(ids.size == 35 && (30 until 35).forall(i => !ids(s"k-$i")))
    val revs = lake.read()
      .filter(col("ID").isin("k-5", "k-15")).orderBy("ID")
      .select("REV").as[String].collect().toSeq
    assert(revs == Seq("3", "1")) // k-15 (rev 3) sorts before k-5 (rev 1)
  }

  test("an input already in one partition (a limit) still dedups through " +
      "the bucket exchange") {
    val e = new Engine(spark, SparkTestSession.tmpDir("graft-limit-"), 8)
    val evs = spark.range(0, 400, 1, 4).selectExpr("id AS lsn",
      "'update' AS op",
      """concat('{"id":"k', id % 40, '","rev":"', id, '"}') AS doc""")
      .limit(200)
    var st: graft.engine.ApplyStats = null
    val shape = jobsOf { st = e.applyEvents("ent", evs, "l:1") }
    assert(st.dedupedDocs == 40, st)
    assert(shape.shuffleStages == 2, shape) // the limit's and the dedup's
    val rootT = tablesOf(e, "ent").find(_.isRoot).get
    assert(e.table(rootT).read().count() == 40)
  }

  // root + id-keyed array child + object child: a 3-table lake
  private def doc3(i: Int, rev: Int, extra: String = ""): String =
    s"""{"id":"k-$i","rev":"$rev","n":$i,"name":"n$i-$rev",""" +
      s""""items":[{"id":"a$i","q":$rev},{"id":"b$i","q":${rev + 1}}],""" +
      s""""meta":{"m":"m$i-$rev"}$extra}"""

  /** What `body` ran: each job with its stages' call sites, the stages
    * that wrote shuffle output, and the jobs a broadcast exchange ran. */
  private final case class Shape(jobs: Seq[String], shuffleStages: Int,
      broadcastJobs: Int)

  private def jobsOf(body: => Unit): Shape = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val shuffles = new java.util.concurrent.atomic.AtomicInteger()
    val broadcasts = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.details).mkString("\n"))
        if (Option(js.properties).flatMap(p => Option(p.getProperty(
          "spark.job.tags"))).exists(_.contains("broadcast exchange")))
          broadcasts.incrementAndGet()
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (Option(e.stageInfo.taskMetrics)
          .exists(_.shuffleWriteMetrics.recordsWritten > 0))
          shuffles.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    Shape(jobs.asScala.toSeq, shuffles.get, broadcasts.get)
  }

  test("steady-state incr batch with re-deliveries: at most 6 jobs, one " +
      "shuffle stage, no broadcast, and the schema inference rides the " +
      "reduce stage") {
    val root = SparkTestSession.tmpDir("graft-jobs-")
    val e = new Engine(spark, root, numBuckets = 8)
    e.applyEvents("ent", events((0 until 40).map(i =>
      (i.toLong, "insert", doc3(i, 1)))), "b:1", incremental = true)
    e.applyEvents("ent", events((0 until 20).map(i =>
      (100L + i, "update", doc3(i, 2)))), "b:2", incremental = true)
    assert(tablesOf(e, "ent").size == 3)
    // 20 re-delivered revisions and 20 new ones, no schema change
    val next = events((0 until 20).map(i => (100L + i, "update",
      doc3(i, 2))) ++ (20 until 40).map(i => (200L + i, "update", doc3(i, 2))))
    var stats: graft.engine.ApplyStats = null
    val shape = jobsOf { stats = e.applyEvents("ent", next, "b:3",
      incremental = true) }
    val jobs = shape.jobs
    assert(stats.skippedUnchanged == 20 && stats.dedupedDocs == 20, stats)
    // the dedup's map stage, the reduce stage filling the batch, one write
    // per table
    assert(jobs.size <= 6, s"${jobs.size} jobs:\n${jobs.mkString("\n--\n")}")
    assert(shape.shuffleStages == 1, shape)
    assert(shape.broadcastJobs == 0, shape)
    assert(!jobs.exists(_.contains("Engine.inferBatch")),
      jobs.filter(_.contains("Engine.inferBatch")).mkString("\n--\n"))
  }

  /** Every row of each table, and the registry tree, in a form that does
    * not depend on column or attribute insertion order. */
  private def lakeState(e: Engine): (Map[String, Seq[String]], String) = {
    val tree = e.loadRegistry("ent").get
    def canon(a: graft.schema.Attr): String =
      s"${a.name}:${a.dataType.tag}:${a.maxLength}" + a.attributes.values
        .map(canon).toSeq.sorted.mkString("[", ",", "]")
    val rows = Catalog.fromTree(tree).map { t =>
      val df = e.table(t).read()
      t.fullName -> df.select(df.columns.sorted.map(col): _*).collect()
        .map(_.toString).sorted.toSeq
    }.toMap
    (rows, canon(tree))
  }

  test("speculative parse: widening, new-table, re-delivered and " +
      "delete-only batches land as one single-batch apply does") {
    import graft.engine.ApplyStats
    val base = (0 until 30).map(i => (i.toLong, "insert", doc3(i, 1)))
    // (a) a new scalar field
    val a = (0 until 10).map(i =>
      (100L + i, "update", doc3(i, 2, ""","extra":"x$i"""")))
    // (b) a number field widened to text
    val b = (10 until 15).map(i => (200L + i, "update",
      doc3(i, 2).replace(s""""n":$i""", s""""n":"t$i"""")))
    // (c) a new id-keyed array: a new child table
    val c = (15 until 20).map(i => (300L + i, "update",
      doc3(i, 2, s""","parts":[{"id":"p$i","w":$i}]""")))
    // (d) (c) delivered again: every doc revision-skipped
    val d = c
    // (e) deletes only
    val del = (25 until 28).map(i =>
      (400L + i, "delete", s"""{"id":"k-$i"}"""))

    val root = SparkTestSession.tmpDir("graft-spec-")
    val e = new Engine(spark, root, numBuckets = 8)
    e.applyEvents("ent", events(base), "b:0", incremental = true)
    assert(tablesOf(e, "ent").size == 3)
    val got = Seq(a, b, c, d, del).zipWithIndex.map { case (evs, i) =>
      e.applyEvents("ent", events(evs), s"b:${i + 1}", incremental = true)
    }
    assert(got == Seq(
      ApplyStats(10, 10, 0, 0, 3),
      ApplyStats(5, 5, 0, 0, 3),
      ApplyStats(5, 5, 0, 0, 4),
      ApplyStats(0, 0, 0, 5, 4),
      ApplyStats(3, 0, 3, 0, 4)))
    assert(tablesOf(e, "ent").size == 4)

    val freshRoot = SparkTestSession.tmpDir("graft-spec-fresh-")
    val fresh = new Engine(spark, freshRoot, numBuckets = 8)
    fresh.applyEvents("ent", events(base ++ a ++ b ++ c ++ d ++ del), "f:1",
      incremental = true)
    val (gotRows, gotTree) = lakeState(e)
    val (wantRows, wantTree) = lakeState(fresh)
    assert(gotTree == wantTree)
    assert(gotRows.keySet == wantRows.keySet)
    wantRows.foreach { case (t, rows) =>
      assert(gotRows(t) == rows, t)
      assert(rows.nonEmpty, t)
    }
  }

  test("steady-state incr apply on a 3-table lake: control-plane call budget") {
    def doc3(i: Int, rev: Int) = s"""{"id":"k-$i","rev":"$rev",""" +
      s""""items":[{"id":"a$i","q":$rev}],"meta":{"m":"m$i-$rev"}}"""
    def batch(lsn0: Long, revOf: Int => Int) = events((0 until 20)
      .map(i => (lsn0 + i, "update", doc3(i, revOf(i)))))
    val root = "graftfs:" + SparkTestSession.tmpDir("graft-budget-")
    val e = new Engine(spark, root, numBuckets = 8)
    e.applyEvents("ent", batch(0L, _ => 1), "b:1", incremental = true)
    e.applyEvents("ent", batch(100L, i => if (i < 10) 1 else 2), "b:2",
      incremental = true)
    assert(tablesOf(e, "ent").size == 3)
    val kinds = Seq("lists" -> GraftTestFs.lists, "stats" -> GraftTestFs.stats,
      "opens" -> GraftTestFs.opens, "creates" -> GraftTestFs.creates,
      "renames" -> GraftTestFs.renames, "mkdirs" -> GraftTestFs.mkdirs)
    val before = kinds.map(_._2.get)
    // 10 re-deliveries and 10 new revisions
    val st = e.applyEvents("ent", batch(200L, i => if (i < 10) 1 else 3),
      "b:3", incremental = true)
    assert(st.skippedUnchanged == 10 && st.dedupedDocs == 10)
    val used = kinds.zip(before).map { case ((k, c), b) => k -> (c.get - b) }
    // the calls this apply makes today: a new call on the steady-state
    // path must be a decision, not a drift
    val budget = Map("lists" -> 48L, "stats" -> 86L, "opens" -> 17L,
      "creates" -> 21L, "renames" -> 18L, "mkdirs" -> 21L)
    used.foreach { case (k, n) =>
      assert(n <= budget(k), s"$k: $n calls, budget ${budget(k)} ($used)")
    }
  }
}
