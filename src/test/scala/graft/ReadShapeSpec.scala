package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.Catalog
import graft.engine.Engine
import graft.lake.LakeTable

/** Read plan shape: merge-on-read resolution and changefeed diffs run as
  * windows and aggregates over the bucket-partitioned lake scan, so a
  * lookup, the seq-space feed, the version diffs and time travel plan no
  * shuffle exchange; no lake read goes through Spark's own file index; the
  * incremental revision probe reads the touched buckets' root files inside
  * the dedup's reduce stage, with no broadcast and no query of its own. */
class ReadShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Executed plans of the queries `body` runs. */
  private def plans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { seen.add(qe.executedPlan); () }
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

  private def shuffles(p: SparkPlan): Int =
    collect(p) { case x: ShuffleExchangeLike => x }.size

  private def lakeScans(p: SparkPlan): Seq[BatchScanExec] =
    collect(p) { case b: BatchScanExec => b }
      .filter(_.scan.getClass.getName.startsWith("graft.lake.LakeScan"))

  private def fileIndexScans(p: SparkPlan): Seq[FileSourceScanExec] =
    collect(p) { case f: FileSourceScanExec => f }
      .filter(_.relation.location.isInstanceOf[InMemoryFileIndex])

  /** A table with a compacted base, deltas on top, and deletes. */
  private def lake(): (LakeTable, Int, Int) = {
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-readshape-"),
      "T", numBuckets = 4)
    t.create(new org.apache.spark.sql.types.StructType()
      .add("ID", "string", nullable = false).add("V", "string"),
      Seq("ID"), "ID")
    t.merge((0 until 40).map(i => (s"k$i", "a", i.toLong)).toDF("ID", "V", "lsn"),
      Seq("ID"), "ID", "c1", rowSeqCol = Some("lsn"))
    t.compactAll("compact")
    val v1 = t.currentVersion()
    t.merge((0 until 10).map(i => (s"k$i", "b", 100L + i)).toDF("ID", "V", "lsn"),
      Seq("ID"), "ID", "c2", rowSeqCol = Some("lsn"),
      deleteRootKeys = Some(Seq(("k20", 200L)).toDF("ID", "lsn")))
    t.merge(Seq(("k1", "c", 300L)).toDF("ID", "V", "lsn"), Seq("ID"), "ID",
      "c3", rowSeqCol = Some("lsn"))
    (t, v1, t.currentVersion())
  }

  private def assertNoResolutionShuffle(what: String, df: => DataFrame): Unit = {
    val ps = plans(df.collect())
    assert(ps.nonEmpty, what)
    ps.foreach { p =>
      assert(shuffles(p) == 0, s"$what planned a shuffle:\n$p")
      assert(lakeScans(p).nonEmpty, s"$what read no lake scan:\n$p")
      assert(fileIndexScans(p).isEmpty, s"$what listed through Spark:\n$p")
    }
  }

  test("lookup, feeds, diffs and time travel plan no shuffle exchange " +
      "and no InMemoryFileIndex") {
    val (t, v1, v2) = lake()
    assertNoResolutionShuffle("lookup", t.readWhere(col("ID") === "k1"))
    assertNoResolutionShuffle("full read", t.read())
    assertNoResolutionShuffle("readChangesSince", t.readChangesSince(50L))
    assertNoResolutionShuffle("readChangesBetween",
      t.readChangesBetween(v1, v2))
    assertNoResolutionShuffle("readChangesBetweenCdf",
      t.readChangesBetweenCdf(v1, v2))
    assertNoResolutionShuffle("readChangesBetween from empty",
      t.readChangesBetween(1, v2))
    assertNoResolutionShuffle("readAsOf", t.readAsOf(t.snapshot().timeMs))
    // the answers are the resolved ones
    assert(t.readWhere(col("ID") === "k1").collect().map(_.getString(1))
      .toSeq == Seq("c"))
    assert(t.readWhere(col("ID") === "k20").isEmpty)
  }

  test("a point lookup runs as one job of one stage") {
    val (t, _, _) = lake()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    val lookup = t.readWhere(col("ID") === "k3").select("V")
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(lookup.collect().map(_.getString(0)).toSeq == Seq("b"))
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(stages.get == 1, s"lookup ran ${stages.get} stages")
  }

  test("incr: no plan of the apply broadcasts or reads the root table, and " +
      "the root files read are the touched buckets' files") {
    val root = "graftfs:" + SparkTestSession.tmpDir("graft-readshape-incr-")
    val e = new Engine(spark, root, numBuckets = 8)
    def doc(i: Int, rev: Int) =
      s"""{"id":"k-$i","rev":"$rev","items":[{"id":"a$i","q":$rev}]}"""
    e.applyEvents("ent", (0 until 30).map(i => (i.toLong, "insert", doc(i, 1)))
      .toDF("lsn", "op", "doc"), "b:1", incremental = true)
    e.applyEvents("ent", (0 until 10).map(i => (100L + i, "update", doc(i, 2)))
      .toDF("lsn", "op", "doc"), "b:2", incremental = true)
    val rootT = Catalog.fromTree(e.loadRegistry("ent").get).find(_.isRoot).get
    val lake = e.table(rootT)
    // the probe reads the root table inside the dedup's reduce stage, through
    // the lake's reader, outside any query: no plan holds a broadcast or a
    // root scan, and the apply's one shuffle stage is the dedup's
    val broadcasts = new java.util.concurrent.atomic.AtomicInteger()
    val shuffleWrites = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p => Option(p.getProperty(
          "spark.job.tags"))).exists(_.contains("broadcast exchange")))
          broadcasts.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (Option(e.stageInfo.taskMetrics)
          .exists(_.shuffleWriteMetrics.recordsWritten > 0))
          shuffleWrites.incrementAndGet()
    }
    val touched = (5 until 15).map(i => lake.bucketOfKey(s"k-$i")).toSet
    val rootDir = s"/${rootT.fullName}/data/"
    val want = lake.snapshot().segments.filter(seg => touched(seg.bucket))
      .flatMap { seg =>
        val d = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(root, rootT.fullName), seg.path)
        d.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(d)
          .map(_.getPath.toUri.getPath).filter(_.endsWith(".parquet"))
      }.toSet
    GraftTestFs.taskOpens.clear()
    spark.sparkContext.addSparkListener(listener)
    val ps = try plans(e.applyEvents("ent", (5 until 15)
      .map(i => (200L + i, "update", doc(i, 2))).toDF("lsn", "op", "doc"),
      "b:3", incremental = true))
    finally spark.sparkContext.removeSparkListener(listener)
    val opened = GraftTestFs.taskOpens.asScala.map(_._2)
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
      .filter(p => p.contains(rootDir) && p.endsWith(".parquet")).toSet
    ps.foreach { p =>
      assert(collect(p) { case b: BroadcastExchangeLike => b }.isEmpty, p)
      assert(lakeScans(p).isEmpty, p) // no table reaches its compaction
      assert(fileIndexScans(p).isEmpty, p)
    }
    assert(broadcasts.get == 0, "the apply broadcast")
    assert(shuffleWrites.get == 1, s"${shuffleWrites.get} shuffles")
    assert(want.nonEmpty && opened == want, s"opened $opened, want $want")
    assert(lake.read().count() == 30)
  }
}
