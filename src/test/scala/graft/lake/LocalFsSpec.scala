package graft.lake

import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, ChecksumFileSystem, FileSystem, LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftHdfsLikeFs, GraftObjFs, GraftTestFs, SparkTestSession}

/** The lake's fork-free local FileSystem ([[LocalFs]] under
  * [[ChecksummedLocalFs]]): same modes and checksums as stock `file:`,
  * scoped to lake writes, and no `chmod` process per created file. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val LocalUri = new java.net.URI("file:///")

  private def writeConf: Configuration =
    spark.sessionState.newHadoopConfWithOptions(LakeTable.WriteOptions)

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** One merge of 32 keys into a fresh 4-bucket table; returns the table
    * and its delta segment dirs. */
  private def mergedTable(): (LakeTable, Seq[JPath]) = {
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-localfs-"),
      "T", numBuckets = 4)
    t.create(StructType(Seq(StructField("ID", StringType, nullable = false),
      StructField("V", StringType))), Seq("ID"), "ID")
    t.merge((0 until 32).map(i => s"k$i" -> s"v$i").toDF("ID", "V"),
      Seq("ID"), "ID", "c1")
    val segs = t.snapshot().segments.filter(_.kind == "delta")
      .map(seg => Paths.get(t.root, t.name, seg.path))
    assert(segs.nonEmpty)
    (t, segs)
  }

  private def dataFiles(seg: JPath): Seq[JPath] = {
    val s = Files.list(seg)
    try s.iterator.asScala.toList
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .filterNot(_.getFileName.toString.startsWith("."))
    finally s.close()
  }

  private def crcOf(f: JPath): JPath =
    f.resolveSibling("." + f.getFileName + ".crc")

  /** The session's own `file:` FS: a checksummed LocalFileSystem (Spark's
    * Hive jar may register its ProxyLocalFileSystem subclass) over the stock
    * raw class. */
  private def assertStock(fs: FileSystem): Unit = fs match {
    case l: LocalFileSystem =>
      assert(!l.isInstanceOf[ChecksummedLocalFs])
      assert(l.getRawFileSystem.getClass == classOf[RawLocalFileSystem])
    case other => fail(s"stock file: is ${other.getClass}")
  }

  /** (dir, file, .crc) modes a create through `fs` leaves behind. */
  private def createdModes(fs: FileSystem): (String, String, String) = {
    val d = Paths.get(SparkTestSession.tmpDir("graft-localfs-ref-"), "d")
    val f = d.resolve("f")
    val out = fs.create(new HPath(f.toUri))
    try out.write(1) finally out.close()
    (mode(d), mode(f), mode(crcOf(f)))
  }

  test("delta files, their .crc siblings and bucket dirs get stock modes") {
    val (_, segs) = mergedTable()
    val stock = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    assertStock(stock)
    val (dirMode, fileMode, crcMode) = createdModes(stock)
    segs.foreach { seg =>
      assert(mode(seg) == dirMode, seg)
      val files = dataFiles(seg)
      assert(files.nonEmpty, seg)
      files.foreach { f =>
        assert(mode(f) == fileMode, f)
        assert(Files.exists(crcOf(f)), s"no .crc beside $f")
        assert(mode(crcOf(f)) == crcMode, crcOf(f))
      }
    }
    // and under a non-default umask, where a skipped chmod would show
    val conf = writeConf
    conf.set("fs.permissions.umask-mode", "077")
    val ours = new HPath(LocalUri).getFileSystem(conf)
    val stockConf = new Configuration(conf)
    stockConf.unset("fs.file.impl")
    val stock077 = FileSystem.newInstance(LocalUri, stockConf)
    try {
      assertStock(stock077)
      assert(createdModes(ours) == createdModes(stock077))
    } finally stock077.close()
    assert(createdModes(ours) == (("rwx------", "rw-------", "rw-------")))
  }

  test("checksums stay on: a flipped byte in a delta fails its read") {
    val (t, segs) = mergedTable()
    assert(t.read().count() == 32) // every written .crc verifies
    val f = dataFiles(segs.head).head
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(f, bytes)
    val conf = spark.sessionState.newHadoopConf()
    val raw = new RawLocalFileSystem
    raw.initialize(LocalUri, conf)
    def readAll(fs: FileSystem): Int = {
      val in = fs.open(new HPath(f.toUri))
      try in.readAllBytes().length finally in.close()
    }
    assert(readAll(raw) == bytes.length) // the bytes themselves read fine
    // a plain ChecksumFileSystem verifies the .crc like `file:` does, but
    // does not quarantine the bad file to a `bad_files` dir at the mount
    // root the way LocalFileSystem.reportChecksumFailure would
    val checked = new ChecksumFileSystem(raw) {}
    checked.setConf(conf)
    intercept[ChecksumException](readAll(checked))
  }

  test("write options: file: resolves to the fork-free class, other schemes unchanged") {
    val conf = writeConf
    val local = new HPath(SparkTestSession.tmpDir("graft-localfs-c-"))
    local.getFileSystem(conf) match {
      case l: ChecksummedLocalFs =>
        assert(l.getRawFileSystem.getClass == classOf[LocalFs])
      case other => fail(s"file: resolved to ${other.getClass}")
    }
    Seq("graftfs" -> classOf[GraftTestFs], "graftobj" -> classOf[GraftObjFs],
      "grafthdfs" -> classOf[GraftHdfsLikeFs]).foreach { case (scheme, cls) =>
      val p = new HPath(scheme + ":" + local.toUri.getPath)
      assert(p.getFileSystem(conf).getClass == cls, scheme)
    }
    // the session's own conf is untouched (ADVICE r4)
    assertStock(local.getFileSystem(spark.sessionState.newHadoopConf()))
    // the control plane hands out the same raw class for file:
    val fio = new Fio(spark.sessionState.newHadoopConf())
    assert(fio.fsOf(local).getClass == classOf[LocalFs])
    assert(fio.fsOf(new HPath("graftfs:" + local.toUri.getPath))
      .getClass == classOf[GraftTestFs])
  }

  test("200 creates through the write-option FS fork under a tenth of stock") {
    val stat = Paths.get("/proc/stat")
    assume(Files.isReadable(stat), "no /proc/stat on this host")
    assume(!NativeIO.isAvailable, "with libhadoop stock Hadoop forks no chmod")
    def processes(): Long = {
      val line = Files.readAllLines(stat).asScala
        .find(_.startsWith("processes ")).get
      line.split("\\s+")(1).toLong
    }
    def forksFor(fs: FileSystem): Long = {
      val dir = new HPath(SparkTestSession.tmpDir("graft-localfs-d-"))
      fs.mkdirs(dir)
      val p0 = processes()
      (0 until 200).foreach { i =>
        val out = fs.create(new HPath(dir, s"f$i"))
        try out.write(i) finally out.close()
      }
      processes() - p0
    }
    val ours = new HPath(LocalUri).getFileSystem(writeConf)
    val stock = FileSystem.newInstance(LocalUri,
      spark.sessionState.newHadoopConf())
    try {
      forksFor(ours) // warm-up
      // /proc/stat counts every process the host creates. Both counts are
      // measured back to back; stock's window is far longer (chmod
      // processes for every file and .crc), so a steady fork rate
      // elsewhere on the host adds far more to stock's count than to ours.
      val oursForks = forksFor(ours)
      val stockForks = forksFor(stock)
      assert(stockForks >= 200, s"the counter missed stock's chmod forks")
      assert(oursForks * 10 < stockForks,
        s"$oursForks processes forked for 200 creates, stock $stockForks")
    } finally stock.close()
  }
}
