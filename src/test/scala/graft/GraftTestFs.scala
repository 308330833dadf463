package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A NON-DEFAULT Hadoop FileSystem (scheme `graftfs`, registered via
  * `spark.hadoop.fs.graftfs.impl`) proving the lake/registry/metrics
  * control plane routes every byte through the FileSystem API: local
  * storage underneath, a distinct scheme on top, and op counters the spec
  * asserts on. NOT the `file:` scheme, so [[graft.lake.Fio]] takes its
  * generic DFS branch (tmp-then-rename publish, FileSystem.append).
  *
  * `stats` and `mkdirs` count only the calls made from outside this
  * FileSystem: RawLocalFileSystem stats every child of a listing and
  * makes a created file's parent dirs through the same public methods. */
class GraftTestFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")

  override def initialize(uri: URI, conf: Configuration): Unit = {
    GraftTestFs.inits.incrementAndGet()
    super.initialize(uri, conf)
  }
  /** `body`, run as a call nested in one of this FileSystem's own. */
  private def nested[A](body: => A): A = {
    GraftTestFs.depth.set(GraftTestFs.depth.get + 1)
    try body finally GraftTestFs.depth.set(GraftTestFs.depth.get - 1)
  }
  private def outer(counter: AtomicLong): Unit =
    if (GraftTestFs.depth.get == 0) counter.incrementAndGet()

  override def getFileStatus(f: Path): FileStatus = {
    outer(GraftTestFs.stats)
    nested(super.getFileStatus(f))
  }
  override def mkdirs(f: Path): Boolean = {
    outer(GraftTestFs.mkdirs)
    nested(super.mkdirs(f))
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    outer(GraftTestFs.mkdirs)
    nested(super.mkdirs(f, permission))
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GraftTestFs.opens.incrementAndGet()
    val task = org.apache.spark.TaskContext.get()
    if (task != null) GraftTestFs.taskOpens.add((task.stageId(), f.toString))
    nested(super.open(f, bufferSize))
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    GraftTestFs.creates.incrementAndGet()
    GraftTestFs.createdPaths.add(f.toString)
    nested(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }
  // RawLocalFileSystem's permission-less create does not route through
  // the override above
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    GraftTestFs.creates.incrementAndGet()
    GraftTestFs.createdPaths.add(f.toString)
    nested(super.create(f, overwrite, bufferSize, replication, blockSize,
      progress))
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    GraftTestFs.lists.incrementAndGet()
    GraftTestFs.listedPaths.add(f.toString)
    val listed = nested(super.listStatus(f))
    Option(GraftTestFs.afterList.get).filter(_._1(f))
      .filter(GraftTestFs.afterList.compareAndSet(_, null))
      .foreach(_._2())
    listed
  }
  override def rename(src: Path, dst: Path): Boolean = {
    GraftTestFs.renames.incrementAndGet()
    nested(super.rename(src, dst))
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    GraftTestFs.deletes.incrementAndGet()
    nested(super.delete(f, recursive))
  }
}

object GraftTestFs {
  val inits = new AtomicLong
  val opens = new AtomicLong
  val creates = new AtomicLong
  val lists = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  /** `getFileStatus` and `mkdirs` calls made from outside this FileSystem. */
  val stats = new AtomicLong
  val mkdirs = new AtomicLong
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  /** (stage id, path) of every open made inside a Spark task. */
  val taskOpens =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
  /** Path of every `create`, in call order. */
  val createdPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Path of every `listStatus`, in call order. */
  val listedPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** One-shot hook: the first listing of a path the predicate accepts
    * runs the action once, after the listing was taken and before the
    * caller sees it (forces an interleaving between two writers). */
  val afterList = new java.util.concurrent.atomic.AtomicReference[
    (Path => Boolean, () => Unit)]()
  def total: Long = opens.get + creates.get + lists.get + renames.get +
    deletes.get
}
