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
  * generic DFS branch (tmp-then-rename publish, FileSystem.append). */
class GraftTestFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")

  override def initialize(uri: URI, conf: Configuration): Unit = {
    GraftTestFs.inits.incrementAndGet()
    super.initialize(uri, conf)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GraftTestFs.opens.incrementAndGet()
    val task = org.apache.spark.TaskContext.get()
    if (task != null) GraftTestFs.taskOpens.add((task.stageId(), f.toString))
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    GraftTestFs.creates.incrementAndGet()
    GraftTestFs.createdPaths.add(f.toString)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  // RawLocalFileSystem's permission-less create does not route through
  // the override above
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    GraftTestFs.creates.incrementAndGet()
    GraftTestFs.createdPaths.add(f.toString)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    GraftTestFs.lists.incrementAndGet()
    super.listStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    GraftTestFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    GraftTestFs.deletes.incrementAndGet()
    super.delete(f, recursive)
  }
}

object GraftTestFs {
  val inits = new AtomicLong
  val opens = new AtomicLong
  val creates = new AtomicLong
  val lists = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  /** (stage id, path) of every open made inside a Spark task. */
  val taskOpens =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
  /** Path of every `create`, in call order. */
  val createdPaths = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def total: Long = opens.get + creates.get + lists.get + renames.get +
    deletes.get
}
