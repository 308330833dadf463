package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

/** A versioned-JSON log, the one form of the lake's control-plane
  * metadata: every table's snapshot log (`<table>/_snap`) and every
  * entity's schema registry (`_registry_<entity>`). Version `v` is the
  * file `vNNNNN.json` under `dir`, never rewritten once published. The
  * newest version takes one listing. Parsed versions are cached
  * process-wide, a hit checked against the file's (version, modification
  * time, length): a log dropped and re-created at the same path puts a
  * different file under the same version. `parse` turns (version, text)
  * into a value that every reader shares, so it must be immutable. */
final class VersionLog[T](fio: Fio, dir: HPath, parse: (Int, String) => T) {

  private def path(v: Int): HPath = new HPath(dir, f"v$v%05d.json")

  /** Published versions with their file status, oldest first: one
    * listing. */
  def versions(): Seq[(Int, FileStatus)] =
    fio.list(dir).map(st => VersionLog.versionOf(st.getPath.getName) -> st)
      .filter(_._1 > 0).sortBy(_._1)

  /** The newest version, parsed, None for an empty log: one listing. */
  def latest(): Option[(Int, T)] =
    versions().lastOption.map { case (v, st) => v -> read(v, st) }

  /** Version `v`'s status, None when it is absent: one stat. */
  def status(v: Int): Option[FileStatus] = fio.status(path(v))

  /** Version `v`, parsed through the cache; `st` is its status from the
    * listing or stat that found it. */
  def read(v: Int, st: FileStatus): T = {
    val key = (dir.toString, v)
    val hit = VersionLog.cache.get(key)
    if (hit != null && hit._1 == st.getModificationTime &&
      hit._2 == st.getLen) hit._3.asInstanceOf[T]
    else {
      val value = parse(v, fio.readString(st.getPath))
      if (VersionLog.cache.size() >= VersionLog.MaxCache)
        VersionLog.cache.clear() // crude, bounded; rebuilt on demand
      VersionLog.cache.put(key, (st.getModificationTime, st.getLen, value))
      value
    }
  }

  /** Version `v`, parsed through the cache: one stat. */
  def read(v: Int): T = read(v, status(v).getOrElse(throw
    new java.io.FileNotFoundException(s"${path(v)} does not exist")))

  /** Publish `content` as version `v`, create-exclusive
    * ([[Fio.createExclusive]]): false when `v` already exists, so a writer
    * that lost the race re-derives on the new head instead of replacing
    * the winner's file. The first version creates the log's directory. */
  def publish(v: Int, content: String): Boolean = {
    if (v == 1) fio.mkdirs(dir)
    fio.createExclusive(path(v), content)
  }

  /** Delete every version but the newest `keep` and those in `pinned`;
    * returns how many were deleted. */
  def expire(keep: Int, pinned: Set[Int]): Int = {
    val stale = versions().dropRight(keep).filterNot(f => pinned(f._1))
    stale.foreach(f => fio.delete(f._2.getPath, recursive = false))
    stale.size
  }
}

object VersionLog {
  /** The version a log file name carries, −1 for any other name. */
  private def versionOf(n: String): Int =
    if (n.startsWith("v") && n.endsWith(".json"))
      n.stripPrefix("v").stripSuffix(".json").toIntOption.getOrElse(-1)
    else -1

  /** Process-wide parse cache keyed by (log dir, version), holding the
    * file's (modification time, length) the value was parsed from. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      (Long, Long, Any)]()
  private val MaxCache = 512

  /** Test hook: simulate a process restart (cold cache). */
  private[graft] def clearCache(): Unit = cache.clear()
}
