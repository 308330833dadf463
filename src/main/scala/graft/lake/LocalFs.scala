package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The raw local FileSystem with an in-process `setPermission`.
  *
  * Without libhadoop, stock [[RawLocalFileSystem]] applies every mode by
  * forking `chmod` — and it does so on EVERY create and mkdir, once for the
  * data file and once more for its `.crc` sibling under the checksummed
  * wrapper: ~12 ms per created file, most of a micro-batch's delta write.
  * This class sets the same (already umasked) mode bits with one `chmod(2)`
  * through java.nio. Everything else — modes, checksums, rename/commit
  * semantics — is the stock class. The stock path still runs for the bit
  * java.nio cannot express (sticky) and on file stores without POSIX
  * attributes. */
class LocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        ()
      } catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
}

/** The checksummed local FileSystem (writes and verifies `.crc` siblings,
  * exactly like stock `file:`) over [[LocalFs]]. Registered as `fs.file.impl`
  * per lake write by [[LakeTable.WriteOptions]]. */
class ChecksummedLocalFs extends LocalFileSystem(new LocalFs)
