package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with permissions set by the
  * chmod syscall instead of a forked `chmod` process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `Shell.execCommand("chmod", …)` on every local create and mkdir: one
  * process per binary, `.crc` sidecar, temp file and directory an ingest
  * writes, each costing milliseconds where the create itself costs
  * microseconds. The raw layer here sets the mode through the JDK's
  * `unix:mode` attribute, the same syscall Hadoop's NativeIO path makes,
  * and falls back to Hadoop's own `setPermission` where that attribute
  * view is unsupported. Files keep their bytes, `.crc` sidecars and
  * modes. [[graft.GraftSession]] binds the `file:` scheme to this class.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw (checksum-free) layer of [[NioLocalFileSystem]]. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
