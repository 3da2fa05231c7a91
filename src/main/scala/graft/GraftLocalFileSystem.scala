package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file://` filesystem over
  * [[GraftRawLocalFileSystem]]: `.crc` files are written and verified
  * exactly as by the stock `LocalFileSystem`, which this class is, so
  * `FileSystem.getLocal` and every `isInstanceOf[LocalFileSystem]` check
  * keep working. [[GraftSession.settings]] installs it as `fs.file.impl`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** A `RawLocalFileSystem` that applies permissions in-process.
  *
  * Without Hadoop's native library the stock class runs
  * `Shell.execCommand("chmod", ...)` from `setPermission`, which it calls
  * for every file it creates (and so for every `.crc` file) and every
  * directory `mkdirs` makes: one process and one stderr-reader thread
  * each. This sets the same mode with `Files.setPosixFilePermissions`.
  * It falls back to Hadoop's own path for the sticky bit, which NIO
  * cannot express, and on a store without POSIX attributes. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}
