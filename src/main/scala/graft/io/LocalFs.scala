package graft.io

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without a child process per call.
  * Without `libhadoop`, stock `setPermission` runs `chmod` and
  * `getFileLinkStatus` runs `readlink` through `Shell.execCommand`:
  * one fork per part file, `.crc`, state-store file and offset/commit
  * log entry. Both go through `java.nio` here; the rest is stock. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  /** One `chmod(2)` with the mode's 10 bits, sticky bit included. A
    * directory keeps its setuid/setgid bits, as under `chmod 0755`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val kept = // 06000
      if (Files.isDirectory(path)) Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0xc00 else 0
    Files.setAttribute(path, "unix:mode", Int.box(kept | (permission.toShort & 0x3ff))) // 01777
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed local `FileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` file system that
  * the state store and the offset/commit logs use. Hadoop's `LocalFs`
  * over a twin of its `RawLocalFs`, whose constructors are
  * package-private; the twin keeps `RawLocalFs`'s four overrides.
  * `(URI, Configuration)` is the constructor Hadoop instantiates; like
  * `LocalFs`, it always serves `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
