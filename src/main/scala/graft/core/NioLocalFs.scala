package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the per-file process forks.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` for every file
  * and directory it creates (data files, `.crc` sidecars, `_temporary`
  * dirs) and `readlink` for every `getFileLinkStatus`, which FileContext
  * calls twice per rename (every checkpoint-log commit). This one sets
  * the same nine permission bits through NIO and answers the link status
  * of a non-symlink from `getFileStatus`, which is exactly what Hadoop
  * returns when `readlink` prints nothing. Real symlinks and bits NIO
  * cannot express (sticky) still go through Hadoop's own code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `file:` FileSystem (`.crc` sidecars
  * written and verified) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The AbstractFileSystem over [[NioRawLocalFileSystem]], mirroring
  * Hadoop's `RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext view
  * (the streaming checkpoint manager's API), mirroring Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
