package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two per-call forks replaced by
  * java.nio.
  *
  * Without libhadoop, stock `RawLocalFileSystem` runs a `chmod` process
  * for every file and directory it creates (`setPermission`) and a
  * `readlink` process for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on source, destination and parent. Every
  * table write and every streaming checkpoint file goes through those.
  * This class sets the same mode bits with `Files.setPosixFilePermissions`
  * and asks `Files.isSymbolicLink` before falling back to the stock
  * symlink path; files, modes, checksums and rename semantics are
  * otherwise the stock ones. A mode with the sticky bit, which
  * `PosixFilePermission` cannot express, and every symlink still go to
  * `super`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      // FsAction.SYMBOL is the action's "rwx"-style triple
      val mode = PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(file, mode)
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local `FileSystem` (`.crc` sidecars
  * included) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` twin of [[NioRawLocalFileSystem]], as Hadoop's
  * `RawLocalFs` is of `RawLocalFileSystem` (whose constructors are
  * package-private, hence the copy of its three overrides). */
private[fs] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: what `FileContext` (Structured
  * Streaming's checkpoint manager) opens for `file:` paths. Like Hadoop's
  * `LocalFs`, it ignores the URI it is given; Hadoop instantiates it by
  * this two-argument constructor. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
