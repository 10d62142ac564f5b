package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its two shell commands.
  *
  * Without the native Hadoop library, the stock class runs `chmod` for
  * every `setPermission` (so for every file created with a mode and
  * every `mkdirs`) and `readlink` for every `getFileLinkStatus` (so
  * twice for every `FileContext` rename). Each command forks one
  * process and starts one stderr-reader thread. A streaming micro-batch
  * writes offsets, commits, state deltas and checksums, and a parquet
  * batch write makes its committer directories: about 128 commands per
  * micro-batch of the daemon pipeline (measured in `Tables.session`'s
  * doc). This class answers both calls through `java.nio.file` instead,
  * and leaves everything else to the stock one.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** Modes in 0..0777 through `java.nio.file`; bits above 0777 (sticky,
    * setuid, setgid) have no `PosixFilePermission` and take the stock
    * path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val file = pathToFile(p)
      try Files.setPosixFilePermissions(file.toPath, PosixFilePermissions.fromString(permission.toString))
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
      }
    }

  /** A path that is not a symlink gets `getFileStatus(f)`: what the stock
    * method returns after an empty `readlink`. A symlink takes the stock
    * path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for the `FileSystem` API (`fs.file.impl`): the stock checksummed
  * `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `file:` for the `FileContext` API (`fs.AbstractFileSystem.file.impl`),
  * which Spark's checkpoint and state-store file managers use: the stock
  * `ChecksumFs` over [[ForkFreeRawLocalFs]], as Hadoop's `LocalFs` is over
  * `RawLocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]], with its three overrides. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // no default port for file:///
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true // the OS validates local names
}
