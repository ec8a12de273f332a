package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, LocalFileSystem => HadoopLocalFileSystem,
  RawLocalFileSystem => HadoopRawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local file system without its per-file child processes.
  * Without libhadoop (`NativeIO` unavailable), stock `RawLocalFileSystem`
  * forks `chmod` for every file or directory it creates and `readlink`
  * for every `getFileLinkStatus` (each `FileContext.rename`, i.e. every
  * checkpoint-log and state-store commit). On a 4-core host a streaming
  * trigger's offset-log write took a median 59.5 ms with the forks and
  * 2 ms without. This one sets the same mode bits through `java.nio`
  * and answers a path that is not a symlink with `getFileStatus`, the
  * answer stock gives it after `readlink` prints nothing. Modes with
  * sticky, setuid or setgid bits, modes on libhadoop hosts, and
  * symlinks keep Hadoop's own code. */
class RawLocalFileSystem extends HadoopRawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    // 0xe00 = 07000: chmod keeps a directory's setuid/setgid bits, nio clears them
    if (NativeIO.isAvailable || permission.getStickyBit ||
        (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
      super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { b => // OWNER_READ (0400) first
        if ((permission.toShort & (0x100 >> b.ordinal)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(file, bits)
    }
  }

  // stock reads the link of `new File(f.toString)` and returns
  // getFileStatus(f) when that is no symlink
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new java.io.File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` (`fs.file.impl`) over [[RawLocalFileSystem]]. */
class LocalFileSystem extends HadoopLocalFileSystem(new RawLocalFileSystem)

/** `FileContext`'s raw local `AbstractFileSystem` over [[RawLocalFileSystem]],
  * with the overrides of Hadoop's `RawLocalFs` (its constructors are
  * package-private). */
class RawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new RawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` file system (`fs.AbstractFileSystem.file.impl`). */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(uri, conf))

object LocalFs {
  /** Session settings that make the `file` scheme resolve to these classes
    * on both Hadoop APIs. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)
}
