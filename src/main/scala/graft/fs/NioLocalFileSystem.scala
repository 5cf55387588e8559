package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every session (`SparkEntry.requiredConfs`):
  * Hadoop's checksummed local filesystem, starting no processes.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` runs a
  * `chmod` process for every file and directory it creates with a
  * permission (a file and its `.crc` are two), and a `readlink` process
  * for every `getFileLinkStatus`, which each FileContext rename calls two
  * to four times. Each start costs milliseconds; a streaming trigger's
  * offset, commit and source logs, its state checkpoint and its sink
  * files made about 70 of them. Here a permission is set through
  * `java.nio`, and a path that is not a symbolic link reports its plain
  * status; sticky bits, non-POSIX file stores and real links take
  * Hadoop's own path, so the semantics are the stock class's. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` with its two process starts replaced. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // a bit above 0777 (0x1ff), i.e. the sticky bit: java.nio cannot set it
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioLocalFileSystem.posix(mode))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new FileNotFoundException(e.getMessage)
      }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioLocalFileSystem {
  // PosixFilePermission's declaration order: owner rwx, group rwx, others
  // rwx, the order of a mode's bits from 0400 down to 0001
  private val bits = PosixFilePermission.values.toSeq.reverse.zipWithIndex

  /** The permissions of a mode's low nine bits. */
  private[fs] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, i) => if ((mode >> i & 1) == 1) set.add(p) }
    set
  }
}

/** The FileContext twin of [[NioLocalFileSystem]] (`LocalFs` is a
  * `ChecksumFs` over `RawLocalFs`; both constructors are package-private,
  * so this restates the pair over [[NioRawLocalFileSystem]]). Spark's
  * checkpoint file managers write the offset, commit and state logs
  * through FileContext. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** `RawLocalFs` over [[NioRawLocalFileSystem]]: the same overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
