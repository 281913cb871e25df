package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without process spawns. Without the native
  * `libhadoop`, the stock class runs `chmod` for every `setPermission` and
  * `readlink` for every `getFileLinkStatus`: a few ms each, paid on every
  * checkpoint file create and rename (about 35 ms per metadata-log write,
  * SCALING.md "Fork-free local checkpoint I/O"). Both are done here with
  * `java.nio`; anything the stock code does differently goes to it. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** Plain rwx bits through `Files.setPosixFilePermissions` (which follows
    * symlinks, as `chmod` does); a sticky bit goes to the stock `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (bits & (0x100 >> i)) != 0 => perm
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }

  /** A non-symlink's link status is its file status: what the stock code
    * returns when `readlink` prints nothing. A symlink goes to it. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed FileSystem over [[NioRawLocalFileSystem]].
  * Without it, `file:` resolves to the class Spark's bundled Hive registers,
  * `ProxyLocalFileSystem`: a `LocalFileSystem` whose `rename` returns false
  * onto an existing file, as HDFS does, where the stock local rename would
  * overwrite it. Kept here, since callers such as `TwoPhaseCommitSink`'s
  * manifest commit count on it. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** [[NioRawLocalFileSystem]] for the FileContext API, with the overrides of
  * Hadoop's `RawLocalFs` (whose constructor is package-private). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext filesystem
  * over [[NioRawLocalFs]], as Hadoop's `LocalFs` wraps `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
