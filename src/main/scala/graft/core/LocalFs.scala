package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its shell fallbacks. With no
  * native `libhadoop` loaded, the stock class forks `chmod` for every
  * `setPermission` (each file create and each `mkdirs` with a mode) and
  * `readlink` for every `getFileLinkStatus` (each `FileContext` rename).
  * Both are done here through java.nio in the JVM; every other call, and
  * the cases below that java.nio does not cover the same way, are the
  * stock code. Bound in [[Sessions.builder]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The rwx bits through `Files.setPosixFilePermissions`, which follows
    * symlinks as `chmod` does. A mode with a bit above 0777 (sticky) goes
    * to the stock code, which passes all 12 bits to `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // beyond 0777
    else {
      // PosixFilePermission declares OWNER_READ .. OTHERS_EXECUTE in bit order 8 .. 0
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** The stock method forks `readlink` on the path's string form. For a
    * `file:`-qualified path, as the checkpoint WAL's renames pass, that
    * readlink always fails, and the stock result is `getFileStatus(f)`;
    * for a path that is not a symlink it is `getFileStatus(f)` too. So
    * only a symlink reaches the stock code. A missing path is not a
    * symlink: `getFileStatus` throws `FileNotFoundException`, as stock. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local `FileSystem` (parquet sink,
  * FileOutputCommitter) over [[NioRawLocalFileSystem]]. Without the
  * binding, Spark's jar set maps `file:` to Hive's `ProxyLocalFileSystem`
  * (a `ServiceLoader` entry in hive-exec), a `LocalFileSystem` whose only
  * change is this rename guard: `false` onto an existing file, as HDFS,
  * where the raw local rename would replace it. Kept, so the session's
  * `FileSystem.rename` answers as before. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl`'s raw layer: what Hadoop's
  * `RawLocalFs` does, over [[NioRawLocalFileSystem]]. `RawLocalFs`'s
  * constructors are package-private, so it is restated, not subclassed. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem (the streaming checkpoint WAL), as Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
