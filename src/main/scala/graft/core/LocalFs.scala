package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** A fork-free `file:` filesystem.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` shells out for
  * two calls on the streaming and sink hot paths:
  *   - `setPermission` runs `chmod` for every created file and directory
  *     (checkpoint temp files, parquet part files, committer dirs);
  *   - `getFileLinkStatus` runs `readlink` (`FileUtil.readLink`), which
  *     every `FileContext.rename` of the offset/commit logs and the
  *     state-store files calls twice.
  * One monitor run (mg + cm, 16 triggers) forked 1 139 such children;
  * SCALING.md has the per-trigger account. [[Raw]] answers both from
  * `java.nio.file` and keeps Hadoop's own code for the cases NIO cannot
  * express (the sticky bit, symlinks), so every result is the one
  * Hadoop's deprecated-status branch — the default — returns.
  *
  * [[install]] puts it behind both Hadoop APIs of a session: the
  * `FileSystem` API (parquet/JSON writers, listings) through
  * [[FileSystemImpl]] and the `FileContext` API (streaming checkpoints,
  * state stores) through [[FileContextImpl]]. */
object LocalFs {

  /** `RawLocalFileSystem` with `chmod` and `readlink` done in-process. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))

    /** Hadoop's deprecated branch returns `getFileStatus(f)` whenever
      * `readlink` prints nothing: regular files, directories, and
      * missing paths (whose `FileNotFoundException` it rethrows). Only
      * a symlink takes Hadoop's own path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The nine rwx bits; `PosixFilePermission` declares them in mode-bit
    * order, owner read (0400) first. */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b))
    set
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[Raw]]. */
  class FileSystemImpl extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` shape — a
    * `ChecksumFs` over a `DelegateToFileSystem` — over [[Raw]]. */
  class FileContextImpl(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawDelegate(uri, conf))

  /** Hadoop's `RawLocalFs` (package-private there) over [[Raw]]. */
  private class RawDelegate(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def isValidName(src: String): Boolean = true
  }

  /** The session confs [[install]] sets. Spark copies session confs into
    * every `newHadoopConf`, so they reach sinks, checkpoints and state
    * stores. The cache switch is load-bearing: Hadoop's `FileSystem`
    * cache is JVM-wide and keyed by scheme and user, not by conf, so a
    * `file:` instance cached from any other conf would be returned. */
  private val confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[FileSystemImpl].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[FileContextImpl].getName)

  /** Route the session's `file:` I/O through [[Raw]]. Idempotent, and
    * a key the session already sets is left as it is: a caller's own
    * choice (a Probe `k=v` override, say) wins. */
  def install(spark: SparkSession): Unit =
    confs.foreach { case (k, v) => if (spark.conf.getOption(k).isEmpty) spark.conf.set(k, v) }

  /** The `fs.file.impl` class the session's Hadoop conf resolves. */
  def resolved(spark: SparkSession): String =
    org.apache.hadoop.fs.FileSystem
      .getFileSystemClass("file", spark.sessionState.newHadoopConf()).getName
}
