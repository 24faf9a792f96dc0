package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FilterFileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The `file:` filesystem graft writes through: Hadoop's checksummed
  * local filesystem, minus two shell forks per call.
  *
  * Without the `libhadoop` native library, `RawLocalFileSystem` forks
  * `chmod` for every file and directory it creates with a permission
  * and `readlink` on every `getFileLinkStatus` — twice per
  * `FileContext` rename, the streaming checkpoint-log commit — each
  * with its own stderr-reader thread. A checkpointed file-source loop
  * writes thousands of tiny parquet, `.crc` and log files per pass, so
  * these forks, not the I/O, dominate its file writes.
  * [[NioRawLocalFileSystem]] removes them; checksums, rename and delete
  * stay the stock code.
  *
  * [[install]] is idempotent and runs where a caller's session enters
  * graft (`SparkEntry`, `ParquetWarehouse`, the mains, the test
  * session). It sets `fs.file.impl` and `fs.AbstractFileSystem.file.impl`
  * on the session's Hadoop conf, and replaces FileSystem's cached stock
  * `file:` instance, which every later `FileSystem.get` returns whatever
  * conf it is given. A caller's own choice of either key, or a cached
  * instance of another class, is left as it is.
  */
object LocalFs {

  private val fsKey = "fs.file.impl"
  private val afsKey = "fs.AbstractFileSystem.file.impl"
  private val stockAfs = "org.apache.hadoop.fs.local.LocalFs"
  private val local = URI.create("file:///")

  def install(spark: SparkSession): Unit = install(spark.sparkContext.hadoopConfiguration)

  def install(conf: Configuration): Unit = synchronized {
    if (conf.get(fsKey) == null) conf.set(fsKey, classOf[NioLocalFileSystem].getName)
    if (conf.get(afsKey) == stockAfs) conf.set(afsKey, classOf[NioLocalFs].getName)
    if (conf.get(fsKey) == classOf[NioLocalFileSystem].getName) replaceCached(conf)
  }

  /** The classes a stock `file:` lookup builds: Hadoop's
    * `LocalFileSystem`, or whatever the classpath's `FileSystem`
    * services register for the scheme (Spark's bundled Hive registers
    * `ProxyLocalFileSystem`, a pass-through wrapper of it).
    */
  private lazy val stockClasses: Set[Class[_]] =
    Set(classOf[LocalFileSystem], FileSystem.getFileSystemClass("file", new Configuration(false)))

  /** Evict the cached stock instance so the next lookup builds ours.
    * `close()` is the only public eviction, and it also runs the
    * delete-on-exit list of the instance and of every filesystem it
    * wraps; an instance with any pending entry is kept, so install
    * never deletes anything. The lists stay locked from the check
    * through the close, so no entry can be added in between.
    */
  private def replaceCached(conf: Configuration): Unit = {
    val cached = FileSystem.get(local, conf)
    if (stockClasses(cached.getClass)) {
      closeIfNothingPending(cached, cached)
      FileSystem.get(local, conf); ()
    }
  }

  private def closeIfNothingPending(top: FileSystem, fs: FileSystem): Unit = {
    val pending = deleteOnExit(fs)
    pending.synchronized {
      if (pending.isEmpty) fs match {
        case f: FilterFileSystem => closeIfNothingPending(top, f.getRawFileSystem)
        case _ => top.close()
      }
    }
  }

  private val deleteOnExitField = {
    val f = classOf[FileSystem].getDeclaredField("deleteOnExit")
    f.setAccessible(true)
    f
  }

  private def deleteOnExit(fs: FileSystem): java.util.Set[_] =
    deleteOnExitField.get(fs).asInstanceOf[java.util.Set[_]]
}

/** `RawLocalFileSystem` without its per-call shell forks ([[LocalFs]]).
  *
  *  - [[setPermission]] applies the same mode bits through
  *    `Files.setPosixFilePermissions`; a sticky bit (which `java.nio`
  *    cannot express) or a non-POSIX filesystem falls back to `super`.
  *  - [[getFileLinkStatus]] asks `super` only when the path is a
  *    symlink; for anything else `super` returns `getFileStatus`, which
  *    is what this returns without running `readlink`.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The rwx bits of `mode`; `values` runs OWNER_READ … OTHERS_EXECUTE,
    * i.e. bit 8 down to bit 0.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if (((mode >> (8 - i)) & 1) != 0) perms.add(p)
    }
    perms
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]].
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (`FileContext`, which the streaming
  * checkpoint logs write through): the stock `LocalFs` — a `ChecksumFs`
  * over `RawLocalFs` — with [[NioRawLocalFileSystem]] underneath.
  */
final class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private),
  * rebuilt over [[NioRawLocalFileSystem]] with the same overrides.
  */
final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
