package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

/** The local (`file:`) filesystem the engine writes through: Hadoop's own,
  * except that setting a file's or directory's mode does not fork, and
  * neither does asking whether a plain file is a symlink.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs the `chmod`
  * command, and Hadoop calls it for every file, `.crc` and directory it
  * creates: each data file a task writes, the committer's `_temporary`
  * tree, `_SUCCESS`, the stream's offset, commit and source logs, the
  * table's metadata and an ingress segment. A fork costs ~3.7 ms on a
  * 4-core Linux host; the same mode set through `java.nio` costs a few µs.
  * [[NioRawLocalFileSystem]] sets the same bits through `java.nio`,
  * answers Structured Streaming's checkpoint renames without the `readlink`
  * fork they paid per file and `.crc`, and leaves everything else to
  * Hadoop.
  *
  * [[install]] points a Hadoop configuration's `file:` scheme at it for
  * both Hadoop APIs: the `FileSystem` API (Spark's writer and committer,
  * the table layer, the ingress flush) and the `FileContext` API
  * (Structured Streaming's checkpoint logs). The engine's entry points
  * install it on the session's configuration, which Spark copies into
  * every job and ships to its tasks.
  */
object LocalFs {

  private val ImplKey = "fs.file.impl"
  private val NoCacheKey = "fs.file.impl.disable.cache"
  private val AfsKey = "fs.AbstractFileSystem.file.impl"

  /** Install on the configuration of `spark` (see the other overload). */
  def install(spark: SparkSession): Unit = install(spark.sparkContext.hadoopConfiguration)

  /** Point `conf`'s `file:` scheme at the graft classes. Idempotent. A
    * configuration that already names a `file:` implementation other than
    * Hadoop's default is left as it is.
    *
    * Three keys: `fs.file.impl` for `FileSystem.get`, which Hadoop caches
    * by scheme and user, never by configuration, so the `file:` cache is
    * turned off too (a cached `LocalFileSystem` made before the install
    * would otherwise keep being returned; an uncached get costs ~10 µs);
    * and `fs.AbstractFileSystem.file.impl` for `FileContext`, which is
    * not cached.
    */
  def install(conf: Configuration): Unit = {
    val impl = conf.get(ImplKey)
    val afsImpl = conf.get(AfsKey)
    // only Hadoop's defaults are replaced: an installed conf names the
    // graft classes, a user's names their own
    if ((impl == null || impl == classOf[LocalFileSystem].getName) &&
        (afsImpl == null || afsImpl == classOf[org.apache.hadoop.fs.local.LocalFs].getName)) {
      conf.set(ImplKey, classOf[NioLocalFileSystem].getName)
      conf.setBoolean(NoCacheKey, true)
      conf.set(AfsKey, classOf[NioLocalFs].getName)
    }
  }
}

/** `RawLocalFileSystem` that neither forks `chmod` to set a mode nor
  * `readlink` to look at a path that is not a symlink.
  *
  * `setPermission`: only the nine rwx bits go through `java.nio`; a mode
  * with any other bit (sticky), or a file store without a POSIX attribute
  * view, takes Hadoop's own path.
  *
  * `getFileLinkStatus`: Hadoop runs `readlink` on the path string, for
  * every call (`FileContext.rename` makes four: source, destination and
  * both `.crc`s, so each checkpoint log entry of a stream paid them), and
  * returns `getFileStatus` when the command finds no link. A path that
  * `java.nio` says is not a symlink (including one that does not exist)
  * returns that directly; a symlink, dangling or not, takes Hadoop's own
  * path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    if ((mode & ~0x1ff) != 0 || view == null) super.setPermission(p, permission)
    else view.setPermissions(NioRawLocalFileSystem.toPosix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  // PosixFilePermission is declared owner r/w/x, group r/w/x, others
  // r/w/x: ordinal i is mode bit 8 - i
  private val Bits = PosixFilePermission.values.toIndexedSeq

  private[util] def toPosix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach(b => if ((mode & (1 << (8 - b.ordinal))) != 0) s.add(b))
    s
  }
}

/** The checksummed `FileSystem` over [[NioRawLocalFileSystem]]: Hadoop's
  * `LocalFileSystem` (`.crc` side files included) with no forked `chmod`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` binding of [[NioRawLocalFileSystem]]. Hadoop's
  * `RawLocalFs` has a package-private constructor, so its three overrides
  * are repeated here.
  */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` filesystem over [[NioRawLocalFs]] (what
  * Hadoop's `LocalFs` is over `RawLocalFs`, which also ignores the URI it
  * is handed). */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
