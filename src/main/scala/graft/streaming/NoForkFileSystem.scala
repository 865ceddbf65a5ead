package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** A local Hadoop `FileSystem` that never forks a subprocess.
  *
  * Stock `RawLocalFileSystem` shells out when the native Hadoop library
  * is unavailable: `ls -ld` to lazy-load permissions in
  * `DeprecatedRawLocalFileStatus`, `chmod` in `setPermission` (hit by
  * every `create`/`mkdirs` that carries an `FsPermission`), `readlink`
  * in `getFileLinkStatus` (hit twice by every FileContext rename). A
  * streaming checkpoint writes a few tiny offset, commit and state
  * files per micro-batch and renames each into place, so where `fork`
  * is expensive those subprocesses are the trigger's dominant cost.
  *
  * This subclass answers everything from `java.nio.file` metadata and
  * treats POSIX permissions as a fiction (fixed 644/755 — checkpoint
  * directories are single-user by construction), so no codepath ever
  * reaches `Shell.execCommand`:
  *  - [[getFileStatus]]/[[listStatus]] build eagerly-populated
  *    `FileStatus` rows (no lazy permission load);
  *  - [[getFileLinkStatus]]/[[getLinkTarget]] read the link with
  *    `Files.readSymbolicLink` instead of `readlink`;
  *  - [[setPermission]]/[[setOwner]] are no-ops (kills the `chmod`/
  *    `chown` behind permissioned `create`/`mkdirs`);
  *  - [[mkdirs]] uses `Files.createDirectories` directly.
  *
  * It serves `file:///` and is reached through [[NoForkFs]], the
  * FileContext binding every graft session installs for local
  * checkpoints; ordinary `FileSystem` reads (parquet tables, etc.) keep
  * stock `LocalFileSystem`.
  */
class NoForkFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = ()

  override def setOwner(p: Path, username: String, groupname: String): Unit = ()

  override def getFileStatus(f: Path): FileStatus = status(f)

  override def getFileLinkStatus(f: Path): FileStatus = {
    if (!Files.isSymbolicLink(pathToFile(f).toPath)) return getFileStatus(f)
    val link = status(f, LinkOption.NOFOLLOW_LINKS)
    link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, link.getPath, getLinkTarget(f)))
    link
  }

  override def getLinkTarget(f: Path): Path =
    new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)

  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (file.isFile) return Array(getFileStatus(f))
    val names = file.list()
    if (names == null) throw new FileNotFoundException(s"File $f does not exist")
    names.sorted.map(n => getFileStatus(new Path(f, n)))
  }

  override def mkdirs(f: Path): Boolean = mkdirs(f, null)

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Files.createDirectories(pathToFile(f).toPath)
    true
  }

  private def status(f: Path, opts: LinkOption*): FileStatus = {
    val attrs =
      try Files.readAttributes(pathToFile(f).toPath, classOf[BasicFileAttributes], opts: _*)
      catch {
        case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist")
      }
    new FileStatus(attrs.size(), attrs.isDirectory, 1, getDefaultBlockSize(f),
      attrs.lastModifiedTime().toMillis, attrs.lastAccessTime().toMillis,
      if (attrs.isDirectory) NoForkFileSystem.DirPerm else NoForkFileSystem.FilePerm,
      NoForkFileSystem.User, NoForkFileSystem.User, null,
      f.makeQualified(getUri, getWorkingDirectory))
  }
}

object NoForkFileSystem {
  private val DirPerm = new FsPermission("755")
  private val FilePerm = new FsPermission("644")
  private val User = System.getProperty("user.name", "spark")
}

/** The `file:` FileContext of a graft session: stock `LocalFs` layering
  * (`ChecksumFs` over a `DelegateToFileSystem`) with [[NoForkFileSystem]]
  * underneath. Spark's default `CheckpointFileManager` writes offset and
  * commit logs, HDFS-backed state and the RocksDB provider's metadata
  * through this layer, so those writes keep their `.crc` sidecars,
  * temp-file-then-rename commits and no-overwrite rename check while no
  * longer forking. Hadoop instantiates it reflectively from
  * `fs.AbstractFileSystem.file.impl`; [[NoForkFs.bind]] sets that key.
  */
class NoForkFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkFs.Raw(conf))

object NoForkFs {
  val Key = "fs.AbstractFileSystem.file.impl"

  /** Binds [[NoForkFs]] on the session's Hadoop configuration, which
    * every query's Hadoop configuration derives from. Idempotent, and
    * only replaces Hadoop's default `LocalFs`, so any other configured
    * `file:` FileContext stays.
    */
  def bind(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get(Key) == classOf[LocalFs].getName) conf.set(Key, classOf[NoForkFs].getName)
  }

  /** `RawLocalFs` (whose constructors are package-private) over
    * [[NoForkFileSystem]]: the same server defaults (they size the
    * `.crc` chunks) and the same lenient path-name check. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NoForkFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
