package graft.streaming

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** `RawLocalFileSystem` that sets permissions in-process. Without the
  * native Hadoop library, the stock `setPermission` runs `chmod` through
  * `Shell.execCommand`, and `create` and `mkdirs` call it for every file
  * and directory they make — one process spawn each, about 3–10 ms on the
  * store's write path. Hadoop hands this method mode bits that are
  * already umasked; they are set with `Files.setPosixFilePermissions`.
  * A sticky bit, or a file store without POSIX attributes, takes the
  * stock path.
  *
  * `getFileLinkStatus` likewise: the stock one runs `readlink` through
  * `FileUtil.readLink` on every call, native library or not, to learn
  * whether the path is a symlink. Here NIO answers that; a path that is
  * not a symlink gets its `getFileStatus` (what the stock method returns
  * for it, `FileNotFoundException` for a missing path included), and only
  * a real symlink takes the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (java.nio.file.Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed local file system (`file:`) over
  * [[NioRawLocalFileSystem]]: the stock `LocalFileSystem`, `.crc` files
  * included, without a process per created file or directory.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin of [[ForkFreeLocalFileSystem]], in the shape of
  * Hadoop's `LocalFs`: a `ChecksumFs` over a `DelegateToFileSystem` of
  * [[NioRawLocalFileSystem]]. Spark's streaming checkpoint — the offset
  * log, the commit log and the HDFS-backed state store's delta and
  * snapshot files — goes through `FileContext` on `file:`, where the stock
  * `LocalFs` starts a `readlink` per status lookup and a `chmod` per
  * created file or dir. Hadoop builds it from `fs.AbstractFileSystem.file.impl`
  * with this `(URI, Configuration)` constructor.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      // what Hadoop's `RawLocalFs` changes in `DelegateToFileSystem`
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })

/** Hands out [[ForkFreeLocalFileSystem]] for the files the streaming
  * stores and the gun source create, for `file:` paths only (a path
  * without a scheme takes `fs.defaultFS`'s); every other scheme keeps its
  * usual file system. Two forms:
  *   - [[writeOptions]], for a `DataFrameWriter`: Spark merges them into
  *     the write job's Hadoop conf on the driver and the executors, so the
  *     job's files, directories and commit renames skip the spawns too;
  *   - [[fileSystem]], for the driver's own renames, mkdirs and creates:
  *     one instance, reused while callers pass the same Hadoop conf (the
  *     session's, in practice).
  *
  * [[forkFreeCheckpoints]] does the same for Spark's streaming checkpoint
  * files, through [[ForkFreeLocalFs]].
  */
private[graft] object StoreFs {

  private val CheckpointFsKey = "fs.AbstractFileSystem.file.impl"

  /** Puts Spark's streaming checkpoint files on `file:` on
    * [[ForkFreeLocalFs]]. Call it before `writeStream…start()`: a query
    * copies the session conf when it starts, and its offset log, commit
    * log and state store build their `FileContext` from that copy.
    *
    * It writes one session conf key, `fs.AbstractFileSystem.file.impl`,
    * and only while the user has set that key neither in the session
    * conf nor in the Hadoop conf (`spark.hadoop.*`, `core-site.xml`);
    * Hadoop's `core-default.xml` default does not count. The key is
    * Hadoop's own switch for the `FileContext` class of a scheme. Spark's
    * `FileContextBasedCheckpointFileManager` stays in place, with its
    * atomic rename-over-write; only the raw local layer under it changes.
    * Checkpoints written by either class read the same under the other.
    */
  def forkFreeCheckpoints(spark: SparkSession): Unit = {
    val sources = spark.sparkContext.hadoopConfiguration.getPropertySources(CheckpointFsKey)
    val inHadoopConf = sources != null && sources.exists(_ != "core-default.xml")
    if (!inHadoopConf && spark.conf.getOption(CheckpointFsKey).isEmpty)
      spark.conf.set(CheckpointFsKey, classOf[ForkFreeLocalFs].getName)
  }

  def writeOptions(path: Path, conf: Configuration): Map[String, String] =
    if (isLocal(path, conf)) Map(
      "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
      // cached file systems are keyed by scheme, not by class: without
      // this a task would get whatever `file:` instance is cached already
      "fs.file.impl.disable.cache" -> "true")
    else Map.empty

  private var shared: Option[(Configuration, FileSystem)] = None

  def fileSystem(path: Path, conf: Configuration): FileSystem =
    if (!isLocal(path, conf)) path.getFileSystem(conf)
    else synchronized {
      shared.collect { case (c, fs) if c eq conf => fs }.getOrElse {
        val fs = new ForkFreeLocalFileSystem
        fs.setConf(conf)
        fs.initialize(java.net.URI.create("file:///"), conf)
        shared = Some(conf -> fs)
        fs
      }
    }

  private def isLocal(path: Path, conf: Configuration): Boolean =
    "file" == Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
}
