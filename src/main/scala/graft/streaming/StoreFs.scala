package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that sets permissions in-process. Without the
  * native Hadoop library, the stock `setPermission` runs `chmod` through
  * `Shell.execCommand`, and `create` and `mkdirs` call it for every file
  * and directory they make — one process spawn each, about 3–10 ms on the
  * store's write path. Hadoop hands this method mode bits that are
  * already umasked; they are set with `Files.setPosixFilePermissions`.
  * A sticky bit, or a file store without POSIX attributes, takes the
  * stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        java.nio.file.attribute.PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** The checksummed local file system (`file:`) over
  * [[NioRawLocalFileSystem]]: the stock `LocalFileSystem`, `.crc` files
  * included, without a process per created file or directory.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

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
  */
private[graft] object StoreFs {

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
