package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.conf.Configuration
import graft.core.FetchResult
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The local file system under a `counted:` scheme: `counted:///tmp/x` is
  * the local `/tmp/x`. It records each file it opens and each dir it
  * lists, and runs a hook after each listing and after each status lookup
  * (`exists` is one), and before each delete, so a spec can bound what a
  * store read touches, act between a read's lookups, listings and opens,
  * and stop a fold between its deletes. A rename onto an existing file
  * returns false and moves nothing, as on HDFS (the local `rename`
  * replaces the file), so a taken name shows as taken.
  */
class CountedFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = CountedFs.Uri

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountedFs.opened.add(f)
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val statuses = super.listStatus(f)
    CountedFs.listed.add(f)
    CountedFs.afterListing(f)
    statuses
  }

  override def getFileStatus(f: Path): FileStatus =
    try super.getFileStatus(f)
    finally CountedFs.afterStatus(f)

  // the local `exists` asks java.io.File, not getFileStatus
  override def exists(f: Path): Boolean =
    try super.exists(f)
    finally CountedFs.afterStatus(f)

  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountedFs.beforeDelete(f)
    super.delete(f, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

object CountedFs {
  private val Uri = java.net.URI.create("counted:///")
  private val opened = new ConcurrentLinkedQueue[Path]
  private val listed = new ConcurrentLinkedQueue[Path]
  @volatile private var afterListing: Path => Unit = _ => ()
  @volatile private var afterStatus: Path => Unit = _ => ()
  @volatile private var beforeDelete: Path => Unit = _ => ()

  /** Local dir `dir` under the `counted:` scheme, which `conf` now maps to
    * this file system.
    */
  def path(dir: String, conf: Configuration): String = {
    conf.set("fs.counted.impl", classOf[CountedFs].getName)
    s"counted://$dir"
  }

  final case class Touched(opened: Seq[Path], listed: Seq[Path]) {
    /** The opened files' paths relative to local dir `root`, sorted. */
    def openedUnder(root: String): Seq[String] =
      opened.map(_.toUri.getPath.stripPrefix(root + "/")).sorted
  }

  /** What `op` opens and lists through the `counted:` scheme, running
    * `hook` on each listed dir after its listing, `statusHook` on each
    * path after its status lookup, found or not, and `deleteHook` on each
    * path before it is deleted.
    */
  def during[T](hook: Path => Unit = _ => (), statusHook: Path => Unit = _ => (),
      deleteHook: Path => Unit = _ => ())(op: => T): (T, Touched) = {
    opened.clear()
    listed.clear()
    afterListing = hook
    afterStatus = statusHook
    beforeDelete = deleteHook
    try {
      val r = op
      (r, Touched(opened.asScala.toSeq, listed.asScala.toSeq))
    } finally {
      afterListing = _ => ()
      afterStatus = _ => ()
      beforeDelete = _ => ()
    }
  }

  /** The production point read of key (soul, field) in local store `dir`,
    * through the `counted:` scheme: its result, the Spark jobs it ran
    * and what it touched.
    */
  def pointRead(spark: SparkSession, dir: String, soul: String, field: String,
      numBuckets: Int): (FetchResult, Int, Touched) = {
    val store = path(dir, spark.sparkContext.hadoopConfiguration)
    var hit: FetchResult = null
    val ((jobs, _), touched) = during() {
      graft.SparkSuite.jobsAndTasks {
        hit = HamStream.fetchFromStore(spark, store, soul, field, numBuckets)
      }
    }
    (hit, jobs, touched)
  }
}
