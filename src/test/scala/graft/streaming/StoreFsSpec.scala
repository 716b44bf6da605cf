package graft.streaming

import graft.SparkSuite
import graft.core.GunValue
import graft.streaming.HamStream.Update
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** The fork-free local file system ([[StoreFs]]): it creates files and
  * dirs with the permissions the stock `LocalFileSystem` gives them, the
  * cell store's append and fold start no process for their files, and
  * paths outside `file:` keep their usual file system.
  */
class StoreFsSpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 2.8 s (the
  // recorded append and fold); the limit is about 20x that, room for a
  // first suite that starts the session and a shared host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private def perms(p: Path): String = java.nio.file.attribute.PosixFilePermissions
    .toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  for (umask <- Seq(None, Some("077")))
    test(s"created files and dirs get the stock permissions (umask ${umask.getOrElse("default")})") {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val root = new Path(Files.createTempDirectory("storefs_perms").toUri)
      val stock = FileSystem.newInstance(root.toUri, conf)
      val forkFree = StoreFs.fileSystem(root, conf)
      assert(forkFree.isInstanceOf[ForkFreeLocalFileSystem])
      assert(!stock.isInstanceOf[ForkFreeLocalFileSystem])
      // file, its .crc, a nested dir and its parent, each made by both
      def made(fs: FileSystem, name: String): Seq[Path] = {
        val dir = new Path(root, name)
        fs.create(new Path(dir, "f"), true).close()
        fs.mkdirs(new Path(dir, "d/e"))
        Seq(dir, new Path(dir, "f"), new Path(dir, ".f.crc"), new Path(dir, "d"),
          new Path(dir, "d/e"))
      }
      val want = made(stock, "stock").map(perms)
      assert(made(forkFree, "forkfree").map(perms) == want)
      val (file, dir) = if (umask.isEmpty) ("rw-r--r--", "rwxr-xr-x") else ("rw-------", "rwx------")
      assert(want == Seq(dir, file, file, dir, dir))
      stock.close()
    }

  test("an append and a forced fold start no process on the store's path") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val dir = Files.createTempDirectory("storefs_spawns").toString
    val store = s"$dir/cells"
    val conf = spark.sparkContext.hadoopConfiguration
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      for (b <- 0 until 2)
        HamStream.appendBatchIntoStore(
          (0 until 40).map(i => Update(s"s$i", "f", GunValue.number(b.toLong), 1000.0 + b)).toDS(),
          b.toLong, store, numBuckets = 8, compactThreshold = 1)
      // control: the stock file system on the same disk, so a recording
      // that sees no process at all cannot pass for a fork-free store
      val control = new Path(s"$dir/control")
      val stock = FileSystem.newInstance(control.toUri, conf)
      try stock.create(control, true).close() finally stock.close()
    } finally rec.stop()
    val out = Files.createTempFile("storefs_spawns", ".jfr")
    rec.dump(out)
    rec.close()
    val commands = RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    Files.delete(out)
    val onStore = commands.filter(_.contains(store))
    assert(onStore.isEmpty, s"${onStore.size} processes on the store, e.g. ${onStore.take(3)}")
    // the fold ran: every bucket holds its one compacted file
    val files = new java.io.File(store).listFiles().filter(_.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty && files.forall(_ == 1))
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
      assert(commands.exists(_.contains(s"$dir/control")),
        "the stock create's chmod must show in the recording")
  }

  test("outside file: the helper adds no options and returns the usual file system") {
    val conf = new Configuration()
    conf.set("fs.mock.impl", classOf[RawLocalFileSystem].getName)
    val other = new Path("mock:///tmp/storefs/x")
    assert(StoreFs.writeOptions(other, conf).isEmpty)
    assert(StoreFs.fileSystem(other, conf) eq other.getFileSystem(conf))
    // a path without a scheme takes fs.defaultFS's
    conf.set("fs.defaultFS", "mock:///")
    val bare = new Path("/tmp/storefs/x")
    assert(StoreFs.writeOptions(bare, conf).isEmpty)
    assert(StoreFs.fileSystem(bare, conf) eq bare.getFileSystem(conf))
    // file: gets options and one reused fork-free instance per conf
    val local = new Path("file:///tmp/storefs/x")
    assert(StoreFs.writeOptions(local, conf)("fs.file.impl") ==
      classOf[ForkFreeLocalFileSystem].getName)
    assert(StoreFs.fileSystem(local, conf) eq StoreFs.fileSystem(local, conf))
  }
}
