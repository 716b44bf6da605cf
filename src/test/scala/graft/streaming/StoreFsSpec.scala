package graft.streaming

import graft.SparkSuite
import graft.core.{GunCell, GunValue}
import graft.streaming.HamStream.Update
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** The fork-free local file systems ([[StoreFs]]): they create files and
  * dirs with the permissions the stock `LocalFileSystem` and `LocalFs`
  * give them, and the `FileContext` one answers status lookups and
  * renames as `LocalFs` does; the cell store's append, fold and point
  * read and a stateful stream's checkpoint start no process for their
  * files; a checkpoint of the stock `LocalFs` restarts under the
  * fork-free one, and a user's own choice of `LocalFs` is kept; paths
  * outside `file:` keep their usual file system.
  */
class StoreFsSpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 9.0 s (the
  // checkpoint restart, three streams); the limit is 6.6x that, room for
  // a first suite that starts the session and a shared host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private def perms(p: Path): String = java.nio.file.attribute.PosixFilePermissions
    .toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  private val CheckpointFsKey = "fs.AbstractFileSystem.file.impl"

  /** A `FileContext` on `file:` whose file system is `impl`. */
  private def fileContext(impl: Class[_], conf: Configuration = new Configuration()): FileContext = {
    val c = new Configuration(conf)
    c.set(CheckpointFsKey, impl.getName)
    val fc = FileContext.getFileContext(java.net.URI.create("file:///"), c)
    assert(fc.getDefaultFileSystem.getClass == impl)
    fc
  }

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
      // file systems and by both FileContext file systems
      def made(name: String)(create: Path => Unit, mkdirs: Path => Unit): Seq[Path] = {
        val dir = new Path(root, name)
        create(new Path(dir, "f"))
        mkdirs(new Path(dir, "d/e"))
        Seq(dir, new Path(dir, "f"), new Path(dir, ".f.crc"), new Path(dir, "d"),
          new Path(dir, "d/e"))
      }
      def viaFs(fs: FileSystem, name: String) =
        made(name)(fs.create(_, true).close(), fs.mkdirs(_))
      def viaFc(fc: FileContext, name: String) =
        made(name)(fc.create(_, java.util.EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.createParent()).close(),
          fc.mkdir(_, FsPermission.getDirDefault, true))
      val want = viaFs(stock, "stock").map(perms)
      assert(viaFs(forkFree, "forkfree").map(perms) == want)
      val (file, dir) = if (umask.isEmpty) ("rw-r--r--", "rwxr-xr-x") else ("rw-------", "rwx------")
      assert(want == Seq(dir, file, file, dir, dir))
      val wantFc = viaFc(fileContext(classOf[LocalFs], conf), "fc-stock").map(perms)
      assert(viaFc(fileContext(classOf[ForkFreeLocalFs], conf), "fc-forkfree").map(perms) == wantFc)
      assert(wantFc.tail == Seq(file, file, dir, dir))
      stock.close()
    }

  test("the FileContext file system answers status lookups and renames as LocalFs") {
    val stock = fileContext(classOf[LocalFs])
    val forkFree = fileContext(classOf[ForkFreeLocalFs])
    val root = Files.createTempDirectory("storefs_fc")
    Files.write(root.resolve("file"), "abc".getBytes)
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def path(name: String) = new Path(root.resolve(name).toUri)
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)
    def bare(name: String) = Path.getPathWithoutSchemeAndAuthority(path(name))
    def look(fc: FileContext, p: Path) =
      scala.util.Try(view(fc.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    // both path forms: Spark's checkpoint passes `file:` paths, for which
    // the stock `readlink` looks up the wrong file and reports no symlink
    for (name <- Seq("file", "dir", "link", "dangling", "missing"); p <- Seq(path(name), bare(name)))
      assert(look(forkFree, p) == look(stock, p), p)
    assert(forkFree.getFileLinkStatus(bare("link")).getSymlink == path("file"))
    assert(forkFree.getFileLinkStatus(bare("dangling")).isSymlink)
    for (fc <- Seq(stock, forkFree); p <- Seq(path("missing"), bare("missing")))
      intercept[java.io.FileNotFoundException](fc.getFileLinkStatus(p))

    // rename over an existing file: the data file and its .crc both move
    def renamed(fc: FileContext, name: String): Map[String, Seq[Byte]] = {
      val dir = new Path(new Path(root.toUri), name)
      for ((f, text) <- Seq("a" -> "new", "b" -> "old")) {
        val out = fc.create(new Path(dir, f), java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        out.write(text.getBytes)
        out.close()
      }
      val crc = Files.readAllBytes(Paths.get(new Path(dir, ".a.crc").toUri)).toSeq
      fc.rename(new Path(dir, "a"), new Path(dir, "b"), Options.Rename.OVERWRITE)
      assert(Files.readAllBytes(Paths.get(new Path(dir, ".b.crc").toUri)).toSeq == crc)
      // read through the FileContext, so the moved .crc is checked too
      val in = fc.open(new Path(dir, "b"))
      try assert(new String(in.readAllBytes()) == "new") finally in.close()
      new java.io.File(dir.toUri).listFiles().map(f =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val want = renamed(stock, "stock")
    assert(want.keySet == Set("b", ".b.crc"))
    assert(renamed(forkFree, "forkfree") == want)
  }

  /** The commands of the processes the JVM starts while `op` runs, from
    * an in-process JFR recording of `jdk.ProcessStart`. A control follows
    * `op`: a create through the stock file system in `dir`, whose `chmod`
    * must show when libhadoop is absent, so a recording that sees no
    * process at all cannot pass for a fork-free one.
    */
  private def processesDuring(dir: String)(op: => Unit): Seq[String] = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      op
      val control = new Path(s"$dir/control")
      val stock = FileSystem.newInstance(control.toUri, spark.sparkContext.hadoopConfiguration)
      try stock.create(control, true).close() finally stock.close()
    } finally rec.stop()
    val out = Files.createTempFile("storefs_spawns", ".jfr")
    rec.dump(out)
    rec.close()
    val commands = RecordingFile.readAllEvents(out).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    Files.delete(out)
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
      assert(commands.exists(_.contains(s"$dir/control")),
        "the stock create's chmod must show in the recording")
    commands
  }

  test("an append and a forced fold start no process on the store's path") {
    val dir = Files.createTempDirectory("storefs_spawns").toString
    val store = s"$dir/cells"
    val commands = processesDuring(dir) {
      for (b <- 0 until 2)
        HamStream.appendBatchIntoStore(
          (0 until 40).map(i => Update(s"s$i", "f", GunValue.number(b.toLong), 1000.0 + b)).toDS(),
          b.toLong, store, numBuckets = 8, compactThreshold = 1)
    }
    val onStore = commands.filter(_.contains(store))
    assert(onStore.isEmpty, s"${onStore.size} processes on the store, e.g. ${onStore.take(3)}")
    // the fold ran: every bucket holds its one compacted file
    val files = new java.io.File(store).listFiles().filter(_.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty && files.forall(_ == 1))
  }

  test("a point read starts no process") {
    val dir = Files.createTempDirectory("storefs_read_spawns").toString
    val store = s"$dir/cells"
    for (b <- 0 until 3)
      HamStream.appendBatchIntoStore(
        (0 until 40).map(i => Update(s"s$i", "f", GunValue.number(b.toLong), 1000.0 + b)).toDS(),
        b.toLong, store, numBuckets = 8, compactThreshold = 0)
    var hit: graft.core.FetchResult = null
    val commands = processesDuring(dir) {
      hit = HamStream.fetchFromStore(spark, store, "s7", "f", numBuckets = 8)
    }
    assert(hit.value.contains(GunValue.number(2L)))
    val onStore = commands.filter(_.contains(store))
    assert(onStore.isEmpty, s"${onStore.size} processes on the store, e.g. ${onStore.take(3)}")
  }

  /** Runs `op` with session conf `key` set to `value` (unset for `None`),
    * then puts back what the session had.
    */
  private def withSessionConf[T](key: String, value: Option[String])(op: => T): T = {
    val saved = spark.conf.getOption(key)
    def put(v: Option[String]): Unit = v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    put(value)
    try op finally put(saved)
  }

  test("a stateful stream's checkpoint starts no process") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("storefs_ckpt_spawns").toString
    val ckpt = s"$dir/checkpoint"
    val commands = withSessionConf(CheckpointFsKey, None) {
      withSessionConf("spark.sql.streaming.checkpointLocation", Some(ckpt)) {
        processesDuring(dir) {
          val in = MemoryStream[GunCell]
          val q = HamStream.appendIntoStore(HamStream.updates(in.toDS(), timers = false),
            s"$dir/cells", numBuckets = 4)
          try for (b <- 0 until 3) {
            in.addData((0 until 10).map(i =>
              GunCell(s"s$i", "f", GunValue.number(b.toLong), 1000.0 + b)): _*)
            q.processAllAvailable()
          } finally q.stop()
        }
      }
    }
    // the query wrote all three kinds of checkpoint file
    val written = Files.walk(Paths.get(ckpt)).iterator().asScala.map(_.toString).toSeq
    for (kind <- Seq("/offsets/2", "/commits/2", "/state/0/0/3.delta"))
      assert(written.exists(_.endsWith(kind)), s"no $kind in $ckpt")
    val onCheckpoint = commands.filter(_.contains(ckpt))
    assert(onCheckpoint.isEmpty,
      s"${onCheckpoint.size} processes on the checkpoint, e.g. ${onCheckpoint.take(3)}")
  }

  test("a stock LocalFs checkpoint restarts under the fork-free one; a user's LocalFs stays") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("storefs_ckpt_restart").toString
    // batch 2 holds a stale write for s0 that only the HAM state of
    // batch 1 discards, so a lost state shows in what batch 2 emits;
    // states a minute old, inside the TTL and not in the future
    val t = (System.currentTimeMillis() - 60000L).toDouble
    val batches = Seq(
      (0 until 10).map(i => GunCell(s"s$i", "f", GunValue.number(0L), t)),
      (0 until 10).map(i => GunCell(s"s$i", "f", GunValue.number(1L), t + 2000)),
      GunCell("s0", "f", GunValue.number(9L), t + 1000) +:
        (10 until 15).map(i => GunCell(s"s$i", "f", GunValue.number(2L), t + 3000)))
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Update)]()
    def start(in: MemoryStream[GunCell], run: String) = {
      StoreFs.forkFreeCheckpoints(spark)
      HamStream.updates(in.toDS(), timers = false).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$dir/$run/checkpoint")
        .foreachBatch { (batch: Dataset[Update], batchId: Long) =>
          batch.collect().foreach(u => emitted.add((run, batchId, u)))
          HamStream.appendBatchIntoStore(batch, batchId, s"$dir/$run/cells", numBuckets = 4)
        }
        .start()
    }
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery, in: MemoryStream[GunCell],
        bs: Seq[Seq[GunCell]]): Unit =
      try bs.foreach { b => in.addData(b: _*); q.processAllAvailable() } finally q.stop()
    def store(run: String) = HamStream.readStore(spark, s"$dir/$run/cells")
      .select("soul", "field", "value.num", "state").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet

    val in = MemoryStream[GunCell]
    withSessionConf(CheckpointFsKey, Some(classOf[LocalFs].getName)) {
      feed(start(in, "restart"), in, batches.take(2))
      assert(spark.conf.get(CheckpointFsKey) == classOf[LocalFs].getName)
    }
    withSessionConf(CheckpointFsKey, None) {
      feed(start(in, "restart"), in, batches.drop(2))
      assert(spark.conf.get(CheckpointFsKey) == classOf[ForkFreeLocalFs].getName)
      val once = MemoryStream[GunCell]
      feed(start(once, "once"), once, batches)
    }
    // the same key set in the Hadoop conf (as `spark.hadoop.*` or
    // core-site.xml would set it) is the user's too; core-default.xml's is not
    val hadoop = spark.sparkContext.hadoopConfiguration
    val stockName = hadoop.get(CheckpointFsKey)
    withSessionConf(CheckpointFsKey, None) {
      hadoop.set(CheckpointFsKey, stockName)
      try StoreFs.forkFreeCheckpoints(spark)
      finally hadoop.set(CheckpointFsKey, stockName, "core-default.xml")
      assert(spark.conf.getOption(CheckpointFsKey).isEmpty)
      StoreFs.forkFreeCheckpoints(spark)
      assert(spark.conf.getOption(CheckpointFsKey).contains(classOf[ForkFreeLocalFs].getName))
    }
    def of(run: String) = emitted.asScala.collect { case (`run`, b, u) => (b, u) }.toSet
    assert(of("restart").map(_._1) == Set(0L, 1L, 2L))
    assert(of("restart") == of("once"))
    assert(!of("once").exists(_._2.state == t + 1000))
    assert(store("restart") == store("once"))
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
