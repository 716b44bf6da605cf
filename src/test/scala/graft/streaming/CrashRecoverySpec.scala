package graft.streaming

import graft.SparkSuite
import graft.core.GunCell
import graft.sources.{GunWire, InMemoryPeerConn}
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** End-to-end streaming crash recovery, COMPOSED: the crash window between
  * the gun source's WAL journal write (during batch planning) and the
  * cell store's delta append (during batch execution). The pieces are
  * each spec'd elsewhere (GunSourceSpec: WAL replay; DeltaStoreSpec:
  * replayed appends; HamStreamSpec: fold crash windows); this drives the
  * full restart path — a query dies AFTER the source journaled the planned
  * range and BEFORE any store write, restarts from the same checkpoint,
  * replays the range from the journal, and converges to exactly the store
  * a no-crash run produces (at-least-once replay + HAM idempotence =
  * effectively-once). The same restart after the batch's level-0 file
  * was promoted; a TTL fold stopped between its promote and its delete;
  * and the refusal of a store that an older build's bucket swap left
  * with a parked bucket.
  */
class CrashRecoverySpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 1.8 s; the limit
  // is 33x that, room for a first suite that starts the
  // session and for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  test("crash after WAL journal, before DELTA append: restart converges the store") {
    crashAndRestart("dcrash", afterAppend = false)
  }

  test("crash after the level-0 promotion, before the batch commits: the replay skips the rename") {
    crashAndRestart("l0crash", afterAppend = true)
  }

  /** A query that dies in its first batch, before or after the store
    * append, restarted from the same checkpoint.
    */
  private def crashAndRestart(tag: String, afterAppend: Boolean): Unit = {
    val spark2 = spark
    import spark2.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory(s"gun_${tag}_ckpt").toString
    val storeDir = java.nio.file.Files.createTempDirectory(s"gun_${tag}_store").toString
    val storePath = s"$storeDir/store"
    val (ours, theirs) = InMemoryPeerConn.pair()
    InMemoryPeerConn.register(s"$tag-src", ours)
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)

    def startQuery(injectCrash: Boolean) = {
      val frames = spark.readStream.format("gun")
        .option("conn", s"$tag-src").option("pid", "spark-engine").load()
      val cells = GunWire.framesToCells(frames, "frame").as[GunCell]
      HamStream.updates(cells, timers = false).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[HamStream.Update], batchId: Long) =>
          if (injectCrash && !afterAppend && !batch.isEmpty && crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash: after WAL, before append")
          HamStream.appendBatchIntoStore(batch, batchId, storePath, numBuckets = 8)
          if (injectCrash && afterAppend && StoreFiles.level0(storePath).nonEmpty &&
              crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash: after the level-0 promotion, before commit")
        }
        .start()
    }

    try {
      theirs.send("""{"#":"d1","put":{"ds":{"_":{"#":"ds",">":{"f":1000}},"f":"v1"}}}""")
      val q1 = startQuery(injectCrash = true)
      try {
        q1.processAllAvailable()
        q1.awaitTermination(15000)
      } catch { case _: Exception => () }
      assert(crashed.get, "crash was never injected (batch did not run)")
      assert(q1.exception.isDefined, "query survived the injected crash")
      q1.stop()

      val fs = new org.apache.hadoop.fs.Path(storePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val crashedBatch = StoreFiles.level0(storePath).map(_.getName)
      if (afterAppend) assert(crashedBatch.size == 1, s"level 0 after the crash: $crashedBatch")
      else assert(!fs.exists(new org.apache.hadoop.fs.Path(storePath)))

      // restart: the journaled range replays through the APPEND path; a
      // second write both proves progress and (replayed or not) only adds
      // HAM-idempotent deltas — the merged view must equal the no-crash run
      val q2 = startQuery(injectCrash = false)
      try {
        q2.processAllAvailable()
        theirs.send("""{"#":"d2","put":{"ds2":{"_":{"#":"ds2",">":{"g":2000}},"g":"v2"}}}""")
        val deadline = System.currentTimeMillis() + 15000
        def merged(): Set[(String, String, String, Double)] =
          if (!fs.exists(new org.apache.hadoop.fs.Path(storePath)))
            Set.empty
          else HamStream.readStore(spark, storePath)
            .select("soul", "field", "value.str", "state")
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
            .toSet
        var rows = Set.empty[(String, String, String, Double)]
        while (rows.size < 2 && System.currentTimeMillis() < deadline) {
          Thread.sleep(100)
          q2.processAllAvailable()
          rows = merged()
        }
        assert(rows == Set(
          ("ds", "f", "v1", 1000.0),
          ("ds2", "g", "v2", 2000.0)))
        // a replay of the promoted batch finds its name taken: the
        // crashed batch's cell is in level 0 once
        if (afterAppend) {
          assert(StoreFiles.level0(storePath).map(_.getName).count(crashedBatch.contains) == 1)
          assert(StoreFiles.rawCells(spark, storePath).filter($"soul" === "ds").count() == 1)
        }
      } finally q2.stop()
    } finally {
      InMemoryPeerConn.unregister(s"$tag-src")
      theirs.close(); ours.close()
    }
  }

  test("a store with a bucket parked by an older build's swap: every entry refuses it, unchanged") {
    val spark2 = spark
    import spark2.implicits._
    import graft.core.GunValue
    import graft.streaming.HamStream.Update
    val storePath =
      java.nio.file.Files.createTempDirectory("gun_trash_store").toString + "/store"
    val buckets = 1 // everything in bucket=0: the parked dir is the whole store
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("v1"), 1000)).toDS(),
      0L, storePath, buckets)
    StoreFiles.fold(spark, storePath)
    // what the previous build's bucket swap leaves after a crash between
    // its rename(live → trash) and its rename(staged → live): the parked
    // dir holds the bucket's only copy
    val parked = new java.io.File(storePath, ".trash-bucket=0")
    assert(new java.io.File(storePath, "bucket=0").renameTo(parked))
    assert(StoreFiles.level0(storePath).isEmpty && StoreFiles.buckets(storePath).isEmpty)

    val before = StoreFiles.tree(storePath)
    val entries = Seq[(String, () => Any)](
      "fetchFromStore" -> (() => HamStream.fetchFromStore(spark, storePath, "s1", "f", buckets)),
      "readStore" -> (() => HamStream.readStore(spark, storePath, buckets)),
      "appendBatchIntoStore" -> (() => HamStream.appendBatchIntoStore(
        Seq(Update("s1", "f", GunValue.string("v2"), 2000)).toDS(), 1L, storePath, buckets)),
      "compactStore" -> (() => HamStream.compactStore(spark, storePath, nowMs = 0.0)))
    for ((name, entry) <- entries) {
      val e = intercept[IllegalStateException](entry())
      assert(e.getMessage.contains(parked.getPath), s"$name: ${e.getMessage}")
      assert(e.getMessage.contains("previous build"), s"$name: ${e.getMessage}")
      assert(StoreFiles.tree(storePath) == before, s"$name changed the store tree")
    }
  }

  test("crash after a fold's promote, before its delete: reads hold, the next fold absorbs") {
    val spark2 = spark
    import spark2.implicits._
    import graft.core.GunValue
    import graft.streaming.HamStream.Update
    val storePath =
      java.nio.file.Files.createTempDirectory("gun_fcrash_store").toString + "/store"
    val buckets = 4
    // a bucket base holding a winner that the TTL fold will expire
    HamStream.appendBatchIntoStore(
      Seq(Update("s4", "f", GunValue.string("expired-base"), 1000)).toDS(),
      0L, storePath, buckets, compactThreshold = 0)
    StoreFiles.fold(spark, storePath)
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("old"), 1000),
        Update("s2", "f", GunValue.string("keep"), 9000),
        Update("s3", "f", GunValue.string("expired"), 1000)).toDS(),
      1L, storePath, buckets, compactThreshold = 0)
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("new"), 8000)).toDS(),
      2L, storePath, buckets, compactThreshold = 0)
    // the TTL fold promotes its output, and the crash takes its deletes:
    // level 0 and the base it folded are all still there
    val inputs = StoreFiles.level0(storePath) ++ StoreFiles.buckets(storePath).values.flatten
    val deleted = StoreFiles.crashFold(storePath, 0) {
      HamStream.compactStore(spark, CountedFs.path(storePath, spark.sparkContext.hadoopConfiguration),
        nowMs = 10000, ttlMs = 5000)
    }
    assert(deleted.isEmpty && inputs.forall(_.exists))
    assert(StoreFiles.level0(storePath).size == 2)

    // every key reads its winner; s1 and s2 are in both levels
    def point(soul: String) =
      HamStream.fetchFromStore(spark, storePath, soul, "f", buckets).value.flatMap(_.str)
    assert(point("s1").contains("new") && point("s2").contains("keep"))
    assert(StoreFiles.rawCells(spark, storePath).filter($"soul" === "s1").count() == 3)
    // the one TTL nuance: the fold dropped s3 and s4, but the level-0
    // file and the base that hold them were not deleted, so both read
    // until the next fold
    assert(point("s3").contains("expired"))
    assert(point("s4").contains("expired-base"))

    // the next fold (a TTL compaction) absorbs the duplicates and drops
    // s3 and s4
    HamStream.compactStore(spark, storePath, nowMs = 10000, ttlMs = 5000)
    assert(StoreFiles.level0(storePath).isEmpty)
    assert(StoreFiles.buckets(storePath).values.forall(_.size == 1), StoreFiles.buckets(storePath))
    val rows = StoreFiles.rawCells(spark, storePath).select("soul", "value.str").as[(String, String)]
      .collect().toSet
    assert(rows == Set(("s1", "new"), ("s2", "keep")))
    assert(point("s3").isEmpty && point("s4").isEmpty)
  }
}
