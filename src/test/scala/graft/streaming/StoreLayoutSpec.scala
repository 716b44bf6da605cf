package graft.streaming

import graft.SparkSuite
import graft.core.GunValue
import org.apache.hadoop.fs.Path
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The store's `_layout` version marker (ADVICE round 5): the round-5
  * bucket-key change from xxhash64(soul) to xxhash64(soul, field) would
  * silently mis-read any store written before it — point reads prune to
  * the NEW bucket and report valueExists=false for cells that exist in an
  * old one. Every store entry point must therefore fail fast on a store
  * whose marker is absent-but-populated (pre-v2) or mismatched, and stamp
  * fresh stores on first write. v3 adds level 0 (`_l0/`): a v2 store,
  * which has none, reads under v3 and is re-stamped by its first write.
  */
class StoreLayoutSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 0.9 s; the limit
  // is 66x that, room for a first suite that starts the
  // session and for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._
  import HamStream.Update

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/cells"

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("first write stamps the marker; reads round-trip") {
    val dir = freshDir("layout_fresh")
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("v"), 1000)).toDS(), 0L, dir, 8)
    val marker = new Path(dir, "_layout")
    assert(fs.exists(marker), "first write must stamp _layout")
    val in = fs.open(marker)
    val content =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    assert(content == HamStream.LayoutVersion)
    // the marker is invisible to the parquet scan (underscore prefix)
    val hit = HamStream.fetchFromStore(spark, dir, "s1", "f", 8)
    assert(hit.valueExists && hit.value.contains(GunValue.string("v")))
  }

  test("pre-v2 store (buckets, no marker) fails fast on every entry point") {
    val dir = freshDir("layout_prev2")
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("v"), 1000)).toDS(), 0L, dir, 8)
    StoreFiles.fold(spark, dir)
    fs.delete(new Path(dir, "_layout"), false) // simulate a round-4 store
    val readErr = intercept[IllegalStateException] {
      HamStream.fetchFromStore(spark, dir, "s1", "f", 8)
    }
    assert(readErr.getMessage.contains("no _layout marker"))
    intercept[IllegalStateException] {
      HamStream.appendBatchIntoStore(
        Seq(Update("s2", "f", GunValue.string("w"), 2000)).toDS(), 1L, dir, 8)
    }
    intercept[IllegalStateException] {
      HamStream.compactStore(spark, dir, nowMs = 3000)
    }
  }

  test("store left mid-buffer by an older build fails fast on every entry point") {
    val dir = freshDir("layout_journal")
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("v"), 1000)).toDS(), 0L, dir, 8)
    // the removed buffered sink parked committed batches here until a flush
    fs.mkdirs(new Path(dir, ".buffer-journal/batch-1"))
    Seq[() => Any](
      () => HamStream.fetchFromStore(spark, dir, "s1", "f", 8),
      () => HamStream.readStore(spark, dir, 8),
      () => HamStream.appendBatchIntoStore(
        Seq(Update("s2", "f", GunValue.string("w"), 2000)).toDS(), 1L, dir, 8),
      () => HamStream.compactStore(spark, dir, nowMs = 3000)
    ).foreach { entry =>
      val e = intercept[IllegalStateException](entry())
      assert(e.getMessage.contains(".buffer-journal") &&
        e.getMessage.contains("never written to the store"))
    }
  }

  test("mismatched marker fails fast; empty marked dir is accepted") {
    val dir = freshDir("layout_mismatch")
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("v"), 1000)).toDS(), 0L, dir, 8)
    val out = fs.create(new Path(dir, "_layout"), true)
    try out.write("v1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val err = intercept[IllegalStateException] {
      HamStream.fetchFromStore(spark, dir, "s1", "f", 8)
    }
    assert(err.getMessage.contains("'v1'"))

    // a directory that exists but has no bucket data yet is stamped, not
    // rejected (mkdirs-then-write race of a first batch)
    val empty = freshDir("layout_empty")
    fs.mkdirs(new Path(empty))
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("v"), 1000)).toDS(), 0L, empty, 8)
    assert(fs.exists(new Path(empty, "_layout")))
    assert(HamStream.fetchFromStore(spark, empty, "s1", "f", 8).valueExists)
  }

  test("a v2 store reads under v3, and its first write re-stamps the marker") {
    def marker(dir: String) = {
      val in = fs.open(new Path(dir, "_layout"))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    }
    // a v2 store: buckets, no level 0, a v2 marker
    val dir = freshDir("layout_v2")
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("v"), 1000)).toDS(), 0L, dir, 8)
    StoreFiles.fold(spark, dir)
    fs.delete(new Path(dir, "_l0"), true)
    val out = fs.create(new Path(dir, "_layout"), true)
    try out.write("v2".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // reads serve it and leave the marker as it is
    assert(HamStream.fetchFromStore(spark, dir, "s1", "f", 8).value.contains(GunValue.string("v")))
    assert(HamStream.readStore(spark, dir, 8).count() == 1)
    assert(marker(dir) == "v2")
    // the first write re-stamps it v3 (a v2 build then refuses it) and
    // adds level 0 beside the v2 buckets
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("w"), 2000)).toDS(), 1L, dir, 8)
    assert(marker(dir) == HamStream.LayoutVersion && HamStream.LayoutVersion == "v3")
    assert(StoreFiles.level0(dir).size == 1)
    assert(HamStream.fetchFromStore(spark, dir, "s1", "f", 8).value.contains(GunValue.string("w")))
  }
}
