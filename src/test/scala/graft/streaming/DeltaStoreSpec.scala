package graft.streaming

import graft.SparkSuite
import graft.core.{FetchResult, GunCell, GunValue, ValueKind}
import graft.streaming.HamStream.Update
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The LSM-style delta store ([[HamStream.appendIntoStore]]): per-batch
  * I/O is O(batch) — each micro-batch lands as immutable delta files in
  * the bucket dirs it touches — and every read collapses to the HAM
  * winner, so correctness holds at any compaction lag. Point reads stay
  * bucket-pruned; [[HamStream.compactStore]] folds the deltas back to one
  * row per key; at-least-once replay (duplicate appends) is idempotent.
  */
class DeltaStoreSpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 7.0 s (the
  // collapse property test); the limit is 17x that, room for a shared
  // host that runs 2-3x slower
  val timeLimit: Span = Span(120, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private val NumBuckets = 8

  private def newDir() =
    java.nio.file.Files.createTempDirectory("delta_store").toString + "/cells"

  test("appended batches resolve to the HAM winner on every read path") {
    val dir = newDir()
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("old"), 1000),
        Update("s2", "f", GunValue.string("keep"), 500)).toDS(),
      0L, dir, NumBuckets)
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("new"), 2000)).toDS(),
      1L, dir, NumBuckets)

    // raw store carries both generations of s1/f (append-only)...
    assert(spark.read.parquet(dir)
      .filter($"soul" === "s1" && $"field" === "f").count() == 2)
    // ...as ONE delta file per touched bucket per batch (the repartition
    // bound on file-count growth between compactions)
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("bucket="))
      .foreach { b =>
        val perBatch = b.listFiles().filter(_.getName.endsWith(".parquet"))
          .groupBy(_.getName.split("-")(1))
        perBatch.foreach { case (batch, files) =>
          assert(files.length == 1, s"${b.getName} batch $batch: ${files.length} files")
        }
      }
    // ...but the point read returns the winner
    val r = HamStream.fetchFromStore(spark, dir, "s1", "f", NumBuckets)
    assert(r.value.contains(GunValue.string("new")) && r.state.contains(2000.0))
    // and the bulk merged view is one row per key
    val merged = HamStream.readStore(spark, dir)
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq
    assert(merged.map(t => t._1).sorted == Seq("s1", "s2"))
  }

  test("replayed append (at-least-once) is idempotent") {
    val dir = newDir()
    val batch = Seq(Update("s1", "f", GunValue.string("v"), 1000)).toDS()
    HamStream.appendBatchIntoStore(batch, 0L, dir, NumBuckets)
    HamStream.appendBatchIntoStore(batch, 0L, dir, NumBuckets) // WAL replay
    val r = HamStream.fetchFromStore(spark, dir, "s1", "f", NumBuckets)
    assert(r.value.contains(GunValue.string("v")))
    assert(HamStream.readStore(spark, dir).count() == 1)
  }

  test("compaction folds deltas to one row per key, merge-then-TTL") {
    val dir = newDir()
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("loser"), 1000),
        Update("fresh", "f", GunValue.string("live"), 9000)).toDS(),
      0L, dir, NumBuckets)
    HamStream.appendBatchIntoStore(
      // winner for s1/f, but EXPIRED relative to the compaction cutoff:
      // merge-then-TTL must drop the cell, not resurrect the in-window loser
      Seq(Update("s1", "f", GunValue.string("winner-expired"), 2000)).toDS(),
      1L, dir, NumBuckets)
    HamStream.compactStore(spark, dir, nowMs = 10000, ttlMs = 5000)
    val rows = spark.read.parquet(dir)
      .select("soul", "value.str").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("fresh", "live")))
    // compacted store is one physical row per surviving key
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("auto-compaction bounds the per-bucket delta-file count over a long run") {
    val dir = newDir()
    val threshold = 4
    val buckets = 2 // few buckets so every batch touches all of them
    def maxFiles(): Int = {
      val bs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("bucket="))
      if (bs.isEmpty) 0
      else bs.map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    }
    for (b <- 0 until 30) {
      HamStream.appendBatchIntoStore(
        Seq(Update("s1", "f", GunValue.string(s"v$b"), 1000.0 + b),
          Update("s2", "g", GunValue.string(s"w$b"), 1000.0 + b)).toDS(),
        b.toLong, dir, buckets, compactThreshold = threshold)
      // invariant at EVERY batch, not just the end: the trigger fires the
      // moment a bucket crosses the threshold, folding it back to 1 file
      assert(maxFiles() <= threshold,
        s"batch $b: a bucket holds ${maxFiles()} delta files (> $threshold)")
    }
    // folded store still reads to the latest HAM winner
    val r = HamStream.fetchFromStore(spark, dir, "s1", "f", buckets)
    assert(r.value.contains(GunValue.string("v29")) && r.state.contains(1029.0))
    assert(HamStream.readStore(spark, dir).count() == 2)
    // fold-only: ancient states (epoch ~1970) survive the auto trigger —
    // TTL expiry belongs to the caller's compactStore cadence, and a
    // count-based trigger running at wall-clock now must not purge them
    assert(spark.read.parquet(dir).filter($"soul" === "s2").count() >= 1)
  }

  test("disabled trigger (compactThreshold <= 0) appends without folding") {
    val dir = newDir()
    for (b <- 0 until 6)
      HamStream.appendBatchIntoStore(
        Seq(Update("s1", "f", GunValue.string(s"v$b"), 1000.0 + b)).toDS(),
        b.toLong, dir, 1, compactThreshold = 0)
    val files = new java.io.File(dir + "/bucket=0").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 6, s"expected 6 uncompacted deltas, found $files")
    assert(HamStream.readStore(spark, dir).count() == 1)
  }

  test("delta point read still prunes to one bucket partition") {
    val dir = newDir()
    HamStream.appendBatchIntoStore(
      (1 to 200).map(i =>
        Update(s"soul$i", "f", GunValue.number(i.toLong), 1000)).toDS(),
      0L, dir, NumBuckets)
    val bucket = s"bucket=${HamStream.bucketIdOf("soul7", "f", NumBuckets)}"
    val (hit, jobs, touched) = CountedFs.pointRead(spark, dir, "soul7", "f", NumBuckets)
    assert(hit == FetchResult("f", Some(GunValue.number(7L)), Some(1000.0), valueExists = true))
    assert(jobs == 0, s"a point read must run no Spark job, ran $jobs")
    // of the store's files, the read opens the layout marker and, once
    // each, the key's bucket files
    val bucketFiles = new java.io.File(dir, bucket).list().toSeq
      .filter(_.endsWith(".parquet")).map(f => s"$bucket/$f")
    assert(touched.openedUnder(dir) == (bucketFiles :+ "_layout").sorted)
  }

  test("a compaction swap between a point read's listing and its scan: the read lists again") {
    val dir = newDir()
    for (b <- 0 until 3)
      HamStream.appendBatchIntoStore(
        Seq(Update("s1", "f", GunValue.string(s"v$b"), 1000.0 + b)).toDS(),
        b.toLong, dir, NumBuckets, compactThreshold = 0)
    val bucket = s"bucket=${HamStream.bucketIdOf("s1", "f", NumBuckets)}"
    val counted = CountedFs.path(dir, spark.sparkContext.hadoopConfiguration)
    // the production read; its first listing of the key's bucket is
    // followed by a fold of the bucket, which swaps the bucket dir and
    // deletes the three listed delta files before the read opens them
    var folded = false
    def foldOnce(listed: org.apache.hadoop.fs.Path): Unit =
      if (listed.getName == bucket && !folded) {
        folded = true
        HamStream.compactBuckets(spark, dir, Seq(bucket), nowMs = 0.0,
          ttlMs = Double.PositiveInfinity, stagingName = ".compact-staging-race")
      }
    val ((hit, touched), logged) = graft.SparkSuite.warningsDuring {
      CountedFs.during(foldOnce) {
        HamStream.fetchFromStore(spark, counted, "s1", "f", NumBuckets)
      }
    }
    assert(folded)
    assert(touched.listed.count(_.getName == bucket) == 2, "the read lists the bucket twice")
    assert(hit == FetchResult("f", Some(GunValue.string("v2")), Some(1002.0), valueExists = true),
      "the second listing reads the folded winner")
    assert(logged.isEmpty, s"the recovered read logs no WARN or ERROR: ${logged.take(3)}")
  }

  test("a point read inside a compaction swap reads the parked bucket and renames nothing") {
    import org.apache.hadoop.fs.{FilterFileSystem, Path}
    val dir = newDir()
    for (b <- 0 until 2)
      HamStream.appendBatchIntoStore(
        Seq(Update("s1", "f", GunValue.string(s"v$b"), 1000.0 + b)).toDS(),
        b.toLong, dir, NumBuckets, compactThreshold = 0)
    val bucket = s"bucket=${HamStream.bucketIdOf("s1", "f", NumBuckets)}"
    // the bucket's fold, staged in a store of its own
    val folded = newDir()
    HamStream.appendBatchIntoStore(Seq(Update("s1", "f", GunValue.string("v1"), 1001.0)).toDS(),
      0L, folded, NumBuckets)
    val storeDir = new Path(dir)
    val fs = StoreFs.fileSystem(storeDir, spark.sparkContext.hadoopConfiguration)
    val winner = FetchResult("f", Some(GunValue.string("v1")), Some(1001.0), valueExists = true)
    var inSwap: Option[FetchResult] = None
    // the read runs between the swap's rename(live → trash) and its
    // rename(staged → live): the live dir is absent
    val racing = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean = {
        val done = super.rename(src, dst)
        if (dst.getName.startsWith(".trash-"))
          inSwap = Some(HamStream.fetchFromStore(spark, dir, "s1", "f", NumBuckets))
        done
      }
    }
    HamStream.swapBucket(racing, storeDir, bucket, new Path(folded, bucket))
    assert(inSwap.contains(winner), "the read serves the parked bucket")
    val live = new Path(storeDir, bucket)
    assert(!fs.exists(new Path(live, bucket)), "the staged dir must not nest into the live one")
    assert(fs.listStatus(live).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq ==
      Seq("delta-b0-0.parquet"), "the live bucket is the fold's output")
    assert(HamStream.fetchFromStore(spark, dir, "s1", "f", NumBuckets) == winner)
  }

  test("point read's driver-side collapse equals readStore's merged row (property)") {
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import java.nio.charset.StandardCharsets.UTF_8
    // any UTF-16 unit: NUL, non-ASCII, lone surrogates
    val anyStr = Gen.stringOf(Gen.choose(Char.MinValue, Char.MaxValue))
    // every value kind, also with its sub-field null; states from three
    // values, so equal-state ties (broken by canonical JSON) are common
    val kinds = Seq(ValueKind.Null, ValueKind.Str, ValueKind.Num, ValueKind.Bool, ValueKind.Rel)
    val value = Gen.oneOf(
      Gen.oneOf(kinds.map(GunValue(_)) ++ Seq(GunValue.string(""), GunValue.string("a"),
        GunValue.string("\u00fc"), GunValue.number("1"), GunValue.number("-2.5"),
        GunValue.bool(true), GunValue.bool(false), GunValue.relation("r1"),
        GunValue.relation("r2"))),
      anyStr.map(GunValue.string), anyStr.map(GunValue.relation))
    val history = for {
      n <- Gen.choose(1, 11) // un-compacted appends of the key
      rows <- Gen.listOfN(n, Gen.zip(value, Gen.choose(1, 3).map(_ * 1000.0)))
    } yield rows
    // valueExists is a function of (value, state): a full (state, JSON)
    // tie then carries one valueExists, so the winner is unambiguous
    def exists(v: GunValue, st: Double) = ((v, st).hashCode & 3) != 0
    // the string a key reads back as: Spark stores UTF-8, which has no
    // lone surrogate (it writes '?')
    def stored(s: String) = new String(s.getBytes(UTF_8), UTF_8)
    // a key that shares the soul, and one that shares the field, in the
    // key's own bucket, so each half of the read's key predicate matters
    def siblings(soul: String, field: String): Seq[(String, String)] = {
      val b = HamStream.bucketIdOf(soul, field, NumBuckets)
      def first(f: Int => (String, String)) =
        Iterator.from(0).map(f).find { case (s, g) =>
          HamStream.bucketIdOf(s, g, NumBuckets) == b
        }.get
      Seq((soul, field), first(n => (soul, s"$field\u0000$n")),
        first(n => (s"$soul\u0000$n", field)))
    }
    val fixed = Seq(("", ""), ("", "f"), ("s", ""), ("\u00fc", "\u6f22\u5b57"),
      ("\ud83d\ude00", "\u0000"), ("\ud800", "f"), ("s", "\udfff"))
    for (seed <- 0 until 3) {
      val generated = Gen.listOfN(4, Gen.zip(anyStr, anyStr))(
        Gen.Parameters.default, Seed(9100L + seed)).get
      val histories = Gen.listOfN(fixed.size + 3 * generated.size, history)(
        Gen.Parameters.default, Seed(9200L + seed)).get
      val keys = (fixed ++ generated.flatMap { case (s, f) => siblings(s, f) })
        .distinctBy { case (s, f) => (stored(s), stored(f)) }.zip(histories)
      // append k holds each key's k-th row, so a key with n rows spans n
      // delta files; written directly, since the sink stamps valueExists
      val dir = newDir()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_layout"),
        HamStream.LayoutVersion)
      for (k <- 0 until 11) {
        val cells = keys.collect { case ((soul, field), rows) if rows.size > k =>
          val (v, st) = rows(k)
          GunCell(soul, field, v, st, exists(v, st))
        }
        if (cells.nonEmpty)
          cells.toDF()
            .withColumn("bucket", HamStream.bucketOf(col("soul"), col("field"), NumBuckets))
            .repartition(col("bucket"))
            .write.mode("append").partitionBy("bucket").parquet(dir)
      }
      val merged = HamStream.readStore(spark, dir, NumBuckets).as[GunCell].collect()
        .map(c => (c.soul, c.field) -> c).toMap
      assert(merged.size == keys.size)
      // a failure message of printable ASCII: the test report's XML
      // writer aborts the run on a lone surrogate
      def printable(x: Any) = x.toString.flatMap(c =>
        if (c >= ' ' && c <= '~') c.toString else f"\\u${c.toInt}%04x")
      keys.foreach { case ((soul, field), rows) =>
        val m = merged((stored(soul), stored(field)))
        val got = HamStream.fetchFromStore(spark, dir, soul, field, NumBuckets)
        val want = FetchResult(field, Some(m.value), Some(m.state), m.valueExists)
        val same = got == want
        assert(same, printable(
          s"seed ${9100 + seed} key ($soul, $field) rows $rows: read $got, merged $want"))
      }
    }
  }
}
