package graft.streaming

import graft.SparkSuite
import graft.core.{FetchResult, GunCell, GunValue, ValueKind}
import graft.streaming.HamStream.Update
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The LSM-style delta store ([[HamStream.appendIntoStore]]): per-batch
  * I/O is O(batch) — each micro-batch lands as one immutable level-0
  * file — and every read collapses to the HAM winner, so correctness
  * holds at any compaction lag. Point reads open level 0 and one bucket;
  * [[HamStream.compactStore]] folds level 0 into the buckets, one row per
  * key; at-least-once replay (duplicate appends) is idempotent.
  */
class DeltaStoreSpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 7.4 s (the
  // stream-equals-batch property through updates); the limit is 16x
  // that, room for a shared host that runs 2-3x slower
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
    assert(StoreFiles.rawCells(spark, dir)
      .filter($"soul" === "s1" && $"field" === "f").count() == 2)
    // ...as ONE level-0 file per batch, whatever buckets its keys route
    // to, and no bucket dir before a fold
    assert(StoreFiles.level0(dir).map(_.getName) == Seq("delta-b0.parquet", "delta-b1.parquet"))
    assert(StoreFiles.buckets(dir).isEmpty)
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
    assert(StoreFiles.level0(dir).map(_.getName) == Seq("delta-b0.parquet"))
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
    assert(StoreFiles.level0(dir).isEmpty)
    val rows = spark.read.parquet(dir)
      .select("soul", "value.str").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("fresh", "live")))
    // compacted store is one physical row per surviving key
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("compactStore keeps every cell of a store of any bucket count, and takes no count") {
    val cells = (0 until 40).map(i =>
      Update(s"s$i", s"f${i % 3}", GunValue.number(i.toLong), 1000.0 + i))
    for (buckets <- Seq(4, 8, 16)) {
      val dir = newDir()
      // bases from one fold, then level 0 over them, folded together
      HamStream.appendBatchIntoStore(cells.take(25).toDS(), 0L, dir, buckets, compactThreshold = 0)
      HamStream.compactStore(spark, dir, nowMs = 0.0, ttlMs = Double.PositiveInfinity)
      HamStream.appendBatchIntoStore(cells.drop(15).toDS(), 1L, dir, buckets, compactThreshold = 0)
      HamStream.compactStore(spark, dir, nowMs = 0.0, ttlMs = Double.PositiveInfinity)
      val clue = s"$buckets buckets"
      assert(StoreFiles.level0(dir).isEmpty, clue)
      val want = cells.map(c => s"bucket=${HamStream.bucketIdOf(c.soul, c.field, buckets)}").toSet
      assert(StoreFiles.buckets(dir).keySet == want, s"$clue: each cell in its own bucket")
      assert(StoreFiles.rawCells(spark, dir).count() == cells.size, s"$clue: one row per key")
      cells.foreach { c =>
        val r = HamStream.fetchFromStore(spark, dir, c.soul, c.field, buckets)
        assert(r.value.contains(c.value), s"$clue: (${c.soul}, ${c.field})")
      }
    }
  }

  test("concurrent point reads each return their key's winner") {
    val dir = newDir()
    val cells = (0 until 30).map(i => Update(s"s$i", "f", GunValue.number(i.toLong), 1000.0 + i))
    HamStream.appendBatchIntoStore(cells.toDS(), 0L, dir, NumBuckets)
    StoreFiles.fold(spark, dir)
    // batch b rewrites every third key: level 0 holds three files
    def last(i: Int) = i % 3 + 1
    for (b <- 1 to 3)
      HamStream.appendBatchIntoStore(cells.indices.filter(last(_) == b)
        .map(i => cells(i).copy(value = GunValue.string(s"v$b"), state = cells(i).state + b)).toDS(),
        b.toLong, dir, NumBuckets, compactThreshold = 0)
    // more readers than the common pool has workers on most hosts, each
    // read opening its files on that pool at once
    val readers = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(readers)
    try {
      val reads = (0 until readers * 4).map { n =>
        val i = n % cells.size
        pool.submit(() => i -> HamStream.fetchFromStore(spark, dir, cells(i).soul, "f", NumBuckets))
      }
      reads.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).foreach { case (i, r) =>
        assert(r == FetchResult("f", Some(GunValue.string(s"v${last(i)}")),
          Some(cells(i).state + last(i)), valueExists = true), s"s$i")
      }
    } finally pool.shutdownNow()
  }

  test("auto-compaction bounds the per-bucket delta-file count over a long run") {
    val dir = newDir()
    val threshold = 4
    val buckets = 2 // few buckets so every fold touches all of them
    // what a point read opens: level 0 and one bucket's files
    def maxFiles(): Int =
      StoreFiles.level0(dir).size + (StoreFiles.buckets(dir).values.map(_.size) ++ Seq(0)).max
    for (b <- 0 until 30) {
      HamStream.appendBatchIntoStore(
        Seq(Update("s1", "f", GunValue.string(s"v$b"), 1000.0 + b),
          Update("s2", "g", GunValue.string(s"w$b"), 1000.0 + b)).toDS(),
        b.toLong, dir, buckets, compactThreshold = threshold)
      // invariant at EVERY batch, not just the end: the trigger fires the
      // moment level 0 reaches the threshold, folding it into buckets of
      // one file each
      assert(StoreFiles.level0(dir).size < threshold && maxFiles() <= threshold,
        s"batch $b: level 0 holds ${StoreFiles.level0(dir).size} files, a read opens " +
          s"${maxFiles()} (> $threshold)")
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
    // a batch with no rows (an idle timer batch) adds no file
    HamStream.appendBatchIntoStore(Seq.empty[Update].toDS(), 6L, dir, 1, compactThreshold = 0)
    val files = StoreFiles.level0(dir).size
    assert(files == 6, s"expected 6 uncompacted deltas, found $files")
    assert(StoreFiles.buckets(dir).isEmpty)
    assert(HamStream.readStore(spark, dir).count() == 1)
  }

  test("delta point read still prunes to one bucket partition") {
    val dir = newDir()
    HamStream.appendBatchIntoStore(
      (1 to 200).map(i =>
        Update(s"soul$i", "f", GunValue.number(i.toLong), 1000)).toDS(),
      0L, dir, NumBuckets)
    StoreFiles.fold(spark, dir)
    HamStream.appendBatchIntoStore(
      (1 to 20).map(i => Update(s"soul$i", "f", GunValue.number(-i.toLong), 2000)).toDS(),
      1L, dir, NumBuckets)
    val bucket = s"bucket=${HamStream.bucketIdOf("soul7", "f", NumBuckets)}"
    val (hit, jobs, touched) = CountedFs.pointRead(spark, dir, "soul7", "f", NumBuckets)
    assert(hit == FetchResult("f", Some(GunValue.number(-7L)), Some(2000.0), valueExists = true))
    assert(jobs == 0, s"a point read must run no Spark job, ran $jobs")
    // of the store's files, the read opens the layout marker and, once
    // each, the key's bucket files and the level-0 files
    val bucketFiles = StoreFiles.buckets(dir)(bucket).map(f => s"$bucket/${f.getName}")
    val level0 = StoreFiles.level0(dir).map(f => s"_l0/${f.getName}")
    assert(bucketFiles.size == 1 && level0.size == 1)
    assert(touched.openedUnder(dir) == (bucketFiles ++ level0 :+ "_layout").sorted)
    // a key level 0 does not hold reads from its bucket base
    assert(HamStream.fetchFromStore(spark, dir, "soul70", "f", NumBuckets) ==
      FetchResult("f", Some(GunValue.number(70L)), Some(1000.0), valueExists = true))
  }

  test("a compaction swap between a point read's listing and its scan: the read lists again") {
    val dir = newDir()
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("base"), 999.0)).toDS(), 0L, dir, NumBuckets)
    StoreFiles.fold(spark, dir)
    for (b <- 1 to 3)
      HamStream.appendBatchIntoStore(
        Seq(Update("s1", "f", GunValue.string(s"v$b"), 1000.0 + b)).toDS(),
        b.toLong, dir, NumBuckets, compactThreshold = 0)
    val bucket = s"bucket=${HamStream.bucketIdOf("s1", "f", NumBuckets)}"
    val counted = CountedFs.path(dir, spark.sparkContext.hadoopConfiguration)
    // the production read; its first listing of the key's bucket is
    // followed by a fold, which promotes its output into the bucket and
    // deletes the listed base and level-0 files before the read opens them
    var folded = false
    def foldOnce(listed: org.apache.hadoop.fs.Path): Unit =
      if (listed.getName == bucket && !folded) {
        folded = true
        HamStream.compactBuckets(spark, dir, StoreFiles.level0Paths(dir), Nil,
          nowMs = 0.0, ttlMs = Double.PositiveInfinity)
      }
    val ((hit, touched), logged) = graft.SparkSuite.warningsDuring {
      CountedFs.during(foldOnce) {
        HamStream.fetchFromStore(spark, counted, "s1", "f", NumBuckets)
      }
    }
    assert(folded)
    assert(touched.listed.count(_.getName == bucket) == 2, "the read lists the bucket twice")
    assert(hit == FetchResult("f", Some(GunValue.string("v3")), Some(1003.0), valueExists = true),
      "the second listing reads the folded winner")
    assert(logged.isEmpty, s"the recovered read logs no WARN or ERROR: ${logged.take(3)}")
  }

  test("a fold between a point read's level-0 and bucket listings: the read lists again") {
    // the fold lands right after the read lists level 0, looks the key's
    // bucket up or lists it, into a bucket that had no files yet and into
    // one with a base; the read must never return what the store held
    // before the fold, nor miss the fold's output. (A read that looked
    // the bucket up before listing level 0 would miss it: the fold would
    // make the bucket after the lookup and empty level 0 before its
    // listing.)
    val cases = Seq((false, "listing", "_l0"), (false, "lookup", "bucket="),
      (true, "listing", "_l0"), (true, "lookup", "bucket="), (true, "listing", "bucket="))
    for ((withBase, event, after) <- cases) {
      val dir = newDir()
      if (withBase) {
        HamStream.appendBatchIntoStore(
          Seq(Update("s1", "f", GunValue.string("base"), 999.0)).toDS(), 0L, dir, NumBuckets)
        StoreFiles.fold(spark, dir)
      }
      for (b <- 1 to 2)
        HamStream.appendBatchIntoStore(
          Seq(Update("s1", "f", GunValue.string(s"v$b"), 1000.0 + b)).toDS(),
          b.toLong, dir, NumBuckets, compactThreshold = 0)
      val bucket = s"bucket=${HamStream.bucketIdOf("s1", "f", NumBuckets)}"
      val counted = CountedFs.path(dir, spark.sparkContext.hadoopConfiguration)
      var folded = false
      def foldOnce(path: org.apache.hadoop.fs.Path): Unit =
        if (path.getName.startsWith(after) && !folded) {
          folded = true
          HamStream.compactBuckets(spark, dir, StoreFiles.level0Paths(dir), Nil,
            nowMs = 0.0, ttlMs = Double.PositiveInfinity)
        }
      val (hit, touched) =
        if (event == "listing") CountedFs.during(hook = foldOnce) {
          HamStream.fetchFromStore(spark, counted, "s1", "f", NumBuckets)
        }
        else CountedFs.during(statusHook = foldOnce) {
          HamStream.fetchFromStore(spark, counted, "s1", "f", NumBuckets)
        }
      val clue = s"base $withBase, fold after the $after $event"
      assert(folded, clue)
      assert(StoreFiles.level0(dir).isEmpty && StoreFiles.buckets(dir).contains(bucket), clue)
      assert(touched.listed.count(_.getName == "_l0") == 2, s"$clue: the read lists again")
      assert(hit == FetchResult("f", Some(GunValue.string("v2")), Some(1002.0), valueExists = true),
        s"$clue: read $hit")
    }
  }

  test("a point read inside a fold's delete reads the old or new winner and changes nothing") {
    val dir = newDir()
    // s1 has a stale base and a level-0 winner the fold keeps; s2 and s3
    // each have one row, which the fold expires: s2's in level 0, s3's in
    // a base, so each reads its old winner until that row's file is gone
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("base"), 1000.0),
        Update("s3", "f", GunValue.string("expires"), 1000.0)).toDS(), 0L, dir, NumBuckets)
    StoreFiles.fold(spark, dir)
    HamStream.appendBatchIntoStore(
      Seq(Update("s1", "f", GunValue.string("kept"), 9000.0),
        Update("s2", "f", GunValue.string("expires"), 1000.0)).toDS(),
      1L, dir, NumBuckets, compactThreshold = 0)
    val souls = Seq("s1", "s2", "s3")
    def read(soul: String) = HamStream.fetchFromStore(spark, dir, soul, "f", NumBuckets)
    val old = souls.map(s => s -> read(s)).toMap
    val gone = FetchResult("f", None, None, valueExists = false)
    val now = Map("s1" -> old("s1"), "s2" -> gone, "s3" -> gone)
    assert(old("s1").value.contains(GunValue.string("kept")) && old("s2").valueExists &&
      old("s3").valueExists)
    val listed = (StoreFiles.level0(dir) ++ StoreFiles.buckets(dir).values.flatten).map(_.getPath)
    // before each of the fold's deletes (the first one right after its
    // promote) every key reads its winner from before the fold or from
    // after it, and the reads change no path, size or mtime
    val seen = scala.collection.mutable.ArrayBuffer.empty[(org.apache.hadoop.fs.Path, Map[String, FetchResult])]
    CountedFs.during(deleteHook = p => if (StoreFiles.isDataFile(dir, p)) {
      val before = StoreFiles.tree(dir)
      seen += p -> souls.map(s => s -> read(s)).toMap
      assert(StoreFiles.tree(dir) == before, s"a read before the delete of $p changed the store")
    }) {
      HamStream.compactStore(spark, CountedFs.path(dir, spark.sparkContext.hadoopConfiguration),
        nowMs = 10000.0, ttlMs = 5000.0)
    }
    assert(seen.map(_._1.toUri.getPath).sorted == listed.sorted,
      "the fold deletes exactly the files it listed")
    for ((p, reads) <- seen; s <- souls)
      assert(reads(s) == old(s) || reads(s) == now(s), s"$s before the delete of $p: ${reads(s)}")
    // the bases go first, so s3 is gone before the last delete, level 0's,
    // which takes s2
    assert(seen.head._2 == old && seen.last._1.getParent.getName == "_l0")
    assert(seen.last._2("s3") == gone && seen.forall(_._2("s2") == old("s2")))
    assert(souls.map(s => s -> read(s)).toMap == now)
    assert(StoreFiles.level0(dir).isEmpty)
    assert(StoreFiles.buckets(dir).values.forall(_.size == 1), StoreFiles.buckets(dir))
  }

  test("a fold's output never takes an earlier fold's name: no cell is lost") {
    val conf = spark.sparkContext.hadoopConfiguration
    def cells(b: Int) = (1 to 6).map(i => Update(s"s$i", "f", GunValue.number(10L * b + i), 1000.0 + b))
    def want(batches: Int) = (1 to 6).map(i => s"s$i" -> GunValue.number(10L * (batches - 1) + i)).toMap ++
      (0 until batches).map(b => s"only$b" -> GunValue.number(b.toLong)).toMap
    def batch(b: Int) = (cells(b) :+ Update(s"only$b", "f", GunValue.number(b.toLong), 1.0)).toDS()
    def check(dir: String, batches: Int, clue: String): Unit = {
      val merged = HamStream.readStore(spark, dir).as[GunCell].collect().map(c => c.soul -> c.value).toMap
      assert(merged == want(batches), clue)
      want(batches).foreach { case (soul, v) =>
        assert(HamStream.fetchFromStore(spark, dir, soul, "f", NumBuckets).value.contains(v), s"$clue: $soul")
      }
      assert(StoreFiles.level0(dir).isEmpty, clue)
      assert(StoreFiles.buckets(dir).values.forall(_.size == 1), s"$clue: ${StoreFiles.buckets(dir)}")
    }
    // a rename onto a taken name fails on the `counted:` scheme, as on
    // HDFS: a fold whose output took an earlier fold's name would skip
    // its promote and then delete what it folded
    val twice = newDir()
    val twiceC = CountedFs.path(twice, conf)
    for (b <- 0 until 2) {
      HamStream.appendBatchIntoStore(batch(b), b.toLong, twiceC, NumBuckets, compactThreshold = 0)
      StoreFiles.fold(spark, twiceC)
    }
    check(twice, 2, "two compactStores in a row")
    // the auto-fold of batch 2 crashes after its promote; the batch's
    // replay finds its level-0 name taken, and folds again
    val replay = newDir()
    val replayC = CountedFs.path(replay, conf)
    for (b <- 0 until 2)
      HamStream.appendBatchIntoStore(batch(b), b.toLong, replayC, NumBuckets, compactThreshold = 3)
    assert(StoreFiles.crashFold(replay, 0) {
      HamStream.appendBatchIntoStore(batch(2), 2L, replayC, NumBuckets, compactThreshold = 3)
    }.isEmpty)
    assert(StoreFiles.level0(replay).size == 3 && StoreFiles.buckets(replay).nonEmpty)
    HamStream.appendBatchIntoStore(batch(2), 2L, replayC, NumBuckets, compactThreshold = 3)
    check(replay, 3, "a same-batchId replay of an auto-fold that crashed after its promote")
  }

  test("stream equals batch: any cut of a history through level 0 and its folds (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // few keys over few buckets, so keys share buckets and batches; states
    // from four values, so equal-state ties (broken by canonical JSON) and
    // stale writes are common
    val keys = for (s <- 0 until 4; f <- Seq("f", "g")) yield (s"s$s", f)
    val cell = for {
      (soul, field) <- Gen.oneOf(keys)
      v <- Gen.oneOf(GunValue.string("a"), GunValue.string("b"), GunValue.number(7L),
        GunValue.bool(true), GunValue(graft.core.ValueKind.Null))
      st <- Gen.choose(1, 4).map(_ * 1000.0)
    } yield Update(soul, field, v, st)
    val buckets = 4
    for (seed <- 0 until 4) {
      val params = Gen.Parameters.default.withSize(40)
      val history = Gen.listOfN(30, cell)(params, Seed(9300L + seed)).get
      // cut points: 2-7 batches of any size, empty ones included
      val cuts = Gen.listOfN(6, Gen.choose(0, history.size))(params, Seed(9400L + seed)).get
      val bounds = (0 +: cuts.take(1 + seed) :+ history.size).sorted
      val threshold = Seq(1, 2, 3, 5)(seed)
      // after which batches a fold also runs whose listing predates the
      // batch: the batch's own level-0 file is not its to fold or delete
      val lagging = Gen.listOfN(bounds.size, Gen.prob(0.5))(params, Seed(9500L + seed)).get
      val dir = newDir()
      bounds.zip(bounds.tail).zipWithIndex.foreach { case ((from, to), b) =>
        HamStream.appendBatchIntoStore(history.slice(from, to).toDS(), b.toLong, dir, buckets,
          compactThreshold = threshold)
        if (lagging(b))
          HamStream.compactBuckets(spark, dir,
            StoreFiles.level0Paths(dir).filterNot(_.getName == s"delta-b$b.parquet"), Nil,
            nowMs = 0.0, ttlMs = Double.PositiveInfinity)
      }
      val want = graft.operators.HamMerge.mergeSnapshot(history.toDS().toDF()
          .withColumn("valueExists", org.apache.spark.sql.functions.lit(true)))
        .as[GunCell].collect().map(c => (c.soul, c.field) -> c).toMap
      val clue = s"seed ${9300 + seed}, cuts $bounds, threshold $threshold, lagging $lagging"
      val got = HamStream.readStore(spark, dir, buckets).as[GunCell].collect()
      assert(got.map(c => (c.soul, c.field) -> c).toMap == want, clue)
      keys.foreach { case (soul, field) =>
        val read = HamStream.fetchFromStore(spark, dir, soul, field, buckets)
        val expected = want.get((soul, field)).fold(
          FetchResult(field, None, None, valueExists = false))(c =>
          FetchResult(field, Some(c.value), Some(c.state), c.valueExists))
        assert(read == expected, s"$clue: ($soul, $field)")
      }
    }
  }

  test("a control-char state tie reads the same on every path, before and after compactStore") {
    // Go's JSON bytes of "\u0001" (`"\u0001"`) are larger than those of
    // "A" (`"A"`): 0x5c > 0x41 after the quote
    val dir = newDir()
    for ((v, b) <- Seq("\u0001", "A").zipWithIndex)
      HamStream.appendBatchIntoStore(Seq(Update("s", "f", GunValue.string(v), 1000)).toDS(),
        b.toLong, dir, NumBuckets, compactThreshold = 0)
    for (when <- Seq("before compactStore", "after compactStore")) {
      // boolean asserts: a rendered control char would break the XML report
      val bulk = HamStream.readStore(spark, dir, NumBuckets).as[GunCell].collect().map(_.value).toSeq
      val point = HamStream.fetchFromStore(spark, dir, "s", "f", NumBuckets).value
      val (bulkWins, pointWins) = (bulk == Seq(GunValue.string("\u0001")),
        point.contains(GunValue.string("\u0001")))
      assert(bulkWins, graft.core.HamGen.printable(s"readStore $when: $bulk"))
      assert(pointWins, graft.core.HamGen.printable(s"fetchFromStore $when: $point"))
      HamStream.compactStore(spark, dir, nowMs = 0.0, ttlMs = Double.PositiveInfinity)
    }
  }

  test("stream equals batch: a history cut into micro-batches through updates and appendIntoStore (property)") {
    import graft.core.HamGen
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // present states from three values, so equal-state ties are common;
    // no two distinct values share canonical JSON, so every key has one winner
    val keys = Seq(("s", "f"), ("s", "g"), ("\u0000", "f"), ("t", "\u0000"))
    val value = Gen.frequency(6 -> HamGen.string.map(GunValue.string),
      1 -> Gen.oneOf("1", "2").map(GunValue.number), 1 -> Gen.oneOf(true, false).map(GunValue.bool),
      1 -> Gen.const(GunValue.nullValue))
    val cell = for {
      (soul, field) <- Gen.oneOf(keys)
      v <- value
      st <- Gen.choose(1, 3).map(_ * 1000.0)
    } yield GunCell(soul, field, v, st)
    val buckets = 4
    // the tie whose batch order the escape-free tiebreak key got wrong
    val tie = (Seq(GunCell("s", "f", GunValue.string("\u0001"), 1000.0),
      GunCell("s", "f", GunValue.string("A"), 1000.0)), Seq(0, 1, 2), 12)
    val generated = (0 until 3).map { seed =>
      val params = Gen.Parameters.default
      val history = Gen.listOfN(24, cell)(params, Seed(9600L + seed)).get
      val cuts = Gen.listOfN(2 + seed, Gen.choose(0, history.size))(params, Seed(9700L + seed)).get
      (history, (0 +: cuts :+ history.size).sorted, Seq(2, 3, 12)(seed))
    }
    (tie +: generated).foreach { case (history, bounds, threshold) =>
      val dir = newDir()
      val in = MemoryStream[GunCell]
      val q = HamStream.appendIntoStore(
        HamStream.updates(in.toDS(), ttlMs = Double.PositiveInfinity, timers = false),
        dir, buckets, threshold)
      try bounds.zip(bounds.tail).foreach { case (from, to) =>
        in.addData(history.slice(from, to): _*)
        q.processAllAvailable()
      } finally q.stop()
      val want = graft.operators.HamMerge.mergeSnapshot(history.toDF())
        .as[GunCell].collect().map(c => (c.soul, c.field) -> c).toMap
      for (when <- Seq("before compactStore", "after compactStore")) {
        val clue = HamGen.printable(s"history $history, cuts $bounds, threshold $threshold, $when")
        val got = HamStream.readStore(spark, dir, buckets).as[GunCell].collect()
          .map(c => (c.soul, c.field) -> c).toMap
        val same = got == want // a rendered control char would break the XML report
        assert(same, HamGen.printable(s"$clue: readStore $got, want $want"))
        keys.foreach { case (soul, field) =>
          val expected = want.get((soul, field)).fold(
            FetchResult(field, None, None, valueExists = false))(c =>
            FetchResult(field, Some(c.value), Some(c.state), c.valueExists))
          val read = HamStream.fetchFromStore(spark, dir, soul, field, buckets)
          val sameRead = read == expected
          assert(sameRead, HamGen.printable(s"$clue: ($soul, $field) read $read, want $expected"))
        }
        HamStream.compactStore(spark, dir, nowMs = 0.0, ttlMs = Double.PositiveInfinity)
      }
    }
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
      keys.foreach { case ((soul, field), rows) =>
        val m = merged((stored(soul), stored(field)))
        val got = HamStream.fetchFromStore(spark, dir, soul, field, NumBuckets)
        val want = FetchResult(field, Some(m.value), Some(m.state), m.valueExists)
        val same = got == want
        assert(same, graft.core.HamGen.printable(
          s"seed ${9100 + seed} key ($soul, $field) rows $rows: read $got, merged $want"))
      }
    }
  }
}
