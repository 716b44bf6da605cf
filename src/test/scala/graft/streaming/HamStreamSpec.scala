package graft.streaming

import graft.SparkSuite
import graft.core.{GunCell, GunValue}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

class HamStreamSpec extends SparkSuite with TimeLimitedTests {
  import HamStream._

  // slowest test on a 4-vCPU host in a full tier-1 run: 8.3 s (the
  // watermark-bounded subscription); the limit is 7x that, room for a
  // shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private val empty = KeyState(None, None, Nil)
  private val k = ("s1", "f")
  private def cell(v: String, st: Double) = GunCell("s1", "f", GunValue.string(v), st)

  test("step: first write emits; newer wins; older discarded") {
    val (st1, out1) = step(k, Seq(cell("a", 1000)), empty, nowMs = 2000, ttlMs = 1e9)
    assert(out1.map(_.value) == Seq(GunValue.string("a")))
    val (st2, out2) = step(k, Seq(cell("b", 1500), cell("stale", 500)), st1, 2000, 1e9)
    assert(out2.map(_.value) == Seq(GunValue.string("b")))
    assert(st2.value.contains(GunValue.string("b")) && st2.state.contains(1500.0))
  }

  test("step: duplicate value+state not re-emitted (subscription dedupe)") {
    val (st1, _) = step(k, Seq(cell("a", 1000)), empty, 2000, 1e9)
    val (_, out2) = step(k, Seq(cell("a", 1000)), st1, 2000, 1e9)
    assert(out2.isEmpty)
  }

  test("step: same-state tiebreak by canonical json") {
    val (st1, _) = step(k, Seq(cell("a", 1000)), empty, 2000, 1e9)
    val (st2, out2) = step(k, Seq(cell("b", 1000)), st1, 2000, 1e9)
    assert(out2.map(_.value) == Seq(GunValue.string("b")))
    val (_, out3) = step(k, Seq(cell("a", 1000)), st2, 2000, 1e9)
    assert(out3.isEmpty) // lexically smaller → keep
  }

  test("step: conflicting future write deferred, applied when clock catches up") {
    val (st1, _) = step(k, Seq(cell("now", 1000)), empty, 2000, 1e9)
    val (st2, out2) = step(k, Seq(cell("future", 5000)), st1, 2000, 1e9)
    assert(out2.isEmpty && st2.deferred.map(_.state) == List(5000.0))
    val (st3, out3) = step(k, Nil, st2, nowMs = 6000, ttlMs = 1e9)
    assert(out3.map(_.value) == Seq(GunValue.string("future")))
    assert(st3.deferred.isEmpty && st3.state.contains(5000.0))
  }

  test("step: ttl evicts idle value") {
    val (st1, _) = step(k, Seq(cell("a", 1000)), empty, 2000, ttlMs = 1e9)
    val (st2, out) = step(k, Nil, st1, nowMs = 1000 + 2e9, ttlMs = 1e9)
    assert(st2.value.isEmpty && out.isEmpty)
  }

  test("step: a state tie goes to the larger Go JSON bytes: \"\\u0001\" beats \"A\"") {
    // Go escapes 0x01 as `\u0001`, and a backslash (0x5c) > 'A' (0x41)
    for (order <- Seq(Seq("\u0001", "A"), Seq("A", "\u0001"))) {
      val (st1, _) = step(k, Seq(cell(order(0), 1000)), empty, 2000, 1e9)
      val (st2, _) = step(k, Seq(cell(order(1), 1000)), st1, 2000, 1e9)
      val (one, _) = step(k, order.map(cell(_, 1000)), empty, 2000, 1e9)
      // boolean asserts: a rendered control char would break the XML report
      val (twoBatches, oneBatch) = (st2.value.contains(GunValue.string("\u0001")),
        one.value.contains(GunValue.string("\u0001")))
      assert(twoBatches && oneBatch, order.map(graft.core.HamGen.printable))
    }
  }

  test("step equals Ham.mergeBatch over winner, matured and incoming cells, plus emit and TTL (property)") {
    import graft.core.{HamGen, Ham}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // one key, NUL or lone-surrogate in some; states 0..5000 against
    // clocks 1000..4000, so present, future, stale and tied cells all occur
    val key = Gen.oneOf(("s1", "f"), ("s\u0000", "\u0000"), ("\ud800", "f\udfff"))
    def cells(soul: String, field: String) = Gen.choose(0, 4).flatMap(Gen.listOfN(_,
      Gen.zip(HamGen.value, Gen.choose(0, 10).map(_ * 500.0)).map { case (v, s) =>
        GunCell(soul, field, v, s) }))
    val run = for {
      (soul, field) <- key
      steps <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.zip(cells(soul, field),
        Gen.choose(1, 4).map(_ * 1000.0))))
      ttl <- Gen.oneOf(1500.0, 1e12)
    } yield ((soul, field), steps, ttl)
    def bag[T](xs: Seq[T]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    var emits, keeps, deferrals, evictions, ties = 0
    for (i <- 0 until 400) {
      val (key, steps, ttl) = run(Gen.Parameters.default, Seed(7100L + i)).get
      val (soul, field) = key
      steps.foldLeft(empty) { case (st, (in, now)) =>
        val cur = st.value.zip(st.state)
        val (matured, still) = st.deferred.partition(_.state <= now)
        val (merged, deferred) = Ham.mergeBatch(
          cur.map { case (v, s) => GunCell(soul, field, v, s) }.iterator,
          matured.map(d => GunCell(soul, field, d.value, d.state)) ++ in, now)
        val winner = merged.map(c => (c.value, c.state)).headOption
        val (next, out) = step(key, in, st, now, ttl)
        // boolean asserts with a printable clue: a rendered lone surrogate
        // would abort the XML report
        val clue = HamGen.printable(s"seed ${7100 + i}: state $st, cells $in, now $now, ttl $ttl")
        val emitted = out == winner.filterNot(cur.contains).toSeq.map { case (v, s) =>
          Update(soul, field, v, s) }
        val won = next.value.zip(next.state) == winner.filter(_._2 >= now - ttl)
        val parked = bag(next.deferred) == bag(deferred.map(c => DeferredCell(c.value, c.state)) ++ still)
        assert(emitted, HamGen.printable(s"$clue: emitted $out"))
        assert(won, HamGen.printable(s"$clue: winner $next"))
        assert(parked, HamGen.printable(s"$clue: deferred $next"))
        if (out.nonEmpty) emits += 1 else if (in.nonEmpty) keeps += 1
        deferrals += deferred.size
        if (winner.isDefined && next.value.isEmpty) evictions += 1
        ties += in.count(c => cur.exists(w => w._2 == c.state && w._1 != c.value))
        next
      }
    }
    // the generator reached every branch of the rule
    assert(emits > 0 && keeps > 0 && deferrals > 0 && evictions > 0 && ties > 0,
      (emits, keeps, deferrals, evictions, ties))
  }

  test("step convergence: any batch split reaches the same final state (property)") {
    // CRDT property at the streaming-operator level: for non-future cells,
    // applying a cell multiset through ANY sequence of step() calls must
    // converge to the same (value, state) winner — the same guarantee
    // HamMergeSpec asserts for the batch operator, here for the state
    // machine the wire path runs on.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cellGen = Gen.listOfN(8, for {
      v <- Gen.oneOf("a", "b", "aa", "z", "")
      st <- Gen.chooseNum(1L, 50L)
    } yield cell(v, st.toDouble * 100))
    (0 until 40).foreach { i =>
      cellGen(Gen.Parameters.default, Seed(7000L + i)).foreach { cells =>
        val now = 10000.0 // all generated states ≤ 5000 → nothing defers
        // reference outcome: one big batch
        val (oneShot, _) = step(k, cells, empty, now, ttlMs = 1e12)
        // split points derived from the seed: apply in 1-4 chunks
        val nChunks = 1 + (i % 4)
        val chunks = cells.grouped(math.max(1, cells.size / nChunks)).toSeq
        val (multi, _) = chunks.foldLeft((empty, Seq.empty[Update])) {
          case ((st0, _), chunk) => step(k, chunk, st0, now, ttlMs = 1e12)
        }
        assert(multi.value == oneShot.value && multi.state == oneShot.state,
          s"seed ${7000 + i}: split into $nChunks chunks diverged " +
            s"(${multi.value}/${multi.state} vs ${oneShot.value}/${oneShot.state})")
      }
    }
  }

  test("merged-store sink: updates foreachBatch-merge into a parquet store") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ham_store").toString + "/cells"
    val in = MemoryStream[GunCell]
    val q = appendIntoStore(updates(in.toDS(), timers = false), dir)
    try {
      in.addData(GunCell("s1", "f", GunValue.string("v1"), 1000))
      q.processAllAvailable()
      in.addData(
        GunCell("s1", "f", GunValue.string("v2"), 2000), // newer → wins
        GunCell("s2", "g", GunValue.number(9L), 500))
      q.processAllAvailable()
      val store = readStore(spark, dir)
        .select("soul", "field", "value.str", "value.num", "state").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
          r.getDouble(4)))
        .toSet
      assert(store == Set(
        ("s1", "f", "v2", null, 2000.0),
        ("s2", "g", null, "9", 500.0)))
    } finally q.stop()
  }

  test("subscribeWithSnapshot: current value delivered first, then transitions") {
    // gun/scoped_fetch.go:104-107 — a subscriber to an already-written cell
    // sees the current local value immediately, then each later update.
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snapshot = Seq(GunCell("s1", "f", GunValue.string("current"), 1000),
      GunCell("s9", "x", GunValue.string("other-cell"), 900)).toDS()
    val in = MemoryStream[GunCell]
    val sub = subscribeWithSnapshot(snapshot, updates(in.toDS(), timers = false), "s1", "f")
    val q = sub.writeStream
      .format("memory").queryName("snap_sub").outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.sql("SELECT value.str, state FROM snap_sub")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(first == Seq(("current", 1000.0))) // initial emit, nothing else
      in.addData(GunCell("s1", "f", GunValue.string("next"), 2000),
        GunCell("s9", "x", GunValue.string("not-subscribed"), 2000))
      q.processAllAvailable()
      val all = spark.sql("SELECT value.str FROM snap_sub ORDER BY state")
        .collect().map(_.getString(0)).toSeq
      assert(all == Seq("current", "next")) // soul-interest filter held
    } finally q.stop()
  }

  test("merged-store sink is incremental: untouched buckets' files stay put") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ham_store_inc").toString + "/cells"
    val in = MemoryStream[GunCell]
    // level 0 folds when it holds 2 files
    val q = appendIntoStore(updates(in.toDS(), timers = false), dir, numBuckets = 8,
      compactThreshold = 2)
    try {
      // seed several souls across buckets, folded into bucket bases
      in.addData((1 to 20).map(i => GunCell(s"soul$i", "f", GunValue.number(i.toLong), 1000)): _*)
      q.processAllAvailable()
      assert(StoreFiles.level0(dir).size == 1 && StoreFiles.buckets(dir).isEmpty)
      StoreFiles.fold(spark, dir)
      def bucketFiles(): Map[String, Set[(String, Long)]] =
        StoreFiles.buckets(dir).map { case (b, fs) =>
          b -> fs.map(f => (f.getName, f.lastModified())).toSet
        }
      val before = bucketFiles()
      assert(before.size > 1) // data actually spread over several buckets
      assert(StoreFiles.level0(dir).isEmpty)
      // a batch adds exactly one level-0 file and changes no bucket: the
      // same file listings AND timestamps (no rewrite)
      in.addData(GunCell("soul1", "f", GunValue.number(999L), 2000))
      q.processAllAvailable()
      assert(StoreFiles.level0(dir).size == 1)
      assert(bucketFiles() == before)
      // the next batch crosses the threshold: the fold rewrites only the
      // buckets its two level-0 files touch, and empties level 0
      in.addData(GunCell("soul1", "f", GunValue.number(1000L), 3000))
      q.processAllAvailable()
      val after = bucketFiles()
      val touchedBucket = s"bucket=${bucketIdOf("soul1", "f", 8)}"
      assert(StoreFiles.level0(dir).isEmpty)
      assert(after.keySet == before.keySet)
      (before.keySet - touchedBucket).foreach { b =>
        assert(after(b) == before(b), s"bucket $b was rewritten")
      }
      assert(after(touchedBucket).size == 1 && after(touchedBucket) != before(touchedBucket))
      // and the merged view is correct: soul1 updated, others intact
      val store = readStore(spark, dir)
        .select($"soul", $"value.num".as("num")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(store("soul1") == "1000" && store("soul2") == "2" && store.size == 20)
    } finally q.stop()
  }

  test("bucketIdOf on the driver equals the bucketOf column on every key") {
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val spark2 = spark
    import spark2.implicits._
    // any UTF-16 unit, lone surrogates included: both forms encode through
    // UTF8String.fromString
    val anyStr = Gen.stringOf(Gen.choose(Char.MinValue, Char.MaxValue))
    val generated = (0 until 60).flatMap(i =>
      Gen.zip(anyStr, Gen.asciiStr).apply(Gen.Parameters.default, Seed(500L + i)))
    val keys = Seq(("", ""), ("s", ""), ("", "f"), ("ü", "漢字"), ("😀", "\u0000"),
      ("x" * 100000, "y" * 70001)) ++ generated
    val df = keys.toDF("soul", "field")
    for (n <- Seq(1, 7, 64)) {
      val rows = df.select(bucketOf(col("soul"), col("field"), n)).collect()
      assert(rows.length == keys.length)
      // a clue of printable ASCII: the test report's XML writer aborts
      // the run on a lone surrogate
      def printable(x: String) = x.take(20).flatMap(c =>
        if (c >= ' ' && c <= '~') c.toString else f"\\u${c.toInt}%04x")
      keys.zip(rows).foreach { case ((soul, field), r) =>
        assert(bucketIdOf(soul, field, n) == r.getLong(0),
          s"n=$n key=(${printable(soul)}, ${printable(field)})")
      }
    }
  }

  test("fetchFromStore: point read prunes to one bucket directory") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ham_store_read").toString + "/cells"
    def append(b: Int, state: Double) =
      appendBatchIntoStore((1 to 16).map(i =>
        Update(s"rsoul$i", "f", GunValue.number(i * 10L + b), state)).toDS(),
        b.toLong, dir, numBuckets = 8, compactThreshold = 0)
    // three appends folded into the bucket bases, then two un-compacted
    // appends of older states: level 0 holds one file per append
    for (b <- 0 until 3) append(b, 1000.0 + b)
    StoreFiles.fold(spark, dir)
    for (b <- 3 until 5) append(b, 900.0 + b)
    val bucket = s"bucket=${bucketIdOf("rsoul7", "f", 8)}"
    val bucketFiles = StoreFiles.buckets(dir)(bucket).map(f => s"$bucket/${f.getName}")
    val level0 = StoreFiles.level0(dir).map(f => s"_l0/${f.getName}")
    assert(bucketFiles.size == 1 && level0.size == 2)

    val (hit, jobs, touched) = CountedFs.pointRead(spark, dir, "rsoul7", "f", numBuckets = 8)
    // the winner is in the bucket base, the newer appends' losers in level 0
    assert(hit.valueExists && hit.value.contains(GunValue.number(72L)) &&
      hit.state.contains(1002.0))
    assert(jobs == 0, s"a point read must run no Spark job, ran $jobs")
    assert(touched.openedUnder(dir) == (bucketFiles ++ level0 :+ "_layout").sorted,
      s"the read must open exactly the key's bucket files, level 0 and the marker, " +
        s"opened ${touched.openedUnder(dir)}")

    val miss = HamStream.fetchFromStore(spark, dir, "rsoul7", "nope", numBuckets = 8)
    assert(!miss.valueExists)
    // a missing bucket dir, and a missing store, read as absent too
    val oneKey = java.nio.file.Files.createTempDirectory("ham_store_1key").toString + "/cells"
    appendBatchIntoStore(Seq(Update("rsoul1", "f", GunValue.number(1L), 1000.0)).toDS(),
      0L, oneKey, numBuckets = 8)
    val otherBucket = (2 to 16).map(i => s"rsoul$i")
      .find(bucketIdOf(_, "f", 8) != bucketIdOf("rsoul1", "f", 8)).get
    assert(!HamStream.fetchFromStore(spark, oneKey, otherBucket, "f", numBuckets = 8).valueExists)
    assert(!HamStream.fetchFromStore(spark, oneKey + "-absent", "rsoul1", "f",
      numBuckets = 8).valueExists)
  }

  test("compactStore drops expired cells and removes fully-expired buckets") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ham_store_ttl").toString + "/cells"
    val in = MemoryStream[GunCell]
    val q = appendIntoStore(updates(in.toDS(), timers = false), dir, numBuckets = 4)
    try {
      in.addData(
        GunCell("old1", "f", GunValue.string("a"), 1000),
        GunCell("old2", "f", GunValue.string("b"), 2000),
        GunCell("new1", "f", GunValue.string("c"), 99000))
      q.processAllAvailable()
    } finally q.stop()
    HamStream.compactStore(spark, dir, nowMs = 100000, ttlMs = 5000)
    assert(StoreFiles.level0(dir).isEmpty, "the fold empties level 0")
    val kept = spark.read.parquet(dir).select("soul").as[String].collect().toSet
    assert(kept == Set("new1"))
    // no bucket dir holds only-expired data anymore
    val bucketDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      assert(d.listFiles().exists(_.getName.endsWith(".parquet")))
    }
  }

  test("subscribeWithSnapshot: dedupe state is watermark-bounded, race still deduped") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    // the write that produced the snapshot is still "in flight" on the
    // update stream: it must be delivered exactly once (the dedupe race)
    val snapshot = Seq(GunCell("s1", "f", GunValue.string("v0"), t0.toDouble)).toDS()
    val in = MemoryStream[GunCell]
    val sub = subscribeWithSnapshot(snapshot, updates(in.toDS(), timers = false),
      "s1", "f", dedupeRetention = "10 seconds")
    val q = sub.writeStream
      .format("memory").queryName("wm_sub").outputMode("append").start()
    try {
      in.addData(GunCell("s1", "f", GunValue.string("v0"), t0.toDouble))
      q.processAllAvailable()
      val v0count = spark.sql("SELECT * FROM wm_sub WHERE value.str = 'v0'").count()
      assert(v0count == 1) // snapshot + in-flight write collapsed to one emit
      // advance event time far beyond the 10 s retention, batch by batch:
      // earlier transitions age out of the dedupe state store
      (1 to 5).foreach { i =>
        in.addData(GunCell("s1", "f", GunValue.string(s"v$i"),
          (t0 + i * 60000L).toDouble))
        q.processAllAvailable()
      }
      val dedupeRows = q.lastProgress.stateOperators
        .find(_.operatorName.toLowerCase.contains("dedupe"))
        .map(_.numRowsTotal)
      // 6 distinct transitions passed through; only those within the
      // watermark window may remain tracked
      assert(dedupeRows.exists(_ < 6),
        s"dedupe state not bounded: $dedupeRows rows after 6 transitions")
      // every transition was still delivered exactly once
      val delivered = spark.sql("SELECT value.str FROM wm_sub")
        .collect().map(_.getString(0)).toSeq
      assert(delivered.sorted == (0 to 5).map(i => s"v$i"))
    } finally q.stop()
  }

  test("fold crash windows: after the promote and mid-delete, every key reads its winner") {
    val spark2 = spark
    import spark2.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = (1 to 12).map(i => s"ssoul$i")
    // the bases hold every key; level 0 holds newer winners for half of
    // them and stale losers for two of the others
    val want = keys.zipWithIndex.map { case (k, i) =>
      k -> (if (i < 6) GunValue.number(100L + i) else GunValue.number(i.toLong))
    }.toMap
    def store(tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"ham_store_$tag").toString + "/cells"
      appendBatchIntoStore(keys.zipWithIndex.map { case (k, i) =>
        Update(k, "f", GunValue.number(i.toLong), 1000) }.toDS(), 0L, dir, numBuckets = 4)
      StoreFiles.fold(spark, dir)
      appendBatchIntoStore((keys.take(6).zipWithIndex.map { case (k, i) =>
          Update(k, "f", GunValue.number(100L + i), 2000) } ++
        keys.slice(6, 8).map(k => Update(k, "f", GunValue.string("stale"), 500))).toDS(),
        1L, dir, numBuckets = 4, compactThreshold = 0)
      dir
    }
    // a crash after the promote (no data file deleted), after one base's
    // delete, and after all four (the bases go first, level 0 last)
    for (n <- Seq(0, 1, 4)) {
      val dir = store(s"crash$n")
      val listed = StoreFiles.level0(dir).size + StoreFiles.buckets(dir).values.map(_.size).sum
      assert(listed == 5, s"the fold lists level 0 and the four bases, not $listed files")
      val deleted = StoreFiles.crashFold(dir, n) {
        StoreFiles.fold(spark, CountedFs.path(dir, conf))
      }
      assert(deleted.size == n)
      // the fold's output and the files it did not delete sit side by
      // side: every key reads its winner, on both read paths, and the
      // reads change no path, size or mtime
      val before = StoreFiles.tree(dir)
      keys.foreach { k =>
        assert(HamStream.fetchFromStore(spark, dir, k, "f", numBuckets = 4).value.contains(want(k)),
          s"crash after $n deletes: $k")
      }
      val bulk = readStore(spark, dir).as[GunCell].collect().map(c => c.soul -> c.value).toMap
      assert(bulk == want, s"crash after $n deletes")
      assert(StoreFiles.tree(dir) == before, s"crash after $n deletes: a read changed the store")
      // the next fold absorbs the duplicates: one file per bucket
      StoreFiles.fold(spark, dir)
      assert(StoreFiles.level0(dir).isEmpty)
      assert(StoreFiles.buckets(dir).values.forall(_.size == 1), StoreFiles.buckets(dir))
      assert(StoreFiles.rawCells(spark, dir).count() == keys.size)
      keys.foreach { k =>
        assert(HamStream.fetchFromStore(spark, dir, k, "f", numBuckets = 4).value.contains(want(k)))
      }
    }
  }

  test("lsh candidate hot-bucket cap rep-links oversized buckets") {
    import graft.operators.Dedup
    val spark2 = spark
    import spark2.implicits._
    // 3 docs share band key "X" (bucket of 3), 2 docs share "Y" (bucket of 2)
    val sigs = Seq(
      (1L, 0L, 100L), (2L, 0L, 100L), (3L, 0L, 100L),
      (4L, 0L, 200L), (5L, 0L, 200L)).toDF("doc_id", "i", "sig")
    val uncapped = Dedup.minhashCandidates(sigs).count()
    val capped = Dedup.minhashCandidates(sigs, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == 4) // 3C2 + 1
    // hot bucket X switches to representative linking: members pair with
    // the bucket-min doc (1) instead of all-pairs — (2,3) is the only pair
    // the cap sacrifices, and the family stays connected through 1
    assert(capped == Set((1L, 2L), (1L, 3L), (4L, 5L)))
  }

  test("streaming end-to-end: MemoryStream → HAM updates → memory sink") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[GunCell]
    val q = updates(in.toDS(), timers = false).writeStream
      .format("memory").queryName("ham_updates").outputMode("append").start()
    try {
      in.addData(
        GunCell("s1", "f", GunValue.string("v1"), 1000),
        GunCell("s1", "f", GunValue.string("v0"), 500), // arrives with older state
        GunCell("s2", "g", GunValue.number(7L), 1200))
      q.processAllAvailable()
      in.addData(GunCell("s1", "f", GunValue.string("v2"), 2000))
      q.processAllAvailable()
      val rows = spark.sql("SELECT soul, field, value.str, value.num, state FROM ham_updates")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getDouble(4)))
        .toSet
      assert(rows.contains(("s1", "f", "v1", null, 1000.0)))
      assert(rows.contains(("s1", "f", "v2", null, 2000.0)))
      assert(rows.contains(("s2", "g", null, "7", 1200.0)))
      // the out-of-order older write must NOT have been emitted
      assert(!rows.exists(_._3 == "v0"))
    } finally q.stop()
  }

  test("without timers an initialStore key keeps its state until its next cell, in any batch") {
    // the first batch has no cells, so Spark calls the state function for
    // the seeded key alone; its long-expired seed must still gate the
    // Requested policy when the key's cell comes in the next batch
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val known = Seq(GunCell("known", "f", GunValue.string("seed"), 100)).toDS()
    val in = MemoryStream[GunCell]
    val q = updates(in.toDS(), timers = false,
        tracking = graft.operators.HamMerge.TrackingRequested, initialStore = Some(known))
      .writeStream.format("memory").queryName("seeded_updates").outputMode("append").start()
    try {
      in.addData(Seq.empty[GunCell]: _*)
      q.processAllAvailable()
      in.addData(GunCell("known", "f", GunValue.string("upd"), 2000),
        GunCell("stranger", "g", GunValue.string("spam"), 2000))
      q.processAllAvailable()
      // batch 0 ran on no cells; both cells came in batch 1
      assert(q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq == Seq(1L))
      val rows = spark.sql("SELECT soul, value.str, state FROM seeded_updates")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      assert(rows == Set(("known", "upd", 2000.0)))
    } finally q.stop()
  }
}
