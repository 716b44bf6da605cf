package graft.operators

import graft.SparkSuite
import graft.core.{GunCell, GunValue}
import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

class HamMergeSpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 8.0 s (the CRDT
  // convergence property); the limit is 15x that, room for a first suite
  // that starts the session and for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(120, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private def cells(rows: (String, String, GunValue, Double)*): DataFrame =
    rows.map { case (s, f, v, st) => GunCell(s, f, v, st) }.toDF()

  private def winners(df: DataFrame): Map[(String, String), (GunValue, Double)] =
    df.as[GunCell].collect().map(c => (c.soul, c.field) -> (c.value, c.state)).toMap

  test("mergeSnapshot picks newest state per key") {
    val m = winners(HamMerge.mergeSnapshot(cells(
      ("s1", "f", GunValue.string("old"), 1000),
      ("s1", "f", GunValue.string("new"), 2000),
      ("s2", "f", GunValue.number(7L), 500))))
    assert(m(("s1", "f")) == (GunValue.string("new"), 2000.0))
    assert(m(("s2", "f")) == (GunValue.number(7L), 500.0))
  }

  test("mergeSnapshot breaks state ties by canonical json bytes (larger wins)") {
    val m = winners(HamMerge.mergeSnapshot(cells(
      ("s1", "f", GunValue.string("a"), 1000),
      ("s1", "f", GunValue.string("b"), 1000),
      // bool false (`false`) vs number 99 (`"99"`, quoted like Go's
      // json.Marshal of the named string type): '"'(0x22) < 'f'(0x66)
      ("s2", "f", GunValue.bool(false), 1000),
      ("s2", "f", GunValue.number(99L), 1000))))
    assert(m(("s1", "f"))._1 == GunValue.string("b"))
    assert(m(("s2", "f"))._1 == GunValue.bool(false))
  }

  test("mergeSnapshot equals a fold of Ham.mergeCells, control chars included (property)") {
    import graft.core.{CanonicalJson, Ham, HamGen}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import java.nio.charset.StandardCharsets.UTF_8
    // Spark stores strings as UTF-8, which has no lone surrogate: it writes '?'
    def stored(s: String) = new String(s.getBytes(UTF_8), UTF_8)
    def storedValue(v: GunValue) =
      v.copy(str = v.str.map(stored), num = v.num.map(stored), rel = v.rel.map(stored))
    val keys = Seq(("s", "f"), ("s", "\u0000"), ("\u0000", "f"), ("\ud800", "f"), ("s", "g\udfff"))
    val cell = for {
      (soul, field) <- Gen.oneOf(keys)
      v <- HamGen.value
      st <- Gen.choose(1, 3).map(_ * 1000.0)
    } yield GunCell(soul, field, v, st)
    // the tie that the escape-free key broke the other way: raw 0x01 < 'A',
    // Go's `\u0001` > 'A'
    val tie = Seq(GunCell("s", "f", GunValue.string("\u0001"), 1000.0),
      GunCell("s", "f", GunValue.string("A"), 1000.0))
    val histories = tie +: (0 until 6).map(i =>
      Gen.listOfN(60, cell)(Gen.Parameters.default, Seed(8100L + i)).get)
    histories.zipWithIndex.foreach { case (history, i) =>
      // (state, JSON) decides a winner; a full tie (a number and a string
      // of the same digits) may keep either
      def key(c: GunCell) = (c.state, CanonicalJson.encode(c.value))
      val want = history.map(c => c.copy(soul = stored(c.soul), field = stored(c.field),
          value = storedValue(c.value)))
        .groupBy(c => (c.soul, c.field)).view.mapValues(cs => key(cs.reduce(Ham.mergeCells))).toMap
      val got = HamMerge.mergeSnapshot(history.toDF()).as[GunCell].collect()
        .map(c => (c.soul, c.field) -> key(c)).toMap
      val same = got == want // a rendered control char would break the XML report
      assert(same, HamGen.printable(s"history $i: got $got, want $want"))
    }
  }

  test("merge defers conflicting future writes but applies never-seen ones") {
    val store = cells(("s1", "f", GunValue.string("cur"), 1000))
    val incoming = cells(
      ("s1", "f", GunValue.string("future"), 9000), // conflicts → deferred
      ("s9", "f", GunValue.string("brand-new-future"), 9000)) // never-seen → applies
    val (merged, deferred) = HamMergeReference.merge(store, incoming, sysState = 2000)
    val m = winners(merged)
    assert(m(("s1", "f"))._1 == GunValue.string("cur"))
    assert(m(("s9", "f"))._1 == GunValue.string("brand-new-future"))
    val d = deferred.as[GunCell].collect()
    assert(d.length == 1 && d.head.soul == "s1" && d.head.state == 9000.0)
  }

  test("future write conflicting with an in-batch present write defers") {
    // Key is new to the store, but the same batch carries a present-time
    // cell for it: sequential application (reference semantics) would land
    // the present write first, so the future write must defer, not win.
    val store = cells()
    val incoming = cells(
      ("s1", "f", GunValue.string("present"), 1500),
      ("s1", "f", GunValue.string("future"), 9000))
    val (merged, deferred) = HamMergeReference.merge(store, incoming, sysState = 2000)
    assert(winners(merged)(("s1", "f"))._1 == GunValue.string("present"))
    val d = deferred.as[GunCell].collect()
    assert(d.length == 1 && d.head.state == 9000.0)
  }

  test("applyDeferred re-merges matured cells only") {
    val store = cells(("s1", "f", GunValue.string("cur"), 1000))
    val deferred = cells(
      ("s1", "f", GunValue.string("soon"), 3000),
      ("s1", "g", GunValue.string("later"), 9000))
    val (merged, still) = HamMergeReference.applyDeferred(store, deferred, sysState = 5000)
    val m = winners(merged)
    assert(m(("s1", "f"))._1 == GunValue.string("soon"))
    assert(!m.contains(("s1", "g")))
    assert(still.as[GunCell].collect().map(_.state).toSeq == Seq(9000.0))
  }

  test("incremental merge: untouched store keys skip the re-merge aggregation") {
    // 200-key store, batch touching ONE key: untouched rows must pass
    // through the anti-join branch without entering any aggregate — the
    // batch-API analogue of HamStreamSpec's "untouched buckets' files stay
    // put". A full-store re-merge would push all 200 rows through max_by.
    val store = cells((1 to 200).map(i =>
      (s"s$i", "f", GunValue.string(s"v$i"): GunValue, 1000.0)): _*)
    val incoming = cells(("s7", "f", GunValue.string("new"), 2000))
    val (merged, deferred) = HamMergeReference.merge(store, incoming, sysState = 3000)
    val m = winners(merged) // single action: metrics below reflect one run
    assert(m.size == 200)
    assert(m(("s7", "f"))._1 == GunValue.string("new"))
    assert(m(("s8", "f"))._1 == GunValue.string("v8"))
    assert(deferred.count() == 0)
    val finalPlan = merged.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val aggOut = finalPlan.collect {
      case agg: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        agg.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    // aggregates present (key distinct + the touched-slice merge), but none
    // saw the store bulk
    assert(aggOut.nonEmpty, "expected aggregate nodes in the merge plan")
    assert(aggOut.forall(_ <= 10),
      s"an aggregate processed the untouched store bulk: $aggOut")
  }

  test("purge drops cells older than ttl") {
    val df = cells(
      ("s1", "f", GunValue.string("old"), 0),
      ("s1", "g", GunValue.string("recent"), 10000))
    val kept = HamMerge.purge(df, nowMs = 10500, ttlMs = 1000).as[GunCell].collect()
    assert(kept.map(_.field).toSeq == Seq("g"))
  }

  test("tracking policies: everything / requested / nothing") {
    val store = cells(("s1", "f", GunValue.string("x"), 100))
    val in = cells(
      ("s1", "f", GunValue.string("y"), 200),
      ("s2", "f", GunValue.string("z"), 200))
    assert(HamMerge.applyTracking(store, in, HamMerge.TrackingEverything).count() == 2)
    val req = HamMerge.applyTracking(store, in, HamMerge.TrackingRequested).as[GunCell].collect()
    assert(req.map(_.soul).toSeq == Seq("s1"))
    assert(HamMerge.applyTracking(store, in, HamMerge.TrackingNothing).count() == 0)
  }

  test("CRDT convergence: any batch split reaches the same final store") {
    // The reference applies writes one at a time in arrival order; the
    // engine applies them set-at-a-time per micro-batch. HAM's
    // commutativity/associativity must make every batching reach the
    // same store once all deferred writes mature — the property that
    // makes at-least-once replays and shuffle reordering safe.
    val rnd = new scala.util.Random(7)
    val all = (1 to 60).map { i =>
      (s"s${rnd.nextInt(6)}", s"f${rnd.nextInt(3)}",
        GunValue.string(s"v${rnd.nextInt(9)}"): GunValue,
        (1000 + rnd.nextInt(5000)).toDouble)
    }
    val direct = winners(HamMerge.mergeSnapshot(cells(all: _*)))
    (0 until 3).foreach { trial =>
      val shuffled = new scala.util.Random(trial).shuffle(all)
      val batches = shuffled.grouped(7 + trial * 5).toSeq
      var store = cells()
      var deferred = cells()
      // apply with a mid-range clock: some cells defer, then mature
      batches.foreach { b =>
        val (m, d) = HamMergeReference.merge(store, cells(b: _*), sysState = 3500)
        store = m.localCheckpoint(true)
        deferred = deferred.unionByName(d).localCheckpoint(true)
      }
      val (fin, still) = HamMergeReference.applyDeferred(store, deferred, sysState = 10000)
      assert(still.count() == 0)
      assert(winners(fin) == direct, s"trial $trial diverged")
    }
  }

  test("typed aggregator merge matches DataFrame merge") {
    val data = Seq(
      GunCell("s1", "f", GunValue.string("a"), 1000),
      GunCell("s1", "f", GunValue.string("b"), 1000),
      GunCell("s1", "f", GunValue.string("z"), 900))
    val typed = HamMerge.mergeTyped(data.toDS()).collect().head
    val df = winners(HamMerge.mergeSnapshot(data.toDF()))(("s1", "f"))
    assert(typed.value == df._1 && typed.state == df._2)
  }
}
