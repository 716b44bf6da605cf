package graft.sources

import graft.SparkSuite
import graft.core.GunCell
import graft.streaming.HamStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** End-to-end A22: wire frames (including double-encoded batches and DAM
  * control messages) → DSv2 `gun` source → GunWire codec → HamStream
  * updates → sink. The peer side is an in-memory conn — the transport the
  * reference's PeerConn interface makes pluggable (gun/peer.go:162-174).
  */
class GunSourceSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 1.7 s (publish paging);
  // the limit is 34x that, room for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  test("full wire e2e: real websocket peer → server accept → gun source → HAM stream") {
    val spark2 = spark
    import spark2.implicits._
    val peers = new java.util.concurrent.LinkedBlockingQueue[PeerConn]()
    val server = new GunWebSocketServer(0, peers.put(_), sendDamOnConnect = false)
    var client: WebSocketPeerConn = null
    try {
      client = WebSocketPeerConn.dial(s"ws://127.0.0.1:${server.boundPort}/gun")
      val accepted = peers.poll(5, java.util.concurrent.TimeUnit.SECONDS)
      assert(accepted != null)
      InMemoryPeerConn.register("e2e-ws", accepted)
      val frames = spark.readStream.format("gun")
        .option("conn", "e2e-ws").option("pid", "spark-engine").load()
      val cells = GunWire.framesToCells(frames, "frame").as[GunCell]
      val q = HamStream.updates(cells, timers = false).writeStream
        .format("memory").queryName("gun_ws_updates").outputMode("append").start()
      try {
        // the remote peer asks who we are, then pushes a put — over a
        // REAL socket through the RFC 6455 server
        client.send(WireCodec.damRequest)
        client.send("""{"#":"m1","put":{"w1":{"_":{"#":"w1",">":{"f":1500}},"f":"live"}}}""")
        // socket delivery is async: keep draining micro-batches until the
        // update lands (or time out)
        def collected() = spark.sql("SELECT soul, value.str, state FROM gun_ws_updates")
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
        val deadline = System.currentTimeMillis() + 15000
        var rows = Set.empty[(String, String, Double)]
        while (rows.isEmpty && System.currentTimeMillis() < deadline) {
          Thread.sleep(100)
          q.processAllAvailable()
          rows = collected()
        }
        assert(rows == Set(("w1", "live", 1500.0)))
        assert(client.receive(5000).contains("""{"dam":"?","pid":"spark-engine"}"""))
      } finally q.stop()
    } finally {
      InMemoryPeerConn.unregister("e2e-ws")
      if (client != null) client.close()
      server.close()
    }
  }

  test("tracking policy gates the live wire ingest: Requested drops never-seen keys") {
    // The reference applies the tracking policy to EVERY received put
    // before storing (gun/gun.go:266-286). Round 2 hardwired
    // TrackingEverything on the live path; this drives TrackingRequested
    // end-to-end: wire frames → gun source → HAM stream seeded with the
    // store's known keys — the stranger soul must never emit.
    val spark2 = spark
    import spark2.implicits._
    import graft.core.GunValue
    import graft.operators.HamMerge
    val (ours, theirs) = InMemoryPeerConn.pair()
    InMemoryPeerConn.register("trk-src", ours)
    val frames = spark.readStream.format("gun")
      .option("conn", "trk-src").option("pid", "spark-engine").load()
    val cells = GunWire.framesToCells(frames, "frame").as[GunCell]
    val known = Seq(GunCell("known", "f", GunValue.string("seed"), 100)).toDS()
    val q = HamStream.updates(cells, timers = false,
        tracking = HamMerge.TrackingRequested, initialStore = Some(known))
      .writeStream
      .format("memory").queryName("trk_updates").outputMode("append").start()
    try {
      theirs.send(WireCodec.joinFrame(Seq(
        """{"#":"m1","put":{"known":{"_":{"#":"known",">":{"f":2000}},"f":"upd"}}}""",
        """{"#":"m2","put":{"stranger":{"_":{"#":"stranger",">":{"g":2000}},"g":"spam"}}}""")))
      def collected() = spark.sql("SELECT soul, value.str, state FROM trk_updates")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      val deadline = System.currentTimeMillis() + 15000
      var rows = Set.empty[(String, String, Double)]
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        q.processAllAvailable()
        rows = collected()
      }
      // known key: seeded state 100 loses to the wire write at 2000 → emit;
      // stranger key: dropped by the policy, end-to-end
      assert(rows == Set(("known", "upd", 2000.0)))
    } finally {
      q.stop()
      InMemoryPeerConn.unregister("trk-src")
      theirs.close(); ours.close()
    }
  }

  test("checkpoint restart: restored offset anchors the buffer base") {
    // Simulates Spark recovering from a checkpoint: a fresh stream instance
    // (empty driver buffer) gets deserializeOffset(100) replayed from the
    // offset log. New messages must land at offsets ≥ 100 — not at 0..n
    // where they'd be silently swallowed until the count caught up.
    val (ours, theirs) = InMemoryPeerConn.pair()
    InMemoryPeerConn.register("restart-src", ours)
    try {
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("conn", "restart-src", "pid", "spark-engine"))
      val stream = new GunMicroBatchStream(opts)
      val restored = stream.deserializeOffset("100")
      assert(restored.asInstanceOf[GunOffset].n == 100L)
      // the replayed pre-restart range yields an empty batch (documented
      // at-most-once for in-flight messages), not a mis-slice
      assert(stream.planInputPartitions(GunOffset(95), GunOffset(100)).isEmpty)
      // a NEW message maps beyond the checkpointed position
      theirs.send("""{"#":"r1","put":{"rs":{"_":{"#":"rs",">":{"f":1}},"f":"v"}}}""")
      val deadline = System.currentTimeMillis() + 5000
      var latest = 100L
      while (latest == 100L && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        latest = stream.latestOffset().asInstanceOf[GunOffset].n
      }
      assert(latest == 101L)
      val parts = stream.planInputPartitions(GunOffset(100), GunOffset(101))
      assert(parts.length == 1 &&
        parts(0).asInstanceOf[GunFramesPartition].frames.head.contains("\"rs\""))
      stream.commit(GunOffset(101))
      stream.stop()
    } finally {
      InMemoryPeerConn.unregister("restart-src")
      theirs.close(); ours.close()
    }
  }

  test("WAL replay: a planned batch is re-delivered after restart, then pruned") {
    // at-least-once for planned batches: the range journals to the
    // checkpoint dir before partitions are handed out; a new stream
    // instance (restart) replaying the same range serves it from the
    // journal; commit prunes it. Re-delivery is safe downstream — the HAM
    // merge is idempotent.
    val ckpt = java.nio.file.Files.createTempDirectory("gun_wal").toString
    val (ours, theirs) = InMemoryPeerConn.pair()
    InMemoryPeerConn.register("wal-src", ours)
    try {
      val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("conn", "wal-src", "pid", "spark-engine"))
      val frame = """{"#":"w1","put":{"ws":{"_":{"#":"ws",">":{"f":1}},"f":"v"}}}"""
      val s1 = new GunMicroBatchStream(opts, Some(ckpt))
      theirs.send(frame)
      val deadline = System.currentTimeMillis() + 5000
      var latest = 0L
      while (latest == 0L && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        latest = s1.latestOffset().asInstanceOf[GunOffset].n
      }
      assert(latest == 1L)
      // planning journals the range (no commit — simulating a crash here)
      val planned = s1.planInputPartitions(GunOffset(0), GunOffset(1))
      assert(planned.length == 1)
      s1.stop()

      // "restart": fresh instance, same checkpoint; Spark replays (0,1)
      val s2 = new GunMicroBatchStream(opts, Some(ckpt))
      s2.deserializeOffset("1")
      val replayed = s2.planInputPartitions(GunOffset(0), GunOffset(1))
      assert(replayed.length == 1 &&
        replayed(0).asInstanceOf[GunFramesPartition].frames.toSeq == Seq(frame))
      // commit prunes the journal; a second replay of the range is empty
      s2.commit(GunOffset(1))
      assert(s2.planInputPartitions(GunOffset(0), GunOffset(1)).isEmpty)
      assert(!new java.io.File(s"$ckpt/gun-wal/0-1").exists())
      s2.stop()
    } finally {
      InMemoryPeerConn.unregister("wal-src")
      theirs.close(); ours.close()
    }
  }

  test("publish sink: merged updates fan out as decodable put frames") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.GunValue
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (ours, theirs) = InMemoryPeerConn.pair()
    val in = MemoryStream[GunCell]
    val q = GunWire.publishStream(HamStream.updates(in.toDS(), timers = false), ours)
    try {
      in.addData(
        GunCell("p1", "f", GunValue.string("v1"), 1000),
        GunCell("p1", "f", GunValue.string("v0"), 500)) // loses the merge
      q.processAllAvailable()
      val frame = theirs.receive(5000)
      assert(frame.isDefined)
      val cells = WireCodec.splitFrame(frame.get).flatMap { m =>
        GunWire.decodePutFragment(WireCodec.decodeEnvelope(m).putJson.get)
      }
      // only the net winner crossed the wire, at its own state
      assert(cells == Seq(GunCell("p1", "f", GunValue.string("v1"), 1000.0)))
    } finally { q.stop(); ours.close(); theirs.close() }
  }

  test("publish paging: a large batch crosses as bounded frames, in order") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.core.GunValue
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (ours, theirs) = InMemoryPeerConn.pair()
    val in = MemoryStream[GunCell]
    // page size 64 ⇒ a 500-soul batch must cross as ≥ 8 frames; the driver
    // never holds more than one partition + one 64-message buffer (the
    // >driver-memory protection, asserted here via the paging behavior)
    val q = GunWire.publishStream(
      HamStream.updates(in.toDS(), timers = false), ours, maxFrameMessages = 64)
    try {
      val cells = (1 to 500).map(i =>
        GunCell(f"s$i%04d", "f", GunValue.number(i.toLong), 1000))
      in.addData(cells: _*)
      q.processAllAvailable()
      var frames = Vector.empty[String]
      var f = theirs.receive(5000)
      while (f.isDefined) { frames :+= f.get; f = theirs.receive(500) }
      val perFrame = frames.map(fr => WireCodec.splitFrame(fr).length)
      assert(perFrame.forall(_ <= 64), s"oversized frame: $perFrame")
      assert(perFrame.sum == 500)
      assert(frames.size >= 8)
      val souls = frames.flatMap(fr => WireCodec.splitFrame(fr).flatMap { m =>
        GunWire.decodePutFragment(WireCodec.decodeEnvelope(m).putJson.get)
      }).map(_.soul)
      assert(souls.toSet == cells.map(_.soul).toSet)
      // deterministic: global soul order is preserved across frame breaks
      assert(souls == souls.sorted)
    } finally { q.stop(); ours.close(); theirs.close() }
  }

  test("gun source: frames → cells → HAM update stream; DAM answered, not emitted") {
    val spark2 = spark
    import spark2.implicits._
    val (ours, theirs) = InMemoryPeerConn.pair()
    InMemoryPeerConn.register("e2e-src", ours)
    val frames = spark.readStream.format("gun")
      .option("conn", "e2e-src").option("pid", "spark-engine")
      .load()
    val cells = GunWire.framesToCells(frames, "frame").as[GunCell]
    val q = HamStream.updates(cells, timers = false).writeStream
      .format("memory").queryName("gun_src_updates").outputMode("append").start()
    try {
      // batch frame: DAM request + two puts (one stale for the same key)
      theirs.send(WireCodec.joinFrame(Seq(
        WireCodec.damRequest,
        """{"#":"m1","put":{"s1":{"_":{"#":"s1",">":{"f":1000}},"f":"v1"}}}""",
        """{"#":"m2","put":{"s1":{"_":{"#":"s1",">":{"f":500}},"f":"stale"}}}""")))
      q.processAllAvailable()
      // DAM answered with our pid, consumed from the data stream
      assert(theirs.receive(2000).contains("""{"dam":"?","pid":"spark-engine"}"""))
      // single-message frame: newer write arrives later
      theirs.send("""{"#":"m3","put":{"s1":{"_":{"#":"s1",">":{"f":2000}},"f":"v2"}}}""")
      q.processAllAvailable()
      val rows = spark.sql("SELECT soul, field, value.str, state FROM gun_src_updates")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
        .toSet
      assert(rows == Set(
        ("s1", "f", "v1", 1000.0), // stale write merged away, never emitted
        ("s1", "f", "v2", 2000.0)))
    } finally {
      q.stop()
      InMemoryPeerConn.unregister("e2e-src")
      theirs.close()
    }
  }
}
