package graft.sources

import graft.SparkSuite
import graft.core.{GunCell, GunValue}
import graft.streaming.HamStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Multi-peer publish fan-out ([[GunWire.publishStream]] over a peer SET):
  * the reference sends every message to every live peer concurrently and
  * isolates per-peer failures (gun/gun.go:206-234 — goroutine per peer,
  * errors to onPeerError, failing peers removed). Here: each peer must
  * receive the same globally-ordered frame sequence (so every replica
  * converges to the same HAM-merged view), and one dead peer must neither
  * fail the batch nor stall the others.
  */
class MultiPeerPublishSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 2.1 s (two real
  // websocket peers); the limit is 28x that, room for a first suite that
  // starts the session and a shared host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private def decodeCells(frames: Seq[String]): Seq[GunCell] =
    frames.flatMap(fr => WireCodec.splitFrame(fr).flatMap { m =>
      WireCodec.decodeEnvelope(m).putJson.toSeq.flatMap(GunWire.decodePutFragment)
    })

  private def drain(conn: PeerConn, expectMsgs: Int, timeoutMs: Long = 15000): Seq[String] = {
    val got = Seq.newBuilder[String]
    var n = 0
    val deadline = System.currentTimeMillis() + timeoutMs
    while (n < expectMsgs && System.currentTimeMillis() < deadline)
      conn.receive(50).foreach { f => got += f; n += WireCodec.splitFrame(f).length }
    got.result()
  }

  test("two real websocket peers each converge to the same HAM-merged view") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val accepted = new java.util.concurrent.LinkedBlockingQueue[PeerConn]()
    val server = new GunWebSocketServer(0, accepted.put(_), sendDamOnConnect = false)
    val c1 = WebSocketPeerConn.dial(s"ws://127.0.0.1:${server.boundPort}/gun")
    val c2 = WebSocketPeerConn.dial(s"ws://127.0.0.1:${server.boundPort}/gun")
    val a1 = accepted.poll(5, java.util.concurrent.TimeUnit.SECONDS)
    val a2 = accepted.poll(5, java.util.concurrent.TimeUnit.SECONDS)
    assert(a1 != null && a2 != null, "websocket accepts timed out")
    val in = MemoryStream[GunCell]
    val q = GunWire.publishStream(
      HamStream.updates(in.toDS(), timers = false),
      Seq(a1, a2), GunWire.MaxFrameMessages, (_, _) => ())
    try {
      val base = System.currentTimeMillis() - 60000
      // two writes to one cell across batches: only the net transitions
      // publish, and both replicas see them in the same order
      in.addData(Seq(
        GunCell("sa", "f", GunValue.string("v1"), base.toDouble),
        GunCell("sb", "g", GunValue.number("7"), base.toDouble)))
      q.processAllAvailable()
      in.addData(Seq(GunCell("sa", "f", GunValue.string("v2"), (base + 1).toDouble)))
      q.processAllAvailable()

      for (client <- Seq(c1, c2)) {
        val cells = decodeCells(drain(client, expectMsgs = 3))
        // replica state = HAM fold of received cells: both converge to v2/7
        val folded = cells.groupBy(c => (c.soul, c.field)).view
          .mapValues(_.maxBy(_.state)).toMap
        assert(folded(("sa", "f")).value == GunValue.string("v2"))
        assert(folded(("sb", "g")).value == GunValue.number("7"))
        assert(cells.count(c => c.soul == "sa") == 2, "both transitions delivered")
      }
    } finally {
      q.stop()
      c1.close(); c2.close(); server.close()
    }
  }

  test("a dead peer is isolated: others keep receiving, error surfaces once") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (aliveA, aliveB) = InMemoryPeerConn.pair()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val dead = new PeerConn {
      override def send(frame: String): Unit =
        throw new java.io.IOException("peer gone")
      override def receive(timeoutMs: Long): Option[String] = None
      override def close(): Unit = ()
    }
    val in = MemoryStream[GunCell]
    val q = GunWire.publishStream(
      HamStream.updates(in.toDS(), timers = false),
      Seq(dead, aliveA), GunWire.MaxFrameMessages,
      (_, e) => errors.add(e))
    try {
      val base = System.currentTimeMillis() - 60000
      in.addData(Seq(GunCell("s1", "f", GunValue.string("x"), base.toDouble)))
      q.processAllAvailable()
      assert(q.exception.isEmpty, "a dead peer must not fail the batch")
      assert(errors.size == 1 && errors.peek().getMessage == "peer gone")
      // the live peer got the frame
      val cells = decodeCells(drain(aliveB, expectMsgs = 1))
      assert(cells.map(c => (c.soul, c.field)) == Seq(("s1", "f")))
      // dead peer is dropped from the live set: a second batch reports NO
      // further errors (reference removePeer semantics)
      in.addData(Seq(GunCell("s2", "f", GunValue.string("y"), (base + 1).toDouble)))
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(errors.size == 1, "dropped peer must not re-error every frame")
      assert(decodeCells(drain(aliveB, expectMsgs = 1)).map(_.soul) == Seq("s2"))
    } finally {
      q.stop()
      aliveA.close(); aliveB.close()
    }
  }
}
