package graft.sources

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Real-socket interop: the JDK websocket client (the dial path) against
  * our RFC 6455 accept path — handshake, client-side masking, DAM on
  * connect (gun/server.go:55), double-encoded batch frames, and frame
  * reassembly for payloads past the 16-bit length boundary.
  */
class GunWebSocketServerSpec extends AnyFunSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 0.06 s (the dial-accept handshake); its
  // waits are 2-10 s socket timeouts, so the limit leaves room for them
  val timeLimit: Span = Span(30, Seconds)
  override val defaultTestSignaler = graft.SparkSuite.cancelAllJobs

  test("dial ↔ accept: handshake, DAM on connect, frames both directions") {
    val peers = new LinkedBlockingQueue[PeerConn]()
    val server = new GunWebSocketServer(0, peers.put(_))
    try {
      val client = WebSocketPeerConn.dial(s"ws://127.0.0.1:${server.boundPort}/gun")
      val serverConn = peers.poll(5, TimeUnit.SECONDS)
      assert(serverConn != null)
      // server asks who we are on connect, like the reference's server
      assert(client.receive(5000).contains("""{"dam":"?"}"""))
      client.send(WireCodec.damReply("client-1"))
      assert(serverConn.receive(5000).contains("""{"dam":"?","pid":"client-1"}"""))
      // server → client put; client → server double-encoded batch
      serverConn.send("""{"#":"m1","put":{"s1":{"_":{"#":"s1",">":{"f":1000}},"f":"v"}}}""")
      assert(client.receive(5000).exists(_.contains("\"put\"")))
      client.send(WireCodec.joinFrame(Seq("""{"#":"a"}""", """{"#":"b"}""")))
      val got = serverConn.receive(5000)
      assert(got.isDefined &&
        WireCodec.splitFrame(got.get) == Seq("""{"#":"a"}""", """{"#":"b"}"""))
      client.close()
    } finally server.close()
  }

  test("concurrent sends from many threads serialize; every frame arrives intact") {
    // JDK WebSocket forbids overlapping text sends — WebSocketPeerConn
    // serializes them. 4 threads × 25 frames must all arrive whole (no
    // IllegalStateException, no interleaved corruption) — the failure
    // mode before the fix: GunClient's receive-loop DAM reply racing a
    // user-thread put killed the connection.
    val peers = new LinkedBlockingQueue[PeerConn]()
    val server = new GunWebSocketServer(0, peers.put(_), sendDamOnConnect = false)
    try {
      val client = WebSocketPeerConn.dial(s"ws://127.0.0.1:${server.boundPort}/gun")
      val serverConn = peers.poll(5, TimeUnit.SECONDS)
      assert(serverConn != null)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { t =>
        val th = new Thread(() => {
          try (0 until 25).foreach { i =>
            client.send(s"""{"#":"t$t-m$i","x":"${"y" * 100}"}""")
          } catch { case e: Throwable => errors.add(e) }
        })
        th.start(); th
      }
      threads.foreach(_.join(10000))
      assert(errors.isEmpty, s"concurrent sends failed: ${errors.peek()}")
      val got = scala.collection.mutable.Set[String]()
      var next = serverConn.receive(5000)
      while (next.isDefined && got.size < 100) {
        // every frame is a complete, parseable message with its own id
        val env = WireCodec.decodeEnvelope(next.get)
        assert(env.msgId.isDefined, s"corrupt frame: ${next.get.take(60)}")
        got += env.msgId.get
        if (got.size < 100) next = serverConn.receive(5000)
      }
      assert(got.size == 100)
      client.close()
    } finally server.close()
  }

  test("large frames cross the 16-bit length boundary intact") {
    val peers = new LinkedBlockingQueue[PeerConn]()
    val server = new GunWebSocketServer(0, peers.put(_), sendDamOnConnect = false)
    try {
      val client = WebSocketPeerConn.dial(s"ws://127.0.0.1:${server.boundPort}/gun")
      val serverConn = peers.poll(5, TimeUnit.SECONDS)
      val big = "x" * 70000
      client.send(big) // JDK client may fragment; server must reassemble
      assert(serverConn.receive(5000).contains(big))
      serverConn.send(big) // 64KB+ server frame exercises the 16-bit+ path
      assert(client.receive(5000).contains(big))
      client.close()
    } finally server.close()
  }
}
