package graft.sources

import graft.core.{GunCell, GunValue}
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Control-plane protocol behavior over an in-memory peer pair: DAM
  * handshake (gun/gun.go:309-325), ack correlation (gun/gun.go:288-297),
  * soul-interest routing (gun/gun.go:299-307), and the double-encoded
  * batch frame codec (gun/websocket.go:92-159).
  */
class GunClientSpec extends AnyFunSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 1.3 s (the gossip rebroadcast); its
  // waits are 2-10 s socket timeouts, so the limit leaves room for them
  val timeLimit: Span = Span(30, Seconds)
  override val defaultTestSignaler = graft.SparkSuite.cancelAllJobs

  test("frame codec: single message stays bare, batch double-encodes") {
    val single = WireCodec.joinFrame(Seq("""{"#":"m1"}"""))
    assert(single == """{"#":"m1"}""")
    val batch = WireCodec.joinFrame(Seq("""{"#":"m1"}""", """{"#":"m2"}"""))
    assert(batch == """["{\"#\":\"m1\"}","{\"#\":\"m2\"}"]""")
    assert(WireCodec.splitFrame(batch) == Seq("""{"#":"m1"}""", """{"#":"m2"}"""))
    assert(WireCodec.splitFrame(single) == Seq(single))
  }

  test("envelope decode extracts gun keys and raw put fragment") {
    val env = WireCodec.decodeEnvelope(
      """{"@":"a1","#":"m1","ok":1,"put":{"s1":{"_":{"#":"s1",">":{"f":1000}},"f":"v"}}}""")
    assert(env.ackId.contains("a1") && env.msgId.contains("m1") && env.ok.contains(1))
    val cells = GunWire.decodePutFragment(env.putJson.get)
    assert(cells == Seq(GunCell("s1", "f", GunValue.string("v"), 1000.0)))
  }

  test("DAM handshake: request answered with our pid, reply records theirs") {
    val (a, b) = InMemoryPeerConn.pair()
    val client = new GunClient(a, myPid = "us")
    try {
      // peer asks who we are (gun/server.go:55 sends dam:"?" on connect)
      b.send(WireCodec.damRequest)
      val reply = b.receive(2000)
      assert(reply.contains("""{"dam":"?","pid":"us"}"""))
      // peer tells us theirs
      b.send(WireCodec.damReply("them"))
      val deadline = System.currentTimeMillis() + 2000
      while (client.peerPid.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(client.peerPid.contains("them"))
    } finally { client.close(); a.close(); b.close() }
  }

  test("receive loop survives a malformed frame; later traffic still routes") {
    // one bad message must be that message's problem, not the conn's —
    // the loop catches per-message errors instead of dying (round-2
    // ADVICE: an escaped exception permanently killed the peer's loop).
    val (a, b) = InMemoryPeerConn.pair()
    val client = new GunClient(a, myPid = "us")
    try {
      val q = client.subscribeSoul("s9")
      b.send("this is not json {{{[")
      b.send("""{"#":"m1","put":{"s9":{"_":{"#":"s9",">":{"f":1000}},"f":"still-alive"}}}""")
      val cells = q.poll(3000, java.util.concurrent.TimeUnit.MILLISECONDS)
      assert(cells != null &&
        cells == Seq(GunCell("s9", "f", GunValue.string("still-alive"), 1000.0)))
    } finally { client.close(); a.close(); b.close() }
  }

  test("put → remote ack correlates by message id") {
    val (a, b) = InMemoryPeerConn.pair()
    val client = new GunClient(a)
    try {
      val id = client.put(Seq(GunCell("s1", "f", GunValue.string("v"), 1000)))
      // fake peer: receive the put, check shape, ack it
      val frame = b.receive(2000).get
      val env = WireCodec.decodeEnvelope(frame)
      assert(env.msgId.contains(id))
      val cells = GunWire.decodePutFragment(env.putJson.get)
      assert(cells == Seq(GunCell("s1", "f", GunValue.string("v"), 1000.0)))
      b.send(WireCodec.ackMessage(id, ok = 1))
      val ack = client.awaitAck(id, 2000)
      assert(ack.exists(_.ok.contains(1)))
      client.doneWith(id)
    } finally { client.close(); a.close(); b.close() }
  }

  test("get → first response wins; soul listeners get non-consumed puts") {
    val (a, b) = InMemoryPeerConn.pair()
    val client = new GunClient(a)
    try {
      val updates = client.subscribeSoul("s9")
      val id = client.get("s9", "f")
      val frame = b.receive(2000).get
      val env = WireCodec.decodeEnvelope(frame)
      assert(env.getSoul.contains("s9") && env.getField.contains("f"))
      // answer the get (ack-correlated, consumed) and push an unsolicited
      // update for the same soul (soul-routed, non-consumed)
      b.send("""{"@":"""" + id + """","put":{"s9":{"_":{"#":"s9",">":{"f":500}},"f":"ans"}}}""")
      b.send("""{"#":"x1","put":{"s9":{"_":{"#":"s9",">":{"f":600}},"f":"next"}}}""")
      val ack = client.awaitAck(id, 2000)
      assert(ack.flatMap(_.putJson).isDefined)
      val pushed = updates.poll(2000, java.util.concurrent.TimeUnit.MILLISECONDS)
      assert(pushed == Seq(GunCell("s9", "f", GunValue.string("next"), 600.0)))
      client.doneWith(id); client.unsubscribeSoul("s9")
    } finally { client.close(); a.close(); b.close() }
  }

  test("gossip: unhandled messages rebroadcast to all peers except origin") {
    // gun/gun.go:327-329: ack-consumed and DAM messages stop; anything
    // else floods onward (soul listeners are non-consuming)
    val (a1, b1) = InMemoryPeerConn.pair()
    val (a2, b2) = InMemoryPeerConn.pair()
    val (a3, b3) = InMemoryPeerConn.pair()
    val client = new GunClient(Seq(a1, a2, a3), myPid = "hub")
    try {
      val putMsg = """{"#":"g1","put":{"gs":{"_":{"#":"gs",">":{"f":100}},"f":"x"}}}"""
      b1.send(putMsg)
      // peers 2 and 3 receive the rebroadcast; peer 1 (origin) does not
      assert(b2.receive(2000).contains(putMsg))
      assert(b3.receive(2000).contains(putMsg))
      assert(b1.receive(300).isEmpty)
      // DAM is control-plane: answered on the origin conn, never gossiped
      b2.send(WireCodec.damRequest)
      assert(b2.receive(2000).contains("""{"dam":"?","pid":"hub"}"""))
      assert(b3.receive(300).isEmpty)
      // ack-correlated responses are consumed, not gossiped
      val id = client.get("gs", "f")
      Seq(b1, b2, b3).foreach(_.receive(2000)) // drain the fan-out gets
      b3.send("""{"@":"""" + id + """","put":{"gs":{"_":{"#":"gs",">":{"f":100}},"f":"x"}}}""")
      assert(client.awaitAck(id, 2000).isDefined)
      assert(b1.receive(300).isEmpty && b2.receive(300).isEmpty)
      client.doneWith(id)
    } finally { client.close(); Seq(a1, b1, a2, b2, a3, b3).foreach(_.close()) }
  }

  test("reconnecting conn sleeps and re-dials when the transport dies") {
    // gun/gun.go:236-259: failed receive → sleep → retry via a fresh conn
    val locals = scala.collection.mutable.ArrayBuffer[InMemoryPeerConn]()
    val remotes = scala.collection.mutable.ArrayBuffer[InMemoryPeerConn]()
    var dials = 0
    val conn = new ReconnectingPeerConn(() => {
      dials += 1
      val (local, remote) = InMemoryPeerConn.pair()
      locals += local; remotes += remote
      local
    }, sleepOnErrorMs = 10)
    try {
      conn.send("hello-1")
      assert(remotes(0).receive(1000).contains("hello-1"))
      locals(0).close() // transport failure detected locally
      conn.send("hello-2") // next use sleeps, re-dials, sends on conn #2
      assert(dials == 2 && conn.connectCount == 2)
      assert(remotes(1).receive(1000).contains("hello-2"))
    } finally conn.close()
  }

  test("frame codec round-trips arbitrary message text (property)") {
    // messages containing quotes, backslashes, brackets, unicode — the
    // double-encoded batch layer must be transparent for any payload
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(3, Gen.oneOf(
      Gen.alphaNumStr,
      Gen.asciiPrintableStr,
      Gen.const("""{"#":"x","put":{"s\"1":{"f":"a\\b"}}}"""),
      Gen.const("нестандартный текст 😀 [not json]")))
    (0 until 50).foreach { i =>
      gen(Gen.Parameters.default, Seed(1000L + i)).foreach { msgs0 =>
        // a frame of N messages must decode back to exactly those messages
        val msgs = msgs0.map(m => if (m.isEmpty) "{}" else m)
        val frame = WireCodec.joinFrame(msgs)
        assert(WireCodec.splitFrame(frame) == msgs, s"seed ${1000 + i}")
      }
    }
  }

  test("put message wire shape matches the reference node JSON layout") {
    val msg = WireCodec.putMessage("m1", Seq(
      GunCell("s1", "f", GunValue.number("42.5"), 1000),
      GunCell("s1", "g", GunValue.relation("s2"), 1000)))
    // numbers RAW on the wire; metadata under "_" with soul + state vector
    assert(msg ==
      """{"#":"m1","put":{"s1":{"_":{"#":"s1",">":{"f":1000,"g":1000}},"f":42.5,"g":{"#":"s2"}}}}""")
    // and it round-trips through the codec
    val cells = GunWire.decodePutFragment(WireCodec.decodeEnvelope(msg).putJson.get)
    assert(cells.toSet == Set(
      GunCell("s1", "f", GunValue.number("42.5"), 1000.0),
      GunCell("s1", "g", GunValue.relation("s2"), 1000.0)))
  }
}
