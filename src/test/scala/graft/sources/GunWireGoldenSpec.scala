package graft.sources

import graft.SparkSuite
import graft.core.{GunCell, GunValue}
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Wire-format GOLDENS: literal frames in the reference's documented
  * shapes (envelope keys gun/message.go:6-18; double-encoded batch frames
  * gun/websocket.go:92-159; node `_`/`>` metadata layout gun/node.go:33-71;
  * DAM handshake gun/gun.go:309-325), asserted byte-exact against the
  * codec in BOTH directions. The env has no npm, so interop against real
  * Gun JS (the reference's context_test.go approach) is replaced by these
  * captured-constant frames — they guard against codec drift that a
  * self-round-trip property test cannot see (a symmetric encode/decode bug
  * round-trips fine while speaking the wrong dialect).
  */
class GunWireGoldenSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 0.002 s (no test
  // runs a Spark job); the limit is room for a first suite that starts
  // the session (about 10 s) and for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(30, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private val goldenDamRequest = """{"dam":"?"}"""
  private val goldenDamReply = """{"dam":"?","pid":"p123"}"""
  private val goldenGet = """{"#":"m9","get":{"#":"users/alice",".":"name"}}"""
  private val goldenAck = """{"@":"m1","ok":1}"""
  private val goldenErr = """{"@":"m4","err":"put rejected"}"""
  private val goldenPut =
    """{"#":"m3","put":{"soul1":{"_":{"#":"soul1",">":{"f":1696000000000,"n":1696000000001}},"f":"v","n":42}}}"""
  private val goldenBatch =
    """["{\"dam\":\"?\"}","{\"#\":\"m2\",\"ok\":1}"]"""

  test("golden: DAM handshake frames emit and decode byte-exact") {
    assert(WireCodec.damRequest == goldenDamRequest)
    assert(WireCodec.damReply("p123") == goldenDamReply)
    val req = WireCodec.decodeEnvelope(goldenDamRequest)
    assert(req.dam.contains("?") && req.pid.isEmpty)
    val rep = WireCodec.decodeEnvelope(goldenDamReply)
    assert(rep.dam.contains("?") && rep.pid.contains("p123"))
  }

  test("golden: get / ack / err messages emit and decode byte-exact") {
    assert(WireCodec.getMessage("m9", "users/alice", "name") == goldenGet)
    val g = WireCodec.decodeEnvelope(goldenGet)
    assert(g.msgId.contains("m9") && g.getSoul.contains("users/alice") &&
      g.getField.contains("name"))
    assert(WireCodec.ackMessage("m1", 1) == goldenAck)
    val a = WireCodec.decodeEnvelope(goldenAck)
    assert(a.ackId.contains("m1") && a.ok.contains(1))
    val e = WireCodec.decodeEnvelope(goldenErr)
    assert(e.ackId.contains("m4") && e.err.contains("put rejected"))
  }

  test("golden: put message with _/> metadata round-trips byte-exact") {
    val cells = Seq(
      GunCell("soul1", "f", GunValue.string("v"), 1696000000000.0),
      GunCell("soul1", "n", GunValue.number("42"), 1696000000001.0))
    // emit: cells → the exact golden frame (incl. Go-style integral states)
    assert(WireCodec.putMessage("m3", cells) == goldenPut)
    // decode: golden frame → the exact cells (number kept as raw text)
    val env = WireCodec.decodeEnvelope(goldenPut)
    assert(env.msgId.contains("m3"))
    val decoded = GunWire.decodePutFragment(env.putJson.get)
    assert(decoded.toSet == cells.toSet)
    // and re-emitting the decoded cells reproduces the golden byte-exact
    assert(WireCodec.putMessage("m3", decoded.sortBy(_.field)) == goldenPut)
  }

  test("golden: double-encoded batch frame splits and re-joins byte-exact") {
    val messages = Seq(goldenDamRequest, """{"#":"m2","ok":1}""")
    assert(WireCodec.joinFrame(messages) == goldenBatch)
    assert(WireCodec.splitFrame(goldenBatch) == messages)
    // single message never batch-wraps (gun/websocket.go:92-108)
    assert(WireCodec.joinFrame(Seq(goldenDamRequest)) == goldenDamRequest)
  }
}
