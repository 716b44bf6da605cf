package graft.sources

import graft.SparkSuite
import graft.core.{GunValue, ValueKind}
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Wire-format goldens from FIXTURES.md §3 (envelope per gun/message.go:6-24,
  * node codec per gun/node.go:33-71, double-encoded batch per
  * gun/websocket.go:92-159).
  */
class GunWireSpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 7.6 s (the first
  // test, which starts the session when the suite runs first); the limit
  // is 8x that, room for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private val putMsg =
    """{"#":"mid2","put":{"S1":{"_":{"#":"S1",">":{"some-field":1.7e12,"n":1.7e12,"b":1.7e12,"nil":1.7e12,"r":1.7e12}},"some-field":"v","n":42.5,"b":true,"nil":null,"r":{"#":"S2"}}}}"""

  test("double-encoded batch frame explodes into messages") {
    val batch = Seq("""["{\"#\":\"mid1\",\"get\":{\"#\":\"S1\",\".\":\"f\"}}","{\"@\":\"mid2\",\"ok\":1}"]""")
      .toDF("frame")
    val msgs = GunWire.explodeBatch(batch, "frame").as[String].collect()
    assert(msgs.length == 2 && msgs(0).contains("\"get\"") && msgs(1).contains("\"ok\""))
  }

  test("single-object frame passes through") {
    val single = Seq("""{"dam":"?","pid":"p1"}""").toDF("frame")
    assert(GunWire.explodeBatch(single, "frame").count() == 1)
  }

  test("envelope parse: get, ack, dam keys") {
    val msgs = Seq(
      """{"#":"mid1","get":{"#":"S1",".":"some-field"}}""",
      """{"@":"mid2","ok":1}""",
      """{"dam":"?","pid":"peer-9"}""").toDF("msg_json")
    val env = GunWire.parseEnvelope(msgs, "msg_json").collect()
    val get = env.find(_.getAs[String]("msg_id") == "mid1").get
    assert(get.getAs[String]("get_soul") == "S1" && get.getAs[String]("get_field") == "some-field")
    val ack = env.find(_.getAs[String]("ack_id") == "mid2").get
    assert(ack.getAs[Int]("ok") == 1)
    val dam = env.find(r => r.getAs[String]("dam") != null).get
    assert(dam.getAs[String]("pid") == "peer-9")
  }

  test("put fragment explodes into typed cells with states") {
    val env = GunWire.parseEnvelope(Seq(putMsg).toDF("msg_json"), "msg_json")
    val cells = GunWire.putToCells(env, "put_json")
      .collect()
      .map(r => r.getAs[String]("field") ->
        (r.getStruct(r.fieldIndex("value")), r.getAs[Double]("state")))
      .toMap
    assert(cells("some-field")._1.getAs[String]("kind") == ValueKind.Str)
    assert(cells("some-field")._1.getAs[String]("str") == "v")
    assert(cells("n")._1.getAs[String]("kind") == ValueKind.Num)
    assert(cells("n")._1.getAs[String]("num") == "42.5") // raw text preserved
    assert(cells("b")._1.getAs[Boolean]("bool"))
    assert(cells("nil")._1.getAs[String]("kind") == ValueKind.Null)
    assert(cells("r")._1.getAs[String]("kind") == ValueKind.Rel)
    assert(cells("r")._1.getAs[String]("rel") == "S2")
    assert(cells.values.forall(_._2 == 1.7e12))
  }

  test("full ingest: batch frame → cells → HAM merge picks the winner") {
    import graft.operators.HamMerge
    // Two puts for the same cell in one double-encoded frame; newer state
    // must win after the merge (the reference's §3.3 standing dataflow).
    val frame =
      """["{\"#\":\"m1\",\"put\":{\"S1\":{\"_\":{\"#\":\"S1\",\">\":{\"f\":1000}},\"f\":\"old\"}}}","{\"#\":\"m2\",\"put\":{\"S1\":{\"_\":{\"#\":\"S1\",\">\":{\"f\":2000}},\"f\":\"new\"}}}"]"""
    val cells = GunWire.framesToCells(Seq(frame).toDF("frame"), "frame")
    val merged = HamMerge.mergeSnapshot(cells).collect()
    assert(merged.length == 1)
    val r = merged.head
    assert(r.getAs[String]("soul") == "S1")
    assert(r.getStruct(r.fieldIndex("value")).getAs[String]("str") == "new")
    assert(r.getAs[Double]("state") == 2000.0)
  }

  test("cells → put json round-trips through the decoder") {
    val cells = Seq(
      graft.core.GunCell("S1", "f", GunValue.string("hello"), 1.7e12),
      graft.core.GunCell("S1", "g", GunValue.relation("S2"), 1.7e12))
    val messages = GunWire.putMessages(cells.iterator).toSeq
    assert(messages.size == 1) // one message per soul
    val decoded = GunWire.putToCells(
      GunWire.parseEnvelope(messages.toDF("msg_json"), "msg_json"), "put_json")
      .collect().map(r => r.getAs[String]("field") -> r.getStruct(r.fieldIndex("value")))
      .toMap
    assert(decoded("f").getAs[String]("str") == "hello")
    assert(decoded("g").getAs[String]("rel") == "S2")
  }

  test("field and soul names with quotes/backslashes survive the wire") {
    // legal in gun (fields are arbitrary strings); an unescaped quote
    // used to produce a malformed frame
    val hostile = """fi"eld\x"""
    val cells = Seq(
      graft.core.GunCell("S1", hostile, GunValue.string("v"), 1.7e12),
      graft.core.GunCell("S1", "n", GunValue.number("42.5"), 1.7e12))
    val putJson = WireCodec.decodeEnvelope(GunWire.putMessages(cells.iterator).next()).putJson.get
    // numbers stay RAW on the wire (protocol JSON), unlike the quoted
    // HAM-tiebreak encoding
    assert(putJson.contains("\"n\":42.5"))
    val decoded = GunWire.decodePutFragment(putJson).map(c => c.field -> c.value).toMap
    assert(decoded(hostile) == GunValue.string("v"))
    assert(decoded("n") == GunValue.number("42.5"))
  }

  test("publishStream: control chars in souls, fields and values give valid frames that round-trip") {
    import graft.core.{GunCell, HamGen}
    import graft.streaming.HamStream.Update
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // every control char 0x00-0x1f in a soul, a field, a string value and
    // a relation, beside a plain cell of the same soul
    val updates = (0 until 0x20).flatMap { i =>
      val c = i.toChar.toString
      Seq(Update(s"s$c", s"f$c", GunValue.string(s"v$c"), 1000.0 + i),
        Update(s"s$c", "rel", GunValue.relation(s"r$c"), 1000.0),
        Update(s"s$c", "n", GunValue.number(i.toLong), 1.5))
    }
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Update]
    val (local, remote) = InMemoryPeerConn.pair()
    val q = GunWire.publishStream(in.toDS(), local, maxFrameMessages = 5)
    val frames = Seq.newBuilder[String]
    try {
      in.addData(updates: _*)
      q.processAllAvailable()
      Iterator.continually(remote.receive(0)).takeWhile(_.isDefined).foreach(frames ++= _)
    } finally q.stop()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val messages = frames.result().flatMap { f =>
      // strict JSON: Jackson rejects an unescaped control char
      val parsed = scala.util.Try(mapper.readTree(f))
      assert(parsed.isSuccess, HamGen.printable(s"${parsed.failed.map(_.getMessage)}: $f"))
      WireCodec.splitFrame(f)
    }
    // one message per soul, 5 to a frame, souls in global order
    assert(frames.result().size == 7 && messages.size == 0x20)
    // boolean asserts: a rendered control char would break the XML report
    val souls = messages.map(m => WireCodec.decodeEnvelope(m).putJson.get)
      .map(GunWire.decodePutFragment).map(_.map(_.soul).distinct)
    val ordered = souls.forall(_.size == 1) && souls.flatten == updates.map(_.soul).distinct.sorted
    assert(ordered, HamGen.printable(souls))
    val want = updates.map(u => GunCell(u.soul, u.field, u.value, u.state)).toSet
    val viaCodec = messages.flatMap(m => GunWire.decodePutFragment(WireCodec.decodeEnvelope(m).putJson.get))
    val codecRoundTrips = viaCodec.toSet == want
    assert(codecRoundTrips, HamGen.printable(viaCodec))
    val viaSpark = GunWire.framesToCells(frames.result().toDF("frame"), "frame").as[GunCell].collect()
    val sparkRoundTrips = viaSpark.toSet == want
    assert(sparkRoundTrips, HamGen.printable(viaSpark.toSeq))
  }
}
