package graft.sources

import graft.core.{GunCell, GunValue, SoulGen, ValueKind}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gun wire-protocol codec (reference: gun/message.go:6-24, gun/node.go:33-71,
  * gun/websocket.go:90-161), as Catalyst-friendly column transforms so a
  * DataSource V2 connector (or any string stream) can explode protocol
  * frames into engine cells without leaving codegen.
  *
  * Wire shapes:
  *   - message envelope: JSON object with gun keys `@` (ack id), `#`
  *     (msg id), `get {#,.}`, `put {soul: node}`, `dam`, `pid`, `ok`, `err`;
  *   - node: metadata under `_` (`#` soul, `>` per-field state map) merged
  *     with the value fields at the top level;
  *   - batch frame: a JSON array of JSON-ENCODED STRINGS (double-encoded,
  *     gun/websocket.go:92-108) — decoded with a two-pass from_json.
  */
object GunWire {

  /** Envelope schema for the structured keys. `put` stays a raw JSON string
    * (map of soul → node with dynamic fields) for the second parse pass.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("@", StringType),
    StructField("#", StringType),
    StructField("get", StructType(Seq(
      StructField("#", StringType), StructField(".", StringType)))),
    StructField("dam", StringType),
    StructField("pid", StringType),
    StructField("ok", IntegerType),
    StructField("err", StringType)))

  /** First pass: batch frame (array of JSON strings) → one message JSON
    * string per row (gun/websocket.go:141-159 accepts both single objects
    * and double-encoded arrays; `[` sniffing mirrors that).
    */
  def explodeBatch(frames: DataFrame, frameCol: String): DataFrame = {
    val c = col(frameCol)
    frames.select(
      explode(
        when(ltrim(c).startsWith("["),
          from_json(c, ArrayType(StringType)))
          .otherwise(array(c))).as("msg_json"))
  }

  /** Parse envelope keys from a message JSON string column. */
  def parseEnvelope(messages: DataFrame, msgCol: String): DataFrame =
    messages
      .withColumn("env", from_json(col(msgCol), envelopeSchema))
      .withColumn("put_json", get_json_object(col(msgCol), "$.put"))
      .select(
        col("env.@").as("ack_id"),
        col("env.#").as("msg_id"),
        col("env.get.#").as("get_soul"),
        col("env.get.`.`").as("get_field"),
        col("env.dam").as("dam"),
        col("env.pid").as("pid"),
        col("env.ok").as("ok"),
        col("env.err").as("err"),
        col("put_json"))

  /** Explode a put fragment (map soul → node) into engine cells — the
    * Generator-shaped message→cells step of the ingest pipeline (SURVEY
    * §3.3). Decoded with a streaming JSON parser (the codec boundary of a
    * connector): `from_json` cannot distinguish string `"42"` from number
    * `42` once coerced, and the reference requires numbers to keep their
    * raw JSON text (UseNumber decoding, gun/node.go:44-71, 130-133) —
    * `JsonParser.getText` on a number token preserves exactly that.
    */
  def putToCells(messages: DataFrame, putJsonCol: String): DataFrame = {
    val spark = messages.sparkSession
    import spark.implicits._
    messages
      .filter(col(putJsonCol).isNotNull)
      .select(col(putJsonCol)).as[String]
      .flatMap(decodePutFragment _)
      .toDF()
  }

  /** Streaming-parse one put fragment into cells. Package-visible for
    * direct (non-Spark) codec use and tests.
    */
  def decodePutFragment(json: String): Seq[GunCell] = {
    import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
    val out = Seq.newBuilder[GunCell]
    val p = new JsonFactory().createParser(json)
    try {
      if (p.nextToken() == JsonToken.START_OBJECT) {
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val soul = p.currentName()
          if (p.nextToken() == JsonToken.START_OBJECT) {
            var states = Map.empty[String, Double]
            var values = Map.empty[String, GunValue]
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val field = p.currentName()
              val tok = p.nextToken()
              if (field == "_") {
                // metadata object: {"#": soul, ">": {field: state, ...}}
                if (tok == JsonToken.START_OBJECT) {
                  while (p.nextToken() == JsonToken.FIELD_NAME) {
                    val mk = p.currentName()
                    val mt = p.nextToken()
                    if (mk == ">" && mt == JsonToken.START_OBJECT) {
                      while (p.nextToken() == JsonToken.FIELD_NAME) {
                        val sf = p.currentName()
                        p.nextToken()
                        states += sf -> p.getDoubleValue
                      }
                    } else if (mt == JsonToken.START_OBJECT || mt == JsonToken.START_ARRAY) {
                      p.skipChildren()
                    }
                  }
                }
              } else tok match {
                case JsonToken.VALUE_STRING => values += field -> GunValue.string(p.getText)
                case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
                  values += field -> GunValue.number(p.getText) // raw text, UseNumber-style
                case JsonToken.VALUE_TRUE => values += field -> GunValue.bool(true)
                case JsonToken.VALUE_FALSE => values += field -> GunValue.bool(false)
                case JsonToken.VALUE_NULL => values += field -> GunValue.nullValue
                case JsonToken.START_OBJECT =>
                  // relation: {"#": "<soul>"}
                  var rel: Option[String] = None
                  while (p.nextToken() == JsonToken.FIELD_NAME) {
                    val rk = p.currentName()
                    val rt = p.nextToken()
                    if (rk == "#" && rt == JsonToken.VALUE_STRING) rel = Some(p.getText)
                    else if (rt == JsonToken.START_OBJECT || rt == JsonToken.START_ARRAY)
                      p.skipChildren()
                  }
                  rel.foreach(r => values += field -> GunValue.relation(r))
                case JsonToken.START_ARRAY => p.skipChildren() // no arrays in gun
                case _ => ()
              }
            }
            values.foreach { case (f, v) =>
              out += GunCell(soul, f, v, states.getOrElse(f, 0.0))
            }
          }
        }
      }
    } finally p.close()
    out.result()
  }

  /** Decode a raw JSON value text into the tagged gun value struct. */
  def decodeValue(raw: Column): Column = {
    val relSoul = get_json_object(raw, "$['#']")
    when(raw.isNull || raw === "null", struct(
      lit(ValueKind.Null).as("kind"), lit(null).cast("string").as("str"),
      lit(null).cast("string").as("num"), lit(null).cast("boolean").as("bool"),
      lit(null).cast("string").as("rel")))
      .when(raw === "true" || raw === "false", struct(
        lit(ValueKind.Bool).as("kind"), lit(null).cast("string").as("str"),
        lit(null).cast("string").as("num"), (raw === "true").as("bool"),
        lit(null).cast("string").as("rel")))
      .when(raw.startsWith("\""), struct(
        lit(ValueKind.Str).as("kind"),
        // unquote via a one-key wrapper object (no from_json for bare strings)
        get_json_object(concat(lit("{\"v\":"), raw, lit("}")), "$.v").as("str"),
        lit(null).cast("string").as("num"), lit(null).cast("boolean").as("bool"),
        lit(null).cast("string").as("rel")))
      .when(raw.startsWith("{") && relSoul.isNotNull, struct(
        lit(ValueKind.Rel).as("kind"), lit(null).cast("string").as("str"),
        lit(null).cast("string").as("num"), lit(null).cast("boolean").as("bool"),
        relSoul.as("rel")))
      .otherwise(struct(
        lit(ValueKind.Num).as("kind"), lit(null).cast("string").as("str"),
        raw.as("num"), lit(null).cast("boolean").as("bool"),
        lit(null).cast("string").as("rel")))
  }

  /** Full ingest pipeline (SURVEY §3.3): wire frames → messages → put
    * fragments → cells, ready for [[graft.operators.HamMerge.mergeSnapshot]]
    * (batch) or [[graft.streaming.HamStream.updates]] (streaming).
    */
  def framesToCells(frames: DataFrame, frameCol: String): DataFrame =
    putToCells(parseEnvelope(explodeBatch(frames, frameCol), "msg_json"), "put_json")

  /** Messages per published wire frame ([[publishStream]] paging unit):
    * bounds both the frame size on the socket and the driver-side buffer.
    */
  val MaxFrameMessages = 512

  /** One put message ([[WireCodec.putMessage]], a fresh message id each)
    * per run of consecutive same-soul cells: the encoder of
    * [[publishStream]], which feeds it cells sorted by soul, so each soul
    * becomes exactly one message.
    */
  def putMessages(cells: Iterator[GunCell]): Iterator[String] = {
    val it = cells.buffered
    Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
      val soul = it.head.soul
      val node = Seq.newBuilder[GunCell]
      while (it.hasNext && it.head.soul == soul) node += it.next()
      WireCodec.putMessage(SoulGen(), node.result())
    }
  }

  /** Streaming publish sink — the fan-out half of a wire-compat engine
    * (gun/gun.go:206-234 peer send; gun/scoped_put.go:139-151 put-message
    * shape): every micro-batch of updates is encoded into one put message
    * per soul and sent as double-encoded batch frames of at most
    * `maxFrameMessages` messages each. The per-key state machine upstream
    * already collapsed each batch to net winners, so each cell's final
    * state crosses the wire once.
    *
    * The conn lives on the driver (control plane), but the batch is PAGED
    * to it, never collected whole: its cells, sorted by soul, stream
    * through `toLocalIterator` (one partition resident at a time — a
    * merged batch larger than driver memory cannot OOM the publish path)
    * into [[putMessages]], and a frame goes to the socket every
    * `maxFrameMessages` messages. Souls are
    * globally ordered, so frame contents and boundaries are
    * deterministic. Receivers treat each frame independently (the HAM
    * merge is idempotent/commutative — the reference's own multi-frame
    * delivery semantics), so the chunking is invisible to the protocol.
    */
  def publishStream(
      updates: org.apache.spark.sql.Dataset[graft.streaming.HamStream.Update],
      conn: PeerConn,
      maxFrameMessages: Int = MaxFrameMessages): org.apache.spark.sql.streaming.StreamingQuery =
    // Single-peer publish is FAIL-FAST (ADVICE_r7 medium): with one peer a
    // swallowed send error would leave the query running forever,
    // publishing every frame to an empty live set while reporting success.
    // Rethrowing fails the batch so the error surfaces via
    // query.exception and the WAL replays the batch on restart — the
    // pre-multi-peer behavior. (The multi-peer overload additionally
    // fails the batch when the live set drains to empty.)
    publishStream(updates, Seq(conn), maxFrameMessages, (_, e) => throw e)

  /** Multi-peer [[publishStream]] — the reference's all-peers fan-out
    * (gun/gun.go:206-234): every frame goes to EVERY live peer, sends run
    * concurrently (one task per peer, awaited per frame — the reference's
    * goroutine-per-peer + WaitGroup), and a peer's send failure is
    * ISOLATED: the error goes to `onPeerError` and the peer is dropped
    * from the live set for the rest of the query (the reference's
    * `removePeer` for conns without reconnect support — a
    * [[ReconnectingPeerConn]] re-dials internally and only surfaces an
    * error once reconnection is exhausted, so wrapping a peer in one opts
    * it into the reference's "reconnectSupported" branch). A dead peer
    * never fails the batch: replicas converge through HAM idempotence
    * when the peer re-syncs, exactly the protocol's at-least-once
    * contract.
    *
    * Per-peer frame ORDER is preserved: frames page out sequentially and
    * each frame's fan-out is awaited before the next frame is cut, so
    * every peer observes the same globally-soul-ordered frame sequence.
    */
  def publishStream(
      updates: org.apache.spark.sql.Dataset[graft.streaming.HamStream.Update],
      conns: Seq[PeerConn],
      maxFrameMessages: Int,
      onPeerError: (PeerConn, Throwable) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    require(conns.nonEmpty, "publishStream needs at least one peer")
    val live = new java.util.concurrent.CopyOnWriteArrayList[PeerConn]()
    conns.foreach(live.add)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(conns.length)
    val spark = updates.sparkSession
    graft.streaming.StoreFs.forkFreeCheckpoints(spark)
    val q = updates.writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.HamStream.Update],
         _: Long) =>
          import scala.jdk.CollectionConverters._
          val cells = batch.orderBy("soul").toLocalIterator().asScala
            .map(u => GunCell(u.soul, u.field, u.value, u.state))
          putMessages(cells).grouped(maxFrameMessages).foreach { messages =>
            val frame = WireCodec.joinFrame(messages)
            val futures = live.asScala.toSeq.map { peer =>
              peer -> pool.submit(new java.lang.Runnable {
                override def run(): Unit = peer.send(frame)
              })
            }
            futures.foreach { case (peer, f) =>
              try f.get()
              catch {
                case e: java.util.concurrent.ExecutionException =>
                  live.remove(peer)
                  onPeerError(peer, if (e.getCause != null) e.getCause else e)
              }
            }
            // An empty live set means every remaining frame would be
            // dropped on the floor while the query reports progress —
            // fail the batch instead; the WAL replays it when peers are
            // back (callers wanting best-effort keep ≥1 reconnecting
            // peer, which only errors once its retries are exhausted).
            if (live.isEmpty)
              throw new java.io.IOException(
                "publishStream: all peers failed and were dropped; " +
                  "failing the batch rather than publishing to nobody")
          }
      }
      .start()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == q.id) {
          pool.shutdown()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    q
  }
}
