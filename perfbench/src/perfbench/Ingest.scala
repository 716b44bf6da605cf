package perfbench

import graft.core.{GunCell, GunValue}
import graft.sources.{GunWebSocketServer, GunWire, InMemoryPeerConn, PeerConn, WebSocketPeerConn, WireCodec}
import graft.streaming.HamStream
import java.io.File
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** `gun_ingest`: generated put frames over a real RFC 6455 loopback socket
  * (`GunWebSocketServer` ← `WebSocketPeerConn`) into the `gun` source,
  * `GunWire.framesToCells`, `HamStream.updates` and the delta store
  * (`HamStream.appendIntoStore`, default compaction threshold). Waves of
  * puts rewrite the same `Souls` × `Fields` keys. The feeder keeps one
  * chunk in flight and, while it is processed, reads one key of the
  * previous (committed) chunk with `HamStream.fetchFromStore`.
  */
object Ingest {
  /** Four chunks per wave, so a window rewrites every key about twice. */
  val Souls = 400
  val Fields = 8
  /** One batch frame per chunk: the source drains a frame whole, so each
    * chunk is exactly one micro-batch rather than a timing-dependent split.
    */
  val MsgsPerFrame = 100
  val ChunkFrames = 1
  val Buckets = 64
  /** Untimed chunks before the window: the first micro-batches and store
    * reads of a run are its slowest while the stream's code is compiled.
    */
  val WarmupChunks = 2
  val T0 = 1.7e12
  /** States are fixed (so inputs are too); no TTL eviction applies. */
  val TtlMs = 1e15

  def value(seed: Long, wave: Int, soul: Int, field: Int): String =
    s"w$wave-" + new Rng(seed ^ (wave.toLong << 40) ^ (soul.toLong << 8) ^ field).hex()

  /** The put fragment for one soul in one wave: all fields, one state. */
  def fragment(seed: Long, wave: Int, soul: Int): String = {
    val st = (T0 + wave).toLong
    val states = (0 until Fields).map(f => s""""f$f":$st""").mkString(",")
    val vals = (0 until Fields).map(f => s""""f$f":"${value(seed, wave, soul, f)}"""").mkString(",")
    s"""{"s$soul":{"_":{"#":"s$soul",">":{$states}},$vals}}"""
  }

  def message(seed: Long, wave: Int, soul: Int): String =
    s"""{"#":"m$wave-$soul","put":${fragment(seed, wave, soul)}}"""

  /** Chunk k covers souls [k*per, (k+1)*per) of wave k / chunksPerWave. */
  private val PerChunk = MsgsPerFrame * ChunkFrames
  private val ChunksPerWave = Souls / PerChunk

  def chunk(seed: Long, k: Int): (Int, Seq[Int], Seq[String]) = {
    val wave = k / ChunksPerWave
    val souls = (k % ChunksPerWave) * PerChunk until (k % ChunksPerWave + 1) * PerChunk
    val frames = souls.map(message(seed, wave, _)).grouped(MsgsPerFrame)
      .map(WireCodec.joinFrame).toSeq
    (wave, souls, frames)
  }

  def dump(seed: Long): String =
    (0 until 2 * ChunksPerWave).flatMap(k => chunk(seed, k)._3).mkString("", "\n", "\n")

  final class Pipeline(spark: SparkSession, root: String) {
    private val peers = new LinkedBlockingQueue[PeerConn]()
    private val server = new GunWebSocketServer(0, peers.put(_), sendDamOnConnect = false)
    val client: WebSocketPeerConn = WebSocketPeerConn.dial(s"ws://127.0.0.1:${server.boundPort}/gun")
    private val accepted = peers.poll(10, TimeUnit.SECONDS)
    require(accepted != null, "websocket accept timed out")
    private val connName = s"perfbench-${System.nanoTime()}"
    InMemoryPeerConn.register(connName, accepted)
    val store = s"$root/store"
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$root/checkpoint")
    val query: StreamingQuery = {
      implicit val enc = org.apache.spark.sql.Encoders.product[GunCell]
      val frames = spark.readStream.format("gun").option("conn", connName)
        .option("pid", "perfbench").load()
      val cells = GunWire.framesToCells(frames, "frame").as[GunCell]
      HamStream.appendIntoStore(HamStream.updates(cells, ttlMs = TtlMs, timers = false),
        store, numBuckets = Buckets)
    }

    def progress: Array[StreamingQueryProgress] = query.recentProgress
    def consumed: Long = progress.map(_.numInputRows).sum

    /** Block until the source has consumed `n` messages; false on timeout. */
    def awaitConsumed(n: Long, timeoutMs: Long, poll: Long => Unit = _ => ()): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var c = consumed
      while (c < n && System.currentTimeMillis() < deadline && query.isActive) {
        Thread.sleep(2)
        c = consumed
        poll(c)
      }
      c >= n
    }

    def close(): Unit = {
      try query.stop()
      finally {
        InMemoryPeerConn.unregister(connName)
        client.close(); server.close()
      }
    }
  }

  def run(a: Main.Args): Main.Result = {
    val spark = Main.session()
    val tmp = System.getProperty("java.io.tmpdir")
    // setup: transport up, stream started, one primer message committed
    // and read back from the store
    val (setupS, p) = Main.setups { keep =>
      val p = new Pipeline(spark, s"$tmp/ingest-${System.nanoTime()}")
      p.client.send(s"""{"#":"primer","put":{"primer":{"_":{"#":"primer",">":{"ready":1}},"ready":"yes"}}}""")
      require(p.awaitConsumed(1, 60000), "primer message was not consumed")
      val ready = HamStream.fetchFromStore(spark, p.store, "primer", "ready", Buckets)
      require(ready.value.flatMap(_.str).contains("yes"), s"primer read back as $ready")
      if (!keep) p.close()
      p
    }
    val trace = new Trace(a.trace, spark.sparkContext, s"gun_ingest-${a.seed}")
    val out = new Outcome
    val pick = new Rng(a.seed ^ 0x1e57L)
    val committedWave = Array.fill(Souls)(-1)
    var sent = 1L // the primer
    var framesSent = 0L
    var prev: Option[(Int, Seq[Int])] = None
    var k = 0
    var stalled = false
    var warmBatches = 0
    out.timing = false
    var cpu0 = Main.processCpuS
    var t0 = System.nanoTime()
    while (!stalled && (!out.timing || Main.secondsSince(t0) < a.seconds)) {
      if (!out.timing && k == WarmupChunks) {
        out.timing = true
        warmBatches = p.progress.count(_.numInputRows > 0)
        cpu0 = Main.processCpuS
        t0 = System.nanoTime()
      }
      val (wave, souls, frames) = chunk(a.seed, k)
      frames.foreach(p.client.send)
      framesSent += frames.length
      sent += souls.length
      // a write beside a read: one key of the last committed chunk
      prev.foreach { case (w, ss) =>
        val soul = ss(pick.below(ss.length))
        val f = pick.below(Fields)
        out.op("store_read")(trace("op:store_read")(
          HamStream.fetchFromStore(spark, p.store, s"s$soul", s"f$f", Buckets))) { r =>
          val want = Some(value(a.seed, committedWave(soul), soul, f))
          val got = r.value.flatMap(_.str)
          if (got == want) None else Some(s"s$soul/f$f read $got, expected $want (wave $w)")
        }
      }
      out.op("chunk")(p.awaitConsumed(sent, 60000,
        c => if (out.timing) out.add("backlog_frames", (sent - c).toDouble / MsgsPerFrame))) { ok =>
        if (ok) None else { stalled = true; Some(s"chunk $k not consumed within 60 s") }
      }
      if (!stalled) {
        souls.foreach(committedWave(_) = wave)
        prev = Some((wave, souls))
        if (out.timing) out.units += souls.length.toLong * Fields
      }
      k += 1
    }
    val windowS = Main.secondsSince(t0)
    trace.setWindow(t0, System.nanoTime())
    val cpuS = Main.processCpuS - cpu0
    val heapMb = Main.retainedHeapMb()
    val progress = p.progress
    val streamRunId = p.query.runId.toString
    p.close()

    // the merged store holds exactly one row per key written, plus the primer
    val keys = committedWave.count(_ >= 0).toLong * Fields + 1
    out.op("store_check")(HamStream.readStore(spark, p.store, Buckets).count()) { n =>
      if (n == keys) None else Some(s"merged store has $n rows, expected $keys")
    }
    out.latMs.remove("store_check")

    // the primer's batch is set-up, and the warm-up chunks' batches precede the window
    val batches = progress.filter(_.numInputRows > 0).drop(warmBatches)
    batches.foreach { b =>
      out.add("batch_ms", b.batchDuration.toDouble)
      out.add("rows_per_batch", b.numInputRows.toDouble)
      Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "commitOffsets")
        .foreach(d => out.add(s"dur.$d", Option(b.durationMs.get(d)).map(_.toDouble).getOrElse(0.0)))
    }
    val files = new File(p.store).listFiles().filter(_.getName.startsWith("bucket="))
      .map(_.listFiles().filter(_.getName.endsWith(".parquet")))
    val storeBytes = files.flatten.map(_.length).sum.toDouble
    out.values("streaming.store_bytes_per_live_cell") = storeBytes / keys
    if (trace.on) {
      val last = progress.lastOption.flatMap(_.stateOperators.headOption)
      out.values("streaming.state_rows_total_end") = last.map(_.numRowsTotal.toDouble).getOrElse(0.0)
      out.values("streaming.state_memory_mb_end") =
        last.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0)
      out.values("streaming.store_files_total_end") = files.map(_.length).sum.toDouble
      out.values("streaming.store_files_max_per_bucket_end") =
        files.map(_.length).foldLeft(0)(_ max _).toDouble
      out.values("sources.frames_sent") = framesSent.toDouble
      out.values("sources.frames_consumed") = (progress.map(_.numInputRows).sum - 1).toDouble / MsgsPerFrame
      out.values("sources.decode_us_per_msg") = decodeUsPerMsg(a.seed, k)
      val history = (0 until k).flatMap { c =>
        val (w, ss, _) = chunk(a.seed, c)
        ss.flatMap(s => (0 until Fields).map(f =>
          GunCell(s"s$s", s"f$f", GunValue.string(value(a.seed, w, s, f)), T0 + w)))
      }
      out.values("core.ham_merge_ns_per_cell") = Session.hamMergeNsPerCell(history)
    }
    Main.Result(setupS, windowS, out, trace, cpuS, heapMb,
      Seq("stream_run_id" -> Json.str(streamRunId)))
  }

  /** `GunWire.decodePutFragment` over the run's put fragments, repeated for
    * at least 200 ms; microseconds per message.
    */
  def decodeUsPerMsg(seed: Long, chunks: Int): Double = {
    val frags = (0 until chunks).flatMap { c =>
      val (w, ss, _) = chunk(seed, c)
      ss.map(fragment(seed, w, _))
    }.toArray
    var n = 0L
    var cells = 0L
    val t = System.nanoTime()
    while (System.nanoTime() - t < 200000000L) {
      frags.foreach { f => cells += GunWire.decodePutFragment(f).length; n += 1 }
    }
    require(cells > 0)
    (System.nanoTime() - t) / 1e3 / n
  }
}
