package graft

import graft.core.GunCell
import graft.sources.{GunWebSocketServer, GunWire, InMemoryPeerConn, PeerConn, WebSocketPeerConn, WireCodec}
import graft.streaming.{HamStream, StoreFs, StreamingLineDedup, StreamingPipeline}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

/** Streaming-path benchmark — the throughput numbers for the reference's
  * actual domain (live ingest: gun/scoped_fetch.go:89-217, standing receive
  * loop gun/gun.go:236-286), which the batch suite in [[Bench]] never
  * touches.
  *
  * Three measurements, min-of-N passes each (fresh SparkSession per pass —
  * same isolation rationale as Bench):
  *
  *   1. INGEST: generated put frames → InMemoryPeerConn → DSv2 `gun`
  *      source (WAL on) → [[GunWire.framesToCells]] →
  *      [[HamStream.updates]] (per-key CRDT state machine) →
  *      [[HamStream.appendBatchIntoStore]] (the LSM cell store: one
  *      level-0 file per batch, folded into the buckets at the
  *      compaction threshold). The feeder is CLOSED-LOOP: it
  *      keeps one chunk of frames in flight and waits for the stream to
  *      consume it before sending the next, so the measured rate is the
  *      pipeline's processing capacity, not the feeder's, and the
  *      micro-batch cadence is realistic (~chunk-sized batches) instead of
  *      one giant catch-up batch. Reported: sustained cells/s, per-batch
  *      latency p50/p95/max.
  *   2. The same ingest with `option("wal", "false")` — isolates the
  *      journal's cost (write-then-rename per planned batch).
  *   3. PUBLISH: updates → [[GunWire.publishStream]] → peer conn, a
  *      consumer thread draining the socket side. This measures the
  *      single-writer driver bound (global soul order over
  *      `toLocalIterator`, ≤512-message frames) that a multi-peer
  *      deployment would have to shard.
  *
  * Workload: `souls × fields` unique (soul, field) keys, written once per
  * wave with strictly increasing states (each write is a real HAM
  * transition — nothing merges away, so cells-in = updates-out). States
  * sit ~1 min in the past: inside the TTL window (no eviction mid-run) and
  * not in the future (no deferral) — the pure happy-path cost. Defaults
  * give 8000·8·2 = 128k cells, the sf0.1 `events` table's order of
  * magnitude.
  *
  * Output: one JSON line (metric = best ingest cells/s) + a file
  * (`SPARK_GRAFT_STREAM_FILE`, default STREAM_BENCH.json).
  */
object StreamBench {

  final case class RunStats(
      cells: Long,
      elapsedSec: Double,
      batches: Int,
      batchMsP50: Long,
      batchMsP95: Long,
      batchMsMax: Long) {
    def rate: Double = if (elapsedSec > 0) cells / elapsedSec else 0.0
  }

  private def pct(sorted: IndexedSeq[Long], p: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))

  /** One put message: all `fields` of one soul at one state. */
  private def putMsg(wave: Int, soul: String, fields: Int, state: Long): String = {
    val states = (0 until fields).map(f => s""""f$f":$state""").mkString(",")
    val vals = (0 until fields).map(f => s""""f$f":"v$wave-$f"""").mkString(",")
    s"""{"#":"m$wave-$soul","put":{"$soul":{"_":{"#":"$soul",">":{$states}},$vals}}}"""
  }

  /** Progress listener: frames consumed (completion gate for the
    * closed-loop feeder) + per-batch trigger latency for non-empty batches.
    */
  private final class Progress extends StreamingQueryListener {
    val inputRows = new LongAdder
    val batchMs = new ConcurrentLinkedQueue[(Long, Long)] // (rows, durMs)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val n = e.progress.numInputRows
      if (n > 0) {
        inputRows.add(n)
        batchMs.add(n -> e.progress.durationMs.getOrDefault("triggerExecution", 0L))
      }
    }
  }

  private def stats(cells: Long, elapsedSec: Double, p: Progress): RunStats = {
    import scala.jdk.CollectionConverters._
    val durs = p.batchMs.asScala.map(_._2).toIndexedSeq.sorted
    RunStats(cells, elapsedSec, durs.length,
      pct(durs, 0.50), pct(durs, 0.95), durs.lastOption.getOrElse(0L))
  }

  /** Full ingest pipeline at capacity; returns sustained-throughput stats.
    * `chunkFrames` bounds the frames in flight (closed loop).
    *
    * `sink` selects the store leg: "delta" =
    * [[HamStream.appendBatchIntoStore]] (LSM append, O(batch) I/O),
    * "none" = count only — isolating the source + codec + CRDT state
    * machine so the per-batch cost splits into named parts (SCALE_r6
    * attribution).
    * `transport` = "mem" (in-process conn) or "ws" — a REAL RFC 6455
    * loopback socket ([[GunWebSocketServer]] accept + JDK client dial), so
    * one leg prices the full wire path the reference actually runs.
    */
  def runIngest(
      spark: SparkSession,
      souls: Int,
      fields: Int,
      waves: Int,
      msgsPerFrame: Int,
      chunkFrames: Int,
      wal: Boolean,
      sink: String = "delta",
      transport: String = "mem"): RunStats = {
    val transportSetup: (PeerConn, PeerConn, () => Unit) =
      transport match {
        case "ws" =>
          val peers = new java.util.concurrent.LinkedBlockingQueue[PeerConn]()
          val server = new GunWebSocketServer(0, peers.put(_), sendDamOnConnect = false)
          val client = WebSocketPeerConn.dial(s"ws://127.0.0.1:${server.boundPort}/gun")
          val accepted = peers.poll(5, java.util.concurrent.TimeUnit.SECONDS)
          require(accepted != null, "websocket accept timed out")
          (accepted, client, () => { client.close(); server.close() })
        case _ =>
          val (a, b) = InMemoryPeerConn.pair()
          (a, b, () => { a.close(); b.close() })
      }
    val (ours, theirs, closeTransport) = transportSetup
    val connName = s"stream-bench-$wal-${System.nanoTime()}"
    InMemoryPeerConn.register(connName, ours)
    val ckpt = Files.createTempDirectory("sb-ckpt").toString
    val store = Files.createTempDirectory("sb-store").toString + "/store"
    val progress = new Progress
    spark.streams.addListener(progress)
    try {
      val frames = spark.readStream.format("gun")
        .option("conn", connName).option("pid", "stream-bench")
        .option("wal", wal.toString).load()
      implicit val cellEnc = org.apache.spark.sql.Encoders.product[GunCell]
      val cells = GunWire.framesToCells(frames, "frame").as[GunCell]
      val updates = HamStream.updates(cells, timers = false)
      StoreFs.forkFreeCheckpoints(spark)
      val q = updates.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[HamStream.Update], id: Long) =>
          sink match {
            case "delta" => HamStream.appendBatchIntoStore(b, id, store, numBuckets = 64)
            case _       => b.count(); ()
          }
        }
        .start()
      // states ~1 min in the past: inside TTL, not deferrable-future
      val stateBase = System.currentTimeMillis() - 60000L
      val soulIds = (0 until souls).map(i => f"s$i%05d")
      var sent = 0L
      val t0 = System.nanoTime()
      try {
        for (w <- 0 until waves) {
          val msgs = soulIds.map(s => putMsg(w, s, fields, stateBase + w))
          msgs.grouped(msgsPerFrame).grouped(chunkFrames).foreach { chunk =>
            chunk.foreach(g => theirs.send(WireCodec.joinFrame(g)))
            sent += chunk.map(_.size).sum
            val deadline = System.currentTimeMillis() + 120000L
            while (progress.inputRows.sum < sent &&
                System.currentTimeMillis() < deadline) Thread.sleep(5)
            require(progress.inputRows.sum >= sent,
              s"ingest stalled at ${progress.inputRows.sum}/$sent frames")
          }
        }
        q.processAllAvailable()
      } finally q.stop()
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (sink != "none") {
        // correctness gate on the bench itself: every key landed in the
        // store (the merged view collapses appended generations to one)
        val mergedRows = HamStream.readStore(spark, store).count()
        require(mergedRows == souls.toLong * fields,
          s"merged delta store has $mergedRows rows, expected ${souls.toLong * fields}")
      }
      stats(souls.toLong * fields * waves, elapsed, progress)
    } finally {
      spark.streams.removeListener(progress)
      InMemoryPeerConn.unregister(connName)
      closeTransport()
    }
  }

  final case class ReadAmpStats(
      batches: Int,
      maxFilesEnd: Int,
      probes: IndexedSeq[(Int, Double)]) { // (batch index, point-read ms)
    private def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def firstQuartileMs: Double = avg(probes.take(probes.length / 4 max 1).map(_._2))
    def lastQuartileMs: Double = avg(probes.takeRight(probes.length / 4 max 1).map(_._2))
  }

  /** Read-amplification under a long delta-store ingest: drive
    * [[HamStream.appendBatchIntoStore]] for `batches` micro-batches over a
    * fixed key pool (every batch re-touches the same buckets — the
    * worst case for uncompacted-delta growth) and probe the point-read
    * latency every `probeEvery` batches (min of 3 reads). With the
    * compaction trigger OFF every probe opens an ever-growing level 0
    * and collapses it through the HAM merge; with it ON the level-0 file
    * count — and therefore the read — stays bounded. The store-only loop (no wire,
    * no state machine) isolates exactly the variable under test.
    */
  def runReadAmp(
      spark: SparkSession,
      batches: Int,
      cellsPerBatch: Int,
      buckets: Int,
      compactThreshold: Int,
      probeEvery: Int): ReadAmpStats = {
    import spark.implicits._
    val store = Files.createTempDirectory("sb-readamp").toString + "/store"
    val soulPool = 500
    val stateBase = System.currentTimeMillis() - 60000L
    val probes = IndexedSeq.newBuilder[(Int, Double)]
    for (b <- 0 until batches) {
      val cells = (0 until cellsPerBatch).map { i =>
        val s = (b * cellsPerBatch + i) % soulPool
        HamStream.Update(f"ra$s%04d", s"f${i % 4}",
          graft.core.GunValue.string(s"v$b-$i"), (stateBase + b).toDouble)
      }
      HamStream.appendBatchIntoStore(cells.toDS(), b.toLong, store, buckets,
        compactThreshold)
      if (b % probeEvery == probeEvery - 1) {
        val ms = (1 to 3).map { _ =>
          val t = System.nanoTime()
          HamStream.fetchFromStore(spark, store, "ra0001", "f1", buckets)
          (System.nanoTime() - t) / 1e6
        }.min
        probes += b -> ms
      }
    }
    // what the probe's point read opens: level 0 and its key's bucket
    def parquet(dir: String) = Option(new java.io.File(store, dir).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
    val maxFiles = parquet("_l0") + parquet(s"bucket=${HamStream.bucketIdOf("ra0001", "f1", buckets)}")
    ReadAmpStats(batches, maxFiles, probes.result())
  }

  final case class NearDupStats(
      batches: Int,
      docs: Long,
      matches: Long,
      firstThirdMsP50: Long,
      lastThirdMsP50: Long,
      rowsScannedFirst: Long,
      rowsScannedLast: Long)

  /** Streaming near-dup A/B: drive [[graft.streaming.StreamingNearDup]]
    * micro-batch by micro-batch over a growing corpus, bucket-PRUNED
    * probe vs the naive full-index probe. Every 10th batch re-sends an
    * old doc lightly edited, so the match path is exercised against
    * history. The scale signal is `rows_scanned` growth: the pruned
    * probe reads only the batch's own band buckets (a fixed fraction of
    * the bucket space for a fixed batch size), the naive probe re-reads
    * the whole index every batch — the "rescan the corpus" shape that
    * cannot survive an unbounded stream. Driver state is O(batch) in
    * both modes; all history lives in the on-disk index.
    */
  def runNearDup(
      spark: SparkSession,
      batches: Int,
      docsPerBatch: Int,
      numBuckets: Int,
      probeAll: Boolean,
      compactThreshold: Int = 8,
      hotCopies: Int = 0,
      maxKeyRows: Int = graft.streaming.StreamingNearDup.MaxKeyRows): NearDupStats = {
    import graft.streaming.StreamingNearDup
    val root = Files.createTempDirectory("sb-neardup").toString
    val statsBuf = IndexedSeq.newBuilder[StreamingNearDup.ProbeStats]
    def docText(id: Long, edited: Boolean): String = {
      val toks = (0 until 30).map(j => s"d${id}t$j")
      (if (edited) toks.dropRight(1) :+ "edited" else toks).mkString(" ")
    }
    // one viral family: every batch re-sends `hotCopies` of this text, so
    // its band keys' index occupancy grows by hotCopies per batch — the
    // boilerplate shape the per-key cap exists for
    val hotText = (0 until 30).map(j => s"hotboiler$j").mkString(" ")
    var next = 0L
    for (b <- 0 until batches) {
      val fresh = (0 until docsPerBatch).map { _ =>
        val id = next; next += 1; id -> docText(id, edited = false)
      }
      val hot = (0 until hotCopies).map { _ =>
        val id = next; next += 1; id -> hotText
      }
      // every 10th batch, one near-duplicate of a doc from ~5 batches ago
      val dups =
        if (b % 10 == 9 && b >= 5)
          Seq((1000000L + b) -> docText((b - 5).toLong * docsPerBatch, edited = true))
        else Seq.empty
      import spark.implicits._
      val batch = (fresh ++ hot ++ dups).toDF("doc_id", "text")
      statsBuf += StreamingNearDup.processBatch(batch, b.toLong,
        s"$root/index", s"$root/matches", numBuckets, minEq = 8,
        compactThreshold = compactThreshold, probeAllBuckets = probeAll,
        maxKeyRows = maxKeyRows)
    }
    val all = statsBuf.result()
    val third = all.length / 3 max 1
    def p50(s: Seq[Long]): Long =
      if (s.isEmpty) 0L else s.sorted.apply(s.length / 2)
    NearDupStats(batches, all.map(_.batchDocs).sum, all.map(_.matches).sum,
      p50(all.take(third).map(_.processMs)),
      p50(all.takeRight(third).map(_.processMs)),
      all.take(third).map(_.indexRowsScanned).max,
      all.takeRight(third).map(_.indexRowsScanned).max)
  }

  /** Streaming EMBEDDING near-dup A/B ([[graft.streaming.StreamingEmbNearDup]]):
    * same drive shape as [[runNearDup]] — growing vector corpus, every
    * 10th batch re-sends an old vector lightly perturbed — pruned
    * tkey-probe vs naive full-index probe. Scale signal identical:
    * pruned rows_scanned stays O(batch × tables), full probe re-reads
    * the whole index.
    */
  def runEmbNearDup(
      spark: SparkSession,
      batches: Int,
      vecsPerBatch: Int,
      numBuckets: Int,
      probeAll: Boolean,
      compactThreshold: Int = 8): NearDupStats = {
    import graft.streaming.StreamingEmbNearDup
    val root = Files.createTempDirectory("sb-embnd").toString
    val statsBuf = IndexedSeq.newBuilder[StreamingEmbNearDup.ProbeStats]
    val dims = 32
    def vecOf(id: Long, edited: Boolean): Array[Float] =
      Array.tabulate(dims) { d =>
        val h = scala.util.hashing.MurmurHash3.finalizeHash(
          scala.util.hashing.MurmurHash3.mix(
            (id % Int.MaxValue).toInt * 0x9E3779B9, d * 0x85EBCA6B), 2)
        val v = (h.toDouble / Int.MaxValue).toFloat
        if (edited) v * (if (d % 2 == 0) 1.001f else 0.999f) else v
      }
    var next = 0L
    for (b <- 0 until batches) {
      val fresh = (0 until vecsPerBatch).map { _ =>
        val id = next; next += 1; id -> vecOf(id, edited = false)
      }
      val dups =
        if (b % 10 == 9 && b >= 5)
          Seq((1000000L + b) -> vecOf((b - 5).toLong * vecsPerBatch, edited = true))
        else Seq.empty
      import spark.implicits._
      val batch = (fresh ++ dups).toDF("vec_id", "embedding")
      statsBuf += StreamingEmbNearDup.processBatch(batch, b.toLong,
        s"$root/index", s"$root/matches", tables = 4, bits = 8,
        numBuckets = numBuckets, minCos = 0.95,
        compactThreshold = compactThreshold, probeAllBuckets = probeAll)
    }
    val all = statsBuf.result()
    val third = all.length / 3 max 1
    def p50(s: Seq[Long]): Long =
      if (s.isEmpty) 0L else s.sorted.apply(s.length / 2)
    NearDupStats(batches, all.map(_.batchVecs).sum, all.map(_.matches).sum,
      p50(all.take(third).map(_.processMs)),
      p50(all.takeRight(third).map(_.processMs)),
      all.take(third).map(_.indexRowsScanned).max,
      all.takeRight(third).map(_.indexRowsScanned).max)
  }

  /** Publish path at capacity: updates fan out over one peer conn as
    * bounded wire frames; a consumer thread drains the socket side (an
    * unread LinkedBlockingQueue would otherwise just buffer — draining
    * keeps the measurement honest about the full send path).
    */
  /** `peers` > 1 exercises the all-peers fan-out ([[GunWire.publishStream]]
    * over a peer set, gun/gun.go:206-234): EVERY peer receives every
    * frame, each with its own consumer thread — the reported rate is
    * cells/s THROUGH THE PIPELINE (each cell crosses the wire `peers`
    * times; wire-message throughput is `rate × peers`).
    */
  def runPublish(
      spark: SparkSession,
      souls: Int,
      fields: Int,
      waves: Int,
      chunkSouls: Int,
      peers: Int = 1): RunStats = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val pairs = (1 to peers).map(_ => InMemoryPeerConn.pair())
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val cellEnc = org.apache.spark.sql.Encoders.product[GunCell]
    val progress = new Progress
    spark.streams.addListener(progress)
    val in = MemoryStream[GunCell]
    val q = GunWire.publishStream(HamStream.updates(in.toDS(), timers = false),
      pairs.map(_._1), GunWire.MaxFrameMessages, (_, _) => ())
    val receivedMsgs = pairs.map(_ => new LongAdder)
    @volatile var consuming = true
    val consumers = pairs.zip(receivedMsgs).zipWithIndex.map {
      case (((_, theirs), counter), i) =>
        val t = new Thread(() => {
          while (consuming) theirs.receive(50).foreach { f =>
            counter.add(WireCodec.splitFrame(f).length)
          }
        }, s"stream-bench-consumer-$i")
        t.setDaemon(true)
        t.start()
        t
    }
    try {
      val stateBase = System.currentTimeMillis() - 60000L
      val soulIds = (0 until souls).map(i => f"p$i%05d")
      val expectedMsgs = souls.toLong * waves // one put message per soul per wave
      val t0 = System.nanoTime()
      for (w <- 0 until waves; chunk <- soulIds.grouped(chunkSouls)) {
        val cells = for (s <- chunk; f <- 0 until fields)
          yield GunCell(s, s"f$f", graft.core.GunValue.string(s"v$w-$f"),
            (stateBase + w).toDouble)
        in.addData(cells)
        q.processAllAvailable()
      }
      val deadline = System.currentTimeMillis() + 120000L
      while (receivedMsgs.exists(_.sum < expectedMsgs) &&
          System.currentTimeMillis() < deadline) Thread.sleep(5)
      val elapsed = (System.nanoTime() - t0) / 1e9
      receivedMsgs.zipWithIndex.foreach { case (c, i) =>
        require(c.sum == expectedMsgs,
          s"peer $i received ${c.sum} messages, expected $expectedMsgs")
      }
      stats(souls.toLong * fields * waves, elapsed, progress)
    } finally {
      consuming = false
      q.stop()
      consumers.foreach(_.join(2000))
      spark.streams.removeListener(progress)
      pairs.foreach { case (a, b) => a.close(); b.close() }
    }
  }

  // ------------------------------------------------------------- pipeline
  final case class PipeStats(
      batches: Int, docsPerBatch: Int, keptTotal: Long, elapsedSec: Double,
      batchMs: IndexedSeq[Long]) {
    def docsPerSec: Double =
      if (elapsedSec > 0) batches.toLong * docsPerBatch / elapsedSec else 0.0
    private def avg(xs: Seq[Long]) =
      if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.length
    def firstQuartileMs: Double = avg(batchMs.take(batchMs.length / 4 max 1))
    def lastQuartileMs: Double = avg(batchMs.takeRight(batchMs.length / 4 max 1))
  }

  /** Drive the composed at-ingest pipeline ([[StreamingPipeline]]:
    * scrub → frozen-LM gate → history dedup → commit) over a GROWING
    * key index. The scale signal is the per-batch latency CURVE:
    * with compaction the history anti-join reads a bounded file set
    * per bucket, so the last quartile of batches should cost about
    * what the first did; with compaction off every batch reads every
    * delta file ever written — the uncompacted-growth control leg.
    * Workload: 20-token docs from the fixture vocabulary, 10% of each
    * batch duplicating earlier history (the dedup branch stays live).
    */
  def runPipeline(spark: SparkSession, batches: Int, docsPerBatch: Int,
      numBuckets: Int, compactThreshold: Int,
      reuseSigs: Boolean = true, tokensPerDoc: Int = 20,
      prodMix: Boolean = false): PipeStats = {
    import spark.implicits._
    val base = Files.createTempDirectory("pipe-bench").toString
    val vocab = ("spark line column order small sort fast value scan hash " +
      "slow group batch part query agg table key stream filter").split(" ")
    val rnd = new scala.util.Random(42)
    // Production-shape mix (VERDICT_r14 #4): the default fixture draws
    // every token uniformly, so a doc's bits-per-token under the frozen
    // model sits AT the training mean and the <=mean gate is a coin flip
    // (~62% of each batch dropped once dedup stacks on top). Real curation
    // streams are majority-surviving. To get that shape without touching
    // the pipeline itself: train the model on Zipf(1.0)-skewed text, then
    // stream 85% "good" docs drawn Zipf(1.5) — mass concentrated on the
    // model's COMMON (low-surprisal) tokens, so a long doc's mean
    // surprisal concentrates strictly below the training mean and passes
    // deterministically — and 15% uniform "junk", which over-weights rare
    // tokens and lands above the mean, i.e. fails. The prod vocabulary is
    // 500 synthetic words, NOT the 20-word fixture vocab: the exact-dedup
    // key is the first 64 CHARS, and a heavy skew over 20 words makes
    // thousands of distinct docs share a top-word prefix (measured: 64%
    // of a Zipf(2.0)/20-word stream died to key collisions, inverting the
    // mix this fixture exists to provide). 500 words keeps the expected
    // incidental key collision count ~1 across a 24k-doc run. Doc length
    // jitters 0.5x-2x around tokensPerDoc with a 1% x16 long tail (the
    // KB-class spread of a web-scale corpus).
    val prodVocab = Array.tabulate(500)(i => f"w${i}%03d")
    def zipfCumul(exp: Double): Array[Double] = {
      val w = prodVocab.indices.map(i => 1.0 / math.pow(i + 1.0, exp)).toArray
      val s = w.sum
      var acc = 0.0
      w.map { x => acc += x / s; acc }
    }
    val corpusCumul = zipfCumul(1.0)
    val goodCumul = zipfCumul(1.5)
    def zipfTok(cumul: Array[Double]): String = {
      val r = rnd.nextDouble()
      var i = 0
      while (i < cumul.length - 1 && cumul(i) < r) i += 1
      prodVocab(i)
    }
    def prodLen(): Int = {
      val base = tokensPerDoc / 2 + rnd.nextInt(tokensPerDoc * 3 / 2 max 1)
      if (rnd.nextInt(100) == 0) base * 16 else base
    }
    def docText(): String =
      if (!prodMix)
        (1 to tokensPerDoc).map(_ => vocab(rnd.nextInt(vocab.length)))
          .mkString(" ")
      else if (rnd.nextInt(100) < 85)
        (1 to prodLen()).map(_ => zipfTok(goodCumul)).mkString(" ")
      else
        (1 to prodLen()).map(_ => prodVocab(rnd.nextInt(prodVocab.length)))
          .mkString(" ")
    def corpusText(): String =
      if (!prodMix) docText()
      else (1 to tokensPerDoc).map(_ => zipfTok(corpusCumul)).mkString(" ")
    val corpus = (1L to 500L).map(i => (i, corpusText())).toDF("doc_id", "text")
    StreamingPipeline.trainAndFreeze(corpus, s"$base/model")
    var nextId = 1000L
    var seen = Vector.empty[String]
    val t0 = System.nanoTime()
    val times = (0 until batches).map { b =>
      val docs = (1 to docsPerBatch).map { _ =>
        nextId += 1
        val t =
          if (seen.nonEmpty && rnd.nextInt(10) == 0)
            seen(rnd.nextInt(seen.length)) // 10% dup of history
          else { val t = docText(); seen :+= t; t }
        (nextId, t)
      }
      val df = docs.toDF("doc_id", "text")
      val bt0 = System.nanoTime()
      StreamingPipeline.processBatch(df, b.toLong, s"$base/model",
        s"$base/out", s"$base/keys", s"$base/sigs", numBuckets,
        compactThreshold, reuseProbeSigs = reuseSigs)
      (System.nanoTime() - bt0) / 1000000
    }
    val kept = spark.read.parquet(s"$base/out").count()
    PipeStats(batches, docsPerBatch, kept,
      (System.nanoTime() - t0) / 1e9, times)
  }

  /** Drive the at-ingest line dedup ([[StreamingLineDedup]]: 12-token
    * segment verdicts against the persistent segment-hash index) over a
    * growing store — the last at-ingest maintainer without a throughput
    * record (VERDICT r11 #8). Same latency-curve signal as
    * [[runPipeline]]: compaction bounds the per-bucket file count, so
    * the last quartile of batches should cost about what the first did.
    * Workload: 36-token docs (3 segments each), 10% of each batch
    * re-sending an earlier doc (the dedup branch stays live); `kept`
    * counts surviving segments.
    */
  def runLineDedup(spark: SparkSession, batches: Int, docsPerBatch: Int,
      numBuckets: Int, compactThreshold: Int): PipeStats = {
    import spark.implicits._
    val base = Files.createTempDirectory("linededup-bench").toString
    val vocab = ("spark line column order small sort fast value scan hash " +
      "slow group batch part query agg table key stream filter").split(" ")
    val rnd = new scala.util.Random(43)
    def docText(): String =
      (1 to 36).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    var nextId = 1000L
    var seen = Vector.empty[String]
    val t0 = System.nanoTime()
    val times = (0 until batches).map { b =>
      val docs = (1 to docsPerBatch).map { _ =>
        nextId += 1
        val t =
          if (seen.nonEmpty && rnd.nextInt(10) == 0)
            seen(rnd.nextInt(seen.length)) // 10% dup of history
          else { val t = docText(); seen :+= t; t }
        (nextId, t)
      }
      val df = docs.toDF("doc_id", "text")
      val bt0 = System.nanoTime()
      StreamingLineDedup.processBatch(df, b.toLong,
        s"$base/out", s"$base/segs", numBuckets, compactThreshold)
      (System.nanoTime() - bt0) / 1000000
    }
    val kept = spark.read.parquet(s"$base/out")
      .filter(org.apache.spark.sql.functions.col("kept") === 1L).count()
    PipeStats(batches, docsPerBatch, kept,
      (System.nanoTime() - t0) / 1e9, times)
  }

  private def pipeJs(p: PipeStats): String =
    s"""{"batches":${p.batches},"docs_per_batch":${p.docsPerBatch},""" +
      s""""kept":${p.keptTotal},"docs_per_sec":${f"${p.docsPerSec}%.1f"},""" +
      s""""batch_ms_first_quartile":${f"${p.firstQuartileMs}%.0f"},""" +
      s""""batch_ms_last_quartile":${f"${p.lastQuartileMs}%.0f"}}"""

  private def raJs(r: ReadAmpStats): String = {
    val pts = r.probes.map { case (b, ms) => s"[$b,${f"$ms%.1f"}]" }.mkString(",")
    s"""{"batches":${r.batches},"max_files_end":${r.maxFilesEnd},""" +
      s""""read_ms_first_quartile":${f"${r.firstQuartileMs}%.1f"},""" +
      s""""read_ms_last_quartile":${f"${r.lastQuartileMs}%.1f"},"probes":[$pts]}"""
  }

  private def ndJs(r: NearDupStats): String =
    s"""{"batches":${r.batches},"docs":${r.docs},"matches":${r.matches},""" +
      s""""batch_ms_p50_first_third":${r.firstThirdMsP50},""" +
      s""""batch_ms_p50_last_third":${r.lastThirdMsP50},""" +
      s""""rows_scanned_first_third_max":${r.rowsScannedFirst},""" +
      s""""rows_scanned_last_third_max":${r.rowsScannedLast}}"""

  private def js(r: RunStats): String =
    s"""{"cells":${r.cells},"elapsed_sec":${f"${r.elapsedSec}%.3f"},""" +
      s""""cells_per_sec":${f"${r.rate}%.1f"},"batches":${r.batches},""" +
      s""""batch_ms_p50":${r.batchMsP50},"batch_ms_p95":${r.batchMsP95},""" +
      s""""batch_ms_max":${r.batchMsMax}}"""

  /** Overlay `updates` (top-level key -> raw JSON value text) onto an
    * optional existing JSON object, preserving the existing key order for
    * keys already present and appending new keys in `updates` order. Lets a
    * filtered re-run refresh only its legs' readings in the out-file.
    */
  private[graft] def mergedJson(existing: Option[String],
                                updates: Seq[(String, String)]): String = {
    val merged = scala.collection.mutable.LinkedHashMap[String, String]()
    existing.foreach { text =>
      // USE_BIG_DECIMAL_FOR_FLOATS: floats parse to DecimalNode, whose
      // toString preserves the source digits — default DoubleNode would
      // reformat untouched legs' numbers (e.g. to scientific notation) on
      // a filtered re-run that was supposed to leave them byte-identical
      // (ADVICE_r14). PLAIN-DECIMAL ASSUMPTION (ADVICE_r15): BigDecimal
      // .toString normalizes exponent-formatted tokens (1e10 -> 1E+10),
      // so byte identity holds only because every number in this file is
      // written by this object's own %-format emitters (js/pipeJs/...),
      // which never emit exponent notation. If a leg ever emits one,
      // keep the raw token instead.
      val root = com.fasterxml.jackson.databind.json.JsonMapper.builder()
        .enable(com.fasterxml.jackson.databind.DeserializationFeature
          .USE_BIG_DECIMAL_FOR_FLOATS)
        .build().readTree(text)
      val it = root.fields()
      while (it.hasNext) { val e = it.next(); merged += e.getKey -> e.getValue.toString }
    }
    updates.foreach { case (k, v) => merged += k -> v }
    merged.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILE", "STREAM_BENCH.json")
    val passes = sys.env.getOrElse("SPARK_GRAFT_STREAM_PASSES", "2").toInt max 1
    val souls = sys.env.getOrElse("SPARK_GRAFT_STREAM_SOULS", "8000").toInt
    val fields = sys.env.getOrElse("SPARK_GRAFT_STREAM_FIELDS", "8").toInt
    val waves = sys.env.getOrElse("SPARK_GRAFT_STREAM_WAVES", "2").toInt
    val msgsPerFrame = sys.env.getOrElse("SPARK_GRAFT_STREAM_MSGS_PER_FRAME", "50").toInt
    val chunkFrames = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNK_FRAMES", "10").toInt

    def pass[A](run: SparkSession => A): Seq[A] = (1 to passes).map { _ =>
      val spark = Bench.newSession(cpus)
      spark.sparkContext.setLogLevel("WARN")
      try run(spark) finally spark.stop()
    }

    // Leg selection: SPARK_GRAFT_STREAM_LEGS="pipeline_compact_on,..." runs
    // only the named legs and MERGES their fresh readings into the existing
    // out-file, leaving every other leg's recorded numbers untouched — the
    // re-run-one-leg-on-a-quiet-box workflow. Unknown names fail fast (a
    // typo must not silently select zero legs). Empty/unset = all legs.
    val knownLegs = Seq(
      "ingest", "ingest_nowal",
      "ingest_ws_delta", "ingest_nostore", "publish", "publish_p4",
      "readamp_trigger_on", "readamp_trigger_off", "readamp_sparse",
      "neardup_pruned", "neardup_full_probe",
      "neardup_hot_capped", "neardup_hot_uncapped",
      "emb_neardup_pruned", "emb_neardup_full_probe",
      "pipeline_compact_on", "pipeline_compact_off", "pipeline_sig_reuse_off",
      "pipeline_prod_on", "pipeline_prod_sig_reuse_off",
      "pipeline_prod_compact_off",
      "linededup_compact_on", "linededup_compact_off",
      "linededup_settle_on", "linededup_settle_off")
    val legFilter: Set[String] = sys.env.get("SPARK_GRAFT_STREAM_LEGS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val unknownLegs = legFilter -- knownLegs.toSet
    require(unknownLegs.isEmpty,
      s"unknown stream legs: ${unknownLegs.mkString(",")} " +
        s"(known: ${knownLegs.mkString(",")})")
    def want(name: String): Boolean = legFilter.isEmpty || legFilter(name)
    def one[A](run: SparkSession => A): A = {
      val spark = Bench.newSession(cpus); spark.sparkContext.setLogLevel("WARN")
      try run(spark) finally spark.stop()
    }

    // top-level key -> raw JSON value text, in execution order
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var ingestStats: Option[RunStats] = None
    var ingestNoWalStats: Option[RunStats] = None

    if (want("ingest")) {
      val r = pass(runIngest(_, souls, fields, waves, msgsPerFrame, chunkFrames,
        wal = true)).maxBy(_.rate)
      ingestStats = Some(r); out += "ingest" -> js(r)
    }
    if (want("ingest_nowal")) {
      val r = pass(runIngest(_, souls, fields, waves, msgsPerFrame,
        chunkFrames, wal = false)).maxBy(_.rate)
      ingestNoWalStats = Some(r); out += "ingest_nowal" -> js(r)
    }
    // real-socket leg: same pipeline over an RFC 6455 loopback websocket
    // (server accept + JDK client), delta sink — prices the wire path
    if (want("ingest_ws_delta"))
      out += "ingest_ws_delta" -> js(pass(runIngest(_, souls, fields, waves,
        msgsPerFrame, chunkFrames, wal = true, sink = "delta",
        transport = "ws")).maxBy(_.rate))
    // no-store leg: source + codec + CRDT state machine only — the gap
    // vs ingest_nowal attributes the per-batch cost to the store merge
    if (want("ingest_nostore"))
      out += "ingest_nostore" -> js(pass(runIngest(_, souls, fields, waves,
        msgsPerFrame, chunkFrames, wal = false, sink = "none")).maxBy(_.rate))
    // WAL overhead needs both ingest legs from THIS run; a partial re-run
    // keeps the recorded value
    for (i <- ingestStats; n <- ingestNoWalStats)
      out += "wal_overhead_pct" ->
        f"${if (n.rate > 0) (n.rate - i.rate) / n.rate * 100.0 else 0.0}%.1f"
    if (want("publish"))
      out += "publish" -> js(pass(runPublish(_, souls, fields, waves,
        chunkSouls = souls / 4 max 1)).maxBy(_.rate))
    // all-peers fan-out: every frame to each of 4 peers (wire throughput
    // = 4× the reported pipeline rate)
    if (want("publish_p4"))
      out += "publish_p4" -> js(pass(runPublish(_, souls, fields, waves,
        chunkSouls = souls / 4 max 1, peers = 4)).maxBy(_.rate))
    // read-amplification A/B: same long append run, compaction trigger
    // on (default threshold) vs off — the LSM's read-side evidence
    val raBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_RA_BATCHES", "120").toInt
    if (want("readamp_trigger_on"))
      out += "readamp_trigger_on" -> raJs(one(runReadAmp(_, raBatches,
        cellsPerBatch = 500, buckets = 8,
        compactThreshold = HamStream.DefaultCompactThreshold, probeEvery = 10)))
    if (want("readamp_trigger_off"))
      out += "readamp_trigger_off" -> raJs(one(runReadAmp(_, raBatches,
        cellsPerBatch = 500, buckets = 8, compactThreshold = 0, probeEvery = 10)))
    // sparse batches, as live puts and snapshot seeds make them: 4 keys
    // per batch over the default 64 buckets, so a batch's level-0 file
    // holds few of a bucket's keys, and a bucket gets a new file only
    // every ~16 batches — the shape where level 0 costs a point read most
    if (want("readamp_sparse"))
      out += "readamp_sparse" -> raJs(one(runReadAmp(_, 2 * raBatches,
        cellsPerBatch = 4, buckets = HamStream.DefaultBuckets,
        compactThreshold = HamStream.DefaultCompactThreshold, probeEvery = 10)))

    // streaming near-dup A/B: bucket-pruned probe vs naive full-index
    // probe over the same growing corpus
    val ndBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_ND_BATCHES", "40").toInt
    val ndDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_ND_DOCS", "10").toInt
    if (want("neardup_pruned"))
      out += "neardup_pruned" -> ndJs(one(runNearDup(_, ndBatches, ndDocs,
        numBuckets = 256, probeAll = false)))
    if (want("neardup_full_probe"))
      out += "neardup_full_probe" -> ndJs(one(runNearDup(_, ndBatches, ndDocs,
        numBuckets = 256, probeAll = true)))
    // hammered band key A/B: every batch re-sends 10 copies of one
    // boilerplate text. Uncapped, the probe's per-key fan-out (and
    // rows_scanned) grows with the family; with the per-key cap the old
    // side is clamped to the family representatives
    if (want("neardup_hot_capped"))
      out += "neardup_hot_capped" -> ndJs(one(runNearDup(_, ndBatches, ndDocs,
        numBuckets = 256, probeAll = false, hotCopies = 10, maxKeyRows = 32)))
    if (want("neardup_hot_uncapped"))
      out += "neardup_hot_uncapped" -> ndJs(one(runNearDup(_, ndBatches, ndDocs,
        numBuckets = 256, probeAll = false, hotCopies = 10, maxKeyRows = 0)))
    // embedding-side near-dup A/B: same growing-corpus drive over the
    // LSH-table index, pruned vs full probe
    if (want("emb_neardup_pruned"))
      out += "emb_neardup_pruned" -> ndJs(one(runEmbNearDup(_, ndBatches,
        ndDocs, numBuckets = 256, probeAll = false)))
    if (want("emb_neardup_full_probe"))
      out += "emb_neardup_full_probe" -> ndJs(one(runEmbNearDup(_, ndBatches,
        ndDocs, numBuckets = 256, probeAll = true)))

    // composed-pipeline A/B: compaction on (default) vs off over the
    // same growing key index — the per-batch latency-curve evidence
    val pipeBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_PIPE_BATCHES", "40").toInt
    val pipeDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_PIPE_DOCS", "200").toInt
    if (want("pipeline_compact_on"))
      out += "pipeline_compact_on" -> pipeJs(one(runPipeline(_, pipeBatches,
        pipeDocs, numBuckets = 64, compactThreshold = 8)))
    if (want("pipeline_compact_off"))
      out += "pipeline_compact_off" -> pipeJs(one(runPipeline(_, pipeBatches,
        pipeDocs, numBuckets = 64, compactThreshold = 0)))
    // signature-reuse A/B (VERDICT_r13 #3): one MinHash pass per batch
    // (probe rows semi-joined to survivors, the default) vs the old
    // recompute-from-commit second pass — same compaction config as
    // pipeline_compact_on, so the pair isolates the shingle+hash cost
    if (want("pipeline_sig_reuse_off"))
      out += "pipeline_sig_reuse_off" -> pipeJs(one(runPipeline(_, pipeBatches,
        pipeDocs, numBuckets = 64, compactThreshold = 8, reuseSigs = false)))
    // production-shape legs (VERDICT_r14 #4): thousand-doc batches,
    // KB-class texts, majority-surviving mix — the shape the sig-reuse
    // text-volume argument was made for. Same A/B structure as the tiny
    // fixture so the two shapes are directly comparable.
    val prodBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_PROD_BATCHES", "12").toInt
    val prodDocs = sys.env.getOrElse("SPARK_GRAFT_STREAM_PROD_DOCS", "2000").toInt
    val prodTokens = sys.env.getOrElse("SPARK_GRAFT_STREAM_PROD_TOKENS", "300").toInt
    if (want("pipeline_prod_on"))
      out += "pipeline_prod_on" -> pipeJs(one(runPipeline(_, prodBatches,
        prodDocs, numBuckets = 64, compactThreshold = 8,
        tokensPerDoc = prodTokens, prodMix = true)))
    if (want("pipeline_prod_sig_reuse_off"))
      out += "pipeline_prod_sig_reuse_off" -> pipeJs(one(runPipeline(_,
        prodBatches, prodDocs, numBuckets = 64, compactThreshold = 8,
        reuseSigs = false, tokensPerDoc = prodTokens, prodMix = true)))
    if (want("pipeline_prod_compact_off"))
      out += "pipeline_prod_compact_off" -> pipeJs(one(runPipeline(_,
        prodBatches, prodDocs, numBuckets = 64, compactThreshold = 0,
        tokensPerDoc = prodTokens, prodMix = true)))

    // line-dedup A/B: same compaction on/off latency-curve drive over
    // the growing segment-hash index
    if (want("linededup_compact_on"))
      out += "linededup_compact_on" -> pipeJs(one(runLineDedup(_, pipeBatches,
        pipeDocs, numBuckets = 64, compactThreshold = 8)))
    if (want("linededup_compact_off"))
      out += "linededup_compact_off" -> pipeJs(one(runLineDedup(_, pipeBatches,
        pipeDocs, numBuckets = 64, compactThreshold = 0)))
    // settle-regime pair (VERDICT_r16 #4): the 500-batch run at the
    // 200-doc/64-bucket shape was killed at 64 min with neither leg done
    // (SCALE_r16 §4), so this fixture shrinks PER-BATCH volume (50 docs)
    // and bucket count (16) — the off leg's degradation driver, per-bucket
    // delta-file count = batch count, is untouched, but each batch's FS
    // and compute cost drops ~4× so 400 batches fit the box. Own knobs so
    // the 150-batch crossover legs above keep their recorded shape.
    val settleBatches =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SETTLE_BATCHES", "400").toInt
    val settleDocs =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SETTLE_DOCS", "50").toInt
    if (want("linededup_settle_on"))
      out += "linededup_settle_on" -> pipeJs(one(runLineDedup(_,
        settleBatches, settleDocs, numBuckets = 16, compactThreshold = 8)))
    if (want("linededup_settle_off"))
      out += "linededup_settle_off" -> pipeJs(one(runLineDedup(_,
        settleBatches, settleDocs, numBuckets = 16, compactThreshold = 0)))

    // Header scalars describe the ingest leg's config; refresh them only
    // when that leg ran. On a filtered run, start from the recorded file so
    // untouched legs keep their numbers (and their key positions).
    val outPath = Paths.get(outFile)
    val existing =
      if (legFilter.nonEmpty && Files.exists(outPath))
        Some(Files.readString(outPath))
      else None
    // A filtered run that omits the ingest leg writes no header scalars; if
    // there is also no existing file to inherit them from, the out-file
    // would lack the metric/value/unit keys downstream consumers expect —
    // fail fast instead of writing a headless record (ADVICE_r14).
    require(legFilter.isEmpty || legFilter("ingest") || existing.nonEmpty,
      s"filtered run without the ingest leg needs an existing $outFile " +
        "to inherit the metric/value/unit header from")
    val header = ingestStats.toSeq.flatMap { r =>
      Seq(
        "metric" -> "\"stream_ingest_cells_per_sec\"",
        "value" -> f"${r.rate}%.1f",
        "unit" -> "\"cells/sec\"",
        "souls" -> souls.toString,
        "fields" -> fields.toString,
        "waves" -> waves.toString,
        "msgs_per_frame" -> msgsPerFrame.toString,
        "chunk_frames" -> chunkFrames.toString,
        "passes" -> passes.toString)
    }
    val json = mergedJson(existing, header ++ out)
    println(json)
    try Files.writeString(outPath, json + "\n")
    catch { case e: Exception => System.err.println(s"[stream-bench] write failed: $e") }
  }
}
