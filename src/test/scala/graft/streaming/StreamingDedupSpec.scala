package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Streaming exact-deduplication over a document-fingerprint stream —
  * the streaming form of `doc_dedup_exact` (SURVEY §2 pipeline ops): a
  * live ingest pipeline dedupes BEFORE the store, and the operator must
  * hold bounded state to survive an unbounded corpus.
  *
  * Two contracts, both Spark built-ins over the watermark machinery:
  * - `dropDuplicates(keys)`: first occurrence wins across micro-batches;
  *   dedup state for a key is held until the watermark passes its event
  *   time, so re-sends inside the window are suppressed.
  * - `dropDuplicatesWithinWatermark(keys)`: same suppression, but the
  *   key's state is EVICTED once the watermark passes event-time+delay —
  *   the bounded-state form. At 100 TB of documents the state store
  *   holds only the watermark window's keys, not the full corpus; a
  *   genuine re-occurrence after the window is re-admitted (at that
  *   point it is a new document as far as the stream is concerned, and
  *   the batch-side `doc_dedup_exact` pass is the global backstop).
  */
final case class FpDoc(fp: String, ts: java.sql.Timestamp, doc_id: Long)

class StreamingDedupSpec extends SparkSuite with TimeLimitedTests {
  // slowest test on a 4-vCPU host in a full tier-1 run: 0.6 s; the limit
  // is 100x that, room for a session start (14 s) and a 2-3x slower host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private def doc(fp: String, second: Int, id: Long) =
    FpDoc(fp, new java.sql.Timestamp(1700000000000L + second * 1000L), id)

  test("cross-batch duplicate fingerprints are suppressed, first wins") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[FpDoc]
    val dedup = in.toDS()
      .withWatermark("ts", "30 seconds")
      .dropDuplicates("fp")
    val q = dedup.writeStream
      .format("memory").queryName("sdedup_out").outputMode("append").start()
    try {
      in.addData(doc("A", 1, 0L), doc("B", 2, 1L))
      q.processAllAvailable()
      in.addData(doc("A", 5, 2L), doc("C", 6, 3L)) // A is a dup
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM sdedup_out")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(0L, 1L, 3L)) // id 2 (duplicate A) suppressed
    } finally q.stop()
  }

  test("withinWatermark dedup evicts expired keys (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[FpDoc]
    val dedup = in.toDS()
      .withWatermark("ts", "30 seconds")
      .dropDuplicatesWithinWatermark("fp")
    val q = dedup.writeStream
      .format("memory").queryName("sdedup_wm_out").outputMode("append").start()
    try {
      in.addData(doc("A", 1, 0L))
      q.processAllAvailable()
      // in-window re-send: suppressed (watermark still below ts+delay)
      in.addData(doc("A", 10, 1L))
      q.processAllAvailable()
      // advance the watermark far past A's expiry (100s - 30s = 70s > 31s)
      in.addData(doc("F", 100, 2L))
      q.processAllAvailable()
      // A's state is gone — a late re-occurrence is re-admitted
      in.addData(doc("A", 110, 3L))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM sdedup_wm_out")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(0L, 2L, 3L)) // 1 suppressed; 3 re-admitted
    } finally q.stop()
  }
}
