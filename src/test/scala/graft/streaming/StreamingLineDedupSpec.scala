package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

final case class SegDoc(doc_id: Long, text: String)

/** At-ingest line dedup: first arrival wins within AND across batches,
  * the streamed per-doc counts equal the batch `doc_line_dedup` query
  * on the same corpus (same [[graft.operators.Dedup.segments]] kernel),
  * and the commit-before-append write order makes replay idempotent —
  * including the worst window where the whole segment index is lost.
  */
class StreamingLineDedupSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 7.5 s (stream
  // equals the batch query); the limit is 8x that, room for a first suite
  // that starts the session and a shared host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private def seg(p: String, n: Int = 12) =
    (1 to n).map(i => s"$p$i").mkString(" ")

  // batch A: two fresh segs in doc 10; doc 11 repeats doc 10's first seg
  // (cross-DOC within the batch) plus a fresh one; doc 12 is sub-width.
  private val batchA = Seq(
    SegDoc(10L, s"${seg("a")} ${seg("b")}"),
    SegDoc(11L, s"${seg("a")} ${seg("c")}"),
    SegDoc(12L, "too short"))
  // batch B: doc 20 repeats segs from BOTH earlier docs (cross-batch),
  // doc 21 is fresh, and doc 21's second seg duplicates its own first.
  private val dup21 = seg("d")
  private val batchB = Seq(
    SegDoc(20L, s"${seg("b")} ${seg("c")}"),
    SegDoc(21L, s"$dup21 $dup21"))

  private def batchEquivalent: Set[(Long, Long, Long, Long)] = {
    val dir = Files.createTempDirectory("lded-batch").toString
    (batchA ++ batchB).toDF()
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    graft.queries.TextQueries.queries("doc_line_dedup")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
  }

  test("stream equals the batch query; replay and full index loss are survivable") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("lded").toString
    val (out, segsIdx) = (s"$base/out", s"$base/segs")

    val in = MemoryStream[SegDoc]
    // aggressive compaction so the LSM fold runs within this test
    val q = StreamingLineDedup.start(in.toDF(), out, segsIdx,
      s"$base/ckpt", numBuckets = 8, compactThreshold = 2)
    try {
      in.addData(batchA: _*); q.processAllAvailable()
      in.addData(batchB: _*); q.processAllAvailable()
    } finally q.stop()

    // arrival order == doc_id order, so stream == the batch query
    val got = StreamingLineDedup.readCounts(spark, out)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == batchEquivalent, s"stream/batch divergence: $got")
    // the semantics, spelled out: doc 10 keeps both; doc 11 loses the
    // in-batch cross-doc copy; doc 20 loses both cross-batch copies;
    // doc 21 keeps its first seg and loses its own in-doc repeat
    assert(got == Set((10L, 2L, 2L, 0L), (11L, 2L, 1L, 1L),
      (20L, 2L, 0L, 2L), (21L, 2L, 1L, 1L)), s"wrong verdicts: $got")

    // replay world (b): committed output + lost checkpoint — same batch
    // id twice; verdicts must not change (recompute would mark doc 21's
    // kept seg as a dup of itself via the index)
    StreamingLineDedup.processBatch(batchB.toDF(), 1L, out, segsIdx,
      numBuckets = 8, compactThreshold = 2)
    StreamingLineDedup.processBatch(batchB.toDF(), 1L, out, segsIdx,
      numBuckets = 8, compactThreshold = 2)
    val afterReplay = StreamingLineDedup.readCounts(spark, out)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(afterReplay == got, s"replay changed verdicts: $afterReplay")

    // worst window: every output committed, the ENTIRE index lost.
    // Replaying both ids leaves outputs untouched and rebuilds the
    // index whole — proven by a new batch whose dup is still dropped.
    val fs = new org.apache.hadoop.fs.Path(segsIdx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(segsIdx), true)
    StreamingLineDedup.processBatch(batchA.toDF(), 0L, out, segsIdx,
      numBuckets = 8, compactThreshold = 2)
    StreamingLineDedup.processBatch(batchB.toDF(), 1L, out, segsIdx,
      numBuckets = 8, compactThreshold = 2)
    val batchC = Seq(
      SegDoc(30L, s"${seg("a")} ${seg("e")}")) // "a" is history, "e" fresh
    StreamingLineDedup.processBatch(batchC.toDF(), 2L, out, segsIdx,
      numBuckets = 8, compactThreshold = 2)
    val c30 = StreamingLineDedup.readCounts(spark, out)
      .filter(col("doc_id") === 30L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(c30 == Seq((2L, 1L, 1L)),
      s"rebuilt index missed history: $c30")
  }
}
