package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.operators.Dsir
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Streaming DSIR scoring against a frozen snapshot: stream scores must
  * equal the batch operator's scores for the same documents and the
  * same weight table (shared-kernel guarantee), and a replayed batch id
  * must not double anything (crash-window idempotency).
  */
final case class SDoc(doc_id: Long, text: String, source: String)

class StreamingDsirSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 3.1 s; the limit
  // is 19x that, room for a first suite that starts the session and a
  // shared host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private val corpus = Seq(
    SDoc(1L, "alpha beta alpha beta alpha", "src0"),
    SDoc(2L, "alpha beta gamma delta alpha", "src0"),
    SDoc(3L, "gamma delta gamma delta gamma", "src1"),
    SDoc(4L, "epsilon zeta epsilon zeta epsilon", "src1"))

  test("stream scores equal the batch kernel's; replayed batch does not double") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("sdsir").toString
    val wPath = s"$base/weights"
    val outPath = s"$base/scores"

    // freeze the model on the curated corpus
    val cdf = corpus.toDF()
    Dsir.saveWeights(Dsir.weights(Dsir.model(Dsir.bigramBuckets(cdf), "src0")), wPath)

    // arriving docs: two batches, previously-unseen content mixed in
    val arriving = Seq(
      SDoc(10L, "alpha beta alpha", "srcX"),
      SDoc(11L, "gamma delta zeta", "srcX"),
      SDoc(12L, "alpha beta unseen tokens here", "srcY"),
      SDoc(13L, "epsilon zeta epsilon", "srcY"))
    val in = MemoryStream[SDoc]
    val q = StreamingDsir.start(in.toDF(), wPath, outPath, s"$base/ckpt")
    try {
      in.addData(arriving(0), arriving(1)); q.processAllAvailable()
      in.addData(arriving(2), arriving(3)); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamingDsir.readScores(spark, outPath)
      .select("doc_id", "n_bigrams", "logw_q")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Dsir.score(arriving.toDF(), Dsir.loadWeights(spark, wPath))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
    // target-vocab doc scores above the off-domain one under the frozen model
    val byId = streamed.map(t => t._1 -> t._3).toMap
    assert(byId(10L) > byId(11L))

    // crash window: replay batch 0 (same id, same rows) — the overwrite
    // leaves the total row count unchanged
    val before = StreamingDsir.readScores(spark, outPath).count()
    StreamingDsir.processBatch(
      Seq(arriving(0), arriving(1)).toDF(), 0L, wPath, outPath)
    val after = StreamingDsir.readScores(spark, outPath).count()
    assert(after == before, s"replay doubled rows: $before -> $after")
  }
}
