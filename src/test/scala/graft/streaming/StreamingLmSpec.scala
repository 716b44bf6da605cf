package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.operators.Lm
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Streaming LM scoring against a frozen snapshot: stream scores must
  * equal the batch kernel's for the same documents and the same model
  * (shared-kernel guarantee), unseen tokens take the add-one unseen
  * branch live, and a replayed batch id must not double anything
  * (crash-window idempotency) — the [[StreamingDsirSpec]] contract for
  * the perplexity filter.
  */
final case class LDoc(doc_id: Long, text: String)

class StreamingLmSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 5.3 s (contrast
  // mode); the limit is 11x that, room for a first suite that starts the
  // session and a shared host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private val corpus = Seq(
    LDoc(1L, "alpha beta alpha beta alpha"),
    LDoc(2L, "alpha beta gamma delta alpha"),
    LDoc(3L, "gamma delta gamma delta gamma"),
    LDoc(4L, "epsilon zeta epsilon zeta epsilon"))

  private def freeze(base: String): String = {
    val mPath = s"$base/model"
    val rows = Lm.tokenStream(corpus.toDF())
    Lm.saveModel(Lm.unigrams(rows), Lm.bigrams(rows), mPath)
    mPath
  }

  test("stream backoff scores equal the batch kernel's; replay does not double") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("slm").toString
    val mPath = freeze(base)
    val outPath = s"$base/scores"

    // arriving docs: seen bigrams, unseen continuations, unseen tokens
    val arriving = Seq(
      LDoc(10L, "alpha beta alpha"),
      LDoc(11L, "gamma delta zeta"),
      LDoc(12L, "alpha beta unseen tokens here"),
      LDoc(13L, "epsilon zeta epsilon"))
    val in = MemoryStream[LDoc]
    val q = StreamingLm.start(in.toDF(), mPath, outPath, s"$base/ckpt")
    try {
      in.addData(arriving(0), arriving(1)); q.processAllAvailable()
      in.addData(arriving(2), arriving(3)); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamingLm.readScores(spark, outPath)
      .select("doc_id", "n_tokens", "nll_q", "ppl_bits_q")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val snap = Lm.loadModel(spark, mPath)
    val batch = Lm.scoreBackoffFrozen(arriving.toDF(), snap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
    // in-domain repetition scores cheaper (bits/token) than the doc
    // full of never-seen tokens under the frozen model
    val pplById = streamed.map(t => t._1 -> t._4).toMap
    assert(pplById(10L) < pplById(12L),
      s"in-domain doc not cheaper than unseen-heavy doc: $pplById")

    // crash window: replay batch 0 (same id, same rows) — the overwrite
    // leaves the total row count unchanged
    val before = StreamingLm.readScores(spark, outPath).count()
    StreamingLm.processBatch(
      Seq(arriving(0), arriving(1)).toDF(), 0L, mPath, outPath, backoff = true)
    val after = StreamingLm.readScores(spark, outPath).count()
    assert(after == before, s"replay doubled rows: $before -> $after")
  }

  test("unigram mode: stream equals batch kernel, unseen tokens pay the add-one branch") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("slm-uni").toString
    val mPath = freeze(base)
    val outPath = s"$base/scores"

    val arriving = Seq(
      LDoc(20L, "alpha alpha alpha"),
      LDoc(21L, "totally unseen words"))
    val in = MemoryStream[LDoc]
    val q = StreamingLm.start(in.toDF(), mPath, outPath, s"$base/ckpt",
      backoff = false)
    try {
      in.addData(arriving: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamingLm.readScores(spark, outPath)
      .select("doc_id", "n_tokens", "nll_q", "ppl_bits_q")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val snap = Lm.loadModel(spark, mPath)
    val batch = Lm.scoreUnigramFrozen(arriving.toDF(), snap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
    // every token of doc 21 is unseen: its per-token bits must be the
    // EXACT add-one unseen surprisal s((T+V)·2^16), and strictly above
    // the frequent-token doc's
    val byId = streamed.map(t => t._1 -> t._4).toMap
    val unseenBits = {
      val q0 = (snap.t + snap.v) * 65536L
      val k = 63 - java.lang.Long.numberOfLeadingZeros(q0)
      ((q0 * 256L) >> k) + k * 256L - 4352L
    }
    assert(byId(21L) == unseenBits,
      s"unseen-doc bits ${byId(21L)} != lattice unseen $unseenBits")
    assert(byId(20L) < byId(21L))
  }

  test("contrast mode: stream equals the frozen two-model kernel; sign separates domains") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("slm-con").toString
    // general model = the whole corpus; target model = the alpha/beta
    // slice (docs 1-2) — the frozen pair of doc_lm_contrast's roles
    val gPath = freeze(base)
    val tPath = s"$base/target"
    val tRows = Lm.tokenStream(corpus.take(2).toDF())
    Lm.saveModel(Lm.unigrams(tRows), Lm.bigrams(tRows), tPath)
    val outPath = s"$base/scores"

    val arriving = Seq(
      LDoc(30L, "alpha beta alpha beta"),   // in-domain: contrast > 0
      LDoc(31L, "epsilon zeta epsilon"))    // out-of-domain: contrast < 0
    val in = MemoryStream[LDoc]
    val q = StreamingLm.startContrast(in.toDF(), gPath, tPath, outPath,
      s"$base/ckpt")
    try {
      in.addData(arriving: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamingLm.readScores(spark, outPath)
      .select("doc_id", "n_tokens", "nll_all_q", "nll_tgt_q",
        "contrast_bits_q")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = Lm.scoreContrastFrozen(arriving.toDF(),
        Lm.loadModel(spark, gPath), Lm.loadModel(spark, tPath))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
    val byId = streamed.map(t => t._1 -> t._5).toMap
    assert(byId(30L) > 0 && byId(31L) < 0,
      s"contrast signs wrong: $byId")
    // replay idempotency
    val before = StreamingLm.readScores(spark, outPath).count()
    StreamingLm.processContrastBatch(arriving.toDF(), 0L, gPath, tPath, outPath)
    assert(StreamingLm.readScores(spark, outPath).count() == before)
  }
}
