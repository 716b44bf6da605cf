package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Incremental embedding near-dup ([[StreamingEmbNearDup]]): a
  * late-arriving near-duplicate embedding is caught by probing only the
  * LSH-table buckets the new vector hashes into — never a batch-ANN
  * re-run — with all cross-batch state in the on-disk index and exact
  * cosine as the verdict.
  */
class StreamingEmbNearDupSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 5.8 s (the late near-duplicate match);
  // the limit is 10x that, room for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private val Dims = 16

  /** Deterministic dense vector: murmur-mixed per (seed, d), so distinct
    * seeds are ~uncorrelated (a linear congruence here makes every pair
    * of seeds near-collinear — cos ≈ 0.9998).
    */
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(Dims) { d =>
      val h = scala.util.hashing.MurmurHash3.finalizeHash(
        scala.util.hashing.MurmurHash3.mix(seed * 0x9E3779B9, d * 0x85EBCA6B), 2)
      (h.toDouble / Int.MaxValue).toFloat
    }

  /** Near-duplicate: tiny relative perturbation — cosine stays ≈ 1. */
  private def nearVec(seed: Int): Array[Float] = {
    val v = vec(seed)
    v.indices.foreach(d => v(d) = v(d) * (if (d % 2 == 0) 1.001f else 0.999f))
    v
  }

  private def runBatches(batches: Seq[Seq[(Long, Array[Float])]])
      : (Seq[StreamingEmbNearDup.ProbeStats], String, String) = {
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("send-idx").toString
    val out = java.nio.file.Files.createTempDirectory("send-out").toString
    val statsBuf = new java.util.concurrent.ConcurrentLinkedQueue[StreamingEmbNearDup.ProbeStats]
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingEmbNearDup.start(
      in.toDS().toDF("vec_id", "embedding"), idx, out,
      tables = 4, bits = 8, numBuckets = 16, minCos = 0.95,
      compactThreshold = 3, onStats = statsBuf.add)
    try {
      batches.foreach { b =>
        in.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    (statsBuf.asScala.toSeq.sortBy(_.batchId), idx, out)
  }

  private def allMatches(out: String): Set[(Long, Long, Double)] = {
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-"))
    dirs.flatMap { d =>
      spark.read.parquet(d.toString).collect()
        .map(r => (r.getAs[Long]("new_vec"), r.getAs[Long]("old_vec"),
          r.getAs[Double]("cos")))
    }.toSet
  }

  test("late near-duplicate embedding matches without a batch-ANN re-run") {
    val (stats, _, out) = runBatches(Seq(
      Seq(1L -> vec(1)) ++ (100 until 120).map(i => i.toLong -> vec(i)),
      (200 until 220).map(i => i.toLong -> vec(i)),
      Seq(999L -> nearVec(1))))
    val m = allMatches(out)
    assert(m.exists { case (n, o, c) => n == 999L && o == 1L && c >= 0.99 },
      s"expected (999, 1) near-dup, got $m")
    // probe touched only the new vector's own table buckets (≤ 4 keys),
    // a strict subset of the occupied index...
    val s3 = stats.find(_.batchId == 2L).get
    assert(s3.bucketsProbed <= 4 && s3.bucketsProbed < s3.bucketsOccupied,
      s"probe not bucket-pruned: $s3")
    // ...and scanned a fraction of the indexed rows (41 vecs × 4 tables)
    assert(s3.indexRowsScanned < 41L * 4, s"probe rescanned the corpus: $s3")
    assert(s3.inListKeys > 0 && s3.inListKeys <= 4, s"$s3")
  }

  test("exact duplicate across batches collides in all tables at cos ≈ 1") {
    val (_, _, out) = runBatches(Seq(
      Seq(1L -> vec(1), 2L -> vec(2)),
      Seq(50L -> vec(1))))
    val m = allMatches(out)
    assert(m.exists { case (n, o, c) => n == 50L && o == 1L && c > 0.999999 },
      s"got $m")
  }

  test("unrelated embeddings never match") {
    val (_, _, out) = runBatches(Seq(
      (0 until 10).map(i => i.toLong -> vec(i)),
      (10 until 20).map(i => i.toLong -> vec(i))))
    assert(allMatches(out).isEmpty)
  }

  test("sketch-geometry layout guard rejects a mismatched reopen") {
    val idx = java.nio.file.Files.createTempDirectory("send-layout").toString
    val out = java.nio.file.Files.createTempDirectory("send-layout-out").toString
    val b = Seq(1L -> vec(1)).toDF("vec_id", "embedding")
    StreamingEmbNearDup.processBatch(b, 0L, idx, out,
      tables = 4, bits = 8, numBuckets = 16, minCos = 0.95, compactThreshold = 8)
    val e = intercept[IllegalArgumentException] {
      StreamingEmbNearDup.processBatch(b, 1L, idx, out,
        tables = 2, bits = 8, numBuckets = 16, minCos = 0.95, compactThreshold = 8)
    }
    assert(e.getMessage.contains("16:4:8"))
  }
}
