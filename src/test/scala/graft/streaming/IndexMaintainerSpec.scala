package graft.streaming

import graft.SparkSuite
import graft.operators.IndexStore
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Continuously-maintained ANN index ([[IndexMaintainer]]): vectors
  * streamed in micro-batches — with a driver kill injected AFTER one
  * batch's append but BEFORE its checkpoint commit, forcing a
  * same-batchId replay on restart — converge the stored index to
  * exactly what the batch build + one-shot append produces.
  */
class IndexMaintainerSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 7.0 s (the IVF
  // crash-replay stream); the limit is 8x that, room for a first suite
  // that starts the session and a shared host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("streamed IVF appends with a mid-stream crash converge to the batch build") {
    val refPath = tmp("im-ref") + "/idx"
    val livePath = tmp("im-live") + "/idx"
    val ckpt = tmp("im-ckpt")
    // both indexes freeze the SAME geometry: centroids trained on the
    // same initial corpus (deterministic integer-lattice k-means)
    val init = emb.filter(col("vec_id") < 440)
    val later = emb.filter(col("vec_id") >= 440)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    IndexStore.buildIvf(init, nLists = 16, refPath)
    IndexStore.buildIvf(init, nLists = 16, livePath)
    // reference: all later vectors appended in one batch call
    IndexStore.appendIvf(later.toSeq.toDF("vec_id", "embedding"), refPath, 1L)

    // live: the same vectors in 3 micro-batches; the 2nd batch's append
    // completes and THEN the driver dies (before the checkpoint commit),
    // so the restart replays that batchId over the already-promoted deltas
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark, numPartitions = 1)
    val batches = later.grouped(20).toSeq
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start(inject: Boolean) = IndexMaintainer.startIvf(
      ms.toDF().toDF("vec_id", "embedding"), livePath, nLists = 16, ckpt,
      afterAppend = bid =>
        if (inject && bid >= 1 && crashed.compareAndSet(false, true))
          throw new RuntimeException("injected crash: append done, commit not"))
    val q1 = start(inject = true)
    ms.addData(batches(0))
    q1.processAllAvailable() // batch 0 commits clean
    ms.addData(batches(1))   // batch 1 appends, then the driver dies
    try { q1.processAllAvailable(); q1.awaitTermination(15000) }
    catch { case _: Exception => () }
    assert(crashed.get, "crash was never injected")
    assert(q1.exception.isDefined, "query survived the injected crash")
    q1.stop()

    val q2 = start(inject = false)
    try {
      q2.processAllAvailable() // replays the crashed batch (same batchId)
      ms.addData(batches(2))
      q2.processAllAvailable()
    } finally q2.stop()

    val queries = emb.filter(col("vec_id") < 10)
    def probe(path: String) = IndexStore.ivfKnnStored(queries, k = 10, nprobe = 3, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val live = probe(livePath)
    val ref = probe(refPath)
    assert(live == ref,
      s"streamed index diverged from batch build:\n  live-ref=${live.diff(ref)}\n  ref-live=${ref.diff(live)}")
  }

  test("first batch trains the geometry when no index exists; later batches append") {
    val path = tmp("im-boot") + "/idx"
    val ckpt = tmp("im-boot-ckpt")
    val all = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark, numPartitions = 2)
    val q = IndexMaintainer.startIvf(
      ms.toDF().toDF("vec_id", "embedding"), path, nLists = 16, ckpt)
    try {
      ms.addData(all.take(400).toSeq) // batch 0: builds (trains centroids)
      q.processAllAvailable()
      assert(new java.io.File(s"$path/centroids").exists(), "first batch did not build")
      ms.addData(all.drop(400).toSeq) // batch 1: appends against frozen geometry
      q.processAllAvailable()
    } finally q.stop()
    // every vector is probeable: a stored self-probe of appended ids
    // against the full index returns neighbors for them
    val res = IndexStore.ivfKnnStored(
      emb.filter(col("vec_id") >= 400), k = 3, nprobe = 4, path)
      .groupBy("query_id").count().count()
    assert(res == 100L, s"appended vectors not probeable: $res of 100")
  }

  test("streamed PQ appends converge to the batch build") {
    val refPath = tmp("im-pq-ref") + "/idx"
    val livePath = tmp("im-pq-live") + "/idx"
    val ckpt = tmp("im-pq-ckpt")
    val init = emb.filter(col("vec_id") < 440)
    val later = emb.filter(col("vec_id") >= 440)
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    IndexStore.buildPq(init, m = 4, k = 8, refPath)
    IndexStore.buildPq(init, m = 4, k = 8, livePath)
    IndexStore.appendPq(later.toSeq.toDF("vec_id", "embedding"), refPath, 1L)
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])](spark, numPartitions = 1)
    val q = IndexMaintainer.startPq(
      ms.toDF().toDF("vec_id", "embedding"), livePath, m = 4, k = 8, ckpt)
    try {
      later.grouped(20).foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    def probe(path: String) = IndexStore.pqTopKStored(spark, path, probes = 5, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val live = probe(livePath)
    val ref = probe(refPath)
    assert(live == ref,
      s"streamed PQ index diverged:\n  live-ref=${live.diff(ref)}\n  ref-live=${ref.diff(live)}")
  }
}
