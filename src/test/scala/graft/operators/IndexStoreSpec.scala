package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Persistent append-only ANN index stores ([[IndexStore]]): a stored
  * IVF/PQ index reproduces the direct batch operators' output exactly,
  * a second call reuses the on-disk index (no rebuild), and appends
  * against the frozen geometry make new vectors visible.
  */
class IndexStoreSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 4.7 s (the stored PQ topK);
  // the limit is 12x that, room for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def newDir(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/idx"

  test("stored IVF knn == direct ivfKnn, and a second call reuses the index") {
    val path = newDir("ivf-store")
    IndexStore.buildIvf(emb, nLists = 16, path)
    val queries = emb.filter(col("vec_id") < 10)
    val direct = Similarity.ivfKnn(emb, queries, k = 5, nLists = 16, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def stored() = IndexStore.ivfKnnStored(queries, k = 5, nprobe = 2, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val first = stored()
    assert(first == direct, s"stored != direct: ${first.diff(direct)} / ${direct.diff(first)}")
    // the second call runs purely against the on-disk index
    assert(stored() == first)
    // the inverted lists ARE the directories: a probe reads only its lists
    val listDirs = new java.io.File(s"$path/lists").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(listDirs > 1, s"expected list-partitioned layout, got $listDirs dirs")
  }

  test("IVF append against the frozen centroids makes a new vector visible") {
    val path = newDir("ivf-append")
    IndexStore.buildIvf(emb, nLists = 16, path)
    // clone of vector 3 under a fresh id — its nearest neighbor by
    // construction, assigned to the same list by the frozen centroids
    val v3 = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    IndexStore.appendIvf(
      Seq((90001L, v3)).toDF("vec_id", "embedding"), path, batchId = 1L)
    val res = IndexStore.ivfKnnStored(
      emb.filter(col("vec_id") === 3), k = 5, nprobe = 2, path)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(res.contains((90001L, 1L)),
      s"appended clone not rank-1 for its source: ${res.toSeq}")
  }

  test("stored PQ topK == direct pqTopK, second call identical, append visible") {
    val path = newDir("pq-store")
    IndexStore.buildPq(emb, m = 4, k = 8, path)
    val direct = Similarity.pqTopK(emb, m = 4, k = 8, probes = 5, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def stored() = IndexStore.pqTopKStored(spark, path, probes = 5, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val first = stored()
    assert(first == direct, s"stored != direct: ${first.diff(direct)} / ${direct.diff(first)}")
    assert(stored() == first)
    // append a clone of vector 2: PQ codes equal vector 2's codes, so its
    // symmetric distance to probe 2 is 0 → it enters probe 2's top list
    val v2 = emb.filter(col("vec_id") === 2).select("embedding")
      .head().getSeq[Float](0).toArray
    IndexStore.appendPq(Seq((90002L, v2)).toDF("vec_id", "embedding"),
      path, batchId = 1L)
    val after = IndexStore.pqTopKStored(spark, path, probes = 5, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(after.exists { case (p, v, d) => p == 2L && v == 90002L && d == 0L },
      s"appended clone not at distance 0 from its source probe")
  }

  test("stored MRL knn == direct mrlIvfKnn, second call identical, append visible") {
    val path = newDir("mrl-store")
    IndexStore.buildMrl(emb, prefixDims = 16, nLists = 16, path)
    val queries = emb.filter(col("vec_id") < 10)
    val direct = Similarity.mrlIvfKnn(emb, queries, k = 5,
      prefixDims = 16, nCand = 50, nLists = 16, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def stored() = IndexStore.mrlKnnStored(queries, k = 5, nCand = 50,
      nprobe = 2, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val first = stored()
    assert(first == direct,
      s"stored != direct: ${first.diff(direct)} / ${direct.diff(first)}")
    assert(stored() == first)
    // prefix lists ARE the directories
    val listDirs = new java.io.File(s"$path/lists").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(listDirs > 1, s"expected list-partitioned layout, got $listDirs dirs")
    // append a clone of vector 3 against the frozen prefix centroids:
    // same prefix → same list → probed by vector 3 → rank-1 full-dim
    val v3 = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    IndexStore.appendMrl(
      Seq((90001L, v3)).toDF("vec_id", "embedding"), path, batchId = 1L)
    val res = IndexStore.mrlKnnStored(
      emb.filter(col("vec_id") === 3), k = 5, nCand = 50, nprobe = 2, path)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(res.contains((90001L, 1L)),
      s"appended clone not rank-1 for its source: ${res.toSeq}")
  }

  test("stored MRL probe partition-prunes the lists scan (DPP pinned in-plan)") {
    import org.apache.spark.sql.execution.ExplainMode
    val path = newDir("mrl-dpp")
    IndexStore.buildMrl(emb, prefixDims = 16, nLists = 16, path)
    val df = IndexStore.mrlKnnStored(
      emb.filter(col("vec_id") < 10), k = 5, nCand = 50, nprobe = 2, path)
    val plan = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val lines = plan.split("\n")
    val listsScan = lines.indexWhere(_.contains("/lists"))
    assert(listsScan >= 0, s"no lists scan in plan:\n$plan")
    val pruned = lines.slice(listsScan, listsScan + 8).exists(l =>
      l.contains("PartitionFilters") && l.contains("dynamicpruning"))
    assert(pruned,
      "MRL lists scan lost its dynamic partition pruning filter:\n" +
        lines.slice(listsScan - 4, listsScan + 8).mkString("\n"))
  }

  test("stored IVF probe partition-prunes the lists scan (DPP pinned in-plan)") {
    // The O(nprobe) read claim is structural: the probe's lists scan must
    // carry a dynamic-pruning partition filter on the bucket column, so a
    // probe of nprobe lists reads exactly those directories regardless of
    // corpus size. Pin it in the plan so it cannot silently regress.
    import org.apache.spark.sql.execution.ExplainMode
    val path = newDir("ivf-dpp")
    IndexStore.buildIvf(emb, nLists = 16, path)
    val prev = spark.conf.getOption(Caching.EagerReleaseKey)
    spark.conf.set(Caching.EagerReleaseKey, "false")
    try {
      val df = IndexStore.ivfKnnStored(
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2, path)
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val lines = plan.split("\n")
      val listsScan = lines.indexWhere(_.contains("/lists"))
      assert(listsScan >= 0, s"no lists scan in plan:\n$plan")
      val pruned = lines.slice(listsScan, listsScan + 8).exists(l =>
        l.contains("PartitionFilters") && l.contains("dynamicpruning"))
      assert(pruned,
        "lists scan lost its dynamic partition pruning filter:\n" +
          lines.slice(listsScan - 4, listsScan + 8).mkString("\n"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(Caching.EagerReleaseKey, v)
        case None    => spark.conf.unset(Caching.EagerReleaseKey)
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
  }

  test("same-batchId replay of a crashed IVF compaction never empties the list") {
    // IndexStore shares BucketIndex.appendDelta with the streaming
    // near-dup stores (compactThreshold = 8); mirror the reproduced
    // crash state from StreamingNearDupSpec: compaction promoted
    // compact-b<id>-0 and crashed before deleting the old deltas, then
    // the append replays under the SAME batchId — the promoted compact
    // file may be the list's only full copy and must survive the replay.
    val path = newDir("ivf-crash")
    IndexStore.buildIvf(emb, nLists = 16, path)
    val v3 = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    def clone(id: Long) = Seq((id, v3)).toDF("vec_id", "embedding")
    // the frozen centroids route every clone to vector 3's list: 6
    // appends stack 6 delta files on top of the build's one
    (1 to 6).foreach(i => IndexStore.appendIvf(clone(90100L + i), path, i.toLong))
    def bucketDirs = new java.io.File(s"$path/lists").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    val snapshot = bucketDirs.flatMap(_.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.toPath -> java.nio.file.Files.readAllBytes(f.toPath)))
    // append 7 crosses the 8-file threshold in the clone list: compaction
    // promotes compact-b7-0 and deletes the deltas...
    IndexStore.appendIvf(clone(90107L), path, 7L)
    assert(bucketDirs.exists(_.listFiles()
      .exists(_.getName.startsWith("compact-b7-"))),
      "compaction never fired — crash fixture invalid")
    // ...restore the deleted deltas next to it = the crashed state
    snapshot.foreach { case (p, bytes) => java.nio.file.Files.write(p, bytes) }
    // replay the same batch under the same batchId
    IndexStore.appendIvf(clone(90107L), path, 7L)
    assert(bucketDirs.forall(_.listFiles().exists(_.getName.endsWith(".parquet"))),
      "replayed compaction emptied a list directory")
    // the index still answers: vector 3's probe sees every appended clone
    val res = IndexStore.ivfKnnStored(
      emb.filter(col("vec_id") === 3), k = 10, nprobe = 2, path)
      .collect().map(_.getLong(1)).toSet
    assert((1 to 7).forall(i => res.contains(90100L + i)),
      s"index lost appended vectors after crash replay: $res")
  }

  test("layout guard rejects a mismatched IVF reopen") {
    val path = newDir("ivf-layout")
    IndexStore.buildIvf(emb, nLists = 16, path)
    val e = intercept[IllegalArgumentException] {
      IndexStore.appendIvf(
        Seq((90003L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding"),
        path, batchId = 2L, nLists = 8)
    }
    assert(e.getMessage.contains("16:"))
  }
}
