package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Coarse-cell sharding must be invisible in the answer: after the global
  * coarse argmin every fine step (per-cell k₂, seeds, both Lloyd argmins,
  * block dedup) touches only rows of one cell, and a cell lives in exactly
  * one shard — so running the fine pipeline per cell-hash range and
  * unioning the per-shard flag parquet is EXACTLY the unsharded
  * computation (the lever that bounds the assignment phase's disk the way
  * the pair phase is already budget-boxed). These specs pin that identity
  * plus the staging-dir ownership contract: eager runs drain their own
  * scratch, lazy runs leave dirs that [[Similarity.cleanupScratch]]
  * reclaims.
  */
class HierShardedSpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 122.9 s (a
  // property corpus); the limit is 5.9x that
  val timeLimit: Span = Span(720, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  // 60 base vectors -> k1 = ceil(cbrt(62)) = 4 coarse cells, so 3 shards
  // exercise uneven cell->shard distribution; two exact copies plant
  // guaranteed dup flags that must survive sharding bit-for-bit
  private def corpus = {
    val base = (0L until 60L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 51f))
    }
    (base ++ Seq(100L -> base(3)._2, 101L -> base(17)._2))
      .toDF("vec_id", "embedding")
  }

  test("shard-union equals unsharded hier flags exactly (VERDICT_r19 #1)") {
    val df = corpus
    val single = Similarity.semanticDedupHier(df, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single.values.sum >= 2, "the planted copies must be flagged")
    for (shards <- Seq(2, 3, 5)) {
      val sharded = Similarity.semanticDedupHier(df, threshold = 0.999,
        shards = shards)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sharded == single,
        s"$shards-shard flags must equal the unsharded set")
    }
  }

  test("shards=1 falls through to the unsharded plan; shards<1 is rejected") {
    val df = corpus
    val single = Similarity.semanticDedupHier(df, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val one = Similarity.semanticDedupHier(df, threshold = 0.999,
      shards = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == single)
    intercept[IllegalArgumentException] {
      Similarity.semanticDedupHier(df, threshold = 0.999, shards = 0)
    }
  }

  test("eager-mode sharding stages per-shard flags under the configured " +
      "scratch root and drains it on return") {
    val df = corpus
    val root = java.nio.file.Files.createTempDirectory("graft_shard_spec_")
    val hroot = new org.apache.hadoop.fs.Path("file:" + root)
    val fs = hroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      spark.conf.set(Similarity.ScratchDirKey, "file:" + root)
      val single = Similarity.semanticDedupHier(df, threshold = 0.999)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sharded = Similarity.semanticDedupHier(df, threshold = 0.999,
        shards = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sharded == single)
      assert(fs.listStatus(hroot).isEmpty,
        "eager-mode sharding must remove its staging dir from the scratch root")
    } finally {
      spark.conf.unset(Similarity.ScratchDirKey)
      fs.delete(hroot, true)
    }
  }

  test("lazy-mode staging dirs have an owner: cleanupScratch drains the " +
      "scratch root (VERDICT_r19 #2)") {
    val df = corpus
    val root = java.nio.file.Files.createTempDirectory("graft_lazy_spec_")
    val hroot = new org.apache.hadoop.fs.Path("file:" + root)
    val fs = hroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      spark.conf.set(Similarity.ScratchDirKey, "file:" + root)
      spark.conf.set(Caching.EagerReleaseKey, "false")
      val single = Similarity.semanticDedupHier(df, threshold = 0.999)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // lazy sharded run: the result references the shard parquet, so the
      // dir must be LEFT for the session to read...
      val lazyFlags = Similarity.semanticDedupHier(df, threshold = 0.999,
        shards = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lazyFlags == single)
      val runDirs = fs.listStatus(hroot)
        .filter(_.getPath.getName.startsWith("graft_hier_pairs_"))
      assert(runDirs.nonEmpty,
        "lazy mode must leave the shard staging dir for the session")
      // ...and a lazy multi-pass (unsharded) run leaves its pass dir too
      val lazyPasses = Similarity.semanticDedupHier(df, threshold = 0.999,
        forcePasses = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lazyPasses == single)
      assert(fs.listStatus(hroot).count(
        _.getPath.getName.startsWith("graft_hier_pairs_")) >= 2)
      spark.sharedState.cacheManager.clearCache()
      // the owner: one sweep reclaims every registered dir, root drains
      Similarity.cleanupScratch(spark)
      assert(fs.listStatus(hroot).isEmpty,
        "cleanupScratch must drain every lazy-mode staging dir")
    } finally {
      spark.conf.unset(Similarity.ScratchDirKey)
      spark.conf.set(Caching.EagerReleaseKey, "true")
      spark.sharedState.cacheManager.clearCache()
      fs.delete(hroot, true)
    }
  }

  // Generated corpora: 24-48 lattice vectors (8 dims, components in
  // [-50, 50]/51, one pinned nonzero so no vector has zero norm) plus 1-4
  // exact copies of distinct base vectors at ids 1000+. Fixed seeds: a
  // failing case reproduces by its index.
  private val genCorpus: Gen[(Seq[(Long, Array[Float])], Seq[Long])] = for {
    n <- Gen.chooseNum(24, 48)
    base <- Gen.listOfN(n, Gen.listOfN(7, Gen.chooseNum(-50, 50)))
    copies <- Gen.chooseNum(1, 4)
    srcs <- Gen.pick(copies, 0 until n)
  } yield {
    val vecs = base.zipWithIndex.map { case (v, i) =>
      (i.toLong, (51 +: v).map(_ / 51f).toArray)
    }
    val planted = srcs.toSeq.zipWithIndex.map { case (src, j) =>
      (1000L + j, vecs(src)._2)
    }
    (vecs ++ planted, planted.map(_._1))
  }

  // one test per generated corpus, so a time-limit failure names it
  for (i <- 0 until 2) test(s"property (corpus $i): every shards x " +
      "forcePasses split flags exactly what one shard in one pass flags") {
    def flags(df: DataFrame, shards: Int, passes: Int): Map[Long, Long] =
      Similarity.semanticDedupHier(df, threshold = 0.999, shards = shards,
        forcePasses = passes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (rows, planted) = genCorpus(Gen.Parameters.default, Seed(9100L + i)).get
    val df = rows.toDF("vec_id", "embedding")
    val single = flags(df, 1, 1)
    assert(planted.forall(single(_) == 1L), "every planted copy must be flagged")
    for (shards <- 1 to 4; passes <- Seq(0, 2, 3))
      assert(flags(df, shards, passes) == single,
        s"shards=$shards forcePasses=$passes")
  }
}
