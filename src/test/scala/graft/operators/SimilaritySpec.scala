package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The production LSH sketch kernel must produce bit-identical buckets to
  * the declarative Catalyst form — both mirror the integer arithmetic the
  * DuckDB oracle re-implements, so equality here is what keeps the banded
  * queries hash-checkable.
  */
class SimilaritySpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 51.2 s (the
  // bounded-pass staging test); the limit is 5.9x that
  val timeLimit: Span = Span(300, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private lazy val vecs = {
    // deterministic pseudo-embeddings incl. negatives and zeros
    (0L until 40L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")
  }

  test("lshTablesFast matches the declarative lshTables bit-for-bit") {
    val fast = Similarity.lshTablesFast(vecs, tables = 4, bits = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val slow = Similarity.lshTables(vecs, tables = 4, bits = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fast == slow)
    assert(fast.size == 40 * 4)
  }

  test("single-table lshBuckets equals its declarative form") {
    val fast = Similarity.lshBuckets(vecs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val slow = Similarity.lshBucketsDeclarative(vecs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == slow)
  }

  test("typed unitVectors kernel is bit-identical to the declarative form") {
    val fast = Similarity.unitVectors(vecs)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toVector)).toMap
    val slow = Similarity.unitVectorsDeclarative(vecs)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toVector)).toMap
    // exact double equality — same left-to-right IEEE accumulation
    assert(fast == slow)
  }

  test("cosinePairs kernel matches the declarative dot fold bit-for-bit") {
    val unit = Similarity.unitVectors(vecs)
    val a = unit.select(col("vec_id").as("ida"), col("uv").as("va"))
    val b = unit.select(col("vec_id").as("idb"), col("uv").as("vb"))
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
    val fast = Similarity.cosinePairs(pairs, "ida", "va", "idb", "vb")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val slow = pairs.select(col("ida"), col("idb"),
        Similarity.dot(col("va"), col("vb")).as("cos"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(fast == slow)
    assert(fast.size == 40 * 39 / 2)
  }

  test("banded near-dup pairs are a subset of the exact pairs") {
    val exact = Similarity.nearDupPairs(vecs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.nearDupPairsLsh(vecs, threshold = 0.5, tables = 8, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact))
  }

  test("semanticDedup flags exactly the higher-id member of a near-dup pair") {
    // 30 base vectors + two exact copies of vectors 3 and 17 at ids 100/101:
    // a copy lands in its original's cluster (distance 0 to the same
    // centroid) and must be flagged; every base vector must survive.
    // Modulus 101 > 30 keeps the base vectors pairwise DISTINCT (the
    // shared `vecs` fixture's % 13 makes ids i and i+13 identical — true
    // duplicates, which is exactly what this test must not seed).
    val base = (0L until 30L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 51f))
    }
    val dupped = base ++ Seq(100L -> base(3)._2, 101L -> base(17)._2)
    val df = dupped.toDF("vec_id", "embedding")
    val res = Similarity.semanticDedup(df, k = 4, iters = 1, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.size == 32)
    assert(res(100L) == 1L && res(101L) == 1L)
    assert(res.filter(_._2 == 1L).keySet == Set(100L, 101L))
  }

  test("pqTopK: an exact copy sits at SDC distance zero in a full ranking") {
    // 20 base vectors plus an exact copy of vector 7 at id 100: the copy
    // quantizes to the SAME m codes, so its symmetric (SDC) distance to
    // vector 7 is exactly 0. Other vectors may ALSO collide into 7's
    // codes (k=4 books over 21 vectors — coarse by design) and dist-0
    // ties rank by vec_id, so the robust claims are membership + the
    // zero distance, not "heads the list". topK ≥ corpus keeps every
    // neighbor visible.
    val base = (0L until 20L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 51f))
    }
    val df = (base :+ (100L -> base(7)._2)).toDF("vec_id", "embedding")
    val res = Similarity.pqTopK(df, m = 4, k = 4, probes = 8, topK = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val probe7 = res.filter(_._1 == 7L).sortBy(_._4)
    assert(probe7.length == 20)                      // everyone but self
    val copyRow = probe7.find(_._2 == 100L).get
    assert(copyRow._3 == 0L)                         // SDC(v, copy) = 0
    assert(res.forall(t => t._1 != t._2))            // self excluded
    // every probe's ranks are 1..n with nondecreasing distance, and
    // dist-0 ties are ordered by vec_id (the deterministic layout)
    res.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
      val zeros = sorted.takeWhile(_._3 == 0L)
      assert(zeros.map(_._2).toSeq == zeros.map(_._2).sorted.toSeq)
    }
  }

  test("autoLshBits holds per-bucket occupancy flat as the corpus grows") {
    // the SCALE rule: n/2^bits stays in [target/2, target] once n is
    // large enough to clear the NumPlanes floor
    for (n <- Seq(10000L, 100000L, 10000000L, 10000000000L)) {
      val b = Similarity.autoLshBits(n)
      val occ = n.toDouble / (1L << b)
      assert(occ <= Similarity.TargetBucketOccupancy, s"n=$n bits=$b occ=$occ")
      assert(occ > Similarity.TargetBucketOccupancy / 2.0, s"n=$n bits=$b occ=$occ")
    }
    // floor: tiny corpora keep at least the single-table plane count
    assert(Similarity.autoLshBits(10) == Similarity.NumPlanes)
    // ceiling: absurd counts clamp at 48 bits (bucket fits a Long)
    assert(Similarity.autoLshBits(Long.MaxValue) == 48)
    // measured anchors (SCALE_r5.md): 2k->9, 20k->12, 60k->14
    assert(Similarity.autoLshBits(2000) == 9)
    assert(Similarity.autoLshBits(20000) == 12)
    assert(Similarity.autoLshBits(60000) == 14)
    // exact power-of-two boundary: n/5 = 2^12 must give 12, not 13 — the
    // case the integer bit-length form exists for (a floating
    // log(4096)/log(2) is 1 ulp from 12.000...1 → ceil 13, which an SQL
    // oracle could not mirror deterministically)
    assert(Similarity.autoLshBits(20480) == 12)
  }

  test("autoKmeansK balances assignment against pair enumeration; exact at anchors") {
    // k = ceil(sqrt((n+1) div 2)): the two cost terms n·k and n²/2k are
    // within 2× of each other at every scale (the balance the rule
    // exists for)
    for (n <- Seq(1000L, 10000L, 200000L, 5000000L)) {
      val k = Similarity.autoKmeansK(n).toLong
      val assign = n * k
      val pairs = n * n / (2 * k)
      assert(assign.toDouble / pairs < 2.05 && pairs.toDouble / assign < 2.05,
        s"n=$n k=$k assign=$assign pairs=$pairs")
    }
    // exact-square boundary: n = 2·x² must give exactly x, not x+1
    assert(Similarity.autoKmeansK(2 * 100 * 100 - 1) == 100)
    // measured anchors: sf0.01 500 vecs -> 16, gen_sf 10's 200k -> 317
    assert(Similarity.autoKmeansK(500) == 16)
    assert(Similarity.autoKmeansK(200000) == 317)
    assert(Similarity.autoKmeansK(1) == 1)
  }

  test("autoKmeansKCapAware keeps the average cluster under cap/headroom") {
    import Similarity.{autoKmeansK, autoKmeansKCapAware, CapHeadroom, DefaultMaxCluster}
    // below the crossover (n = cap²/(2·h²) = 32768 at the defaults) the
    // rule IS the unconstrained optimum — the existing anchors' k (and
    // therefore their oracle hashes) are unchanged
    for (n <- Seq(1L, 50L, 500L, 2000L, 20000L, 32768L))
      assert(autoKmeansKCapAware(n) == autoKmeansK(n), s"n=$n")
    // above it, the cap term wins and the constraint holds at every n:
    // avg cluster n/k <= cap/headroom (the whole point of the rule)
    for (n <- Seq(60000L, 200000L, 600000L, 2000000L, 10000000L, 1000000000L)) {
      val k = autoKmeansKCapAware(n)
      assert(k > autoKmeansK(n), s"n=$n cap term must dominate")
      assert(n.toDouble / k <= DefaultMaxCluster.toDouble / CapHeadroom,
        s"n=$n k=$k avg=${n.toDouble / k}")
      // minimality: one cluster fewer would break the constraint (k is
      // the CHEAPEST constraint-satisfying k — assignment cost rises
      // with k, so any larger k is strictly worse)
      assert(n.toDouble / (k - 1) > DefaultMaxCluster.toDouble / CapHeadroom,
        s"n=$n k=$k not minimal")
    }
    // exact ceil-div boundary: h·n a multiple of cap must NOT round up
    // (the t%cap==0 branch — the integer form the oracle mirrors)
    assert(autoKmeansKCapAware(256 * 1024) == 1024)
    assert(autoKmeansKCapAware(256 * 1024 + 1) == 1025)
    // measured anchors for the new-branch scales this round probes
    assert(autoKmeansKCapAware(60000) == 235)   // sf3
    assert(autoKmeansKCapAware(600000) == 2344) // the r15 cap-crossing scale
  }

  test("emb_semantic_dedup_auto2 equals semanticDedup at the cap-aware k") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val k = Similarity.autoKmeansKCapAware(emb.count())
    val direct = Similarity.semanticDedup(emb, k = k, iters = 1, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto2 = graft.queries.MlQueries.queries("emb_semantic_dedup_auto2")(
      spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto2 == direct, "auto2 variant must be the derived-k clustering")
  }

  test("auto2_capped: the tiny sizing cap forces the GREATEST cap branch " +
      "(ADVICE_r16) and the declared query matches the direct form") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    // the whole point of the anchor: at this n the cap term must WIN
    val k = Similarity.autoKmeansKCapAware(n, cap = 64)
    assert(k > Similarity.autoKmeansK(n),
      s"cap=64 must bind at n=$n (k=$k) or the anchor pins nothing")
    assert(k == (4 * n + 63) / 64, s"cap branch must be the ceil-div term")
    val direct = Similarity.semanticDedup(emb, k = k, iters = 1,
      threshold = 0.4, maxCluster = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val declared = graft.queries.MlQueries
      .queries("emb_semantic_dedup_auto2_capped")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(declared == direct)
  }

  test("semanticDedupAuto dispatches each side of the crossover to the " +
      "measured rung (VERDICT_r16 #1)") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    // lower rung: default crossover (n << 400k) == single-level at the
    // cap-aware k
    val lower = Similarity.semanticDedupAuto(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto2 = Similarity.semanticDedup(emb,
      k = Similarity.autoKmeansKCapAware(n), iters = 1, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lower == auto2, "below the crossover the ladder IS the " +
      "cap-aware single-level form")
    // upper rung: a tiny pinned crossover == the hierarchical form
    val upper = Similarity.semanticDedupAuto(emb, threshold = 0.4,
      crossover = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hier = Similarity.semanticDedupHier(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(upper == hier, "at/above the crossover the ladder IS the " +
      "hierarchical form")
    // the declared queries are these exact dispatches
    val declaredLo = graft.queries.MlQueries
      .queries("emb_semantic_dedup_ladder")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val declaredHi = graft.queries.MlQueries
      .queries("emb_semantic_dedup_ladder_upper")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(declaredLo == lower && declaredHi == upper)
  }

  test("emb_semantic_dedup_auto equals semanticDedup at the derived k") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val k = Similarity.autoKmeansK(emb.count())
    val direct = Similarity.semanticDedup(emb, k = k, iters = 1, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = graft.queries.MlQueries.queries("emb_semantic_dedup_auto")(
      spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == direct, "auto variant must be the derived-k clustering")
    // the auto k must differ from the pinned 8 here, or this proves nothing
    assert(k != 8, s"fixture too small to distinguish auto from pinned: k=$k")
  }

  test("autoCoarseK is the exact smallest k with k^3 >= n, incl. cube edges") {
    // exact cubes are where the fp cbrt correction earns its keep
    assert(Similarity.autoCoarseK(1) == 1)
    assert(Similarity.autoCoarseK(8) == 2)
    assert(Similarity.autoCoarseK(9) == 3)
    assert(Similarity.autoCoarseK(27) == 3)
    assert(Similarity.autoCoarseK(28) == 4)
    assert(Similarity.autoCoarseK(1000000) == 100)
    assert(Similarity.autoCoarseK(1000001) == 101)
    // measured anchors: sf0.01 500 vecs -> 8 cells, gen_sf 10 200k -> 59
    assert(Similarity.autoCoarseK(500) == 8)
    assert(Similarity.autoCoarseK(200000) == 59)
  }

  test("semanticDedupHier maxCluster<=0 means UNCAPPED exact pairs, not " +
      "star mode (round-17 fix: 0 used to star-link every block)") {
    // a block {2,3,4} where the pair the STAR misses is the only flag:
    // cos(2,3)=cos(2,4)=0.90 < thr, cos(3,4)=1.0 >= thr. rep=2, so star
    // mode scores only (2,3),(2,4) -> flags nothing; exact within-block
    // pairs score (3,4) -> flag 4. ids 0,1 are cell decoys (the coarse
    // seeds), far enough that the trio shares one (cell, sub) block.
    def dir(theta: Double): Array[Float] = {
      val v = new Array[Float](16)
      v(0) = math.cos(theta).toFloat; v(1) = math.sin(theta).toFloat; v
    }
    val e2 = { val v = new Array[Float](16); v(2) = 1f; v }
    val a25 = 25.842 * math.Pi / 180 // cos ~= 0.900
    val rows = Seq(
      0L -> dir(0.0), 1L -> e2,
      2L -> dir(20 * math.Pi / 180),
      3L -> dir(20 * math.Pi / 180 + a25),
      4L -> dir(20 * math.Pi / 180 + a25))
    val df = rows.toDF("vec_id", "embedding")
    def flags(cap: Int): Set[Long] =
      Similarity.semanticDedupHier(df, threshold = 0.95, maxCluster = cap)
        .filter($"is_dup" === 1L).collect().map(_.getLong(0)).toSet
    val uncapped = flags(0)
    assert(uncapped == Set(4L),
      s"maxCluster=0 must enumerate exact within-block pairs: $uncapped")
    assert(uncapped == flags(Int.MaxValue),
      "0 and a never-binding cap must agree (the uncapped convention)")
    assert(flags(1) == Set.empty[Long],
      "a binding cap=1 must star-link (rep pairs only) — if this flags 4, " +
        "the fixture no longer distinguishes star from exact")
  }

  test("semanticDedupHier flags exactly the copies; distinct vectors survive") {
    // same contract as single-level semanticDedup: an exact copy lands in
    // its original's cell AND subcluster (distance 0 to the same seeds at
    // both levels) and must be flagged; every distinct vector survives
    val base = (0L until 30L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 51f))
    }
    val dupped = base ++ Seq(100L -> base(3)._2, 101L -> base(17)._2)
    val df = dupped.toDF("vec_id", "embedding")
    val res = Similarity.semanticDedupHier(df, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res.size == 32)
    assert(res(100L) == 1L && res(101L) == 1L)
    assert(res.filter(_._2 == 1L).keySet == Set(100L, 101L))
  }

  test("packed-argmin guard: a seed vec_id >= 2^34 fails loudly instead of " +
      "corrupting the argmin (ADVICE_r17)") {
    // two orthogonal vectors whose ids BOTH exceed the packable range —
    // whichever lands as a per-cell seed trips the guard. Before the
    // guard, an id in [2^34, 1e11) silently packed into the dist bits
    // and one >= 1e11 overflowed decimal(11,0) to null (dropped by min).
    val big = 1L << 34
    val df = Seq(
      big -> Array.tabulate(16)(d => if (d == 0) 1f else 0f),
      (big + 1) -> Array.tabulate(16)(d => if (d == 1) 1f else 0f)
    ).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.semanticDedupHier(df, threshold = 0.9).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("packed-argmin range")),
      s"expected the loud range guard, got: $ex")
  }

  test("bounded pair-scoring passes produce exactly the single-pass flags " +
      "(VERDICT_r17 #1)") {
    // tiny budget -> the block-pair estimate exceeds it -> multi-pass
    // branch (hash-partitioned block ranges, per-pass parquet). Blocks
    // are independent, so the union must equal the single-pass answer.
    val base = (0L until 30L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 51f))
    }
    val dupped = base ++ Seq(100L -> base(3)._2, 101L -> base(17)._2)
    val df = dupped.toDF("vec_id", "embedding")
    val single = Similarity.semanticDedupHier(df, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val multi = Similarity.semanticDedupHier(df, threshold = 0.999,
      pairRowBudget = 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi == single,
      "multi-pass block scoring must be invisible in the answer")
  }

  test("forcePasses pins the pass count under the default budget and " +
      "stays answer-invisible (the declared bounded-pass anchor)") {
    // The declared `emb_semantic_dedup_hier_passes` query relies on
    // forcePasses taking the multi-pass branch even when the pair
    // estimate is far below the (1e9) budget — constant 3-pass overhead
    // at any sf — and on the union of forced passes equalling the
    // single-pass flags.
    val base = (0L until 30L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 51f))
    }
    val dupped = base ++ Seq(100L -> base(3)._2, 101L -> base(17)._2)
    val df = dupped.toDF("vec_id", "embedding")
    val single = Similarity.semanticDedupHier(df, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = java.nio.file.Files.createTempDirectory("graft_force_spec_")
    val hroot = new org.apache.hadoop.fs.Path("file:" + root)
    val fs = hroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      spark.conf.set(Similarity.ScratchDirKey, "file:" + root)
      spark.conf.set(Caching.EagerReleaseKey, "false")
      val forced = Similarity.semanticDedupHier(df, threshold = 0.999,
        forcePasses = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(forced == single,
        "forced 3-pass scoring must be invisible in the answer")
      // lazy mode leaves the staging dir: prove the branch actually ran
      // multi-pass with EXACTLY the pinned pass count
      val runDirs = fs.listStatus(hroot)
        .filter(_.getPath.getName.startsWith("graft_hier_pairs_"))
      assert(runDirs.length == 1,
        s"expected one staging dir, got ${runDirs.length}")
      val passDirs = fs.listStatus(runDirs.head.getPath)
        .filter(_.getPath.getName.startsWith("pass_"))
      assert(passDirs.length == 3,
        s"forcePasses=3 must stage exactly 3 pass dirs, got ${passDirs.length}")
    } finally {
      spark.conf.unset(Similarity.ScratchDirKey)
      spark.conf.set(Caching.EagerReleaseKey, "true")
      spark.sharedState.cacheManager.clearCache()
      fs.delete(hroot, true)
    }
  }

  test("bounded-pass staging resolves through the configured Hadoop " +
      "scratch root and cleanup removes it (VERDICT_r18 #1)") {
    // A non-default scratch root stands in for a cluster filesystem: the
    // writes, the read-back, and the delete must all resolve through the
    // SAME Hadoop FS handle rooted there — never a driver-local nio
    // temp dir the cluster FS would not share.
    val base = (0L until 30L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 51f))
    }
    val dupped = base ++ Seq(100L -> base(3)._2, 101L -> base(17)._2)
    val df = dupped.toDF("vec_id", "embedding")
    val single = Similarity.semanticDedupHier(df, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_spec_")
    val hroot = new org.apache.hadoop.fs.Path("file:" + root)
    val fs = hroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      spark.conf.set(Similarity.ScratchDirKey, "file:" + root)
      // leg 1 — lazy mode: the result still references the pass files,
      // so they must LAND under the configured root and be left there
      spark.conf.set(Caching.EagerReleaseKey, "false")
      val lazyFlags = Similarity.semanticDedupHier(df, threshold = 0.999,
        pairRowBudget = 3L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lazyFlags == single)
      val runDirs = fs.listStatus(hroot)
        .filter(_.getPath.getName.startsWith("graft_hier_pairs_"))
      assert(runDirs.length == 1,
        s"expected one staging dir under the scratch root, got ${runDirs.length}")
      val passDirs = fs.listStatus(runDirs.head.getPath)
        .filter(_.getPath.getName.startsWith("pass_"))
      assert(passDirs.length >= 2,
        s"multi-pass run should stage >=2 pass dirs, got ${passDirs.length}")
      fs.delete(runDirs.head.getPath, true)
      spark.sharedState.cacheManager.clearCache()
      // leg 2 — eager mode (the default): materialization consumes the
      // pass parquet and cleanup must remove the staging dir through the
      // same filesystem, leaving the root empty
      spark.conf.set(Caching.EagerReleaseKey, "true")
      val eagerFlags = Similarity.semanticDedupHier(df, threshold = 0.999,
        pairRowBudget = 3L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(eagerFlags == single)
      assert(fs.listStatus(hroot).isEmpty,
        "eager-mode cleanup must remove the staging dir from the scratch root")
    } finally {
      spark.conf.unset(Similarity.ScratchDirKey)
      spark.conf.set(Caching.EagerReleaseKey, "true")
      fs.delete(hroot, true)
    }
  }

  test("semanticDedupAuto's knownCount threading: the upper rung runs ONE " +
      "corpus count, not two (VERDICT_r17 #3)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    var viaDispatch: Array[(Long, Long)] = null
    var direct: Array[(Long, Long)] = null
    val (jobsDispatch, _) = SparkSuite.jobLog {
      // crossover pinned below n so the dispatcher takes the hier rung
      viaDispatch = Similarity.semanticDedupAuto(emb, threshold = 0.4,
        crossover = 1L).collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val (jobsDirect, _) = SparkSuite.jobLog {
      direct = Similarity.semanticDedupHier(emb, threshold = 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(viaDispatch.toSet == direct.toSet)
    // dispatcher = its own count + hier WITHOUT hier's count: same total
    // job count as calling hier directly (which counts for itself); on a
    // mismatch the jobs only one side ran name the extra one
    val (nDispatch, nDirect) = (jobsDispatch.size, jobsDirect.size)
    assert(nDispatch == nDirect,
      s"dispatch added ${nDispatch - nDirect} job(s) over direct — " +
        "knownCount must eliminate the second corpus count; only via dispatch: " +
        s"${jobsDispatch.diff(jobsDirect).mkString("[", "; ", "]")}, only direct: " +
        jobsDirect.diff(jobsDispatch).mkString("[", "; ", "]"))
  }

  test("k2Divisor widens blocks: a cell-sized divisor makes hier flags a " +
      "superset of the default's (VERDICT_r17 #5)") {
    val base = (0L until 30L).map { i =>
      (i, Array.tabulate(16)(d => (((i * 37 + d * 11) % 101) - 50).toFloat / 51f))
    }
    val dupped = base ++ Seq(100L -> base(3)._2, 101L -> base(17)._2)
    val df = dupped.toDF("vec_id", "embedding")
    def flags(div: Int): Set[Long] =
      Similarity.semanticDedupHier(df, threshold = 0.9, k2Divisor = div)
        .filter(col("is_dup") === 1L).collect().map(_.getLong(0)).toSet
    val fine = flags(1)
    // divisor large enough to force k2 = 1 everywhere: each coarse cell
    // becomes ONE block = the union of its fine blocks, so every
    // within-fine-block pair is still scored plus all cross-fine pairs
    val wide = flags(1000)
    assert(fine.subsetOf(wide),
      s"cell-wide blocks must cover the fine blocking: ${fine -- wide} lost")
    assert(wide.intersect(Set(100L, 101L)) == Set(100L, 101L),
      "exact copies stay flagged under the widest blocking")
  }

  test("kNN operators accept only a persisted shared unit table (unitOpt)") {
    val queries = vecs.filter(col("vec_id") < 3)
    val raw = Similarity.unitVectorsDeclarative(vecs)
    intercept[IllegalArgumentException] {
      Similarity.bruteForceKnn(vecs, queries, k = 2, unitOpt = Some(raw))
    }
    intercept[IllegalArgumentException] {
      Similarity.lshKnn(vecs, k = 2, unitOpt = Some(raw))
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfKnn(vecs, queries, k = 2, nLists = 4, nprobe = 2,
        unitOpt = Some(raw))
    }
    val unit = Similarity.unitVectors(vecs)
    try {
      assert(Similarity.bruteForceKnn(vecs, queries, k = 2,
        unitOpt = Some(unit)).count() == 6)
      assert(Similarity.lshKnn(vecs, k = 2, unitOpt = Some(unit)).count() > 0)
      assert(Similarity.ivfKnn(vecs, queries, k = 2, nLists = 4, nprobe = 2,
        unitOpt = Some(unit)).count() > 0)
    } finally unit.unpersist(blocking = false)
  }
}
