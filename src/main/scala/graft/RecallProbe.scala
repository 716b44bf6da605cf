package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star-mode detection-recall probe (VERDICT_r14 #3): at a scale where the
  * hot-bucket / hot-cluster caps BIND, quantify what the rep-link trade
  * actually costs. The caps turn over-cap groups from all-pairs enumeration
  * into member-vs-representative star links, so the capped output is a
  * SUBSET of the uncapped one (rep-member pairs are themselves members of
  * the full enumeration) — precision is 1.0 by construction and recall is
  * the whole question. Two numbers per operator:
  *
  *   - detection recall: of the vectors the UNCAPPED run detects as
  *     near-dups (member of >=1 scored pair / is_dup=1), the fraction the
  *     capped default still detects — the "detection stays" claim in the
  *     [[graft.operators.Similarity.DefaultMaxLshBucket]] scaladoc;
  *   - pair recall: of the uncapped pair list, the fraction the capped run
  *     still enumerates — expected LOW where the caps bind (enumeration is
  *     star-shaped by design); recorded so the trade is a number, not an
  *     adjective.
  *
  * Runs BOTH sides in one JVM (recall is a set comparison, not a timing —
  * box noise is irrelevant, cache sharing is not a confound). The uncapped
  * side is the reason this probe cannot run at sf10: it is exactly the
  * measured >50 GB spill-kill the guards close; sf1/sf3 are the scales
  * where the caps bind AND the ground truth still fits the box.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf1 tools/run.sh graft.RecallProbe \
  *   [neardup|neardup_auto|semdedup|semdedup_auto|semdedup_auto2|semdedup_hier|both]
  * (each name runs that one leg standalone; `both` = the round-15 set:
  * neardup + semdedup + semdedup_auto. SPARK_GRAFT_RECALL_PLANTED_BITS
  * overrides the planted-class sketch bits — default 8, the sf1-record
  * config; set 0 = auto-sized for n >> 50k, where 8 pinned bits put
  * thousands of vectors per bucket and the uncapped planted scan would
  * enumerate ~n²/256 pairs.)
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("both")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()

    // The PLANTED near-dup class: the fixture perturbs ~5% of vectors off
    // an earlier one by ±0.01/dim, so true near-identical partners sit at
    // cos ≈ 1. Members of any cos>=0.95 pair (uncapped LSH — at that
    // similarity the 16-table sketch is effectively exhaustive) are the
    // flags a dedup user cannot afford to lose; each leg below reports
    // detection recall RESTRICTED to this class next to the overall one.
    val plantedBits =
      sys.env.getOrElse("SPARK_GRAFT_RECALL_PLANTED_BITS", "8").toInt
    // SPARK_GRAFT_RECALL_PLANTED_CAPPED=1: build the planted class with
    // the production bucket cap instead of maxBucket=0. The uncapped
    // candidate self-join shuffles >68 GB at 2M vectors (measured, twice
    // — it does not fit this box's disk), while at 600k the capped
    // auto-bits run detected the IDENTICAL planted set (57,724 =
    // 57,724, §1 SCALE_r16), so the capped set is an equally valid
    // class marker at the scales where uncapped enumeration can't run.
    val plantedCap =
      if (sys.env.getOrElse("SPARK_GRAFT_RECALL_PLANTED_CAPPED", "0") == "1")
        operators.Similarity.DefaultMaxLshBucket
      else 0
    // SPARK_GRAFT_RECALL_PLANTED_SKIP=1: skip the planted-class legs
    // entirely. Even the CAPPED planted sketch shuffles its candidate
    // join (~45+ GB at 2M vectors, measured — occupancy ~5 means the
    // cap trims almost nothing), so past ~600k only the overall
    // detection recall is box-feasible; planted fields then emit -1.
    val plantedSkip =
      sys.env.getOrElse("SPARK_GRAFT_RECALL_PLANTED_SKIP", "0") == "1"
    // SPARK_GRAFT_HIER_K2DIV: run the semdedup_hier leg at a non-default
    // k2Divisor (the VERDICT_r18 #4 certification ladder runs div=2
    // through the same capped-vs-uncapped + planted legs div=1 passed).
    // SPARK_GRAFT_HIER_BUDGET: override semanticDedupHier's pairRowBudget
    // for the hier legs — at 20M the default 1e9 crested 86.8 GiB used
    // (SCALE_r18 §5); a smaller budget trades more passes for headroom.
    val hierK2Div =
      sys.env.getOrElse("SPARK_GRAFT_HIER_K2DIV", "1").toInt
    val hierBudget =
      sys.env.getOrElse("SPARK_GRAFT_HIER_BUDGET",
        operators.Similarity.DefaultPairRowBudget.toString).toLong
    // The generator now emits the pairs it plants as a side table
    // (planted_pairs.parquet, VERDICT_r17 #6): when present, the planted
    // class is the distinct ids of those pairs — a scan of a ~0.05n-row
    // table instead of the LSH sketch whose candidate join shuffles
    // 45+ GB at 2M vectors (the reason the 2M planted leg emitted -1 in
    // SCALE_r17 §1). SPARK_GRAFT_RECALL_PLANTED_TABLE=0 forces the
    // sketch-derived class (for cross-validating the two definitions at
    // a scale where both run).
    val pairsTable = new java.io.File(s"$sfDir/planted_pairs.parquet")
    val useTable = pairsTable.exists() &&
      sys.env.getOrElse("SPARK_GRAFT_RECALL_PLANTED_TABLE", "1") != "0"
    val planted = {
      val p =
        if (plantedSkip)
          emb.select(col("vec_id")).limit(0)
        else if (useTable) {
          val pp = spark.read.parquet(pairsTable.getPath)
          pp.select(col("base_id").as("vec_id"))
            .unionByName(pp.select(col("dup_id").as("vec_id"))).distinct()
        } else {
          val q = operators.Similarity
            .nearDupPairsLsh(emb, threshold = 0.95, tables = 16,
              bits = plantedBits, maxBucket = plantedCap)
          q.select(col("vec_a").as("vec_id"))
            .unionByName(q.select(col("vec_b").as("vec_id"))).distinct()
        }
      p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val nPlanted = if (plantedSkip) -1L else planted.count()
    if (useTable && !plantedSkip)
      System.err.println(
        s"[recall] planted class from side table ($nPlanted members)")

    // `hier_div` (VERDICT_r17 #5): price the k2Divisor wider-blocks knob —
    // for each divisor, capped hier's wall, flag count, and ABSOLUTE
    // planted coverage (flagged∩planted / planted). Divisor 1 is the
    // default fine blocking (82.6% of the planted class at 600k,
    // SCALE_r17 §1); larger divisors merge fine blocks toward the cell,
    // buying coverage with within-block pair volume.
    if (which == "hier_div") {
      val divisors = sys.env.getOrElse("SPARK_GRAFT_HIER_DIVISORS", "1,2,4")
        .split(",").map(_.trim.toInt)
      // SPARK_GRAFT_HIER_SHARDS > 1 bounds the ASSIGNMENT phase: the
      // per-shard working set is n/shards (both unsharded probes past
      // 24M died in assignment materialization at ~2.81 GiB/M)
      val shards = sys.env.getOrElse("SPARK_GRAFT_HIER_SHARDS", "1").toInt
      divisors.foreach { div =>
        val t0 = System.nanoTime()
        val flagged = operators.Similarity.semanticDedupHier(emb,
            threshold = 0.4, shards = shards, k2Divisor = div,
            pairRowBudget = hierBudget)
          .filter(col("is_dup") === 1L).select("vec_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dups = flagged.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val plC = if (plantedSkip) -1L
                  else flagged.join(planted, Seq("vec_id"), "left_semi").count()
        val cov = if (plantedSkip || nPlanted <= 0) -1.0
                  else plC.toDouble / nPlanted
        println(s"""{"probe":"hier_div","sf":"$sfDir","n":$n,""" +
          s""""k2_divisor":$div,"shards":$shards,"dups":$dups,""" +
          s""""sec":${f"$sec%.1f"},""" +
          s""""planted_class":$nPlanted,"planted_covered":$plC,""" +
          s""""planted_coverage":${f"$cov%.4f"}}""")
        flagged.unpersist(blocking = true)
        spark.catalog.clearCache()
      }
      planted.unpersist(blocking = true)
      spark.stop()
      return
    }

    if (which == "neardup" || which == "both") {
      // the declared emb_neardup config (pinned tables=16, bits=8) with the
      // production cap vs maxBucket=0 ground truth
      val ground = operators.Similarity
        .nearDupPairsLsh(emb, threshold = 0.3, tables = 16, bits = 8,
          maxBucket = 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val capped = operators.Similarity
        .nearDupPairsLsh(emb, threshold = 0.3, tables = 16, bits = 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def detected(p: DataFrame): DataFrame =
        p.select(col("vec_a").as("vec_id"))
          .unionByName(p.select(col("vec_b").as("vec_id"))).distinct()
      val dg = detected(ground).persist()
      val dc = detected(capped).persist()
      val nDg = dg.count()
      val nDet = dg.join(dc, Seq("vec_id"), "left_semi").count()
      val nPg = ground.count()
      val nPc = capped.join(ground, Seq("vec_a", "vec_b"), "left_semi").count()
      val plG = dg.join(planted, Seq("vec_id"), "left_semi").count()
      val plC = dc.join(planted, Seq("vec_id"), "left_semi")
        .join(dg, Seq("vec_id"), "left_semi").count()
      emit("neardup", sfDir, n, nDg, nDet, nPg, nPc,
        s"tables=16,bits=8,cap=${operators.Similarity.DefaultMaxLshBucket}",
        nPlanted, plG, plC)
      Seq(ground, capped, dg, dc).foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    if (which == "neardup_auto") {
      // the DEPLOYMENT LSH config (bits auto-sized from the corpus count,
      // VERDICT_r15 #5): same cap-vs-uncapped comparison as `neardup`, at
      // the bits the autoLshBits rule actually picks for this n — the
      // sf1 0.977 record is for the pinned 16/8 config; this leg checks
      // the claim where occupancy is held at ~TargetBucketOccupancy.
      val autoBits = operators.Similarity.autoLshBits(n)
      val ground = operators.Similarity
        .nearDupPairsLsh(emb, threshold = 0.3, tables = 16, bits = 0,
          maxBucket = 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val capped = operators.Similarity
        .nearDupPairsLsh(emb, threshold = 0.3, tables = 16, bits = 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def detected(p: DataFrame): DataFrame =
        p.select(col("vec_a").as("vec_id"))
          .unionByName(p.select(col("vec_b").as("vec_id"))).distinct()
      val dg = detected(ground).persist()
      val dc = detected(capped).persist()
      val nDg = dg.count()
      val nDet = dg.join(dc, Seq("vec_id"), "left_semi").count()
      val nPg = ground.count()
      val nPc = capped.join(ground, Seq("vec_a", "vec_b"), "left_semi").count()
      val plG = dg.join(planted, Seq("vec_id"), "left_semi").count()
      val plC = dc.join(planted, Seq("vec_id"), "left_semi")
        .join(dg, Seq("vec_id"), "left_semi").count()
      emit("neardup_auto", sfDir, n, nDg, nDet, nPg, nPc,
        s"tables=16,bits=auto($autoBits),cap=${operators.Similarity.DefaultMaxLshBucket}",
        nPlanted, plG, plC)
      Seq(ground, capped, dg, dc).foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    // semanticDedup recall, one leg per k-sizing: `semdedup` = the pinned
    // k=8 oracle anchor (at sf1 that is 2,500 vectors/cluster — every
    // cluster far over the cap, the worst case for star mode), and
    // `semdedup_auto` = the autoKmeansK deployment sizing, whose whole
    // point is keeping clusters near sqrt(2N), i.e. at or under the cap
    // until N ~ 500k. Detection = is_dup; pair-level numbers have no
    // analogue (the output IS the verdict), so the pair fields mirror the
    // detection fields.
    val semLegs = which match {
      case "semdedup"       => Seq("semdedup")
      case "semdedup_auto"  => Seq("semdedup_auto")
      case "semdedup_auto2" => Seq("semdedup_auto2")
      case "semdedup_hier"  => Seq("semdedup_hier")
      case "both"           => Seq("semdedup", "semdedup_auto")
      case _                => Seq.empty
    }
    semLegs.foreach { leg =>
      // ground truth = the SAME blocking uncapped (maxCluster = 0), so
      // each leg isolates what the rep-link cap costs under that sizing;
      // the planted_flagged_uncapped / planted_class fields additionally
      // give the leg's ABSOLUTE planted coverage (how much of the
      // cos>=0.95 class this blocking flags at all — the hier finer-block
      // question, VERDICT_r16 #2)
      def run(uncapped: Boolean): DataFrame = {
        val flags = leg match {
          case "semdedup_hier" =>
            operators.Similarity.semanticDedupHier(emb, threshold = 0.4,
              maxCluster = if (uncapped) 0
                           else operators.Similarity.DefaultMaxCluster,
              pairRowBudget = hierBudget, k2Divisor = hierK2Div)
          case _ =>
            val k = leg match {
              case "semdedup"       => 8
              case "semdedup_auto"  => operators.Similarity.autoKmeansK(n)
              // the cap-aware sizing (VERDICT_r15 #1)
              case "semdedup_auto2" => operators.Similarity.autoKmeansKCapAware(n)
            }
            operators.Similarity.semanticDedup(emb, k = k, iters = 1,
              threshold = 0.4,
              maxCluster = if (uncapped) 0
                           else operators.Similarity.DefaultMaxCluster)
        }
        flags.filter(col("is_dup") === 1L).select("vec_id")
      }
      val config = leg match {
        case "semdedup_hier" =>
          s"hier,k1=${operators.Similarity.autoCoarseK(n)}," +
            s"cap=${operators.Similarity.DefaultMaxCluster}," +
            s"k2div=$hierK2Div"
        case "semdedup" => s"k=8,cap=${operators.Similarity.DefaultMaxCluster}"
        case "semdedup_auto" =>
          s"k=${operators.Similarity.autoKmeansK(n)}," +
            s"cap=${operators.Similarity.DefaultMaxCluster}"
        case "semdedup_auto2" =>
          s"k=${operators.Similarity.autoKmeansKCapAware(n)}," +
            s"cap=${operators.Similarity.DefaultMaxCluster}"
      }
      val ground = run(uncapped = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cappedP = run(uncapped = false)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDg = ground.count()
      val nDet = ground.join(cappedP, Seq("vec_id"), "left_semi").count()
      val plG = ground.join(planted, Seq("vec_id"), "left_semi").count()
      val plC = cappedP.join(planted, Seq("vec_id"), "left_semi")
        .join(ground, Seq("vec_id"), "left_semi").count()
      emit(leg, sfDir, n, nDg, nDet, nDg, nDet, config,
        nPlanted, plG, plC)
      Seq(ground, cappedP).foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private def emit(op: String, sfDir: String, n: Long, detGround: Long,
      detKept: Long, pairsGround: Long, pairsKept: Long,
      config: String, planted: Long, plantedGround: Long,
      plantedKept: Long): Unit = {
    val dr = if (detGround > 0) detKept.toDouble / detGround else 1.0
    val pr = if (pairsGround > 0) pairsKept.toDouble / pairsGround else 1.0
    // planted < 0 = the planted legs were skipped (PLANTED_SKIP): ALL
    // planted fields emit -1 so "not measured" is never readable as
    // "measured zero" (ADVICE_r16 — the counts used to emit 0 while only
    // the recall emitted -1)
    val skipped = planted < 0
    val plr = if (skipped) -1.0
              else if (plantedGround > 0) plantedKept.toDouble / plantedGround
              else 1.0
    val plG = if (skipped) -1L else plantedGround
    val plK = if (skipped) -1L else plantedKept
    println(s"""{"probe":"recall","op":"$op","sf":"$sfDir","n":$n,""" +
      s""""config":"$config","detected_uncapped":$detGround,""" +
      s""""detected_kept":$detKept,"detection_recall":${f"$dr%.4f"},""" +
      s""""pairs_uncapped":$pairsGround,"pairs_kept":$pairsKept,""" +
      s""""pair_recall":${f"$pr%.4f"},"planted_class":$planted,""" +
      s""""planted_flagged_uncapped":$plG,""" +
      s""""planted_flagged_kept":$plK,""" +
      s""""planted_recall":${f"$plr%.4f"}}""")
  }
}
