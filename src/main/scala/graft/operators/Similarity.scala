package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, as a 100 TB pipeline needs both:
  *   - [[bruteForceKnn]] / [[nearDupPairs]]: exact cosine — vectors are
  *     unit-normalized ONCE (per row, persisted) so every pair costs a
  *     single dot product instead of three norm folds; the corpus side is
  *     scanned, never shuffled, and only the bounded query set broadcasts.
  *   - [[lshBuckets]] / [[lshKnn]]: random-hyperplane LSH with
  *     *deterministic* integer hyperplanes (weights md5-derived from
  *     (plane, dim) — see [[planeWeight]], no RNG state) — bucketing keeps
  *     the candidate join near-linear; the scale path when the query set is
  *     large.
  */
object Similarity {

  /** Deterministic left-fold dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (u, v) => u * v), lit(0.0), (acc, z) => acc + z)

  /** Unrolled dot product for a KNOWN dimensionality. Same left-to-right
    * accumulation order as the fold → identical fp result. MEASURED SLOWER
    * than the `aggregate` fold at dim=64 on this Spark version (sf0.1
    * near-dup scan: 13 s fold vs 36 s unrolled): the 64-term element_at
    * tree exceeds Janino method limits and drops the whole stage out of
    * codegen. Kept for small dims / future codegen improvements; the
    * queries default to the fold (`dim = 0`).
    */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i => element_at(a, i) * element_at(b, i)).reduce(_ + _)

  /** Cosine similarity of two float-array columns (self-contained form —
    * prefer the unit-vector path for bulk pair work).
    */
  def cosine(a: Column, b: Column): Column = {
    def d(x: Column, y: Column) = aggregate(
      zip_with(x, y, (u, v) => u.cast("double") * v.cast("double")),
      lit(0.0), (acc, z) => acc + z)
    d(a, b) / (sqrt(d(a, a)) * sqrt(d(b, b)))
  }

  /** Project (vec_id, unit-normalized double vector), persisted: the norm
    * fold runs once per vector, not once per pair. CALLER OWNS the
    * persistence — every public operator that calls this releases it via
    * [[Caching.materializeAndRelease]] before returning (the
    * leave-no-cache-behind invariant).
    *
    * Typed per-partition kernel (the [[lshTablesFast]] pattern): same
    * left-to-right IEEE accumulation as the declarative
    * [[unitVectorsDeclarative]] form — float→double per element, Σ v·v in
    * index order, then per-element ÷ √Σ — so the doubles are bit-identical
    * while skipping the interpreted higher-order-function overhead
    * (Catalyst evaluates `transform`/`aggregate` lambdas per element
    * outside whole-stage codegen; the near-dup verify path evaluates this
    * once per VECTOR and the pair dot once per CANDIDATE, so the constant
    * factor is the whole cost).
    */
  def unitVectors(vectors: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, emb) =>
          val n = emb.length
          val v = new Array[Double](n)
          var i = 0
          while (i < n) { v(i) = emb(i).toDouble; i += 1 }
          var s = 0.0
          i = 0
          while (i < n) { s += v(i) * v(i); i += 1 }
          val norm = math.sqrt(s)
          i = 0
          while (i < n) { v(i) = v(i) / norm; i += 1 }
          (id, v)
        }
      }
      .toDF("vec_id", "uv")
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Declarative reference form of [[unitVectors]] (tested equal in
    * SimilaritySpec; not persisted).
    */
  def unitVectorsDeclarative(vectors: DataFrame): DataFrame = {
    val asDouble = transform(col("embedding"), x => x.cast("double"))
    vectors
      .select(col("vec_id").cast("long").as("vec_id"), asDouble.as("v"))
      .select(col("vec_id"),
        transform(col("v"), x => x / sqrt(dot(col("v"), col("v")))).as("uv"))
  }

  /** Score candidate pairs with an exact dot product via a typed
    * per-partition kernel: input must have (aId: long, aVec: array<double>,
    * bId: long, bVec: array<double>) columns; output is (aId, bId, cos)
    * with the same left-to-right accumulation as [[dot]] — bit-identical
    * doubles, ~an order of magnitude less per-pair overhead than the
    * interpreted `aggregate(zip_with(...))` fold.
    */
  def cosinePairs(pairs: DataFrame, aId: String, aVec: String,
                  bId: String, bVec: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col(aId).cast("long"), col(bId).cast("long"),
        col(aVec), col(bVec))
      .as[(Long, Long, Array[Double], Array[Double])]
      .mapPartitions { it =>
        it.map { case (a, b, va, vb) =>
          var s = 0.0
          var i = 0
          val n = math.min(va.length, vb.length)
          while (i < n) { s += va(i) * vb(i); i += 1 }
          (a, b, s)
        }
      }
      .toDF(aId, bId, "cos")
  }

  /** Exact top-k neighbors for each query vector. Output:
    * (query_id, neighbor_id, rank), rank by cosine desc then neighbor id.
    *
    * `unitOpt`: a caller-persisted [[unitVectors]] table for `corpus` —
    * a harness running several ANN methods over the SAME corpus (the
    * emb_ann_recall eval) passes one shared table so the corpus is
    * normalized once per run instead of once per method (round 21,
    * VERDICT_r20 #4); the caller owns and releases it. Default: built
    * and released internally, behavior unchanged.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int = 0,
                    unitOpt: Option[DataFrame] = None): DataFrame = {
    requirePersisted(unitOpt)
    val unit = unitOpt.getOrElse(unitVectors(corpus))
    val q = unit.join(queries.select("vec_id"), "vec_id")
      .select(col("vec_id").as("query_id"), col("uv").as("qv"))
    val c = unit.select(col("vec_id").as("neighbor_id"), col("uv").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
    val scored =
      if (dim > 0) pairs.withColumn("cos", dotUnrolled(col("qv"), col("cv"), dim))
      else cosinePairs(pairs, "query_id", "qv", "neighbor_id", "cv")
    val res = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
    Caching.materializeAndRelease(res,
      (if (unitOpt.isEmpty) Seq(unit) else Nil): _*)
  }

  /** The `unitOpt` contract of the kNN operators: a caller-shared unit
    * table must be persisted (the [[unitVectors]] result is). An
    * unpersisted one would be recomputed by every join that reads it and
    * never released by anyone.
    */
  private def requirePersisted(unitOpt: Option[DataFrame]): Unit =
    require(unitOpt.forall(_.storageLevel != StorageLevel.NONE),
      "unitOpt must be a persisted unitVectors table; the caller owns and releases it")

  /** Matryoshka-style two-stage ANN (Kusupati et al., "Matryoshka
    * Representation Learning", 2022): candidate generation by cosine
    * over the FIRST `prefixDims` dimensions (an MRL-trained embedding
    * packs its coarse geometry into the prefix), then an exact
    * full-dimension re-rank of the surviving top `nCand` per query.
    * The corpus-dominant stage does dim/prefixDims of brute force's
    * arithmetic; the full vectors are touched for only nCand·|queries|
    * rows. Output (query_id, neighbor_id, prank, rank) keeps the
    * prefix-stage rank visible so the re-rank's corrections are
    * observable (and oracle-checked). Per-query top-nCand runs the
    * two-phase window (local per-partition prune bounds the global
    * window's input to nCand·#partitions per query).
    */
  def mrlKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             prefixDims: Int = 16, nCand: Int = 50): DataFrame = {
    val q = corpus.join(queries.select("vec_id"), "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val pairs = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
    mrlRerank(pairs, k, prefixDims, nCand)
  }

  /** Shared MRL tail over an arbitrary candidate pair set (columns
    * query_id, qe, neighbor_id, ce — raw float embeddings): prefix-dim
    * cosine prank via the two-phase window (local per-partition prune
    * bounds the global window's input to nCand·#partitions per query),
    * then the exact full-dimension re-rank. Used by [[mrlKnn]] (full
    * corpus scan), [[mrlIvfKnn]] (coarse-pruned candidates), and
    * [[IndexStore.mrlKnnStored]] (stored-index probe) so the ranking
    * semantics cannot drift between the three.
    */
  private[operators] def mrlRerank(pairs: DataFrame, k: Int,
      prefixDims: Int, nCand: Int): DataFrame = {
    val withP = pairs
      .withColumn("pcos", cosine(slice(col("ce"), 1, prefixDims),
        slice(col("qe"), 1, prefixDims)))
    val local = Window.partitionBy(col("query_id"), col("_pid"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val cand = withP
      .withColumn("_pid", spark_partition_id())
      .withColumn("lrk", row_number().over(local))
      .filter(col("lrk") <= nCand)
      .withColumn("prank", row_number().over(wPre).cast("long"))
      .filter(col("prank") <= nCand)
    val wFull = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .withColumn("cos", cosine(col("ce"), col("qe")))
      .withColumn("rank", row_number().over(wFull).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "prank", "rank")
  }

  /** Prefix slice with the ORIGINAL column name, so the integer coarse
    * quantizer machinery ([[collectCentroids]] / [[assignToCentroids]] /
    * [[probeAssign]]) operates on the Matryoshka prefix: floor-quantize
    * commutes with the slice, so prefix-slice-then-quantize equals the
    * prefix of the full quantization — the oracle mirrors it as
    * `q[d+1], d < prefixDims`.
    */
  private def prefixOf(vectors: DataFrame, prefixDims: Int): DataFrame =
    vectors.select(col("vec_id"),
      slice(col("embedding"), 1, prefixDims).as("embedding"))

  /** MRL ANN with IVF-pruned candidate generation — the stored-index
    * scale path's DIRECT form ([[IndexStore.mrlKnnStored]] must produce
    * identical output on the same corpus): the coarse quantizer lives in
    * PREFIX space (centroids = quantized prefixes of the first `nLists`
    * vectors, integer inner-product argmax — the [[ivfKnn]] convention),
    * each query probes its `nprobe` best lists, prefix-cosine ranks the
    * probed candidates (prank), and the exact full-dim re-rank runs on
    * the surviving top `nCand`. Candidate work per query is
    * corpus/nLists × nprobe × prefixDims/dim of brute force — the two
    * prunings compose.
    */
  def mrlIvfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
      prefixDims: Int = 16, nCand: Int = 50,
      nLists: Int = 16, nprobe: Int = 2): DataFrame = {
    val cents = collectCentroids(prefixOf(corpus, prefixDims), nLists)
    val probes = probeAssign(
      prefixOf(corpus.join(queries.select("vec_id"), "vec_id"), prefixDims),
      cents, nprobe)
    val lists = assignToCentroids(prefixOf(corpus, prefixDims), cents)
      .select(col("vec_id").as("neighbor_id"), col("list_id"))
    val q = corpus.join(queries.select("vec_id"), "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val pairs = probes.join(lists, "list_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce")), "neighbor_id")
      .join(broadcast(q), "query_id")
    mrlRerank(pairs, k, prefixDims, nCand)
  }

  val NumPlanes = 8

  /** Target mean per-bucket occupancy for auto-sized LSH sketches. The
    * anchor is SCALE_r4.md's measured-linear configuration: 20k vectors at
    * 16×12 bits ⇒ n/2^bits ≈ 5, which held wall-clock ≈ linear at a 10×
    * scale-up while the fixed 8-bit default went 16.6× (candidate space
    * n²·tables/2^bits is quadratic unless bits grows with log₂ n).
    */
  val TargetBucketOccupancy = 5

  /** Hot-bucket cap for the LSH candidate joins ([[nearDupPairsLsh]]):
    * a (table, bucket) cell holding more than this many vectors switches
    * from all-pairs enumeration to representative linking — every member
    * pairs with the bucket-min vec_id only (the [[Dedup.minhashCandidates]]
    * discipline, same star-keeps-the-family-connected argument).
    *
    * Why 64 and not [[Dedup.DefaultMaxBucket]] (1024): MinHash band keys
    * live in an effectively unbounded hash space, so only genuinely viral
    * keys exceed the cap. Here the bucket space is 2^bits, and a PINNED
    * bits (the declared `emb_neardup` anchor pins 8 for oracle-hash
    * stability) makes EVERY bucket uniformly hot once n ≫ 2^bits — the
    * measured sf10 spill-kill (SCALE_r11 §11: >50 GB shuffle at 200k
    * vectors, occupancy ~780, which a 1024 cap would not have caught).
    * With the cap the worst-case candidate volume is bounded by
    * tables · 2^bits · cap²/2 all-pairs rows plus tables · n star links —
    * LINEAR in n at fixed config. 64 = 12.8× [[TargetBucketOccupancy]],
    * so auto-sized sketches ([[autoLshBits]]) never rep-link a natural
    * bucket; only true pile-ups (near-identical vector floods) and
    * under-pinned bits do, and those stay DETECTED through the star.
    * Mirrored in the oracle SQL (MlQueries), so the hash moves WITH the
    * cap. `maxBucket = 0` disables the guard (exact banding, quadratic
    * per bucket — unit-test / verification use only).
    *
    * RECALL CAVEAT: in a capped bucket only member-vs-rep pairs are
    * scored, so two non-rep members that are near-dups of EACH OTHER but
    * below threshold vs the rep are missed. For identical-vector floods
    * (the pile-up case the cap exists for) recall is unchanged — every
    * member still pairs with the rep; for diffuse families that happen to
    * share a bucket, recall within the capped bucket drops to the star.
    * Capped runs are visible: [[groupStats]] logs every run in which
    * any group rep-links, with counts.
    *
    * MEASURED (graft.RecallProbe, sf1 = 20k vectors, where 256/256 of the
    * pinned config's buckets rep-link): detection recall 0.977 — 19,545
    * of the 20,000 vectors the uncapped run detects as near-dup members
    * remain detected through their rep links — and 0.993 restricted to
    * the planted near-identical class (cos>=0.95 partners: 1,890 of
    * 1,903), while pair-listing recall is 0.178 (72,074 of 405,641
    * pairs), the star shape by construction. The capped output is a
    * strict SUBSET of the uncapped one, so precision is 1.0.
    * SCALE_r15.md §1 has the full table.
    */
  val DefaultMaxLshBucket = 64

  /** Cap telemetry and pair planning in ONE action over a persisted
    * group-size table (`sizeCol` = members per group; ≤ tables·2^bits or
    * #blocks rows, so the marginal cost is a scan of a tiny table). Logs
    * the groups over `cap` that rep-link, so a pinned config running in
    * degraded-recall star mode at scale is VISIBLE, not silent. Returns
    * (the exact pair rows the capped self-join scores — m(m−1)/2 per
    * group within the cap, m−1 star links per group over it — and the
    * member total).
    */
  private def groupStats(sizes: DataFrame, sizeCol: String, cap: Long,
      op: String, unit: String): (Long, Long) = {
    val m = col(sizeCol)
    val row = sizes.agg(
      count(lit(1)),
      coalesce(sum(when(m > cap, 1L).otherwise(0L)), lit(0L)),
      coalesce(max(m), lit(0L)),
      coalesce(sum(expr(s"CASE WHEN $sizeCol <= $cap THEN " +
        s"($sizeCol * ($sizeCol - 1)) DIV 2 ELSE $sizeCol - 1 END")), lit(0L)),
      coalesce(sum(m), lit(0L))).first()
    val (total, hot, mx) = (row.getLong(0), row.getLong(1), row.getLong(2))
    if (hot > 0) System.err.println(
      s"[similarity] $op: $hot of $total ${unit}s over cap=$cap " +
        s"(largest $mx) rep-linked — star mode; recall within those " +
        s"${unit}s is member-vs-rep only. For SemDeDup sizing use " +
        "semanticDedupAuto / autoKmeansKCapAware (detection recall 1.0 " +
        "where the sqrt-rule measured 0.386, SCALE_r16 §1)")
    (row.getLong(3), row.getLong(4))
  }

  /** The SCALE_r4.md scale rule as code: bits = ceil(log₂(n / occupancy)),
    * i.e. hold per-bucket occupancy — and therefore candidate-join work per
    * row — flat as the corpus grows. Clamped to [NumPlanes, 48] (48-bit
    * buckets are beyond any real corpus: 2^48 · 5 ≈ 1.4e15 vectors).
    *
    * INTEGER-EXACT on purpose: computed as bit-length(ceil(n/occ) - 1), the
    * exact mathematical ceil(log₂(ceil(n/occ))) — which equals
    * ceil(log₂(n/occ)) since no integer lies strictly between n/occ and the
    * next power of two. A floating `log(n/occ)/log(2)` is 1 ulp away from
    * flipping at exact powers of two (log(128)/log(2) = 7.000000000000001
    * on this JVM → ceil = 8, not 7), which would make the auto-sized
    * default impossible to mirror in an oracle; the integer form is
    * reproduced exactly in SQL (`emb_neardup_auto`'s oracle derives bits
    * from its own count(*)).
    */
  def autoLshBits(n: Long, targetOccupancy: Int = TargetBucketOccupancy): Int = {
    // ceil-div without the (n + occ - 1) add — that form overflows Long
    // at n near Long.MaxValue and would clamp the result to the FLOOR
    val target = math.max(1L,
      n / targetOccupancy + (if (n % targetOccupancy == 0) 0 else 1))
    val raw = 64 - java.lang.Long.numberOfLeadingZeros(target - 1) // ceil(log2(target))
    math.min(48, math.max(NumPlanes, raw))
  }

  /** SemDeDup cluster count that balances the operator's two cost
    * terms: assignment is N·k distance evaluations, within-cluster
    * pair enumeration is ~N²/2k cosines — equal at k = √(N/2), the
    * single-level optimum (total ~N^1.5 instead of the N²/k_fixed
    * cliff a pinned k hits: measured 678 s at 200k vectors with k=8,
    * SCALE_r11 §12). ceil(√((N+1) div 2)) on the integer lattice: the
    * operand is an exact integer < 2^52 and IEEE sqrt is correctly
    * rounded, so ceil can only misfire if a true root lies within ½
    * ulp above an integer — impossible below 2^52 (the
    * doc_mix_weights isqrt argument) — and the rule is reproduced
    * verbatim in the `emb_semantic_dedup_auto` oracle from its own
    * COUNT(*).
    *
    * ORACLE ANCHOR, NOT THE DEPLOYMENT PATH (round 17): past N ≈
    * cap²/2 ≈ 500k vectors this unconstrained optimum drives the
    * average cluster √(2N) through [[DefaultMaxCluster]] and the guard
    * star-links the overflow — detection recall measured 0.386 at 600k
    * (SCALE_r16 §1). Deployment goes through [[semanticDedupAuto]],
    * which dispatches to [[autoKmeansKCapAware]] below the measured
    * crossover and [[semanticDedupHier]] above it; this rule remains
    * the `emb_semantic_dedup_auto` hash anchor (its round-≤15 oracle
    * hash must not move) and the per-cell sizing inside [[semanticDedupHier]]
    * (whose ~N^(2/3) cells keep its sub-blocks ≈ √2·N^(1/3) under the
    * cap through N ≈ (cap/√2)³ ≈ 4·10⁸ vectors).
    */
  def autoKmeansK(n: Long): Int =
    math.max(1, math.ceil(math.sqrt(((n + 1) / 2).toDouble)).toInt)

  /** Headroom divisor for [[autoKmeansKCapAware]]: the cap-aware sizing
    * targets an AVERAGE cluster of `DefaultMaxCluster / CapHeadroom`
    * (256 at the default cap), because k-means cluster sizes spread
    * around their mean — at avg ≈ cap half the clusters crossed it
    * (measured 600k vectors, SCALE_r15 §5) and at avg ≈ 2·cap nearly
    * all did (898/1000 at 2M). A 4× margin puts the cap at 4× the
    * average, out in the tail of the measured size distribution.
    */
  val CapHeadroom = 4

  /** Cap-aware SemDeDup cluster count (VERDICT_r15 #1): [[autoKmeansK]]'s
    * √(N/2) optimum balances assignment (N·k) against within-cluster pair
    * enumeration (N²/2k) — but it drives the average cluster, √(2N),
    * through [[DefaultMaxCluster]] at N ≈ cap²/2 ≈ 500k, and past that the
    * guard silently turns the deployment path into rep-link star mode,
    * whose detection recall measured 0.067 under a pinned k (SCALE_r15
    * §1). This sizing adds the recall CONSTRAINT to the optimization:
    *
    *   k = max( ceil(√((N+1) div 2)),  ceil(CapHeadroom·N / cap) )
    *
    * i.e. the unconstrained optimum while it keeps clusters under the cap
    * (N below ~32k at the defaults), and otherwise the smallest k whose
    * average cluster is cap/[[CapHeadroom]] — the minimum-cost k
    * satisfying the constraint, since assignment cost rises with k. The
    * price is explicit: past the crossover, assignment is N·k =
    * [[CapHeadroom]]·N²/cap — quadratic, not N^1.5 — so this form's
    * honest regime is bounded. Measured (SemDedupProbe + RecallProbe,
    * quiet box, one JVM each, SCALE_r16 §1–2): detection recall exactly
    * 1.0 at 600k with zero capped clusters (the √-rule: 0.386 there,
    * 0.362 at 2M), at 1.23× the √-rule's wall at 200k, 3.8× at 600k,
    * 10.5× at 2M — and from ~600k vectors [[semanticDedupHier]], whose
    * ~N^(2/3)-sized cells keep blocks under the cap WITHOUT a quadratic
    * assignment term, is the cheaper recall-preserving form (91.9 vs
    * 158.4 s at 600k; at 10M hier completes in 2,489 s where this rule's
    * k=39,063 is a computed ~8-hour wall). Use THIS sizing below ~400k;
    * hier above. Both branches are integer-exact (the
    * [[autoKmeansK]] sqrt argument; ceil-div as `(h·N + cap−1) div cap`)
    * and the `emb_semantic_dedup_auto2` oracle re-derives the same k from
    * its own COUNT(*), so the rule itself is under the oracle hash.
    */
  def autoKmeansKCapAware(n: Long, cap: Int = DefaultMaxCluster,
      headroom: Int = CapHeadroom): Int = {
    val t = headroom.toLong * n
    val capTerm = t / cap + (if (t % cap == 0L) 0L else 1L)
    math.max(autoKmeansK(n), capTerm).toInt
  }

  /** Coarse cluster count for [[semanticDedupHier]]: the smallest k with
    * k³ ≥ n (≈ n^(1/3)). Cells are then ~n^(2/3), so coarse assignment is
    * n·k = n^(4/3) and the per-cell auto-k pass is Σ m^1.5 = k·(n/k)^1.5 =
    * n^(4/3) — total ~n^(4/3), below the single-level n^1.5.
    *
    * INTEGER-EXACT like [[autoLshBits]]: fp cbrt can sit 1 ulp either
    * side of an exact cube (the log(128)/log(2) class of flip), so the
    * fp estimate is corrected by direct k³ ≥ n integer probes — the same
    * two-branch correction the oracle SQL applies to ITS ceil(pow(n,
    * 1/3)), making the rule reproducible across engines.
    */
  def autoCoarseK(n: Long): Int = {
    val k0 = math.ceil(math.cbrt(n.toDouble)).toLong max 1L
    val k =
      if ((k0 - 1) >= 1 && (k0 - 1) * (k0 - 1) * (k0 - 1) >= n) k0 - 1
      else if (k0 * k0 * k0 >= n) k0
      else k0 + 1
    math.max(1L, k).toInt
  }

  /** Resolve a bits knob: positive = pinned by the caller (declared
    * queries pin their config for oracle-hash stability); 0 = auto-size
    * from the corpus count via [[autoLshBits]]. The chosen configuration
    * is part of the run's output contract — it is logged with the corpus
    * count so a result can be reproduced exactly.
    */
  private def resolveBits(vectors: DataFrame, bits: Int, tables: Int,
                          op: String, targetOccupancy: Int): Int =
    if (bits > 0) bits
    else {
      val n = vectors.count()
      val b = autoLshBits(n, targetOccupancy)
      System.err.println(
        s"[similarity] $op auto-sized LSH: n=$n -> tables=$tables, bits=$b " +
          s"(target occupancy $targetOccupancy, n/2^bits=${n.toDouble / (1L << b)})")
      b
    }

  /** Quantization scale for integer-exact LSH: embeddings (float32) are
    * mapped to `floor(v * 2^20)` — float→double is exact and ×2^20 is a
    * mantissa shift, so the quantized integers are bit-identical on every
    * engine, making the sketch fully oracle-checkable (no fp sign flips).
    */
  val QuantScale: Long = 1L << 20

  /** Deterministic hyperplane weight for (plane p, dimension d): the
    * first 60 bits of md5("pw:p:d"), reduced mod 2^31 and centered to
    * ±2^30 — reproducible bit-for-bit on any engine (same arithmetic as
    * [[Dedup.strHash]]).
    *
    * History: this was an affine LCG of (p·1024 + d). The sf1 headroom
    * run exposed why that fails — an affine map makes plane p+1 equal
    * plane p plus a CONSTANT in every dimension (near-parallel planes,
    * diversified only by mod-2^31 wraparound), so sign-buckets collapse
    * onto few patterns and the candidate join carried ~21× the uniform
    * volume (16.9M pairs at 20k vectors where ~0.8M was expected).
    * md5-derived weights are i.i.d.-like per (plane, dim): measured
    * candidate volume dropped to the uniform estimate (SCALE_r4.md).
    */
  private def planeWeight(p: Column, d: Column): Column =
    Dedup.strHash(concat_ws("", lit("pw:"), p.cast("string"), lit(":"),
      d.cast("string"))) % lit(2147483648L) - lit(1073741824L)

  /** JVM-side value of [[planeWeight]] — identical md5 + 15-hex-digit
    * parse as the column form (and the DuckDB oracle mirror).
    */
  private[operators] def planeWeightValue(pg: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pw:$pg:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2147483648L - 1073741824L
  }

  /** (vec_id, q): integer-quantized embedding, `q_d = floor(v_d · 2^20)`. */
  def quantized(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      transform(col("embedding"),
        v => floor(v.cast("double") * QuantScale).cast("long")).as("q"))

  /** Exact-integer dot product of a quantized vector with deterministic
    * plane `pg` (global plane index). |q·w| ≤ 2^20·2^30·64 = 2^56 — no
    * overflow, no rounding: the sign is engine-independent.
    */
  private def intPlaneDot(q: Column, pg: Column): Column = aggregate(
    zip_with(q, sequence(lit(0), size(q) - 1), (v, d) => v * planeWeight(pg, d)),
    lit(0L), (acc, z) => acc + z)

  /** Sign-bucket id (0..2^NumPlanes) per vector: bit p = sign of the exact
    * integer dot product with deterministic plane p. One map-side pass
    * (single-table form of [[lshTablesFast]]).
    */
  def lshBuckets(vectors: DataFrame): DataFrame =
    lshTablesFast(vectors, tables = 1, bits = NumPlanes)
      .select(col("vec_id"), col("tbucket").as("bucket"))

  /** Declarative single-table buckets (reference form for tests). */
  def lshBucketsDeclarative(vectors: DataFrame): DataFrame = {
    quantized(vectors)
      .select(col("vec_id"),
        (0 until NumPlanes).map { p =>
          when(intPlaneDot(col("q"), lit(p)) > 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _).as("bucket"))
  }

  /** Multi-table LSH sketch: one row per (vec_id, table t) with the t-th
    * `bits`-bit sign bucket (global plane index = t·bits + p). The banding
    * trick from minhash-LSH applied to hyperplane sketches: candidates
    * must collide in at least one table, which keeps pair generation
    * near-linear (Σ_buckets n_b² instead of n²) while multi-table OR-ing
    * keeps recall high in the true near-dup range.
    *
    * Declarative reference form — see [[lshTablesFast]] for the production
    * kernel (same integers, ~10× less per-row overhead).
    */
  def lshTables(vectors: DataFrame, tables: Int, bits: Int): DataFrame = {
    quantized(vectors)
      .select(col("vec_id"), col("q"),
        explode(sequence(lit(0), lit(tables - 1))).as("t"))
      .select(col("vec_id"), col("t"),
        (0 until bits).map { p =>
          when(intPlaneDot(col("q"), col("t") * bits + p) > 0, lit(1L << p))
            .otherwise(lit(0L))
        }.reduce(_ + _).as("tbucket"))
  }

  /** Production sketch kernel: bit-identical to [[lshTables]] (same
    * floor(v·2^20) quantization, same md5-derived [[planeWeight]] /
    * [[planeWeightValue]] weights, same sign rule) but as one typed
    * per-partition loop over primitive arrays.
    *
    * Why imperative here: the declarative form evaluates tables·bits
    * `zip_with`+`aggregate` folds per vector, and Catalyst interprets
    * higher-order-function lambdas per element (they don't enter
    * whole-stage codegen), so the sketch pays ~boxing×8192 per vector.
    * This is the tight-numeric-kernel case where `mapPartitions` over
    * unboxed arrays is the right tool (same class as the multimodal
    * decode batch boundary): pure map-side work, no shuffle, verified
    * equal to the declarative form in SimilaritySpec — and the oracle SQL
    * mirrors the arithmetic, so the whole pipeline stays hash-checked.
    */
  def lshTablesFast(vectors: DataFrame, tables: Int, bits: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        // weight table computed once per partition (tables·bits·dims md5
        // calls — thousands, amortized over every row), identical values
        // to the declarative planeWeight column and the oracle SQL
        var weights: Array[Array[Long]] = null
        var wDims = 0
        def ensureWeights(dims: Int): Unit =
          if (weights == null || wDims < dims) {
            weights = Array.tabulate(tables * bits, dims)(planeWeightValue)
            wDims = dims
          }
        it.flatMap { case (id, emb) =>
          val dims = emb.length
          ensureWeights(dims)
          val q = new Array[Long](dims)
          var d = 0
          while (d < dims) {
            q(d) = math.floor(emb(d).toDouble * QuantScale).toLong
            d += 1
          }
          (0 until tables).iterator.map { t =>
            var bucket = 0L
            var p = 0
            while (p < bits) {
              val w = weights(t * bits + p)
              var s = 0L
              var dd = 0
              while (dd < dims) {
                s += q(dd) * w(dd)
                dd += 1
              }
              if (s > 0) bucket |= (1L << p)
              p += 1
            }
            (id, t, bucket)
          }
        }
      }
      .toDF("vec_id", "t", "tbucket")
  }

  /** Approximate top-k: brute-force within each LSH bucket. `bits`
    * positive = pinned bucket width (the declared query pins NumPlanes for
    * hash stability); 0 = auto-sized from the corpus count — the knn
    * occupancy target is 16·k (each query needs ≥ k same-bucket neighbors
    * plus recall headroom), held flat as the corpus grows so per-query
    * scan work stays constant.
    */
  def lshKnn(vectors: DataFrame, k: Int, dim: Int = 0, bits: Int = 0,
             unitOpt: Option[DataFrame] = None): DataFrame = {
    requirePersisted(unitOpt)
    val nBits = resolveBits(vectors, bits, tables = 1, "lshKnn",
      targetOccupancy = 16 * k)
    val buckets = lshTablesFast(vectors, tables = 1, bits = nBits)
      .select(col("vec_id"), col("tbucket").as("bucket"))
    // caller-shared unit table (the bruteForceKnn unitOpt contract)
    val unit = unitOpt.getOrElse(unitVectors(vectors))
    val withB = unit.join(buckets, "vec_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = withB.select(col("vec_id").as("query_id"), col("uv").as("qv"), col("bucket"))
    val c = withB.select(col("vec_id").as("neighbor_id"), col("uv").as("cv"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val pairs = a.join(c, "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
    val scored =
      if (dim > 0) pairs.withColumn("cos", dotUnrolled(col("qv"), col("cv"), dim))
      else cosinePairs(pairs, "query_id", "qv", "neighbor_id", "cv")
    val res = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
    Caching.materializeAndRelease(res,
      (withB +: (if (unitOpt.isEmpty) Seq(unit) else Nil)): _*)
  }

  /** IVF (inverted-file) coarse quantizer — the other standard ANN index
    * family next to LSH. Centroids are the first `nLists` vectors by id
    * (deterministic "sampling" — no iterative k-means, so the whole index
    * is reproducible in SQL); assignment is argmax of the exact INTEGER
    * inner product between quantized vectors (|q·c| ≤ 2^41·64 < 2^63),
    * ties to the lowest centroid id. Returns (vec_id, list_id).
    *
    * Scale shape: the centroid table is tiny and driver-collected (an
    * index parameter, like a broadcast dimension); assignment is pure
    * map-side work over the corpus — one pass, no shuffle.
    */
  def ivfLists(vectors: DataFrame, nLists: Int): DataFrame =
    assignToCentroids(vectors, collectCentroids(vectors, nLists))

  /** The deterministic IVF centroid table: quantized first `nLists`
    * vectors by id — a driver-side index parameter ([[IndexStore]]
    * persists it so later appends/probes reuse the same geometry).
    */
  private[operators] def collectCentroids(
      vectors: DataFrame, nLists: Int): Array[(Long, Array[Long])] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    quantized(vectors.filter(col("vec_id") < nLists))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
  }

  /** Map-side IVF assignment against a FIXED centroid table (argmax of
    * the exact integer inner product, ties to lowest centroid id).
    */
  private[operators] def assignToCentroids(
      vectors: DataFrame, cents: Array[(Long, Array[Long])]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, emb) =>
          val q = new Array[Long](emb.length)
          var d = 0
          while (d < emb.length) {
            q(d) = math.floor(emb(d).toDouble * QuantScale).toLong; d += 1
          }
          var bestId = -1L
          var bestDp = Long.MinValue
          cents.foreach { case (cid, cq) =>
            var s = 0L
            var dd = 0
            val n = math.min(q.length, cq.length)
            while (dd < n) { s += q(dd) * cq(dd); dd += 1 }
            if (s > bestDp || (s == bestDp && cid < bestId)) { bestDp = s; bestId = cid }
          }
          (id, bestId)
        }
      }
      .toDF("vec_id", "list_id")
  }

  /** Probe-side IVF assignment: each vector's `nprobe` BEST lists by the
    * same integer inner-product ordering (ties to lowest centroid id).
    */
  private[operators] def probeAssign(vectors: DataFrame,
      cents: Array[(Long, Array[Long])], nprobe: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, emb) =>
          val q = new Array[Long](emb.length)
          var d = 0
          while (d < emb.length) {
            q(d) = math.floor(emb(d).toDouble * QuantScale).toLong; d += 1
          }
          cents.map { case (cid, cq) =>
            var s = 0L
            var dd = 0
            val n = math.min(q.length, cq.length)
            while (dd < n) { s += q(dd) * cq(dd); dd += 1 }
            (id, cid, s)
          }.sortBy { case (_, cid, s) => (-s, cid) }.take(nprobe)
            .map { case (id, cid, _) => (id, cid) }
        }
      }
      .toDF("query_id", "list_id")
  }

  /** IVF ANN top-k: each query probes its `nprobe` best lists (same
    * integer inner-product ordering, ties to lowest centroid id), scans
    * only those lists, and ranks candidates by exact cosine. The list
    * join is an equi-join on list_id — per-query work is corpus/nLists ×
    * nprobe, the standard IVF trade-off.
    */
  def ivfKnn(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      nLists: Int,
      nprobe: Int,
      unitOpt: Option[DataFrame] = None): DataFrame = {
    requirePersisted(unitOpt)
    val cents = collectCentroids(vectors, nLists)
    val probes = probeAssign(
      vectors.join(queries.select("vec_id"), "vec_id"), cents, nprobe)
    val lists = assignToCentroids(vectors, cents)
      .select(col("vec_id").as("neighbor_id"), col("list_id"))
    // caller-shared unit table (the bruteForceKnn unitOpt contract)
    val unit = unitOpt.getOrElse(unitVectors(vectors))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val pairs = probes.join(lists, "list_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(unit.select(col("vec_id").as("query_id"), col("uv").as("qv")), "query_id")
      .join(unit.select(col("vec_id").as("neighbor_id"), col("uv").as("cv")), "neighbor_id")
    val res = cosinePairs(pairs, "query_id", "qv", "neighbor_id", "cv")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
    Caching.materializeAndRelease(res,
      (if (unitOpt.isEmpty) Seq(unit) else Nil): _*)
  }

  /** Deterministic Lloyd's k-means over integer-quantized embeddings —
    * the iterative-refinement member of the ANN/index family (centroid
    * init for IVF, cluster statistics, prototype classifiers).
    *
    * Every step is exact: assignment minimizes the INTEGER squared L2
    * distance Σ(q_d − c_d)² (|q−c| ≤ 2^21 ⇒ per-vector sums < 2^48, no
    * overflow), ties to the lowest centroid id; the centroid update is
    * floor(Σ q_d / n) computed as an IEEE double divide + floor (sums
    * < 2^53 are exact in double, so the result is engine-independent).
    * Init = the first k vectors by id (reproducible "sampling", same
    * convention as [[ivfLists]]). `iters` = number of centroid updates;
    * output = final assignment (vec_id, cluster).
    *
    * Scale shape: Lloyd's standard distributed form — centroids are a
    * k×dims driver-side index parameter (like the IVF centroid table);
    * assignment is one map-side pass per iteration (typed kernel, no
    * shuffle); the update is one hash aggregation on (cluster, dim).
    * Empty clusters simply drop out of the next round's centroid set
    * (mirrored exactly in the oracle SQL).
    */
  def kmeansAssign(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    // ONE corpus-sized cache: the quantized projection serves the init
    // collect, every assignment pass, and every centroid update (guide
    // §5: cache what is re-read, once). ownPersist keeps a cache the
    // caller already installed untouched.
    val (quant, ownsQuant) = Caching.ownPersist(quantized(vectors))
    val out = kmeansAssignQuant(quant, k, iters)
    if (ownsQuant) quant.unpersist(blocking = false)
    out
  }

  /** [[kmeansAssign]] over a caller-persisted quantized projection
    * (vec_id, q) — the shared-cache form: a caller that already holds the
    * [[quantized]] corpus (hier SemDeDup joins it to the coarse cells
    * right after this) passes it in and ONE cache serves both. Same
    * integer arithmetic, same init/update/tie-break conventions — output
    * bit-identical to [[kmeansAssign]].
    */
  private[operators] def kmeansAssignQuant(quant: DataFrame, k: Int,
      iters: Int): DataFrame = {
    val spark = quant.sparkSession
    import spark.implicits._
    val typed = quant.select(col("vec_id").cast("long"), col("q"))
      .as[(Long, Array[Long])]

    def assignTo(cents: Array[(Long, Array[Long])]): DataFrame =
      typed.mapPartitions { it =>
        it.map { case (id, q) =>
          var bestId = -1L
          var bestDist = Long.MaxValue
          cents.foreach { case (cid, cq) =>
            var s = 0L
            var dd = 0
            val n = math.min(q.length, cq.length)
            while (dd < n) { val df = q(dd) - cq(dd); s += df * df; dd += 1 }
            if (s < bestDist || (s == bestDist && cid < bestId)) {
              bestDist = s; bestId = cid
            }
          }
          (id, bestId)
        }
      }.toDF("vec_id", "cluster")

    var cents: Array[(Long, Array[Long])] = quant
      .filter(col("vec_id") < k)
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    var round = 0
    while (round < iters) {
      val assign = assignTo(cents)
      // floor-average update per (cluster, dim): one posexplode + one agg;
      // the k×dims result is the next round's index parameter.
      cents = quant.join(assign, "vec_id")
        .select(col("cluster"),
          posexplode(col("q")))
        .toDF("cluster", "dim", "qv")
        .groupBy("cluster", "dim")
        .agg(floor(sum(col("qv")).cast("double") / count(lit(1))).cast("long")
          .as("cd"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          val arr = new Array[Long](rows.map(_.getInt(1)).max + 1)
          rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
          (cid, arr)
        }
        .toArray.sortBy(_._1)
      round += 1
    }
    // materialize the final assignment while the quantized input is still
    // cached — same leave-no-cache-behind invariant as
    // Analytics.materializeAndRelease (the result is small: one row per
    // vector id + cluster); the caller releases the quant cache.
    assignTo(cents).localCheckpoint(eager = true)
  }

  /** Assign every quantized vector its code in EVERY subspace in ONE
    * corpus scan: all m codebooks ride one broadcast and each vector row
    * emits its full m-code tuple ([[kmeansAssign]]'s kernel per
    * subspace — same integer squared-L2, same lowest-id tiebreak). The
    * round-7 shape ran this as m independent per-subspace passes whose
    * results were re-assembled with an m-way equi-join chain on
    * `vec_id` — m shuffles of the corpus where this is zero
    * (VERDICT_r7 "what's wrong" #3; at 100 TB that is m passes vs one).
    * Map-side only — no shuffle, the `ivfLists` pattern.
    */
  /** Lloyd on the driver-side codebooks: init = the first k ids (ONE
    * collect, sliced into the m subspaces), one update. Assignment and
    * update each touch the corpus once for ALL subspaces — the r7 shape
    * paid a scan per subspace per phase plus an m-way join to reassemble
    * the code tuple. Exposed within the package so [[IndexStore]] can
    * train once and persist the codebooks.
    */
  private[operators] def pqTrainBooks(quant: DataFrame, m: Int, k: Int,
      sub: Int): Array[Array[(Long, Array[Long])]] = {
    val spark = quant.sparkSession
    import spark.implicits._
    val firstK = quant.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long"), col("q"))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    val books0 = Array.tabulate(m) { s =>
      firstK.map { case (id, q) =>
        (id, q.slice(s * sub, math.min(q.length, (s + 1) * sub)))
      }
    }
    val a0 = assignAllSub(quant, books0, sub)
    centUpdateAllSub(quant, a0, m, sub)
  }

  private[operators] def assignAllSub(quant: DataFrame,
      books: Array[Array[(Long, Array[Long])]], sub: Int): DataFrame = {
    val spark = quant.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(books)
    quant.select(col("vec_id").cast("long"), col("q"))
      .as[(Long, Array[Long])].mapPartitions { it =>
        val bs = bc.value
        it.map { case (id, q) =>
          val codes = new Array[Long](bs.length)
          var s = 0
          while (s < bs.length) {
            val off = s * sub
            var bestId = -1L
            var bestDist = Long.MaxValue
            bs(s).foreach { case (cid, cq) =>
              var acc = 0L
              var d = 0
              val n = math.min(math.min(sub, math.max(0, q.length - off)),
                cq.length)
              while (d < n) { val df = q(off + d) - cq(d); acc += df * df; d += 1 }
              if (acc < bestDist || (acc == bestDist && cid < bestId)) {
                bestDist = acc; bestId = cid
              }
            }
            codes(s) = bestId
            s += 1
          }
          (id, codes)
        }
      }.toDF("vec_id", "codes")
  }

  /** Floor-average centroid update for ALL subspaces in one aggregation:
    * every dim keys by (subspace, that subspace's assigned code,
    * dim-within-subspace) — one shuffle total instead of one per
    * subspace. Returns the per-subspace k×len integer centroid tables
    * (empty clusters drop out, mirrored in the oracle). Sums < 2^53, so
    * the double divide + floor is exact and engine-independent.
    */
  private def centUpdateAllSub(quant: DataFrame, assign: DataFrame,
      m: Int, sub: Int): Array[Array[(Long, Array[Long])]] = {
    val rows = quant.join(assign, "vec_id")
      .select(col("codes"), posexplode(col("q"))).toDF("codes", "dim0", "qv")
      // dim0 < 2^31 and sub ≥ 1, so the fp division is exact after floor
      .withColumn("s", floor(col("dim0") / sub).cast("int"))
      .withColumn("code", element_at(col("codes"), col("s") + 1))
      .withColumn("dim", (col("dim0") - col("s") * sub).cast("int"))
      .groupBy("s", "code", "dim")
      .agg(floor(sum(col("qv")).cast("double") / count(lit(1))).cast("long")
        .as("cd"))
      .collect()
    Array.tabulate(m) { s =>
      rows.filter(_.getInt(0) == s)
        .groupBy(_.getLong(1))
        .map { case (cid, rs) =>
          val arr = new Array[Long](rs.map(_.getInt(2)).max + 1)
          rs.foreach(r => arr(r.getInt(2)) = r.getLong(3))
          (cid, arr)
        }
        .toArray.sortBy(_._1)
    }
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search" — public method; FAISS's IVFPQ is the
    * canonical implementation): split each vector into `m` subspaces,
    * k-means each subspace independently (init = first k ids, one Lloyd
    * update — the [[kmeansAssign]] convention), and represent every
    * vector by its m centroid codes. Distance between two vectors is
    * then approximated SYMMETRICALLY (SDC) as Σ_s dtab_s[code_a][code_b]
    * where dtab_s is the k×k table of integer squared-L2 distances
    * between subspace-s centroids — a driver-side index parameter of
    * m·k² cells, like the IVF centroid table.
    *
    * Scale shape — the point of PQ at 100 TB: the corpus is stored as
    * m small ints per vector (codes), NOT floats; candidate scoring
    * never touches raw vectors. The probe→corpus scoring here is an
    * EQUI-join: corpus codes explode to (vec_id, s, code) and join the
    * broadcast probe-side partial-distance table (probe, s, code) →
    * partial on (s, code), then one hash aggregation sums the m partials
    * per (probe, vec_id). No cartesian, no BNLJ — PlanHygieneSpec-clean.
    * Every quantity is integer-exact (per-subspace sums ≤ 16·(2^22)² <
    * 2^48, total < 2^50), so the ranking is engine-independent and the
    * oracle reproduces it bit-for-bit.
    *
    * Returns (probe_id, vec_id, pq_dist, rank) — `topK` nearest corpus
    * vectors per probe (probes = the first `probes` vec_ids, excluded
    * from their own result lists), ranked by (pq_dist, vec_id).
    */
  def pqTopK(vectors: DataFrame, m: Int, k: Int,
             probes: Int, topK: Int): DataFrame = {
    val spark = vectors.sparkSession
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val (quant, ownsQuant) = Caching.ownPersist(quantized(vectors))
    val dims = quant.select(size(col("q"))).head.getInt(0)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m

    val books1 = pqTrainBooks(quant, m, k, sub)

    // the PQ-compressed corpus: one scan computes every vector's m codes
    val wide = assignAllSub(quant, books1, sub)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = wide.select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "s", "code")

    // per-subspace k×k centroid-centroid distance tables (driver-side,
    // m·k² cells)
    val dtab = for {
      s <- 0 until m
      (ci, qi) <- books1(s).toSeq
      (cj, qj) <- books1(s).toSeq
    } yield {
      var d = 0L
      var t = 0
      while (t < math.min(qi.length, qj.length)) {
        val df = qi(t) - qj(t); d += df * df; t += 1
      }
      (s, ci, cj, d)
    }

    // probe-side partial-distance table: for each probe p and subspace s,
    // dtab_s[pcode_s][·] keyed by the corpus code — probes×m×k rows,
    // broadcast-sized by construction
    val dtabDf = dtab.toDF("s", "pcode", "code", "partial")
    val probeCodes = wide.filter(col("vec_id") < probes)
      .select(col("vec_id").as("probe_id"), posexplode(col("codes")))
      .toDF("probe_id", "s", "pcode")
    val probeTab = broadcast(
      probeCodes.join(dtabDf, Seq("s", "pcode"))
        .select(col("probe_id"), col("s"), col("code"), col("partial")))

    val dist = corpus.join(probeTab, Seq("s", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(sum(col("partial")).as("pq_dist"))
    val ranked = dist
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("pq_dist"), col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("vec_id"), col("pq_dist"),
        col("rank").cast("long").as("rank"))
    val out = Caching.materializeAndRelease(ranked, wide)
    if (ownsQuant) quant.unpersist(blocking = false)
    out
  }

  /** Hot-cluster cap for [[semanticDedup]]: a cluster larger than this
    * rep-links (every member scored against the cluster-min vec_id only)
    * instead of enumerating all within-cluster pairs. A PINNED k makes
    * cluster size n/k — the N²/2k pair term is quadratic at fixed k
    * (measured: 678 s at 200k vectors with k=8 vs 20.5 s auto,
    * SCALE_r11 §12); capped, the worst case is k · cap²/2 all-pairs rows
    * plus n star links — linear in n. 1024 matches
    * [[Dedup.DefaultMaxBucket]]: the auto-sized path (k = √(N/2), cluster
    * ≈ √(2N)) stays under it through ~500k vectors, so the cap binds only
    * where the pinned config is already the wrong one at that scale.
    * Mirrored in the oracle SQL, so the hash moves WITH the cap;
    * `maxCluster = 0` disables (exact within-cluster pairs).
    *
    * RECALL CAVEAT (same as [[DefaultMaxLshBucket]]): a capped cluster
    * scores member-vs-rep only, so member-member near-dups that are not
    * near the rep go undetected inside that cluster. Note this binds for
    * any corpus past ~k·1024 vectors under a PINNED k (k=8 ⇒ ~8k), which
    * is exactly when the pinned config is undersized — prefer the auto
    * sizing there (NOT the hierarchical form: [[semanticDedupHier]]'s
    * scaladoc carries its measured 2M-vector negative). Rep-linked runs
    * log via [[groupStats]].
    *
    * MEASURED (graft.RecallProbe, sf1 = 20k vectors): under the pinned
    * k=8 (2,500 vectors/cluster — every cluster rep-links) detection
    * recall vs the uncapped ground truth is 0.067 overall and — the
    * sharper negative — 0.069 even restricted to the planted
    * near-identical class (cos>=0.95 partners): k-means's cluster-min
    * rep is generally NOT near a given planted pair, so member-vs-rep
    * misses it. A pinned-k run in star mode is an oracle ANCHOR (bounded,
    * hash-checked, crash-free), not a usable dedup at that scale. Under
    * the √-rule auto sizing (k=100 there) the cap never binds at 20k and
    * recall — overall and planted — is exactly 1.0; but at 600k vectors
    * (SCALE_r16 §1) the √-rule's clusters cross the cap (337/548 over,
    * avg √(2N) ≈ 1095) and its detection recall falls to 0.386 overall /
    * 0.373 planted — the same star collapse, reached by the DEPLOYMENT
    * sizing. That is why [[autoKmeansKCapAware]] exists: its cap/4
    * average keeps every cluster under the cap at 600k (0 rep-linked)
    * and both recalls measured exactly 1.0 at the same scale, at a
    * ~2–3.5% finer-blocking loss vs the √-rule's own uncapped ground
    * truth (SCALE_r16 §1 prices the wall cost). Deployment guidance:
    * [[autoKmeansKCapAware]] for SemDeDup semantics wherever its
    * quadratic assignment term is affordable; past that wall the
    * [[nearDupPairsLsh]] auto-bits family is the detection-preserving
    * dedup (recall 1.0 planted / 0.99 pairs at 600k AND 2M, measured),
    * and [[semanticDedupHier]] the recall-preserving k-means form —
    * see its scaladoc for the measured race. SCALE_r15.md §1 and
    * SCALE_r16.md §1 have the tables.
    */
  val DefaultMaxCluster = 1024

  /** Per-pass transient pair-row budget for the SemDeDup block scoring
    * ([[dedupBlocks]]). Calibrated from the two measured single-box
    * endpoints: the 10M hier run COMPLETED its ~1.5B block pairs in one
    * pass near this box's disk ceiling (SCALE_r16 §2) and the 20M run's
    * ~3.8B pairs ENOSPC'd it from 37 GB free (SCALE_r17 §5) — so 1e9
    * rows/pass (~2/3 of the survived spill, ~10–25 GB at dim 32–64 with
    * lz4 shuffle compression) keeps each pass inside the measured-safe
    * envelope with headroom for the persisted projections that share the
    * disk. Every declared query's block-pair volume is far below this
    * (single-pass, original plan); a cluster deployment can raise it —
    * per-executor spill is what the budget really bounds, and the
    * estimate/budget quotient just picks the pass count.
    *
    * The bound is BEST-EFFORT, not hard: a pass's shuffle files are
    * reclaimed by the asynchronous ContextCleaner after the System.gc()
    * nudge between passes, so a slow cleaner can briefly overlap one
    * pass's files with the next pass's writes. The measured profile at
    * 20M (5 passes, crest flat ±2 GiB, SCALE_r18 §5) shows the nudge
    * keeps the overlap near zero in practice; size the budget with
    * one-pass slack if the disk has none.
    */
  val DefaultPairRowBudget = 1000000000L

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public method): k-means clustering IS the
    * blocking. Near-duplicate pairs are scored only WITHIN a cluster, so
    * candidate work is Σ|cluster|² ≈ n²/k instead of n² — k trades recall
    * at cluster boundaries for cost. At 100 TB the assignment is a
    * map-side pass against the k×dims centroid index ([[kmeansAssign]])
    * and the within-cluster self-join is an equi-join on the cluster id
    * (shuffle-partitioned — no all-pairs node, PlanHygieneSpec-clean).
    *
    * Dedup rule (deterministic): a vector is a duplicate iff ANY lower-id
    * vector in its cluster has cosine ≥ `threshold`, with vec_id order as
    * the tiebreak. NOTE the chain behavior this implies: for A<B<C with
    * A~B and B~C but A≁C, C is still flagged even though its only
    * near-dup (B) was itself dropped — a transitive chain keeps only its
    * lowest-id member, which prunes MORE aggressively than a strict
    * keep-one-representative-per-survivor rule (dup only against KEPT
    * members) would. The aggressive form is the one implemented AND the
    * one the oracle implements, deliberately: it is a single equi-join +
    * filter, while survivor-relative marking is inherently sequential
    * within a cluster. Returns (vec_id, is_dup: 0/1) for EVERY input
    * vector (0/1 over boolean keeps the cross-engine compare
    * representation-free). Threshold-margin caveat: see
    * [[decontaminateExact]] — thresholds must sit far from attainable
    * fixture cosines.
    *
    * Front end vs [[semanticDedupHier]]: this form runs driver-side Lloyd
    * ([[kmeansAssign]]) with a global `k` and `iters`, seeded by the k
    * lowest vec_ids of the WHOLE corpus; hier seeds each coarse cell from
    * its own lowest ids through a window. The blockings differ, so the
    * two forms' flags are not byte-identical (each has its own oracle
    * SQL). Everything after the assignment — capped block scoring, pass
    * planning, staging, the final flag join — is the shared
    * [[dedupBlocks]] back end with `cluster` as the block key.
    */
  def semanticDedup(
      vectors: DataFrame, k: Int, iters: Int, threshold: Double,
      maxCluster: Int = DefaultMaxCluster): DataFrame = {
    val assign = kmeansAssign(vectors, k, iters)
    val unit = unitVectors(vectors)
    dedupBlocks(vectors, Seq("cluster"), threshold, maxCluster,
      DefaultPairRowBudget, forcePasses = 0, "semanticDedup", Nil, splits = 1) {
      _ => (assign, unit, Seq(assign, unit))
    }
  }

  /** Hierarchical SemDeDup — the past-10⁹-vectors form of
    * [[semanticDedup]]: a coarse k₁ = [[autoCoarseK]] ≈ n^(1/3) k-means
    * partition, then an auto-k₂ = [[autoKmeansK]](cell size) k-means
    * WITHIN each cell (seeds = the k₂ lowest vec_ids in the cell, one
    * integer-exact Lloyd update, final assignment — the same pipeline
    * shape as [[kmeansAssign]], run distributively per cell with NO
    * driver-side centroid collect, so the Σ k₂ centroid table scales with
    * the data, not the driver). Near-dup scoring happens only within a
    * (cell, subcluster) block under the [[DefaultMaxCluster]] rep-link
    * cap, in the [[dedupBlocks]] back end shared with [[semanticDedup]].
    * Total work ~n^(4/3) versus single-level auto-k's n^1.5
    * (SCALE_r11 §12's own bound).
    *
    * MEASURED GUIDANCE (SemDedupProbe; SCALE_r16 §2): against the √-rule
    * auto this form loses on wall everywhere measured (272 vs 111 s at
    * 2M, 2,489 vs 269 s at 10M) — but past ~500k vectors that auto is in
    * the capped star mode whose detection recall measured 0.36–0.39, not
    * a usable dedup. Against the RECALL-PRESERVING single-level sizing
    * ([[autoKmeansKCapAware]]), hier wins from 600k vectors up: 91.9 vs
    * 158.4 s at 600k (1.7×), 272.1 vs 1,163.5 s at 2M (4.3×), and it
    * COMPLETES 10M in 2,488.8 s where auto2's quadratic assignment term
    * is a computed ~8-hour wall. Its per-cell blocks (≈ √2·n^(1/3), ~305
    * vectors at 10M) stay under the cap through n ≈ (cap/√2)³ ≈ 4·10⁸,
    * so it never star-links in any measured regime (RecallProbe
    * `semdedup_hier`, SCALE_r17 §1): detection recall exactly 1.0 at
    * 600k AND 2M (capped ≡ uncapped flag sets), and planted-class recall
    * 1.0 at 600k. The trade is finer-block semantics — 75–84% of auto2's
    * flag set; 82.6% absolute coverage of the planted cos≥0.95 class vs
    * auto2's 93.4% (SCALE_r17 §1). Measured scale exponent 600k→10M:
    * ~n^1.33–1.40, the designed n^(4/3). Deployment ladder:
    * [[autoKmeansKCapAware]] below ~400k, THIS form from ~600k up
    * (beyond ~10⁸, bring a cluster, which the distributed per-cell
    * design is for).
    *
    * Single-box DISK bounds. `semanticDedupHier(vectors, threshold,
    * shards = S)` is the one entry point for both bounded phases:
    *   - PAIR phase: once the exact block-pair count exceeds
    *     `pairRowBudget` ([[DefaultPairRowBudget]]) — or `forcePasses`
    *     pins a count — blocks are scored in hash-partitioned passes
    *     staged as parquet (see [[dedupBlocks]]); the measured 20M
    *     profiles (SCALE_r18 §2, SCALE_r19 §3) hold the crest flat within
    *     ±2 GiB across passes.
    *   - ASSIGNMENT phase: the concurrent working set (quantized
    *     projection, cell join, unit vectors, argmin shuffles, block-size
    *     agg) is ~2.81 GiB per million 64-dim vectors (SCALE_r19 §10),
    *     which capped one box at ~24M vectors. After the coarse argmin
    *     every downstream step — per-cell k₂, seeds, both Lloyd argmins,
    *     block dedup — is keyed by the coarse cell and touches no row
    *     outside it, so hash-partitioning CELLS into S shards and running
    *     the fine pipeline once per shard is EXACTLY the unsharded
    *     computation: a vec_id lives in one cell and a cell in one shard,
    *     so the per-shard flag sets are disjoint and their union is the
    *     unsharded set (HierShardedSpec; the declared
    *     `emb_semantic_dedup_hier_sharded` query is checked against the
    *     UNSHARDED hier oracle SQL). With S > 1 the corpus-wide quantized
    *     cache is released once the coarse assignment is done and each
    *     shard's flags stage as parquet before the next shard starts, so
    *     transient disk is ~(working set)/S; on a cluster the same knob
    *     bounds per-executor footprint. S = 1 is the ordinary run.
    * Declared-query regimes stay single-pass, single-shard on one plan.
    *
    * Every step is integer-exact on the [[quantized]] lattice and the
    * whole chain — coarse CTEs, per-cell seeds, floor-average update,
    * argmin tie-to-lowest-id, capped block dedup — is reproduced
    * verbatim in the `emb_semantic_dedup_hier` oracle SQL, with k₁ and
    * each cell's k₂ derived from COUNT(*) inside the query, so the
    * sizing rules themselves are under the oracle hash. `knownCount`
    * lets a caller that already counted (the [[semanticDedupAuto]]
    * dispatcher) skip a second full corpus scan; `k2Divisor` is the
    * wider-blocks coverage knob (see [[hierSubclusters]]).
    */
  def semanticDedupHier(vectors: DataFrame, threshold: Double,
      shards: Int = 1,
      maxCluster: Int = DefaultMaxCluster,
      knownCount: Long = -1L,
      pairRowBudget: Long = DefaultPairRowBudget,
      k2Divisor: Int = 1,
      forcePasses: Int = 0): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val n = if (knownCount >= 0L) knownCount else vectors.count()
    // ONE quantized-corpus cache: the coarse k-means reads it and, with
    // one shard, so does the cell join
    val (quant, ownsQuant) = Caching.ownPersist(quantized(vectors))
    val coarse = kmeansAssignQuant(quant, autoCoarseK(n), 1) // checkpointed
    // sharded, each shard quantizes only its own rows: the corpus-wide
    // cache goes before the first shard starts
    if (shards > 1 && ownsQuant) quant.unpersist(blocking = false)
    val out = dedupBlocks(vectors, Seq("cluster", "sub"), threshold,
        maxCluster, pairRowBudget, forcePasses, "semanticDedupHier",
        Seq(coarse), shards) { s =>
      // `pmod(xxhash64(cell))` partitions CELLS, not rows, so a cell's
      // whole membership lands in one shard and its fine pipeline sees it
      // intact
      val (cells, q, vecs) =
        if (shards == 1) (coarse, quant, vectors)
        else {
          val cellsS = coarse
            .filter(pmod(xxhash64(col("cluster")), lit(shards.toLong)) === s)
            .persist(StorageLevel.MEMORY_AND_DISK)
          val vecS = vectors.join(cellsS.select("vec_id"), Seq("vec_id"), "left_semi")
          (cellsS, quantized(vecS).persist(StorageLevel.MEMORY_AND_DISK), vecS)
        }
      val withCell = Caching.persistFilled(q.join(cells, "vec_id"))
      val unit = unitVectors(vecs)
      val (sub, c1) = hierSubclusters(withCell, k2Divisor)
      (sub, unit, Seq(withCell, unit, c1) ++ (if (shards > 1) Seq(cells, q) else Nil))
    }
    if (shards == 1 && ownsQuant) quant.unpersist(blocking = false)
    out
  }

  /** The fine (within-cell) k-means of hierarchical SemDeDup: per-cell k₂
    * sizing, seed selection and both packed-decimal Lloyd argmins. Every
    * step is keyed by `cluster` (or a column derived within one cluster),
    * the invariant that makes shard-union ≡ unsharded exact.
    *
    * `k2Divisor > 1` widens the blocks: each cell's k₂ is ceil-divided so
    * blocks grow ~k2Divisor× (block ≈ √2·n^(1/3)·k2Divisor), trading wall
    * for absolute planted-class coverage (hier's finer blocks cover 82.6%
    * of the planted cos≥0.95 class vs single-level auto2's 93.4%,
    * SCALE_r17 §1). Keep √2·n^(1/3)·k2Divisor under `maxCluster` or the
    * hot-block guard star-links the oversized blocks and recall DROPS
    * instead. The ceil stays integer-exact ((x+d-1) DIV d), so the divided
    * chain remains oracle-reproducible.
    *
    * @param withCell (vec_id, q, cluster) — persisted by the caller
    * @return ((vec_id, cluster, sub), the persisted centroid table the
    *         caller releases)
    */
  private def hierSubclusters(withCell: DataFrame, k2Divisor: Int)
      : (DataFrame, DataFrame) = {
    def sqDist(a: Column, b: Column): Column = aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, z) => acc + z)
    // per-cell k₂ from the cell's own size (integer-exact: DIV then an
    // exact sqrt+ceil below 2^52 — the autoKmeansK argument)
    val k2BaseEx = "CAST(ceil(sqrt(CAST((m + 1) DIV 2 AS DOUBLE))) AS BIGINT)"
    val k2Ex =
      if (k2Divisor <= 1) k2BaseEx
      else s"GREATEST(CAST(1 AS BIGINT), ($k2BaseEx + ${k2Divisor - 1}) DIV $k2Divisor)"
    // seeds: the k₂ lowest vec_ids in each cell (reproducible "sampling",
    // the kmeansAssign init convention applied per cell). The cell size m
    // is a COUNT WINDOW over the same partitioning as the row_number, so
    // both windows share ONE exchange + sort (guide §2.4). The packed
    // argmin below requires every seed id in [0, 2^34); out-of-range ids
    // would otherwise pack into the dist bits (silently wrong argmin) or
    // overflow decimal(11,0) to null (silently dropped by min) — so the
    // guard fails LOUDLY here, on the Σk₂-row seed table, the one place
    // every packed cid flows through.
    val wCell = Window.partitionBy(col("cluster"))
    val seeds = withCell
      .withColumn("rn", row_number().over(wCell.orderBy(col("vec_id"))))
      .withColumn("m", count(lit(1)).over(wCell))
      .filter(col("rn") <= expr(k2Ex))
      .select(col("cluster"),
        when(col("vec_id") < 0 || col("vec_id") >= lit(1L << 34),
          raise_error(concat(
            lit("semanticDedupHier: vec_id out of the packed-argmin range [0, 2^34): "),
            col("vec_id").cast("string"))))
          .otherwise(col("vec_id")).as("cid"),
        col("q").as("cq"))
    // Per-vector argmin as a PRIMITIVE streaming aggregate, not a sort:
    // `row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)`
    // materializes and SORTS all n·k₂ ≈ n^(4/3)/√2 candidate rows (~154 GB
    // of sort spill at 20M vectors, the measured single-box disk wall),
    // and `min(struct(dist, cid))` lands in ObjectHashAggregate, whose
    // sort-based fallback (spark.sql.objectHashAggregate.sortBased
    // .fallbackThreshold, default 128 map entries) re-creates the SAME
    // sort. Packing the pair into ONE fixed-width decimal — dist·2^34 +
    // cid — makes the numeric order exactly the lexicographic (dist, cid)
    // order (dist is an exact non-negative long; cid is a vec_id < 2^34),
    // and min over a fixed-width decimal partial-aggregates in the
    // primitive HashAggregate: map-side combine collapses each partition
    // to ≤n rows before the vec_id shuffle, so transient disk is O(n),
    // not O(n^(4/3)). The cell id is recovered from the winning seed via
    // the broadcast (cid → cluster) side table (a seed belongs to one
    // cell).
    val CidShift = 1L << 34
    def argminBy(cands: DataFrame, cidToCell: DataFrame): DataFrame =
      cands
        .select(col("vec_id"),
          (col("dist").cast("decimal(20,0)") * lit(CidShift) +
            col("cid").cast("decimal(11,0)")).as("packed"))
        .groupBy("vec_id").agg(min(col("packed")).as("m"))
        .select(col("vec_id"), (col("m") % lit(CidShift)).cast("long").as("cid"))
        .join(broadcast(cidToCell), "cid")
    val a0 = argminBy(
      withCell.join(seeds, "cluster")
        .select(col("vec_id"), col("cid"),
          sqDist(col("q"), col("cq")).as("dist")),
      seeds.select(col("cid"), col("cluster")))
      .select(col("vec_id"), col("cluster"), col("cid"))
    // floor-average update per (cell, seed, dim), reassembled to arrays,
    // persisted and filled at once: a1 references c1 TWICE (candidate join + the broadcast
    // cid→cluster side table), and without the cache each reference
    // re-evaluates the whole chain — including a0's n·k₂ distance
    // evaluations, the operator's dominant term. Σk₂ rows ≈ √2·n^(2/3),
    // tiny at any scale.
    val c1 = Caching.persistFilled(withCell.join(a0.select("vec_id", "cid"), "vec_id")
      .select(col("cluster"), col("cid"), posexplode(col("q")))
      .toDF("cluster", "cid", "dim", "qv")
      .groupBy("cluster", "cid", "dim")
      .agg(floor(sum(col("qv")).cast("double") / count(lit(1))).cast("long")
        .as("cd"))
      .groupBy("cluster", "cid")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cd")))),
        s => s.getField("cd")).as("cq")))
    val a1 = argminBy(
      withCell.join(c1, "cluster")
        .select(col("vec_id"), col("cid"),
          sqDist(col("q"), col("cq")).as("dist")),
      c1.select(col("cid"), col("cluster")))
      .select(col("vec_id"), col("cluster"), col("cid").as("sub"))
    (a1, c1)
  }

  /** The one SemDeDup back end: near-dup scoring within blocks, then one
    * (vec_id, is_dup) flag per input vector. A block is a distinct value
    * of `blockCols` — `cluster` for [[semanticDedup]], (`cluster`, `sub`)
    * for [[semanticDedupHier]]. `split(s)` builds independent input split
    * s of `splits` (hier's coarse-cell shards; single-level has one): its
    * block assignment (vec_id + `blockCols`), its unit vectors (vec_id,
    * uv) and the caches it installed. `owned` are the caller's caches,
    * released with the result.
    *
    * Per split, blocks of at most `maxCluster` members score all their
    * pairs and larger blocks rep-link every member to the block-min
    * vec_id (`maxCluster ≤ 0`: no cap). One action over the block-size
    * table logs the rep-linked blocks and counts the exact pair rows,
    * which plans the passes: ⌈pairs / `pairRowBudget`⌉, or `forcePasses`
    * when positive. Blocks never share a pair and a vec_id lives in one
    * block, so hash-partitioning blocks into passes — each pass staged as
    * parquet, a lineage cut that frees its shuffle files before the next
    * pass starts — bounds transient disk at ~budget pair rows while the
    * union of the staged parts is exactly the single-pass answer. A lone
    * split scored in one pass (every declared query's regime) keeps the
    * single plan and stages nothing.
    */
  private def dedupBlocks(vectors: DataFrame, blockCols: Seq[String],
      threshold: Double, maxCluster: Int, pairRowBudget: Long,
      forcePasses: Int, op: String, owned: Seq[DataFrame], splits: Int)(
      split: Int => (DataFrame, DataFrame, Seq[DataFrame])): DataFrame = {
    val cap = if (maxCluster <= 0) Long.MaxValue else maxCluster.toLong
    val keys = blockCols.map(col)
    staged(vectors.sparkSession) { st =>
      // (dropped, caches) of a lone single-pass split: the unstaged plan
      val direct = (0 until splits).flatMap { s =>
        val (assign, unit, splitOwned) = split(s)
        val both = assign.join(unit, "vec_id").persist(StorageLevel.MEMORY_AND_DISK)
        val sizes = both.groupBy(keys: _*)
          .agg(count(lit(1)).as("cluster_n"), min(col("vec_id")).as("rep"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val (estPairs, rows) = groupStats(sizes, "cluster_n", cap, op, "block")
        // id_b of every scored pair over the threshold in `blocks`
        def droppedFor(blocks: DataFrame): DataFrame = {
          val small = both.join(blocks.filter(col("cluster_n") <= cap)
            .select(keys: _*), blockCols, "left_semi")
          val smallPairs = small
            .select(keys :+ col("vec_id").as("id_a") :+ col("uv").as("va"): _*)
            .join(small.select(blockCols.map(c => col(c).as(s"${c}_b")) :+
                col("vec_id").as("id_b") :+ col("uv").as("vb"): _*),
              blockCols.map(c => col(c) === col(s"${c}_b")).reduce(_ && _) &&
                col("id_a") < col("id_b"))
            .select("id_a", "va", "id_b", "vb")
          // rep = block min ⇒ id_a < id_b holds by construction
          val hot = blocks.filter(col("cluster_n") > cap).select(keys :+ col("rep"): _*)
            .join(unit.select(col("vec_id").as("rep"), col("uv").as("va")), "rep")
          val bigPairs = both.join(hot, blockCols)
            .filter(col("vec_id") =!= col("rep"))
            .select(col("rep").as("id_a"), col("va"),
              col("vec_id").as("id_b"), col("uv").as("vb"))
          cosinePairs(smallPairs.unionByName(bigPairs), "id_a", "va", "id_b", "vb")
            .filter(col("cos") >= threshold)
            .select(col("id_b").as("vec_id")).distinct()
        }
        val passes =
          if (forcePasses > 0) forcePasses
          else math.max(1L, (estPairs + pairRowBudget - 1L) / pairRowBudget).toInt
        val caches = splitOwned ++ Seq(both, sizes)
        if (splits == 1 && passes == 1) Seq((droppedFor(sizes), caches))
        else {
          System.err.println(s"[similarity] $op: split ${s + 1}/$splits, " +
            s"$estPairs block-pair rows (budget=$pairRowBudget, " +
            s"forcePasses=$forcePasses) -> $passes pass(es)")
          for (i <- 0 until passes) {
            val blocks = if (passes == 1) sizes
              else sizes.filter(pmod(xxhash64(keys: _*), lit(passes.toLong)) === i)
            st.write((if (splits > 1) s"shard_${s}_" else "") + s"pass_$i",
              droppedFor(blocks))
            // nudge the ContextCleaner: the pass's shuffle files are
            // unreferenced once its parquet lands, and reclaiming them NOW
            // is the point of passes — only when the BUDGET forced them; a
            // forcePasses pin below it has ~MBs to reclaim, not worth a
            // stop-the-world GC per pass
            if (estPairs > pairRowBudget) System.gc()
          }
          // the split's flags are on disk: its working set goes before the
          // next split starts — that is the point of sharding. The GC nudge
          // only pays once the split holds ~1M rows (~2.81 GiB at
          // SCALE_r19 §10's rate); below that it was measured pure overhead
          caches.foreach(_.unpersist(blocking = false))
          if (splits > 1 && rows >= 1000000L) System.gc()
          Nil
        }
      }
      // staged parts are disjoint (a vec_id lives in one block of one
      // split), so the distinct only guards the contract
      val dropped = direct.headOption.map(_._1).getOrElse(st.read().distinct())
      val res = vectors.select(col("vec_id").cast("long").as("vec_id"))
        .join(dropped.withColumn("dup", lit(1L)), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("dup"), lit(0L)).as("is_dup"))
      Caching.materializeAndRelease(res, (owned ++ direct.flatMap(_._2)): _*)
    }
  }

  /** One run's parquet staging under a fresh [[scratchPassDir]], created on
    * the first write — a run that stages nothing touches no filesystem.
    * One Hadoop FS handle serves mkdir, write, read and delete, so the
    * parts land on the cluster FS, never on a driver-local disk the
    * executors do not share. Parts are read back from the explicit list
    * of written directories: a `pass_*` glob makes Spark's metadata probe
    * log a FileNotFoundException on every read.
    */
  private final class Staging(spark: SparkSession) {
    private var dir: Option[(FileSystem, Path)] = None
    private val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    def write(name: String, df: DataFrame): Unit = {
      if (dir.isEmpty) dir = Some(scratchPassDir(spark))
      val path = s"${dir.get._2}/$name"
      df.write.mode("overwrite").parquet(path)
      parts += path
    }
    def read(): DataFrame = spark.read.parquet(parts.toSeq: _*)
    def delete(): Unit = {
      dir.foreach { case (fs, d) => fs.delete(d, true); liveScratch.remove((fs, d)) }
      dir = None
    }
  }

  /** Run `body` with a [[Staging]] and own its cleanup. On failure the dir
    * is deleted, guarded: in the ENOSPC/FS-outage regime staging exists
    * for, `fs.delete` can throw too, and must not mask the original
    * error. On success in eager mode the result is materialized, so the
    * dir goes; in lazy mode ([[Caching.EagerReleaseKey]] = false) the
    * result still reads the parts, so the dir stays registered for
    * [[cleanupScratch]] / the shutdown hook.
    */
  private def staged[T](spark: SparkSession)(body: Staging => T): T = {
    val st = new Staging(spark)
    val out =
      try body(st) catch {
        case t: Throwable =>
          try st.delete() catch {
            case c: Throwable => System.err.println(
              "[similarity] staging cleanup failed after error (leaked dir " +
                s"possible — sweep with Similarity.cleanupScratch): $c")
          }
          throw t
      }
    if (spark.conf.get(Caching.EagerReleaseKey, "true") != "false") st.delete()
    out
  }

  /** Config key for the staging root. Any Hadoop-resolvable URI
    * (`hdfs://…`, `s3a://…`, `file:/…`); one run's parts land under
    * `<root>/graft_hier_pairs_<uuid>` and are removed through the SAME
    * filesystem handle that wrote them.
    */
  val ScratchDirKey = "spark.graft.scratchDir"

  /** Resolve a fresh per-run staging directory through the session's
    * Hadoop filesystem. Order: explicit [[ScratchDirKey]]; else the
    * context's checkpoint dir (a caller on a cluster has already picked a
    * cluster-visible root for exactly this kind of intermediate state);
    * else, on a local master only, the JVM temp dir. A non-local master
    * with neither configured fails loudly — defaulting to the driver's
    * /tmp there silently loses the parts executors wrote elsewhere.
    */
  private[graft] def scratchPassDir(spark: SparkSession): (FileSystem, Path) = {
    val base = spark.conf.getOption(ScratchDirKey)
      .orElse(spark.sparkContext.getCheckpointDir)
      .getOrElse {
        if (spark.sparkContext.isLocal)
          "file:" + System.getProperty("java.io.tmpdir")
        else throw new IllegalStateException(
          s"semantic-dedup staging needs a cluster-visible scratch root on " +
            s"a non-local master: set $ScratchDirKey or a checkpoint dir")
      }
    val raw = new Path(base,
      s"graft_hier_pairs_${java.util.UUID.randomUUID().toString.take(12)}")
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = fs.makeQualified(raw)
    fs.mkdirs(dir)
    liveScratch.add((fs, dir))
    if (scratchHookInstalled.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread("graft-scratch-sweep") {
        override def run(): Unit = sweepScratch()
      })
    (fs, dir)
  }

  /** Live staging dirs this JVM created via [[scratchPassDir]] and has
    * not yet deleted. Eager-mode runs drain their own entries; LAZY-mode
    * runs deliberately leave the dir for the session to read. The
    * registry gives those an owner: [[cleanupScratch]] sweeps them on
    * demand, and a JVM shutdown hook (installed on first registration)
    * sweeps whatever is still live at exit, so even an operator who
    * never calls cleanup doesn't leak onto hdfs/s3a past the app's
    * lifetime.
    */
  private val liveScratch =
    java.util.Collections.synchronizedSet(new java.util.HashSet[(FileSystem, Path)]())
  private val scratchHookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def sweepScratch(): Unit = {
    val dirs = liveScratch.synchronized {
      val d = new java.util.ArrayList(liveScratch); liveScratch.clear(); d
    }
    dirs.forEach { case (fs, dir) =>
      try fs.delete(dir, true) catch {
        case c: Throwable => System.err.println(
          s"[similarity] scratch sweep could not delete $dir: $c")
      }
    }
  }

  /** Delete every staging dir this JVM's dedup runs still hold — the
    * explicit owner for LAZY-mode pass/shard parquet. Call once the lazy
    * results have been materialized (or abandoned); per-dir delete
    * failures are logged, not thrown, so one unreachable FS doesn't block
    * reclaiming the rest. Eager-mode runs never need this (they drain
    * their own dirs); the JVM shutdown hook runs the same sweep as a
    * backstop.
    */
  def cleanupScratch(spark: SparkSession): Unit = {
    val _ = spark // session-scoped signature: one JVM hosts one session here
    sweepScratch()
  }

  /** The measured crossover between the two recall-preserving SemDeDup
    * forms (SCALE_r16 §2, quiet box, one JVM per leg): cap-aware
    * single-level ([[autoKmeansKCapAware]]) wins at 200k vectors (22.8
    * vs hier's 86.3 s) but its assignment term is 4N²/cap — quadratic —
    * once the cap term binds, while [[semanticDedupHier]] holds ~n^(4/3);
    * hier wins from 600k up (91.9 vs 158.4 s; 272 vs 1,164 s at 2M) and
    * completes 10M in 2,489 s where the quadratic form is a computed
    * ~8-hour wall. 400k sits between the measured brackets (auto2 ahead
    * at 200k, behind at 600k) on the geometric side of caution: at the
    * crossover both forms cost within ~2× of each other and both hold
    * recall 1.0, so the dispatch boundary is a cost choice, never a
    * correctness one.
    */
  val LadderCrossover = 400000L

  /** SemDeDup with the measured deployment ladder as CODE (three rounds
    * of measurement produced the ladder; this function encodes it the way
    * [[autoLshBits]] already encodes bucket sizing):
    *
    *   - n < `crossover` (default [[LadderCrossover]]): single-level
    *     [[semanticDedup]] at k = [[autoKmeansKCapAware]](n) — the
    *     √-rule optimum while clusters stay under the cap, the smallest
    *     recall-preserving k past it (detection recall 1.0 at 600k where
    *     the unconstrained √-rule measured 0.386);
    *   - n ≥ `crossover`: [[semanticDedupHier]] — ~n^(4/3), blocks under
    *     the cap by construction through n ≈ 4·10⁸, measured through 10M
    *     vectors (2,489 s single box; beyond ~10⁸ bring a cluster, which
    *     the distributed per-cell design is for).
    *
    * The dispatch rule itself sits under the oracle hash: the declared
    * `emb_semantic_dedup_ladder` / `_ladder_upper` queries re-derive the
    * branch from COUNT(*) inside the oracle SQL and replay whichever
    * chain the rule picks (the `_upper` variant pins a tiny crossover so
    * the hier branch is hash-checked at sf0.01 in every round, the
    * `emb_*_capped` tiny-cap discipline). `maxCluster ≤ 0` (uncapped
    * blocks) sizes single-level k by the plain √-rule — with no cap
    * there is no constraint to respect.
    */
  def semanticDedupAuto(vectors: DataFrame, threshold: Double,
      crossover: Long = LadderCrossover,
      maxCluster: Int = DefaultMaxCluster): DataFrame = {
    val n = vectors.count()
    if (n < crossover) {
      val k =
        if (maxCluster > 0) autoKmeansKCapAware(n, maxCluster)
        else autoKmeansK(n)
      System.err.println(
        s"[similarity] semanticDedupAuto: n=$n < crossover=$crossover -> " +
          s"single-level cap-aware k=$k")
      semanticDedup(vectors, k = k, iters = 1, threshold = threshold,
        maxCluster = maxCluster)
    } else {
      System.err.println(
        s"[similarity] semanticDedupAuto: n=$n >= crossover=$crossover -> " +
          "hierarchical (coarse ceil(cbrt(n)) cells, per-cell auto-k)")
      semanticDedupHier(vectors, threshold, maxCluster = maxCluster,
        knownCount = n)
    }
  }

  /** Exact near-duplicate pairs over a similarity threshold — the O(n²)
    * reference answer, kept for verification/unit tests only. The declared
    * query uses [[nearDupPairsLsh]], the scale path.
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double, dim: Int = 0): DataFrame = {
    val unit = unitVectors(vectors)
    val a = unit.select(col("vec_id").as("vec_a"), col("uv").as("va"))
    val c = unit.select(col("vec_id").as("vec_b"), col("uv").as("vb"))
    val d = if (dim > 0) dotUnrolled(col("va"), col("vb"), dim) else dot(col("va"), col("vb"))
    val res = a.crossJoin(c)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", d)
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b")
    Caching.materializeAndRelease(res, unit)
  }

  /** Near-duplicate pairs, LSH-banded: candidates = pairs colliding in at
    * least one of `tables` sign-bucket tables; each candidate is then
    * exact-cosine-verified against the threshold. The plan is an equi-join
    * on (table, bucket) + a distinct — near-linear in Σ bucket², with NO
    * CartesianProduct / BroadcastNestedLoopJoin node.
    *
    * The banding is *part of the operator definition* (same contract as
    * [[Dedup.minhashCandidates]]): because the sketch is computed in exact
    * integer arithmetic ([[quantized]]), the full pipeline — candidates
    * AND verification — is reproducible bit-for-bit in SQL and
    * oracle-checked. Recall vs the exact all-pairs query is a tunable:
    * 16 tables × 8 bits gives ≥ 0.995 at cosine ≥ 0.9 (the true near-dup
    * range); the measured-data note is in MlQueries. For thresholds deep
    * inside the corpus's natural-similarity bulk (where sub-quadratic
    * exactness is impossible), [[nearDupPairs]] remains the exact tool.
    *
    * `bits = 0` (the default) auto-sizes the bucket width from the corpus
    * count ([[autoLshBits]] — hold n/2^bits flat), so the default caller
    * gets the scale-correct configuration; declared queries pin (16, 8)
    * for oracle-hash stability.
    */
  /** Embedding-space decontamination against an eval suite, LSH-blocked:
    * for each train vector, count eval vectors within `threshold` cosine.
    * Both sides are sketched with the SAME deterministic hyperplanes
    * ([[lshTablesFast]]); candidates are pairs colliding in at least one of
    * `tables` sign-bucket tables (equi-join on (t, tbucket) — NO
    * broadcast-nested-loop, NO corpus×eval scan multiplier), then
    * exact-cosine verified. Output: (train_id, n_close_eval, first_eval_id).
    *
    * Scale shape: cost is corpus-linear in the sketch pass plus
    * Σ_buckets (train_b · eval_b) for the candidate join — an eval suite of
    * 10⁵ rows costs what its bucket collisions cost, not |corpus|·|eval|
    * cosines the way the former crossJoin(broadcast(eval)) form did. The
    * banding is part of the operator contract (same as [[nearDupPairsLsh]])
    * and is reproduced bit-for-bit in the oracle SQL.
    */
  def decontaminateLsh(
      train: DataFrame,
      evalSet: DataFrame,
      threshold: Double,
      tables: Int = 16,
      bits: Int = 0): DataFrame = {
    // auto-size from the TRAIN side (the corpus): it dominates bucket
    // occupancy; the eval suite just probes the buckets
    val nBits = resolveBits(train, bits, tables, "decontaminateLsh",
      TargetBucketOccupancy)
    val trainB = lshTablesFast(train, tables, nBits)
      .select(col("vec_id").as("train_id"), col("t"), col("tbucket"))
    val evalB = lshTablesFast(evalSet, tables, nBits)
      .select(col("vec_id").as("eval_id"), col("t"), col("tbucket"))
    val cand = trainB.join(evalB, Seq("t", "tbucket"))
      .select("train_id", "eval_id")
      .distinct()
    val unitT = unitVectors(train)
    val unitE = unitVectors(evalSet)
    val pairs = cand
      .join(unitT.select(col("vec_id").as("train_id"), col("uv").as("tv")), "train_id")
      .join(unitE.select(col("vec_id").as("eval_id"), col("uv").as("ev")), "eval_id")
    val res = cosinePairs(pairs, "train_id", "tv", "eval_id", "ev")
      .filter(col("cos") >= threshold)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_close_eval"), min(col("eval_id")).as("first_eval_id"))
    Caching.materializeAndRelease(res, unitT, unitE)
  }

  /** Exact decontamination — the FINAL-PASS tool where false negatives are
    * unacceptable: every (train, eval) pair is cosine-scored, so recall is
    * 1.0 by construction at ANY threshold. The eval side broadcasts (an
    * eval suite is a bounded benchmark, not a corpus), so the plan is one
    * corpus scan × a broadcast loop — corpus-LINEAR, no shuffle; the cost
    * relative to [[decontaminateLsh]] is |eval| cosines per train row
    * instead of bucket-collision cosines. Use the LSH form as the bulk
    * pre-pass (high recall in the true near-dup range, see MlQueries
    * recall table) and this for the decision pass on what remains.
    *
    * Oracle-parity caveat (shared with [[semanticDedup]]): the cosine here
    * is a float dot of pre-normalized unit vectors, while DuckDB's
    * `list_cosine_similarity` divides the raw dot by the norms — different
    * rounding paths, so a pair lying within a few ulps of `threshold` can
    * flip between engines. The declared queries are safe because the
    * driver's embedding fixture draws components from a coarse integer
    * lattice and the thresholds (0.3 / 0.4 here and in MlQueries) sit far
    * from any attainable cosine value — the nearest fixture cosine is
    * orders of magnitude more than double-rounding error away. A NEW
    * fixture or threshold must preserve that margin (or quantize the
    * decision the way the sketch operators do on the integer lattice).
    */
  def decontaminateExact(
      train: DataFrame,
      evalSet: DataFrame,
      threshold: Double): DataFrame = {
    val unitT = unitVectors(train)
    val unitE = unitVectors(evalSet)
    val pairs = unitT.select(col("vec_id").as("train_id"), col("uv").as("tv"))
      .crossJoin(broadcast(
        unitE.select(col("vec_id").as("eval_id"), col("uv").as("ev"))))
    val res = cosinePairs(pairs, "train_id", "tv", "eval_id", "ev")
      .filter(col("cos") >= threshold)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_close_eval"), min(col("eval_id")).as("first_eval_id"))
    Caching.materializeAndRelease(res, unitT, unitE)
  }

  def nearDupPairsLsh(
      vectors: DataFrame,
      threshold: Double,
      tables: Int = 16,
      bits: Int = 0,
      maxBucket: Int = DefaultMaxLshBucket): DataFrame = {
    val nBits = resolveBits(vectors, bits, tables, "nearDupPairsLsh",
      TargetBucketOccupancy)
    val tb = lshTablesFast(vectors, tables, nBits)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cand, owned) =
      if (maxBucket <= 0) {
        val a = tb.select(col("vec_id").as("vec_a"), col("t"), col("tbucket"))
        val b = tb.select(col("vec_id").as("vec_b"), col("t"), col("tbucket"))
        (a.join(b, Seq("t", "tbucket"))
          .filter(col("vec_a") < col("vec_b"))
          .select("vec_a", "vec_b")
          .distinct(), Seq(tb))
      } else {
        // hot-bucket guard (default ON, [[DefaultMaxLshBucket]], mirrored
        // in the oracle SQL): cells over the cap rep-link through the
        // bucket-min id instead of enumerating all pairs — bounded
        // candidate volume at ANY occupancy, families stay star-connected
        val sizes = tb.groupBy("t", "tbucket")
          .agg(count(lit(1)).as("bucket_n"), min(col("vec_id")).as("rep"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        groupStats(sizes, "bucket_n", maxBucket, "nearDupPairsLsh", "bucket")
        val small = tb.join(
          sizes.filter(col("bucket_n") <= maxBucket).select("t", "tbucket"),
          Seq("t", "tbucket"), "left_semi")
        val a = small.select(col("vec_id").as("vec_a"), col("t"), col("tbucket"))
        val b = small.select(col("vec_id").as("vec_b"), col("t"), col("tbucket"))
        val smallPairs = a.join(b, Seq("t", "tbucket"))
          .filter(col("vec_a") < col("vec_b"))
          .select("vec_a", "vec_b")
        // rep = bucket min ⇒ vec_a < vec_b holds by construction
        val bigPairs = tb.join(
          sizes.filter(col("bucket_n") > maxBucket)
            .select(col("t"), col("tbucket"), col("rep")),
          Seq("t", "tbucket"))
          .filter(col("vec_id") =!= col("rep"))
          .select(col("rep").as("vec_a"), col("vec_id").as("vec_b"))
        (smallPairs.unionByName(bigPairs).distinct(), Seq(tb, sizes))
      }
    val unit = unitVectors(vectors)
    val pairs = cand
      .join(unit.select(col("vec_id").as("vec_a"), col("uv").as("va")), "vec_a")
      .join(unit.select(col("vec_id").as("vec_b"), col("uv").as("vb")), "vec_b")
    val res = cosinePairs(pairs, "vec_a", "va", "vec_b", "vb")
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b")
    Caching.materializeAndRelease(res, (unit +: owned): _*)
  }
}
