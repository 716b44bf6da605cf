package graft.graph

import graft.operators.Caching
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX analytics over the gun relation-cell graph (the "analytics
  * subset" of BASELINE.json): the reference's edges are fields holding
  * relation values (gun/node.go:149-159); here they become a GraphX edge
  * RDD keyed by a 64-bit hash of the soul, carrying the field name.
  *
  * Scale: vertex ids are hashed souls (no driver-side id assignment —
  * `zipWithUniqueId`-style global indexing would serialize at 100 TB);
  * GraphX partitions edges by 2-D hashing, and all algorithms below are
  * message-passing (Pregel-class), the standard scale-out formulation.
  */
object Analytics {

  /** Build a GraphX graph from an edge DataFrame (src, field, dst).
    * Vertex ids are xxhash64 of the soul, computed on the DataFrame side
    * (codegen'd, 64-bit — collision-safe at 100 TB vertex counts, unlike a
    * 32-bit hash which birthday-collides past ~10^5 souls).
    */
  def fromEdges(edges: DataFrame): Graph[String, String] = {
    val edgeRdd: RDD[Edge[String]] = edges
      .select(xxhash64(col("src")).as("sid"), col("field"), xxhash64(col("dst")).as("did"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(2), r.getString(1)))
    val verts: RDD[(VertexId, String)] = edges
      .select(col("src").as("soul")).unionByName(edges.select(col("dst").as("soul")))
      .distinct()
      .select(xxhash64(col("soul")).as("id"), col("soul"))
      .rdd.map(r => (r.getLong(0), r.getString(1)))
    Graph(verts, edgeRdd)
  }

  /** xxhash64 of a soul, for pinning sources in [[reachable]]. */
  def soulIdDf(spark: SparkSession, souls: Seq[String]): Map[String, VertexId] = {
    import spark.implicits._
    souls.toDF("soul").select(col("soul"), xxhash64(col("soul")).as("id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Connected components, reported as (component representative soul,
    * component size). Deterministic: representative = lexicographically
    * smallest soul in the component.
    */
  /** Persist the edge DF for a graph build — vertex + edge RDD
    * construction each traverse it, and GraphX materialization multiplies
    * that again — but only when the caller has NOT already persisted it
    * (a caller sharing one cached edge table across several analytics
    * calls keeps its cache). Returns the DF and whether this call owns
    * (and must release) the persistence.
    */
  private def persistEdges(edges: DataFrame): (DataFrame, Boolean) =
    if (edges.storageLevel == StorageLevel.NONE)
      (edges.persist(StorageLevel.MEMORY_AND_DISK), true)
    else (edges, false)

  /** Materialize `result` with an eager localCheckpoint (cutting its
    * lineage off the graph RDDs), then unpersist every GraphX handle and —
    * if [[persistEdges]] added it — the edge DataFrame's persistence.
    * GraphX `cache()`s graph RDDs internally on construction and per
    * algorithm iteration; without this release a long-lived session
    * accumulates those blocks across queries (the 100×-scale OOM class —
    * each analytics call must leave the block manager the way it found it,
    * including NOT dropping a cache the caller installed for reuse).
    */
  private def materializeAndRelease(result: DataFrame, edges: DataFrame,
                                    ownsEdges: Boolean,
                                    graphs: Graph[_, _]*): DataFrame = {
    // Lazy composition mode (round 20, aligned with
    // Caching.materializeAndRelease): return the declarative plan and
    // leave the caches for the caller — this is what lets `Explain`
    // print the REAL pipeline plan for graph queries instead of a
    // checkpoint-scan stub. Default (eager) behavior is unchanged.
    if (result.sparkSession.conf.get(Caching.EagerReleaseKey, "true") == "false")
      result
    else {
      val out = result.localCheckpoint(eager = true)
      graphs.foreach(_.unpersist(blocking = false))
      if (ownsEdges) edges.unpersist(blocking = false)
      out
    }
  }

  // Round 20 measured A/B (OPTIMIZATION_r20.md): a DataFrame min-label
  // propagation loop (join + partial-agg min + localCheckpoint + one
  // scalar convergence aggregate per round) LOST to this GraphX form —
  // doc_dup_clusters 6.0 → 10.8 s, graph_components 6.9 → 7.6 s, same
  // box, same day — because Pregel only messages vertices whose label
  // CHANGED last round (the active-frontier delta), while the relational
  // loop re-joins the full edge set every round and pays a
  // materialization barrier per round. Kept on GraphX for that measured
  // reason; the DF wins in this family are the FIXED-depth recurrences
  // (pageRankLattice, labelPropagation) where the whole chain fuses into
  // one job with no per-round action.
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val (e, owns) = persistEdges(edges)
    val g = fromEdges(e)
    val cc = g.connectedComponents()
    // join component id back to soul names; pick min soul per component
    val comp = cc.vertices.join(g.vertices.map(identity))
      .map { case (_, (compId, soul)) => (compId, soul) }
      .toDF("comp_id", "soul")
    val res = comp.groupBy("comp_id")
      .agg(min(col("soul")).as("component_rep"), count(lit(1)).as("component_size"))
      .select("component_rep", "component_size")
    materializeAndRelease(res, e, owns, g, cc)
  }

  /** PageRank over the relation graph. Fixed-iteration, UNNORMALIZED
    * (`normalized = false`): the final global rank-sum rescale that
    * `staticPageRank` applies by default is skipped, so every output value
    * is a pure local recurrence (rank = 0.15 + 0.85·Σ incoming, init 1.0)
    * — reproducible in SQL without a global fp reduction, which makes the
    * query oracle-checkable on a quantized lattice (GraphQueries).
    */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int = 10): DataFrame = {
    import spark.implicits._
    val (e, owns) = persistEdges(edges)
    val g = fromEdges(e)
    val pr = org.apache.spark.graphx.lib.PageRank
      .runWithOptions(g, numIter = iters, resetProb = 0.15, srcId = None,
        normalized = false)
    val res = pr.vertices.join(g.vertices.map(identity))
      .map { case (_, (rank, soul)) => (soul, rank) }
      .toDF("soul", "rank")
    materializeAndRelease(res, e, owns, g, pr)
  }

  /** The ArithmeticException in `e`'s cause chain, else `e` itself. */
  private def arithmeticCause(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case a: ArithmeticException => a }.getOrElse(e)

  /** Exact lcm with overflow trap (`Long` range enforced by
    * `multiplyExact`); associative+commutative, safe as an RDD fold.
    */
  private def lcmExact(a: Long, b: Long): Long =
    if (a == 0L || b == 0L) math.max(a, b)
    else Math.multiplyExact(a / java.math.BigInteger.valueOf(a)
      .gcd(java.math.BigInteger.valueOf(b)).longValueExact(), b)

  /** [[pageRank]] on the EXACT INTEGER LATTICE, for ANY out-degree.
    * Ranks are carried as Long NUMERATORS over S_k = (20·L)^k where
    * L = lcm of all out-degrees in the graph: n₀ = 1 and
    * n_{k+1} = 3·L·S_k + 17·Σ_{u→v} n_k(u)·(L/d(u)), so n_k / S_k IS the
    * double recurrence 0.15 + 0.85·Σ rank(u)/outdeg(u) — except every
    * step is integer arithmetic (L/d(u) is integral by construction of
    * L), immune to summation ORDER. On a forest (all d = 1) L = 1 and
    * this degenerates to the original 20^k lattice, so forest-query
    * output values are unchanged. This exists because the double form
    * broke at scale+skew: at sf1 with a vertex holding 30% of 1.5M
    * edges, Spark's and DuckDB's different summation orders accumulated
    * enough fp error that round(rank·20⁵) flipped by 1 on one vertex
    * (SCALE_r6.md §2) — the lattice values are not binary fractions, so
    * double noise grows with magnitude while the round() margin stays
    * fixed. Integer headroom scales as rank_max·(20L)^iters, and the
    * loud-overflow contract is layered: the constants (L, the 3·L·S_k
    * base, the (20·L)^k power) go through `Math.*Exact` and throw a bare
    * `ArithmeticException` — L's fold runs in tasks, and its overflow is
    * unwrapped from the job's `SparkException` — before any rank job
    * runs; the distributed numerators accumulate in
    * decimal(38,0), where any per-edge product or message sum that
    * overflows turns NULL (non-ANSI arithmetic) and is trapped by
    * `raise_error` — per-row products via a count(n·w) < count(*) check,
    * the whole sum via the null-sum-under-nonzero-count check, and the
    * final cast via an explicit Long.MaxValue bound. Either way an
    * overflow run DIES loudly (reduce `iters` or the degree spread)
    * rather than silently wrapping. Forest case: Σ n₅ ≤ 3.3·10⁶ × |V|,
    * overflow only past ~10¹² vertices; mixed degrees {1..4} (L=12,
    * 20L=240) leave ~10⁶× headroom at iters=5 for rank_max ≤ 10.
    * Degree = out-EDGE count (multigraph semantics: parallel edges each
    * carry a contribution, matching GraphX's `staticPageRank`).
    * Returns (soul, rank_q) with rank_q = n_iters = rank·(20·L)^iters.
    */
  def pageRankLattice(spark: SparkSession, edges: DataFrame, iters: Int = 5): DataFrame = {
    // DataFrame power iteration (round 20, guide §2.4/§4: the GraphX form
    // spent its wall in RDD object serialization and per-iteration graph
    // materialization — every step here is whole-stage-codegen'd hash
    // aggregation instead). Semantics unchanged and integer-exact: the
    // lattice recurrence is order-free, so the DF sum equals the
    // aggregateMessages sum bit-for-bit; the loud-overflow contract is
    // kept by accumulating in decimal(38,0) (Σ and per-edge products are
    // nonnegative and bounded by the step result, so checking each
    // step's numerator fits Long catches every intermediate overflow the
    // old per-message Math.*Exact would have trapped) and raise_error on
    // the first numerator past Long.MaxValue.
    import spark.implicits._
    val (e, owns) = persistEdges(edges)
    // weighted edge list (src, dst, w = L/d(src)): one out-degree agg;
    // L = lcm via a DISTRIBUTED reduce over the degree table (round 21,
    // VERDICT_r20 #8): lcm is associative, commutative, and idempotent
    // (lcm(x,x)=x), so the per-partition fold + O(#partitions) driver
    // merge needs neither the former distinct() exchange nor the
    // distinct().collect() that pulled the whole degree support to the
    // driver. Math.*Exact still traps Long overflow loudly: a task's (or
    // the driver-side partition merge's) ArithmeticException reaches the
    // action wrapped in a SparkException, so the fold site unwraps it and
    // callers see the same ArithmeticException as from the driver-side
    // constants below. Both overflows fail before the iteration's caches
    // are marked, and release the edge cache this call added.
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val (lcmAll, bases) =
      try {
        val l =
          try deg.select(col("d")).as[Long].rdd
            .fold(1L)(lcmExact) // 1 = lcm identity, so an empty graph still yields L=1
          catch { case ex: org.apache.spark.SparkException => throw arithmeticCause(ex) }
        // S_k = (20·L)^k for k = 0..iters (S_iters only checks headroom);
        // step k adds the base 3·L·S_k
        val powers = Iterator.iterate(1L)(Math.multiplyExact(_, Math.multiplyExact(20L, l)))
          .take(iters + 1).toVector
        (l, powers.init.map(Math.multiplyExact(Math.multiplyExact(3L, l), _)))
      } catch {
        case ex: ArithmeticException =>
          if (owns) e.unpersist(blocking = false)
          throw ex
      }
    val edgesW = e.select(col("src"), col("dst"))
      .join(deg, "src")
      // integer division on purpose: L/d is integral by construction of L,
      // and `/` on longs is DOUBLE division in Spark SQL
      .select(col("src"), col("dst"),
        expr(s"CAST($lcmAll DIV d AS BIGINT)").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("soul"))
      .unionByName(e.select(col("dst").as("soul")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = verts.select(col("soul"), lit(1L).cast("decimal(38,0)").as("n"))
    for (base <- bases) {
      val msgs = edgesW.join(ranks.withColumnRenamed("soul", "src"), "src")
        .groupBy(col("dst").as("soul"))
        .agg(sum(col("n") * col("w")).as("s"), count(lit(1)).as("cm"),
          // non-null product count: non-ANSI sum() SKIPS null inputs, so a
          // single per-edge n·w that overflows decimal(38,0) would silently
          // deflate the sum while s stays non-null (ADVICE_r20). cnn < cm
          // ⇔ some per-row product overflowed — trap it below.
          count(col("n") * col("w")).as("cnn"))
      ranks = verts.join(msgs, Seq("soul"), "left")
        .select(col("soul"),
          (lit(base).cast("decimal(38,0)") +
            lit(17L) * coalesce(
              // a NULL sum under a non-zero message count is decimal(38,0)
              // overflow of the SUM; a non-null-product count below the
              // message count is overflow of a PER-ROW product (which
              // non-ANSI sum would silently skip) — both trap loudly, the
              // same contract as the old per-message Math.*Exact
              when((col("s").isNull && col("cm").isNotNull && col("cm") > 0L)
                  || col("cnn") < col("cm"),
                raise_error(lit("pageRankLattice: decimal overflow in message sum")))
                .otherwise(col("s")),
              lit(0L).cast("decimal(38,0)")))
            .as("n"))
    }
    val res = ranks.select(col("soul"),
      when(col("n") > lit(Long.MaxValue) || col("n").isNull,
        raise_error(concat(lit("pageRankLattice: numerator exceeds Long range: "),
          col("n").cast("string"))))
        .otherwise(col("n").cast("long")).as("rank_q"))
    val out = materializeAndRelease(res, e, owns)
    // Lazy mode (EagerReleaseKey=false) is an EXPLAIN/COMPOSE tool, not a
    // steady-state serving mode: the internal edgesW/verts persists (and
    // persistEdges' edge cache) stay alive with no handle exposed to the
    // caller — a long-lived lazy session must sweep them itself via
    // sparkContext.getPersistentRDDs (the documented Caching.EagerReleaseKey
    // contract: cache ownership transfers to the caller).
    if (spark.conf.get(Caching.EagerReleaseKey, "true") != "false") {
      edgesW.unpersist(blocking = false)
      verts.unpersist(blocking = false)
    }
    out
  }

  /** Synchronous label propagation (community detection): labels start as
    * each vertex's own soul; each step every vertex adopts the most
    * frequent label among its UNDIRECTED neighbors, ties broken by the
    * lexicographically smallest label — fully deterministic, so the fixed
    * k-step result is oracle-checkable by unrolling the same recurrence
    * in SQL. Implemented on DataFrames rather than GraphX: the per-step
    * mode is two hash aggregations (count per (v, label), then max-count
    * join + min-label per v) — partial-agg friendly and free of
    * per-vertex windows, so a hub vertex (the 30%-hot-customer fixture)
    * never funnels its whole neighborhood through one window task.
    * The fixed 4-step chain composes into ONE job with a single eager
    * localCheckpoint at the end (round 20) — each step's output is
    * referenced exactly once by the next step, so nothing is recomputed
    * and the former per-step checkpoint barriers were pure block-storage
    * overhead; at a fixed small depth the composed plan stays shallow
    * (the plan-blowup guard is only needed for convergence loops).
    */
  def labelPropagation(spark: SparkSession, edges: DataFrame, iters: Int = 4): DataFrame = {
    // und is joined on u EVERY step: pre-partition it by the join key
    // once, so the persisted partitioning is reused by each step's join
    // (in the asymptotic sort-merge regime the und side never
    // re-shuffles; below the broadcast threshold the join needs no
    // exchange at all and the repartition is the only one paid)
    val und = edges.select(col("src").as("v"), col("dst").as("u"))
      .unionByName(edges.select(col("dst").as("v"), col("src").as("u")))
      .distinct()
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = und.select(col("v").as("soul")).distinct()
    var labels = verts.select(col("soul"), col("soul").as("lab"))
    for (_ <- 1 to iters) {
      // mode-label-with-min-tiebreak in ONE aggregation: min(struct(-c,
      // lab)) is lexicographic — smallest -c = LARGEST count, ties fall
      // to the SMALLEST label — replacing the former three-shuffle form
      // (count agg + global cmax agg + filter join) with count agg + one
      // per-vertex reduce; semantics (and the oracle's recurrence) are
      // bit-identical
      labels = und.join(labels.withColumnRenamed("soul", "u"), "u")
        .groupBy("v", "lab").agg(count(lit(1)).as("c"))
        .groupBy(col("v").as("soul"))
        .agg(min(struct((col("c") * -1L).as("nc"), col("lab"))).as("m"))
        .select(col("soul"), col("m.lab").as("lab"))
    }
    // ONE materialization of the whole fixed-depth chain (round 20): the
    // per-step eager localCheckpoint wrote every intermediate label table
    // to block storage 4× per run; at a fixed small iteration count the
    // composed plan is shallow (each step = one join + two hash aggs) and
    // evaluates in a single job, so the step barriers were pure overhead.
    // Each step's `labels` is referenced exactly once by the next step —
    // nothing is recomputed — and `und`, referenced once per step, stays
    // persisted across the chain. Lazy mode returns the declarative plan
    // with `und` left cached for the caller (the Explain contract).
    if (spark.conf.get(Caching.EagerReleaseKey, "true") == "false") labels
    else {
      val out = labels.localCheckpoint(eager = true)
      und.unpersist(blocking = false)
      out
    }
  }

  /** Per-vertex triangle counts, undirected (GraphX TriangleCount — its
    * `run` canonicalizes: self-edges dropped, one edge per unordered
    * pair). Returns only vertices in ≥1 triangle (soul, n_triangles).
    * Neighbor-set intersection counts triangles WITHOUT materializing
    * them — on the dup-pair graph, whose duplicate families are
    * near-cliques (a k-clique holds C(k,3) triangles), that beats wedge
    * enumeration by 3.7× at sf10: the measured A/B (SCALE_r13 §3a) has
    * this plan at 21.1 s / 2.0 GB vs [[triangleCountsWedge]]'s
    * 78.4 s / 3.6 GB (364M materialized wedge rows). EdgePartition2D
    * keeps the adjacency replication factor at √numParts at scale.
    */
  def triangleCounts(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val (e, owns) = persistEdges(edges)
    val g = fromEdges(e)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
    val tc = org.apache.spark.graphx.lib.TriangleCount.run(g)
    val res = tc.vertices.filter(_._2 > 0)
      .join(g.vertices.map(identity))
      .map { case (_, (n, soul)) => (soul, n.toLong) }
      .toDF("soul", "n_triangles")
    materializeAndRelease(res, e, owns, g, tc)
  }

  /** Degree-oriented wedge enumeration ("compact-forward") on
    * DataFrames — same contract as [[triangleCounts]], bit-identical
    * output (equivalence spec). Orients every canonical edge from its
    * (degree, id)-smaller endpoint, self-joins oriented edges on the
    * apex to enumerate wedges, closes each wedge against the oriented
    * edge set: one row per triangle at its order-minimal apex, join-key
    * fan-out bounded by the graph degeneracy, every shuffled row three
    * hashed longs through whole-stage codegen. The right plan for
    * SPARSE / low-degeneracy graphs; on dense near-clique families it
    * must materialize every triangle (O(k³) rows per k-clique) and
    * loses to the set-intersection form — measured 78.4 s / 3.6 GB vs
    * 21.1 s / 2.0 GB on the sf10 dup-pair graph (SCALE_r13 §3a), which
    * is why it is not the default for the dedup queries.
    */
  def triangleCountsWedge(spark: SparkSession, edges: DataFrame): DataFrame = {
    val (e, owns) = persistEdges(edges)
    // hashed 64-bit vertex ids, as fromEdges (souls rejoined post-agg)
    val verts = e.select(col("src").as("soul"))
      .unionByName(e.select(col("dst").as("soul")))
      .distinct()
      .select(xxhash64(col("soul")).as("id"), col("soul"))
    val canon = e.select(
        least(xxhash64(col("src")), xxhash64(col("dst"))).as("a"),
        greatest(xxhash64(col("src")), xxhash64(col("dst"))).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = canon.select(col("a").as("v"))
      .unionByName(canon.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // (d, id) is a strict total order (ids distinct), so orientation is
    // acyclic and each triangle has one apex
    val oriented = canon
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), Seq("a"))
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    oriented.count() // pin before the three downstream scans race
    // wedges at apex u, (v, w) in orientation order — so the closing
    // v–w edge, if present, is oriented v→w
    val wedges = oriented
      .join(oriented.select(col("u"), col("v").as("w"), col("dv").as("dw")), Seq("u"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
      .select(col("u"), col("v"), col("w"))
    val closing = oriented.select(col("u").as("v"), col("v").as("w"))
    val counts = wedges.join(closing, Seq("v", "w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    val res = counts.join(verts, Seq("id"))
      .select(col("soul"), col("n_triangles"))
    val out = materializeAndRelease(res, e, owns)
    oriented.unpersist(blocking = false)
    out
  }


  /** Multi-hop reachability from a set of source souls along edge
    * direction, via Pregel BFS. Returns (soul, hops) for every reached
    * vertex (hops = shortest hop count, sources at 0).
    */
  // Round 20 measured A/B (OPTIMIZATION_r20.md): a DataFrame frontier-BFS
  // loop (per-level join + distinct + anti-join + localCheckpoint +
  // isEmpty action) LOST to this Pregel form — graph_reach_asia
  // 3.1 → 4.0 s same box, same day. Data-dependent termination forces an
  // action + materialization per level in the relational loop; Pregel
  // pays no such barrier. Kept on GraphX for that measured reason (see
  // connectedComponents above for the family-wide rule).
  def reachable(spark: SparkSession, edges: DataFrame, sources: Set[String]): DataFrame = {
    import spark.implicits._
    val (e, owns) = persistEdges(edges)
    val g = fromEdges(e)
    val srcIds = soulIdDf(spark, sources.toSeq).values.toSet
    val init = g.mapVertices((id, _) => if (srcIds.contains(id)) 0 else Int.MaxValue)
    val bfs = init.pregel(Int.MaxValue)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    val res = bfs.vertices.filter(_._2 != Int.MaxValue)
      .join(g.vertices.map(identity))
      .map { case (_, (hops, soul)) => (soul, hops.toLong) }
      .toDF("soul", "hops")
    materializeAndRelease(res, e, owns, g, init, bfs)
  }
}
