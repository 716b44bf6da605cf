package graft.graph

import graft.SparkSuite

class AnalyticsSpec extends SparkSuite {

  // two components: {a,b,c} and {x,y}
  private lazy val edges = {
    import spark.implicits._
    Seq(("a", "r", "b"), ("b", "r", "c"), ("x", "r", "y"))
      .toDF("src", "field", "dst")
  }

  test("connected components with lexicographic representative") {
    val cc = Analytics.connectedComponents(spark, edges)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cc == Set(("a", 3L), ("x", 2L)))
  }

  test("reachability hop counts along edge direction") {
    val reach = Analytics.reachable(spark, edges, Set("a"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(reach == Set(("a", 0L), ("b", 1L), ("c", 2L)))
  }

  test("pagerank produces a rank per vertex") {
    val pr = Analytics.pageRank(spark, edges, iters = 5).collect()
    assert(pr.length == 5 && pr.forall(_.getDouble(1) > 0))
  }

  test("lattice pagerank on a forest matches the 20^k recurrence") {
    // chain a→b→c: out-degrees all ≤1, so L=1 and the scale is 20^k.
    // By hand (2 iters): n1 = {a:3, b:20, c:20}·… — concretely
    // n1(v) = 3 + 17·Σ n0(u): a=3, b=20, c=20; pow=20, base=60:
    // n2(a)=60, n2(b)=60+17·3=111, n2(c)=60+17·20=400.
    val pr = Analytics.pageRankLattice(spark, edges.filter("src != 'x'"), iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pr == Set(("a", 60L), ("b", 111L), ("c", 400L)))
  }

  test("lattice pagerank: an lcm of out-degrees past Long range throws ArithmeticException") {
    import spark.implicits._
    // vertex v_d has out-degree d, d = 1..43: lcm(1..43) ≈ 9.42e18 > Long.MaxValue,
    // so the distributed lcm fold overflows
    val wide = (1 to 43).flatMap(d => (0 until d).map(j => (s"v$d", "r", s"t$d-$j")))
      .toDF("src", "field", "dst")
    intercept[ArithmeticException](Analytics.pageRankLattice(spark, wide, iters = 1))
    // lcm(1..42) ≈ 2.2e17 fits: the same fold without the degree-43 vertex passes it
    val fits = Analytics.pageRankLattice(spark, wide.filter("src != 'v43'"), iters = 0)
    assert(fits.count() == 42 + (1 to 42).sum)
  }

  test("lattice pagerank: iters whose (20·L)^k passes Long range throws ArithmeticException") {
    // forest, so L = 1 and S_k = 20^k: 20^14 ≈ 1.6e18 fits, 20^15 ≈ 3.3e19 does not
    intercept[ArithmeticException](
      Analytics.pageRankLattice(spark, edges.filter("src != 'x'"), iters = 15))
  }

  test("lattice pagerank generalizes to out-degree > 1 (L = lcm of degrees)") {
    import spark.implicits._
    // a→{b,c}, b→c: degrees a=2, b=1 → L=2, scale (20·2)^k. By hand:
    // weights a→*: L/2=1, b→c: L/1=2. iter1 (base 3L=6): a=6, b=6+17·1=23,
    // c=6+17·(1+2)=57 — i.e. ranks 0.15, 0.575, 1.425 over 40.
    // iter2 (base 3L·40=240): a=240, b=240+17·6=342, c=240+17·(6+46)=1124.
    val multi = Seq(("a", "r", "b"), ("a", "r", "c"), ("b", "r", "c"))
      .toDF("src", "field", "dst")
    val pr = Analytics.pageRankLattice(spark, multi, iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pr == Set(("a", 240L), ("b", 342L), ("c", 1124L)))
  }

  test("triangle counts: one triangle plus a dangling edge") {
    import spark.implicits._
    // triangle a-b-c (mixed edge directions — must canonicalize to
    // undirected) plus pendant edge c-d: a,b,c in 1 triangle, d in none
    val tri = Seq(("a", "r", "b"), ("c", "r", "b"), ("a", "r", "c"),
      ("c", "r", "d")).toDF("src", "field", "dst")
    val counts = Analytics.triangleCounts(spark, tri)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(counts == Set(("a", 1L), ("b", 1L), ("c", 1L)))
  }

  test("triangle counts: 5-clique — every vertex in C(4,2)=6 triangles") {
    import spark.implicits._
    val vs = Seq("a", "b", "c", "d", "e")
    val clique = (for { x <- vs; y <- vs if x < y } yield (x, "r", y))
      .toDF("src", "field", "dst")
    val counts = Analytics.triangleCounts(spark, clique)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(counts == vs.map(_ -> 6L).toSet)
  }

  test("triangle counts: triangle-free graph returns no rows") {
    import spark.implicits._
    val path = Seq(("a", "r", "b"), ("b", "r", "c"), ("c", "r", "d"))
      .toDF("src", "field", "dst")
    assert(Analytics.triangleCounts(spark, path).count() == 0L)
    assert(Analytics.triangleCountsWedge(spark, path).count() == 0L)
  }

  test("triangle counts: wedge-join variant equals GraphX default on a random graph") {
    import spark.implicits._
    // seeded G(40, 140) with duplicate edges, both directions, and
    // self-loops mixed in — the canonicalization surface
    val rnd = new scala.util.Random(7)
    val raw = Seq.fill(140)((s"v${rnd.nextInt(40)}", "r", s"v${rnd.nextInt(40)}"))
      .toDF("src", "field", "dst")
    val wedge = Analytics.triangleCountsWedge(spark, raw)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val gx = Analytics.triangleCounts(spark, raw)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(wedge.nonEmpty && wedge == gx)
  }

  test("label propagation: sync mode label with min-label tie-break") {
    import spark.implicits._
    // triangle a-b-c plus pendant a-d (undirected). By hand:
    // l0 = identity.
    // step1: a sees {b,c,d} all ×1 → min b; b sees {a,c} tie → a;
    //        c sees {a,b} tie → a; d sees {a} → a.
    // step2: a sees labels {a,a,a} → a; b sees {b(from a), a(from c)}
    //        tie → a; c sees {b(from a), a(from b)} tie → a;
    //        d sees {b(from a)} → b.
    val g = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"))
      .toDF("src", "dst")
    val l1 = Analytics.labelPropagation(spark, g, iters = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(l1 == Set(("a", "b"), ("b", "a"), ("c", "a"), ("d", "a")))
    val l2 = Analytics.labelPropagation(spark, g, iters = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(l2 == Set(("a", "a"), ("b", "a"), ("c", "a"), ("d", "b")))
  }
}
