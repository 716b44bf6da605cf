package graft.graph

import graft.SparkSuite
import graft.core.{CanonicalJson, GunCell, GunValue, Ham}
import graft.operators.HamMergeReference
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The session store's bucket merge ([[Graft]] over [[Ham.mergeBatch]])
  * must reproduce the DataFrame reference, [[HamMergeReference.merge]] and
  * [[HamMergeReference.applyDeferred]], cell for cell: the same store and the same
  * deferred cells for generated stores and batches that mix present,
  * stale, future and equal-state-tie cells, null values, and several
  * future cells for one unseen key. The pairwise merge both rest on must
  * be a CRDT join (ROADMAP direction 5).
  */
class BucketMergePropertySpec extends SparkSuite with TimeLimitedTests {
  import spark.implicits._

  // slowest test on a 4-vCPU host in a full tier-1 run: 18.4 s (25 merge cases); the limit
  // is 9.8x that, room for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(180, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  private val Sys = 10000.0

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  // Canonical JSON is injective over these values (strings carry no
  // digits, numbers are digits), so an equal-state tie always has one
  // winner and the reference's max_by and the bucket merge cannot differ
  // by which of two equal keys they keep.
  private val genString: Gen[String] =
    Gen.listOfN(3, Gen.oneOf("", "a", "b", "Z", "<", "&", "\n", "\"", "é", "漢")).map(_.mkString)
  private val genValue: Gen[GunValue] = Gen.frequency(
    1 -> Gen.const(GunValue.nullValue),
    4 -> genString.map(GunValue.string),
    2 -> Gen.chooseNum(0L, 99L).map(GunValue.number),
    1 -> Gen.oneOf(true, false).map(GunValue.bool),
    1 -> Gen.oneOf("r1", "r2").map(GunValue.relation))
  // few states, so stale, present, future and equal-state ties all occur
  private val genState: Gen[Double] = Gen.oneOf(-20.0, -10.0, 0.0, 10.0, 20.0).map(Sys + _)
  private val keys = for (s <- 0 until 5; f <- 0 until 3) yield (s"s$s", s"f$f")
  private val genCell: Gen[GunCell] = for {
    (soul, field) <- Gen.oneOf(keys)
    v <- genValue
    st <- genState
  } yield GunCell(soul, field, v, st)

  /** (store, batch) */
  private val genCase: Gen[(Seq[GunCell], Seq[GunCell])] = for {
    stored <- Gen.someOf(keys)
    store <- Gen.sequence[Seq[GunCell], GunCell](stored.map { case (s, f) =>
      for (v <- genValue; st <- genState) yield GunCell(s, f, v, st) })
    batch <- Gen.listOfN(10, genCell)
    // several future cells for one key no store or batch has seen yet
    unseen <- Gen.listOfN(2, genValue.map(v => GunCell("fresh", "f", v, Sys + 10)))
    withUnseen <- Gen.oneOf(true, false)
  } yield (store, batch ++ (if (withUnseen) unseen else Nil))

  private def sorted(cells: Seq[GunCell]): Seq[GunCell] =
    cells.sortBy(c => (c.soul, c.field, c.state, CanonicalJson.encode(c.value)))
  private def cellsOf(df: DataFrame): Seq[GunCell] = sorted(df.as[GunCell].collect().toSeq)

  test("bucket merge and applyDeferred equal HamMerge.merge and applyDeferred") {
    var deferredSeen, unseenFutureApplied, ties = 0
    samples(genCase, 25, 300L).zipWithIndex.foreach { case ((store, batch), i) =>
      var now = Sys
      val g = new Graft(spark, store, () => now)
      g.putCells(batch)
      val (refStore, refDeferred) = HamMergeReference.merge(store.toDF(), batch.toDF(), Sys)
      val (wantStore, wantDeferred) = (cellsOf(refStore), cellsOf(refDeferred))
      assert(cellsOf(g.store) == wantStore, s"case $i: store")
      assert(cellsOf(g.deferred) == wantDeferred, s"case $i: deferred")

      // matures the deferred cells at Sys + 10, keeps those at Sys + 20
      now = Sys + 15
      g.applyDeferred()
      val (refApplied, refStill) = HamMergeReference.applyDeferred(
        wantStore.toDF(), wantDeferred.toDF(), now)
      assert(cellsOf(g.store) == cellsOf(refApplied), s"case $i: applied store")
      assert(cellsOf(g.deferred) == cellsOf(refStill), s"case $i: still deferred")

      deferredSeen += wantDeferred.size
      if (wantStore.exists(s => s.soul == "fresh" && s.state > Sys)) unseenFutureApplied += 1
      ties += batch.count(b => store.exists(s =>
        s.soul == b.soul && s.field == b.field && s.state == b.state && s.value != b.value))
    }
    // the generator reached every rule the merge has
    assert(deferredSeen > 0 && unseenFutureApplied > 0 && ties > 0)
  }

  private lazy val cellPool: Seq[GunCell] =
    samples(genCell.map(_.copy(soul = "s", field = "f")), 60, 900L)

  test("Ham.mergeCells is commutative, associative and idempotent") {
    for (x <- cellPool; y <- cellPool) {
      assert(Ham.mergeCells(x, y) == Ham.mergeCells(y, x))
    }
    for (x <- cellPool.take(20); y <- cellPool.slice(20, 40); z <- cellPool.drop(40)) {
      assert(Ham.mergeCells(Ham.mergeCells(x, y), z) == Ham.mergeCells(x, Ham.mergeCells(y, z)))
    }
    cellPool.foreach(x => assert(Ham.mergeCells(x, x) == x))
  }
}
