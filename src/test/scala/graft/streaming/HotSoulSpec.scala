package graft.streaming

import graft.SparkSuite
import graft.core.GunValue
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The viral-soul scenario for the bucketed store (the storage analogue of
  * DedupSkewSpec's viral band key): one soul carries 30% of the corpus as
  * distinct fields — an unbounded-fan-in hot node (a celebrity profile,
  * a global counter object). Under soul-only bucketing ALL of its cells
  * hash to one `bucket=N/` directory, so every fold of that bucket
  * rewrites O(soul size); bucketing by the full (soul, field) cell key
  * spreads the hot soul uniformly, bounding any bucket's fold at
  * ≈ store/numBuckets while point reads still prune to one bucket.
  */
class HotSoulSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 3.7 s; the limit
  // is 16x that, room for a first suite that starts the session and for a
  // shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._
  import HamStream.Update

  private val NumBuckets = 16

  // 300 of 1000 cells live on ONE soul (distinct fields); the other 700
  // are one-field souls.
  private def corpus: Seq[Update] =
    (1 to 300).map(i =>
      Update("viral", s"field$i", GunValue.number(i.toLong), 1000)) ++
      (1 to 700).map(i =>
        Update(s"soul$i", "f", GunValue.number(i.toLong), 1000))

  test("viral soul spreads across buckets; per-bucket rewrite stays bounded") {
    val dir = java.nio.file.Files.createTempDirectory("hot_soul").toString + "/cells"
    HamStream.appendBatchIntoStore(corpus.toDS(), 0L, dir, NumBuckets)
    StoreFiles.fold(spark, dir)

    // bucket comes back as int (partition-column type inference)
    val byBucket = spark.read.parquet(dir)
      .groupBy("bucket").count()
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val avg = byBucket.values.sum.toDouble / NumBuckets
    // uniform-ish occupancy: no bucket concentrates the hot soul (under
    // soul-bucketing one bucket held 300+ rows ≈ 5x the 62.5 average)
    assert(byBucket.values.max < 2.5 * avg,
      s"hot bucket: max=${byBucket.values.max}, avg=$avg")
    // the viral soul's own cells span most of the bucket space
    val viralBuckets = spark.read.parquet(dir)
      .filter(col("soul") === "viral")
      .select("bucket").distinct().count()
    assert(viralBuckets >= NumBuckets / 2, s"viral soul in $viralBuckets buckets")

    // a later batch updating ONE field of the hot soul adds one level-0
    // file, and its fold rewrites only the key's bucket, a near-average
    // bucket, not the whole soul's footprint
    HamStream.appendBatchIntoStore(
      Seq(Update("viral", "field1", GunValue.number(9999L), 2000)).toDS(),
      1L, dir, NumBuckets, compactThreshold = 0)
    val touched = s"bucket=${HamStream.bucketIdOf("viral", "field1", NumBuckets)}"
    assert(StoreFiles.level0(dir).map(_.getName) == Seq("delta-b1.parquet"))
    def touchedRows() = spark.read.parquet(s"$dir/$touched").count()
    val folded = touchedRows() + 1 // the bucket base and the level-0 row
    assert(folded < 150, s"fold scope $folded rows (soul size is 300)")
    val before = StoreFiles.buckets(dir)
    HamStream.compactBuckets(spark, dir, StoreFiles.level0Paths(dir), Nil,
      nowMs = 0.0, ttlMs = Double.PositiveInfinity)
    val after = StoreFiles.buckets(dir)
    assert(after.keySet == before.keySet)
    val rewritten = after.keySet.filter(b => after(b) != before(b))
    assert(rewritten == Set(touched), s"the fold rewrote $rewritten")
    assert(touchedRows() == folded - 1, "the fold collapses field1's two generations")

    // correctness: the point read still finds the updated cell in one bucket
    val hit = HamStream.fetchFromStore(spark, dir, "viral", "field1", NumBuckets)
    assert(hit.valueExists && hit.value.contains(GunValue.number(9999L)))
  }
}
