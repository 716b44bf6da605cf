package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Stream-stream joins — the one Structured Streaming join family not
  * exercised elsewhere in the suite (SURVEY §2 "Streaming"). Two
  * watermarked streams joined on an equi-key PLUS an event-time interval
  * (the ad-impression/click shape): Spark co-partitions both sides on
  * the key and keeps per-key state only for the interval range allowed
  * by the watermark — state is bounded by (watermark delay + interval),
  * not by stream length, which is what lets the operator run forever at
  * 100 TB/day. Covers: in-interval match, out-of-interval non-match,
  * watermark-based late drop (state already evicted), and the left-outer
  * null emission once the watermark passes a row's join window.
  */
final case class Imp(ad: String, its: java.sql.Timestamp)
final case class Clk(cad: String, cts: java.sql.Timestamp)

class StreamStreamJoinSpec extends SparkSuite with TimeLimitedTests {
  // slowest test on a 4-vCPU host in a full tier-1 run: 2.3 s; the limit
  // is 26x that, room for a session start (14 s) and a 2-3x slower host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private val T0 = 1700000000000L
  private def ts(second: Int) = new java.sql.Timestamp(T0 + second * 1000L)

  test("interval inner join: clicks within 10s of their impression") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Imp]
    val clks = MemoryStream[Clk]
    val joined = imps.toDS().withWatermark("its", "20 seconds")
      .join(clks.toDS().withWatermark("cts", "20 seconds"),
        expr("ad = cad AND cts >= its AND cts <= its + interval 10 seconds"))
      .select($"ad", unix_millis($"its").as("i"), unix_millis($"cts").as("c"))
    val q = joined.writeStream
      .format("memory").queryName("ss_inner").outputMode("append").start()
    try {
      imps.addData(Imp("a", ts(0)), Imp("b", ts(5)))
      clks.addData(Clk("a", ts(4)), Clk("a", ts(10)), // in-window + boundary
        Clk("a", ts(20)),                             // outside interval
        Clk("b", ts(3)))                              // before the impression
      q.processAllAvailable()
      val rows = spark.sql("SELECT ad, i, c FROM ss_inner").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows === Set(
        ("a", T0, T0 + 4000L),
        ("a", T0, T0 + 10000L)))
    } finally q.stop()
  }

  test("late click beyond the watermark finds evicted state: no match") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Imp]
    val clks = MemoryStream[Clk]
    val joined = imps.toDS().withWatermark("its", "20 seconds")
      .join(clks.toDS().withWatermark("cts", "20 seconds"),
        expr("ad = cad AND cts >= its AND cts <= its + interval 10 seconds"))
      .select($"ad", unix_millis($"cts").as("c"))
    val q = joined.writeStream
      .format("memory").queryName("ss_late").outputMode("append").start()
    try {
      // batch 1: both sides advance event time to 200s →
      // watermark = 200 - 20 = 180s; impression state for t=0 (join
      // window ends at 10s) is evicted.
      imps.addData(Imp("a", ts(0)), Imp("z", ts(200)))
      clks.addData(Clk("z", ts(300))) // no interval match, advances time
      q.processAllAvailable()
      // batch 2: a click at 5s — inside impression a's interval but far
      // behind the watermark → dropped, no output row.
      clks.addData(Clk("a", ts(5)))
      q.processAllAvailable()
      val matched = spark.sql("SELECT ad FROM ss_late WHERE ad = 'a'").count()
      assert(matched === 0L)
    } finally q.stop()
  }

  test("left outer: unmatched impression emits a null click after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[Imp]
    val clks = MemoryStream[Clk]
    val joined = imps.toDS().withWatermark("its", "10 seconds")
      .join(clks.toDS().withWatermark("cts", "10 seconds"),
        expr("ad = cad AND cts >= its AND cts <= its + interval 10 seconds"),
        "leftOuter")
      .select($"ad", unix_millis($"its").as("i"), $"cts")
    val q = joined.writeStream
      .format("memory").queryName("ss_outer").outputMode("append").start()
    try {
      imps.addData(Imp("a", ts(0)), Imp("b", ts(1)))
      clks.addData(Clk("a", ts(4)))
      q.processAllAvailable()
      // advance both watermarks well past b's join window (1+10s) + delay
      imps.addData(Imp("z", ts(100)))
      clks.addData(Clk("y", ts(100)))
      q.processAllAvailable()
      // outer-null eviction can land one micro-batch after the watermark
      // update — push one more advancing batch through deterministically
      imps.addData(Imp("z2", ts(120)))
      clks.addData(Clk("y2", ts(120)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT ad, i, cts FROM ss_outer").collect()
        .map(r => (r.getString(0), r.getLong(1), Option(r.get(2)).isDefined))
      assert(rows.toSet.contains(("a", T0, true)))       // matched pair
      assert(rows.toSet.contains(("b", T0 + 1000L, false))) // null-click row
    } finally q.stop()
  }
}
