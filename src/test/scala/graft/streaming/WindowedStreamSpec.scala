package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** Event-time windowed aggregation with watermark over a cell-update
  * stream — the analytics addition on top of the reference's streaming
  * surface (SURVEY §2 "Streaming": windows/watermarks are free built-ins
  * the reference lacks; late data inside the watermark still merges).
  */
final case class Ev(user: String, ts: java.sql.Timestamp, value: Double)

class WindowedStreamSpec extends SparkSuite with TimeLimitedTests {
  // slowest test on a 4-vCPU host in a full tier-1 run: 0.7 s; the limit
  // is 86x that, room for a session start (14 s) and a 2-3x slower host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs
  import spark.implicits._

  private def ev(user: String, second: Int, v: Double) =
    Ev(user, new java.sql.Timestamp(1700000000000L + second * 1000L), v)

  test("tumbling window counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDS()
      .withWatermark("ts", "30 seconds")
      .groupBy(window($"ts", "10 seconds"), $"user")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
    val q = agg.writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    try {
      in.addData(ev("u1", 1, 1.0), ev("u1", 5, 2.0), ev("u1", 12, 4.0),
        ev("u2", 3, 8.0))
      q.processAllAvailable()
      // late-but-within-watermark event for the first window still lands
      in.addData(ev("u1", 8, 16.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user, unix_millis(window.start) AS ws, n, v FROM win_out")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains(("u1", 1700000000000L, 3L, 19.0))) // 1,5,8s incl. late
      assert(rows.contains(("u1", 1700000010000L, 1L, 4.0)))
      assert(rows.contains(("u2", 1700000000000L, 1L, 8.0)))
    } finally q.stop()
  }
}
