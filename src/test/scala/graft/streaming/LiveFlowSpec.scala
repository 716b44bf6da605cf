package graft.streaming

import graft.SparkSuite
import graft.core.{GunCell, GunValue}
import graft.graph.Graft
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The reference's full user story across the engine's layers: a scoped
  * `put` (gun/scoped_put.go) lands in the session store AND publishes to
  * the update stream (the Graft publisher hook = the broadcast step);
  * a `Fetch`-style subscriber arriving later first receives the current
  * value, then each live transition (gun/scoped_fetch.go:98-110).
  */
class LiveFlowSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 2.8 s; the limit
  // is 21x that, room for a shared host that runs 2-3x slower
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  test("put → publish → late subscriber sees snapshot, then live updates") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[GunCell]
    var now = 1.7e12
    var seq = 0L
    val g = new Graft(spark, Nil, () => now,
      () => { seq += 1; s"L$seq" },
      cells => in.addData(cells: _*))

    g.scoped("app", "room", "topic").put(GunValue.string("hello"))
    val roomSoul = g.scoped("app", "room").soul().get

    // subscribe AFTER the write — snapshot must deliver "hello" first
    val sub = HamStream.subscribeWithSnapshot(
      g.store.as[GunCell],
      HamStream.updates(in.toDS(), timers = false),
      roomSoul, "topic")
    val q = sub.writeStream
      .format("memory").queryName("live_flow").outputMode("append").start()
    try {
      q.processAllAvailable()
      def values() = spark.sql("SELECT value.str FROM live_flow ORDER BY state")
        .collect().map(_.getString(0)).toSeq
      assert(values() == Seq("hello"))

      now += 1000 // later wall-clock for the second write
      g.scoped("app", "room", "topic").put(GunValue.string("world"))
      q.processAllAvailable()
      assert(values() == Seq("hello", "world"))
      // and the session store agrees with what subscribers saw
      val r = g.scoped("app", "room", "topic").fetchOne()
      assert(r.value.contains(GunValue.string("world")))
    } finally q.stop()
  }
}
