package graft.streaming

import graft.SparkSuite
import graft.core.{GunCell, GunValue}
import graft.streaming.HamStream.Update
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.concurrent.TimeLimitedTests
import org.scalatest.time.{Seconds, Span}

/** The multiplexed listener registry ([[SubscriptionHub]]): N subscribers
  * share ONE streaming query (the reference's cheap-listener model,
  * gun/gun.go:349-359) and each still gets exactly the per-subscription
  * contract — own (soul, field) only, in order, deduped, snapshot-first
  * when requested.
  */
class SubscriptionHubSpec extends SparkSuite with TimeLimitedTests {

  // slowest test on a 4-vCPU host in a full tier-1 run: 1.0 s (100
  // subscribers on one query); the limit is 60x that, room for a first
  // suite that starts the session and a shared host
  val timeLimit: Span = Span(60, Seconds)
  override val defaultTestSignaler = SparkSuite.cancelAllJobs

  test("100 subscribers on one query: each receives its own transitions once") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[GunCell]
    val hub = new SubscriptionHub(HamStream.updates(in.toDS(), timers = false))
    val received =
      new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[String]]()
    try {
      val subs = (0 until 100).map { i =>
        val buf = java.util.Collections.synchronizedList(
          new java.util.ArrayList[String]())
        received.put(i, buf)
        // 50 souls × 2 fields — listeners share souls but not cells
        hub.subscribe(s"soul${i % 50}", s"f${i / 50}") { u =>
          buf.add(u.value.str.get)
        }
      }
      assert(hub.size == 100)

      val base = 1.7e12
      // wave 1: every key gets v1; an unsubscribed soul gets noise
      in.addData((0 until 50).flatMap(s => Seq(
        GunCell(s"soul$s", "f0", GunValue.string(s"a$s-0"), base),
        GunCell(s"soul$s", "f1", GunValue.string(s"a$s-1"), base))) :+
        GunCell("unwatched", "f0", GunValue.string("noise"), base))
      hub.query.processAllAvailable()
      // wave 2: duplicate replay of soul0/f0 (same value+state: deduped)
      // and a real transition on soul1/f0
      in.addData(Seq(
        GunCell("soul0", "f0", GunValue.string("a0-0"), base),
        GunCell("soul1", "f0", GunValue.string("b1"), base + 1000)))
      hub.query.processAllAvailable()

      import scala.jdk.CollectionConverters._
      for (i <- 0 until 100) {
        val s = i % 50
        val f = i / 50
        val expect =
          if (s == 0 && f == 0) Seq("a0-0") // replay deduped
          else if (s == 1 && f == 0) Seq("a1-0", "b1")
          else Seq(s"a$s-$f")
        assert(received.get(i).asScala.toSeq == expect,
          s"subscriber $i (soul$s/f$f)")
      }
      // close unregisters: a further transition is not delivered
      subs.foreach(_.close())
      assert(hub.size == 0)
      in.addData(Seq(GunCell("soul2", "f0", GunValue.string("late"), base + 2000)))
      hub.query.processAllAvailable()
      assert(received.get(2).asScala.toSeq == Seq("a2-0"))
    } finally hub.query.stop()
  }

  test("snapshot-then-stream through the hub (store-seeded, deduped overlap)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val storePath =
      java.nio.file.Files.createTempDirectory("hub_snap").toString + "/store"
    // store already holds the current value (the late-subscriber scenario)
    HamStream.appendBatchIntoStore(
      Seq(Update("room", "topic", GunValue.string("hello"), 1.7e12)).toDS(),
      0L, storePath, numBuckets = 8)
    val in = MemoryStream[GunCell]
    val hub = new SubscriptionHub(HamStream.updates(in.toDS(), timers = false))
    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    try {
      val sub = hub.subscribeWithSnapshot(storePath, "room", "topic", 8) { u =>
        got.add(u.value.str.get)
      }
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq == Seq("hello")) // snapshot delivered first
      // the write that produced the snapshot arrives late on the stream:
      // per-listener dedupe absorbs it; a real transition passes
      in.addData(Seq(
        GunCell("room", "topic", GunValue.string("hello"), 1.7e12),
        GunCell("room", "topic", GunValue.string("world"), 1.7e12 + 1000)))
      hub.query.processAllAvailable()
      assert(got.asScala.toSeq == Seq("hello", "world"))
      sub.close()
    } finally hub.query.stop()
  }

  test("executor-sink delivery: matched payloads delivered on executors, " +
    "unregistered keys filtered, driver callbacks not invoked") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[GunCell]
    SubscriptionHubSpec.execSeen.clear()
    val driverCalls = new java.util.concurrent.atomic.AtomicLong(0)
    val hub = new SubscriptionHub(
      HamStream.updates(in.toDS(), timers = false),
      executorSink = Some(new SubscriptionHubSpec.RecordingSink))
    try {
      val subs = Seq(
        hub.subscribe("soulA", "f0")(_ => driverCalls.incrementAndGet()),
        hub.subscribe("soulB", "f1")(_ => driverCalls.incrementAndGet()))
      val base = 1.7e12
      in.addData(Seq(
        GunCell("soulA", "f0", GunValue.string("va"), base),
        GunCell("soulA", "f9", GunValue.string("wrong-field"), base),
        GunCell("soulB", "f1", GunValue.string("vb"), base),
        GunCell("unwatched", "f0", GunValue.string("noise"), base)))
      hub.query.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = SubscriptionHubSpec.execSeen.asScala.toSet
      assert(got == Set("soulA/f0=va", "soulB/f1=vb"), s"got $got")
      assert(driverCalls.get == 0, "executor mode must not run driver callbacks")
      subs.foreach(_.close())
    } finally hub.query.stop()
  }
}

object SubscriptionHubSpec {
  /** JVM-static capture for the executor-sink test (local[*]: executors
    * share the JVM).
    */
  val execSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]
  final class RecordingSink extends SubscriptionHub.ExecutorSink {
    override def deliver(u: Update): Unit =
      execSeen.add(s"${u.soul}/${u.field}=${u.value.str.get}")
  }
}
