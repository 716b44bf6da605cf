package graft

import graft.core.{GunCell, GunValue}
import graft.streaming.{HamStream, StoreFs, SubscriptionHub}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Subscription-scale benchmark — the cost model behind the reference's
  * listener registry (gun/gun.go:349-359: N listeners share one ingest
  * loop, so a subscription is a map insert). The engine offers both
  * shapes; this bench prices them against each other:
  *
  *   - PER-QUERY: [[HamStream.subscribe]] per subscriber — each is its
  *     own Structured Streaming query (own trigger loop, checkpoint,
  *     state store). Honest, isolated, and linearly expensive in N.
  *   - HUB: [[SubscriptionHub]] — ONE streaming query, N in-memory
  *     listeners routed per batch. The reference's model; a listener is
  *     a registry insert, so marginal cost per subscription ≈ 0.
  *
  * Workload: `waves` waves over `souls` keys (one update per key per
  * wave, strictly increasing states — every update is a real transition),
  * subscribers spread over the key space, run until every subscriber saw
  * every one of its transitions. Reported per leg: setup seconds (time
  * to register/start N subscriptions) and steady-state seconds (wave
  * delivery). Per-query N is capped (default 10) — the point of the
  * curve is the per-subscription slope, and 100 queries would take
  * minutes just to start, which IS the finding.
  *
  * Output: one JSON line + SUB_BENCH.json (SPARK_GRAFT_SUB_FILE).
  */
object SubBench {

  final case class LegStats(n: Int, setupSec: Double, deliverSec: Double)

  private def legJs(l: LegStats): String =
    s"""{"n":${l.n},"setup_sec":${f"${l.setupSec}%.2f"},""" +
      s""""deliver_sec":${f"${l.deliverSec}%.2f"}}"""

  /** Hub leg: one query, `n` listeners. */
  def runHub(spark: SparkSession, n: Int, souls: Int, waves: Int): LegStats = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[GunCell]
    val expected = new java.util.concurrent.atomic.AtomicLong(0)
    val delivered = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val hub = new SubscriptionHub(HamStream.updates(in.toDS(), timers = false))
    val subs = (0 until n).map { i =>
      hub.subscribe(f"s${i % souls}%05d", "f0")(_ => delivered.incrementAndGet())
    }
    val setup = (System.nanoTime() - t0) / 1e9
    try {
      val base = System.currentTimeMillis() - 60000L
      // every wave transitions every soul: each subscriber sees `waves`
      val perWaveDeliveries = n.toLong
      val t1 = System.nanoTime()
      for (w <- 0 until waves) {
        in.addData((0 until souls).map(s =>
          GunCell(f"s$s%05d", "f0", GunValue.string(s"v$w"), (base + w).toDouble)))
        expected.addAndGet(perWaveDeliveries)
        hub.query.processAllAvailable()
      }
      val deadline = System.currentTimeMillis() + 60000L
      while (delivered.get < expected.get && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      val deliver = (System.nanoTime() - t1) / 1e9
      require(delivered.get == expected.get,
        s"hub n=$n delivered ${delivered.get}/${expected.get}")
      LegStats(n, setup, deliver)
    } finally {
      subs.foreach(_.close())
      hub.query.stop()
    }
  }

  /** Delivery counter for the executor-sink leg: a JVM-static LongAdder
    * (driver and executors share the JVM at local[*]; on a cluster the
    * sink would push to an external system instead).
    */
  object ExecCounter {
    val n = new java.util.concurrent.atomic.LongAdder
  }
  private final class CountingSink extends SubscriptionHub.ExecutorSink {
    override def deliver(u: HamStream.Update): Unit = ExecCounter.n.increment()
  }

  /** Fat-payload, high-match hub leg at elevated volume: every soul has a
    * listener, every update carries `payloadBytes` of value — the
    * workload where funneling matched payloads through one driver
    * collect loop stops being free. `executor = true` routes delivery
    * through [[SubscriptionHub.ExecutorSink]] (foreachPartition on the
    * executors, payloads never cross to the driver); `false` is the
    * standard driver-collect path over the identical workload.
    */
  def runHubDelivery(
      spark: SparkSession,
      souls: Int,
      waves: Int,
      payloadBytes: Int,
      executor: Boolean): LegStats = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[GunCell]
    val delivered = new java.util.concurrent.atomic.AtomicLong(0)
    ExecCounter.n.reset()
    val t0 = System.nanoTime()
    val hub = new SubscriptionHub(
      HamStream.updates(in.toDS(), timers = false),
      executorSink = if (executor) Some(new CountingSink) else None)
    val subs = (0 until souls).map { s =>
      hub.subscribe(f"s$s%05d", "f0")(_ => delivered.incrementAndGet())
    }
    val setup = (System.nanoTime() - t0) / 1e9
    try {
      val base = System.currentTimeMillis() - 60000L
      val pad = "x" * payloadBytes
      val expected = souls.toLong * waves
      val t1 = System.nanoTime()
      for (w <- 0 until waves) {
        in.addData((0 until souls).map(s =>
          GunCell(f"s$s%05d", "f0", GunValue.string(s"v$w-$pad"),
            (base + w).toDouble)))
        hub.query.processAllAvailable()
      }
      def seen: Long = if (executor) ExecCounter.n.sum else delivered.get
      val deadline = System.currentTimeMillis() + 120000L
      while (seen < expected && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      val deliver = (System.nanoTime() - t1) / 1e9
      require(seen == expected,
        s"delivery(executor=$executor) saw $seen/$expected")
      LegStats(souls, setup, deliver)
    } finally {
      subs.foreach(_.close())
      hub.query.stop()
    }
  }

  /** Per-query leg: `n` independent [[HamStream.subscribe]] queries over
    * one shared update stream.
    */
  def runPerQuery(spark: SparkSession, n: Int, souls: Int, waves: Int): LegStats = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[GunCell]
    val updates = HamStream.updates(in.toDS(), timers = false)
    val delivered = new java.util.concurrent.atomic.AtomicLong(0)
    StoreFs.forkFreeCheckpoints(spark)
    val t0 = System.nanoTime()
    val queries = (0 until n).map { i =>
      HamStream.subscribe(updates, f"s${i % souls}%05d", "f0")
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[HamStream.Update], _: Long) =>
          delivered.addAndGet(b.count())
          ()
        }
        .start()
    }
    val setup = (System.nanoTime() - t0) / 1e9
    try {
      val base = System.currentTimeMillis() - 60000L
      var expected = 0L
      val t1 = System.nanoTime()
      for (w <- 0 until waves) {
        in.addData((0 until souls).map(s =>
          GunCell(f"s$s%05d", "f0", GunValue.string(s"v$w"), (base + w).toDouble)))
        expected += n.toLong
        queries.foreach(_.processAllAvailable())
      }
      val deadline = System.currentTimeMillis() + 120000L
      while (delivered.get < expected && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      val deliver = (System.nanoTime() - t1) / 1e9
      require(delivered.get == expected,
        s"per-query n=$n delivered ${delivered.get}/$expected")
      LegStats(n, setup, deliver)
    } finally queries.foreach(_.stop())
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SUB_FILE", "SUB_BENCH.json")
    val souls = sys.env.getOrElse("SPARK_GRAFT_SUB_SOULS", "50").toInt
    val waves = sys.env.getOrElse("SPARK_GRAFT_SUB_WAVES", "5").toInt
    val hubNs = sys.env.getOrElse("SPARK_GRAFT_SUB_HUB_NS", "1,10,100,500")
      .split(",").map(_.trim.toInt).toSeq
    val pqNs = sys.env.getOrElse("SPARK_GRAFT_SUB_PQ_NS", "1,5,10")
      .split(",").map(_.trim.toInt).toSeq

    def fresh[A](run: SparkSession => A): A = {
      val spark = Bench.newSession(cpus)
      spark.sparkContext.setLogLevel("WARN")
      try run(spark) finally spark.stop()
    }

    val hub = hubNs.map(n => fresh(runHub(_, n, souls, waves)))
    val perQuery = pqNs.map(n => fresh(runPerQuery(_, n, souls, waves)))
    // driver vs executor delivery at 10× update volume + 2 KiB payloads,
    // all-match (one listener per soul)
    val fatSouls = sys.env.getOrElse("SPARK_GRAFT_SUB_FAT_SOULS",
      (souls * 10).toString).toInt
    val fatPayload = sys.env.getOrElse("SPARK_GRAFT_SUB_FAT_PAYLOAD", "2048").toInt
    val fatDriver = fresh(runHubDelivery(_, fatSouls, waves, fatPayload,
      executor = false))
    val fatExecutor = fresh(runHubDelivery(_, fatSouls, waves, fatPayload,
      executor = true))

    val json =
      s"""{"metric":"sub_hub_marginal_sec_per_sub","value":${
        f"${
          if (hub.length > 1)
            (hub.last.deliverSec - hub.head.deliverSec) /
              (hub.last.n - hub.head.n) max 0.0
          else 0.0
        }%.4f"
      },"unit":"sec/subscription","souls":$souls,"waves":$waves,""" +
        s""""hub":[${hub.map(legJs).mkString(",")}],""" +
        s""""per_query":[${perQuery.map(legJs).mkString(",")}],""" +
        s""""fat_payload_bytes":$fatPayload,""" +
        s""""hub_driver_10x":${legJs(fatDriver)},""" +
        s""""hub_executor_10x":${legJs(fatExecutor)}}"""
    println(json)
    try Files.writeString(Paths.get(outFile), json)
    catch { case e: Exception => System.err.println(s"[sub-bench] write failed: $e") }
  }
}
