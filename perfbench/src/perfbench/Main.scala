package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One workload run in one JVM. Writes a raw JSON record (latency samples,
  * set-up times, checks, and with tracing the spans and per-job Spark
  * work) to `--out`; `perfbench/run.py` turns it into metrics.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --out <file> [--data <dir>] [--expected <file>] [--dump <file>]
  *
  * `--dump` writes the workload's generated inputs for the seed and exits.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, out: String,
      data: String, expected: String, dump: Option[String])

  /** The workload's timed body and raw record fields beyond the outcome. */
  final case class Result(setupS: Seq[Double], windowS: Double, out: Outcome,
      trace: Trace, cpuS: Double, retainedHeapMb: Double, extra: Seq[(String, String)] = Nil)

  val Workloads = Seq("batch_analytics", "gun_session", "gun_ingest")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w'")
    Args(w, need("seed").toLong, m.getOrElse("seconds", "1").toInt,
      m.getOrElse("trace", "0") == "1", m.getOrElse("out", ""),
      m.getOrElse("data", ""), m.getOrElse("expected", ""), m.get("dump"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** A fresh local session sized to the host; stops any previous one. */
  def session(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  /** Set-ups per run. The first also pays class loading and JIT warm-up,
    * so `setup_s` is the median of the others.
    */
  val SetupRuns = 4

  /** Run `setup` `SetupRuns` times, timing each; the last set-up's state is
    * kept (`setup` is told whether it is the last).
    */
  def setups[S](setup: Boolean => S): (Seq[Double], S) = {
    var last: Option[S] = None
    val ts = (1 to SetupRuns).map { i =>
      val t = System.nanoTime()
      last = Some(setup(i == SetupRuns))
      secondsSince(t)
    }
    (ts, last.get)
  }

  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** CPU seconds the host has stolen from this VM so far, over all CPUs
    * (the steal column of Linux's /proc/stat, in 10 ms ticks); 0 where
    * the file is not there.
    */
  def hostStealS: Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
      finally f.close()
    } catch { case _: java.io.IOException => 0.0 }

  /** Heap still in use after a full collection: what the run retains.
    * Call it at the end of the window, while the workload's state is live.
    * Spark frees the blocks of unreachable RDDs and checkpoints only after
    * a collection has found them, from its cleaner thread, so this takes
    * the least of three collections 300 ms apart.
    */
  def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      val mb = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
        .map(_.getCollectionUsage.getUsed).sum / 1048576.0
      Thread.sleep(300)
      mb
    }.min

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(argv: Array[String]): Unit = {
    val status =
      try { runMain(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Non-daemon helper threads (socket readers, stream executors) must
    // not keep the JVM alive once the record is written.
    System.exit(status)
  }

  private def runMain(a: Args): Unit = {
    a.dump match {
      case Some(path) =>
        val text = a.workload match {
          case "gun_session" => Session.dump(a.seed)
          case "gun_ingest"  => Ingest.dump(a.seed)
          case other         => throw new IllegalArgumentException(s"$other has no JVM-side inputs")
        }
        Files.write(Paths.get(path), text.getBytes(UTF_8))
      case None =>
        require(a.out.nonEmpty, "missing --out")
        val r = a.workload match {
          case "batch_analytics" => Batch.run(a)
          case "gun_session"     => Session.run(a)
          case "gun_ingest"      => Ingest.run(a)
        }
        r.trace.jobs.foreach(_.drain())
        val record = Json.obj(Seq(
          "workload" -> Json.str(a.workload),
          "seed" -> Json.num(a.seed),
          "cores" -> Json.num(cores.toLong),
          "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
          "setup_s" -> Json.nums(r.setupS),
          "window_s" -> Json.num(r.windowS),
          "process_cpu_s" -> Json.num(r.cpuS),
          "peak_rss_mb" -> Json.num(peakRssMb),
          "retained_heap_mb" -> Json.num(r.retainedHeapMb),
          "outcome" -> r.out.json,
          "trace_overhead_ns" -> Json.num(r.trace.overheadNanos.get),
          "window_ms" -> Json.nums(Seq(r.trace.windowMs._1, r.trace.windowMs._2)),
          "spans" -> (if (r.trace.on) r.trace.spansJson else "[]"),
          "jobs" -> r.trace.jobs.map(_.json).getOrElse("[]")) ++ r.extra: _*)
        Files.write(Paths.get(a.out), (record + "\n").getBytes(UTF_8))
        SparkSession.getActiveSession.foreach(_.stop())
    }
  }
}
