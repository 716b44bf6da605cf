package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Bench spans and Spark job attribution for the traced run.
  *
  * A span is a named, timed region of the bench's own code: name, start,
  * end (ms since the run started), parent span id and run id. Spans live
  * in memory and are written once, at exit. While a span is open the bench
  * sets the calling thread's Spark job group to the span id, so the job
  * listener can attribute every job to the innermost enclosing span.
  *
  * With tracing off `apply` only runs its body: no job group is set and no
  * listener is registered, so the untraced run measures the program alone.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double)

final class Trace(val on: Boolean, sc: SparkContext, val runId: String) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  /** Nanoseconds spent in span bookkeeping and listener callbacks. */
  val overheadNanos = new AtomicLong(0)
  /** The timed window in ms since the run started; per-layer metrics count
    * only the spans and jobs that start inside it, not warm-up or checks
    * after it.
    */
  var windowMs: (Double, Double) = (0.0, Double.NaN)

  def setWindow(startNanos: Long, endNanos: Long): Unit =
    windowMs = ((startNanos - t0Nanos) / 1e6, (endNanos - t0Nanos) / 1e6)

  val jobs: Option[JobListener] =
    if (on) { val l = new JobListener(t0Epoch, overheadNanos); sc.addSparkListener(l); Some(l) }
    else None

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val o0 = System.nanoTime()
      val id = nextId.incrementAndGet().toInt
      val outer = stack.get()
      stack.set((id, name) :: outer)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val start = System.nanoTime()
      overheadNanos.addAndGet(start - o0)
      try body
      finally {
        val end = System.nanoTime()
        stack.set(outer)
        outer match {
          case (pid, pname) :: _ => sc.setJobGroup(pid.toString, pname, interruptOnCancel = false)
          case Nil               => sc.clearJobGroup()
        }
        spans.synchronized {
          spans += Span(id, name, outer.headOption.map(_._1).getOrElse(0),
            (start - t0Nanos) / 1e6, (end - t0Nanos) / 1e6)
        }
        overheadNanos.addAndGet(System.nanoTime() - end)
      }
    }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)

  def spansJson: String = Json.arr(spanList.map(s => Json.obj(
    "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
    "start" -> Json.num(s.startMs), "end" -> Json.num(s.endMs), "run" -> Json.str(runId))))
}

/** Per-job Spark work, keyed by the job group the bench set (a span id). */
final class JobListener(t0Epoch: Long, overhead: AtomicLong) extends SparkListener {
  final class Job(val id: Int, val group: String, val startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var peakExecB = 0L
  }
  private val byId = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    overhead.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    byId.put(e.jobId, new Job(e.jobId, group, (e.time - t0Epoch).toDouble))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(byId.get(e.jobId)).foreach(_.endMs = (e.time - t0Epoch).toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(byId.get(j)))
      .foreach(j => j.synchronized(j.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(byId.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExecB = j.peakExecB max m.peakExecutionMemory
        }
      }
    }
  }

  /** Wait (bounded) until every started job has ended on the listener bus. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (byId.values.asScala.exists(_.endMs.isNaN) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task/stage events of the last job
  }

  def json: String = Json.arr(byId.values.asScala.toSeq.sortBy(_.id).map(j => j.synchronized {
    Json.obj("id" -> Json.num(j.id), "group" -> Json.str(j.group),
      "start" -> Json.num(j.startMs), "end" -> Json.num(j.endMs),
      "stages" -> Json.num(j.stages), "tasks" -> Json.num(j.tasks),
      "cpu_ns" -> Json.num(j.cpuNs), "gc_ms" -> Json.num(j.gcMs),
      "shuffle_write_b" -> Json.num(j.shuffleWriteB), "spill_b" -> Json.num(j.spillB),
      "peak_exec_b" -> Json.num(j.peakExecB))
  }))
}
