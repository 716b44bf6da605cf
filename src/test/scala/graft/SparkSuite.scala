package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Signaler
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Signaler for `TimeLimitedTests` suites: at the time limit it cancels
    * every running Spark job, so the action the test is blocked on throws
    * and the test fails under its own name with a timeout, instead of a
    * hung job stalling the whole run. Without a session it starts none.
    */
  val cancelAllJobs: Signaler = new Signaler {
    def apply(testThread: Thread): Unit =
      SparkSession.getDefaultSession.foreach(_.sparkContext.cancelAllJobs())
  }

  /** `op`'s result and the WARN and ERROR events logged, on any thread,
    * while it runs, from an appender on the root logger.
    */
  def warningsDuring[T](op: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("warnings-during", null, null, true, Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          events.add(s"${e.getLevel} ${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try (op, events.asScala.toSeq)
    finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }

  /** Spark jobs and tasks that `op` runs on this thread, counted by a
    * listener on a job group of its own.
    */
  def jobsAndTasks(op: => Unit): (Int, Int) = {
    val (jobs, tasks) = jobLog(op)
    (jobs.size, tasks)
  }

  /** [[jobsAndTasks]] with each job named, in start order: its
    * description, the first `graft.` frame of the SQL execution that ran
    * it (AQE submits most stage jobs from a pool thread, whose own call
    * site names no operator) and the call site of its result stage.
    */
  def jobLog(op: => Unit): (Seq[String], Int) = {
    import scala.jdk.CollectionConverters._
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
      SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = session.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[(String, Option[String], String)]
    val executions = new ConcurrentHashMap[String, String]()
    val tasks = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add((e.properties.getProperty("spark.job.description"),
            Option(e.properties.getProperty("spark.sql.execution.id")),
            e.stageInfos.maxBy(_.stageId).name))
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString,
            s.details.linesIterator.map(_.trim).find(_.startsWith("graft.")).getOrElse(""))
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try op
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.asScala.toSeq.map { case (desc, exec, stage) =>
      s"$desc @ ${exec.map(executions.getOrDefault(_, "")).getOrElse("")} / $stage"
    }, tasks.get)
  }
}
