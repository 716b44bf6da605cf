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
    * hung job stalling the whole run.
    */
  val cancelAllJobs: Signaler = new Signaler {
    def apply(testThread: Thread): Unit = session.sparkContext.cancelAllJobs()
  }
}

object PlanScans {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** All parquet scans in an EXECUTED plan, descending into AQE wrappers —
    * both AdaptiveSparkPlanExec and materialized QueryStageExec are leaf
    * nodes to TreeNode.collect, so a plain `plan.collect` misses any scan
    * below a shuffle once AQE has staged it.
    */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec    => Seq(s)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec        => fileScans(q.plan)
    case other                    => other.children.flatMap(fileScans)
  }
}
