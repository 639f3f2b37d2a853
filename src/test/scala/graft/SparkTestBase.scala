package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, getOrCreate dedups). */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Files the one file scan of `df` opens: its plan is planned afresh
    * and run with AQE off, so the scan node is inspectable, and the
    * scan's `numFiles` metric is read back. */
  def filesRead(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Bridge.ofRows(spark, Bridge.analyzed(df)).queryExecution.executedPlan
      plan.execute().count()
      plan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.getOrElse(-1L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private val JobTag = "graft.test.jobsOf"

  /** Stages of each Spark job this thread starts inside `body`, where
    * `body` gets a `mark()` that returns the jobs started so far. Jobs
    * are told apart by a thread-local property, which AQE's exchange
    * threads inherit, and read after `Bridge.drainListeners`. */
  def jobsOf[T](body: (() => Seq[Seq[StageInfo]]) => T): T = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[StageInfo]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(JobTag) != null))
          jobs.add(e.stageInfos)
    }
    Bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(JobTag, "on")
    def mark(): Seq[Seq[StageInfo]] = {
      Bridge.drainListeners(spark)
      jobs.toArray(Array.empty[Seq[StageInfo]]).toSeq
    }
    try body(() => mark())
    finally {
      spark.sparkContext.setLocalProperty(JobTag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Stages of each Spark job `body` starts. */
  def jobs(body: => Any): Seq[Seq[StageInfo]] =
    jobsOf { mark => body; mark() }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
