package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    import org.apache.spark.sql.graft.Bridge
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Bridge.ofRows(spark, Bridge.analyzed(df)).queryExecution.executedPlan
      plan.execute().count()
      plan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.getOrElse(-1L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
