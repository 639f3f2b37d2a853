package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, getOrCreate dedups). */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
