package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.Injected
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, OrderedMerge}
import graft.plans.{SharedSliceScan, SortedMergeUnionStrategy}

/** Extension registration: the shared test session is built by
  * `GraftSession`, which installs `GraftExtensions`, so the custom
  * expressions are reachable from plain SQL and the merge strategy
  * sits in the session's planner. */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("sorted_intersect_count is callable from SQL once registered") {
    val got = spark.sql(
      "SELECT sorted_intersect_count(array(1,3,5), array(3,4,5)) AS c")
      .head().getInt(0)
    assert(got === 2)
  }

  test("GraftExtensions injects the merge strategy and the shared slice scan rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(Injected.plannerStrategies(ext, spark) === Seq(SortedMergeUnionStrategy))
    assert(Injected.optimizerRules(ext, spark) === Seq(SharedSliceScan))
    // the session carries both, so a merge or an as-of adds neither again
    assert(spark.sessionState.planner.extraPlanningStrategies === Seq(SortedMergeUnionStrategy))
    import spark.implicits._
    OrderedMerge.mergeSorted("t", Seq(1L).toDF("t"), Seq(2L).toDF("t"))
    AsOfJoin.asOf(Seq((1L, "a")).toDF("t", "k"), Seq((0L, "a", 1.0)).toDF("t", "k", "v"),
      Seq("k"), "t", "t", Seq("v" -> "v"))
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("md5_nibbles and md5_hex_slices callable from SQL once registered") {
    val r = spark.sql(
      "SELECT md5_nibbles('abc')[0] AS n0, md5_hex_slices('abc')[0] AS s0," +
        " substring(md5('abc'), 1, 8) AS ref").head()
    assert(r.getAs[String]("s0") === r.getAs[String]("ref"))
    assert(r.getAs[Int]("n0") ===
      Integer.parseInt(r.getAs[String]("ref").substring(0, 1), 16))
  }

  test("float_dot and rolling_hash_min callable from SQL once registered") {
    val dot = spark.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))," +
        " array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(dot === 11.0)
    val h = spark.sql("SELECT rolling_hash_min('abcdef', 3) AS h")
      .head().getLong(0)
    // 3-byte windows of "abcdef": min of the four Horner hashes
    val expect = "abcdef".getBytes.sliding(3)
      .map(w => w.foldLeft(0L)((a, b) => (a * 257 + (b & 0xff)) % ((1L << 61) - 1)))
      .min
    assert(h === expect)
  }

  test("bitmap_and_count and word_shingles callable from SQL") {
    val r = spark.sql(
      "SELECT bitmap_and_count(array(CAST(3 AS BIGINT), CAST(5 AS BIGINT))," +
        " array(CAST(6 AS BIGINT), CAST(1 AS BIGINT))) AS c," +
        " word_shingles('The  quick brown', 2) AS s").head()
    // 3 & 6 = 0b10 and 5 & 1 = 0b1: one bit each
    assert(r.getInt(0) === 2)
    assert(r.getSeq[String](1) === Seq("the quick", "quick brown"))
  }
}
