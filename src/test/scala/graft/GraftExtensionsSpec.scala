package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

/** Extension registration: custom expressions reachable from plain
  * SQL. The shared test JVM already holds a session (getOrCreate
  * would reuse it and skip extensions), so the SQL-surface check goes
  * through the same registry path `injectFunction` feeds, and the
  * extensions class itself is applied to a fresh
  * `SparkSessionExtensions` to validate registration wiring. */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  test("sorted_intersect_count is callable from SQL once registered") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => graft.expressions.SortedIntersectCount(exprs.head, exprs(1)),
      "scala_udf")
    val got = spark.sql(
      "SELECT sorted_intersect_count(array(1,3,5), array(3,4,5)) AS c")
      .head().getInt(0)
    assert(got === 2)
  }

  test("GraftExtensions applies without error to fresh extensions") {
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("md5_nibbles and md5_hex_slices callable from SQL once registered") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_nibbles",
      exprs => graft.expressions.Md5Nibbles(exprs.head),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_hex_slices",
      exprs => graft.expressions.Md5HexSlices(exprs.head),
      "scala_udf")
    val r = spark.sql(
      "SELECT md5_nibbles('abc')[0] AS n0, md5_hex_slices('abc')[0] AS s0," +
        " substring(md5('abc'), 1, 8) AS ref").head()
    assert(r.getAs[String]("s0") === r.getAs[String]("ref"))
    assert(r.getAs[Int]("n0") ===
      Integer.parseInt(r.getAs[String]("ref").substring(0, 1), 16))
  }

  test("float_dot and rolling_hash_min callable from SQL once registered") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_dot",
      exprs => graft.expressions.FloatDotProduct(exprs.head, exprs(1)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash_min",
      exprs => graft.expressions.RollingHashMin(exprs.head, exprs(1)),
      "scala_udf")
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
}
