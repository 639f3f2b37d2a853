package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StringType

import graft.plans.{SharedSliceScan, SortedMergeUnionExec}

/** The shared slice scan rule: adjacent union children that are
  * disjoint equality slices of one opened relation read it once, and
  * every union — fused or not — returns the same multiset of rows as
  * with the rule excluded from the optimizer. */
class SharedSliceScanSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val dir = "/tmp/graft_shared_slice_scan"
  private def t0(i: Int) = new Timestamp(1700000000000L + i * 1000L)

  // 20 values of each slice column, spread differently over 400 rows;
  // d holds 0.0 and -0.0
  private lazy val path: String = {
    (0 until 400).map { i =>
      (s"S${i % 20}", (i / 7) % 20, t0((i * 3) % 20), if (i % 2 == 0) 0.0 else -0.0, i.toLong)
    }.toDF("sec", "k", "ts", "d", "v").repartition(3).write.mode("overwrite").parquet(s"$dir/t")
    s"$dir/t"
  }
  private def open(): DataFrame = spark.read.parquet(path)

  private def scans(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.size

  /** Rows of `df` with the rule on, its scan count, and the rows with
    * the rule excluded; both row sets are sorted, so they compare as
    * multisets. */
  private def withAndWithout(df: => DataFrame): (Seq[String], Int, Seq[String]) = {
    val on = df
    val rows = on.collect().map(_.toString).sorted.toSeq
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, SharedSliceScan.ruleName)
    try {
      val off = df
      (rows, scans(on), off.collect().map(_.toString).sorted.toSeq)
    } finally spark.conf.unset(key)
  }

  private def union(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ union _)

  /** Union children after the rule alone, over the analyzed plan. */
  private def fusedChildren(df: DataFrame): Int =
    SharedSliceScan(Bridge.analyzed(df)).collectFirst { case u: Union => u.children.size }
      .getOrElse(fail("no union"))

  test("2, 3 and 16 slices of one handle on a string, int or timestamp column read one scan") {
    val cases: Seq[(String, Int => Column)] = Seq(
      "string" -> (i => col("sec") === s"S$i"),
      "int" -> (i => col("k") === i),
      "timestamp" -> (i => col("ts") === lit(t0(i))))
    for ((name, slice) <- cases; n <- Seq(2, 3, 16)) {
      val t = open()
      val (rows, n0, off) = withAndWithout(union((0 until n).map(i =>
        t.where(slice(i) && col("v") > 5L).select("sec", "k", "ts", "v"))))
      assert(n0 === 1, s"$name x $n")
      assert(rows === off, s"$name x $n")
      assert(rows.nonEmpty && rows.distinct.size === rows.size, s"$name x $n")
    }
  }

  test("a merge of slices of one handle is a one-task merge of one scan and keeps every row") {
    val t = open()
    def merged = graft.operators.OrderedMerge.mergeSortedTied(
      "ts", Seq("v"), (0 until 4).map(i => t.where(col("sec") === s"S$i")): _*)
    val (rows, n, off) = withAndWithout(merged)
    assert(n === 1)
    assert(rows === off)
    assert(rows.size === 80)
    val m = merged
    var ordered = Seq.empty[(Long, Long)]
    val js = jobs { ordered = m.collect().map(r => (r.getTimestamp(2).getTime, r.getLong(4))).toSeq }
    val plan = m.queryExecution.executedPlan
    assert(js.map(_.size) === Seq(1), s"\n$plan")
    assert(collect(plan) { case e: SortedMergeUnionExec => e.children.size } === Seq(1), s"\n$plan")
    assert(collect(plan) { case e: Exchange => e }.isEmpty, s"\n$plan")
    assert(ordered === ordered.sorted)
  }

  test("a repeated literal is not fused: both copies keep their rows") {
    val t = open()
    val (rows, n, off) = withAndWithout(union(Seq.fill(2)(t.where(col("sec") === "S1"))))
    assert(n === 2)
    assert(rows === off)
    assert(rows.size === 40)
  }

  test("a null literal is never a slice") {
    val t = open()
    val nul = Bridge.column(Literal(null, StringType))
    def df = union(Seq(t.where(col("sec") === nul), t.where(col("sec") === "S1")))
    assert(fusedChildren(df) === 2)
    val (rows, _, off) = withAndWithout(df)
    assert(rows === off)
    assert(rows.size === 20)
  }

  test("0.0 and -0.0 on a double are not fused: each slice matches both") {
    val t = open()
    val (rows, n, off) = withAndWithout(
      union(Seq(t.where(col("d") === 0.0), t.where(col("d") === -0.0))))
    assert(n === 2)
    assert(rows === off)
    assert(rows.size === 800)
  }

  test("a case-insensitive collation is not fused: 's1' and 'S1' match the same rows") {
    val t = spark.read.schema("sec STRING COLLATE UTF8_LCASE, k INT, ts TIMESTAMP, d DOUBLE, v BIGINT")
      .parquet(path)
    val (rows, n, off) = withAndWithout(
      union(Seq(t.where(col("sec") === "s1"), t.where(col("sec") === "S1"))))
    assert(n === 2)
    assert(rows === off)
    assert(rows.size === 40)
  }

  test("slices whose projections differ (a per-slice tag) are not fused") {
    val t = open()
    val (rows, n, off) = withAndWithout(union(Seq(
      t.where(col("sec") === "S1").select(lit("a").as("tag"), col("v")),
      t.where(col("sec") === "S2").select(lit("b").as("tag"), col("v")))))
    assert(n === 2)
    assert(rows === off)
    assert(rows.size === 40)
  }

  test("two handles of one path are not fused") {
    val (rows, n, off) = withAndWithout(union(Seq(
      open().where(col("sec") === "S1"), open().where(col("sec") === "S2"))))
    assert(n === 2)
    assert(rows === off)
  }

  test("only adjacent children fuse") {
    val t = open()
    val other = (0 until 5).map(i => ("X", i, t0(i), 0.0, i.toLong))
      .toDF("sec", "k", "ts", "d", "v")
    val (rows, n, off) = withAndWithout(union(Seq(
      t.where(col("sec") === "S1"), other, t.where(col("sec") === "S2"))))
    assert(n === 2)
    assert(rows === off)
    assert(rows.size === 45)
    // a run after a break still fuses
    val (_, n2, _) = withAndWithout(union(Seq(
      t.where(col("sec") === "S1"), other, t.where(col("sec") === "S2"),
      t.where(col("sec") === "S3"))))
    assert(n2 === 2)
  }

  test("slices under a non-deterministic filter are not fused") {
    val t = open()
    def df = union(Seq(t.where(col("sec") === "S1" && rand(7) < 0.5),
      t.where(col("sec") === "S2" && rand(7) < 0.5)))
    assert(fusedChildren(df) === 2)
    val (rows, n, off) = withAndWithout(df)
    assert(n === 2)
    assert(rows === off)
  }

  test("a streaming union of slices of one source is not fused") {
    val src = spark.readStream.schema(open().schema).parquet(path)
    def run(): (Seq[String], Int) = {
      val q = src.where(col("sec") === "S1").union(src.where(col("sec") === "S2"))
        .writeStream.format("memory").queryName("graft_shared_slice_stream")
        .trigger(Trigger.AvailableNow()).start()
      try {
        q.awaitTermination()
        val rows = spark.table("graft_shared_slice_stream").collect().map(_.toString).sorted.toSeq
        val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
        (rows, collect(plan) { case s: FileSourceScanExec => s }.size)
      } finally q.stop()
    }
    val (rows, n) = run()
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, SharedSliceScan.ruleName)
    val (off, _) = try run() finally spark.conf.unset(key)
    assert(n === 2)
    assert(rows === off)
    assert(rows.size === 40)
  }
}
