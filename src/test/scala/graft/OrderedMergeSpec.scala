package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, Union}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.model.{MarketEvent, Trade}
import graft.operators.OrderedMerge
import graft.plans.SortedMergeUnionExec

/** Reference-parity: k-way ordered merge invariants
  * (`MultipleTimeSeriesEnumeratorTest.scala:174-213` — 10 series × 10
  * events ⇒ 100 rows, globally non-decreasing time; `:262-311` —
  * heterogeneous trades+orders offset by 500 ms ⇒ strict
  * interleaving). */
class OrderedMergeSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(1330000000000L + ms)

  private def unions(p: LogicalPlan) = p.collect { case u: Union => u }
  private def sorts(p: LogicalPlan) = p.collect { case s: Sort => s }
  private def mergeExecs(df: org.apache.spark.sql.DataFrame) =
    collect(df.queryExecution.executedPlan) { case m: SortedMergeUnionExec => m }

  test("10 series x 10 events merge to 100 rows in non-decreasing time") {
    val streams = (0 until 10).map { s =>
      (0 until 10).map { i =>
        Trade("RTS", s"SEC-$s", s * 100L + i, 100.0 + i, 1, ts(i * 1000L + s * 7), nosystem = false)
      }.toDS.toDF
    }
    val merged = OrderedMerge.merge("time", streams: _*)
    assert(merged.count() === 100)
    assert(OrderedMerge.inversions(merged, "time") === 0)
  }

  test("heterogeneous merge interleaves trades and orders strictly") {
    val trades = (0 until 20).map(i =>
      MarketEvent("trade", "RTS", "RIH", i.toLong, 100.0, 1, ts(i * 1000L))).toDS.toDF
    val orders = (0 until 20).map(i =>
      MarketEvent("order", "RTS", "RIH", 1000L + i, 100.0, 1, ts(i * 1000L + 500))).toDS.toDF
    val merged = OrderedMerge.merge("time", trades, orders)
    val kinds = merged.orderBy("time").select("kind").collect().map(_.getString(0))
    assert(kinds.length === 40)
    assert(kinds.zipWithIndex.forall { case (k, i) =>
      k == (if (i % 2 == 0) "trade" else "order")
    }, "expected strict trade/order interleaving")
  }

  test("mergeTagged carries the stream discriminator") {
    val a = Seq((1L, ts(0))).toDF("id", "time")
    val b = Seq((2L, ts(1))).toDF("id", "time")
    val m = OrderedMerge.mergeTagged("time", "a" -> a, "b" -> b)
    assert(m.select("stream").collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
  }

  test("inversions detects out-of-order streams in physical row order") {
    // id order == (1000ms, 0ms, 2000ms): one adjacent inversion
    val unsorted = Seq((1L, ts(1000)), (2L, ts(0)), (3L, ts(2000)))
      .toDF("id", "time").coalesce(1).orderBy(col("id"))
    assert(OrderedMerge.inversions(unsorted, "time") === 1)
    // sorting by time fixes it
    assert(OrderedMerge.inversions(unsorted.orderBy(col("time")), "time") === 0)
  }

  test("failure in one of k merged streams propagates to the action") {
    // reference: MultipleTimeSeriesEnumeratorTest error-in-one-stream
    val ok = Seq((1L, ts(0))).toDF("id", "time")
    val failing = Seq((2L, ts(1))).toDF("id", "time")
      .withColumn("id", udf((_: Long) =>
        throw new IllegalStateException("stream fault")).apply(col("id")))
    val merged = OrderedMerge.merge("time", ok, failing)
    val e = intercept[Exception](merged.collect())
    assert(e.getMessage != null)
  }

  test("heterogeneous merge null-fills missing columns (superset schema)") {
    val trades = Seq((1L, ts(0), false)).toDF("id", "time", "nosystem")
    val orders = Seq((2L, ts(1), 5)).toDF("id", "time", "status")
    val merged = OrderedMerge.merge("time", trades, orders)
    assert(merged.columns.toSet === Set("id", "time", "nosystem", "status"))
    val rows = merged.orderBy("time").collect()
    assert(!rows(0).isNullAt(rows(0).fieldIndex("nosystem")))
    assert(rows(0).isNullAt(rows(0).fieldIndex("status")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("nosystem")))
    assert(rows(1).getInt(rows(1).fieldIndex("status")) === 5)
  }

  test("inversions catches cross-partition boundary violations") {
    // range-sort by id puts (id 1, t=1000) in an earlier partition than
    // (id 2, t=0): inside each partition order is fine, the boundary isn't
    val df = Seq((1L, ts(1000)), (2L, ts(0)), (3L, ts(2000)), (4L, ts(3000)))
      .toDF("id", "time").repartitionByRange(2, col("id"))
      .sortWithinPartitions("id")
    assert(OrderedMerge.inversions(df, "time") === 1)
  }

  test("a merge keeps its children's columns by position and drops its order under a count") {
    val trades = Seq((1L, ts(0), false)).toDF("id", "time", "nosystem")
    val orders = Seq((2L, ts(1), 5)).toDF("id", "time", "status")
    val merged = OrderedMerge.merge("time", trades, orders)
    val projected = merged.select("status")
    assert(unions(projected.queryExecution.optimizedPlan)
      .map(_.children.map(_.output.map(_.name))) ===
      Seq(Seq(Seq("time", "status"), Seq("time", "status"))))
    assert(projected.collect().map(r => Option(r.get(0))).toSeq === Seq(None, Some(5)))

    val counted = merged.groupBy().count()
    val plan = counted.queryExecution.optimizedPlan
    assert(sorts(plan).isEmpty, s"\n$plan")
    assert(unions(plan).size === 1)
    assert(counted.head().getLong(0) === 2)
  }

  test("merge plans the k-way merge when small and a global sort over the union when not") {
    val trades = Seq((1L, ts(0), false)).toDF("id", "time", "nosystem")
    val orders = Seq((2L, ts(1), 5)).toDF("id", "time", "status")
    def plan(): SparkPlan = stripAQEPlan(
      OrderedMerge.merge("time", trades, orders).queryExecution.executedPlan)
    def globalSorts(p: SparkPlan) = p.collect { case s: SortExec if s.global => s }

    val small = plan()
    assert(small.collect { case m: SortedMergeUnionExec => m }.size === 1, s"\n$small")
    assert(globalSorts(small).isEmpty, s"\n$small")

    System.setProperty("graft.mergeSizeThreshold", "1")
    try {
      val big = plan()
      assert(big.collect { case m: SortedMergeUnionExec => m }.isEmpty, s"\n$big")
      val sorts = globalSorts(big)
      assert(sorts.size === 1, s"\n$big")
      assert(sorts.head.collect { case u: UnionExec => u }.size === 1, s"\n$big")
    } finally System.clearProperty("graft.mergeSizeThreshold")
  }

  test("merge orders columns and widens types as unionByName does") {
    val trades = Seq((1, ts(0), false)).toDF("id", "time", "nosystem")
    val orders = Seq((ts(1), 2L, 5)).toDF("time", "id", "status")
    val merged = OrderedMerge.merge("time", trades, orders)
    assert(merged.columns.toSeq === Seq("id", "time", "nosystem", "status"))
    assert(merged.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(merged.select("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("a merged column is nullable where any stream's column is") {
    val trades = Seq((1L, ts(0), false)).toDF("id", "time", "nosystem")
    val orders = Seq((2L, ts(1), 5)).toDF("id", "time", "status")
    // the first stream has every status, so only the second makes it nullable
    val merged = OrderedMerge.merge("time", orders, trades)
    assert(!merged.schema("id").nullable)
    assert(merged.schema("nosystem").nullable)
    assert(merged.schema("status").nullable)
    val plan = stripAQEPlan(merged.queryExecution.executedPlan)
    assert(plan.collect { case m: SortedMergeUnionExec => m }.size === 1, s"\n$plan")
    assert(merged.select("status").collect().map(r => Option(r.get(0))).toSeq ===
      Seq(None, Some(5)))
  }

  test("min and max over a merge read a plain union") {
    val a = Seq((1L, ts(0)), (3L, ts(2))).toDF("id", "time")
    val b = Seq((2L, ts(1)), (4L, ts(3))).toDF("id", "time")
    val agg = OrderedMerge.merge("time", a, b)
      .filter(col("id") > 1).agg(min("time"), max("id"))
    val plan = agg.queryExecution.optimizedPlan
    assert(sorts(plan).isEmpty, s"\n$plan")
    assert(unions(plan).size === 1)
    val row = agg.head()
    assert(row.getTimestamp(0) === ts(1))
    assert(row.getLong(1) === 4L)
  }

  test("the merge stays under an order-sensitive aggregate or a nondeterministic filter") {
    val a = Seq((1L, ts(0))).toDF("id", "time")
    val b = Seq((2L, ts(1))).toDF("id", "time")
    val merged = OrderedMerge.merge("time", a, b)

    assert(mergeExecs(merged.agg(first("id"))).size === 1)
    // rand(7) >= 0 would fold to true; a half-sample stays in the plan
    val sampled = merged.filter(rand(7) >= 0.5).groupBy().count()
    assert(mergeExecs(sampled).size === 1, s"\n${sampled.queryExecution.executedPlan}")
    assert(Set(0L, 1L, 2L).contains(sampled.head().getLong(0)))
  }

  test("mergeTagged null-fills heterogeneous streams and keeps time order") {
    val trades = Seq((1L, ts(0)), (3L, ts(2))).toDF("id", "time")
    val orders = Seq((2L, ts(1), 5)).toDF("id", "time", "status")
    val m = OrderedMerge.mergeTagged("time", "trade" -> trades, "order" -> orders)
    assert(m.columns.toSeq === Seq("id", "time", "stream", "status"))
    val rows = m.collect().map(r => (r.getLong(0), r.getString(2), Option(r.get(3))))
    assert(rows.toSeq === Seq((1L, "trade", None), (2L, "order", Some(5)), (3L, "trade", None)))
  }

  test("a filter on a merged stream reaches every child scan") {
    val dir = java.nio.file.Files.createTempDirectory("ordered-merge-filter").toString
    def write(name: String, offset: Int): org.apache.spark.sql.DataFrame = {
      (0 until 20).map(i => (if (i % 2 == 0) "A" else "B", ts(i * 100L + offset), i.toLong))
        .toDF("security", "time", "seq")
        .write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val merged = OrderedMerge.mergeSortedTied("time", Seq("seq"), write("a", 0), write("b", 7))
      .where(col("security") === "A")
    val plan = merged.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size === 2, s"\n$plan")
    scans.foreach { s =>
      assert(s.metadata("PushedFilters").contains("EqualTo(security,A)"), s"\n$plan")
    }
    assert(mergeExecs(merged).size === 1, s"\n$plan")
    val got = merged.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val expected = (0 until 20 by 2).flatMap(i =>
      Seq(("A", ts(i * 100L), i.toLong), ("A", ts(i * 100L + 7), i.toLong)))
    assert(got.toSeq === expected)
  }
}
