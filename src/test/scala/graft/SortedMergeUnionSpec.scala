package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.model.Trade
import graft.operators.OrderedMerge
import graft.plans.SortedMergeUnionExec

/** Custom physical operator: SortedMergeUnionExec must produce the
  * same rows as union+orderBy, in globally non-decreasing time, and
  * actually appear in the plan for small inputs (fallback to
  * Union+Sort is stats-driven). */
class SortedMergeUnionSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(1700000000000L + ms)

  private def series(sec: String, offset: Int) =
    (0 until 50).map(i =>
      Trade("RTS", sec, offset * 1000L + i, 100.0 + i, 1,
        ts(i * 100L + offset), nosystem = false)).toDS.toDF

  test("merge exec plans for small inputs and preserves order") {
    val a = series("A", 0).sortWithinPartitions("time")
    val b = series("B", 7)
    val c = series("C", 13)
    val merged = OrderedMerge.mergeSorted("time", a, b, c)

    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("SortedMergeUnion "), s"operator missing:\n$plan")

    val rows = merged.collect()
    assert(rows.length === 150)
    val times = rows.map(_.getAs[Timestamp]("time").getTime)
    assert(times.zip(times.tail).forall { case (x, y) => x <= y },
      "output not globally time-ordered")

    // row-set equality with the declarative formulation
    val expected = a.unionByName(b).unionByName(c).orderBy("time")
      .collect().map(_.toString).sorted
    assert(rows.map(_.toString).sorted.toSeq === expected.toSeq)
  }

  test("big inputs fall back to distributed Union+Sort, same rows") {
    System.setProperty("graft.mergeSizeThreshold", "1")
    try {
      val merged = OrderedMerge.mergeSorted("time", series("A", 0), series("B", 7))
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("SortedMergeUnion "),
        s"expected fallback, got merge exec:\n$plan")
      assert(plan.contains("Sort "), s"fallback must sort:\n$plan")
      val rows = merged.collect()
      assert(rows.length === 100)
      val times = rows.map(_.getAs[Timestamp]("time").getTime)
      assert(times.zip(times.tail).forall { case (x, y) => x <= y })
    } finally System.clearProperty("graft.mergeSizeThreshold")
  }

  test("downstream sort on time is eliminated by outputOrdering") {
    val merged = OrderedMerge.mergeSorted("time", series("A", 0), series("B", 7))
    val sortedAgain = merged.orderBy("time")
    val plan = sortedAgain.queryExecution.executedPlan.toString
    // outputOrdering is declared, so the planner must not re-sort
    assert(!plan.split("SortedMergeUnion ").head.contains("Sort "),
      s"unexpected re-sort above the merge:\n$plan")
  }

  /** The 2-way merge the k-way kernel replaced, left-folded over the
    * children: on equal keys the left (lower-index) side goes first. */
  private def foldMerge[T](ord: Ordering[T])(children: Seq[Seq[T]]): Seq[T] =
    children.reduce { (a, b) =>
      val out = Seq.newBuilder[T]
      var (l, r) = (a, b)
      while (l.nonEmpty || r.nonEmpty) {
        if (r.isEmpty || (l.nonEmpty && ord.compare(l.head, r.head) <= 0)) {
          out += l.head; l = l.tail
        } else { out += r.head; r = r.tail }
      }
      out.result()
    }

  test("64-child k-way kernel equals the fold of 2-way merges, tie order included") {
    val rnd = new scala.util.Random(64)
    // (key, child, position): many equal keys within and across children
    val children = (0 until 64).map { c =>
      Seq.fill(rnd.nextInt(40))(rnd.nextInt(20).toLong).sorted.zipWithIndex
        .map { case (k, i) => InternalRow(k, c, i) }
    }
    val byKey: Ordering[InternalRow] = Ordering.by[InternalRow, Long](_.getLong(0))
    def ids(rows: Seq[InternalRow]) = rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val got = SortedMergeUnionExec.mergeSorted(byKey)(children.map(_.iterator)).toSeq
    assert(ids(got) === ids(foldMerge(byKey)(children)))
    assert(SortedMergeUnionExec.mergeSorted(byKey)(Nil).isEmpty)
  }

  test("64-child merge exec equals the fold: equal times leave in child order") {
    // every child holds the same 10 times, so each time ties 64 ways
    val children = (0 until 64).map { c =>
      (0 until 10).map(i => (ts(i * 10L), c, i)).toDF("time", "child", "pos")
    }
    val merged = OrderedMerge.mergeSorted("time", children: _*)
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("SortedMergeUnion "), s"operator missing:\n$plan")
    val got = merged.collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2)))
    val expected = foldMerge(Ordering.by[(Long, Int, Int), Long](_._1))(
      children.map(_.collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getInt(2))).toSeq))
    assert(got.toSeq === expected)
  }

  private def mergeExecs(df: org.apache.spark.sql.DataFrame) =
    collect(df.queryExecution.executedPlan) { case m: SortedMergeUnionExec => m }

  /** Rows of `df` under the merge exec and under Spark's own sort. */
  private def mergedAndFallback(df: => org.apache.spark.sql.DataFrame) = {
    val merged = df
    assert(mergeExecs(merged).size === 1, s"\n${merged.queryExecution.executedPlan}")
    val rows = merged.collect().toSeq
    System.setProperty("graft.mergeSizeThreshold", "1")
    try {
      val fallback = df
      assert(mergeExecs(fallback).isEmpty, s"\n${fallback.queryExecution.executedPlan}")
      (rows, fallback.collect().toSeq)
    } finally System.clearProperty("graft.mergeSizeThreshold")
  }

  test("plain union + orderBy plans the merge for descending and expression keys") {
    val a = (0 until 30).map(i => (ts(i * 10L), i.toLong)).toDF("t", "k")
    val b = (0 until 30).map(i => (ts(i * 10L), 100L + i)).toDF("t", "k")
    val (rows, fallback) =
      mergedAndFallback(a.union(b).orderBy(desc("t"), col("k") + 1))
    assert(rows.size === 60)
    assert(rows === fallback)
    assert(rows.take(2).map(_.getLong(1)) === Seq(29L, 129L))
  }

  test("plain union + orderBy plans the merge for a nulls-last key") {
    val a = Seq((ts(0), Some(2L)), (ts(0), None), (ts(10), Some(1L))).toDF("t", "k")
    val b = Seq((ts(0), Some(1L)), (ts(10), None), (ts(10), Some(0L))).toDF("t", "k")
    val (rows, fallback) =
      mergedAndFallback(a.union(b).orderBy(col("t"), col("k").asc_nulls_last))
    assert(rows === fallback)
    assert(rows.map(r => Option(r.get(1))) ===
      Seq(Some(1L), Some(2L), None, Some(0L), Some(1L), None))
  }

  test("sortWithinPartitions over a union plans no merge exec") {
    val df = series("A", 0).union(series("B", 7)).sortWithinPartitions("time")
    assert(mergeExecs(df).isEmpty, s"\n${df.queryExecution.executedPlan}")
    assert(df.count() === 100)
  }

  private def ordered(rows: Seq[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getTimestamp(5).getTime, r.getLong(2)))

  test("a replay request's merge is one job over one scan per table, with no exchange") {
    val merged = ReplayRequest.merged(spark)
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val js = jobs { rows = merged.collect().toSeq }
    val plan = merged.queryExecution.executedPlan
    assert(js.map(_.size) === Seq(1), s"\n$plan")
    assert(collect(plan) { case s: FileSourceScanExec => s }.size === 2, s"\n$plan")
    assert(collect(plan) { case e: Exchange => e }.isEmpty, s"\n$plan")
    assert(mergeExecs(merged).size === 1)
    // 2 securities x (trades + orders) x 40 events, in (time, eventId) order
    assert(rows.size === 160)
    val keys = ordered(rows)
    assert(keys === keys.sorted)
    // above the one-task bound, Spark's range sort returns the same rows
    System.setProperty("graft.mergeSizeThreshold", "1")
    try {
      val big = ReplayRequest.merged(spark)
      val bigPlan = stripAQEPlan(big.queryExecution.executedPlan)
      assert(mergeExecs(big).isEmpty, s"\n$bigPlan")
      assert(bigPlan.collect { case s: FileSourceScanExec => s }.size === 2, s"\n$bigPlan")
      assert(bigPlan.collect { case e: ShuffleExchangeExec => e.outputPartitioning.toString }
        .exists(_.startsWith("rangepartitioning")), s"\n$bigPlan")
      assert(ordered(big.collect().toSeq) === keys)
    } finally System.clearProperty("graft.mergeSizeThreshold")
  }

  test("every child reads under a one-task coalesce, more children than cores too") {
    val k = spark.sparkContext.defaultParallelism + 1
    val merged = OrderedMerge.mergeSorted("time", (0 until k).map(i => series(s"S$i", i)): _*)
    val plan = stripAQEPlan(merged.queryExecution.executedPlan)
    assert(plan.collect { case c: CoalesceExec => c }.size === k, s"\n$plan")
    assert(plan.collect { case e: Exchange => e }.isEmpty, s"\n$plan")
    val times = merged.collect().map(_.getAs[Timestamp]("time").getTime).toSeq
    assert(times.size === 50 * k && times === times.sorted)
  }
}
