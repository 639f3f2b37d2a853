package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.OrderedMerge

/** A limit over a merge is Spark's own top-n: the merge's global sort
  * under a limit plans one TakeOrderedAndProject over the union, which
  * keeps a bounded heap of n rows per partition and merges those, so
  * no full sort and no exchange runs. Correct for sorted AND unsorted
  * children. */
class LimitPushdownSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(1330000000000L + ms)

  test("limit over mergeSorted pushes per-child top-n and stays correct") {
    // deliberately UNSORTED children: the top-n orders them itself
    val a = Seq((5L, ts(5000)), (1L, ts(1000)), (9L, ts(9000)))
      .toDF("id", "time")
    val b = Seq((2L, ts(2000)), (8L, ts(8000)), (0L, ts(0)))
      .toDF("id", "time")
    val merged = OrderedMerge.mergeSorted("time", a, b).limit(3)

    val physical = merged.queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(physical).length === 1,
      s"expected one top-n operator:\n$physical")

    // earliest 3 events across both streams
    assert(merged.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
  }

  test("tiebreak columns make merge+limit row-deterministic at equal times") {
    // equal timestamps deliberately straddle the limit boundary: rows
    // 2..5 all share ts(2000); limit 3 must pick ids 1,2,3 — only a
    // per-child total order (time, id) guarantees that row SET
    val a = Seq((5L, ts(2000)), (1L, ts(1000)), (3L, ts(2000)))
      .toDF("id", "time")
    val b = Seq((2L, ts(2000)), (4L, ts(2000)), (9L, ts(9000)))
      .toDF("id", "time")
    val merged = OrderedMerge.mergeSortedTied("time", Seq("id"), a, b).limit(3)

    // one top-n, ordered by (time, id)
    val physical = merged.queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(physical).length === 1, physical)
    assert("orderBy=\\[time#\\d+ ASC NULLS FIRST,id#\\d+L ASC NULLS FIRST\\]".r
      .findFirstIn(physical).isDefined, s"tiebreak missing from the top-n order:\n$physical")

    // deterministic row set across repeated runs
    (1 to 3).foreach { _ =>
      assert(merged.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    }
  }

  test("pushdown preserves results on the events table vs orderBy+limit") {
    val ev = graft.sources.Tables.load(spark, sf0001, "events")
    def series(t: String) = ev.where(col("event_type") === t)
      .select("event_id", "ts", "user_id", "value")
    val viaMerge = OrderedMerge.mergeSorted("ts", series("click"), series("view"))
      .limit(50).select("event_id").collect().map(_.getLong(0)).toSet
    val viaSort = series("click").unionByName(series("view"))
      .orderBy(col("ts"), col("event_id")).limit(50)
      .select("event_id").collect().map(_.getLong(0)).toSet
    // tie order at equal ts is unspecified in the merge (reference
    // semantics) — compare as sets over a prefix safely inside both
    assert(viaMerge.size === 50)
    // every merge row must be within the true earliest-50-by-(ts) rows
    // allowing ties: check max ts bound instead of exact set equality
    val mergeMax = OrderedMerge.mergeSorted("ts", series("click"), series("view"))
      .limit(50).agg(max("ts"))
      .head().getAs[java.time.LocalDateTime](0)
    val sortMax = series("click").unionByName(series("view"))
      .orderBy(col("ts")).limit(50).agg(max("ts"))
      .head().getAs[java.time.LocalDateTime](0)
    assert(!mergeMax.isAfter(sortMax))
  }
}
