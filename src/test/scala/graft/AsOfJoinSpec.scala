package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.operators.AsOfJoin

/** As-of join semantics: most recent right row with rightTime <=
  * leftTime per key; equal timestamps match; no prior row ⇒ null.
  * Every case runs on both plans: small inputs in one partition (the
  * default bound) and the key shuffle (forced with a 1-byte bound);
  * both must return the same rows. */
class AsOfJoinSpec extends AnyFunSuite with SparkTestBase
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  /** `body` with the one-task bound forced to 1 byte: every as-of built
    * inside it shuffles by key. */
  private def forcedShuffle[T](body: => T): T = {
    System.setProperty("graft.mergeSizeThreshold", "1")
    try body finally System.clearProperty("graft.mergeSizeThreshold")
  }

  /** Builds and collects `df` on both plans; asserts the same rows and
    * returns the single-partition plan's. */
  private def onBothPaths(df: => DataFrame): Array[Row] = {
    val small = df.collect()
    val shuffled = forcedShuffle(df.collect())
    assert(small.map(_.toString).sorted.toSeq === shuffled.map(_.toString).sorted.toSeq,
      "single-partition and shuffled as-of differ")
    small
  }

  private def exchangesUnderWindow(df: DataFrame): Seq[ShuffleExchangeExec] = {
    val plan: SparkPlan = stripAQEPlan(df.queryExecution.executedPlan)
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"no window in\n$plan")
    windows.flatMap(_.collect { case e: ShuffleExchangeExec => e })
  }

  test("small input: no exchange below the window; forced: one key shuffle") {
    def asOf() = AsOfJoin.asOf(
      Seq((1L, "A", ts(10))).toDF("trade_id", "sym", "ts"),
      Seq(("A", ts(5), 1.0)).toDF("sym", "qts", "px"),
      Seq("sym"), "ts", "qts", Seq("px" -> "last_px"))
    assert(exchangesUnderWindow(asOf()).isEmpty)
    val forced = forcedShuffle(exchangesUnderWindow(asOf()))
    assert(forced.size === 1)
    assert(forced.head.outputPartitioning.toString.startsWith("hashpartitioning(sym"),
      forced.head.outputPartitioning.toString)
  }

  test("matches latest prior, ties inclusive, null when none") {
    val trades = Seq(
      (1L, "A", ts(10)), // before any quote -> null
      (2L, "A", ts(20)), // tie with quote at 20 -> that quote
      (3L, "A", ts(35)), // latest prior is quote at 30
      (4L, "B", ts(25))  // other key
    ).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(20), 101.0),
      ("A", ts(30), 102.0),
      ("B", ts(5), 200.0)
    ).toDF("sym", "qts", "px")

    val joined = onBothPaths(AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "qts",
        Seq("px" -> "last_px", "qts" -> "last_qts"))
      .orderBy("trade_id"))

    assert(joined.length === 4)
    assert(joined(0).isNullAt(joined(0).fieldIndex("last_px")))
    assert(joined(1).getAs[Double]("last_px") === 101.0)
    assert(joined(1).getAs[Timestamp]("last_qts") === ts(20))
    assert(joined(2).getAs[Double]("last_px") === 102.0)
    assert(joined(3).getAs[Double]("last_px") === 200.0)
  }

  test("tolerance nulls a stale match; it never falls back to an older row") {
    val trades = Seq(
      (1L, "A", ts(12)), // quote at 10 is 2s old -> within 5s tol
      (2L, "A", ts(40)), // latest quote (30) is 10s old -> nulled,
                         // NOT replaced by the even older quote at 10
      (3L, "A", ts(33))  // quote at 30 is 3s old -> match
    ).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(10), 100.0),
      ("A", ts(30), 103.0)
    ).toDF("sym", "qts", "px")
    val joined = onBothPaths(AsOfJoin.asOfWithin(trades, quotes, Seq("sym"), "ts", "qts",
        Seq("px" -> "last_px"), tolUs = 5L * 1000000L)
      .orderBy("trade_id"))
    assert(joined(0).getAs[Double]("last_px") === 100.0)
    assert(joined(1).isNullAt(joined(1).fieldIndex("last_px")))
    assert(joined(2).getAs[Double]("last_px") === 103.0)
  }

  test("a matched row's NULL field stays NULL (struct carry, not per-column)") {
    val trades = Seq((1L, "A", ts(40))).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(10), Some(100.0), 1L), // older quote with a real px
      ("A", ts(30), None, 2L)         // the as-of match; px genuinely NULL
    ).toDF("sym", "qts", "px", "qid")
    val joined = onBothPaths(AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "qts",
      Seq("px" -> "last_px", "qts" -> "last_qts"), rightTie = Seq("qid")))
    assert(joined.length === 1)
    // per-column last(ignoreNulls) would wrongly substitute 100.0 here
    assert(joined(0).isNullAt(joined(0).fieldIndex("last_px")))
    assert(joined(0).getAs[Timestamp]("last_qts") === ts(30))
  }

  test("forward mode matches the earliest right row at or after left time") {
    val trades = Seq(
      (1L, "A", ts(10)), // next quote is at 20
      (2L, "A", ts(20)), // tie: quote at 20 matches
      (3L, "A", ts(31)), // no later quote -> null
      (4L, "B", ts(1))   // next quote on B at 5
    ).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(20), 101.0), ("A", ts(30), 102.0), ("B", ts(5), 200.0)
    ).toDF("sym", "qts", "px")
    val joined = onBothPaths(AsOfJoin.asOf(trades, quotes, Seq("sym"), "ts", "qts",
        Seq("px" -> "next_px"), forward = true)
      .orderBy("trade_id"))
    assert(joined(0).getAs[Double]("next_px") === 101.0)
    assert(joined(1).getAs[Double]("next_px") === 101.0)
    assert(joined(2).isNullAt(joined(2).fieldIndex("next_px")))
    assert(joined(3).getAs[Double]("next_px") === 200.0)
  }

  test("forward ties at equal (key, ts) also resolve to greatest tie value") {
    val trades = Seq((1L, "A", ts(15))).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(20), 101.0, 5L), ("A", ts(20), 109.0, 9L), ("A", ts(20), 103.0, 3L)
    ).toDF("sym", "qts", "px", "qid")
    (1 to 3).foreach { parts =>
      val joined = onBothPaths(AsOfJoin.asOf(trades, quotes.repartition(parts),
        Seq("sym"), "ts", "qts", Seq("px" -> "next_px"),
        rightTie = Seq("qid"), forward = true))
      assert(joined(0).getAs[Double]("next_px") === 109.0, s"parts=$parts")
    }
  }

  test("right-side ties at equal (key, ts) resolve to greatest tie value") {
    val trades = Seq((1L, "A", ts(25))).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(20), 101.0, 5L),
      ("A", ts(20), 109.0, 9L), // same qts; greatest qid must win
      ("A", ts(20), 103.0, 3L)
    ).toDF("sym", "qts", "px", "qid")
    (1 to 3).foreach { parts =>
      val joined = onBothPaths(AsOfJoin.asOf(trades, quotes.repartition(parts),
        Seq("sym"), "ts", "qts", Seq("px" -> "last_px"), rightTie = Seq("qid")))
      assert(joined.length === 1)
      assert(joined(0).getAs[Double]("last_px") === 109.0, s"parts=$parts")
    }
  }

  test("nearest mode picks the closer side; exact ties prefer backward; one-sided falls through") {
    val trades = Seq(
      (1L, "A", ts(100)), // back at 90 (d=10), fwd at 105 (d=5)  -> fwd
      (2L, "A", ts(94)),  // back at 90 (d=4),  fwd at 105 (d=11) -> back
      (3L, "A", ts(60)),  // no back,           fwd at 90         -> fwd
      (4L, "A", ts(200)), // back at 105,       no fwd            -> back
      (5L, "B", ts(50))   // no right rows at all                 -> null
    ).toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      ("A", ts(90), 9.0), ("A", ts(105), 10.5)
    ).toDF("sym", "qts", "px")
    (1 to 3).foreach { parts =>
      val got = onBothPaths(AsOfJoin.asOfNearest(trades, quotes.repartition(parts),
          Seq("sym"), "ts", "qts", Seq("px" -> "near_px")))
        .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double]("near_px"))).toMap
      assert(got === Map(1L -> Some(10.5), 2L -> Some(9.0),
        3L -> Some(9.0), 4L -> Some(10.5), 5L -> None), s"parts=$parts")
    }
    // exact tie: back at 95, fwd at 105, left at 100 -> distances 5 == 5,
    // backward preferred
    val tie = onBothPaths(AsOfJoin.asOfNearest(
        Seq((1L, "A", ts(100))).toDF("trade_id", "sym", "ts"),
        Seq(("A", ts(95), 1.0), ("A", ts(105), 2.0)).toDF("sym", "qts", "px"),
        Seq("sym"), "ts", "qts", Seq("px" -> "near_px")))
    assert(tie(0).getAs[Double]("near_px") === 1.0)
  }
}
