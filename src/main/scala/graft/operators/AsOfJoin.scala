package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.plans.SortedMergeUnionStrategy

/** As-of (most-recent-prior) join — the canonical market-data join the
  * reference lacks but its merged-stream consumers hand-roll inside
  * iteratee folds (the heterogeneous trades⋈orders interleaving of
  * `MultipleTimeSeriesEnumeratorTest.scala:262-311` exists precisely to
  * let a fold carry "latest order state as of each trade").
  *
  * Spark-first implementation (SURVEY §4: union + window, no custom
  * physical operator needed): tag both sides, union by the shared key +
  * time, and carry the right side's latest row forward as ONE struct
  * with `last(struct, ignoreNulls)` over a key-partitioned,
  * time-ordered window. Carrying a single struct (not one `last` per
  * column) means a matched right row whose value column is genuinely
  * NULL keeps that NULL — an older row's value is never substituted
  * field-by-field. One shuffle by key, per-key sort — identical data
  * movement to a sort-merge as-of join, and skew-safe under AQE. Left
  * rows then filter back out with the matched right columns attached.
  *
  * A small union skips the shuffle: when its estimated size (from the
  * analyzed plan, so no extra optimizer pass) fits the one-task bound
  * of the sorted-merge planner (`SortedMergeUnionStrategy.fitsOneTask`,
  * `-Dgraft.mergeSizeThreshold`, 256 MB by default), the window reads
  * the union through `coalesce(1)`. One partition satisfies both the
  * window's clustering and a keyless aggregate above it, so the as-of
  * and a fold over it run as one job instead of a map stage plus one
  * or two more exchanges.
  *
  * Ties (right.time == left.time) match, i.e. the join is "most recent
  * right event with rightTime <= leftTime" — DuckDB `ASOF JOIN`
  * semantics, which the oracle uses. Ties *among right rows* at equal
  * (key, time) resolve deterministically to the greatest `rightTie`
  * value (hard rule 4) when tie columns are supplied.
  *
  * NULL keys: SQL join equality never matches NULL = NULL, but a
  * window partition groups NULL keys together — left rows with NULL
  * keys here match NULL-keyed right rows (DuckDB ASOF would yield no
  * match). Filter NULL keys out first if SQL semantics are required;
  * the catalog queries join on non-null series keys.
  */
object AsOfJoin {

  /** @param left      probe side (each row gets the as-of match)
    * @param right     reference side (latest row at or before left
    *                  time — or, `forward = true`, the earliest row at
    *                  or after it)
    * @param keyCols   equi-key columns present on both sides
    * @param leftTime  event-time column on `left`
    * @param rightTime event-time column on `right`
    * @param rightVals right (srcCol, attachedName) pairs, order preserved
    * @param rightTie  right-side columns breaking ties at equal
    *                  (key, rightTime); the row with the greatest tie
    *                  tuple wins. Pass a unique id for determinism.
    * @param forward   false (default): most recent right row with
    *                  rightTime <= leftTime (DuckDB ASOF `>=`);
    *                  true: earliest right row with rightTime >=
    *                  leftTime — the mirrored scan direction.
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      rightTie: Seq[String] = Nil,
      forward: Boolean = false): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val rSelect = keyCols.map(col) ++
      Seq(col(rightTime).as("__t"), lit(0).as("__side")) ++
      rightTie.zipWithIndex.map { case (c, i) => col(c).as(s"__tie$i") } ++
      Seq(struct(rightVals.map { case (src, dst) => col(src).as(dst) }: _*)
        .as("__r"))
    val r = right.select(rSelect: _*)
    val union = l.unionByName(r, allowMissingColumns = true)
    val unioned =
      if (SortedMergeUnionStrategy.fitsOneTask(Bridge.analyzed(union))) union.coalesce(1)
      else union
    // Backward: ascending time; right rows sort before left rows at
    // equal time (__side 0 < 1) so an equal-time right row is visible
    // to the left row — ASOF <=. Among tied right rows, ascending tie
    // order makes the greatest tie tuple the last seen, i.e. the
    // winner. Left rows' __tie is NULL (sorts first in asc, last in
    // desc via nulls_last below) — irrelevant, they carry no __r.
    // Forward: the same carry over DESCENDING time — "last right seen
    // walking backward from +inf" == earliest right at or after.
    val timeOrd = if (forward) col("__t").desc else col("__t").asc
    // ties stay ascending in both directions: among equal-(key, time)
    // right rows the last visited — the carried one — is the greatest
    // tie tuple
    val ordering = Seq(timeOrd, col("__side").asc) ++
      rightTie.indices.map(i => col(s"__tie$i").asc)
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
    val attached = rightVals.map(_._2).foldLeft(carried) { (df, dst) =>
      df.withColumn(dst, col("__match").getField(dst))
    }
    attached
      .where(col("__side") === 1)
      .select((leftCols ++ rightVals.map(_._2)).map(col): _*)
  }

  /** [[asOf]] with a staleness bound (pandas `merge_asof(tolerance=)`
    * semantics): a match older than `tolUs` microseconds is nulled out
    * field-by-field on the SAME matched row — a too-old match never
    * falls back to an even older (thus also too-old) one. The
    * freshness compare is exact integer micros on both engines, so
    * the DuckDB oracle is the plain ASOF join wrapped in CASE
    * staleness guards (q129). */
  def asOfWithin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      tolUs: Long,
      rightTie: Seq[String] = Nil): DataFrame = {
    val tCol = "__asof_t"
    val enriched = asOf(left, right, keyCols, leftTime, rightTime,
      rightVals :+ (rightTime -> tCol), rightTie)
    val fresh = unix_micros(col(tCol).cast("timestamp")) >=
      unix_micros(col(leftTime).cast("timestamp")) - lit(tolUs)
    rightVals.map(_._2).foldLeft(enriched) { (df, dst) =>
      df.withColumn(dst, when(fresh, col(dst)))
    }.drop(tCol)
  }

  /** Nearest as-of (pandas `merge_asof(direction='nearest')`): each
    * left row takes whichever of its backward and forward matches is
    * CLOSER in event time; exactly equal distances prefer the
    * BACKWARD (earlier) match. Two direction-mirrored carries over
    * the same key shuffle, then a per-row exact-integer-micros
    * compare — no extra join (the second carry runs over the first's
    * output). The oracle (q155) is one backward + one forward DuckDB
    * ASOF join re-joined on the left row id with the identical CASE. */
  def asOfNearest(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      rightTie: Seq[String] = Nil): DataFrame = {
    val back = asOf(left, right, keyCols, leftTime, rightTime,
      rightVals.map { case (s, d) => (s, d + "__b") } :+
        (rightTime -> "__bt"), rightTie, forward = false)
    val both = asOf(back, right, keyCols, leftTime, rightTime,
      rightVals.map { case (s, d) => (s, d + "__f") } :+
        (rightTime -> "__ft"), rightTie, forward = true)
    val lUs = unix_micros(col(leftTime).cast("timestamp"))
    val chooseBack = col("__ft").isNull || (col("__bt").isNotNull &&
      (lUs - unix_micros(col("__bt").cast("timestamp"))) <=
        (unix_micros(col("__ft").cast("timestamp")) - lUs))
    rightVals.map(_._2).foldLeft(both) { (df, dst) =>
      df.withColumn(dst,
        when(chooseBack, col(dst + "__b")).otherwise(col(dst + "__f")))
    }.drop(rightVals.map(_._2 + "__b") ++ rightVals.map(_._2 + "__f") ++
      Seq("__bt", "__ft"): _*)
  }
}
