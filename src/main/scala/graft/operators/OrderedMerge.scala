package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** k-way time-ordered merge of multiple series — the reference's core
  * read-path operator: N sorted scanner streams interleaved by
  * min-timestamp head selection into one globally time-ordered stream
  * (`marketdb-iteratee/.../TimeSeriesEnumerator.scala:70-98`, min-head
  * pick at `:86-92`), including heterogeneous trades+orders merges
  * (`MultipleTimeSeriesEnumeratorTest.scala:262-311`).
  *
  * Spark-first: every merge is Spark's own global sort over a union,
  * so Catalyst prunes, pushes filters, drops the sort under
  * order-free aggregates and plans a limit as a top-n by its own rules.
  * `graft.plans.SortedMergeUnionStrategy` turns the sort into a
  * one-task k-way heap merge of per-child sorted runs when each child
  * fits one task; otherwise Spark plans it as usual (range partitioning
  * + per-partition sort, the reference algorithm distributed across
  * executors). The invariant carried over from the reference test suite
  * (`MultipleTimeSeriesEnumeratorTest.scala:205-210`) is
  * *non-decreasing event time*; tie order between streams is
  * unspecified there and stays unspecified here unless tiebreak columns
  * are given (`mergeSortedTied`). Streams cut from one opened table by
  * an equality on one column (`SeriesScan.scan(t, security = s_i)`)
  * are read by one scan (`graft.plans.SharedSliceScan`), so rows of
  * those streams with equal merge keys leave in that scan's sorted
  * order, not in the caller's stream order.
  */
object OrderedMerge {

  /** Merge heterogeneous series into one globally time-ordered stream.
    * Missing columns null-fill (superset schema, SURVEY §1.4): each
    * stream is projected onto the columns, order and types that
    * `unionByName(allowMissingColumns = true)` gives, then merged by
    * `mergeSortedTied(timeCol, Nil, ...)`. */
  def merge(timeCol: String, streams: DataFrame*): DataFrame = {
    require(streams.nonEmpty, "need at least one stream")
    val superset = streams.reduce(_.unionByName(_, allowMissingColumns = true)).schema
    val resolver = SQLConf.get.resolver
    val filled = streams.map { s =>
      s.select(superset.fields.toSeq.map { f =>
        s.columns.find(resolver(_, f.name)).map(col).getOrElse(lit(null))
          .cast(f.dataType).as(f.name)
      }: _*)
    }
    mergeSortedTied(timeCol, Nil, filled: _*)
  }

  /** Merge keeping a discriminator column naming the source stream —
    * mirrors the reference's typed-payload pattern match on the merged
    * stream. */
  def mergeTagged(timeCol: String, tagged: (String, DataFrame)*): DataFrame =
    merge(
      timeCol,
      tagged.map { case (tag, df) => df.withColumn("stream", lit(tag)) }: _*)

  /** `merge` for streams that already share the schema (no null-fill):
    * k-way merge of pre-sorted series without a re-sort when sizes
    * allow, Union+Sort fallback otherwise — the planner decides from
    * stats. Each stream is sorted by `timeCol` on the way in (a no-op
    * for sources that already are, thanks to requiredChildOrdering). */
  def mergeSorted(timeCol: String, streams: DataFrame*): DataFrame =
    mergeSortedTied(timeCol, Nil, streams: _*)

  /** `mergeSorted` with explicit tiebreak columns: (timeCol, tieCols)
    * should form a per-child total order, making merge + limit return a
    * deterministic row set (hard rule 4) — the top-n sorts by the full
    * key, so equal timestamps straddling row n can no longer flip the
    * selection. Without tiebreaks, tie order stays unspecified (the
    * reference's semantics). */
  def mergeSortedTied(timeCol: String, tieCols: Seq[String],
      streams: DataFrame*): DataFrame = {
    require(streams.nonEmpty, "need at least one stream")
    graft.GraftExtensions.install(streams.head.sparkSession)
    val cols = streams.head.columns.toSeq
    val aligned = streams.map(_.select(cols.map(col): _*))
    aligned.reduce(_ union _).orderBy((timeCol +: tieCols).map(col): _*)
  }

  /** Order-invariant check (the reference's `sortedLogger` test fold,
    * `marketdb-loader/src/test/scala/.../ScalazIterateeTests.scala:67-84`):
    * count of adjacent inversions in the frame's CURRENT row order
    * (partitions in index order, rows in partition order); 0 ⇔ the
    * stream is non-decreasing in `timeCol`. Checked per-partition in
    * parallel plus one tiny driver pass over per-partition (first,
    * last) boundaries — a window ordered by `timeCol` itself would
    * re-sort the data and make the check vacuous. Nulls are skipped. */
  def inversions(df: DataFrame, timeCol: String): Long = {
    val parts = df.select(col(timeCol)).rdd
      .mapPartitionsWithIndex { (idx, it) =>
        var inv = 0L
        var first: Comparable[Any] = null
        var prev: Comparable[Any] = null
        it.foreach { row =>
          val v = if (row.isNullAt(0)) null
            else row.get(0).asInstanceOf[Comparable[Any]]
          if (v != null) {
            if (prev != null && prev.compareTo(v) > 0) inv += 1
            if (first == null) first = v
            prev = v
          }
        }
        Iterator.single((idx, inv, first, prev))
      }
      .collect().sortBy(_._1)
    val within = parts.map(_._2).sum
    val nonEmpty = parts.filter(_._3 != null)
    val boundary = nonEmpty.sliding(2).count {
      case Array((_, _, _, prevLast), (_, _, nextFirst, _)) =>
        prevLast.compareTo(nextFirst) > 0
      case _ => false
    }
    within + boundary
  }
}
