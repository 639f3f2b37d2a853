package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.SeriesLayout

/** Time-series range scan — the reference's only query primitive:
  * resolve (market, security) and compile the interval into a physical
  * scan range (`marketdb-core/.../core/MarketDB.scala:66-85`; the
  * start/stop key build at `:79-84`, end-inclusive via a `0x00`-padded
  * stop key).
  *
  * Spark-first: the "plan" is a lazy filtered DataFrame. Catalyst
  * pushes the series and time predicates into the parquet scan
  * (PushedFilters + row-group min/max pruning). On a series table
  * layout (`SeriesLayout`: `TimeSeriesTable`'s `market=/date=`,
  * `IngestPipeline`'s `__date=`) a `market` key prunes `market=`
  * directories and the interval is also compiled into a range of the
  * date partition column, as the HBase key range spanned the key's
  * `year ++ dayOfYear`: a one-day request opens one date directory. The
  * returned DataFrame is the `TimeSeries` handle: nothing executes
  * until an action, matching the reference's handle-then-enumerate
  * split (`TimeSeriesEnumerator.scala:114-124`).
  */
object SeriesScan {

  /** Generic series scan: equality predicates on the series key columns
    * plus an end-inclusive time interval (reference interval semantics:
    * stop key padded to include the upper bound, `MarketDB.scala:79-82`).
    *
    * When `table` is a scan of a series layout (`SeriesLayout.of`), the
    * date partition column is bounded by the dates of `from` and `to`
    * beside the time predicate. Every row inside the interval has its
    * date inside those bounds, so the rows are the same and only
    * directories that cannot hold one are skipped. */
  def scan(
      table: DataFrame,
      seriesKey: Map[String, Any],
      timeCol: String,
      from: Timestamp,
      to: Timestamp): DataFrame = {
    val keyPred = seriesKey
      .map { case (c, v) => col(c) === lit(v) }
      .reduceOption(_ && _)
      .getOrElse(lit(true))
    // cast bounds to the column's type (TIMESTAMP vs TIMESTAMP_NTZ)
    val dt = table.schema(timeCol).dataType
    val (lo, hi) = (lit(from).cast(dt), lit(to).cast(dt))
    val pred = SeriesLayout.of(table, timeCol).fold(keyPred)(l => keyPred &&
      col(l.dateCol).between(SeriesLayout.dateOf(lo), SeriesLayout.dateOf(hi)))
    table.where(pred && col(timeCol) >= lo && col(timeCol) <= hi)
  }

  /** Ordered enumeration of one series — batches arrive time-sorted in
    * the reference (`TimeSeriesEnumerator.scala:50-68`, sort at `:57`).
    * A single series is one filtered scan; `sortWithinPartitions`
    * keeps the sort shuffle-free when downstream only needs per-partition
    * order, `orderBy` when a global order is required. */
  def enumerate(scanned: DataFrame, timeCol: String = "time"): DataFrame =
    scanned.orderBy(col(timeCol))
}
