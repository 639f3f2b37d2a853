package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-series range scan — the reference's only query primitive:
  * resolve (market, security) and compile the interval into a physical
  * scan range (`marketdb-core/.../core/MarketDB.scala:66-85`; the
  * start/stop key build at `:79-84`, end-inclusive via a `0x00`-padded
  * stop key).
  *
  * Spark-first: the "plan" is a lazy filtered DataFrame. Catalyst
  * pushes the series and time predicates into the parquet scan
  * (PushedFilters + row-group min/max pruning). On a
  * `partitionBy(market, date)` layout a `market` key prunes `market=`
  * directories, but the time interval does not prune `date=` (or
  * `IngestPipeline`'s `__date=`) ones: the filter is on the time column
  * only, so a one-day request lists and opens every date of its market
  * unless the caller also passes the date partition column as a series
  * key. Compiling the interval into a date-partition predicate, as the
  * HBase key range did, is ROADMAP item 1. The returned DataFrame is the
  * `TimeSeries` handle: nothing executes until an action, matching the
  * reference's handle-then-enumerate split
  * (`TimeSeriesEnumerator.scala:114-124`).
  */
object SeriesScan {

  /** Generic series scan: equality predicates on the series key columns
    * plus an end-inclusive time interval (reference interval semantics:
    * stop key padded to include the upper bound, `MarketDB.scala:79-82`). */
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
    table.where(keyPred &&
      col(timeCol) >= lit(from).cast(dt) && col(timeCol) <= lit(to).cast(dt))
  }

  /** Ordered enumeration of one series — batches arrive time-sorted in
    * the reference (`TimeSeriesEnumerator.scala:50-68`, sort at `:57`).
    * A single series is one filtered scan; `sortWithinPartitions`
    * keeps the sort shuffle-free when downstream only needs per-partition
    * order, `orderBy` when a global order is required. */
  def enumerate(scanned: DataFrame, timeCol: String = "time"): DataFrame =
    scanned.orderBy(col(timeCol))
}
