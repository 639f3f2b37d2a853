package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

/** How a series table lays time out on disk: its time column, the date
  * partition column derived from it, and the market partition column if
  * there is one. It is the Spark-native half of the reference's row key
  * `marketId ++ securityId ++ year ++ dayOfYear ++ minuteOfDay`
  * (`marketdb-core/.../model/Trade.scala:22-30`): the date partition is
  * the key's day, so an interval names the directories it can touch.
  *
  * Both writers derive the date through [[SeriesLayout.dateOf]] and
  * `SeriesScan.scan` derives its date bounds through the same
  * expression, so what a writer puts in a directory and what a reader
  * prunes to cannot disagree. */
final case class SeriesLayout(timeCol: String, dateCol: String,
    marketCol: Option[String]) {

  /** `df` with the date partition column derived from the time column. */
  def withDate(df: DataFrame): DataFrame =
    df.withColumn(dateCol, SeriesLayout.dateOf(col(timeCol)))

  /** The partition columns a writer lays the table out by. */
  def partitionCols: Seq[String] = marketCol.toSeq :+ dateCol
}

object SeriesLayout {

  /** `TimeSeriesTable`'s `market=<m>/date=<d>` layout. */
  def table(marketCol: String, timeCol: String): SeriesLayout =
    SeriesLayout(timeCol, "date", Some(marketCol))

  /** `IngestPipeline`'s append-only `__date=<d>` layout. */
  def ingest(timeCol: String): SeriesLayout =
    SeriesLayout(timeCol, "__date", None)

  /** The date of a time: the UTC calendar date of a `TIMESTAMP` and the
    * wall date of a `TIMESTAMP_NTZ`. The zone is pinned, not taken from
    * the session, so a table written under one session time zone is
    * pruned correctly under any other; under a UTC session the value is
    * the one `to_date` gives. */
  def dateOf(time: Column): Column =
    Bridge.column(Cast(Bridge.expression(time), DateType, Some("UTC")))

  /** The layout `df` is a scan of, if any: `df` reads one parquet (or
    * other file) relation, `timeCol` is a timestamp data column of it,
    * and a layout's date column is a `DATE` partition column of it —
    * each passed through to `df`'s output unchanged. Read from the
    * analyzed plan, so a data column that is merely called `date`, or a
    * renamed or derived one, never qualifies. A date partition column is
    * taken to hold the date of `timeCol`, as both writers lay it out. */
  def of(df: DataFrame, timeCol: String): Option[SeriesLayout] = {
    val plan = Bridge.analyzed(df)
    plan.collectLeaves() match {
      case Seq(l: LogicalRelation) => l.relation match {
        case fs: HadoopFsRelation =>
          val parts = fs.partitionSchema.fieldNames.toSet
          def column(name: String, types: DataType*): Boolean = l.output.exists(a =>
            a.name == name && types.contains(a.dataType) &&
              plan.output.exists(_.exprId == a.exprId))
          val timed = !parts(timeCol) &&
            column(timeCol, TimestampType, TimestampNTZType)
          Seq(table("market", timeCol), ingest(timeCol))
            .find(layout => timed && parts(layout.dateCol) && column(layout.dateCol, DateType))
            .map(layout => layout.copy(marketCol = layout.marketCol.filter(parts)))
        case _ => None
      }
      case _ => None
    }
  }
}
