package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver testdata layout
  * (`/root/testdata/sfN/NAME.parquet`).
  *
  * This is the Spark analog of the reference's scanner-open path
  * (`marketdb-iteratee/.../TimeSeriesEnumerator.scala:36-46`): nothing
  * custom — `spark.read.parquet` yields a lazy scan whose filters and
  * projections Catalyst pushes into the parquet reader (the rebuild's
  * replacement for HBase start/stop row keys).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp columns normalized to TIMESTAMP_NTZ micros regardless of
    * the parquet physical encoding. Driver testdata has shipped
    * `events.ts` as TIMESTAMP(NANOS) in some rounds (Spark has no nanos
    * type — read as raw Long via `spark.sql.legacy.parquet.nanosAsLong`,
    * truncated to micros like DuckDB's nanos→micros cast) and as plain
    * TIMESTAMP(MICROS) in others; adapt to whatever the file declares so
    * every downstream query sees one canonical TIMESTAMP_NTZ column. */
  private val tsCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    tsCols.get(name) match {
      case None => spark.read.parquet(path)
      case Some(cols) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        cols.foldLeft(spark.read.parquet(path)) { (df, c) =>
          import org.apache.spark.sql.functions.{col, expr}
          import org.apache.spark.sql.types._
          df.schema(c).dataType match {
            case LongType => // TIMESTAMP(NANOS) read as raw nanos
              df.withColumn(c,
                expr(s"CAST(timestamp_micros($c div 1000) AS TIMESTAMP_NTZ)"))
            case TimestampNTZType => df
            case TimestampType => // sessions pin UTC: re-tag, same instant
              df.withColumn(c, col(c).cast(TimestampNTZType))
            case other => sys.error(s"unexpected type for $name.$c: $other")
          }
        }
    }
  }

  /** Fixed scratch path for q68's in-query partitioned ingest layout —
    * fixed because `oracleSql` is a static string; two concurrent
    * harness runs on one box would collide (accepted, same trade as
    * `Multimodal.scratchCorpusPath`). */
  val scratchPartitionedPath: String = "/tmp/graft_q68_events"

  /** Fixed scratch base for q69's bucketed co-located join layout
    * (`li/` and `ord/` sub-dirs) — same fixed-path trade as q68. */
  val scratchBucketedBase: String = "/tmp/graft_q69_bucketed"
}
