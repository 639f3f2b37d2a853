package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{MarketEvent, Order, Trade}
import graft.operators.{Dedup, OrderedMerge, SeriesScan}
import graft.sources.TimeSeriesTable

/** Reference-shaped API facade — the rebuild of MarketDb's public
  * surface, entry-point for entry-point (SURVEY §3):
  *
  *  - `MarketDb.trades/orders(market, security, interval)` returning a
  *    lazy `TimeSeries` handle (`marketdb-core/.../core/MarketDB.scala:66-106`)
  *    → `trades`/`orders` returning a lazy, predicate-pushed
  *    `Dataset[Trade]`/`Dataset[Order]` — the unexecuted Dataset IS the
  *    handle; nothing runs until an action.
  *  - `TimeSeriesEnumerator(series...).enumerate(iteratee)`
  *    (`marketdb-iteratee/.../TimeSeriesEnumerator.scala:114-124`) →
  *    the fold surface below (`counter`, `sequencer`, `foreach`) plus
  *    `scanAll` for the heterogeneous multi-series merge
  *    (`MultipleTimeSeriesEnumeratorTest.scala:262-311`).
  *  - `MarketDb.addTrade` idempotent keyed upsert
  *    (`core/MarketDB.scala:139-168`) → `store`: deterministic
  *    dedup-by-event-key then partitioned, sorted table write (the
  *    streaming path is `graft.streaming.IngestPipeline`).
  */
object MarketDbApi {

  /** Lazy trades series handle (reference README flagship usage). */
  def trades(spark: SparkSession, path: String, market: String,
      security: String, from: Timestamp, to: Timestamp): Dataset[Trade] = {
    import spark.implicits._
    series[Trade](spark, path, market, security, from, to)
  }

  /** Lazy orders series handle (`MarketDB.scala:87-106`). */
  def orders(spark: SparkSession, path: String, market: String,
      security: String, from: Timestamp, to: Timestamp): Dataset[Order] = {
    import spark.implicits._
    series[Order](spark, path, market, security, from, to)
  }

  /** One (market, security) series of the table at `path` over the
    * end-inclusive interval, as the columns of `T`. */
  private def series[T: Encoder](spark: SparkSession, path: String,
      market: String, security: String, from: Timestamp,
      to: Timestamp): Dataset[T] =
    SeriesScan.scan(TimeSeriesTable.read(spark, path),
        Map("market" -> market, "security" -> security), "time", from, to)
      .select(implicitly[Encoder[T]].schema.fieldNames.toSeq.map(col): _*)
      .as[T]

  /** Heterogeneous multi-series scan: trades and orders of one series
    * merged into a single globally time-ordered `MarketEvent` stream —
    * the `TimeSeriesEnumerator[MarketPayload]` varargs constructor
    * (`TimeSeriesEnumerator.scala:27-30`). */
  def scanAll(tradeSeries: Dataset[Trade], orderSeries: Dataset[Order])(
      implicit spark: SparkSession): Dataset[MarketEvent] = {
    import spark.implicits._
    val t = tradeSeries.toDF.select(lit("trade").as("kind"), col("market"),
      col("security"), col("tradeId").as("eventId"), col("price"),
      col("amount"), col("time"))
    val o = orderSeries.toDF.select(lit("order").as("kind"), col("market"),
      col("security"), col("orderId").as("eventId"), col("price"),
      col("amount"), col("time"))
    OrderedMerge.merge("time", t, o).as[MarketEvent]
  }

  // ── fold surface (MarketIteratees.scala:7-54) ─────────────────────

  /** `counter` — the README flagship: event count for an interval. */
  def counter[T](series: Dataset[T]): Long = series.count()

  /** `sequencer` — materialize the ordered series (test-scale only;
    * collect() is the reference's semantics, not a 100 TB path). */
  def sequencer[T](series: Dataset[T], timeCol: String = "time"): Seq[T] =
    series.orderBy(col(timeCol)).collect().toSeq

  /** `printer` — foreach/sink fold; `f` runs on executors. */
  def foreach[T](series: Dataset[T])(f: T => Unit): Unit =
    series.foreach(f)

  // ── ingest (core/MarketDB.scala:139-210) ──────────────────────────

  /** Idempotent batch store: the reference's rowkey+qualifier overwrite
    * semantics (same (market, security, eventId) replaces) made
    * deterministic — keep the latest by time; two candidate rows at the
    * SAME (key, time) are further tie-broken on (price, amount) so the
    * survivor is total-order deterministic per hard rule 4 (the id is
    * part of the key, so it cannot break this tie) — then written as
    * the partitioned, sorted time-series layout. */
  def store(trades: Dataset[Trade], path: String, filesPerDate: Int = 1): Unit = {
    val deduped = Dedup.firstByKey(
      trades.toDF.withColumn("__neg_t", -unix_micros(col("time").cast("timestamp"))),
      Seq("market", "security", "tradeId"),
      // every non-key Trade field participates so the order is total
      Seq("__neg_t", "price", "amount", "nosystem"))
      .drop("__neg_t")
    TimeSeriesTable.write(deduped, path, "market", "time", "security",
      filesPerDate)
  }
}
