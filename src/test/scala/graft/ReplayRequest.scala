package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.OhlcAggregator
import graft.model.{Order, Trade}
import graft.operators.{AsOfJoin, OrderedMerge, SeriesScan}
import graft.sources.TimeSeriesTable

/** A replay request as a strategy client sends it: a trades and an
  * orders table in the `market=/date=` layout (2 markets, 2 days, 4
  * securities, 40 events of each kind per series-day), each opened
  * ONCE per request; the trades and orders of 2 securities of one
  * market over one whole day are merged in time order, and each trade
  * is as-of joined to its security's latest order and folded to OHLC. */
object ReplayRequest {
  private val Epoch = 1704153600000L // 2024-01-02T00:00:00Z
  private val DayMs = 86400000L
  private val base = "/tmp/graft_replay_request"
  val Securities: Seq[String] = Seq("S1", "S2")

  private lazy val written: Unit = {
    val spark = SparkTestBase.session
    import spark.implicits._
    val keys = for {
      m <- Seq("RTS", "MOEX"); d <- 0 until 2; s <- 1 to 4; i <- 0 until 40
    } yield (m, d, s"S$s", i)
    // times collide across kinds, so the merge and the as-of see ties;
    // event ids are unique, so (time, eventId) orders every row
    def at(d: Int, i: Int, s: String) =
      new Timestamp(Epoch + d * DayMs + (i / 2) * 60000L + s.last.asDigit * 7000L)
    TimeSeriesTable.write(keys.map { case (m, d, s, i) =>
      Trade(m, s, d * 1000L + i * 10 + s.last.asDigit, 100.0 + (i * 7 % 13), 1 + i % 5,
        at(d, i, s), nosystem = false)
    }.toDS().toDF(), s"$base/trades", "market", "time", "security")
    TimeSeriesTable.write(keys.map { case (m, d, s, i) =>
      Order(m, s, d * 1000L + 500 + i * 10 + s.last.asDigit, at(d, i + 1, s), 1, 1, 1,
        99.0 + (i * 5 % 11), 1, 0, None)
    }.toDS().toDF(), s"$base/orders", "market", "time", "security")
  }

  /** The 4 series of one request: each table opened once, each series
    * cut from it with the day's date partition in its key. */
  def series(spark: SparkSession): (Seq[DataFrame], Seq[DataFrame]) = {
    written
    val trades = TimeSeriesTable.read(spark, s"$base/trades")
    val orders = TimeSeriesTable.read(spark, s"$base/orders")
    val (from, to) = (new Timestamp(Epoch + DayMs), new Timestamp(Epoch + 2 * DayMs - 1))
    def cut(t: DataFrame, s: String) = SeriesScan.scan(t,
      Map("market" -> "RTS", "security" -> s, "date" -> java.sql.Date.valueOf("2024-01-03")),
      "time", from, to)
    (Securities.map(cut(trades, _)), Securities.map(cut(orders, _)))
  }

  /** The request's merged stream of trades and orders. */
  def merged(spark: SparkSession): DataFrame = {
    val (ts, os) = series(spark)
    OrderedMerge.mergeSortedTied("time", Seq("eventId"),
      ts.map(_.select(lit("trade").as("kind"), col("security"), col("tradeId").as("eventId"),
        col("price"), col("amount"), col("time"))) ++
      os.map(_.select(lit("order").as("kind"), col("security"), col("orderId").as("eventId"),
        col("price"), col("amount"), col("time"))): _*)
  }

  /** The OHLC fold of each trade's as-of order price: one row. */
  def asOfFold(spark: SparkSession): DataFrame = {
    val (ts, os) = series(spark)
    val ohlc = udaf(OhlcAggregator.agg)
    AsOfJoin.asOf(
      ts.map(_.select("security", "tradeId", "amount", "time")).reduce(_ unionByName _),
      os.map(_.select("security", "orderId", "price", "time")).reduce(_ unionByName _),
      Seq("security"), "time", "time", Seq("price" -> "order_price"), rightTie = Seq("orderId"))
      .where(col("order_price").isNotNull)
      .agg(ohlc(unix_micros(col("time")), col("tradeId"), col("order_price")).as("o"))
      .select("o.*")
  }
}
