package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.MarketDbApi
import graft.functions.OhlcAggregator
import graft.model.{Order, Trade}
import graft.operators.{AsOfJoin, OrderedMerge, SeriesScan}
import graft.sources.TimeSeriesTable

/** A replay: the trades and orders of `securities` over one whole day. */
final case class MergeReq(market: String, day: Int, securities: Seq[String])

/** Rows the replay received and how many of them arrived out of time
  * order, and the OHLC fold of the as-of order price over the request's
  * trades in (time, trade id) order: open, high, low, close, volume
  * (rounded sum) and the trades matched. */
final case class MergeAns(rows: Long, inversions: Long,
    ohlc: (Double, Double, Double, Double, Double, Long))

/** One day's load: the set-up it belongs to, its rows and its time. */
final case class DayLoad(rep: Int, rows: Long, ms: Double)

/** `merge_replay`: a strategy replay over a short history with few
  * partitions. The set-up loads the history one day at a time, as a
  * daily load would, each load replacing only its own date partitions
  * of each table. Each request opens both tables once, merges 4 series (a
  * trades and an orders series for each of 2 Zipf-picked securities)
  * over one day with `OrderedMerge.mergeSortedTied` and receives the
  * merged stream in order, then joins each trade to the latest order as
  * of its time (`AsOfJoin`) and folds the result with `OhlcAggregator`. */
final class MergeReplayWorkload(ctx: Ctx) extends Workload {
  private val shape = Gen.Shape(markets = 2, days = 4, securities = 100,
    tradesPerDay = 2000, ordersPerDay = 2000)
  // series per merge: every request merges the same number, so latencies
  // are comparable; at 16 one request takes about 3 s and at 64 about
  // 10 s on 4 cores, too few requests for a run's timed window
  private val Fanin = 4
  private val spark = ctx.spark
  private val w = ctx.opts.workload
  private val loads = mutable.ArrayBuffer.empty[DayLoad]
  private var inputRows = 0L
  private var inputBytes = 0L
  private var rep = 0
  private var history: (Array[Trade], Array[Order]) = _
  private val reqs = mutable.ArrayBuffer.empty[MergeReq]
  private val answers = mutable.ArrayBuffer.empty[Option[MergeAns]]
  private val latMs = mutable.ArrayBuffer.empty[Double]

  private def tradesIn = ctx.dir(s"r$rep/input/trades")
  private def ordersIn = ctx.dir(s"r$rep/input/orders")
  private def tradesTbl = ctx.dir(s"r$rep/trades")
  private def ordersTbl = ctx.dir(s"r$rep/orders")

  def setup(rep: Int): Unit = {
    this.rep = rep
    import spark.implicits._
    history = Gen.history(ctx.opts.seed, shape)
    val (ts, os) = history
    inputBytes = Gen.write(Gen.tradesDf(spark, ts.toSeq), tradesIn) +
      Gen.write(Gen.ordersDf(spark, os.toSeq), ordersIn)
    inputRows = ts.length.toLong + os.length
    val rowsOf = (ts.map(t => dayOf(t.time.getTime)) ++ os.map(o => dayOf(o.time.getTime)))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    // a write replaces only the date partitions it holds (the idiom of
    // graft.operators.DeletionVectors); the session's mode is restored
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(mode)
    spark.conf.set(mode, "dynamic")
    try {
      for (d <- 0 until shape.days) {
        val slice = to_date(col("time")) === lit(dateOf(d))
        val t0 = System.nanoTime
        MarketDbApi.store(spark.read.parquet(tradesIn).where(slice).as[Trade], tradesTbl)
        TimeSeriesTable.write(spark.read.parquet(ordersIn).where(slice), ordersTbl, "market", "time", "security")
        loads += DayLoad(rep, rowsOf.getOrElse(d, 0L), (System.nanoTime - t0) / 1e6)
      }
    } finally spark.conf.set(mode, prev)
  }

  private def dayOf(ms: Long): Int = ((ms - Gen.Epoch) / Gen.DayMs).toInt

  private def dateOf(day: Int) =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(Gen.dayStart(day) / Gen.DayMs))

  def teardown(): Unit = ctx.delete(s"r$rep")

  def warmup(): Unit = {
    val r = new SplittableRandom(ctx.opts.seed ^ 0x5EEDL)
    val zipf = new Zipf(shape.securities, 1.1)
    // a day's bounds are literals in the generated code: warm up every
    // day once, so no timed request waits for code generation
    (0 until shape.days).foreach(d => run(next(r, zipf).copy(day = d)))
  }

  private def next(r: SplittableRandom, zipf: Zipf): MergeReq =
    MergeReq(Gen.Markets(r.nextInt(Gen.Markets.size)), r.nextInt(shape.days),
      zipf.distinct(r, Fanin / 2).map(Gen.security))

  /** The request's series: each table is opened once, and each series
    * is cut from it by `SeriesScan.scan` with the day's date partition in
    * its key, so every series is one pruned file. */
  private def handles(q: MergeReq): (Seq[DataFrame], Seq[DataFrame]) = {
    val trades = TimeSeriesTable.read(spark, tradesTbl)
    val orders = TimeSeriesTable.read(spark, ordersTbl)
    val from = new Timestamp(Gen.dayStart(q.day))
    val to = new Timestamp(Gen.dayStart(q.day + 1) - 1)
    val date = dateOf(q.day)
    def series(t: DataFrame, s: String) =
      SeriesScan.scan(t, Map("market" -> q.market, "security" -> s, "date" -> date), "time", from, to)
    (q.securities.map(series(trades, _)), q.securities.map(series(orders, _)))
  }

  private def merged(ts: Seq[DataFrame], os: Seq[DataFrame]): DataFrame = {
    val events =
      ts.map(_.select(lit("trade").as("kind"), col("security"), col("tradeId").as("eventId"),
        col("price"), col("amount"), col("time"))) ++
      os.map(_.select(lit("order").as("kind"), col("security"), col("orderId").as("eventId"),
        col("price"), col("amount"), col("time")))
    OrderedMerge.mergeSortedTied("time", Seq("eventId"), events: _*)
  }

  private lazy val ohlc = udaf(OhlcAggregator.agg)
  /** `OhlcAggregator`'s result over no rows: its empty buffer, finished. */
  private val NoTrades = (0.0, Double.MinValue, Double.MaxValue, 0.0, 0.0, 0L)

  private def run(q: MergeReq): MergeAns = {
    val t = ctx.tracer
    val (ts, os) = t.span("marketdbapi", "open")(handles(q))
    // the replay consumes the merged stream in order, as a client would
    val times = t.span("operators", "merge")(merged(ts, os).collect()).map(_.getTimestamp(5).getTime)
    val inversions = times.indices.drop(1).count(i => times(i - 1) > times(i)).toLong
    val fold = t.span("operators", "asof") {
      val j = AsOfJoin.asOf(
        ts.map(_.select("security", "tradeId", "amount", "time")).reduce(_ unionByName _),
        os.map(_.select("security", "orderId", "price", "time")).reduce(_ unionByName _),
        Seq("security"), "time", "time", Seq("price" -> "order_price"), rightTie = Seq("orderId"))
      t.span("functions", "ohlc") {
        val r = j.where(col("order_price").isNotNull)
          .agg(ohlc(unix_micros(col("time")), col("tradeId"), col("order_price")).as("o"))
          .select(col("o.open"), col("o.high"), col("o.low"), col("o.close"),
            round(col("o.volume"), 6), col("o.n")).head()
        (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))
      }
    }
    MergeAns(times.length, inversions, fold)
  }

  def timed(deadlineNs: Long): Unit = {
    val r = new SplittableRandom(ctx.opts.seed)
    val zipf = new Zipf(shape.securities, 1.1)
    while (System.nanoTime < deadlineNs) {
      val q = next(r, zipf)
      val t0 = System.nanoTime
      val a = ctx.op(s"merge $q")(ctx.tracer.request("replay")(run(q)))
      latMs += (System.nanoTime - t0) / 1e6
      reqs += q
      answers += a
    }
  }

  /** The reference answers, computed from the generator's rows in plain
    * Scala: no Spark, table layout, merge, as-of join or fold involved. */
  def verify(): Unit = {
    val tradesOf = history._1.groupBy(t => (t.market, dayOf(t.time.getTime), t.security))
    val ordersOf = history._2.groupBy(o => (o.market, dayOf(o.time.getTime), o.security))
    reqs.indices.foreach { i =>
      answers(i).foreach { a =>
        val q = reqs(i)
        val keys = q.securities.map(s => (q.market, q.day, s))
        val rows = keys.map(k => tradesOf.get(k).fold(0)(_.length) + ordersOf.get(k).fold(0)(_.length))
        // each trade's latest order at or before it in its series; ties on
        // time go to the greatest order id
        val matched = keys.flatMap { k =>
          val os = ordersOf.getOrElse(k, Array.empty[Order]).sortBy(o => (o.time.getTime, o.orderId))
          val times = os.map(_.time.getTime)
          tradesOf.getOrElse(k, Array.empty[Trade]).flatMap { t =>
            val j = times.lastIndexWhere(_ <= t.time.getTime)
            if (j < 0) None else Some((t.time.getTime, t.tradeId, os(j).price))
          }
        }.sortBy(m => (m._1, m._2)).map(_._3)
        val fold = if (matched.isEmpty) NoTrades
          else (matched.head, matched.max, matched.min, matched.last,
            BigDecimal(matched.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            matched.size.toLong)
        val want = MergeAns(rows.sum.toLong, 0L, fold)
        ctx.outcome.check(a == want, s"merge $q: got $a, want $want")
      }
    }
  }

  def report(): Unit = {
    val p50 = Reads.latencyLines(ctx, "merge", latMs.toSeq)
    val ok = answers.flatten
    ctx.report.line(f"[$w] merge_rows_per_s = ${ok.map(_.rows).sum / (latMs.sum / 1000)}%.1f rows/s " +
      s"(${ok.map(_.rows).sum} rows merged over ${ok.size} requests)")
    // the first set-up runs in a cold JVM
    val warm = loads.filter(_.rep > 0).toSeq
    val load = Stats.median(warm.map(_.ms))
    val rowsPerS = warm.map(_.rows).sum / (warm.map(_.ms).sum / 1000)
    val amp = (Files.bytes(new File(tradesTbl)) + Files.bytes(new File(ordersTbl))).toDouble / inputBytes
    ctx.report.line(f"[$w] load_p50_ms = $load%.3f ms (one day of both tables, n=${warm.size} warm loads)")
    ctx.report.line(f"[$w] load_rows_per_s = $rowsPerS%.1f rows/s (${warm.map(_.rows).sum} rows in ${warm.size} warm loads)")
    ctx.report.line(f"[$w] input: $inputRows rows, $inputBytes bytes; " +
      s"${shape.markets} markets x ${shape.days} days, ${shape.securities} securities")
    ctx.report.line(f"[$w] space_amp = $amp%.4f (table bytes on disk / input bytes)")
    ctx.report.metric("read_p50_ms", p50, "ms")
    ctx.report.metric("fresh_p50_ms", load, "ms")
    ctx.report.metric("write_rows_per_s", rowsPerS, "rows/s")
    ctx.report.metric("space_amp", amp, "ratio")
  }

  def layers(): Unit = {
    val t = ctx.tracer
    val roots = t.spans.filter(s => s.parent == 0 && s.name == "replay")
    val all = t.subtree(roots)
    val merges = all.filter(_.name == "merge")
    LayerCalc.operators(ctx, roots)
    // every series is read twice: by the merge and by the as-of join
    LayerCalc.sources(ctx, Seq(tradesTbl, ordersTbl), roots.size,
      2 * answers.flatten.map(_.rows).sum)
    ctx.layer("marketdbapi.open_ms") = LayerCalc.meanMs(all.filter(_.name == "open"))
    ctx.layer("operators.merge_exec_ms") = LayerCalc.meanMs(merges)
    ctx.layer("operators.asof_ms") = LayerCalc.meanMs(all.filter(_.name == "asof"))
    ctx.layer("functions.fold_ms") = LayerCalc.meanMs(all.filter(_.layer == "functions"))
    ctx.layer("plans.kway_share") = t.queries.count(_.kway).toDouble / math.max(1, merges.size)
    ctx.layer("plans.merge_tasks") = t.countsFor(merges).tasks.toDouble / math.max(1, merges.size)
  }
}
