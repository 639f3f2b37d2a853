package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Single-pass OHLC fold — the typed `Aggregator` rebuild of the
  * reference's user-supplied iteratee folds
  * (`marketdb-iteratee/.../MarketIteratees.scala`; SURVEY §2.10:
  * stateful custom folds → `Aggregator[IN, BUF, OUT]`).
  *
  * One buffer carries (firstTsUs, firstId, open, low, high, lastTsUs,
  * lastId, close, volume, n); merge is associative/commutative so Spark
  * computes map-side partials and the shuffle moves one small buffer
  * per group — equivalent cost to a built-in agg, but expressed as a
  * reusable fold like the reference's iteratees. Registered via
  * `functions.udaf` for Column use.
  *
  * Open/close ties at equal timestamps resolve on the unique event id
  * (project hard rule 4): open = row with min (tsUs, eventId), close =
  * row with max (tsUs, eventId) — deterministic regardless of
  * partition/arrival order, matching the oracle's
  * `first(value ORDER BY ts, event_id)` / `last(...)`.
  */
object OhlcAggregator {

  /** (tsMicros, unique event id, price) input; buffer/output as case
    * classes. */
  final case class In(tsUs: Long, eventId: Long, price: Double)
  final case class Buf(
      firstTsUs: Long, firstId: Long, open: Double,
      low: Double, high: Double,
      lastTsUs: Long, lastId: Long, close: Double,
      volume: Double, n: Long)
  final case class Ohlc(open: Double, high: Double, low: Double,
      close: Double, volume: Double, n: Long)

  val empty: Buf = Buf(Long.MaxValue, Long.MaxValue, 0.0,
    Double.MaxValue, Double.MinValue,
    Long.MinValue, Long.MinValue, 0.0, 0.0, 0L)

  /** (ts, id) lexicographic strictly-less. */
  private def lt(ts1: Long, id1: Long, ts2: Long, id2: Long): Boolean =
    ts1 < ts2 || (ts1 == ts2 && id1 < id2)

  // built once per JVM: `Encoders.product` derives through Scala
  // reflection, and the planner and every task ask for the encoders
  private val bufEncoder: Encoder[Buf] = Encoders.product[Buf]
  private val ohlcEncoder: Encoder[Ohlc] = Encoders.product[Ohlc]

  val agg: Aggregator[In, Buf, Ohlc] = new Aggregator[In, Buf, Ohlc] {
    override def zero: Buf = empty

    override def reduce(b: Buf, e: In): Buf = {
      val isFirst = b.n == 0 || lt(e.tsUs, e.eventId, b.firstTsUs, b.firstId)
      val isLast = b.n == 0 || lt(b.lastTsUs, b.lastId, e.tsUs, e.eventId)
      Buf(
        firstTsUs = if (isFirst) e.tsUs else b.firstTsUs,
        firstId = if (isFirst) e.eventId else b.firstId,
        open = if (isFirst) e.price else b.open,
        low = math.min(b.low, e.price),
        high = math.max(b.high, e.price),
        lastTsUs = if (isLast) e.tsUs else b.lastTsUs,
        lastId = if (isLast) e.eventId else b.lastId,
        close = if (isLast) e.price else b.close,
        volume = b.volume + e.price,
        n = b.n + 1)
    }

    override def merge(a: Buf, b: Buf): Buf =
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        val aFirst = lt(a.firstTsUs, a.firstId, b.firstTsUs, b.firstId)
        val aLast = lt(b.lastTsUs, b.lastId, a.lastTsUs, a.lastId)
        Buf(
          firstTsUs = if (aFirst) a.firstTsUs else b.firstTsUs,
          firstId = if (aFirst) a.firstId else b.firstId,
          open = if (aFirst) a.open else b.open,
          low = math.min(a.low, b.low),
          high = math.max(a.high, b.high),
          lastTsUs = if (aLast) a.lastTsUs else b.lastTsUs,
          lastId = if (aLast) a.lastId else b.lastId,
          close = if (aLast) a.close else b.close,
          volume = a.volume + b.volume,
          n = a.n + b.n)
      }

    override def finish(b: Buf): Ohlc =
      Ohlc(b.open, b.high, b.low, b.close, b.volume, b.n)

    override def bufferEncoder: Encoder[Buf] = bufEncoder
    override def outputEncoder: Encoder[Ohlc] = ohlcEncoder
  }
}
