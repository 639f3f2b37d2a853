package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Order-book reconstruction from order-event deltas — the
  * finance-specific stateful fold SURVEY §2.10 calls out as the
  * natural custom `Aggregator` over the reference's `OrderPayload`
  * stream (`marketdb-api/.../model/Payload.scala:19-28`: status,
  * action, dir, price, amount — consumers rebuild book state by
  * folding these deltas in the iteratee).
  *
  * Input is one delta per order event: `qtyDelta` positive for a
  * placement, negative for a cancel/fill, `dir` 1=bid 2=ask. The
  * buffer is the per-price-level net quantity; merge sums level-wise,
  * so the fold is associative/commutative and Spark computes map-side
  * partials (order of deltas within a level does not matter — net
  * quantity is a sum). `finish` emits top-of-book: best bid (highest
  * price with positive depth), best ask (lowest), their depths, and
  * the level count.
  */
object OrderBookAggregator {

  final case class Delta(dir: Short, price: Double, qtyDelta: Long)
  final case class BookTop(
      bestBid: Option[Double], bidDepth: Long,
      bestAsk: Option[Double], askDepth: Long,
      nLevels: Long)

  // buffer: (dir, price) -> net qty; keys encoded as "d:p" strings for
  // a stable Spark map encoder (map keys must be encodable + equatable)
  type Buf = Map[String, Long]

  private def key(dir: Short, price: Double): String = {
    // normalize -0.0 -> 0.0: the string key would otherwise split one
    // price level in two (Catalyst normalizes floats in groupBy keys;
    // an Aggregator buffer must do its own)
    val p = if (price == 0.0) 0.0 else price
    s"$dir:$p"
  }
  private def parse(k: String): (Short, Double) = {
    val i = k.indexOf(':')
    (k.substring(0, i).toShort, k.substring(i + 1).toDouble)
  }

  // built once per JVM: encoder derivation goes through Scala
  // reflection, and the planner and every task ask for the encoders
  private val bufEncoder: Encoder[Buf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  private val bookTopEncoder: Encoder[BookTop] = Encoders.product[BookTop]

  val agg: Aggregator[Delta, Buf, BookTop] = new Aggregator[Delta, Buf, BookTop] {
    override def zero: Buf = Map.empty

    override def reduce(b: Buf, e: Delta): Buf = {
      val k = key(e.dir, e.price)
      val q = b.getOrElse(k, 0L) + e.qtyDelta
      if (q == 0L) b - k else b.updated(k, q)
    }

    override def merge(a: Buf, b: Buf): Buf =
      b.foldLeft(a) { case (m, (k, q)) =>
        val nq = m.getOrElse(k, 0L) + q
        if (nq == 0L) m - k else m.updated(k, nq)
      }

    override def finish(b: Buf): BookTop = {
      val levels = b.toSeq.map { case (k, q) => val (d, p) = parse(k); (d, p, q) }
        .filter(_._3 > 0) // only levels with positive resting quantity
      val bids = levels.filter(_._1 == 1)
      val asks = levels.filter(_._1 == 2)
      val bestBid = if (bids.isEmpty) None else Some(bids.map(_._2).max)
      val bestAsk = if (asks.isEmpty) None else Some(asks.map(_._2).min)
      BookTop(
        bestBid,
        bestBid.map(p => bids.filter(_._2 == p).map(_._3).sum).getOrElse(0L),
        bestAsk,
        bestAsk.map(p => asks.filter(_._2 == p).map(_._3).sum).getOrElse(0L),
        levels.size.toLong)
    }

    override def bufferEncoder: Encoder[Buf] = bufEncoder
    override def outputEncoder: Encoder[BookTop] = bookTopEncoder
  }
}
