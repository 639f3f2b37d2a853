package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{Deal, Order, Trade}

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }

  /** `k` distinct ranks, hot ones first in probability. */
  def distinct(r: SplittableRandom, k: Int): Seq[Int] = {
    require(k <= n, s"$k distinct of $n")
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += sample(r)
    seen.toSeq
  }
}

/** The seeded input generator. Everything it makes is a pure function
  * of the seed, and the program only ever sees the files it writes.
  *
  * Prices are multiples of 1/4 and amounts are small integers, so every
  * price, notional and sum of them is exact in a double and the checks
  * need no tolerance beyond the shared 6-digit rounding. */
object Gen {
  val Markets: Seq[String] = Seq("FORTS", "MICEX")
  val DayMs: Long = 86400000L
  /** 2024-01-01T00:00:00Z: day 0 of every history. */
  val Epoch: Long = 1704067200000L
  val OpenMs: Long = 10L * 3600000L
  /** Trading session length, 10:00 to 18:45. */
  val SessionMs: Long = 31500000L

  def security(i: Int): String = f"S$i%03d"

  def dayStart(day: Int): Long = Epoch + day * DayMs

  /** History shape: markets × days partitions, Zipf-hot securities. */
  final case class Shape(markets: Int, days: Int, securities: Int,
      tradesPerDay: Int, ordersPerDay: Int)

  /** Trades and orders of a bulk-loaded history, ids unique per kind. */
  def history(seed: Long, shape: Shape): (Array[Trade], Array[Order]) = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1L)
    val zipf = new Zipf(shape.securities, 1.1)
    val base = Array.fill(shape.securities)(400 + r.nextInt(400))
    val trades = mutable.ArrayBuffer.empty[Trade]
    val orders = mutable.ArrayBuffer.empty[Order]
    for (m <- 0 until shape.markets; d <- 0 until shape.days) {
      val t0 = dayStart(d) + OpenMs
      for (_ <- 0 until shape.tradesPerDay) {
        val s = zipf.sample(r)
        trades += Trade(Markets(m), security(s), trades.size + 1L,
          (base(s) + r.nextInt(41) - 20) / 4.0, 1 + r.nextInt(100),
          new Timestamp(t0 + r.nextLong(SessionMs)), r.nextInt(20) == 0)
      }
      for (_ <- 0 until shape.ordersPerDay) {
        val s = zipf.sample(r)
        val amount = 1 + r.nextInt(100)
        val price = (base(s) + r.nextInt(41) - 20) / 4.0
        val id = orders.size + 1L
        orders += Order(Markets(m), security(s), id,
          new Timestamp(t0 + r.nextLong(SessionMs)), r.nextInt(3),
          r.nextInt(3).toShort, (1 + r.nextInt(2)).toShort, price, amount,
          r.nextInt(amount + 1),
          if (r.nextInt(10) < 3) Some(Deal(id * 10, price)) else None)
      }
    }
    (trades.toArray, orders.toArray)
  }

  /** Micro-batches of a live trade feed. Batch i covers five seconds of
    * market time; about 5 % of its rows are redeliveries of events from
    * the three previous batches (same id, same content), 1 % repeat
    * events of the batch itself, and about 2 % are late events stamped
    * up to two days back, out of order. */
  final class TickFeed(seed: Long, securities: Int, batchRows: Int) {
    private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2L)
    private val zipf = new Zipf(securities, 1.1)
    private val base = Array.fill(securities)(400 + r.nextInt(400))
    private val recent = mutable.Queue.empty[Array[Trade]]
    private var nextId = 1L
    /** Market time of batch 0: day 30 of the history, 10:00. */
    val start: Long = dayStart(30) + OpenMs
    val batchMs = 5000L

    private def fresh(tMs: Long): Trade = {
      val s = zipf.sample(r)
      val t = Trade(Markets(r.nextInt(Markets.size)), security(s), nextId,
        (base(s) + r.nextInt(41) - 20) / 4.0, 1 + r.nextInt(100),
        new Timestamp(tMs), r.nextInt(20) == 0)
      nextId += 1
      t
    }

    def next(batch: Int): Array[Trade] = {
      val t0 = start + batch * batchMs
      val nDup = if (recent.isEmpty) 0 else batchRows / 20
      val nLate = batchRows / 50
      val nAgain = batchRows / 100
      val out = mutable.ArrayBuffer.empty[Trade]
      for (_ <- 0 until batchRows - nDup - nLate - nAgain) out += fresh(t0 + r.nextLong(batchMs))
      for (_ <- 0 until nLate) out += fresh(t0 - 60000L - r.nextLong(2 * DayMs))
      val own = out.toArray
      for (_ <- 0 until nAgain) out += own(r.nextInt(own.length))
      val pool = recent.flatten.toArray
      val picked = mutable.LinkedHashSet.empty[Int]
      while (picked.size < math.min(nDup, pool.length)) picked += r.nextInt(pool.length)
      out ++= picked.map(pool)
      // shuffle: arrival order is not event order
      val arr = out.toArray
      for (i <- arr.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1)
        val x = arr(i); arr(i) = arr(j); arr(j) = x
      }
      recent.enqueue(own)
      if (recent.size > 3) recent.dequeue()
      arr
    }
  }

  /** Writes `df` as one parquet file under `dir`; returns its bytes. */
  def write(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    Files.dataBytes(new File(dir))
  }

  def tradesDf(spark: SparkSession, rows: Seq[Trade]): DataFrame =
    spark.createDataFrame(rows)

  def ordersDf(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(rows)
}

object Files {
  /** Bytes of the regular files under `f`, Spark's `.crc` side files
    * included: they are on disk too. */
  def bytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)

  /** Bytes of the data files under `f`: no hidden or marker files. */
  def dataBytes(f: File): Long =
    if (f.isFile) (if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length)
    else Option(f.listFiles).map(_.map(dataBytes).sum).getOrElse(0L)

  def count(f: File, p: File => Boolean): Long =
    if (f.isFile) (if (p(f)) 1L else 0L)
    else Option(f.listFiles).map(_.map(count(_, p)).sum).getOrElse(0L)

  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}
