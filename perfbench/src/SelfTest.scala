package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Self-tests of the benchmark's own parts, run by
  * `perfbench/tests/test_perfbench.py`:
  *
  *  - the generator: the same seed gives identical rows and identical
  *    input files; another seed gives other rows;
  *  - the order statistics behind every `_p50` and `_tail` metric;
  *  - the result object the benchmark prints (echoed for the Python side
  *    to parse and check against BENCHMARK.json).
  *
  * Usage: `SelfTest <scratch dir>`; exits 1 on the first failure. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def expect(ok: Boolean, what: String): Unit = {
    println((if (ok) "ok   " else "FAIL ") + what)
    if (!ok) failures += what
  }

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0)).getAbsolutePath
    val spark: SparkSession = Main.session(dir)
    try run(spark, dir) finally spark.stop()
    if (failures.nonEmpty) System.exit(1)
  }

  private def run(spark: SparkSession, dir: String): Unit = {
    val shape = Gen.Shape(markets = 2, days = 3, securities = 20, tradesPerDay = 50, ordersPerDay = 30)
    val a = Gen.history(7L, shape)
    val b = Gen.history(7L, shape)
    val c = Gen.history(8L, shape)
    expect(a._1.toSeq == b._1.toSeq && a._2.toSeq == b._2.toSeq, "history: same seed, same rows")
    expect(a._1.toSeq != c._1.toSeq, "history: other seed, other rows")
    expect(a._1.length == 2 * 3 * 50 && a._2.length == 2 * 3 * 30, "history: shape row counts")
    expect(a._1.forall(t => t.price * 4 == math.rint(t.price * 4)), "history: prices are quarters")

    val bytes = Seq("x", "y").map(d => Gen.write(Gen.tradesDf(spark, a._1.toSeq), s"$dir/$d"))
    expect(bytes.distinct.size == 1 && bytes.head > 0, s"history: same seed, same file bytes $bytes")
    val back = spark.read.parquet(s"$dir/x").collect().map(_.getLong(2)).sorted.toSeq
    expect(back == a._1.map(_.tradeId).sorted.toSeq, "history: file holds the generated rows")

    def feed(seed: Long) = {
      val f = new Gen.TickFeed(seed, 50, 400)
      (0 until 5).map(f.next(_).toSeq)
    }
    val fa = feed(3L)
    expect(fa == feed(3L), "ticks: same seed, same batches")
    expect(fa != feed(4L), "ticks: other seed, other batches")
    val late = fa.flatten.count(_.time.getTime < new Gen.TickFeed(3L, 50, 400).start)
    expect(late > 0, s"ticks: late events present ($late)")
    val seen = mutable.Set.empty[Long]
    val redelivered = fa.map { batch =>
      val ids = batch.map(_.tradeId)
      val r = ids.distinct.count(seen.contains)
      seen ++= ids
      r
    }
    expect(redelivered.head == 0 && redelivered.tail.forall(_ > 0),
      s"ticks: redeliveries from earlier batches $redelivered")
    expect(fa.forall(b => b.map(_.tradeId).distinct.size < b.size), "ticks: repeats inside a batch")

    val xs = (1 to 100).map(_.toDouble)
    expect(Stats.median(xs) == 50.5 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "stats: median")
    val t = Stats.tail(xs)
    expect(t.value == 90.0 && t.pct == 90.0 && t.n == 100 && xs.count(_ > t.value) == 10,
      s"stats: tail has ten samples beyond it ($t)")
    expect(Stats.tail(Seq(5.0, 1.0)) == Stats.Tail(5.0, 100.0, 2), "stats: tail of few samples is the max")

    val o = new Outcome
    o.attempt(); o.attempt(); o.check(ok = false, "wrong answer")
    val r = new Report
    r.metric("read_p50_ms", 1.0 / 3, "ms")
    r.metric("setup_s", 12.0, "s")
    println("RESULT " + r.json(correct = o.failed == 0, o))
  }
}
