package perfbench

import scala.collection.mutable

/** Order statistics of latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it: the
    * sample of rank n-10 (1-based), i.e. percentile 100·(n-10)/n. With
    * ten samples or fewer no percentile qualifies, and the maximum is
    * reported instead (`pct` = 100 marks that). */
  final case class Tail(value: Double, pct: Double, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 10) Tail(s.last, 100.0, n)
    else Tail(s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** Counts of operations attempted and failed. A failed operation is one
  * that threw, was refused, or returned a wrong answer. */
final class Outcome {
  private var attempted0 = 0L
  private var failed0 = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)

  def attempt(): Unit = synchronized { attempted0 += 1 }

  def fail(why: String): Unit = synchronized {
    failed0 += 1
    if (failures.size < 20) failures += why
  }

  /** Records a check of an operation already counted as attempted. */
  def check(ok: Boolean, why: => String): Unit = if (!ok) fail(why)
}

/** The run's result: metrics by name, human-readable lines, and the
  * JSON object the benchmark prints last. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val lines = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
  }

  def line(s: String): Unit = lines += s

  def get(name: String): Option[Double] = metrics.get(name).map(_._1)

  def json(correct: Boolean, o: Outcome): String = {
    val ms = metrics.map { case (n, (v, u)) =>
      s""""${Json.esc(n)}": {"value": ${Json.num(v)}, "unit": "${Json.esc(u)}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$ms}}"""
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Full precision: the shortest decimal that reads back as `v`. */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}": $v""" }.mkString("{", ", ", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
