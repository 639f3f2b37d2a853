package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Trade
import graft.operators.{BatchedSink, SeriesScan}
import graft.sources.{SeriesLayout, TimeSeriesTable}
import graft.streaming.IngestPipeline

/** Series scan interval semantics (end-inclusive, like the reference's
  * 0x00-padded stop key, `core/MarketDB.scala:79-82`), the date
  * partitions an interval prunes to on both series layouts, and the
  * batched sink matrix (`TradeDataToKestrelTest.scala:122-212`). */
class SeriesScanSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)

  private def series = (0 until 10).map(i =>
    Trade("RTS", "RIH", i.toLong, 100.0, 1, ts(i), nosystem = false)).toDS.toDF

  test("scan bounds are end-inclusive and key-filtered") {
    val got = SeriesScan.scan(series, Map("market" -> "RTS", "security" -> "RIH"),
      "time", ts(2), ts(5))
    assert(got.count() === 4) // 2,3,4,5 — both bounds inclusive
    val none = SeriesScan.scan(series, Map("security" -> "OTHER"), "time", ts(0), ts(9))
    assert(none.count() === 0)
  }

  test("enumerate yields time order") {
    val e = SeriesScan.enumerate(series.orderBy($"tradeId".desc), "time")
    assert(graft.operators.OrderedMerge.inversions(e, "time") === 0)
  }

  // ── date-partition pruning ──────────────────────────────────────

  private def at(iso: String) = Timestamp.from(java.time.Instant.parse(iso))

  /** Securities A and B of RTS at the first, middle and last second of
    * 2024-01-01 .. 2024-01-04 (UTC). */
  private def days: DataFrame = (for {
    d <- 1 to 4; (hms, k) <- Seq("00:00:00", "12:00:00", "23:59:59").zipWithIndex
    (sec, j) <- Seq("A", "B").zipWithIndex
  } yield Trade("RTS", sec, d * 100L + k * 10 + j, 100.0 + k, 1,
    at(f"2024-01-$d%02dT${hms}Z"), nosystem = false)).toDS.toDF

  private val layouts = Seq("TimeSeriesTable", "IngestPipeline")

  /** [[days]] written in one of the two series layouts into a fresh
    * directory; the time column is `TIMESTAMP_NTZ` when `ntz` (cast
    * under the session time zone). Returns the table's path. */
  private def written(layout: String, ntz: Boolean): String = {
    val root = Files.createTempDirectory("scan").toString
    val typed = if (ntz) days.withColumn("time", col("time").cast("timestamp_ntz")) else days
    if (layout == "TimeSeriesTable") {
      TimeSeriesTable.write(typed, s"$root/t", "market", "time", "security")
      s"$root/t"
    } else {
      typed.write.parquet(s"$root/in")
      IngestPipeline.startIngest(IngestPipeline.fileSource(spark,
          spark.read.parquet(s"$root/in").schema, s"$root/in"),
        s"$root/out", s"$root/ckpt", "tradeId", "time").awaitTermination()
      s"$root/out"
    }
  }

  /** Parquet files under `dir` in a date directory of `dates`. */
  private def filesOn(dir: String, dates: Set[String]): Long =
    Files.walk(Paths.get(dir)).iterator.asScala.count { (f: Path) =>
      f.toString.endsWith(".parquet") &&
        dates.exists(d => f.getParent.getFileName.toString.endsWith(s"date=$d"))
    }.toLong

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Scans security A of `dir` over [from, to] and checks the rows
    * against the same predicates without the date bound; returns the
    * scan and the files it opened. */
  private def scanBoth(dir: String, from: Timestamp, to: Timestamp): (DataFrame, Long) = {
    val table = TimeSeriesTable.read(spark, dir)
    val pruned = SeriesScan.scan(table, Map("security" -> "A"), "time", from, to)
    val dt = table.schema("time").dataType
    val unpruned = table.where(col("security") === "A" &&
      col("time") >= lit(from).cast(dt) && col("time") <= lit(to).cast(dt))
    assert(sorted(pruned) === sorted(unpruned), s"$dir [$from, $to]")
    (pruned, filesRead(pruned))
  }

  for (layout <- layouts; ntz <- Seq(false, true)) {
    val tpe = if (ntz) "TIMESTAMP_NTZ" else "TIMESTAMP"
    test(s"$layout, $tpe time: an interval opens only its own date directories") {
      val dir = written(layout, ntz)
      assert(SeriesLayout.of(TimeSeriesTable.read(spark, dir), "time").map(_.dateCol) ===
        Some(if (layout == "TimeSeriesTable") "date" else "__date"))
      def check(from: String, to: String, rows: Int, dates: String*): Unit = {
        val (got, files) = scanBoth(dir, at(from), at(to))
        assert(got.count() === rows, s"[$from, $to]")
        assert(files === filesOn(dir, dates.toSet), s"[$from, $to] opened $files files")
      }
      // one day
      check("2024-01-02T00:00:00Z", "2024-01-02T23:59:59.999Z", 3, "2024-01-02")
      // end-inclusive upper bound exactly at midnight reads the next day
      check("2024-01-02T12:00:00Z", "2024-01-03T00:00:00Z", 3, "2024-01-02", "2024-01-03")
      // across midnight
      check("2024-01-02T23:00:00Z", "2024-01-03T01:00:00Z", 2, "2024-01-02", "2024-01-03")
      // empty interval: from > to opens nothing
      check("2024-01-03T00:00:00Z", "2024-01-02T00:00:00Z", 0)
      assert(filesOn(dir, (1 to 4).map(d => f"2024-01-$d%02d").toSet) >= 4)
    }
  }

  test("a data column named date is never filtered") {
    val dir = Files.createTempDirectory("scan").toString + "/flat"
    // not a partition column, and not the date of `time`
    days.withColumn("date", lit(java.sql.Date.valueOf("1999-12-31"))).write.parquet(dir)
    val table = TimeSeriesTable.read(spark, dir)
    assert(SeriesLayout.of(table, "time") === None)
    val (got, _) = scanBoth(dir, at("2024-01-02T00:00:00Z"), at("2024-01-02T23:59:59Z"))
    assert(got.count() === 3)
    // a partition column replaced by a derived one is not the layout's either
    val partitioned = written("TimeSeriesTable", ntz = false)
    val derived = TimeSeriesTable.read(spark, partitioned)
      .withColumn("date", lit(java.sql.Date.valueOf("1999-12-31")))
    assert(SeriesLayout.of(derived, "time") === None)
    assert(SeriesScan.scan(derived, Map("security" -> "A"), "time",
      at("2024-01-02T00:00:00Z"), at("2024-01-02T23:59:59Z")).count() === 3)
  }

  test("write and read under different session time zones: same rows as unpruned") {
    def inZone[T](tz: String)(body: => T): T = {
      spark.conf.set("spark.sql.session.timeZone", tz)
      try body finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    val intervals = Seq(
      "2024-01-02T00:00:00Z" -> "2024-01-02T23:59:59Z",
      "2024-01-02T20:00:00Z" -> "2024-01-03T00:00:00Z",
      "2024-01-01T15:00:00Z" -> "2024-01-02T03:00:00Z")
    for (layout <- layouts; ntz <- Seq(false, true);
         (writeTz, readTz) <- Seq("Asia/Tokyo" -> "UTC", "UTC" -> "America/New_York")) {
      val dir = inZone(writeTz)(written(layout, ntz))
      inZone(readTz) {
        val n = intervals.map { case (f, t) => scanBoth(dir, at(f), at(t))._1.count() }
        assert(n.sum > 0, s"$layout ntz=$ntz $writeTz -> $readTz read nothing")
      }
    }
  }

  /** Reference matrix: 60 events — batch 1000 ⇒ 1 flush; 40 ⇒ 2;
    * limit 50 ⇒ 50 rows; limit 20 ⇒ 20; batch 1 ⇒ 60 flushes. */
  test("batched sink matrix (single partition parity)") {
    val sixty = (0 until 60).map(i =>
      Trade("RTS", "RIH", i.toLong, 100.0, 1, ts(i), nosystem = false))
      .toDS.coalesce(1)
    def run(batch: Int, limit: Option[Long]) =
      BatchedSink.write(sixty, batch, limit)(_ => ())
    assert(run(1000, None) === BatchedSink.Report(60, 1))
    assert(run(40, None) === BatchedSink.Report(60, 2))
    assert(run(1000, Some(50)).written === 50)
    assert(run(1000, Some(20)).written === 20)
    assert(run(1, None) === BatchedSink.Report(60, 60))
  }
}
