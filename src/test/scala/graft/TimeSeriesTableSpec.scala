package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Trade
import graft.operators.SeriesScan
import graft.sources.TimeSeriesTable
import graft.streaming.IngestPipeline

/** Partitioned layout: scans with series+interval predicates must hit
  * partition pruning (PartitionFilters) and parquet pushdown
  * (PushedFilters) — the rebuild of the reference's row-key range
  * behavior, asserted on the actual physical plan. The open reads its
  * schema on the driver: the same schema as `spark.read.parquet`, and
  * no Spark job. */
class TimeSeriesTableSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(day: Int, s: Int) =
    Timestamp.from(java.time.Instant.parse(f"2024-01-$day%02dT00:00:${s % 60}%02dZ"))

  test("write partitions by market/date and scan prunes both") {
    val dir = Files.createTempDirectory("tst").toString + "/trades"
    val trades = for {
      m <- Seq("RTS", "FORTS"); d <- 1 to 5; i <- 0 until 10
    } yield Trade(m, s"SEC-${i % 3}", (m.hashCode.toLong << 16) + d * 100 + i,
      100.0 + i, 1, ts(d, i), nosystem = false)
    TimeSeriesTable.write(trades.toDS.toDF, dir, "market", "time", "security")

    // layout check: market=<m>/date=<d> directories
    val p = new java.io.File(s"$dir/market=RTS/date=2024-01-02")
    assert(p.isDirectory, s"expected partition dir $p")

    val table = TimeSeriesTable.read(spark, dir)
    val scanned = SeriesScan.scan(table,
      Map("market" -> "RTS", "security" -> "SEC-1"), "time",
      ts(2, 0), ts(3, 59))
    assert(scanned.count() === 6) // days 2,3 x securities i=1,4,7 -> 3 per day

    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "no partition filters in plan")
    assert(plan.contains("market"), "market predicate missing from scan")
    assert(plan.contains("PushedFilters"), "no pushed filters in plan")
    assert(plan.contains("isnotnull(security"), "security filter not pushed")
    // both partition columns are bounded before any file is listed
    import org.apache.spark.sql.execution.FileSourceScanExec
    val partFilters = scanned.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f.partitionFilters
    }.getOrElse(Nil)
    assert(partFilters.flatMap(_.references.map(_.name)).toSet === Set("market", "date"),
      s"PartitionFilters: $partFilters")

    // the pruned scan opens only the RTS files of days 2 and 3: one
    // file per (market, date) directory
    val allFiles = filesRead(table.select("market"))
    val prunedFiles = filesRead(scanned)
    assert(allFiles === 10 && prunedFiles === 2,
      s"expected 2 of 10 files, read $prunedFiles of $allFiles")
  }

  test("filesPerDate > 1 salts into multiple files per partition, data intact") {
    val dir = Files.createTempDirectory("tst").toString + "/salted"
    val trades = for {
      d <- 1 to 2; sec <- 0 until 8; i <- 0 until 5
    } yield Trade("RTS", s"SEC-$sec", (d * 1000 + sec * 10 + i).toLong,
      100.0 + i, 1, ts(d, i), nosystem = false)
    // at toy scale AQE correctly coalesces the tiny salted shuffle back
    // into one task (no small files); disable coalescing to observe the
    // salt fan-out that large partitions would get
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try TimeSeriesTable.write(trades.toDS.toDF, dir, "market", "time",
      "security", filesPerDate = 3)
    finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")

    val partDir = new java.io.File(s"$dir/market=RTS/date=2024-01-01")
    val files = partDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1 && files <= 3, s"expected 2-3 salted files, got $files")

    // no __bucket column leaks; every row comes back
    val back = TimeSeriesTable.read(spark, dir)
    assert(!back.columns.contains("__bucket"))
    assert(back.count() === trades.size)
    assert(back.select("tradeId").distinct().count() === trades.size)
  }

  private def trades(days: Seq[Int]) = for {
    m <- Seq("RTS", "FORTS"); d <- days; i <- 0 until 4
  } yield Trade(m, s"SEC-${i % 2}", d * 100L + i, 100.0 + i, 1, ts(d, i),
    nosystem = false)

  private def sameSchemaAsSpark(p: String): Unit =
    assert(TimeSeriesTable.read(spark, p).schema === spark.read.parquet(p).schema)

  test("open: market=/date= layout has Spark's schema, partition types included") {
    val dir = Files.createTempDirectory("tst").toString + "/trades"
    TimeSeriesTable.write(trades(1 to 3).toDS.toDF, dir, "market", "time", "security")
    sameSchemaAsSpark(dir)
    val date = TimeSeriesTable.read(spark, dir).schema("date")
    assert(date.dataType === org.apache.spark.sql.types.DateType)
  }

  test("open: IngestPipeline's __date layout has Spark's schema") {
    val root = Files.createTempDirectory("tst").toString
    val in = s"$root/in"; val out = s"$root/out"
    trades(Seq(1)).toDS.write.mode("append").parquet(in)
    trades(Seq(2)).toDS.write.mode("append").parquet(in)
    IngestPipeline.startIngest(IngestPipeline.fileSource(spark,
        trades(Seq(1)).toDS.schema, in), out, s"$root/ckpt", "tradeId", "time")
      .awaitTermination()
    assert(new java.io.File(out).list().exists(_.startsWith("__date=")))
    sameSchemaAsSpark(out)
  }

  test("open: a _common_metadata summary wins over the data files") {
    val root = Files.createTempDirectory("tst").toString
    // the summary of a wider table, laid over a narrower one: the
    // schema must come from the summary, as Spark's inference takes it
    Seq((1L, "a", 2.0)).toDF("id", "name", "extra").write
      .option("parquet.summary.metadata.level", "COMMON_ONLY")
      .parquet(s"$root/wide")
    val summary = new java.io.File(s"$root/wide/_common_metadata")
    assert(summary.isFile, "no summary written")
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$root/narrow")
    Files.copy(summary.toPath, new java.io.File(s"$root/narrow/_common_metadata").toPath)
    assert(spark.read.parquet(s"$root/narrow").columns.contains("extra"))
    sameSchemaAsSpark(s"$root/narrow")
  }

  test("open: when files disagree, the file Spark picks wins") {
    val dir = Files.createTempDirectory("tst").toString + "/mixed"
    // written first but listed second: x=2 sorts after x=1
    Seq((1L, "a")).toDF("id", "b").write.parquet(s"$dir/x=2")
    Seq((2L, 3.0)).toDF("id", "c").write.parquet(s"$dir/x=1")
    val schema = TimeSeriesTable.read(spark, dir).schema
    assert(schema.fieldNames.toSeq === Seq("id", "c", "x"))
    sameSchemaAsSpark(dir)
  }

  test("open: a missing path fails as spark.read.parquet does") {
    val missing = Files.createTempDirectory("tst").toString + "/none"
    val ours = intercept[Exception](TimeSeriesTable.read(spark, missing))
    val theirs = intercept[Exception](spark.read.parquet(missing))
    assert(ours.getClass === theirs.getClass)
    assert(ours.getMessage === theirs.getMessage)
  }

  test("open runs no Spark job") {
    val dir = Files.createTempDirectory("tst").toString + "/trades"
    TimeSeriesTable.write(trades(1 to 3).toDS.toDF, dir, "market", "time", "security")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.Bridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val table = TimeSeriesTable.read(spark, dir)
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
      assert(jobs.get === 0, "the open ran a Spark job")
      // the listener does see jobs: the scan runs one
      assert(table.count() === trades(1 to 3).size)
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
      assert(jobs.get > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
