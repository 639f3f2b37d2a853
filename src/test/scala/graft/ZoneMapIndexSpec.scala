package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ZoneMapIndex

/** The incrementally-maintained zone-map index (q230): stats folded
  * over any batching equal the one-shot per-unit aggregate, a
  * crash-replayed batch cannot double the additive row count (the
  * #batch= guard — min/max would survive a replay anyway), the range
  * probe never loses a unit that holds in-range rows, and refresh
  * rewrites only the touched units' log buckets. */
class ZoneMapIndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // ordered arrival: unit k holds ids [1000k, 1000k+999] with a
  // little cross-unit straggle (the real ingest pattern)
  private val N = 8000L
  private def table = spark.range(N).select(
    col("id").as("v"),
    ((col("id") + (col("id") % 7L) * 100L) / 1000L).cast("int").as("unit"))

  private def oneShot: Map[Int, (Long, Long, Long)] =
    table.groupBy("unit")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("rows"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  private def stored(idx: ZoneMapIndex): Map[Int, (Long, Long, Long)] =
    idx.read(spark).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("incremental fold over any batching equals the one-shot stats") {
    val idx = ZoneMapIndex("/tmp/graft_zmidx_a")
    idx.init(spark, "int", "long")
    idx.applyBatch(table.where(col("v") % 3 === 0), "unit", "v", 0L)
    idx.applyBatch(table.where(col("v") % 3 === 1), "unit", "v", 1L)
    idx.applyBatch(table.where(col("v") % 3 === 2), "unit", "v", 2L)
    assert(stored(idx) === oneShot)
  }

  test("crash-replayed batch is a no-op (additive rows need the batch guard)") {
    val idx = ZoneMapIndex("/tmp/graft_zmidx_b")
    idx.init(spark, "int", "long")
    idx.applyBatch(table.where(col("v") < 4000L), "unit", "v", 0L)
    idx.applyBatch(table.where(col("v") < 4000L), "unit", "v", 0L)
    idx.applyBatch(table.where(col("v") >= 4000L), "unit", "v", 1L)
    assert(stored(idx) === oneShot)
  }

  test("range probe is sound (no unit with in-range rows is missed) and prunes") {
    val idx = ZoneMapIndex("/tmp/graft_zmidx_c")
    idx.init(spark, "int", "long")
    idx.applyBatch(table, "unit", "v", 0L)
    val (lo, hi) = (2500L, 3200L)
    val hit = idx.matchingUnits(spark, lit(lo), lit(hi)).toSet
    val truth = table.where(col("v") >= lo && col("v") <= hi)
      .select(col("unit").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(truth.subsetOf(hit), s"missed units: ${truth -- hit}")
    val all = table.select("unit").distinct().count()
    assert(hit.size < all, s"probe should prune some of $all units")
  }

  test("pruned lookup READS fewer unit directories than exist (scan metric)") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("zmread").toString
    val idx = ZoneMapIndex(s"$base/idx")
    idx.init(spark, "int", "long")
    idx.applyBatch(table, "unit", "v", 0L)
    // one shuffle on unit so each directory is one task's file (the
    // ivfIndexAppend write discipline — no tiny-file explosion)
    table.repartition(col("unit")).write.mode("overwrite")
      .partitionBy("unit").parquet(s"$base/tbl")
    val nUnits = new java.io.File(s"$base/tbl").listFiles()
      .count(_.getName.startsWith("unit="))
    assert(nUnits > 3, s"degenerate layout: $nUnits units")
    def dataFiles: Long = Files.walk(java.nio.file.Path.of(s"$base/tbl"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val nFiles = dataFiles
    assert(nFiles >= nUnits)
    val (lo, hi) = (2500L, 3200L)
    val units = idx.matchingUnits(spark, lit(lo), lit(hi))
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.read.parquet(s"$base/tbl")
        .where(col("unit").isin(units.map(u => Integer.valueOf(u.toInt)): _*))
        .where(col("v") >= lo && col("v") <= hi)
      // exact: the pruned read + residual equals the plain filter
      assert(q.select(sum(col("v"))).head().getLong(0) ===
        table.where(col("v") >= lo && col("v") <= hi)
          .select(sum(col("v"))).head().getLong(0))
      val plan = q.queryExecution.executedPlan
      plan.execute().count()
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scanned = plan.collectLeaves().collectFirst {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.getOrElse(-1L)
      assert(scanned > 0 && scanned < nFiles,
        s"expected pruned read: 0 < $scanned < $nFiles files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("refresh rewrites only the touched units' log buckets") {
    val dir = "/tmp/graft_zmidx_d"
    val idx = ZoneMapIndex(dir, buckets = 16)
    idx.init(spark, "int", "long")
    idx.applyBatch(table, "unit", "v", 0L)
    val log = graft.streaming.BucketedLog(dir, Seq("unit"), 16)
    val before = log.head(spark).get.entries
    idx.applyBatch(Seq((99, 99000L)).toDF("unit", "v"), "unit", "v", 1L)
    val after = log.head(spark).get.entries
    val moved = after.filter { case (b, d) => before.get(b) != Some(d) }
    assert(moved.size === 1, s"expected one rewritten bucket: $moved")
  }

  test("rebuildUnits re-tightens deleted units exactly; coverage receipt unchanged") {
    val idx = ZoneMapIndex("/tmp/graft_zmidx_e")
    idx.init(spark, "int", "long")
    idx.applyBatch(table, "unit", "v", 0L)
    val receipt = idx.coveredBatch(spark)
    // DELETE unit 2's low half and ALL of unit 5, then rebuild both
    val alive = table.where(
      !(col("unit") === 2 && col("v") < 2500L) && col("unit") =!= 5)
    idx.rebuildUnits(alive, "unit", "v",
      Seq(2, 5).toDF("unit"))
    val got = stored(idx)
    val want = alive.groupBy("unit")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("rows"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === want) // unit 2 narrowed, unit 5 GONE, others untouched
    assert(got(2)._1 >= 2500L && !got.contains(5))
    // a rebuild rewrites covered state — it is NOT new coverage
    assert(idx.coveredBatch(spark) === receipt)
  }

  test("one-aggregation fold with null values, new and existing units equals the one-shot stats") {
    import graft.operators.MultiColZoneMapIndex
    // v null on every 5th row (counted, never a bound); unit 3's and
    // unit 9's rows are all null; batches 1 and 2 add to existing units
    // and open new ones
    def rows(lo: Long, hi: Long) = spark.range(lo, hi, 1, 5).select(
      (col("id") % 10L).cast("int").as("unit"),
      when(col("id") % 5L === 0L || col("id") % 10L === 3L ||
        col("id") % 10L === 9L, lit(null).cast("long")).otherwise(col("id")).as("v"),
      (-col("id")).as("w"))
    val batches = Seq(rows(0, 300).where(col("unit") < 6),
      rows(300, 500), rows(500, 520).where(col("unit") =!= 0))
    val all = batches.reduce(_ unionByName _)
    val idx = ZoneMapIndex("/tmp/graft_zmidx_nulls", buckets = 4)
    idx.init(spark, "int", "long")
    val multi = MultiColZoneMapIndex("/tmp/graft_zmidx_nulls_multi",
      Seq("v", "w"), buckets = 4)
    multi.init(spark, "int", Seq("long", "long"))
    batches.zipWithIndex.foreach { case (b, i) =>
      idx.applyBatch(b, "unit", "v", i.toLong)
      multi.applyBatch(b, "unit", i.toLong)
    }
    def opt(r: org.apache.spark.sql.Row, i: Int) =
      Option(r.get(i)).map(_ => r.getLong(i))
    val want = all.groupBy("unit")
      .agg(min("v"), max("v"), count(lit(1)), min("w"), max("w"))
      .collect().map(r => r.getInt(0) ->
        (opt(r, 1), opt(r, 2), r.getLong(3), opt(r, 4), opt(r, 5))).toMap
    assert(want(3)._1.isEmpty && want(3)._3 > 0, "unit 3 must be all-null")
    assert(idx.read(spark).collect().map(r => r.getInt(0) ->
      (opt(r, 1), opt(r, 2), r.getLong(3))).toMap ===
      want.map { case (u, w) => u -> (w._1, w._2, w._3) })
    assert(multi.read(spark).select("unit", "rows", "mn_v", "mx_v", "mn_w",
        "mx_w").collect().map(r => r.getInt(0) ->
      (opt(r, 2), opt(r, 3), r.getLong(1), opt(r, 4), opt(r, 5))).toMap === want)
  }
}
