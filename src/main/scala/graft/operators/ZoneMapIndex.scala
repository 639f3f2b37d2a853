package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTALLY-MAINTAINED ZONE-MAP INDEX — the RANGE-predicate
  * sibling of [[IncrementalBloomIndex]]: per-UNIT (min, max, rows)
  * stats over a query column, folded through the same
  * [[graft.streaming.BucketedLog]] commit machinery as new units
  * arrive. This is the Delta/Iceberg add-file-stats discipline as an
  * operator: stats are collected AT APPEND TIME, O(|batch| + touched
  * index rows) per refresh, never a table rescan.
  *
  * The index unit must be an ARRIVAL-CORRELATED partition (ingest
  * batch, day, log-offset range) and the query column one that
  * arrives roughly ordered (event time, auto-increment id, offset) —
  * that is what makes per-unit ranges TIGHT and range predicates
  * prunable; a hash shard would span the whole domain and prune
  * nothing, which is exactly why the equality-predicate index
  * ([[IncrementalBloomIndex]]) hashes and this one does not.
  *
  * Merge semantics are mixed-discipline: min/max fold idempotently
  * (replay-safe unconditionally), the row count is ADDITIVE — the
  * log's `#batch=` manifest guard is what makes the count exact
  * under at-least-once delivery (the q199 argument; spec-pinned).
  * Pruning is sound unconditionally: stale-wide ranges only ADD
  * units to the read set, and the residual exact predicate runs over
  * whatever is read.
  *
  * FRESHNESS/SOUNDNESS contract (shared with
  * [[IncrementalBloomIndex]]): pruning with a STALE index is unsound
  * for units appended after the index's last commit — an absent unit
  * row reads as "prunable", a false negative. The log's `#batch=`
  * high-water mark is the coverage receipt: prune units covered by
  * it, read newer appends unconditionally until their refresh
  * commits. Deletes only leave stats stale-WIDE (sound, coarser
  * pruning) until a compaction-time rebuild.
  *
  * Reference anchor: the reference's scans prune by HBase row-key
  * ranges built from (market, code, day)
  * (`/root/reference/marketdb-core/src/main/scala/com/ergodicity/marketdb/core/MarketDb.scala:66-85`);
  * this is that start/stop-key discipline generalized to stored
  * per-unit stats over any ordered column. */
final case class ZoneMapIndex(dir: String, buckets: Int = 16) {

  import graft.streaming.BucketedLog

  private val log = BucketedLog(dir, Seq("unit"), buckets)

  /** One (unit, mn, mx, rows) row per unit present in `rows`. */
  private def partial(rows: DataFrame, unitCol: String,
      valCol: String): DataFrame =
    refold(None, stats(rows, unitCol, valCol))

  /** One index-shaped row per table row: (unit, v, v, 1). */
  private def stats(rows: DataFrame, unitCol: String,
      valCol: String): DataFrame =
    rows.select(col(unitCol).as("unit"), col(valCol).as("mn"),
      col(valCol).as("mx"), lit(1L).as("rows"))

  /** Fold stored unit stats with a batch's rows in one aggregation
    * (Spark's partial aggregate pre-reduces each map task): min/max
    * are idempotent folds, rows is additive (exact under the log's
    * `#batch=` replay guard). */
  private def refold(cur: Option[DataFrame], p: DataFrame): DataFrame =
    cur.map(_.unionByName(p)).getOrElse(p)
      .groupBy(col("unit"))
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        sum(col("rows")).cast("long").as("rows"))

  def init(spark: SparkSession, unitType: String, valType: String): Unit =
    log.init(spark.range(0).select(
      col("id").cast(unitType).as("unit"),
      lit(null).cast(valType).as("mn"), lit(null).cast(valType).as("mx"),
      lit(0L).as("rows")).where(lit(false)))

  /** Fold one appended batch of table rows into the index. */
  def applyBatch(batch: DataFrame, unitCol: String, valCol: String,
      batchId: Long): Unit =
    log.applyBatch(stats(batch, unitCol, valCol), batchId)(refold)

  /** DELETE-path re-tightening (the OPTIMIZE hook): recompute the
    * given units' stats from the CURRENT table rows and REPLACE their
    * index rows — stale-WIDE ranges narrow back to exact, counts
    * re-count, and a unit with no rows left LEAVES the index.
    * `units` is a one-column frame of unit ids (same type as the
    * table's unit column — it keys the touched-bucket hash), and
    * `tableRows` should be the unit-directory-pruned read of those
    * units (the unit is the table's partition key — at 100 TB a
    * rebuild must never rescan the table; the semi-join inside is a
    * correctness guard, not the pruning mechanism). Touched-bucket
    * maintenance rewrite: O(|units| + touched index rows), never
    * O(index); the coverage receipt (`#batch=`) carries UNCHANGED —
    * a rebuild rewrites covered state, it is not new coverage, so
    * [[coveredBatch]] fences stay exact. */
  def rebuildUnits(tableRows: DataFrame, unitCol: String, valCol: String,
      units: DataFrame): Unit = {
    val u = units.toDF("unit")
    val fresh = partial(
      tableRows.join(broadcast(u), tableRows(unitCol) === u("unit"),
        "left_semi"),
      unitCol, valCol)
    log.rewriteBuckets(u) { (cur, _) =>
      cur.map(_.join(broadcast(u), Seq("unit"), "left_anti")
          .unionByName(fresh))
        .getOrElse(fresh)
    }
  }

  /** The current index: one (unit, mn, mx, rows) row per unit. */
  def read(spark: SparkSession): DataFrame =
    log.read(spark).select("unit", "mn", "mx", "rows")

  /** The COVERAGE RECEIPT — the last applied batch id from the
    * manifest (`#batch=`): appends ≤ it are covered and prunable;
    * newer appends must be read unconditionally until their refresh
    * commits (the freshness fence in the class doc). */
  def coveredBatch(spark: SparkSession): Long =
    log.head(spark).fold(-1L)(_.lastBatch)

  /** Units whose [mn, mx] INTERSECTS [lo, hi] — the planner-side
    * probe (≤units rows scanned, unit ids collected, never data). */
  def matchingUnits(spark: SparkSession, lo: Column, hi: Column): Seq[Long] =
    read(spark).where(col("mx") >= lo && col("mn") <= hi)
      .select(col("unit").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
}

/** MULTI-COLUMN incrementally-maintained zone-map index —
  * [[ZoneMapIndex]] generalized to a stats struct per column, the
  * full Delta add-file-stats shape: one (unit, rows, mn_c/mx_c per
  * indexed column) row per unit, min/max folding idempotently PER
  * COLUMN through the same [[graft.streaming.BucketedLog]] commit
  * machinery (rows additive under the `#batch=` guard, the
  * [[ZoneMapIndex]] contract — freshness fence, stale-wide deletes,
  * soundness all inherited).
  *
  * The point of N columns is CONJUNCTION pruning: a unit survives
  * [[matchingUnits]] only if EVERY predicate's range intersects its
  * per-column stats, so a two-predicate query reads a strict subset
  * of what either single-column index allows — provided the layout
  * correlates BOTH columns with the unit, which is exactly what a
  * Z-ORDER unit gives (contiguous z-slices are rectangles in value
  * space; [[ZOrder]], q169/q183). Indexing a column the layout does
  * NOT correlate with is sound but prunes nothing — the same rule as
  * the single-column index's arrival-correlation requirement. */
final case class MultiColZoneMapIndex(dir: String, valCols: Seq[String],
    buckets: Int = 16) {

  import graft.streaming.BucketedLog

  require(valCols.nonEmpty, "at least one stats column")
  private val log = BucketedLog(dir, Seq("unit"), buckets)
  private def statCols: Seq[String] =
    valCols.flatMap(c => Seq(s"mn_$c", s"mx_$c"))

  /** One stats row per unit present in `rows`. */
  private def partial(rows: DataFrame, unitCol: String): DataFrame =
    refold(None, stats(rows, unitCol))

  /** One index-shaped row per table row: (unit, 1, v_c, v_c, ...). */
  private def stats(rows: DataFrame, unitCol: String): DataFrame =
    rows.select(col(unitCol).as("unit") +: lit(1L).as("rows") +:
      valCols.flatMap(c => Seq(col(c).as(s"mn_$c"), col(c).as(s"mx_$c"))): _*)

  /** Fold stored stats with a batch's rows in one aggregation. */
  private def refold(cur: Option[DataFrame], p: DataFrame): DataFrame = {
    val aggs = sum(col("rows")).cast("long").as("rows") +:
      valCols.flatMap(c =>
        Seq(min(col(s"mn_$c")).as(s"mn_$c"), max(col(s"mx_$c")).as(s"mx_$c")))
    cur.map(_.unionByName(p)).getOrElse(p)
      .groupBy(col("unit")).agg(aggs.head, aggs.tail: _*)
  }

  /** `valTypes` pairs positionally with `valCols`. */
  def init(spark: SparkSession, unitType: String,
      valTypes: Seq[String]): Unit = {
    require(valTypes.size == valCols.size, "one type per stats column")
    val cols = col("id").cast(unitType).as("unit") +: lit(0L).as("rows") +:
      valCols.zip(valTypes).flatMap { case (c, t) =>
        Seq(lit(null).cast(t).as(s"mn_$c"), lit(null).cast(t).as(s"mx_$c"))
      }
    log.init(spark.range(0).select(cols: _*).where(lit(false)))
  }

  def applyBatch(batch: DataFrame, unitCol: String, batchId: Long): Unit =
    log.applyBatch(stats(batch, unitCol), batchId)(refold)

  def read(spark: SparkSession): DataFrame =
    log.read(spark).select(("unit" +: "rows" +: statCols).map(col): _*)

  /** The coverage receipt (see [[ZoneMapIndex.coveredBatch]]). */
  def coveredBatch(spark: SparkSession): Long =
    log.head(spark).fold(-1L)(_.lastBatch)

  /** Units surviving EVERY `(column, lo, hi)` predicate — the
    * conjunction prune: intersection per column, AND across
    * columns. */
  def matchingUnits(spark: SparkSession,
      preds: Seq[(String, Column, Column)]): Seq[Long] = {
    require(preds.nonEmpty && preds.forall(p => valCols.contains(p._1)),
      s"predicates must name indexed columns: $valCols")
    val cond = preds.map { case (c, lo, hi) =>
      col(s"mx_$c") >= lo && col(s"mn_$c") <= hi
    }.reduce(_ && _)
    read(spark).where(cond)
      .select(col("unit").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
  }

  /** DELETE-path re-tightening — [[ZoneMapIndex.rebuildUnits]] over
    * every stats column at once. */
  def rebuildUnits(tableRows: DataFrame, unitCol: String,
      units: DataFrame): Unit = {
    val u = units.toDF("unit")
    val fresh = partial(
      tableRows.join(broadcast(u), tableRows(unitCol) === u("unit"),
        "left_semi"),
      unitCol)
    log.rewriteBuckets(u) { (cur, _) =>
      cur.map(_.join(broadcast(u), Seq("unit"), "left_anti")
          .unionByName(fresh))
        .getOrElse(fresh)
    }
  }
}
