package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.BucketedLog

/** DELETE WITHOUT REWRITE — equality deletion vectors over a
  * unit-partitioned parquet table (the Iceberg equality-delete /
  * Delta deletion-vector discipline, merge-on-read flavor).
  *
  * A DELETE against an immutable columnar table has two costly
  * shapes: rewrite every touched file now (copy-on-write — q234's
  * path, O(touched data) at delete time), or remember what died and
  * subtract it at read time (merge-on-read — this operator,
  * O(deleted keys) at delete time). At 100 TB a trickle of deletes
  * (GDPR erasure, late corrections) must not rewrite terabytes per
  * request; the DV sidecar makes each delete O(|keys|) and defers
  * the physical rewrite to one amortized OPTIMIZE pass.
  *
  * == Layout ==
  *
  * The sidecar is a [[BucketedLog]] of `(unit, k)` rows hash-keyed
  * by `k` — every delete batch folds in via set-union (idempotent,
  * so replay-safe past the `#batch=` guard), and the log's manifest
  * protocol gives DV commits the same crash-atomicity, exactly-once
  * and concurrency story as every other store in the engine.
  *
  * == Read path (the 100 TB argument) ==
  *
  * [[read]] splits the table by the (bounded, collected-once) set of
  * units that currently carry deletes: untouched units stream
  * through VERBATIM — no join, no shuffle, directory-pruned — and
  * only dirty units pay an anti-join against the DV slice. Deletes
  * are typically concentrated (a bad ingest hour, one tenant) so the
  * anti-join side stays a small fraction of the table regardless of
  * total size. The DV side is broadcast only while it fits
  * (`broadcastMaxRows`, the screens' both-ways discipline): a
  * delete-heavy stretch between purges — the GDPR-burst case — can
  * grow the un-purged sidecar past executor broadcast limits, and
  * past the cap the anti-join drops its hint and shuffles instead
  * of dying (plan-guarded both ways in `DeletionVectorsSpec`).
  * The sidecar is snapshotted ONCE per read/purge (`localCheckpoint`)
  * and the dirty-unit set derived FROM that snapshot — two separate
  * log reads would race a concurrent delete (rows in the DV set but
  * not the dirty set escape the rewrite yet lose their DV rows:
  * resurrection).
  *
  * == OPTIMIZE purge ==
  *
  * [[purge]] rewrites ONLY the dirty units (survivors compacted one
  * file per unit — the q232 discipline), leaves every clean unit's
  * files physically untouched, and drops the applied DV rows from
  * the sidecar in a touched-bucket commit. Read results are
  * IDENTICAL before and after — the purge trades read-time work for
  * storage hygiene, never answers.
  *
  * Reference anchor: the reference has no delete path at all — rows
  * are immutable HBase cells keyed by time
  * (`/root/reference/marketdb-core/src/main/scala/com/ergodicity/marketdb/core/MarketDb.scala:103-133`);
  * this is the capability a mutable-law world (erasure requests)
  * adds on top of the same append-only storage.
  *
  * @param tablePath unit-partitioned parquet dir (`unit=<n>/...`)
  * @param dvPath    sidecar [[BucketedLog]] dir
  */
final case class DeletionVectors(tablePath: String, dvPath: String,
    keyCol: String = "k", buckets: Int = 32,
    broadcastMaxRows: Long = Dedup.screenBroadcastMaxRows) {

  private def log = BucketedLog(dvPath, Seq(keyCol), buckets)

  /** ONE consistent sidecar snapshot: the materialized DV set and
    * the dirty units derived from IT (never a second log read). */
  private def dvSnapshot(spark: SparkSession): (DataFrame, Seq[Int]) = {
    val dv = log.read(spark).localCheckpoint()
    val dirty = dv.select("unit").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    (dv, dirty)
  }

  /** Broadcast below the row cap, plain shuffle join above (the
    * screens' both-ways-plan-guarded discipline — the count is one
    * cheap action over the already-checkpointed snapshot). */
  private def hinted(dv: DataFrame): DataFrame =
    if (dv.count() <= broadcastMaxRows) broadcast(dv) else dv

  /** Seed an EMPTY sidecar for a table whose key column has the
    * sample frame's schema (init writes version 0 once). */
  def init(sample: DataFrame): Unit =
    log.init(sample.select(col("unit").cast("int").as("unit"),
      col(keyCol)).limit(0))

  /** Mark `keys` (`unit`, key) deleted — O(|keys| + touched DV
    * buckets), NO table IO. Set-union fold: idempotent per batch,
    * exactly-once past the `#batch=` guard; rides
    * [[BucketedLog.retrying]] so a delete racing a concurrent
    * sidecar commit rebases (the fold is a pure set union of what it
    * re-reads) instead of dying. */
  def delete(keys: DataFrame, batchId: Long): Unit =
    BucketedLog.retrying() {
      log.applyBatch(
        keys.select(col("unit").cast("int").as("unit"), col(keyCol)),
        batchId) { (cur, b) =>
        cur.map(_.unionByName(b)).getOrElse(b).distinct()
      }
    }

  /** Units currently carrying deletes — bounded driver fold (≤ the
    * table's unit count). */
  def dirtyUnits(spark: SparkSession): Seq[Int] =
    dvSnapshot(spark)._2

  /** The LIVE table: clean units verbatim (no join), dirty units
    * anti-joined against the DV slice (broadcast under the cap,
    * shuffled above — never a failed broadcast build). */
  def read(spark: SparkSession): DataFrame = {
    val t = spark.read.parquet(tablePath)
    val (dv, dirty) = dvSnapshot(spark)
    if (dirty.isEmpty) return t
    val boxed = dirty.map(Integer.valueOf)
    t.where(!col("unit").isin(boxed: _*))
      .unionByName(
        t.where(col("unit").isin(boxed: _*))
          .join(hinted(dv), Seq("unit", keyCol), "left_anti"))
  }

  /** OPTIMIZE: physically rewrite ONLY the dirty units (survivors,
    * one file per unit), then drop the applied DV rows in a
    * touched-bucket sidecar commit. Clean units' files are never
    * touched; [[read]] is bit-identical across the purge. Returns
    * the units rewritten. */
  def purge(spark: SparkSession): Seq[Int] = {
    // ONE snapshot: the retire set at the end must exactly match the
    // rewritten set — a delete committed between two separate log
    // reads would have its unit skipped by the rewrite while its DV
    // rows are retired, resurrecting the deleted rows
    val (dv, dirty) = dvSnapshot(spark)
    if (dirty.isEmpty) return Nil
    val boxed = dirty.map(Integer.valueOf)
    val t = spark.read.parquet(tablePath)
    // survivors of the dirty units, compacted one file per unit; the
    // partitionBy-overwrite with dynamic mode replaces ONLY the unit
    // dirs this frame carries
    val survivors = t.where(col("unit").isin(boxed: _*))
      .join(hinted(dv), Seq("unit", keyCol), "left_anti")
      .localCheckpoint()
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      survivors.repartition(col("unit"))
        .write.mode("overwrite").partitionBy("unit").parquet(tablePath)
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    // a dirty unit whose survivors are EMPTY writes no partition dir,
    // so dynamic overwrite leaves its old files in place — retiring
    // its DV rows would then RESURRECT the deleted rows. Drop the dir.
    val alive = survivors.select("unit").distinct()
      .collect().map(_.getInt(0)).toSet
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    (dirty.toSet -- alive).foreach { u =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tablePath/unit=$u"), true)
    }
    // the rewrite landed: retire the applied DV rows (touched-bucket
    // maintenance commit — the #batch= watermark is carried, this is
    // covered state being rewritten, not new coverage)
    log.rewriteBuckets(dv) { (cur, keys) =>
      cur.map(_.join(keys, Seq("unit", keyCol), "left_anti"))
        .getOrElse(keys.limit(0))
    }
    dirty
  }
}
