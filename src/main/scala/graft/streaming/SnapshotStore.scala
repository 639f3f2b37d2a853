package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

import graft.operators.MergeInto

/** LOG-STRUCTURED versioned snapshot for streaming MERGE INTO — the
  * incremental materialized-dimension table maintained per micro-batch
  * WITHOUT rewriting the whole base (the `StreamingComponents`
  * discipline applied to CDC apply). The commit machinery — bucketed
  * version dirs, manifest protocol, touched-bucket rewrite, amortized
  * compaction, per-batch cost bounds — is [[BucketedLog]]'s (one
  * machine, shared with [[AggView]]); this layer supplies ONLY the
  * CDC merge semantics.
  *
  * Rows are [[MergeInto]] VERSIONED state: payload + the winning
  * change's (ts, id) + a delete tombstone. Tombstones make sequential
  * apply correct under ARBITRARY cross-batch arrival order (an older
  * 'U' landing after the 'D' that beat it cannot resurrect the key);
  * [[read]] filters them out. Replay safety is layered: the log's
  * `#batch=` manifest guard skips a crash-replayed batch outright,
  * and even without it every change would tie on (ts, id) and lose
  * to the stored version (a no-op rewrite) — idempotent under
  * at-least-once delivery either way.
  *
  * With `retain = true` every version's manifest survives, and
  * [[readAt]] serves the snapshot AS OF any committed version — the
  * Delta/Iceberg time-travel contract at O(per-batch deltas) extra
  * storage (see [[BucketedLog]]).
  *
  * Reference anchor: the reference's point-upsert store commits each
  * batch through one HBase put per row
  * (`/root/reference/marketdb-core/src/main/scala/com/ergodicity/marketdb/core/MarketDb.scala:103-133`). */
final case class SnapshotStore(dir: String, keyCol: String,
    tsCol: String, idCol: String, opCol: String,
    payloadCols: Seq[String], buckets: Int,
    compactAfter: Int = 16, retain: Boolean = false) {

  private val log =
    BucketedLog(dir, Seq(keyCol), buckets, compactAfter, retain)

  private val stateCols = (keyCol +: payloadCols) ++ Seq(
    MergeInto.VersionTsCol, MergeInto.VersionIdCol, MergeInto.TombstoneCol)

  /** Seed version 0 from a plain base snapshot (full write — done
    * once; every later batch rewrites only touched buckets). */
  def init(base: DataFrame, tsType: DataType, idType: DataType): Unit =
    log.init(MergeInto.initState(base, keyCol, payloadCols, tsType, idType)
      .select(stateCols.map(col): _*))

  /** Fold one change batch into the store: read ONLY the buckets the
    * batch's keys hash to, merge under the version guard, write them
    * to a new version dir, commit the manifest. `batchId` must be
    * monotone (the streaming engine's) — it names the version. */
  def applyBatch(changes: DataFrame, batchId: Long): Unit =
    log.applyBatch(changes, batchId) { (curOpt, batch) =>
      // touched buckets absent from the manifest simply have no state
      // rows yet — fall back to a TYPED empty state shaped like the
      // change feed (all-new-key batches hit this)
      val cur = curOpt.getOrElse(
        MergeInto.initState(
          batch.select(col(keyCol) +: payloadCols.map(col): _*)
            .where(org.apache.spark.sql.functions.lit(false)),
          keyCol, payloadCols,
          batch.schema(batch.schema.fieldIndex(tsCol)).dataType,
          batch.schema(batch.schema.fieldIndex(idCol)).dataType))
      // every change key hashes into the touched set by construction,
      // so the batch needs no bucket filter of its own
      MergeInto.applyVersioned(cur, batch, keyCol,
        tsCol, idCol, opCol, payloadCols)
        .select(stateCols.map(col): _*)
    }

  /** The published snapshot: all buckets, tombstones filtered. */
  def read(spark: SparkSession): DataFrame =
    MergeInto.publish(readState(spark), keyCol, payloadCols)

  /** The snapshot AS OF `version` (requires `retain = true`):
    * exactly what [[read]] returned after the batch that committed
    * the highest version ≤ `version`. Below an [[evolvePayload]]
    * commit the log's versioned anchor serves the PRE-evolution
    * column set — the projection adapts to whatever shape that
    * version published. */
  def readAt(spark: SparkSession, version: Long): DataFrame = {
    val state = log.readAt(spark, version)
    val have = state.columns.toSet
    MergeInto.publish(state.select(stateCols.filter(have).map(col): _*),
      keyCol, payloadCols.filter(have))
  }

  /** Drop retained history strictly older than version `keepFrom`. */
  def vacuum(spark: SparkSession, keepFrom: Long): Unit =
    log.vacuum(spark, keepFrom)

  /** ADD-COLUMN payload evolution (the first thing a long-lived
    * dimension needs): re-anchor the stored schema with `add`
    * (name → Spark SQL type string) and return the evolved store —
    * use the RETURNED instance for every later applyBatch/read (its
    * payload set includes the new columns). Zero data IO
    * ([[BucketedLog.evolveSchema]]): pre-evolution rows read back
    * null-filled; time-travel reads below the evolution version still
    * serve the old column set. Change batches fed to the evolved
    * store must carry the new columns (null for rows that predate the
    * attribute — exactly what a widened CDC feed emits). */
  def evolvePayload(spark: SparkSession,
      add: Seq[(String, String)]): SnapshotStore = {
    log.evolveSchema(spark, add)
    copy(payloadCols = payloadCols ++ add.map(_._1))
  }

  /** TOMBSTONE RETENTION: fold the state into one fresh version,
    * dropping tombstones whose winning change ts is `< floor`.
    * Without this a delete-heavy CDC feed grows the state
    * monotonically — every deleted key keeps its tombstone row
    * forever (the Delta/Iceberg retention problem). Dropping a
    * tombstone is safe exactly when no change OLDER than `floor`
    * can still arrive: a late 'U' with ts < floor would, absent the
    * tombstone, insert as a new key and resurrect the delete. The
    * caller picks `floor` from the source's lateness bound — with
    * the `#batch=` guard already skipping whole-batch replays, the
    * residual exposure is genuinely out-of-order data older than
    * the floor, the same contract as a streaming watermark. Live
    * rows are never dropped regardless of age. O(state) IO
    * (maintenance pass, off the hot path); crash-safe via the
    * manifest protocol; time-travel reads BELOW the current version
    * still see pre-GC tombstone effects because retained manifests
    * are untouched. */
  def expireTombstones(spark: SparkSession, floor: org.apache.spark.sql.Column): Unit =
    log.compactNow(spark) { state =>
      state.where(!col(MergeInto.TombstoneCol) ||
        col(MergeInto.VersionTsCol) >= floor)
    }

  /** Raw versioned state incl. tombstones (specs + probes). */
  private[graft] def readState(spark: SparkSession): DataFrame =
    log.read(spark).select(stateCols.map(col): _*)
}
