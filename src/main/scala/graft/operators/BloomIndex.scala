package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.{BloomAggregate, BloomMightContainCol}

/** FILE-LEVEL BLOOM INDEX — secondary-index point lookups over a
  * parquet table: one fixed-size Bloom bitset per DATA FILE, built in
  * a single scan, probed at planning time so an equality lookup reads
  * ONLY the files that might contain the key. This is q183's
  * zone-map/Z-order read-path discipline for the predicate class
  * range stats cannot prune — point lookups on a high-cardinality
  * key scattered across files (every file's [min, max] spans the
  * probe, yet almost no file actually holds it).
  *
  * Correctness is unconditional: Bloom false positives only ADD
  * files to the read set, and the residual exact predicate runs over
  * whatever is read — the index buys IO skipping, never answers.
  *
  * 100 TB shape: the build is one scan with O(words) state per file
  * (`groupBy(input_file_name())` — partial aggregation, the shuffle
  * moves one KB-scale bitset per file); the index table is
  * O(files × KB) — the planner-side probe joins it against the
  * (tiny, broadcast) probe-key set and collects only matching FILE
  * PATHS to the driver, never data rows. At a million files the
  * probe is a one-stage scan of a few GB of bitsets — the same
  * cost class as a metastore listing. Rebuild is per-file, so
  * appending files appends index rows (no global rebuild). */
object BloomIndex {

  /** One (file, bloom_bits) row per data file of `table`, over
    * `keyCol`'s xxhash64 (the probe side hashes identically). */
  def build(table: DataFrame, keyCol: String, words: Int = 1024,
      numHashes: Int = 7): DataFrame =
    table.groupBy(input_file_name().as("file"))
      .agg(BloomAggregate(xxhash64(col(keyCol)), words, numHashes)
        .as("bloom_bits"))

  /** Files that might contain ANY probe key: broadcast the (tiny)
    * probe hashes against the index and keep files with ≥1 possible
    * hit. Distributed — only matching paths reach the driver. */
  def matchingFiles(index: DataFrame, probes: DataFrame,
      probeKeyCol: String, numHashes: Int = 7): Seq[String] =
    index.join(broadcast(
        probes.select(xxhash64(col(probeKeyCol)).as("__h")).distinct()))
      .where(BloomMightContainCol(col("__h"), col("bloom_bits"), numHashes))
      .select("file").distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  /** Point-lookup read path: scan ONLY the index-matched files, then
    * apply the exact residual predicate (semi join against the probe
    * set — false positives die here). Returns the matching rows. */
  def lookup(spark: SparkSession, index: DataFrame, probes: DataFrame,
      keyCol: String, numHashes: Int = 7): DataFrame = {
    val files = matchingFiles(index, probes, keyCol, numHashes)
    require(files.nonEmpty, "no file can contain any probe key")
    spark.read.parquet(files: _*)
      .join(broadcast(probes.select(col(keyCol)).distinct()), Seq(keyCol),
        "left_semi")
  }
}

/** INCREMENTALLY-MAINTAINED Bloom shard index — [[BloomIndex]]'s
  * skipping index kept current under an APPENDING table without ever
  * rebuilding it, through the same [[graft.streaming.BucketedLog]]
  * commit machinery the lakehouse family uses (SnapshotStore /
  * AggView / sketch views). The index unit is a STABLE LOGICAL SHARD
  * (`pmod(xxhash64(key), nShards)` — the hash-bucketed-table layout,
  * where a shard is a directory of files at 100 TB), not a physical
  * file name: appends land IN shards, so the index row for a shard
  * is OR-merged, never orphaned by compaction renaming files.
  *
  * Refresh cost is the IVM discipline: a batch pre-reduces map-side
  * to ≤ one (shard, bitset) partial row per touched shard, then
  * rewrites only the log buckets those shards hash to —
  * O(|batch| + touched index rows), never O(table). Bloom OR-merge
  * is commutative, associative and IDEMPOTENT, so the maintained
  * index is a pure function of the key multiset (any batching yields
  * the bit-identical index a one-shot build would) and replay is
  * safe even WITHOUT the log's `#batch=` guard — the q195 HLL
  * argument, inherited here.
  *
  * FRESHNESS/SOUNDNESS contract: pruning with a STALE index is
  * unsound for rows appended after the index's last commit (an
  * uncovered key would be skipped — a false NEGATIVE, the one error
  * class a Bloom filter must never make). The log's `#batch=`
  * high-water mark is the coverage receipt: a reader prunes with the
  * index over appends ≤ that batch id and reads newer appends
  * UNCONDITIONALLY until their refresh commits (Delta avoids the gap
  * by committing stats in the data transaction; with separate logs
  * the high-water mark is the equivalent fence). Deletes are the
  * dual limit: Bloom bits cannot unlearn, so deleted keys only decay
  * the false-positive rate (never correctness) until a rebuild —
  * fold one in at vacuum/compaction time.
  *
  * Reference anchor: the reference's storage enables per-ROW Bloom
  * filters at the HBase layer (`install/create_tables.sh:17-19`);
  * this is the per-SHARD skipping analog at Spark granularity, kept
  * fresh incrementally. */
final case class IncrementalBloomIndex(dir: String, nShards: Int,
    words: Int = 1024, numHashes: Int = 7, buckets: Int = 16) {

  import graft.streaming.BucketedLog

  private val log = BucketedLog(dir, Seq("shard"), buckets)

  /** The stable shard of a key — the same function that lays the
    * table out, so index-matched shards are directory-prunable. */
  def shardOf(key: Column): Column =
    pmod(xxhash64(key), lit(nShards.toLong))

  /** One (shard, h) row per table row: its key's shard and hash. */
  private def hashes(batch: DataFrame, keyCol: String): DataFrame =
    batch.select(shardOf(col(keyCol)).as("shard"), xxhash64(col(keyCol)).as("h"))

  /** ≤ one (shard, bloom_bits) row per shard of `hashes` rows
    * (map-side partial aggregation before the tiny shuffle). */
  private def blooms(hashed: DataFrame): DataFrame =
    hashed.groupBy(col("shard"))
      .agg(BloomAggregate(col("h"), words, numHashes).as("bloom_bits"))

  /** OR-merge stored shard bitsets with a batch's partials: a
    * full-outer join of two ≤nShards-row frames, word-wise `|`.
    * Absent sides contribute the empty bitset. */
  private def orMerge(cur: Option[DataFrame], p: DataFrame): DataFrame = {
    val zeros = array_repeat(lit(0L), words)
    cur match {
      case None => p
      case Some(c) =>
        c.select(col("shard"), col("bloom_bits").as("__a"))
          .join(p.select(col("shard"), col("bloom_bits").as("__b")),
            Seq("shard"), "full_outer")
          .select(col("shard"),
            zip_with(coalesce(col("__a"), zeros), coalesce(col("__b"), zeros),
              (x, y) => x.bitwiseOR(y)).as("bloom_bits"))
    }
  }

  /** Seed an EMPTY index (version 0 holds no shard rows — the first
    * batch creates them all). */
  def init(spark: SparkSession): Unit = {
    import spark.implicits._
    log.init(Seq.empty[(Long, Array[Long])].toDF("shard", "bloom_bits"))
  }

  /** Fold one appended batch of table rows into the index. The store
    * gets the batch's (shard, h) rows, so its touched-shard set is one
    * map-only job; the merge aggregates them once before the OR. */
  def applyBatch(batch: DataFrame, keyCol: String, batchId: Long): Unit =
    log.applyBatch(hashes(batch, keyCol), batchId) { (cur, rows) =>
      orMerge(cur, blooms(rows))
    }

  /** DELETE-path rebuild (the OPTIMIZE hook): Bloom bits cannot
    * unlearn, so after deletes the affected shards' bitsets are
    * REBUILT from the current table keys and REPLACED — the
    * false-positive rate resets to the fresh-build rate (deleted
    * keys stop matching). `shards` is a one-column LONG frame of
    * shard ids. Touched-bucket maintenance rewrite: O(|shards| +
    * touched index rows), never O(table beyond the rebuilt shards'
    * rows) — `tableRows` should be the shard-directory-pruned read
    * (the shard IS the table layout at 100 TB, class doc), not a full
    * scan the semi-join then filters. The coverage receipt
    * (`#batch=`) carries UNCHANGED. A shard with no keys left leaves
    * the index. */
  def rebuildShards(tableRows: DataFrame, keyCol: String,
      shards: DataFrame): Unit = {
    val sh = shards.toDF("shard")
    val fresh = blooms(hashes(
      tableRows.join(broadcast(sh), shardOf(col(keyCol)) === sh("shard"),
        "left_semi"),
      keyCol))
    log.rewriteBuckets(sh) { (cur, _) =>
      cur.map(_.join(broadcast(sh), Seq("shard"), "left_anti")
          .unionByName(fresh))
        .getOrElse(fresh)
    }
  }

  /** The current index: one (shard, bloom_bits) row per non-empty
    * shard. */
  def read(spark: SparkSession): DataFrame =
    log.read(spark).select("shard", "bloom_bits")

  /** Shards that might contain ANY probe key (the planner-side
    * probe: broadcast probe hashes against ≤nShards bitset rows,
    * collect only shard ids). */
  def matchingShards(spark: SparkSession, probes: DataFrame,
      probeKeyCol: String): Seq[Long] =
    read(spark).join(broadcast(
        probes.select(xxhash64(col(probeKeyCol)).as("__h")).distinct()))
      .where(BloomMightContainCol(col("__h"), col("bloom_bits"), numHashes))
      .select("shard").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
}
