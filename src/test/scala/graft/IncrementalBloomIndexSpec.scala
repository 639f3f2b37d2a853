package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.IncrementalBloomIndex
import graft.expressions.BloomAggregate

/** The incrementally-maintained Bloom shard index (q147): any
  * batching of the table builds the BIT-IDENTICAL index a one-shot
  * build would (OR-merge is commutative/associative/idempotent), a
  * replayed batch is a no-op, refresh rewrites only the touched
  * shards' log buckets, and the probe never loses a key (no false
  * negatives). */
class IncrementalBloomIndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val N = 5000L
  private def table = spark.range(N).select((col("id") * 37L % 99991L).as("k"))

  private def oneShot(idx: IncrementalBloomIndex)
      : Map[Long, Seq[Long]] =
    table.groupBy(idx.shardOf(col("k")).as("shard"))
      .agg(BloomAggregate(xxhash64(col("k")), 1024, 7).as("bloom_bits"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap

  private def stored(idx: IncrementalBloomIndex): Map[Long, Seq[Long]] =
    idx.read(spark).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap

  test("incremental build over any batching equals the one-shot index bit-for-bit") {
    val idx = IncrementalBloomIndex("/tmp/graft_incbloom_a", nShards = 32)
    idx.init(spark)
    // three uneven batches, overlapping keys across batches
    idx.applyBatch(table.where(col("k") % 3 === 0), "k", 0L)
    idx.applyBatch(table.where(col("k") % 3 =!= 0), "k", 1L)
    idx.applyBatch(table.limit(100), "k", 2L) // re-adds already-indexed keys
    assert(stored(idx) === oneShot(idx))
  }

  test("crash-replayed batch is a no-op; OR-merge is idempotent regardless") {
    val idx = IncrementalBloomIndex("/tmp/graft_incbloom_b", nShards = 32)
    idx.init(spark)
    idx.applyBatch(table.where(col("k") < 50000L), "k", 0L)
    idx.applyBatch(table.where(col("k") < 50000L), "k", 0L) // manifest guard
    idx.applyBatch(table.where(col("k") >= 50000L), "k", 1L)
    idx.applyBatch(table.where(col("k") >= 50000L), "k", 2L) // later-id dup:
    // OR idempotence absorbs it even past the batch-id guard
    assert(stored(idx) === oneShot(idx))
  }

  test("refresh rewrites only the touched shards' log buckets") {
    val dir = "/tmp/graft_incbloom_c"
    val idx = IncrementalBloomIndex(dir, nShards = 64, buckets = 16)
    idx.init(spark)
    idx.applyBatch(table, "k", 0L)
    val log = graft.streaming.BucketedLog(dir, Seq("shard"), 16)
    val before = log.head(spark).get.entries
    // one-key append touches exactly one shard -> one log bucket
    idx.applyBatch(Seq(123456789L).toDF("k"), "k", 1L)
    val after = log.head(spark).get.entries
    val moved = after.filter { case (b, d) => before.get(b) != Some(d) }
    assert(moved.size === 1, s"expected one rewritten bucket: $moved")
  }

  test("probe has no false negatives and prunes most shards") {
    val idx = IncrementalBloomIndex("/tmp/graft_incbloom_d", nShards = 64)
    idx.init(spark)
    idx.applyBatch(table, "k", 0L)
    val present = table.limit(5)
    val hit = idx.matchingShards(spark, present, "k")
    // every present key's true shard must be in the matched set
    val trueShards = present.select(idx.shardOf(col("k")).as("s"))
      .collect().map(_.getLong(0)).toSet
    assert(trueShards.subsetOf(hit.toSet))
    assert(hit.size < 64, s"probe should prune some of 64 shards: ${hit.size}")
  }

  test("rebuildShards sheds deleted keys (fresh fpp), keeps survivors; receipt unchanged") {
    import graft.expressions.BloomAggregate
    val idx = IncrementalBloomIndex("/tmp/graft_incbloom_e", nShards = 16,
      words = 256)
    idx.init(spark)
    idx.applyBatch(table, "k", 0L)
    val log = graft.streaming.BucketedLog("/tmp/graft_incbloom_e",
      Seq("shard"), 16)
    val receipt = log.head(spark).get.lastBatch
    // DELETE every key divisible by 3, rebuild the touched shards
    // (all of them — every shard holds some deleted key)
    val alive = table.where(col("k") % 3 =!= 0)
    idx.rebuildShards(alive, "k",
      table.select(idx.shardOf(col("k")).as("shard")).distinct())
    // bit-exact vs a fresh one-shot build over the survivors
    val got = idx.read(spark).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val want = alive
      .groupBy(idx.shardOf(col("k")).as("shard"))
      .agg(BloomAggregate(xxhash64(col("k")), 256, 7).as("bloom_bits"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got === want)
    // survivors still probe true; the receipt carries unchanged
    val present = alive.limit(5)
    val trueShards = present.select(idx.shardOf(col("k")).as("s"))
      .collect().map(_.getLong(0)).toSet
    assert(trueShards.subsetOf(
      idx.matchingShards(spark, present, "k").toSet))
    assert(log.head(spark).get.lastBatch === receipt)
  }
}
