package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.operators.MergeInto
import graft.streaming.{BucketedLog, SnapshotStore}

/** Log-structured versioned CDC snapshot (q181's store): sequential
  * apply over ANY batch split — including adversarially out-of-order
  * cross-batch arrival and deletes — equals the one-shot merge;
  * untouched buckets are never rewritten; replay is idempotent;
  * compaction folds the manifest back to one dir without changing the
  * published rows. */
class SnapshotStoreSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0), (6L, "f", 60.0))
    .toDF("k", "seg", "bal")

  // per-key histories with MULTIPLE versions so batch splits can
  // scatter them out of order: (k, op, seg, bal, ts, id)
  private val changes = Seq(
    (1L, "U", "a1", 11.0, 1, 100L), (1L, "U", "a2", 12.0, 3, 101L),
    (2L, "D", "-", 0.0, 2, 102L), (2L, "U", "b1", 21.0, 1, 103L),
    (3L, "U", "c1", 31.0, 1, 104L), (3L, "D", "-", 0.0, 3, 105L),
    (9L, "U", "new", 99.0, 2, 106L), (9L, "U", "new2", 98.0, 1, 107L),
    (5L, "U", "e1", 51.0, 2, 108L), (5L, "U", "e2", 52.0, 2, 109L))

  private def changesDf(rows: Seq[(Long, String, String, Double, Int, Long)]) =
    rows.toDF("k", "op", "seg", "bal", "ts", "id")

  private def oneShot: Map[Long, (String, Double)] =
    MergeInto(base, changesDf(changes), "k", "ts", "id", "op",
        Seq("seg", "bal"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap

  private def store(dir: String, buckets: Int = 8, compactAfter: Int = 16) =
    SnapshotStore(dir, "k", "ts", "id", "op", Seq("seg", "bal"),
      buckets, compactAfter)

  /** The store's head manifest, read through the BucketedLog under it. */
  private def headOf(st: SnapshotStore): BucketedLog.Head =
    BucketedLog(st.dir, Seq(st.keyCol), st.buckets).head(spark).get

  private def published(st: SnapshotStore): Map[Long, (String, Double)] =
    st.read(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap

  private def applySplit(dir: String,
      split: Seq[Seq[(Long, String, String, Double, Int, Long)]],
      buckets: Int = 8, compactAfter: Int = 16): SnapshotStore = {
    val st = store(dir, buckets, compactAfter)
    st.init(base, IntegerType, LongType)
    split.zipWithIndex.foreach { case (b, i) =>
      st.applyBatch(changesDf(b), i.toLong)
    }
    st
  }

  test("sequential apply equals one-shot merge for adversarial splits") {
    val expected = oneShot
    // split A: id parity — every key's history scattered, older
    // changes arriving in the LATER batch for half the keys
    val a = applySplit("/tmp/graft_snapstore_a",
      Seq(changes.filter(_._6 % 2 == 0), changes.filter(_._6 % 2 == 1)))
    assert(published(a) === expected)
    // split B: REVERSED version order — each key's newest change
    // arrives first, older changes must be discarded as stale
    val b = applySplit("/tmp/graft_snapstore_b",
      Seq(changes.filter(_._5 >= 2), changes.filter(_._5 < 2)))
    assert(published(b) === expected)
    // split C: one change per batch, shuffled deterministically
    val order = changes.sortBy(c => (c._6 * 2654435761L) % 1009)
    val c = applySplit("/tmp/graft_snapstore_c", order.map(Seq(_)))
    assert(published(c) === expected)
  }

  test("delete tombstone cannot be resurrected by an older cross-batch update") {
    // key 3: D at ts=3 arrives in batch 0; U at ts=1 arrives in batch 1
    val st = applySplit("/tmp/graft_snapstore_d", Seq(
      Seq((3L, "D", "-", 0.0, 3, 105L)),
      Seq((3L, "U", "c1", 31.0, 1, 104L))))
    assert(!published(st).contains(3L))
    // the tombstone row itself is retained in raw state with its version
    val raw = st.readState(spark)
      .where($"k" === 3L).collect()
    assert(raw.length === 1 &&
      raw.head.getAs[Boolean](MergeInto.TombstoneCol))
  }

  test("untouched buckets are not rewritten; replay is idempotent") {
    val dir = "/tmp/graft_snapstore_u"
    val st = store(dir, buckets = 8)
    st.init(base, IntegerType, LongType)
    val m0 = headOf(st).entries
    assert(m0.values.toSet === Set(Seq("data/v0")))
    // one-key batch touches exactly one bucket
    val batch = Seq((1L, "U", "a1", 11.0, 1, 100L))
    st.applyBatch(changesDf(batch), 0L)
    val m1 = headOf(st).entries
    val moved = m1.filter(_._2 != Seq("data/v0"))
    assert(moved.size === 1, s"expected exactly one rewritten bucket: $m1")
    assert(m1.filter(_._2 == Seq("data/v0")).size === m0.size - (
      if (m0.contains(moved.head._1)) 1 else 0))
    val pub1 = published(st)
    // replay the same batch: stale tie loses, rows unchanged
    st.applyBatch(changesDf(batch), 0L)
    assert(published(st) === pub1)
    assert(pub1(1L) === ("a1", 11.0))
  }

  test("compaction folds to one live dir without changing rows") {
    val expected = oneShot
    val st = applySplit("/tmp/graft_snapstore_k",
      changes.map(Seq(_)), buckets = 4, compactAfter = 3)
    assert(published(st) === expected)
    val m = headOf(st).entries
    assert(m.values.toSet.size <= 4,
      s"compaction should bound live dirs: ${m.values.toSet}")
  }

  test("partition-count invariance of the published snapshot") {
    val expected = oneShot
    val st = applySplit("/tmp/graft_snapstore_p",
      Seq(changes.take(5), changes.drop(5)))
    val got32 = st.read(spark).repartition(32).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got32 === expected)
  }

  test("retain=true time travel: readAt(v) replays each commit") {
    val dir = "/tmp/graft_snapstore_tt"
    val st = SnapshotStore(dir, "k", "ts", "id", "op", Seq("seg", "bal"),
      buckets = 8, retain = true)
    st.init(base, IntegerType, LongType)
    val b0 = changes.filter(_._6 % 2 == 0)
    val b1 = changes.filter(_._6 % 2 == 1)
    st.applyBatch(changesDf(b0), 0L) // -> v1
    st.applyBatch(changesDf(b1), 1L) // -> v2
    def at(v: Long): Map[Long, (String, Double)] =
      st.readAt(spark, v).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // v0 = the untouched base
    assert(at(0L) === base.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap)
    // v1 = one-shot merge over the first batch only
    assert(at(1L) === MergeInto(base, changesDf(b0), "k", "ts", "id",
        "op", Seq("seg", "bal")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap)
    // v2 (and any higher asOf) = the full merge = current read
    assert(at(2L) === oneShot)
    assert(at(99L) === oneShot)
    assert(published(st) === oneShot)
  }

  test("tombstone retention: delete-heavy churn stays bounded, recent deletes survive") {
    import org.apache.spark.sql.functions.lit
    val dir = "/tmp/graft_snapstore_ttl"
    val st = store(dir, buckets = 4)
    st.init(base, IntegerType, LongType)
    // churn: insert then delete 40 transient keys over 8 batches; all
    // the deletes are OLD (ts <= 16) except the final batch's (ts=100)
    val churn = (0 until 40).map { i =>
      val k = 100L + i
      (Seq((k, "U", s"t$i", i.toDouble, 2 * (i % 8), 1000L + 2 * i),
        (k, "D", "-", 0.0, 2 * (i % 8) + 1, 1001L + 2 * i)), i / 5)
    }
    (0 until 8).foreach { b =>
      val rows = churn.filter(_._2 == b).flatMap(_._1)
      st.applyBatch(changesDf(rows), b.toLong)
    }
    st.applyBatch(changesDf(Seq((1L, "D", "-", 0.0, 100, 9999L))), 8L)
    val pubBefore = published(st)
    assert(!pubBefore.contains(1L) && pubBefore.size === 5)
    // every churned key + key 1 holds a tombstone: state = 5 live + 41
    assert(st.readState(spark).count() === 46L)
    // expire tombstones older than ts=50: the 40 churn tombstones go,
    // key 1's recent delete (ts=100) must SURVIVE the pass
    st.expireTombstones(spark, lit(50))
    assert(st.readState(spark).count() === 6L)
    assert(published(st) === pubBefore)
    // a late change OLDER than key 1's surviving tombstone still loses
    st.applyBatch(changesDf(Seq((1L, "U", "zombie", 0.0, 99, 9998L))), 9L)
    assert(!published(st).contains(1L))
    // and the store keeps folding correctly after the GC pass
    st.applyBatch(changesDf(Seq((2L, "U", "b9", 29.0, 50, 10000L))), 10L)
    assert(published(st)(2L) === ("b9", 29.0))
  }

  test("vacuum drops history below the floor, keeps the rest readable") {
    val dir = "/tmp/graft_snapstore_vac"
    val st = SnapshotStore(dir, "k", "ts", "id", "op", Seq("seg", "bal"),
      buckets = 8, retain = true)
    st.init(base, IntegerType, LongType)
    st.applyBatch(changesDf(changes.filter(_._6 % 2 == 0)), 0L)
    st.applyBatch(changesDf(changes.filter(_._6 % 2 == 1)), 1L)
    val v1 = st.readAt(spark, 1L).collect().toSet
    st.vacuum(spark, keepFrom = 1L)
    // v0 history gone — the floor version and current still serve
    intercept[RuntimeException] { st.readAt(spark, 0L) }
    assert(st.readAt(spark, 1L).collect().toSet === v1)
    assert(published(st) === oneShot)
  }
}
