package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{AggView, BucketedLog}

/** Randomized adversarial sequences against the flagship BucketedLog/
  * AggView machinery, checked against an in-memory reference fold:
  * arbitrary signed batches (retraction-heavy, so buckets empty and
  * refill constantly), crash replays of arbitrary batches (exactly-
  * once by the #batch= guard), amortized compaction firing mid-
  * sequence, at bucket counts where groups collide (4) and sit alone
  * (64 — the bucket-emptying path of the r12 manifest fix). Fixed
  * ScalaCheck seeds (the PropertySpec discipline) — failures are
  * reproducible. */
class BucketedLogPropertySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // a batch: up to 12 signed facts over a 10-group universe, biased
  // toward retraction so groups regularly reach zero
  private val factGen = Gen.zip(
    Gen.chooseNum(0, 9).map(g => s"g$g"),
    Gen.chooseNum(1L, 50L),
    Gen.frequency(3 -> 1L, 2 -> -1L))
  private val batchGen = Gen.choose(1, 12)
    .flatMap(n => Gen.listOfN(n, factGen))
  private val seqGen = Gen.zip(
    Gen.choose(3, 7).flatMap(n => Gen.listOfN(n, batchGen)),
    Gen.listOfN(7, Gen.prob(0.4)))

  private def df(rows: Seq[(String, Long, Long)]): DataFrame =
    rows.toDF("grp", "units", "sig")

  /** The reference: a driver-side exactly-once fold (each batch once,
    * replays ignored); only ALL-ZERO rows leave — count alone hitting
    * zero with a nonzero sum is a transient in-flight state the view
    * must retain (the bug this spec caught on first run). */
  private def reference(batches: Seq[Seq[(String, Long, Long)]])
      : Map[String, (Long, Long)] = {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
    batches.foreach(_.foreach { case (g, u, s) =>
      val (c0, u0) = acc.getOrElse(g, (0L, 0L))
      acc(g) = (c0 + s, u0 + s * u)
    })
    acc.filter { case (_, (c, u)) => c != 0L || u != 0L }.toMap
  }

  private def run(batches: Seq[Seq[(String, Long, Long)]],
      replay: Seq[Boolean], buckets: Int, compactAfter: Int,
      dir: String): Map[String, (Long, Long)] = {
    val v = AggView(dir, Seq("grp"), Seq("sum_units" -> col("units")),
      signCol = Some("sig"), buckets = buckets,
      compactAfter = compactAfter)
    v.init(df(Nil))
    batches.zipWithIndex.foreach { case (b, i) =>
      v.applyBatch(df(b), i.toLong)
      if (replay(i % replay.size))
        v.applyBatch(df(b), i.toLong) // crash replay: must be a no-op
    }
    v.read(spark).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("random signed sequences + replays == reference fold (colliding buckets)") {
    samples(seqGen, 5).zipWithIndex.foreach { case ((batches, replay), i) =>
      val got = run(batches, replay, buckets = 4, compactAfter = 2,
        s"/tmp/graft_blprop_c$i")
      assert(got === reference(batches), s"seed $i: $batches")
    }
  }

  test("random signed sequences + replays == reference fold (isolated buckets)") {
    samples(seqGen, 5).zipWithIndex.foreach { case ((batches, replay), i) =>
      val got = run(batches, replay, buckets = 64, compactAfter = 16,
        s"/tmp/graft_blprop_i$i")
      assert(got === reference(batches), s"seed $i: $batches")
    }
  }

  // ── the CDC flagship under the same randomized treatment ────────────

  // random change histories: ~8 keys, multiple versions per key with
  // colliding ts (id is the tiebreak), ~1 in 4 a delete
  private val changeGen = Gen.zip(
    Gen.chooseNum(1L, 8L),
    Gen.frequency(3 -> "U", 1 -> "D"),
    Gen.chooseNum(0, 5))
  private val cdcGen = Gen.zip(
    Gen.choose(6, 20).flatMap(n => Gen.listOfN(n, changeGen)),
    Gen.choose(2, 5), Gen.listOfN(5, Gen.prob(0.4)))

  // ── both skipping indexes under random batchings ────────────────────

  // random key multisets dealt into random batch counts; overlap
  // across batches is common (re-added keys exercise OR/min/max
  // idempotence under the fold, not just the replay guard)
  private val idxGen = Gen.zip(
    Gen.choose(50, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 5000L))),
    Gen.choose(2, 5), Gen.listOfN(5, Gen.prob(0.4)))

  test("random batchings build the one-shot Bloom index bit-for-bit") {
    import graft.operators.IncrementalBloomIndex
    import graft.expressions.BloomAggregate
    samples(idxGen, 4).zipWithIndex.foreach {
      case ((keys, nBatches, replay), i) =>
        val idx = IncrementalBloomIndex(s"/tmp/graft_blprop_bloom$i",
          nShards = 16, words = 256)
        idx.init(spark)
        (0 until nBatches).foreach { b =>
          val rows = keys.zipWithIndex.filter(_._2 % nBatches == b)
            .map(_._1).toDF("k")
          idx.applyBatch(rows, "k", b.toLong)
          if (replay(b % replay.size)) idx.applyBatch(rows, "k", b.toLong)
        }
        val got = idx.read(spark).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
        val want = keys.toDF("k")
          .groupBy(idx.shardOf(col("k")).as("shard"))
          .agg(BloomAggregate(xxhash64(col("k")), 256, 7).as("bits"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
        assert(got === want, s"seed $i")
    }
  }

  test("random batchings build the one-shot zone-map stats exactly") {
    import graft.operators.ZoneMapIndex
    samples(idxGen, 4).zipWithIndex.foreach {
      case ((keys, nBatches, replay), i) =>
        val idx = ZoneMapIndex(s"/tmp/graft_blprop_zm$i")
        idx.init(spark, "int", "long")
        def withUnit(ks: Seq[Long]) = ks.toDF("v")
          .select(col("v"), (col("v") / 1000L).cast("int").as("unit"))
        (0 until nBatches).foreach { b =>
          val rows = withUnit(
            keys.zipWithIndex.filter(_._2 % nBatches == b).map(_._1))
          idx.applyBatch(rows, "unit", "v", b.toLong)
          if (replay(b % replay.size))
            idx.applyBatch(rows, "unit", "v", b.toLong)
        }
        val got = idx.read(spark).collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
        val want = withUnit(keys).groupBy("unit")
          .agg(min("v").as("mn"), max("v").as("mx"),
            count(lit(1)).as("rows"))
          .collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
        assert(got === want, s"seed $i")
    }
  }

  test("random deletes + rebuild re-tighten BOTH indexes to the one-shot over survivors") {
    import graft.operators.{IncrementalBloomIndex, ZoneMapIndex}
    import graft.expressions.BloomAggregate
    samples(idxGen, 4).zipWithIndex.foreach {
      case ((keys, nBatches, replay), i) =>
        val mod = 2 + i % 4 // delete every mod-th key
        val alive = keys.filter(_ % mod != 0)
        // ── zone map: delete, rebuild touched units, == one-shot ──
        val zm = ZoneMapIndex(s"/tmp/graft_blprop_rbzm$i")
        zm.init(spark, "int", "long")
        def withUnit(ks: Seq[Long]) = ks.toDF("v")
          .select(col("v"), (col("v") / 1000L).cast("int").as("unit"))
        (0 until nBatches).foreach { b =>
          zm.applyBatch(withUnit(
            keys.zipWithIndex.filter(_._2 % nBatches == b).map(_._1)),
            "unit", "v", b.toLong)
          if (replay(b % replay.size))
            zm.applyBatch(withUnit(
              keys.zipWithIndex.filter(_._2 % nBatches == b).map(_._1)),
              "unit", "v", b.toLong)
        }
        val touchedUnits = keys.filter(_ % mod == 0).map(_ / 1000L)
          .distinct.map(_.toInt)
        zm.rebuildUnits(withUnit(alive), "unit", "v",
          touchedUnits.toDF("unit"))
        val zGot = zm.read(spark).collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
        val zWant = withUnit(alive).groupBy("unit")
          .agg(min("v").as("mn"), max("v").as("mx"),
            count(lit(1)).as("rows"))
          .collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
        assert(zGot === zWant, s"seed $i zone map (mod $mod)")
        // ── Bloom: rebuild touched shards == fresh build bit-for-bit ──
        val bl = IncrementalBloomIndex(s"/tmp/graft_blprop_rbbl$i",
          nShards = 16, words = 256)
        bl.init(spark)
        (0 until nBatches).foreach { b =>
          val rows = keys.zipWithIndex.filter(_._2 % nBatches == b)
            .map(_._1).toDF("k")
          bl.applyBatch(rows, "k", b.toLong)
        }
        bl.rebuildShards(alive.toDF("k"), "k",
          keys.filter(_ % mod == 0).toDF("k")
            .select(bl.shardOf(col("k")).as("shard")).distinct())
        val bGot = bl.read(spark).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
        // expected: touched shards rebuilt from survivors, untouched
        // shards keep the full-key bits (deletes only decay fpp there)
        val touchedShards = keys.filter(_ % mod == 0).toDF("k")
          .select(bl.shardOf(col("k")).as("s")).distinct()
          .collect().map(_.getLong(0)).toSet
        def bits(ks: Seq[Long]): Map[Long, List[Long]] = ks.toDF("k")
          .groupBy(bl.shardOf(col("k")).as("shard"))
          .agg(BloomAggregate(xxhash64(col("k")), 256, 7).as("bits"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList)
          .toMap
        val full = bits(keys); val fresh = bits(alive)
        val bWant = full.flatMap { case (s, b0) =>
          if (touchedShards(s)) fresh.get(s).map(s -> _) // None = emptied
          else Some(s -> b0)
        }
        assert(bGot === bWant, s"seed $i bloom (mod $mod)")
    }
  }

  test("random CDC splits + replays == one-shot MergeInto") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "seg", "bal")
    samples(cdcGen, 5).zipWithIndex.foreach {
      case ((raw, nBatches, replay), i) =>
        // unique monotone id per change = the deterministic tiebreak
        val changes = raw.zipWithIndex.map { case ((k, op, t), j) =>
          (k, op, s"s$j", j * 1.5, t, 1000L + j)
        }
        val changesDf =
          changes.toDF("k", "op", "seg", "bal", "ts", "id")
        val expected = graft.operators.MergeInto(base, changesDf,
            "k", "ts", "id", "op", Seq("seg", "bal"))
          .collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
        val st = graft.streaming.SnapshotStore(
          s"/tmp/graft_blprop_cdc$i", "k", "ts", "id", "op",
          Seq("seg", "bal"), buckets = 8, compactAfter = 3)
        st.init(base, IntegerType, LongType)
        // deal changes round-robin into batches: every key's history
        // scatters across batches in generator order (arbitrary vs ts)
        (0 until nBatches).foreach { b =>
          val rows = changes.zipWithIndex
            .filter(_._2 % nBatches == b).map(_._1)
          st.applyBatch(rows.toDF("k", "op", "seg", "bal", "ts", "id"),
            b.toLong)
          if (replay(b % replay.size))
            st.applyBatch(rows.toDF("k", "op", "seg", "bal", "ts", "id"),
              b.toLong)
        }
        val got = st.read(spark).collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
        assert(got === expected, s"seed $i: $changes split $nBatches")
    }
  }

  test("random CDC splits with mid-replay ADD-COLUMN evolution == one-shot over the union schema") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "seg", "bal")
    samples(cdcGen, 5).zipWithIndex.foreach {
      case ((raw, nBatches, replay), i) =>
        val changes = raw.zipWithIndex.map { case ((k, op, t), j) =>
          (k, op, s"s$j", j * 1.5, t, 1000L + j, s"t${j % 3}")
        }
        val evolveAt = 1 + (i % (nBatches - 1)) // after this many batches
        // one-shot reference over the UNION schema: a change applied
        // before the evolution never observed the new attribute (null)
        val unioned = changes.zipWithIndex.map { case (c, j) =>
          if (j % nBatches < evolveAt)
            (c._1, c._2, c._3, c._4, c._5, c._6, null: String)
          else c
        }
        val expected = graft.operators.MergeInto(
            base.withColumn("tier", lit(null).cast("string")),
            unioned.toDF("k", "op", "seg", "bal", "ts", "id", "tier"),
            "k", "ts", "id", "op", Seq("seg", "bal", "tier"))
          .collect()
          .map(r => r.getLong(0) ->
            (r.getString(1), r.getDouble(2), r.getString(3))).toMap
        var st = graft.streaming.SnapshotStore(
          s"/tmp/graft_blprop_evo$i", "k", "ts", "id", "op",
          Seq("seg", "bal"), buckets = 8, compactAfter = 3, retain = true)
        st.init(base, IntegerType, LongType)
        def deal(b: Int, withTier: Boolean): Unit = {
          val rows = changes.zipWithIndex
            .filter(_._2 % nBatches == b).map(_._1)
          val df0 = rows.toDF("k", "op", "seg", "bal", "ts", "id", "tier")
          val df = if (withTier) df0 else df0.drop("tier")
          st.applyBatch(df, b.toLong)
          if (replay(b % replay.size)) st.applyBatch(df, b.toLong)
        }
        (0 until evolveAt).foreach(deal(_, withTier = false))
        val verBefore = BucketedLog(st.dir, Seq(st.keyCol), st.buckets)
          .head(spark).get.version
        st = st.evolvePayload(spark, Seq("tier" -> "string"))
        (evolveAt until nBatches).foreach(deal(_, withTier = true))
        val got = st.read(spark).collect()
          .map(r => r.getLong(0) ->
            (r.getString(1), r.getDouble(2), r.getString(3))).toMap
        assert(got === expected, s"seed $i: evolveAt=$evolveAt of $nBatches")
        // time travel below the evolution serves the OLD column set
        assert(!st.readAt(spark, verBefore).columns.contains("tier"),
          s"seed $i: pre-evolution readAt must not grow the new column")
    }
  }

  // ── randomized CONCURRENT writers (the q238 machinery) ──────────────

  // per-writer random batch lists over a shared group universe
  // (overlapping groups on purpose — additive merges commute); each
  // writer randomly crash-replays some of its own batches
  private val mwGen = Gen.zip(
    Gen.choose(2, 4),                      // writers
    Gen.listOfN(4, Gen.choose(1, 3)),      // batches per writer
    Gen.listOfN(4, batchGen),              // batch content pool
    Gen.listOfN(8, Gen.prob(0.35)))        // replay pattern

  test("random concurrent writers + retry == reference fold, any interleave") {
    import graft.streaming.BucketedLog
    samples(mwGen, 4).zipWithIndex.foreach {
      case ((nWriters, nBatchesPer, pool, replay), i) =>
        val dir = s"/tmp/graft_blprop_mw$i"
        val f = new java.io.File(dir)
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete() }
        rm(f)
        // writer w's batch b = pool((w + 2*b) % pool.size), signs
        // folded into the units (plain additive sum merge)
        def batchRows(w: Int, b: Int): Seq[(String, Long)] =
          pool((w + 2 * b) % pool.size).map { case (g, u, s) => (g, u * s) }
        val log = BucketedLog(dir, Seq("grp"), buckets = 8)
        log.init(Seq.empty[(String, Long)].toDF("grp", "units"))
        def add(cur: Option[DataFrame], b: DataFrame): DataFrame =
          cur.map(_.unionByName(b)).getOrElse(b).groupBy("grp")
            .agg(sum("units").cast("long").as("units"))
        val failures = java.util.Collections.synchronizedList(
          new java.util.ArrayList[Throwable]())
        val threads = (0 until nWriters).map { w =>
          new Thread(() => {
            try (0 until nBatchesPer(w % nBatchesPer.size)).foreach { b =>
              val rows = batchRows(w, b).toDF("grp", "units")
              BucketedLog.retrying(64) {
                log.applyBatch(rows, b.toLong, s"w$w")(add)
              }
              if (replay((w + b) % replay.size))
                BucketedLog.retrying(64) { // replay: no-op by w's mark
                  log.applyBatch(rows, b.toLong, s"w$w")(add)
                }
            } catch { case e: Throwable => failures.add(e) }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        import scala.jdk.CollectionConverters._
        assert(failures.asScala.isEmpty,
          s"seed $i: ${failures.asScala.toList}")
        val want = scala.collection.mutable.Map.empty[String, Long]
        (0 until nWriters).foreach { w =>
          (0 until nBatchesPer(w % nBatchesPer.size)).foreach { b =>
            batchRows(w, b).foreach { case (g, u) =>
              want(g) = want.getOrElse(g, 0L) + u }
          }
        }
        val got = log.read(spark).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got === want.toMap, s"seed $i: writers=$nWriters")
    }
  }
}
