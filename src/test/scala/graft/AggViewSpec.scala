package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.AggView

/** Incremental materialized aggregate view (q187/q188's store): the
  * folded LONG state equals the one-shot GROUP BY for any split of
  * the facts into batches, in ANY batch order (addition commutes —
  * a retraction may even precede its insert transiently), groups
  * fully retracted leave the state, and compaction folds the
  * manifest without changing the view. */
class AggViewSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // facts: (grp, units INT, wt integer-valued DOUBLE, note nullable, sig)
  private type F = (String, Int, Double, Option[Long], Long)

  // facts: (grp, units, sig) — sig +1 insert / -1 retract
  private val inserts = Seq(
    ("a", 3L), ("a", 5L), ("a", 7L), ("b", 2L), ("b", 4L),
    ("c", 10L), ("c", 1L), ("d", 6L), ("d", 6L), ("d", 6L))
  // retract all of c and one a-row
  private val retracts = Seq(("c", 10L), ("c", 1L), ("a", 5L))

  private def df(rows: Seq[(String, Long)], sig: Long): DataFrame =
    rows.map { case (g, u) => (g, u, sig) }.toDF("grp", "units", "sig")

  private def view(dir: String, compactAfter: Int = 16): AggView =
    AggView(dir, Seq("grp"), Seq("sum_units" -> col("units")),
      signCol = Some("sig"), buckets = 4, compactAfter = compactAfter)

  private def read(v: AggView): Map[String, (Long, Long)] =
    v.read(spark).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  // survivors: a minus one 5, b intact, c gone, d intact
  private val expected = Map(
    "a" -> (2L, 10L), "b" -> (2L, 6L), "d" -> (3L, 18L))

  test("fold over any batch split and order equals one-shot") {
    val batchesBase = Seq(
      df(inserts.take(4), 1L), df(inserts.drop(4), 1L), df(retracts, -1L))
    // identity order, retraction FIRST (transiently negative state),
    // and interleaved
    val orders = Seq(Seq(0, 1, 2), Seq(2, 0, 1), Seq(1, 2, 0))
    orders.zipWithIndex.foreach { case (ord, i) =>
      val v = view(s"/tmp/graft_aggview_spec_$i")
      v.init(df(Nil, 1L))
      ord.zipWithIndex.foreach { case (b, j) =>
        v.applyBatch(batchesBase(b), j.toLong)
      }
      assert(read(v) === expected, s"order $ord")
    }
  }

  test("empty seed vs non-empty seed agree") {
    val v = view("/tmp/graft_aggview_spec_seed")
    v.init(df(inserts.take(4), 1L)) // seed IS the first batch's view
    v.applyBatch(df(inserts.drop(4), 1L), 0L)
    v.applyBatch(df(retracts, -1L), 1L)
    assert(read(v) === expected)
  }

  test("crash-replayed batch is a no-op (exactly-once by batch id)") {
    val v = view("/tmp/graft_aggview_spec_replay")
    v.init(df(Nil, 1L))
    v.applyBatch(df(inserts, 1L), 0L)
    // at-least-once delivery: the engine re-runs batch 0 after a
    // crash between the store commit and the engine checkpoint — an
    // additive fold would double-count without the manifest guard
    v.applyBatch(df(inserts, 1L), 0L)
    v.applyBatch(df(retracts, -1L), 1L)
    v.applyBatch(df(retracts, -1L), 1L)
    assert(read(v) === expected)
  }

  test("compaction preserves the view") {
    val v = view("/tmp/graft_aggview_spec_compact", compactAfter = 1)
    v.init(df(Nil, 1L))
    v.applyBatch(df(inserts.take(4), 1L), 0L)
    v.applyBatch(df(inserts.drop(4), 1L), 1L)
    v.applyBatch(df(retracts, -1L), 2L) // manifest folds along the way
    assert(read(v) === expected)
  }

  test("fully retracting a bucket's ONLY group drops it (no stale-manifest resurrection)") {
    // the r12 latent: a touched bucket whose merge output is EMPTY
    // writes no partition dir, and a stale manifest entry would
    // resurrect the retracted groups on the next read. buckets=64
    // isolates each group in its own bucket — assert that, so this
    // test cannot silently degenerate into the collision case.
    val dir = "/tmp/graft_aggview_spec_iso"
    val v = AggView(dir, Seq("grp"), Seq("sum_units" -> col("units")),
      signCol = Some("sig"), buckets = 64)
    val bktOf = Seq("a", "b", "c", "d").toDF("grp")
      .select(col("grp"), pmod(xxhash64(col("grp")), lit(64L)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bktOf.values.toSet.size === 4,
      s"groups must sit in distinct buckets for this test: $bktOf")
    v.init(df(Nil, 1L))
    v.applyBatch(df(inserts, 1L), 0L)
    // retract ALL of c: its bucket's merge output is empty
    v.applyBatch(df(Seq(("c", 10L), ("c", 1L)), -1L), 1L)
    assert(read(v) === Map("a" -> (3L, 15L), "b" -> (2L, 6L),
      "d" -> (3L, 18L)))
    // and the manifest itself dropped the bucket (not just the read)
    val entries = graft.streaming.BucketedLog(dir, Seq("grp"), 64)
      .head(spark).get.entries
    assert(!entries.contains(bktOf("c").toInt),
      s"bucket ${bktOf("c")} must leave the manifest: $entries")
    // retracting the remaining groups one bucket at a time still works
    v.applyBatch(df(Seq(("a", 3L), ("a", 5L), ("a", 7L)), -1L), 2L)
    assert(read(v) === Map("b" -> (2L, 6L), "d" -> (3L, 18L)))
  }

  test("transient count-zero with NONZERO sum survives (pending retraction state)") {
    // out-of-order delivery: retract(e,3) lands, insert(e,5) lands,
    // insert(e,3) still in flight -> state (0, +2). Dropping on
    // count alone here loses the pending sum and the late insert
    // would read (1, 3) instead of (1, 5) — the bug
    // BucketedLogPropertySpec caught. Only the ALL-ZERO row leaves.
    val v = view("/tmp/graft_aggview_spec_transient")
    v.init(df(Nil, 1L))
    v.applyBatch(df(Seq(("e", 3L)), -1L), 0L) // retraction first
    v.applyBatch(df(Seq(("e", 5L)), 1L), 1L)  // other insert: (0, +2)
    assert(v.read(spark).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      === Map("e" -> (0L, 2L)))
    v.applyBatch(df(Seq(("e", 3L)), 1L), 2L)  // the in-flight insert
    assert(read(v) === Map("e" -> (1L, 5L)))
    // exact inverse retraction -> all-zero -> leaves at quiescence
    v.applyBatch(df(Seq(("e", 5L)), -1L), 3L)
    assert(read(v) === Map.empty[String, (Long, Long)])
  }

  test("store seeded by its FIRST batch (no init) still supports empty reads") {
    val v = view("/tmp/graft_aggview_spec_noinit")
    // no init: the first applyBatch seeds the store AND its schema
    // anchor (wipe any prior run's dir first — init normally does it)
    org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(
        "/tmp/graft_aggview_spec_noinit"), true)
    v.applyBatch(df(inserts, 1L), 0L)
    v.applyBatch(df(retracts, -1L), 1L)
    assert(read(v) === expected)
    v.applyBatch(df(inserts, -1L).unionByName(df(retracts, 1L)), 2L)
    assert(v.read(spark).count() === 0L) // fully retracted, typed empty
  }

  test("retracting EVERYTHING reads as the typed empty view, then repopulates") {
    val v = view("/tmp/graft_aggview_spec_empty")
    v.init(df(Nil, 1L))
    v.applyBatch(df(inserts, 1L), 0L)
    v.applyBatch(df(inserts, -1L), 1L) // full retraction: every bucket empties
    val empty = v.read(spark)
    assert(empty.columns.toSeq === Seq("grp", "cnt", "sum_units"))
    assert(empty.count() === 0L) // a legitimate state, not an error
    v.applyBatch(df(inserts.take(4), 1L), 2L) // the store keeps working
    assert(read(v) === Map("a" -> (3L, 15L), "b" -> (1L, 2L)))
  }

  test("torn commit: crash between dir-write and manifest-rename, then replay") {
    // reconstruct the EXACT torn state — the post-batch-0 store plus
    // batch 1's ORPHAN version dir, but batch 1's manifest missing
    // (the crash window between the dir write and the rename; cleanup
    // never ran, so the old manifest and its dirs are intact) — and
    // assert the replayed batch re-derives the same state (overwrite
    // dir + fresh manifest), not a double-fold or a lost batch
    import java.nio.file.{Files, Path => JPath}
    def copyRec(src: JPath, dst: JPath): Unit = {
      Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else { Files.createDirectories(t.getParent); Files.copy(p, t) }
      }
    }
    val dir = "/tmp/graft_aggview_spec_torn"
    val torn = "/tmp/graft_aggview_spec_torn2"
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(torn), true)
    val v = view(dir)
    v.init(df(Nil, 1L))
    v.applyBatch(df(inserts.take(4), 1L), 0L)
    copyRec(JPath.of(dir), JPath.of(torn)) // snapshot: state after batch 0
    v.applyBatch(df(inserts.drop(4), 1L), 1L) // -> realistic v2-<nonce> dir
    val v2 = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filter(_.startsWith("v2")).head
    copyRec(JPath.of(s"$dir/data/$v2"),
      JPath.of(s"$torn/data/$v2")) // orphan, no manifest
    val vt = view(torn)
    // engine replays batch 1 (at-least-once): the surviving manifest
    // says lastBatch=0, so the fold re-runs over the orphan
    vt.applyBatch(df(inserts.drop(4), 1L), 1L)
    vt.applyBatch(df(retracts, -1L), 2L)
    assert(read(vt) === expected)
    v.applyBatch(df(retracts, -1L), 2L) // untorn control store agrees
    assert(read(v) === expected)
  }

  test("evolveMeasures: new sums fold only post-evolution facts; old shape travels") {
    // facts carry a second measure (wt) the view does not track yet
    def dfw(rows: Seq[(String, Long, Long)], sig: Long): DataFrame =
      rows.map { case (g, u, w) => (g, u, w, sig) }
        .toDF("grp", "units", "wt", "sig")
    val b0 = Seq(("a", 3L, 30L), ("a", 5L, 50L), ("b", 2L, 20L))
    val b1 = Seq(("a", 7L, 70L), ("b", 4L, 40L), ("c", 10L, 100L))
    var v = AggView("/tmp/graft_aggview_spec_evo", Seq("grp"),
      Seq("sum_units" -> col("units")), signCol = Some("sig"),
      buckets = 4, retain = true)
    v.init(dfw(Nil, 1L))
    v.applyBatch(dfw(b0, 1L), 0L) // -> version 1, old shape
    v = v.evolveMeasures(spark, Seq("sum_wt" -> col("wt"))) // -> version 2
    v.applyBatch(dfw(b1, 1L), 1L) // -> version 3, new shape
    val got = v.read(spark).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_ => r.getLong(3))))
      .toMap
    // pre-evolution facts never observed wt: groups untouched since
    // the evolution read NULL; a re-folded group sums only
    // post-evolution wt (sum skips nulls) — exactly the one-shot over
    // a union-schema fact set with pre-evolution wt = null
    assert(got === Map(
      "a" -> (3L, 15L, Some(70L)), // refolded: wt from b1's a-row only
      "b" -> (2L, 6L, Some(40L)),
      "c" -> (1L, 10L, Some(100L))))
    // time travel below the evolution serves the old column set
    assert(v.readAt(spark, 1L).columns.toSeq ===
      Seq("grp", "cnt", "sum_units"))
  }

  test("retained view supports time travel per commit") {
    val v = AggView("/tmp/graft_aggview_spec_tt", Seq("grp"),
      Seq("sum_units" -> col("units")), signCol = Some("sig"),
      buckets = 4, retain = true)
    v.init(df(Nil, 1L))
    v.applyBatch(df(inserts, 1L), 0L)   // -> v1
    v.applyBatch(df(retracts, -1L), 1L) // -> v2
    val atV1 = v.readAt(spark, 1L).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(atV1 === Map("a" -> (3L, 15L), "b" -> (2L, 6L),
      "c" -> (2L, 11L), "d" -> (3L, 18L)))
    assert(v.readAt(spark, 99L).collect().length === expected.size)
    assert(read(v) === expected)
  }

  test("one-aggregation fold equals the one-shot GROUP BY: INT, nullable and DOUBLE measures, retractions, a sparse 64-bucket batch") {
    def facts(rows: Seq[F]): DataFrame =
      rows.toDF("grp", "units", "wt", "note", "sig")
    val b0: Seq[F] = for (g <- 0 until 200; j <- 0 until 3) yield {
      // g0-g9: note always null; g % 5 == 0: null on every other row
      val note = if (g < 10 || (g % 5 == 0 && j % 2 == 0)) None
        else Some((g * 7 + j).toLong)
      (s"g$g", g % 17 + j, (g * 3 + j).toDouble, note, 1L)
    }
    val b1: Seq[F] = Seq(
      ("g3", 5, 6.0, Some(40L), 1L),  // existing group, first non-null note
      ("g11", 1, 2.0, None, 1L),      // existing group, null note
      ("new1", 9, 8.0, None, 1L),     // new group, null note
      ("new2", 4, 12.0, Some(5L), 1L))
    // retractions: all of g20, one g21 row and new2's one row
    val b2: Seq[F] = (b0.filter(_._1 == "g20") ++
      b0.filter(_._1 == "g21").take(1) ++ b1.filter(_._1 == "new2"))
      .map(_.copy(_5 = -1L))
    val measures = Seq("sum_units" -> col("units"), "sum_wt" -> col("wt"),
      "sum_note" -> col("note"))
    val dir = "/tmp/graft_aggview_spec_oneagg"
    val v = AggView(dir, Seq("grp"), measures, signCol = Some("sig"),
      buckets = 64)
    def oneShot(rows: Seq[F]) = facts(rows).groupBy("grp")
      .agg(sum("sig").cast("long").as("cnt"),
        measures.map { case (n, e) =>
          sum(col("sig") * e).cast("long").as(n) }: _*)
      .where(col("cnt") =!= 0L || col("sum_units") =!= 0L ||
        col("sum_wt") =!= 0L || col("sum_note") =!= 0L)
    def tuples(d: DataFrame) = d.select("grp", "cnt", "sum_units", "sum_wt",
        "sum_note").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_ => r.getLong(4))))
      .toSeq.sortBy(_._1)
    val log = graft.streaming.BucketedLog(dir, Seq("grp"), 64)
    v.init(facts(Nil))
    v.applyBatch(facts(b0), 0L)
    assert(tuples(v.read(spark)) === tuples(oneShot(b0)))
    // the sparse batch rewrites only its own buckets
    val before = log.head(spark).get.entries
    v.applyBatch(facts(b1), 1L)
    val moved = log.head(spark).get.entries
      .filter { case (b, d) => before.get(b) != Some(d) }.keySet
    assert(moved === log.touchedBuckets(facts(b1)))
    assert(moved.size < before.size, s"$moved of ${before.size} buckets")
    assert(tuples(v.read(spark)) === tuples(oneShot(b0 ++ b1)))
    v.applyBatch(facts(b2), 2L)
    val got = tuples(v.read(spark))
    assert(got === tuples(oneShot(b0 ++ b1 ++ b2)))
    assert(!got.exists(g => g._1 == "g20" || g._1 == "new2"),
      "fully retracted groups leave the view")
    assert(got.find(_._1 == "g0").get._5 === None)
    assert(got.find(_._1 == "g3").get._5.isDefined)
  }

  test("a commit plans exactly one aggregate exchange below the bucket repartition") {
    import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution,
      SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
      REPARTITION_BY_NUM, ShuffleExchangeLike}
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.graft.Bridge
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case o => o.children.flatMap(nodes)
    })
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
      nodes(p).collect { case s: ShuffleExchangeLike => s }
    val v = view("/tmp/graft_aggview_spec_plan")
    v.init(df(inserts, 1L))
    v.applyBatch(df(inserts.take(2), 1L), 0L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Bridge.drainListeners(spark)
    spark.listenerManager.register(listener)
    try {
      v.applyBatch(df(retracts, -1L), 1L)
      Bridge.drainListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val writes = plans.asScala.toSeq
      .filter(p => nodes(p).exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(writes.nonEmpty, "the commit's write was not seen")
    writes.foreach { p =>
      val all = shuffles(p)
      val byBucket = all.filter(_.shuffleOrigin == REPARTITION_BY_NUM)
      assert(byBucket.size === 1, all.map(_.shuffleOrigin))
      val below = byBucket.head.children.flatMap(shuffles)
      assert(below.map(_.shuffleOrigin) === Seq(ENSURE_REQUIREMENTS), p.treeString)
      assert(all.size === 2, p.treeString)
      assert(below.head.children.flatMap(nodes)
        .exists(_.isInstanceOf[HashAggregateExec]),
        "no partial aggregate below the exchange")
    }
  }
}
