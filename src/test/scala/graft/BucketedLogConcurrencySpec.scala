package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{BucketedLog, ConcurrentCommitException}
import java.util.concurrent.CountDownLatch

/** Concurrent-commit protection (BucketedLog class doc): a
  * maintenance pass racing a live applyBatch at the same base version
  * must make the LOSER fail loudly — never a silently-dropped commit,
  * never a manifest pointing at another writer's data dir. The
  * interleave is forced deterministically: the loser blocks inside
  * its merge/transform callback (after it has read the base manifest
  * and fixed its target version) while the winner commits to
  * completion. */
class BucketedLogConcurrencySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def newLog(dir: String): BucketedLog = {
    val f = new java.io.File(dir)
    if (f.exists()) { def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete() }; rm(f) }
    // retain = true: history stays readable, so the loser's lazily-
    // read base is never deleted out from under it mid-race
    val log = BucketedLog(dir, Seq("k"), buckets = 4, retain = true)
    log.init(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"))
    log
  }

  private def sumMerge(cur: Option[DataFrame], b: DataFrame): DataFrame =
    cur.map(_.unionByName(b)).getOrElse(b)
      .groupBy("k").agg(sum("v").cast("long").as("v"))

  private def state(log: BucketedLog): Map[Long, Long] =
    log.read(spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Full stack (with causes) — a load-dependent race flake is only
    * diagnosable if the failing run preserves WHERE it happened. */
  private def stack(e: Throwable): String = {
    val sw = new java.io.StringWriter()
    e.printStackTrace(new java.io.PrintWriter(sw))
    sw.toString
  }

  /** Structural invariant: every dir any manifest references exists,
    * and every `data/v*` dir on disk is referenced by SOME manifest
    * (the loser's orphan is deleted, the winner's data can't be
    * aliased). */
  private def assertNoDanglingOrOrphan(dir: String): Unit = {
    val files = new java.io.File(dir).listFiles().map(_.getName)
    val referenced = files.filter(_.matches("""_MANIFEST\.v\d{19}"""))
      .flatMap { m =>
        scala.io.Source.fromFile(s"$dir/$m").getLines()
          .filterNot(_.startsWith("#"))
          .flatMap(_.split("=", 2)(1).split(";"))
      }.toSet
    val onDisk = Option(new java.io.File(s"$dir/data").listFiles())
      .fold(Set.empty[String])(_.map("data/" + _.getName).toSet)
    assert(referenced.subsetOf(onDisk),
      s"dangling manifest entries: ${referenced -- onDisk}")
    assert(onDisk.subsetOf(referenced),
      s"orphan version dirs survived: ${onDisk -- referenced}")
  }

  test("live applyBatch loses loudly to a compactNow that won its version") {
    val dir = "/tmp/graft_blconc_a"
    val log = newLog(dir)
    val entered = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    val t = new Thread(() => {
      try log.applyBatch(Seq((1L, 100L)).toDF("k", "v"), 0L) { (cur, b) =>
        entered.countDown(); proceed.await(); sumMerge(cur, b)
      } catch { case e: Throwable => failure = Some(e) }
    })
    t.start()
    entered.await() // applyBatch has read base v0 and targets v1
    log.compactNow(spark)(_.withColumn("v", col("v") * 2L)) // wins v1
    proceed.countDown()
    t.join()
    assert(failure.exists(_.isInstanceOf[ConcurrentCommitException]),
      s"expected a loud ConcurrentCommitException, got $failure")
    // the winner's state is intact and fully readable
    assert(state(log) === Map(1L -> 20L, 2L -> 40L, 3L -> 60L))
    assertNoDanglingOrOrphan(dir)
  }

  test("compactNow loses loudly to a live applyBatch, then succeeds on re-run") {
    val dir = "/tmp/graft_blconc_b"
    val log = newLog(dir)
    val entered = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    val t = new Thread(() => {
      try log.compactNow(spark) { cur =>
        entered.countDown(); proceed.await()
        cur.withColumn("v", col("v") * 2L)
      } catch { case e: Throwable => failure = Some(e) }
    })
    t.start()
    entered.await() // compactNow has read base v0 and targets v1
    log.applyBatch(Seq((1L, 100L)).toDF("k", "v"), 0L)(sumMerge) // wins v1
    proceed.countDown()
    t.join()
    assert(failure.exists(_.isInstanceOf[ConcurrentCommitException]),
      s"expected a loud ConcurrentCommitException, got $failure")
    // the live commit survived untouched...
    assert(state(log) === Map(1L -> 110L, 2L -> 20L, 3L -> 30L))
    // ...its exactly-once batch mark included (the maintenance loser
    // must not regress the replay guard)
    assert(log.head(spark).get.lastBatch === 0L)
    assertNoDanglingOrOrphan(dir)
    // a lost maintenance pass is safe to re-run from a fresh read
    log.compactNow(spark)(_.withColumn("v", col("v") * 2L))
    assert(state(log) === Map(1L -> 220L, 2L -> 40L, 3L -> 60L))
    assertNoDanglingOrOrphan(dir)
  }

  test("racing maintenance passes: ≥1 winner, losers loud, store consistent") {
    val dir = "/tmp/graft_blconc_c"
    val log = newLog(dir)
    val start = new CountDownLatch(1)
    val failures = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    val threads = (0 until 6).map { _ =>
      new Thread(() => {
        start.await()
        try log.compactNow(spark)(_.withColumn("v", col("v") + 1L))
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(failures.asScala.forall(_.isInstanceOf[ConcurrentCommitException]),
      "only loud commit-race losses allowed:\n" +
        failures.asScala.map(stack).mkString("\n---\n"))
    val successes = 6 - failures.size()
    assert(successes >= 1, "at least one racer must commit")
    // every surviving manifest is parseable, points only at live dirs,
    // and the final state reflects between 1 and `successes` applied
    // increments (a photo-finish replacement loses a commit LOUDLY on
    // one side but never corrupts the winner's chain)
    val got = state(log)
    assert(got.keySet === Set(1L, 2L, 3L))
    val applied = got(1L) - 10L
    assert(applied >= 1L && applied <= successes.toLong,
      s"applied=$applied successes=$successes")
    assert(got === Map(1L -> (10L + applied), 2L -> (20L + applied),
      3L -> (30L + applied)))
    assertNoDanglingOrOrphan(dir)
  }

  test("retrying(applyBatch) rebases a lost race against the winner's state") {
    val dir = "/tmp/graft_blconc_d"
    val log = newLog(dir)
    val entered = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    val t = new Thread(() => {
      // first attempt blocks inside merge targeting v1; the compactNow
      // below wins v1; the retry re-reads v1 as base and lands at v2 —
      // the batch is merged against the DOUBLED state, not the stale one
      try BucketedLog.retrying() {
        log.applyBatch(Seq((1L, 100L)).toDF("k", "v"), 0L) {
          (cur, b) => entered.countDown(); proceed.await(); sumMerge(cur, b)
        }
      } catch { case e: Throwable => failure = Some(e) }
    })
    t.start()
    entered.await()
    log.compactNow(spark)(_.withColumn("v", col("v") * 2L)) // wins v1
    proceed.countDown()
    t.join()
    assert(failure.isEmpty, s"retry must land, got $failure")
    assert(state(log) === Map(1L -> 120L, 2L -> 40L, 3L -> 60L))
    // the rebase committed the batch watermark exactly once
    assert(log.head(spark).get.lastBatch === 0L)
    assertNoDanglingOrOrphan(dir)
  }

  test("named writers: per-writer txn watermarks, not the shared #batch mark") {
    val dir = "/tmp/graft_blconc_e"
    val log = newLog(dir)
    // writer A lands its batches 0 and 1
    log.applyBatch(Seq((1L, 1L)).toDF("k", "v"), 0L, "wA")(sumMerge)
    log.applyBatch(Seq((1L, 2L)).toDF("k", "v"), 1L, "wA")(sumMerge)
    // writer B's batch 0 TRAILS A's ids — under the scalar #batch mark
    // it would be silently skipped; its own txn mark admits it
    log.applyBatch(Seq((2L, 5L)).toDF("k", "v"), 0L, "wB")(sumMerge)
    assert(state(log) === Map(1L -> 13L, 2L -> 25L, 3L -> 30L))
    // crash-replays of every landed batch are no-ops BY THE RIGHT MARK
    log.applyBatch(Seq((1L, 999L)).toDF("k", "v"), 0L, "wA")(sumMerge)
    log.applyBatch(Seq((1L, 999L)).toDF("k", "v"), 1L, "wA")(sumMerge)
    log.applyBatch(Seq((2L, 999L)).toDF("k", "v"), 0L, "wB")(sumMerge)
    assert(state(log) === Map(1L -> 13L, 2L -> 25L, 3L -> 30L))
    assert(log.txnWatermark(spark, "wA") === 1L)
    assert(log.txnWatermark(spark, "wB") === 0L)
    assert(log.txnWatermark(spark, "wC") === -1L)
    // named commits leave the default stream's #batch= receipt alone
    assert(log.head(spark).get.lastBatch === -1L)
    // ...and the default stream's own mark still works beside them
    log.applyBatch(Seq((3L, 7L)).toDF("k", "v"), 0L)(sumMerge)
    log.applyBatch(Seq((3L, 999L)).toDF("k", "v"), 0L)(sumMerge) // replay
    assert(state(log) === Map(1L -> 13L, 2L -> 25L, 3L -> 37L))
    assert(log.head(spark).get.lastBatch === 0L)
    assertNoDanglingOrOrphan(dir)
  }

  test("txn watermarks survive maintenance rewrites and schema evolution") {
    val dir = "/tmp/graft_blconc_f"
    val log = newLog(dir)
    log.applyBatch(Seq((1L, 1L)).toDF("k", "v"), 3L, "wA")(sumMerge)
    log.compactNow(spark)(identity)
    assert(log.txnWatermark(spark, "wA") === 3L)
    log.evolveSchema(spark, Seq(("note", "string")))
    assert(log.txnWatermark(spark, "wA") === 3L)
    // an empty batch still advances the NAMED writer's mark
    log.applyBatch(Seq.empty[(Long, Long)].toDF("k", "v"), 4L, "wA")(sumMerge)
    assert(log.txnWatermark(spark, "wA") === 4L)
    // ...and a replay below it is a no-op
    log.applyBatch(Seq((1L, 999L)).toDF("k", "v"), 4L, "wA")(sumMerge)
    assert(state(log) === Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
  }

  test("concurrent named writers all land with retry, additive state exact") {
    val dir = "/tmp/graft_blconc_g"
    val log = newLog(dir)
    val start = new CountDownLatch(1)
    val failures = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        start.await()
        try (0 until 3).foreach { b =>
          BucketedLog.retrying(64) {
            log.applyBatch(Seq((1L, 1L), (2L + w, 10L)).toDF("k", "v"),
              b.toLong, s"w$w")(sumMerge)
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(failures.asScala.isEmpty,
      "every writer must land via retry:\n" +
        failures.asScala.map(stack).mkString("\n---\n"))
    // 12 commits, each exactly once: key 1 gains 12, keys 2..5 gain 30
    val got = state(log)
    assert(got(1L) === 22L, s"got $got")
    assert(got(2L) === 50L && got(3L) === 60L &&
      got(4L) === 30L && got(5L) === 30L, s"got $got")
    (0 until 4).foreach(w =>
      assert(log.txnWatermark(spark, s"w$w") === 2L))
    assertNoDanglingOrOrphan(dir)
  }

  test("versions stay contiguous: batch-id gaps never name the version") {
    val dir = "/tmp/graft_blconc_h"
    val log = newLog(dir)
    // a checkpointed stream resumed against a recreated store arrives
    // with batch ids far above the version chain — the version must
    // still be curVer+1, or a concurrent writer targeting curVer+1
    // would land at a DIFFERENT name and silently shadow one commit
    log.applyBatch(Seq((1L, 1L)).toDF("k", "v"), 100L)(sumMerge)
    assert(log.head(spark).get.version === 1L,
      "default commit must land at curVer+1, not batchId+1")
    assert(log.head(spark).get.lastBatch === 100L)
    log.applyBatch(Seq((1L, 2L)).toDF("k", "v"), 0L, "wA")(sumMerge)
    assert(log.head(spark).get.version === 2L)
    assert(state(log) === Map(1L -> 13L, 2L -> 20L, 3L -> 30L))
  }

  test("gapped default stream racing a named writer collides LOUDLY on one version") {
    // the exact silent-shadow scenario: default batchId=7 (gap) and a
    // named writer race from base v0. Both must target v1 — one wins,
    // the loser throws — never two manifests at different versions
    // where the higher (stale-based) silently shadows the lower
    val dir = "/tmp/graft_blconc_i"
    val log = newLog(dir)
    val entered = new CountDownLatch(1)
    val proceed = new CountDownLatch(1)
    @volatile var failure: Option[Throwable] = None
    val t = new Thread(() => {
      try log.applyBatch(Seq((1L, 100L)).toDF("k", "v"), 7L) { (cur, b) =>
        entered.countDown(); proceed.await(); sumMerge(cur, b)
      } catch { case e: Throwable => failure = Some(e) }
    })
    t.start()
    entered.await() // default stream has read base v0, targets v1
    log.applyBatch(Seq((2L, 5L)).toDF("k", "v"), 0L, "wA")(sumMerge) // wins v1
    proceed.countDown()
    t.join()
    assert(failure.exists(_.isInstanceOf[ConcurrentCommitException]),
      s"expected a loud collision at v1, got $failure")
    // the named writer's commit is intact; nothing was shadowed
    assert(state(log) === Map(1L -> 10L, 2L -> 25L, 3L -> 30L))
    assert(log.txnWatermark(spark, "wA") === 0L)
    assertNoDanglingOrOrphan(dir)
    // the replayed default batch rebases cleanly on re-run
    log.applyBatch(Seq((1L, 100L)).toDF("k", "v"), 7L)(sumMerge)
    assert(state(log) === Map(1L -> 110L, 2L -> 25L, 3L -> 30L))
  }

  test("cleanup never sweeps a concurrent writer's HIGHER-version dir") {
    // the q238 race: writer X (based on v2) renames data/v3-x final,
    // and BEFORE X publishes _MANIFEST.v3, an earlier committer's
    // cleanup (cur = 2) runs — judging X's dir against ITS stale
    // entry set would delete a dir manifest v3 is about to
    // reference, dangling the store head. The sweep must be bounded
    // by the sweeper's own version: dirs versioned PAST it survive;
    // dead dirs at-or-below it (a loser's orphan) still go.
    val dir = "/tmp/graft_blconc_k"
    val f = new java.io.File(dir)
    if (f.exists()) { def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete() }; rm(f) }
    val log = BucketedLog(dir, Seq("k"), buckets = 4) // retain=false
    log.init(Seq((1L, 10L)).toDF("k", "v")) // v0
    log.applyBatch(Seq((1L, 1L)).toDF("k", "v"), 0L)(sumMerge) // v1
    // the rival's renamed-but-unpublished dir at v3 (> next commit's
    // target), and a genuinely dead loser orphan at v1
    def mk(name: String): java.io.File = {
      val d = new java.io.File(s"$dir/data/$name")
      d.mkdirs()
      val fl = new java.io.File(d, "part-fake")
      val w = new java.io.FileWriter(fl); w.write("x"); w.close()
      d
    }
    val rival = mk("v3-rival")
    val orphan = mk("v1-loser")
    log.applyBatch(Seq((1L, 2L)).toDF("k", "v"), 1L)(sumMerge) // v2 + cleanup
    assert(rival.exists(),
      "a dir versioned past the sweeper must survive its cleanup")
    assert(!orphan.exists(),
      "a dead orphan at-or-below the sweeper's version must be swept")
    // once the version chain REACHES the rival's version, a crashed
    // rival's orphan is finally sweepable
    log.applyBatch(Seq((1L, 3L)).toDF("k", "v"), 2L)(sumMerge) // v3 + cleanup
    assert(!rival.exists(),
      "an orphaned higher dir is swept by the first cleanup at its version")
    assert(state(log) === Map(1L -> 16L))
  }

  test("writer ids that would corrupt the manifest are rejected up front") {
    val dir = "/tmp/graft_blconc_j"
    val log = newLog(dir)
    Seq("bad\nid", "sp ace", "eq=ual", " lead").foreach { id =>
      val e = intercept[IllegalArgumentException] {
        log.applyBatch(Seq((1L, 1L)).toDF("k", "v"), 0L, id)(sumMerge)
      }
      assert(e.getMessage.contains("writerId"), s"$id: ${e.getMessage}")
    }
    // the store is untouched by the rejected attempts
    assert(state(log) === Map(1L -> 10L, 2L -> 20L, 3L -> 30L))
    assert(log.head(spark).get.version === 0L)
  }
}
