package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{BucketedLog, ConcurrentCommitException}

/** The commit path shared by BucketedLog's four writers (applyBatch,
  * appendBatch, rewriteBuckets, compactNow): the exact manifest bytes
  * a fixed sequence of commits publishes, and what a writer whose rows
  * fail mid-write leaves behind. Both tests read the store only
  * through files on disk and the public read API, so they hold for any
  * implementation of the protocol. */
class BucketedLogCommitSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import BucketedLogCommitSpec._

  private def rm(dir: String): Unit = {
    def r(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(r)); x.delete() }
    r(new java.io.File(dir))
  }

  private def sumMerge(cur: Option[DataFrame], b: DataFrame): DataFrame =
    cur.map(_.unionByName(b)).getOrElse(b)
      .groupBy("k").agg(sum("v").cast("long").as("v"))

  private def state(log: BucketedLog): Seq[(Long, Long)] =
    log.read(spark).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  private def manifests(dir: String): Seq[(Long, java.io.File)] =
    new java.io.File(dir).listFiles().toSeq.flatMap { f =>
      f.getName match {
        case ManifestName(v) => Some((v.toLong, f))
        case _ => None
      }
    }.sortBy(_._1)

  private def headVersion(dir: String): Long = manifests(dir).last._1

  /** A manifest's text with each data dir's writer nonce replaced by
    * `<nonce>` (nonces are random; everything else is deterministic). */
  private def normalized(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try NonceDir.replaceAllIn(src.mkString, m => s"${m.group(1)}-<nonce>")
    finally src.close()
  }

  test("manifest bytes of every writer are pinned") {
    val dir = "/tmp/graft_blcommit_format"; rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets = 4, compactAfter = 2,
      retain = true)
    log.init(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"))
    log.applyBatch(Seq((1L, 1L), (4L, 40L)).toDF("k", "v"), 0L)(sumMerge)
    log.applyBatch(Seq((5L, 50L)).toDF("k", "v"), 7L, "feed-b")(sumMerge)
    // the second append finds a full segment list and folds it
    log.appendBatch(Seq((2L, 2L)).toDF("k", "v"), 1L)
    log.appendBatch(Seq((2L, 3L)).toDF("k", "v"), 2L)
    log.rewriteBuckets(Seq(2L).toDF("k")) { (cur, _) =>
      cur.get.groupBy("k").agg(sum("v").cast("long").as("v"))
    }
    log.compactNow(spark)(_.withColumn("v", col("v") * 10L))
    log.evolveSchema(spark, Seq("note" -> "string"))

    val got = manifests(dir).map { case (v, f) => v -> normalized(f) }
    assert(got === ExpectedManifests,
      "\n" + got.map { case (v, t) => s"v$v:\n$t" }.mkString("\n"))
    assert(log.read(spark).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      Seq((1L, 110L), (2L, 250L), (3L, 300L), (4L, 400L), (5L, 500L)))
  }

  /** (writer, a commit whose rows raise during evaluation, the same
    * commit with good rows, the state it lands) — over a store seeded
    * with k 1..3 → v 10·k. */
  private val writers: Seq[(String, BucketedLog => Unit, BucketedLog => Unit,
      Seq[(Long, Long)])] = Seq(
    ("applyBatch",
      log => log.applyBatch(Seq((1L, 100L)).toDF("k", "v"), 0L) { (c, b) =>
        sumMerge(c, b).withColumn("v", boom(col("v"))) },
      log => log.applyBatch(Seq((1L, 100L)).toDF("k", "v"), 0L)(sumMerge),
      Seq((1L, 110L), (2L, 20L), (3L, 30L))),
    ("appendBatch",
      log => log.appendBatch(
        Seq((4L, 40L)).toDF("k", "v").withColumn("v", boom(col("v"))), 0L),
      log => log.appendBatch(Seq((4L, 40L)).toDF("k", "v"), 0L),
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))),
    ("rewriteBuckets",
      log => log.rewriteBuckets(Seq(1L).toDF("k")) { (c, _) =>
        c.get.withColumn("v", boom(col("v"))) },
      log => log.rewriteBuckets(Seq(1L).toDF("k")) { (c, _) =>
        c.get.withColumn("v",
          when(col("k") === 1L, col("v") + 1L).otherwise(col("v"))) },
      Seq((1L, 11L), (2L, 20L), (3L, 30L))),
    ("compactNow",
      log => log.compactNow(spark)(_.withColumn("v", boom(col("v")))),
      log => log.compactNow(spark)(_.withColumn("v", col("v") * 2L)),
      Seq((1L, 20L), (2L, 40L), (3L, 60L))))

  writers.foreach { case (name, bad, good, landed) =>
    test(s"$name: rows that fail mid-write leave the store as it was") {
      val dir = s"/tmp/graft_blcommit_fail_$name"; rm(dir)
      val log = BucketedLog(dir, Seq("k"), buckets = 4)
      log.init(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"))
      val ver0 = headVersion(dir)
      val before = state(log)

      val e = intercept[Throwable](bad(log))
      assert(!e.isInstanceOf[ConcurrentCommitException],
        s"no writer raced, yet the failure surfaced as a lost race: $e")
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => Option(c.getMessage).exists(_.contains(Boom))),
        s"the UDF's own failure must propagate: $e")

      assert(headVersion(dir) === ver0)
      assert(state(log) === before)
      val tmps = Option(new java.io.File(s"$dir/data").listFiles())
        .fold(Seq.empty[String])(_.map(_.getName).toSeq)
        .filter(_.endsWith(".tmp"))
      assert(tmps.isEmpty, s"tmp dirs left under data/: $tmps")

      good(log)
      assert(headVersion(dir) === ver0 + 1)
      assert(state(log) === landed)
    }
  }
}

object BucketedLogCommitSpec {
  private val ManifestName = """_MANIFEST\.v(\d{19})""".r
  private val NonceDir = """(data/v\d+)-[0-9a-f]{8}""".r

  private val Boom = "BucketedLogCommitSpec: row evaluation failed"

  /** Raises on every row it is evaluated for. */
  private val boom = udf { (v: Long) =>
    if (v != Long.MinValue) throw new IllegalStateException(Boom)
    v
  }

  /** Keys 1, 2, 4 and 5 hash to bucket 1, key 3 to bucket 3 and
    * nothing to bucket 0 (an empty `init` bucket has no entry). */
  private val ExpectedManifests: Seq[(Long, String)] = Seq(
    0L -> Seq("#batch=-1", "1=data/v0", "2=data/v0", "3=data/v0"),
    // default writer: advances #batch=, rewrites touched buckets 2, 3
    1L -> Seq("#batch=0", "1=data/v0", "2=data/v1-<nonce>",
      "3=data/v1-<nonce>"),
    // named writer: its own #txn. line, #batch= carried
    2L -> Seq("#batch=0", "#txn.feed-b=7", "1=data/v2-<nonce>",
      "2=data/v1-<nonce>", "3=data/v1-<nonce>"),
    // append: the new segment joins bucket 1's list
    3L -> Seq("#batch=1", "#txn.feed-b=7",
      "1=data/v2-<nonce>;data/v3-<nonce>", "2=data/v1-<nonce>",
      "3=data/v1-<nonce>"),
    // append onto a full list (compactAfter = 2): bucket 1 folds
    4L -> Seq("#batch=2", "#txn.feed-b=7", "1=data/v4-<nonce>",
      "2=data/v1-<nonce>", "3=data/v1-<nonce>"),
    // rewriteBuckets: watermarks carried
    5L -> Seq("#batch=2", "#txn.feed-b=7", "1=data/v5-<nonce>",
      "2=data/v1-<nonce>", "3=data/v1-<nonce>"),
    // compactNow: one dir for every bucket
    6L -> Seq("#batch=2", "#txn.feed-b=7", "1=data/v6-<nonce>",
      "2=data/v6-<nonce>", "3=data/v6-<nonce>"),
    // evolveSchema: a metadata-only version, entries carried
    7L -> Seq("#batch=2", "#txn.feed-b=7", "1=data/v6-<nonce>",
      "2=data/v6-<nonce>", "3=data/v6-<nonce>"),
  ).map { case (v, lines) => v -> lines.mkString("\n") }
}
