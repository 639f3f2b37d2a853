package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.BucketedLog

/** The touched-bucket set every touched-bucket commit and probe starts
  * from (`applyBatch`, `rewriteBuckets`, `readFor`): one map-only
  * Spark job, none for a 1-bucket store, and the same set, rows and
  * manifests as the `distinct()` over the bucket column it replaced. */
class BucketedLogTouchedSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def rm(dir: String): Unit = {
    def r(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(r)); x.delete() }
    r(new java.io.File(dir))
  }

  private def sumMerge(cur: Option[DataFrame], b: DataFrame): DataFrame =
    cur.map(_.unionByName(b)).getOrElse(b)
      .groupBy("k").agg(sum("v").cast("long").as("v"))

  /** The touched set as a shuffle over the bucket column computes it. */
  private def distinctBuckets(log: BucketedLog, df: DataFrame): Set[Int] =
    df.select(log.bkt.cast("int")).distinct().collect().map(_.getInt(0)).toSet

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  /** Jobs `applyBatch` spends before it hands the batch to the merge:
    * a merge that records them and then merges as usual. */
  private def jobsBeforeMerge(log: BucketedLog, batch: DataFrame,
      batchId: Long): Seq[Seq[StageInfo]] =
    jobsOf { mark =>
      var seen = Option.empty[Seq[Seq[StageInfo]]]
      log.applyBatch(batch, batchId) { (cur, b) =>
        seen = Some(mark()); sumMerge(cur, b)
      }
      seen.getOrElse(fail("the merge never ran"))
    }

  private def seeded(dir: String, buckets: Int, keys: Long = 200L): BucketedLog = {
    rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets)
    log.init((1L to keys).map(k => (k, k * 10L)).toDF("k", "v"))
    // the first commit reads the schema anchor's footer; later ones hit
    // the anchor cache, so what remains is the touched set
    log.applyBatch(Seq((1L, 1L)).toDF("k", "v"), 0L)(sumMerge)
    log
  }

  test("applyBatch on a 64-bucket store finds its touched set in one map-only job") {
    // few keys: a state dir of more than 32 bucket dirs would add a
    // parallel partition-discovery job to the state read
    val log = seeded("/tmp/graft_bltouched_jobs", 64, keys = 10L)
    val batch = Seq((3L, 1L), (7L, 2L), (150L, 3L), (999L, 4L)).toDF("k", "v")
    val touched = distinctBuckets(log, batch)
    assert(touched.size > 1 && touched.size < 64)
    val before = log.head(spark).get.entries
    val jobs = jobsBeforeMerge(log, batch, 1L)
    assert(jobs.size === 1, s"touched-set jobs: ${jobs.map(_.map(_.name))}")
    assert(jobs.head.size === 1, "the touched-set job has a shuffle stage")
    assert(jobs.head.head.parentIds.isEmpty)
    // and the commit rewrote exactly those buckets
    val after = log.head(spark).get.entries
    assert(after.filter { case (b, d) => before.get(b) != Some(d) }.keySet ===
      touched)
  }

  test("applyBatch on a 1-bucket store spends no job on the touched set") {
    val log = seeded("/tmp/graft_bltouched_one", 1)
    val jobs = jobsBeforeMerge(log,
      Seq((3L, 1L), (999L, 4L)).toDF("k", "v"), 1L)
    assert(jobs.isEmpty, s"jobs: ${jobs.map(_.map(_.name))}")
    assert(rows(log.read(spark)).toMap.apply(999L) === 4L)
  }

  test("touchedBuckets equals the distinct bucket column, empty and many-partition frames included") {
    val keys = spark.range(0, 5000, 1, 37).select(
      (rand(7) * 1e6).cast("long").as("k"),
      concat(lit("s"), (rand(8) * 50).cast("int").cast("string")).as("s"))
    val frames: Seq[(String, DataFrame)] = Seq(
      "random, 37 partitions" -> keys,
      "sparse" -> keys.where(col("k") % 997 === 0),
      "empty, 37 partitions" -> keys.where(lit(false)),
      "no partitions" -> spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keys.schema),
      "local relation" -> Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    for {
      buckets <- Seq(1, 7, 64, 1000)
      hashCols <- Seq(Seq("k"), Seq("k", "s"))
      (name, df) <- frames
    } {
      val log = BucketedLog("/tmp/graft_bltouched_eq", hashCols, buckets)
      assert(log.touchedBuckets(df) === distinctBuckets(log, df),
        s"$name, buckets=$buckets, hash=$hashCols")
    }
    assert(BucketedLog("/tmp/graft_bltouched_eq", Seq("k"), 1000)
      .touchedBuckets(keys).size > 900, "the frames must exercise many words")
  }

  test("an empty batch on a 64-bucket store publishes only the advanced watermark") {
    val log = seeded("/tmp/graft_bltouched_empty", 64)
    val before = log.head(spark).get
    val state = rows(log.read(spark))
    var merged = false
    log.applyBatch(Seq.empty[(Long, Long)].toDF("k", "v"), 5L) { (c, b) =>
      merged = true; sumMerge(c, b)
    }
    val after = log.head(spark).get
    assert(!merged, "an empty batch reached the merge")
    assert(after === before.copy(version = before.version + 1, lastBatch = 5L))
    assert(rows(log.read(spark)) === state)
  }

  test("readFor and rewriteBuckets see the buckets the distinct bucket column names") {
    val log = seeded("/tmp/graft_bltouched_probe", 64)
    val keys = Seq(3L, 70L, 150L, 4242L).toDF("k")
    val touched = distinctBuckets(log, keys)
    val inTouched = rows(log.read(spark).where(log.bkt.cast("int")
      .isin(touched.toSeq.map(Integer.valueOf): _*)))
    assert(rows(log.readFor(keys)) === inTouched)
    assert(rows(log.readFor(keys.where(lit(false)))).isEmpty)

    val before = log.head(spark).get
    var cur = Seq.empty[(Long, Long)]
    log.rewriteBuckets(keys) { (c, _) =>
      cur = rows(c.get); c.get.withColumn("v", col("v") + 1L)
    }
    assert(cur === inTouched)
    val after = log.head(spark).get
    // every touched bucket holding rows is rewritten; one without rows
    // writes nothing and gains no entry
    val rewritten = touched.intersect(before.entries.keySet)
    assert(rewritten.nonEmpty)
    assert(after.entries.filter { case (b, d) => before.entries.get(b) != Some(d) }
      .keySet === rewritten)
    assert(after.lastBatch === before.lastBatch)
    // an empty key frame rewrites nothing
    log.rewriteBuckets(keys.where(lit(false)))((c, _) => c.get)
    assert(log.head(spark).get === after)
  }
}
