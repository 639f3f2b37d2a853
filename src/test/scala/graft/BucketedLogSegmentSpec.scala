package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.BucketedLog

/** Segment commits (BucketedLog.appendBatch doc): a batch's rows are
  * written ALONE (never a touched-bucket rewrite), the manifest
  * appends the new dir to each touched bucket's segment list, reads
  * union a bucket's segments, and a bucket folds in-commit once its
  * list reaches `compactAfter` — so reads stay bounded while ingest
  * cost stays O(batch), flat in index size (the write-amplification
  * fix for dense-coverage states like term-keyed postings). */
class BucketedLogSegmentSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def rm(dir: String): Unit = {
    def r(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(r)); x.delete() }
    r(new java.io.File(dir))
  }

  private def state(log: BucketedLog): Seq[(Long, Long)] =
    log.read(spark).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  private def batchDf(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("k", "v")

  // every key below hashes SOMEWHERE in 4 buckets; the multiset union
  // of all appended rows is the exact expected state
  private val batches: Seq[Seq[(Long, Long)]] = Seq(
    Seq((1L, 10L), (2L, 20L)),
    Seq((1L, 11L), (3L, 30L)),
    Seq((2L, 21L), (4L, 40L), (1L, 12L)),
    Seq((5L, 50L)),
    Seq((1L, 13L), (5L, 51L), (2L, 22L)))

  test("append is pure multiset union, for any compactAfter") {
    val expected = batches.flatten.sorted
    Seq(1, 2, 16).foreach { ca =>
      val dir = s"/tmp/graft_blseg_a$ca"; rm(dir)
      val log = BucketedLog(dir, Seq("k"), buckets = 4, compactAfter = ca)
      log.init(batchDf(Seq.empty))
      batches.zipWithIndex.foreach { case (b, i) =>
        log.appendBatch(batchDf(b), i.toLong)
      }
      assert(state(log) === expected, s"compactAfter=$ca")
    }
  }

  test("segments accumulate per bucket; folding bounds the list; state unchanged") {
    val dir = "/tmp/graft_blseg_b"; rm(dir)
    val ca = 2
    val log = BucketedLog(dir, Seq("k"), buckets = 4, compactAfter = ca)
    log.init(batchDf(Seq.empty))
    batches.zipWithIndex.foreach { case (b, i) =>
      log.appendBatch(batchDf(b), i.toLong)
      val entries = log.head(spark).get.entries
      assert(entries.values.forall(_.size <= ca),
        s"after batch $i a bucket's segment list exceeded $ca: $entries")
    }
    assert(state(log) === batches.flatten.sorted)
    // at least one bucket genuinely accumulated >1 segment on the way
    // (otherwise this spec tested nothing)
    val dir2 = "/tmp/graft_blseg_b2"; rm(dir2)
    val wide = BucketedLog(dir2, Seq("k"), buckets = 4, compactAfter = 16)
    wide.init(batchDf(Seq.empty))
    batches.zipWithIndex.foreach { case (b, i) =>
      wide.appendBatch(batchDf(b), i.toLong)
    }
    val lists = wide.head(spark).get.entries.values
    assert(lists.exists(_.size > 1),
      s"expected multi-segment buckets at compactAfter=16: $lists")
    assert(state(wide) === batches.flatten.sorted)
  }

  test("an append rewrites NOTHING: prior segment dirs survive byte-identical") {
    val dir = "/tmp/graft_blseg_c"; rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets = 4, compactAfter = 16)
    log.init(batchDf(Seq.empty))
    log.appendBatch(batchDf(batches.head), 0L)
    def dataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq.flatMap(walk))
        else Seq(f)
      walk(new java.io.File(s"$dir/data"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = dataFiles()
    log.appendBatch(batchDf(batches(1)), 1L)
    val after = dataFiles()
    // every pre-existing data file is still there, untouched — the
    // append added files, it rewrote none (the O(batch) claim)
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"append rewrote $p")
    }
    assert(after.size > before.size)
  }

  test("exactly-once: replays are no-ops by #batch and per-writer txn marks") {
    val dir = "/tmp/graft_blseg_d"; rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets = 4)
    log.init(batchDf(Seq.empty))
    log.appendBatch(batchDf(Seq((1L, 10L))), 0L)
    log.appendBatch(batchDf(Seq((1L, 10L))), 0L) // crash replay
    assert(state(log) === Seq((1L, 10L)))
    log.appendBatch(batchDf(Seq((2L, 20L))), 0L, "wA")
    log.appendBatch(batchDf(Seq((2L, 20L))), 0L, "wA") // replay by ITS mark
    assert(state(log) === Seq((1L, 10L), (2L, 20L)))
    assert(log.txnWatermark(spark, "wA") === 0L)
    assert(log.head(spark).get.lastBatch === 0L)
    // adversarial writer id rejected before any manifest write
    intercept[IllegalArgumentException] {
      log.appendBatch(batchDf(Seq((9L, 9L))), 1L, "w\nA")
    }
  }

  test("a store can be SEEDED by its first append (schema anchor lands)") {
    val dir = "/tmp/graft_blseg_e"; rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets = 4)
    log.appendBatch(batchDf(Seq((1L, 10L), (2L, 20L))), 0L)
    assert(state(log) === Seq((1L, 10L), (2L, 20L)))
    assert(log.read(spark).columns.toSeq === Seq("k", "v"))
  }

  test("rewriteBuckets on a segmented store collapses lists and replaces rows") {
    val dir = "/tmp/graft_blseg_f"; rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets = 4, compactAfter = 16)
    log.init(batchDf(Seq.empty))
    batches.zipWithIndex.foreach { case (b, i) =>
      log.appendBatch(batchDf(b), i.toLong)
    }
    // delete key 1 everywhere (the InvertedIndex.deleteDocs shape)
    log.rewriteBuckets(Seq(1L).toDF("k")) { (cur, _) =>
      cur.get.where(col("k") =!= 1L)
    }
    assert(state(log) === batches.flatten.filter(_._1 != 1L).sorted)
    // the touched bucket's entry collapsed to ONE dir
    val bktOf1 = batchDf(Seq((1L, 0L)))
      .select(log.bkt.cast("int")).head().getInt(0)
    val entries = log.head(spark).get.entries
    entries.get(bktOf1).foreach(ds =>
      assert(ds.size === 1, s"rewrite must collapse segments: $ds"))
  }

  test("cleanup never strands or dangles dirs across appends and folds") {
    val dir = "/tmp/graft_blseg_g"; rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets = 4, compactAfter = 2)
    log.init(batchDf(Seq.empty))
    batches.zipWithIndex.foreach { case (b, i) =>
      log.appendBatch(batchDf(b), i.toLong)
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
        s"dangling manifest entries after batch $i: ${referenced -- onDisk}")
      assert(onDisk.subsetOf(referenced),
        s"orphan dirs after batch $i: ${onDisk -- referenced}")
    }
  }

  test("readForValues prunes exactly like readFor (driver-side bucket eval)") {
    // long keys
    val dir = "/tmp/graft_blseg_rfv"; rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets = 4, compactAfter = 2)
    log.init(batchDf(Seq.empty))
    batches.zipWithIndex.foreach { case (b, i) =>
      log.appendBatch(batchDf(b), i.toLong)
    }
    val allKeys = batches.flatten.map(_._1).distinct
    (allKeys.map(Seq(_)) :+ allKeys).foreach { ks =>
      val viaDf = log.readFor(ks.toDF("k")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val viaVals = log.readForValues(spark, ks).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(viaVals === viaDf, s"keys $ks")
    }
    // string keys (xxhash64 is type-sensitive — pin the string path too)
    val dirS = "/tmp/graft_blseg_rfvs"; rm(dirS)
    val logS = BucketedLog(dirS, Seq("t"), buckets = 4)
    logS.init(Seq.empty[(String, Long)].toDF("t", "v"))
    logS.appendBatch(Seq(("alpha", 1L), ("beta", 2L), ("gamma", 3L),
      ("delta", 4L)).toDF("t", "v"), 0L)
    Seq(Seq("alpha"), Seq("beta", "gamma"),
      Seq("alpha", "beta", "gamma", "delta")).foreach { ks =>
      val viaDf = logS.readFor(ks.toDF("t")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      val viaVals = logS.readForValues(spark, ks).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(viaVals === viaDf, s"keys $ks")
    }
  }

  test("retained segmented store: readAt serves every historical union") {
    val dir = "/tmp/graft_blseg_h"; rm(dir)
    val log = BucketedLog(dir, Seq("k"), buckets = 4, compactAfter = 2,
      retain = true)
    log.init(batchDf(Seq.empty))
    batches.zipWithIndex.foreach { case (b, i) =>
      log.appendBatch(batchDf(b), i.toLong)
    }
    (1 to batches.size).foreach { v =>
      val got = log.readAt(spark, v.toLong).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got === batches.take(v).flatten.sorted, s"readAt($v)")
    }
  }
}
