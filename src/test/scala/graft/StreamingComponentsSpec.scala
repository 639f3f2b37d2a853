package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Components
import graft.streaming.{IngestPipeline, StreamingComponents}

/** Incremental connected components: per-batch star-edge contraction
  * must converge to exactly the batch CC labeling, merge clusters
  * ACROSS micro-batches (labels decrease monotonically as bridges
  * arrive), and absorb redelivered edges without change. */
class StreamingComponentsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def labelsOf(dir: String): Map[Long, Long] =
    StreamingComponents.readLabels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def run(in: String, labels: String, ckpt: String): Unit = {
    val q = StreamingComponents.start(
      IngestPipeline.fileSource(spark,
        spark.read.parquet(in).schema, in, maxFilesPerTrigger = 1),
      "a", "b", labels, ckpt)
    q.awaitTermination()
  }

  test("a bridge edge in a later batch merges two existing clusters") {
    val root = Files.createTempDirectory("scomp").toString
    val in = s"$root/in"; val labels = s"$root/labels"; val ckpt = s"$root/ckpt"
    // batch 1: two separate clusters {1,2} and {3,4}, plus {10,11}
    IngestPipeline.appendBatch(
      Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("a", "b"), in, 0)
    // batch 2: the bridge (2,3) — {1,2,3,4} must relabel to min 1;
    // {10,11} is untouched
    IngestPipeline.appendBatch(Seq((2L, 3L)).toDF("a", "b"), in, 1)
    run(in, labels, ckpt)
    assert(labelsOf(labels) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("labels after incremental replay equal batch CC over all edges") {
    val root = Files.createTempDirectory("scompeq").toString
    val in = s"$root/in"; val labels = s"$root/labels"; val ckpt = s"$root/ckpt"
    // a longer chain split adversarially: every batch extends the
    // previous batch's component
    IngestPipeline.appendBatch(Seq((5L, 6L), (20L, 30L)).toDF("a", "b"), in, 0)
    IngestPipeline.appendBatch(Seq((6L, 7L), (30L, 40L)).toDF("a", "b"), in, 1)
    IngestPipeline.appendBatch(Seq((7L, 8L), (40L, 5L)).toDF("a", "b"), in, 2)
    run(in, labels, ckpt)
    val all = Seq((5L, 6L), (20L, 30L), (6L, 7L), (30L, 40L), (7L, 8L), (40L, 5L))
    val batch = Components.connectedComponents(
      all.toDF("a", "b"), "a", "b")
    val want = batch.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    batch.unpersist()
    assert(labelsOf(labels) === want)
    // the chain collapses into ONE component with min 5
    assert(want.values.toSet === Set(5L))
  }

  test("compaction folds deltas+remap into a hash-partitioned base with identical labels") {
    val root = Files.createTempDirectory("scompact").toString
    val in = s"$root/in"; val labels = s"$root/labels"; val ckpt = s"$root/ckpt"
    IngestPipeline.appendBatch(Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), in, 0)
    IngestPipeline.appendBatch(Seq((2L, 3L), (7L, 8L)).toDF("a", "b"), in, 1)
    IngestPipeline.appendBatch(Seq((8L, 1L), (1L, 9L)).toDF("a", "b"), in, 2)
    // deltaCap=0 forces a compaction on every batch that appends a delta
    val q = StreamingComponents.start(
      IngestPipeline.fileSource(spark,
        spark.read.parquet(in).schema, in, maxFilesPerTrigger = 1),
      "a", "b", labels, ckpt, deltaCap = 0)
    q.awaitTermination()
    assert(labelsOf(labels) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 1L))
    // state is a single compacted base: bucket= partitions, no deltas,
    // no remap, exactly one manifest
    val names = new java.io.File(labels).listFiles().map(_.getName).toSet
    assert(names.count(_.startsWith("_STATE.v")) === 1)
    assert(!names.exists(_.startsWith("delta-")))
    assert(!names.exists(_.startsWith("remap-")))
    val base = names.filter(_.startsWith("base-v"))
    assert(base.size === 1)
    val parts = new java.io.File(s"$labels/${base.head}")
      .listFiles().map(_.getName).filter(_.startsWith("bucket="))
    assert(parts.nonEmpty)
  }

  test("distributed component-graph CC path yields the same labels as the driver union-find") {
    val root = Files.createTempDirectory("scompdist").toString
    val in = s"$root/in"; val labels = s"$root/labels"; val ckpt = s"$root/ckpt"
    IngestPipeline.appendBatch(
      Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("a", "b"), in, 0)
    IngestPipeline.appendBatch(Seq((2L, 3L), (11L, 4L)).toDF("a", "b"), in, 1)
    // driverEdgeCap=0 forces the distributed star-contraction fallback
    val q = StreamingComponents.start(
      IngestPipeline.fileSource(spark,
        spark.read.parquet(in).schema, in, maxFilesPerTrigger = 1),
      "a", "b", labels, ckpt, driverEdgeCap = 0L)
    q.awaitTermination()
    assert(labelsOf(labels) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 1L, 10L -> 1L, 11L -> 1L))
  }

  test("commit crash windows: torn .tmp manifest ignored; highest intact manifest wins") {
    val root = Files.createTempDirectory("scompcrash").toString
    val in = s"$root/in"; val labels = s"$root/labels"; val ckpt = s"$root/ckpt"
    IngestPipeline.appendBatch(Seq((1L, 2L)).toDF("a", "b"), in, 0)
    IngestPipeline.appendBatch(Seq((2L, 3L)).toDF("a", "b"), in, 1)
    run(in, labels, ckpt)
    val committed = labelsOf(labels)
    assert(committed === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val dir = new java.io.File(labels)
    val stateName = dir.listFiles().map(_.getName)
      .filter(_.startsWith("_STATE.v")).max
    // crash window A: a manifest write torn before its atomic rename
    // leaves only a .tmp — the reader must not pick it up
    val torn = new java.io.File(dir, "_STATE.v9999999999999999999.tmp")
    Files.write(torn.toPath, "base=base-vDOESNOTEXIST\n".getBytes)
    assert(labelsOf(labels) === committed)
    torn.delete()
    // crash window B: new manifest committed but cleanup never ran —
    // a STALE lower-version manifest alongside; highest must win
    val stale = new java.io.File(dir, "_STATE.v0000000000000000000")
    Files.copy(new java.io.File(dir, stateName).toPath, stale.toPath)
    assert(labelsOf(labels) === committed)
    stale.delete()
    // and before ANY commit, labels read as empty (nothing was lost —
    // nothing was ever acknowledged)
    val scratch = Files.createTempDirectory("scompempty").toString
    assert(StreamingComponents.readLabels(spark, scratch).isEmpty)
  }

  test("driver-side bucket hash equals the Spark pmod(xxhash64) column") {
    val nodes = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, 987654321L)
    val sparkSide = nodes.toDF("n")
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64($"n"),
        org.apache.spark.sql.functions.lit(64)).cast("int"))
      .collect().map(_.getInt(0))
    val driverSide = nodes.map(StreamingComponents.bucketOfNode(_, 64))
    assert(driverSide === sparkSide.toSeq)
  }

  test("redelivered edges are absorbed without change (at-least-once)") {
    val root = Files.createTempDirectory("scompre").toString
    val in = s"$root/in"; val labels = s"$root/labels"; val ckpt = s"$root/ckpt"
    IngestPipeline.appendBatch(Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), in, 0)
    IngestPipeline.appendBatch(Seq((2L, 3L)).toDF("a", "b"), in, 1)
    run(in, labels, ckpt)
    val first = labelsOf(labels)
    // redeliver an already-merged edge in a fresh arrival file
    IngestPipeline.appendBatch(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), in, 2)
    run(in, labels, ckpt)
    assert(labelsOf(labels) === first)
  }
}
