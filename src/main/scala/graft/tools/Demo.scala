package graft.tools

import java.nio.file.Files

import graft.sources.RtsCsv
import graft.streaming.IngestPipeline

/** End-to-end demo of the ingest surfaces: RTS CSV parse + quarantine,
  * then streaming idempotent ingest + compaction. Run:
  * `sbt "runMain graft.tools.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()

    // 0. session extensions: custom expression from plain SQL
    val sic = spark.sql(
      "SELECT sorted_intersect_count(array(1,3,5,7), array(3,4,5)) AS c")
      .head().getInt(0)
    println(s"[demo] sorted_intersect_count via SQL extension: $sic")

    // 0b. embedding near-dup pairs on the real embeddings table
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val nd = graft.operators.Similarity.cosineNearDupPairs(
      emb, "vec_id", "embedding", threshold = 0.95, nBits = 4, dim = 64).count()
    println(s"[demo] embedding near-dup pairs (cos>=0.95): $nd")

    // 1. RTS CSV batch source with rejects
    val dir = Files.createTempDirectory("demo").toString
    val csv = s"$dir/120201ft.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      """code;contract;price;amount;dat_time;trade_id;Nosystem
        |RIH2;RTS-3.12;157510.00000;1;2012-01-31 19:00:00.003;497757776;0
        |RIH2;RTS-3.12;157515.00000;2;2012-01-31 19:00:01.500;497757777;1
        |RIH2;RTS-3.12;broken;2;2012-01-31 19:00:02.000;497757778;0
        |""".stripMargin)
    val trades = RtsCsv.trades(spark, Seq(csv))
    println(s"[demo] parsed trades: ${trades.count()}")
    trades.show(false)
    println(s"[demo] quarantined: ${RtsCsv.rejects(spark, Seq(csv)).count()}")

    // 2. streaming ingest: parquet drop-dir -> idempotent partitioned table
    val in = s"$dir/in"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    trades.write.mode("append").parquet(in)
    trades.write.mode("append").parquet(in) // duplicate delivery
    val q = IngestPipeline.startIngest(
      IngestPipeline.fileSource(spark, trades.schema, in), out, ckpt,
      "tradeId", "time")
    q.awaitTermination()
    val compacted = IngestPipeline.compact(spark, out, "tradeId", Seq("time"))
    println(s"[demo] ingested rows after compaction: ${compacted.count()}")
    compacted.show(false)
    spark.stop()
  }
}
