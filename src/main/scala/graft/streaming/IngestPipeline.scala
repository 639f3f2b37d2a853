package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming ingest — the rebuild of the reference's Kestrel→HBase
  * loader (`marketdb-app/.../MarketLoader.scala:27-56`): consume event
  * batches, enrich/validate, and persist idempotently.
  *
  * Mapping (SURVEY §2.9):
  *  - Kestrel reliable read + ack (`MarketLoader.scala:43-49,119`) →
  *    checkpointed file/Kafka source; improves on the reference by
  *    committing offsets only after the batch write (at-least-once with
  *    idempotent sink = effectively exactly-once).
  *  - HBase qualifier-overwrite dedup (`model/Trade.scala:56-59`,
  *    `VERSIONS => 1`) → `dropDuplicates(eventId)` within the batch
  *    plus an append-only parquet layout keyed for downstream
  *    `Dedup.firstByKey` compaction.
  *  - backpressure `buffered(1000)` (`MarketLoader.scala:49`) →
  *    `maxFilesPerTrigger` / `maxOffsetsPerTrigger`.
  *  - per-stream gap monitoring with inactivity reset
  *    (`MarketLoader.scala:70-101`) → StreamingQueryListener /
  *    watermark; surfaced here as lastProgress metrics.
  */
object IngestPipeline {

  /** Fixed scratch base for q88's oracled AvailableNow ingest replay
    * (`in/`, `out/`, `ckpt/` sub-dirs) — fixed because `oracleSql` is
    * a static string (same trade as `Tables.scratchPartitionedPath`). */
  val scratchIngestBase: String = "/tmp/graft_q88_ingest"

  /** Fixed scratch base for q93's oracled streaming-decontamination
    * replay — same fixed-path trade as [[scratchIngestBase]]. */
  val scratchDecontamBase: String = "/tmp/graft_q93_decon"

  /** Append `df` as ONE parquet file into `dir`, stamped with a
    * strictly increasing modification time (`batchIdx` minutes past a
    * fixed past epoch). FileStreamSource orders pending files by
    * modification time; two sub-millisecond sequential writes can tie
    * on mtime, and coalesced part files have random UUID names — so a
    * maxFilesPerTrigger=1 replay could process "batch 2" first,
    * flipping any order-sensitive state carry (streaming as-of keeps
    * only the newest reference row). The stamp makes arrival order a
    * property of the data, not the writer's clock. Stamp values sit
    * in 2001 — far below any live mtime — so a second append
    * recognizes already-stamped files and leaves them be; all stamps
    * are minutes apart, far inside the source's maxFileAge window. */
  def appendBatch(df: DataFrame, dir: String, batchIdx: Int): Unit = {
    // the already-stamped guard below treats mtime > stampBase + 1 day
    // as "live"; a stamp for batchIdx >= 1440 would land past that
    // horizon and a later append would re-stamp it, scrambling replay
    // order — so keep stamps strictly inside the first day
    require(batchIdx >= 0 && batchIdx < 1440,
      s"batchIdx must be in [0, 1440), got $batchIdx")
    val fs = org.apache.hadoop.fs.FileSystem
      .get(df.sparkSession.sparkContext.hadoopConfiguration)
    df.coalesce(1).write.mode("append").parquet(dir)
    val stampBase = 1000000000000L // 2001-09-09 << any live mtime
    fs.listStatus(new org.apache.hadoop.fs.Path(dir)).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith("part-") &&
          st.getModificationTime > stampBase + 86400000L)
        fs.setTimes(st.getPath, stampBase + batchIdx * 60000L, -1)
    }
  }

  /** Chainable sugar for [[appendBatch]]:
    * `df.appendBatchTo(in, 0)` (import `IngestPipeline.BatchWriter`). */
  implicit class BatchWriter(private val df: DataFrame) extends AnyVal {
    def appendBatchTo(dir: String, batchIdx: Int): Unit =
      appendBatch(df, dir, batchIdx)
  }

  /** File-based micro-batch source of event rows (the test rig and the
    * bulk-load path share it; Kafka swaps in by changing the format). */
  def fileSource(spark: SparkSession, schema: StructType, inDir: String,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)

  /** Network micro-batch source: newline-delimited records over a TCP
    * socket — the wire shape of the reference's Kestrel queue consumer
    * (`MarketLoader.scala:27-56`). Socket offsets are not replayable
    * (at-most-once at the source), which is exactly why the sink below
    * is idempotent: a queue redelivering in at-least-once mode lands on
    * the same compacted row. Kafka (replayable offsets) swaps in by
    * changing this one format string; everything downstream is
    * source-agnostic. */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Parse newline-delimited CSV wire records into typed event rows.
    * `timeCol` arrives as epoch millis on the wire. Malformed lines
    * parse to all-null rows (PERMISSIVE) and are quarantined by the
    * id-null filter — the F5 guard at the network edge. */
  def parseCsvEvents(lines: DataFrame, schema: StructType, idCol: String,
      timeCol: String): DataFrame = {
    val wireSchema = StructType(schema.fields.map(f =>
      if (f.name == timeCol) f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    lines
      .select(from_csv(col("value"), wireSchema, Map("mode" -> "PERMISSIVE")).as("r"))
      .select(col("r.*"))
      .withColumn(timeCol, timestamp_millis(col(timeCol)))
      .where(col(idCol).isNotNull)
  }

  /** Start the idempotent append sink: per micro-batch, drop in-batch
    * duplicate event ids (keeping the earliest by `timeCol`) and append
    * partitioned by event date (`SeriesLayout.ingest`'s `__date=`), so
    * a `SeriesScan.scan` of the table opens only the dates its interval
    * names, like the reference's time-bucketed row keys
    * (`model/Trade.scala:22-30`). */
  def startIngest(stream: DataFrame, outDir: String, checkpointDir: String,
      idCol: String, timeCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val layout = graft.sources.SeriesLayout.ingest(timeCol)
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // deterministic in-batch dedup: earliest event wins (not
        // dropDuplicates, whose survivor is partition-order dependent)
        layout.withDate(graft.operators.Dedup
            .firstByKey(batch, Seq(idCol), Seq(timeCol)))
          .write
          .mode("append")
          .partitionBy(layout.partitionCols: _*)
          .parquet(outDir)
      }
      .start()
  }

  /** Compact the append-only table to one row per event id — the
    * reference's storage-level idempotency (same row+qualifier
    * overwrites), reproduced as a deterministic keep-first. */
  def compact(spark: SparkSession, dir: String, idCol: String,
      orderCols: Seq[String]): DataFrame =
    graft.operators.Dedup.firstByKey(spark.read.parquet(dir), Seq(idCol), orderCols)

  /** INGEST-TIME DECONTAMINATION — the streaming twin of
    * `Dedup.decontaminate` (q80): every arriving document is checked
    * for exact word k-shingle overlap against a STATIC eval/benchmark
    * set, appending (train_id, eval_id, n_shared) rows as data
    * arrives instead of in a pre-release batch sweep. Runs the batch
    * operator per micro-batch (the checkpointed `foreachBatch`
    * pattern of [[startIngest]]): a document's shingles are all in
    * the batch it arrives in, so per-batch aggregation equals the
    * global batch answer exactly — no cross-batch state, no
    * watermark. Delivery is AT-LEAST-ONCE like every sink in this
    * file (a replayed batch or a redelivered document appends the
    * same deterministic (train_id, eval_id, n_shared) rows again);
    * compact downstream with
    * `spark.read.parquet(outDir).dropDuplicates("train_id", "eval_id")`
    * — duplicates are bit-identical rows, the [[compact]] story for
    * pair output. The static eval side broadcasts into every
    * micro-batch (benchmarks are small by definition). */
  def startDecontaminate(stream: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, k: Int, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // the static side is derived ONCE and cached for the stream's
    // life (released on query stop via the listener below): without
    // this every micro-batch re-scans the eval set and re-runs its
    // shingle explode before re-broadcasting
    val evalShingles = graft.operators.Dedup
      .shingleSet(evalSet, idCol, textCol, k, "eval_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val query = stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Dedup
          .decontaminateAgainst(batch, evalShingles, idCol, textCol, k)
          .write.mode("append").parquet(outDir)
      }
      .start()
    val spark = evalSet.sparkSession
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            evalShingles.unpersist()
            spark.streams.removeListener(this)
          }
      })
    query
  }
}
