package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.MarketDbApi
import graft.model.{Schemas, Trade}
import graft.streaming.{AggView, IngestPipeline}

/** Files and bytes of one `BucketedLog` store's version dirs
  * (`data/v<version>-<nonce>/__bkt=<k>/`), read from disk. */
final case class StoreSnapshot(dirs: Map[String, File]) {
  def buckets(d: String): Int =
    Option(dirs(d).listFiles).map(_.count(_.getName.startsWith("__bkt="))).getOrElse(0)
}

object StoreSnapshot {
  def of(store: String): StoreSnapshot = {
    val data = new File(store, "data")
    StoreSnapshot(Option(data.listFiles).map(_.filter(f => f.isDirectory &&
      f.getName.startsWith("v") && !f.getName.endsWith(".tmp"))
      .map(f => f.getName -> f).toMap).getOrElse(Map.empty))
  }
}

object Verify {
  /** Rows in one multiset and not the other, both ways. */
  def diff[T](got: Seq[T], want: Seq[T]): Int = {
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
    (g.keySet ++ w.keySet).toSeq.map(k => math.abs(g.getOrElse(k, 0) - w.getOrElse(k, 0))).sum
  }
}

/** What one store commit did on disk. */
final case class CommitStats(ms: Double, buckets: Int, files: Long, bytes: Long,
    removedDirs: Int, batchBytes: Long)

/** `tick_ingest`: small frequent writes with reads beside them. The
  * generator lands one micro-batch file of trades at a time (about 5 %
  * redeliveries from recent batches, 1 % duplicates inside the batch,
  * 2 % late events). One long-running `IngestPipeline.startIngest`
  * query appends them to a date-partitioned table; a second query over
  * the same landing directory folds each batch into a per-(market,
  * security, minute) `AggView`. When both have committed the batch, a
  * read-your-writes `MarketDbApi.trades` scan runs over the growing
  * table, and only then does the next batch land. */
final class TickIngestWorkload(ctx: Ctx) extends Workload {
  private val BatchRows = 2000
  private val Securities = 200
  private val spark = ctx.spark
  private val w = ctx.opts.workload
  private var rep = 0
  private var feed: Gen.TickFeed = _
  private var nextBatch = 0
  private var ingest: StreamingQuery = _
  private var viewQuery: StreamingQuery = _
  private var view: AggView = _
  // batches landed since the final set-up began, in order, and their
  // file bytes (stream batch i is landed batch i: one file per batch)
  private val landed = mutable.ArrayBuffer.empty[Array[Trade]]
  private val batchBytes = mutable.ArrayBuffer.empty[Long]
  private val freshMs = mutable.ArrayBuffer.empty[Double]
  private val scanMs = mutable.ArrayBuffer.empty[Double]
  private val scans = mutable.ArrayBuffer.empty[(ScanReq, Option[Long], Int)]
  private val commits = mutable.ArrayBuffer.empty[CommitStats]
  private var timedEvents = 0L

  private def inDir = ctx.dir(s"r$rep/in")
  private def stageDir = ctx.dir(s"r$rep/stage")
  private def outDir = ctx.dir(s"r$rep/out")
  private def viewDir = ctx.dir(s"r$rep/view")

  private val measures: Seq[(String, Column)] = Seq(
    // price is a multiple of 1/4: notional in quarters is an exact integer
    "notional_q" -> (col("price") * 4 * col("amount")).cast("long"),
    "volume" -> col("amount").cast("long"))

  private def facts(batch: DataFrame): DataFrame =
    batch.withColumn("minute", date_trunc("minute", col("time")))

  def setup(rep: Int): Unit = {
    this.rep = rep
    feed = new Gen.TickFeed(ctx.opts.seed, Securities, BatchRows)
    nextBatch = 0
    landed.clear()
    batchBytes.synchronized(batchBytes.clear())
    new File(inDir).mkdirs()
    view = AggView(viewDir, Seq("market", "security", "minute"), measures, buckets = 8)
    view.init(facts(spark.createDataFrame(Seq.empty[Trade])))
    ingest = IngestPipeline.startIngest(
      IngestPipeline.fileSource(spark, Schemas.trade, inDir),
      outDir, ctx.dir(s"r$rep/ckpt-ingest"), "tradeId", "time", Trigger.ProcessingTime(0L))
    viewQuery = IngestPipeline.fileSource(spark, Schemas.trade, inDir)
      .writeStream
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ctx.dir(s"r$rep/ckpt-view"))
      .foreachBatch { (b: DataFrame, id: Long) => commitView(b, id) }
      .start()
    // the first batch makes both queries plan and commit once
    land(prepare())
  }

  private def commitView(b: DataFrame, id: Long): Unit = {
    val t = ctx.tracer
    if (!t.tracing) view.applyBatch(facts(b), id)
    else {
      val before = StoreSnapshot.of(viewDir)
      val t0 = System.nanoTime
      t.span("streaming.bucketedlog", "commit")(view.applyBatch(facts(b), id))
      val ms = (System.nanoTime - t0) / 1e6
      val after = StoreSnapshot.of(viewDir)
      val added = after.dirs.keySet -- before.dirs.keySet
      synchronized {
        commits += CommitStats(ms, added.toSeq.map(after.buckets).sum,
          added.toSeq.map(d => Files.count(after.dirs(d), _.getName.endsWith(".parquet"))).sum,
          added.toSeq.map(d => Files.dataBytes(after.dirs(d))).sum,
          (before.dirs.keySet -- after.dirs.keySet).size, batchBytes.synchronized(batchBytes(id.toInt)))
      }
    }
  }

  def teardown(): Unit = {
    stopQueries()
    ctx.delete(s"r$rep")
  }

  private def stopQueries(): Unit = {
    Seq(ingest, viewQuery).foreach { q => q.stop(); ctx.tracer.awaitStreamEnd(q.runId) }
  }

  /** Generates the next batch as one parquet file outside the input
    * directory. */
  private def prepare(): (Array[Trade], File) = {
    val rows = feed.next(nextBatch)
    val stage = s"$stageDir/b$nextBatch"
    val bytes = Gen.write(spark.createDataFrame(rows.toSeq), stage)
    batchBytes.synchronized(batchBytes += bytes)
    (rows, new File(stage).listFiles.find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get)
  }

  /** Lands a prepared batch atomically in the input directory and waits
    * until both queries have committed it. Returns the time from landing
    * to visible, in ms. */
  private def land(batch: (Array[Trade], File)): Double = {
    val (rows, part) = batch
    val target = new File(inDir, f"b$nextBatch%06d.parquet")
    val t0 = System.nanoTime
    JFiles.move(part.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    ingest.processAllAvailable()
    viewQuery.processAllAvailable()
    val ms = (System.nanoTime - t0) / 1e6
    Files.delete(part.getParentFile)
    landed += rows
    nextBatch += 1
    ms
  }

  private def scanReq(r: SplittableRandom, zipf: Zipf): ScanReq = {
    val from = Gen.dayStart(30)
    ScanReq(Gen.Markets(r.nextInt(Gen.Markets.size)), Gen.security(zipf.sample(r)),
      from, from + Gen.DayMs - 1)
  }

  /** The read-your-writes scan: a trades handle and its `counter` fold. */
  private def scan(q: ScanReq): Long = {
    val h = Reads.open(ctx, outDir, q)
    ctx.tracer.span("functions", "counter")(MarketDbApi.counter(h))
  }

  def warmup(): Unit = {
    val r = new SplittableRandom(ctx.opts.seed ^ 0x5EEDL)
    val zipf = new Zipf(Securities, 1.1)
    (0 until 3).foreach { _ => land(prepare()); scan(scanReq(r, zipf)) }
  }

  def timed(deadlineNs: Long): Unit = {
    val r = new SplittableRandom(ctx.opts.seed)
    val zipf = new Zipf(Securities, 1.1)
    while (System.nanoTime < deadlineNs) {
      val q = scanReq(r, zipf)
      val batch = prepare()
      ctx.op(s"batch $nextBatch")(ctx.tracer.request("batch") {
        freshMs += ctx.tracer.span("streaming", "land")(land(batch))
        timedEvents += landed.last.length
        val t0 = System.nanoTime
        val n = ctx.op(s"scan $q")(scan(q))
        scanMs += (System.nanoTime - t0) / 1e6
        scans += ((q, n, landed.size))
      })
    }
    stopQueries()
  }

  def verify(): Unit = {
    // read-your-writes: each scan saw exactly the batches landed before it
    // (after the sink's in-batch dedup), counted here from the generator's rows
    scans.foreach { case (q, got, nBatches) =>
      got.foreach { n =>
        val want = landed.take(nBatches).map { b =>
          b.distinctBy(_.tradeId).count(t => t.market == q.market && t.security == q.security &&
            t.time.getTime >= q.fromMs && t.time.getTime <= q.toMs).toLong
        }.sum
        ctx.outcome.check(n == want, s"scan $q after $nBatches batches: got $n, want $want")
      }
    }
    import spark.implicits._
    val cols = Seq("market", "security", "tradeId", "price", "amount", "time", "nosystem").map(col)
    ctx.op("compact") {
      val got = IngestPipeline.compact(spark, outDir, "tradeId", Seq("time")).select(cols: _*).as[Trade].collect()
      val diff = Verify.diff(got.toSeq, landed.flatten.distinctBy(_.tradeId).toSeq)
      ctx.outcome.check(diff == 0, s"compact differs from the distinct generated trades in $diff rows")
    }
    ctx.op("view") {
      val got = view.read(spark).select("market", "security", "minute", "cnt", "notional_q", "volume")
        .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getTimestamp(2).getTime,
          r.getLong(3), r.getLong(4), r.getLong(5)))
      // the one-shot groupBy, over the generator's rows of every landed file
      val want = landed.flatten.groupBy { t =>
        val ms = t.time.getTime
        (t.market, t.security, ms - Math.floorMod(ms, 60000L))
      }.toSeq.map { case ((m, sec, minute), ts) =>
        (m, sec, minute, ts.size.toLong, ts.map(t => (t.price * 4 * t.amount).toLong).sum,
          ts.map(_.amount.toLong).sum)
      }
      val diff = Verify.diff(got, want)
      ctx.outcome.check(diff == 0, s"view differs from a one-shot groupBy in $diff rows")
    }
  }

  def report(): Unit = {
    val p50 = Reads.latencyLines(ctx, "fresh", freshMs.toSeq)
    val s50 = Reads.latencyLines(ctx, "ingest_scan", scanMs.toSeq)
    val eventsPerS = timedEvents / (freshMs.sum / 1000)
    val disk = Files.bytes(new File(outDir)) + Files.bytes(new File(viewDir))
    val inputBytes = batchBytes.synchronized(batchBytes.sum)
    val amp = disk.toDouble / inputBytes
    ctx.report.line(f"[$w] ingest_events_per_s = $eventsPerS%.1f events/s " +
      s"($timedEvents events in ${freshMs.size} timed batches of $BatchRows rows)")
    ctx.report.line(f"[$w] space_amp = $amp%.4f (table + view bytes on disk / ${landed.size} input files, $inputBytes bytes)")
    ctx.report.metric("read_p50_ms", s50, "ms")
    ctx.report.metric("fresh_p50_ms", p50, "ms")
    ctx.report.metric("write_rows_per_s", eventsPerS, "rows/s")
    ctx.report.metric("space_amp", amp, "ratio")
  }

  def layers(): Unit = {
    val t = ctx.tracer
    val roots = t.spans.filter(s => s.parent == 0 && s.name == "batch")
    val all = t.subtree(roots)
    val viewSpans = t.spans.filter(_.layer == "streaming.bucketedlog")
    LayerCalc.operators(ctx, roots ++ viewSpans,
      Seq(ingest.runId.toString, viewQuery.runId.toString))
    val rows = scans.flatMap(_._2).sum
    LayerCalc.sources(ctx, Seq(outDir), roots.size, rows)
    ctx.layer("marketdbapi.open_ms") = LayerCalc.meanMs(all.filter(_.name == "open"))
    ctx.layer("functions.fold_ms") = LayerCalc.meanMs(all.filter(_.layer == "functions"))
    val prog = t.progress.filter(p => p.runId == ingest.runId && p.numInputRows > 0)
    def d(k: String) = if (prog.isEmpty) 0.0
      else prog.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble / prog.size
    ctx.layer("streaming.trigger_ms") = d("triggerExecution")
    ctx.layer("streaming.add_batch_ms") = d("addBatch")
    ctx.layer("streaming.list_ms") = d("latestOffset") + d("getBatch")
    ctx.layer("streaming.wal_ms") = d("walCommit")
    val received = prog.map(_.numInputRows).sum
    val timedBatches = landed.takeRight(prog.size)
    ctx.layer("streaming.rows_kept_ratio") =
      timedBatches.map(_.distinctBy(_.tradeId).length).sum.toDouble / math.max(1L, received)
    ctx.layer("streaming.files_per_batch") =
      Files.count(new File(outDir), _.getName.endsWith(".parquet")).toDouble / landed.size
    val c = commits.toSeq
    val n = math.max(1, c.size).toDouble
    val ct = t.countsFor(viewSpans)
    ctx.layer("streaming.bucketedlog.commit_ms") = c.map(_.ms).sum / n
    ctx.layer("streaming.bucketedlog.jobs_per_commit") = ct.jobs / n
    ctx.layer("streaming.bucketedlog.tasks_per_commit") = ct.tasks / n
    ctx.layer("streaming.bucketedlog.buckets_touched") = c.map(_.buckets).sum / n
    ctx.layer("streaming.bucketedlog.files_written") = c.map(_.files).sum / n
    ctx.layer("streaming.bucketedlog.write_amp") =
      c.map(_.bytes).sum.toDouble / math.max(1L, c.map(_.batchBytes).sum)
    ctx.layer("streaming.bucketedlog.data_dirs") = StoreSnapshot.of(viewDir).dirs.size
    ctx.layer("streaming.bucketedlog.compactions") = c.count(_.removedDirs > 0)
  }
}
