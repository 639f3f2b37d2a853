package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, result: String, traceOut: String)

/** What a workload needs from the run. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val outcome = new Outcome
  val report = new Report
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def dir(rel: String): String = new File(opts.work, rel).getAbsolutePath

  def delete(rel: String): Unit = Files.delete(new File(dir(rel)))

  /** Runs `op` as one attempted operation; an exception fails it. */
  def op[T](what: String)(body: => T): Option[T] = {
    outcome.attempt()
    try Some(body)
    catch { case e: Exception =>
      outcome.fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      None
    }
  }
}

/** One benchmark workload. The run calls [[setup]] [[Main.SetupReps]]
  * times (the last one stays), then [[warmup]], [[timed]] and
  * [[verify]]. */
trait Workload {
  /** Generate the inputs and load them. `rep` numbers the set-up. */
  def setup(rep: Int): Unit
  /** Remove what the previous [[setup]] made. */
  def teardown(): Unit
  /** Untimed requests that fill caches and compile code before timing. */
  def warmup(): Unit
  /** Closed loop of requests until `deadlineNs`. */
  def timed(deadlineNs: Long): Unit
  /** Compare every recorded answer with an independent computation. */
  def verify(): Unit
  /** End-to-end metrics and the workload's named metric lines. */
  def report(): Unit
  /** Per-layer metrics from the trace of the timed phase. */
  def layers(): Unit
}

object Main {
  val SetupReps = 3

  /** Per-layer metrics, in output order: every traced run reports all of
    * them; a layer a workload bypasses reads 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "marketdbapi.open_ms" -> "ms",
    "sources.files_read" -> "count",
    "sources.partitions_read" -> "count",
    "sources.bytes_read" -> "bytes",
    "sources.rows_examined_per_row" -> "ratio",
    "operators.scan_exec_ms" -> "ms",
    "operators.merge_exec_ms" -> "ms",
    "operators.asof_ms" -> "ms",
    "operators.jobs" -> "count",
    "operators.tasks" -> "count",
    "operators.task_cpu_ms" -> "ms",
    "operators.sched_delay_ms" -> "ms",
    "operators.shuffle_bytes" -> "bytes",
    "operators.spill_bytes" -> "bytes",
    "plans.kway_share" -> "ratio",
    "plans.merge_tasks" -> "count",
    "functions.fold_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.list_ms" -> "ms",
    "streaming.wal_ms" -> "ms",
    "streaming.rows_kept_ratio" -> "ratio",
    "streaming.files_per_batch" -> "count",
    "streaming.bucketedlog.commit_ms" -> "ms",
    "streaming.bucketedlog.jobs_per_commit" -> "count",
    "streaming.bucketedlog.tasks_per_commit" -> "count",
    "streaming.bucketedlog.buckets_touched" -> "count",
    "streaming.bucketedlog.files_written" -> "count",
    "streaming.bucketedlog.write_amp" -> "ratio",
    "streaming.bucketedlog.data_dirs" -> "count",
    "streaming.bucketedlog.compactions" -> "count")

  val Workloads: Seq[String] = Seq("merge_replay", "tick_ingest")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad arguments: ${a.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("result"), m.getOrElse("trace-out", ""))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "seconds must be positive")
    o
  }

  def session(work: String): SparkSession = {
    // two cores leave the JVM's own threads (GC, compiler, stream
    // polling) room on a small shared host
    val cores = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    new File(opts.work).mkdirs()
    val spark = session(opts.work)
    val sessionS = (System.currentTimeMillis - processStartMs) / 1000.0
    val tracer = new Tracer(spark, opts.trace)
    val ctx = new Ctx(spark, opts, tracer)
    val w: Workload = opts.workload match {
      case "merge_replay" => new MergeReplayWorkload(ctx)
      case "tick_ingest" => new TickIngestWorkload(ctx)
    }
    val setups = (0 until SetupReps).map { i =>
      if (i > 0) w.teardown()
      val t0 = System.nanoTime
      w.setup(i)
      (System.nanoTime - t0) / 1e9
    }
    val tw = System.nanoTime
    w.warmup()
    val warmS = (System.nanoTime - tw) / 1e9
    // process start to the first timed request, with the median set-up
    val setupS = sessionS + Stats.median(setups) + warmS
    tracer.start()
    val t0 = System.nanoTime
    w.timed(t0 + opts.seconds * 1000000000L)
    tracer.stop()
    val tv = System.nanoTime
    w.verify()
    val verifyS = (System.nanoTime - tv) / 1e9
    val r = ctx.report
    r.line(f"[${opts.workload}] setup_s = $setupS%.3f s (session start $sessionS%.3f s + median of " +
      setups.map(x => f"$x%.3f").mkString("[", ", ", "]") + f" s + warm-up $warmS%.3f s)")
    w.report()
    r.line(f"[${opts.workload}] phases: timed ${(tv - t0) / 1e9}%.1f s, verify $verifyS%.1f s")
    val rss = peakRssMb()
    val attempted = math.max(1L, ctx.outcome.attempted)
    r.line(f"[${opts.workload}] peak_rss_mb = $rss%.1f MB")
    r.line(f"[${opts.workload}] error_rate = ${ctx.outcome.failed.toDouble / attempted}%.4f " +
      s"(${ctx.outcome.failed} failed of ${ctx.outcome.attempted} operations)")
    ctx.outcome.failures.foreach(f => r.line(s"[${opts.workload}] FAILED $f"))
    val e2e = new Report
    e2e.metric("setup_s", setupS, "s")
    Seq("read_p50_ms" -> "ms", "fresh_p50_ms" -> "ms",
        "write_rows_per_s" -> "rows/s", "space_amp" -> "ratio").foreach { case (n, u) =>
      e2e.metric(n, r.get(n).getOrElse(throw new IllegalStateException(s"$n not measured")), u)
    }
    e2e.metric("peak_rss_mb", rss, "MB")
    val correct = ctx.outcome.failed == 0
    JFiles.write(Paths.get(opts.result + ".e2e"), e2e.json(correct, ctx.outcome).getBytes("UTF-8"))
    val out = if (!opts.trace) e2e else {
      val l = new Report
      w.layers()
      LayerMetrics.foreach { case (n, u) => l.metric(n, ctx.layer.getOrElse(n, 0.0), u) }
      r.line(s"[${opts.workload}] self time by span (ms, timed phase):")
      r.line(f"  ${"layer"}%-26s ${"span"}%-14s ${"n"}%6s ${"total"}%10s ${"self"}%10s")
      tracer.selfTimes.foreach { case (ly, n, c, tot, self) =>
        r.line(f"  $ly%-26s $n%-14s $c%6d $tot%10.1f $self%10.1f")
      }
      LayerMetrics.foreach { case (n, u) => r.line(f"  $n%-42s ${l.get(n).get}%14.4f $u") }
      if (opts.traceOut.nonEmpty) writeSpans(opts.traceOut, tracer)
      l
    }
    r.lines.foreach(println)
    JFiles.write(Paths.get(opts.result), out.json(correct, ctx.outcome).getBytes("UTF-8"))
    spark.stop()
    System.exit(0)
  }

  private def writeSpans(path: String, t: Tracer): Unit = {
    val body = t.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "req" -> s.req.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }.mkString("[\n", ",\n", "\n]\n")
    JFiles.write(Paths.get(path), body.getBytes("UTF-8"))
  }
}
