package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.MarketDbApi

/** A trades series read: one (market, security), one interval. */
final case class ScanReq(market: String, security: String, fromMs: Long, toMs: Long)

/** Series reads and latency lines shared by the workloads. */
object Reads {
  /** Opens a lazy trades handle through `MarketDbApi`. */
  def open(ctx: Ctx, path: String, q: ScanReq): DataFrame =
    ctx.tracer.span("marketdbapi", "open") {
      MarketDbApi.trades(ctx.spark, path, q.market, q.security,
        new Timestamp(q.fromMs), new Timestamp(q.toMs)).toDF
    }

  /** Median and tail of latencies (ms) as named metric lines; returns
    * the median. */
  def latencyLines(ctx: Ctx, prefix: String, ms: Seq[Double]): Double = {
    val w = ctx.opts.workload
    val p50 = Stats.median(ms)
    val t = Stats.tail(ms)
    ctx.report.line(f"[$w] ${prefix}_p50_ms = $p50%.3f ms (n=${ms.size})")
    ctx.report.line(
      if (t.pct >= 50) f"[$w] ${prefix}_tail_ms = ${t.value}%.3f ms (p${t.pct}%.1f, n=${t.n})"
      else s"[$w] ${prefix}_tail_ms = n/a (n=${t.n}: no percentile at or above the median has ten samples beyond it)")
    p50
  }
}

/** Per-layer numbers shared by the workloads. */
object LayerCalc {
  /** Spark work of the given request spans (and their children), per request. */
  def operators(ctx: Ctx, roots: Seq[Span], extraGroups: Seq[String] = Nil): Unit = {
    val t = ctx.tracer
    val c = t.countsFor(t.subtree(roots))
    extraGroups.foreach(g => c += t.countsForGroup(g))
    val n = math.max(1, roots.size).toDouble
    ctx.layer("operators.jobs") = c.jobs / n
    ctx.layer("operators.tasks") = c.tasks / n
    ctx.layer("operators.task_cpu_ms") = c.cpuNs / 1e6 / n
    ctx.layer("operators.sched_delay_ms") = c.schedDelayMs / n
    ctx.layer("operators.shuffle_bytes") = c.shuffleBytes / n
    ctx.layer("operators.spill_bytes") = c.spillBytes / n
  }

  /** Scan-node numbers of the timed phase's scans of `tables`. */
  def sources(ctx: Ctx, tables: Seq[String], requests: Int,
      rowsReturned: Long): Unit = {
    val want = tables.map(t => new File(t).toURI.getPath.stripSuffix("/")).toSet
    val scans = ctx.tracer.queries.flatMap(_.scans)
      .filter(_.roots.exists(r => want.contains(new java.net.URI(r).getPath.stripSuffix("/"))))
    val n = math.max(1, requests).toDouble
    ctx.layer("sources.files_read") = scans.map(_.files).sum / n
    ctx.layer("sources.partitions_read") = scans.map(_.partitions).sum / n
    ctx.layer("sources.bytes_read") = scans.map(_.bytes).sum / n
    ctx.layer("sources.rows_examined_per_row") =
      scans.map(_.rows).sum.toDouble / math.max(1L, rowsReturned)
    ctx.layer("operators.scan_exec_ms") = scans.map(_.scanMs).sum / n
  }

  def meanMs(ss: Seq[Span]): Double = if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / ss.size
}
