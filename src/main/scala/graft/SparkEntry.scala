package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog._
import graft.catalog.Shared.{t, tbl}
import graft.operators.SeriesScan

/** Driver contract (SURVEY.md §7): one catalog [[Gate]] per implemented
  * operator from SURVEY.md §2 plus the corpus-pipeline operators, each
  * with an ANSI-SQL oracle the driver runs in DuckDB over the same
  * parquet tables. Column names are aliased identically on both sides
  * (the driver's compare hashes values under sorted column names). The
  * gates live in `graft.catalog`, one object per family; `queries` and
  * `oracleSql` are views of them by name.
  */
object SparkEntry {

  /** Flagship query (reference README "Trades count for given interval",
    * `marketdb-iteratee/.../MarketIteratees.scala:7-21` counter fold):
    * count of one series' events in a time range at sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val ev = tbl(spark, "/root/testdata/sf0.001", "events")
    SeriesScan
      .scan(ev, Map("event_type" -> "click"), "ts",
        t("2024-01-01T00:00:00Z"), t("2024-01-31T00:00:00Z"))
      .agg(count("*").as("trades_count"))
  }

  /** Every catalog gate, family by family. */
  def gates: Seq[Gate] =
    MarketDb.gates ++ Relational.gates ++ Graph.gates ++ TextDedup.gates ++
      Sketches.gates ++ Streams.gates ++ SearchStores.gates

  /** Pin `spark.sql.shuffle.partitions` around `body`, restoring the
    * prior value. The streaming replay gates run under it: every
    * stateful stage spawns one state-store task PER shuffle partition
    * PER MICRO-BATCH, so a 2-batch replay at 32 partitions pays ~10×
    * the task-launch overhead of the 4-partition plan for identical
    * results (the whole streaming catalog is exact and certified
    * bit-identical at 4 and 32 partitions). This is stream-rate
    * sizing, not test tuning: state partitions should scale with
    * per-batch volume, and these gates replay bounded batches. On a
    * production stream, size it to rate — the operators themselves
    * take no partition-count assumption. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }

  /** Each gate's plan by name; the `streaming` gates (AvailableNow
    * replays with checkpointed state) run under
    * [[withStatePartitions]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { g =>
      g.name -> (if (g.streaming)
        ((s: SparkSession, dir: String) =>
          withStatePartitions(s, 4)(g.build(s, dir)))
      else g.build)
    }.toMap

  /** Each gate's DuckDB oracle SQL by name. */
  def oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracle).toMap
}
