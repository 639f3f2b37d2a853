package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL MATERIALIZED AGGREGATE VIEW — classic IVM for
  * distributive aggregates: a `GROUP BY` kept current under a fact
  * stream by folding per-batch PARTIAL aggregates into per-group
  * stored state, never re-aggregating the base. The commit machinery
  * is [[BucketedLog]]'s (one machine, shared with [[SnapshotStore]]);
  * this layer supplies only the additive merge.
  *
  * == Contract ==
  *
  * State = one row per group: the group columns, a live-row count,
  * and one LONG sum per measure. Measures must be integer-valued
  * per-row expressions (e.g. monetary cents via
  * `round(price * 100).cast("long")`): LONG addition is associative
  * and commutative, so the folded state is EXACTLY the one-shot
  * aggregate for ANY split of the facts into batches, in any batch
  * order, at any parallelism — no float partial-sum drift, which is
  * precisely what makes an incrementally-maintained view trustworthy
  * (derived ratios like `avg = sum/cnt` are computed at read time).
  * With `signCol` (+1 insert / −1 retract), counts and sums subtract
  * exactly and a fully-retracted group leaves the state — the
  * standard delta-stream generalization; holistic aggregates
  * (min/max under retraction, quantiles) are out of scope by design —
  * maintain those with the sketch states (q176/q179/q180/q185),
  * which are mergeable for exactly this reason.
  *
  * == Why this shape at 100 TB ==
  *
  * A commit is ONE aggregation over the touched buckets' stored rows
  * ∪ the batch's signed fact rows: Spark's partial aggregate reduces
  * each map task's rows to ≤ one row per group BEFORE the one shuffle
  * (LONG sums are exact under any split), and only the buckets the
  * batch's groups hash to are read: O(|batch| + touched-bucket rows)
  * per commit, never O(fact history). The alternative — recomputing
  * the GROUP BY over the full fact table per refresh — is the
  * O(corpus)-per-batch term this engine eliminates everywhere else
  * (StreamingComponents r10, SnapshotStore r11).
  *
  * Reference anchor: the reference keeps no derived aggregates — every
  * read re-scans raw trades/orders
  * (`/root/reference/marketdb-core/src/main/scala/com/ergodicity/marketdb/core/MarketDb.scala:66-85`);
  * this operator is the materialized, incrementally-maintained form
  * of those scans' aggregations. */
final case class AggView(dir: String, groupCols: Seq[String],
    measures: Seq[(String, Column)], cntCol: String = "cnt",
    signCol: Option[String] = None, buckets: Int = 64,
    compactAfter: Int = 16, retain: Boolean = false) {

  private val log =
    BucketedLog(dir, groupCols, buckets, compactAfter, retain)

  private def sign: Column =
    signCol.map(col(_).cast("long")).getOrElse(lit(1L))

  private def viewCols: Seq[Column] =
    groupCols.map(col) ++ (cntCol +: measures.map(_._1)).map(col)

  /** The view of a fact set: one row per group ([[init]]'s seed). */
  private def partial(facts: DataFrame): DataFrame =
    facts.groupBy(groupCols.map(col): _*)
      .agg(sum(sign).cast("long").as(cntCol),
        measures.map { case (n, e) =>
          sum(sign * e).cast("long").as(n)
        }: _*)

  /** One view-shaped row per fact: its group columns, its sign as the
    * count and each measure times the sign (exact: measures are
    * integer-valued, so the per-row LONG cast loses nothing). */
  private def signed(facts: DataFrame): DataFrame =
    facts.select(groupCols.map(col) ++ (sign.as(cntCol) +:
      measures.map { case (n, e) => (sign * e).cast("long").as(n) }): _*)

  /** Re-fold stored group rows with a batch's signed rows — LONG sums,
    * exact. A group leaves the state only when its ENTIRE row is
    * zero (count and every measure): under out-of-order delivery a
    * group can transiently sit at count 0 with nonzero sums (its
    * retraction landed, one of its inserts is still in flight —
    * retract(3)+insert(5) before insert(3) reads (0, +2)), and
    * dropping on count alone would lose the pending sums
    * (`BucketedLogPropertySpec` found exactly this). For a
    * CONSISTENT final multiset — every retraction mirrors an insert —
    * count 0 implies all-zero sums, so fully-retracted groups still
    * leave the state at quiescence. */
  private def refold(cur: Option[DataFrame], p: DataFrame): DataFrame = {
    val u = cur.map(_.unionByName(p)).getOrElse(p)
    u.groupBy(groupCols.map(col): _*)
      .agg(sum(col(cntCol)).cast("long").as(cntCol),
        measures.map { case (n, _) =>
          sum(col(n)).cast("long").as(n)
        }: _*)
      .where(measures.map { case (n, _) => col(n) =!= 0L }
        .foldLeft(col(cntCol) =!= 0L)(_ || _))
  }

  /** Seed version 0 (pass `facts.where(lit(false))` for an empty
    * view; a non-empty seed is the view of those facts). */
  def init(seed: DataFrame): Unit =
    log.init(partial(seed).select(viewCols: _*))

  /** Fold one fact batch into the view. `batchId` must be monotone
    * (the streaming engine's) — it names the version. */
  def applyBatch(facts: DataFrame, batchId: Long): Unit =
    log.applyBatch(signed(facts), batchId) { (cur, rows) =>
      refold(cur, rows).select(viewCols: _*)
    }

  /** The current view: group columns + count + measure sums.
    *
    * Under out-of-order delivery a NON-quiescent view can surface
    * transient rows with `cnt = 0` and nonzero sums (a retraction
    * landed before its mirrored insert — see [[refold]]); consumers
    * deriving read-time ratios must guard the division
    * (`sum / nullif(cnt, 0)`). At quiescence of a consistent delta
    * stream, `cnt = 0` rows have left the state. */
  def read(spark: SparkSession): DataFrame =
    log.read(spark).select(viewCols: _*)

  /** The view AS OF `version` (requires `retain = true`). Below an
    * [[evolveMeasures]] commit the log's versioned anchor serves the
    * PRE-evolution column set — the projection adapts. */
  def readAt(spark: SparkSession, version: Long): DataFrame = {
    val state = log.readAt(spark, version)
    val have = state.columns.toSet
    state.select((groupCols ++ (cntCol +: measures.map(_._1)))
      .filter(have).map(col): _*)
  }

  /** ADD-MEASURE evolution: re-anchor the stored schema with the new
    * measure sums (LONG) and return the evolved view — use the
    * RETURNED instance afterwards. Pre-evolution group rows read back
    * with the new sums NULL (never observed), and [[refold]]'s
    * `sum` skips nulls, so a group's new-measure sum is exactly the
    * fold of post-evolution facts — identical to the one-shot
    * aggregate over a union-schema fact set where pre-evolution facts
    * carry null for the new measure's inputs. Time-travel below the
    * evolution still serves the old column set. */
  def evolveMeasures(spark: SparkSession,
      add: Seq[(String, Column)]): AggView = {
    log.evolveSchema(spark, add.map { case (n, _) => (n, "long") })
    copy(measures = measures ++ add)
  }
}
