package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 moved the Column↔Expression converters behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`);
  * the conventional extension-library pattern is a small shim inside
  * the `org.apache.spark.sql` namespace (as used by open-source Spark
  * extensions generally). Everything else in this repo stays in
  * `graft.*` and goes through this one seam.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom logical plan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame (for its size estimate). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** `localCheckpoint` that RETAINS the frame's physical partitioning
    * under AQE.
    *
    * `Dataset.checkpoint` stamps the new `LogicalRDD` with
    * `executedPlan.outputPartitioning` — but with AQE enabled the
    * executed plan is an `AdaptiveSparkPlanExec`, which reports
    * `UnknownPartitioning(0)` (it never overrides the default), so a
    * `repartition(k, col).localCheckpoint()` silently FORGETS its hash
    * layout and every downstream join re-exchanges it. This helper
    * checkpoints eagerly, then re-stamps the `LogicalRDD` with the
    * partitioning of the ADAPTIVE FINAL plan (fixed once executed).
    * Use `repartition(numPartitions, col)` upstream — an explicit
    * REPARTITION_BY_NUM is exempt from AQE coalescing, so the captured
    * partitioning is a plain `HashPartitioning` any later
    * EnsureRequirements can co-locate against. */
  def localCheckpointPartitioned(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{
      Partitioning, PartitioningCollection, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val cp = df.localCheckpoint() // eager: the final plan is now fixed
    val finalPlan = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case pc: PartitioningCollection => firstLeaf(pc.partitionings.head)
      case other => other
    }
    val part = firstLeaf(finalPlan.outputPartitioning)
    analyzed(cp) match {
      case l: LogicalRDD if !part.isInstanceOf[UnknownPartitioning] =>
        // second ctor list (session/originStats/originConstraints) is
        // inaccessible via copy; None stats just falls back to conf
        // defaults, which is fine for a materialized leaf
        ofRows(df.sparkSession, new LogicalRDD(l.output, l.rdd, part,
          l.outputOrdering, l.isStreaming, l.stream)(
          df.sparkSession.asInstanceOf[
            org.apache.spark.sql.classic.SparkSession], None, None))
      case _ => cp
    }
  }

  /** The engine's own bounded-heap top-k aggregate
    * (`CollectTopK`, the machinery behind pandas-on-Spark
    * nlargest/nsmallest — `private[sql]`, hence surfaced through this
    * shim): keeps `num` extremes of `e`'s type-ordering per group in
    * a BoundedPriorityQueue, merged map-side. `reverse = false`
    * keeps the LARGEST values (result array descending);
    * `reverse = true` the smallest (ascending). */
  def collectTopK(e: Column, num: Int, reverse: Boolean): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .CollectTopK(expression(e), num, reverse).toAggregateExpression())

  /** Free the executor blocks behind a `localCheckpoint`-ed frame.
    *
    * `Dataset.unpersist` routes through the cache manager, which has
    * no entry for checkpoint RDD blocks — it frees nothing, and an
    * iterative loop accumulates every round's blocks until the
    * ContextCleaner GCs them. The checkpointed data lives in the
    * `LogicalRDD` leaf's RDD; unpersist that directly. Only call once
    * the frame (and anything non-checkpointed derived from it) is
    * dead — the lineage is truncated, so the blocks are the data. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.foreach(_.unpersist(blocking = false))

  /** Block until every listener has seen every event posted so far
    * (the listener bus is `private[spark]`), so a listener added or
    * read right after an action sees exactly that action's events. */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Whether SQL equality on strings of type `t` is byte equality (the
    * collation is neither case- nor trim-insensitive). */
  def binaryEquality(t: org.apache.spark.sql.types.StringType): Boolean =
    t.supportsBinaryEquality
}
