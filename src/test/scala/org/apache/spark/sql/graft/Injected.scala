package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** What a set of session extensions injects, read from the
  * `private[sql]` builders Spark itself calls when it builds a
  * session's planner and optimizer. */
object Injected {
  def plannerStrategies(ext: SparkSessionExtensions, spark: SparkSession): Seq[SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  def optimizerRules(ext: SparkSessionExtensions, spark: SparkSession): Seq[Rule[LogicalPlan]] =
    ext.buildOptimizerRules(spark)
}
