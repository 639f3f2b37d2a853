package graft

import org.apache.spark.sql.SparkSession

/** The one session config graft's mains and test suites run under
  * (`SmokeLikeDriver` alone keeps a bare session), so the plans
  * `Verify` oracle-checks are the plans `Bench` times:
  * `local[cpus]` with `cpus` shuffle partitions, UTC session time,
  * AQE coalescing toward the advisory partition size, UI off, log
  * level WARN, and `GraftExtensions` installed, so a union under a
  * global sort plans the same way whatever ran before it. `cpus`
  * comes from `SPARK_GRAFT_CPUS` (default 4). */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cpus: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE: coalesce shuffle partitions toward the advisory size
      // instead of maximizing parallelism — avoids per-task scheduling
      // overhead dominating small-SF runs while staying correct at
      // scale (Spark performance-tuning guidance)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")

  def local(cpus: Int = cpus): SparkSession = builder(cpus).getOrCreate()
}
