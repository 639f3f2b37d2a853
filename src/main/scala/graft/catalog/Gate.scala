package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its Spark plan over a testdata dir, the DuckDB
  * SQL that must return the same rows over the same parquet tables, and
  * whether the plan replays a stream (AvailableNow micro-batches with
  * checkpointed state). */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String, streaming: Boolean = false)
