package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Partitioned time-series table layout — the 100 TB answer to the
  * reference's row-key design.
  *
  * The reference's HBase row key `marketId ++ securityId ++ year ++
  * dayOfYear ++ minuteOfDay` (`marketdb-core/.../model/Trade.scala:22-30`)
  * exists to make a series+interval scan touch only the relevant byte
  * range. The Spark-native equivalent:
  *
  *  - directory partitioning `market=<m>/date=<d>` ([[SeriesLayout]])
  *    → partition pruning eliminates whole directories before any I/O
  *    (the `PartitionFilters` entry in `.explain`). A `market` predicate
  *    prunes `market=`; `SeriesScan.scan` compiles its time interval
  *    into a `date` range, as the reference compiled it into the key's
  *    `year ++ dayOfYear`, so an interval opens only its own `date=`
  *    directories;
  *  - within each file, rows sorted by (security, time) →
  *    parquet row-group min/max statistics prune pages for the
  *    security/time predicates (`PushedFilters`);
  *  - one opened handle sliced many ways is one scan: series cut from
  *    one `read` by an equality on `security` and merged or unioned
  *    are read as `security IN (...)` (`graft.plans.SharedSliceScan`),
  *    where the reference ran one row-key range scanner per series;
  *    open the table once per request to get this;
  *  - one file per (partition, bucket) via `repartition` keeps file
  *    count bounded at 1000-executor scale (no small-files explosion);
  *  - statistics-friendly: timestamps and dictionary-encoded strings,
  *    so min/max and dictionary filters both engage.
  */
object TimeSeriesTable {

  /** Write `df` as a partitioned, sorted time-series table.
    *
    * `repartition` hashes on the partition columns (plus a salt bucket
    * when `filesPerDate > 1`), so write parallelism scales with the
    * number of (market, date) partitions — one task per partition per
    * bucket, each emitting one file. A numeric-only `repartition(n,
    * cols)` would cap TOTAL parallelism at n, funnelling the whole
    * table through n tasks regardless of partition count. */
  def write(df: DataFrame, path: String, marketCol: String, timeCol: String,
      securityCol: String, filesPerDate: Int = 1): Unit = {
    require(filesPerDate > 0, "filesPerDate must be positive")
    val layout = SeriesLayout.table(marketCol, timeCol)
    val dated = layout.withDate(df)
    val partCols = layout.partitionCols.map(col)
    val (bucketed, shuffleCols) =
      if (filesPerDate == 1) (dated, partCols)
      else (dated.withColumn("__bucket",
        pmod(hash(col(securityCol)), lit(filesPerDate))),
        partCols :+ col("__bucket"))
    bucketed
      .repartition(shuffleCols: _*)
      .sortWithinPartitions(partCols ++ Seq(col(securityCol), col(timeCol)): _*)
      .drop("__bucket")
      .write
      .mode("overwrite")
      .partitionBy(layout.partitionCols: _*)
      .parquet(path)
  }

  /** Open the table. A `market` or `date` predicate applied on top of
    * this prunes partitions; `SeriesScan.scan` adds the `date` one for
    * its time interval.
    *
    * An open costs one listing plus one driver-side footer read, and no
    * Spark job: `spark.read.parquet` infers the data schema with a
    * one-task job that reads a single footer; here the same footer is
    * read on the driver (see [[DriverFooterParquet]]). Partition columns
    * and their types are still inferred from the paths, and a missing
    * path fails exactly as `spark.read.parquet(path)` does. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[DriverFooterParquet].getName).load(path)
}

/** Parquet whose schema inference reads, on the driver, the one footer
  * Spark's own inference (`ParquetUtils.inferSchema`) would read in a
  * job: `_common_metadata`, else `_metadata`, else the first data file
  * in path order, converted as `ParquetFileFormat.mergeSchemasInParallel`
  * converts it. Everything else — listing, partition inference, scan —
  * is `ParquetFileFormat`'s. Schema merging, an empty listing and an
  * unreadable footer go to Spark's inference, so their result or error
  * is unchanged. No schema is cached: each open reads the footer of the
  * files it listed. */
private[sources] final class DriverFooterParquet extends ParquetFileFormat {
  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    val leaves = files.sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val footer = summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
    footer match {
      case Some(f) if !new ParquetOptions(options, conf).mergeSchema =>
        try {
          val meta = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, state.newHadoopConfWithOptions(options)),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
          Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta), converter))
        } catch { case NonFatal(_) => super.inferSchema(spark, options, files) }
      case _ => super.inferSchema(spark, options, files)
    }
  }
}
