package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    dump(spark, sfDir, outDir, SparkEntry.queries.keys.toSeq)
    spark.stop()
  }

  /** Each named query's result → `outDir/<name>` parquet (a query that
    * throws is reported and skipped), plus their oracle SQL →
    * `outDir/oracle_sql.json`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(names))
  }

  /** The oracle SQL of the named queries as one JSON object. */
  def oracleJson(names: Seq[String]): String = {
    val wanted = names.toSet
    SparkEntry.oracleSql.filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in hand-written SQL would otherwise
    * make the oracle checker's json.load fail and silently zero the
    * correctness gate. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
