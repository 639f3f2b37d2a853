package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.Bridge

import graft.{Bench, GraftSession, Verify}

/** Investigate catalog queries under the session Verify and Bench use:
  * `Profile <mode> <sfDir> <queryPrefix>... [--out=<dir>] [--explain]`
  * (no prefix = the whole catalog). Modes:
  *  - `dump`: Verify's parquet results + oracle_sql.json into `--out`,
  *    for `tools/check_oracle.py <out> <sfDir>`;
  *  - `time`: Bench's warm-up, then its three timed passes per query
  *    (`--explain` also prints the executed plan);
  *  - `explain`: `explain("formatted")` per query to `<out>/<name>.txt`;
  *  - `audit`: physical-plan properties per query — parquet filter
  *    pushdown, read width, join strategies, exchanges, codegen;
  *  - `jobs`: Bench's warm-up, then one pass per query with its Spark
  *    jobs, stages, tasks and task time, and job time by call site.
  *    Counts are deterministic for a fixed plan where wall time is not,
  *    so they show structural changes through box noise. */
object Profile {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    val usage = "usage: Profile dump|time|explain|audit|jobs <sfDir> " +
      "<queryPrefix>... [--out=<dir>] [--explain]"
    require(pos.size >= 2, usage)
    val Seq(mode, sfDir) = pos.take(2)
    val picked = Bench.select(pos.drop(2))
    lazy val out = flags.collectFirst {
      case f if f.startsWith("--out=") => f.stripPrefix("--out=")
    }.getOrElse(sys.error(s"$mode needs --out=<dir>"))
    val spark = GraftSession.local()
    try mode match {
      case "dump" => Verify.dump(spark, sfDir, out, picked.map(_._1))
      case "time" =>
        Bench.warmUp(spark, sfDir, picked)
        picked.foreach { case (name, fn) =>
          val passes = Seq.fill(3)(Bench.timeOnce(spark, sfDir, fn))
          println(f"[time] $name%-28s best=${passes.min}%.3f s passes=" +
            passes.map(p => f"$p%.3f").mkString(","))
          if (flags.contains("--explain"))
            println(fn(spark, sfDir).queryExecution.executedPlan.toString.take(8000))
        }
      case "explain" =>
        new java.io.File(out).mkdirs()
        picked.foreach { case (name, fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution
              .explainString(ExplainMode.fromString("formatted"))
            Files.writeString(Paths.get(s"$out/$name.txt"), plan)
            println(s"[explain] wrote $out/$name.txt")
          } catch { case e: Throwable => println(s"[explain] $name ERROR ${e.getMessage}") }
        }
      case "audit" => picked.foreach { case (name, fn) =>
        try println(f"[audit] $name%-22s ${audit(fn(spark, sfDir))}")
        catch { case e: Throwable => println(s"[audit] $name ERROR ${String.valueOf(e.getMessage).take(80)}") }
      }
      case "jobs" =>
        Bench.warmUp(spark, sfDir, picked)
        picked.foreach { case (name, fn) =>
          val r = jobs(spark)(Bench.timeOnce(spark, sfDir, fn))
          println(f"[jobs] $name%-28s wall=${r.wallS}%7.2f jobs=${r.jobs}%-4d " +
            f"stages=${r.stages}%-4d tasks=${r.tasks}%-6d " +
            f"taskRun=${r.taskRunS}%8.2f s taskCpu=${r.taskCpuS}%8.2f s")
          r.sites.foreach { case (site, n, secs) =>
            println(f"[jobs]   $secs%7.2f s  n=$n%-4d $site")
          }
        }
      case _ => sys.error(usage)
    } finally spark.stop()
  }

  /** Runs the frame's adaptive plan to completion so the final runtime
    * plan (codegen stages, reused exchanges, AQE join swaps) is what
    * gets counted. */
  private def audit(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.execute().count()
    // keep only the AQE final plan (the string repeats the initial
    // plan below it); codegen stages appear as "*(n)" prefixes
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    def count(p: String) = p.r.findAllIn(plan).length
    val pushed = count("PushedFilters: \\[[^\\]]*[A-Za-z]")
    val reused = count("ReusedExchange")
    val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
    val cols = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
      .map(_.group(1).count(_ == ':')).mkString("/")
    f"scans=${count("Scan parquet")} pushed=$pushed cols=$cols%-12s " +
      s"bhj=${count("BroadcastHashJoin")} smj=${count("SortMergeJoin")} " +
      s"shj=${count("ShuffledHashJoin")} exchange=${count("Exchange") - reused} " +
      s"reused=$reused codegen=$codegen"
  }

  /** Spark work of one measured run: job/stage/task counts, summed task
    * run and CPU time, job time per call site `(site, jobs, seconds)`
    * slowest first, and the SQL executions still open when it ended. */
  final case class JobsReport(wallS: Double, jobs: Int, stages: Int,
      tasks: Int, taskRunS: Double, taskCpuS: Double,
      sites: Seq[(String, Int, Double)], openExecutions: Int)

  /** Runs `timed` (which returns its own wall seconds) under a fresh
    * listener that is removed afterwards. */
  def jobs(spark: SparkSession)(timed: => Double): JobsReport = {
    Bridge.drainListeners(spark) // earlier actions' events stay out
    val l = new JobsListener
    spark.sparkContext.addSparkListener(l)
    try {
      val wallS = timed
      Bridge.drainListeners(spark)
      l.report(wallS)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private final class JobsListener extends SparkListener {
    private val jobs, stages, tasks = new AtomicInteger
    private val runMs, cpuNs = new AtomicLong
    // executionId -> call site of the SQL action that owns it, so AQE
    // materialization sub-jobs, whose stages carry no graft frame,
    // attribute to that action; evicted when the execution ends
    private val execSite = new ConcurrentHashMap[Long, String]
    private val started = new ConcurrentHashMap[Int, (Long, String)]
    private val ended = new ConcurrentLinkedQueue[(String, Double)]

    /** First graft frame of a call stack outside this tool and Bench's
      * timing loop: the operator method that triggered the action. */
    private def graftFrame(stack: String): Option[String] =
      stack.linesIterator.map(_.trim).find(l => l.startsWith("graft.") &&
        !l.startsWith("graft.tools.Profile") && !l.startsWith("graft.Bench"))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        execSite.put(st.executionId, graftFrame(Option(st.details).getOrElse(""))
          .getOrElse(st.description.linesIterator.nextOption().getOrElse("?")))
      case en: SparkListenerSQLExecutionEnd => execSite.remove(en.executionId)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val site = e.stageInfos.headOption.flatMap(s => graftFrame(s.details))
        .orElse(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(id => Option(execSite.get(id.toLong)).getOrElse(s"exec-$id")))
        .getOrElse("?")
      started.put(e.jobId, (e.time, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(started.remove(e.jobId)).foreach { case (t0, site) =>
        ended.add(site -> (e.time - t0) / 1e3)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
      }
    }

    def report(wallS: Double): JobsReport = {
      val sites = ended.asScala.toSeq.groupBy(_._1).toSeq
        .map { case (site, js) => (site, js.size, js.map(_._2).sum) }
        .sortBy(-_._3)
      JobsReport(wallS, jobs.get, stages.get, tasks.get, runMs.get / 1e3,
        cpuNs.get / 1e9, sites, execSite.size)
    }
  }
}
