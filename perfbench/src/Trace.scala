package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is 0 for a request's root span;
  * all spans of one request share `req`. */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark task counters summed over the jobs of one job group. */
final class TaskCounts {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def +=(o: TaskCounts): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
    schedDelayMs += o.schedDelayMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
}

/** Scan-node statistics of one file scan in a finished query. */
final case class ScanStats(roots: Seq[String], files: Long, partitions: Long,
    bytes: Long, rows: Long, scanMs: Long)

/** A finished Dataset action, as the query-execution listener saw it. */
final case class QueryStats(scans: Seq[ScanStats], kway: Boolean)

private object PlanWalk extends AdaptiveSparkPlanHelper

/** The benchmark's tracing: an in-memory span recorder plus Spark's
  * public listeners, attributed through a job group set per span.
  *
  * Off (`on = false`), `span` only runs its body and no listener is
  * registered, so end-to-end numbers carry no tracing cost. On, every
  * span sets the thread's job group to `pb-<span id>`, and the Spark
  * listener files each job's task metrics under that group. Streaming
  * jobs run under the group their query sets (its run id). The
  * query-execution listener keeps each finished action's scan nodes;
  * workloads pick the scans of their tables by path. Only the timed
  * phase is traced: between [[start]] and [[stop]]. All listeners are
  * removed by [[stop]]. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"
  private val ids = new AtomicLong(0L)
  private val spans0 = new ConcurrentLinkedQueue[Span]()
  // (span id, request id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val counts = new ConcurrentHashMap[String, TaskCounts]()
  private val queries0 = new ConcurrentLinkedQueue[QueryStats]()
  private val progress0 = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val ended = ConcurrentHashMap.newKeySet[String]()
  private val marks = ConcurrentHashMap.newKeySet[String]()
  // spans are recorded between start() and stop() only: set-up, warm-up
  // and checks stay out of the trace
  @volatile private var active = false
  @volatile private var listening = false

  /** True while the timed phase is traced. */
  def tracing: Boolean = active

  private def countsOf(g: String): TaskCounts =
    counts.computeIfAbsent(g, _ => new TaskCounts)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val g = p.flatMap(x => Option(x.getProperty(GroupKey))).getOrElse("")
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val c = countsOf(g)
      c.synchronized { c.jobs += 1 }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.get(e.jobId)).foreach(ended.add)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobGroup.get(j)))
        .getOrElse("")
      val c = countsOf(g)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          val getting =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - getting)
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      if (plan.output.exists(a => a.name.startsWith("pb_mark_")))
        plan.output.foreach(a => marks.add(a.name))
      val scans = PlanWalk.collectWithSubqueries(plan) {
        case s: FileSourceScanExec =>
          def m(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
          ScanStats(s.relation.location.rootPaths.map(_.toString),
            m("numFiles"), m("numPartitions"), m("filesSize"), m("numOutputRows"), m("scanTime"))
      }
      val kway = PlanWalk.find(plan)(_.isInstanceOf[graft.plans.SortedMergeUnionExec]).isDefined
      queries0.add(QueryStats(scans, kway))
    }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress0.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      ended.add("stream-" + e.runId)
  }

  def start(): Unit = if (on) {
    sc.addSparkListener(taskListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    listening = true
    // events of the set-up may still be queued: let them pass, then forget them
    drain()
    counts.clear(); queries0.clear(); progress0.clear()
    active = true
  }

  /** Waits until the listeners have seen every event posted so far, then
    * removes them. */
  def stop(): Unit = if (on) {
    active = false
    drain()
    sc.removeSparkListener(taskListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    listening = false
  }

  /** Listener events arrive asynchronously and in order: run a marker
    * action and wait until both listeners have seen it. */
  def drain(): Unit = if (on) {
    val mark = "pb_mark_" + ids.incrementAndGet()
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, mark)
    try spark.range(1).toDF(mark).collect()
    finally sc.setLocalProperty(GroupKey, prev)
    waitFor(ended.contains(mark) && marks.contains(mark), s"listener marker $mark")
  }

  /** Waits for the terminated event of a stopped streaming query, so
    * that all its progress events have been seen. */
  def awaitStreamEnd(runId: java.util.UUID): Unit =
    if (listening) waitFor(ended.contains("stream-" + runId), s"end of stream $runId")

  private def waitFor(cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime + 30L * 1000000000L
    while (!cond) {
      if (System.nanoTime > deadline) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  /** Root span of one request. */
  def request[T](name: String)(body: => T): T =
    if (!active) body else run("request", name, root = true)(body)

  /** Span around one call into `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body else run(layer, name, root = false)(body)

  private def run[T](layer: String, name: String, root: Boolean)(body: => T): T = {
    val (parent, req0) = current.get()
    val id = ids.incrementAndGet()
    val req = if (root || req0 == 0L) id else req0
    val prevGroup = sc.getLocalProperty(GroupKey)
    current.set((id, req))
    sc.setLocalProperty(GroupKey, "pb-" + id)
    val t0 = System.nanoTime
    try body
    finally {
      spans0.add(Span(id, if (root) 0L else parent, req, layer, name, t0, System.nanoTime))
      sc.setLocalProperty(GroupKey, prevGroup)
      current.set((parent, req0))
    }
  }

  def spans: Seq[Span] = spans0.asScala.toSeq.sortBy(_.id)
  def queries: Seq[QueryStats] = queries0.asScala.toSeq
  def progress: Seq[StreamingQueryProgress] = progress0.asScala.toSeq

  /** Task counters of the given spans' own jobs (not their children's). */
  def countsFor(ss: Seq[Span]): TaskCounts = {
    val t = new TaskCounts
    ss.foreach(s => Option(counts.get("pb-" + s.id)).foreach(c => c.synchronized(t += c)))
    t
  }

  /** Task counters of jobs run under a group set outside the spans
    * (a streaming query's run id). */
  def countsForGroup(g: String): TaskCounts = {
    val t = new TaskCounts
    Option(counts.get(g)).foreach(c => c.synchronized(t += c))
    t
  }

  /** Spans of the given spans and all their descendants. */
  def subtree(roots: Seq[Span]): Seq[Span] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[Span]
    def walk(s: Span): Unit = { out += s; kids.getOrElse(s.id, Nil).foreach(walk) }
    roots.foreach(walk)
    out.toSeq
  }

  /** Self time per (layer, span name): duration minus the part covered
    * by child spans. Children of one span run on its thread, so they do
    * not overlap and their durations add. */
  def selfTimes: Seq[(String, String, Int, Double, Double)] = {
    val all = spans
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(s => (s.layer, s.name)).toSeq.map { case ((l, n), ss) =>
      val total = ss.map(_.ms).sum
      val self = ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
      (l, n, ss.size, total, self)
    }.sortBy { case (l, n, _, _, _) => (l, n) }
  }
}
