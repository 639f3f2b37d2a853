package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

/** Every catalog gate runs at sf0.001, gate names are unique, and a
  * gate's `streaming` flag says exactly whether it starts a streaming
  * query (the flag decides which gates run under pinned state
  * partitions). */
class QueriesSmokeSpec extends AnyFunSuite with SparkTestBase {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("gates: 263 with distinct names") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 263)
    assert(names.distinct.size == names.size,
      s"duplicate gate names: ${names.diff(names.distinct).distinct}")
  }

  private val queries = SparkEntry.queries

  SparkEntry.gates.sortBy(_.name).foreach { g =>
    test(s"${g.name} runs at sf0.001") {
      // QueryStartedEvent reaches session listeners synchronously,
      // before the query's start() returns
      val started = new AtomicInteger
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          started.incrementAndGet()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      try {
        val df = queries(g.name)(spark, sf0001)
        assert(df.columns.nonEmpty)
        df.count() // materialize; row counts may legitimately vary per query
      } finally spark.streams.removeListener(listener)
      assert(g.streaming == (started.get > 0),
        s"streaming = ${g.streaming}, but the gate started ${started.get} " +
          "streaming queries")
    }
  }
}
