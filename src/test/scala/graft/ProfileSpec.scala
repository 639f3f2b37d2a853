package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `Profile jobs` measures each run with its own listener: repeated
  * runs in one session count the same work, and no listener state
  * outlives a run. */
class ProfileSpec extends AnyFunSuite with SparkTestBase {

  test("jobs profile repeats exactly and leaves no open executions") {
    val Seq((_, fn)) = Bench.select(Seq("q01_"))
    val runs = Seq.fill(2)(Profile.jobs(spark)(Bench.timeOnce(spark, sf0001, fn)))
    runs.foreach { r =>
      assert(r.jobs > 0 && r.tasks > 0)
      assert(r.sites.map(_._2).sum == r.jobs)
      assert(r.openExecutions == 0)
    }
    assert(runs(0).jobs == runs(1).jobs)
    assert(runs(0).stages == runs(1).stages)
  }
}
