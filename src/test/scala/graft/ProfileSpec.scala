package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The profiler's busy time is the union of the job intervals, and its
  * per-row routine reports jobs, a non-negative driver gap and the final
  * adaptive plan of a real contract row. */
class ProfileSpec extends AnyFunSuite {

  private def sum(iv: Seq[(Long, Long)]): Long = iv.map { case (a, b) => b - a }.sum

  test("unionMs: overlapping jobs count their shared time once; a plain sum does not") {
    // two concurrent 60 ms jobs overlapping by 40 ms inside a 100 ms run
    val iv = Seq((0L, 60L), (20L, 80L))
    assert(Profile.unionMs(iv, 0L, 100L) === 80L)
    assert(sum(iv) === 120L) // the sum-based gap would be 100 - 120 = -20
    assert(100L - Profile.unionMs(iv, 0L, 100L) === 20L)
  }

  test("unionMs: a nested job adds nothing; disjoint jobs add up") {
    assert(Profile.unionMs(Seq((10L, 90L), (30L, 40L)), 0L, 100L) === 80L)
    assert(Profile.unionMs(Seq((50L, 70L), (0L, 10L), (20L, 30L)), 0L, 100L) === 40L)
    assert(Profile.unionMs(Seq((0L, 10L), (10L, 20L)), 0L, 100L) === 20L) // touching
    assert(Profile.unionMs(Seq.empty, 0L, 100L) === 0L)
  }

  test("unionMs clips every interval to the window") {
    assert(Profile.unionMs(Seq((-50L, 10L), (90L, 500L), (200L, 300L)), 0L, 100L) === 20L)
  }

  test("row on q01_sessionize reports jobs, busy <= wall and the final adaptive plan") {
    val r = Profile.row(GraftSpark.spark, "/root/testdata/sf0.001", "q01_sessionize")
    assert(r.jobs.nonEmpty)
    assert(r.busyMs <= r.wallMs)
    assert(r.gapMs >= 0)
    assert(r.plan.contains("isFinalPlan=true"), r.plan)
    assert(r.operators.nonEmpty)
    assert(Profile.render(r).contains("driver gap"))
  }
}
