package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** JobProfile's stage-skew predicate: a stage is skewed when one task
  * ran for at least 80% of the stage's wall time. */
class JobProfileSpec extends AnyFunSuite {

  test("skewed: one task at >= 80% of the stage wall, including a one-task stage") {
    assert(JobProfile.skewed(1000L, Seq(50L, 800L, 40L)))
    assert(JobProfile.skewed(1000L, Seq(990L)))
    // balanced tasks, or a straggler just under the bar
    assert(!JobProfile.skewed(1000L, Seq(300L, 310L, 290L, 305L)))
    assert(!JobProfile.skewed(1000L, Seq(799L, 100L)))
    // no tasks recorded, or no wall time: nothing to attribute
    assert(!JobProfile.skewed(1000L, Seq.empty))
    assert(!JobProfile.skewed(0L, Seq(5L)))
  }
}
