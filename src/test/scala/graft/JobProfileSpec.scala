package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** JobProfile's job wall is the union of job intervals, so concurrent
  * jobs cannot push the driver gap (wall − job wall) below zero.
  */
class JobProfileSpec extends AnyFunSuite with Matchers {
  test("covered job time is the union of intervals, clipped to the window") {
    // two overlapping concurrent jobs and a disjoint one: 0-60 ∪ 80-100
    JobProfile.covered(Seq((0L, 50L), (10L, 60L), (80L, 100L)), 0L, 100L) shouldBe 80L
    // nested and duplicate intervals count once
    JobProfile.covered(Seq((0L, 100L), (20L, 30L), (20L, 30L)), 0L, 100L) shouldBe 100L
    // clipped to the measured window; unfinished (end = 0) jobs ignored
    JobProfile.covered(Seq((-50L, 20L), (90L, 150L), (40L, 0L)), 0L, 100L) shouldBe 30L
    // the sum of walls here is 150 ms in a 100 ms window; the union is not
    val walls = Seq((0L, 100L), (0L, 50L))
    walls.map { case (s, e) => e - s }.sum shouldBe 150L
    JobProfile.covered(walls, 0L, 100L) should be <= 100L
  }
}
