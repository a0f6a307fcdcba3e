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

  test("each job names the graft.* call site of its SQL execution") {
    JobProfile.graftFrame("org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "graft.sources.GraftTable$.metadataMatchCount(GraftTable.scala:873)\n" +
      "graft.sources.IndexServing$.matchSet(IndexServing.scala:80)") shouldBe
      Some("graft.sources.GraftTable$.metadataMatchCount(GraftTable.scala:873)")
    JobProfile.graftFrame("org.apache.spark.rdd.RDD.collect(RDD.scala:1)") shouldBe None
    // end to end: an AQE shuffle (query-stage jobs run on other threads)
    // started from this spec still names this spec's frame
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val log = new JobProfile.JobLog
    org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(log)
    try {
      spark.range(0, 1000).groupBy(org.apache.spark.sql.functions.col("id") % 7).count()
        .collect().length shouldBe 7
      org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
    } finally sc.removeSparkListener(log)
    val jobs = log.lock.synchronized(log.jobs.values.toVector)
    jobs.size should be >= 2 // the shuffle stage's job and the result job
    jobs.foreach(_.site should startWith("graft.JobProfileSpec"))
  }
}
