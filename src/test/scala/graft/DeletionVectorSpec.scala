package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** Merge-on-read deletes (deletion vectors). The scale claim under
  * test: a scattered key delete — the GDPR-erasure shape that under
  * copy-on-write rewrites nearly every bucket — commits O(|keys|)
  * bytes and rewrites NOTHING, while every read path (snapshot, point
  * lookup, stats-pruned scan, CDC, time travel) serves exactly the
  * state a COW delete would have produced. Version scoping is the
  * correctness heart: a DV deletes only from data older than itself,
  * so later re-inserts win, and any bucket rewrite materializes the
  * deletes it covers.
  */
class DeletionVectorSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def freshTable(prefix: String, n: Long = 1000, nbuckets: Int = 8): String = {
    val path = Files.createTempDirectory(prefix).toString + "/t"
    val base = spark.range(0, n).toDF("k")
      .withColumn("x", col("k") * 2)
      .withColumn("grp", (col("k") % 10).cast("int"))
    GraftTable.create(base, path, Seq("k"), nbuckets = nbuckets)
    path
  }

  private def dataFiles(path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path, "data")
    if (!java.nio.file.Files.exists(root)) Set.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).map(_.toString).toSet
      finally s.close()
    }
  }

  test("deleteMor removes the keys without touching a single data file") {
    val path = freshTable("graft_dv_basic")
    val filesBefore = dataFiles(path)
    val m0 = GraftTable.snapshot(path, 0).dirs
    GraftTable.deleteMor(spark, path, Seq(5L, 500L, 995L).toDF("k"))
    GraftTable.latestVersion(path) shouldBe 1
    // zero rewrite: same bucket→dir lines, same physical files
    GraftTable.snapshot(path, 1).dirs shouldBe m0
    dataFiles(path) shouldBe filesBefore
    GraftTable.snapshot(path, 1).dv.map(_._2) shouldBe Seq(1)
    val snap = GraftTable.read(spark, path)
    snap.count() shouldBe 997L
    snap.filter(col("k").isin(5L, 500L, 995L)).count() shouldBe 0L
  }

  test("version scoping: an upsert re-inserting a deleted key wins") {
    val path = freshTable("graft_dv_scope")
    GraftTable.deleteMor(spark, path, Seq(1L, 2L, 3L).toDF("k"))
    GraftTable.upsert(spark, path,
      Seq((2L, -7L, 0)).toDF("k", "x", "grp"))
    val snap = GraftTable.read(spark, path)
    snap.filter(col("k") === 2L).select("x").as[Long].collect() shouldBe Array(-7L)
    snap.filter(col("k").isin(1L, 3L)).count() shouldBe 0L
    snap.count() shouldBe 998L
    // the carried DV still deletes 1 and 3 from their untouched buckets
    GraftTable.snapshot(path, GraftTable.latestVersion(path)).dv should not be empty
  }

  test("a bucket rewrite materializes its deletes; compact folds every DV away") {
    val path = freshTable("graft_dv_compact")
    GraftTable.deleteMor(spark, path, Seq(10L, 11L, 12L).toDF("k"))
    GraftTable.deleteMor(spark, path, Seq(13L).toDF("k"))
    GraftTable.snapshot(path, 2).dv.map(_._2) shouldBe Seq(1, 2)
    val expected = GraftTable.read(spark, path).orderBy("k").collect()
    GraftTable.compact(spark, path)
    val v = GraftTable.latestVersion(path)
    GraftTable.snapshot(path, v).dv shouldBe empty
    GraftTable.read(spark, path).orderBy("k").collect() shouldBe expected
    // and the metadata count path is back
    GraftTable.countRows(path) shouldBe Some(996L)
  }

  test("countRows refuses the metadata answer while DVs are live") {
    val path = freshTable("graft_dv_count")
    GraftTable.countRows(path) shouldBe Some(1000L)
    // a DV may name keys that never existed — metadata would overcount
    GraftTable.deleteMor(spark, path, Seq(3L, 1_000_000L).toDF("k"))
    GraftTable.countRows(path) shouldBe None
    GraftTable.read(spark, path).count() shouldBe 999L
  }

  test("point lookups and stats-pruned scans apply the DV") {
    val path = freshTable("graft_dv_lookup")
    GraftTable.deleteMor(spark, path, Seq(42L).toDF("k"))
    val b = TestSpark.bucketOf(GraftTable.snapshotAt(path, 1), 42L)
    GraftTable.readBuckets(spark, path, 1, Set(b))
      .filter(col("k") === 42L).count() shouldBe 0L
    // the DSv1 point-lookup path (full-key equality through format("graft"))
    val rel = spark.read.format("graft").load(path)
    rel.filter(col("k") === 42L).count() shouldBe 0L
    rel.filter(col("k") === 41L).count() shouldBe 1L
    // the stats-pruned path (range predicate) excludes the deleted key too
    import org.apache.spark.sql.sources.LessThan
    GraftTable.readStatsPruned(spark, GraftTable.snapshotAt(path, 1), Seq(LessThan("k", 100L))) match {
      case Some(pruned) =>
        pruned.filter(col("k") < 100L).count() shouldBe 99L
      case None => // nothing skippable at this layout: the plain path covered it
        rel.filter(col("k") < 100L).count() shouldBe 99L
    }
  }

  test("deleteWhereMor: stats-pruned predicate delete, no rewrite, exact count") {
    val path = freshTable("graft_dv_where")
    val filesBefore = dataFiles(path)
    GraftTable.deleteWhereMor(spark, path, col("grp") === 7) shouldBe 100L
    dataFiles(path) shouldBe filesBefore
    GraftTable.read(spark, path).filter(col("grp") === 7).count() shouldBe 0L
    GraftTable.read(spark, path).count() shouldBe 900L
    // DV-aware match scan: the same statement again finds nothing
    GraftTable.deleteWhereMor(spark, path, col("grp") === 7) shouldBe 0L
    // and a zero-match statement commits no version
    val v = GraftTable.latestVersion(path)
    GraftTable.deleteWhereMor(spark, path, col("x") > 10_000_000L) shouldBe 0L
    GraftTable.latestVersion(path) shouldBe v
  }

  test("change feed: MOR deletes surface with _deleted=true before-images") {
    val path = freshTable("graft_dv_cdc", n = 100)
    GraftTable.deleteMor(spark, path, Seq(1L, 2L, 3L).toDF("k"))
    val ch = GraftTable.changes(spark, path, 0, 1)
    val dels = ch.filter(col("_deleted")).select("k", "x")
      .as[(Long, Long)].collect().sortBy(_._1)
    dels shouldBe Array((1L, 2L), (2L, 4L), (3L, 6L))
    ch.filter(!col("_deleted")).count() shouldBe 0L
  }

  test("change feed: delete-then-reinsert in the range reports the upsert, not a delete") {
    val path = freshTable("graft_dv_cdc2", n = 100)
    GraftTable.deleteMor(spark, path, Seq(1L, 2L, 3L).toDF("k"))          // v1
    GraftTable.upsert(spark, path, Seq((2L, -7L, 0)).toDF("k", "x", "grp")) // v2
    val ch = GraftTable.changes(spark, path, 0, 2)
    val dels = ch.filter(col("_deleted")).select("k").as[Long].collect().sorted
    dels shouldBe Array(1L, 3L)
    val ups = ch.filter(!col("_deleted")).select("k", "x").as[(Long, Long)].collect()
    ups should contain ((2L, -7L))
    ups.map(_._1) should not contain 1L
    // incremental tail: (1, 2] sees only the re-insert
    val tail = GraftTable.changes(spark, path, 1, 2)
    tail.filter(col("_deleted")).count() shouldBe 0L
    tail.filter(!col("_deleted")).select("k").as[Long].collect() shouldBe Array(2L)
  }

  test("time travel and restore cross the DV correctly") {
    val path = freshTable("graft_dv_travel", n = 100)
    GraftTable.deleteMor(spark, path, Seq(9L).toDF("k"))
    GraftTable.read(spark, path, version = 0).count() shouldBe 100L
    GraftTable.read(spark, path, version = 1).count() shouldBe 99L
    GraftTable.restoreTo(path, 0)
    GraftTable.read(spark, path).count() shouldBe 100L
    // restore is a manifest copy: the DV-bearing version stays readable
    GraftTable.read(spark, path, version = 1).count() shouldBe 99L
  }

  test("vacuum reclaims DV files once no surviving manifest references them") {
    val path = freshTable("graft_dv_vacuum", n = 100)
    GraftTable.deleteMor(spark, path, Seq(1L).toDF("k"))
    val dvDir = java.nio.file.Paths.get(path, "dv")
    java.nio.file.Files.list(dvDir).count() shouldBe 1
    GraftTable.compact(spark, path) // folds the DV; v2 has no #dv
    val expected = GraftTable.read(spark, path).orderBy("k").collect()
    GraftTable.vacuum(path, keepVersions = 1)
    java.nio.file.Files.list(dvDir).count() shouldBe 0
    GraftTable.read(spark, path).orderBy("k").collect() shouldBe expected
  }

  test("format(\"graft\") operation=delete_mor and concurrent retry writers") {
    val path = freshTable("graft_dv_fmt", n = 200)
    Seq(7L, 8L).toDF("k").write.format("graft")
      .option("operation", "delete_mor")
      .mode(org.apache.spark.sql.SaveMode.Append).save(path)
    GraftTable.read(spark, path).count() shouldBe 198L
    // two racing MOR deleters through the OCC retry loop: both land,
    // one version each, no lost delete
    val t1 = new Thread(() =>
      GraftTable.deleteMorRetry(spark, path, Seq(10L, 11L).toDF("k")))
    val t2 = new Thread(() =>
      GraftTable.deleteMorRetry(spark, path, Seq(20L, 21L).toDF("k")))
    t1.start(); t2.start(); t1.join(); t2.join()
    GraftTable.latestVersion(path) shouldBe 3
    val snap = GraftTable.read(spark, path)
    snap.count() shouldBe 194L
    snap.filter(col("k").isin(7L, 8L, 10L, 11L, 20L, 21L)).count() shouldBe 0L
  }

  test("an empty key batch commits nothing") {
    val path = freshTable("graft_dv_empty", n = 10)
    GraftTable.deleteMor(spark, path, Seq.empty[Long].toDF("k"))
    GraftTable.latestVersion(path) shouldBe 0
  }

  test("COW delete after a MOR delete composes (mixed-mode history)") {
    val path = freshTable("graft_dv_mixed", n = 100)
    GraftTable.deleteMor(spark, path, Seq(1L, 2L).toDF("k"))
    GraftTable.delete(spark, path, Seq(3L, 4L).toDF("k")) // COW path, DV-aware base
    val snap = GraftTable.read(spark, path)
    snap.count() shouldBe 96L
    snap.filter(col("k").isin(1L, 2L, 3L, 4L)).count() shouldBe 0L
    // the COW rewrite materialized deletes for ITS buckets only; the DV
    // still guards the untouched ones — and a fresh upsert still wins
    GraftTable.upsert(spark, path, Seq((1L, -1L, 0)).toDF("k", "x", "grp"))
    GraftTable.read(spark, path).filter(col("k") === 1L).count() shouldBe 1L
  }
}
