package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** Merge-on-read upserts (delta commits). The scale claim under test:
  * a trickle of scattered updates — the streaming-ingest shape that
  * under copy-on-write multiplies every written byte by the bucket
  * size — commits O(batch) bytes and rewrites NOTHING, while every
  * read path (snapshot, point lookup, stats-pruned scan, predicate
  * DML, CDC, time travel) serves exactly the state a COW upsert would
  * have produced. Version scoping arbitrates the log: the newest
  * event per key wins (delta row = that image, DV = gone), any COW
  * rewrite materializes the log for its buckets, and compact folds
  * everything away.
  */
class DeltaCommitSpec extends AnyFunSuite with Matchers {
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

  test("upsertMor updates and inserts without touching a single data file") {
    val path = freshTable("graft_dc_basic")
    val filesBefore = dataFiles(path)
    val m0 = GraftTable.snapshot(path, 0).dirs
    GraftTable.upsertMor(spark, path,
      Seq((5L, -5L, 0), (500L, -500L, 0), (2000L, -2000L, 0)).toDF("k", "x", "grp"))
    GraftTable.latestVersion(path) shouldBe 1
    GraftTable.snapshot(path, 1).dirs shouldBe m0
    dataFiles(path) shouldBe filesBefore
    GraftTable.snapshot(path, 1).delta.map(_._2) shouldBe Seq(1)
    val snap = GraftTable.read(spark, path)
    snap.count() shouldBe 1001L // 2 updates + 1 brand-new key
    snap.filter(col("k").isin(5L, 500L, 2000L)).select("x").as[Long]
      .collect().sorted shouldBe Array(-2000L, -500L, -5L)
    // untouched rows are served untouched
    snap.filter(col("k") === 6L).select("x").as[Long].collect() shouldBe Array(12L)
  }

  test("stacked deltas: the newest commit wins per key; precombine arbitrates in-batch") {
    val path = freshTable("graft_dc_stack", n = 100)
    GraftTable.upsertMor(spark, path, Seq((7L, 1L, 0)).toDF("k", "x", "grp"))
    GraftTable.upsertMor(spark, path, Seq((7L, 2L, 0)).toDF("k", "x", "grp"))
    GraftTable.read(spark, path).filter(col("k") === 7L)
      .select("x").as[Long].collect() shouldBe Array(2L)
    // in-batch repeats: greatest precombine value wins, like the COW path
    GraftTable.upsertMor(spark, path,
      Seq((8L, 10L, 3), (8L, 99L, 1)).toDF("k", "x", "grp"), precombine = Seq("grp"))
    GraftTable.read(spark, path).filter(col("k") === 8L)
      .select("x").as[Long].collect() shouldBe Array(10L)
  }

  test("log arbitration: delta after DV re-inserts; DV after delta deletes") {
    val path = freshTable("graft_dc_arb", n = 100)
    GraftTable.deleteMor(spark, path, Seq(1L, 2L).toDF("k"))          // v1
    GraftTable.upsertMor(spark, path, Seq((1L, -1L, 0)).toDF("k", "x", "grp")) // v2
    GraftTable.deleteMor(spark, path, Seq(3L).toDF("k"))              // v3
    GraftTable.upsertMor(spark, path, Seq((4L, -4L, 0)).toDF("k", "x", "grp")) // v4
    GraftTable.deleteMor(spark, path, Seq(4L).toDF("k"))              // v5
    val snap = GraftTable.read(spark, path)
    snap.filter(col("k") === 1L).select("x").as[Long].collect() shouldBe Array(-1L)
    snap.filter(col("k").isin(2L, 3L, 4L)).count() shouldBe 0L
    snap.count() shouldBe 97L
  }

  test("new keys land in buckets with no data dir at all and still serve") {
    val path = freshTable("graft_dc_nodir", n = 2, nbuckets = 16)
    // 2 rows leave most of the 16 buckets dir-less; 30 new keys hit them
    GraftTable.upsertMor(spark, path,
      (100L until 130L).map(k => (k, k * 3, 0)).toDF("k", "x", "grp"))
    val snap = GraftTable.read(spark, path)
    snap.count() shouldBe 32L
    snap.filter(col("k") === 111L).select("x").as[Long].collect() shouldBe Array(333L)
    // point lookup of a log-only key in a dir-less bucket
    val b = TestSpark.bucketOf(GraftTable.snapshotAt(path, 1), 111L)
    GraftTable.readBuckets(spark, path, 1, Set(b))
      .filter(col("k") === 111L).count() shouldBe 1L
  }

  test("a COW upsert materializes its buckets' log; carried deltas stay inert") {
    val path = freshTable("graft_dc_mat")
    GraftTable.upsertMor(spark, path,
      (0L until 100L).map(k => (k, -k, 0)).toDF("k", "x", "grp"))
    val expected = GraftTable.read(spark, path).orderBy("k").collect()
    // rewrite SOME buckets via a COW upsert of unrelated keys — the
    // delta line is carried, but rewritten buckets must serve their
    // materialized state exactly once (no duplicates, no stale rows)
    GraftTable.upsert(spark, path,
      Seq((3000L, 1L, 0)).toDF("k", "x", "grp"))
    GraftTable.snapshot(path, 2).delta should not be empty
    val snap = GraftTable.read(spark, path)
    snap.count() shouldBe expected.length + 1L
    snap.filter(col("k") < 1000L).orderBy("k").collect() shouldBe expected
  }

  test("COW delete that empties a bucket tombstones it — carried delta rows cannot resurface") {
    val path = freshTable("graft_dc_tomb", n = 40, nbuckets = 4)
    GraftTable.upsertMor(spark, path, Seq((500L, 1L, 0)).toDF("k", "x", "grp"))
    // delete EVERY key of 500's bucket (stored and log alike): the
    // bucket comes out empty, and without a tombstone dir the carried
    // #delta line would resurrect key 500
    val b = TestSpark.bucketOf(GraftTable.snapshotAt(path, 1), 500L)
    val victims = GraftTable.readBuckets(spark, path, 1, Set(b)).select("k")
    GraftTable.delete(spark, path, victims)
    val snap = GraftTable.read(spark, path)
    snap.filter(col("k") === 500L).count() shouldBe 0L
    snap.count() shouldBe GraftTable.read(spark, path, 1).count() - victims.count()
  }

  test("compact folds the whole log away; countRows declines while it is live") {
    val path = freshTable("graft_dc_compact", n = 200)
    GraftTable.countRows(path) shouldBe Some(200L)
    GraftTable.upsertMor(spark, path, Seq((1L, -1L, 0), (999L, 9L, 0)).toDF("k", "x", "grp"))
    GraftTable.deleteMor(spark, path, Seq(2L).toDF("k"))
    GraftTable.countRows(path) shouldBe None
    val expected = GraftTable.read(spark, path).orderBy("k").collect()
    GraftTable.compact(spark, path)
    val v = GraftTable.latestVersion(path)
    GraftTable.snapshot(path, v).delta shouldBe empty
    GraftTable.snapshot(path, v).dv shouldBe empty
    GraftTable.read(spark, path).orderBy("k").collect() shouldBe expected
    GraftTable.countRows(path) shouldBe Some(200L) // 200 - 1 deleted + 1 new
  }

  test("stats-pruned scans and predicate DML see log-only rows") {
    val path = freshTable("graft_dc_dml", n = 100)
    // x = 777777 exists ONLY in the log — min/max of every stored file
    // rules it out, so candidate selection must add the delta's buckets
    GraftTable.upsertMor(spark, path, Seq((7L, 777777L, 7)).toDF("k", "x", "grp"))
    import org.apache.spark.sql.sources.EqualTo
    GraftTable.readStatsPruned(spark, GraftTable.snapshotAt(path, 1), Seq(EqualTo("x", 777777L))) match {
      case Some(pruned) => pruned.filter(col("x") === 777777L).count() shouldBe 1L
      case None => GraftTable.read(spark, path).filter(col("x") === 777777L).count() shouldBe 1L
    }
    GraftTable.update(spark, path, col("x") === 777777L,
      Map("grp" -> lit(42))) shouldBe 1L
    GraftTable.read(spark, path).filter(col("k") === 7L)
      .select("grp").as[Int].collect() shouldBe Array(42)
    // predicate MOR delete over a (now materialized) row still counts 1
    GraftTable.deleteWhereMor(spark, path, col("grp") === 42) shouldBe 1L
    GraftTable.read(spark, path).filter(col("k") === 7L).count() shouldBe 0L
  }

  test("change feed: delta commits report their net new images") {
    val path = freshTable("graft_dc_cdc", n = 100)
    GraftTable.upsertMor(spark, path,
      Seq((1L, -1L, 0), (200L, -200L, 0)).toDF("k", "x", "grp")) // v1
    val ch = GraftTable.changes(spark, path, 0, 1)
    ch.filter(col("_deleted")).count() shouldBe 0L
    ch.filter(!col("_deleted")).select("k", "x").as[(Long, Long)]
      .collect().sortBy(_._1) shouldBe Array((1L, -1L), (200L, -200L))
    // overwriting a row with its IDENTICAL image is not a change
    GraftTable.upsertMor(spark, path, Seq((5L, 10L, 5)).toDF("k", "x", "grp")) // v2
    GraftTable.changes(spark, path, 1, 2).count() shouldBe 0L
  }

  test("change feed: a materializing rewrite of log-only state is not a false upsert") {
    val path = freshTable("graft_dc_cdc2", n = 40, nbuckets = 4)
    GraftTable.upsertMor(spark, path, Seq((100L, -100L, 0)).toDF("k", "x", "grp")) // v1
    // v2 rewrites 100's bucket for an unrelated key: 100's image is
    // unchanged (log → materialized), so (1, 2] must report ONLY 37
    val sameBucket = TestSpark.bucketOf(GraftTable.snapshotAt(path, 1), 100L)
    val other = (0L until 40L).find(k =>
      TestSpark.bucketOf(GraftTable.snapshotAt(path, 1), k) == sameBucket).get
    GraftTable.upsert(spark, path, Seq((other, 5555L, 0)).toDF("k", "x", "grp")) // v2
    val ch = GraftTable.changes(spark, path, 1, 2)
    ch.filter(col("_deleted")).count() shouldBe 0L
    ch.filter(!col("_deleted")).select("k").as[Long].collect() shouldBe Array(other)
    // and the full range reports both, once each
    GraftTable.changes(spark, path, 0, 2).filter(!col("_deleted"))
      .select("k").as[Long].collect().sorted shouldBe Array(other, 100L).sorted
  }

  test("additive schema evolution through a delta commit") {
    val path = freshTable("graft_dc_evo", n = 50)
    GraftTable.upsertMor(spark, path,
      Seq((1L, 10L, 0, "hello")).toDF("k", "x", "grp", "note"))
    val snap = GraftTable.read(spark, path)
    snap.columns should contain ("note")
    snap.filter(col("k") === 1L).select("note").as[String].collect() shouldBe Array("hello")
    snap.filter(col("k") === 2L).select("note").head().isNullAt(0) shouldBe true
    // the widened schema survives a later plain delta and a compact
    GraftTable.upsertMor(spark, path, Seq((3L, 30L, 0)).toDF("k", "x", "grp"))
    GraftTable.read(spark, path).filter(col("k") === 1L)
      .select("note").as[String].collect() shouldBe Array("hello")
    GraftTable.compact(spark, path)
    GraftTable.read(spark, path).filter(col("k") === 1L)
      .select("note").as[String].collect() shouldBe Array("hello")
  }

  test("time travel and restore cross delta versions correctly") {
    val path = freshTable("graft_dc_travel", n = 100)
    GraftTable.upsertMor(spark, path, Seq((9L, -9L, 0)).toDF("k", "x", "grp")) // v1
    GraftTable.read(spark, path, version = 0)
      .filter(col("k") === 9L).select("x").as[Long].collect() shouldBe Array(18L)
    GraftTable.read(spark, path, version = 1)
      .filter(col("k") === 9L).select("x").as[Long].collect() shouldBe Array(-9L)
    GraftTable.restoreTo(path, 0)
    GraftTable.read(spark, path)
      .filter(col("k") === 9L).select("x").as[Long].collect() shouldBe Array(18L)
  }

  test("vacuum reclaims delta files once no surviving manifest references them") {
    val path = freshTable("graft_dc_vacuum", n = 50)
    GraftTable.upsertMor(spark, path, Seq((1L, -1L, 0)).toDF("k", "x", "grp"))
    val dDir = java.nio.file.Paths.get(path, "delta")
    java.nio.file.Files.list(dDir).count() shouldBe 1
    GraftTable.compact(spark, path)
    val expected = GraftTable.read(spark, path).orderBy("k").collect()
    GraftTable.vacuum(path, keepVersions = 1)
    java.nio.file.Files.list(dDir).count() shouldBe 0
    GraftTable.read(spark, path).orderBy("k").collect() shouldBe expected
  }

  test("format(\"graft\") operation=upsert_mor and racing retry writers") {
    val path = freshTable("graft_dc_fmt", n = 100)
    Seq((3L, -3L, 0)).toDF("k", "x", "grp").write.format("graft")
      .option("operation", "upsert_mor")
      .mode(org.apache.spark.sql.SaveMode.Append).save(path)
    GraftTable.read(spark, path).filter(col("k") === 3L)
      .select("x").as[Long].collect() shouldBe Array(-3L)
    // DSv1 point lookup through the relation sees the delta row
    spark.read.format("graft").load(path)
      .filter(col("k") === 3L).select("x").as[Long].collect() shouldBe Array(-3L)
    val t1 = new Thread(() => GraftTable.upsertMorRetry(spark, path,
      Seq((10L, 100L, 0)).toDF("k", "x", "grp")))
    val t2 = new Thread(() => GraftTable.upsertMorRetry(spark, path,
      Seq((20L, 200L, 0)).toDF("k", "x", "grp")))
    t1.start(); t2.start(); t1.join(); t2.join()
    GraftTable.latestVersion(path) shouldBe 3
    val snap = GraftTable.read(spark, path)
    snap.filter(col("k") === 10L).select("x").as[Long].collect() shouldBe Array(100L)
    snap.filter(col("k") === 20L).select("x").as[Long].collect() shouldBe Array(200L)
    snap.count() shouldBe 100L
  }

  test("the 100 TB plan shape: log joins broadcast, the base never sort-merges") {
    val path = freshTable("graft_dc_plan")
    GraftTable.upsertMor(spark, path, Seq((1L, -1L, 0)).toDF("k", "x", "grp"))
    GraftTable.deleteMor(spark, path, Seq(2L).toDF("k"))
    val plan = GraftTable.read(spark, path).queryExecution.executedPlan.toString
    plan should include ("BroadcastHashJoin")
    (plan should not).include("SortMergeJoin")
  }

  test("ChangeFeed consumers follow delta commits incrementally") {
    val path = freshTable("graft_dc_feed", n = 50)
    val cur = path + "_cursor"
    graft.sources.ChangeFeed.pollOnce(spark, path, cur)((_, _, _) => ()) // bootstrap
    GraftTable.upsertMor(spark, path, Seq((1L, -1L, 0), (99L, 9L, 0)).toDF("k", "x", "grp"))
    var rows: Array[(Long, Long)] = Array.empty
    graft.sources.ChangeFeed.pollOnce(spark, path, cur) { (batch, _, _) =>
      rows = batch.filter(!col("_deleted"))
        .select("k", "x").as[(Long, Long)].collect().sortBy(_._1)
    } shouldBe Some((0, 1))
    rows shouldBe Array((1L, -1L), (99L, 9L))
  }

  test("an empty batch commits nothing") {
    val path = freshTable("graft_dc_empty", n = 10)
    GraftTable.upsertMor(spark, path, Seq.empty[(Long, Long, Int)].toDF("k", "x", "grp"))
    GraftTable.latestVersion(path) shouldBe 0
  }

  test("mergeInto and rebucket compose with a live log") {
    val path = freshTable("graft_dc_mix", n = 60, nbuckets = 4)
    GraftTable.upsertMor(spark, path, Seq((5L, -5L, 0), (300L, 3L, 0)).toDF("k", "x", "grp"))
    // conditional merge touches the log rows' buckets: base is log-aware
    GraftTable.mergeInto(spark, path,
      Seq((5L, 7L, 1), (300L, 9L, 1)).toDF("k", "x", "grp"),
      matchedUpdate = Some((col("s.x") > col("t.x"), Map("x" -> col("s.x")))),
      notMatchedInsert = Some(lit(false)))
    val snap = GraftTable.read(spark, path)
    snap.filter(col("k") === 5L).select("x").as[Long].collect() shouldBe Array(7L)
    snap.filter(col("k") === 300L).select("x").as[Long].collect() shouldBe Array(9L)
    // rebucket = full rewrite: folds the remaining log, new layout serves
    GraftTable.upsertMor(spark, path, Seq((301L, 1L, 0)).toDF("k", "x", "grp"))
    GraftTable.rebucket(spark, path, 8)
    val v = GraftTable.latestVersion(path)
    GraftTable.snapshot(path, v).delta shouldBe empty
    GraftTable.read(spark, path).count() shouldBe 62L
    GraftTable.read(spark, path).filter(col("k") === 301L).count() shouldBe 1L
  }
}
