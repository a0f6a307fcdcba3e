package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** Deep clone (GraftTable.cloneTo + CALL graft.clone): a distributed
  * byte-for-byte snapshot copy into a NEW independent table — layout,
  * stats segments, MOR logs, and sidecars carry over verbatim; no file
  * is shared, so source mutations/vacuum can never corrupt the clone.
  */
class CloneSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  private def withCatalog[T](body: => T): T = {
    val k = "spark.sql.catalog.graft"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, classOf[graft.sources.v2.GraftCatalog].getName)
    try body
    finally old match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  private def tmp(): String = Files.createTempDirectory("clone").toString

  private def mkTable(root: String, n: Int = 400): Unit =
    GraftTable.create(
      spark.range(0, n).toDF("k").withColumn("x", col("k") * 3),
      root, Seq("k"), nbuckets = 4)

  private def content(path: String, v: Int = -1): Set[(Long, Long)] = {
    val df = if (v < 0) GraftTable.read(spark, path) else GraftTable.read(spark, path, v)
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("clone of a historical version equals that snapshot; head clone equals head") {
    val d = tmp(); val src = s"$d/src"
    mkTable(src) // v0
    GraftTable.upsert(spark, src,
      spark.range(0, 100).toDF("k").withColumn("x", lit(-1L))) // v1
    val (n0, b0) = GraftTable.cloneTo(spark, src, s"$d/c0", 0)
    n0 should be > 0L; b0 should be > 0L
    content(s"$d/c0") shouldBe content(src, 0)
    GraftTable.cloneTo(spark, src, s"$d/c1") // default = head
    content(s"$d/c1") shouldBe content(src, 1)
    GraftTable.latestVersion(s"$d/c1") shouldBe 0 // fresh history
  }

  test("outstanding MOR logs (delta + DV) carry over exactly") {
    val d = tmp(); val src = s"$d/src"
    mkTable(src)
    GraftTable.upsertMor(spark, src,
      spark.range(350, 450).toDF("k").withColumn("x", lit(-7L)))
    GraftTable.deleteMor(spark, src, spark.range(0, 20).toDF("k"))
    GraftTable.cloneTo(spark, src, s"$d/c")
    content(s"$d/c") shouldBe content(src)
    // the clone's manifest carries the log lines (not a folded rewrite)
    GraftTable.snapshot(s"$d/c", 0).delta should not be empty
    GraftTable.snapshot(s"$d/c", 0).dv should not be empty
  }

  test("independence: source vacuum and clone DML never cross") {
    val d = tmp(); val src = s"$d/src"
    mkTable(src) // v0
    (1 to 2).foreach { i =>
      GraftTable.upsert(spark, src,
        spark.range(0, 400).toDF("k").withColumn("x", col("k") * (3 + i)))
    }
    GraftTable.cloneTo(spark, src, s"$d/c", 0)
    val expected = content(src, 0)
    // reclaim v0's files at the SOURCE — the clone has its own copies
    GraftTable.vacuum(src, keepVersions = 1)
    content(s"$d/c") shouldBe expected
    // DML on the clone moves only the clone
    GraftTable.upsert(spark, s"$d/c",
      spark.range(0, 5).toDF("k").withColumn("x", lit(0L)))
    content(src) should not be content(s"$d/c")
    content(src) shouldBe (0L until 400L).map(k => (k, k * 5)).toSet
  }

  test("stats metadata carries: metadata aggregates answer on the clone") {
    val d = tmp(); val src = s"$d/src"
    mkTable(src)
    GraftTable.cloneTo(spark, src, s"$d/c")
    withCatalog {
      // COUNT/MIN/MAX from the manifest's stats segments, zero data IO —
      // only works if the segments were carried (MetaAggSpec pins the
      // LocalTableScan shape; here we pin the carried numbers)
      val r = spark.sql(s"SELECT count(*), min(k), max(k) FROM graft.`$d/c`")
      r.queryExecution.executedPlan.toString should include("LocalTableScan")
      r.collect().head.toSeq shouldBe Seq(400L, 0L, 399L)
    }
  }

  test("constraints sidecar carries: violating upsert on the clone refuses") {
    val d = tmp(); val src = s"$d/src"
    mkTable(src)
    GraftTable.addConstraint(spark, src, "nonneg", "x >= 0")
    GraftTable.cloneTo(spark, src, s"$d/c")
    intercept[Exception] {
      GraftTable.upsert(spark, s"$d/c",
        spark.range(0, 3).toDF("k").withColumn("x", lit(-5L)))
    }
    GraftTable.latestVersion(s"$d/c") shouldBe 0 // nothing committed
  }

  test("analyze sketch store travels with the clone; profile does not") {
    val s = tmp(); val d = tmp()
    mkTable(s"$s/t")
    GraftTable.analyzeIncremental(spark, s"$s/t")
    GraftTable.cloneTo(spark, s"$s/t", s"$d/c")
    // the _ndv profile (version-stamped to the SOURCE history) must not copy…
    GraftTable.ndvProfile(s"$d/c") shouldBe None
    // …but the per-file sketches do (files are byte-identical under the
    // same rel paths), so the clone's first incremental refresh scans
    // NOTHING: pin via the sketch store being carried verbatim and the
    // refresh producing the same NDV
    val srcStore = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$s/t", "_ndvsketch")))
    val dstStore = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$d/c", "_ndvsketch")))
    dstStore shouldBe srcStore
    val out = GraftTable.analyzeIncremental(spark, s"$d/c")
    out("k").ndv shouldBe GraftTable.ndvProfile(s"$s/t").get._2("k").ndv
    // and the store is unchanged by the refresh — nothing was rescanned
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$d/c", "_ndvsketch"))) shouldBe srcStore
  }

  test("refusals: existing dest, unreadable version, self-clone") {
    val d = tmp(); val src = s"$d/src"
    mkTable(src)
    GraftTable.cloneTo(spark, src, s"$d/c")
    intercept[IllegalArgumentException](GraftTable.cloneTo(spark, src, s"$d/c"))
      .getMessage should include("already exists")
    intercept[IllegalArgumentException](GraftTable.cloneTo(spark, src, s"$d/x", 9))
    intercept[IllegalArgumentException](GraftTable.cloneTo(spark, src, src))
  }

  test("CALL graft.clone reports an honest summary and the clone serves SQL") {
    val d = tmp(); val src = s"$d/src"
    mkTable(src)
    withCatalog {
      val r = spark.sql(s"CALL graft.clone('$src', '$d/c')").collect().head
      r.getInt(0) shouldBe 0
      r.getLong(1) should be > 0L
      r.getLong(2) should be > 0L
      spark.sql(s"SELECT sum(x) FROM graft.`$d/c`").collect()
        .head.getLong(0) shouldBe (0L until 400L).map(_ * 3).sum
    }
  }
}
