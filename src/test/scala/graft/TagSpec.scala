package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** Tags — named immutable version refs (GraftTable.tagCreate /
  * tagDelete / tags) with the two contracts that make them real:
  * resolution (`VERSION AS OF 'name'` through the DSv2 catalog, plus
  * the CALL verbs) and RETENTION (vacuum keeps tagged versions alive —
  * the Iceberg keep-tagged-snapshots rule).
  */
class TagSpec extends AnyFunSuite with Matchers {
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

  private def mkTable(n: Int = 300): String = {
    val root = Files.createTempDirectory("tag").toString + "/t"
    GraftTable.create(
      spark.range(0, n).toDF("k").withColumn("x", col("k") * 3),
      root, Seq("k"), nbuckets = 4)
    root
  }

  test("create / resolve / list / delete round-trip") {
    val root = mkTable()
    GraftTable.upsert(spark, root,
      spark.range(0, 50).toDF("k").withColumn("x", lit(-1L))) // v1
    GraftTable.tagCreate(root, "release-1.0", 0) shouldBe 0
    GraftTable.tagCreate(root, "head.pin") shouldBe 1 // default = head
    GraftTable.resolveTag(root, "release-1.0") shouldBe Some(0)
    GraftTable.tags(root) shouldBe Seq("head.pin" -> 1, "release-1.0" -> 0)
    GraftTable.tagDelete(root, "head.pin") shouldBe true
    GraftTable.tagDelete(root, "head.pin") shouldBe false // IF EXISTS contract
    GraftTable.tags(root) shouldBe Seq("release-1.0" -> 0)
  }

  test("tags are immutable: duplicate create refuses, never re-points") {
    val root = mkTable()
    GraftTable.tagCreate(root, "rel", 0)
    val e = intercept[IllegalArgumentException] {
      GraftTable.tagCreate(root, "rel", 0)
    }
    e.getMessage should include("already exists")
    GraftTable.resolveTag(root, "rel") shouldBe Some(0)
  }

  test("bad names and unreadable versions refuse loudly") {
    val root = mkTable()
    intercept[IllegalArgumentException](GraftTable.tagCreate(root, "42", 0))
      .getMessage should include("all digits")
    intercept[IllegalArgumentException](GraftTable.tagCreate(root, "a/b", 0))
    intercept[IllegalArgumentException](GraftTable.tagCreate(root, "", 0))
    intercept[IllegalArgumentException](GraftTable.tagCreate(root, "rel", 7))
      .getMessage should include("no committed version")
    // vacuumed-away version: commit marker survives but the manifest is
    // gone — tagging it must refuse (the tag could never serve reads)
    GraftTable.upsert(spark, root,
      spark.range(0, 10).toDF("k").withColumn("x", lit(0L)))
    GraftTable.vacuum(root, keepVersions = 1)
    intercept[IllegalArgumentException](GraftTable.tagCreate(root, "old", 0))
      .getMessage should include("vacuumed")
  }

  test("VERSION AS OF resolves tag names through the catalog") {
    val root = mkTable()
    GraftTable.upsert(spark, root,
      spark.range(0, 300).toDF("k").withColumn("x", col("k") * 7)) // v1
    GraftTable.tagCreate(root, "release", 0)
    withCatalog {
      val tagged = spark.sql(
        s"SELECT sum(x) FROM graft.`$root` VERSION AS OF 'release'")
        .collect().head.getLong(0)
      tagged shouldBe (0L until 300L).map(_ * 3).sum // v0's images
      // integer versions still parse as versions, not tag names
      spark.sql(s"SELECT sum(x) FROM graft.`$root` VERSION AS OF 1")
        .collect().head.getLong(0) shouldBe (0L until 300L).map(_ * 7).sum
      // unknown tags refuse, naming the available set
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 'nope'").collect()
      }
      e.getMessage should include("release")
    }
  }

  test("vacuum retains tagged versions; dropping the tag releases them") {
    val root = mkTable()
    // three mutations so v0 falls well outside keep_versions=1
    (1 to 3).foreach { i =>
      GraftTable.upsert(spark, root,
        spark.range(0, 300).toDF("k").withColumn("x", col("k") * (3 + i)))
    }
    GraftTable.tagCreate(root, "pinned", 0)
    GraftTable.vacuum(root, keepVersions = 1)
    // the tagged snapshot is fully readable after vacuum...
    GraftTable.read(spark, root, 0).agg(sum("x")).collect()
      .head.getLong(0) shouldBe (0L until 300L).map(_ * 3).sum
    // ...while untagged middle versions are gone
    intercept[Exception](GraftTable.read(spark, root, 1).collect())
    // dropping the tag hands v0 to the next vacuum
    GraftTable.tagDelete(root, "pinned") shouldBe true
    GraftTable.vacuum(root, keepVersions = 1)
    intercept[Exception](GraftTable.read(spark, root, 0).collect())
    // head unaffected throughout
    GraftTable.read(spark, root).agg(sum("x")).collect()
      .head.getLong(0) shouldBe (0L until 300L).map(_ * 6).sum
  }

  test("CALL tag_create / tags / tag_delete verbs") {
    val root = mkTable()
    GraftTable.upsert(spark, root,
      spark.range(0, 10).toDF("k").withColumn("x", lit(0L))) // v1
    withCatalog {
      val r = spark.sql(s"CALL graft.tag_create('$root', 'release', 0)").collect().head
      (r.getString(0), r.getInt(1)) shouldBe ("release", 0)
      val head = spark.sql(s"CALL graft.tag_create('$root', 'latest')").collect().head
      head.getInt(1) shouldBe 1 // default pins head
      val listed = spark.sql(s"CALL graft.tags('$root')").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2)))
      listed shouldBe Array(("latest", 1, true), ("release", 0, true))
      spark.sql(s"CALL graft.tag_delete('$root', 'latest')").collect()
        .head.getBoolean(1) shouldBe true
      spark.sql(s"CALL graft.tag_delete('$root', 'latest')").collect()
        .head.getBoolean(1) shouldBe false
      // a NULL version argument refuses (never silently pins something)
      intercept[Exception] {
        spark.sql(s"CALL graft.tag_create('$root', 'x', NULL)").collect()
      }
    }
  }

  test("tags resolve in the graft_table TVF, restore_to, and clone") {
    val root = mkTable()
    GraftTable.upsert(spark, root,
      spark.range(0, 300).toDF("k").withColumn("x", col("k") * 7)) // v1
    GraftTable.tagCreate(root, "release", 0)
    // TVF by tag == TVF by version
    spark.sql(s"SELECT sum(x) FROM graft_table('$root', 'release')")
      .collect().head.getLong(0) shouldBe (0L until 300L).map(_ * 3).sum
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table('$root', 'nope')").collect()
    }.getMessage should include("release")
    withCatalog {
      // restore_to by tag commits a new head serving the tagged snapshot
      val r = spark.sql(
        s"CALL graft.restore_to('$root', tag => 'release')").collect().head
      (r.getInt(0), r.getInt(1)) shouldBe (0, 2)
      GraftTable.read(spark, root).agg(sum("x")).collect()
        .head.getLong(0) shouldBe (0L until 300L).map(_ * 3).sum
      // naming both pins refuses; naming neither refuses
      intercept[Exception](spark.sql(
        s"CALL graft.restore_to('$root', 0, 'release')").collect())
        .getMessage should include("not both")
      intercept[Exception](spark.sql(
        s"CALL graft.restore_to('$root')").collect())
        .getMessage should include("name the snapshot")
      // clone by tag
      val c = s"${root}_c"
      spark.sql(s"CALL graft.clone('$root', '$c', tag => 'release')")
        .collect().head.getInt(0) shouldBe 0
      GraftTable.read(spark, c).agg(sum("x")).collect()
        .head.getLong(0) shouldBe (0L until 300L).map(_ * 3).sum
    }
  }

  test("vacuum_preview == what vacuum then reclaims; tags surface in history and properties") {
    val root = mkTable()
    (1 to 2).foreach { i =>
      GraftTable.upsert(spark, root,
        spark.range(0, 300).toDF("k").withColumn("x", col("k") * (3 + i)))
    }
    GraftTable.upsertMor(spark, root,
      spark.range(0, 10).toDF("k").withColumn("x", lit(-1L))) // v3: delta log
    GraftTable.compact(spark, root) // v4: folds it; v3's delta expires below
    GraftTable.tagCreate(root, "pin", 1)
    // the read-only plan, cross-checked against actual reclamation
    val plan = GraftTable.vacuumPlan(root, keepVersions = 1)
    plan should not be empty
    plan.map(_._1).toSet.subsetOf(Set("data", "log", "manifest")) shouldBe true
    // tagged v1's dirs must not appear in the plan
    val v1dirs = GraftTable.snapshot(root, 1).dirs.values.toSet
    plan.collect { case ("data", rel) => rel }.toSet
      .intersect(v1dirs) shouldBe empty
    plan should contain ("manifest", "manifests/v0")
    plan should not contain ("manifest", "manifests/v1")
    withCatalog {
      val pv = spark.sql(s"CALL graft.vacuum_preview('$root')").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      pv shouldBe plan // the CALL surface reports the same plan
      // preview touched nothing: every old version still reads
      GraftTable.read(spark, root, 0).count() shouldBe 300L
      // history annotates the tagged version
      val hist = spark.sql(s"CALL graft.history('$root')").collect()
      hist.find(_.getInt(0) == 1).get.getString(3) shouldBe "pin"
      hist.find(_.getInt(0) == 0).get.isNullAt(3) shouldBe true
      // SHOW TBLPROPERTIES lists the pins
      spark.sql(s"SHOW TBLPROPERTIES graft.`$root`").collect()
        .find(_.getString(0) == "tags").get.getString(1) shouldBe "pin=v1"
    }
    GraftTable.vacuum(root, keepVersions = 1)
    // everything planned is gone, exactly
    plan.foreach { case (_, rel) =>
      new java.io.File(root, rel).exists() shouldBe false
    }
    // and the tagged snapshot still serves
    GraftTable.read(spark, root, 1).agg(sum("x")).collect()
      .head.getLong(0) shouldBe (0L until 300L).map(_ * 4).sum
    // post-vacuum plan is empty (fixed point)
    GraftTable.vacuumPlan(root, keepVersions = 1) shouldBe empty
  }

  test("tag-pinned tables are read-only (same contract as integer pins)") {
    val root = mkTable()
    GraftTable.tagCreate(root, "rel", 0)
    withCatalog {
      val e = intercept[Exception] {
        spark.sql(s"DELETE FROM graft.`$root` VERSION AS OF 'rel' WHERE k = 1")
      }
      e.getMessage.toLowerCase should (include("read-only") or
        include("time travel") or include("not supported") or include("delete"))
    }
  }
}
