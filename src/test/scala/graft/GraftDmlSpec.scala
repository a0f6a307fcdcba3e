package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import graft.operators.Upsert
import java.nio.file.Files

/** Predicate DML on the lakehouse — DELETE WHERE / UPDATE SET /
  * conditional MERGE INTO (the Delta/Hudi DML surface) — plus the
  * metadata-only COUNT fast path. The scale claims under test: only
  * buckets actually holding matching rows are rewritten, a no-match
  * statement commits nothing, and COUNT(*) needs zero data-file IO.
  */
class GraftDmlSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def freshTable(prefix: String, n: Long = 1000, nbuckets: Int = 16): String = {
    val path = Files.createTempDirectory(prefix).toString + "/t"
    val base = spark.range(0, n).toDF("k")
      .withColumn("x", col("k") * 2)
      .withColumn("grp", (col("k") % 10).cast("int"))
    GraftTable.create(base, path, Seq("k"), nbuckets = nbuckets)
    path
  }

  test("deleteWhere removes exactly the matching rows and reports the count") {
    val path = freshTable("graft_delw")
    val deleted = GraftTable.deleteWhere(spark, path, col("grp") === 3)
    deleted shouldBe 100L
    GraftTable.latestVersion(path) shouldBe 1
    val left = GraftTable.read(spark, path)
    left.count() shouldBe 900L
    left.filter(col("grp") === 3).count() shouldBe 0L
  }

  test("deleteWhere rewrites only buckets holding matches; the rest carry over") {
    val path = freshTable("graft_delw_cow")
    val m0 = GraftTable.snapshot(path, 0).dirs
    // three specific keys → at most three buckets hold matches
    val victims = Seq(7L, 400L, 901L)
    val matchBuckets = victims
      .map(k => TestSpark.bucketOf(GraftTable.snapshotAt(path, 0), k)).toSet
    GraftTable.deleteWhere(spark, path, col("k").isin(victims: _*)) shouldBe 3L
    val m1 = GraftTable.snapshot(path, 1).dirs
    val changed = m1.filter { case (b, d) => m0(b) != d }
    changed.keySet shouldBe matchBuckets
    (m1 -- changed.keys) shouldBe (m0 -- changed.keys)
    GraftTable.read(spark, path).count() shouldBe 997L
  }

  test("deleteWhere with zero matches is a no-op: no new version, 0 returned") {
    val path = freshTable("graft_delw_noop")
    GraftTable.deleteWhere(spark, path, col("x") > 10_000_000L) shouldBe 0L
    GraftTable.latestVersion(path) shouldBe 0
  }

  test("deleteWhere keeps rows where the predicate is NULL (SQL DELETE truth)") {
    val path = Files.createTempDirectory("graft_delw_null").toString + "/t"
    val base = Seq((1L, Some(5)), (2L, None), (3L, Some(50))).toDF("k", "x")
    GraftTable.create(base, path, Seq("k"), nbuckets = 4)
    GraftTable.deleteWhere(spark, path, col("x") > 10) shouldBe 1L
    GraftTable.read(spark, path).orderBy("k")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L)
  }

  test("deleteWhere shows up in the change feed as deletes") {
    val path = freshTable("graft_delw_cdc")
    GraftTable.deleteWhere(spark, path, col("k") < 5)
    val ch = GraftTable.changes(spark, path, 0, 1)
    ch.filter(col("_deleted")).select("k").as[Long].collect().sorted.toSeq shouldBe
      Seq(0L, 1L, 2L, 3L, 4L)
    ch.filter(!col("_deleted")).count() shouldBe 0L
  }

  test("update applies SET under the predicate, casts to the column type, keeps schema") {
    val path = freshTable("graft_upd")
    val before = GraftTable.read(spark, path).schema
    // SET referencing another column; int literal against the long column
    val n = GraftTable.update(spark, path, col("grp") === 7,
      Map("x" -> (col("k") + lit(1))))
    n shouldBe 100L
    val after = GraftTable.read(spark, path)
    after.schema shouldBe before
    after.filter(col("grp") === 7 && col("x") =!= col("k") + 1).count() shouldBe 0L
    after.filter(col("grp") =!= 7 && col("x") =!= col("k") * 2).count() shouldBe 0L
    GraftTable.read(spark, path, version = 0)
      .filter(col("x") =!= col("k") * 2).count() shouldBe 0L // old snapshot untouched
  }

  test("update rewrites only buckets holding matches; zero matches commits nothing") {
    val path = freshTable("graft_upd_cow")
    val m0 = GraftTable.snapshot(path, 0).dirs
    val b42 = TestSpark.bucketOf(GraftTable.snapshotAt(path, 0), 42L)
    GraftTable.update(spark, path, col("k") === 42L, Map("x" -> lit(-1L))) shouldBe 1L
    val m1 = GraftTable.snapshot(path, 1).dirs
    m1.filter { case (b, d) => m0(b) != d }.keySet shouldBe Set(b42)
    GraftTable.update(spark, path, col("k") === -99L, Map("x" -> lit(0L))) shouldBe 0L
    GraftTable.latestVersion(path) shouldBe 1
  }

  test("update refuses SET on a key column") {
    val path = freshTable("graft_upd_key")
    an[IllegalArgumentException] should be thrownBy
      GraftTable.update(spark, path, lit(true), Map("k" -> lit(1L)))
  }

  test("mergeConditional: delete/update/insert clauses with t/s conditions") {
    val target = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("k", "s", "x")
    val source = Seq((2L, 200), (3L, 5), (4L, 400), (9L, 90), (10L, 3))
      .toDF("k", "nx")
    val out = Upsert.mergeConditional(
      target, source, Seq("k"),
      matchedDelete = Some(col("s.nx") < col("t.x")),          // k=3 (5 < 30)
      matchedUpdate = Some((col("s.nx") > 100,                 // k=2, k=4
        Map("x" -> col("s.nx"), "s" -> concat(col("t.s"), lit("!"))))),
      notMatchedInsert = Some(col("s.nx") >= 10),              // k=9 in, k=10 out
      notMatchedInsertSet = Map("x" -> col("s.nx")))           // explicit INSERT values
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    out shouldBe Seq(
      (1L, "a", 10),    // untouched target
      (2L, "b!", 200),  // matched update
      (4L, "d!", 400),  // matched update
      (9L, null, 90))   // insert; column absent from source and SET → null
  }

  test("mergeConditional: matched row satisfying no clause keeps its target image") {
    val target = Seq((1L, 10), (2L, 20)).toDF("k", "x")
    val source = Seq((2L, 999)).toDF("k", "nx")
    val out = Upsert.mergeConditional(target, source, Seq("k"),
      matchedDelete = Some(lit(false)),
      matchedUpdate = Some((lit(false), Map("x" -> col("s.nx")))),
      notMatchedInsert = None)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    out shouldBe Seq((1L, 10), (2L, 20))
  }

  test("mergeInto applies the clauses through touched-bucket COW") {
    val path = freshTable("graft_merge", n = 500, nbuckets = 8)
    val m0 = GraftTable.snapshot(path, 0).dirs
    // sources: update k=10 (x := 1000), delete k=11, insert k=5000
    val source = Seq((10L, 1000L, false), (11L, 0L, true), (5000L, 42L, false))
      .toDF("k", "nx", "del")
    GraftTable.mergeInto(spark, path, source,
      matchedDelete = Some(col("s.del")),
      matchedUpdate = Some((!col("s.del"), Map("x" -> col("s.nx")))),
      notMatchedInsert = Some(!col("s.del")),
      notMatchedInsertSet = Map("x" -> col("s.nx"), "grp" -> lit(0)))
    val t = GraftTable.read(spark, path)
    t.count() shouldBe 500L // 500 - 1 delete + 1 insert
    t.filter(col("k") === 10L).head().getLong(1) shouldBe 1000L
    t.filter(col("k") === 11L).count() shouldBe 0L
    t.filter(col("k") === 5000L).head().getLong(1) shouldBe 42L
    // COW minimality: only the source keys' buckets were rewritten
    val touched = Seq(10L, 11L, 5000L)
      .map(k => TestSpark.bucketOf(GraftTable.snapshotAt(path, 0), k)).toSet
    val m1 = GraftTable.snapshot(path, 1).dirs
    m1.filter { case (b, d) => m0.get(b).contains(d) }.keySet shouldBe
      m0.keySet.filterNot(touched)
  }

  test("mergeInto refuses SET / insert-override of a key column (update()'s invariant)") {
    val path = freshTable("graft_merge_keyguard", n = 100, nbuckets = 8)
    val source = Seq((10L, 1000L)).toDF("k", "nx")
    // WHEN MATCHED UPDATE SET k = … would move the row out of the
    // bucket its old key hashed to — the corruption update() documents
    val e1 = intercept[IllegalArgumentException] {
      GraftTable.mergeInto(spark, path, source,
        matchedUpdate = Some((lit(true), Map("k" -> col("s.nx")))))
    }
    e1.getMessage should include("key column k")
    // WHEN NOT MATCHED INSERT overriding the key bucket-misplaces the insert
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.mergeInto(spark, path, Seq((5000L, 1L)).toDF("k", "nx"),
        notMatchedInsertSet = Map("k" -> lit(9999L)))
    }
    e2.getMessage should include("key column k")
    // refused statements commit nothing
    GraftTable.latestVersion(path) shouldBe 0
  }

  test("mergeInto NOT MATCHED BY SOURCE updates/deletes unpaired target rows") {
    val path = freshTable("graft_merge_bysrc", n = 100, nbuckets = 4)
    // source pairs with k < 20 only; by-source clauses sweep the rest:
    // delete unpaired rows with grp = 9, flag the other unpaired rows
    val source = spark.range(0, 20).toDF("k").withColumn("nx", col("k") * 100)
    GraftTable.mergeInto(spark, path, source,
      matchedUpdate = Some((lit(true), Map("x" -> col("s.nx")))),
      notMatchedInsert = None,
      bySourceDelete = Some(col("t.grp") === 9),
      bySourceUpdate = Some((lit(true), Map("x" -> lit(-1L)))))
    val t = GraftTable.read(spark, path)
    t.count() shouldBe 92L // 100 - 8 unpaired grp=9 rows (k=29,39,...,99)
    // matched rows took the source value
    t.filter(col("k") === 5L).head().getLong(1) shouldBe 500L
    // unpaired survivors took the by-source update
    t.filter(col("k") === 25L).head().getLong(1) shouldBe -1L
    t.filter(col("k") === 29L).count() shouldBe 0L // grp=9, unpaired → deleted
    t.filter(col("k") === 9L).head().getLong(1) shouldBe 900L // grp=9 but PAIRED → updated
  }

  test("mergeInto by-source clauses run even with an EMPTY source") {
    val path = freshTable("graft_merge_bysrc_empty", n = 50, nbuckets = 4)
    val source = spark.range(0, 0).toDF("k").withColumn("nx", col("k"))
    // no source rows: every target row is not-matched-by-source
    GraftTable.mergeInto(spark, path, source,
      notMatchedInsert = None,
      bySourceDelete = Some(col("t.grp") < 5))
    GraftTable.read(spark, path).count() shouldBe 25L
    // and the key-SET invariant holds for by-source updates too
    val e = intercept[IllegalArgumentException] {
      GraftTable.mergeInto(spark, path, source,
        notMatchedInsert = None,
        bySourceUpdate = Some((lit(true), Map("k" -> lit(0L)))))
    }
    e.getMessage should include("key column k")
  }

  test("countRows answers from metadata and tracks DML") {
    val path = freshTable("graft_cnt")
    GraftTable.countRows(path) shouldBe Some(1000L)
    GraftTable.deleteWhere(spark, path, col("grp") === 0)
    GraftTable.countRows(path) shouldBe Some(900L)
    GraftTable.countRows(path, version = 0) shouldBe Some(1000L)
    GraftTable.upsert(spark, path,
      Seq((5000L, 1L, 0), (5001L, 2L, 1)).toDF("k", "x", "grp"))
    GraftTable.countRows(path) shouldBe Some(902L)
    GraftTable.countRows(path).get shouldBe GraftTable.read(spark, path).count()
  }
}
