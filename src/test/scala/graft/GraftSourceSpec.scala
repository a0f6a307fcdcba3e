package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The reference's write API shape (`df.write.format("hudi")` with a
  * record key + upsert), on the graft source.
  */
class GraftSourceSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def fmt = "graft.sources.GraftSource"

  test("short name format(\"graft\") resolves via DataSourceRegister") {
    val path = Files.createTempDirectory("graft_srcn").toString + "/t"
    Seq((1L, 7)).toDF("k", "x")
      .write.format("graft").option("recordkey", "k").mode(SaveMode.Append).save(path)
    spark.read.format("graft").load(path).head().getInt(1) shouldBe 7
  }

  test("write(Append) creates then upserts; read returns the merged snapshot") {
    val path = Files.createTempDirectory("graft_src").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .write.format(fmt).option("recordkey", "k").mode(SaveMode.Append).save(path)
    Seq((2L, "b2"), (3L, "c")).toDF("k", "s")
      .write.format(fmt).option("recordkey", "k").mode(SaveMode.Append).save(path)

    val got = spark.read.format(fmt).load(path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    got shouldBe Seq((1L, "a"), (2L, "b2"), (3L, "c"))
    // time travel through the reader option
    spark.read.format(fmt).option("version", "0").load(path)
      .filter(col("k") === 2).head().getString(1) shouldBe "b"
  }

  test("bucketFor/readBuckets: a key's bucket holds its row, others don't") {
    import graft.sources.GraftTable
    val path = Files.createTempDirectory("graft_pl").toString + "/t"
    val base = spark.range(0, 100).toDF("k").withColumn("x", col("k") * 2)
    GraftTable.create(base, path, Seq("k"), nbuckets = 8)

    val b7 = TestSpark.bucketOf(GraftTable.snapshotAt(path, -1), 7L)
    val hit = GraftTable.readBuckets(spark, path, -1, Set(b7))
    hit.filter(col("k") === 7).count() shouldBe 1
    // every other bucket combined does NOT hold the key
    val others = (0 until 8).toSet - b7
    GraftTable.readBuckets(spark, path, -1, others)
      .filter(col("k") === 7).count() shouldBe 0

    // additive evolution: point-lookup of an UNTOUCHED bucket pads the
    // new column with nulls and keeps the full snapshot column order
    GraftTable.upsert(spark, path,
      Seq((7L, 14L, "fresh")).toDF("k", "x", "note"))
    val all = GraftTable.read(spark, path)
    val oldBucket = TestSpark.bucketOf(GraftTable.snapshotAt(path, -1), 8L)
    val padded = GraftTable.readBuckets(spark, path, -1, Set(oldBucket))
    padded.columns.toSeq shouldBe all.columns.toSeq
    if (oldBucket != TestSpark.bucketOf(GraftTable.snapshotAt(path, -1), 7L))
      padded.filter(col("k") === 8).head().getAs[String]("note") shouldBe null
  }

  test("full-key equality read goes through the bucket point-lookup path") {
    val path = Files.createTempDirectory("graft_ple").toString + "/t"
    spark.range(0, 100).toDF("k").withColumn("x", col("k") * 3)
      .write.format(fmt).option("recordkey", "k").option("nbuckets", "8")
      .mode(SaveMode.Append).save(path)
    val got = spark.read.format(fmt).load(path).filter(col("k") === 42)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    got shouldBe Seq((42L, 126L))
    // a non-key filter (no pruning possible) still answers correctly
    spark.read.format(fmt).load(path).filter(col("x") === 126)
      .head().getLong(0) shouldBe 42L
    // and a missing key returns empty, not an error
    spark.read.format(fmt).load(path).filter(col("k") === 1000).count() shouldBe 0
  }

  test("count(*) over the source works (empty required-column scan)") {
    val path = Files.createTempDirectory("graft_cnt").toString + "/t"
    spark.range(0, 25).toDF("k")
      .write.format("graft").option("recordkey", "k").mode(SaveMode.Append).save(path)
    spark.read.format("graft").load(path).count() shouldBe 25L
  }

  test("reader prunes columns and applies pushed filters") {
    val path = Files.createTempDirectory("graft_src2").toString + "/t"
    spark.range(0, 100).toDF("k").withColumn("x", col("k") * 2)
      .write.format(fmt).option("recordkey", "k").mode(SaveMode.Append).save(path)
    val df = spark.read.format(fmt).load(path).filter(col("k") < 10).select("x")
    df.collect().map(_.getLong(0)).sorted shouldBe (0L until 10L).map(_ * 2).toArray
  }

  test("precombine option picks the greatest-valued row among same-key updates") {
    val path = Files.createTempDirectory("graft_pc").toString + "/t"
    Seq((1L, 0, 0L)).toDF("k", "x", "ver")
      .write.format("graft").option("recordkey", "k").mode(SaveMode.Append).save(path)
    // one batch, same key twice: ver=5 must beat ver=3 regardless of order
    Seq((1L, 33, 3L), (1L, 55, 5L)).toDF("k", "x", "ver")
      .write.format("graft").option("recordkey", "k").option("precombine", "ver")
      .mode(SaveMode.Append).save(path)
    spark.read.format("graft").load(path).head().getInt(1) shouldBe 55
  }

  test("option(\"operation\",\"delete\") removes the batch's keys (Hudi delete shape)") {
    val path = Files.createTempDirectory("graft_srcdel").toString + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .write.format("graft").option("recordkey", "k").mode(SaveMode.Append).save(path)
    // delete batch: only key columns matter, extra columns are ignored
    Seq((2L, "ignored")).toDF("k", "s")
      .write.format("graft").option("operation", "delete")
      .mode(SaveMode.Append).save(path)
    spark.read.format("graft").load(path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "a"), (3L, "c"))
    // delete against a missing table and non-Append delete both fail loudly
    an[Exception] should be thrownBy
      Seq(Tuple1(9L)).toDF("k").write.format("graft").option("operation", "delete")
        .mode(SaveMode.Append).save(path + "_missing")
    an[Exception] should be thrownBy
      Seq(Tuple1(1L)).toDF("k").write.format("graft").option("operation", "delete")
        .mode(SaveMode.Ignore).save(path)
  }

  test("ErrorIfExists fails on an existing table; Overwrite is rejected") {
    val path = Files.createTempDirectory("graft_src3").toString + "/t"
    val df = Seq((1L, 1)).toDF("k", "x")
    df.write.format(fmt).option("recordkey", "k").mode(SaveMode.ErrorIfExists).save(path)
    an[Exception] should be thrownBy
      df.write.format(fmt).option("recordkey", "k").mode(SaveMode.ErrorIfExists).save(path)
    an[Exception] should be thrownBy
      df.write.format(fmt).option("recordkey", "k").mode(SaveMode.Overwrite).save(path)
    // Ignore on existing: no-op
    Seq((1L, 99)).toDF("k", "x")
      .write.format(fmt).option("recordkey", "k").mode(SaveMode.Ignore).save(path)
    spark.read.format(fmt).load(path).head().getInt(1) shouldBe 1
  }
}
