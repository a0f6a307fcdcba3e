package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{GraftIndex, GraftTable}
import java.nio.file.Files

/** Each operation reads each table manifest it needs ONCE: the read
  * and planning paths take one parsed [[GraftTable.Snapshot]] and pass
  * it down instead of re-reading `manifests/v<N>` per accessor. One
  * shared table with an IVF index; [[GraftTable.metaReadCalls]] counts
  * manifest reads across each whole operation (analysis + execution).
  * The writes run last, in order: upsert, then the refresh that folds it.
  */
class ManifestReadsSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  private val schema = StructType(Seq(StructField("id", LongType), StructField("label", IntegerType),
    StructField("vec", ArrayType(FloatType))))

  private def frame(ids: Seq[Long], rev: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map { i =>
      val r = new scala.util.Random(i * 7 + rev)
      Row(i, (i % 10).toInt, Seq.fill(4)(r.nextFloat()))
    }, 2), schema)

  private lazy val path = {
    val p = Files.createTempDirectory("graft_reads").toString + "/t"
    GraftTable.create(frame(0L until 200L, 0), p, Seq("id"), nbuckets = 4)
    GraftIndex.create(spark, p, "vec", nlist = 4)
    p
  }

  private val query = "array(0.5, 0.25, 0.75, 0.1)"

  /** Manifest reads performed by `body`. */
  private def reads(body: => Any): Long = {
    path // table set-up is not part of the operation
    val r0 = GraftTable.metaReadCalls
    body
    GraftTable.metaReadCalls - r0
  }

  test("graft_table scan and GROUP BY: one read each") {
    reads(spark.sql(s"SELECT * FROM graft_table('$path')").collect()) shouldBe 1L
    reads(spark.sql(s"SELECT label, count(*) FROM graft_table('$path') GROUP BY label")
      .collect()) shouldBe 1L
  }

  test("full-key point lookup: one read") {
    val rows = reads(spark.sql(s"SELECT * FROM graft_table('$path') WHERE id = 42").collect())
    rows shouldBe 1L
  }

  test("graft_index_search: one read without a predicate and on either filtered leg") {
    reads(spark.sql(s"SELECT * FROM graft_index_search('$path', $query, 5, 2)")
      .collect()) shouldBe 1L
    // brute leg: 20 matches, under the default bruteForceCap
    reads(spark.sql(
      s"""SELECT * FROM graft_index_search('$path', $query, 5, 2, 'vec', "label = 3")""")
      .collect()) shouldBe 1L
    // pushed leg: the TVF's cap is the 10 000-row default, so the same
    // probe runs through the Scala API with a cap under the match count
    reads(GraftIndex.probe(spark, path, Seq(0.5f, 0.25f, 0.75f, 0.1f), 5, 2,
      pred = Some(col("label") < 5), bruteForceCap = 10).collect()) shouldBe 1L
  }

  test("upsert reads the head once; refresh reads the indexed version and the head") {
    reads(GraftTable.upsert(spark, path, frame(Seq(3L, 250L), 1))) shouldBe 1L
    reads(GraftIndex.refresh(spark, path)) shouldBe 2L
    GraftIndex.meta(path).indexedVersion shouldBe GraftTable.latestVersion(path)
  }
}
