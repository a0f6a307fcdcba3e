package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{GraftIndex, GraftTable}
import java.net.URI
import java.nio.file.Files

/** A local filesystem under its own scheme that records every
  * `listStatus`/`getFileStatus` path — the listings Spark makes itself,
  * which bypass [[GraftTable.metaListCalls]].
  */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.calls.add(p.toString); super.listStatus(p)
  }
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    CountingFs.calls.add(p.toString); super.getFileStatus(p)
  }
}

object CountingFs {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Table and index reads are Spark's native Parquet scan of the
  * recorded file list ([[graft.sources.GraftFileIndex]]), and writes
  * leave one file per bucket and per cell for each attempt.
  */
class NativeScanSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)

  private val schema = StructType(Seq(StructField("job_id", LongType),
    StructField("company", StringType), StructField("v", ArrayType(FloatType))))

  private def frame(ids: Seq[Long], rev: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map { i =>
      val r = new scala.util.Random(i * 13 + rev)
      Row(i, s"c${i % 7}", Seq.fill(8)(r.nextFloat() - 0.5f))
    }, 4), schema)

  private def table(n: Int, prefix: String): String = {
    val p = Files.createTempDirectory(prefix).toString + "/t"
    GraftTable.create(frame(0L until n.toLong, 0), p, Seq("job_id"), nbuckets = 16)
    p
  }

  /** The native scans of `df`'s physical plan. */
  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  /** The files the scans of `df` read: their index's `listFiles` under
    * the plan's own partition and data filters.
    */
  private def filesRead(df: DataFrame): Seq[String] = scans(df).flatMap { s =>
    s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
  }

  /** Spark jobs started while `body` runs. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("a full-key point lookup reads one bucket's files with zero planning jobs") {
    val path = table(400, "graft_point")
    val k = 123L
    val dir = GraftTable.snapshotAt(path, -1).dirs(TestSpark.bucketOf(GraftTable.snapshotAt(path, -1), k))
    val full = GraftTable.read(spark, path).filter(col("job_id") === k).collect().toSeq
    full should have size 1
    for (df <- Seq(
        spark.sql(s"SELECT * FROM graft_table('$path') WHERE job_id = $k"),
        spark.read.format("graft").load(path).where(col("job_id") === k))) {
      var got = Seq.empty[Row]
      jobs { got = df.collect().toSeq } shouldBe 1
      got shouldBe full
      val files = filesRead(df)
      files should not be empty
      files.forall(_.contains(s"/$dir/")) shouldBe true
    }
  }

  /** Rows the scans of `body`'s jobs read. */
  private def recordsRead(body: => Any): Long = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => n.addAndGet(m.inputMetrics.recordsRead))
    }
    org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("a MOR-log snapshot's point lookup through format(\"graft\") reads one bucket") {
    val path = table(800, "graft_mor_point")
    GraftTable.upsertMor(spark, path, frame(Seq(5L, 123L), 1))
    val want = GraftTable.read(spark, path).filter(col("job_id") === 123L).collect().toSeq
    want should have size 1
    var got = Seq.empty[Row]
    val read = recordsRead {
      got = spark.read.format("graft").load(path).where(col("job_id") === 123L).collect().toSeq
    }
    got shouldBe want
    read should be < 800L / 4 // the bucket's ~50 rows and the log's, not the table
  }

  test("planning warm graft_table, GraftTable.read and graft_index_search lists and stats nothing") {
    val local = table(600, "graft_nolist")
    GraftIndex.create(spark, local, "v", nlist = 4)
    // the same files through the counting scheme
    val path = "countfs:" + local
    val q = "CAST(array(0.1, -0.2, 0.3, 0.05, -0.1, 0.2, 0.0, 0.4) AS ARRAY<FLOAT>)"
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "graft_table" -> (() => spark.sql(s"SELECT company, count(*) FROM graft_table('$path') " +
        "WHERE job_id > 10 GROUP BY company")),
      "GraftTable.read" -> (() => GraftTable.read(spark, path).filter(col("company") === "c3")),
      "graft_index_search" -> (() =>
        spark.sql(s"SELECT * FROM graft_index_search('$path', $q, 5, 2)")))
    for ((name, read) <- reads) {
      read().collect() // warm: model cache, class loading
      CountingFs.calls.clear()
      val df = read()
      scans(df) should not be empty
      scans(df).foreach(_.inputRDD) // the scan's file listing and split planning
      val touched = CountingFs.calls.toArray.map(_.toString)
        .filter(p => p.contains("/t/data/") || p.contains("/_index/vec/data"))
      withClue(s"$name listed or statted: ${touched.mkString(", ")}") { touched shouldBe empty }
    }
  }

  /** Per written dir (bucket or cell) of `rels`: its file count. */
  private def perDir(rels: Iterable[String]): Map[String, Int] =
    rels.groupBy(r => r.substring(0, r.lastIndexOf('/'))).map { case (d, fs) => d -> fs.size }

  test("create, COW upsert, IVF create and refresh leave one file per bucket and per cell") {
    val path = table(800, "graft_layout")
    def tableFiles(v: Int) = GraftTable.snapshot(path, v).fileStats.keys
    perDir(tableFiles(0)).values.toSet shouldBe Set(1)
    perDir(tableFiles(0)) should have size 16
    GraftTable.upsert(spark, path, frame((0L until 800L by 97) ++ (900L until 905L), 1))
    val written1 = tableFiles(1).filter(_.startsWith(GraftTable.snapshot(path, 1).dirs.values
      .map(_.split("/")(1)).find(_.startsWith("v1-")).map("data/" + _).get))
    written1 should not be empty
    perDir(written1).values.toSet shouldBe Set(1)
    GraftIndex.create(spark, path, "v", nlist = 6)
    GraftIndex.manifest(path).values.foreach(_ should have size 1)
    GraftTable.upsert(spark, path, frame(Seq(5L, 500L, 950L), 2))
    GraftIndex.refresh(spark, path) shouldBe Some((1, 2))
    val gen1 = GraftIndex.manifest(path).values.flatten.filter(_.startsWith("g1-"))
    gen1 should not be empty
    perDir(gen1).values.toSet shouldBe Set(1)
    GraftTable.read(spark, path).count() shouldBe 806L
  }

  test("a bucket above the size cap rolls into several files; reads are unchanged") {
    val path = table(800, "graft_roll")
    val want = GraftTable.read(spark, path).orderBy("job_id").collect().toSeq
    val caps = Seq("spark.sql.files.maxPartitionBytes" -> "2048",
      "spark.sql.files.openCostInBytes" -> "2048")
    caps.foreach { case (c, v) => spark.conf.set(c, v) }
    try GraftTable.upsert(spark, path, frame(0L until 800L by 3, 0))
    finally caps.foreach { case (c, _) => spark.conf.unset(c) }
    val counts = perDir(GraftTable.snapshot(path, 1).fileStats.keys)
    counts should have size 16
    counts.values.min should be > 1
    GraftTable.read(spark, path).orderBy("job_id").collect().toSeq shouldBe want
    spark.sql(s"SELECT * FROM graft_table('$path') WHERE job_id = 301").collect().toSeq shouldBe
      want.filter(_.getLong(0) == 301L)
  }
}
