package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** ANALYZE column statistics → the cost-based optimizer: the `_ndv`
  * sidecar round-trip, the v2 scan's `Statistics.columnStats()`
  * report (distinct/null counts, typed bounds, string lengths), the
  * translation into catalyst per-attribute stats the CBO prices with,
  * and the decline rules (filtered scans, unanalyzed tables).
  */
class AnalyzeSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  private def withCatalog[T](body: => T): T =
    withConf("spark.sql.catalog.graft" -> classOf[graft.sources.v2.GraftCatalog].getName)(body)

  private def mkTable(): String = {
    val root = Files.createTempDirectory("analyze").toString + "/t"
    val df = spark.range(0, 400).toDF("k")
      .withColumn("grp", col("k") % 10)
      .withColumn("s", when(col("k") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("val_"), (col("k") % 25).cast("string"))))
      .withColumn("v", typedlit(Seq(1.0f, 2.0f))) // complex col: skipped
    GraftTable.create(df, root, Seq("k"), nbuckets = 4)
    root
  }

  test("analyze records exact NDV + string lengths; ndvProfile round-trips") {
    val root = mkTable()
    val out = GraftTable.analyze(spark, root)
    out("k").ndv shouldBe 400L
    out("grp").ndv shouldBe 10L
    out("s").ndv shouldBe 20L // 25 residue classes minus the 5 all-null ones (k%5==0)
    out.contains("v") shouldBe false // complex-typed: skipped
    val lens = out("s").strLen.get
    lens._2 shouldBe 6L // "val_NN" max byte length
    (lens._1 >= 5L && lens._1 <= 6L) shouldBe true
    val (v, prof) = GraftTable.ndvProfile(root).get
    v shouldBe GraftTable.latestVersion(root)
    prof shouldBe out
  }

  test("v2 scan columnStats carries ndv + exact nulls and typed bounds") {
    val root = mkTable()
    GraftTable.analyze(spark, root)
    val tbl = new graft.sources.v2.GraftV2Table(root)
    val scan = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())).build()
    val stats = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val cs = stats.columnStats()
    cs.isEmpty shouldBe false
    import scala.jdk.CollectionConverters._
    val byName = cs.asScala.map { case (ref, st) => ref.fieldNames.head -> st }.toMap
    byName("k").distinctCount().getAsLong shouldBe 400L
    byName("k").nullCount().getAsLong shouldBe 0L
    byName("k").min().get() shouldBe 0L
    byName("k").max().get() shouldBe 399L
    byName("s").nullCount().getAsLong shouldBe 80L // every 5th row
    byName("s").distinctCount().getAsLong shouldBe 20L
    byName("s").maxLen().getAsLong shouldBe 6L
    // string bounds are withheld (CBO never range-prices strings)
    byName("s").min().isPresent shouldBe false
  }

  test("columnStats reaches catalyst attributeStats and the CBO") {
    val root = mkTable()
    GraftTable.analyze(spark, root)
    withCatalog {
      withConf("spark.sql.cbo.enabled" -> "true") {
        val st = spark.table(s"graft.`$root`").queryExecution
          .optimizedPlan.stats
        st.rowCount shouldBe Some(BigInt(400))
        st.attributeStats.size should be >= 3
        val kStat = st.attributeStats.find(_._1.name == "k").get._2
        kStat.distinctCount shouldBe Some(BigInt(400))
        kStat.nullCount shouldBe Some(BigInt(0))
      }
    }
  }

  test("unanalyzed tables report no distinct counts but keep exact null/bounds") {
    val root = mkTable()
    val tbl = new graft.sources.v2.GraftV2Table(root)
    val scan = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())).build()
    val cs = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    import scala.jdk.CollectionConverters._
    val byName = cs.asScala.map { case (ref, st) => ref.fieldNames.head -> st }.toMap
    byName("k").distinctCount().isPresent shouldBe false
    byName("k").nullCount().getAsLong shouldBe 0L
    byName("k").max().get() shouldBe 399L
  }

  test("CALL graft.analyze returns the per-column report; approx mode runs") {
    val root = mkTable()
    withCatalog {
      val rows = spark.sql(s"CALL graft.analyze('$root')").collect()
      rows.map(_.getString(0)).sorted shouldBe Array("grp", "k", "s")
      val k = rows.find(_.getString(0) == "k").get
      k.getLong(2) shouldBe 400L
      // approx mode: HLL estimate lands within the documented ±few %
      val approx = spark.sql(s"CALL graft.analyze('$root', approx => true)")
        .collect().find(_.getString(0) == "k").get.getLong(2)
      approx.toDouble shouldBe 400.0 +- 40.0
    }
  }

  test("equi-height histograms: bins cover the domain, per-bin NDV sums to the column NDV") {
    val root = mkTable()
    val out = GraftTable.analyze(spark, root, histogramBins = 8)
    val (height, bins) = out("k").hist.get
    bins.length shouldBe 8
    height shouldBe 50.0 // 400 non-null rows / 8 bins
    bins.head._1 shouldBe 0.0   // lo of first bin = min
    bins.last._2 shouldBe 399.0 // hi of last bin = max
    // every boundary is non-decreasing and each distinct value lands in
    // exactly one bin → per-bin NDVs sum to the column NDV
    bins.sliding(2).foreach { case Seq(a, b) => a._2 shouldBe b._1 }
    bins.map(_._3).sum shouldBe 400L
    // strings carry no histogram; round-trip through the sidecar
    out("s").hist shouldBe None
    GraftTable.ndvProfile(root).get._2 shouldBe out
  }

  test("histograms reach the catalyst attribute stats under CBO") {
    val root = mkTable()
    GraftTable.analyze(spark, root, histogramBins = 4)
    withCatalog {
      withConf("spark.sql.cbo.enabled" -> "true") {
        val st = spark.table(s"graft.`$root`").queryExecution.optimizedPlan.stats
        val kStat = st.attributeStats.find(_._1.name == "k").get._2
        val h = kStat.histogram.get
        h.bins.length shouldBe 4
        h.height shouldBe 100.0
        h.bins.map(_.ndv).sum shouldBe 400L
      }
    }
  }

  test("CALL analyze with histogram_bins reports bin counts") {
    val root = mkTable()
    withCatalog {
      val rows = spark.sql(s"CALL graft.analyze('$root', histogram_bins => 6)").collect()
      rows.find(_.getString(0) == "k").get.getLong(5) shouldBe 6L
      rows.find(_.getString(0) == "s").get.isNullAt(5) shouldBe true // strings: no histogram
    }
  }

  test("incremental analyze: first refresh matches exact NDV; later refreshes reuse sketches") {
    val root = mkTable()
    // HLL is exact below its coupon threshold, so at this size the
    // incremental estimate must EQUAL the exact counts
    val out = GraftTable.analyzeIncremental(spark, root)
    // HLL at lgK=12: exact for small sets, ~±2% at hundreds — grp/s are
    // exact, k gets the estimate tolerance
    out("k").ndv.toDouble shouldBe 400.0 +- 12.0
    out("grp").ndv shouldBe 10L
    out("s").ndv shouldBe 20L
    out("s").strLen.get._2 shouldBe 6L
    // the _ndv sidecar is the shared serving path (version-stamped, approx)
    val (v, prof) = GraftTable.ndvProfile(root).get
    v shouldBe GraftTable.latestVersion(root)
    prof("k").ndv.toDouble shouldBe 400.0 +- 12.0
    // capture the store, upsert keys that rewrite ONE bucket's files,
    // then refresh: untouched buckets' sketch lines must be reused
    // bit-identically (COW immutability is what makes this incremental)
    def store(): Set[String] = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_ndvsketch"))).split("\n")
      .filter(l => l.nonEmpty && !l.startsWith("lgk=")).toSet
    val store0 = store()
    val oneBucketKeys = (400L until 500L).filter(k =>
      TestSpark.bucketOf(GraftTable.snapshotAt(root, -1), k) == 0).take(20)
    GraftTable.upsert(spark, root,
      oneBucketKeys.toDF("k").withColumn("grp", col("k") % 10)
        .withColumn("s", lit("brand_new_value"))
        .withColumn("v", typedlit(Seq(1.0f, 2.0f))))
    val out2 = GraftTable.analyzeIncremental(spark, root)
    out2("k").ndv.toDouble shouldBe (400.0 + oneBucketKeys.length) +- 14.0
    out2("s").ndv shouldBe 21L
    out2("s").strLen.get._2 shouldBe 15L // "brand_new_value"
    val store1 = store()
    // every line about a file that survived the commit is carried verbatim
    val survivors = store0.filter { l =>
      val file = l.stripPrefix("len:").split("\\|", 2)(0)
      store1.exists(_.contains(file))
    }
    (survivors -- store1) shouldBe empty
    survivors.nonEmpty shouldBe true
  }

  test("incremental histogram_bins: KLL-composed bins match the full scan within rank error") {
    val root = mkTable()
    val inc = GraftTable.analyzeIncremental(spark, root, histogramBins = 4)
    val (hInc, binsInc) = inc("k").hist.get
    val full = GraftTable.analyze(spark, root, histogramBins = 4)
    val (hFull, binsFull) = full("k").hist.get
    hInc shouldBe hFull // heights exact: sketch update count == non-null count
    binsInc.length shouldBe 4
    // boundaries within KLL's rank-error contract (k=200 on 400 rows of
    // k = 0..399: a rank error IS a value error of the same size)
    binsInc.zip(binsFull).foreach { case ((lo1, hi1, _), (lo2, hi2, _)) =>
      math.abs(lo1 - lo2) should be <= 8.0
      math.abs(hi1 - hi2) should be <= 8.0
    }
    // per-bin NDV is the stated ndv/bins estimate — sums back to ~ndv
    binsInc.map(_._3).sum.toDouble shouldBe inc("k").ndv.toDouble +- inc("k").ndv * 0.05
    // strings still carry no histogram
    inc("s").hist shouldBe None
    // the composed histogram reaches the CBO exactly like the full one
    GraftTable.analyzeIncremental(spark, root, histogramBins = 4)
    withCatalog {
      withConf("spark.sql.cbo.enabled" -> "true") {
        val st = spark.table(s"graft.`$root`").queryExecution.optimizedPlan.stats
        st.attributeStats.find(_._1.name == "k").get._2.histogram.get
          .bins.length shouldBe 4
      }
      // the CALL surface: the former loud refusal is now the composed path
      val rows = spark.sql(
        s"CALL graft.analyze('$root', incremental => true, histogram_bins => 6)").collect()
      rows.find(_.getString(0) == "k").get.getLong(5) shouldBe 6L
      rows.find(_.getString(0) == "s").get.isNullAt(5) shouldBe true
    }
    // a second refresh reuses the stored KLL lines (no new files)
    val again = GraftTable.analyzeIncremental(spark, root, histogramBins = 6)
    again("k").hist.get._2.length shouldBe 6
  }

  test("incremental analyze refuses MOR logs; CALL surface routes it") {
    val root = mkTable()
    withCatalog {
      spark.sql(s"CALL graft.analyze('$root', incremental => true)")
        .collect().find(_.getString(0) == "k").get.getLong(2).toDouble shouldBe 400.0 +- 12.0
    }
    GraftTable.upsertMor(spark, root,
      spark.range(0, 5).toDF("k").withColumn("grp", col("k") % 10)
        .withColumn("s", lit("x")).withColumn("v", typedlit(Seq(1.0f, 2.0f))))
    intercept[IllegalArgumentException] {
      GraftTable.analyzeIncremental(spark, root)
    }.getMessage should include("MOR")
  }

  test("stale NDV is served as an estimate; filtered scans withhold column stats") {
    val root = mkTable()
    GraftTable.analyze(spark, root)
    // a commit after analyze: NDV stays (estimate contract), nulls/bounds track the snapshot
    GraftTable.upsert(spark, root,
      spark.range(400, 500).toDF("k").withColumn("grp", col("k") % 10)
        .withColumn("s", lit("zzz_new")).withColumn("v", typedlit(Seq(1.0f, 2.0f))))
    val tbl = new graft.sources.v2.GraftV2Table(root)
    val scan = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of())).build()
    import scala.jdk.CollectionConverters._
    val byName = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats().asScala
      .map { case (ref, st) => ref.fieldNames.head -> st }.toMap
    byName("k").distinctCount().getAsLong shouldBe 400L // analyze-time estimate
    byName("k").max().get() shouldBe 499L               // snapshot-exact bound
    // a filter that PRUNES files: column stats withheld (rows/bytes
    // already shrank through pruning; snapshot-level column stats on
    // top would double-count the filter)
    val sb = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
    sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("k", 100000L)))
    sb.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats().isEmpty shouldBe true
    // a filter that prunes NOTHING (every file's range straddles it):
    // snapshot stats describe the scan exactly — SERVED, so the CBO's
    // own FilterEstimation shrinks from exact inputs
    val sb2 = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
    sb2.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
      .pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("k", 100L)))
    sb2.build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats().isEmpty shouldBe false
  }

  test("ANALYZE stats flip a filtered-dim join to broadcast (the CBO payoff)") {
    // The end-to-end "so what": identical query, identical data — the
    // ONLY difference is whether the dim was ANALYZEd. With histogram
    // stats the CBO prices the 1%-selective filter at ~1% of the dim
    // and broadcasts it; without column stats the filter estimate
    // stays near the full size and the join stays sort-merge. At
    // 100 TB this decision is the difference between shipping a few MB
    // and shuffling the fact table.
    def mkPair(tag: String): (String, String) = {
      val base = Files.createTempDirectory(s"cbo_$tag").toString
      val fact = spark.range(0, 8000).toDF("k")
        .withColumn("val", col("k") * 2)
      val dim = spark.range(0, 3000).toDF("k")
        // the filter column INTERLEAVES densely across every file (each
        // ~180-row bucket file sees all 10 values many times), so
        // min/max file pruning can see nothing — the histogram/NDV is
        // the only selectivity lever
        .withColumn("cat", col("k") % 10)
        // INCOMPRESSIBLE wide payload (a constant pad parquet-compresses
        // to nothing and the manifest-bytes estimate lands under any
        // threshold) so the UNFILTERED dim prices above the threshold
        .withColumn("pad", concat(md5(col("k").cast("string")),
          md5((col("k") + 1).cast("string")), md5((col("k") + 2).cast("string")),
          md5((col("k") + 3).cast("string")), md5((col("k") + 4).cast("string"))))
      GraftTable.create(fact, s"$base/fact", Seq("k"), nbuckets = 4)
      GraftTable.create(dim, s"$base/dim", Seq("k"), nbuckets = 4)
      (s"$base/fact", s"$base/dim")
    }
    def joinPlan(factP: String, dimP: String): String = {
      val dimF = spark.table(s"graft.`$dimP`").filter(col("cat") < 1)
      spark.table(s"graft.`$factP`").join(dimF, "k")
        .queryExecution.executedPlan.toString
    }
    withCatalog {
      // threshold sits between the two deterministic estimates: without
      // column stats the CBO cannot price `cat < 1` and keeps a
      // default-selectivity size (~113 KiB here); with NDV+histogram
      // stats the filter prices at one 8-bin histogram bucket (~72 KiB)
      withConf("spark.sql.cbo.enabled" -> "true",
               "spark.sql.autoBroadcastJoinThreshold" -> "98304",
               "spark.sql.adaptive.enabled" -> "false") { // static planner only
        val (f1, d1) = mkPair("with")
        GraftTable.analyze(spark, f1, histogramBins = 8)
        GraftTable.analyze(spark, d1, histogramBins = 8)
        joinPlan(f1, d1) should include("BroadcastHashJoin")

        val (f2, d2) = mkPair("without")
        joinPlan(f2, d2) should include("SortMergeJoin")
      }
    }
  }
}
