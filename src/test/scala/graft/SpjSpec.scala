package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.sources.GraftTable
import java.nio.file.Files

/** Storage-partitioned joins over GraftTable's DSv2 catalog
  * (graft.sources.v2): two tables co-bucketed on their record keys
  * must JOIN WITH ZERO SHUFFLE, results identical to the merging read
  * path; the scan refuses MOR-logged snapshots loudly.
  */
class SpjSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count() // finalize AQE
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  private def withSpjConf[T](body: => T): T = {
    val confs = Seq(
      "spark.sql.catalog.graft" -> classOf[graft.sources.v2.GraftCatalog].getName,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("co-bucketed join runs with ZERO shuffle and matches the merging read") {
    val root = Files.createTempDirectory("spj").toString
    val a = s"$root/a"; val b = s"$root/b"
    GraftTable.create(
      spark.range(0, 2000).toDF("k").withColumn("x", col("k") * 2),
      a, Seq("k"), nbuckets = 8)
    GraftTable.create(
      spark.range(500, 2500).toDF("k").withColumn("y", col("k") % 7),
      b, Seq("k"), nbuckets = 8)
    withSpjConf {
      val joined = spark.table(s"graft.`$a`")
        .join(spark.table(s"graft.`$b`"), "k")
        .groupBy("y").agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val plan = finalPlan(joined)
      // the join itself must not exchange: with SPJ active the only
      // shuffle in the plan is the groupBy's
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      withClue(plan) {
        plan should include("SortMergeJoin")
        exchanges should be <= 1 // groupBy only; the join sides have none
        plan should not include "Exchange rangepartitioning"
      }
      val got = joined.orderBy("y").collect().toSeq
      val want = GraftTable.read(spark, a).join(GraftTable.read(spark, b), "k")
        .groupBy("y").agg(count(lit(1)).as("n"), sum("x").as("sx"))
        .orderBy("y").collect().toSeq
      got shouldBe want
    }
  }

  test("v2 snapshot read equals the merging read after upserts and deletes") {
    val root = Files.createTempDirectory("spj_rw").toString
    val a = s"$root/t"
    GraftTable.create(
      spark.range(0, 500).toDF("k").withColumn("x", col("k")),
      a, Seq("k"), nbuckets = 4)
    GraftTable.upsert(spark, a,
      spark.range(400, 600).toDF("k").withColumn("x", col("k") * 10))
    GraftTable.deleteWhere(spark, a, col("k") % 9 === 0)
    withSpjConf {
      val got = spark.table(s"graft.`$a`").orderBy("k").collect().toSeq
      val want = GraftTable.read(spark, a).orderBy("k").collect().toSeq
      got shouldBe want
    }
  }

  test("column pruning reaches the v2 scan") {
    val root = Files.createTempDirectory("spj_prune").toString
    val a = s"$root/t"
    GraftTable.create(spark.range(0, 100).toDF("k")
      .withColumn("x", col("k")).withColumn("s", concat(lit("v"), col("k"))),
      a, Seq("k"), nbuckets = 2)
    withSpjConf {
      val df = spark.table(s"graft.`$a`").select("k")
      // the BatchScan's output column list is the pruned schema: only k
      val plan = df.queryExecution.executedPlan.toString
      withClue(plan) {
        "BatchScan [^\\[]*\\[k#\\d+L\\]".r.findFirstIn(plan) should not be None
      }
      df.count() shouldBe 100L
    }
  }

  test("pushed filters skip files inside buckets and prune parquet row groups") {
    val root = Files.createTempDirectory("spj_filter").toString
    val a = s"$root/t"
    GraftTable.create(spark.range(0, 4000).toDF("k")
      .withColumn("x", col("k")).withColumn("grp", (col("k") % 100).cast("int")),
      a, Seq("k"), nbuckets = 2)
    // range-split each bucket into 4 x-ordered files so stats can skip
    GraftTable.compact(spark, a, clusterBy = Some(Seq("x")), targetFilesPerBucket = 4)
    withSpjConf {
      // filtered v2 read equals the merging read under the same filter
      val cond = col("x") >= 3500
      val got = spark.table(s"graft.`$a`").filter(cond).orderBy("k").collect().toSeq
      val want = GraftTable.read(spark, a).filter(cond).orderBy("k").collect().toSeq
      got shouldBe want
      got.length shouldBe 500
      // unit-level: the scan plans FEWER files under the pushed filter
      val v = GraftTable.latestVersion(a)
      val sc = GraftTable.snapshot(a, v).schema.get
      def filesPlanned(fs: Seq[org.apache.spark.sql.sources.Filter]): Int =
        new graft.sources.v2.GraftScan(GraftTable.snapshot(a, v), sc, sc, Seq("k"), 2, fs)
          .planInputPartitions()
          .map(_.asInstanceOf[graft.sources.v2.GraftInputPartition].files.length).sum
      val all = filesPlanned(Nil)
      val pruned = filesPlanned(Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("x", 3500L)))
      withClue(s"all=$all pruned=$pruned") {
        all should be >= 8
        pruned should be < all
      }
    }
  }

  test("SQL DML through the catalog: INSERT INTO upserts, DELETE FROM prunes and deletes") {
    val root = Files.createTempDirectory("spj_dml").toString
    val a = s"$root/t"
    GraftTable.create(
      spark.range(0, 100).toDF("k").withColumn("x", col("k"))
        .withColumn("grp", (col("k") % 5).cast("int")),
      a, Seq("k"), nbuckets = 4)
    withSpjConf {
      // INSERT = keyed upsert: k=50 exists (last-wins), k=500 is new
      spark.range(0, 1).toDF("i").createOrReplaceTempView("spj_dml_src")
      spark.sql(s"INSERT INTO graft.`$a` VALUES (50, 999, 1), (500, 42, 2)")
      val t = GraftTable.read(spark, a)
      t.count() shouldBe 101L
      t.filter(col("k") === 50).head().getLong(1) shouldBe 999L
      t.filter(col("k") === 500).head().getLong(1) shouldBe 42L

      // DELETE WHERE runs the stats-pruned COW delete
      spark.sql(s"DELETE FROM graft.`$a` WHERE grp = 3 AND x < 40")
      val left = GraftTable.read(spark, a)
      left.filter(col("grp") === 3 && col("x") < 40).count() shouldBe 0L
      left.count() shouldBe 93L // 8 rows matched (k=3,8,...,38)

      // INSERT OVERWRITE refuses loudly
      val e = intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE graft.`$a` VALUES (1, 1, 1)")
      }
      e.getMessage.toLowerCase should include("overwrite")

      // TRUNCATE TABLE = delete-all through the same SupportsDelete path
      spark.sql(s"TRUNCATE TABLE graft.`$a`")
      GraftTable.read(spark, a).count() shouldBe 0L
      // and the emptied table still accepts SQL inserts
      spark.sql(s"INSERT INTO graft.`$a` VALUES (7, 7, 0)")
      GraftTable.read(spark, a).count() shouldBe 1L
    }
  }

  test("scan planning is metadata-only: ZERO filesystem listings per query") {
    val root = Files.createTempDirectory("spj_meta").toString
    val a = s"$root/t"
    GraftTable.create(spark.range(0, 2000).toDF("k").withColumn("x", col("k") * 3),
      a, Seq("k"), nbuckets = 4)
    withSpjConf {
      val df = spark.table(s"graft.`$a`").filter(col("x") < 600)
      // planning (planInputPartitions) happens at action time; a
      // stats-bearing snapshot must derive its file list from the
      // manifest's #file lines — byte lengths included — with no
      // MetaIO.list call anywhere in the query
      val before = GraftTable.metaListCalls
      val got = df.orderBy("k").collect().toSeq
      val listed = GraftTable.metaListCalls - before
      withClue(s"listings during query: $listed") { listed shouldBe 0L }
      got shouldBe GraftTable.read(spark, a).filter(col("x") < 600)
        .orderBy("k").collect().toSeq
    }
  }

  test("bucket-count evolution: coalesceBuckets aligns n vs 2n with zero shuffle") {
    val root = Files.createTempDirectory("spj_evo").toString
    val a = s"$root/a"; val b = s"$root/b"
    GraftTable.create(spark.range(0, 3000).toDF("k").withColumn("x", col("k") * 2),
      a, Seq("k"), nbuckets = 4)
    GraftTable.create(spark.range(1000, 4000).toDF("k").withColumn("y", col("k") % 5),
      b, Seq("k"), nbuckets = 4)
    GraftTable.rebucket(spark, b, 8) // b evolves to 2n
    withSpjConf {
      // stock Spark declines n-vs-2n alignment: the un-coalesced join
      // shuffles (documented fallback — results stay correct)
      val plain = spark.table(s"graft.`$a`").join(spark.table(s"graft.`$b`"), "k")
      val want = GraftTable.read(spark, a).join(GraftTable.read(spark, b), "k")
        .orderBy("k").collect().toSeq
      plain.orderBy("k").collect().toSeq shouldBe want

      // coalesced: the 8-bucket side presents the 4-bucket layout
      // (pmod(h, 8) mod 4 == pmod(h, 4), so dir pairs merge exactly)
      // and the join plans with NO exchange on either side
      spark.conf.set("spark.sql.graft.spj.coalesceBuckets", "4")
      try {
        val joined = spark.table(s"graft.`$a`").join(spark.table(s"graft.`$b`"), "k")
        val plan = finalPlan(joined)
        withClue(plan) {
          plan should include("SortMergeJoin")
          plan should not include "Exchange hashpartitioning"
        }
        joined.orderBy("k").collect().toSeq shouldBe want
      } finally spark.conf.unset("spark.sql.graft.spj.coalesceBuckets")
    }
  }

  test("outstanding MOR log refuses the storage-partitioned scan loudly") {
    val root = Files.createTempDirectory("spj_mor").toString
    val a = s"$root/t"
    GraftTable.create(spark.range(0, 100).toDF("k").withColumn("x", col("k")),
      a, Seq("k"), nbuckets = 2)
    GraftTable.upsertMor(spark, a, Seq((500L, 1L)).toDF("k", "x"))
    withSpjConf {
      val e = intercept[Exception] {
        spark.table(s"graft.`$a`").collect()
      }
      e.getMessage should include("MOR log")
      // compact folds the log; the scan serves again
      GraftTable.compact(spark, a)
      spark.table(s"graft.`$a`").count() shouldBe 101L
    }
  }

  test("scan reports manifest statistics, shrunk by pushed filters") {
    val root = Files.createTempDirectory("spj_stats").toString
    val a = s"$root/t"
    GraftTable.create(
      spark.range(0, 5000).toDF("k")
        .withColumn("x", col("k") * 2).withColumn("s", concat(lit("v"), col("k"))),
      a, Seq("k"), nbuckets = 4)
    val v = GraftTable.latestVersion(a)
    val schema = GraftTable.read(spark, a).schema
    val full = new graft.sources.v2.GraftScan(GraftTable.snapshot(a, v), schema, schema, Seq("k"), 4)
    val st = full.estimateStatistics()
    st.numRows.getAsLong shouldBe 5000L
    st.sizeInBytes.isPresent shouldBe true
    st.sizeInBytes.getAsLong should be > 0L
    // a pushed filter excluding every file must shrink the estimate to
    // zero rows through the same may-match pruning the scan itself uses
    val none = new graft.sources.v2.GraftScan(GraftTable.snapshot(a, v), schema, schema, Seq("k"), 4,
      filters = Seq(org.apache.spark.sql.sources.GreaterThan("k", 999999L)))
    none.estimateStatistics().numRows.getAsLong shouldBe 0L
    // column pruning prices the projected fraction, not the full row
    val pruned = new graft.sources.v2.GraftScan(GraftTable.snapshot(a, v), schema,
      org.apache.spark.sql.types.StructType(schema.fields.filter(_.name == "k")),
      Seq("k"), 4)
    pruned.estimateStatistics().sizeInBytes.getAsLong should be <
      st.sizeInBytes.getAsLong
  }

  test("manifest statistics let the STATIC planner broadcast a small graft table") {
    val root = Files.createTempDirectory("spj_bcast").toString
    val dim = s"$root/dim"
    GraftTable.create(
      spark.range(0, 50).toDF("k").withColumn("name", concat(lit("n"), col("k"))),
      dim, Seq("k"), nbuckets = 2)
    withSpjConf {
      // withSpjConf disables auto-broadcast; restore a real threshold
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
      try {
        val fact = spark.range(0, 10000).toDF("k").withColumn("amt", col("k") % 97)
        val joined = fact.join(spark.table(s"graft.`$dim`"), "k")
        // sparkPlan = the STATIC choice, before any AQE runtime rescue:
        // without reported statistics a DSv2 relation prices at
        // defaultSizeInBytes and this would be a sort-merge join
        val staticPlan = joined.queryExecution.sparkPlan.toString
        withClue(staticPlan) { staticPlan should include("BroadcastHashJoin") }
        joined.count() shouldBe 50L
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    }
  }

  test("runtime IN filter prunes buckets wholesale and keeps partition values") {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Expressions}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val root = Files.createTempDirectory("spj_rt").toString
    val a = s"$root/t"
    GraftTable.create(
      spark.range(0, 4000).toDF("k").withColumn("x", col("k") * 2),
      a, Seq("k"), nbuckets = 8)
    val v = GraftTable.latestVersion(a)
    val schema = GraftTable.read(spark, a).schema
    val scan = new graft.sources.v2.GraftScan(GraftTable.snapshot(a, v), schema, schema, Seq("k"), 8)
    val all = scan.planInputPartitions()
    all.length shouldBe 8
    all.forall(_.asInstanceOf[graft.sources.v2.GraftInputPartition].files.nonEmpty) shouldBe true
    // two probe values → at most two buckets keep files; partition
    // VALUES all survive (SPJ alignment needs identical value sets)
    scan.filter(Array(new Predicate("IN",
      Array[V2Expr](Expressions.column("k"),
        Expressions.literal(17L), Expressions.literal(23L)))))
    val pruned = scan.planInputPartitions()
    pruned.length shouldBe 8
    val withFiles = pruned.map(_.asInstanceOf[graft.sources.v2.GraftInputPartition])
      .filter(_.files.nonEmpty)
    withFiles.length should be <= 2
    // and the kept buckets are exactly where the write path placed 17/23
    val stats = scan.estimateStatistics()
    stats.numRows.getAsLong should be < 4000L
  }

  test("scan parallelism is file-and-byte-range, not one-task-per-bucket") {
    val root = Files.createTempDirectory("spj_chunk").toString
    val a = s"$root/t"
    GraftTable.create(
      spark.range(0, 60000).toDF("k")
        .withColumn("s", concat(lit("padpadpadpad"), col("k"))),
      a, Seq("k"), nbuckets = 2)
    val v = GraftTable.latestVersion(a)
    val schema = GraftTable.read(spark, a).schema
    val scan = new graft.sources.v2.GraftScan(GraftTable.snapshot(a, v), schema, schema, Seq("k"), 2)
    val natural = scan.planInputPartitions()
    // force splitting: a tiny maxPartitionBytes must break each bucket
    // file into many byte-range chunks, every chunk keyed by its bucket
    val kMax = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(kMax)
    spark.conf.set(kMax, (64 * 1024).toString)
    try {
      val scan2 = new graft.sources.v2.GraftScan(GraftTable.snapshot(a, v), schema, schema, Seq("k"), 2)
      val chunked = scan2.planInputPartitions()
      chunked.length should be > natural.length
      chunked.length should be > 2
      val parts = chunked.map(_.asInstanceOf[graft.sources.v2.GraftInputPartition])
      parts.map(_.bucket).toSet shouldBe Set(0, 1)
      // chunks must partition the rows EXACTLY once (the row-group
      // midpoint rule): reading every chunk reproduces the table
      val factory = scan2.createReaderFactory()
      var rows = 0L
      chunked.foreach { p =>
        val r = factory.createReader(p)
        while (r.next()) rows += 1
        r.close()
      }
      rows shouldBe 60000L
    } finally spark.conf.set(kMax, prev)
    // and through the full stack: a chunk-split scan serves identical
    // results (SPJ grouping reassembles buckets under the conf)
    withSpjConf {
      spark.conf.set(kMax, (64 * 1024).toString)
      try {
        spark.table(s"graft.`$a`").count() shouldBe 60000L
      } finally spark.conf.set(kMax, prev)
    }
  }

  test("partially-clustered SPJ handles skew over the chunked partitions") {
    val root = Files.createTempDirectory("spj_pc").toString
    val a = s"$root/a"; val b = s"$root/b"
    // a: heavy fact (many rows per key), b: lean side
    GraftTable.create(
      spark.range(0, 40000).toDF("i")
        .withColumn("k", col("i") % 50)   // 800 rows per key, few buckets hot
        .withColumn("x", col("i")),
      a, Seq("k"), nbuckets = 4)
    GraftTable.create(
      spark.range(0, 50).toDF("k").withColumn("y", col("k") * 3),
      b, Seq("k"), nbuckets = 4)
    withSpjConf {
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
        "spark.sql.files.maxPartitionBytes" -> (32 * 1024).toString)
      val old = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      try {
        val joined = spark.table(s"graft.`$a`")
          .join(spark.table(s"graft.`$b`"), "k")
          .groupBy("y").agg(count(lit(1)).as("n"), sum("x").as("sx"))
        val plan = finalPlan(joined)
        withClue(plan) {
          plan should include("SortMergeJoin")
          // the join itself must still not exchange (groupBy's is the one)
          "Exchange hashpartitioning".r.findAllIn(plan).length should be <= 1
        }
        val got = joined.orderBy("y").collect().toSeq
        val want = GraftTable.read(spark, a).join(GraftTable.read(spark, b), "k")
          .groupBy("y").agg(count(lit(1)).as("n"), sum("x").as("sx"))
          .orderBy("y").collect().toSeq
        got shouldBe want
      } finally old.foreach {
        case (c, Some(v)) => spark.conf.set(c, v)
        case (c, None) => spark.conf.unset(c)
      }
    }
  }

  test("dynamic partition pruning reaches the fact scan on a fact-dim join") {
    val root = Files.createTempDirectory("spj_dpp").toString
    val fact = s"$root/fact"
    GraftTable.create(
      spark.range(0, 8000).toDF("k").withColumn("amt", col("k") % 101),
      fact, Seq("k"), nbuckets = 8)
    withSpjConf {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
      try {
        val dim = spark.range(0, 8000).toDF("id")
          .withColumn("grp", col("id") % 1000).where(col("grp") === 7)
        dim.createOrReplaceTempView("spj_dpp_dim")
        spark.table(s"graft.`$fact`").createOrReplaceTempView("spj_dpp_fact")
        val q = spark.sql(
          """SELECT sum(f.amt) AS s, count(1) AS n
            |FROM spj_dpp_fact f JOIN spj_dpp_dim d ON f.k = d.id""".stripMargin)
        val plan = finalPlan(q)
        // the fact-side BatchScan must carry the dim's runtime key set
        // (DPP subquery → SupportsRuntimeV2Filtering.filter)
        withClue(plan) { plan should include("dynamicpruning") }
        val row = q.collect().head
        val want = GraftTable.read(spark, fact).filter(col("k") % 1000 === 7)
          .agg(sum("amt"), count(lit(1))).collect().head
        row.getLong(0) shouldBe want.getLong(0)
        row.getLong(1) shouldBe want.getLong(1)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    }
  }

  test("pushed LIMIT caps partition readers; a WHERE blocks the pushdown") {
    val root = Files.createTempDirectory("spj_limit").toString
    val a = s"$root/t"
    GraftTable.create(
      spark.range(0, 5000).toDF("k").withColumn("x", col("k") * 2),
      a, Seq("k"), nbuckets = 4)
    def scanDesc(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.mkString("\n")
    withSpjConf {
      val q = spark.sql(s"SELECT k FROM graft.`$a` LIMIT 7")
      withClue(scanDesc(q)) { scanDesc(q) should include("limit: 7") }
      q.collect().length shouldBe 7
      // residual filters block the pushdown: capping pre-filter rows at
      // n would under-deliver — the full-count result proves no cap
      val w = spark.sql(s"SELECT k FROM graft.`$a` WHERE x % 4 = 0 LIMIT 2600")
      withClue(scanDesc(w)) { scanDesc(w) should not include "limit:" }
      w.collect().length shouldBe 2500
    }
  }

  test("ZERO-SORT SPJ: compacted key-sorted tables join with no exchange and no sort") {
    val root = Files.createTempDirectory("spj_sorted").toString
    val a = s"$root/a"; val b = s"$root/b"
    GraftTable.create(
      spark.range(0, 3000).toDF("k").withColumn("x", col("k") * 2),
      a, Seq("k"), nbuckets = 4)
    GraftTable.create(
      spark.range(1000, 4000).toDF("k").withColumn("y", col("k") % 7),
      b, Seq("k"), nbuckets = 4)
    // the key-sorted full rewrite records #sorted=k in both manifests
    GraftTable.compact(spark, a)
    GraftTable.compact(spark, b)
    GraftTable.snapshot(a, 1).sortedBy shouldBe Some(Seq("k"))
    GraftTable.snapshot(b, 1).sortedBy shouldBe Some(Seq("k"))
    withSpjConf {
      val joined = spark.table(s"graft.`$a`")
        .join(spark.table(s"graft.`$b`"), "k")
        .select(col("k"), col("x"), col("y"))
      val plan = finalPlan(joined)
      withClue(plan) {
        plan should include("SortMergeJoin")
        plan should not include "Exchange hashpartitioning"
        // the scan-reported ordering must satisfy SMJ's requirement:
        // zero Sort nodes anywhere in the plan
        "Sort \\[".r.findAllIn(plan).length shouldBe 0
      }
      val got = joined.orderBy("k").collect().toSeq
      val want = GraftTable.read(spark, a).join(GraftTable.read(spark, b), "k")
        .select(col("k"), col("x"), col("y")).orderBy("k").collect().toSeq
      got shouldBe want
    }
    // an upsert lapses the claim — the next join sorts again, correctly
    GraftTable.upsert(spark, a,
      spark.range(1000, 1010).toDF("k").withColumn("x", lit(-1L)))
    GraftTable.snapshot(a, 2).sortedBy shouldBe None
    withSpjConf {
      val joined2 = spark.table(s"graft.`$a`")
        .join(spark.table(s"graft.`$b`"), "k")
        .select(col("k"), col("x"), col("y"))
      val plan2 = finalPlan(joined2)
      withClue(plan2) {
        "Sort \\[".r.findAllIn(plan2).length should be >= 1
      }
      joined2.filter(col("x") === -1L).count() shouldBe 10 // the upserted keys
    }
  }

  test("_bucket and _file metadata columns give row-level lineage") {
    val root = Files.createTempDirectory("spj_meta").toString
    val a = s"$root/t"
    GraftTable.create(
      spark.range(0, 2000).toDF("k").withColumn("x", col("k") * 2),
      a, Seq("k"), nbuckets = 4)
    withSpjConf {
      val df = spark.sql(s"SELECT k, x, _bucket, _file FROM graft.`$a`")
      df.count() shouldBe 2000
      // every row's _bucket must equal the WRITE placement hash
      df.filter(expr("_bucket != pmod(xxhash64(k), 4)")).count() shouldBe 0L
      // _file groups must agree with the files metadata report exactly
      val byFile = df.groupBy("_file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val reported = spark.sql(s"CALL graft.files('$a')").collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      byFile shouldBe reported
      // plain reads are untouched: no metadata fields unless asked
      spark.table(s"graft.`$a`").columns.toSeq shouldBe Seq("k", "x")
    }
  }
}
