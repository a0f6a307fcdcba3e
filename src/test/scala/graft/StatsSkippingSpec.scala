package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import graft.sources.GraftTable
import java.nio.file.Files

/** File-level min/max stats in the manifest: recorded at write,
  * carried over with untouched dirs, and used to skip files BEFORE any
  * parquet footer is opened — composing with z-order clustered
  * compaction, which is what creates the per-file value locality the
  * stats exploit.
  */
class StatsSkippingSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def freshTable(n: Int = 4096, nbuckets: Int = 4): String = {
    val path = Files.createTempDirectory("graft_stats").toString + "/t"
    val df = spark.range(0, n).toDF("k")
      .withColumn("x", col("k") % 64)
      .withColumn("y", (col("k") * 7) % 64)
      .withColumn("s", concat(lit("row-"), format_string("%05d", col("k"))))
    GraftTable.create(df, path, Seq("k"), nbuckets)
    path
  }

  test("bloom filters skip files on equality over a scattered column min/max can't prune") {
    val path = Files.createTempDirectory("graft_bloom").toString + "/t"
    // tag values interleave across every bucket: each file's (min, max)
    // spans the whole domain, so range stats keep everything
    def df(n: Int) = spark.range(0, n).toDF("k")
      .withColumn("tag", format_string("tag-%04d", pmod(col("k") * 7919, lit(2000))))
    GraftTable.create(df(64), path, Seq("k"), nbuckets = 8)
    GraftTable.enableBloomFilters(path, Seq("tag"), fpp = 0.001)
    GraftTable.bloomConfig(path) shouldBe Some((Seq("tag"), 0.001))
    // the post-enable write carries blooms for every rewritten file
    GraftTable.upsert(spark, path, df(4096))
    val v = GraftTable.latestVersion(path)
    val stats = GraftTable.snapshot(path, v).fileStats
    stats.values.foreach(_.blooms.keySet shouldBe Set("tag"))
    // a value present in exactly one bucket's files: bloom prunes to
    // (about) that bucket; min/max alone provably cannot prune here
    val present = "tag-0007" // k = (7 * 7919^-1) mod 2000 … exists by construction
    val Some((_, kept, total)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v),
      Seq(org.apache.spark.sql.sources.EqualTo("tag", present)))
    total shouldBe 8
    kept should be < total
    // pruned read == full-scan answer
    val full = GraftTable.read(spark, path, v).filter(col("tag") === present)
      .select("k").as[Long].collect().sorted
    full should not be empty
    GraftTable.readStatsPruned(spark, GraftTable.snapshotAt(path, v),
        Seq(org.apache.spark.sql.sources.EqualTo("tag", present))) match {
      case Some(pruned) =>
        pruned.filter(col("tag") === present)
          .select("k").as[Long].collect().sorted shouldBe full
      case None => fail("expected at least one file skipped")
    }
    // an absent value: provable absence everywhere (fpp 0.001 over 8
    // files — deterministic for fixed data; a false positive would
    // only keep a file, never break correctness)
    val Some((_, keptAbs, _)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v),
      Seq(org.apache.spark.sql.sources.EqualTo("tag", "tag-9999")))
    keptAbs should be <= 1
    GraftTable.read(spark, path, v).filter(col("tag") === "tag-9999").count() shouldBe 0L
    // non-bloom column equality still behaves (min/max path untouched)
    GraftTable.prunedDataPaths(GraftTable.snapshot(path, v),
      Seq(org.apache.spark.sql.sources.EqualTo("k", 5L))) should not be None
  }

  test("bloom collection failures or disabled config leave commits and pruning intact") {
    val path = Files.createTempDirectory("graft_bloom2").toString + "/t"
    GraftTable.create(spark.range(0, 128).toDF("k").withColumn("s", lit("x")),
      path, Seq("k"), nbuckets = 2)
    // no _bloom config: no bloom lines, stats still there
    GraftTable.snapshot(path, 0).fileStats.values.foreach(_.blooms shouldBe empty)
    // enabling with a column the schema lacks is harmless (filtered out)
    GraftTable.enableBloomFilters(path, Seq("nope"))
    GraftTable.upsert(spark, path, spark.range(0, 64).toDF("k").withColumn("s", lit("y")))
    val v = GraftTable.latestVersion(path)
    GraftTable.snapshot(path, v).fileStats.values.foreach(_.blooms shouldBe empty)
    GraftTable.read(spark, path, v).count() shouldBe 128L
  }

  test("matchUpperBound: a sound metadata row bound, exact zero, honest refusals") {
    val path = freshTable(4096, nbuckets = 4)
    val v = GraftTable.latestVersion(path)
    // the bound dominates the true count for any pushable predicate
    val trueN = GraftTable.read(spark, path).filter(col("k") < 100).count()
    val hi = GraftTable.matchUpperBound(GraftTable.snapshot(path, v), Seq(LessThan("k", 100L)))
    hi should not be empty
    hi.get should be >= trueN
    // a provably-empty predicate is EXACTLY zero (skip-everything proof)
    GraftTable.matchUpperBound(GraftTable.snapshot(path, v), Seq(LessThan("k", -1L))) shouldBe Some(0L)
    // the total-row ceiling: an unselective filter bounds by the snapshot
    GraftTable.matchUpperBound(GraftTable.snapshot(path, v),
      Seq(GreaterThanOrEqual("k", 0L))).get shouldBe 4096L
    // the LOWER bound (matchBounds): every row provably matching ⇒ the
    // file's whole count contributes; nothing provable ⇒ 0 — and the
    // lower slot exists ONLY under a complete translation
    val (loAll, hiAll) = GraftTable.matchBounds(GraftTable.snapshot(path, v),
      Seq(GreaterThanOrEqual("k", 0L)), complete = true)
    loAll shouldBe Some(4096L) // min >= 0 in every file, k never null
    hiAll shouldBe Some(4096L)
    val (loSel, _) = GraftTable.matchBounds(GraftTable.snapshot(path, v),
      Seq(LessThan("k", 100L)), complete = true)
    loSel.get should be <= trueN // sound, typically 0 (hash-spread files)
    GraftTable.matchBounds(GraftTable.snapshot(path, v),
      Seq(LessThan("k", 100L)), complete = false)._1 shouldBe None
    // requireNonNull over a stats'd column with zero nulls keeps the
    // full lower bound; an unknown column collapses it to 0
    GraftTable.matchBounds(GraftTable.snapshot(path, v), Seq(GreaterThanOrEqual("k", 0L)),
      complete = true, requireNonNull = Seq("x"))._1 shouldBe Some(4096L)
    GraftTable.matchBounds(GraftTable.snapshot(path, v), Seq(GreaterThanOrEqual("k", 0L)),
      complete = true, requireNonNull = Seq("nope"))._1 shouldBe Some(0L)
    // refusals, honest: empty filters; an outstanding MOR log
    GraftTable.matchUpperBound(GraftTable.snapshot(path, v), Nil) shouldBe None
    GraftTable.upsertMor(spark, path,
      spark.range(0, 3).toDF("k").withColumn("x", col("k") % 64)
        .withColumn("y", (col("k") * 7) % 64)
        .withColumn("s", concat(lit("row-"), format_string("%05d", col("k")))))
    GraftTable.matchUpperBound(GraftTable.snapshot(path, GraftTable.latestVersion(path)),
      Seq(LessThan("k", 100L))) shouldBe None
  }

  test("array columns carry null-count-only stats: IsNotNull proofs from metadata") {
    import org.apache.spark.sql.types._
    def mk(nullVec: Boolean): String = {
      val p = Files.createTempDirectory("graft_arrstats").toString + "/t"
      val df = spark.range(0, 200).toDF("k")
        .withColumn("vec",
          if (nullVec) lit(null).cast(ArrayType(FloatType))
          else typedlit(Seq(1.0f, 2.0f)))
      GraftTable.create(df, p, Seq("k"), nbuckets = 2)
      p
    }
    val full = mk(nullVec = false)
    val vF = GraftTable.latestVersion(full)
    // the sidecar records (min = max = unknown, nulls = 0) for the array
    GraftTable.snapshot(full, vF).fileStats.values.foreach { st =>
      val cs = st.cols("vec")
      cs.min shouldBe None
      cs.nullCount shouldBe 0L
    }
    // a zero-null vector column: IsNotNull is metadata-provable BOTH ways
    GraftTable.matchUpperBound(GraftTable.snapshot(full, vF),
      Seq(org.apache.spark.sql.sources.IsNotNull("vec"))) shouldBe Some(200L)
    GraftTable.matchBounds(GraftTable.snapshot(full, vF),
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("k", 0L)),
      complete = true, requireNonNull = Seq("vec"))._1 shouldBe Some(200L)
    // an all-null vector column: provably ZERO non-null rows
    val empty = mk(nullVec = true)
    GraftTable.matchUpperBound(GraftTable.snapshot(empty, GraftTable.latestVersion(empty)),
      Seq(org.apache.spark.sql.sources.IsNotNull("vec"))) shouldBe Some(0L)
  }

  test("manifests record snapshot schema and per-file min/max stats") {
    val path = freshTable()
    val stats = GraftTable.snapshot(path, 0).fileStats
    stats should not be empty
    stats.values.map(_.rows).sum shouldBe 4096L
    // every file carries stats for all four eligible columns
    stats.values.foreach { fs =>
      fs.cols.keySet shouldBe Set("k", "x", "y", "s")
      fs.cols("x").min should not be empty
      fs.cols("x").nullCount shouldBe 0L
    }
    val sc = GraftTable.snapshot(path, 0).schema
    sc.map(_.fieldNames.toSeq) shouldBe Some(Seq("k", "x", "y", "s"))
  }

  test("z-order clustered compaction with file splits -> range predicates skip files") {
    val path = freshTable()
    // hash-bucketed files each span the whole x/y domain: nothing skips
    val before = GraftTable.prunedDataPaths(GraftTable.snapshot(path, 0), Seq(LessThan("x", 8)))
    before.map { case (_, kept, total) => kept shouldBe total }
    // z-order on (x, y), several files per bucket → each file covers a
    // narrow z-slice, so a range predicate on EITHER dimension skips
    GraftTable.compact(spark, path, clusterBy = Some(Seq("x", "y")), targetFilesPerBucket = 8)
    val v = GraftTable.latestVersion(path)
    val Some((_, keptX, totalX)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v), Seq(LessThan("x", 8)))
    totalX should be >= 16
    keptX should be < totalX
    val Some((_, keptY, totalY)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v), Seq(GreaterThan("y", 55)))
    keptY should be < totalY
    // and the pruned read returns EXACTLY the full-scan answer
    val pruned = GraftTable.readStatsPruned(spark, GraftTable.snapshotAt(path, v), Seq(LessThan("x", 8)))
    pruned should not be empty
    pruned.get.filter(col("x") < 8).agg(count(lit(1)), sum("k")).collect() shouldBe
      GraftTable.read(spark, path, v).filter(col("x") < 8)
        .agg(count(lit(1)), sum("k")).collect()
  }

  test("3-dim z-order: range predicates on ANY of the three dimensions skip files") {
    val path = Files.createTempDirectory("graft_z3").toString + "/t"
    val df = spark.range(0, 4096).toDF("k")
      .withColumn("x", col("k") % 64)
      .withColumn("y", (col("k") * 7) % 64)
      .withColumn("z", (col("k") * 13) % 64)
    GraftTable.create(df, path, Seq("k"), nbuckets = 4)
    GraftTable.compact(spark, path, clusterBy = Some(Seq("x", "y", "z")),
      targetFilesPerBucket = 8)
    val v = GraftTable.latestVersion(path)
    Seq(LessThan("x", 8), GreaterThan("y", 55), LessThan("z", 8)).foreach { f =>
      val Some((_, kept, total)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v), Seq(f))
      withClue(s"$f: kept=$kept total=$total") {
        total should be >= 16
        kept should be < total
      }
    }
    // the pruned read returns EXACTLY the full-scan answer on every dim
    Seq(col("x") < 8, col("y") > 55, col("z") < 8).zip(
      Seq(LessThan("x", 8), GreaterThan("y", 55), LessThan("z", 8))).foreach {
      case (c, f) =>
        val pruned = GraftTable.readStatsPruned(spark, GraftTable.snapshotAt(path, v), Seq(f)).get
        pruned.filter(c).agg(count(lit(1)), sum("k")).collect() shouldBe
          GraftTable.read(spark, path, v).filter(c)
            .agg(count(lit(1)), sum("k")).collect()
    }
    // n·bits past the long budget refuses loudly instead of wrapping
    intercept[IllegalArgumentException] {
      graft.operators.Layout.zvalueN((1 to 5).map(_ => col("x")), bits = 16)
    }.getMessage should include("63")
  }

  test("format(\"graft\") reads through the stats-pruned scan stay correct") {
    val path = freshTable()
    GraftTable.compact(spark, path, clusterBy = Some(Seq("x", "y")), targetFilesPerBucket = 8)
    val viaSource = spark.read.format("graft").load(path)
      .filter(col("x") < 8 && col("y") >= 0).select("k", "x", "s")
    val expected = GraftTable.read(spark, path).filter(col("x") < 8).select("k", "x", "s")
    viaSource.orderBy("k").collect() shouldBe expected.orderBy("k").collect()
    // string-prefix filters prune too (ASCII range [p, p+1))
    val prefix = spark.read.format("graft").load(path)
      .filter(col("s").startsWith("row-0001")).count()
    prefix shouldBe 10L // row-00010..row-00019
  }

  test("stats survive carry-over: untouched dirs resolve from their attempts' segments") {
    val path = freshTable(n = 1024)
    GraftTable.upsert(spark, path, Seq((7L, 999L, 999L, "upd")).toDF("k", "x", "y", "s"))
    val stats = GraftTable.snapshot(path, 1).fileStats
    // all rows still stat-covered: rewritten bucket fresh, others carried
    stats.values.map(_.rows).sum shouldBe 1024L
    val m0 = GraftTable.snapshot(path, 0).dirs
    val m1 = GraftTable.snapshot(path, 1).dirs
    val carried = m1.filter { case (b, d) => m0.get(b).contains(d) }.values
    carried should not be empty
    carried.foreach { d =>
      stats.keys.exists(_.startsWith(d + "/")) shouldBe true
    }
  }

  test("manifests stay O(buckets): stats live in per-attempt segments, not the manifest") {
    val path = freshTable(n = 1024)
    GraftTable.upsert(spark, path, Seq((7L, 999L, 999L, "upd")).toDF("k", "x", "y", "s"))
    // no #file/#stat lines inline — the commit rewrote O(buckets) bytes
    // of manifest even though the table's file count is unbounded
    val mdir = new java.io.File(path + "/manifests")
    (0 to 1).foreach { v =>
      val text = new String(Files.readAllBytes(new java.io.File(mdir, s"v$v").toPath))
      text.linesIterator.count(l => l.startsWith("#file=") || l.startsWith("#stat=")) shouldBe 0
    }
    // one segment per committed attempt, named for its data dir
    val segs = mdir.listFiles().map(_.getName).filter(_.endsWith(".stats"))
    segs should have size 2
    segs.foreach { s =>
      new java.io.File(path + "/data/" + s.stripSuffix(".stats")).isDirectory shouldBe true
    }
    // old snapshots' stats stay fully resolvable (time travel prunes too)
    GraftTable.snapshot(path, 0).fileStats.values.map(_.rows).sum shouldBe 1024L
    // vacuum to the head: v0's rewritten bucket dir goes; its attempt
    // dir survives (still carries v1's carried buckets) and so must its
    // segment — stats for the HEAD still resolve completely
    GraftTable.vacuum(path)
    GraftTable.snapshot(path, 1).fileStats.values.map(_.rows).sum shouldBe 1024L
  }

  test("a legacy inline-stats manifest upgrades to segments on the next commit") {
    val path = freshTable(n = 512)
    // forge the legacy format: fold v0's segment lines INTO the manifest
    // and drop the segment, as a pre-segment writer would have left it
    val mdir = new java.io.File(path + "/manifests")
    val seg = mdir.listFiles().filter(_.getName.endsWith(".stats")).head
    val segLines = new String(Files.readAllBytes(seg.toPath))
    val v0 = new java.io.File(mdir, "v0")
    val v0Lines = new String(Files.readAllBytes(v0.toPath)).linesIterator.toSeq
    val (headers, dirs) = v0Lines.partition(_.startsWith("#"))
    new java.io.File(mdir, ".v0.crc").delete()
    Files.write(v0.toPath, (headers ++ segLines.linesIterator ++ dirs).mkString("\n").getBytes)
    seg.delete()
    GraftTable.snapshot(path, 0).fileStats.values.map(_.rows).sum shouldBe 512L // inline resolves
    // next commit copies the carried dirs' inline lines out to segments
    GraftTable.upsert(spark, path, Seq((7L, 999L, 999L, "upd")).toDF("k", "x", "y", "s"))
    val v1text = new String(Files.readAllBytes(new java.io.File(mdir, "v1").toPath))
    v1text.linesIterator.count(_.startsWith("#stat=")) shouldBe 0
    GraftTable.snapshot(path, 1).fileStats.values.map(_.rows).sum shouldBe 512L
    mdir.listFiles().count(_.getName.endsWith(".stats")) shouldBe 2 // upgraded v0 + fresh v1
    // and pruning works off the upgraded segments: x > 63 lives only in
    // the freshly upserted file, every carried file proves x <= 63
    val v = GraftTable.latestVersion(path)
    val Some((_, kept, total)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v), Seq(GreaterThan("x", 63L)))
    kept should be < total
  }

  test("additive schema evolution composes with pruned reads (null padding)") {
    val path = freshTable(n = 512)
    GraftTable.compact(spark, path, clusterBy = Some(Seq("x", "y")), targetFilesPerBucket = 4)
    // new column arrives; old files lack it and must read as null
    GraftTable.upsert(spark, path,
      Seq((3L, 3L, 21L, "row-00003", "tagged")).toDF("k", "x", "y", "s", "tag"))
    val v = GraftTable.latestVersion(path)
    GraftTable.snapshot(path, v).schema.map(_.fieldNames.last) shouldBe Some("tag")
    val out = spark.read.format("graft").load(path)
      .filter(col("x") === 3).select("k", "tag").orderBy("k").collect()
    out.map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      (3L until 512L by 64L).map(k => (k, if (k == 3L) "tagged" else null)).toSeq
  }

  test("IsNull / IsNotNull prune on recorded null counts") {
    val path = Files.createTempDirectory("graft_stats_null").toString + "/t"
    val df = spark.range(0, 256).toDF("k")
      .withColumn("v", when(col("k") < 128, col("k")).otherwise(lit(null).cast("long")))
      .withColumn("z", col("k")) // z-cluster on (k, v) splits null/non-null files
    GraftTable.create(df, path, Seq("k"), nbuckets = 2)
    GraftTable.compact(spark, path, clusterBy = Some(Seq("k", "z")), targetFilesPerBucket = 4)
    val v = GraftTable.latestVersion(path)
    val Some((_, keptNull, total)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v), Seq(IsNull("v")))
    val Some((_, keptNotNull, _)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v), Seq(IsNotNull("v")))
    keptNull should be < total
    keptNotNull should be < total
    spark.read.format("graft").load(path).filter(col("v").isNull).count() shouldBe 128L
    spark.read.format("graft").load(path).filter(col("v").isNotNull).count() shouldBe 128L
  }

  test("timestamp columns prune via epoch-micros stats") {
    val path = Files.createTempDirectory("graft_stats_ts").toString + "/t"
    val df = spark.range(0, 512).toDF("k")
      .withColumn("ts", expr("timestamp_micros(cast(1700000000000000 + k * 86400000000 AS long))"))
      .withColumn("z", col("k"))
    GraftTable.create(df, path, Seq("k"), nbuckets = 2)
    // cluster on (k, z): files become narrow k-slices ⇒ narrow ts-slices
    GraftTable.compact(spark, path, clusterBy = Some(Seq("k", "z")), targetFilesPerBucket = 4)
    val v = GraftTable.latestVersion(path)
    val cutoff = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + 50L * 86400))
    val Some((_, kept, total)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v),
      Seq(LessThan("ts", cutoff)))
    kept should be < total
    spark.read.format("graft").load(path)
      .filter(col("ts") < lit(cutoff)).count() shouldBe 50L
  }

  test("linear time clustering (clusterBy (ts, ts)) gives disjoint per-file ts slices") {
    val path = Files.createTempDirectory("graft_stats_lints").toString + "/t"
    val df = spark.range(0, 512).toDF("k")
      .withColumn("ts", expr("timestamp_micros(cast(1700000000000000 + (k * 2654435761 % 512) * 86400000000 AS long))"))
      .withColumn("v", col("k") % 7)
    GraftTable.create(df, path, Seq("k"), nbuckets = 2)
    // a == b → LINEAR sort on ts (no z-interleave): files become
    // DISJOINT ts ranges, so a narrow time window keeps ~window/total
    GraftTable.compact(spark, path, clusterBy = Some(Seq("ts")),
      targetFilesPerBucket = 8)
    val v = GraftTable.latestVersion(path)
    val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + 100L * 86400))
    val hi = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + 140L * 86400))
    val Some((_, kept, total)) = GraftTable.prunedDataPaths(GraftTable.snapshot(path, v),
      Seq(GreaterThanOrEqual("ts", lo), LessThan("ts", hi)))
    // ~40/512 of the time range over 16 disjoint slices: most files skip
    kept.toDouble / total should be < 0.35
    // pruned read == full read, exactly
    spark.read.format("graft").load(path)
      .filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).count() shouldBe 40L
  }

  test("long text columns don't bloat the manifest: bounded min, unknown max") {
    val path = Files.createTempDirectory("graft_stats_text").toString + "/t"
    val df = spark.range(0, 64).toDF("k")
      .withColumn("text", concat(format_string("%03d-", col("k")),
        lit("x" * 500))) // ~0.5 KB per value
    GraftTable.create(df, path, Seq("k"), nbuckets = 2)
    val stats = GraftTable.snapshot(path, 0).fileStats
    stats.values.flatMap(_.cols.get("text")).foreach { cs =>
      cs.min.foreach(_.length should be <= 120) // truncated = valid lower bound
      cs.max shouldBe None // a truncated max would over-prune: unknown instead
    }
    // and the manifest file itself stays small despite the fat column
    Files.size(java.nio.file.Paths.get(path, "manifests", "v0")) should be < 64L * 1024
    // pruning on the text column stays conservative-correct
    spark.read.format("graft").load(path)
      .filter(col("text").startsWith("003-")).count() shouldBe 1L
  }

  test("legacy manifests (no stats/schema lines) still read, without pruning") {
    val path = freshTable(n = 256, nbuckets = 2)
    // strip the new header lines, simulating a manifest written before
    // stats existed (the fallback the format upgrade must keep alive)
    val mf = java.nio.file.Paths.get(path, "manifests", "v0")
    val legacy = Files.readString(mf).split("\n")
      .filterNot(l => l.startsWith("#schema=") || l.startsWith("#file=") || l.startsWith("#stat="))
      .mkString("\n")
    Files.writeString(mf, legacy)
    GraftTable.snapshot(path, 0).schema shouldBe None
    GraftTable.prunedDataPaths(GraftTable.snapshot(path, 0), Seq(LessThan("x", 8))) shouldBe None
    GraftTable.read(spark, path).count() shouldBe 256L
    spark.read.format("graft").load(path).filter(col("x") < 8).count() shouldBe
      256L / 8
    // the next write upgrades the table: schema + stats appear
    GraftTable.upsert(spark, path, Seq((1L, 1L, 7L, "row-00001")).toDF("k", "x", "y", "s"))
    GraftTable.snapshot(path, 1).schema should not be None
    GraftTable.snapshot(path, 1).fileStats should not be empty
  }

  test("restore carries the restored version's schema and stats forward") {
    val path = freshTable(n = 256, nbuckets = 2)
    GraftTable.upsert(spark, path, Seq((1L, 999L, 1L, "u")).toDF("k", "x", "y", "s"))
    GraftTable.restoreTo(path, 0)
    val v = GraftTable.latestVersion(path)
    v shouldBe 2
    GraftTable.snapshot(path, v).schema shouldBe GraftTable.snapshot(path, 0).schema
    GraftTable.snapshot(path, v).fileStats shouldBe GraftTable.snapshot(path, 0).fileStats
    GraftTable.read(spark, path).filter(col("k") === 1).head().getLong(1) shouldBe 1L % 64
  }
}
