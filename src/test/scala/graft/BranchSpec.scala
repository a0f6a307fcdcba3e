package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** Branches / write-audit-publish: staged commits invisible to main,
  * the audit diff, fast-forward publish with renumbering, refusals on
  * non-fast-forward, crash-retry idempotence, drop, and vacuum's
  * branch-pinned liveness.
  */
class BranchSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  private def freshTable(n: Int = 100): String = {
    val path = Files.createTempDirectory("branch").toString + "/t"
    GraftTable.create(
      spark.range(0, n).toDF("k")
        .withColumn("v", col("k") % 10)
        .withColumn("s", concat(lit("row"), col("k"))),
      path, Seq("k"), nbuckets = 4)
    path
  }

  test("branch commits stage invisibly; main reads/writes/history never see them") {
    val path = freshTable()
    val v0 = GraftTable.latestVersion(path)
    GraftTable.branchCreate(path, "ingest") shouldBe v0
    GraftTable.branchUpsert(spark, path, "ingest",
      Seq((500L, 1L, "staged")).toDF("k", "v", "s"))
    GraftTable.branchDeleteKeys(spark, path, "ingest", Seq(0L).toDF("k"))
    // main is untouched: same head, same content, same history
    GraftTable.latestVersion(path) shouldBe v0
    GraftTable.read(spark, path).count() shouldBe 100L
    GraftTable.read(spark, path).filter(col("k") === 500L).count() shouldBe 0L
    // the branch head serves the staged state
    val b = GraftTable.readBranch(spark, path, "ingest")
    b.count() shouldBe 100L // +1 insert, -1 delete
    b.filter(col("k") === 500L).count() shouldBe 1L
    b.filter(col("k") === 0L).count() shouldBe 0L
    // and a concurrent MAIN write is not blocked by the staged slots
    GraftTable.upsert(spark, path, Seq((7L, 99L, "main")).toDF("k", "v", "s"))
    GraftTable.latestVersion(path) shouldBe v0 + 1
  }

  test("branchChanges is the audit diff: exactly the staged upserts and deletes") {
    val path = freshTable()
    GraftTable.branchCreate(path, "audit")
    GraftTable.branchUpsert(spark, path, "audit",
      Seq((3L, 77L, "patched")).toDF("k", "v", "s"))
    GraftTable.branchDeleteKeys(spark, path, "audit", Seq(9L).toDF("k"))
    val diff = GraftTable.branchChanges(spark, path, "audit")
      .select("k", "_deleted").as[(Long, Boolean)].collect().sortBy(_._1)
    diff.toSeq shouldBe Seq((3L, false), (9L, true))
  }

  test("publish fast-forwards: staged commits become real versions, branch record gone") {
    val path = freshTable()
    val v0 = GraftTable.latestVersion(path)
    GraftTable.branchCreate(path, "wap")
    GraftTable.branchUpsert(spark, path, "wap",
      Seq((200L, 2L, "a")).toDF("k", "v", "s"))
    GraftTable.branchUpsert(spark, path, "wap",
      Seq((201L, 3L, "b")).toDF("k", "v", "s"))
    GraftTable.publish(path, "wap") shouldBe v0 + 2
    GraftTable.latestVersion(path) shouldBe v0 + 2
    val got = GraftTable.read(spark, path)
    got.count() shouldBe 102L
    got.filter(col("k").isin(200L, 201L)).count() shouldBe 2L
    // intermediate branch commit is real history: time travel serves it
    val mid = GraftTable.read(spark, path, v0 + 1)
    mid.filter(col("k") === 200L).count() shouldBe 1L
    mid.filter(col("k") === 201L).count() shouldBe 0L
    GraftTable.branchExists(path, "wap") shouldBe false
    // post-publish the table keeps evolving normally, MOR included
    GraftTable.upsertMor(spark, path, Seq((200L, 9L, "a2")).toDF("k", "v", "s"))
    GraftTable.read(spark, path).filter(col("k") === 200L)
      .head().getLong(1) shouldBe 9L
  }

  test("publish refuses when main advanced past the base — fast-forward only") {
    val path = freshTable()
    GraftTable.branchCreate(path, "late")
    GraftTable.branchUpsert(spark, path, "late",
      Seq((300L, 1L, "x")).toDF("k", "v", "s"))
    GraftTable.upsert(spark, path, Seq((1L, 50L, "moved")).toDF("k", "v", "s"))
    val e = intercept[IllegalStateException] { GraftTable.publish(path, "late") }
    e.getMessage should include("fast-forward")
    // the conflict is caught in PREFLIGHT, before any marker goes down
    e.getMessage should include("nothing was published")
    // the refusal is clean: main's history is untouched and the branch
    // is still there to drop or re-stage
    GraftTable.read(spark, path).filter(col("k") === 300L).count() shouldBe 0L
    GraftTable.branchExists(path, "late") shouldBe true
    GraftTable.branchDrop(path, "late") shouldBe true
    GraftTable.branchDrop(path, "late") shouldBe false
  }

  test("publish retry tolerates a crash mid-cleanup: published commits are recognized as done") {
    val path = freshTable()
    val v0 = GraftTable.latestVersion(path)
    GraftTable.branchCreate(path, "crash")
    GraftTable.branchUpsert(spark, path, "crash",
      Seq((400L, 1L, "p")).toDF("k", "v", "s"))
    GraftTable.branchUpsert(spark, path, "crash",
      Seq((401L, 2L, "q")).toDF("k", "v", "s"))
    // simulate a prior publish that crashed during the CLEANUP loop of
    // commit 1: its target manifest + marker are live, its staged slot
    // already deleted — retry must treat that commit as done, not throw
    val (k1, slot1) = GraftTable.branchCommits(path, "crash").head
    val t1 = v0 + k1
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(path, "manifests", s"v$slot1"),
      java.nio.file.Paths.get(path, "manifests", s"v$t1"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_commits", s"v$t1"),
      System.currentTimeMillis().toString.getBytes)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(path, "manifests", s"v$slot1"))
    GraftTable.publish(path, "crash") shouldBe v0 + 2
    GraftTable.latestVersion(path) shouldBe v0 + 2
    val got = GraftTable.read(spark, path)
    got.filter(col("k").isin(400L, 401L)).count() shouldBe 2L
    GraftTable.branchExists(path, "crash") shouldBe false
  }

  test("branch staging runs the full write contract: CHECK constraints guard it") {
    val path = freshTable()
    GraftTable.addConstraint(spark, path, "v_bound", "v < 1000")
    GraftTable.branchCreate(path, "guarded")
    intercept[Exception] {
      GraftTable.branchUpsert(spark, path, "guarded",
        Seq((400L, 5000L, "bad")).toDF("k", "v", "s"))
    }
    // the violating staged commit never landed
    GraftTable.branchHead(path, "guarded") shouldBe GraftTable.branchBase(path, "guarded")
  }

  test("vacuum keeps branch-referenced data; dropped-branch slots sweep after grace") {
    val path = freshTable()
    GraftTable.branchCreate(path, "keepme")
    GraftTable.branchUpsert(spark, path, "keepme",
      Seq((600L, 6L, "staged")).toDF("k", "v", "s"))
    // churn main so the keep window moves past the branch base
    (1 to 3).foreach { i =>
      GraftTable.upsert(spark, path, Seq((i.toLong, 0L, s"m$i")).toDF("k", "v", "s"))
    }
    GraftTable.vacuum(path, keepVersions = 1, orphanGraceMs = 0L)
    // the branch still reads intact (its slots and base are pinned)
    val b = GraftTable.readBranch(spark, path, "keepme")
    b.filter(col("k") === 600L).count() shouldBe 1L
    // ...but publish now refuses (main advanced), so drop it
    GraftTable.branchDrop(path, "keepme") shouldBe true
    // with the record gone, a zero-grace vacuum sweeps the staged slot
    GraftTable.vacuum(path, keepVersions = 1, orphanGraceMs = 0L)
    GraftTable.branches(path) shouldBe empty
  }

  test("SQL VERSION AS OF '<branch>' serves the staged head read-only") {
    val path = freshTable()
    GraftTable.branchCreate(path, "sqlview")
    GraftTable.branchUpsert(spark, path, "sqlview",
      Seq((800L, 8L, "staged")).toDF("k", "v", "s"))
    val k = "spark.sql.catalog.graft"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, classOf[graft.sources.v2.GraftCatalog].getName)
    try {
      spark.sql(s"SELECT * FROM graft.`$path` VERSION AS OF 'sqlview'")
        .filter(col("k") === 800L).count() shouldBe 1L
      // main through SQL still blind to the stage
      spark.sql(s"SELECT * FROM graft.`$path`")
        .filter(col("k") === 800L).count() shouldBe 0L
      // a pinned branch read refuses DML like any time-travel pin
      intercept[Exception] {
        spark.sql(s"DELETE FROM graft.`$path` VERSION AS OF 'sqlview' WHERE k = 1")
      }
    } finally old match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("fsck audits branches: clean when live, loud on a corrupted staged slot") {
    val path = freshTable(20)
    GraftTable.branchCreate(path, "audit")
    GraftTable.branchUpsert(spark, path, "audit",
      Seq((99L, 1L, "x")).toDF("k", "v", "s"))
    GraftTable.fsck(spark, path)
      .find(_.check == "branches_resolve").get.ok shouldBe true
    // vandalize: delete the staged slot's manifest behind the table's back
    val slot = GraftTable.branchCommits(path, "audit").head._2
    val p = new org.apache.hadoop.fs.Path(path, s"manifests/v$slot")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    val bad = GraftTable.fsck(spark, path)
      .find(_.check == "branches_resolve").get
    bad.ok shouldBe false
    bad.detail.get should include("audit")
  }

  test("publishVerified is the enforced audit gate: vandalized stage refused, clean publishes") {
    val path = freshTable(40)
    GraftTable.branchCreate(path, "gated")
    GraftTable.branchUpsert(spark, path, "gated",
      Seq((900L, 9L, "staged")).toDF("k", "v", "s"))
    // vandalize a STAGED data file behind the table's back
    val slot = GraftTable.branchCommits(path, "gated").head._2
    val dirs = GraftTable.snapshot(path, slot).dirs.values.toSeq
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = dirs.map(d => new org.apache.hadoop.fs.Path(s"$path/$d"))
      .flatMap(d => fs.listStatus(d).toSeq)
      .find(f => f.getPath.getName.endsWith(".parquet")).get.getPath
    val bytes = {
      val in = fs.open(victim)
      try { val b = new Array[Byte](fs.getFileStatus(victim).getLen.toInt)
            in.readFully(b); b } finally in.close()
    }
    fs.delete(victim, false)
    val v0 = GraftTable.latestVersion(path)
    val e = intercept[IllegalStateException] {
      GraftTable.publishVerified(spark, path, "gated")
    }
    e.getMessage should include("REFUSED")
    GraftTable.latestVersion(path) shouldBe v0 // main untouched
    // repair and the gate opens
    val out = fs.create(victim, false)
    try out.write(bytes) finally out.close()
    GraftTable.publishVerified(spark, path, "gated") shouldBe v0 + 1
    GraftTable.read(spark, path).filter(col("k") === 900L).count() shouldBe 1L
  }

  test("a streaming ingest stages onto a branch; publish lands the window at once") {
    val dir = TestSpark.sf0001
    val path = Files.createTempDirectory("branchstream").toString + "/t"
    // seed the table from a static read of the same events, then stage
    // the stream's upserts (idempotent content) onto a branch
    val seed = spark.read.parquet(s"$dir/events.parquet").limit(100)
      .select(col("event_id"), col("user_id"))
    GraftTable.create(seed, path, Seq("event_id"), nbuckets = 4)
    GraftTable.branchCreate(path, "stream")
    val v0 = GraftTable.latestVersion(path)
    graft.streaming.EventStreams.streamUpsertInto(spark, dir, path,
      Seq("event_id"), branch = Some("stream"))
    // main untouched while the whole window staged
    GraftTable.latestVersion(path) shouldBe v0
    GraftTable.read(spark, path).count() shouldBe 100L
    val staged = GraftTable.readBranch(spark, path, "stream").count()
    staged should be > 100L
    GraftTable.publish(path, "stream")
    GraftTable.read(spark, path).count() shouldBe staged
  }

  test("format(graft).option(branch, ...) reads the staged head") {
    val path = freshTable(20)
    GraftTable.branchCreate(path, "dsv1")
    GraftTable.branchUpsert(spark, path, "dsv1",
      Seq((777L, 7L, "staged")).toDF("k", "v", "s"))
    val got = spark.read.format("graft").option("branch", "dsv1").load(path)
    got.filter(col("k") === 777L).count() shouldBe 1L
    spark.read.format("graft").load(path)
      .filter(col("k") === 777L).count() shouldBe 0L
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("branch", "dsv1")
        .option("version", "0").load(path)
    }.getMessage should include("not both")
  }

  test("branch name and duplicate refusals") {
    val path = freshTable(10)
    intercept[IllegalArgumentException] {
      GraftTable.branchCreate(path, "bad name")
    }
    GraftTable.branchCreate(path, "dup")
    intercept[IllegalArgumentException] {
      GraftTable.branchCreate(path, "dup")
    }.getMessage should include("already exists")
  }

  test("two branches on one base: both stage independently, first publish wins") {
    val path = freshTable()
    GraftTable.branchCreate(path, "a")
    GraftTable.branchCreate(path, "b")
    GraftTable.branchUpsert(spark, path, "a", Seq((700L, 1L, "a")).toDF("k", "v", "s"))
    GraftTable.branchUpsert(spark, path, "b", Seq((701L, 1L, "b")).toDF("k", "v", "s"))
    GraftTable.readBranch(spark, path, "a").filter(col("k") === 701L).count() shouldBe 0L
    GraftTable.publish(path, "a")
    GraftTable.read(spark, path).filter(col("k") === 700L).count() shouldBe 1L
    // branch b is now non-fast-forward
    intercept[IllegalStateException] { GraftTable.publish(path, "b") }
    GraftTable.branchDrop(path, "b")
  }
}
