package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import graft.operators.Upsert
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** COW table semantics: create / upsert / snapshot isolation / time
  * travel / deletes (the reference's Hudi surface, demo.ipynb cell 8).
  */
class GraftTableSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  test("create, upsert (update+insert), read latest, time travel") {
    val path = Files.createTempDirectory("graft_table").toString + "/t"
    val v0 = Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "s", "x")
    GraftTable.create(v0, path, Seq("k"))
    GraftTable.latestVersion(path) shouldBe 0

    val updates = Seq((2L, "b2", 21), (3L, "c", 30)).toDF("k", "s", "x")
    GraftTable.upsert(spark, path, updates)
    GraftTable.latestVersion(path) shouldBe 1

    val latest = GraftTable.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    latest shouldBe Seq((1L, "a", 10), (2L, "b2", 21), (3L, "c", 30))

    val asOfV0 = GraftTable.read(spark, path, version = 0).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    asOfV0 shouldBe Seq((1L, "a", 10), (2L, "b", 20))
  }

  test("upsert rewrites only touched buckets; untouched dirs are carried over") {
    val path = Files.createTempDirectory("graft_cow").toString + "/t"
    val base = spark.range(0, 1000).toDF("k").withColumn("x", col("k") * 2)
    GraftTable.create(base, path, Seq("k"), nbuckets = 16)
    val m0 = GraftTable.snapshot(path, 0).dirs
    m0.size shouldBe 16

    // one updated key → exactly one touched bucket
    val up = Seq((7L, -1L)).toDF("k", "x")
    GraftTable.upsert(spark, path, up)
    val m1 = GraftTable.snapshot(path, 1).dirs
    val changed = m1.filter { case (b, d) => m0(b) != d }
    changed.size shouldBe 1
    changed.keys.foreach(b => m1(b) should startWith("data/v1-"))
    (m1 -- changed.keys) shouldBe (m0 -- changed.keys) // untouched: same files, no rewrite

    GraftTable.read(spark, path).filter(col("k") === 7).head().getLong(1) shouldBe -1L
    GraftTable.read(spark, path, version = 0).filter(col("k") === 7)
      .head().getLong(1) shouldBe 14L
    GraftTable.read(spark, path).count() shouldBe 1000L
  }

  test("vacuum drops unreferenced snapshots but keeps the live table intact") {
    val path = Files.createTempDirectory("graft_vac").toString + "/t"
    val base = spark.range(0, 200).toDF("k").withColumn("x", col("k"))
    GraftTable.create(base, path, Seq("k"), nbuckets = 4)
    for (i <- 1 to 3)
      GraftTable.upsert(spark, path, Seq((i.toLong, -i.toLong)).toDF("k", "x"))
    GraftTable.latestVersion(path) shouldBe 3

    GraftTable.vacuum(path, keepVersions = 1)
    // latest still fully readable with correct contents
    val live = GraftTable.read(spark, path)
    live.count() shouldBe 200L
    live.filter(col("k") === 2).head().getLong(1) shouldBe -2L
    // only dirs referenced by the surviving manifest remain on disk
    val referenced = GraftTable.snapshot(path, 3).dirs.values.toSet
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(path, "data"))
      .filter(p => p.getFileName.toString.startsWith("__bucket="))
      .map[String](p => java.nio.file.Paths.get(path).relativize(p).toString)
      .toArray.map(_.toString).toSet
    onDisk shouldBe referenced
    // time travel past the horizon is gone
    an[Exception] should be thrownBy
      GraftTable.read(spark, path, version = 0).collect()
    // a wider keep window after a narrower vacuum keeps what survives
    // (versions 1 and 2 are already gone) instead of refusing
    GraftTable.vacuumPlan(path, keepVersions = 3) shouldBe empty
    GraftTable.vacuum(path, keepVersions = 3)
    GraftTable.read(spark, path).count() shouldBe 200L
  }

  test("reads, restores, and time travel past the vacuum horizon fail with a clear error") {
    val path = Files.createTempDirectory("graft_vac_guard").toString + "/t"
    GraftTable.create(Seq((1L, 1)).toDF("k", "x"), path, Seq("k"), nbuckets = 2)
    val afterV0 = System.currentTimeMillis()
    for (i <- 2 to 4)
      GraftTable.upsert(spark, path, Seq((i.toLong, i)).toDF("k", "x"))
    GraftTable.vacuum(path, keepVersions = 2) // horizon passes versions 0 and 1

    // snapshot read of a vacuumed version: a named vacuum error, not an
    // FS read failure — and it says where readability resumes
    val ex = intercept[IllegalStateException] { GraftTable.read(spark, path, 0) }
    ex.getMessage should include("vacuumed")
    ex.getMessage should include("earliest readable version is 2")
    // restore and wall-clock time travel hit the same guard
    intercept[IllegalStateException] { GraftTable.restoreTo(path, 1) }
      .getMessage should include("vacuumed")
    intercept[IllegalStateException] { GraftTable.readAsOf(spark, path, afterV0) }
      .getMessage should include("vacuumed")
    // a version that never existed is a different, equally clear error
    intercept[IllegalArgumentException] { GraftTable.read(spark, path, 99) }
      .getMessage should include("no committed version 99")
    // the surviving window is untouched
    GraftTable.read(spark, path, 3).count() shouldBe 4L
  }

  test("vacuum grace-guards never-committed dirs (in-flight writers) but reclaims expired ones") {
    val path = Files.createTempDirectory("graft_vgrace").toString + "/t"
    GraftTable.create(Seq((1L, 1)).toDF("k", "x"), path, Seq("k"), nbuckets = 2)
    GraftTable.upsert(spark, path, Seq((1L, 2)).toDF("k", "x"))
    // simulate an IN-FLIGHT writer: data written, manifest not yet committed
    val inflight = java.nio.file.Paths.get(path, "data", "v9-inflight", "__bucket=0")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("part-0.parquet"), "pending")

    GraftTable.vacuum(path, keepVersions = 1) // default 24h grace
    // the racing writer's fresh dir survives; the expired committed v0 dir is gone
    java.nio.file.Files.exists(inflight) shouldBe true
    GraftTable.snapshot(path, 1).dirs.values.foreach { d =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, d)) shouldBe true
    }
    an[Exception] should be thrownBy GraftTable.read(spark, path, version = 0).collect()
    // with the grace elapsed (forced), the orphan is reclaimed
    GraftTable.vacuum(path, keepVersions = 1, orphanGraceMs = -1L)
    java.nio.file.Files.exists(inflight) shouldBe false
  }

  test("compact rewrites the snapshot to one file per bucket, content intact") {
    val path = Files.createTempDirectory("graft_cpt").toString + "/t"
    val base = spark.range(0, 500).toDF("k").withColumn("x", col("k") * 3)
    GraftTable.create(base, path, Seq("k"), nbuckets = 4)
    for (i <- 1 to 3)
      GraftTable.upsert(spark, path, Seq((i.toLong, -i.toLong)).toDF("k", "x"))
    val before = GraftTable.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    GraftTable.compact(spark, path)
    val after = GraftTable.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    after shouldBe before
    // every bucket dir of the compacted version holds exactly one data file
    GraftTable.snapshot(path, GraftTable.latestVersion(path)).dirs.values.foreach { d =>
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(path, d))
      try files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) shouldBe 1
      finally files.close()
    }
  }

  test("clustered compact z-orders each bucket's file, content and schema intact") {
    val path = Files.createTempDirectory("graft_zcpt").toString + "/t"
    // two interleaved dimensions so insertion order is NOT z order
    val base = spark.range(0, 512).toDF("k")
      .withColumn("x", (col("k") * 37) % 64)
      .withColumn("y", (col("k") * 11) % 64)
    GraftTable.create(base, path, Seq("k"), nbuckets = 4)
    val before = GraftTable.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    GraftTable.compact(spark, path, clusterBy = Some(Seq("x", "y")))

    val after = GraftTable.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    after shouldBe before
    // the transient cluster-sort column never reaches the table schema
    GraftTable.read(spark, path).columns.toSet shouldBe Set("k", "x", "y")

    // every file's rows are sorted by the z-value of (x, y) — the same
    // normalize-then-interleave arithmetic Layout computes (doubles in
    // the same op order, so the spec's z agrees bitwise)
    val (loX, hiX, loY, hiY) = (0.0, 63.0, 0.0, 63.0)
    def norm(v: Long, lo: Double, hi: Double): Long =
      math.min(math.floor((v.toDouble - lo) / (hi - lo) * 65535.0).toLong, 65535L)
    def zOf(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val vNow = GraftTable.latestVersion(path)
    GraftTable.snapshot(path, vNow).dirs.values.foreach { d =>
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(path, d))
      val parquets =
        try files.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
        finally files.close()
      parquets should not be empty
      parquets.foreach { f =>
        val zs = spark.read.parquet(f).select("x", "y").collect()
          .map(r => zOf(norm(r.getLong(0), loX, hiX), norm(r.getLong(1), loY, hiY)))
        zs.toSeq shouldBe zs.toSeq.sorted
      }
    }
  }

  test("rebucket evolves the layout; writers follow the head's bucket count") {
    val path = Files.createTempDirectory("graft_rbk").toString + "/t"
    val base = spark.range(0, 200).toDF("k").withColumn("x", col("k") * 2)
    GraftTable.create(base, path, Seq("k"), nbuckets = 4)

    GraftTable.rebucket(spark, path, 16)
    // content identical, new manifest pins the new count
    GraftTable.read(spark, path).count() shouldBe 200
    GraftTable.snapshot(path, 1).nbuckets shouldBe 16
    GraftTable.snapshot(path, 1).dirs.size should be > 4
    // a pure layout rewrite is NOT a data change
    GraftTable.changes(spark, path, 0, 1).count() shouldBe 0

    // an upsert after the rebucket buckets by 16: one key touches ONE dir
    GraftTable.upsert(spark, path, Seq((7L, -7L)).toDF("k", "x"))
    val m1 = GraftTable.snapshot(path, 1).dirs
    val m2 = GraftTable.snapshot(path, 2).dirs
    m2.count { case (b, d) => !m1.get(b).contains(d) } shouldBe 1
    GraftTable.read(spark, path).filter(col("k") === 7).head().getLong(1) shouldBe -7L
    GraftTable.read(spark, path).count() shouldBe 200
    // the change feed across the upsert is exactly that row
    val ch = GraftTable.changes(spark, path, 1, 2).collect()
    ch.map(_.getAs[Long]("k")).toSeq shouldBe Seq(7L)

    // time travel to the pre-rebucket layout still reads
    GraftTable.read(spark, path, 0).filter(col("k") === 7).head().getLong(1) shouldBe 14L
  }

  test("changes() emits exactly the rows added or updated between versions") {
    val path = Files.createTempDirectory("graft_cdc").toString + "/t"
    GraftTable.create(Seq((1L, 10), (2L, 20), (3L, 30)).toDF("k", "x"),
      path, Seq("k"), nbuckets = 4)
    GraftTable.upsert(spark, path, Seq((2L, 21), (4L, 40)).toDF("k", "x")) // v1
    GraftTable.upsert(spark, path, Seq((2L, 22)).toDF("k", "x"))           // v2

    def cc(from: Int, to: Int): Set[(Long, Int)] =
      GraftTable.changes(spark, path, from, to)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

    cc(0, 1) shouldBe Set((2L, 21), (4L, 40))
    cc(1, 2) shouldBe Set((2L, 22))
    cc(0, 2) shouldBe Set((2L, 22), (4L, 40)) // latest image, each row once
    cc(2, 2) shouldBe Set.empty
    // compaction rewrites everything but changes nothing
    GraftTable.compact(spark, path)
    cc(2, GraftTable.latestVersion(path)) shouldBe Set.empty
  }

  test("a racing upsert fails cleanly when another writer committed first") {
    val path = Files.createTempDirectory("graft_race").toString + "/t"
    GraftTable.create(Seq((1L, 1)).toDF("k", "x"), path, Seq("k"), nbuckets = 2)
    // simulate a concurrent winner: v1's manifest already exists by the
    // time our upsert (which read head = v0) tries to commit
    Files.writeString(java.nio.file.Paths.get(path, "manifests", "v1"), "")
    a[java.util.ConcurrentModificationException] should be thrownBy
      GraftTable.upsert(spark, path, Seq((1L, 2)).toDF("k", "x"))
    // the loser must not have corrupted the committed snapshot
    GraftTable.latestVersion(path) shouldBe 0
    GraftTable.read(spark, path).collect().map(r => (r.getLong(0), r.getInt(1))) shouldBe
      Array((1L, 1))
  }

  test("upsertRetry: ALL racing writers commit (serialized by the OCC lock)") {
    val path = Files.createTempDirectory("graft_retry").toString + "/t"
    GraftTable.create(Seq((0L, 0)).toDF("k", "x"), path, Seq("k"), nbuckets = 2)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val n = 4
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    val results = (1 to n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          go.await()
          GraftTable.upsertRetry(spark, path, Seq((i.toLong, i)).toDF("k", "x"),
            maxRetries = 20)
          true
        }
      })
    }
    go.countDown()
    results.foreach(_.get(180, TimeUnit.SECONDS) shouldBe true)
    pool.shutdown()
    // every writer landed: n commits on top of v0, all keys present
    GraftTable.latestVersion(path) shouldBe n
    GraftTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap shouldBe
      (0 to n).map(i => i.toLong -> i).toMap
  }

  test("two concurrent upserts: at least one commits, state stays consistent") {
    val path = Files.createTempDirectory("graft_race2").toString + "/t"
    GraftTable.create(Seq((1L, 0), (2L, 0)).toDF("k", "x"), path, Seq("k"), nbuckets = 2)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val results = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          go.await()
          try { GraftTable.upsert(spark, path, Seq((i.toLong, i)).toDF("k", "x")); true }
          catch { case _: java.util.ConcurrentModificationException => false }
        }
      })
    }
    go.countDown()
    val oks = results.map(_.get(120, TimeUnit.SECONDS)).count(identity)
    pool.shutdown()
    oks should be >= 1
    // version head advanced by exactly the number of successful commits
    GraftTable.latestVersion(path) shouldBe oks
    // table remains fully readable and consistent (2 keys, last-wins values)
    val rows = GraftTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    rows.keySet shouldBe Set(1L, 2L)
  }

  test("additive schema evolution: new columns appear, old rows read null") {
    val path = Files.createTempDirectory("graft_evo").toString + "/t"
    GraftTable.create(Seq((1L, 10), (2L, 20)).toDF("k", "x"), path, Seq("k"), nbuckets = 2)
    // updates carry a NEW column y
    GraftTable.upsert(spark, path,
      Seq((2L, 21, "new"), (3L, 30, "row")).toDF("k", "x", "y"))
    val got = GraftTable.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.getAs[String]("y")))).toSeq
    got shouldBe Seq((1L, 10, None), (2L, 21, Some("new")), (3L, 30, Some("row")))
    // updates may also OMIT a non-key column: replaced rows read it as null
    GraftTable.upsert(spark, path, Seq((1L, "patched")).toDF("k", "y"))
    val r1 = GraftTable.read(spark, path).filter(col("k") === 1).head()
    Option(r1.getAs[Integer]("x")) shouldBe None
    r1.getAs[String]("y") shouldBe "patched"
    // change feed stays well-typed across the evolution boundary
    noException should be thrownBy GraftTable.changes(spark, path, 0, 2).collect()
  }

  test("readAsOf returns the snapshot committed at or before a timestamp") {
    val path = Files.createTempDirectory("graft_ts").toString + "/t"
    GraftTable.create(Seq((1L, 1)).toDF("k", "x"), path, Seq("k"), nbuckets = 2)
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(5)
    GraftTable.upsert(spark, path, Seq((1L, 2)).toDF("k", "x"))
    GraftTable.readAsOf(spark, path, afterV0).head().getInt(1) shouldBe 1
    GraftTable.readAsOf(spark, path, System.currentTimeMillis())
      .head().getInt(1) shouldBe 2
    a[IllegalArgumentException] should be thrownBy
      GraftTable.readAsOf(spark, path, 0L)
  }

  test("metadata IO goes through the Hadoop FileSystem layer: file: URI end-to-end") {
    // java.nio.Paths cannot resolve a "file:"-prefixed string (it would
    // treat it as a relative path named "file:"), so every metadata op
    // succeeding here proves create/read/manifest/commit/vacuum all run
    // through org.apache.hadoop.fs.FileSystem — the layer that also
    // speaks hdfs:// and s3a://.
    val dir = Files.createTempDirectory("graft_hfs")
    val path = "file:" + dir.toString + "/t"
    GraftTable.create(Seq((1L, 1)).toDF("k", "x"), path, Seq("k"), nbuckets = 2)
    GraftTable.upsert(spark, path, Seq((1L, 2), (2L, 5)).toDF("k", "x"))
    GraftTable.latestVersion(path) shouldBe 1
    GraftTable.read(spark, path).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getInt(1))) shouldBe Array((1L, 2), (2L, 5))
    GraftTable.changes(spark, path, 0, 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet shouldBe Set((1L, 2), (2L, 5))
    // commit markers written through Hadoop's checksummed local FS leave
    // .crc sidecars — direct evidence the write used the FileSystem API
    java.nio.file.Files.exists(dir.resolve("t/_commits/.v0.crc")) shouldBe true
    GraftTable.compact(spark, path)
    GraftTable.vacuum(path, keepVersions = 1)
    GraftTable.read(spark, path).count() shouldBe 2
  }

  test("delete rewrites only touched buckets; changes() reports _deleted images") {
    val path = Files.createTempDirectory("graft_del").toString + "/t"
    val base = spark.range(0, 100).toDF("k").withColumn("x", col("k") * 2)
    GraftTable.create(base, path, Seq("k"), nbuckets = 8)
    val m0 = GraftTable.snapshot(path, 0).dirs

    GraftTable.delete(spark, path, Seq(7L, 13L).toDF("k"))
    GraftTable.latestVersion(path) shouldBe 1
    val live = GraftTable.read(spark, path)
    live.count() shouldBe 98L
    live.filter(col("k").isin(7L, 13L)).count() shouldBe 0L
    // COW held: at most the two buckets the keys hash into were rewritten
    val m1 = GraftTable.snapshot(path, 1).dirs
    (m0.keySet ++ m1.keySet).count(b => m0.get(b) != m1.get(b)) should be <= 2
    // CDC: removals surface as _deleted=true carrying the last stored image
    val ch = GraftTable.changes(spark, path, 0, 1)
    ch.columns.toSeq shouldBe Seq("k", "x", "_deleted")
    ch.filter(col("_deleted")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((7L, 14L), (13L, 26L))
    ch.filter(!col("_deleted")).count() shouldBe 0L // untouched rows are not changes
    // time travel still sees the pre-delete snapshot
    GraftTable.read(spark, path, version = 0).count() shouldBe 100L
  }

  test("deleting every row leaves an empty readable table with its schema") {
    val path = Files.createTempDirectory("graft_del_all").toString + "/t"
    GraftTable.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), path, Seq("k"), nbuckets = 2)
    GraftTable.delete(spark, path, Seq(1L, 2L).toDF("k"))
    val empty = GraftTable.read(spark, path)
    empty.count() shouldBe 0L
    empty.columns.toSet shouldBe Set("k", "s")
    // the emptying commit is a pure-delete change set
    val ch = GraftTable.changes(spark, path, 0, 1)
    ch.filter(col("_deleted")).count() shouldBe 2L
    ch.filter(!col("_deleted")).count() shouldBe 0L
    // and the table accepts new rows again afterwards
    GraftTable.upsert(spark, path, Seq((3L, "c")).toDF("k", "s"))
    GraftTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))) shouldBe Array((3L, "c"))
  }

  test("key-type mismatch in an update/delete batch is aligned, not mis-bucketed") {
    val path = Files.createTempDirectory("graft_ktype").toString + "/t"
    GraftTable.create(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), path, Seq("k"), nbuckets = 8)
    // Int-typed keys: xxhash64(int 2) != xxhash64(long 2) — unaligned,
    // these would hash into the wrong bucket and silently miss
    GraftTable.upsert(spark, path, Seq((2, "b2")).toDF("k", "s"))
    GraftTable.read(spark, path).filter(col("k") === 2L).head().getString(1) shouldBe "b2"
    GraftTable.delete(spark, path, Seq(Tuple1(1)).toDF("k"))
    GraftTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))) shouldBe Array((2L, "b2"))
  }

  test("restoreTo rolls back to an old snapshot as a new metadata-only commit") {
    val path = Files.createTempDirectory("graft_restore").toString + "/t"
    GraftTable.create(Seq((1L, 1), (2L, 2)).toDF("k", "x"), path, Seq("k"), nbuckets = 4)
    GraftTable.upsert(spark, path, Seq((2L, 22), (3L, 3)).toDF("k", "x")) // v1
    GraftTable.delete(spark, path, Seq(Tuple1(1L)).toDF("k"))             // v2

    GraftTable.restoreTo(path, 0)
    GraftTable.latestVersion(path) shouldBe 3
    // head == v0 content, via a pure manifest copy (nothing rewritten)
    GraftTable.read(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getInt(1))) shouldBe Array((1L, 1), (2L, 2))
    GraftTable.snapshot(path, 3).dirs shouldBe GraftTable.snapshot(path, 0).dirs
    // the rolled-back history is still time-travelable
    GraftTable.read(spark, path, version = 2).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getInt(1))) shouldBe Array((2L, 22), (3L, 3))
    // CDC across the restore: updates undone reappear, inserts undone delete
    val ch = GraftTable.changes(spark, path, 2, 3)
    ch.filter(col("_deleted")).collect().map(_.getLong(0)).toSeq shouldBe Seq(3L)
    ch.filter(!col("_deleted")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet shouldBe Set((1L, 1), (2L, 2))
    // restoring to the current head is a no-op
    GraftTable.restoreTo(path, 3)
    GraftTable.latestVersion(path) shouldBe 3
  }

  test("commitLog tolerates a legacy torn (empty) marker via mtime fallback") {
    val path = Files.createTempDirectory("graft_torn").toString + "/t"
    GraftTable.create(Seq((1L, "a")).toDF("k", "s"), path, Seq("k"))
    GraftTable.upsert(spark, path, Seq((2L, "b")).toDF("k", "s"))
    // simulate a pre-atomic-swap writer that crashed mid-marker-write
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_commits", "v1"),
      Array.empty[Byte])
    val log = GraftTable.commitLog(path)
    log.map(_._1) shouldBe Seq(0, 1)
    log.foreach { case (_, ts) => ts should be > 0L } // mtime, not an exception
    noException should be thrownBy
      GraftTable.readAsOf(spark, path, System.currentTimeMillis() + 1000).count()
  }

  test("vacuum on a path with no table fails with a clear message") {
    val path = Files.createTempDirectory("graft_vac_none").toString + "/t"
    val ex = intercept[IllegalArgumentException] { GraftTable.vacuum(path) }
    ex.getMessage should include("no table")
  }

  test("last-wins merge is deterministic when updates repeat a key") {
    val base = Seq((1L, 1)).toDF("k", "x")
    val up = Seq((1L, 2)).toDF("k", "x")
    Upsert.merge(base, up, Seq("k")).collect().map(r => (r.getLong(0), r.getInt(1))) shouldBe
      Array((1L, 2))
  }

  test("mergeWithDeletes drops flagged keys") {
    val base = Seq((1L, 1), (2L, 2)).toDF("k", "x")
    val up = Seq((2L, -1)).toDF("k", "x")
    val got = Upsert.mergeWithDeletes(base, up, Seq("k"), col("x") < 0)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    got shouldBe Set((1L, 1))
  }
}
