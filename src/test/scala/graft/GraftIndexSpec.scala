package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{IvfIndex, VectorSearch}
import graft.sources.{GraftHnsw, GraftIndex, GraftTable}
import java.nio.file.Files

/** The table-attached ANN index: built FROM a GraftTable snapshot,
  * version-pinned to it, refreshed through the table's own change feed
  * (upserts AND deletes, COW cell rewrite), and loudly stale when the
  * table moves past it — the reference's hudi_vector_search(TABLE_PATH)
  * serving model (demo.ipynb cell 11).
  */
class GraftIndexSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark
  import spark.implicits._

  /** deterministic pseudo-random unit-scale vectors */
  private def vec(k: Long, dim: Int = 8): Seq[Float] =
    (0 until dim).map(i => (((k * 31 + i * 17) % 97).toFloat - 48f) / 48f)

  private def freshTable(n: Int): String = {
    val path = Files.createTempDirectory("graft_index").toString + "/t"
    val df = (0L until n.toLong).map(k => (k, s"doc-$k", vec(k))).toDF("k", "s", "v")
    GraftTable.create(df, path, Seq("k"), nbuckets = 4)
    path
  }

  private def exactTopK(path: String, q: Seq[Float], k: Int): Seq[(Long, Double)] =
    VectorSearch.topK(GraftTable.read(spark, path), "v", "k", q, k, "cosine")
      .select("k", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("create -> upsert + delete -> refresh -> exhaustive probe == exact top-k on the NEW snapshot") {
    val path = freshTable(500)
    GraftIndex.create(spark, path, "v", nlist = 8)
    GraftIndex.meta(path).indexedVersion shouldBe 0
    // 20 rows get entirely new vectors, 10 brand-new keys appear…
    val updates = ((0L until 20L).map(k => (k, s"upd-$k", vec(k + 5000))) ++
      (1000L until 1010L).map(k => (k, s"new-$k", vec(k)))).toDF("k", "s", "v")
    GraftTable.upsert(spark, path, updates)
    // …and 30 keys vanish
    GraftTable.delete(spark, path, (30L until 60L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 2))
    GraftIndex.meta(path).indexedVersion shouldBe 2

    val q = vec(7777L)
    val got = GraftIndex.probe(spark, path, q, 12, nprobe = 8)
      .select("k", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got shouldBe exactTopK(path, q, 12)
    // payload columns come straight off the index (full-row layout)
    GraftIndex.probe(spark, path, q, 3, nprobe = 8).columns should contain("s")
    // a second refresh is a no-op
    GraftIndex.refresh(spark, path) shouldBe None
  }

  test("MOR deletes (deletion vectors) flow through refresh like COW deletes") {
    val path = freshTable(400)
    GraftIndex.create(spark, path, "v", nlist = 8)
    // a scattered DV delete (no bucket rewrite), then a re-inserting
    // upsert — the index must reflect the version-scoped end state
    GraftTable.deleteMor(spark, path, (0L until 400L by 7).toDF("k"))
    GraftTable.upsert(spark, path,
      Seq((14L, "back-14", vec(9014L))).toDF("k", "s", "v"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 2))
    val q = vec(4242L)
    val got = GraftIndex.probe(spark, path, q, 15, nprobe = 8)
      .select("k", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got shouldBe exactTopK(path, q, 15)
    // every still-deleted key is gone from the index; the re-insert is back
    val all = GraftIndex.probe(spark, path, q, 500, nprobe = 8)
      .select("k").as[Long].collect().toSet
    all.filter(k => k % 7 == 0 && k != 14L) shouldBe empty
    all should contain (14L)
  }

  test("MOR upserts (delta commits) flow through refresh like COW upserts") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 8)
    // log-only mutations: vector-replacing delta, brand-new keys in a
    // delta, then a DV — the index must reflect the arbitrated state
    GraftTable.upsertMor(spark, path,
      ((0L until 10L).map(k => (k, s"upd-$k", vec(k + 7000))) ++
        (800L until 805L).map(k => (k, s"new-$k", vec(k)))).toDF("k", "s", "v"))
    GraftTable.deleteMor(spark, path, Seq(1L, 800L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 2))
    val q = vec(1234L)
    val got = GraftIndex.probe(spark, path, q, 12, nprobe = 8)
      .select("k", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got shouldBe exactTopK(path, q, 12)
    val all = GraftIndex.probe(spark, path, q, 400, nprobe = 8)
      .select("k").as[Long].collect().toSet
    all should contain allOf (801L, 804L)
    all should contain noneOf (1L, 800L)
  }

  test("a probe against a stale index fails LOUDLY; allowStale serves the indexed snapshot") {
    val path = freshTable(200)
    GraftIndex.create(spark, path, "v", nlist = 4)
    GraftTable.upsert(spark, path, Seq((0L, "u", vec(9999L))).toDF("k", "s", "v"))
    val ex = intercept[IllegalStateException] {
      GraftIndex.probe(spark, path, vec(1L), 5, nprobe = 4)
    }
    ex.getMessage should include("STALE")
    ex.getMessage should include("refresh")
    // allowStale explicitly serves the indexed (v0) snapshot
    val stale = GraftIndex.probe(spark, path, vec(1L), 5, nprobe = 4, allowStale = true)
      .select("k").collect().map(_.getLong(0)).toSeq
    stale shouldBe VectorSearch.topK(GraftTable.read(spark, path, 0), "v", "k",
      vec(1L), 5, "cosine").select("k").collect().map(_.getLong(0)).toSeq
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    GraftIndex.probe(spark, path, vec(1L), 5, nprobe = 4).count() shouldBe 5
  }

  test("deleting every row of a cell drops it from the manifest; vacuum reclaims its files") {
    val path = Files.createTempDirectory("graft_index_cell").toString + "/t"
    // two well-separated clusters around ±e1 — KMeans(k=2) splits them
    val df = (0L until 200L).map { k =>
      val base = Array.fill(8)(0f)
      base(0) = if (k < 100) 1f else -1f
      base(1) = ((k % 7).toFloat - 3f) / 100f
      (k, base.toSeq)
    }.toDF("k", "v")
    GraftTable.create(df, path, Seq("k"), nbuckets = 2)
    GraftIndex.create(spark, path, "v", nlist = 2)
    GraftIndex.manifest(path).keySet should have size 2
    // wipe the negative cluster entirely → its cell must leave the manifest
    GraftTable.delete(spark, path, (100L until 200L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    GraftIndex.manifest(path).keySet should have size 1
    val q = { val b = Array.fill(8)(0f); b(0) = 1f; b.toSeq }
    GraftIndex.probe(spark, path, q, 200, nprobe = 2)
      .select("k").collect().map(_.getLong(0)).toSet shouldBe (0L until 100L).toSet
    // MVCC: the dead cell's FILES survive for pinned readers until vacuum…
    val dataDir = new java.io.File(path + "/_index/vec/data")
    def dataFiles(): Set[String] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(dataDir)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(f => dataDir.toPath.relativize(f.toPath).toString).toSet
    }
    val before = dataFiles()
    GraftIndex.vacuum(path) should be > 0
    val after = dataFiles()
    after.size should be < before.size
    // …and after vacuum, exactly the manifest's files remain on disk
    after shouldBe GraftIndex.manifest(path).values.flatten.toSet
    GraftIndex.probe(spark, path, q, 200, nprobe = 2)
      .select("k").collect().map(_.getLong(0)).toSet shouldBe (0L until 100L).toSet
  }

  test("MVCC: a probe planned before a refresh serves its pinned generation untorn") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val q = vec(4141L)
    val oldExact = exactTopK(path, q, 10)
    // plan (lazily) against the CURRENT generation…
    val pinned = GraftIndex.probe(spark, path, q, 10, nprobe = 4)
    // …then move the table and the index past it
    GraftTable.upsert(spark, path,
      (0L until 40L).map(k => (k, s"u-$k", vec(k + 7000))).toDF("k", "s", "v"))
    GraftTable.delete(spark, path, (200L until 240L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 2))
    // the refresh only ADDED files: every file the pinned plan references
    // still exists, and collecting it now yields the OLD snapshot's exact
    // top-k — with an in-place rewrite this read would be torn or missing
    pinned.select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe oldExact
    // while a fresh probe serves the NEW snapshot
    GraftIndex.probe(spark, path, q, 10, nprobe = 4)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exactTopK(path, q, 10)
  }

  test("a refresh that crashed before the meta swap is invisible; the retry commits") {
    val path = freshTable(250)
    GraftIndex.create(spark, path, "v", nlist = 4)
    GraftTable.upsert(spark, path,
      (0L until 10L).map(k => (k, s"u-$k", vec(k + 6000))).toDF("k", "s", "v"))
    // simulate a refresh that died AFTER writing its generation dir and
    // manifest but BEFORE the meta swap: plant a poisoned g1 attempt
    // (attempt-tokened, like a real crashed refresh would leave)
    val g1 = new java.io.File(path + "/_index/vec/data/g1-deadbeef/cluster_id=0")
    g1.mkdirs()
    Files.write(g1.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    Files.write(new java.io.File(path + "/_index/vec/manifests/g1-deadbeef").toPath,
      "0\tg1-deadbeef/cluster_id=0/part-junk.parquet".getBytes)
    // committed state is untouched: the index still serves generation 0
    GraftIndex.meta(path).gen shouldBe Some(0)
    GraftIndex.probe(spark, path, vec(3L), 5, nprobe = 4, allowStale = true)
      .count() shouldBe 5
    // the retry commits its OWN attempt manifest — the orphan is ignored
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    GraftIndex.meta(path).gen shouldBe Some(1)
    GraftIndex.meta(path).manifestName.get should not be "g1-deadbeef"
    val q = vec(909L)
    GraftIndex.probe(spark, path, q, 8, nprobe = 4)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exactTopK(path, q, 8)
  }

  test("a racing maintainer's same-generation attempt cannot hijack the commit") {
    // the round-5 caveat this kills: two refreshers racing on gen K+1
    // used to share ONE manifest file name, so the last meta swap could
    // pair its version pin with the OTHER attempt's manifest. Manifests
    // are now attempt-named and meta references the name, so a commit is
    // one self-consistent (version, manifest, files) swap. Simulate the
    // loser: its same-generation, differently-tokened manifest + dir
    // exist when the winner commits.
    val path = freshTable(150)
    GraftIndex.create(spark, path, "v", nlist = 4)
    GraftTable.upsert(spark, path,
      (0L until 10L).map(k => (k, s"w-$k", vec(k + 7000))).toDF("k", "s", "v"))
    // the losing racer's leftovers for generation 1 (poisoned content:
    // if any reader ever consults them, results go visibly wrong)
    val loser = new java.io.File(path + "/_index/vec/data/g1-00c0ffee/cluster_id=0")
    loser.mkdirs()
    Files.write(loser.toPath.resolve("part-junk.parquet"), Array[Byte](7))
    Files.write(new java.io.File(path + "/_index/vec/manifests/g1-00c0ffee").toPath,
      "0\tg1-00c0ffee/cluster_id=0/part-junk.parquet".getBytes)
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    val m = GraftIndex.meta(path)
    m.gen shouldBe Some(1)
    m.manifestName.get should startWith("g1-")
    m.manifestName.get should not be "g1-00c0ffee"
    // the committed pair is self-consistent: probe == exact on the head
    val q = vec(31L)
    GraftIndex.probe(spark, path, q, 8, nprobe = 4)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exactTopK(path, q, 8)
    // and the loser's attempt is vacuumable garbage, not live state
    GraftIndex.vacuum(path) should be > 0
    new java.io.File(path + "/_index/vec/manifests/g1-00c0ffee").exists() shouldBe false
    new java.io.File(path + "/_index/vec/data/g1-00c0ffee").exists() shouldBe false
  }

  test("vacuum keeps the newest keepGens generations and drops orphans") {
    val path = freshTable(200)
    GraftIndex.create(spark, path, "v", nlist = 4)
    // two refresh rounds → generations 0, 1, 2 on disk
    GraftTable.upsert(spark, path,
      (0L until 20L).map(k => (k, s"a-$k", vec(k + 3000))).toDF("k", "s", "v"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    GraftTable.upsert(spark, path,
      (20L until 40L).map(k => (k, s"b-$k", vec(k + 4000))).toDF("k", "s", "v"))
    GraftIndex.refresh(spark, path) shouldBe Some((1, 2))
    // plus an orphan (never-committed) g9 attempt
    val g9 = new java.io.File(path + "/_index/vec/data/g9/cluster_id=0")
    g9.mkdirs()
    Files.write(g9.toPath.resolve("part-junk.parquet"), Array[Byte](9))
    def manifestsFor(gen: Int): Array[String] =
      new java.io.File(path + "/_index/vec/manifests").list()
        .filter(n => n == s"g$gen" || n.startsWith(s"g$gen-"))
    // keepGens=2: generation 1's files survive for pinned readers
    GraftIndex.vacuum(path, keepGens = 2) should be > 0
    new java.io.File(path + "/_index/vec/data/g9").exists() shouldBe false
    manifestsFor(1) should not be empty
    manifestsFor(0) shouldBe empty
    // tighten to the current generation only
    GraftIndex.vacuum(path)
    manifestsFor(1) shouldBe empty
    val q = vec(555L)
    GraftIndex.probe(spark, path, q, 10, nprobe = 4)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exactTopK(path, q, 10)
  }

  test("a legacy (pre-manifest) index self-upgrades on refresh") {
    val path = freshTable(150)
    GraftIndex.create(spark, path, "v", nlist = 4)
    // strip the MVCC bookkeeping: no gen= line, no manifests dir
    val metaFile = new java.io.File(path + "/_index/vec/meta")
    val legacy = new String(Files.readAllBytes(metaFile.toPath))
      .linesIterator.filterNot(_.startsWith("gen=")).mkString("\n")
    new java.io.File(path + "/_index/vec/.meta.crc").delete() // raw rewrite below invalidates it
    Files.write(metaFile.toPath, legacy.getBytes)
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(path + "/_index/vec/manifests"))
    GraftIndex.meta(path).gen shouldBe None
    // legacy probes fall back to the directory scan
    GraftIndex.probe(spark, path, vec(2L), 5, nprobe = 4).count() shouldBe 5
    // the next refresh adopts the layout as g0 and commits g1
    GraftTable.upsert(spark, path,
      Seq((0L, "u", vec(2222L))).toDF("k", "s", "v"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    GraftIndex.meta(path).gen shouldBe Some(1)
    val q = vec(313L)
    GraftIndex.probe(spark, path, q, 7, nprobe = 4)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exactTopK(path, q, 7)
  }

  test("additive table evolution flows through refresh: old index rows pad the new column") {
    val path = freshTable(100)
    GraftIndex.create(spark, path, "v", nlist = 4)
    // the upsert brings a NEW column; old index rows must read it as null
    GraftTable.upsert(spark, path,
      Seq((5L, "u", vec(8888L), "fresh")).toDF("k", "s", "v", "tag"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    val out = GraftIndex.probe(spark, path, vec(8888L), 3, nprobe = 4)
      .select("k", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    out(5L) shouldBe "fresh"
    (out - 5L).values.foreach(_ shouldBe null)
  }

  test("an index over an emptied table serves zero rows, then resurrects on new data") {
    val path = freshTable(120)
    GraftIndex.create(spark, path, "v", nlist = 4)
    // every row deleted → every cell dropped → the layout is EMPTY
    GraftTable.delete(spark, path, (0L until 120L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    val empty = GraftIndex.probe(spark, path, vec(5L), 10, nprobe = 4)
    empty.count() shouldBe 0L
    empty.columns should contain("score") // shaped like any probe, no schema crash
    // new rows arrive: refresh rebuilds cells from additions alone
    GraftTable.upsert(spark, path,
      (500L until 520L).map(k => (k, s"r-$k", vec(k))).toDF("k", "s", "v"))
    GraftIndex.refresh(spark, path) shouldBe Some((1, 2))
    GraftIndex.probe(spark, path, vec(510L), 1, nprobe = 4)
      .select("k").head().getLong(0) shouldBe 510L
  }

  test("kind=ivfpq: mutate -> refresh -> exhaustive probe with full re-rank == exact") {
    val path = freshTable(400)
    // the reference table's declared index type (Lance IVF_PQ); dim 8, m 4
    GraftIndex.create(spark, path, "v", nlist = 4, kind = "ivfpq", m = 4)
    GraftIndex.meta(path).kind shouldBe "ivfpq"
    GraftTable.upsert(spark, path,
      (0L until 15L).map(k => (k, s"u-$k", vec(k + 9000))).toDF("k", "s", "v"))
    GraftTable.delete(spark, path, (100L until 140L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 2))
    val q = vec(4242L)
    // exhaustive cells + corpus-covering re-rank ⇒ exact regardless of
    // code quality — proves encode-on-refresh kept the layout coherent
    val got = GraftIndex.probe(spark, path, q, 10, nprobe = 4,
      rerankFactor = Int.MaxValue).select("k").collect().map(_.getLong(0)).toSeq
    got shouldBe exactTopK(path, q, 10).map(_._1)
    // deleted keys can never surface
    got.toSet.intersect((100L until 140L).toSet) shouldBe empty
    // and a stale probe is as loud as the ivf kind's
    GraftTable.upsert(spark, path, Seq((1L, "x", vec(1L))).toDF("k", "s", "v"))
    intercept[IllegalStateException] {
      GraftIndex.probe(spark, path, q, 5, nprobe = 4)
    }.getMessage should include("STALE")
  }

  test("probe schema is ONE canonical shape across kinds and layout states") {
    // contract: table columns (snapshot order) minus the vector, score
    // last — never cluster_id / pq_code, never the vector, no per-kind
    // or empty-vs-populated drift
    val canonical = Seq("k", "s", "score")
    val ivf = freshTable(80)
    GraftIndex.create(spark, ivf, "v", nlist = 4)
    GraftIndex.probe(spark, ivf, vec(3L), 5, nprobe = 4).columns.toSeq shouldBe canonical
    val pq = freshTable(80)
    GraftIndex.create(spark, pq, "v", nlist = 4, kind = "ivfpq", m = 4)
    GraftIndex.probe(spark, pq, vec(3L), 5, nprobe = 4).columns.toSeq shouldBe canonical
    // emptied-table fast path produces the same shape
    GraftTable.delete(spark, ivf, (0L until 80L).toDF("k"))
    GraftIndex.refresh(spark, ivf) shouldBe Some((0, 1))
    GraftIndex.probe(spark, ivf, vec(3L), 5, nprobe = 4).columns.toSeq shouldBe canonical
  }

  test("knnJoin through the index: exhaustive == per-query exact; stale is loud") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val qs = Seq(1L, 2L, 3L).map(i => (i, vec(i + 500)))
    val got = GraftIndex.knnJoin(spark, path, qs, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(x => (-x._3, x._2)).map(x => (x._2, x._3)).toSeq).toMap
    qs.foreach { case (qid, qv) => got(qid) shouldBe exactTopK(path, qv, 3) }
    GraftTable.upsert(spark, path, Seq((0L, "u", vec(1L))).toDF("k", "s", "v"))
    intercept[IllegalStateException] {
      GraftIndex.knnJoin(spark, path, qs, 3, 4)
    }.getMessage should include("STALE")
  }

  test("filtered knnJoin: selective pred takes the exact brute leg, loose pred pushes into the scans") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val qs = Seq(1L, 2L).map(i => (i, vec(i + 500)))
    def filteredExact(qv: Seq[Float], k: Int, keep: Long => Boolean): Seq[Long] =
      GraftTable.read(spark, path).collect()
        .map(r => (r.getLong(r.fieldIndex("k")), r.getSeq[Float](r.fieldIndex("v"))))
        .filter { case (id, _) => keep(id) }
        .map { case (id, v) =>
          var dot = 0.0; var na = 0.0; var nb = 0.0
          v.indices.foreach { i =>
            dot += v(i).toDouble * qv(i); na += v(i).toDouble * v(i)
            nb += qv(i).toDouble * qv(i)
          }
          (id, dot / (math.sqrt(na) * math.sqrt(nb)))
        }.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSeq
    // SELECTIVE pred (30 of 300 match, under the cap): exact brute —
    // correct even at nprobe = 1, where the pushed leg would UNDER-FILL
    val sel = GraftIndex.knnJoin(spark, path, qs, k = 5, nprobe = 1,
        pred = Some(col("k") % 10 === 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(x => (-x._3, x._2)).map(_._2).toSeq).toMap
    qs.foreach { case (qid, qv) =>
      sel(qid) shouldBe filteredExact(qv, 5, _ % 10 == 3)
    }
    // LOOSE pred forced onto the pushed leg (bruteForceCap = 0) at
    // exhaustive nprobe: pred inside the full cell scan == filtered exact
    val loose = GraftIndex.knnJoin(spark, path, qs, k = 5, nprobe = 4,
        pred = Some(col("k") % 2 === 0), bruteForceCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(x => (-x._3, x._2)).map(_._2).toSeq).toMap
    qs.foreach { case (qid, qv) =>
      loose(qid) shouldBe filteredExact(qv, 5, _ % 2 == 0)
    }
    // nothing matches: empty, canonical (qid, key, score) shape
    val none = GraftIndex.knnJoin(spark, path, qs, k = 5, nprobe = 4,
      pred = Some(col("k") < 0))
    none.columns.toSeq shouldBe Seq("qid", "k", "score")
    none.count() shouldBe 0L
  }

  test("filtered knnJoin on a QUANTIZED layout: pred pushes into the quantized scan, rerank stays exact") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 4, storage = "sq8")
    val qs = Seq(7L).map(i => (i, vec(i + 700)))
    // forced pushed leg at exhaustive settings == filtered exact (the
    // rerank reads the TABLE's float column, so scores stay exact)
    val got = GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 4,
        rerankFactor = Int.MaxValue, pred = Some(col("k") % 2 === 0),
        bruteForceCap = 0)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(x => (-x._2, x._1))
    val want = VectorSearch.topK(
        GraftTable.read(spark, path).filter(col("k") % 2 === 0),
        "v", "k", qs.head._2, 4, "cosine")
      .select("k", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got.map(_._1).toSeq shouldBe want.map(_._1)
    got.zip(want).foreach { case ((_, g), (_, w)) => g shouldBe w +- 1e-12 }
  }

  test("COMPOSITE-key table: knnJoin plain/filtered-brute/pushed == per-query brute force") {
    // (tenant, id)-keyed table — the multi-tenant shape the r12 verdict
    // flagged: filtered knnJoin refused composite record keys. Keys now
    // ride the per-query top-k as ONE orderable struct (heap and window
    // order it identically) and expand back to (qid, tenant, id, score).
    val path = Files.createTempDirectory("graft_index").toString + "/t"
    val df = (0L until 300L).map(k => (s"t${k % 3}", k, s"doc-$k", vec(k)))
      .toDF("tenant", "id", "s", "v")
    GraftTable.create(df, path, Seq("tenant", "id"), nbuckets = 4)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val qs = Seq(1L, 2L).map(i => (i, vec(i + 500)))
    def brute(qv: Seq[Float], k: Int,
              keep: (String, Long) => Boolean): Seq[(String, Long)] =
      GraftTable.read(spark, path).collect()
        .map(r => ((r.getString(r.fieldIndex("tenant")), r.getLong(r.fieldIndex("id"))),
          r.getSeq[Float](r.fieldIndex("v"))))
        .filter { case ((t, id), _) => keep(t, id) }
        .map { case (key, v) =>
          var dot = 0.0; var na = 0.0; var nb = 0.0
          v.indices.foreach { i =>
            dot += v(i).toDouble * qv(i); na += v(i).toDouble * v(i)
            nb += qv(i).toDouble * qv(i)
          }
          (key, dot / (math.sqrt(na) * math.sqrt(nb)))
        }.sortBy { case ((t, id), sc) => (-sc, t, id) }.take(k).map(_._1).toSeq
    def byQid(got: org.apache.spark.sql.DataFrame): Map[Long, Seq[(String, Long)]] =
      got.collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2)), r.getDouble(3)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(x => (-x._3, x._2._1, x._2._2)).map(_._2).toSeq).toMap
    // plain (unfiltered): output is (qid, tenant, id, score), expanded
    val plain = GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 4)
    plain.columns.toSeq shouldBe Seq("qid", "tenant", "id", "score")
    qs.foreach { case (qid, qv) =>
      byQid(plain)(qid) shouldBe brute(qv, 4, (_, _) => true) }
    // SELECTIVE pred (100 of 300 match, under the cap): exact brute leg,
    // correct even at nprobe = 1 where the pushed leg would under-fill
    val sel = byQid(GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 1,
      pred = Some(col("tenant") === "t1")))
    qs.foreach { case (qid, qv) =>
      sel(qid) shouldBe brute(qv, 4, (t, _) => t == "t1") }
    // LOOSE pred forced onto the pushed leg at exhaustive nprobe
    val loose = byQid(GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 4,
      pred = Some(col("id") % 2 === 0), bruteForceCap = 0))
    qs.foreach { case (qid, qv) =>
      loose(qid) shouldBe brute(qv, 4, (_, id) => id % 2 == 0) }
    // nothing matches: empty, expanded shape
    val none = GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 4,
      pred = Some(col("id") < 0))
    none.columns.toSeq shouldBe Seq("qid", "tenant", "id", "score")
    none.count() shouldBe 0L
  }

  test("COMPOSITE-key QUANTIZED layout: filtered knnJoin reranks exactly from the table") {
    val path = Files.createTempDirectory("graft_index").toString + "/t"
    val df = (0L until 240L).map(k => (s"t${k % 2}", k, s"doc-$k", vec(k)))
      .toDF("tenant", "id", "s", "v")
    GraftTable.create(df, path, Seq("tenant", "id"), nbuckets = 4)
    GraftIndex.create(spark, path, "v", nlist = 4, storage = "sq8")
    val qs = Seq(7L).map(i => (i, vec(i + 700)))
    // forced pushed leg at exhaustive settings == filtered exact; the
    // rerank's bucket-pruned point lookup resolves the two-column key
    val got = GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 4,
        rerankFactor = Int.MaxValue, pred = Some(col("tenant") === "t0"),
        bruteForceCap = 0)
      .collect().map(r => ((r.getString(1), r.getLong(2)), r.getDouble(3)))
      .sortBy { case ((t, id), sc) => (-sc, t, id) }
    // driver-side brute force with the SAME (score desc, key asc)
    // tie-break the struct-keyed per-query cut applies
    val want = GraftTable.read(spark, path).filter(col("tenant") === "t0")
      .collect()
      .map { r =>
        val v = r.getSeq[Float](r.fieldIndex("v")); val qv = qs.head._2
        var dot = 0.0; var na = 0.0; var nb = 0.0
        v.indices.foreach { i =>
          dot += v(i).toDouble * qv(i); na += v(i).toDouble * v(i)
          nb += qv(i).toDouble * qv(i)
        }
        ((r.getString(r.fieldIndex("tenant")), r.getLong(r.fieldIndex("id"))),
          dot / (math.sqrt(na) * math.sqrt(nb)))
      }.sortBy { case ((t, id), sc) => (-sc, t, id) }.take(4).toSeq
    got.map(_._1).toSeq shouldBe want.map(_._1)
    got.zip(want).foreach { case ((_, g), (_, w)) => g shouldBe w +- 1e-12 }
  }

  test("probeMmr: serving-tier MMR == scan-side mmrTopK on identical candidates; lambda=1 == plain probe; TVF == Scala") {
    val path = freshTable(400)
    GraftIndex.create(spark, path, "v", nlist = 8)
    val q = vec(4321L)
    // exhaustive nprobe ⇒ stage 1's slice IS the exact top-50, i.e.
    // exactly mmrTopK's stage-1 slice — picks must agree rank-for-rank
    // with identical rel and mmr arithmetic
    val got = GraftIndex.probeMmr(spark, path, q, k = 8, nprobe = 8,
        lambda = 0.6, candidates = 50)
      .select("rank", "k", "score", "mmr_score").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val want = VectorSearch.mmrTopK(GraftTable.read(spark, path), "v", "k", q,
        k = 8, lambda = 0.6, candidates = 50)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    got shouldBe want
    // λ=1 degenerates to the plain probe's (score desc, key asc) order
    // (ordered explicitly — a probe's own output order is plan-shaped)
    val relOrder = GraftIndex.probe(spark, path, q, 8, nprobe = 8)
      .orderBy(desc("score"), asc("k")).select("k").as[Long].collect().toSeq
    val mmr1 = GraftIndex.probeMmr(spark, path, q, k = 8, nprobe = 8,
        lambda = 1.0, candidates = 50)
      .orderBy("rank").select("k").as[Long].collect().toSeq
    mmr1 shouldBe relOrder
    // TVF == Scala, rank for rank
    GraftFunctions.register(spark)
    val qLit = q.map(v => s"CAST($v AS FLOAT)").mkString("array(", ", ", ")")
    val tvf = spark.sql(
        s"""SELECT rank, k, score, mmr_score
            FROM graft_index_mmr('$path', $qLit, 8, 0.6, 50) ORDER BY rank""")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    tvf shouldBe got
    // refusals carry over: l2 metric has no similarity for the
    // diversity term; k > candidates is malformed
    intercept[IllegalArgumentException] {
      GraftIndex.probeMmr(spark, path, q, k = 8, nprobe = 8,
        lambda = 0.6, candidates = 4)
    }
  }

  test("probeMmr under a predicate: stage 1 is the FILTERED probe (brute leg), greedy over the filtered slice") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val q = vec(999L)
    val got = GraftIndex.probeMmr(spark, path, q, k = 5, nprobe = 4,
        lambda = 0.6, candidates = 30, pred = Some(col("k") % 10 === 3))
      .select("rank", "k").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // every pick satisfies the pred, and picks equal the greedy over
    // the filtered exact top-30 slice
    got.map(_._2).foreach(k => (k % 10) shouldBe 3)
    val want = VectorSearch.mmrTopK(
        GraftTable.read(spark, path).filter(col("k") % 10 === 3),
        "v", "k", q, k = 5, lambda = 0.6, candidates = 30)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    got shouldBe want
  }

  test("knnJoin on the OPQ-rotated PQ kind: exhaustive == exact after mutations") {
    val path = freshTable(400)
    GraftIndex.create(spark, path, "v", nlist = 4, kind = "ivfpq", m = 4, opq = true)
    GraftTable.upsert(spark, path,
      (0L until 12L).map(k => (k, s"u-$k", vec(k + 8000))).toDF("k", "s", "v"))
    GraftTable.delete(spark, path, (50L until 70L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 2))
    val qs = Seq(5L, 6L).map(i => (i, vec(i + 900)))
    val got = GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(x => (-x._3, x._2)).map(x => (x._2, x._3)).toSeq).toMap
    qs.foreach { case (qid, qv) => got(qid) shouldBe exactTopK(path, qv, 4) }
  }

  test("table maintenance flows through refresh: compact is a no-op, restore re-applies") {
    val path = freshTable(200)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val q = vec(777L)
    val v0Exact = exactTopK(path, q, 8)
    // an upsert moves the table; refresh folds it in
    GraftTable.upsert(spark, path,
      (0L until 15L).map(k => (k, s"u-$k", vec(k + 2000))).toDF("k", "s", "v"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    // compaction rewrites every bucket but changes NO row: the refresh
    // advances the version pin without touching a single cell
    GraftTable.compact(spark, path)
    val genBefore = GraftIndex.meta(path).gen
    GraftIndex.refresh(spark, path) shouldBe Some((1, 2))
    GraftIndex.meta(path).gen shouldBe genBefore // no cell rewrite happened
    GraftIndex.probe(spark, path, q, 8, nprobe = 4)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exactTopK(path, q, 8)
    // restore rolls the table back to v0; the change feed reports the
    // rolled-back rows and refresh restores the original ranking
    GraftTable.restoreTo(path, 0)
    GraftIndex.refresh(spark, path) should not be None
    GraftIndex.probe(spark, path, q, 8, nprobe = 4)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe v0Exact
  }

  test("rebuild refits the model as a new generation; pinned probes stay untorn") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 4)
    GraftIndex.meta(path).modelGen shouldBe Some(0)
    val q = vec(606L)
    val preExact = exactTopK(path, q, 8)
    val pinned = GraftIndex.probe(spark, path, q, 8, nprobe = 4) // planned pre-rebuild
    // the corpus drifts: new rows arrive
    GraftTable.upsert(spark, path,
      (300L until 380L).map(k => (k, s"n-$k", vec(k + 100))).toDF("k", "s", "v"))
    // refit with a re-tuned nlist, catching the index up to head in one step
    GraftIndex.rebuild(spark, path, nlist = Some(8))
    val m1 = GraftIndex.meta(path)
    m1.modelGen shouldBe Some(1)
    m1.nlist shouldBe 8
    m1.indexedVersion shouldBe 1
    GraftIndex.probe(spark, path, q, 8, nprobe = 8)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exactTopK(path, q, 8)
    // the pre-rebuild plan still serves its own (model, manifest) pair
    pinned.select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe preExact
    // vacuum reclaims the superseded model dir with the old generations
    GraftIndex.vacuum(path)
    new java.io.File(path + "/_index/vec/model-g0").exists() shouldBe false
    new java.io.File(path + "/_index/vec/model-g1").exists() shouldBe true
    GraftIndex.probe(spark, path, q, 8, nprobe = 8).count() shouldBe 8
  }

  test("rebuild on ivfpq carries m and OPQ defaults from the current model") {
    val path = freshTable(250)
    GraftIndex.create(spark, path, "v", nlist = 4, kind = "ivfpq", m = 4, opq = true)
    GraftTable.upsert(spark, path,
      (250L until 280L).map(k => (k, s"n-$k", vec(k + 600))).toDF("k", "s", "v"))
    GraftIndex.rebuild(spark, path) // no overrides: same nlist/m, OPQ stays on
    GraftIndex.meta(path).modelGen shouldBe Some(1)
    val q = vec(4040L)
    GraftIndex.probe(spark, path, q, 10, nprobe = 4, rerankFactor = Int.MaxValue)
      .select("k").collect().map(_.getLong(0)).toSeq shouldBe
      exactTopK(path, q, 10).map(_._1)
  }

  test("storage=sq8: mutate -> refresh -> exhaustive probe == exact, scores float-exact") {
    val path = freshTable(400)
    GraftIndex.create(spark, path, "v", nlist = 4, storage = "sq8")
    GraftIndex.meta(path).storage shouldBe "sq8"
    GraftTable.upsert(spark, path,
      (0L until 15L).map(k => (k, s"u-$k", vec(k + 9000))).toDF("k", "s", "v"))
    GraftTable.delete(spark, path, (100L until 140L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 2))
    val q = vec(4242L)
    // exhaustive cells + corpus-covering rerank ⇒ exact INCLUDING the
    // scores: the rerank reads the TABLE's float column, so quantized
    // storage never shows up in an emitted number — only in recall at
    // partial settings
    val got = GraftIndex.probe(spark, path, q, 10, nprobe = 4,
        rerankFactor = Int.MaxValue)
      .select("k", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got shouldBe exactTopK(path, q, 10)
    // canonical probe shape: no vq_* / cluster_id / vector leaks out
    GraftIndex.probe(spark, path, q, 3, nprobe = 4)
      .columns.toSeq shouldBe Seq("k", "s", "score")
  }

  test("storage=binary: exhaustive == exact; partial settings keep a recall floor") {
    val path = freshTable(400)
    GraftIndex.create(spark, path, "v", nlist = 4, storage = "binary")
    val q = vec(515L)
    val exact = exactTopK(path, q, 10)
    GraftIndex.probe(spark, path, q, 10, nprobe = 4, rerankFactor = Int.MaxValue)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exact
    // the honest partial shape: 1-bit candidates lose rank fidelity,
    // but the sign proxy must still put most of the true top-k in a
    // 4×-widened frontier over half the cells
    val part = GraftIndex.probe(spark, path, q, 10, nprobe = 2, rerankFactor = 4)
      .select("k").collect().map(_.getLong(0)).toSet
    part.intersect(exact.map(_._1).toSet).size should be >= 5
  }

  test("storage=rabitq: mutate -> refresh -> exhaustive probe == exact; estimator beats plain signs at partial settings") {
    val path = freshTable(400)
    GraftIndex.create(spark, path, "v", nlist = 4, storage = "rabitq")
    // mutate + refresh: additions re-derive residual signs against the
    // SAME centroids/rotation the build used
    GraftTable.upsert(spark, path,
      (0L until 5L).map(k => (k, s"upd-$k", vec(k + 9000L))).toDF("k", "s", "v"))
    GraftTable.delete(spark, path, (10L until 15L).toDF("k"))
    GraftIndex.refresh(spark, path)
    val q = vec(515L)
    val exact = exactTopK(path, q, 10)
    // exhaustive + corpus-covering rerank ⇒ exact including scores,
    // regardless of proxy quality (the same contract as sq8/binary)
    GraftIndex.probe(spark, path, q, 10, nprobe = 4, rerankFactor = Int.MaxValue)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exact
    // partial settings still serve k full rows from the estimator's
    // frontier (rank-quality inequalities vs plain signs are pinned in
    // the norm-varying test below, where the difference is structural —
    // this dim-8 near-duplicate fixture sits below any 1-bit
    // estimator's resolution)
    GraftIndex.probe(spark, path, q, 10, nprobe = 2, rerankFactor = 4)
      .count() shouldBe 10L
  }

  test("rabitq vs binary where sign bits are BLIND: dot metric, log-normal norms") {
    // Gaussian directions × log-normal norms: ⟨q, sign(v)⟩ cannot see
    // ‖v‖ at all, while rabitq's estimator carries it exactly
    // (score = ⟨c,q⟩ + ‖r‖·‖q‖·est) — the structural advantage, pinned
    // deterministically (all draws seeded)
    def mk(storage: String): String = {
      val rows = (0L until 1500L).map { k =>
        val r = new scala.util.Random(k)
        val dir = Array.fill(32)(r.nextGaussian())
        val n = math.sqrt(dir.map(x => x * x).sum)
        val scale = math.exp(r.nextGaussian() * 0.7)
        (k, s"d$k", dir.map(x => (x / n * scale).toFloat).toSeq)
      }
      val p = Files.createTempDirectory(s"graft_rqn_$storage").toString + "/t"
      GraftTable.create(rows.toDF("k", "s", "v"), p, Seq("k"), nbuckets = 4)
      GraftIndex.create(spark, p, "v", nlist = 8, metric = "dot", storage = storage)
      p
    }
    def overlap(p: String): Double = {
      val qs = (9000L until 9008L).map { k =>
        val r = new scala.util.Random(k)
        val dir = Array.fill(32)(r.nextGaussian())
        val n = math.sqrt(dir.map(x => x * x).sum)
        dir.map(x => (x / n).toFloat).toSeq
      }
      qs.map { q =>
        val exact = VectorSearch.topK(GraftTable.read(spark, p), "v", "k", q, 10, "dot")
          .select("k").collect().map(_.getLong(0)).toSet
        GraftIndex.probe(spark, p, q, 10, nprobe = 4, rerankFactor = 4)
          .select("k").collect().map(_.getLong(0)).toSet
          .intersect(exact).size.toDouble / 10
      }.sum / qs.size
    }
    val ob = overlap(mk("binary"))
    val orq = overlap(mk("rabitq"))
    withClue(f"binary=$ob%.2f rabitq=$orq%.2f: ") {
      orq should be >= ob + 0.2 // the estimator's structural margin
      orq should be >= 0.5
    }
  }

  test("storage=rabitq: dot and l2 metrics serve exactly at exhaustive settings") {
    Seq("dot", "l2").foreach { metric =>
      val p = Files.createTempDirectory(s"graft_rq_$metric").toString + "/t"
      val df = (0L until 300L).map(k => (k, s"doc-$k", vec(k))).toDF("k", "s", "v")
      GraftTable.create(df, p, Seq("k"), nbuckets = 4)
      GraftIndex.create(spark, p, "v", nlist = 4, metric = metric, storage = "rabitq")
      val q = vec(77L)
      val want = VectorSearch.topK(GraftTable.read(spark, p), "v", "k", q, 8, metric)
        .select("k", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      GraftIndex.probe(spark, p, q, 8, nprobe = 4, rerankFactor = Int.MaxValue)
        .select("k", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe want
    }
  }

  test("quantized cells store vq_* payloads, not float vectors; bytes order binary < sq8 < float32") {
    def layoutBytes(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
      walk(new java.io.File(path + "/_index/vec/data"))
    }
    // 64-dim HIGH-ENTROPY vectors so the vector column dominates the
    // payload and parquet can't dictionary-collapse it (the 97-value
    // vec() fixture compresses floats below even the packed bits);
    // same corpus for all three layouts
    def table(): String = {
      val p = Files.createTempDirectory("graft_index_bytes").toString + "/t"
      val df = (0L until 2000L).map { k =>
        val r = new scala.util.Random(k)
        (k, s"doc-$k", Seq.fill(64)(r.nextFloat() * 2f - 1f))
      }.toDF("k", "s", "v")
      GraftTable.create(df, p, Seq("k"), nbuckets = 4)
      p
    }
    val sizes = Seq("float32", "sq8", "binary", "rabitq").map { st =>
      val p = table()
      GraftIndex.create(spark, p, "v", nlist = 4, storage = st)
      // the quantized layouts carry their vq_* columns and NO float column
      val cols = spark.read.parquet(p + "/_index/vec/data").columns.toSet
      if (st == "float32") cols should contain("v")
      else {
        cols should not contain "v"
        if (st == "sq8") cols should contain allOf ("vq_code", "vq_scale")
        else if (st == "binary") cols should contain("vq_bits")
        else cols should contain allOf ("vq_bits", "vq_norm", "vq_align", "vq_vnorm")
      }
      st -> layoutBytes(p)
    }.toMap
    sizes("binary") should be < sizes("sq8")
    sizes("sq8") should be < sizes("float32")
    // rabitq = binary + three scalars: between binary and sq8 at dim 64
    sizes("rabitq") should be > sizes("binary")
    sizes("rabitq") should be < sizes("sq8")
  }

  test("quantized knnJoin: exhaustive == per-query exact after mutations") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 4, storage = "sq8")
    GraftTable.upsert(spark, path,
      (0L until 12L).map(k => (k, s"u-$k", vec(k + 8000))).toDF("k", "s", "v"))
    GraftTable.delete(spark, path, (50L until 70L).toDF("k"))
    GraftIndex.refresh(spark, path) shouldBe Some((0, 2))
    val qs = Seq(5L, 6L).map(i => (i, vec(i + 900)))
    val got = GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 4,
        rerankFactor = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(x => (-x._3, x._2)).map(x => (x._2, x._3)).toSeq).toMap
    qs.foreach { case (qid, qv) => got(qid) shouldBe exactTopK(path, qv, 4) }
  }

  test("rabitq knnJoin: exhaustive == per-query exact (the estimator's batch shape)") {
    val path = freshTable(300)
    GraftIndex.create(spark, path, "v", nlist = 4, storage = "rabitq")
    val qs = Seq(5L, 6L).map(i => (i, vec(i + 900)))
    val got = GraftIndex.knnJoin(spark, path, qs, k = 4, nprobe = 4,
        rerankFactor = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(x => (-x._3, x._2)).map(x => (x._2, x._3)).toSeq).toMap
    qs.foreach { case (qid, qv) => got(qid) shouldBe exactTopK(path, qv, 4) }
  }

  test("quantized probe with a nothing-matches predicate returns the canonical empty shape") {
    val path = freshTable(100)
    GraftIndex.create(spark, path, "v", nlist = 4, storage = "sq8")
    val out = GraftIndex.probe(spark, path, vec(3L), 5, nprobe = 4,
      pred = Some(col("s") === "no-such-doc"))
    out.columns.toSeq shouldBe Seq("k", "s", "score")
    out.count() shouldBe 0L
  }

  test("storage refusals are loud: unknown storage, ivfpq layering, standalone quantized probe") {
    val path = freshTable(50)
    intercept[IllegalArgumentException] {
      GraftIndex.create(spark, path, "v", nlist = 4, storage = "fp16")
    }.getMessage should include("unknown index storage")
    intercept[IllegalArgumentException] {
      GraftIndex.create(spark, path, "v", nlist = 4, kind = "ivfpq", storage = "sq8")
    }.getMessage should include("ivfpq already scans PQ codes")
    // a standalone quantized layout has no float source to rerank from
    val lp = Files.createTempDirectory("ivf_q_standalone").toString + "/l"
    val df = (0L until 50L).map(k => (k, vec(k))).toDF("k", "v")
    val model = graft.operators.IvfIndex.build(df, "v", nlist = 2, lp, storage = "sq8")
    intercept[IllegalArgumentException] {
      graft.operators.IvfIndex.probe(spark, model, "k", "v", vec(1L), 3, nprobe = 2)
    }.getMessage should include("table-attached")
  }

  test("streamRefresh: the index follows the table with no manual refresh calls") {
    val path = freshTable(150)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val q = GraftIndex.streamRefresh(spark, path,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    try {
      GraftTable.upsert(spark, path, Seq((0L, "u", vec(31337L))).toDF("k", "s", "v"))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (GraftIndex.meta(path).indexedVersion < 1 && System.nanoTime() < deadline)
        Thread.sleep(100)
      GraftIndex.meta(path).indexedVersion shouldBe 1
      // fresh by construction: the non-stale probe sees the upsert
      GraftIndex.probe(spark, path, vec(31337L), 1, nprobe = 4)
        .select("k").head().getLong(0) shouldBe 0L
    } finally q.stop()
  }

  test("streaming ANN end-to-end: writeStream(graft) -> refresh -> probe reflects the stream") {
    val tmp = Files.createTempDirectory("graft_index_stream").toString
    val dst = s"$tmp/t"; val cp = s"$tmp/cp"
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Float])]
    def runBatch(rows: Seq[(Long, Seq[Float])]): Unit = {
      in.addData(rows: _*)
      val q = in.toDF().toDF("k", "v")
        .writeStream.format("graft")
        .option("recordkey", "k").option("nbuckets", "2")
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination()
    }
    // live lakehouse: the stream creates and grows the table…
    runBatch((0L until 50L).map(k => (k, vec(k))))
    // …the index attaches to it…
    GraftIndex.create(spark, dst, "v", nlist = 4)
    // …more events stream in, including an UPDATE of key 0…
    runBatch((50L until 80L).map(k => (k, vec(k))))
    runBatch(Seq((0L, vec(123456L))))
    // …and one refresh catches the index up to everything streamed
    GraftIndex.refresh(spark, dst) should not be None
    GraftIndex.probe(spark, dst, vec(123456L), 1, nprobe = 4)
      .select("k").head().getLong(0) shouldBe 0L // the streamed update is its own NN
    val got = GraftIndex.probe(spark, dst, vec(7L), 10, nprobe = 4)
      .select("k").collect().map(_.getLong(0)).toSeq
    got shouldBe VectorSearch.topK(GraftTable.read(spark, dst), "v", "k",
      vec(7L), 10, "cosine").select("k").collect().map(_.getLong(0)).toSeq
  }

  test("filtered probe, selective pred: the brute leg keeps k FULL where partial nprobe under-fills") {
    val path = freshTable(400)
    GraftIndex.create(spark, path, "v", nlist = 8)
    val q = vec(42L)
    val pred = col("k") % 40 === 1 // 10 matches of 400, spread across cells
    // the measured-selectivity brute leg (default cap): exact top-k over
    // the filtered subset, k full, scores exact
    val got = GraftIndex.probe(spark, path, q, k = 8, nprobe = 1, pred = Some(pred))
    got.count() shouldBe 8L
    val want = VectorSearch.topK(
        GraftTable.read(spark, path).filter(pred), "v", "k", q, 8, "cosine")
      .select("k", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got.select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe want
    // bruteForceCap = 0 pins the legacy pred-pushed cell scan: at
    // nprobe = 1 only one cell's matches are visible — k UNDER-FILLS
    // (which is exactly why the brute leg exists)
    val old = GraftIndex.probe(spark, path, q, k = 8, nprobe = 1,
      pred = Some(pred), bruteForceCap = 0)
    old.count() should be < 8L
    // and at exhaustive settings both paths agree exactly
    val exh = GraftIndex.probe(spark, path, q, k = 8, nprobe = 8,
      pred = Some(pred), bruteForceCap = 0)
    exh.select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe want
  }

  test("a probe whose every probed cell was emptied by deletes serves the canonical empty shape") {
    val path = freshTable(200)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val q = vec(4242L)
    val ivf = GraftIndex.servingModel(spark, path).left.toOption.get
    val near = IvfIndex.nearestCells(ivf, q, 1).head
    // every key living in the query's nearest cell, read off that cell's files
    val doomed = spark.read.parquet(ivf.files.get(near).map(_._1): _*).select("k")
    doomed.count() should be > 0L
    GraftTable.delete(spark, path, doomed)
    GraftIndex.refresh(spark, path) shouldBe Some((0, 1))
    GraftIndex.manifest(path).keySet should not contain near
    // centroids are not refit, so nprobe = 1 probes exactly the dropped cell
    val out = GraftIndex.probe(spark, path, q, 10, nprobe = 1)
    out.columns.toSeq shouldBe Seq("k", "s", "score")
    out.count() shouldBe 0L
    // an exhaustive probe still serves the surviving cells exactly
    GraftIndex.probe(spark, path, q, 10, nprobe = 4)
      .select("k", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe exactTopK(path, q, 10)
  }

  test("the model cache follows a drop + re-create at the same version, and a rebuild") {
    val path = freshTable(400)
    GraftIndex.create(spark, path, "v", nlist = 8)
    def served = GraftIndex.servingModel(spark, path).left.toOption.get
      .centroids.map(_.toSeq).toSeq
    def onDisk(dir: String) = spark.read.parquet(s"$path/_index/vec/$dir")
      .filter($"part" === "coarse").orderBy("i").select("vec")
      .collect().map(_.getSeq[Float](0)).toSeq
    val metaFile = new java.io.File(path + "/_index/vec/meta").toPath
    val metaText = new String(Files.readAllBytes(metaFile))
    val before = served // cached from here on
    before shouldBe onDisk("model-g0")
    // same version, nlist and metric: the meta text is identical, only
    // the centroids (fit on another sample) differ
    GraftIndex.drop(path) shouldBe true
    GraftIndex.create(spark, path, "v", nlist = 8, fitSampleFraction = Some(0.5))
    new String(Files.readAllBytes(metaFile)) shouldBe metaText
    val recreated = onDisk("model-g0")
    recreated should not be before
    served shouldBe recreated
    // nprobe = 1 probes the cell the NEW centroids rank first
    val q = vec(9191L)
    val cell = IvfIndex.nearestCells(
      IvfIndex.Model("", recreated.map(_.toArray).toArray, "cosine"), q, 1).head
    val cellKeys = spark.read.parquet(
      GraftIndex.servingModel(spark, path).left.toOption.get.files.get(cell).map(_._1): _*)
      .select("k").collect().map(_.getLong(0)).toSet
    GraftIndex.probe(spark, path, q, 5, nprobe = 1)
      .select("k").collect().map(_.getLong(0)).toSet.subsetOf(cellKeys) shouldBe true
    // a rebuild moves probes to model-g1
    GraftIndex.rebuild(spark, path, nlist = Some(4))
    served shouldBe onDisk("model-g1")
    served.length shouldBe 4
  }

  test("the brute leg of a filtered probe reads meta only, never the model") {
    val path = freshTable(200)
    GraftIndex.create(spark, path, "v", nlist = 4)
    val q = vec(31L)
    val pred = col("k") % 50 === 3 // 4 matches: the exact brute leg
    val want = GraftIndex.probe(spark, path, q, 3, nprobe = 1, pred = Some(pred))
      .select("k", "score").collect().toSeq
    val model = new java.io.File(path + "/_index/vec/model-g0")
    val moved = new java.io.File(path + "/_index/vec/model-moved")
    model.renameTo(moved) shouldBe true
    try {
      GraftIndex.probe(spark, path, q, 3, nprobe = 1, pred = Some(pred))
        .select("k", "score").collect().toSeq shouldBe want
      GraftIndex.knnJoin(spark, path, Seq((1L, q)), 3, nprobe = 1, pred = Some(pred))
        .select("k", "score").collect().toSeq shouldBe want
      // the index legs do need it
      intercept[IllegalArgumentException] { GraftIndex.probe(spark, path, q, 3, nprobe = 1) }
    } finally moved.renameTo(model)
  }

  test("a warm graft_index_search on a >32-file layout plans with ZERO Spark jobs") {
    val path = Files.createTempDirectory("graft_index_plan").toString + "/t"
    GraftTable.create((0L until 2000L).map(k => (k, s"doc-$k", vec(k))).toDF("k", "s", "v"),
      path, Seq("k"), nbuckets = 16)
    // one file per cell: 48 cells give more files than
    // parallelPartitionDiscovery.threshold (32) — handed the whole
    // manifest as paths, Spark would list them in a distributed job
    GraftIndex.create(spark, path, "v", nlist = 48)
    GraftIndex.manifest(path).values.map(_.size).sum should be > 32
    val q = vec(77L)
    val sql = s"SELECT * FROM graft_index_search('$path', " +
      s"CAST(array(${q.mkString(", ")}) AS ARRAY<FLOAT>), 5, 2)"
    val want = spark.sql(sql).collect().toSeq // warms the model cache
    want.size shouldBe 5
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val df = spark.sql(sql) // analysis plans the probe
      org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
      withClue("Spark jobs during analysis: ") { jobs.get shouldBe 0 }
      df.collect().toSeq shouldBe want
    } finally sc.removeSparkListener(listener)
  }

  test("a warm filtered GraftIndex.probe picks its leg from commit-time counts with ZERO Spark jobs") {
    val path = Files.createTempDirectory("graft_index_plan").toString + "/t"
    // every file holds all seven g values and d values across 0..364, so
    // per-file min/max bound neither pred: only the row counts decide
    GraftTable.create((0L until 2000L).map(k => (k, (k % 7).toInt, (k * 37 % 365).toInt, vec(k)))
      .toDF("k", "g", "d", "v"), path, Seq("k"), nbuckets = 16)
    GraftIndex.create(spark, path, "v", nlist = 16)
    val cap = 400
    val eq = col("g") === 3 // 286 matches: the brute leg
    val range = col("d") >= 20 // ~1900 matches: the pushed leg
    GraftTable.read(spark, path).filter(eq).count() should be <= cap.toLong
    GraftTable.read(spark, path).filter(range).count() should be > cap.toLong
    val q = vec(77L)
    def probe(p: org.apache.spark.sql.Column) =
      GraftIndex.probe(spark, path, q, 5, nprobe = 2, pred = Some(p), bruteForceCap = cap)
    val want = Seq(eq, range).map(p => probe(p).collect().toSeq) // warms the model cache
    want.foreach(_.size shouldBe 5)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      Seq(eq, range).zip(want).foreach { case (p, w) =>
        jobs.set(0)
        val df = probe(p) // picks the leg and plans it
        org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
        withClue(s"Spark jobs while planning the probe under $p: ") { jobs.get shouldBe 0 }
        df.collect().toSeq shouldBe w
      }
    } finally sc.removeSparkListener(listener)
  }

  test("COMPOSITE-key ties break on the whole key: every probe leg returns the smaller keys, == knnJoin") {
    // (tenant, id)-keyed; eight rows of tenant t0 share one vector, so
    // the query ties all eight at score 1 and k = 3 cuts between them:
    // ordering ties by tenant alone would return any three of them
    val dup = Seq(10L, 12L, 14L, 16L, 18L, 20L, 22L, 24L)
    val path = Files.createTempDirectory("graft_index").toString + "/t"
    val df = (0L until 60L).map(k => (s"t${k % 2}", k, s"doc-$k",
        if (dup.contains(k)) vec(999L) else vec(k)))
      .toDF("tenant", "id", "s", "v")
    GraftTable.create(df, path, Seq("tenant", "id"), nbuckets = 4)
    GraftIndex.create(spark, path, "v", nlist = 4)
    GraftIndex.create(spark, path, "v", nlist = 4, name = "q8", storage = "sq8")
    GraftIndex.create(spark, path, "v", nlist = 4, name = "pq", kind = "ivfpq", m = 4)
    val q = vec(999L)
    val want = dup.take(3).map(id => ("t0", id))
    def keys(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (r.getString(r.fieldIndex("tenant")), r.getLong(r.fieldIndex("id"))))
        .toSeq
    keys(GraftIndex.probe(spark, path, q, 3, nprobe = 4)) shouldBe want
    keys(GraftIndex.probe(spark, path, q, 3, nprobe = 4,
      pred = Some(col("tenant") === "t0"))) shouldBe want
    keys(GraftIndex.probe(spark, path, q, 3, nprobe = 4, name = "q8",
      rerankFactor = Int.MaxValue)) shouldBe want
    // the single-query probe == the batch join for that query at nprobe = nlist
    val joined = GraftIndex.knnJoin(spark, path, Seq((1L, q)), k = 3, nprobe = 4)
      .orderBy(desc("score"), col("tenant"), col("id"))
    keys(joined) shouldBe want
    GraftIndex.probe(spark, path, q, 3, nprobe = 4).select("score").as[Double].collect()
      .toSeq shouldBe joined.select("score").as[Double].collect().toSeq
    // ivfpq: the ADC cut and the rerank order ties by the whole key too,
    // and the survivors are refetched by the whole key
    val pq = GraftIndex.probe(spark, path, q, 3, nprobe = 4, name = "pq", rerankFactor = Int.MaxValue)
    keys(pq) shouldBe want
    val pqJoined = GraftIndex.knnJoin(spark, path, Seq((1L, q)), k = 3, nprobe = 4, name = "pq")
      .orderBy(desc("score"), col("tenant"), col("id"))
    keys(pqJoined) shouldBe want
    pq.select("score").as[Double].collect().toSeq shouldBe
      pqJoined.select("score").as[Double].collect().toSeq
  }

  test("cross-index agreement: every family's filtered brute leg == plain filtered brute force") {
    // one table, five indexes (ivf float32 / rabitq, ivfpq, hnsw float32
    // / sq8); the preds match <= bruteForceCap rows, so every probe and
    // knnJoin serves the exact brute leg and must agree row for row.
    // Rows 3 and 7 match pred A but carry no vector; ids 1, 5, 9, 13, 17
    // (label 1) share one vector, so pred B's k = 3 cuts inside a tie
    val dup = Set(1L, 5L, 9L, 13L, 17L)
    val path = Files.createTempDirectory("graft_index").toString + "/t"
    val df = (0L until 80L).map(k => (k, s"doc-$k", (k % 4).toInt,
        if (k == 3L || k == 7L) null else if (dup(k)) vec(999L) else vec(k)))
      .toDF("id", "s", "label", "v")
    GraftTable.create(df, path, Seq("id"), nbuckets = 4)
    GraftIndex.create(spark, path, "v", nlist = 4)
    GraftIndex.create(spark, path, "v", nlist = 4, name = "rq", storage = "rabitq")
    GraftIndex.create(spark, path, "v", nlist = 4, name = "pq", kind = "ivfpq", m = 4)
    GraftHnsw.create(spark, path, "v", name = "h32", nSegments = 2, m = 8, efConstruction = 32)
    GraftHnsw.create(spark, path, "v", name = "h8", nSegments = 2, m = 8, efConstruction = 32,
      storage = "sq8")
    val cases = Seq((col("id") < 12, vec(5000L), 12), (col("label") === 1, vec(999L), 3))
    cases.foreach { case (p, q, k) =>
      val want = VectorSearch.topK(GraftTable.read(spark, path).filter(p)
        .filter(col("v").isNotNull), "v", "id", q, k).collect().toSeq
      val wantJoin = want.map(r => (1L, r.getLong(0), r.getDouble(3)))
      def joinRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(t => (-t._3, t._2)).toSeq
      Seq("vec", "rq", "pq").foreach { n =>
        GraftIndex.probe(spark, path, q, k, nprobe = 1, name = n, pred = Some(p))
          .collect().toSeq shouldBe want
        joinRows(GraftIndex.knnJoin(spark, path, Seq((1L, q)), k, nprobe = 1, name = n,
          pred = Some(p))) shouldBe wantJoin
      }
      Seq("h32", "h8").foreach { n =>
        GraftHnsw.probe(spark, path, q, k, ef = 8, name = n, pred = Some(p))
          .collect().toSeq shouldBe want
        joinRows(GraftHnsw.knnJoin(spark, path, Seq((1L, q)), k, ef = 8, name = n,
          pred = Some(p))) shouldBe wantJoin
      }
    }
  }

  test("create and rebuild lay every row in the cell refresh recomputes for it") {
    // refresh finds a changed key's OLD cell with cellUdf: a build that
    // put the row anywhere else would leave it behind as a stale duplicate
    def assertCells(path: String): Unit = {
      val table = GraftTable.read(spark, path, GraftIndex.meta(path).indexedVersion)
      val (cells, cellOf) = GraftIndex.servingModel(spark, path) match {
        case Left(m) =>
          (IvfIndex.cellScan(spark, m, m.centroids.indices), IvfIndex.cellUdf(spark, m))
        case Right(m) =>
          (IvfIndex.cellScan(spark, m.schema, m.files, m.path, m.coarse.indices),
            graft.operators.PqIndex.cellUdf(spark, m))
      }
      val rows = cells.select("k", "cluster_id").join(table.select("k", "v"), "k")
        .select(col("cluster_id"), cellOf(col("v")).as("want")).collect()
      rows.length.toLong shouldBe table.count()
      rows.filter(r => r.getInt(0) != r.getInt(1)) shouldBe empty
    }
    for ((kind, metric, storage) <- Seq(("ivf", "cosine", "float32"),
                                        ("ivf", "l2", "rabitq"),
                                        ("ivfpq", "cosine", "float32"))) {
      withClue(s"$kind/$metric/$storage: ") {
        val path = freshTable(300)
        GraftIndex.create(spark, path, "v", nlist = 4, metric = metric, kind = kind,
          m = 4, storage = storage)
        assertCells(path)
        GraftTable.upsert(spark, path,
          (280L until 330L).map(k => (k, s"n-$k", vec(k + 700))).toDF("k", "s", "v"))
        GraftIndex.rebuild(spark, path)
        assertCells(path)
      }
    }
  }

  test("GraftIndex.create on a small table runs at most three Spark jobs") {
    // one sample collect, one layout write, one model write: the row
    // count comes from the manifest and the model save does not shuffle
    val path = freshTable(200)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      GraftIndex.create(spark, path, "v", nlist = 4)
      org.apache.spark.sql.graftshim.Bridge.waitListenerBusEmpty(sc)
      withClue("Spark jobs of GraftIndex.create: ") { jobs.get should be <= 3 }
    } finally sc.removeSparkListener(listener)
    GraftIndex.probe(spark, path, vec(5L), 5, nprobe = 4).count() shouldBe 5
  }
}
