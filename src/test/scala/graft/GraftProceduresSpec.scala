package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import java.nio.file.Files

/** SQL `CALL` procedures through the DSv2 ProcedureCatalog
  * (GraftProcedures): every maintenance verb — compact, vacuum,
  * restore_to, rebucket, constraints, blooms — must route into the
  * GraftTable API and return an honest summary row; unknown verbs and
  * bad arguments refuse loudly.
  */
class GraftProceduresSpec extends AnyFunSuite with Matchers {
  import TestSpark.spark

  private def withCatalog[T](body: => T): T = {
    val k = "spark.sql.catalog.graft"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, classOf[graft.sources.v2.GraftCatalog].getName)
    try body
    finally old match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  private def mkTable(n: Int = 500, buckets: Int = 4): String = {
    val root = Files.createTempDirectory("proc").toString + "/t"
    GraftTable.create(
      spark.range(0, n).toDF("k").withColumn("x", col("k") * 3),
      root, Seq("k"), nbuckets = buckets)
    root
  }

  test("CALL compact folds an outstanding MOR log; summary counts are honest") {
    val root = mkTable()
    GraftTable.upsertMor(spark, root,
      spark.range(450, 550).toDF("k").withColumn("x", lit(-1L)))
    GraftTable.snapshot(root, GraftTable.latestVersion(root)).delta should not be empty
    withCatalog {
      val r = spark.sql(s"CALL graft.compact('$root')").collect().head
      val (v0, v1) = (r.getInt(0), r.getInt(1))
      v1 shouldBe v0 + 1
      r.getLong(3) should be > 0L // files_after
      GraftTable.snapshot(root, v1).delta shouldBe empty
      // the compacted snapshot reads identically through the v2 path
      spark.table(s"graft.`$root`").count() shouldBe 550L
      GraftTable.read(spark, root).filter(col("x") === -1L).count() shouldBe 100L
    }
  }

  test("CALL with named arguments and the system namespace alias") {
    val root = mkTable()
    withCatalog {
      val r = spark.sql(
        s"CALL graft.system.compact(table => '$root', zorder_by => 'k,x')")
        .collect().head
      r.getInt(1) shouldBe r.getInt(0) + 1
    }
  }

  test("CALL vacuum reclaims expired-committed dirs immediately") {
    val root = mkTable()
    // three more commits → old versions' dirs become reclaimable
    (1 to 3).foreach { i =>
      GraftTable.upsert(spark, root,
        spark.range(0, 500).toDF("k").withColumn("x", col("k") + i))
    }
    withCatalog {
      val r = spark.sql(s"CALL graft.vacuum('$root', 1)").collect().head
      r.getInt(0) shouldBe 3 // head version
      r.getLong(2) should be < r.getLong(1) // dirs reclaimed
      GraftTable.read(spark, root).filter(col("x") === col("k") + 3)
        .count() shouldBe 500L
    }
  }

  test("CALL restore_to makes the old snapshot current as a NEW commit") {
    val root = mkTable()
    GraftTable.deleteWhere(spark, root, col("k") >= 100)
    GraftTable.read(spark, root).count() shouldBe 100L
    withCatalog {
      val r = spark.sql(s"CALL graft.restore_to('$root', 0)").collect().head
      r.getInt(0) shouldBe 0
      r.getInt(1) shouldBe 2
      spark.table(s"graft.`$root`").count() shouldBe 500L
    }
  }

  test("CALL rebucket evolves the layout; reads stay exact") {
    val root = mkTable(buckets = 4)
    withCatalog {
      val r = spark.sql(s"CALL graft.rebucket('$root', 8)").collect().head
      r.getInt(1) shouldBe 8
      GraftTable.snapshot(root, r.getInt(0)).nbuckets shouldBe 8
      GraftTable.read(spark, root).count() shouldBe 500L
    }
  }

  test("CALL add_constraint enforces on the next write; drop_constraint releases") {
    val root = mkTable()
    withCatalog {
      spark.sql(s"CALL graft.add_constraint('$root', 'xpos', 'x >= 0')")
        .collect().head.getString(0) shouldBe "xpos"
      intercept[Exception] {
        GraftTable.upsert(spark, root,
          spark.range(0, 5).toDF("k").withColumn("x", lit(-5L)))
      }
      val d = spark.sql(s"CALL graft.drop_constraint('$root', 'xpos')").collect().head
      d.getBoolean(1) shouldBe true
      GraftTable.upsert(spark, root,
        spark.range(0, 5).toDF("k").withColumn("x", lit(-5L)))
      GraftTable.read(spark, root).filter(col("x") === -5L).count() shouldBe 5L
    }
  }

  test("CALL enable_blooms records the config for future writes") {
    val root = mkTable()
    withCatalog {
      val r = spark.sql(s"CALL graft.enable_blooms('$root', 'x', 0.02)").collect().head
      r.getString(0) shouldBe "x"
      GraftTable.bloomConfig(root) shouldBe Some((Seq("x"), 0.02))
    }
  }

  test("unknown procedures and a violated add_constraint refuse loudly") {
    val root = mkTable()
    withCatalog {
      val ex = intercept[Exception] {
        spark.sql(s"CALL graft.optimize('$root')").collect()
      }
      // Spark wraps the catalog's error in FAILED_TO_LOAD_ROUTINE — the
      // loud listing is in the cause chain
      val chain = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      chain should include("unknown procedure")
      // current data violates the check → refused, nothing recorded
      intercept[Exception] {
        spark.sql(s"CALL graft.add_constraint('$root', 'neg', 'x < 0')").collect()
      }
      GraftTable.constraints(root) shouldBe empty
    }
  }

  test("CALL stats_profile / stats_drift report the metadata-only numbers") {
    val root = mkTable() // v0: k 0..499, x = 3k
    GraftTable.upsert(spark, root, // v1: +100 rows, x null there
      spark.range(500, 600).toDF("k").withColumn("x", lit(null).cast("long")))
    withCatalog {
      val prof = spark.sql(s"CALL graft.stats_profile('$root')").collect()
        .map(r => r.getString(0) -> r).toMap
      prof.keySet shouldBe Set("k", "x")
      prof("k").getLong(1) shouldBe 600L // n_rows
      prof("k").getString(3) shouldBe "0" // min_s
      prof("k").getString(4) shouldBe "599"
      prof("x").getLong(2) shouldBe 100L // n_null
      prof("x").getString(4) shouldBe (499L * 3).toString
      val drift = spark.sql(s"CALL graft.stats_drift('$root', 0, 1)").collect()
        .map(r => r.getString(0) -> r).toMap
      drift("k").getLong(1) shouldBe 500L // rows_from
      drift("k").getLong(2) shouldBe 600L // rows_to
      drift("x").getLong(3) shouldBe 0L // null_from
      drift("x").getLong(4) shouldBe 100L // null_to
      drift("k").getString(7) shouldBe "499" // max_from
      drift("k").getString(8) shouldBe "599" // max_to
    }
  }

  test("stats_profile refuses loudly while a MOR log is outstanding") {
    val root = mkTable()
    GraftTable.upsertMor(spark, root,
      spark.range(0, 5).toDF("k").withColumn("x", lit(9L)))
    withCatalog {
      val ex = intercept[Exception] {
        spark.sql(s"CALL graft.stats_profile('$root')").collect()
      }
      val chain = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      chain should include("compact first")
    }
  }

  test("CALL history and files report the commit log and layout from metadata") {
    val root = mkTable(buckets = 4)
    GraftTable.upsert(spark, root,
      spark.range(500, 600).toDF("k").withColumn("x", col("k")))
    withCatalog {
      val hist = spark.sql(s"CALL graft.history('$root')").collect()
      hist.map(_.getInt(0)).sorted shouldBe Array(0, 1)
      hist.filter(_.getBoolean(2)).map(_.getInt(0)) shouldBe Array(1)
      val fs = spark.sql(s"CALL graft.files('$root')").collect()
      fs.map(_.getLong(2)).sum shouldBe 600L // total rows across files
      all(fs.map(_.getLong(3))) should be > 0L // byte lengths recorded
      fs.map(_.getInt(0)).distinct.sorted shouldBe (0 until 4).toArray
      // pinned version: the create-time layout only
      spark.sql(s"CALL graft.files('$root', 0)").collect()
        .map(_.getLong(2)).sum shouldBe 500L
    }
  }

  test("SHOW TBLPROPERTIES surfaces the layout facts") {
    val root = mkTable(buckets = 4)
    GraftTable.addConstraint(spark, root, "xpos", "x >= 0")
    withCatalog {
      val props = spark.sql(s"SHOW TBLPROPERTIES graft.`$root`").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      props("keys") shouldBe "k"
      props("buckets") shouldBe "4"
      props("version") shouldBe "0"
      props("constraints") shouldBe "xpos"
    }
  }

  test("CALL index_create / index_refresh run the vector-index lifecycle") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_idx").toString + "/t"
    def vecs(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, Array((i + 1).toFloat, (i % 7).toFloat, (i % 3).toFloat)))
      .toDF("k", "emb")
    GraftTable.create(vecs(0, 200), root, Seq("k"), nbuckets = 4)
    withCatalog {
      val c = spark.sql(s"CALL graft.index_create('$root', 'emb', 4)").collect().head
      (c.getString(0), c.getString(1), c.getInt(2)) shouldBe (("vec", "ivf", 0))
      graft.sources.GraftIndex.exists(root) shouldBe true
      // already current → honest no-op row
      spark.sql(s"CALL graft.index_refresh('$root')").collect()
        .head.getBoolean(3) shouldBe false
      GraftTable.upsert(spark, root, vecs(200, 260))
      val r = spark.sql(s"CALL graft.index_refresh('$root')").collect().head
      (r.getInt(1), r.getInt(2), r.getBoolean(3)) shouldBe ((0, 1, true))
      // the refreshed index serves the NEW rows: query row 221's exact
      // vector (no other row is proportional) → cosine 1.0 top hit
      val hits = graft.sources.GraftIndex.probe(spark, root,
        Seq(222f, 4f, 2f), k = 3, nprobe = 4, rerankFactor = 1000)
        .collect()
      hits.length shouldBe 3
      hits.head.getLong(0) shouldBe 221L
      // the indexes report: current after refresh, stale after a commit
      val listed = spark.sql(s"CALL graft.indexes('$root')").collect()
      listed.map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getInt(5), r.getBoolean(6))) shouldBe Array(("vec", "ivf", "emb", 1, false))
      GraftTable.upsert(spark, root, vecs(260, 270))
      spark.sql(s"CALL graft.indexes('$root')").collect()
        .head.getBoolean(6) shouldBe true // stale flags the unfolded commit
      // drop completes the lifecycle; IF EXISTS contract on the repeat
      spark.sql(s"CALL graft.index_drop('$root')").collect()
        .head.getBoolean(1) shouldBe true
      graft.sources.GraftIndex.exists(root) shouldBe false
      spark.sql(s"CALL graft.index_drop('$root')").collect()
        .head.getBoolean(1) shouldBe false
      spark.sql(s"CALL graft.indexes('$root')").collect() shouldBe empty
    }
  }

  test("CALL index_create(storage => 'sq8') builds the quantized IVF layout; unknown storage refuses") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_idxq").toString + "/t"
    def vecs(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, Array((i + 1).toFloat, (i % 7).toFloat, (i % 3).toFloat)))
      .toDF("k", "emb")
    GraftTable.create(vecs(0, 200), root, Seq("k"), nbuckets = 4)
    withCatalog {
      spark.sql(s"CALL graft.index_create('$root', 'emb', 4, storage => 'sq8')")
        .collect().head.getString(1) shouldBe "ivf"
      graft.sources.GraftIndex.meta(root).storage shouldBe "sq8"
      // quantized cells carry codes, not floats…
      spark.read.parquet(s"$root/_index/vec/data").columns.toSet should
        (contain("vq_code") and not contain "emb")
      // …and the two-stage serve still emits exact float scores: the
      // corpus-covering rerank's top hit is row 121's exact vector
      // (122, 121%7, 121%3) — cosine 1.0, no other row proportional
      val hits = graft.sources.GraftIndex.probe(spark, root,
        Seq(122f, 2f, 1f), k = 3, nprobe = 4, rerankFactor = 1000).collect()
      hits.head.getLong(0) shouldBe 121L
      // rabitq lands through the same SQL surface (estimator codes)
      spark.sql(s"CALL graft.index_create('$root', 'emb', 4, " +
        "name => 'rq', storage => 'rabitq')").collect()
      graft.sources.GraftIndex.meta(root, "rq").storage shouldBe "rabitq"
      spark.read.parquet(s"$root/_index/rq/data").columns.toSet should
        (contain allOf ("vq_bits", "vq_norm", "vq_align", "vq_vnorm") and not contain "emb")
      graft.sources.GraftIndex.probe(spark, root, Seq(122f, 2f, 1f), k = 3,
        nprobe = 4, name = "rq", rerankFactor = 1000)
        .collect().head.getLong(0) shouldBe 121L
      val ex = intercept[Exception] {
        spark.sql(s"CALL graft.index_create('$root', 'emb', 4, " +
          "name => 'v2', storage => 'fp16')").collect()
      }
      ex.getMessage should include("unknown index storage")
    }
  }

  test("CALL index_vacuum reclaims stale IVF generations; maintain reports the debt") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_ivac").toString + "/t"
    def vecs(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, Array((i + 1).toFloat, (i % 7).toFloat, (i % 3).toFloat)))
      .toDF("k", "emb")
    GraftTable.create(vecs(0, 200), root, Seq("k"), nbuckets = 4)
    withCatalog {
      spark.sql(s"CALL graft.index_create('$root', 'emb', 4)").collect()
      // churn: each refresh orphans the previous generation's manifest
      // (and the rewritten cells' old files)
      (1 to 3).foreach { i =>
        GraftTable.upsert(spark, root, vecs(200 + i * 10, 210 + i * 10))
        spark.sql(s"CALL graft.index_refresh('$root')").collect()
      }
      graft.sources.GraftIndex.staleGenerations(root) shouldBe 3
      // maintain names the IVF family's structural debt alongside the
      // text/hnsw rows (recommend-only: reclamation stays explicit)
      val report = spark.sql(s"CALL graft.maintain('$root')").collect()
        .map(r => r.getString(0) -> r.getBoolean(2)).toMap
      report.keySet should contain("index_vacuum")
      report("index_vacuum") shouldBe false // never auto-applied
      // the explicit verb reclaims; serving stays exact afterwards
      val del = spark.sql(s"CALL graft.index_vacuum('$root')").collect().head
      del.getString(0) shouldBe "vec"
      del.getInt(1) should be > 0
      graft.sources.GraftIndex.staleGenerations(root) shouldBe 0
      val hits = graft.sources.GraftIndex.probe(spark, root,
        Seq(236f, 4f, 1f), k = 1, nprobe = 4, rerankFactor = 1000).collect()
      hits.head.getLong(0) shouldBe 235L
    }
  }

  test("CALL text_index_* runs the text-index lifecycle purely through SQL") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_tidx").toString + "/t"
    val docs = (0L until 60L).map(i =>
      (i, if (i % 5 == 0) s"table scan fast $i" else s"row store slow $i"))
      .toDF("doc_id", "text")
    GraftTable.create(docs, root, Seq("doc_id"), nbuckets = 4)
    withCatalog {
      val c = spark.sql(s"CALL graft.text_index_create('$root', 'text')").collect().head
      (c.getString(0), c.getInt(1)) shouldBe (("txt", 0))
      // already current → honest no-op row
      spark.sql(s"CALL graft.text_index_refresh('$root')").collect()
        .head.getBoolean(3) shouldBe false
      // mutate through SQL, refresh through SQL
      spark.sql(s"UPDATE graft.`$root` SET text = concat(text, ' extra') " +
        "WHERE doc_id % 10 = 0")
      val r = spark.sql(s"CALL graft.text_index_refresh('$root')").collect().head
      (r.getInt(1), r.getInt(2), r.getBoolean(3)) shouldBe ((0, 1, true))
      // the refreshed index serves the NEW text through the TVF
      val hits = spark.sql(
        s"SELECT * FROM graft_text_search('$root', 'extra', 20)").collect()
      hits.map(_.getLong(0)).toSet shouldBe (0L until 60L by 10L).toSet
      // compact folds the two segments into one; vacuum sweeps the old
      val cp = spark.sql(s"CALL graft.text_index_compact('$root')").collect().head
      (cp.getInt(1), cp.getInt(2)) shouldBe ((2, 1))
      spark.sql(s"CALL graft.text_index_vacuum('$root')").collect()
        .head.getInt(1) should be >= 2
      // drop completes the lifecycle; IF EXISTS contract on the repeat
      spark.sql(s"CALL graft.text_index_drop('$root')").collect()
        .head.getBoolean(1) shouldBe true
      spark.sql(s"CALL graft.text_index_drop('$root')").collect()
        .head.getBoolean(1) shouldBe false
      graft.sources.TextIndex.exists(root) shouldBe false
    }
  }

  test("CALL hnsw_* runs the HNSW lifecycle purely through SQL") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_hnsw").toString + "/t"
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(d => math.sin(i * 37.0 + d * 11.0).toFloat)
    val df = (0L until 40L).map(i => (i, vec(i), s"doc$i")).toDF("id", "vec", "s")
    GraftTable.create(df, root, Seq("id"), nbuckets = 4)
    withCatalog {
      val c = spark.sql(s"CALL graft.hnsw_create('$root', 'vec', 'hnsw', 8, 64, " +
        "'cosine', 1)").collect().head
      (c.getString(0), c.getInt(1)) shouldBe (("hnsw", 0))
      spark.sql(s"CALL graft.hnsw_refresh('$root')").collect()
        .head.getBoolean(3) shouldBe false
      spark.sql(s"DELETE FROM graft.`$root` WHERE id = 7")
      val r = spark.sql(s"CALL graft.hnsw_refresh('$root')").collect().head
      (r.getInt(1), r.getInt(2), r.getBoolean(3)) shouldBe ((0, 1, true))
      // the refreshed index never serves the deleted key
      graft.sources.GraftHnsw.probe(spark, root, vec(7), k = 5, ef = 256)
        .collect().map(_.getLong(0)) should not contain 7L
      // rebuild compacts to a fresh generation; vacuum reclaims the old
      val rb = spark.sql(s"CALL graft.hnsw_rebuild('$root')").collect().head
      (rb.getInt(1), rb.getInt(2)) shouldBe ((1, 1))
      spark.sql(s"CALL graft.hnsw_vacuum('$root')").collect()
        .head.getInt(1) shouldBe 1
      spark.sql(s"CALL graft.hnsw_drop('$root')").collect()
        .head.getBoolean(1) shouldBe true
      spark.sql(s"CALL graft.hnsw_drop('$root')").collect()
        .head.getBoolean(1) shouldBe false
    }
  }

  test("CALL hnsw_merge folds segments through SQL; maintain recommends merge past 8 segments") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_hnsw_merge").toString + "/t"
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(d => math.sin(i * 37.0 + d * 11.0).toFloat)
    val df = (0L until 30L).map(i => (i, vec(i), s"doc$i")).toDF("id", "vec", "s")
    GraftTable.create(df, root, Seq("id"), nbuckets = 4)
    withCatalog {
      spark.sql(s"CALL graft.hnsw_create('$root', 'vec', 'hnsw', 8, 64, " +
        "'cosine', 2)").collect()
      // 8 refreshes → 10 segments: past the maintain threshold
      (0 until 8).foreach { i =>
        GraftTable.upsert(spark, root,
          Seq((100L + i, vec(100L + i), s"doc${100 + i}")).toDF("id", "vec", "s"))
        spark.sql(s"CALL graft.hnsw_refresh('$root')").collect()
      }
      graft.sources.GraftHnsw.meta(root).segs.length shouldBe 10
      val rec = spark.sql(s"CALL graft.maintain('$root')").collect()
        .filter(_.getString(0) == "hnsw_merge")
      rec should have length 1
      rec.head.getBoolean(1) shouldBe true // needed
      rec.head.getString(3) should include("hnsw_merge")
      val mg = spark.sql(s"CALL graft.hnsw_merge('$root', 'hnsw', 3)").collect().head
      (mg.getInt(1), mg.getInt(2), mg.getInt(3)) shouldBe ((10, 3, 8))
      // merged layout still serves every live key exactly at a wide beam
      graft.sources.GraftHnsw.probe(spark, root, vec(104), k = 1, ef = 512)
        .collect().head.getLong(0) shouldBe 104L
      // all-clear afterwards
      spark.sql(s"CALL graft.maintain('$root')").collect()
        .filter(_.getString(0) == "hnsw_merge").head.getBoolean(1) shouldBe false
      // and a second merge at the same target is a no-op
      spark.sql(s"CALL graft.hnsw_merge('$root', 'hnsw', 3)").collect()
        .head.getInt(3) shouldBe 0
    }
  }

  test("CALL hnsw_create storage => 'sq8' builds a quantized layout; unknown storage refuses") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_hnswq").toString + "/t"
    val dim = 8
    def v(i: Long) = (0 until dim).map(d => math.sin(i * 31.0 + d * 7.0).toFloat)
    GraftTable.create((0L until 40L).map(i => (i, v(i), s"d$i")).toDF("k", "emb", "s"),
      root, Seq("k"), nbuckets = 4)
    withCatalog {
      spark.sql(s"CALL graft.hnsw_create('$root', 'emb', storage => 'sq8')")
        .collect().head.getString(0) shouldBe "hnsw"
      graft.sources.GraftHnsw.meta(root).storage shouldBe "sq8"
      // quantized serving works end-to-end from the SQL-built index
      val got = graft.sources.GraftHnsw.probe(spark, root, v(7), k = 5,
        ef = 256, rerankFactor = 8)
      got.count() shouldBe 5L
      got.head().getLong(0) shouldBe 7L // self-match survives the rerank
      // the estimator-grade 1-bit layout through the same SQL verb
      spark.sql(s"CALL graft.hnsw_create('$root', 'emb', name => 'hrq', " +
        "storage => 'rabitq')").collect()
      graft.sources.GraftHnsw.meta(root, "hrq").storage shouldBe "rabitq"
      graft.sources.GraftHnsw.probe(spark, root, v(7), k = 5, ef = 256,
        rerankFactor = 8, name = "hrq").head().getLong(0) shouldBe 7L
      intercept[Exception] {
        spark.sql(s"CALL graft.hnsw_create('$root', 'emb', name => 'h2', " +
          "storage => 'fp4')").collect()
      }.getMessage should include("storage")
    }
  }

  test("CALL indexes reports all three index families with staleness") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_allidx").toString + "/t"
    def vec(i: Long): Seq[Float] =
      (0 until 8).map(d => math.cos(i * 13.0 + d * 7.0).toFloat)
    val df = (0L until 50L).map(i => (i, vec(i), s"table scan doc $i"))
      .toDF("id", "emb", "text")
    GraftTable.create(df, root, Seq("id"), nbuckets = 4)
    withCatalog {
      spark.sql(s"CALL graft.index_create('$root', 'emb', 4)").collect()
      spark.sql(s"CALL graft.text_index_create('$root', 'text')").collect()
      spark.sql(s"CALL graft.hnsw_create('$root', 'emb', 'g', 8, 64, 'cosine', 1)")
        .collect()
      val listed = spark.sql(s"CALL graft.indexes('$root')").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getBoolean(6)))
      listed.toSet shouldBe Set(
        ("vec", "ivf", "emb", false),
        ("txt", "text", "text", false),
        ("g", "hnsw", "emb", false))
      // one table commit flags ALL of them stale
      GraftTable.upsert(spark, root,
        Seq((60L, vec(60), "new doc")).toDF("id", "emb", "text"))
      spark.sql(s"CALL graft.indexes('$root')").collect()
        .map(_.getBoolean(6)).toSeq shouldBe Seq(true, true, true)
      // each family's refresh clears only its own flag
      spark.sql(s"CALL graft.text_index_refresh('$root')").collect()
      spark.sql(s"CALL graft.indexes('$root')").collect()
        .map(r => r.getString(1) -> r.getBoolean(6)).toMap shouldBe
        Map("ivf" -> true, "text" -> false, "hnsw" -> true)
    }
  }

  test("CALL maintain reports operational debt read-only and applies the safe services") {
    import spark.implicits._
    val root = Files.createTempDirectory("proc_maint").toString + "/t"
    val df = (0L until 60L).map(i => (i, s"table scan doc $i")).toDF("id", "text")
    GraftTable.create(df, root, Seq("id"), nbuckets = 4)
    withCatalog {
      spark.sql(s"CALL graft.text_index_create('$root', 'text')").collect()
      // clean table: nothing needed, nothing applied
      val clean = spark.sql(s"CALL graft.maintain('$root')").collect()
        .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
      clean("compact") shouldBe ((false, false))
      clean("text_index_refresh") shouldBe ((false, false))
      // create debt: a MOR upsert (outstanding log) — also makes the
      // text index stale
      GraftTable.upsertMor(spark, root,
        Seq((100L, "fresh row")).toDF("id", "text"))
      // dry-run (default): debt REPORTED, nothing touched
      val dry = spark.sql(s"CALL graft.maintain('$root')").collect()
        .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
      dry("compact") shouldBe ((true, false))
      dry("text_index_refresh") shouldBe ((true, false))
      GraftTable.snapshot(root, GraftTable.latestVersion(root)).delta should not be empty
      // apply: MOR log folded, index refreshed; vacuum only recommended
      val ran = spark.sql(s"CALL graft.maintain('$root', true)").collect()
        .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
      ran("compact") shouldBe ((true, true))
      ran("text_index_refresh") shouldBe ((true, true))
      ran("vacuum")._2 shouldBe false
      GraftTable.snapshot(root, GraftTable.latestVersion(root)).delta shouldBe empty
      graft.sources.TextIndex.meta(root).indexedVersion shouldBe
        GraftTable.latestVersion(root)
      // second apply: clean again (idempotent fixed point)
      spark.sql(s"CALL graft.maintain('$root', true)").collect()
        .filter(_.getString(0) != "vacuum").map(_.getBoolean(1)) should contain only false
    }
  }

  test("NULL numeric arguments refuse loudly (a NULL grace must not mean zero)") {
    val root = mkTable()
    withCatalog {
      val ex = intercept[Exception] {
        spark.sql(s"CALL graft.vacuum('$root', 1, CAST(NULL AS DOUBLE))").collect()
      }
      val chain = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString("\n")
      chain should include("must not be NULL")
      GraftTable.latestVersion(root) shouldBe 0 // nothing happened
    }
  }

  test("SHOW PROCEDURES lists the verbs") {
    withCatalog {
      val names = spark.sql("SHOW PROCEDURES IN graft")
        .collect().map(_.toString).mkString("\n")
      names should include("compact")
      names should include("restore_to")
      names should include("vacuum")
    }
  }

  test("CALL skipping_report: metadata pruning counts match the scan's own rule") {
    // keys 0..499 across 4 buckets; a point predicate on the record key
    // must keep exactly the files whose min/max admit the value —
    // cross-checked against fileKeepPredicate, the rule the scans use
    val root = mkTable()
    withCatalog {
      val r = spark.sql(
        s"CALL graft.skipping_report('$root', 'k = 7')").collect().head
      val (total, kept, skipped) = (r.getLong(1), r.getLong(2), r.getLong(3))
      total shouldBe (kept + skipped)
      total should be > 0L
      kept should be < total // a point lookup must skip most files
      r.getString(6) should include("EqualTo")
      // bytes columns are present and consistent
      (r.getLong(4) >= r.getLong(5)) shouldBe true
      // the report equals the read path's own pruning
      val filters = Seq(org.apache.spark.sql.sources.EqualTo("k", 7L))
      val keep = GraftTable.fileKeepPredicate(GraftTable.snapshot(root, GraftTable.latestVersion(root)), filters).get
      val dirs = GraftTable.snapshot(root, GraftTable.latestVersion(root)).dirs.values.toSeq
      val stats = GraftTable.snapshot(root, GraftTable.latestVersion(root)).fileStats
        .filter { case (rel, _) =>
          val cut = rel.lastIndexOf('/')
          cut > 0 && dirs.contains(rel.substring(0, cut))
        }
      kept shouldBe stats.keys.count(keep)
      // a predicate with no pushable form refuses loudly (coalesce is
      // null-tolerant, so not even an IsNotNull constraint survives)
      intercept[Exception] {
        spark.sql(s"CALL graft.skipping_report('$root', 'coalesce(k, x) > 100')").collect()
      }.getMessage should include("no pushable")
    }
  }

  test("CALL fsck: a healthy table passes every check") {
    val root = mkTable()
    // give it the full surface: MOR log, constraint, tag, analyze stats
    GraftTable.upsertMor(spark, root,
      spark.range(0, 10).toDF("k").withColumn("x", lit(-5L)))
    GraftTable.addConstraint(spark, root, "kpos", "k >= 0")
    GraftTable.tagCreate(root, "audit")
    GraftTable.analyze(spark, root)
    withCatalog {
      val rows = spark.sql(s"CALL graft.fsck('$root')").collect()
      rows.map(_.getString(0)).toSet should contain allOf
        ("manifest_parse", "data_dirs", "data_files", "mor_log_files",
          "sidecar_keys", "sidecar_constraints", "tags_resolve", "sidecar_ndv")
      all(rows.map(_.getBoolean(1))) shouldBe true
      all(rows.map(_.getLong(3))) shouldBe 0L
      // the file check actually probed files, the log check saw the delta
      rows.find(_.getString(0) == "data_files").get.getLong(2) should be > 0L
      rows.find(_.getString(0) == "mor_log_files").get.getLong(2) should be > 0L
      all(rows.map(r => Option(r.getString(4)))) shouldBe None
    }
  }

  test("fsck reports a data file deleted behind the table's back") {
    val root = mkTable()
    val v = GraftTable.latestVersion(root)
    val rel = GraftTable.snapshot(root, v).fileStats.keys.toSeq.sorted.head
    new java.io.File(s"$root/$rel").delete() shouldBe true
    val bad = GraftTable.fsck(spark, root).find(_.check == "data_files").get
    bad.ok shouldBe false
    bad.problems shouldBe 1L
    bad.detail.get should include("MISSING")
    bad.detail.get should include(rel)
  }

  test("fsck reports a length mismatch (silent truncation/corruption)") {
    val root = mkTable()
    val v = GraftTable.latestVersion(root)
    val rel = GraftTable.snapshot(root, v).fileStats.keys.toSeq.sorted.head
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/$rel"),
      Array[Byte](1, 2, 3))
    val bad = GraftTable.fsck(spark, root).find(_.check == "data_files").get
    bad.ok shouldBe false
    bad.detail.get should include("length 3")
  }

  test("fsck reports a tag pointing at a non-committed version") {
    val root = mkTable()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/refs"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/refs/ghost"), "99")
    val bad = GraftTable.fsck(spark, root).find(_.check == "tags_resolve").get
    bad.ok shouldBe false
    bad.detail.get should include("ghost")
  }

  test("fsck audits the requested version and refuses unknown ones") {
    val root = mkTable()
    GraftTable.upsert(spark, root, spark.range(0, 5).toDF("k").withColumn("x", lit(0L)))
    GraftTable.fsck(spark, root, version = 0).foreach(_.ok shouldBe true)
    intercept[IllegalArgumentException] {
      GraftTable.fsck(spark, root, version = 42)
    }.getMessage should include("no committed version")
  }
}
