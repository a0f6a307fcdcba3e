package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.operators.{HnswIndex, Quantize, VectorSearch}
import java.nio.file.Files

/** HNSW segment-graph index: recall vs brute force, determinism, the
  * ef knob, metric senses, and model round-trip.
  */
class HnswSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001}
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf0001).cache()
  private lazy val query: Seq[Float] =
    emb.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
  private lazy val exactTop10: Seq[Long] =
    VectorSearch.topK(emb, "embedding", "vec_id", query, 10, "cosine")
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  private lazy val model = {
    val path = Files.createTempDirectory("hnsw").toString
    HnswIndex.build(emb, "vec_id", "embedding", path,
      m = 8, efConstruction = 64, metric = "cosine", nPartitions = 4)
  }

  test("recall@10 >= 0.8 at ef=64 vs exact brute force") {
    val got = HnswIndex.probe(spark, model, "vec_id", query, 10, ef = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    (got.intersect(exactTop10.toSet).size.toDouble / 10) should be >= 0.8
  }

  test("a wide beam (ef = segment size) recovers the exact top-10") {
    // not a theoretical guarantee of HNSW — pinned empirically for THIS
    // deterministic build (seeded levels, id-sorted insertion): if this
    // breaks, the graph construction changed, not the data
    val got = HnswIndex.probe(spark, model, "vec_id", query, 10, ef = 500)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    got shouldBe exactTop10
  }

  test("build and probe are deterministic: two builds, identical results") {
    val p1 = Files.createTempDirectory("hnsw_d1").toString
    val p2 = Files.createTempDirectory("hnsw_d2").toString
    val m1 = HnswIndex.build(emb, "vec_id", "embedding", p1, m = 8,
      efConstruction = 64, metric = "cosine", nPartitions = 4)
    val m2 = HnswIndex.build(emb, "vec_id", "embedding", p2, m = 8,
      efConstruction = 64, metric = "cosine", nPartitions = 4)
    def run(m: HnswIndex.Model) =
      HnswIndex.probe(spark, m, "vec_id", query, 10, ef = 32)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    run(m1) shouldBe run(m2)
    // and the persisted graphs themselves are identical row sets
    val g1 = spark.read.parquet(p1).orderBy("pid", "id").collect().map(_.toString)
    val g2 = spark.read.parquet(p2).orderBy("pid", "id").collect().map(_.toString)
    g1 shouldBe g2
  }

  test("sq8/binary layouts at a wide beam equal brute force over the RECONSTRUCTED vectors") {
    // the quantized walk's own geometry is exactly checkable: with
    // ef = segment size every node is visited, so the probe must equal
    // brute-force cosine of the FLOAT query against decode(encode(v)) —
    // quantization costs recall vs float (pinned below), never
    // correctness vs its own codes
    def cos(q: Seq[Float], v: Array[Float]): Double = {
      var dot = 0.0; var nq = 0.0; var nv = 0.0; var i = 0
      while (i < v.length) {
        val x = q(i).toDouble; val y = v(i).toDouble
        dot += x * y; nq += x * x; nv += y * y; i += 1
      }
      if (nq == 0.0 || nv == 0.0) 0.0 else dot / (math.sqrt(nq) * math.sqrt(nv))
    }
    Seq("sq8", "binary").foreach { storage =>
      val path = Files.createTempDirectory(s"hnsw_$storage").toString
      val m = HnswIndex.build(emb, "vec_id", "embedding", path,
        m = 8, efConstruction = 64, metric = "cosine", nPartitions = 4,
        storage = storage)
      val got = HnswIndex.probe(spark, m, "vec_id", query, 10, ef = 500)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = emb.select("vec_id", "embedding").collect().map { r =>
        val v = r.getSeq[Float](1).toArray
        val dec =
          if (storage == "sq8") {
            val (c, s) = Quantize.sq8Encode(v); Quantize.sq8Decode(c, s)
          } else Quantize.signDecode(Quantize.packSigns(v), v.length)
        (r.getLong(0), cos(query, dec))
      }.sortBy { case (id, s) => (-s, id) }.take(10).toSeq
      got.map(_._1) shouldBe want.map(_._1)
      got.map(_._2).zip(want.map(_._2)).foreach { case (g, w) => g shouldBe w +- 1e-9 }
    }
  }

  test("filtered walk: only accepted ids return; a wide beam equals brute force over the accepted subset") {
    // the accept set filters RESULT admission only — rejected nodes stay
    // routable, so a wide beam (ef ≥ segment size) still reaches every
    // accepted node and must reproduce the filtered brute-force board
    val accepted = emb.filter(col("vec_id") % 2 === 0).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    val got = HnswIndex.probe(spark, model, "vec_id", query, 10, ef = 500,
        acceptIds = Some(accepted))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    got.foreach(id => (id % 2) shouldBe 0L)
    val exactEven = VectorSearch.topK(emb.filter(col("vec_id") % 2 === 0),
        "embedding", "vec_id", query, 10, "cosine")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    got shouldBe exactEven
  }

  test("filtered walk survives a sparse accept set (rejected entry points route through)") {
    // ~1/16 of the corpus accepted: most segments' entry nodes are
    // rejected, the beam must still cross the rejected region; a wide
    // beam again equals filtered brute force
    val accepted = emb.filter(col("vec_id") % 16 === 1).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    val got = HnswIndex.probe(spark, model, "vec_id", query, 5, ef = 500,
        acceptIds = Some(accepted))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = VectorSearch.topK(emb.filter(col("vec_id") % 16 === 1),
        "embedding", "vec_id", query, 5, "cosine")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    got shouldBe exact
  }

  test("filtered walk refuses an unsorted or duplicated accept set loudly") {
    intercept[IllegalArgumentException] {
      HnswIndex.probe(spark, model, "vec_id", query, 5, ef = 64,
        acceptIds = Some(Array(5L, 3L))).collect()
    }.getMessage should include("sorted")
    intercept[IllegalArgumentException] {
      HnswIndex.probe(spark, model, "vec_id", query, 5, ef = 64,
        acceptIds = Some(Array(3L, 3L))).collect()
    }.getMessage should include("sorted")
  }

  test("quantized layouts store strictly fewer bytes than float32 (the scan-bytes lever)") {
    def layoutBytes(path: String): Long = {
      val root = new java.io.File(path)
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
        else f.length
      root.listFiles.filter(f => f.isDirectory && f.getName.startsWith("pid="))
        .map(walk).sum
    }
    val sizes = Seq("float32", "sq8", "binary", "rabitq").map { st =>
      val p = Files.createTempDirectory(s"hnsw_sz_$st").toString
      HnswIndex.build(emb, "vec_id", "embedding", p, m = 8,
        efConstruction = 64, metric = "cosine", nPartitions = 4, storage = st)
      st -> layoutBytes(p)
    }.toMap
    withClue(sizes.toString) {
      sizes("sq8") should be < sizes("float32")
      sizes("binary") should be < sizes("sq8")
      sizes("rabitq") should be < sizes("sq8") // 1 bit/dim + two scalars
    }
  }

  // Gaussian directions × log-normal norms — the MIPS regime where
  // plain sign bits are structurally blind (they cannot see ‖v‖; every
  // high-norm vector decodes to the same ±1 shell) while the rabitq
  // reconstruction carries ‖v−c‖ per vector. All draws seeded.
  private def lognormDotCorpus(n: Long, dim: Int) =
    (0L until n).map { k =>
      val r = new scala.util.Random(k)
      val dir = Array.fill(dim)(r.nextGaussian())
      val nn = math.sqrt(dir.map(x => x * x).sum)
      val scale = math.exp(r.nextGaussian() * 0.7)
      (k, dir.map(x => (x / nn * scale).toFloat).toSeq)
    }.toDF("vec_id", "embedding")

  test("rabitq walk recall >= binary where sign bits are BLIND: dot metric, log-normal norms") {
    val corpus = lognormDotCorpus(1500L, 32).cache()
    def overlap(storage: String): Double = {
      val p = Files.createTempDirectory(s"hnsw_rqn_$storage").toString
      val m = HnswIndex.build(corpus, "vec_id", "embedding", p, m = 8,
        efConstruction = 64, metric = "dot", nPartitions = 4, storage = storage)
      val qs = (9000L until 9008L).map { k =>
        val r = new scala.util.Random(k)
        val dir = Array.fill(32)(r.nextGaussian())
        val nn = math.sqrt(dir.map(x => x * x).sum)
        dir.map(x => (x / nn).toFloat).toSeq
      }
      qs.map { q =>
        val exact = VectorSearch.topK(corpus, "embedding", "vec_id", q, 10, "dot")
          .select("vec_id").collect().map(_.getLong(0)).toSet
        HnswIndex.probe(spark, m, "vec_id", q, 10, ef = 64)
          .select("vec_id").collect().map(_.getLong(0)).toSet
          .intersect(exact).size.toDouble / 10
      }.sum / qs.size
    }
    val ob = overlap("binary")
    val orq = overlap("rabitq")
    withClue(f"binary=$ob%.2f rabitq=$orq%.2f: ") {
      orq should be >= ob + 0.2 // the estimator's structural margin
      orq should be >= 0.5
    }
  }

  test("rabitq model round-trips its centroid and decode replays the estimator exactly") {
    val corpus = lognormDotCorpus(400L, 16)
    val p = Files.createTempDirectory("hnsw_rq_rt").toString
    val m = HnswIndex.build(corpus, "vec_id", "embedding", p, m = 8,
      efConstruction = 64, metric = "dot", nPartitions = 2, storage = "rabitq")
    val loaded = HnswIndex.load(spark, p)
    loaded.storage shouldBe "rabitq"
    loaded.centroid.map(_.toSeq) shouldBe m.centroid.map(_.toSeq)
    // probes through the loaded model replay the built model bit-exactly
    val q = corpus.filter(col("vec_id") === 7L).select("embedding").head().getSeq[Float](0)
    def run(mm: HnswIndex.Model) = HnswIndex.probe(spark, mm, "vec_id", q, 10, ef = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    run(loaded) shouldBe run(m)
  }

  test("rabitq dot: segmentVectors decode -> append re-encode round-trips the decoded geometry") {
    // dot/l2 re-encode is exact: the re-derived residual is parallel to
    // the stored direction, so signs round-trip, align re-derives to 1,
    // and the decoded point is unchanged (the merge substrate contract;
    // cosine is documented approximate and pinned by recall instead)
    val corpus = lognormDotCorpus(300L, 16)
    val p = Files.createTempDirectory("hnsw_rq_merge").toString
    val m = HnswIndex.build(corpus, "vec_id", "embedding", p, m = 8,
      efConstruction = 32, metric = "dot", nPartitions = 2, storage = "rabitq")
    val before = HnswIndex.segmentVectors(spark, m, Set(0, 1))
      .select("id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // re-flush the decoded vectors as a new segment (what merge does)
    val dec = HnswIndex.segmentVectors(spark, m, Set(0))
      .select(col("id"), col("vec"))
    val base = HnswIndex.append(spark, m, dec, "id", "vec", nNewSegments = 1)
    val after = HnswIndex.segmentVectors(spark, m, Set(base))
      .select("id", "vec").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    after.foreach { case (id, v) =>
      val orig = before(id)
      v.zip(orig).foreach { case (a, b) => a shouldBe b +- 1e-5f }
    }
  }

  test("sq8 recall@10 vs the FLOAT exact top-10 stays high at a wide beam") {
    val path = Files.createTempDirectory("hnsw_sq8r").toString
    val m = HnswIndex.build(emb, "vec_id", "embedding", path, m = 8,
      efConstruction = 64, metric = "cosine", nPartitions = 4, storage = "sq8")
    val got = HnswIndex.probe(spark, m, "vec_id", query, 10, ef = 500)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // scale/254 max per-dim error barely moves a 64-dim cosine board
    (got.intersect(exactTop10.toSet).size.toDouble / 10) should be >= 0.8
  }

  test("append to a quantized layout flushes quantized segments visible to probes") {
    val path = Files.createTempDirectory("hnsw_sq8a").toString
    val m = HnswIndex.build(emb.filter(col("vec_id") < 400L), "vec_id", "embedding",
      path, m = 8, efConstruction = 64, metric = "cosine", nPartitions = 2,
      storage = "sq8")
    HnswIndex.append(spark, m, emb.filter(col("vec_id") >= 400L),
      "vec_id", "embedding")
    val q450 = emb.filter(col("vec_id") === 450L).select("embedding")
      .head().getSeq[Float](0)
    val got = HnswIndex.probe(spark, m, "vec_id", q450, 5, ef = 500)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    got should contain(450L)
  }

  test("query's own vector ranks first with cosine score 1.0") {
    val top = HnswIndex.probe(spark, model, "vec_id", query, 3, ef = 64).head()
    top.getLong(0) shouldBe 0L
    top.getDouble(1) shouldBe 1.0 +- 1e-9
  }

  test("l2 metric orders ascending and finds the zero-distance self-match") {
    val path = Files.createTempDirectory("hnsw_l2").toString
    val m = HnswIndex.build(emb, "vec_id", "embedding", path,
      m = 8, efConstruction = 64, metric = "l2", nPartitions = 4)
    val rows = HnswIndex.probe(spark, m, "vec_id", query, 5, ef = 64).collect()
    rows.head.getLong(0) shouldBe 0L
    rows.head.getDouble(1) shouldBe 0.0 +- 1e-9
    rows.map(_.getDouble(1)).toSeq shouldBe rows.map(_.getDouble(1)).sorted.toSeq
  }

  test("tiny corpus: k larger than the corpus returns every row") {
    val df = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f))
    ).toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("hnsw_tiny").toString
    val m = HnswIndex.build(df, "vec_id", "embedding", path,
      m = 2, efConstruction = 4, metric = "cosine", nPartitions = 2)
    HnswIndex.probe(spark, m, "vec_id", Seq(1f, 0f), 10, ef = 8)
      .count() shouldBe 3
  }

  test("model save/load round-trips through the layout") {
    val loaded = HnswIndex.load(spark, model.path)
    loaded shouldBe model
  }

  test("duplicate ids refuse loudly at probe time, never a corrupted graph") {
    // two nodes under one id would silently collapse in the loader's
    // id→index remap and break the level invariant mid-walk (observed
    // at 100× on a mis-derived dataset: out-of-bounds in the descent)
    val path = Files.createTempDirectory("hnsw_dup").toString
    val dup = emb.limit(50).union(emb.limit(8)) // 8 ids twice
    val m = HnswIndex.build(dup, "vec_id", "embedding", path,
      m = 8, efConstruction = 64, metric = "cosine", nPartitions = 1)
    val e = intercept[org.apache.spark.SparkException] {
      HnswIndex.probe(spark, m, "vec_id", query, 5, ef = 64).collect()
    }
    e.getMessage should include("duplicate id")
  }

  test("probe refuses a layout with no segments") {
    val empty = Files.createTempDirectory("hnsw_none").toString
    val ghost = HnswIndex.Model(empty, "cosine", 8, 64, 4)
    an[IllegalArgumentException] should be thrownBy
      HnswIndex.probe(spark, ghost, "vec_id", query, 5, ef = 8)
  }

  test("append adds a new segment visible to the next probe (Lucene flush model)") {
    val path = Files.createTempDirectory("hnsw_app").toString
    val m = HnswIndex.build(emb, "vec_id", "embedding", path,
      m = 8, efConstruction = 64, metric = "cosine", nPartitions = 4)
    // a brand-new vector equal to the query must surface at rank 1
    // after the flush — and only after
    val fresh = Seq((99999L, query)).toDF("vec_id", "embedding")
    val before = HnswIndex.probe(spark, m, "vec_id", query, 3, ef = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    before should not contain 99999L
    HnswIndex.append(spark, m, fresh, "vec_id", "embedding") shouldBe 4
    val after = HnswIndex.probe(spark, m, "vec_id", query, 3, ef = 64).collect()
    after.map(_.getLong(0)) should contain(99999L)
    // a second flush lands in the NEXT segment id — segments are immutable
    HnswIndex.append(spark, m,
      Seq((99998L, query)).toDF("vec_id", "embedding"), "vec_id", "embedding") shouldBe 5
  }

  test("graft_hnsw_search TVF serves the same results as the Scala probe") {
    val api = HnswIndex.probe(spark, model, "id", query, 10, ef = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qLit = query.map(v => s"CAST($v AS FLOAT)").mkString("array(", ", ", ")")
    val sql = spark.sql(
      s"SELECT * FROM graft_hnsw_search('${model.path}', $qLit, 10, 64)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    sql shouldBe api
    // ef defaults to 64
    spark.sql(s"SELECT * FROM graft_hnsw_search('${model.path}', $qLit, 10)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe api
  }

  test("knnJoin: per-query top-k recall against the exact join") {
    val qs = (0L to 4L).map { i =>
      i -> emb.filter(col("vec_id") === i).select("embedding").head().getSeq[Float](0)
    }
    val got = HnswIndex.knnJoin(spark, model, "vec_id", qs, k = 5, ef = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    qs.foreach { case (qid, qv) =>
      val exact = VectorSearch.topK(emb, "embedding", "vec_id", qv, 5, "cosine")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (got(qid).intersect(exact).size.toDouble / 5) should be >= 0.8
      got(qid) should have size 5
    }
  }
}
