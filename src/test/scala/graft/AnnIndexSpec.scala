package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, LshIndex, VectorSearch}
import java.nio.file.Files

/** Recall of the ANN paths vs exact brute-force top-k. */
class AnnIndexSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001}

  private lazy val emb = Tables.embeddings(spark, sf0001).cache()
  private lazy val query: Seq[Float] =
    emb.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
  private lazy val exactTop10: Set[Long] =
    VectorSearch.topK(emb, "embedding", "vec_id", query, 10, "cosine")
      .select("vec_id").collect().map(_.getLong(0)).toSet

  test("IVF with nprobe = nlist is exact (recall 1.0)") {
    val path = Files.createTempDirectory("ivf_full").toString
    val model = IvfIndex.build(emb, "embedding", nlist = 8, path, "cosine")
    val got = IvfIndex.probe(spark, model, "vec_id", "embedding", query, 10, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    got shouldBe exactTop10
  }

  test("IVF dot metric ranks cells by inner product, not euclidean distance") {
    import spark.implicits._
    // max-dot rows (large norm, near (100, 0)) sit in a cell whose
    // centroid is L2-FAR from the query — euclidean cell ranking would
    // probe the small-norm cell first and miss every top-dot row
    val big = (0 until 20).map(i => (i.toLong, Seq(100f + i * 0.01f, 0f)))
    val small = (0 until 20).map(i => ((100 + i).toLong, Seq(1f, i * 0.001f)))
    val df = (big ++ small).toDF("vec_id", "embedding")
    val path = Files.createTempDirectory("ivf_dot").toString
    val model = IvfIndex.build(df, "embedding", nlist = 2, path, "dot")
    val got = IvfIndex.probe(spark, model, "vec_id", "embedding", Seq(1f, 0f), 5, nprobe = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    got should have size 5
    got.foreach(_ should be < 20L) // all from the large-norm (max-dot) cell
  }

  test("IVF probe prunes partitions and keeps recall@10 >= 0.6 at nprobe=2/8") {
    val path = Files.createTempDirectory("ivf_part").toString
    val model = IvfIndex.build(emb, "embedding", nlist = 8, path, "cosine")
    val probe = IvfIndex.probe(spark, model, "vec_id", "embedding", query, 10, nprobe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    plan should include("PartitionFilters") // pruning, not a full scan + filter
    val got = probe.select("vec_id").collect().map(_.getLong(0)).toSet
    (got.intersect(exactTop10).size.toDouble / 10) should be >= 0.6
  }

  test("IVF-PQ: ADC + exact re-rank keeps recall@10 >= 0.7 at full nprobe") {
    import graft.operators.PqIndex
    val path = Files.createTempDirectory("ivfpq").toString
    val model = PqIndex.build(emb, "vec_id", "embedding", nlist = 8, m = 8, path, "cosine")
    val got = PqIndex.probe(spark, model, "vec_id", "embedding", query, 10,
      nprobe = 8, rerankFactor = 4).select("vec_id").collect().map(_.getLong(0)).toSet
    // nprobe = nlist isolates pure PQ quantization loss
    (got.intersect(exactTop10).size.toDouble / 10) should be >= 0.7
  }

  private lazy val exactFilteredTop5: Set[Long] =
    VectorSearch.topK(emb.filter(col("label") === 3), "embedding", "vec_id", query, 5, "cosine")
      .select("vec_id").collect().map(_.getLong(0)).toSet

  test("IVF probe pushes the predicate into the scan and is exact at full nprobe") {
    val path = Files.createTempDirectory("ivf_pred").toString
    val model = IvfIndex.build(emb, "embedding", nlist = 8, path, "cosine")
    val probe = IvfIndex.probe(spark, model, "vec_id", "embedding", query, 5,
      nprobe = 8, pred = Some(col("label") === 3))
    // the predicate must reach the parquet reader, not sit above the scan
    probe.queryExecution.executedPlan.toString should include regex "PushedFilters: \\[.*label.*\\]"
    probe.select("vec_id").collect().map(_.getLong(0)).toSet shouldBe exactFilteredTop5
  }

  test("IVF-PQ filtered probe returns only matching rows with good recall") {
    import graft.operators.PqIndex
    val path = Files.createTempDirectory("ivfpq_pred").toString
    val model = PqIndex.build(emb, "vec_id", "embedding", nlist = 8, m = 8, path, "cosine")
    val got = PqIndex.probe(spark, model, "vec_id", "embedding", query, 5,
      nprobe = 8, rerankFactor = 8, pred = Some(col("label") === 3))
    val rows = got.select("vec_id", "label").collect()
    all(rows.map(_.getInt(1))) shouldBe 3
    val ids = rows.map(_.getLong(0)).toSet
    (ids.intersect(exactFilteredTop5).size.toDouble / 5) should be >= 0.6
  }

  test("LSH filtered probe at full radius equals exact filtered top-k") {
    val planes = LshIndex.fitPlanes(dim = 64, nbits = 16)
    val indexed = LshIndex.index(emb, "embedding", planes)
    val got = LshIndex.probe(indexed, "vec_id", "embedding", query, planes, 5,
      maxHamming = 16, pred = Some(col("label") === 3))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    got shouldBe exactFilteredTop5
  }

  test("OPQ rotation cuts PQ reconstruction error on anisotropic data") {
    import graft.operators.{PqIndex, Quantize}
    import scala.util.Random
    // strongly correlated vectors: low-rank mix + small noise — the regime
    // plain PQ handles worst (cross-subspace correlation) and OPQ fixes
    val rnd = new Random(11)
    val d = 16; val m = 4; val rank = 3
    val basis = Array.fill(rank, d)(rnd.nextGaussian())
    val sample = Array.fill(800) {
      val g = Array.fill(rank)(rnd.nextGaussian())
      Array.tabulate(d) { j =>
        (g.zipWithIndex.map { case (gi, k) => gi * basis(k)(j) }.sum +
          0.05 * rnd.nextGaussian()).toFloat
      }
    }
    def mse(r: Array[Array[Float]], books: Array[Array[Array[Float]]]): Double = {
      val dsub = d / m
      sample.map { v =>
        val rv = Quantize.rotateVec(v, r)
        (0 until m).map { mi =>
          val sub = rv.slice(mi * dsub, (mi + 1) * dsub)
          val c = books(mi)(PqIndex.nearestIdx(books(mi), sub))
          sub.zip(c).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
        }.sum
      }.sum / sample.length
    }
    val (rPlain, bPlain) = PqIndex.fitOpq(sample, m, iters = 1, seed = 5L) // R = I
    val (rOpq, bOpq) = PqIndex.fitOpq(sample, m, iters = 4, seed = 5L)
    val (ePlain, eOpq) = (mse(rPlain, bPlain), mse(rOpq, bOpq))
    withClue(s"plain=$ePlain opq=$eOpq: ") { eOpq should be < ePlain * 0.9 }
  }

  test("OPQ-PQ index end-to-end keeps recall at full nprobe") {
    import graft.operators.PqIndex
    val path = Files.createTempDirectory("ivfopq").toString
    val model = PqIndex.build(emb, "vec_id", "embedding", nlist = 8, m = 8, path,
      "cosine", opq = true, opqIters = 3)
    model.rot should not be empty
    val got = PqIndex.probe(spark, model, "vec_id", "embedding", query, 10,
      nprobe = 8, rerankFactor = 4).select("vec_id").collect().map(_.getLong(0)).toSet
    (got.intersect(exactTop10).size.toDouble / 10) should be >= 0.7
  }

  test("saved models round-trip: load from the layout probes identically (IVF and OPQ-PQ)") {
    import graft.operators.PqIndex
    // build persists the model inside the layout; a FRESH process (here:
    // a fresh load) must serve without refitting
    val ivfPath = Files.createTempDirectory("ivf_saved").toString
    val built = IvfIndex.build(emb, "embedding", nlist = 8, ivfPath, "cosine")
    val loaded = IvfIndex.load(spark, ivfPath)
    loaded.metric shouldBe built.metric
    loaded.centroids.map(_.toSeq) shouldBe built.centroids.map(_.toSeq)
    IvfIndex.probe(spark, loaded, "vec_id", "embedding", query, 10, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet shouldBe exactTop10

    val pqPath = Files.createTempDirectory("pq_saved").toString
    val pqBuilt = PqIndex.build(emb, "vec_id", "embedding", nlist = 8, m = 8,
      pqPath, "cosine", opq = true)
    val pqLoaded = PqIndex.load(spark, pqPath)
    pqLoaded.m shouldBe pqBuilt.m
    pqLoaded.dsub shouldBe pqBuilt.dsub
    pqLoaded.rot.isDefined shouldBe true
    pqLoaded.rot.get.map(_.toSeq) shouldBe pqBuilt.rot.get.map(_.toSeq)
    pqLoaded.codebooks.map(_.map(_.toSeq).toSeq) shouldBe
      pqBuilt.codebooks.map(_.map(_.toSeq).toSeq)
    val viaBuilt = PqIndex.probe(spark, pqBuilt, "vec_id", "embedding", query, 10,
      nprobe = 8, rerankFactor = Int.MaxValue).select("vec_id").collect().map(_.getLong(0)).toSeq
    val viaLoaded = PqIndex.probe(spark, pqLoaded, "vec_id", "embedding", query, 10,
      nprobe = 8, rerankFactor = Int.MaxValue).select("vec_id").collect().map(_.getLong(0)).toSeq
    viaLoaded shouldBe viaBuilt
  }

  test("IVF append: appended vectors are probed, exhaustive stays exact") {
    val path = Files.createTempDirectory("ivf_app").toString
    val model = IvfIndex.build(emb.filter(col("vec_id") < 250), "embedding",
      nlist = 8, path, "cosine")
    IvfIndex.append(model, emb.filter(col("vec_id") >= 250), "embedding")
    val got = IvfIndex.probe(spark, model, "vec_id", "embedding", query, 10, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    got shouldBe exactTop10 // top-10 over the FULL corpus incl. appended half
  }

  test("IVF streaming maintenance: foreachBatch append, then exact probe") {
    import org.apache.spark.sql.streaming.Trigger
    val path = Files.createTempDirectory("ivf_stream").toString
    val model = IvfIndex.build(emb.filter(col("vec_id") < 250), "embedding",
      nlist = 8, path, "cosine")
    val stream = spark.readStream.schema(Tables.embeddings(spark, sf0001).schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(sf0001)
      .filter(col("vec_id") >= 250)
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        IvfIndex.append(model, b, "embedding")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = IvfIndex.probe(spark, model, "vec_id", "embedding", query, 10, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    got shouldBe exactTop10
  }

  test("IVF knnJoin at full nprobe equals the exact knnJoin") {
    val path = Files.createTempDirectory("ivf_knn").toString
    val model = IvfIndex.build(emb, "embedding", nlist = 8, path, "cosine")
    val qs = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val got = IvfIndex.knnJoin(spark, model, "vec_id", "embedding", qs, k = 5, nprobe = 8)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = VectorSearch.knnJoin(emb, "embedding", "vec_id",
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid", "qvec", 5, "cosine")
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe want
  }

  test("PQ append: appended vectors are probed with existing codebooks") {
    import graft.operators.PqIndex
    val path = Files.createTempDirectory("pq_app").toString
    val model = PqIndex.build(emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      nlist = 8, m = 8, path, "cosine")
    PqIndex.append(model, emb.filter(col("vec_id") >= 250), "embedding")
    val got = PqIndex.probe(spark, model, "vec_id", "embedding", query, 10,
      nprobe = 8, rerankFactor = 8).select("vec_id").collect().map(_.getLong(0)).toSet
    // appended half must be reachable: full-corpus recall comparable to
    // the all-at-build case
    (got.intersect(exactTop10).size.toDouble / 10) should be >= 0.7
  }

  test("LSH at full hamming radius is exact; tight radius keeps recall") {
    val planes = LshIndex.fitPlanes(dim = 64, nbits = 16)
    val indexed = LshIndex.index(emb, "embedding", planes).cache()
    val full = LshIndex.probe(indexed, "vec_id", "embedding", query, planes, 10, maxHamming = 16)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    full shouldBe exactTop10
    val tight = LshIndex.probe(indexed, "vec_id", "embedding", query, planes, 10, maxHamming = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    (tight.intersect(exactTop10).size.toDouble / 10) should be >= 0.5
    // tight-radius probe must actually prune the candidate set
    val nCand = indexed.filter(
      bit_count(col("sig").bitwiseXOR(lit(LshIndex.signatureOf(query, planes)))) <= 4).count()
    nCand should be < emb.count()
  }
}
