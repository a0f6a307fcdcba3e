package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.functions.vectors._
import graft.operators.{IvfIndex, Quantize}
import java.nio.file.Files

class QuantizeSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001}

  private lazy val emb = Tables.embeddings(spark, sf0001).cache()

  test("int8 round-trip error is bounded by scale/2 per element") {
    val scale = Quantize.scaleCol(col("embedding"))
    val dq = Quantize.decode(Quantize.encode(col("embedding"), scale), scale)
    val maxErr = emb.select(
        array_max(zip_with(col("embedding"), dq,
          (a, b) => abs(a.cast("double") - b))).as("err"),
        scale.as("s"))
      .select(max(col("err") / col("s"))).head().getDouble(0)
    maxErr should be <= 0.5 + 1e-12
  }

  test("codes stay in the int8 range") {
    val scale = Quantize.scaleCol(col("embedding"))
    val codes = Quantize.encode(col("embedding"), scale)
    val r = emb.select(
      array_max(codes).cast("int").as("mx"),
      array_min(codes).cast("int").as("mn")).agg(max("mx"), min("mn")).head()
    r.getInt(0) should be <= 127
    r.getInt(1) should be >= -127
  }

  test("quantized search keeps high top-10 recall vs exact") {
    val q = emb.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    val exact = graft.operators.VectorSearch
      .topK(emb, "embedding", "vec_id", q, 10, "cosine")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val scale = Quantize.scaleCol(col("embedding"))
    val dq = Quantize.decode(Quantize.encode(col("embedding"), scale), scale)
    val got = emb.withColumn("score",
        cosine_similarity(dq, typedlit(q.map(_.toDouble))))
      .orderBy(col("score").desc, col("vec_id")).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    (got.intersect(exact).size.toDouble / 10) should be >= 0.8
  }

  // The Column forms (IVF's codegen'd layout path) and the array forms
  // (HNSW's imperative build path) must compute the same codes. Next to
  // the sf0.001 embeddings the vectors below carry exact rounding ties
  // (max |x| = 127, so scale = 1 and x/scale is exactly ±k.5 — where
  // floor(x/scale + 0.5) differs from round and bround) and both zeros.
  private lazy val vectors: Seq[Array[Float]] =
    emb.select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq ++ Seq(
      Array(127f, -2.5f, 2.5f, -1.5f, 1.5f, -0.5f, 0.5f, -126.5f, 0f, -0.0f),
      Array(-127f, -3.5f, 3.5f, -0.0f, 0f, 64.5f, -64.5f))

  private def vectorsDf =
    spark.createDataFrame(vectors.zipWithIndex.map { case (v, i) => (i, v.toSeq) })
      .toDF("i", "v").orderBy("i")

  test("sq8 Column codes and scale equal the array forms for every vector") {
    val got = vectorsDf.withColumn("s", Quantize.scaleCol(col("v")))
      .withColumn("c", Quantize.encode(col("v"), col("s")))
      .select("s", "c").collect()
    got.length shouldBe vectors.length
    got.zip(vectors).foreach { case (r, v) =>
      val (codes, _) = Quantize.sq8Encode(v)
      withClue(v.mkString("[", ",", "]")) {
        r.getSeq[Byte](1).toArray shouldBe codes
        r.getDouble(0) shouldBe Quantize.sq8Scale(v)
      }
    }
  }

  test("sign_pack equals packSigns for every vector, -0.0 included") {
    val got = vectorsDf.select(sign_pack(col("v"))).collect()
    got.length shouldBe vectors.length
    got.zip(vectors).foreach { case (r, v) =>
      withClue(v.mkString("[", ",", "]")) {
        r.getSeq[Long](0).toArray shouldBe Quantize.packSigns(v)
      }
    }
  }

  test("every IVF rabitq layout row equals Quantize.rabitqEncode at cosine, l2 and dot") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Seq("cosine", "l2", "dot").foreach { metric =>
      val path = Files.createTempDirectory(s"rabitq_$metric").toString + "/l"
      val model = IvfIndex.build(emb, "embedding", nlist = 4, path, metric = metric,
        storage = "rabitq")
      val rows = spark.read.parquet(path)
        .select("vec_id", "cluster_id", "vq_bits", "vq_norm", "vq_align", "vq_vnorm")
        .collect()
      rows.length shouldBe vecs.size
      rows.map(_.getInt(1)).distinct.length should be > 1
      rows.foreach { r =>
        val (bits, rn, align, vn) = Quantize.rabitqEncode(vecs(r.getLong(0)),
          model.centroids(r.getInt(1)), model.rot.get, metric == "cosine")
        withClue(s"$metric vec_id=${r.getLong(0)}") {
          r.getSeq[Long](2).toArray shouldBe bits
          r.getDouble(3) shouldBe rn
          r.getDouble(4) shouldBe align
          r.getDouble(5) shouldBe vn
        }
      }
    }
  }
}
