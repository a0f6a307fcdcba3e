package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.vectors._
import Quantize.{normalize, rotateVec}

import scala.util.Random

/** IVF-PQ — the reference table's declared index type (README/table
  * config: "IVF_PQ supported via Lance"), Spark-first.
  *
  * Product quantization: D dims split into M subspaces; per subspace a
  * 256-centroid codebook (Lloyd's on a driver-side sample — PQ
  * codebooks are always sample-fit) maps each subvector to one byte.
  * A vector becomes M bytes — for 384-dim float32, 1536 B → 8 B, so
  * the ADC scan of a 100 TB corpus touches ~0.5 % of the bytes, and
  * column pruning means the scan never reads the float vectors at all.
  *
  * Layout: [[IvfIndex]]-style `partitionBy(cluster_id)` parquet with a
  * `pq_code` binary column next to the original row. Probe:
  *   1. rank coarse centroids driver-side → read nprobe partitions
  *      (partition pruning), selecting only (id, pq_code);
  *   2. ADC: per query build a M×256 lookup table driver-side; each
  *      row's approximate score is M table lookups (broadcast LUT);
  *   3. exact re-rank: the rerankFactor·k ADC survivors (ids only)
  *      join back to fetch their true vectors — an `isin` pushed
  *      filter over k' ids — and the exact kernel orders the final k.
  */
object PqIndex {

  /** codebooks(m)(c) = centroid c of subspace m (flat float array).
    * `rot`: optional OPQ rotation (row-vector convention, rotated =
    * v·R) applied before coarse assignment and PQ encoding; None =
    * plain PQ. The float vector column is stored unrotated, so exact
    * re-rank is rotation-free.
    */
  /** `schema`: optional EXPLICIT layout schema (cluster_id + pq_code
    * included) — see [[IvfIndex.Model]]; set by the table-attached
    * index so additively-evolved columns resolve without mergeSchema.
    * `files`: optional manifest-pinned file set (cell → paths) — the
    * MVCC snapshot scan, see [[IvfIndex.cellScan]].
    */
  final case class Model(path: String, coarse: Array[Array[Float]],
                         codebooks: Array[Array[Array[Float]]],
                         m: Int, dsub: Int, metric: String,
                         rot: Option[Array[Array[Float]]] = None,
                         schema: Option[org.apache.spark.sql.types.StructType] = None,
                         files: Option[Map[Int, Seq[(String, Long)]]] = None)

  def build(data: DataFrame, idCol: String, vecCol: String, nlist: Int, m: Int,
            path: String, metric: String = "cosine", seed: Long = 42L,
            sampleSize: Int = 20000, opq: Boolean = false,
            opqIters: Int = 4, persistModel: Boolean = true): Model = {
    val spark = data.sparkSession
    require(data.columns.contains(idCol),
      s"id column $idCol not in ${data.columns.mkString(",")}") // probe() fetches ids by this name
    val dim = data.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m

    // normalized vectors for cosine: angular NN == dot on unit sphere
    val unit =
      if (metric == "cosine")
        data.withColumn("_n", vector_norm(col(vecCol)))
          .withColumn("_v", transform(col(vecCol), x => (x / col("_n")).cast("float")))
          .drop("_n")
      else data.withColumn("_v", col(vecCol))

    // sample-fit: coarse centroids + per-subspace codebooks, all driver-side
    val nRows = unit.count()
    val sample = (if (nRows > sampleSize) unit.sample(sampleSize.toDouble / nRows, seed) else unit)
      .select("_v").collect().map(_.getSeq[Float](0).toArray)
    val (rot, codebooks) =
      if (opq) {
        val (r, b) = fitOpq(sample, m, opqIters, seed)
        (Some(r), b)
      } else (None, Array.tabulate(m) { mi =>
        val sub = sample.map(v => v.slice(mi * dsub, (mi + 1) * dsub))
        lloyd(sub, 256, iters = 10, seed + mi + 1)
      })
    val fitSample = rot.fold(sample)(r => sample.map(rotateVec(_, r)))
    val coarse = lloyd(fitSample, nlist, iters = 10, seed)

    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcBooks = spark.sparkContext.broadcast(codebooks)
    val bcRot = spark.sparkContext.broadcast(rot)
    val assignUdf = udf { (v: Seq[Float]) =>
      nearestIdx(bcCoarse.value, bcRot.value.fold(v.toArray)(rotateVec(v.toArray, _)))
    }
    val encodeUdf = udf { (v: Seq[Float]) =>
      val arr = bcRot.value.fold(v.toArray)(rotateVec(v.toArray, _))
      val code = new Array[Byte](m)
      var mi = 0
      while (mi < m) {
        code(mi) = nearestIdx(bcBooks.value(mi), arr.slice(mi * dsub, (mi + 1) * dsub)).toByte
        mi += 1
      }
      code
    }
    graft.sources.GraftTable.clusteredFor(unit
      .withColumn("cluster_id", assignUdf(col("_v")))
      .withColumn("pq_code", encodeUdf(col("_v")))
      .drop("_v"), "cluster_id")
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    val built = Model(path, coarse, codebooks, m, dsub, metric, rot)
    // opt-out for callers that version the model themselves (see
    // IvfIndex.build) — GraftIndex keeps models in generation files
    if (persistModel) save(spark, built)
    built
  }

  /** Persist the fitted model INSIDE its layout (`<path>/_model`,
    * ignored by partition discovery and manifest listing) — the PQ twin
    * of [[IvfIndex.save]]; [[build]] saves automatically. m/dsub are
    * derivable from the codebook rows, so the scheme stays the shared
    * (part, i, j, vec) + metric-carrier one.
    */
  def save(spark: SparkSession, model: Model): Unit = {
    import spark.implicits._
    val rows: Seq[(String, Int, Int, Seq[Float], String)] =
      (("metric", 0, 0, Seq.empty[Float], model.metric) +:
        model.coarse.zipWithIndex.toSeq.map { case (c, i) =>
          ("coarse", i, 0, c.toSeq, null.asInstanceOf[String]) }) ++
      model.codebooks.zipWithIndex.toSeq.flatMap { case (book, mi) =>
        book.zipWithIndex.toSeq.map { case (c, ci) =>
          ("book", mi, ci, c.toSeq, null.asInstanceOf[String]) } } ++
      model.rot.toSeq.flatMap(_.zipWithIndex.toSeq.map { case (r, i) =>
        ("rot", i, 0, r.toSeq, null.asInstanceOf[String]) })
    rows.toDF("part", "i", "j", "vec", "s").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"${model.path}/_model")
  }

  /** Reconstruct a saved [[Model]] from its layout path (see [[save]]). */
  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(s"$path/_model").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getSeq[Float](3), r.getString(4)))
    val metric = rows.find(_._1 == "metric")
      .getOrElse(throw new IllegalStateException(s"no saved model under $path"))._5
    val coarse = rows.filter(_._1 == "coarse").sortBy(_._2).map(_._4.toArray)
    val books = rows.filter(_._1 == "book").groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, bs) => bs.sortBy(_._3).map(_._4.toArray) }.toArray
    val rotRows = rows.filter(_._1 == "rot").sortBy(_._2).map(_._4.toArray)
    val rot = if (rotRows.isEmpty) None else Some(rotRows)
    Model(path, coarse, books, books.length, books(0)(0).length, metric, rot)
  }

  /** OPQ (Ge et al., CVPR'13), driver-side on the fit sample: learn an
    * orthonormal rotation R minimizing PQ reconstruction error
    * ‖XR − X̂‖²_F by alternating (a) codebook refit in the current
    * rotation (Lloyd's per subspace) and (b) the orthogonal-Procrustes
    * rotation update R ← U·Vᵀ from SVD(Xᵀ X̂) — the closed-form
    * minimizer given the codes. The last pass refits codebooks so the
    * returned (R, codebooks) pair is consistent. iters = 1 degenerates
    * to plain PQ (R = I). PQ's weakness is cross-subspace correlation —
    * the rotation decorrelates and balances variance across subspaces,
    * which is exactly what helps real (anisotropic) embedding
    * distributions; on isotropic data it is a no-op by design.
    */
  private[graft] def fitOpq(sample: Array[Array[Float]], m: Int, iters: Int,
                            seed: Long): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    import breeze.linalg.{svd, DenseMatrix}
    val d = sample(0).length
    val dsub = d / m
    var r = Array.tabulate(d, d)((i, j) => if (i == j) 1.0f else 0.0f)
    var books: Array[Array[Array[Float]]] = null
    var it = 0
    while (it < iters) {
      val rotated = sample.map(rotateVec(_, r))
      books = Array.tabulate(m) { mi =>
        lloyd(rotated.map(_.slice(mi * dsub, (mi + 1) * dsub)), 256, iters = 10, seed + mi + 1)
      }
      if (it < iters - 1) {
        // X̂ = PQ reconstruction of the rotated sample
        val xhat = rotated.map { rv =>
          val out = new Array[Float](d)
          var mi = 0
          while (mi < m) {
            val sub = rv.slice(mi * dsub, (mi + 1) * dsub)
            val c = books(mi)(nearestIdx(books(mi), sub))
            System.arraycopy(c, 0, out, mi * dsub, dsub)
            mi += 1
          }
          out
        }
        // M = Xᵀ X̂ over the ORIGINAL (unrotated) sample
        val mMat = DenseMatrix.zeros[Double](d, d)
        var row = 0
        while (row < sample.length) {
          val x = sample(row); val h = xhat(row)
          var i = 0
          while (i < d) {
            val xi = x(i).toDouble
            var j = 0
            while (j < d) { mMat(i, j) += xi * h(j); j += 1 }
            i += 1
          }
          row += 1
        }
        val s = svd(mMat)
        val rm = s.U * s.Vt
        r = Array.tabulate(d, d)((i, j) => rm(i, j).toFloat)
      }
      it += 1
    }
    (r, books)
  }

  /** Incremental maintenance, like [[IvfIndex.append]]: new vectors are
    * normalized/rotated into the build's quantization space, assigned
    * to their nearest existing coarse cell, PQ-encoded with the
    * existing codebooks, and appended into the partitioned layout.
    * Codebooks are not refit — recall holds while the distribution is
    * stable; periodic rebuild handles drift.
    */
  def append(model: Model, batch: DataFrame, vecCol: String): Unit =
    graft.sources.GraftTable.clusteredFor(encodeBatch(model, batch, vecCol), "cluster_id")
      .write.mode(SaveMode.Append).partitionBy("cluster_id").parquet(model.path)

  /** `batch` + (`cluster_id`, `pq_code`) in the build's quantization
    * space (normalize → rotate → coarse-assign → per-subspace encode) —
    * the row shape of the layout. Shared by [[append]] and the
    * table-attached index's refresh, which rewrites cells with a mix of
    * kept and newly encoded rows.
    */
  private[graft] def encodeBatch(model: Model, batch: DataFrame,
                                 vecCol: String): DataFrame = {
    val spark = batch.sparkSession
    val bcCoarse = spark.sparkContext.broadcast(model.coarse)
    val bcBooks = spark.sparkContext.broadcast(model.codebooks)
    val bcRot = spark.sparkContext.broadcast(model.rot)
    val cosine = model.metric == "cosine"
    val m = model.m
    val dsub = model.dsub
    val prep = udf { (v: Seq[Float]) =>
      val u = if (cosine) normalize(v.toArray) else v.toArray
      val r = bcRot.value.fold(u)(rotateVec(u, _))
      r.toSeq
    }
    val assign = udf((v: Seq[Float]) => nearestIdx(bcCoarse.value, v.toArray))
    val encode = udf { (v: Seq[Float]) =>
      val arr = v.toArray
      val code = new Array[Byte](m)
      var mi = 0
      while (mi < m) {
        code(mi) = nearestIdx(bcBooks.value(mi), arr.slice(mi * dsub, (mi + 1) * dsub)).toByte
        mi += 1
      }
      code
    }
    batch
      .withColumn("_v", prep(col(vecCol)))
      .withColumn("cluster_id", assign(col("_v")))
      .withColumn("pq_code", encode(col("_v")))
      .drop("_v")
  }

  /** Nearest-coarse-cell assignment UDF in the build's quantization
    * space — the cell an existing row LIVES in, recomputed for the
    * table-attached index's COW cell rewrite.
    */
  private[graft] def cellUdf(spark: SparkSession,
                             model: Model): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bcCoarse = spark.sparkContext.broadcast(model.coarse)
    val bcRot = spark.sparkContext.broadcast(model.rot)
    val cosine = model.metric == "cosine"
    udf { (v: Seq[Float]) =>
      val u = if (cosine) normalize(v.toArray) else v.toArray
      nearestIdx(bcCoarse.value, bcRot.value.fold(u)(rotateVec(u, _)))
    }
  }

  /** ADC probe + exact re-rank. `pred` (predicate pushdown into the
    * index scan — beyond the reference, whose index post-filters) is
    * applied on BOTH passes: the ADC scan (so non-matching rows are
    * never approx-scored — the parquet reader gets the pushed filter
    * and the k·rerankFactor ADC survivors are all predicate-true) and
    * the re-rank fetch (cheap belt-and-braces on ≤ k' rows).
    */
  def probe(spark: SparkSession, model: Model, idCol: String, vecCol: String,
            query: Seq[Float], k: Int, nprobe: Int, rerankFactor: Int = 4,
            pred: Option[org.apache.spark.sql.Column] = None): DataFrame =
    probeKeys(spark, model, Seq(idCol), vecCol, query, k, nprobe, rerankFactor, pred)

  /** [[probe]] over a composite record key: the ADC cut and the exact
    * rerank break ties on every key column, in key order, and the
    * survivors are refetched by their full key (a broadcast join of the
    * ≤ k·rerankFactor survivor keys). A single key keeps the plan of
    * [[probe]]: its survivors are refetched by a pushed `isin` filter.
    */
  private[graft] def probeKeys(spark: SparkSession, model: Model, keyCols: Seq[String],
                               vecCol: String, query: Seq[Float], k: Int, nprobe: Int,
                               rerankFactor: Int,
                               pred: Option[org.apache.spark.sql.Column]): DataFrame = {
    val qn = if (model.metric == "cosine") normalize(query.toArray) else query.toArray
    // OPQ: coarse cells, codes, and LUT all live in the rotated space;
    // rotation is orthonormal so distances/dots there equal the original
    val q = model.rot.fold(qn)(rotateVec(qn, _))
    // 1. coarse cells
    val cells = model.coarse.zipWithIndex.map { case (c, i) => (l2sq(c, q), i) }
      .sortBy(_._1).take(nprobe).map(_._2).toSeq
    // 2. ADC lookup table: lut(m)(c) = score contribution of centroid c
    val lut: Array[Array[Float]] = Array.tabulate(model.m) { mi =>
      val qs = q.slice(mi * model.dsub, (mi + 1) * model.dsub)
      model.codebooks(mi).map { cent =>
        if (model.metric == "l2") l2sq(cent, qs).toFloat
        else dotF(cent, qs).toFloat // dot on unit sphere == cosine
      }
    }
    val bcLut = spark.sparkContext.broadcast(lut)
    val adcUdf = udf { (code: Array[Byte]) =>
      var s = 0.0f; var mi = 0
      while (mi < code.length) { s += bcLut.value(mi)(code(mi) & 0xff); mi += 1 }
      s.toDouble
    }
    val asc = model.metric == "l2"
    def scanCells = IvfIndex.cellScan(spark, model.schema, model.files, model.path, cells)
    val adcScan = scanCells
    val adc = pred.fold(adcScan)(adcScan.filter)       // pushed predicate: non-matches never ADC-scored
      .select(keyCols.map(col) :+ adcUdf(col("pq_code")).as("adc"): _*) // code column only — no vectors read
      .orderBy((if (asc) col("adc").asc else col("adc").desc) +: keyCols.map(col): _*)
      // long math then cap: rerankFactor = Int.MaxValue means "discard
      // nothing" (the exhaustive-exact mode) without k·f overflowing
      .limit(math.min(k.toLong * rerankFactor, Int.MaxValue.toLong).toInt)
    // 3. exact re-rank of the survivors (fetch k' true vectors by key);
    // keys kept as their external type — no bigint assumption
    val rerankScan = keyCols match {
      case Seq(idCol) => // pushed id filter
        val ids = adc.select(idCol).collect().map(_.get(0)).toSeq
        scanCells.filter(col(idCol).isin(ids: _*))
      case _ => scanCells.join(broadcast(adc.select(keyCols.map(col): _*)), keyCols)
    }
    val survivors = pred.fold(rerankScan)(rerankScan.filter)
    VectorSearch.topKBy(survivors, vecCol, keyCols, query, k, model.metric)
      .drop("pq_code", "cluster_id")
  }

  // ---- driver-side numerics ----------------------------------------------

  private def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  private def dotF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private[graft] def nearestIdx(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = l2sq(cents(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Plain Lloyd's k-means on a driver-side sample (k ≤ 256, few
    * iterations — exactly how PQ codebooks are fit in practice).
    * Deterministic: seeded distinct-point init, or with `plusPlus` the
    * seeded k-means++ (D²) init, which seats the first centroids in
    * distinct clusters whatever order the sample arrives in.
    */
  private[graft] def lloyd(points: Array[Array[Float]], k: Int, iters: Int,
                           seed: Long, plusPlus: Boolean = false): Array[Array[Float]] = {
    val n = points.length
    val kk = math.min(k, n)
    val rnd = new Random(seed)
    val cents =
      if (!plusPlus) rnd.shuffle(points.indices.toVector).take(kk).map(i => points(i).clone).toArray
      else {
        val picked = Array.fill(kk)(points(rnd.nextInt(n)).clone)
        val d2 = points.map(l2sq(_, picked(0)))
        var c = 1
        while (c < kk) {
          var r = rnd.nextDouble() * d2.sum
          var i = 0
          while (i < n - 1 && r >= d2(i)) { r -= d2(i); i += 1 }
          picked(c) = points(i).clone
          var p = 0
          while (p < n) { d2(p) = math.min(d2(p), l2sq(points(p), picked(c))); p += 1 }
          c += 1
        }
        picked
      }
    val dim = points(0).length
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      var p = 0
      while (p < n) {
        val c = nearestIdx(cents, points(p))
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += points(p)(d); d += 1 }
        p += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var d = 0
          while (d < dim) { cents(c)(d) = (sums(c)(d) / counts(c)).toFloat; d += 1 }
        } // empty cluster keeps its old centroid
        c += 1
      }
      it += 1
    }
    cents
  }
}
