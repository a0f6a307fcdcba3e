package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import Quantize.normalize

/** IVF (inverted-file) ANN index — the scale path for vector search,
  * mirroring Lance's IVF index family (the reference's table declares
  * IVF_PQ; see /root/reference README "Indexing: IVF_PQ supported via
  * Lance"). We implement IVF-Flat: exact distances inside probed cells.
  *
  * Spark-first design: the "index" IS a partitioned parquet layout.
  *  - build: Lloyd's k-means ([[PqIndex.lloyd]], the fit the PQ coarse
  *    quantizer and the Dedup blockers use, here k-means++ seeded so the
  *    cells do not depend on the order rows are read in) fits nlist centroids on the
  *    DRIVER from a bounded sample; every row is assigned to its nearest
  *    centroid and the table is written `partitionBy(cluster_id)` — one
  *    directory per inverted list, one file per cell per write.
  *  - probe: rank centroids against the query ON THE DRIVER (nlist
  *    floats — tiny), then read only the `nprobe` nearest partitions.
  *    The `cluster_id IN (...)` filter is a partition filter, so Spark
  *    reads nprobe/nlist of the files (`PartitionFilters` in explain;
  *    a table-attached index prunes its manifest's file list without
  *    listing) — at 100 TB with nlist=4096, nprobe=64 that is 1.5 % of
  *    the data, and each probed cell scans in parallel.
  *
  * Recall/cost tradeoff is nprobe/nlist; exactness inside cells means
  * recall loss only from quantization boundaries (measured in
  * IvfIndexSpec against brute force).
  */
object IvfIndex {

  /** `schema`: optional EXPLICIT layout schema (cluster_id included).
    * Set by the table-attached index, whose table evolves additively —
    * an inferred (single-footer) schema would miss columns present only
    * in rewritten cells, and mergeSchema would footer-read the whole
    * layout at planning. None (standalone layouts) = plain inference.
    *
    * `files`: optional MANIFEST-pinned file set (cell → absolute file
    * paths) — the table-attached index's MVCC snapshot. When set, scans
    * plan from the probed cells' files among these ([[cellScan]]: no
    * directory listing — at nlist=4096 on an object store that is
    * thousands of LIST calls per probe) and are isolated from concurrent
    * refreshes, which only add files and never touch referenced ones.
    * None (standalone layouts) = scan the directory.
    *
    * `storage`: one of [[Quantize.storages]] — "float32" (default —
    * cells store the float vector column) | "sq8" (cells store
    * `vq_code array<tinyint>` + `vq_scale double` instead — 4× fewer
    * scan bytes, the [[Quantize]] arithmetic) | "binary" (`vq_bits
    * array<bigint>`, packed sign bits — 32× fewer, the
    * [[graft.functions.SignPack]] convention) | "rabitq" (`vq_bits` of
    * the rotated residual plus three scalars, see [[storageFields]]).
    * Quantized cells have NO float vector column, so [[probe]] refuses
    * them loudly: exact re-rank needs a float source the standalone
    * layout doesn't carry — the table-attached [[graft.sources.GraftIndex]]
    * serves quantized layouts two-stage from ITS table's float column.
    */
  final case class Model(path: String, centroids: Array[Array[Float]], metric: String,
                         schema: Option[org.apache.spark.sql.types.StructType] = None,
                         files: Option[Map[Int, Seq[(String, Long)]]] = None,
                         storage: String = "float32",
                         rot: Option[Array[Array[Float]]] = None)

  /** The quantized layouts' vector-payload fields (what replaces the
    * float vector column in cell files).
    *
    * "rabitq" is the 1-bit storage with RaBitQ's unbiased estimator
    * (Gao & Long, "RaBitQ: Quantizing High-Dimensional Vectors with a
    * Theoretical Error Bound for Approximate Nearest Neighbor Search",
    * SIGMOD 2024 — public): bits are the signs of the ROTATED RESIDUAL
    * P·(v − centroid) (a seeded random rotation spreads the residual's
    * mass across dimensions so sign bits carry near-equal information),
    * and three per-vector scalars make the scan's rank proxy an
    * ESTIMATOR instead of plain-sign-bit heuristic: `vq_norm` = ‖v−c‖,
    * `vq_align` = ⟨x̄, r̂'⟩ = ‖P·r‖₁/(‖r‖·√D) (the paper's ⟨x̄, o̅⟩
    * normalizer — E[align] = √(2/π), and dividing by the PER-VECTOR
    * value instead of the expectation is what removes the bias), and
    * `vq_vnorm` = ‖v‖ (the raw norm, kept for diagnostics/raw-space
    * reconstruction; cosine encodes and serves on the UNIT sphere —
    * residuals against the spherical-kmeans centroids — so its
    * estimate is a cosine directly). Scan bytes: 1 bit/dim + 24 bytes
    * — still ~25× under float32 at dim 64 and asymptotically 32×.
    */
  private[graft] def storageFields(storage: String): Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    Quantize.requireStorage(storage, "ivf") match {
      case "float32" => Nil
      case "sq8" => Seq(StructField("vq_code", ArrayType(ByteType)),
        StructField("vq_scale", DoubleType))
      case "binary" => Seq(StructField("vq_bits", ArrayType(LongType)))
      case "rabitq" => Seq(StructField("vq_bits", ArrayType(LongType)),
        StructField("vq_norm", DoubleType),
        StructField("vq_align", DoubleType),
        StructField("vq_vnorm", DoubleType))
    }
  }

  /** Swap the float vector column for its quantized representation —
    * shared by [[build]], [[append]], and the table-attached refresh
    * (additions must match the layout's storage). sq8 and binary are
    * codegen'd column arithmetic, no UDF, and cluster-independent: sq8
    * is the [[Quantize]] scale/encode pair (scale MATERIALIZED first —
    * substituting scaleCol into the encode lambda would re-evaluate
    * array_max per element), binary is the [[graft.functions.SignPack]]
    * expression. rabitq's payload derives from the row's RESIDUAL
    * against its cell centroid (`cluster_id` must be set) and the
    * model's rotation: a build/refresh-path UDF over
    * [[Quantize.rabitqEncode]] (one matrix-vector product per row — the
    * same cost class as [[cellUdf]]'s assignment, amortized over the
    * layout's life); the SERVE path stays pure column arithmetic
    * ([[rabitqScore]]).
    */
  private[graft] def quantizeLayoutModel(model: Model, df: DataFrame,
                                         vecCol: String): DataFrame =
    Quantize.requireStorage(model.storage, "ivf") match {
      case "float32" => df
      case "sq8" =>
        df.withColumn("vq_scale", Quantize.scaleCol(col(vecCol)))
          .withColumn("vq_code", Quantize.encode(col(vecCol), col("vq_scale")))
          .drop(vecCol)
      case "binary" =>
        df.withColumn("vq_bits", graft.functions.vectors.sign_pack(col(vecCol)))
          .drop(vecCol)
      case "rabitq" =>
        val spark = df.sparkSession
        val bcC = spark.sparkContext.broadcast(model.centroids)
        val bcR = spark.sparkContext.broadcast(model.rot.getOrElse(
          throw new IllegalStateException("rabitq model carries no rotation — corrupt save")))
        // cosine centroids live in NORMALIZED space (the build's
        // spherical-kmeans) — the residual must too
        val cosine = model.metric == "cosine"
        val enc = udf { (v: Seq[Float], cid: Int) =>
          val (bits, rn, align, vn) =
            Quantize.rabitqEncode(v.toArray, bcC.value(cid), bcR.value, cosine)
          (bits.toSeq, rn, align, vn)
        }
        df.withColumn("__rq", enc(col(vecCol), col("cluster_id")))
          .withColumn("vq_bits", col("__rq._1"))
          .withColumn("vq_norm", col("__rq._2"))
          .withColumn("vq_align", col("__rq._3"))
          .withColumn("vq_vnorm", col("__rq._4"))
          .drop("__rq", vecCol)
    }

  /** The quantized rank score for a cell scan: larger = better for
    * EVERY metric (the caller orders desc). sq8 reconstructs
    * (code·scale, the exact [[Quantize.decode]] arithmetic) and applies
    * the real metric — negated for l2 so desc order still ranks best
    * first. binary ranks by the asymmetric [[graft.functions.AdcDot]]
    * ⟨q, sign(v)⟩, the correct rank proxy for all three metrics over
    * ±1 reconstructions: cosine and l2 are monotone in it (|sign(v)| is
    * the constant √dim) and dot IS it. `qvec` is the query: a literal
    * for one query, or a column in the batch (knn-join) shape, where
    * each row carries its own query vector.
    */
  private[graft] def quantizedScore(storage: String, metric: String,
                                    qvec: Column): Column = storage match {
    case "sq8" =>
      val dec = Quantize.decode(col("vq_code"), col("vq_scale"))
      val s = VectorSearch.scoreCol(dec, qvec.cast("array<double>"), metric)
      if (metric == "l2") -s else s
    case "binary" =>
      graft.functions.vectors.adc_dot(qvec, col("vq_bits"))
  }

  /** The fit sample's row cap: 256 rows per centroid (Lance's IVF
    * `sample_rate`, FAISS's `max_points_per_centroid`), at most 100 000.
    */
  private[graft] def fitSampleCap(nlist: Int): Int = math.min(256L * nlist, 100000L).toInt

  /** The fraction of `nRows` rows that samples about [[fitSampleCap]]. */
  private[graft] def fitFraction(nlist: Int, nRows: Long): Double =
    math.min(1.0, fitSampleCap(nlist).toDouble / math.max(1L, nRows))

  /** Fit nlist centroids on the DRIVER and lay the table out as one
    * partition dir per cluster. A seeded sample of at most
    * [[fitSampleCap]] non-null vectors (L2-normalized for cosine, so
    * euclidean cells == angular cells) is fit by [[PqIndex.lloyd]]
    * (k-means++ seeded):
    * O(sample × nlist × dim × 8), ~1 s at nlist 32, dim 384 — the same
    * driver-side bound as ivfpq's coarse fit. The sample fraction is
    * `fitSampleFraction` when given (no count; the whole fraction is
    * collected before the cap), else [[fitFraction]] of a `count()`.
    * The layout is one pass: `cluster_id` = [[cellUdf]], the assignment
    * refresh recomputes, then [[quantizeLayoutModel]].
    */
  def build(data: DataFrame, vecCol: String, nlist: Int, path: String,
            metric: String = "cosine", seed: Long = 42L,
            fitSampleFraction: Option[Double] = None,
            persistModel: Boolean = true,
            storage: String = "float32"): Model = {
    Quantize.requireStorage(storage, "ivf")
    require(nlist > 1, s"ivf needs nlist > 1, got $nlist")
    val cap = fitSampleCap(nlist)
    val fraction = fitSampleFraction.getOrElse(fitFraction(nlist, data.count()))
    val drawn = data.sample(fraction, seed).filter(col(vecCol).isNotNull)
      .select(vecCol).collect().map(_.getSeq[Float](0).toArray)
    // Bernoulli sampling overshoots: a seeded subset keeps the cap
    val capped =
      if (drawn.length > cap) new scala.util.Random(seed).shuffle(drawn.toSeq).take(cap).toArray
      else drawn
    require(capped.nonEmpty, s"no non-null '$vecCol' vectors in the fit sample to fit $nlist cells")
    val sample = if (metric == "cosine") capped.map(normalize) else capped
    val centroids = PqIndex.lloyd(sample, nlist, iters = 8, seed, plusPlus = true)
    // rabitq: one seeded rotation per layout, derived before any row is
    // encoded (dim from the fitted centroids — no extra data pass)
    val rot = if (storage == "rabitq")
      Some(Quantize.randomRotation(centroids.head.length, seed + 1)) else None
    val m = Model(path, centroids, metric, storage = storage, rot = rot)
    graft.sources.GraftTable.clusteredFor(layout(m, data, vecCol), "cluster_id")
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    // opt-out for callers that version the model themselves (the
    // table-attached GraftIndex): a layout-local `_model` there would
    // be redundant AND go stale across refresh generations
    if (persistModel) save(data.sparkSession, m)
    m
  }

  /** Persist the fitted model INSIDE its layout (`<path>/_model` —
    * underscore-prefixed, so both the layout scan's partition discovery
    * and the table-attached index's manifest lister ignore it): build
    * once, [[load]] + probe from any later process without refitting.
    * [[build]] saves automatically. Row scheme matches the
    * table-attached index's model files ((part, i, j, vec) rows, plus
    * a metric carrier row using the string column).
    */
  def save(spark: SparkSession, model: Model): Unit = {
    import spark.implicits._
    val rows: Seq[(String, Int, Int, Seq[Float], String)] =
      (("metric", 0, 0, Seq.empty[Float], model.metric) +:
       ("storage", 0, 0, Seq.empty[Float], model.storage) +:
       model.centroids.zipWithIndex.toSeq.map { case (c, i) =>
         ("coarse", i, 0, c.toSeq, null.asInstanceOf[String]) }) ++
      model.rot.toSeq.flatMap(_.zipWithIndex.map { case (r, i) =>
        ("rot", i, 0, r.toSeq, null.asInstanceOf[String]) })
    rows.toDF("part", "i", "j", "vec", "s").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"${model.path}/_model")
  }

  /** Reconstruct a saved [[Model]] from its layout path (see [[save]]).
    * The returned model scans the layout directory (no pinned file set)
    * — the standalone-layout serving shape.
    */
  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(s"$path/_model").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Float](3), r.getString(4)))
    val metric = rows.find(_._1 == "metric")
      .getOrElse(throw new IllegalStateException(s"no saved model under $path"))._4
    val centroids = rows.filter(_._1 == "coarse").sortBy(_._2).map(_._3.toArray)
    // pre-quantization saves carry no storage row: float32
    val storage = rows.find(_._1 == "storage").map(_._4).getOrElse("float32")
    val rotRows = rows.filter(_._1 == "rot").sortBy(_._2).map(_._3.toArray)
    Model(path, centroids, metric, storage = storage,
      rot = if (rotRows.isEmpty) None else Some(rotRows))
  }

  /** Top-k against the index, reading only the nprobe nearest cells.
    *
    * `pred` is pushed INTO the index scan (the reference's own declared
    * future work — demo.ipynb cell 13: "hudi_vector_search() … doesn't
    * yet support predicate pushdown"): it lands next to the partition
    * filter, so Catalyst pushes it to the parquet reader
    * (`PushedFilters`) and rows failing the predicate are never scored.
    * Filtered hybrid-ANN queries therefore scan LESS, not more — no
    * post-filter + re-probe-wider loop.
    */
  def probe(spark: SparkSession, model: Model, idCol: String, vecCol: String,
            query: Seq[Float], k: Int, nprobe: Int,
            pred: Option[org.apache.spark.sql.Column] = None): DataFrame =
    probeKeys(spark, model, Seq(idCol), vecCol, query, k, nprobe, pred)

  /** [[probe]] for COMPOSITE record keys: ties at the k-th score break
    * on every key column, in key order.
    */
  private[graft] def probeKeys(spark: SparkSession, model: Model, keyCols: Seq[String],
                               vecCol: String, query: Seq[Float], k: Int, nprobe: Int,
                               pred: Option[org.apache.spark.sql.Column]): DataFrame = {
    require(model.storage == "float32",
      s"standalone probe of a '${model.storage}' ivf layout: quantized cells carry no " +
        "float vectors to score exactly — serve through the table-attached " +
        "GraftIndex (two-stage: quantized candidates, exact rerank from the table)")
    val scan = cellScan(spark, model, nearestCells(model, query, nprobe))
    val filtered = pred.fold(scan)(scan.filter)
    VectorSearch.topKBy(filtered, vecCol, keyCols, query, k, model.metric)
  }

  /** The QUANTIZED candidate stage for a single query: scan the nprobe
    * nearest cells (partition-pruned, `pred` pushed into the scan like
    * [[probe]]) and keep the `kf` best rows by the quantized rank score
    * — a TakeOrderedAndProject over 1-byte/dim (sq8) or 1-bit/dim
    * (binary, rabitq) scan bytes, deterministic (ties on every key
    * column, ascending, in key order). The caller exact-reranks the
    * survivors from a float source; the `__qscore` column is the RANK
    * proxy, not an emitted score, and is kept only for diagnostics.
    */
  private[graft] def quantizedCandidates(spark: SparkSession, model: Model,
                                         keyCols: Seq[String], query: Seq[Float],
                                         kf: Int, nprobe: Int,
                                         pred: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(model.storage != "float32", "quantizedCandidates needs a quantized layout")
    val cells = nearestCells(model, query, nprobe)
    val scan = cellScan(spark, model, cells)
    val filtered = pred.fold(scan)(scan.filter)
    if (model.storage == "rabitq") {
      import spark.implicits._
      val consts = rabitqProbeRows(model, query, cells)
        .toDF("cluster_id", "__w", "__aux", "__qn")
      filtered.join(broadcast(consts), "cluster_id")
        .withColumn("__qscore", rabitqScore(model.metric, query.length))
        .drop("__w", "__aux", "__qn")
        .orderBy(desc("__qscore") +: keyCols.map(asc): _*).limit(kf)
    } else
      filtered
        .withColumn("__qscore", quantizedScore(model.storage, model.metric, typedlit(query)))
        .orderBy(desc("__qscore") +: keyCols.map(asc): _*).limit(kf)
  }

  /** RaBitQ serving constants for ONE query, per probed cell:
    * (cell, __w = rotated unit estimation direction, __aux, __qn).
    * For l2 the estimator direction is the CENTERED query — ŵ =
    * P·(q−c)/‖q−c‖, __aux = ‖q−c‖ — giving dist²(q,v) = ‖r‖² + ‖q−c‖²
    * − 2‖r‖‖q−c‖·est⟨r̂, ŵ⟩ with NO approximation beyond the estimator
    * itself; for dot/cosine ŵ = P·q̂ (cell-independent) and __aux =
    * ⟨c, q⟩, giving est⟨v, q⟩ = ⟨c, q⟩ + ‖r‖‖q‖·est⟨r̂, q̂⟩. Driver
    * cost: nprobe rotations of a dim-vector — microseconds.
    */
  private def rabitqProbeRows(model: Model, query: Seq[Float], cells: Seq[Int])
      : Seq[(Int, Seq[Float], Double, Double)] = {
    val rot = model.rot.getOrElse(throw new IllegalStateException(
      "rabitq layout carries no rotation — corrupt model save"))
    val q = query.toArray
    var qn2 = 0.0
    var i = 0
    while (i < q.length) { qn2 += q(i).toDouble * q(i); i += 1 }
    val qn = math.sqrt(qn2)
    if (model.metric == "l2")
      cells.map { cid =>
        val c = model.centroids(cid)
        val w = new Array[Float](q.length)
        var n2 = 0.0; var j = 0
        while (j < q.length) {
          val x = q(j) - c(j); w(j) = x; n2 += x.toDouble * x; j += 1
        }
        val qcn = math.sqrt(n2)
        if (qcn > 0.0) {
          var k = 0
          while (k < w.length) { w(k) = (w(k) / qcn).toFloat; k += 1 }
        }
        (cid, Quantize.rotateVec(w, rot).toSeq, qcn, qn)
      }
    else {
      val unit = if (qn == 0.0) q else q.map(x => (x / qn).toFloat)
      val wrot = Quantize.rotateVec(unit, rot).toSeq
      // cosine scores live on the unit sphere (residuals were encoded
      // against normalized-space centroids): __aux = ⟨c, q̂⟩ and the
      // estimate is a cosine directly; dot stays in raw space
      val qd = if (model.metric == "cosine") unit else q
      cells.map { cid =>
        val c = model.centroids(cid)
        var cq = 0.0; var j = 0
        while (j < q.length) { cq += c(j).toDouble * qd(j); j += 1 }
        (cid, wrot, cq, qn)
      }
    }
  }

  /** The RaBitQ rank score over a cell scan joined with its per-cell
    * consts (__w, __aux, __qn): est⟨r̂, ŵ⟩ = (⟨signs, w⟩/√D)/align
    * (the paper's unbiased estimator — ⟨x̄, ŵ'⟩/⟨x̄, r̂'⟩ with x̄ =
    * sign/√D), then the metric's estimate. Larger is better for every
    * metric (l2 negated), matching [[quantizedScore]]'s contract.
    * Pure column arithmetic over 1-bit codes + three scalars — the
    * serve path stays codegen-friendly; only build pays the UDF.
    */
  private def rabitqScore(metric: String, dim: Int): Column = {
    val est = (graft.functions.vectors.adc_dot(col("__w"), col("vq_bits"))
      / math.sqrt(dim.toDouble)) / col("vq_align")
    metric match {
      case "l2" =>
        -(col("vq_norm") * col("vq_norm") + col("__aux") * col("__aux")
          - lit(2.0) * col("vq_norm") * col("__aux") * est)
      case "dot" => col("__aux") + col("vq_norm") * col("__qn") * est
      // unit-sphere estimate: ⟨v̂, q̂⟩ = ⟨c, q̂⟩ + ‖r‖·est⟨r̂, q̂⟩ — the
      // residual was encoded against the normalized-space centroid, so
      // its norm is the WITHIN-CELL angular spread and the estimator's
      // noise scales with it, not with ‖v‖
      case "cosine" => col("__aux") + col("vq_norm") * est
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }
  }

  /** Incremental index maintenance: append a batch of NEW vectors to an
    * existing layout. Rows are assigned to their nearest EXISTING
    * centroid (same normalized space the build used) and appended into
    * the `partitionBy(cluster_id)` dirs — probes list partition dirs
    * per query, so appended rows are visible immediately, and an
    * exhaustive (nprobe = nlist) probe stays exact by construction.
    * Centroids are NOT refit: appends keep nprobe recall while the
    * vector distribution is stable; drift is handled by periodic
    * offline rebuild (standard IVF practice).
    *
    * Streaming hookup is one line — the micro-batch body IS this
    * method: {{{
    *   stream.writeStream.foreachBatch((b, _) => IvfIndex.append(model, b, "embedding"))
    * }}}
    */
  def append(model: Model, batch: DataFrame, vecCol: String): Unit =
    graft.sources.GraftTable.clusteredFor(layout(model, batch, vecCol), "cluster_id")
      .write.mode(SaveMode.Append).partitionBy("cluster_id").parquet(model.path)

  /** `df` in the layout's row shape ([[cellUdf]] cell + payload). */
  private def layout(model: Model, df: DataFrame, vecCol: String): DataFrame =
    quantizeLayoutModel(model,
      df.withColumn("cluster_id", cellUdf(df.sparkSession, model)(col(vecCol))), vecCol)

  private[graft] def cellScan(spark: SparkSession, model: Model, cells: Seq[Int]): DataFrame =
    cellScan(spark, model.schema, model.files, model.path, cells)

  /** The scan of the probed `cells` — the one way every IVF/PQ probe
    * (and the refresh's kept-cells rewrite) reads cells. With a
    * manifest-pinned file set it is Spark's native Parquet scan of that
    * list ([[graft.sources.GraftFileIndex]]: each file with its recorded
    * length and its cell as the `cluster_id` partition value), and the
    * `cluster_id IN (cells)` partition filter prunes the list inside
    * `listFiles` — no directory is listed and no file is statted, however
    * many generations the cells' files span. Probed cells that deletes
    * dropped from the manifest contribute nothing. Without a recorded
    * schema the data schema is inferred from one file's footer. Without
    * a file set (standalone layouts) it is the directory scan with the
    * same partition filter.
    */
  private[graft] def cellScan(spark: SparkSession,
                              schema: Option[org.apache.spark.sql.types.StructType],
                              files: Option[Map[Int, Seq[(String, Long)]]],
                              path: String, cells: Seq[Int]): DataFrame = {
    val scan = files match {
      case None => schema.fold(spark.read)(spark.read.schema(_)).parquet(path)
      case Some(fm) =>
        require(fm.nonEmpty, s"empty index manifest for layout $path — caller handles empty")
        val dataSchema = schema.fold(spark.read.parquet(fm.values.flatten.head._1).schema)(sc =>
          org.apache.spark.sql.types.StructType(sc.fields.filterNot(_.name == "cluster_id")))
        org.apache.spark.sql.graftshim.Bridge.parquetScan(spark,
          graft.sources.GraftFileIndex.layout(path, fm), dataSchema)
    }
    scan.filter(col("cluster_id").isin(cells.distinct: _*))
  }

  /** Nearest-existing-centroid assignment as a UDF (the same normalized
    * space the build used) — shared by [[append]] and the table-attached
    * index's refresh, which must recompute the cell an OLD row lives in
    * to rewrite it.
    */
  private[graft] def cellUdf(spark: SparkSession,
                             model: Model): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(model.centroids)
    val cosine = model.metric == "cosine"
    udf { (v: Seq[Float]) =>
      val arr = if (cosine) normalize(v.toArray) else v.toArray
      PqIndex.nearestIdx(bc.value, arr)
    }
  }

  /** Batched ANN k-NN join through the index: every query row gets its
    * approximate top-k neighbors, reading only the union of the
    * queries' nprobe cells. The per-query cell sets are computed
    * driver-side (queries are the small side by definition) and joined
    * as a broadcast `(qid, cell, qvec)` table against the
    * partition-pruned index scan on `cell == cluster_id` — so each
    * index row is scored only against the queries probing its cell,
    * and the big side never shuffles. A per-qid window keeps the top k.
    * The ANN twin of [[VectorSearch.knnJoin]] (exact, full-scan):
    * recall is bounded by the same nprobe/nlist trade as single-query
    * probes.
    */
  def knnJoin(spark: SparkSession, model: Model, idCol: String, vecCol: String,
              queries: Seq[(Long, Seq[Float])], k: Int, nprobe: Int,
              pred: Option[org.apache.spark.sql.Column] = None): DataFrame =
    knnJoinKeys(spark, model, Seq(idCol), vecCol, queries, k, nprobe, pred)

  /** [[knnJoin]] for COMPOSITE record keys (a (tenant, id)-keyed table,
    * the common multi-tenant shape): the key columns ride the per-query
    * top-k as ONE orderable struct (heap and window order it
    * identically — [[VectorSearch.perQueryTopK]]'s composite tie-break)
    * and expand back to (qid, key…, score) on the way out. Single-key
    * output is column-identical to [[knnJoin]]'s.
    */
  private[graft] def knnJoinKeys(spark: SparkSession, model: Model,
                                 keyCols: Seq[String], vecCol: String,
                                 queries: Seq[(Long, Seq[Float])], k: Int, nprobe: Int,
                                 pred: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    require(model.storage == "float32",
      s"standalone knnJoin over a '${model.storage}' ivf layout: quantized cells carry " +
        "no float vectors — serve through the table-attached GraftIndex.knnJoin")
    import spark.implicits._
    val probeRows = queries.flatMap { case (qid, qv) =>
      nearestCells(model, qv, nprobe).map(c => (qid, c, qv))
    }
    val probes = probeRows.toDF("qid", "cell", "qvec")
    val allCells = probeRows.map(_._2).distinct
    val scan0 = cellScan(spark, model, allCells)
    // pred pushes INTO the pruned cell scan (cells store full rows);
    // at partial nprobe a selective pred can leave fewer than k matches
    // inside the probed cells — the table-attached caller measures
    // selectivity and brute-forces that regime instead
    val scan = pred.fold(scan0)(scan0.filter)
    val scored = scan.join(broadcast(probes), col("cluster_id") === col("cell"))
      .withColumn("score", VectorSearch.scoreCol(col(vecCol), col("qvec"), model.metric))
      .select(col("qid"), keyStruct(keyCols), col("score"))
    // per-partition bounded heap first (same reducer as the exact join):
    // a bare per-qid window would hash-shuffle EVERY scored candidate
    // into |queries| partitions — a skew funnel at scale
    expandKey(
      VectorSearch.perQueryTopK(scored, "qid", keyName(keyCols), k, model.metric),
      keyCols)
  }

  /** Composite keys travel the per-query top-k as one orderable struct
    * column `__key`; a single key keeps its own name and these are
    * no-ops. Shared by [[knnJoinKeys]] / [[quantizedKnnCandidatesKeys]].
    */
  private[graft] def keyName(keyCols: Seq[String]): String =
    if (keyCols.length == 1) keyCols.head else "__key"

  private[graft] def keyStruct(keyCols: Seq[String]): org.apache.spark.sql.Column =
    if (keyCols.length == 1) col(keyCols.head)
    else struct(keyCols.map(col): _*).as("__key")

  private[graft] def expandKey(df: DataFrame, keyCols: Seq[String]): DataFrame =
    if (keyCols.length == 1) df
    else df.select(col("qid") +:
      keyCols.map(c => col(s"__key.$c").as(c)) :+ col("score"): _*)

  /** The QUANTIZED candidate stage for a query batch: the same
    * broadcast-probes shape as [[knnJoin]] (big side never shuffles,
    * each cell row scored only against the queries probing it), ranked
    * by the quantized proxy, `kf` best per query via the bounded-heap
    * reducer. Composite record keys follow the [[knnJoinKeys]]
    * convention: they ride the per-query cut as one struct. Returns
    * (qid, key…, score) where score is the RANK PROXY — the caller
    * exact-reranks from a float source.
    */
  private[graft] def quantizedKnnCandidatesKeys(spark: SparkSession, model: Model,
                                                keyCols: Seq[String],
                                                queries: Seq[(Long, Seq[Float])],
                                                kf: Int, nprobe: Int,
                                                pred: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import spark.implicits._
    require(model.storage != "float32", "quantizedKnnCandidatesKeys needs a quantized layout")
    val probed = queries.map { case (qid, qv) => (qid, qv, nearestCells(model, qv, nprobe)) }
    // only the per-(query, cell) probe columns and the score depend on
    // the storage: rabitq scores from per-cell estimator consts, sq8 and
    // binary from the query vector itself
    val (probes, score) =
      if (model.storage == "rabitq")
        (probed.flatMap { case (qid, qv, cells) =>
          rabitqProbeRows(model, qv, cells)
            .map { case (cid, w, aux, qn) => (qid, cid, w, aux, qn) }
        }.toDF("qid", "cell", "__w", "__aux", "__qn"),
          rabitqScore(model.metric, queries.head._2.length))
      else
        (probed.flatMap { case (qid, qv, cells) => cells.map(c => (qid, c, qv)) }
          .toDF("qid", "cell", "qvec"),
          quantizedScore(model.storage, model.metric, col("qvec")))
    val scan0 = cellScan(spark, model, probed.flatMap(_._3).distinct)
    val scan = pred.fold(scan0)(scan0.filter)
    val scored = scan.join(broadcast(probes), col("cluster_id") === col("cell"))
      .withColumn("score", score)
      .select(col("qid"), keyStruct(keyCols), col("score"))
    // the proxy is larger-is-better for EVERY metric — rank with a
    // descending metric regardless of model.metric
    expandKey(
      VectorSearch.perQueryTopK(scored, "qid", keyName(keyCols), kf, "dot"), keyCols)
  }

  /** Driver-side centroid ranking (nlist × dim floats — microseconds).
    * cosine/l2 rank cells by euclidean distance (cosine in normalized
    * space, where angular order == L2 order); `dot` must rank by
    * DESCENDING inner product — the max-dot rows live in large-norm
    * cells that can be L2-far from the query (standard IVF-IP coarse
    * ranking). Exhaustive probes (nprobe = nlist) are exact either way.
    */
  private[graft] def nearestCells(model: Model, query: Seq[Float], nprobe: Int): Seq[Int] = {
    val q = if (model.metric == "cosine") normalize(query.toArray) else query.toArray
    val byDot = model.metric == "dot"
    model.centroids.zipWithIndex.map { case (c, i) =>
      var acc = 0.0; var j = 0
      if (byDot) { while (j < c.length) { acc -= c(j).toDouble * q(j); j += 1 } } // negated: sort asc = desc dot
      else { while (j < c.length) { val t = c(j) - q(j); acc += t * t; j += 1 } }
      (acc, i)
    }.sortBy(_._1).take(nprobe).map(_._2).toSeq
  }
}
