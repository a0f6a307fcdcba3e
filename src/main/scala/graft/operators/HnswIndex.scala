package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** HNSW ANN index (Malkov & Yashunin 2018, "Efficient and robust
  * approximate nearest neighbor search using Hierarchical Navigable
  * Small World graphs") — the graph-based complement to the cell-based
  * [[IvfIndex]]/[[PqIndex]] family. The reference's table format
  * (Lance, see /root/reference README "Indexing") ships IVF_PQ; HNSW is
  * the other production ANN shape (Lucene 9 / Milvus segments) and the
  * one this family was missing: search cost is O(ef·log n) distance
  * evaluations per segment instead of scanning nprobe/nlist of the
  * corpus.
  *
  * Spark-first layout — ONE GRAPH PER PARTITION, the Lucene
  * segment-HNSW shape, because a single global graph is a pointer-chase
  * structure that cannot shard:
  *  - build: rows hash-partition by id into `nPartitions` segments;
  *    each task builds its segment's full multi-layer graph in memory
  *    (mapPartitions — genuine per-partition imperative construction,
  *    the documented last-resort case) and writes it as plain parquet
  *    rows `(id, vec, links[level][i] = neighbor id)` under `pid=<p>/`.
  *    `nPartitions` is the memory knob: a segment must fit in one
  *    task's heap (at 100 TB: thousands of 1–10 M-vector segments, the
  *    same sizing Lucene applies per shard).
  *  - probe: each segment dir is read `.coalesce(1)` (whole graph in
  *    one task, NO shuffle — coalesce only narrows) and searched with a
  *    bounded `ef` frontier; the per-segment top-k union through one
  *    global TakeOrdered. Segments search in parallel — query latency
  *    is one segment's sub-linear walk, not the corpus scan.
  *
  * Determinism (the house contract): insertion order is sorted by id
  * within a partition, level draws come from an RNG seeded by the
  * partition id, and every tie in heaps/selection breaks on ascending
  * id — two builds of the same data are bit-identical, and probes
  * replay exactly (HnswSpec pins both).
  *
  * Approximation is honest: HNSW has NO exhaustive setting (recall → 1
  * as `ef` grows but is never guaranteed), so the queries row is
  * rows-only with recall pinned against brute force in HnswSpec —
  * unlike IVF, where nprobe = nlist earns a DuckDB oracle.
  *
  * QUANTIZED STORAGE (`storage` = "sq8" | "binary" | "rabitq"; rabitq
  * is the next paragraph): at 100 TB the
  * dominant serve cost is segment SCAN BYTES, and a float32 vector
  * column is 32 bits/dim of it — the reference's format ships IVF_PQ
  * for exactly this reason (README.md:40-44, the Lance index types).
  * With sq8 the segment stores one signed byte/dim plus a per-vector
  * scale (the [[Quantize]] arithmetic: scale = max|x|/127, code =
  * floor(x/scale + 0.5) — 4× fewer scan bytes); with binary it stores
  * packed sign bits (the [[graft.functions.SignPack]] convention,
  * 32× fewer). The graph is BUILT and WALKED on the reconstructed
  * vectors (code·scale, resp. ±1), so build and probe see the
  * identical geometry and probes replay deterministically; scores from
  * a quantized layout are therefore RANKING scores, and the
  * table-attached wrapper ([[graft.sources.GraftHnsw]]) exact-reranks
  * the frontier from the table's float column — the same two-stage
  * shape as the oracle-proven `vs_topk_hamming_rerank`/`vs_topk_adc_
  * rerank` expression rows (§2 rows 7d/7g), now applied to the stored
  * index. Recall vs the float32 layout is pinned in HnswSpec.
  *
  * `storage = "rabitq"` is the ESTIMATOR-grade 1-bit layout (Gao &
  * Long, SIGMOD 2024 — the same [[Quantize.rabitqEncode]] kernel as
  * [[IvfIndex]]'s rabitq cells): sign bits of the seeded-rotated
  * residual against ONE global layout centroid plus two scalars (the
  * residual norm and the align normalizer), decoded to
  * v̂ = c + (‖r‖/align)·Pᵀ(s/√D) so the plain walk kernels replay the
  * unbiased RaBitQ estimate. The measured
  * reason it exists here: plain sign bits are NORM-BLIND — on a
  * log-normal-norm dot-metric corpus they collapse (0.27 overlap@10 in
  * the IVF measurement, SURVEY §15.13) because every high-norm vector
  * decodes to the same ±1 shell; the rabitq reconstruction carries
  * ‖v−c‖ per vector, so a dot-metric graph WALK ranks candidates
  * norm-aware. Same scan-byte class as binary (1 bit/dim + 12
  * bytes/row).
  */
object HnswIndex {

  final case class Model(path: String, metric: String, m: Int,
                         efConstruction: Int, nPartitions: Int,
                         storage: String = "float32",
                         centroid: Option[Array[Float]] = None)

  /** The rabitq rotation's fixed seed: the matrix is DERIVED (dim comes
    * from the stored centroid), never persisted — deterministic like
    * every other house build input.
    */
  private[graft] val RabitqSeed = 0x5ab17aL

  /** rabitq encode/decode context: the layout's single global centroid
    * (segments build independently in parallel tasks, so the residual
    * base must be decided BEFORE partitioning — one centroid per layout,
    * not per cell like [[IvfIndex]]'s; what the estimator loses in
    * residual tightness it keeps in the norm + align scalars, which is
    * where norm-blind sign bits collapse in the MIPS regime) plus the
    * seeded rotation and the metric's space flag.
    */
  private[graft] final case class RabitqCtx(centroid: Array[Float],
                                            rot: Array[Array[Float]],
                                            cosine: Boolean)

  private[graft] def rabitqCtx(model: Model): RabitqCtx = {
    val c = model.centroid.getOrElse(throw new IllegalStateException(
      "rabitq hnsw layout carries no centroid — corrupt model save"))
    RabitqCtx(c, Quantize.randomRotation(c.length, RabitqSeed),
      model.metric == "cosine")
  }

  /** Per-storage vector payload columns; `links` always comes last.
    * binary carries the dim per row (the packed words alone can't
    * distinguish d from the next multiple of 64; 4 RLE'd bytes/row).
    * rabitq stores rotated-residual sign bits + the two estimator
    * scalars (‖v−c‖ and the per-vector align normalizer — see
    * [[IvfIndex.storageFields]] for the estimator math provenance,
    * Gao & Long SIGMOD 2024) + dim.
    */
  private def storageFields(storage: String): Seq[StructField] =
    Quantize.requireStorage(storage, "hnsw") match {
      case "float32" => Seq(
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false))
      case "sq8" => Seq(
        StructField("qvec", BinaryType, nullable = false),
        StructField("scale", FloatType, nullable = false))
      case "binary" => Seq(
        StructField("bits", ArrayType(LongType, containsNull = false), nullable = false),
        StructField("dim", IntegerType, nullable = false))
      case "rabitq" => Seq(
        StructField("bits", ArrayType(LongType, containsNull = false), nullable = false),
        StructField("rnorm", FloatType, nullable = false),
        StructField("align", FloatType, nullable = false),
        StructField("dim", IntegerType, nullable = false))
    }

  private def graphSchema(storage: String): StructType = StructType(
    (StructField("id", LongType, nullable = false) +: storageFields(storage)) :+
      StructField("links", ArrayType(ArrayType(LongType, containsNull = false),
        containsNull = false), nullable = false))

  /** (vector the graph sees, storage payload cells). The graph is built
    * over the DECODED values — identical floats to what a probe decodes
    * from the stored payload, so build and serve share one geometry.
    * Decoded ±1 sign vectors make the float kernels compute exactly the
    * asymmetric/symmetric quantized scores: ⟨q, sign(v)⟩ is [[graft.
    * functions.AdcDot]], and distances between two sign vectors are
    * monotone in Hamming distance — no second kernel needed.
    */
  private def quantizeRow(storage: String, v: Array[Float],
                          ctx: RabitqCtx): (Array[Float], Seq[Any]) =
    storage match {
      case "float32" => (v, Seq(v.toSeq))
      case "sq8" =>
        val (codes, scale) = Quantize.sq8Encode(v)
        (Quantize.sq8Decode(codes, scale), Seq(codes, scale))
      case "binary" =>
        val bits = Quantize.packSigns(v)
        (Quantize.signDecode(bits, v.length), Seq(bits.toSeq, v.length))
      case "rabitq" =>
        // the layout stores the two estimator scalars as floats, and the
        // graph is built over the decode of exactly those floats
        val (bits, rn0, align0, _) =
          Quantize.rabitqEncode(v, ctx.centroid, ctx.rot, ctx.cosine)
        val (rn, align) = (rn0.toFloat, align0.toFloat)
        (Quantize.rabitqDecode(bits, rn, align, v.length, ctx.centroid, ctx.rot),
          Seq(bits.toSeq, rn, align, v.length))
    }

  /** A stored row's payload decoded to the vector the graph sees; the
    * storage was validated by [[graphSchema]] before any row is read.
    */
  private def decodeRow(storage: String, ctx: RabitqCtx)(r: Row): Array[Float] =
    storage match {
      case "float32" => r.getSeq[Float](1).toArray
      case "sq8"     => Quantize.sq8Decode(r.getAs[Array[Byte]](1), r.getFloat(2))
      case "binary"  => Quantize.signDecode(r.getSeq[Long](1).toArray, r.getInt(2))
      case "rabitq"  => Quantize.rabitqDecode(r.getSeq[Long](1).toArray, r.getFloat(2),
        r.getFloat(3), r.getInt(4), ctx.centroid, ctx.rot)
    }

  /** Internal distance: smaller = better, monotone with the metric's
    * ranking. Left-to-right double accumulation — the house kernel
    * convention, so emitted scores replay exactly.
    */
  private def dist(metric: String)(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var l2 = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; val t = x - y; l2 += t * t
      i += 1
    }
    metric match {
      case "cosine" => if (na == 0.0 || nb == 0.0) 1.0
                       else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
      case "dot"    => -dot
      case "l2"     => l2
      case m        => throw new IllegalArgumentException(s"unknown metric: $m")
    }
  }

  /** dist → the metric's reported score (cosine similarity / dot
    * product / euclidean distance — same senses as
    * [[VectorSearch.scoreCol]]).
    */
  private def score(metric: String, d: Double): Double = metric match {
    case "cosine" => 1.0 - d
    case "dot"    => -d
    case "l2"     => math.sqrt(d)
  }

  /** In-memory segment graph under construction. Arrays indexed by
    * local node index; `links(node)(level)` is a neighbor-index buffer.
    */
  private final class Graph(metric: String, m: Int, efC: Int, seed: Long) {
    val ids = mutable.ArrayBuffer.empty[Long]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    val links = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    var entry: Int = -1
    var maxLevel: Int = -1
    private val rng = new java.util.Random(seed)
    private val mL = 1.0 / math.log(m.toDouble)
    private val d = dist(metric) _

    private def randomLevel(): Int = {
      val u = rng.nextDouble()
      // u == 0 cannot happen (nextDouble ∈ [0,1)), but ln(≈0) would
      // explode the level; cap at 30 — beyond that the layer is empty
      // for any realistic segment size anyway
      math.min(30, (-math.log(1.0 - u) * mL).toInt)
    }

    /** Greedy single-entry walk at `level` (the ef=1 descent). */
    private def greedy(q: Array[Float], from: Int, level: Int): Int = {
      var cur = from
      var curD = d(q, vecs(cur))
      var improved = true
      while (improved) {
        improved = false
        val nb = links(cur)(level)
        var i = 0
        while (i < nb.length) {
          val c = nb(i)
          val cd = d(q, vecs(c))
          if (cd < curD || (cd == curD && ids(c) < ids(cur))) {
            cur = c; curD = cd; improved = true
          }
          i += 1
        }
      }
      cur
    }

    /** Algorithm 2: beam search at one level; returns up to `ef`
      * (dist, node) pairs, best-first. Ties break on ascending id
      * everywhere so construction and search are deterministic.
      *
      * `accept` (null = unfiltered, the hot path) is the FILTERED-KNN
      * acceptance test (Lucene's KnnFloatVectorQuery-with-filter shape,
      * public): rejected nodes stay fully TRAVERSABLE — they enter the
      * candidate frontier and their edges are expanded — but never the
      * result heap, so the walk routes THROUGH the filtered-out region
      * instead of fragmenting at its boundary. The competitive bound
      * (`res.head`) is then over accepted nodes only, which widens
      * traversal exactly when accepted results are scarce — recall
      * holds, cost grows as selectivity tightens (why the table-attached
      * caller swaps to brute force over the filtered subset below a
      * selectivity floor — the same two-path strategy Lucene applies).
      */
    private def searchLayer(q: Array[Float], ep: Int, ef: Int,
                            level: Int,
                            accept: Int => Boolean = null): mutable.ArrayBuffer[(Double, Int)] = {
      // candidates: best-first (min by dist); results: worst-first cap ef
      implicit val ordBest: Ordering[(Double, Int)] = new Ordering[(Double, Int)] {
        def compare(x: (Double, Int), y: (Double, Int)): Int = {
          val c = java.lang.Double.compare(y._1, x._1) // PQ is a max-heap; invert for min
          if (c != 0) c else java.lang.Long.compare(ids(y._2), ids(x._2))
        }
      }
      val ordWorst: Ordering[(Double, Int)] = new Ordering[(Double, Int)] {
        def compare(x: (Double, Int), y: (Double, Int)): Int = {
          val c = java.lang.Double.compare(x._1, y._1)
          if (c != 0) c else java.lang.Long.compare(ids(x._2), ids(y._2))
        }
      }
      val visited = mutable.BitSet(ep)
      val epD = d(q, vecs(ep))
      val cand = mutable.PriorityQueue((epD, ep))
      val res = mutable.PriorityQueue.empty[(Double, Int)](ordWorst)
      if (accept == null || accept(ep)) res.enqueue((epD, ep))
      while (cand.nonEmpty) {
        val (cd, c) = cand.dequeue()
        // frontier exhausted — size check FIRST: under a filter res may
        // be empty (rejected entry point) and res.head would throw
        if (res.size >= ef && cd > res.head._1) { cand.clear() }
        else {
          val nb = links(c)(level)
          var i = 0
          while (i < nb.length) {
            val e = nb(i)
            if (!visited.contains(e)) {
              visited += e
              val ed = d(q, vecs(e))
              if (res.size < ef || ed < res.head._1 ||
                  (ed == res.head._1 && ids(e) < ids(res.head._2))) {
                cand.enqueue((ed, e))
                if (accept == null || accept(e)) {
                  res.enqueue((ed, e))
                  if (res.size > ef) res.dequeue()
                }
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      res.foreach(out += _)
      out.sortInPlace()(ordWorst)
      out
    }

    /** Algorithm 4 (keepPruned variant): diversity-aware neighbor
      * selection — keep c only if it is closer to q than to every
      * already-selected neighbor, then backfill from the skipped pool.
      * This is what keeps clustered data navigable (plain nearest-M
      * links a clique inside each cluster and the graph fragments).
      */
    private def selectNeighbors(q: Array[Float], cands: mutable.ArrayBuffer[(Double, Int)],
                                max: Int): mutable.ArrayBuffer[Int] = {
      val selected = mutable.ArrayBuffer.empty[Int]
      val skipped = mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < cands.length && selected.length < max) {
        val (cd, c) = cands(i)
        var keep = true
        var j = 0
        while (keep && j < selected.length) {
          if (d(vecs(c), vecs(selected(j))) < cd) keep = false
          j += 1
        }
        if (keep) selected += c else skipped += c
        i += 1
      }
      var s = 0
      while (selected.length < max && s < skipped.length) {
        selected += skipped(s); s += 1
      }
      selected
    }

    private def maxDegree(level: Int): Int = if (level == 0) 2 * m else m

    def insert(id: Long, vec: Array[Float]): Unit = {
      val node = ids.length
      val l = randomLevel()
      ids += id
      vecs += vec
      links += Array.fill(l + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = node; maxLevel = l; return }
      var ep = entry
      var lc = maxLevel
      while (lc > l) { ep = greedy(vec, ep, lc); lc -= 1 }
      lc = math.min(l, maxLevel)
      while (lc >= 0) {
        val w = searchLayer(vec, ep, efC, lc)
        val neighbors = selectNeighbors(vec, w, m)
        var i = 0
        while (i < neighbors.length) {
          val nb = neighbors(i)
          links(node)(lc) += nb
          links(nb)(lc) += node
          // prune an over-full neighbor with the same diversity rule
          val cap = maxDegree(lc)
          if (links(nb)(lc).length > cap) {
            val pool = links(nb)(lc).map(x => (d(vecs(nb), vecs(x)), x))
            pool.sortInPlace()(new Ordering[(Double, Int)] {
              def compare(x: (Double, Int), y: (Double, Int)): Int = {
                val c = java.lang.Double.compare(x._1, y._1)
                if (c != 0) c else java.lang.Long.compare(ids(x._2), ids(y._2))
              }
            })
            links(nb)(lc) = selectNeighbors(vecs(nb), pool, cap)
          }
          i += 1
        }
        ep = w.head._2
        lc -= 1
      }
      if (l > maxLevel) { entry = node; maxLevel = l }
    }

    /** Serve path: descend, then beam at level 0; k best (dist, id).
      * `accept` (null = all) filters RESULT admission only — the descent
      * and level-0 traversal route through rejected nodes (see
      * [[searchLayer]]).
      */
    def search(q: Array[Float], k: Int, ef: Int,
               accept: Int => Boolean = null): Seq[(Double, Long)] = {
      if (entry < 0) return Seq.empty
      var ep = entry
      var lc = maxLevel
      while (lc > 0) { ep = greedy(q, ep, lc); lc -= 1 }
      searchLayer(q, ep, math.max(ef, k), 0, accept)
        .take(k).map { case (dd, n) => (dd, ids(n)) }.toSeq
    }
  }

  /** Build one segment; `payloads(n)` holds node n's STORAGE cells in
    * insertion order (the quantized bytes the parquet rows carry).
    */
  private def buildSegment(metric: String, m: Int, efC: Int, seed: Long,
                           storage: String, ctx: RabitqCtx,
                           rows: Iterator[(Long, Array[Float])])
      : (Graph, mutable.ArrayBuffer[Seq[Any]]) = {
    val g = new Graph(metric, m, efC, seed)
    val payloads = mutable.ArrayBuffer.empty[Seq[Any]]
    // deterministic insertion order: sorted by id (partition contents
    // are a hash class — already order-free; the sort pins the build)
    rows.toArray.sortBy(_._1).foreach { case (id, v) =>
      val (decoded, payload) = quantizeRow(storage, v, ctx)
      g.insert(id, decoded)
      payloads += payload
    }
    (g, payloads)
  }

  /** The layout's rabitq centroid: the mean vector of the corpus (mean
    * of UNIT vectors for cosine — residuals must live in the space the
    * metric ranks in). One aggregation pass at build time; appends and
    * merges reuse it from the model (the [[IvfIndex.append]]
    * no-refit convention — drift is periodic-rebuild's job).
    */
  private def meanVector(data: DataFrame, vecCol: String,
                         cosine: Boolean): Array[Float] = {
    val v0 = data.select(col(vecCol).cast("array<float>").as("__v"))
      .filter(col("__v").isNotNull)
    val v = if (!cosine) v0 else v0.select(expr(
      "transform(__v, x -> x / greatest(sqrt(aggregate(__v, 0D, (a, y) -> a + CAST(y AS DOUBLE) * y)), 1e-30d))")
      .as("__v"))
    val rows = v.select(posexplode(col("__v")).as(Seq("__i", "__x")))
      .groupBy("__i").agg(avg("__x").as("__m"))
      .orderBy("__i").collect()
    require(rows.nonEmpty, "rabitq hnsw build needs at least one non-null vector")
    rows.map(_.getDouble(1).toFloat)
  }

  /** Build `nPartitions` segment graphs and persist as parquet under
    * `path/pid=<p>/`. With `storage = "float32"` vectors are stored
    * raw (cosine normalization happens inside the distance kernel, so
    * scores replay from the raw floats — no quantization to undo);
    * `"sq8"`/`"binary"`/`"rabitq"` store the quantized payload instead
    * and the graph walks the reconstructed values — see the class docs.
    */
  def build(data: DataFrame, idCol: String, vecCol: String, path: String,
            m: Int = 16, efConstruction: Int = 100, metric: String = "cosine",
            nPartitions: Int = 4, storage: String = "float32"): Model = {
    require(m >= 2, s"need m >= 2, got $m")
    require(efConstruction >= m, s"need efConstruction >= m, got $efConstruction")
    Quantize.requireStorage(storage, "hnsw")
    val spark = data.sparkSession
    val centroid = if (storage == "rabitq")
      Some(meanVector(data, vecCol, metric == "cosine")) else None
    val ctx = centroid.map(c => RabitqCtx(c,
      Quantize.randomRotation(c.length, RabitqSeed), metric == "cosine")).orNull
    val enc = Encoders.row(StructType(StructField("pid", IntegerType, nullable = false)
      +: graphSchema(storage).fields.toSeq))
    val rows = data.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .repartition(nPartitions, col(idCol))
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val (g, payloads) = buildSegment(metric, m, efConstruction,
          seed = pid.toLong, storage, ctx,
          it.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
        (0 until g.ids.length).iterator.map { n =>
          Row.fromSeq((pid +: g.ids(n) +: payloads(n)) :+
            g.links(n).toSeq.map(_.map(x => g.ids(x)).toSeq))
        }
      }(enc)
    rows.write.mode("overwrite").partitionBy("pid").parquet(path)
    val model = Model(path, metric, m, efConstruction, nPartitions, storage, centroid)
    save(spark, model)
    model
  }

  /** Persist the model descriptor inside the layout (`_model`,
    * underscore-prefixed so partition discovery skips it) — the
    * [[IvfIndex.save]] convention.
    */
  def save(spark: SparkSession, model: Model): Unit = {
    import spark.implicits._
    Seq((model.metric, model.m, model.efConstruction, model.nPartitions,
        model.storage, model.centroid.map(_.toSeq)))
      .toDF("metric", "m", "ef_construction", "n_partitions", "storage", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${model.path}/_model")
  }

  def load(spark: SparkSession, path: String): Model = {
    val df = spark.read.parquet(s"$path/_model")
    val r = df.head()
    // pre-quantization layouts have no storage column: float32
    val storage = if (df.columns.contains("storage"))
      r.getString(r.fieldIndex("storage")) else "float32"
    val centroid = if (df.columns.contains("centroid") && !r.isNullAt(r.fieldIndex("centroid")))
      Some(r.getSeq[Float](r.fieldIndex("centroid")).toArray) else None
    Model(path, r.getString(r.fieldIndex("metric")), r.getInt(r.fieldIndex("m")),
      r.getInt(r.fieldIndex("ef_construction")),
      r.getInt(r.fieldIndex("n_partitions")), storage, centroid)
  }

  /** Existing segment dirs under the layout (one `pid=<n>/` per
    * segment — [[build]]'s initial partitions plus every [[append]]ed
    * flush), name-sorted for deterministic plan shape. One driver
    * listing, O(segments) metadata.
    */
  private def segmentDirs(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("pid="))
      .map(_.getPath.toString).sortBy(d => d.substring(d.lastIndexOf('=') + 1).toInt)
  }

  /** Run every query against every segment: each segment's complete
    * graph loads in ONE task (`.coalesce(1)` — a narrowing, never a
    * shuffle) and is walked once PER QUERY with a bounded-`ef` beam —
    * load once, search many (the query set rides the task closure;
    * serving-sized by contract). Output: (qid, id, score) candidates,
    * k per (query, segment).
    *
    * `acceptIds` (SORTED ascending) is the filtered-KNN accept set:
    * walks collect only listed ids while still traversing the full
    * graph (see Graph.searchLayer). Broadcast ONCE and shared by every
    * segment task — the caller bounds its size (it is the moderate-
    * selectivity regime by contract; very selective filters brute-force
    * instead and very loose ones post-filter, so the set never exceeds
    * the caller's acceptCap).
    */
  private def searchSegments(spark: SparkSession, model: Model,
                             queries: Seq[(Long, Array[Float])],
                             k: Int, ef: Int,
                             pids: Option[Set[Int]] = None,
                             acceptIds: Option[Array[Long]] = None): DataFrame = {
    val allDirs = segmentDirs(spark, model.path)
    val dirs = pids.fold(allDirs) { keep =>
      allDirs.filter(d => keep(d.substring(d.lastIndexOf('=') + 1).toInt))
    }
    require(dirs.nonEmpty, s"no segments under ${model.path} — build first")
    acceptIds.foreach { a =>
      var i = 1
      while (i < a.length) {
        require(a(i - 1) < a(i),
          "acceptIds must be sorted ascending and distinct — the walk binary-searches it")
        i += 1
      }
    }
    val acceptBc = acceptIds.map(spark.sparkContext.broadcast(_))
    val metric = model.metric
    val storage = model.storage
    val ctx = if (storage == "rabitq") rabitqCtx(model) else null
    val schema = graphSchema(storage)
    val linksIdx = schema.length - 1
    val outEnc = Encoders.product[(Long, Long, Double, Int)]
    val locals = dirs.map { dir =>
      val pid = dir.substring(dir.lastIndexOf('=') + 1).toInt
      spark.read.schema(schema).parquet(dir).coalesce(1)
        .mapPartitions { it =>
          val dec = decodeRow(storage, ctx) _
          val ids = mutable.ArrayBuffer.empty[Long]
          val vecs = mutable.ArrayBuffer.empty[Array[Float]]
          // inner arrays deserialize as mutable.ArraySeq — type them as
          // collection.Seq or the lambda's checkcast to immutable.Seq CCEs
          val linkIds = mutable.ArrayBuffer.empty[scala.collection.Seq[scala.collection.Seq[Long]]]
          it.foreach { r =>
            ids += r.getLong(0)
            vecs += dec(r)
            linkIds += r.getSeq[scala.collection.Seq[Long]](linksIdx)
          }
          if (ids.isEmpty) Iterator.empty
          else {
            // rebuild the in-memory graph: id → local index, then links
            val idx = new mutable.LongMap[Int](ids.length * 2)
            var n = 0
            while (n < ids.length) { idx.update(ids(n), n); n += 1 }
            // duplicate ids would silently COLLAPSE here — two graph
            // nodes remapped onto one, breaking the level invariant the
            // walk relies on (observed as an out-of-bounds mid-search).
            // The id column is a key by contract; refuse loudly, never
            // serve a corrupted graph.
            require(idx.size == ids.length,
              s"hnsw segment $pid holds ${ids.length - idx.size} duplicate id(s) " +
                "— the id column must be unique; dedup the input and rebuild")
            val g = new Graph(metric, 2, 2, 0L) // params unused on search
            n = 0
            while (n < ids.length) {
              g.ids += ids(n); g.vecs += vecs(n)
              g.links += linkIds(n).map(lvl =>
                lvl.map(x => idx(x)).to(mutable.ArrayBuffer)).toArray
              n += 1
            }
            // entry = the max-level node, ties to the smaller id — the
            // same rule the builder leaves behind implicitly
            var best = 0
            n = 1
            while (n < ids.length) {
              val cmp = g.links(n).length - g.links(best).length
              if (cmp > 0 || (cmp == 0 && ids(n) < ids(best))) best = n
              n += 1
            }
            g.entry = best
            g.maxLevel = g.links(best).length - 1
            val acceptArr = acceptBc.map(_.value).orNull
            val acceptFn: Int => Boolean =
              if (acceptArr == null) null
              else nd => java.util.Arrays.binarySearch(acceptArr, ids(nd)) >= 0
            queries.iterator.flatMap { case (qid, q) =>
              g.search(q, k, ef, acceptFn).iterator.map { case (d, id) =>
                (qid, id, score(metric, d), pid)
              }
            }
          }
        }(outEnc)
    }
    locals.reduce(_.union(_)).toDF("qid", "id", "score", "pid")
  }

  /** [[searchSegments]] for callers that need segment PROVENANCE and
    * SELECTION — the table-attached index ([[graft.sources.GraftHnsw]])
    * probes only its meta-committed segment set (an appended-but-
    * uncommitted segment must stay invisible) and filters candidates
    * against horizon tombstones, which apply per (key, segment-age).
    * Output: (qid, id, score, pid), k candidates per (query, segment).
    */
  def probeSegmentsWithPid(spark: SparkSession, model: Model,
                           queries: Seq[(Long, Array[Float])], k: Int, ef: Int,
                           pids: Option[Set[Int]] = None,
                           acceptIds: Option[Array[Long]] = None): DataFrame =
    searchSegments(spark, model, queries, k, ef, pids, acceptIds)

  /** Top-k probe: per-segment candidates union into a global
    * TakeOrdered k. `ef` is the recall/cost knob (beam width at level
    * 0). Output: (idCol, score) with the metric's score sense, ties on
    * ascending id.
    *
    * Scale note: segment dirs are enumerated once on the driver
    * (O(segments) metadata) and each probe task's work is the
    * ef-bounded walk — at serving volume the graph frames should be
    * `.cache()`d by the caller so repeated probes skip the parquet
    * read, which is exactly what [[graft.SparkEntry]]'s bench serve
    * row prices without (cold read each rep — the honest worst case).
    */
  def probe(spark: SparkSession, model: Model, idCol: String,
            query: Seq[Float], k: Int, ef: Int,
            acceptIds: Option[Array[Long]] = None): DataFrame = {
    val all = searchSegments(spark, model, Seq((0L, query.toArray)), k, ef,
        acceptIds = acceptIds)
      .select(col("id").as(idCol), col("score"))
    val ord = if (model.metric == "l2") asc("score") else desc("score")
    all.orderBy(ord, asc(idCol)).limit(k)
  }

  /** Decoded per-segment vectors of SELECTED segments: (pid, id, vec).
    * The payload decodes to exactly the floats the graph was built
    * over. NOTE for maintenance: [[graft.sources.GraftHnsw.merge]] used
    * to decode→re-encode through here, which is idempotent for
    * float32/sq8/binary and rabitq-dot/l2 but perturbs rabitq-COSINE's
    * residual direction (the re-normalize of the ≈-unit reconstruction)
    * — since r13 it carries the STORED payload through
    * [[segmentRows]]/[[appendStored]] instead, which is bit-exact for
    * every storage. This decoded view remains for diagnostics and
    * rebuild-shaped flows that genuinely want floats.
    */
  def segmentVectors(spark: SparkSession, model: Model,
                     pids: Set[Int]): DataFrame = {
    val storage = model.storage
    val ctx = if (storage == "rabitq") rabitqCtx(model) else null
    val schema = graphSchema(storage)
    val dirs = segmentDirs(spark, model.path)
      .filter(d => pids(d.substring(d.lastIndexOf('=') + 1).toInt))
    require(dirs.nonEmpty,
      s"no segments ${pids.toSeq.sorted.mkString(",")} under ${model.path}")
    val outEnc = Encoders.product[(Int, Long, Seq[Float])]
    dirs.map { dir =>
      val pid = dir.substring(dir.lastIndexOf('=') + 1).toInt
      spark.read.schema(schema).parquet(dir)
        .map(r => (pid, r.getLong(0), decodeRow(storage, ctx)(r).toSeq))(outEnc)
    }.reduce(_.union(_)).toDF("pid", "id", "vec")
  }

  /** One segment tier's raw STORED rows — (pid, id, <storage payload
    * cells>), links dropped: the merge substrate that preserves the
    * stored geometry BIT-EXACTLY for every storage. The r12
    * documented-approximate case (rabitq under cosine: decode→re-encode
    * re-normalizes the ≈-unit reconstruction and perturbs the residual
    * direction by O(estimator error)) is closed by never re-encoding:
    * [[appendStored]] rebuilds the merged segment's GRAPH from the
    * decoded vectors but writes these payload cells through unchanged.
    */
  def segmentRows(spark: SparkSession, model: Model, pids: Set[Int]): DataFrame = {
    val schema = graphSchema(model.storage)
    val payloadCols = schema.fields.dropRight(1).map(f => col(f.name)).toSeq
    val dirs = segmentDirs(spark, model.path)
      .filter(d => pids(d.substring(d.lastIndexOf('=') + 1).toInt))
    require(dirs.nonEmpty,
      s"no segments ${pids.toSeq.sorted.mkString(",")} under ${model.path}")
    dirs.map { dir =>
      val pid = dir.substring(dir.lastIndexOf('=') + 1).toInt
      spark.read.schema(schema).parquet(dir)
        .select(lit(pid).as("pid") +: payloadCols: _*)
    }.reduce(_.union(_))
  }

  /** [[append]] from STORED payload rows (the [[segmentRows]] shape
    * minus `pid`): the new segment's graph is built over the DECODED
    * vectors — the identical floats the source graphs walked, so the
    * merged tier shares their geometry — and the payload cells are
    * written through UNCHANGED (no re-encode, hence bit-exact for every
    * storage including rabitq-cosine). Deterministic like [[append]]:
    * insertion sorted by id, seed = pid. Returns the first new pid.
    */
  def appendStored(spark: SparkSession, model: Model, rows: DataFrame,
                   nNewSegments: Int = 1): Int = {
    require(nNewSegments >= 1, s"need nNewSegments >= 1, got $nNewSegments")
    val existing = segmentDirs(spark, model.path)
      .map(d => d.substring(d.lastIndexOf('=') + 1).toInt)
    require(existing.nonEmpty, s"no index under ${model.path} — build first")
    val base = existing.max + 1
    val (m, efC, metric, storage) =
      (model.m, model.efConstruction, model.metric, model.storage)
    val ctx = if (storage == "rabitq") rabitqCtx(model) else null
    val schema = graphSchema(storage)
    val payloadFields = schema.fields.dropRight(1).toSeq // id + storage cells
    val enc = Encoders.row(StructType(StructField("pid", IntegerType, nullable = false)
      +: schema.fields.toSeq))
    val out = rows.select(payloadFields.map(f => col(f.name)): _*)
      .repartition(nNewSegments, col("id"))
      .mapPartitions { it =>
        val pid = base + TaskContext.getPartitionId()
        val dec = decodeRow(storage, ctx) _
        // deterministic insertion order: sorted by id (the buildSegment
        // contract); node n == buf(n) because inserts follow buf order
        val buf = it.map(r => (r.getLong(0), r.toSeq.tail, dec(r))).toArray.sortBy(_._1)
        val g = new Graph(metric, m, efC, seed = pid.toLong)
        buf.foreach { case (id, _, v) => g.insert(id, v) }
        buf.iterator.zipWithIndex.map { case ((id, payload, _), n) =>
          Row.fromSeq(((pid.asInstanceOf[Any] +: id.asInstanceOf[Any] +: payload)
            :+ g.links(n).toSeq.map(_.map(x => g.ids(x)).toSeq)): Seq[Any])
        }
      }(enc)
    out.write.mode("append").partitionBy("pid").parquet(model.path)
    base
  }

  /** Append a batch as `nNewSegments` NEW segment graphs — the Lucene
    * flush model: existing segments are immutable, new vectors become
    * new segments visible to the next probe (which discovers segments
    * by listing). Per-probe cost grows with the segment COUNT, so
    * periodic [[build]] over the full corpus is the merge/compaction
    * step — exactly Lucene's background-merge contract, stated here
    * instead of hidden. Returns the first new segment id.
    */
  def append(spark: SparkSession, model: Model, batch: DataFrame,
             idCol: String, vecCol: String, nNewSegments: Int = 1): Int = {
    require(nNewSegments >= 1, s"need nNewSegments >= 1, got $nNewSegments")
    val existing = segmentDirs(spark, model.path)
      .map(d => d.substring(d.lastIndexOf('=') + 1).toInt)
    require(existing.nonEmpty, s"no index under ${model.path} — build first")
    val base = existing.max + 1
    val (m, efC, metric, storage) =
      (model.m, model.efConstruction, model.metric, model.storage)
    val ctx = if (storage == "rabitq") rabitqCtx(model) else null
    val enc = Encoders.row(StructType(StructField("pid", IntegerType, nullable = false)
      +: graphSchema(storage).fields.toSeq))
    val rows = batch.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .repartition(nNewSegments, col(idCol))
      .mapPartitions { it =>
        val pid = base + TaskContext.getPartitionId()
        val (g, payloads) = buildSegment(metric, m, efC, seed = pid.toLong, storage, ctx,
          it.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
        (0 until g.ids.length).iterator.map { n =>
          Row.fromSeq((pid +: g.ids(n) +: payloads(n)) :+
            g.links(n).toSeq.map(_.map(x => g.ids(x)).toSeq))
        }
      }(enc)
    rows.write.mode("append").partitionBy("pid").parquet(model.path)
    base
  }

  /** Batched ANN k-NN join: every query row gets its approximate top-k
    * neighbors — each segment graph loads ONCE and serves ALL queries
    * (|queries| ef-bounded walks per segment, never a scan of the
    * vectors), then the per-(query, segment) candidates reduce through
    * the bounded-heap [[VectorSearch.perQueryTopK]] (no full-candidate
    * window shuffle). The graph twin of [[IvfIndex.knnJoin]]; queries
    * are the serving-sized side by definition and ride the closure.
    */
  def knnJoin(spark: SparkSession, model: Model, idCol: String,
              queries: Seq[(Long, Seq[Float])], k: Int, ef: Int): DataFrame = {
    val scored = searchSegments(spark, model,
        queries.map { case (qid, v) => (qid, v.toArray) }, k, ef)
      .select(col("qid"), col("id").as(idCol), col("score"))
    VectorSearch.perQueryTopK(scored, "qid", idCol, k, model.metric)
  }
}
