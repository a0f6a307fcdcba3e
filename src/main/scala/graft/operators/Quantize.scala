package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The quantization-space numerics of every vector index — the one
  * place each storage format, rotation and normalization is written.
  * [[IvfIndex]], [[PqIndex]], [[HnswIndex]] and
  * [[graft.sources.GraftIndex]] call into it.
  *
  * Symmetric per-vector int8 quantization (sq8) is the storage-side
  * lever for vector search at 100 TB: codes are 1 byte per dimension
  * vs 4 for float32, so a quantized scan reads ~25 % of the bytes (and
  * parquet dictionary/RLE often shrinks it further). The standard
  * serving trade (faiss SQ8-style): score on dequantized values, keep
  * the float column only for exact re-rank.
  *
  * sq8 and sign bits exist in two representations that compute the
  * same codes (QuantizeSpec pins that they agree):
  *  - Column forms ([[scaleCol]]/[[encode]]/[[decode]], and
  *    [[graft.functions.SignPack]]): plain Spark SQL HOFs
  *    (`transform`/`array_max`) — codegen'd, no UDF — and written with
  *    an engine-neutral op sequence (`floor(x/scale + 0.5)`, double
  *    math) so a DuckDB oracle reproduces the codes bit-for-bit. IVF's
  *    layout writes use these.
  *  - array forms ([[sq8Encode]]/[[sq8Decode]], [[packSigns]]/
  *    [[signDecode]]) on plain JVM arrays, for HNSW's imperative
  *    per-partition build path.
  */
object Quantize {

  /** The vector storages an IVF or HNSW layout can carry: raw float32,
    * sq8 codes, packed sign bits, and RaBitQ's estimator-grade 1-bit
    * codes ([[rabitqEncode]]).
    */
  private[graft] val storages = Seq("float32", "sq8", "binary", "rabitq")

  /** `storage` itself when it names one of [[storages]]; otherwise the
    * one loud refusal, naming the index `family` that was asked for it
    * ("ivf", "hnsw", "index").
    */
  private[graft] def requireStorage(storage: String, family: String): String = {
    require(storages.contains(storage),
      s"unknown $family storage '$storage' (one of ${storages.mkString(", ")})")
    storage
  }

  // ---- sq8, Column forms ---------------------------------------------------

  /** per-vector scale: max |x| mapped to 127 (1e-30 floor guards the
    * zero vector — its codes become 0, not NaN).
    */
  def scaleCol(vec: Column): Column =
    greatest(array_max(transform(vec, x => abs(x.cast("double")))), lit(1e-30)) / lit(127.0)

  /** int8 codes: round-half-up of x/scale, in [-127, 127]. */
  def encode(vec: Column, scale: Column): Column =
    transform(vec, x => floor(x.cast("double") / scale + lit(0.5)).cast("tinyint"))

  /** dequantized doubles: code * scale (max abs error = scale/2). */
  def decode(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  // ---- sq8 and sign bits, array forms ---------------------------------------

  /** [[scaleCol]] on an array: max |x| / 127, in double. */
  private[graft] def sq8Scale(v: Array[Float]): Double = {
    var mx = 0.0; var i = 0
    while (i < v.length) {
      val a = math.abs(v(i).toDouble); if (a > mx) mx = a; i += 1
    }
    math.max(mx, 1e-30) / 127.0
  }

  /** [[encode]] on an array; the scale comes back narrowed to the
    * `Float` the HNSW layout stores.
    */
  private[graft] def sq8Encode(v: Array[Float]): (Array[Byte], Float) = {
    val scale = sq8Scale(v)
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = math.floor(v(i).toDouble / scale + 0.5).toByte; i += 1
    }
    (out, scale.toFloat)
  }

  private[graft] def sq8Decode(codes: Array[Byte], scale: Float): Array[Float] = {
    val out = new Array[Float](codes.length)
    var i = 0
    while (i < codes.length) {
      out(i) = (codes(i).toDouble * scale.toDouble).toFloat; i += 1
    }
    out
  }

  /** [[graft.functions.SignPack]] on an array: bit i of word i/64 is
    * set iff v(i) >= 0 (so -0.0 packs as a set bit).
    */
  private[graft] def packSigns(v: Array[Float]): Array[Long] = {
    val out = new Array[Long]((v.length + 63) >>> 6)
    var i = 0
    while (i < v.length) {
      if (v(i) >= 0.0f) out(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    out
  }

  /** Packed sign bits back to ±1 floats. */
  private[graft] def signDecode(bits: Array[Long], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      out(i) = if (((bits(i >>> 6) >>> (i & 63)) & 1L) == 1L) 1.0f else -1.0f
      i += 1
    }
    out
  }

  // ---- rotations and normalization ------------------------------------------

  /** Seeded random orthonormal rotation (Gaussian rows + modified
    * Gram-Schmidt; full rank w.p. 1), row-vector convention shared
    * with [[rotateVec]] — deterministic, so two builds of the same data
    * are bit-identical (the house contract).
    *
    * Memoized per (dim, seed): the matrix is O(dim²) to derive and the
    * HNSW rabitq family re-derives it on EVERY probe/segmentVectors/
    * append call (the r12 advice item) — negligible at tested dims but
    * quadratic per call at production embedding dims (768+). The cache
    * is per-JVM (driver derives once; executor tasks receive the matrix
    * in their closure either way) and bounded by the handful of
    * (dim, seed) pairs a process ever touches.
    */
  private val rotationCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), Array[Array[Float]]]()

  private[graft] def randomRotation(dim: Int, seed: Long): Array[Array[Float]] =
    rotationCache.computeIfAbsent((dim, seed), _ => deriveRotation(dim, seed))

  private def deriveRotation(dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    val m = Array.fill(dim, dim)(rnd.nextGaussian())
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < i) {
        var dp = 0.0; var k = 0
        while (k < dim) { dp += m(i)(k) * m(j)(k); k += 1 }
        k = 0
        while (k < dim) { m(i)(k) -= dp * m(j)(k); k += 1 }
        j += 1
      }
      var n = 0.0; var k = 0
      while (k < dim) { n += m(i)(k) * m(i)(k); k += 1 }
      val inv = 1.0 / math.sqrt(n)
      k = 0
      while (k < dim) { m(i)(k) *= inv; k += 1 }
      i += 1
    }
    m.map(_.map(_.toFloat))
  }

  /** row-vector rotation: out_j = Σ_i v_i · R(i)(j). */
  private[graft] def rotateVec(v: Array[Float], r: Array[Array[Float]]): Array[Float] = {
    val d = v.length
    val out = new Array[Float](d)
    var j = 0
    while (j < d) {
      var s = 0.0; var i = 0
      while (i < d) { s += v(i).toDouble * r(i)(j).toDouble; i += 1 }
      out(j) = s.toFloat
      j += 1
    }
    out
  }

  /** v·Rᵀ — undoes [[rotateVec]]'s row-vector rotation (R is
    * orthonormal, so the transpose IS the inverse): maps a
    * rotated-space point back to the original space.
    */
  private[graft] def derotate(v: Array[Float], r: Array[Array[Float]]): Array[Float] = {
    val d = v.length
    val out = new Array[Float](d)
    var j = 0
    while (j < d) {
      var s = 0.0; var i = 0
      while (i < d) { s += v(i).toDouble * r(j)(i).toDouble; i += 1 }
      out(j) = s.toFloat
      j += 1
    }
    out
  }

  /** v/‖v‖ (the zero vector stays zero) — the cosine metric's space. */
  private[graft] def normalize(v: Array[Float]): Array[Float] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i).toDouble; i += 1 }
    val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
    v.map(x => (x * inv).toFloat)
  }

  // ---- rabitq ----------------------------------------------------------------

  /** RaBitQ encode (Gao & Long, SIGMOD 2024): the residual r = v − c
    * against `centroid` — taken on the UNIT sphere when `cosine` (the
    * centroids live in normalized space, so the residual must measure
    * the angular offset, or the estimator's noise scales with ‖v‖
    * instead of the corpus spread) — rotated by `rot` and sign-packed.
    * Returns (bits, ‖r‖, align, ‖v‖), where align = ‖P·r‖₁/(‖r‖√D) is
    * the per-vector ⟨x̄, r̂'⟩ normalizer that makes the rank proxy an
    * UNBIASED estimator (dividing by the expectation √(2/π) instead
    * would leave per-vector bias). IVF stores the three scalars as
    * doubles; HNSW stores ‖r‖ and align as floats.
    */
  private[graft] def rabitqEncode(v: Array[Float], centroid: Array[Float],
                                  rot: Array[Array[Float]], cosine: Boolean)
      : (Array[Long], Double, Double, Double) = {
    val d = v.length
    var vn2 = 0.0
    var i = 0
    while (i < d) { vn2 += v(i).toDouble * v(i); i += 1 }
    val vn = math.sqrt(vn2)
    val inv = if (cosine && vn > 0.0) 1.0 / vn else 1.0
    val r = new Array[Float](d)
    var rn2 = 0.0
    i = 0
    while (i < d) {
      val x = (v(i) * inv - centroid(i)).toFloat; r(i) = x
      rn2 += x.toDouble * x; i += 1
    }
    val rr = rotateVec(r, rot)
    val bits = new Array[Long]((d + 63) >>> 6)
    var l1 = 0.0
    i = 0
    while (i < d) {
      if (rr(i) >= 0.0f) bits(i >>> 6) |= 1L << (i & 63)
      l1 += math.abs(rr(i).toDouble); i += 1
    }
    val rn = math.sqrt(rn2)
    // zero residual (v == centroid): the estimator term is multiplied
    // by ‖r‖ = 0 anyway; align = 1 avoids 0/0
    val align = if (rn == 0.0) 1.0 else l1 / (rn * math.sqrt(d.toDouble))
    (bits, rn, align, vn)
  }

  /** RaBitQ decode: v̂ = c + (‖r‖/align)·Pᵀ(s/√D) — the reconstruction
    * whose plain dot/l2 kernels REPLAY the estimator exactly
    * (⟨v̂, q⟩ = ⟨c, q⟩ + ‖r‖‖q‖·est⟨r̂, q̂⟩, the [[IvfIndex]] rabitqScore
    * arithmetic as a vector instead of per-cell consts). HNSW builds
    * AND walks its graph on these, so build and serve share one
    * geometry and the norm scalar survives into every walk comparison —
    * the part norm-blind ±1 sign decoding loses in the MIPS regime.
    */
  private[graft] def rabitqDecode(bits: Array[Long], rnorm: Double, align: Double,
                                  dim: Int, centroid: Array[Float],
                                  rot: Array[Array[Float]]): Array[Float] = {
    val s = new Array[Float](dim)
    val isq = (1.0 / math.sqrt(dim.toDouble)).toFloat
    var i = 0
    while (i < dim) {
      s(i) = if (((bits(i >>> 6) >>> (i & 63)) & 1L) == 1L) isq else -isq
      i += 1
    }
    val u = derotate(s, rot)
    val scale = rnorm / math.max(align, 1e-30)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) {
      out(i) = (centroid(i) + scale * u(i)).toFloat
      i += 1
    }
    out
  }
}
