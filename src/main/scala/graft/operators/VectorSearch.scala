package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.vectors._

import scala.collection.mutable

/** Spark-native vector search — the reference's
  * `hudi_vector_search(path, column, query_vec, k, metric)` table
  * function (demo.ipynb cell 11/13) re-expressed as declarative plans.
  *
  * Design notes (100 TB):
  *  - `topK` compiles to TakeOrderedAndProject: each task keeps a k-heap
  *    over its partitions and only k rows per partition reach the
  *    driver-side merge. No shuffle, no global sort; cost is one scan.
  *  - `hybrid*`: the reference post-filters (its index lacks predicate
  *    pushdown — see demo.ipynb cell 13 comment). `hybridPrefilter`
  *    filters BEFORE scoring, so the predicate reaches the parquet scan
  *    (`PushedFilters`) and selective queries scan *less*. The
  *    post-filter variant is kept for semantic parity with the demo.
  *  - `knnJoin` (batched queries) broadcasts the query set, computes a
  *    per-input-partition top-k with a bounded heap (mapPartitions —
  *    genuine per-partition imperative logic), then resolves the global
  *    top-k with a window over the ≤ |queries|·partitions·k survivors.
  *    The big side never shuffles.
  */
object VectorSearch {

  /** similarity/distance column for `metric` ∈ cosine | dot | l2.
    *
    * Note: a zero-norm vector yields NaN cosine, and NaN sorts greatest
    * in both Spark and DuckDB (so a zero vector would rank first under
    * desc). That matches engine semantics everywhere this library is
    * verified, but filter zero vectors upstream if your corpus can
    * contain them.
    */
  def scoreCol(vec: Column, query: Column, metric: String): Column = metric match {
    case "cosine" => cosine_similarity(vec, query)
    case "dot"    => dot_product(vec, query)
    case "l2"     => l2_distance(vec, query)
    case m        => throw new IllegalArgumentException(s"unknown metric: $m")
  }

  /** true iff larger score = better for this metric. */
  private def descending(metric: String): Boolean = metric != "l2"

  /** Nulls-first total order over EXTERNAL row values — Long/Int/String/
    * Decimal/… are Comparable, and a COMPOSITE (struct) key compares
    * field-by-field nulls-first, the same lexicographic order Spark's
    * asc() gives a struct column. Shared by [[perQueryTopK]]'s
    * per-partition heap and the MMR greedy's tie-break, so every
    * driver/executor-side key comparison in this family agrees with the
    * plans' window ordering.
    */
  private[graft] def anyCmp(x: Any, y: Any): Int =
    if (x == null && y == null) 0
    else if (x == null) -1
    else if (y == null) 1
    else (x, y) match {
      case (a: Row, b: Row) =>
        var i = 0; var c = 0
        val n = math.min(a.length, b.length)
        while (c == 0 && i < n) { c = anyCmp(a.get(i), b.get(i)); i += 1 }
        if (c != 0) c else a.length - b.length
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }

  private def queryLit(query: Seq[Float]): Column = typedlit(query)

  /** Score every row against one query vector (adds `score`). */
  def score(data: DataFrame, vecCol: String, query: Seq[Float], metric: String): DataFrame =
    data.withColumn("score", scoreCol(col(vecCol), queryLit(query), metric))

  /** Exact top-k against one query vector. Deterministic: ties broken by
    * ascending `idCol`. Plan: TakeOrderedAndProject (per-partition heap).
    */
  def topK(data: DataFrame, vecCol: String, idCol: String, query: Seq[Float], k: Int,
           metric: String = "cosine"): DataFrame =
    topKBy(data, vecCol, Seq(idCol), query, k, metric)

  /** [[topK]] with ties broken by every column of a composite record
    * key, in key order.
    */
  private[graft] def topKBy(data: DataFrame, vecCol: String, keyCols: Seq[String],
                            query: Seq[Float], k: Int, metric: String): DataFrame = {
    val scored = score(data, vecCol, query, metric).drop(vecCol)
    val ord = if (descending(metric)) desc("score") else asc("score")
    scored.orderBy(ord +: keyCols.map(asc): _*).limit(k)
  }

  /** MMR — Maximal Marginal Relevance (Carbonell & Goldstein, 1998):
    * diversity-aware top-k. Greedy selection maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — each pick trades query
    * relevance against similarity to what's already selected, so ten
    * near-identical hits collapse to one representative plus nine
    * genuinely different results (the serving-layer dedup every
    * retrieval UI wants).
    *
    * Two stages, the production shape: (1) DISTRIBUTED relevance
    * top-`candidates` (TakeOrderedAndProject — per-partition heaps, one
    * scan, no shuffle; this is where 100 TB is paid); (2) the greedy
    * re-rank over those ≤ `candidates` rows on the driver — the greedy
    * argmax is inherently sequential (each pick depends on all previous
    * picks), and `candidates` is serving-sized (50–1000), so driver-
    * local is the CORRECT placement, not a compromise: k·candidates
    * dot products of data that already fits in a reply payload.
    * Deterministic: ties break on ascending id at both stages.
    *
    * Cosine / dot metrics only (MMR needs a SIMILARITY for the
    * diversity term; an L2 variant would silently mix scales — refuse
    * loudly instead). λ=1 degenerates to plain relevance order
    * (spec-pinned), λ=0 to pure diversity.
    */
  def mmrTopK(data: DataFrame, vecCol: String, idCol: String, query: Seq[Float],
              k: Int, lambda: Double, candidates: Int,
              metric: String = "cosine"): DataFrame = {
    require(metric == "cosine" || metric == "dot",
      s"mmrTopK needs a similarity metric (cosine|dot), got $metric")
    require(k >= 1 && candidates >= k, s"need 1 <= k <= candidates, got k=$k, c=$candidates")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = data.sparkSession
    val cand = score(data, vecCol, query, metric)
      .orderBy(desc("score"), asc(idCol))
      .limit(candidates)
      .select(col(idCol), col(vecCol).cast("array<float>").as("__v"), col("score"))
      .collect()
    val picked = mmrSelect(
      cand.toSeq.map(r => (r.get(0), r.getSeq[Float](1), r.getDouble(2))),
      k, lambda, metric)
    val idField = cand.headOption.map(_.schema.head)
      .getOrElse(org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType,
        nullable = false),
      idField.copy(name = idCol),
      org.apache.spark.sql.types.StructField("rel_score", org.apache.spark.sql.types.DoubleType,
        nullable = false),
      org.apache.spark.sql.types.StructField("mmr_score", org.apache.spark.sql.types.DoubleType,
        nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      picked.map { case (rk, id, rel, m) => Row(rk, id, rel, m) }.toList.asJava, schema)
  }

  /** The MMR greedy itself, over an already-materialized candidate
    * slice `(key, vector, relevance)` — extracted from [[mmrTopK]] so
    * the TABLE-ATTACHED serving tier ([[graft.sources.GraftIndex.probeMmr]]
    * / [[graft.sources.GraftHnsw.probeMmr]]) diversifies INDEX-SERVED
    * candidates with the identical arithmetic (similarity uses the same
    * left-to-right double accumulation as the scan kernels; ties break
    * on ascending key via [[anyCmp]], composite keys included). Returns
    * (rank 1-based, key, relevance, mmr score) in pick order; the first
    * pick's mmr score is λ·rel (no diversity term yet), λ=1 degenerates
    * to relevance order.
    */
  private[graft] def mmrSelect(cand: Seq[(Any, Seq[Float], Double)], k: Int,
                               lambda: Double, metric: String)
      : Seq[(Int, Any, Double, Double)] = {
    def sim(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (metric == "dot") dot
      else if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    final case class C(id: Any, v: Seq[Float], rel: Double, var maxSim: Double)
    val pool = mutable.ArrayBuffer.from(cand.map { case (id, v, rel) =>
      C(id, v, rel, Double.NegativeInfinity) })
    val picked = mutable.ArrayBuffer.empty[(Int, Any, Double, Double)]
    while (picked.length < math.min(k, cand.length)) {
      var best = -1; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < pool.length) {
        val c = pool(i)
        val m =
          if (picked.isEmpty) lambda * c.rel // no diversity term yet
          else lambda * c.rel - (1.0 - lambda) * c.maxSim
        if (m > bestScore ||
            (m == bestScore && (best < 0 || anyCmp(c.id, pool(best).id) < 0))) {
          best = i; bestScore = m
        }
        i += 1
      }
      val chosen = pool.remove(best)
      picked += ((picked.length + 1, chosen.id, chosen.rel, bestScore))
      pool.foreach(c => c.maxSim = math.max(c.maxSim, sim(c.v, chosen.v)))
    }
    picked.toSeq
  }

  /** Stage 2 of INDEX-SERVED MMR: greedy-diversify an already-retrieved
    * candidate frame (the canonical probe shape — key columns present,
    * `score` = relevance) whose float vectors arrive separately (the
    * caller's bucket-pruned point lookup against the table — candidates
    * keys → ≤ candidates buckets, never a scan). Output: `rank` (pick
    * order, 1-based) + the candidate frame's columns + `mmr_score`.
    * Everything here is serving-sized by construction (≤ `candidates`
    * rows collect; the greedy is inherently sequential — the [[mmrTopK]]
    * placement argument).
    */
  private[graft] def mmrOverCandidates(cand: DataFrame, keyCols: Seq[String],
                                       vecs: DataFrame, vecCol: String,
                                       k: Int, lambda: Double,
                                       metric: String): DataFrame = {
    require(metric == "cosine" || metric == "dot",
      s"MMR needs a similarity metric (cosine|dot), got $metric")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = cand.sparkSession
    val outCols = lit(0).as("rank") +: cand.columns.map(col).toSeq :+
      lit(0.0).as("mmr_score")
    val slice = cand.select(keyCols.map(col) :+ col("score"): _*)
      .join(broadcast(vecs), keyCols)
      .select(keyCols.map(col) ++
        Seq(col(vecCol).cast("array<float>").as("__v"), col("score")): _*)
      .collect()
    if (slice.isEmpty) return cand.limit(0).select(outCols: _*)
    val nk = keyCols.length
    val picked = mmrSelect(
      slice.toSeq.map { r =>
        val key: Any = if (nk == 1) r.get(0)
          else Row.fromSeq((0 until nk).map(r.get))
        (key, r.getSeq[Float](nk), r.getDouble(nk + 1))
      }, k, lambda, metric)
    val keyFields = slice.head.schema.fields.take(nk).toSeq
    val schema = org.apache.spark.sql.types.StructType(
      (org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false) +: keyFields) :+
        org.apache.spark.sql.types.StructField("mmr_score",
          org.apache.spark.sql.types.DoubleType, nullable = false))
    import scala.jdk.CollectionConverters._
    val ranks = spark.createDataFrame(
      picked.map { case (rank, key, _, mmr) =>
        val keyVals = if (nk == 1) Seq(key) else key.asInstanceOf[Row].toSeq
        Row.fromSeq((rank +: keyVals) :+ mmr)
      }.toList.asJava, schema)
    cand.join(broadcast(ranks), keyCols)
      .select(col("rank") +: cand.columns.map(col).toSeq :+ col("mmr_score"): _*)
      .orderBy("rank")
  }

  /** Hybrid search, done right: predicate first (pushes to the scan),
    * then exact top-k over the filtered rows only.
    */
  def hybridPrefilter(data: DataFrame, pred: Column, vecCol: String, idCol: String,
                      query: Seq[Float], k: Int, metric: String = "cosine"): DataFrame =
    topK(data.filter(pred), vecCol, idCol, query, k, metric)

  /** Hybrid search the reference's way: wide top-k window, then filter,
    * then re-limit (demo.ipynb cell 13). `wideK` plays the role of the
    * reference's k=3000 (table size).
    */
  def hybridPostfilter(data: DataFrame, pred: Column, vecCol: String, idCol: String,
                       query: Seq[Float], k: Int, wideK: Int,
                       metric: String = "cosine"): DataFrame = {
    val wide = topK(data, vecCol, idCol, query, wideK, metric)
    val ord = if (descending(metric)) desc("score") else asc("score")
    wide.filter(pred).orderBy(ord, asc(idCol)).limit(k)
  }

  /** Range search: all rows with similarity ≥ tau (or distance ≤ tau for
    * l2). Fully parallel filter — no top-k driver merge at all.
    */
  def rangeSearch(data: DataFrame, vecCol: String, query: Seq[Float], tau: Double,
                  metric: String = "cosine"): DataFrame = {
    val scored = score(data, vecCol, query, metric).drop(vecCol)
    if (descending(metric)) scored.filter(col("score") >= tau)
    else scored.filter(col("score") <= tau)
  }

  /** Batched k-NN: for every query row (qidCol, qvecCol) find its top-k
    * data rows. Query set is broadcast; data side never shuffles — a
    * bounded heap per (partition, query) reduces to ≤ P·Q·k rows before
    * the final (tiny) window.
    */
  def knnJoin(data: DataFrame, vecCol: String, idCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, metric: String = "cosine"): DataFrame = {
    val scored = data
      .crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol))))
      .withColumn("score", scoreCol(col(vecCol), col(qvecCol), metric))
      .select(col(qidCol), col(idCol), col("score"))

    perQueryTopK(scored, qidCol, idCol, k, metric)
  }

  /** HARD-NEGATIVE mining (the DPR/contrastive-training data op,
    * Karpukhin et al. 2020): for each query, the top-k most similar
    * rows whose LABEL differs from the query's — close but wrong
    * class, the negatives that actually move a retrieval model (random
    * negatives are trivially separable). Exact scoring, same plan
    * shape as [[knnJoin]] (broadcast queries over one scan of the
    * corpus, per-partition bounded heaps — the big side never
    * shuffles); the per-query class exclusion rides the scan filter,
    * so excluded rows are never scored. Excluding the whole positive
    * CLASS also excludes the query row itself — no id-space assumption
    * between queries and corpus.
    */
  def hardNegatives(data: DataFrame, vecCol: String, idCol: String, labelCol: String,
                    queries: DataFrame, qidCol: String, qvecCol: String, qlabelCol: String,
                    k: Int, metric: String = "cosine"): DataFrame = {
    val scored = data
      .crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol), col(qlabelCol))))
      .filter(col(labelCol) =!= col(qlabelCol))
      .withColumn("score", scoreCol(col(vecCol), col(qvecCol), metric))
      .select(col(qidCol), col(idCol), col("score"))
    perQueryTopK(scored, qidCol, idCol, k, metric)
  }

  /** Reduce a scored `(qid, id, score)` frame to the per-qid top-k
    * WITHOUT hash-shuffling the full candidate set into |queries|
    * partitions: a per-partition bounded heap first cuts the input to
    * ≤ partitions·queries·k rows, and only those survivors go through
    * the final (tiny) window. Shared by the exact [[knnJoin]] and the
    * IVF-pruned batched join ([[IvfIndex.knnJoin]]). Columns must be
    * exactly (qidCol, idCol, score), in that order.
    */
  private[graft] def perQueryTopK(scored: DataFrame, qidCol: String, idCol: String,
                                      k: Int, metric: String): DataFrame = {
    val desc_ = descending(metric)
    val enc = Encoders.row(scored.schema)
    // Per-partition bounded heap: keeps k best rows per query id.
    val partial = scored.mapPartitions { it =>
      val heaps = mutable.Map.empty[Any, mutable.PriorityQueue[(Double, Any, Row)]]
      // id tie-break must match the final window's asc(idCol) nulls-first
      // ordering so boundary ties survive the partial phase — [[anyCmp]],
      // which also gives composite (struct) keys the same lexicographic
      // order the window applies to a struct column.
      def idCmp(x: Any, y: Any): Int = anyCmp(x, y)
      // dequeue removes the greatest element == the WORST kept row, so
      // "greater" must mean "worse" under this ordering.
      val ord: Ordering[(Double, Any, Row)] = new Ordering[(Double, Any, Row)] {
        def compare(x: (Double, Any, Row), y: (Double, Any, Row)): Int = {
          // desc metrics: lower score = worse; l2: larger distance = worse
          val s = if (desc_) java.lang.Double.compare(y._1, x._1)
                  else java.lang.Double.compare(x._1, y._1)
          if (s != 0) s else idCmp(x._2, y._2) // tie: larger id = worse
        }
      }
      it.foreach { r =>
        val qid = r.get(0); val id = r.get(1); val s = r.getDouble(2)
        val h = heaps.getOrElseUpdate(qid, mutable.PriorityQueue.empty(ord))
        h.enqueue((s, id, r))
        if (h.size > k) h.dequeue()
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._3))
    }(enc)

    val w =
      if (desc_) Window.partitionBy(qidCol).orderBy(desc("score"), asc(idCol))
      else Window.partitionBy(qidCol).orderBy(asc("score"), asc(idCol))
    partial
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .drop("rnk")
  }
}
