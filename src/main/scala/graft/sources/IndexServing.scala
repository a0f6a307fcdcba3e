package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{IvfIndex, VectorSearch}

/** The serving decisions the table-attached indexes share — written
  * once here and called by [[GraftIndex]] (IVF/PQ), [[GraftHnsw]] and,
  * for freshness and the refresh ticker, [[TextIndex]]: the stale
  * refusal, the streaming refresh ticker, the bucket-pruned point
  * lookup at the pinned version, the filtered match set and its
  * metadata-first count, the two exact cuts (single query and batch)
  * that serve every brute leg and every "frontier → exact rerank from
  * the table" tail, the canonical and empty output shapes, and the MMR
  * stage 2. Nothing here knows which index called it: what really
  * differs between the families (their regimes, key types, schema
  * fallbacks) arrives as arguments.
  */
private[graft] object IndexServing {

  /** Fail loudly when the table has moved past the version the index
    * reflects, unless `allowStale` — a silent stale index is the bug the
    * version pin exists to kill. `label` names the index family ("index",
    * "hnsw index", "text index"), `hint` the way out.
    */
  def requireFresh(tablePath: String, label: String, name: String, indexedVersion: Int,
                   allowStale: Boolean, hint: String): Unit = {
    val head = GraftTable.latestVersion(tablePath)
    if (!allowStale && head != indexedVersion)
      throw new IllegalStateException(
        s"$label '$name' on $tablePath is STALE: it reflects table version " +
          s"$indexedVersion but the table is at $head — run $hint to serve the indexed snapshot")
  }

  /** Continuous maintenance: a Structured Streaming rate-source ticker
    * runs `refresh` per micro-batch, so the index FOLLOWS the table with
    * start/stop/trigger lifecycle and no manual refresh calls — the
    * composition twin of [[ChangeFeed.streamInto]]. Position is owned by
    * the index meta's indexedVersion (restart-safe without a checkpoint,
    * replays idempotent per each refresh contract).
    */
  def streamRefresh(spark: SparkSession, trigger: Trigger)(refresh: => Any): StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) => refresh; () }
      .trigger(trigger)
      .start()

  /** Bucket-pruned point lookup at the pinned snapshot `s`: the table
    * rows of the serving-sized key frame `keys` (all `keyCols`, plus any
    * columns it carries) — n keys → ≤ n bucket reads, never a table
    * scan. The exact-rerank and payload substrate of both families.
    */
  def pointLookup(spark: SparkSession, s: GraftTable.Snapshot,
                  keyCols: Seq[String], keys: DataFrame): DataFrame = {
    val buckets = keys
      .select(GraftTable.bucketCol(keyCols, s.nbuckets).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    GraftTable.readBuckets(spark, s, buckets)
      .join(broadcast(keys), keyCols)
  }

  /** The frontier keys' float vectors (keyCols + `vecCol`) by one
    * [[pointLookup]] — the exact-rerank substrate.
    */
  def exactVectors(spark: SparkSession, s: GraftTable.Snapshot,
                   keyCols: Seq[String], vecCol: String, keys: DataFrame): DataFrame =
    pointLookup(spark, s, keyCols, keys)
      .select(keyCols.map(col) :+ col(vecCol): _*)

  /** The filtered legs' match count at the pinned snapshot — rows
    * passing `pred` that carry a vector — metadata-first through
    * [[GraftTable.metadataMatchCount]] (two-regime callers pass
    * acceptCap = bruteForceCap), and the match set itself, built on
    * first use: only the legs that scan it (and a count the metadata
    * could not decide) resolve the table relation.
    */
  def matchSet(spark: SparkSession, s: GraftTable.Snapshot, vecCol: String,
               pred: Column, bruteForceCap: Int, acceptCap: Int): (Long, () => DataFrame) = {
    lazy val matched = GraftTable.read(spark, s)
      .filter(pred).filter(col(vecCol).isNotNull)
    (GraftTable.metadataMatchCount(spark, s, pred,
      Seq(vecCol), bruteForceCap, acceptCap)(matched.count()), () => matched)
  }

  /** The quantized frontier width rerankFactor·k, capped so
    * rerankFactor = Int.MaxValue means "discard nothing" without
    * overflowing.
    */
  def frontierWidth(k: Int, rerankFactor: Int): Int = {
    require(rerankFactor >= 1, s"need rerankFactor >= 1, got $rerankFactor")
    math.min(Int.MaxValue.toLong, k.toLong * rerankFactor).toInt
  }

  /** Best-first score order: ascending distance for l2, descending
    * similarity otherwise.
    */
  def scoreOrder(metric: String): Column =
    if (metric == "l2") asc("score") else desc("score")

  /** The canonical single-query output columns: the table's columns
    * minus the vector, then `score` — never layout internals.
    */
  def shape(tableCols: Seq[String], vecCol: String): Seq[String] =
    tableCols.filterNot(_ == vecCol) :+ "score"

  /** The canonical single-query shape with zero rows. */
  def emptyShape(spark: SparkSession, s: GraftTable.Snapshot, vecCol: String): DataFrame =
    GraftTable.read(spark, s).limit(0)
      .withColumn("score", lit(0.0)).drop(vecCol)

  /** The batch output shape (qid, key…, score) with zero rows. */
  def emptyBatch(spark: SparkSession, s: GraftTable.Snapshot,
                 keyCols: Seq[String]): DataFrame =
    GraftTable.read(spark, s).limit(0)
      .select(lit(0L).as("qid") +: keyCols.map(col) :+ lit(0.0).as("score"): _*)

  /** The single-query exact cut: exact float score of `rows`' vector,
    * best k by (score, every key column in key order), projected to the
    * canonical columns.
    */
  def exactCut(rows: DataFrame, vecCol: String, query: Seq[Float], metric: String,
               keyCols: Seq[String], k: Int, canonical: Seq[String]): DataFrame =
    rows.withColumn("score", VectorSearch.scoreCol(col(vecCol), typedlit(query), metric))
      .orderBy(scoreOrder(metric) +: keyCols.map(asc): _*).limit(k)
      .select(canonical.map(col): _*)

  /** The batch exact cut: score every (query, candidate) pair of `pairs`
    * (`vec` against the `__qvec` column), keep (qid, `key`, score), cut
    * each query's best k with the bounded-heap reducer. Composite keys
    * ride the cut as one struct and expand back — the
    * [[IvfIndex.keyStruct]]/[[IvfIndex.expandKey]] convention.
    */
  private def batchCut(pairs: DataFrame, vec: Column, key: Column, keyCols: Seq[String],
               k: Int, metric: String): DataFrame =
    IvfIndex.expandKey(VectorSearch.perQueryTopK(
      pairs.withColumn("score", VectorSearch.scoreCol(vec, col("__qvec"), metric))
        .select(col("qid"), key, col("score")),
      "qid", IvfIndex.keyName(keyCols), k, metric), keyCols)

  /** The batch brute leg: broadcast the (≤ bruteForceCap) match set
    * once and score every (query, match) pair — ≤ |Q|·bruteForceCap
    * rows, bounded. `matchKey` projects the match set's key, `outKey`
    * turns it into the emitted key column.
    */
  def bruteBatch(spark: SparkSession, queries: Seq[(Long, Seq[Float])], matched: DataFrame,
                 matchKey: Column, outKey: Column, keyCols: Seq[String], vecCol: String,
                 k: Int, metric: String): DataFrame = {
    import spark.implicits._
    batchCut(queries.toDF("qid", "__qvec")
        .crossJoin(broadcast(matched.select(matchKey, col(vecCol).as("__mvec")))),
      col("__mvec"), outKey, keyCols, k, metric)
  }

  /** The batch rerank tail: the (qid, key…) frontier `pairs` is scored
    * on the TABLE's float vectors, fetched for the distinct frontier
    * keys `lookupKeys` by ONE point lookup that serves every query (the
    * pair set is serving-sized), then cut per query.
    */
  def rerankBatch(spark: SparkSession, s: GraftTable.Snapshot,
                  keyCols: Seq[String], vecCol: String, queries: Seq[(Long, Seq[Float])],
                  pairs: DataFrame, lookupKeys: DataFrame, k: Int, metric: String)
      : DataFrame = {
    import spark.implicits._
    batchCut(exactVectors(spark, s, keyCols, vecCol, lookupKeys)
        .join(broadcast(pairs.join(queries.toDF("qid", "__qvec"), "qid")), keyCols),
      col(vecCol), IvfIndex.keyStruct(keyCols), keyCols, k, metric)
  }

  /** MMR stage 2 over a probed, serving-sized candidate slice `cand`
    * (canonical shape): ONE point lookup fetches the slice's float
    * vectors, then the [[VectorSearch.mmrSelect]] greedy runs
    * driver-side (inherently sequential — each pick depends on all
    * previous). Output: `rank` + the slice's columns + `mmr_score`.
    */
  def mmr(spark: SparkSession, s: GraftTable.Snapshot, keyCols: Seq[String],
          vecCol: String, cand: DataFrame, k: Int, lambda: Double, metric: String)
      : DataFrame = {
    val vecs = exactVectors(spark, s, keyCols, vecCol,
      cand.select(keyCols.map(col): _*).distinct())
    VectorSearch.mmrOverCandidates(cand, keyCols, vecs, vecCol, k, lambda, metric)
  }
}
