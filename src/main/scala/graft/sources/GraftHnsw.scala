package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.HnswIndex

/** The graph-based ANN index attached to its [[GraftTable]] — the HNSW
  * twin of [[GraftIndex]] (the reference's table-kept index serving,
  * demo.ipynb cell 11, with Lucene-9's segment-HNSW maintenance model
  * instead of IVF cells).
  *
  * Layout, under the table's own directory:
  * {{{
  *   table/_hnswidx/<name>/meta            commit point (atomic swap):
  *                                         vecCol, keyCol, metric, m, efc,
  *                                         indexedVersion, gen,
  *                                         segs=<committed pid list>,
  *                                         tombs=<committed tombstone files>
  *   table/_hnswidx/<name>/g<K>/layout/    HnswIndex segment graphs (pid= dirs)
  *   table/_hnswidx/<name>/g<K>/tombs/     (id, horizon) parquet files
  * }}}
  *
  * Maintenance is the LUCENE model, not the IVF cell-rewrite model:
  *  - [[refresh]] APPENDS the change batch's live rows as NEW immutable
  *    segments (a flush) and records the changed keys as HORIZON
  *    TOMBSTONES `(id, horizon = first new pid)`: a candidate from a
  *    segment OLDER than its key's horizon is a dead copy (updated or
  *    deleted) and is filtered at probe time — exactly Lucene's
  *    liveDocs. Updated keys' fresh copies live in pid ≥ horizon, so
  *    the max horizon per key keeps precisely the newest copy.
  *  - probe cost grows with the segment count and dead candidates cost
  *    recall headroom (k candidates per segment are fetched BEFORE the
  *    tombstone filter), so periodic [[rebuild]] — a full re-flush into
  *    a fresh generation, dropping every tombstone — is the stated
  *    merge/compaction step, like Lucene's background merges.
  *
  * Freshness and crash-safety carry the house contract: probes FAIL
  * LOUDLY when the table moved past `indexedVersion` (`allowStale`
  * opts into the pinned snapshot); meta names the COMMITTED segment
  * pids and tombstone files explicitly, so an appended-but-uncommitted
  * segment or tombstone from a crashed refresh is invisible until its
  * retry commits (appends land at fresh pids past any orphan).
  *
  * Probes return full table rows like [[GraftIndex.probe]] — the HNSW
  * layout stores only (id, vec, links), so the payload comes from a
  * BUCKET-PRUNED point lookup of the k result keys against the pinned
  * table version (k keys → ≤ k buckets read, never a table scan). That
  * lookup and the other serving decisions both families share (stale
  * refusal, match set and count, exact cuts, output shapes, MMR stage
  * 2, refresh ticker) live once in [[IndexServing]].
  *
  * `storage = "sq8" | "binary" | "rabitq"` swaps the layout's float32
  * vectors for int8 codes / packed sign bits / RaBitQ estimator codes
  * (4×/32×/~28× fewer serve scan bytes — the dominant 100 TB cost; the
  * reference's format ships IVF_PQ for the same reason) and serving
  * becomes TWO-STAGE: quantized walk for a rerankFactor·k frontier,
  * exact rerank from the TABLE's float column (which the table keeps
  * anyway — the index never needs to store floats). Emitted scores are
  * exact float arithmetic either way. Prefer `rabitq` over `binary`
  * for dot/MIPS corpora: plain sign bits are norm-blind and their walk
  * collapses exactly like the IVF measurement (0.27 vs 0.70 overlap@10,
  * SURVEY §15.13); rabitq's per-vector norm scalar keeps the walk
  * norm-aware at the same 1-bit scan cost ([[HnswIndex]] docs).
  *
  * Approximation is honest: HNSW has no exhaustive mode, so the
  * queries row is rows-only; GraftHnswSpec pins the mutate→refresh→
  * probe lifecycle against brute force at a wide beam (the HnswSpec
  * convention) plus the tombstone lineage rules exactly.
  */
object GraftHnsw {

  final case class HnswMeta(name: String, vecCol: String, keyCol: String,
                            metric: String, m: Int, efConstruction: Int,
                            indexedVersion: Int, gen: Int,
                            segs: Seq[Int], tombs: Seq[String],
                            storage: String = "float32")

  private def root(tablePath: String, name: String) = s"$tablePath/_hnswidx/$name"
  private def genRoot(tablePath: String, name: String, gen: Int) =
    s"${root(tablePath, name)}/g$gen"
  private def layoutPath(tablePath: String, name: String, gen: Int) =
    s"${genRoot(tablePath, name, gen)}/layout"
  private def tombsDir(tablePath: String, name: String, gen: Int) =
    s"${genRoot(tablePath, name, gen)}/tombs"
  private def metaPath(tablePath: String, name: String) =
    new Path(root(tablePath, name), "meta")

  def exists(tablePath: String, name: String = "hnsw"): Boolean =
    GraftTable.MetaIO.exists(metaPath(tablePath, name))

  def meta(tablePath: String, name: String = "hnsw"): HnswMeta = {
    val p = metaPath(tablePath, name)
    require(GraftTable.MetaIO.exists(p), s"no hnsw index '$name' at $tablePath")
    val kv = GraftTable.MetaIO.readString(p).split("\n")
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    HnswMeta(name, kv("vecCol"), kv("keyCol"), kv("metric"), kv("m").toInt,
      kv("efc").toInt, kv("indexedVersion").toInt, kv("gen").toInt,
      kv("segs").split(",").filter(_.nonEmpty).map(_.toInt).toSeq,
      kv("tombs").split(",").filter(_.nonEmpty).toSeq,
      kv.getOrElse("storage", "float32")) // pre-quantization metas: float32
  }

  /** All HNSW indexes on the table (name-sorted metas); unreadable
    * subdirs (crashed half-creates with no meta yet) are skipped.
    */
  def list(tablePath: String): Seq[HnswMeta] =
    GraftTable.MetaIO.list(new Path(tablePath, "_hnswidx"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
      .flatMap(n => scala.util.Try(meta(tablePath, n)).toOption)

  private def writeMeta(tablePath: String, m: HnswMeta): Unit =
    GraftTable.MetaIO.replaceString(metaPath(tablePath, m.name),
      s"vecCol=${m.vecCol}\nkeyCol=${m.keyCol}\nmetric=${m.metric}\nm=${m.m}\n" +
        s"efc=${m.efConstruction}\nindexedVersion=${m.indexedVersion}\n" +
        s"gen=${m.gen}\nsegs=${m.segs.mkString(",")}\ntombs=${m.tombs.mkString(",")}\n" +
        s"storage=${m.storage}")

  /** Committed-or-not pids currently on disk for a generation's layout. */
  private def pidsOnDisk(spark: SparkSession, tablePath: String, name: String,
                         gen: Int): Seq[Int] = {
    val dir = new Path(layoutPath(tablePath, name, gen))
    if (!GraftTable.MetaIO.exists(dir)) Seq.empty
    else GraftTable.MetaIO.list(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("pid="))
      .map(_.getPath.getName.stripPrefix("pid=").toInt).sorted
  }

  /** The table's single integral record-key column, or a loud refusal —
    * the HNSW layout addresses vectors by a long id.
    */
  private def keyColOf(s: GraftTable.Snapshot): String = {
    val keys = GraftTable.keyColumns(s.path)
    require(keys.length == 1,
      s"hnsw index needs a single record-key column, table has ${keys.mkString(", ")}")
    val sc = s.schema.getOrElse(
      throw new IllegalStateException(s"${s.path}: no recorded snapshot schema " +
        "(legacy manifest) — commit once through a write to upgrade"))
    val dt = sc(keys.head).dataType
    require(Seq("int", "bigint", "smallint", "tinyint").contains(dt.simpleString),
      s"hnsw index needs an integral record key, '${keys.head}' is ${dt.simpleString}")
    keys.head
  }

  /** Build the index from the table's CURRENT snapshot and record that
    * version. Rows with a null vector are not indexed (they appear if a
    * later upsert fills the vector in).
    *
    * `storage` = "float32" (default) | "sq8" | "binary" | "rabitq":
    * quantized layouts store 1 byte/dim resp. 1 bit/dim instead of 4
    * bytes — the 100 TB serve-scan-bytes lever — and
    * [[probe]]/[[knnJoin]] exact-rerank their frontier from the TABLE's
    * float column, so the emitted scores are always exact-arithmetic
    * scores; only the walk ranks on reconstructed values ("rabitq"
    * reconstructs through the unbiased estimator — the norm-aware 1-bit
    * choice for dot-metric corpora).
    */
  def create(spark: SparkSession, tablePath: String, vecCol: String,
             name: String = "hnsw", m: Int = 16, efConstruction: Int = 100,
             metric: String = "cosine", nSegments: Int = 4,
             storage: String = "float32"): Unit = {
    val v = GraftTable.latestVersion(tablePath)
    require(v >= 0, s"no table at $tablePath")
    require(!exists(tablePath, name), s"hnsw index '$name' already exists at $tablePath")
    val s = GraftTable.snapshot(tablePath, v)
    val keyCol = keyColOf(s)
    val snap = GraftTable.read(spark, s).filter(col(vecCol).isNotNull)
    HnswIndex.build(snap, keyCol, vecCol, layoutPath(tablePath, name, 0),
      m, efConstruction, metric, nSegments, storage)
    writeMeta(tablePath, HnswMeta(name, vecCol, keyCol, metric, m, efConstruction,
      v, gen = 0, segs = pidsOnDisk(spark, tablePath, name, 0), tombs = Nil,
      storage = storage))
  }

  /** Catch the index up to the table head: the change batch's live rows
    * flush as NEW segments, every changed key gets a horizon tombstone.
    * Cost is O(batch) — build work for the additions plus one small
    * tombstone file; no existing segment is read or rewritten (the
    * Lucene flush, vs [[GraftIndex.refresh]]'s COW cell rewrite).
    * Returns the (fromVersion, toVersion] range applied, None if fresh.
    *
    * `maxSegments` (> 0) auto-[[merge]]s back under the cap after the
    * flush commits — the [[TextIndex.refresh]] maxSegments twin: a
    * CDC-fed index flushes a segment per batch, and without a cap the
    * probe cost ratchets up until someone remembers to maintain it.
    * The cap keeps refresh cost bounded too: each auto-merge folds the
    * smallest tier (O(merged rows)), never the corpus.
    */
  def refresh(spark: SparkSession, tablePath: String,
              name: String = "hnsw", maxSegments: Int = 0): Option[(Int, Int)] = {
    val r = refreshOnce(spark, tablePath, name)
    if (maxSegments > 0 && meta(tablePath, name).segs.length > maxSegments)
      merge(spark, tablePath, name, targetSegments = maxSegments)
    r
  }

  private def refreshOnce(spark: SparkSession, tablePath: String,
                          name: String): Option[(Int, Int)] = {
    val m0 = meta(tablePath, name)
    val head = GraftTable.latestVersion(tablePath)
    if (head <= m0.indexedVersion) return None
    val batch = GraftTable.changes(spark, tablePath, m0.indexedVersion, head)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val changedKeys = batch.select(col(m0.keyCol).cast("long").as("id")).distinct()
      val additions = batch.filter(!col("_deleted")).drop("_deleted")
        .filter(col(m0.vecCol).isNotNull)
      if (changedKeys.isEmpty) {
        // schema-only / no-op range: advance the pin, nothing flushes
        writeMeta(tablePath, m0.copy(indexedVersion = head))
        return Some((m0.indexedVersion, head))
      }
      val model = HnswIndex.load(spark, layoutPath(tablePath, name, m0.gen))
      // horizon BEFORE the append: every copy in a segment older than
      // the new base is dead for a changed key; the fresh copies land
      // at pid >= base and survive the filter. With no additions the
      // horizon is one past the newest pid on disk (orphans included —
      // a committed pid never exceeds it).
      val (newSegs, horizon) =
        if (additions.isEmpty)
          (Seq.empty[Int],
            pidsOnDisk(spark, tablePath, name, m0.gen).maxOption.fold(0)(_ + 1))
        else {
          val base = HnswIndex.append(spark, model, additions, m0.keyCol, m0.vecCol)
          (pidsOnDisk(spark, tablePath, name, m0.gen).filter(_ >= base), base)
        }
      // attempt-unique tombstone file: a crashed refresh's file is
      // invisible (not meta-listed) and never half-reused
      val tombName = s"t${java.util.UUID.randomUUID.toString.take(8)}"
      changedKeys.withColumn("horizon", lit(horizon)).coalesce(1)
        .write.mode("overwrite")
        .parquet(s"${tombsDir(tablePath, name, m0.gen)}/$tombName")
      // THE commit point: segments, tombstone, and version pin swap
      // together or not at all
      writeMeta(tablePath, m0.copy(indexedVersion = head,
        segs = m0.segs ++ newSegs, tombs = m0.tombs :+ tombName))
      Some((m0.indexedVersion, head))
    } finally {
      batch.unpersist(blocking = false)
      ()
    }
  }

  /** Full re-flush into a fresh generation at the table head — the
    * merge/compaction step: one graph build per segment over the live
    * snapshot, ZERO tombstones after (dead copies are gone physically),
    * probe cost reset to `nSegments` walks. Concurrent probes keep
    * serving the old generation untorn; the meta swap flips atomically.
    * Old generation dirs are orphaned for [[vacuum]].
    */
  def rebuild(spark: SparkSession, tablePath: String, name: String = "hnsw",
              nSegments: Option[Int] = None): Unit = {
    val m0 = meta(tablePath, name)
    val head = GraftTable.latestVersion(tablePath)
    val newGen = m0.gen + 1
    val snap = GraftTable.read(spark, tablePath, head).filter(col(m0.vecCol).isNotNull)
    val nSeg = nSegments.getOrElse(math.max(1, m0.segs.length))
    HnswIndex.build(snap, m0.keyCol, m0.vecCol, layoutPath(tablePath, name, newGen),
      m0.m, m0.efConstruction, m0.metric, nSeg, m0.storage)
    writeMeta(tablePath, m0.copy(indexedVersion = head, gen = newGen,
      segs = pidsOnDisk(spark, tablePath, name, newGen), tombs = Nil))
  }

  /** TIERED SEGMENT MERGE — Lucene's background-merge contract as an
    * explicit operator, the bounded-maintenance middle ground between
    * per-batch [[refresh]] (which GROWS the segment count by design:
    * every flush is a new segment, and probe cost is k candidates per
    * segment per query) and full [[rebuild]] (which pays O(corpus)).
    * The SMALLEST committed segments beyond `targetSegments` fold into
    * ONE new segment whose graph is rebuilt over the DECODED vectors
    * while the STORED payload cells pass through UNCHANGED
    * ([[HnswIndex.segmentRows]]/[[HnswIndex.appendStored]] — no
    * re-encode, so the stored geometry round-trips bit-exactly for
    * every storage, rabitq-cosine included), and maintenance IO tracks
    * the merged tier's bytes, never the corpus — exactly Lucene's
    * tiered-merge cost model, which is what keeps a 100 TB CDC-fed
    * index serviceable without rebuild windows.
    *
    * Dead copies are dropped physically during the fold (the same
    * horizon rule probes apply), and tombstone files that can no longer
    * kill anything (horizon ≤ the new minimum committed pid — each file
    * carries ONE horizon and kills only copies at pid < it) retire from
    * the meta. Merged-out segment dirs and retired tombstone files stay
    * on disk for pinned readers (MVCC, the refresh-orphan story); the
    * next rebuild's generation flip + [[vacuum]] reclaims them. The
    * meta swap is the atomic commit point — a crash before it leaves
    * the old meta fully serving.
    *
    * The merged segment is one task's in-memory graph build (the same
    * contract as create/rebuild) — `targetSegments` is the sizing knob.
    * Returns (mergedPids, newPid); None when already at/under target.
    */
  def merge(spark: SparkSession, tablePath: String, name: String = "hnsw",
            targetSegments: Int = 4): Option[(Seq[Int], Int)] = {
    require(targetSegments >= 1, s"need targetSegments >= 1, got $targetSegments")
    val m0 = meta(tablePath, name)
    if (m0.segs.length <= targetSegments) return None
    val lp = layoutPath(tablePath, name, m0.gen)
    // size each committed segment — one FS listing per pid dir,
    // O(segments) metadata, no data IO
    def bytesOf(pid: Int): Long =
      GraftTable.MetaIO.list(new Path(s"$lp/pid=$pid"))
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .map(_.getLen).sum
    val mergeSet = m0.segs.sortBy(p => (bytesOf(p), p))
      .take(m0.segs.length - targetSegments + 1)
    val keep = m0.segs.diff(mergeSet)
    val model = HnswIndex.load(spark, lp)
    val rows = HnswIndex.segmentRows(spark, model, mergeSet.toSet)
    val live = (if (m0.tombs.isEmpty) rows
      else {
        val tombs = spark.read.parquet(
            m0.tombs.map(t => s"${tombsDir(tablePath, name, m0.gen)}/$t"): _*)
          .groupBy("id").agg(max("horizon").as("__hz"))
        rows.join(broadcast(tombs), Seq("id"), "left")
          .filter(col("__hz").isNull || col("pid") >= col("__hz"))
          .drop("__hz")
      }).drop("pid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the horizon rule leaves at most ONE live copy per key; a
      // violation means corrupted lineage — refuse, never build a
      // graph the duplicate-id probe guard would reject later
      val dup = live.groupBy("id").count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"merge found a key with multiple live copies (id ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)}) " +
          "— index lineage is corrupt; rebuild instead")
      val newSegs =
        if (live.isEmpty) keep // every merged copy was dead: just drop them
        else {
          val base = HnswIndex.appendStored(spark, model, live, nNewSegments = 1)
          keep ++ pidsOnDisk(spark, tablePath, name, m0.gen).filter(_ >= base)
        }
      // no segments left (everything merged away dead) ⇒ nothing any
      // tombstone could kill
      val minPid = if (newSegs.isEmpty) Int.MaxValue else newSegs.min
      val keptTombs = m0.tombs.filter { t =>
        val h = spark.read.parquet(s"${tombsDir(tablePath, name, m0.gen)}/$t")
          .agg(max("horizon")).head().getInt(0)
        h > minPid
      }
      writeMeta(tablePath, m0.copy(segs = newSegs, tombs = keptTombs))
      Some((mergeSet, newSegs.diff(keep).headOption.getOrElse(-1)))
    } finally {
      live.unpersist(blocking = false)
      ()
    }
  }

  /** Reclaim non-current generation dirs (post-[[rebuild]] garbage).
    * Same single-maintainer discipline as refresh. Returns dirs deleted.
    */
  def vacuum(tablePath: String, name: String = "hnsw"): Int = {
    val m = meta(tablePath, name)
    val gens = GraftTable.MetaIO.list(new Path(root(tablePath, name)))
      .filter(st => st.isDirectory && st.getPath.getName.matches("g\\d+"))
      .filter(_.getPath.getName.stripPrefix("g").toInt != m.gen)
    gens.foreach(st => GraftTable.MetaIO.delete(st.getPath))
    gens.length
  }

  /** Batched ANN k-NN join through the table-attached HNSW: every query
    * row gets its approximate top-k live table keys — each committed
    * segment graph loads ONCE and serves every query (|Q| bounded-`ef`
    * beam walks per segment), dead copies die by the same horizon
    * tombstone filter as [[probe]], then the bounded-heap per-query
    * top-k. The batch shape of [[probe]] (same legs, same
    * [[IndexServing]] cuts); returns (qid, keyCol, score) — join payload
    * back per key if needed (the batch shape keeps the big side
    * unjoined).
    */
  def knnJoin(spark: SparkSession, tablePath: String,
              queries: Seq[(Long, Seq[Float])], k: Int, ef: Int,
              name: String = "hnsw", allowStale: Boolean = false,
              rerankFactor: Int = 4, pred: Option[Column] = None,
              bruteForceCap: Int = 10000, acceptCap: Int = 1000000): DataFrame = {
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    val s = GraftTable.snapshot(tablePath, m.indexedVersion)
    // the internal graph id is long; emit the key in the TABLE's key
    // type (as joinBack does) so int-keyed tables don't get bigint back
    val keyType = s.schema.map(_(m.keyCol).dataType)
      .getOrElse(org.apache.spark.sql.types.LongType)
    if (pred.isDefined)
      return knnJoinFiltered(spark, tablePath, s, m, queries, k, ef, pred.get,
        rerankFactor, bruteForceCap, acceptCap, keyType)
    if (m.segs.isEmpty) return emptyBatch(spark, s, m)
    val model = HnswIndex.load(spark, layoutPath(tablePath, name, m.gen))
    if (m.storage == "float32") {
      val cands = HnswIndex.probeSegmentsWithPid(spark, model,
        queries.map { case (qid, v) => (qid, v.toArray) }, k, ef, Some(m.segs.toSet))
      val live = liveCandidates(spark, tablePath, m, cands)
        .select(col("qid"), col("id").cast(keyType).as(m.keyCol), col("score"))
      graft.operators.VectorSearch.perQueryTopK(live, "qid", m.keyCol, k, m.metric)
    } else {
      // quantized layout: widen the per-(query, segment) frontier, then
      // exact-rerank every surviving (qid, key) pair from the table
      val cands = HnswIndex.probeSegmentsWithPid(spark, model,
        queries.map { case (qid, v) => (qid, v.toArray) },
        IndexServing.frontierWidth(k, rerankFactor), ef, Some(m.segs.toSet))
      rerankPairs(spark, s, m, queries, k, keyType,
        liveCandidates(spark, tablePath, m, cands).select("qid", "id").distinct())
    }
  }

  /** [[knnJoin]] under a predicate — the [[probeFiltered]] selectivity
    * strategy applied to the batch shape (one accept set / one match
    * count serves EVERY query; the brute path broadcasts the filtered
    * subset once and scores all (query, match) pairs). Emitted scores
    * are exact float arithmetic on all paths.
    */
  private def knnJoinFiltered(spark: SparkSession, tablePath: String, s: GraftTable.Snapshot,
                              m: HnswMeta, queries: Seq[(Long, Seq[Float])], k: Int, ef: Int,
                              pred: Column, rerankFactor: Int, bruteForceCap: Int,
                              acceptCap: Int,
                              keyType: org.apache.spark.sql.types.DataType): DataFrame = {
    val kf = IndexServing.frontierWidth(k, rerankFactor)
    if (queries.isEmpty) return emptyBatch(spark, s, m)
    val (n, matched) = IndexServing.matchSet(spark, s, m.vecCol,
      pred, bruteForceCap, acceptCap)
    if (n == 0) return emptyBatch(spark, s, m)
    if (n <= bruteForceCap || m.segs.isEmpty)
      return IndexServing.bruteBatch(spark, queries, matched(), col(m.keyCol).as("__mkey"),
        col("__mkey").cast(keyType).as(m.keyCol), Seq(m.keyCol), m.vecCol, k, m.metric)
    rerankPairs(spark, s, m, queries, k, keyType,
      filteredWalk(spark, tablePath, m, queries, kf, ef, matched(), n, acceptCap)
        .select("qid", "id").distinct())
  }

  /** Continuous maintenance: [[refresh]] per micro-batch of the shared
    * ticker ([[IndexServing.streamRefresh]]) so the index FOLLOWS the
    * table. A re-applied change range re-tombstones the same keys and
    * appends duplicate fresh copies whose max-horizon arbitration still
    * serves exactly one.
    */
  def streamRefresh(spark: SparkSession, tablePath: String, name: String = "hnsw",
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexServing.streamRefresh(spark, trigger)(refresh(spark, tablePath, name))

  /** Drop the index entirely; false when absent (IF EXISTS contract). */
  def drop(tablePath: String, name: String = "hnsw"): Boolean = {
    val existed = exists(tablePath, name)
    if (existed) GraftTable.MetaIO.delete(new Path(root(tablePath, name)))
    existed
  }

  private def requireFresh(tablePath: String, m: HnswMeta, allowStale: Boolean): Unit =
    IndexServing.requireFresh(tablePath, "hnsw index", m.name, m.indexedVersion, allowStale,
      "GraftHnsw.refresh, or probe(allowStale = true)")

  /** Candidates surviving the horizon tombstones: a candidate (id, pid)
    * dies iff some tombstone for its id has horizon > pid — i.e. the
    * copy predates its key's newest change. One broadcast-sized join
    * (tombstones are the table's churn since the last rebuild).
    */
  private def liveCandidates(spark: SparkSession, tablePath: String,
                             m: HnswMeta, cands: DataFrame): DataFrame = {
    if (m.tombs.isEmpty) return cands
    val tombs = spark.read.parquet(
        m.tombs.map(t => s"${tombsDir(tablePath, m.name, m.gen)}/$t"): _*)
      .groupBy("id").agg(max("horizon").as("__hz"))
    cands.join(broadcast(tombs), Seq("id"), "left")
      .filter(col("__hz").isNull || col("pid") >= col("__hz"))
      .drop("__hz")
  }

  private def schemaOf(s: GraftTable.Snapshot): org.apache.spark.sql.types.StructType =
    s.schema.getOrElse(
      throw new IllegalStateException(s"${s.path}: no recorded snapshot schema"))

  private def emptyShape(spark: SparkSession, s: GraftTable.Snapshot, m: HnswMeta): DataFrame =
    IndexServing.emptyShape(spark, s, m.vecCol)

  private def emptyBatch(spark: SparkSession, s: GraftTable.Snapshot, m: HnswMeta): DataFrame =
    IndexServing.emptyBatch(spark, s, Seq(m.keyCol))

  /** Graph ids (`__id`, long) re-keyed in the TABLE's key type — the
    * point lookup's join key. Other columns of `ids` ride along.
    */
  private def keyed(ids: DataFrame, m: HnswMeta,
                    keyType: org.apache.spark.sql.types.DataType): DataFrame =
    ids.withColumn(m.keyCol, col("__id").cast(keyType)).drop("__id")

  /** Payload join-back: the k result keys point-look-up their buckets
    * at the PINNED table version (k keys → ≤ k bucket reads, never a
    * scan), and the canonical probe shape comes out.
    */
  private def joinBack(spark: SparkSession, s: GraftTable.Snapshot, m: HnswMeta,
                       top: Array[(Long, Double)]): DataFrame = {
    if (top.isEmpty) return emptyShape(spark, s, m)
    import spark.implicits._
    val sc = schemaOf(s)
    IndexServing.pointLookup(spark, s, Seq(m.keyCol),
        keyed(top.toSeq.toDF("__id", "score"), m, sc(m.keyCol).dataType))
      .select(IndexServing.shape(sc.fieldNames.toSeq, m.vecCol).map(col): _*)
  }

  /** The walk legs' single-query tail: the live frontier (≤ |segs|·kf
    * ids — serving-sized by construction) is scored exactly from the
    * TABLE's float column, so quantized layouts never surface
    * reconstructed arithmetic.
    */
  private def rerankFrontier(spark: SparkSession, s: GraftTable.Snapshot, m: HnswMeta,
                             query: Seq[Float], k: Int, live: DataFrame): DataFrame = {
    import spark.implicits._
    val frontier = live.select("id").distinct().collect().map(_.getLong(0))
    if (frontier.isEmpty) return emptyShape(spark, s, m)
    val sc = schemaOf(s)
    IndexServing.exactCut(
      IndexServing.pointLookup(spark, s, Seq(m.keyCol),
        keyed(frontier.toSeq.toDF("__id"), m, sc(m.keyCol).dataType)),
      m.vecCol, query, m.metric, Seq(m.keyCol), k,
      IndexServing.shape(sc.fieldNames.toSeq, m.vecCol))
  }

  /** The walk legs' batch tail: the live (qid, id) frontier pairs are
    * exact-reranked from the table — ONE point lookup serves all
    * queries' candidates (≤ |Q|·|segs|·kf pairs, serving-sized).
    */
  private def rerankPairs(spark: SparkSession, s: GraftTable.Snapshot, m: HnswMeta,
                          queries: Seq[(Long, Seq[Float])], k: Int,
                          keyType: org.apache.spark.sql.types.DataType,
                          pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val frontier = pairs.select("id").distinct().collect().map(_.getLong(0))
    if (frontier.isEmpty) return emptyBatch(spark, s, m)
    // select, not withColumn+drop: the table's key may itself be
    // named "id" (the graph's internal id column name)
    IndexServing.rerankBatch(spark, s, Seq(m.keyCol), m.vecCol,
      queries, pairs.select(col("qid"), col("id").cast(keyType).as(m.keyCol)),
      keyed(frontier.toSeq.toDF("__id"), m, keyType), k, m.metric)
  }

  /** The middle and post-filter legs' live candidates for every query:
    * with ≤ `acceptCap` matches the match keys broadcast once as a
    * sorted accept set and each walk collects only accepted nodes;
    * above it an unfiltered walk's candidates are semi-joined against
    * the match keys (the match set is never collected).
    */
  private def filteredWalk(spark: SparkSession, tablePath: String, m: HnswMeta,
                           queries: Seq[(Long, Seq[Float])], kf: Int, ef: Int,
                           matched: DataFrame, n: Long, acceptCap: Int): DataFrame = {
    val model = HnswIndex.load(spark, layoutPath(tablePath, m.name, m.gen))
    val acceptIds: Option[Array[Long]] =
      if (n <= acceptCap) {
        val arr = matched.select(col(m.keyCol).cast("long")).distinct()
          .collect().map(_.getLong(0))
        java.util.Arrays.sort(arr)
        Some(arr)
      } else None
    val live = liveCandidates(spark, tablePath, m, HnswIndex.probeSegmentsWithPid(spark, model,
      queries.map { case (qid, v) => (qid, v.toArray) }, kf, ef, Some(m.segs.toSet), acceptIds))
    if (acceptIds.isDefined) live
    else live.join(matched.select(col(m.keyCol).cast("long").as("id")).distinct(),
      Seq("id"), "left_semi")
  }

  /** Top-k against the table-attached HNSW index. `ef` is the
    * recall/cost knob. Fails loudly when the index lags the table
    * unless `allowStale`. Output: full table rows (minus the vector) +
    * score, the [[GraftIndex.probe]] shape.
    *
    * Quantized layouts (`storage` sq8/binary/rabitq) are served TWO-STAGE: the
    * walk ranks a `rerankFactor`·k frontier per segment on the
    * reconstructed vectors (the cheap, small-scan-bytes pass), then the
    * frontier's exact scores come from the TABLE's float column via a
    * bucket-pruned point lookup and the final k is cut on those — so
    * emitted scores are always exact float arithmetic, identical in
    * kind to the float32 layout's (the 7d/7g rerank shape; quantization
    * costs recall headroom, never score fidelity). `rerankFactor` is
    * ignored for float32 layouts.
    *
    * `pred` turns the probe into a FILTERED vector search (top-k among
    * rows matching the predicate) — see [[probeFiltered]] for the
    * three-path selectivity strategy and the `bruteForceCap`/`acceptCap`
    * knobs (both ignored without a pred).
    */
  def probe(spark: SparkSession, tablePath: String, query: Seq[Float], k: Int,
            ef: Int, name: String = "hnsw", allowStale: Boolean = false,
            rerankFactor: Int = 4, pred: Option[Column] = None,
            bruteForceCap: Int = 10000, acceptCap: Int = 1000000): DataFrame = {
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    probeAt(spark, tablePath, GraftTable.snapshot(tablePath, m.indexedVersion), m, query, k,
      ef, rerankFactor, pred, bruteForceCap, acceptCap)
  }

  /** [[probe]] against the pinned snapshot `s` of the indexed version. */
  private def probeAt(spark: SparkSession, tablePath: String, s: GraftTable.Snapshot,
                      m: HnswMeta, query: Seq[Float], k: Int, ef: Int, rerankFactor: Int,
                      pred: Option[Column], bruteForceCap: Int, acceptCap: Int): DataFrame = {
    if (pred.isDefined)
      return probeFiltered(spark, tablePath, s, m, query, k, ef, pred.get,
        rerankFactor, bruteForceCap, acceptCap)
    if (m.segs.isEmpty) return emptyShape(spark, s, m)
    val model = HnswIndex.load(spark, layoutPath(tablePath, m.name, m.gen))
    if (m.storage == "float32") {
      // fetch k per COMMITTED segment (meta-listed pids only: a crashed
      // refresh's orphan segment stays invisible), filter dead copies,
      // then the global cut
      val cands = HnswIndex.probeSegmentsWithPid(spark, model,
        Seq((0L, query.toArray)), k, ef, Some(m.segs.toSet))
      val top = liveCandidates(spark, tablePath, m, cands)
        .orderBy(IndexServing.scoreOrder(m.metric), asc("id")).limit(k)
        .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1)))
      joinBack(spark, s, m, top)
    } else {
      val cands = HnswIndex.probeSegmentsWithPid(spark, model, Seq((0L, query.toArray)),
        IndexServing.frontierWidth(k, rerankFactor), ef, Some(m.segs.toSet))
      rerankFrontier(spark, s, m, query, k, liveCandidates(spark, tablePath, m, cands))
    }
  }

  /** DIVERSIFIED top-k through the table-attached HNSW: stage 1 is the
    * existing [[probe]] widened to `candidates` (freshness, tombstones,
    * pred legs, quantized rerank all apply unchanged), stage 2 the
    * shared MMR greedy ([[IndexServing.mmr]]) over that serving-sized
    * slice. Output: `rank` + canonical probe shape + `mmr_score`; λ=1
    * degenerates to the plain probe order (spec-pinned). SQL surface:
    * the `graft_hnsw_mmr` TVF.
    */
  def probeMmr(spark: SparkSession, tablePath: String, query: Seq[Float], k: Int,
               ef: Int, lambda: Double, candidates: Int, name: String = "hnsw",
               pred: Option[Column] = None, allowStale: Boolean = false,
               rerankFactor: Int = 4, bruteForceCap: Int = 10000,
               acceptCap: Int = 1000000): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need 1 <= k <= candidates, got k=$k, candidates=$candidates")
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    val s = GraftTable.snapshot(tablePath, m.indexedVersion)
    val cand = probeAt(spark, tablePath, s, m, query, candidates, ef, rerankFactor, pred,
      bruteForceCap, acceptCap).localCheckpoint()
    IndexServing.mmr(spark, s, Seq(m.keyCol), m.vecCol, cand, k, lambda, m.metric)
  }

  /** FILTERED top-k — Lucene's two-strategy filtered KNN
    * (KnnFloatVectorQuery + filter, public), generalized to three
    * regimes. The predicate is evaluated against the PINNED table
    * snapshot and the serving path is picked by its measured match
    * count, never guessed — measured METADATA-FIRST
    * ([[IndexServing.matchSet]]): a stats-answerable pred whose bounds
    * already decide the leg skips the count job entirely:
    *
    *  - ≤ `bruteForceCap` matches (or no segments): EXACT brute force
    *    over the filtered subset. The pred pushes into the snapshot's
    *    pruned parquet scan, the graph is never consulted, and the
    *    result is exact by construction — a selective filter makes the
    *    subset scan CHEAPER than a walk that must route past thousands
    *    of rejected nodes to find k accepted ones (Lucene's own
    *    fallback rule). This path earns the DuckDB oracle.
    *  - ≤ `acceptCap` matches: FILTERED WALK — the match keys broadcast
    *    once as a sorted accept set shared by all segment tasks; each
    *    walk traverses the FULL graph but collects only accepted nodes
    *    (rejected nodes stay routable, so the beam crosses the
    *    filtered-out region instead of fragmenting at its boundary),
    *    fetching a rerankFactor·k frontier per segment for tombstone
    *    and rerank headroom.
    *  - above `acceptCap` (a pred that keeps most of the table):
    *    POST-FILTER — unfiltered walk with the widened frontier, then a
    *    semi-join against the match keys. The match set is never
    *    collected to the driver; recall tracks the filter's pass rate,
    *    which is high exactly when this path engages.
    *
    * All paths emit EXACT float scores in the canonical probe shape.
    * `acceptCap >= bruteForceCap` is enforced by the shared count
    * ladder. Acceptance is BY KEY against the pinned snapshot: an
    * updated row's stale segment copies inherit the key's acceptance
    * and then die by the horizon-tombstone filter, so the served copy
    * is exactly the one the snapshot predicate saw.
    */
  private def probeFiltered(spark: SparkSession, tablePath: String, s: GraftTable.Snapshot,
                            m: HnswMeta, query: Seq[Float], k: Int, ef: Int, pred: Column,
                            rerankFactor: Int, bruteForceCap: Int,
                            acceptCap: Int): DataFrame = {
    val kf = IndexServing.frontierWidth(k, rerankFactor)
    val sc = schemaOf(s)
    val (n, matched) = IndexServing.matchSet(spark, s, m.vecCol,
      pred, bruteForceCap, acceptCap)
    if (n == 0) return emptyShape(spark, s, m)
    if (n <= bruteForceCap || m.segs.isEmpty)
      return IndexServing.exactCut(matched(), m.vecCol, query, m.metric, Seq(m.keyCol), k,
        IndexServing.shape(sc.fieldNames.toSeq, m.vecCol))
    rerankFrontier(spark, s, m, query, k,
      filteredWalk(spark, tablePath, m, Seq((0L, query)), kf, ef, matched(), n, acceptCap))
  }
}
