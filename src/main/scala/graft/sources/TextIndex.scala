package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A full-text (BM25) inverted index that lives WITH its [[GraftTable]]
  * — the keyword twin of [[GraftIndex]], completing the reference's
  * hybrid story (demo.ipynb cell 13 fuses keyword and vector rankings;
  * here BOTH legs serve from table-attached, version-pinned indexes
  * instead of scans).
  *
  * Why an index at all: BM25 over a scanned corpus reads every document
  * per query. At 100 TB that is the whole table; from the inverted
  * index, a query reads ONLY the posting files of its own terms — the
  * token-hash partition layout turns a q-term query into a scan of at
  * most q of the `nbuckets` posting partitions per segment, everything
  * else pruned by Spark's partition discovery before a single parquet
  * footer is opened.
  *
  * Layout, under the table's own directory:
  * {{{
  *   table/_textidx/<name>/meta          textCol, keys, nbuckets,
  *                                       indexedVersion, ndocs, sumdl,
  *                                       segments (ordered, attempt-named)
  *   table/_textidx/<name>/seg<K>-<tok>/postings/tbucket=N/…
  *                                       (keys…, token, tf, dl,
  *                                       positions) parquet
  *   table/_textidx/<name>/seg<K>-<tok>/tombs/…
  *                                       keys of docs this segment
  *                                       REMOVES from earlier segments
  * }}}
  *
  * The segment model is Lucene's, rebuilt on Spark primitives:
  * segments are IMMUTABLE once written; [[refresh]] applies the table's
  * change feed as ONE new segment — postings for added/updated docs,
  * tombstones for the previous images of updated/deleted docs — and
  * commits by atomically swapping `meta` (segment list, corpus stats,
  * and version pin advance together or not at all, the same
  * self-consistent single-swap commit as [[GraftIndex]]; each attempt's
  * segment dir is attempt-named, so racing maintainers cannot mix
  * state). A posting from segment i is live iff no segment j > i
  * tombstones its doc. [[compact]] folds everything into one segment;
  * [[vacuum]] reclaims unreferenced segment dirs.
  *
  * Scoring is exact, not segment-approximate: `df` is counted over LIVE
  * postings at query time (from the same pruned scan scoring reads, so
  * it costs nothing extra) and corpus stats (N, Σdl) are maintained
  * exactly through refresh deltas — unlike Lucene, deleted docs never
  * linger in the statistics. BM25: k1 = 1.2, b = 0.75,
  * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) ("lucene"), with a
  * log-free "rational" idf variant (the same fraction, un-logged) whose
  * arithmetic is reproducible bit-for-bit in any SQL engine — the
  * CORRECTNESS oracle rows use it so scores hash-match DuckDB exactly.
  *
  * Freshness is a recorded fact, like [[GraftIndex]]: `indexedVersion`
  * pins the table snapshot, [[search]] FAILS LOUDLY when the table has
  * moved past it, `allowStale = true` serves the pinned snapshot.
  */
object TextIndex {

  final case class TextMeta(name: String, textCol: String, keyCols: Seq[String],
                            nbuckets: Int, indexedVersion: Int,
                            nDocs: Long, sumDl: Long,
                            /** ordered segment entries: (dirName, hasPostings, hasTombs) */
                            segments: Seq[(String, Boolean, Boolean)],
                            /** posting format: 1 = (tf, dl) only; 2 = positional
                              * (every segment also stores the token's position
                              * list — the [[searchPhrase]] substrate) */
                            pformat: Int = 2)

  private def root(tablePath: String, name: String) = s"$tablePath/_textidx/$name"
  private def metaPath(tablePath: String, name: String) = new Path(root(tablePath, name), "meta")
  private def segPath(tablePath: String, name: String, seg: String) =
    s"${root(tablePath, name)}/$seg"

  def exists(tablePath: String, name: String = "txt"): Boolean =
    GraftTable.MetaIO.exists(metaPath(tablePath, name))

  def meta(tablePath: String, name: String = "txt"): TextMeta = {
    val p = metaPath(tablePath, name)
    require(GraftTable.MetaIO.exists(p), s"no text index '$name' at $tablePath")
    val kv = GraftTable.MetaIO.readString(p).split("\n")
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val segs = kv.getOrElse("segments", "") match {
      case "" => Seq.empty
      case s => s.split(",").toSeq.map { e =>
        val Array(n, flags) = e.split(":", 2)
        (n, flags.contains("p"), flags.contains("t"))
      }
    }
    TextMeta(name, kv("textCol"), kv("keyCols").split(",").toSeq,
      kv("nbuckets").toInt, kv("indexedVersion").toInt,
      kv("ndocs").toLong, kv("sumdl").toLong, segs,
      // metas written before positional postings carry no pformat line:
      // those segments have no position lists → format 1
      kv.getOrElse("pformat", "1").toInt)
  }

  private def writeMeta(tablePath: String, m: TextMeta): Unit =
    GraftTable.MetaIO.replaceString(metaPath(tablePath, m.name),
      s"textCol=${m.textCol}\nkeyCols=${m.keyCols.mkString(",")}\n" +
        s"nbuckets=${m.nbuckets}\nindexedVersion=${m.indexedVersion}\n" +
        s"ndocs=${m.nDocs}\nsumdl=${m.sumDl}\npformat=${m.pformat}\nsegments=" +
        m.segments.map { case (n, p, t) =>
          s"$n:" + (if (p) "p" else "") + (if (t) "t" else "") }.mkString(","))

  // ---- tokenization ------------------------------------------------------
  // the repo-wide text convention (text_tokens/text_keywords oracles):
  // lowercase, split on single spaces, drop empties. The driver-side and
  // Column-side forms MUST stay in lockstep — both are exercised against
  // the same DuckDB string_split in the CORRECTNESS rows.

  private[graft] def tokenize(text: String): Seq[String] =
    text.toLowerCase.split(" ").toSeq.filter(_.nonEmpty)

  private[graft] def tokensCol(textCol: String): Column =
    filter(split(lower(col(textCol)), " "), t => length(t) > 0)

  /** Token-hash partition bucket. CRC32 over the UTF-8 bytes — the same
    * standard polynomial in Spark (`crc32`, codegen'd) and on the
    * driver (`java.util.zip.CRC32`), so the prober can name the buckets
    * a query's terms live in without touching the cluster.
    */
  private def tbucketCol(token: Column, nbuckets: Int): Column =
    pmod(crc32(token.cast("binary")), lit(nbuckets.toLong)).cast("int")

  private[graft] def tbucketOf(token: String, nbuckets: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(token.getBytes("UTF-8"))
    (c.getValue % nbuckets).toInt
  }

  // ---- building blocks ---------------------------------------------------

  /** (keys…, token, tf, dl, positions, tbucket) for every (live doc,
    * distinct token): the unit the index stores. `dl` = doc length in
    * tokens; `positions` = the token's 0-based offsets in the doc,
    * sorted (Lucene's positional postings — the phrase-query
    * substrate). BM25 never reads `positions`: parquet column pruning
    * keeps the scoring scan at the (tf, dl) width it had before.
    */
  private def postingsOf(docs: DataFrame, textCol: String, keyCols: Seq[String],
                         nbuckets: Int): DataFrame = {
    val toks = docs.select(keyCols.map(col) :+ tokensCol(textCol).as("_toks"): _*)
      .withColumn("dl", size(col("_toks")))
    postingsFromToks(toks, keyCols, nbuckets)
  }

  /** Postings from an already-tokenized (keys…, dl, _toks) frame — the
    * shared tail of [[postingsOf]] and the single-tokenize-pass
    * lifecycle paths (create/refresh persist the token frame so stats
    * and postings read ONE tokenization instead of scanning and
    * re-tokenizing the corpus twice).
    */
  private def postingsFromToks(toks: DataFrame, keyCols: Seq[String],
                               nbuckets: Int): DataFrame =
    toks.select(keyCols.map(col) ++ Seq(col("dl"),
        posexplode(col("_toks")).as(Seq("pos", "token"))): _*)
      .groupBy(keyCols.map(col) :+ col("dl") :+ col("token"): _*)
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("tbucket", tbucketCol(col("token"), nbuckets))

  /** (#docs, Σ dl) of a (…, dl) frame — the corpus-stat contribution.
    * Counts token-LESS docs too (dl = 0): they are corpus members for
    * BM25's nDocs/avgdl even though they emit no postings.
    */
  private def statsOfDl(withDl: DataFrame): (Long, Long) = {
    val r = withDl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def newSegName(ord: Int): String =
    s"seg$ord-${java.util.UUID.randomUUID.toString.take(8)}"

  /** Write one segment's postings/tombs; returns the meta entry. Either
    * side may be empty — empty parquet writes leave no readable schema,
    * so presence is recorded in the entry and absent parts are simply
    * never planned (the serving path stays listing-free).
    */
  private def writeSegment(tablePath: String, name: String, seg: String,
                           postings: Option[DataFrame],
                           tombs: Option[DataFrame]): (String, Boolean, Boolean) = {
    val dir = segPath(tablePath, name, seg)
    // co-locate each token bucket before the partitioned write: one
    // file per tbucket per segment instead of (write tasks × buckets)
    // shards — fewer, bigger posting files is exactly what the pruned
    // per-term read wants at scale
    postings.foreach(_.repartition(col("tbucket")).write.mode(SaveMode.Overwrite)
      .partitionBy("tbucket").parquet(s"$dir/postings"))
    tombs.foreach(_.write.mode(SaveMode.Overwrite).parquet(s"$dir/tombs"))
    (seg, postings.isDefined, tombs.isDefined)
  }

  // ---- lifecycle ---------------------------------------------------------

  /** Index the table's CURRENT snapshot and record that version. Docs
    * with a null `textCol` are not indexed (they join the corpus if a
    * later upsert fills the text in).
    */
  def create(spark: SparkSession, tablePath: String, textCol: String,
             nbuckets: Int = 16, name: String = "txt"): Unit = {
    val v = GraftTable.latestVersion(tablePath)
    require(v >= 0, s"no table at $tablePath")
    require(!exists(tablePath, name), s"text index '$name' already exists at $tablePath")
    val keys = GraftTable.keyColumns(tablePath)
    val reserved = Set("token", "tf", "dl", "tbucket", "df", "score", "_toks", "_seg", "_tseg")
    (keys :+ textCol).foreach(c =>
      require(!reserved(c), s"column name '$c' collides with an index-internal column"))
    val docs = GraftTable.read(spark, tablePath, v).filter(col(textCol).isNotNull)
    // tokenize ONCE: the persisted token frame feeds both the stats
    // aggregate and the postings build — unpersisted, create scanned
    // and re-tokenized the whole corpus twice (guide §1.2: don't
    // compute things twice before tuning anything else)
    val toks = docs.select(keys.map(col) :+ tokensCol(textCol).as("_toks"): _*)
      .withColumn("dl", size(col("_toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, sdl) = statsOfDl(toks)
      val seg = newSegName(0)
      val entry = writeSegment(tablePath, name, seg,
        if (n > 0) Some(postingsFromToks(toks, keys, nbuckets)) else None, None)
      // meta lands LAST — the commit point
      writeMeta(tablePath, TextMeta(name, textCol, keys, nbuckets, v, n, sdl,
        if (n > 0) Seq(entry) else Seq.empty))
    } finally {
      toks.unpersist(blocking = false)
      ()
    }
  }

  /** Catch the index up to the table head by appending ONE segment:
    * postings for docs added/updated in (indexedVersion, head],
    * tombstones for the previous images of updated/deleted docs, corpus
    * stats adjusted by exact deltas (old images re-tokenized from the
    * still-readable indexed snapshot — COW never mutates it). Returns
    * the (from, to] range applied, or None when already fresh. Cost is
    * O(changed docs), never O(corpus). Idempotent against crashes: an
    * attempt dies invisibly before the meta swap (orphan segment dir,
    * reclaimed by [[vacuum]]); racing refreshers each commit their own
    * self-consistent (segments, stats, version) triple.
    * `maxSegments > 0` folds the index back to one segment ([[compact]])
    * whenever a refresh pushes the segment count past the cap — the
    * merge policy knob for continuous maintenance.
    */
  def refresh(spark: SparkSession, tablePath: String,
              name: String = "txt", maxSegments: Int = 0): Option[(Int, Int)] = {
    val r = refreshOnce(spark, tablePath, name)
    // tiered-merge stand-in (Lucene's merge policy, coarsest form):
    // continuous maintenance appends one segment per tick, and every
    // query reads every segment's pruned partitions — fold back to one
    // segment whenever the count passes the cap, as part of the same
    // maintenance call. 0 = never (explicit compact() only).
    if (maxSegments > 0 && r.isDefined && meta(tablePath, name).segments.size > maxSegments)
      compact(spark, tablePath, name)
    r
  }

  private def refreshOnce(spark: SparkSession, tablePath: String,
                          name: String): Option[(Int, Int)] = {
    val m = meta(tablePath, name)
    val head = GraftTable.latestVersion(tablePath)
    if (head <= m.indexedVersion) return None
    val batch = GraftTable.changes(spark, tablePath, m.indexedVersion, head)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keyCols = m.keyCols.map(col)
      val changedKeys = batch.select(keyCols: _*).distinct()
      // previous images of every changed doc that WAS indexed: their
      // postings die (tombstone) and their stats contribution reverses.
      // The old side never needs tokens — tombstones are keys and the
      // stat reversal only needs dl — so it materializes SLIM (keys +
      // dl): one snapshot semi-join + tokenize pass instead of one per
      // consumer. The new side's token frame persists whole: stats and
      // the postings build share one tokenization.
      val oldSlim = GraftTable.read(spark, tablePath, m.indexedVersion)
        .join(changedKeys, m.keyCols, "left_semi")
        .filter(col(m.textCol).isNotNull)
        .select(keyCols :+ size(tokensCol(m.textCol)).as("dl"): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val newToks = batch.filter(!col("_deleted")).drop("_deleted")
        .filter(col(m.textCol).isNotNull)
        .select(m.keyCols.map(col) :+ tokensCol(m.textCol).as("_toks"): _*)
        .withColumn("dl", size(col("_toks")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (nOld, dlOld) = statsOfDl(oldSlim)
        val (nNew, dlNew) = statsOfDl(newToks)
        if (nOld == 0 && nNew == 0) {
          // nothing indexed changed (e.g. all changed rows have null
          // text): advance the version pin alone
          writeMeta(tablePath, m.copy(indexedVersion = head))
          return Some((m.indexedVersion, head))
        }
        val seg = newSegName(m.segments.size)
        val entry = writeSegment(tablePath, name, seg,
          if (nNew > 0) Some(postingsFromToks(newToks, m.keyCols, m.nbuckets)) else None,
          if (nOld > 0) Some(oldSlim.select(keyCols: _*)) else None)
        // THE commit point: segment list + stats + version pin, one swap
        writeMeta(tablePath, m.copy(indexedVersion = head,
          nDocs = m.nDocs - nOld + nNew, sumDl = m.sumDl - dlOld + dlNew,
          segments = m.segments :+ entry))
        Some((m.indexedVersion, head))
      } finally {
        oldSlim.unpersist(blocking = false)
        newToks.unpersist(blocking = false)
        ()
      }
    } finally {
      batch.unpersist(blocking = false)
      ()
    }
  }

  // ---- serving -----------------------------------------------------------

  private def requireFresh(tablePath: String, m: TextMeta, allowStale: Boolean): Unit =
    IndexServing.requireFresh(tablePath, "text index", m.name, m.indexedVersion, allowStale,
      "TextIndex.refresh, or search(allowStale = true)")

  /** LIVE postings of the query's terms: every segment's posting
    * partitions for the terms' tbuckets (all other partitions pruned),
    * minus docs a LATER segment tombstoned. Last-writer-wins per doc,
    * the index twin of the table's upsert semantics.
    */
  private def livePostings(spark: SparkSession, tablePath: String, m: TextMeta,
                           qTokens: Seq[String]): Option[DataFrame] =
    livePostingsPruned(spark, tablePath, m, Some(qTokens))

  /** `qTokens = None`: NO term pruning — the whole live posting set.
    * Only [[fuzzyTerms]]' dictionary enumeration wants this (a fuzzy
    * term cannot bucket-prune by construction: the typo's token bucket
    * is not its matches'); every scoring path stays pruned.
    */
  private def livePostingsPruned(spark: SparkSession, tablePath: String, m: TextMeta,
                                 qTokens: Option[Seq[String]]): Option[DataFrame] = {
    val posts = m.segments.zipWithIndex.collect { case ((seg, true, _), i) =>
      val raw = spark.read.parquet(s"${segPath(tablePath, m.name, seg)}/postings")
      qTokens.fold(raw) { qs =>
        val buckets = qs.map(tbucketOf(_, m.nbuckets)).distinct
        raw.filter(col("tbucket").isin(buckets: _*) && col("token").isin(qs: _*))
      }.withColumn("_seg", lit(i))
    }
    if (posts.isEmpty) return None
    // allowMissingColumns: a pformat-1 index refreshed under this code
    // mixes position-less legacy segments with positional new ones —
    // BM25 reads neither way; phrase search demands pformat 2
    val all = posts.reduce(_.unionByName(_, allowMissingColumns = true))
    val tombs = m.segments.zipWithIndex.collect { case ((seg, _, true), i) =>
      spark.read.parquet(s"${segPath(tablePath, m.name, seg)}/tombs")
        .withColumn("_seg", lit(i))
    }
    if (tombs.isEmpty) return Some(all)
    // max tombstoning segment per doc, broadcast: tombstones are
    // O(changes since compaction), tiny next to the corpus
    val tombAgg = tombs.reduce(_.unionByName(_))
      .groupBy(m.keyCols.map(col): _*).agg(max("_seg").as("_tseg"))
    Some(all.join(broadcast(tombAgg), m.keyCols, "left")
      .filter(coalesce(col("_tseg"), lit(-1)) <= col("_seg"))
      .drop("_tseg"))
  }

  private def idfExpr(idf: String): String = idf match {
    // ndocs/df/tf/dl/sumdl are column names in the scored-terms frame.
    // Literals carry the D suffix: Spark SQL parses a bare `2.2` as
    // DECIMAL and decimal division truncates at ~1e-8 — with doubles
    // the op sequence is pure IEEE 754 and reproducible bit-for-bit by
    // the JVM brute force (specs) and by DuckDB with `::DOUBLE`
    // literals in the same order (oracle rows).
    case "lucene" => "ln(1.0D + (ndocs - df + 0.5D) / (df + 0.5D))"
    case "rational" => "((ndocs - df + 0.5D) / (df + 0.5D))"
    case other => throw new IllegalArgumentException(s"unknown idf kind '$other'")
  }

  private[graft] val satSql: String =
    "((tf * 2.2D) / (tf + 1.2D * (0.25D + 0.75D * dl * ndocs / sumdl)))"

  /** Per-(doc, term) BM25 contributions for `query`'s distinct terms:
    * (keys…, token, tf, dl, df, ndocs, sumdl, contrib). The scoring
    * substrate [[search]] sums — exposed because integer-exact
    * verification wants the pre-aggregation terms (quantize each, THEN
    * sum: order-free), and ranking diagnostics want to see which term
    * carried a hit.
    */
  def scoredTerms(spark: SparkSession, tablePath: String, query: String,
                  name: String = "txt", idf: String = "lucene",
                  allowStale: Boolean = false): DataFrame = {
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    val qTokens = tokenize(query).distinct
    val shape = (c: DataFrame) => c.select(
      m.keyCols.map(col) ++ Seq(col("token"), col("tf"), col("dl"), col("df"),
        col("ndocs"), col("sumdl"), col("contrib")): _*)
    val empty = () => shape(
      GraftTable.read(spark, tablePath, m.indexedVersion).limit(0)
        .withColumns(Map("token" -> lit(""), "tf" -> lit(1L), "dl" -> lit(1),
          "df" -> lit(1L), "ndocs" -> lit(1L), "sumdl" -> lit(1L),
          "contrib" -> lit(0.0))))
    if (qTokens.isEmpty || m.nDocs == 0L) return empty()
    livePostings(spark, tablePath, m, qTokens) match {
      case None => empty()
      case Some(live) =>
        // df over LIVE postings — exact, and free: counted on the same
        // pruned term scan the scoring reads (≤ |terms| rows, broadcast)
        val dfs = live.groupBy("token").agg(count(lit(1)).as("df"))
        shape(live.join(broadcast(dfs), "token")
          .withColumn("ndocs", lit(m.nDocs))
          .withColumn("sumdl", lit(m.sumDl))
          .withColumn("contrib", expr(s"(${idfExpr(idf)}) * $satSql")))
    }
  }

  /** BM25 top-k: (keys…, score), ordered (score desc, keys asc).
    * `mode = "any"` scores every doc matching ≥1 term (disjunctive,
    * the BM25 default); `"all"` keeps only docs matching EVERY distinct
    * query term (conjunctive AND). Plan shape: pruned posting scan →
    * one keyed aggregation → TakeOrderedAndProject; no corpus scan, no
    * global window.
    *
    * `_q` modes ALWAYS score with the rational idf (quantized integer
    * sums are only order-independent with it); `idf` may be left at its
    * "lucene" default or set to "rational" explicitly — any other
    * combination refuses loudly rather than silently scoring with a
    * different idf than the caller named.
    *
    * `pred` makes it a FILTERED query with Lucene's filtered-query
    * semantics: the predicate (over the PINNED snapshot's columns)
    * narrows doc ELIGIBILITY via a semi-join BEFORE the top-k cut — so
    * k stays full instead of under-filling the way filtering k results
    * would — while corpus statistics (df, N, Σdl) stay FULL-corpus: a
    * filter changes which docs may return, never the scoring model
    * (exactly Lucene's BooleanQuery FILTER clause). Exact by
    * construction — BM25 scores every term-matching doc anyway, so
    * filtering costs eligibility lookup, not recall.
    */
  def search(spark: SparkSession, tablePath: String, query: String, k: Int,
             name: String = "txt", mode: String = "any", idf: String = "lucene",
             allowStale: Boolean = false, pred: Option[Column] = None): DataFrame = {
    // *_q modes: rational idf + per-term quantize-then-INTEGER-sum —
    // the order-independent scoring the DuckDB oracle reproduces
    // hash-exactly (float BM25 sums are addition-order-dependent)
    val quantized = mode.endsWith("_q")
    val baseMode = if (quantized) mode.stripSuffix("_q") else mode
    require(baseMode == "any" || baseMode == "all", s"unknown mode '$mode'")
    require(!quantized || idf == "lucene" || idf == "rational",
      s"mode '$mode' scores with the rational idf by construction — " +
        s"idf '$idf' would be silently ignored; drop the _q suffix or " +
        "leave idf at its default")
    val m = meta(tablePath, name)
    val terms = scoredTerms(spark, tablePath, query, name,
      if (quantized) "rational" else idf, allowStale)
    val nq = tokenize(query).distinct.size
    val scoreAgg =
      if (quantized)
        sum(floor(col("contrib") * lit(1000000.0)).cast("long")).as("score_q")
      else sum("contrib").as("score")
    val scoreCol = if (quantized) "score_q" else "score"
    val scored = terms.groupBy(m.keyCols.map(col): _*)
      .agg(scoreAgg, count(lit(1)).as("_nmatch"))
    val kept = if (baseMode == "all") scored.filter(col("_nmatch") === nq) else scored
    val eligible = pred.fold(kept)(p =>
      kept.join(GraftTable.read(spark, tablePath, m.indexedVersion)
        .filter(p).select(m.keyCols.map(col): _*), m.keyCols, "left_semi"))
    eligible.drop("_nmatch")
      .orderBy(col(scoreCol).desc +: m.keyCols.map(c => col(c).asc): _*)
      .limit(k)
  }

  /** Lucene FuzzyQuery's term enumeration: every LIVE index term within
    * `maxDist` edits of `term` (name-sorted). The cost class, honestly:
    * the TERM DICTIONARY is scanned — every live posting partition's
    * token column (column-pruned; tf/dl/positions never read) — because
    * a typo's token bucket is NOT its matches' bucket, so fuzzy cannot
    * partition-prune by construction; Lucene pays the same shape (an
    * FST walk over the whole term dictionary). The q-gram gate + length
    * band cut the Levenshtein work to near-candidates, and
    * [[graft.operators.FuzzyJoin]]'s exactness bound applies: a term
    * too short for it (|G(term)| ≤ q·maxDist) refuses loudly.
    */
  def fuzzyTerms(spark: SparkSession, tablePath: String, term: String,
                 maxDist: Int, name: String = "txt", q: Int = 2,
                 allowStale: Boolean = false): Seq[String] = {
    require(tokenize(term).length == 1, s"fuzzyTerms expands ONE term, got '$term' " +
      "— multi-term queries go through fuzzyTermsMulti/searchFuzzy")
    fuzzyTermsMulti(spark, tablePath, term, maxDist, name, q, allowStale)
  }

  /** [[fuzzyTerms]] for a MULTI-term query — Lucene's multi-clause
    * fuzzy shape (each query term is its own fuzzy clause): ONE
    * column-pruned dictionary scan serves EVERY probe (the per-probe
    * length band + q-gram gate + banded levenshtein, OR'd), instead of
    * one scan per term — the dictionary scan is the family's documented
    * cost class, so a 5-term query pays it once, not five times.
    * Returns the UNION of the per-probe expansions, name-sorted
    * distinct (a token near two probes contributes once — the
    * disjunctive scoring downstream dedupes clauses). Every probe must
    * individually satisfy the q-gram exactness bound (refuses loudly,
    * naming the offending term).
    */
  def fuzzyTermsMulti(spark: SparkSession, tablePath: String, query: String,
                      maxDist: Int, name: String = "txt", q: Int = 2,
                      allowStale: Boolean = false): Seq[String] = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    val probes = tokenize(query).distinct
    require(probes.nonEmpty, s"fuzzyTermsMulti: no terms in '$query'")
    probes.foreach { probe =>
      val thresh = probe.sliding(q).toSeq.distinct.size - q * maxDist
      require(thresh >= 1,
        s"fuzzyTerms: '$probe' has too few distinct $q-grams for exact pruning " +
          s"at maxDist=$maxDist (need > ${q * maxDist})")
    }
    livePostingsPruned(spark, tablePath, m, None) match {
      case None => Seq.empty
      case Some(live) =>
        // sub-q tokens get NO grams (a descending sequence(1, len-q+1)
        // would fabricate a bogus whole-string "gram"); they can never
        // match anyway — each probe has > q·d grams so its length
        // exceeds q + d − 1 and the length filter excludes sub-q tokens
        val grams = when(length(col("token")) >= q,
          array_distinct(transform(
            sequence(lit(1), length(col("token")) - (q - 1)),
            i => col("token").substr(i, lit(q)))))
          .otherwise(array().cast("array<string>"))
        val anyProbe = probes.map { probe =>
          val qGrams = probe.sliding(q).toSeq.distinct
          val thresh = qGrams.size - q * maxDist
          (abs(length(col("token")) - probe.length) <= maxDist) &&
            (size(array_intersect(grams, typedLit(qGrams))) >= thresh) &&
            // banded (3-arg) levenshtein: O(maxDist·len) per candidate
            // instead of the full DP; -1 = past the threshold
            levenshtein(col("token"), lit(probe), maxDist).between(0, maxDist)
        }.reduce(_ || _)
        live.select("token").distinct()
          .filter(anyProbe)
          .collect().map(_.getString(0)).toSeq.sorted
    }
  }

  /** Fuzzy BM25: the query's expansion scored as a disjunctive query —
    * each matched term contributes with its OWN df (Lucene's fuzzy
    * scoring shape: rare exact-ish matches outweigh common
    * near-misses). No expansion → zero rows, shaped like [[search]].
    * MULTI-term queries are Lucene's multi-clause fuzzy (r13): every
    * term expands independently over ONE shared dictionary scan
    * ([[fuzzyTermsMulti]]) and the union scores disjunctively — the
    * search-box shape (several words, a typo in one).
    *
    * `pred` carries [[search]]'s FILTER-clause semantics through the
    * expansion: eligibility narrows AFTER scoring (semi-join against
    * the pinned snapshot, before the top-k cut), while the expansion
    * itself and every df stay FULL-corpus — a filter changes which
    * docs may return, never the scoring model or which terms count as
    * near matches. Without this, a predicate-narrowed fuzzy query
    * could only post-filter k results — the under-fill anti-pattern.
    */
  def searchFuzzy(spark: SparkSession, tablePath: String, term: String, k: Int,
                  maxDist: Int = 1, name: String = "txt", q: Int = 2,
                  idf: String = "lucene", allowStale: Boolean = false,
                  pred: Option[Column] = None,
                  mode: String = "any"): DataFrame = {
    require(mode == "any" || mode == "any_q",
      s"searchFuzzy scores its expansion disjunctively — mode 'any' or 'any_q', got '$mode'")
    val expanded = fuzzyTermsMulti(spark, tablePath, term, maxDist, name, q, allowStale)
    search(spark, tablePath, expanded.mkString(" "), k, name, mode, idf,
      allowStale, pred)
  }

  /** Exact phrase query: (keys…, n_occurrences) for every doc whose
    * token stream contains `phrase`'s tokens CONSECUTIVELY, ordered
    * (n_occurrences desc, keys asc), top-k. Occurrences may overlap
    * (Lucene's PhraseQuery semantics).
    *
    * Cost model is the index's whole point: only the phrase's OWN
    * terms' posting partitions are read — never the corpus. Each
    * posting row carries the term's position list; a row for the term
    * at phrase offset i votes for candidate start positions
    * `pos - i`, and a start that collects ALL |phrase| votes is an
    * occurrence. That turns phrase matching into one explode + one
    * keyed aggregation — no joins-per-term chain, no UDF, fully
    * codegen. Repeated phrase terms are handled by the vote identity
    * (start, offset): "scan table scan" needs scan-votes at BOTH
    * offsets 0 and 2.
    */
  def searchPhrase(spark: SparkSession, tablePath: String, phrase: String, k: Int,
                   name: String = "txt", allowStale: Boolean = false,
                   pred: Option[Column] = None): DataFrame = {
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    require(m.pformat >= 2,
      s"text index '${m.name}' predates positional postings (pformat=${m.pformat}) — " +
        "TextIndex.compact(...) rewrites it positionally")
    val qtoks = tokenize(phrase)
    val empty = () => GraftTable.read(spark, tablePath, m.indexedVersion).limit(0)
      .select(m.keyCols.map(col): _*).withColumn("n_occurrences", lit(0L))
    if (qtoks.isEmpty || m.nDocs == 0L) return empty()
    // offsets of each distinct term within the phrase, as a plan-time
    // literal map: one posting row fans out to one vote per (position,
    // phrase offset of its term)
    val offsets: Map[String, Seq[Int]] =
      qtoks.zipWithIndex.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    livePostings(spark, tablePath, m, qtoks.distinct) match {
      case None => empty()
      case Some(live) =>
        val offLit = typedLit(offsets)
        val votes = live.select(m.keyCols.map(col) :+ explode(flatten(transform(
          element_at(offLit, col("token")),
          i => transform(col("positions"), p => (p - i))))).as("start"): _*)
        val hits = votes.groupBy(m.keyCols.map(col) :+ col("start"): _*)
          .agg(count(lit(1)).as("_nhit"))
          .filter(col("_nhit") === qtoks.size && col("start") >= 0)
          .groupBy(m.keyCols.map(col): _*)
          .agg(count(lit(1)).as("n_occurrences"))
        // same filtered-query semantics as [[search]]: eligibility
        // semi-join against the pinned snapshot BEFORE the top-k cut
        pred.fold(hits)(p =>
            hits.join(GraftTable.read(spark, tablePath, m.indexedVersion)
              .filter(p).select(m.keyCols.map(col): _*), m.keyCols, "left_semi"))
          .orderBy(col("n_occurrences").desc +: m.keyCols.map(c => col(c).asc): _*)
          .limit(k)
    }
  }

  // ---- maintenance -------------------------------------------------------

  /** Fold all segments into ONE (tombstones applied, then discarded) —
    * Lucene's merge. Serving cost returns to a single segment scan;
    * stats are untouched (they were exact all along). The swap is the
    * same single-meta commit; old segment dirs become [[vacuum]] food.
    */
  def compact(spark: SparkSession, tablePath: String,
              name: String = "txt"): Unit = {
    val m = meta(tablePath, name)
    if (m.segments.isEmpty) return
    // all live docs' postings = re-derive from the pinned table
    // snapshot: one scan, and the result carries no tombstone debt
    val docs = GraftTable.read(spark, tablePath, m.indexedVersion)
      .filter(col(m.textCol).isNotNull)
    val seg = newSegName(m.segments.size)
    val entry = writeSegment(tablePath, name, seg,
      if (m.nDocs > 0) Some(postingsOf(docs, m.textCol, m.keyCols, m.nbuckets)) else None,
      None)
    // re-derived from the table ⇒ every surviving segment is positional:
    // compacting a legacy (pformat 1) index upgrades it
    writeMeta(tablePath, m.copy(pformat = 2,
      segments = if (m.nDocs > 0) Seq(entry) else Seq.empty))
  }

  /** Continuous maintenance: [[refresh]] (with its `maxSegments` cap)
    * per micro-batch of the shared ticker
    * ([[IndexServing.streamRefresh]]), so the text index FOLLOWS the
    * table.
    */
  def streamRefresh(spark: SparkSession, tablePath: String, name: String = "txt",
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
                    maxSegments: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexServing.streamRefresh(spark, trigger)(refresh(spark, tablePath, name, maxSegments))

  /** Delete segment dirs the current meta no longer references (crashed
    * attempts, compacted-away segments, racing losers). Same
    * pinned-reader caveat as the table's vacuum: a search planned
    * against a pre-compaction meta loses its files — run vacuum with
    * the maintenance cadence, not eagerly after every compact.
    */
  /** All text indexes on the table (name-sorted metas); unreadable
    * subdirs (crashed half-creates with no meta yet) are skipped.
    */
  def list(tablePath: String): Seq[TextMeta] =
    GraftTable.MetaIO.list(new Path(tablePath, "_textidx"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
      .flatMap(n => scala.util.Try(meta(tablePath, n)).toOption)

  /** Drop the index entirely — derived state, the table is untouched.
    * False when absent (IF EXISTS contract).
    */
  def drop(tablePath: String, name: String = "txt"): Boolean = {
    if (!exists(tablePath, name)) return false
    GraftTable.MetaIO.delete(new Path(root(tablePath, name)))
    true
  }

  def vacuum(tablePath: String, name: String = "txt"): Int = {
    val m = meta(tablePath, name)
    val live = m.segments.map(_._1).toSet
    var deleted = 0
    GraftTable.MetaIO.list(new Path(root(tablePath, name)))
      .filter(s => s.isDirectory && s.getPath.getName.matches("seg\\d+-[0-9a-f]+"))
      .filterNot(s => live(s.getPath.getName))
      .foreach { s => GraftTable.MetaIO.delete(s.getPath); deleted += 1 }
    deleted
  }
}
