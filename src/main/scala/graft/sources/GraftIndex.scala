package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, PqIndex, Quantize}

/** A vector index that lives WITH its [[GraftTable]] — the analog of the
  * reference serving `hudi_vector_search('{TABLE_PATH}', …)` from an
  * index Hudi/Lance keeps in sync with the table (demo.ipynb cell 11;
  * the reference table's declared index type is Lance's IVF_PQ, and
  * both kinds are supported here: `kind = "ivf"` (IVF-Flat, exact
  * inside probed cells) and `kind = "ivfpq"` (PQ codes + ADC probe +
  * exact re-rank, optionally OPQ-rotated).
  *
  * `storage = "sq8" | "binary" | "rabitq"` (kind "ivf", the
  * [[graft.operators.Quantize]] formats) swaps the cells' float32
  * vector column for int8 codes / packed sign bits / RaBitQ residual
  * sign bits with their estimator scalars (4×/32×/~25× fewer serve
  * scan bytes — the dominant 100 TB cost) and serving becomes
  * TWO-STAGE: the cell scan ranks a rerankFactor·k frontier on
  * quantized arithmetic, then exact scores come from the TABLE's float
  * column via a bucket-pruned point lookup — emitted scores are exact
  * float arithmetic either way, and nprobe = nlist with a
  * corpus-covering rerankFactor stays EXACT (quantization costs recall
  * headroom at partial settings, never score fidelity).
  *
  * The serving decisions this index shares with [[GraftHnsw]] — the
  * stale refusal, the filtered match set and its count, the exact cuts
  * behind the brute legs and the rerank, the output shapes, the point
  * lookup, MMR stage 2 and the refresh ticker — live once in
  * [[IndexServing]]; this object keeps what is IVF/PQ-specific.
  *
  * Layout, under the table's own directory:
  * {{{
  *   table/_index/<name>/meta    kind, vecCol, keys, metric, nlist,
  *                               indexedVersion (the table snapshot the
  *                               index reflects)
  *   table/_index/<name>/model   coarse centroids (+ PQ codebooks and
  *                               the optional OPQ rotation), parquet
  *   table/_index/<name>/data    the IVF layout: FULL table rows
  *                               (+ pq_code for ivfpq), partitioned by
  *                               cluster_id
  * }}}
  *
  * The index stores full rows (Lance-style: table and index share a
  * layout), so probes return payload columns without a join back.
  *
  * Freshness is a recorded fact, not a hope: `meta.indexedVersion` pins
  * the table version the index reflects, and [[probe]] FAILS LOUDLY
  * when the table has moved past it (`allowStale = true` opts into
  * serving the indexed snapshot) — a silent stale index is the bug this
  * class exists to kill.
  *
  * The layout is MVCC, like the table itself. Data files are IMMUTABLE:
  * each [[refresh]] writes the rewritten cells into a fresh
  * uniquely-suffixed generation directory
  * (`data/g<K>-<token>/cluster_id=N/…`) and records a per-generation
  * manifest (`manifests/g<K>`: cell → files, carrying forward untouched
  * cells' existing files), then commits by atomically swapping `meta`
  * (generation + indexedVersion advance together or not at all). So:
  *  - a probe planned before a refresh lands keeps reading ITS
  *    generation's files — no torn cell, no FileNotFound mid-query;
  *  - a refresh that crashes anywhere before the meta swap is invisible
  *    (orphan generation dir, overwritten by the retry);
  *  - probes plan from the manifest's explicit file list, cut down to
  *    the probed cells before Spark sees it — no directory listing of
  *    the layout: one stat per probed-cell file on the driver, and a
  *    distributed listing job only when more than 32 such files exist
  *    (`parallelPartitionDiscovery.threshold`).
  * Old generations are reclaimed by [[vacuum]] (run it with the same
  * single-maintainer discipline as refresh).
  *
  * [[refresh]] applies the table's own change feed
  * ([[GraftTable.changes]], upserts AND deletes) by COW cell rewrite:
  * only the cells holding changed keys' old rows or receiving new rows
  * are rewritten; emptied cells simply leave the manifest. Cost is
  * O(affected cells), the index twin of the table's O(touched buckets)
  * upserts. Re-applying a change batch is idempotent (replace-by-key).
  * Exactness after refresh is oracle-pinned by the
  * `graft_index_exhaustive` / `vs_sql_index_tvf` CORRECTNESS rows and
  * GraftIndexSpec.
  */
object GraftIndex {

  /** `gen`: the layout generation the index serves — the manifest
    * `manifests/g<gen>` is the authoritative file set. None only for
    * legacy (pre-MVCC) indexes, which self-upgrade on their next
    * refresh and serve by directory scan until then. `modelGen`: the
    * model generation (centroids/codebooks dir `model-g<K>`) — model
    * files are as immutable as data files, so [[rebuild]] can refit
    * under concurrent probes; None = the legacy single `model` dir.
    */
  final case class IndexMeta(name: String, kind: String, vecCol: String,
                             keyCols: Seq[String], metric: String, nlist: Int,
                             indexedVersion: Int, gen: Option[Int] = None,
                             modelGen: Option[Int] = None,
                             genToken: Option[String] = None,
                             storage: String = "float32") {
    /** The manifest file this meta serves from: `g<gen>` for build /
      * legacy-upgrade generations, `g<gen>-<token>` for refresh/rebuild
      * attempts. Meta naming the attempt-unique manifest is what makes
      * the commit ONE self-consistent swap: a racing maintainer's meta
      * can no longer pair its version pin with the OTHER maintainer's
      * manifest, because each attempt's manifest has its own name.
      */
    def manifestName: Option[String] =
      gen.map(g => s"g$g" + genToken.fold("")("-" + _))
  }

  private def root(tablePath: String, name: String) = s"$tablePath/_index/$name"
  private def dataPath(tablePath: String, name: String) = s"${root(tablePath, name)}/data"
  private def modelPath(tablePath: String, name: String, modelGen: Option[Int]) =
    s"${root(tablePath, name)}/${modelGen.fold("model")(g => s"model-g$g")}"
  private def metaPath(tablePath: String, name: String) = new Path(root(tablePath, name), "meta")
  private def manifestDir(tablePath: String, name: String) =
    new Path(root(tablePath, name), "manifests")
  private def manifestPath(tablePath: String, name: String, fileName: String) =
    new Path(manifestDir(tablePath, name), fileName)

  def exists(tablePath: String, name: String = "vec"): Boolean =
    GraftTable.MetaIO.exists(metaPath(tablePath, name))

  def meta(tablePath: String, name: String = "vec"): IndexMeta = {
    val p = metaPath(tablePath, name)
    require(GraftTable.MetaIO.exists(p), s"no index '$name' at $tablePath")
    val kv = GraftTable.MetaIO.readString(p).split("\n")
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    IndexMeta(name, kv.getOrElse("kind", "ivf"), kv("vecCol"),
      kv("keyCols").split(",").toSeq, kv("metric"), kv("nlist").toInt,
      kv("indexedVersion").toInt, kv.get("gen").map(_.toInt),
      kv.get("modelGen").map(_.toInt), kv.get("genToken"),
      kv.getOrElse("storage", "float32")) // pre-quantization metas: float32
  }

  private def writeMeta(tablePath: String, m: IndexMeta): Unit =
    GraftTable.MetaIO.replaceString(metaPath(tablePath, m.name),
      s"kind=${m.kind}\nvecCol=${m.vecCol}\nkeyCols=${m.keyCols.mkString(",")}\n" +
        s"metric=${m.metric}\nnlist=${m.nlist}\nindexedVersion=${m.indexedVersion}" +
        m.gen.fold("")(g => s"\ngen=$g") +
        m.modelGen.fold("")(g => s"\nmodelGen=$g") +
        m.genToken.fold("")(t => s"\ngenToken=$t") +
        (if (m.storage == "float32") "" else s"\nstorage=${m.storage}"))

  // ---- MVCC manifests: cell -> immutable data files ----------------------

  /** One `cell<TAB>relPath<TAB>bytes` line per data file, paths
    * relative to `data/` (`cluster_id=N/part…` for the build generation,
    * `g<K>-<token>/cluster_id=N/part…` for refresh generations) with the
    * file's on-disk length, so a probe plans its cell scan from this
    * file alone ([[GraftFileIndex]]: no listing, no stat per file); plus
    * a `#modelgen=<K>` header naming the model generation these cells
    * were assigned/encoded under — the liveness anchor [[vacuum]] keeps
    * model dirs by.
    */
  private def writeManifest(tablePath: String, name: String, fileName: String,
                            m: Map[Int, Seq[(String, Long)]],
                            modelGen: Option[Int]): Unit =
    GraftTable.MetaIO.replaceString(manifestPath(tablePath, name, fileName),
      (modelGen.map(g => s"#modelgen=$g").toSeq ++
        m.toSeq.sortBy(_._1)
          .flatMap { case (cell, fs) => fs.sorted.map { case (f, len) => s"$cell\t$f\t$len" } })
        .mkString("\n"))

  /** cell → (relative file, bytes). A 2-field line (written before the
    * byte length was recorded) stats its file for the length.
    */
  private def readManifest(tablePath: String, name: String,
                           fileName: String): Map[Int, Seq[(String, Long)]] =
    GraftTable.MetaIO.readString(manifestPath(tablePath, name, fileName))
      .split("\n").filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        l.split("\t") match {
          case Array(c, f, len) => (c.toInt, (f, len.toLong))
          case Array(c, f) =>
            (c.toInt, (f, GraftTable.MetaIO.length(new Path(s"${dataPath(tablePath, name)}/$f"))))
        }
      }
      .groupBy(_._1).map { case (c, fs) => c -> fs.map(_._2).toSeq }

  private def manifestModelGen(tablePath: String, name: String,
                               fileName: String): Option[Int] =
    GraftTable.MetaIO.readString(manifestPath(tablePath, name, fileName))
      .split("\n").collectFirst { case l if l.startsWith("#modelgen=") =>
        l.stripPrefix("#modelgen=").toInt }

  /** The current cell → relative-file-paths map ([[vacuum]]'s unit of
    * liveness; for a legacy index this falls back to a listing).
    */
  def manifest(tablePath: String, name: String = "vec"): Map[Int, Seq[String]] = {
    val m = meta(tablePath, name)
    m.manifestName.fold(listGeneration(tablePath, name, ""))(readManifest(tablePath, name, _))
      .map { case (c, fs) => c -> fs.map(_._1) }
  }

  /** List one generation's `cluster_id=` dirs into manifest entries
    * (cell → relative path, bytes). `prefix` = "" for the build
    * generation (files directly under `data/`), `"g<K>"` for a refresh
    * generation.
    */
  private def listGeneration(tablePath: String, name: String,
                             prefix: String): Map[Int, Seq[(String, Long)]] = {
    val dir = if (prefix.isEmpty) new Path(dataPath(tablePath, name))
              else new Path(dataPath(tablePath, name), prefix)
    GraftTable.MetaIO.list(dir)
      .filter(_.getPath.getName.startsWith("cluster_id="))
      .map { cd =>
        val cell = cd.getPath.getName.stripPrefix("cluster_id=").toInt
        val rels = GraftTable.MetaIO.list(cd.getPath)
          .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
          .map(f => ((if (prefix.isEmpty) "" else s"$prefix/") +
            s"${cd.getPath.getName}/${f.getPath.getName}", f.getLen))
        cell -> rels
      }
      .filter(_._2.nonEmpty).toMap
  }

  private def absFiles(tablePath: String, name: String,
                       m: Map[Int, Seq[(String, Long)]]): Map[Int, Seq[(String, Long)]] = {
    val root = GraftTable.MetaIO.qualify(dataPath(tablePath, name))
    m.map { case (c, rels) => c -> rels.map { case (r, len) => (s"$root/$r", len) } }
  }

  // ---- model persistence: (part, i, j, vec) rows -------------------------

  private def saveModel(spark: SparkSession, tablePath: String, name: String,
                        coarse: Array[Array[Float]],
                        codebooks: Option[Array[Array[Array[Float]]]],
                        rot: Option[Array[Array[Float]]],
                        modelGen: Option[Int]): Unit = {
    import spark.implicits._
    val rows: Seq[(String, Int, Int, Seq[Float])] =
      coarse.zipWithIndex.map { case (c, i) => ("coarse", i, 0, c.toSeq) }.toSeq ++
      codebooks.toSeq.flatMap(_.zipWithIndex.toSeq.flatMap { case (book, mi) =>
        book.zipWithIndex.toSeq.map { case (c, ci) => ("book", mi, ci, c.toSeq) } }) ++
      rot.toSeq.flatMap(_.zipWithIndex.toSeq.map { case (r, i) => ("rot", i, 0, r.toSeq) })
    rows.toDF("part", "i", "j", "vec").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(modelPath(tablePath, name, modelGen))
  }

  /** Explicit layout schema: the table's manifest-recorded snapshot
    * schema `table` + the layout's own columns, so probes and refreshes
    * resolve additively-evolved columns without a whole-layout
    * mergeSchema footer pass (older cell files pad the new columns as
    * null, like the table itself). None when the table predates schema
    * recording — plain inference then.
    */
  private def layoutSchema(m: IndexMeta, table: Option[org.apache.spark.sql.types.StructType])
      : Option[org.apache.spark.sql.types.StructType] =
    table.map { ts =>
        val extra =
          (if (m.kind == "ivfpq")
            Seq(org.apache.spark.sql.types.StructField("pq_code",
              org.apache.spark.sql.types.BinaryType))
          else Nil) ++
          IvfIndex.storageFields(m.storage) :+
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.IntegerType)
        // quantized cells REPLACE the float vector column with their
        // vq_* payload — the whole point is 4×/32× fewer scan bytes
        val base = if (m.storage == "float32") ts.fields
                   else ts.fields.filterNot(_.name == m.vecCol)
        org.apache.spark.sql.types.StructType(base ++ extra)
      }

  /** A model dir's parsed rows: coarse centroids, PQ codebooks (empty
    * for kind ivf) and the optional rotation.
    */
  private final case class ModelParts(coarse: Array[Array[Float]],
                                      books: Array[Array[Array[Float]]],
                                      rot: Option[Array[Array[Float]]])

  /** Parsed models keyed by (model dir, its part files' names and
    * lengths). Model dirs are immutable once written: [[rebuild]]
    * writes a new `model-g<K>`, and a drop + re-create rewrites the dir
    * with new part files, whose names carry the writing job's UUID. So
    * one listing of the dir keys the parse soundly, and a probe pays
    * that listing instead of a parquet schema-inference job plus a
    * collect job. Bounded LRU, per JVM: an entry is a few KB of
    * centroids (up to a few MB with PQ codebooks or a rotation), and a
    * process serves a handful of indexes.
    */
  private val modelCache =
    new java.util.LinkedHashMap[(String, Seq[(String, Long)]), ModelParts](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[(String, Long)]), ModelParts]): Boolean =
        size() > 16
    }

  private val modelSchema =
    org.apache.spark.sql.types.StructType.fromDDL("part STRING, i INT, j INT, vec ARRAY<FLOAT>")

  private def modelParts(spark: SparkSession, dir: String): ModelParts = {
    val files = GraftTable.MetaIO.list(new Path(dir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    require(files.nonEmpty, s"no index model files under $dir")
    val key = (dir, files.map(s => (s.getPath.getName, s.getLen)))
    modelCache.synchronized(Option(modelCache.get(key))).getOrElse {
      // explicit schema: one collect job, no inference job
      val rows = spark.read.schema(modelSchema).parquet(files.map(_.getPath.toString): _*)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
          r.getSeq[Float](3).toArray))
      val rotRows = rows.filter(_._1 == "rot").sortBy(_._2).map(_._4)
      val parts = ModelParts(
        rows.filter(_._1 == "coarse").sortBy(_._2).map(_._4),
        rows.filter(_._1 == "book").groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (_, bs) => bs.sortBy(_._3).map(_._4) }.toArray,
        if (rotRows.isEmpty) None else Some(rotRows))
      modelCache.synchronized(modelCache.put(key, parts))
      parts
    }
  }

  private def loadModel(spark: SparkSession, tablePath: String, m: IndexMeta,
                        files: Option[Map[Int, Seq[(String, Long)]]],
                        table: Option[org.apache.spark.sql.types.StructType])
      : Either[IvfIndex.Model, PqIndex.Model] = {
    val parts = modelParts(spark, modelPath(tablePath, m.name, m.modelGen))
    val data = dataPath(tablePath, m.name)
    val sc = layoutSchema(m, table)
    if (m.kind == "ivf")
      Left(IvfIndex.Model(data, parts.coarse, m.metric, sc, files, m.storage, parts.rot))
    else
      Right(PqIndex.Model(data, parts.coarse, parts.books, parts.books.length,
        parts.books(0)(0).length, m.metric, parts.rot, sc, files))
  }

  /** The serving snapshot of meta `m`: its manifest and model. The
    * manifest is resolved HERE, once — everything planned from the
    * returned model keeps reading this generation's files even if a
    * refresh commits concurrently (it only adds files and swaps meta).
    * `table` is the indexed table snapshot, when readable: a vacuumed
    * indexed manifest (only allowStale probes can meet one — the head
    * manifest still exists for a fresh index) serves by plain schema
    * inference.
    */
  private def open(spark: SparkSession, tablePath: String, m: IndexMeta,
                   table: => GraftTable.Snapshot): Either[IvfIndex.Model, PqIndex.Model] = {
    val files = m.manifestName.map(n =>
      absFiles(tablePath, m.name, readManifest(tablePath, m.name, n)))
    loadModel(spark, tablePath, m, files, scala.util.Try(table).toOption.flatMap(_.schema))
  }

  /** The model a probe would serve from right now (spec-facing). */
  private[graft] def servingModel(spark: SparkSession, tablePath: String,
                                  name: String = "vec"): Either[IvfIndex.Model, PqIndex.Model] = {
    val m = meta(tablePath, name)
    open(spark, tablePath, m, GraftTable.snapshot(tablePath, m.indexedVersion))
  }

  /** Build the index from the table's CURRENT snapshot and record that
    * version. `kind = "ivf"` (default) or `"ivfpq"` (`m` subspaces,
    * `opq` for the learned rotation). Rows with a null vector are not
    * indexed (they reappear if a later upsert fills the vector in).
    * `fitSampleFraction` (ivf): the rows sampled for the driver-side
    * centroid fit; default from the manifest row count (no count job).
    */
  def create(spark: SparkSession, tablePath: String, vecCol: String, nlist: Int,
             metric: String = "cosine", name: String = "vec",
             kind: String = "ivf", m: Int = 8, opq: Boolean = false,
             fitSampleFraction: Option[Double] = None,
             storage: String = "float32"): Unit = {
    require(kind == "ivf" || kind == "ivfpq", s"unknown index kind '$kind'")
    Quantize.requireStorage(storage, "index")
    // ivfpq's cells are ALREADY the quantized scan path (ADC over
    // pq_code reads only the code column; the float column is touched
    // solely by the bounded rerank) — layering a second quantization
    // under it would be two lossy codecs pretending to be one
    require(kind == "ivf" || storage == "float32",
      s"storage '$storage' applies to kind = 'ivf' only; ivfpq already scans PQ codes")
    val v = GraftTable.latestVersion(tablePath)
    require(v >= 0, s"no table at $tablePath")
    require(!exists(tablePath, name), s"index '$name' already exists at $tablePath")
    val keys = GraftTable.keyColumns(tablePath)
    val s = GraftTable.snapshot(tablePath, v)
    val snap = GraftTable.read(spark, s).filter(col(vecCol).isNotNull)
    if (kind == "ivf") {
      val model = IvfIndex.build(snap, vecCol, nlist, dataPath(tablePath, name),
        metric, fitSampleFraction = ivfFitFraction(s, nlist, fitSampleFraction),
        persistModel = false, storage = storage)
      saveModel(spark, tablePath, name, model.centroids, None, model.rot, Some(0))
    } else {
      val model = PqIndex.build(snap, keys.head, vecCol, nlist, m,
        dataPath(tablePath, name), metric, opq = opq, persistModel = false)
      saveModel(spark, tablePath, name, model.coarse, Some(model.codebooks), model.rot, Some(0))
    }
    // generation 0 = the build's own files; meta lands LAST (commit point)
    writeManifest(tablePath, name, "g0", listGeneration(tablePath, name, ""), Some(0))
    writeMeta(tablePath,
      IndexMeta(name, kind, vecCol, keys, metric, nlist, v, Some(0), Some(0),
        storage = storage))
  }

  /** The caller's fit fraction, else one from the metadata row count
    * (null-vector rows included: the sample only shrinks); None (a MOR
    * log) leaves the build to count.
    */
  private def ivfFitFraction(s: GraftTable.Snapshot, nlist: Int,
                             given: Option[Double]): Option[Double] =
    given.orElse(GraftTable.countRows(s).map(IvfIndex.fitFraction(nlist, _)))

  /** Full refit + relayout as ONE new generation — the drift answer the
    * append discipline defers to (refresh reuses the build's
    * centroids/codebooks; after enough distribution drift, recall at a
    * given nprobe decays and only a refit recovers it). The new model
    * lands in its own immutable `model-g<K>` dir and the new layout in
    * its own generation dir, so concurrent probes keep serving the old
    * (model, manifest) pair untorn; the meta swap flips both together.
    * Also catches the index up to the table head (a rebuild IS a
    * refresh from scratch). `nlist`/`m`/`opq` default to the index's
    * current settings; pass them to re-tune for the grown corpus.
    * Old model dirs are reclaimed by [[vacuum]] once no kept manifest's
    * `#modelgen` references them.
    */
  def rebuild(spark: SparkSession, tablePath: String, name: String = "vec",
              nlist: Option[Int] = None, m: Option[Int] = None,
              opq: Option[Boolean] = None,
              fitSampleFraction: Option[Double] = None): Unit = {
    val meta0 = meta(tablePath, name)
    val head = GraftTable.latestVersion(tablePath)
    val newModelGen = meta0.modelGen.getOrElse(-1) + 1
    val newGen = meta0.gen.getOrElse(-1) + 1
    val genDir = s"g$newGen-${java.util.UUID.randomUUID.toString.take(8)}"
    val layout = s"${dataPath(tablePath, name)}/$genDir"
    val newNlist = nlist.getOrElse(meta0.nlist)
    val s = GraftTable.snapshotAt(tablePath, head)
    val snap = GraftTable.read(spark, s).filter(col(meta0.vecCol).isNotNull)
    if (meta0.kind == "ivf") {
      val model = IvfIndex.build(snap, meta0.vecCol, newNlist, layout,
        meta0.metric, fitSampleFraction = ivfFitFraction(s, newNlist, fitSampleFraction),
        persistModel = false, storage = meta0.storage)
      saveModel(spark, tablePath, name, model.centroids, None, model.rot, Some(newModelGen))
    } else {
      // defaults for the PQ shape come from the CURRENT model
      val cur = loadModel(spark, tablePath, meta0, None, None).toOption.get
      val model = PqIndex.build(snap, meta0.keyCols.head, meta0.vecCol, newNlist,
        m.getOrElse(cur.m), layout, meta0.metric, opq = opq.getOrElse(cur.rot.isDefined),
        persistModel = false)
      saveModel(spark, tablePath, name, model.coarse, Some(model.codebooks), model.rot,
        Some(newModelGen))
    }
    val token = genDir.stripPrefix(s"g$newGen-")
    writeManifest(tablePath, name, genDir, listGeneration(tablePath, name, genDir),
      Some(newModelGen))
    // THE commit point: layout generation, model generation, and
    // version pin flip together — and meta names THIS attempt's
    // manifest, so a racing maintainer can't mix-and-match
    writeMeta(tablePath, meta0.copy(nlist = newNlist, indexedVersion = head,
      gen = Some(newGen), modelGen = Some(newModelGen), genToken = Some(token)))
  }

  /** Catch the index up to the table head by COW cell rewrite. Returns
    * the (fromVersion, toVersion] range applied, or None when already
    * fresh. Affected cells = cells holding changed keys' OLD vectors
    * (recomputed from the previously indexed snapshot — still readable,
    * COW never mutates it) ∪ cells the NEW vectors land in; only those
    * cells are rewritten — into a FRESH generation dir, never in place.
    * The write target is disjoint from the read set, so no
    * materialization barrier is needed, concurrent probes keep serving
    * the old generation untorn, and a crash anywhere before the final
    * meta swap leaves the committed state untouched (the retry
    * overwrites the orphan generation). For ivfpq, additions are
    * PQ-encoded with the EXISTING codebooks (the append discipline: no
    * refit; periodic rebuild handles distribution drift).
    *
    * Run ONE refresher per index (the [[ChangeFeed]] one-cursor-per-
    * consumer discipline): refresh is idempotent against crashes and
    * replays. Two CONCURRENT refreshers cannot corrupt the index: each
    * attempt writes its own uniquely-suffixed generation dir AND its
    * own attempt-named manifest (`g<gen>-<token>`), and the meta swap
    * names that manifest — so whichever swap lands last commits its own
    * self-consistent (version pin, manifest, files) triple, never a mix
    * of two attempts. The loser's generation is orphan garbage for
    * [[vacuum]]. The single-refresher discipline remains the efficient
    * mode (racing refreshers duplicate work); it is no longer a
    * correctness requirement. [[streamRefresh]] gives the
    * single-refresher loop a lifecycle.
    */
  def refresh(spark: SparkSession, tablePath: String,
              name: String = "vec"): Option[(Int, Int)] = {
    val m0 = meta(tablePath, name)
    val head = GraftTable.latestVersion(tablePath)
    if (head <= m0.indexedVersion) return None
    // legacy (pre-MVCC) index: adopt the current layout as generation 0
    val m = m0.gen.fold {
      writeManifest(tablePath, name, "g0", listGeneration(tablePath, name, ""), m0.modelGen)
      val up = m0.copy(gen = Some(0)); writeMeta(tablePath, up); up
    }(_ => m0)
    val curGen = m.gen.get
    val curManifest = readManifest(tablePath, name, m.manifestName.get)
    val curFiles = absFiles(tablePath, name, curManifest)
    // the two table snapshots a refresh reads, each once
    val (from, to) = (GraftTable.snapshot(tablePath, m.indexedVersion),
      GraftTable.snapshot(tablePath, head))
    val model = loadModel(spark, tablePath, m, Some(curFiles), from.schema)
    val cell = model.fold(IvfIndex.cellUdf(spark, _), PqIndex.cellUdf(spark, _))
    val data = dataPath(tablePath, name)
    val batch = GraftTable.changes(spark, from, to)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val changedKeys = batch.select(m.keyCols.map(col): _*).distinct()
      val oldCells = GraftTable.read(spark, from)
        .join(changedKeys, m.keyCols, "left_semi")
        .filter(col(m.vecCol).isNotNull)
        .select(cell(col(m.vecCol)).as("c")).distinct().collect().map(_.getInt(0))
      val newRows = batch.filter(!col("_deleted")).drop("_deleted")
        .filter(col(m.vecCol).isNotNull)
      val additions = model.fold(
        // quantized layouts: additions swap the float column for the
        // same vq_* payload the build wrote (no-op for float32;
        // rabitq re-derives residual signs against the SAME centroids
        // and rotation the build used — model-aware by construction)
        ivf => IvfIndex.quantizeLayoutModel(ivf,
          newRows.withColumn("cluster_id", cell(col(m.vecCol))), m.vecCol),
        pq => PqIndex.encodeBatch(pq, newRows, m.vecCol))
      val newCells = additions.select("cluster_id").distinct().collect().map(_.getInt(0))
      val affected = (oldCells ++ newCells).distinct.toSeq
      if (affected.isEmpty) {
        // nothing indexed changed (e.g. all changed rows have null
        // vectors): advance the version pin, keep the generation
        writeMeta(tablePath, m.copy(indexedVersion = head))
        return Some((m.indexedVersion, head))
      }
      val newGen = curGen + 1
      // unique attempt suffix, like the table's data dirs: a crashed
      // attempt's dir is never half-reused (the retry gets a fresh
      // token and orphans are vacuumed), and two refreshers racing
      // against the single-maintainer discipline can no longer clobber
      // each other's files — each writes its own dir and the last meta
      // swap wins with a self-consistent file set
      val genDir = s"g$newGen-${java.util.UUID.randomUUID.toString.take(8)}"
      // scan with the CURRENT (head) snapshot schema so the rewrite
      // pads evolved columns for kept rows instead of dropping them
      val headSchema = layoutSchema(m, to.schema)
      val kept =
        if (curManifest.isEmpty) additions.limit(0) // emptied layout: rebuild from additions
        else IvfIndex.cellScan(spark, headSchema, Some(curFiles), data, affected)
          .join(changedKeys, m.keyCols, "left_anti")
      // allowMissingColumns: additive table evolution — older index
      // rows read the new columns as null, like the table itself
      GraftTable.clusteredFor(kept.unionByName(additions, allowMissingColumns = true), "cluster_id")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cluster_id").parquet(s"$data/$genDir")
      // a cell whose rows were all deleted writes no partition dir and
      // simply leaves the manifest; untouched cells carry their files over
      val rewritten = listGeneration(tablePath, name, genDir)
      val affectedSet = affected.toSet
      writeManifest(tablePath, name, genDir,
        curManifest.view.filterKeys(!affectedSet(_)).toMap ++ rewritten, m.modelGen)
      // THE commit point: generation + version pin swap atomically, and
      // meta names THIS attempt's manifest file (g<gen>-<token>), so a
      // racing refresher's swap commits ITS OWN self-consistent
      // (version, manifest) pair — never a mix of the two attempts
      writeMeta(tablePath, m.copy(indexedVersion = head, gen = Some(newGen),
        genToken = Some(genDir.stripPrefix(s"g$newGen-"))))
      Some((m.indexedVersion, head))
    } finally {
      batch.unpersist(blocking = false)
      ()
    }
  }

  /** Reclaim unreferenced layout files: keep the manifests of the
    * newest `keepGens` committed generations (always including the
    * current one — pinned probes planned against kept generations stay
    * servable), delete every data file no kept manifest references,
    * drop emptied cell/generation dirs, orphan (uncommitted) generation
    * dirs, and dropped manifests. Returns the number of data files
    * deleted. Same single-maintainer discipline as [[refresh]]: do not
    * vacuum while a refresh is in flight.
    */
  /** Drop index `name` entirely (its whole `_index/<name>` tree —
    * data, models, manifests, meta). False when absent (the IF EXISTS
    * contract). The table is untouched: an index is derived state.
    */
  def drop(tablePath: String, name: String = "vec"): Boolean = {
    val existed = exists(tablePath, name)
    if (existed) GraftTable.MetaIO.delete(new Path(root(tablePath, name)))
    existed
  }

  /** All indexes on the table, name-sorted — each `_index/<name>` dir
    * with a committed meta (a dir without one is an in-flight or
    * aborted create and is not reported as servable).
    */
  def list(tablePath: String): Seq[IndexMeta] =
    GraftTable.MetaIO.list(new Path(tablePath, "_index"))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
      .filter(n => exists(tablePath, n)).map(n => meta(tablePath, n))

  /** Metadata-only count of the IVF family's reclaimable layout debt:
    * manifest files other than the one meta serves (older committed
    * generations plus losing-racer / crashed-attempt manifests) and
    * never-committed orphan generation dirs past the current one —
    * i.e. what [[vacuum]](keepGens = 1) would act on, counted WITHOUT
    * touching any data file (two directory listings). The structural-
    * debt probe `CALL graft.maintain` reports alongside its text-
    * segment and HNSW-tombstone checks. Legacy (pre-MVCC) indexes
    * report 0 — nothing is manifest-tracked to reclaim.
    */
  def staleGenerations(tablePath: String, name: String = "vec"): Int = {
    val m = meta(tablePath, name)
    m.manifestName.fold(0) { cur =>
      val manifests = GraftTable.MetaIO.list(manifestDir(tablePath, name))
        .map(_.getPath.getName)
        .count(n => n.matches("g\\d+(-[0-9a-f]+)?") && n != cur)
      val curGen = m.gen.get
      val orphans = GraftTable.MetaIO.list(new Path(dataPath(tablePath, name)))
        .count(s => s.isDirectory &&
          s.getPath.getName.matches("g\\d+(-[0-9a-f]+)?") &&
          s.getPath.getName.drop(1).takeWhile(_.isDigit).toInt > curGen)
      manifests + orphans
    }
  }

  def vacuum(tablePath: String, name: String = "vec", keepGens: Int = 1): Int = {
    require(keepGens >= 1, "keepGens must be >= 1")
    val m = meta(tablePath, name)
    val cur = m.gen.getOrElse(return 0) // legacy layout: nothing manifest-tracked
    val curName = m.manifestName.get
    val all = GraftTable.MetaIO.list(manifestDir(tablePath, name))
      .map(_.getPath.getName).filter(_.matches("g\\d+(-[0-9a-f]+)?"))
    def genOf(n: String) = n.drop(1).takeWhile(_.isDigit).toInt
    val keepGenNums =
      (all.map(genOf).distinct.sorted.filter(_ <= cur).takeRight(keepGens) :+ cur).toSet
    // for the CURRENT generation only the meta-referenced manifest is
    // live (a same-gen manifest with another token is a losing racer's
    // orphan); for kept OLDER generations every token is kept — which
    // attempt was committed then is no longer knowable, and pinned
    // readers may still serve either
    val keep = all.filter(n =>
      keepGenNums(genOf(n)) && (genOf(n) != cur || n == curName)).toSet + curName
    val referenced = keep.filter(n => GraftTable.MetaIO.exists(manifestPath(tablePath, name, n)))
      .flatMap(n => readManifest(tablePath, name, n).values.flatten.map(_._1))
    val data = new Path(dataPath(tablePath, name))
    var deleted = 0
    def sweep(prefix: String, dir: Path): Unit = {
      GraftTable.MetaIO.list(dir)
        .filter(_.getPath.getName.startsWith("cluster_id=")).foreach { cd =>
          GraftTable.MetaIO.list(cd.getPath).foreach { f =>
            val n = f.getPath.getName
            val rel = (if (prefix.isEmpty) "" else s"$prefix/") + s"${cd.getPath.getName}/$n"
            if (!n.startsWith("_") && !n.startsWith(".") && !referenced.contains(rel)) {
              GraftTable.MetaIO.delete(f.getPath); deleted += 1
            }
          }
          if (GraftTable.MetaIO.list(cd.getPath)
              .forall(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")))
            GraftTable.MetaIO.delete(cd.getPath)
        }
    }
    sweep("", data)
    GraftTable.MetaIO.list(data)
      .filter(s => s.isDirectory && s.getPath.getName.matches("g\\d+(-[0-9a-f]+)?"))
      .foreach { gd =>
        val g = gd.getPath.getName.drop(1).takeWhile(_.isDigit).toInt
        if (g > cur) { // crashed, never-committed refresh attempt
          deleted += GraftTable.MetaIO.list(gd.getPath)
            .filter(_.getPath.getName.startsWith("cluster_id="))
            .map(cd => GraftTable.MetaIO.list(cd.getPath)
              .count(s => !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))).sum
          GraftTable.MetaIO.delete(gd.getPath)
        } else {
          sweep(gd.getPath.getName, gd.getPath)
          if (GraftTable.MetaIO.list(gd.getPath)
              .forall(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")))
            GraftTable.MetaIO.delete(gd.getPath)
        }
      }
    // model dirs live while a kept manifest's #modelgen (or meta) names
    // them; the legacy un-numbered `model` dir is never touched
    val liveModels = keep
      .filter(n => GraftTable.MetaIO.exists(manifestPath(tablePath, name, n)))
      .flatMap(manifestModelGen(tablePath, name, _)) ++ m.modelGen
    GraftTable.MetaIO.list(new Path(root(tablePath, name)))
      .map(_.getPath.getName).filter(_.matches("model-g\\d+")).foreach { n =>
        if (!liveModels.contains(n.stripPrefix("model-g").toInt))
          GraftTable.MetaIO.delete(new Path(root(tablePath, name), n))
      }
    all.filterNot(keep).foreach(n => GraftTable.MetaIO.delete(manifestPath(tablePath, name, n)))
    deleted
  }

  /** Continuous maintenance: [[refresh]] per micro-batch of the shared
    * ticker ([[IndexServing.streamRefresh]]), so the index FOLLOWS the
    * table — upserts/deletes/streamed writes land, the next tick folds
    * them in.
    */
  def streamRefresh(spark: SparkSession, tablePath: String, name: String = "vec",
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexServing.streamRefresh(spark, trigger)(refresh(spark, tablePath, name))

  private def requireFresh(tablePath: String, m: IndexMeta, allowStale: Boolean): Unit =
    IndexServing.requireFresh(tablePath, "index", m.name, m.indexedVersion, allowStale,
      "GraftIndex.refresh, or probe(allowStale = true)")

  /** Top-k against the table-attached index (ivf: exact inside probed
    * cells; ivfpq: ADC + exact re-rank of `rerankFactor`·k survivors —
    * nprobe = nlist with a corpus-covering rerankFactor ⇒ exact, full
    * stop). Fails loudly when the index lags the table unless
    * `allowStale` — see class docs. `pred` is pushed into the pruned
    * scan like [[IvfIndex.probe]]/[[PqIndex.probe]] — EXCEPT when it
    * matches ≤ `bruteForceCap` rows of the pinned snapshot (measured,
    * one count on the pruned scan): then the probe brute-forces the
    * filtered subset EXACTLY instead of consulting the index at all —
    * the Lucene selective-filter fallback ([[IndexServing.matchSet]],
    * [[IndexServing.exactCut]]). Ties at the k-th score break on every
    * key column, in key order.
    * Why: at partial nprobe a very selective pred can leave fewer than
    * k matches inside the probed cells and the top-k silently
    * UNDER-FILLS; the brute leg costs one predicate-pruned scan of a
    * subset this small and returns exact, full results.
    */
  def probe(spark: SparkSession, tablePath: String, query: Seq[Float], k: Int,
            nprobe: Int, name: String = "vec", pred: Option[Column] = None,
            allowStale: Boolean = false, rerankFactor: Int = 4,
            bruteForceCap: Int = 10000): DataFrame = {
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    probeAt(spark, tablePath, m, GraftTable.snapshot(tablePath, m.indexedVersion), query, k,
      nprobe, pred, rerankFactor, bruteForceCap)
  }

  /** [[probe]] against the indexed table snapshot, read on first use
    * and once per probe.
    */
  private def probeAt(spark: SparkSession, tablePath: String, m: IndexMeta,
                      table: => GraftTable.Snapshot, query: Seq[Float], k: Int,
                      nprobe: Int, pred: Option[Column], rerankFactor: Int,
                      bruteForceCap: Int): DataFrame = {
    lazy val snap = table
    // the brute leg needs only meta: the manifest and model are opened
    // for the index legs alone
    pred.foreach { p =>
      // metadata-first leg selection (two regimes: brute vs pushed scan,
      // so acceptCap = bruteForceCap) — see GraftTable.metadataMatchCount
      val (nMatched, matched) = IndexServing.matchSet(spark, snap,
        m.vecCol, p, bruteForceCap, bruteForceCap)
      if (nMatched <= bruteForceCap) {
        val cols = snap.schema.fold(matched().columns.toSeq)(_.fieldNames.toSeq)
        return IndexServing.exactCut(matched(), m.vecCol, query, m.metric, m.keyCols, k,
          IndexServing.shape(cols, m.vecCol))
      }
    }
    val model = open(spark, tablePath, m, snap)
    // an index over an EMPTY table (every cell dropped) is valid state:
    // zero rows, shaped like any other probe (table columns minus the
    // vector, plus score) — not a parquet schema-inference crash
    val layoutPath = model.fold(_.path, _.path)
    val layoutEmpty = model.fold(_.files, _.files) match {
      case Some(fm) => fm.isEmpty // manifest is authoritative, no listing
      case None => !GraftTable.MetaIO.list(new Path(layoutPath))
        .exists(_.getPath.getName.startsWith("cluster_id="))
    }
    if (layoutEmpty) return IndexServing.emptyShape(spark, snap, m.vecCol)
    // ONE canonical probe schema regardless of kind or layout state:
    // table columns (snapshot order) minus the vector, score last —
    // never the layout internals (cluster_id, pq_code, vq_*, __qscore).
    // Projected explicitly so no per-kind drop list can drift. For
    // quantized layouts the schema lacks the vector column already; the
    // rerank join's vecCol and proxy columns die here too.
    val internal = Set("cluster_id", "pq_code", "__qscore") ++
      Quantize.storages.flatMap(IvfIndex.storageFields).map(_.name)
    def canonical(out: DataFrame): Seq[String] = IndexServing.shape(
      model.fold(_.schema, _.schema)
        .fold(out.columns.toSeq.filterNot(_ == "score"))(_.fieldNames.toSeq)
        .filterNot(internal), m.vecCol)
    def project(out: DataFrame): DataFrame = out.select(canonical(out).map(col): _*)
    model match {
      case Left(ivf) if m.storage == "float32" =>
        project(IvfIndex.probeKeys(spark, ivf, m.keyCols, m.vecCol, query, k, nprobe, pred))
      case Left(ivf) =>
        // QUANTIZED layout, two-stage (the 7d/7g rerank shape on the
        // stored index): the cell scan ranks a rerankFactor·k frontier
        // on 1-byte/dim (sq8) or 1-bit/dim (binary, rabitq) candidates
        // — the 100 TB scan-bytes lever — then exact scores come from
        // the TABLE's float column via the bucket-pruned point lookup,
        // so emitted scores are exact float arithmetic either way.
        // Corpus-covering rerankFactor with nprobe = nlist ⇒ exact, full
        // stop (the oracle row).
        // localCheckpoint: the frontier is serving-sized and feeds BOTH
        // the bucket-set computation and the rerank join
        val front = IvfIndex.quantizedCandidates(spark, ivf, m.keyCols, query,
          IndexServing.frontierWidth(k, rerankFactor), nprobe, pred).localCheckpoint()
        if (front.isEmpty)
          IndexServing.emptyShape(spark, snap, m.vecCol)
        else {
          val rows = front.join(broadcast(IndexServing.exactVectors(spark, snap,
            m.keyCols, m.vecCol, front.select(m.keyCols.map(col): _*).distinct())), m.keyCols)
          IndexServing.exactCut(rows, m.vecCol, query, m.metric, m.keyCols, k, canonical(rows))
        }
      case Right(pq) =>
        project(PqIndex.probeKeys(spark, pq, m.keyCols, m.vecCol, query, k, nprobe,
          rerankFactor, pred))
    }
  }

  /** DIVERSIFIED top-k through the table-attached index — MMR as a
    * SERVING mode, not a corpus-scan exhibit (the r12 gap: §2 row 7h's
    * `VectorSearch.mmrTopK` never reached the index tier, and a
    * production retrieval stack diversifies the INDEX-SERVED candidate
    * slice, the reference's serving model). Two stages:
    *  1. the existing [[probe]] widened to `candidates` rows — ALL of
    *     probe's machinery applies unchanged (freshness check, pred
    *     legs incl. the metadata-first brute/pushed selection, quantized
    *     two-stage rerank), and this is where the 100 TB cost lives;
    *  2. [[IndexServing.mmr]]: the
    *     [[graft.operators.VectorSearch.mmrSelect]] greedy over
    *     that serving-sized slice, its float vectors fetched by ONE
    *     bucket-pruned point lookup (candidates keys → ≤ candidates
    *     bucket reads, never a table scan). The greedy is inherently
    *     sequential (each pick depends on all previous), so driver-side
    *     over ≤ `candidates` rows is the correct placement.
    * Output: `rank` (pick order, 1-based) + the canonical probe shape
    * (`score` = the relevance score) + `mmr_score`. λ=1 degenerates to
    * the plain probe's (score desc, key asc) order — spec-pinned.
    * Cosine/dot only (MMR's diversity term needs a similarity; the
    * [[graft.operators.VectorSearch.mmrTopK]] refusal). SQL surface:
    * the `graft_index_mmr` TVF.
    */
  def probeMmr(spark: SparkSession, tablePath: String, query: Seq[Float], k: Int,
               nprobe: Int, lambda: Double, candidates: Int, name: String = "vec",
               pred: Option[Column] = None, allowStale: Boolean = false,
               rerankFactor: Int = 4, bruteForceCap: Int = 10000): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need 1 <= k <= candidates, got k=$k, candidates=$candidates")
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    val snap = GraftTable.snapshot(tablePath, m.indexedVersion)
    // localCheckpoint: the slice is serving-sized and feeds the vector
    // lookup, the greedy collect, AND the final rank join
    val cand = probeAt(spark, tablePath, m, snap, query, candidates, nprobe, pred,
      rerankFactor, bruteForceCap).localCheckpoint()
    IndexServing.mmr(spark, snap, m.keyCols, m.vecCol, cand, k, lambda, m.metric)
  }

  /** Batched ANN k-NN join THROUGH the table-attached index: every
    * query row gets its approximate top-k table neighbors, reading only
    * the union of the queries' nprobe cells from the pinned manifest —
    * [[IvfIndex.knnJoin]] with the index's freshness contract. Works
    * for BOTH kinds: the layout stores full rows, so candidates are
    * scored on their true vectors (for ivfpq the PQ codes are simply
    * not consulted — this is the exact-scoring batch path, not ADC).
    * An OPQ-rotated index ranks coarse cells correctly by de-rotating
    * the centroids into the original vector space (R is orthonormal:
    * dist(qR, c) = dist(q, cRᵀ)), so partial-nprobe recall matches the
    * plain-PQ geometry. nprobe = nlist ⇒ exact per query.
    *
    * `pred` turns the join into a FILTERED batch search — the
    * [[probe]] pred discipline on the batch shape, with the measured
    * match count picking the strategy (never guessed): ≤ bruteForceCap
    * matches ⇒ EXACT brute force — the filtered subset broadcasts once
    * and every (query, match) pair is scored (at partial nprobe a very
    * selective pred can leave fewer than k matches inside the probed
    * cells and the per-query top-k silently UNDER-FILLS — the
    * anti-pattern the brute leg exists to kill); above the cap the
    * pred pushes INTO the pruned cell scans, where per-query fill
    * tracks the filter's pass rate within probed cells — high exactly
    * when this leg engages.
    */
  def knnJoin(spark: SparkSession, tablePath: String, queries: Seq[(Long, Seq[Float])],
              k: Int, nprobe: Int, name: String = "vec",
              allowStale: Boolean = false, rerankFactor: Int = 4,
              pred: Option[org.apache.spark.sql.Column] = None,
              bruteForceCap: Int = 10000): DataFrame = {
    val m = meta(tablePath, name)
    requireFresh(tablePath, m, allowStale)
    lazy val snap = GraftTable.snapshot(tablePath, m.indexedVersion)
    def emptyOut = IndexServing.emptyBatch(spark, snap, m.keyCols)
    // the brute leg needs only meta (see probe)
    pred.foreach { p =>
      IndexServing.frontierWidth(k, rerankFactor) // refuses rerankFactor < 1 before any job
      // metadata-first leg selection (two regimes: brute vs pushed scan,
      // so acceptCap = bruteForceCap) — see GraftTable.metadataMatchCount
      val (n, matched) = IndexServing.matchSet(spark, snap,
        m.vecCol, p, bruteForceCap, bruteForceCap)
      if (n == 0) return emptyOut
      // exact: every (query, match) pair scored. Composite record keys
      // ((tenant, id)-keyed tables) ride the per-query cut as ONE
      // orderable struct and expand back
      if (n <= bruteForceCap)
        return IndexServing.bruteBatch(spark, queries, matched(), IvfIndex.keyStruct(m.keyCols),
          col(IvfIndex.keyName(m.keyCols)), m.keyCols, m.vecCol, k, m.metric)
      // loose pred: fall through — the pred pushes into the cell scans
      // below (both the float32 and quantized candidate stages take it)
    }
    val ivf = open(spark, tablePath, m, snap).fold(identity, pq => IvfIndex.Model(pq.path,
      pq.rot.fold(pq.coarse)(r => pq.coarse.map(Quantize.derotate(_, r))),
      pq.metric, pq.schema, pq.files))
    if (ivf.files.exists(_.isEmpty)) return emptyOut
    if (m.storage == "float32")
      IvfIndex.knnJoinKeys(spark, ivf, m.keyCols, m.vecCol, queries, k, nprobe, pred)
    else {
      // quantized layout: widen each query's candidate cut, then
      // exact-score every surviving (qid, key) pair from the table's
      // float column before the per-query cut
      val cands = IvfIndex.quantizedKnnCandidatesKeys(spark, ivf, m.keyCols, queries,
          IndexServing.frontierWidth(k, rerankFactor), nprobe, pred)
        .localCheckpoint()
      if (cands.isEmpty) return emptyOut
      IndexServing.rerankBatch(spark, snap, m.keyCols, m.vecCol,
        queries, cands.select(col("qid") +: m.keyCols.map(col): _*),
        cands.select(m.keyCols.map(col): _*).distinct(), k, m.metric)
    }
  }
}
