package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{GraftHnsw, GraftIndex, GraftTable, TextIndex}

/** The SQL `CALL` surface — lakehouse MAINTENANCE verbs through the
  * DSv2 [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]]
  * (the Iceberg `CALL catalog.system.compact(...)` shape, on Spark
  * 4.1's native procedure machinery; reference analog: the Hudi/Delta
  * table-service commands behind demo.ipynb's maintenance cells):
  *
  * {{{
  *   CALL graft.compact(table => '/data/orders')
  *   CALL graft.compact('/data/orders', 'ts,price', 4)   -- z-order
  *   CALL graft.vacuum('/data/orders', 3)
  *   CALL graft.restore_to('/data/orders', 7)
  *   CALL graft.rebucket('/data/orders', 64)
  *   CALL graft.add_constraint('/data/orders', 'pos', 'price > 0')
  *   CALL graft.drop_constraint('/data/orders', 'pos')
  *   CALL graft.enable_blooms('/data/orders', 'url', 0.01)
  *   SHOW PROCEDURES IN graft; DESCRIBE PROCEDURE graft.compact
  * }}}
  *
  * Each procedure routes into the already-verified GraftTable API
  * (OCC, stats, constraints all apply) and returns ONE summary row as
  * a driver-local scan. Version/file counts in the summaries come from
  * commit-log and manifest METADATA only — a CALL never scans data
  * beyond what the routed operation itself does. Unknown procedures
  * and malformed arguments refuse loudly (never a silent no-op): at
  * 100 TB a maintenance verb that "succeeded" without running is how
  * tables rot.
  */
object GraftProcedures {

  /** Driver-local result rows (planned as a LocalTableScan). */
  private final case class ProcResultScan(schema: StructType, out: Array[InternalRow],
                                          desc: String) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = out
    override def description(): String = desc
  }

  /** All graft procedures are self-binding (signatures are static —
    * nothing depends on the CALL's argument types). Maintenance verbs
    * return one summary row; the metadata reports (stats_profile /
    * stats_drift) return one row per column.
    */
  private abstract class Proc(procName: String, val parameters: Array[ProcedureParameter],
                              out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // side-effecting by design
    protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow]
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      java.util.Collections.singletonList[Scan](
        ProcResultScan(out, run(SparkSession.active, input), s"CALL graft.$procName"))
        .iterator()
  }

  private def in(name: String, dt: DataType) = ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType, sqlDefault: String) =
    ProcedureParameter.in(name, dt).defaultValue(sqlDefault).build()

  private def str(input: InternalRow, i: Int): String = {
    require(!input.isNullAt(i), s"argument #${i + 1} must not be NULL")
    input.getUTF8String(i).toString
  }
  /** NULL numeric arguments refuse loudly — InternalRow.getInt/getDouble
    * would silently read 0 (e.g. a NULL vacuum grace becoming
    * reclaim-immediately, exactly the corruption window the grace
    * exists to close).
    */
  private def reqInt(input: InternalRow, i: Int): Int = {
    require(!input.isNullAt(i), s"argument #${i + 1} must not be NULL")
    input.getInt(i)
  }
  private def reqDouble(input: InternalRow, i: Int): Double = {
    require(!input.isNullAt(i), s"argument #${i + 1} must not be NULL")
    input.getDouble(i)
  }
  private def tablePath(input: InternalRow): String = {
    val p = str(input, 0)
    require(GraftTable.latestVersion(p) >= 0, s"no graft table at $p")
    p
  }
  private def utf8(s: String) = UTF8String.fromString(s)

  /** Snapshot file count from manifest metadata (-1 = legacy snapshot
    * without stats coverage — unknown, never a guess).
    */
  private def fileCount(path: String, v: Int): Long = {
    val snap = GraftTable.snapshot(path, v)
    val dirs = snap.dirs.values.toSet
    val st = snap.fileStats.keys
      .filter { rel => val c = rel.lastIndexOf('/'); c > 0 && dirs(rel.substring(0, c)) }
    if (dirs.nonEmpty && st.isEmpty) -1L else st.size.toLong
  }

  private val compact = new Proc("compact",
    Array(in("table", StringType),
      inDefault("zorder_by", StringType, "NULL"),
      inDefault("target_files_per_bucket", IntegerType, "1"),
      inDefault("curve", StringType, "'zorder'")),
    StructType(Seq(
      StructField("version_before", IntegerType, nullable = false),
      StructField("version_after", IntegerType, nullable = false),
      StructField("files_before", LongType, nullable = false),
      StructField("files_after", LongType, nullable = false)))) {
    override def description(): String =
      "rewrite the head snapshot compacted (folds MOR logs/DVs away); " +
        "zorder_by = 'colA,colB[,colC...]' additionally clusters each " +
        "bucket (one column = linear clustering; each extra dimension " +
        "halves the others' pruning resolution); curve = 'zorder' | " +
        "'hilbert' (continuous curve, no rollover-polluted file spans)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val cluster = Option.when(!input.isNullAt(1))(str(input, 1)).map { s =>
        val cols = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (cols.isEmpty) throw new IllegalArgumentException(
          "zorder_by must name at least one column ('a' = linear, " +
            "'a,b[,c...]' = z-order/hilbert)")
        cols
      }
      val v0 = GraftTable.latestVersion(path)
      GraftTable.compact(spark, path, cluster, reqInt(input, 2), str(input, 3))
      val v1 = GraftTable.latestVersion(path)
      Array(InternalRow(v0, v1, fileCount(path, v0), fileCount(path, v1)))
    }
  }

  private val vacuum = new Proc("vacuum",
    Array(in("table", StringType),
      inDefault("keep_versions", IntegerType, "1"),
      inDefault("orphan_grace_hours", DoubleType, "24.0")),
    StructType(Seq(
      StructField("head_version", IntegerType, nullable = false),
      StructField("dirs_before", LongType, nullable = false),
      StructField("dirs_after", LongType, nullable = false)))) {
    override def description(): String =
      "drop snapshots older than the last keep_versions; never-referenced " +
        "dirs are reclaimed only after orphan_grace_hours of inactivity"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      def dataDirs(): Long = {
        val root = new org.apache.hadoop.fs.Path(path, "data")
        if (!GraftTable.MetaIO.exists(root)) 0L
        else GraftTable.MetaIO.list(root).filter(_.isDirectory).map(d =>
          GraftTable.MetaIO.list(d.getPath).count(_.isDirectory).toLong).sum
      }
      val before = dataDirs()
      GraftTable.vacuum(path, reqInt(input, 1),
        (reqDouble(input, 2) * 3600 * 1000).toLong)
      Array(InternalRow(GraftTable.latestVersion(path), before, dataDirs()))
    }
  }

  private val restoreTo = new Proc("restore_to",
    Array(in("table", StringType),
      inDefault("version", IntegerType, "-1"),
      inDefault("tag", StringType, "NULL")),
    StructType(Seq(
      StructField("restored_version", IntegerType, nullable = false),
      StructField("new_head", IntegerType, nullable = false)))) {
    override def description(): String =
      "make a historical version current again as a NEW commit " +
        "(metadata-only); name it by integer version OR tag => '<name>'"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val v = resolveVersionOrTag(path, input, 1, 2)
      GraftTable.restoreTo(path, v)
      Array(InternalRow(v, GraftTable.latestVersion(path)))
    }
  }

  /** Exactly one of (version >= 0 at `vi`, non-NULL tag at `ti`) names
    * the snapshot — both or neither refuse loudly (a verb that guesses
    * which pin the caller meant is how the wrong snapshot ships).
    */
  private def resolveVersionOrTag(path: String, input: InternalRow,
                                  vi: Int, ti: Int): Int = {
    val version = reqInt(input, vi)
    val tag = Option.when(!input.isNullAt(ti))(input.getUTF8String(ti).toString)
    (version, tag) match {
      case (v, None) if v >= 0 => v
      case (-1, Some(name)) =>
        GraftTable.resolveTag(path, name).getOrElse(
          throw new IllegalArgumentException(
            s"$path has no tag '$name' (tags: " +
              s"${GraftTable.tags(path).map { case (t, v) => s"$t→v$v" }.mkString(", ")})"))
      case (v, Some(name)) if v >= 0 => throw new IllegalArgumentException(
        s"give either version ($v) or tag ('$name'), not both")
      case _ => throw new IllegalArgumentException(
        "name the snapshot: version => <n> or tag => '<name>'")
    }
  }

  private val rebucket = new Proc("rebucket",
    Array(in("table", StringType), in("buckets", IntegerType)),
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("buckets", IntegerType, nullable = false)))) {
    override def description(): String =
      "rewrite the head snapshot under a new bucket count (layout evolution)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val n = reqInt(input, 1)
      GraftTable.rebucket(spark, path, n)
      Array(InternalRow(GraftTable.latestVersion(path), n))
    }
  }

  private val addConstraint = new Proc("add_constraint",
    Array(in("table", StringType), in("name", StringType), in("check_sql", StringType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("check_sql", StringType, nullable = false)))) {
    override def description(): String =
      "add a CHECK constraint (existing rows validated first; writes enforce it)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      GraftTable.addConstraint(spark, path, str(input, 1), str(input, 2))
      Array(InternalRow(utf8(str(input, 1)), utf8(str(input, 2))))
    }
  }

  private val dropConstraint = new Proc("drop_constraint",
    Array(in("table", StringType), in("name", StringType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("existed", BooleanType, nullable = false)))) {
    override def description(): String = "drop a CHECK constraint by name"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      val existed = GraftTable.constraints(path).contains(name)
      GraftTable.dropConstraint(path, name)
      Array(InternalRow(utf8(name), existed))
    }
  }

  private val enableBlooms = new Proc("enable_blooms",
    Array(in("table", StringType), in("columns", StringType),
      inDefault("fpp", DoubleType, "0.01")),
    StructType(Seq(
      StructField("columns", StringType, nullable = false),
      StructField("fpp", DoubleType, nullable = false)))) {
    override def description(): String =
      "record per-file Bloom filters for 'colA,colB' on writes from now on " +
        "(compact() rewrites existing files with them)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val cols = str(input, 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val fpp = reqDouble(input, 2)
      GraftTable.enableBloomFilters(path, cols, fpp)
      Array(InternalRow(utf8(cols.mkString(",")), fpp))
    }
  }

  /** METADATA-ONLY column profile as a result set — one row per
    * profiled column, the numbers [[GraftTable.statsProfile]] folds
    * from the manifest's stats segments (zero data IO at any table
    * size). Declines LOUDLY when metadata can't answer exactly
    * (outstanding MOR log, stat-less legacy snapshot) — never a
    * partial report.
    */
  private val statsProfile = new Proc("stats_profile",
    Array(in("table", StringType), inDefault("version", IntegerType, "-1")),
    StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_null", LongType, nullable = false),
      StructField("min_s", StringType),
      StructField("max_s", StringType)))) {
    override def description(): String =
      "metadata-only column profile of a snapshot (rows, nulls, min/max " +
        "in the stats' serialized rendering); version = -1 reads head"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val (rows, prof) = GraftTable.statsProfile(path, reqInt(input, 1)).getOrElse(
        throw new IllegalStateException(
          s"$path: stats profile is not exactly answerable from metadata " +
            "(outstanding MOR log or missing stats coverage) — compact first"))
      prof.toSeq.sortBy(_._1).map { case (c, p) =>
        InternalRow(utf8(c), rows, p.nullCount,
          p.min.map(utf8).orNull, p.max.map(utf8).orNull)
      }.toArray
    }
  }

  /** `CALL graft.analyze(t)` — the ANALYZE TABLE … COMPUTE STATISTICS
    * FOR COLUMNS verb: one aggregate scan records per-column distinct
    * counts (+ string byte lengths) in the `_ndv` sidecar, which the v2
    * scan serves to the cost-based optimizer through
    * `Statistics.columnStats()`. `approx => true` swaps exact
    * countDistinct (one Expand pass, cost stated) for HLL — the 100 TB
    * path. Returns the recorded numbers, one row per column.
    */
  private val analyze = new Proc("analyze",
    Array(in("table", StringType), inDefault("approx", BooleanType, "false"),
      inDefault("histogram_bins", IntegerType, "0"),
      inDefault("incremental", BooleanType, "false")),
    StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("avg_len", LongType),
      StructField("max_len", LongType),
      StructField("hist_bins", LongType)))) {
    override def description(): String =
      "column NDV statistics for the CBO (exact by default; approx => true " +
        "for the HLL scale path; histogram_bins => n adds equi-height " +
        "histograms on numeric/date/ts columns; incremental => true sketches " +
        "only files added since the last refresh — histograms then compose " +
        "from per-file KLL quantile sketches within rank error), recorded " +
        "in the _ndv sidecar"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val approx = !input.isNullAt(1) && input.getBoolean(1)
      val incremental = !input.isNullAt(3) && input.getBoolean(3)
      val out =
        if (incremental) GraftTable.analyzeIncremental(spark, path, reqInt(input, 2))
        else GraftTable.analyze(spark, path, approx, reqInt(input, 2))
      val v = GraftTable.ndvProfile(path).map(_._1).getOrElse(-1)
      out.toSeq.sortBy(_._1).map { case (c, n) =>
        InternalRow(utf8(c), v, n.ndv,
          n.strLen.map(_._1).map(Long.box).orNull,
          n.strLen.map(_._2).map(Long.box).orNull,
          n.hist.map(h => Long.box(h._2.length.toLong)).orNull)
      }.toArray
    }
  }

  /** `CALL graft.skipping_report(t, 'pred')` — EXPLAIN for file
    * skipping: how many files/bytes the stats segments (+ blooms)
    * would prune for a predicate, from METADATA alone — the
    * layout-tuning feedback loop (is this z-order / bloom config
    * earning its keep?) without scanning anything. The predicate is
    * translated through the SAME DataSourceStrategy path the read
    * planners use and evaluated with the SAME may-match keep rule, so
    * the report IS the pruning the scan will do, not an estimate of
    * it. Refuses loudly when nothing is pushable or stats are absent —
    * a report that silently says "0 skipped" about a predicate it
    * dropped would send the operator tuning the wrong thing.
    */
  private val skippingReport = new Proc("skipping_report",
    Array(in("table", StringType), in("predicate", StringType),
      inDefault("version", IntegerType, "-1")),
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("files_total", LongType, nullable = false),
      StructField("files_kept", LongType, nullable = false),
      StructField("files_skipped", LongType, nullable = false),
      StructField("bytes_total", LongType),
      StructField("bytes_skipped", LongType),
      StructField("pushed_filters", StringType, nullable = false)))) {
    override def description(): String =
      "metadata-only file-skipping report for a predicate: files/bytes the " +
        "stats segments and blooms would prune (version = -1 reads head)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val pred = str(input, 1)
      val snap = GraftTable.snapshotAt(path, reqInt(input, 2))
      val v = snap.version
      val filters = org.apache.spark.sql.graftshim.Bridge.translateFilters(
        GraftTable.read(spark, snap),
        org.apache.spark.sql.functions.expr(pred))
      if (filters.isEmpty) throw new IllegalArgumentException(
        s"predicate '$pred' has no pushable (DSv1 filter) form — " +
          "the scan cannot skip files on it, so there is nothing to report")
      val keep = GraftTable.fileKeepPredicate(snap, filters).getOrElse(
        throw new IllegalStateException(
          s"$path v$v has no stats coverage — nothing can be skipped (legacy " +
            "snapshot; compact or re-commit to generate stats segments)"))
      val dirs = snap.dirs.values.toSeq
      val stats = snap.fileStats.filter { case (rel, _) =>
        val cut = rel.lastIndexOf('/')
        cut > 0 && dirs.contains(rel.substring(0, cut))
      }
      val total = stats.size.toLong
      val kept = stats.filter { case (rel, _) => keep(rel) }
      val haveBytes = stats.values.forall(_.bytes >= 0L)
      Array(InternalRow(v, total, kept.size.toLong, total - kept.size,
        if (haveBytes) Long.box(stats.values.map(_.bytes).sum) else null,
        if (haveBytes) Long.box(stats.values.map(_.bytes).sum -
          kept.values.map(_.bytes).sum) else null,
        utf8(filters.mkString(", "))))
    }
  }

  /** METADATA-ONLY drift report between two snapshots — the per-commit
    * release-gate diff ([[GraftTable.statsDrift]]) as a result set.
    * A column missing one side's profile (pre-evolution, past the stat
    * cap) reports NULL fields for that side rather than a guess.
    */
  private val statsDrift = new Proc("stats_drift",
    Array(in("table", StringType), in("from_version", IntegerType),
      in("to_version", IntegerType)),
    StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("rows_from", LongType, nullable = false),
      StructField("rows_to", LongType, nullable = false),
      StructField("null_from", LongType),
      StructField("null_to", LongType),
      StructField("min_from", StringType),
      StructField("min_to", StringType),
      StructField("max_from", StringType),
      StructField("max_to", StringType)))) {
    override def description(): String =
      "metadata-only drift report between two committed snapshots " +
        "(row/null/bound movement per column, zero data IO)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val (rowsFrom, rowsTo, cols) =
        GraftTable.statsDrift(path, reqInt(input, 1), reqInt(input, 2)).getOrElse(
          throw new IllegalStateException(
            s"$path: stats drift is not exactly answerable from metadata " +
              "(outstanding MOR log or missing stats coverage on a side) — compact first"))
      cols.toSeq.sortBy(_._1).map { case (c, d) =>
        InternalRow(utf8(c), rowsFrom, rowsTo,
          d.from.map(p => p.nullCount: java.lang.Long).orNull,
          d.to.map(p => p.nullCount: java.lang.Long).orNull,
          d.from.flatMap(_.min).map(utf8).orNull,
          d.to.flatMap(_.min).map(utf8).orNull,
          d.from.flatMap(_.max).map(utf8).orNull,
          d.to.flatMap(_.max).map(utf8).orNull)
      }.toArray
    }
  }

  /** Commit history (the Delta `DESCRIBE HISTORY` / Iceberg
    * `snapshots` analog): one row per committed version from the
    * commit markers — metadata only.
    */
  private val history = new Proc("history",
    Array(in("table", StringType)),
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("commit_millis", LongType, nullable = false),
      StructField("is_head", BooleanType, nullable = false),
      StructField("tags", StringType, nullable = true)))) {
    override def description(): String =
      "commit history from the commit markers (version, wall-clock " +
        "millis, tag names pinning the version)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val log = GraftTable.commitLog(path)
      val head = log.map(_._1).max
      val byV = GraftTable.tags(path).groupBy(_._2)
      log.map { case (v, ts) =>
        val t = byV.get(v).map(ns => utf8(ns.map(_._1).mkString(","))).orNull
        InternalRow(v, ts, v == head, t)
      }.toArray
    }
  }

  /** Per-file layout report (the Iceberg `files` metadata-table
    * analog) from the manifest's stats segments — zero data IO; rows
    * and bytes are -1 for files a stat-less legacy dir can only name
    * by listing (loudly visible, never a guess).
    */
  private val files = new Proc("files",
    Array(in("table", StringType), inDefault("version", IntegerType, "-1")),
    StructType(Seq(
      StructField("bucket", IntegerType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))) {
    override def description(): String =
      "per-file (bucket, path, rows, bytes) from manifest metadata; " +
        "version = -1 reads head"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val snap = GraftTable.snapshotAt(path, reqInt(input, 1))
      val stats = snap.fileStats
      snap.dirs.toSeq.sortBy(_._1).flatMap { case (b, dir) =>
        val covered = stats.collect {
          case (rel, st) if rel.startsWith(dir + "/") => (rel, st.rows, st.bytes)
        }.toSeq
        val rows =
          if (covered.nonEmpty) covered
          else GraftTable.MetaIO.list(new org.apache.hadoop.fs.Path(s"$path/$dir"))
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(f => (s"$dir/${f.getPath.getName}", -1L, f.getLen))
        rows.sortBy(_._1).map { case (rel, n, bytes) =>
          InternalRow(b, utf8(rel), n, bytes)
        }
      }.toArray
    }
  }

  private def reqBool(input: InternalRow, i: Int): Boolean = {
    require(!input.isNullAt(i), s"argument #${i + 1} must not be NULL")
    input.getBoolean(i)
  }

  /** Vector-index lifecycle through SQL — the missing half of the
    * serving TVFs (`graft_vector_search` / `graft_knn_join` already
    * query an index; these verbs BUILD and MAINTAIN it). Routed into
    * [[graft.sources.GraftIndex]]'s MVCC index: create snapshots the
    * table's current version, refresh folds the CDC delta since the
    * indexed version into a new generation.
    */
  private val indexCreate = new Proc("index_create",
    Array(in("table", StringType), in("vec_col", StringType),
      in("nlist", IntegerType),
      inDefault("metric", StringType, "'cosine'"),
      inDefault("name", StringType, "'vec'"),
      inDefault("kind", StringType, "'ivf'"),
      inDefault("m", IntegerType, "8"),
      inDefault("opq", BooleanType, "false"),
      inDefault("storage", StringType, "'float32'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("indexed_version", IntegerType, nullable = false)))) {
    override def description(): String =
      "build an IVF / IVF-PQ ANN index over a vector column from the " +
        "table's current snapshot (kind = 'ivf' | 'ivfpq'; opq = learned rotation; " +
        "storage = 'float32' | 'sq8' (1 byte/dim) | 'binary' (1 bit/dim) | " +
        "'rabitq' (1 bit/dim estimator codes) — " +
        "quantized ivf cells serve two-stage with exact rerank from the table)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 4)
      GraftIndex.create(spark, path, vecCol = str(input, 1),
        nlist = reqInt(input, 2), metric = str(input, 3), name = name,
        kind = str(input, 5), m = reqInt(input, 6), opq = reqBool(input, 7),
        storage = str(input, 8))
      Array(InternalRow(utf8(name), utf8(str(input, 5)),
        GraftTable.latestVersion(path)))
    }
  }

  private val indexRefresh = new Proc("index_refresh",
    Array(in("table", StringType), inDefault("name", StringType, "'vec'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("from_version", IntegerType, nullable = false),
      StructField("to_version", IntegerType, nullable = false),
      StructField("refreshed", BooleanType, nullable = false)))) {
    override def description(): String =
      "fold the table's CDC delta since the indexed version into a new " +
        "index generation (no-op row with refreshed = false when already current)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      GraftIndex.refresh(spark, path, name) match {
        case Some((from, to)) => Array(InternalRow(utf8(name), from, to, true))
        case None =>
          val head = GraftTable.latestVersion(path)
          Array(InternalRow(utf8(name), head, head, false))
      }
    }
  }

  /** Tags — named immutable version refs with vacuum retention (see
    * [[GraftTable.tagCreate]]): `CALL graft.tag_create(t, 'release')`
    * pins the head; `SELECT … VERSION AS OF 'release'` reads it by
    * name; vacuum keeps it alive until `CALL graft.tag_delete`.
    */
  private val tagCreate = new Proc("tag_create",
    Array(in("table", StringType), in("name", StringType),
      inDefault("version", IntegerType, "-1")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false)))) {
    override def description(): String =
      "pin a committed version under an immutable name (version = -1 " +
        "pins the head); tagged versions survive vacuum and read via " +
        "VERSION AS OF '<name>'"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      val v = GraftTable.tagCreate(path, name, reqInt(input, 2))
      Array(InternalRow(utf8(name), v))
    }
  }

  private val tagDelete = new Proc("tag_delete",
    Array(in("table", StringType), in("name", StringType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("existed", BooleanType, nullable = false)))) {
    override def description(): String =
      "drop a tag (existed = false when absent — the IF EXISTS " +
        "contract); the pinned version joins the normal vacuum window"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), GraftTable.tagDelete(path, name)))
    }
  }

  private val tagsReport = new Proc("tags",
    Array(in("table", StringType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("readable", BooleanType, nullable = false)))) {
    override def description(): String =
      "all tags as (name, version, readable); readable = false flags a " +
        "legacy tag whose snapshot predates tag-aware vacuum"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      GraftTable.tags(path).map { case (name, v) =>
        InternalRow(utf8(name), v, GraftTable.isVersionReadable(path, v))
      }.toArray
    }
  }

  /** Deep clone — a DISTRIBUTED byte-for-byte snapshot copy into a new
    * independent table ([[GraftTable.cloneTo]]): the manifest, stats
    * segments, MOR logs, and sidecars carry over verbatim, so zero
    * compute is spent re-bucketing and every metadata behavior holds
    * on the clone immediately.
    */
  private val cloneProc = new Proc("clone",
    Array(in("table", StringType), in("dest", StringType),
      inDefault("version", IntegerType, "-1"),
      inDefault("tag", StringType, "NULL")),
    StructType(Seq(
      StructField("source_version", IntegerType, nullable = false),
      StructField("files_copied", LongType, nullable = false),
      StructField("bytes_copied", LongType, nullable = false)))) {
    override def description(): String =
      "deep-clone a snapshot (by integer version, tag => '<name>', or " +
        "the head when neither is given) to dest as a new independent " +
        "table; the copy runs as a distributed job and preserves the " +
        "physical layout byte-for-byte"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      // head is a valid default here (unlike restore_to, where "restore
      // to where we already are" is a caller mistake)
      val v =
        if (reqInt(input, 2) < 0 && input.isNullAt(3)) GraftTable.latestVersion(path)
        else resolveVersionOrTag(path, input, 2, 3)
      val (nFiles, nBytes) = GraftTable.cloneTo(spark, path, str(input, 1), v)
      Array(InternalRow(v, nFiles, nBytes))
    }
  }

  /** The vacuum half of the IVF family's MVCC lifecycle — refresh and
    * rebuild orphan old generation/model dirs by design; this verb is
    * their reclamation ([[GraftIndex.vacuum]]), the `text_index_vacuum`
    * / `hnsw_vacuum` twin the family was missing. keep_gens > 1 keeps
    * older committed generations servable for probes pinned to them.
    */
  private val indexVacuum = new Proc("index_vacuum",
    Array(in("table", StringType), inDefault("name", StringType, "'vec'"),
      inDefault("keep_gens", IntegerType, "1")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("files_deleted", IntegerType, nullable = false)))) {
    override def description(): String =
      "delete layout data files, generation dirs and model dirs no kept " +
        "manifest references (post-refresh/rebuild garbage and crashed-" +
        "attempt orphans); keep_gens = how many committed generations " +
        "stay servable"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), GraftIndex.vacuum(path, name, reqInt(input, 2))))
    }
  }

  private val indexDrop = new Proc("index_drop",
    Array(in("table", StringType), inDefault("name", StringType, "'vec'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("existed", BooleanType, nullable = false)))) {
    override def description(): String =
      "drop a vector index entirely (existed = false when absent); the " +
        "table itself is untouched — an index is derived state"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), GraftIndex.drop(path, name)))
    }
  }

  /** `CALL graft.maintain(t[, apply])` — the ONE table-services verb
    * (Hudi's table-service scheduler shape, the layer the reference
    * notebook delegates its maintenance to): inspect the table's
    * operational debt and either report it (`apply = false`, the
    * default — read-only) or run the NON-DESTRUCTIVE services
    * (`apply = true`): fold an outstanding MOR log via compact (which
    * also re-engages any declared time clustering) and refresh every
    * stale index of all three families. Reclamation (vacuum) is only
    * ever RECOMMENDED — deleting history stays an explicit, separate
    * CALL (an auto-vacuum inside a convenience verb is how pinned
    * readers lose files). One row per service: (service, needed,
    * applied, detail).
    */
  private val maintain = new Proc("maintain",
    Array(in("table", StringType),
      inDefault("apply", BooleanType, "false"),
      inDefault("orphan_grace_hours", DoubleType, "24.0")),
    StructType(Seq(
      StructField("service", StringType, nullable = false),
      StructField("needed", BooleanType, nullable = false),
      StructField("applied", BooleanType, nullable = false),
      StructField("detail", StringType, nullable = false)))) {
    override def description(): String =
      "inspect operational debt (outstanding MOR log, stale indexes, " +
        "reclaimable history) and, with apply = true, run the " +
        "non-destructive services; vacuum is only recommended, never run"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val apply = !input.isNullAt(1) && input.getBoolean(1)
      val graceMs = (reqDouble(input, 2) * 3600 * 1000).toLong
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      def row(service: String, needed: Boolean, applied: Boolean, detail: String): Unit =
        out += InternalRow(utf8(service), needed, applied, utf8(detail))
      // MOR log: outstanding deltas/DVs → compact folds them (and any
      // declared time clustering re-engages on the same rewrite)
      val head = GraftTable.latestVersion(path)
      val morDebt = GraftTable.snapshot(path, head).delta.size
      if (morDebt > 0) {
        if (apply) GraftTable.compact(spark, path)
        row("compact", needed = true, applied = apply,
          s"$morDebt outstanding MOR log entr${if (morDebt == 1) "y" else "ies"}" +
            (if (apply) " folded" else ""))
      } else row("compact", needed = false, applied = false, "no MOR debt")
      // stale indexes, all three families
      def idxRow(kind: String, name: String, stale: Boolean)(refresh: => Unit): Unit =
        if (stale) {
          if (apply) refresh
          row(s"${kind}_refresh", needed = true, applied = apply,
            s"index '$name' lags the table head" + (if (apply) " — refreshed" else ""))
        } else row(s"${kind}_refresh", needed = false, applied = false,
          s"index '$name' current")
      val headNow = () => GraftTable.latestVersion(path)
      GraftIndex.list(path).foreach(m =>
        idxRow("index", m.name, m.indexedVersion < headNow()) {
          GraftIndex.refresh(spark, path, m.name); () })
      TextIndex.list(path).foreach(m =>
        idxRow("text_index", m.name, m.indexedVersion < headNow()) {
          TextIndex.refresh(spark, path, m.name); () })
      GraftHnsw.list(path).foreach(m =>
        idxRow("hnsw", m.name, m.indexedVersion < headNow()) {
          GraftHnsw.refresh(spark, path, m.name); () })
      // structural debt, RECOMMEND only (each fix is a full rewrite of
      // derived state — the operator should choose when to pay it):
      // a text index serving many segments scans every segment's
      // pruned partitions per query; an HNSW generation dragging many
      // tombstone files filters every probe against them
      TextIndex.list(path).foreach { m =>
        val segs = m.segments.size
        row("text_index_compact", needed = segs > 8, applied = false,
          if (segs > 8) s"index '${m.name}' serves $segs segments — " +
            "run CALL graft.text_index_compact explicitly"
          else s"index '${m.name}' at $segs segment(s)")
      }
      GraftHnsw.list(path).foreach { m =>
        val tombs = m.tombs.size
        row("hnsw_rebuild", needed = tombs > 8, applied = false,
          if (tombs > 8) s"index '${m.name}' filters $tombs tombstone file(s) " +
            "per probe — run CALL graft.hnsw_rebuild explicitly"
          else s"index '${m.name}' at $tombs tombstone file(s)")
        // segment-count debt prefers the BOUNDED fix: merge pays the
        // merged tier's bytes, rebuild pays the corpus
        val segs = m.segs.size
        row("hnsw_merge", needed = segs > 8, applied = false,
          if (segs > 8) s"index '${m.name}' walks $segs segments per probe — " +
            "run CALL graft.hnsw_merge explicitly (tiered, O(merged tier); " +
            "rebuild pays O(corpus))"
          else s"index '${m.name}' at $segs segment(s)")
      }
      // IVF generation debt: each refresh/rebuild orphans its previous
      // generation (storage, not probe latency — probes read only the
      // current manifest), reclaimed by an explicit index_vacuum
      GraftIndex.list(path).foreach { m =>
        val gens = GraftIndex.staleGenerations(path, m.name)
        row("index_vacuum", needed = gens > 8, applied = false,
          if (gens > 8) s"index '${m.name}' drags $gens stale generation/" +
            "manifest path(s) — run CALL graft.index_vacuum explicitly"
          else s"index '${m.name}' at $gens stale generation path(s)")
      }
      // reclamation: RECOMMEND only — vacuum deletes history and stays
      // its own explicit CALL
      val reclaim = GraftTable.vacuumPlan(path, keepVersions = 1, graceMs).size
      row("vacuum", needed = reclaim > 0, applied = false,
        if (reclaim > 0) s"$reclaim path(s) reclaimable — run CALL graft.vacuum explicitly"
        else "nothing reclaimable")
      out.toArray
    }
  }

  private val indexesReport = new Proc("indexes",
    Array(in("table", StringType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("column", StringType, nullable = false),
      StructField("metric", StringType, nullable = false),
      StructField("param", IntegerType, nullable = false),
      StructField("indexed_version", IntegerType, nullable = false),
      StructField("stale", BooleanType, nullable = false)))) {
    override def description(): String =
      "every table-attached index — vector (ivf/ivfpq), text, hnsw — " +
        "with its indexed column, main tuning param (nlist / nbuckets " +
        "/ m) and staleness; stale = true when the table has commits " +
        "the index hasn't folded (CALL index_refresh / " +
        "text_index_refresh / hnsw_refresh). BREAKING since the " +
        "vector-only report: output columns vec_col/nlist were renamed " +
        "column/param when the report widened to all three families — " +
        "consumers reading by the old field names must update"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val head = GraftTable.latestVersion(path)
      val vec = GraftIndex.list(path).map { m =>
        InternalRow(utf8(m.name), utf8(m.kind), utf8(m.vecCol), utf8(m.metric),
          m.nlist, m.indexedVersion, m.indexedVersion < head)
      }
      val txt = TextIndex.list(path).map { m =>
        InternalRow(utf8(m.name), utf8("text"), utf8(m.textCol), utf8("bm25"),
          m.nbuckets, m.indexedVersion, m.indexedVersion < head)
      }
      val hnsw = GraftHnsw.list(path).map { m =>
        InternalRow(utf8(m.name), utf8("hnsw"), utf8(m.vecCol), utf8(m.metric),
          m.m, m.indexedVersion, m.indexedVersion < head)
      }
      (vec ++ txt ++ hnsw).toArray
    }
  }

  /** Text-index lifecycle through SQL — the maintenance half of the
    * `graft_text_search` TVF (demo.ipynb cell 11's serving model keeps
    * the index WITH the table, so building and refreshing it must be
    * reachable from the same SQL surface that queries it). Routed into
    * [[graft.sources.TextIndex]]'s segmented MVCC index.
    */
  private val textIndexCreate = new Proc("text_index_create",
    Array(in("table", StringType), in("text_col", StringType),
      inDefault("nbuckets", IntegerType, "16"),
      inDefault("name", StringType, "'txt'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("indexed_version", IntegerType, nullable = false)))) {
    override def description(): String =
      "build a table-attached inverted text index (BM25/phrase serving " +
        "via graft_text_search) from the table's current snapshot"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 3)
      TextIndex.create(spark, path, textCol = str(input, 1),
        nbuckets = reqInt(input, 2), name = name)
      Array(InternalRow(utf8(name), TextIndex.meta(path, name).indexedVersion))
    }
  }

  private val textIndexRefresh = new Proc("text_index_refresh",
    Array(in("table", StringType), inDefault("name", StringType, "'txt'"),
      inDefault("max_segments", IntegerType, "0")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("from_version", IntegerType, nullable = false),
      StructField("to_version", IntegerType, nullable = false),
      StructField("refreshed", BooleanType, nullable = false)))) {
    override def description(): String =
      "fold the table's CDC delta since the indexed version into one " +
        "appended segment (no-op row with refreshed = false when " +
        "current); max_segments > 0 auto-compacts past that many segments"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      TextIndex.refresh(spark, path, name, maxSegments = reqInt(input, 2)) match {
        case Some((from, to)) => Array(InternalRow(utf8(name), from, to, true))
        case None =>
          val head = GraftTable.latestVersion(path)
          Array(InternalRow(utf8(name), head, head, false))
      }
    }
  }

  private val textIndexCompact = new Proc("text_index_compact",
    Array(in("table", StringType), inDefault("name", StringType, "'txt'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("segments_before", IntegerType, nullable = false),
      StructField("segments_after", IntegerType, nullable = false)))) {
    override def description(): String =
      "fold all index segments into one (tombstones applied then " +
        "discarded) — Lucene's merge; old segment dirs become " +
        "text_index_vacuum food"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      val before = TextIndex.meta(path, name).segments.size
      TextIndex.compact(spark, path, name)
      Array(InternalRow(utf8(name), before, TextIndex.meta(path, name).segments.size))
    }
  }

  private val textIndexVacuum = new Proc("text_index_vacuum",
    Array(in("table", StringType), inDefault("name", StringType, "'txt'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("segments_deleted", IntegerType, nullable = false)))) {
    override def description(): String =
      "delete segment dirs the index meta no longer references " +
        "(compacted-away or crashed-attempt orphans)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), TextIndex.vacuum(path, name)))
    }
  }

  private val textIndexDrop = new Proc("text_index_drop",
    Array(in("table", StringType), inDefault("name", StringType, "'txt'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("existed", BooleanType, nullable = false)))) {
    override def description(): String =
      "drop a text index entirely (existed = false when absent); the " +
        "table itself is untouched — an index is derived state"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), TextIndex.drop(path, name)))
    }
  }

  /** HNSW-index lifecycle through SQL — the maintenance half of the
    * `graft_hnsw_search` TVF. Routed into [[graft.sources.GraftHnsw]]'s
    * generation/tombstone index.
    */
  private val hnswCreate = new Proc("hnsw_create",
    Array(in("table", StringType), in("vec_col", StringType),
      inDefault("name", StringType, "'hnsw'"),
      inDefault("m", IntegerType, "16"),
      inDefault("ef_construction", IntegerType, "100"),
      inDefault("metric", StringType, "'cosine'"),
      inDefault("n_segments", IntegerType, "4"),
      inDefault("storage", StringType, "'float32'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("indexed_version", IntegerType, nullable = false)))) {
    override def description(): String =
      "build a table-attached HNSW graph index over a vector column " +
        "from the table's current snapshot (serving via graft_hnsw_search); " +
        "storage = 'float32' | 'sq8' (1 byte/dim) | 'binary' (1 bit/dim) | " +
        "'rabitq' (1 bit/dim RaBitQ estimator codes — the norm-aware 1-bit " +
        "choice for dot corpora) — quantized layouts cut serve scan bytes " +
        "4x/32x/~28x and probes exact-rerank from the table's float column"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 2)
      GraftHnsw.create(spark, path, vecCol = str(input, 1), name = name,
        m = reqInt(input, 3), efConstruction = reqInt(input, 4),
        metric = str(input, 5), nSegments = reqInt(input, 6),
        storage = str(input, 7))
      Array(InternalRow(utf8(name), GraftHnsw.meta(path, name).indexedVersion))
    }
  }

  private val hnswRefresh = new Proc("hnsw_refresh",
    Array(in("table", StringType), inDefault("name", StringType, "'hnsw'"),
      inDefault("max_segments", IntegerType, "0")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("from_version", IntegerType, nullable = false),
      StructField("to_version", IntegerType, nullable = false),
      StructField("refreshed", BooleanType, nullable = false)))) {
    override def description(): String =
      "fold the table's CDC delta since the indexed version into the " +
        "graph (appends + horizon tombstones; no-op row with " +
        "refreshed = false when current); max_segments > 0 auto-merges " +
        "the smallest tier past that many segments (the text_index_refresh twin)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      GraftHnsw.refresh(spark, path, name, maxSegments = reqInt(input, 2)) match {
        case Some((from, to)) => Array(InternalRow(utf8(name), from, to, true))
        case None =>
          val head = GraftTable.latestVersion(path)
          Array(InternalRow(utf8(name), head, head, false))
      }
    }
  }

  private val hnswRebuild = new Proc("hnsw_rebuild",
    Array(in("table", StringType), inDefault("name", StringType, "'hnsw'"),
      inDefault("n_segments", IntegerType, "-1")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("generation", IntegerType, nullable = false),
      StructField("indexed_version", IntegerType, nullable = false)))) {
    override def description(): String =
      "compact the index into a fresh generation at the table head: " +
        "zero tombstones, old generations become hnsw_vacuum food " +
        "(n_segments = -1 keeps the current segment count)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      val nSeg = reqInt(input, 2)
      GraftHnsw.rebuild(spark, path, name,
        nSegments = if (nSeg > 0) Some(nSeg) else None)
      val m = GraftHnsw.meta(path, name)
      Array(InternalRow(utf8(name), m.gen, m.indexedVersion))
    }
  }

  private val hnswMerge = new Proc("hnsw_merge",
    Array(in("table", StringType), inDefault("name", StringType, "'hnsw'"),
      inDefault("target_segments", IntegerType, "4")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("segments_before", IntegerType, nullable = false),
      StructField("segments_after", IntegerType, nullable = false),
      StructField("merged", IntegerType, nullable = false)))) {
    override def description(): String =
      "tiered segment merge (Lucene's background-merge contract): fold " +
        "the smallest segments beyond target_segments into one, " +
        "dropping dead copies and retiring spent tombstones — " +
        "maintenance IO tracks the merged tier, never the corpus " +
        "(merged = 0 when already at/under target)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      val target = reqInt(input, 2)
      val before = GraftHnsw.meta(path, name).segs.length
      val merged = GraftHnsw.merge(spark, path, name, target)
        .map(_._1.length).getOrElse(0)
      Array(InternalRow(utf8(name), before,
        GraftHnsw.meta(path, name).segs.length, merged))
    }
  }

  private val hnswVacuum = new Proc("hnsw_vacuum",
    Array(in("table", StringType), inDefault("name", StringType, "'hnsw'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("generations_deleted", IntegerType, nullable = false)))) {
    override def description(): String =
      "delete non-current generation dirs (post-rebuild garbage)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), GraftHnsw.vacuum(path, name)))
    }
  }

  private val hnswDrop = new Proc("hnsw_drop",
    Array(in("table", StringType), inDefault("name", StringType, "'hnsw'")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("existed", BooleanType, nullable = false)))) {
    override def description(): String =
      "drop an HNSW index entirely (existed = false when absent); the " +
        "table itself is untouched — an index is derived state"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), GraftHnsw.drop(path, name)))
    }
  }

  /** Read-only vacuum preview ([[GraftTable.vacuumPlan]]): what WOULD
    * the same-argument vacuum reclaim — the check an operator runs
    * BEFORE the irreversible delete (Delta's VACUUM DRY RUN).
    */
  private val vacuumPreview = new Proc("vacuum_preview",
    Array(in("table", StringType),
      inDefault("keep_versions", IntegerType, "1"),
      inDefault("orphan_grace_hours", DoubleType, "24.0")),
    StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("path", StringType, nullable = false)))) {
    override def description(): String =
      "read-only preview of vacuum: each (kind, relative path) the " +
        "same-argument vacuum would reclaim (kind = data | log | " +
        "manifest); touches nothing"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      GraftTable.vacuumPlan(path, reqInt(input, 1),
        (reqDouble(input, 2) * 3600 * 1000).toLong)
        .map { case (kind, rel) => InternalRow(utf8(kind), utf8(rel)) }.toArray
    }
  }

  /** `CALL graft.fsck(t[, version])` — snapshot metadata↔filesystem
    * integrity audit ([[GraftTable.fsck]]): one row per check (does
    * every promised file exist with the recorded length, do the
    * sidecars parse, do tags resolve…). READ-ONLY — findings name the
    * offenders; repair is the operator's explicit next CALL, never
    * automatic. Per-file probes run distributed; everything else is
    * driver metadata.
    */
  private val fsck = new Proc("fsck",
    Array(in("table", StringType), inDefault("version", IntegerType, "-1")),
    StructType(Seq(
      StructField("check", StringType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("checked", LongType, nullable = false),
      StructField("problems", LongType, nullable = false),
      StructField("detail", StringType, nullable = true)))) {
    override def description(): String =
      "read-only snapshot integrity audit: manifest/stats/sidecar/tag " +
        "consistency vs the filesystem (version = -1 audits head)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      GraftTable.fsck(spark, path, reqInt(input, 1)).map { r =>
        InternalRow(utf8(r.check), r.ok, r.checked, r.problems,
          r.detail.map(utf8).orNull)
      }.toArray
    }
  }

  /** Branches — write-audit-publish (see [[GraftTable.branchCreate]]):
    * stage risky writes invisibly, audit the diff, fast-forward publish
    * or drop. Staging writes are Scala-API (`GraftTable.branchUpsert`);
    * the lifecycle verbs live in SQL.
    */
  private val branchCreate = new Proc("branch_create",
    Array(in("table", StringType), in("name", StringType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("base_version", IntegerType, nullable = false)))) {
    override def description(): String =
      "create a write-audit-publish branch at the current head; staged " +
        "commits are invisible to main until CALL graft.branch_publish"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), GraftTable.branchCreate(path, name)))
    }
  }

  private val branchPublish = new Proc("branch_publish",
    Array(in("table", StringType), in("name", StringType),
      inDefault("verify", BooleanType, "false")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("head_version", IntegerType, nullable = false)))) {
    override def description(): String =
      "FAST-FORWARD publish: the branch's staged commits become real " +
        "main versions (O(commits) metadata ops); refuses loudly when " +
        "main advanced past the branch base. verify = true runs fsck on " +
        "the branch head first and refuses on any failed check — the " +
        "audit gate enforced, not hoped"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      val verify = !input.isNullAt(2) && input.getBoolean(2)
      val head =
        if (verify) GraftTable.publishVerified(spark, path, name)
        else GraftTable.publish(path, name)
      Array(InternalRow(utf8(name), head))
    }
  }

  private val branchDrop = new Proc("branch_drop",
    Array(in("table", StringType), in("name", StringType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("existed", BooleanType, nullable = false)))) {
    override def description(): String =
      "abandon a branch: record + staged manifests deleted, the staged " +
        "data dirs become vacuum-reclaimable orphans (IF EXISTS contract)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val name = str(input, 1)
      Array(InternalRow(utf8(name), GraftTable.branchDrop(path, name)))
    }
  }

  private val branchesReport = new Proc("branches",
    Array(in("table", StringType)),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("base_version", IntegerType, nullable = false),
      StructField("n_commits", IntegerType, nullable = false),
      StructField("publishable", BooleanType, nullable = false)))) {
    override def description(): String =
      "all branches as (name, base_version, n_commits, publishable); " +
        "publishable = false means main advanced past the base " +
        "(fast-forward impossible — drop and re-stage)"
    override protected def run(spark: SparkSession, input: InternalRow): Array[InternalRow] = {
      val path = tablePath(input)
      val head = GraftTable.latestVersion(path)
      GraftTable.branches(path).map { case (n, base, k) =>
        InternalRow(utf8(n), base, k, head == base)
      }.toArray
    }
  }

  private[v2] val all: Map[String, UnboundProcedure] = Seq(
    compact, vacuum, restoreTo, rebucket, addConstraint, dropConstraint,
    enableBlooms, statsProfile, statsDrift, history, files, analyze, skippingReport,
    indexCreate, indexRefresh, indexVacuum, indexDrop, indexesReport,
    textIndexCreate, textIndexRefresh, textIndexCompact, textIndexVacuum,
    textIndexDrop, hnswCreate, hnswRefresh, hnswRebuild, hnswMerge, hnswVacuum, hnswDrop,
    maintain,
    tagCreate, tagDelete, tagsReport, cloneProc, vacuumPreview, fsck,
    branchCreate, branchPublish, branchDrop, branchesReport)
    .map(p => p.name() -> (p: UnboundProcedure)).toMap
}
