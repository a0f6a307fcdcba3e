package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession, types}
import org.apache.spark.sql.functions._
import graft.operators.Upsert
import java.nio.charset.StandardCharsets

/** A minimal copy-on-write versioned lakehouse table — the Spark-native
  * analog of the reference's Hudi table (demo.ipynb cell 8: record-key
  * upserts, COPY_ON_WRITE): keyed last-wins upserts, snapshot reads,
  * time travel.
  *
  * Layout (manifest-based, iceberg-lite):
  * {{{
  *   path/_keys              key columns + bucket count
  *   path/_commits/v<N>      commit marker for snapshot N (content =
  *     wall-clock millis). One small file per commit — no appends, so
  *     the log works on HDFS and object stores, where append either
  *     doesn't exist or isn't atomic.
  *   path/manifests/v<N>     bucket → data-dir lines for snapshot N
  *   path/data/v<N>-<token>/__bucket=<b>/  (one parquet file per
  *     bucket per write, more past maxPartitionBytes; token is unique
  *     per write attempt so racing writers never share a dir)
  * }}}
  *
  * A manifest is immutable once committed, so it is parsed ONCE per
  * operation: [[snapshot]] reads `manifests/v<N>` into a [[Snapshot]]
  * (the one manifest parser — bucket dirs, schema, layout headers, MOR
  * log, lazily the file stats), and every read, planning and commit
  * path takes that value instead of re-reading by (path, version).
  *
  * ALL metadata IO (keys file, manifests, commit markers, vacuum
  * listings) goes through the Hadoop [[FileSystem]] API resolved from
  * the active session's Hadoop configuration, so the table lives
  * wherever its data lives: `file:`, `hdfs:`, `s3a:`, any configured
  * FileSystem — the same reach as the parquet data files, which always
  * went through `spark.read`/`write`. See [[MetaIO.putIfAbsent]] for
  * the one primitive whose atomicity is storage-dependent.
  *
  * Rows hash into `nbuckets` buckets on the record key. An upsert
  * rewrites ONLY the buckets its updates touch; the new manifest points
  * untouched buckets at their existing files. That makes upsert cost
  * O(touched buckets), not O(table) — the same file-group-level write
  * amplification Hudi COW has, and the property that matters at 100 TB
  * (a 0.1 % update batch rewrites ~0.1 % of a well-bucketed table, not
  * the whole snapshot). Readers pin a manifest via the commit markers,
  * so concurrent readers never see a half-written snapshot; old
  * versions stay readable (time travel) because their files are never
  * mutated.
  */
object GraftTable {
  private val BUCKET = "__bucket"
  private val VersionFile = "v(\\d+)".r

  /** Commit-lock provider for stores without atomic create-if-absent
    * (see [[GraftLockProvider]]). None (default) = native atomicity on
    * file/hdfs, loud failure elsewhere. JVM-global because the commit
    * lock must be: two writers in one driver using different providers
    * for the same store would not serialize against each other.
    */
  @volatile private var lockProvider: Option[GraftLockProvider] = None
  def setLockProvider(p: Option[GraftLockProvider]): Unit = { lockProvider = p }

  /** Total filesystem directory listings performed so far (test-facing:
    * the planning-IO regression guard reads the delta across a query).
    */
  def metaListCalls: Long = MetaIO.listCalls.get()

  /** Metadata IO, routed through the Hadoop FileSystem of each path. */
  private[sources] object MetaIO {
    def conf: Configuration =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new Configuration())

    // FileSystems by (scheme, authority, user) — the key Hadoop's own
    // FileSystem cache hands the same instance back for — so a metadata
    // call copies the session's Hadoop configuration once per store and
    // user, not once per call. Schemes whose cache is disabled
    // (`fs.<scheme>.impl.disable.cache`) resolve afresh every time, as
    // Hadoop would; a scheme first used after its `fs.<scheme>.impl` was
    // set still resolves with it (the first use makes the entry). An
    // instance closed under us ("Filesystem closed") fails the call
    // that meets it and is dropped, so later calls resolve afresh — as
    // Hadoop's cache drops an instance on close.
    private val filesystems =
      new java.util.concurrent.ConcurrentHashMap[(String, String, UserGroupInformation), FileSystem]()

    private def key(p: Path) = {
      val uri = p.toUri
      (Option(uri.getScheme).map(_.toLowerCase).getOrElse(""),
        Option(uri.getAuthority).map(_.toLowerCase).getOrElse(""),
        UserGroupInformation.getCurrentUser)
    }

    private def fs(p: Path): FileSystem = {
      val k = key(p)
      val cached = filesystems.get(k)
      if (cached != null) cached
      else {
        val c = conf
        val f = p.getFileSystem(c)
        val s = Option(f.getScheme).getOrElse(k._1)
        if (!c.getBoolean(s"fs.$s.impl.disable.cache", false)) filesystems.putIfAbsent(k, f)
        f
      }
    }

    private def withFs[T](p: Path)(op: FileSystem => T): T =
      try op(fs(p))
      catch {
        case e: java.io.IOException if String.valueOf(e.getMessage).contains("Filesystem closed") =>
          filesystems.remove(key(p))
          throw e
      }

    def exists(p: Path): Boolean = withFs(p)(_.exists(p))

    def length(p: Path): Long = withFs(p)(_.getFileStatus(p).getLen)

    /** `p` with its store's scheme and authority (no IO). */
    def qualify(p: String): String = { val q = new Path(p); withFs(q)(_.makeQualified(q).toString) }

    def readString(p: Path): String = withFs(p) { f =>
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }

    def writeString(p: Path, s: String): Unit = withFs(p) { f =>
      val out = f.create(p, true) // creates parent dirs; overwrite ok
      try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }

    /** Schemes whose `create(p, overwrite=false)` is genuinely atomic
      * (arbitrated by a metadata service, not check-then-act).
      */
    private val AtomicCreateSchemes = Set("hdfs", "viewfs")

    /** Atomic put-if-absent — THE commit-lock primitive (table create
      * lock and per-version manifest lock both sit on it). Returns
      * false when the file already exists, i.e. the race was lost.
      *
      * Storage-dependent atomicity, handled per scheme:
      *  - Local `file:`: Hadoop's RawLocalFileSystem.create is
      *    check-then-act (exists() + open), NOT atomic under
      *    contention, so we go through the platform filesystem's
      *    O_CREAT|O_EXCL instead — the kernel arbitrates the race.
      *  - HDFS/viewfs: `create(p, overwrite=false)` is atomic at the
      *    NameNode — two racing creates, one wins.
      *  - Everything else (s3a and friends): NO native create-if-absent
      *    exists, so commits require a configured [[GraftLockProvider]]
      *    (conditional PUT, external lock service — the same providers
      *    Hudi ships for S3). Without one the write FAILS LOUDLY here
      *    rather than letting two racing writers both "win" a
      *    check-then-act emulation.
      */
    def putIfAbsent(p: Path, s: String): Boolean = withFs(p) { filesystem =>
      val scheme = Option(filesystem.getScheme).getOrElse("").toLowerCase
      GraftTable.lockProvider match {
        case Some(lp) if lp.handles(scheme) =>
          lp.putIfAbsent(p, s, exists, writeString)
        case _ if scheme == "file" =>
          import java.nio.file.{Files, Paths, FileAlreadyExistsException, StandardOpenOption}
          val local = Paths.get(p.toUri.getPath)
          Files.createDirectories(local.getParent)
          try { Files.writeString(local, s, StandardOpenOption.CREATE_NEW); true }
          catch { case _: FileAlreadyExistsException => false }
        case _ if AtomicCreateSchemes(scheme) =>
          try {
            val out = filesystem.create(p, false)
            try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
            true
          } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
        case _ =>
          throw new UnsupportedOperationException(
            s"scheme '$scheme' has no atomic create-if-absent, so optimistic commits " +
              "would be silently unsafe (two racing writers could both win a " +
              "check-then-act emulation). Configure GraftTable.setLockProvider with a " +
              "provider for this store — e.g. a conditional-PUT or external-lock " +
              "implementation of GraftLockProvider — before writing.")
      }
    }

    /** Atomic content swap: write to a sibling tmp file, rename over
      * `p`. POSIX rename replaces the target in one step; on FSs whose
      * rename refuses an existing target (HDFS), the delete+rename
      * fallback leaves only a missing-file window — readers see old
      * content, new content, or absence, NEVER a torn/empty read.
      */
    def replaceString(p: Path, s: String): Unit = {
      val tmp = new Path(p.getParent, p.getName + ".tmp")
      writeString(tmp, s)
      withFs(p) { f =>
        if (!f.rename(tmp, p)) {
          f.delete(p, false)
          if (!f.rename(tmp, p))
            throw new java.io.IOException(s"atomic replace failed for $p")
        }
      }
    }

    // counts every directory listing — the planning-IO regression
    // guard: SpjSpec asserts a metadata-planned scan performs ZERO
    // listings (at 100 TB file counts, per-query driver FS listing is
    // the planning bottleneck manifests exist to delete)
    val listCalls = new java.util.concurrent.atomic.AtomicLong(0L)
    def list(p: Path): Seq[FileStatus] = {
      listCalls.incrementAndGet()
      withFs(p)(f => if (!f.exists(p)) Seq.empty else f.listStatus(p).toSeq)
    }

    def delete(p: Path): Unit = withFs(p) { f =>
      if (f.exists(p)) f.delete(p, true)
      ()
    }
  }

  // ---- manifest-carried metadata: snapshot schema + file-level stats ----
  //
  // Besides bucket→dir lines, a manifest written by this version
  // carries two headers:
  //   #nbuckets=<n>
  //   #schema=<url-encoded DDL>      the snapshot's full schema
  // File-level stats live in per-ATTEMPT segment files next to the
  // manifests (`manifests/<attempt>.stats`, where <attempt> is the
  // unique `v<N>-<uuid>` token of one writer's data dir), holding:
  //   #file=<relFile>\t<rowCount>\t<bytes>    one per data file
  //   #stat=<relFile>\t<col>\t<min>\t<max>\t<nullCount>[\t<values>\t<bins>]
  // min/max are type-serialized (numerics as decimal strings, strings/
  // dates as URL-encoded text, timestamps as epoch micros; "-" =
  // unknown). The two trailing fields are the column's per-file row
  // counts over non-null values ([[FileCounts]]): <values> is
  // "l<enc(v)>=<n>,…" — every distinct value with its rows, when the
  // file holds at most 32 values of at most 120 chars — or "m<n>", an
  // upper bound on any one value's rows (the mode's count); <bins> is
  // "<e>:<base>:<n0>,<n1>,…", the rows in bins base, base+1, … of width
  // 2^e (numeric, date and timestamp columns without NaN/±Infinity), or
  // "-". They let matchBounds bound the rows that MATCH an equality,
  // IN or range filter; lines without them (written before the fields
  // existed) keep the whole-file bounds. Readers derive the segments to consult from the
  // manifest's dir lines by name — no pointer list to maintain — and
  // legacy manifests with INLINE #file/#stat lines still resolve (the
  // lines are merged; writers copy a carried legacy manifest's inline
  // lines out to segments on their next commit).
  //
  // Why the split matters at 100 TB: stats are O(files), bucket lines
  // are O(buckets). Inline stats made every commit rewrite O(table)
  // bytes of manifest even when it touched one bucket; with immutable
  // per-attempt segments a commit writes O(touched files) of new stats
  // and an O(buckets) manifest, and carried dirs' stats are never
  // copied at all. File skipping still needs no footer GETs: a non-key
  // filter reads the manifest plus the handful of segments its dirs
  // name (each bounded by its attempt's file count), and the recorded
  // schema lets every snapshot read skip the mergeSchema
  // footer-listing pass at planning time as well.

  /** Per-file, per-column min/max/nullCount as serialized strings.
    * `blooms` carries the optional per-column Bloom filters (serialized
    * `org.apache.spark.util.sketch.BloomFilter` over xxhash64 values)
    * for columns enabled via [[enableBloomFilters]].
    */
  final case class ColStat(min: Option[String], max: Option[String], nullCount: Long,
                           counts: Option[FileCounts.Counts] = None)
  /** `bytes` = the parquet file's on-disk length, recorded so scan
    * PLANNING (the DSv2 storage-partitioned read) can build its file
    * list from metadata alone — no per-query driver-side filesystem
    * listing. -1 for stats written before the field existed (readers
    * fall back to listing that file's dir).
    */
  final case class FileStat(rows: Long, cols: Map[String, ColStat],
                            blooms: Map[String, Array[Byte]] = Map.empty,
                            bytes: Long = -1L)

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** Column types stats are collected/compared for. Left out: binary,
    * arrays/structs/maps (no total order), intervals.
    */
  private def statKind(dt: types.DataType): Option[String] = dt match {
    case types.ByteType | types.ShortType | types.IntegerType | types.LongType |
         types.FloatType | types.DoubleType => Some("num")
    case _: types.DecimalType => Some("num")
    case types.StringType => Some("str")
    case types.DateType => Some("date")
    // NTZ serializes through a session-tz cast; with the UTC session
    // this library standardizes on, bounds are the wall-clock micros
    case types.TimestampType | types.TimestampNTZType => Some("ts")
    case _ => None
  }

  /** Stats are bounded to the first 32 eligible columns (the Delta
    * default) — wide tables should put their filter columns first.
    */
  private def statFields(schema: types.StructType): Seq[types.StructField] =
    schema.fields.filter(f => statKind(f.dataType).isDefined).take(32).toSeq

  // ---- optional per-file Bloom filters (point-lookup skipping on ----
  // ---- scattered non-key columns)                                ----
  //
  // min/max stats prune RANGES — useless for equality on a column whose
  // values interleave across every file (the common case for ids,
  // hashes, URLs that aren't the clustering key). Hudi's bloom index /
  // Delta's bloom filters solve exactly this; here the same: an
  // equality predicate on an enabled column tests the file's Bloom
  // before reading it — at 100 TB that turns "open every overlapping
  // file" into "open the handful with a positive", with the usual fpp
  // worth of false opens (never false skips: skipping is provable
  // absence). Blooms are collected per written file in the SAME stats
  // job discipline (never fail a commit; attempt-segment lines), over
  // xxhash64 of the column (Spark's own runtime-filter hashing), and
  // tested driver-side with the identical XxHash64 expression.

  private def bloomMetaPath(path: String) = new Path(path, "_bloom")

  /** Enable per-file Bloom filters for `cols` on writes FROM NOW ON
    * (existing files are untouched and simply don't bloom-prune;
    * `compact()` rewrites them with blooms). Equality-skipping works
    * for string/integral/float/date/timestamp/boolean columns; other
    * types fall back to min/max behavior.
    */
  def enableBloomFilters(path: String, cols: Seq[String], fpp: Double = 0.01): Unit = {
    require(cols.nonEmpty, "need at least one bloom column")
    require(fpp > 0 && fpp < 1, s"fpp out of (0, 1): $fpp")
    MetaIO.replaceString(bloomMetaPath(path), s"cols=${cols.mkString(",")}\nfpp=$fpp")
  }

  /** The table's bloom configuration, if any: (columns, fpp). */
  def bloomConfig(path: String): Option[(Seq[String], Double)] =
    if (!MetaIO.exists(bloomMetaPath(path))) None
    else {
      val kv = MetaIO.readString(bloomMetaPath(path)).split("\n")
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      Some((kv("cols").split(",").toSeq, kv("fpp").toDouble))
    }

  // ---- CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT` semantics) --
  //
  // Stored in a `_constraints` sidecar (one `name=<url-encoded SQL>`
  // line each — same config pattern as the bloom sidecar). SQL CHECK
  // semantics: a row VIOLATES only when the expression evaluates to
  // FALSE; NULL (unknown) passes, as in every ANSI engine. Enforcement
  // is NOT a pre-pass: [[constraintGuard]] weaves a row-level assert
  // into the write plan itself (`RaiseError` in the non-satisfied
  // branch only, so the failing row's JSON renders lazily), which means
  // validation rides the write job at ZERO extra scans and a violating
  // batch fails the job BEFORE the commit marker lands — the table
  // never exposes a violating version, the same loud-or-safe discipline
  // as every other commit path. Both write families are guarded: COW
  // rewrites via [[writeVersion]] (create/upsert/mergeInto/update/
  // compact/rebucket and the format("graft")/streaming writers that
  // funnel through them) and MOR delta files via [[upsertMor]].

  private def constraintsPath(path: String) = new Path(path, "_constraints")

  /** The table's CHECK constraints: name → SQL expression text. */
  def constraints(path: String): Map[String, String] =
    if (!MetaIO.exists(constraintsPath(path))) Map.empty
    else MetaIO.readString(constraintsPath(path)).split("\n").filter(_.nonEmpty)
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> dec(v) }.toMap

  /** Add a CHECK constraint. Like Delta, the EXISTING snapshot is
    * validated first (one scan) — a constraint the current data
    * violates is refused with examples, never recorded.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    checkSql: String): Unit = {
    require(latestVersion(path) >= 0, s"no table at $path")
    require(name.nonEmpty && !name.contains("=") && !name.contains("\n"),
      s"bad constraint name: '$name'")
    val violates = !coalesce(expr(checkSql), lit(true))
    val bad = read(spark, path).filter(violates)
    val examples = bad.limit(3).toJSON.collect()
    if (examples.nonEmpty)
      throw new IllegalStateException(
        s"cannot add CHECK constraint '$name' ($checkSql): existing rows violate it, " +
          s"e.g. ${examples.mkString("; ")}")
    MetaIO.replaceString(constraintsPath(path),
      (constraints(path) + (name -> checkSql))
        .map { case (k, v) => s"$k=${enc(v)}" }.mkString("\n"))
  }

  def dropConstraint(path: String, name: String): Unit = {
    val remaining = constraints(path) - name
    if (remaining.isEmpty) MetaIO.delete(constraintsPath(path))
    else MetaIO.replaceString(constraintsPath(path),
      remaining.map { case (k, v) => s"$k=${enc(v)}" }.mkString("\n"))
  }

  /** Column names a SQL expression references, from the UNRESOLVED
    * parse tree (Spark 4's `expr(...)` wraps a lazily-parsed
    * SqlExpression node, so collecting UnresolvedAttributes off the
    * Column no longer sees them — parse explicitly instead).
    */
  private def sqlColumnRefs(sql: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
      .collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name
      }.toSet

  /** Wrap `df` with the table's CHECK guards: each row either satisfies
    * every constraint or raises with the constraint name and the row
    * rendered as JSON. Columns a check references that the frame lacks
    * read as null — exactly what the stored row's omitted columns
    * become under whole-row-replace semantics — so the guard judges the
    * row as it will be stored. Zero-cost when no constraints exist.
    */
  private def constraintGuard(path: String, df: DataFrame): DataFrame = {
    val cs = constraints(path)
    if (cs.isEmpty) return df
    val orig: Seq[String] = df.columns.toSeq
    // augment once with every referenced-but-absent column as null
    // (parsed explicitly — see sqlColumnRefs on why collecting off the
    // Column stopped working under Spark 4's lazy SqlExpression nodes)
    val referenced: Set[String] = cs.values.flatMap(sqlColumnRefs).toSet
    val augmented = (referenced -- orig.toSet)
      .foldLeft(df)((d, m) => d.withColumn(m, lit(null)))
    val guarded = cs.toSeq.sortBy(_._1).foldLeft(augmented) { case (d, (name, sql)) =>
      val ok = coalesce(expr(sql), lit(true))
      d.filter(when(ok, lit(true)).otherwise(
        raise_error(concat(
          lit(s"CHECK constraint '$name' ($sql) violated by row: "),
          to_json(struct(orig.map(col): _*)))).isNotNull))
    }
    guarded.select(orig.map(col): _*)
  }

  /** `#bloom=<relFile>\t<col>\t<base64>` lines for the freshly written
    * dirs — one grouped-aggregate scan, same contract as
    * [[collectStatLines]] (an optimization that must never fail a
    * commit). Bits are sized from the largest written file (a bloom
    * sized for n holds fpp for any m ≤ n).
    */
  private def collectBloomLines(spark: SparkSession, tableRoot: String,
                                written: Seq[(String, Long)], schema: types.StructType,
                                statLines: Seq[String]): Seq[String] = {
    val cfg = bloomConfig(tableRoot)
    if (cfg.isEmpty || written.isEmpty) return Nil
    val (cfgCols, fpp) = cfg.get
    val writtenRelDirs = written.map(f => dirOf(f._1)).distinct
    val src = scanFiles(spark, tableRoot, written, schema)
    val cols = cfgCols.filter(src.schema.fieldNames.contains)
    if (cols.isEmpty) return Nil
    val maxRows = statLines.collect {
      case l if l.startsWith("#file=") => l.split("\t")(1).toLong
    }.foldLeft(1000L)(math.max)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(maxRows, fpp)
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.graftshim.Bridge
        .bloomAgg(col(s"`$c`"), maxRows, numBits).as(s"__b$i")
    }
    src.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect().toSeq.flatMap { r =>
        val uri = r.getString(0)
        writtenRelDirs.iterator.map(d => uri.indexOf(d + "/")).find(_ >= 0) match {
          case None => Nil
          case Some(at) =>
            val rel = uri.substring(at)
            cols.zipWithIndex.flatMap { case (c, i) =>
              Option(r.get(1 + i)).map { b =>
                val b64 = java.util.Base64.getEncoder
                  .encodeToString(b.asInstanceOf[Array[Byte]])
                s"#bloom=$rel\t${enc(c)}\t$b64"
              }
            }
        }
      }
  }

  /** One aggregate scan over the freshly written files (relative path,
    * bytes — from the writer's listing of its attempt dir) → #file/#stat
    * lines. Runs BEFORE the manifest commit (same ordering as the data
    * itself); files just written are page-cache-warm, and the job is
    * O(written buckets), not O(table). The files are read with the
    * `schema` just written (no listing, no footer-inference job). Stats
    * failures must never fail a commit — they are an optimization, and
    * a manifest without them simply doesn't prune.
    */
  private def collectStatLines(spark: SparkSession, tableRoot: String,
                               written: Seq[(String, Long)],
                               schema: types.StructType): Seq[String] = {
    if (written.isEmpty) return Nil
    val writtenRelDirs = written.map(f => dirOf(f._1)).distinct
    val src = scanFiles(spark, tableRoot, written, schema)
    val fields = statFields(src.schema)
    val utc = spark.conf.get("spark.sql.session.timeZone") == "UTC"
    // null-count-ONLY stats for array/binary columns (min/max have no
    // total order there, but NULL COUNT is well-defined for any type):
    // recorded as `min = max = "-"`, which mayMatch already treats as
    // unknown bounds. This is what lets IsNotNull prune on a vector
    // column — and, through matchBounds' non-null proof, what makes a
    // filtered ANN probe's LOWER bound sound (a matching row with a
    // null vector is not served; a file with zero null vectors can't
    // hide one).
    val nullOnly = src.schema.fields.toSeq
      .filterNot(f => fields.exists(_.name == f.name))
      .filter(f => f.dataType match {
        case _: types.ArrayType | types.BinaryType => true
        case _ => false
      }).take(32)
    // per column: (serialized value, bin key) for FileCounts — the
    // value text the min/max bounds use (float zeros normalized, as
    // -0.0 = 0.0) and the double the bins place it by; None = no
    // counts (NTZ from a non-UTC session, like its bounds)
    def countInputs(f: types.StructField): Option[(Column, Column)] = {
      val c = col(s"`${f.name}`")
      val noKey = lit(null).cast(types.DoubleType)
      f.dataType match {
        case types.FloatType => Some(((c + lit(0.0f)).cast("string"), c.cast(types.DoubleType)))
        case types.DoubleType => Some(((c + lit(0.0)).cast("string"), c))
        case _: types.DecimalType => Some((c.cast("string"), noKey))
        case types.StringType => Some((c, noKey))
        case types.DateType => Some((c.cast("string"), unix_date(c).cast(types.DoubleType)))
        case types.TimestampType =>
          Some((unix_micros(c).cast("string"), unix_micros(c).cast(types.DoubleType)))
        case types.TimestampNTZType if utc =>
          val m = unix_micros(c.cast(types.TimestampType))
          Some((m.cast("string"), m.cast(types.DoubleType)))
        case types.TimestampNTZType => None
        case _ => Some((c.cast("string"), c.cast(types.DoubleType)))
      }
    }
    val aggs = (count(lit(1)).as("__n") +: fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"`${f.name}`")
      val (mn, mx) = f.dataType match {
        case types.TimestampType =>
          (unix_micros(min(c)), unix_micros(max(c)))
        case types.TimestampNTZType =>
          // the NTZ→Timestamp cast interprets the local time in the
          // SESSION timezone; the read side (mayMatch) converts NTZ
          // filter values at UTC. Bounds written under any other zone
          // would disagree with the probe and over-prune, so they are
          // recorded as unknown instead (the library API does not pin
          // the session zone — only this repo's entry points do)
          if (utc)
            (unix_micros(min(c).cast(types.TimestampType)),
              unix_micros(max(c).cast(types.TimestampType)))
          else (lit(null).cast("string"), lit(null).cast("string"))
        case _ => (min(c), max(c))
      }
      Seq(mn.cast("string").as(s"__mn$i"), mx.cast("string").as(s"__mx$i"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nl$i"),
        countInputs(f).fold(lit(null).cast("string")) { case (value, key) =>
          FileCounts.agg(value, key) }.as(s"__ct$i"))
    }) ++ nullOnly.zipWithIndex.map { case (f, i) =>
      sum(when(col(s"`${f.name}`").isNull, 1L).otherwise(0L)).as(s"__no$i")
    }
    // on-disk lengths, keyed by rel path, from the writer's listing
    // (O(touched) at WRITE time) so QUERY planning never lists anything
    val sizes: Map[String, Long] = written.toMap
    src.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect().toSeq.flatMap { r =>
        val uri = r.getString(0)
        // rel path = from the (unique-token) attempt dir onward
        val idx = writtenRelDirs.iterator.map(d => uri.indexOf(d + "/"))
          .find(_ >= 0)
        idx match {
          case None => Nil
          case Some(at) =>
            val rel = uri.substring(at)
            val fileLine = s"#file=$rel\t${r.getLong(1)}\t${sizes.getOrElse(rel, -1L)}"
            val statLines = fields.zipWithIndex.map { case (f, i) =>
              // long string values (document text…) must not bloat the
              // manifest. A TRUNCATED min is still a valid lower bound
              // (a prefix sorts ≤ its extension); a truncated max would
              // be an INVALID upper bound and over-prune, so an
              // oversized max is recorded as unknown instead.
              def bounded(raw: Option[String], isMin: Boolean): String =
                raw match {
                  case None => "-"
                  case Some(s) if s.length <= 120 => enc(s)
                  case Some(s) if isMin => enc(s.substring(0, 120))
                  case _ => "-"
                }
              val mn = bounded(Option(r.getString(2 + 4 * i)), isMin = true)
              val mx = bounded(Option(r.getString(3 + 4 * i)), isMin = false)
              val counts = Option(r.getString(5 + 4 * i)).fold("")("\t" + _)
              s"#stat=$rel\t${enc(f.name)}\t$mn\t$mx\t${r.getLong(4 + 4 * i)}$counts"
            }
            val base = 2 + 4 * fields.length
            val nullLines = nullOnly.zipWithIndex.map { case (f, i) =>
              s"#stat=$rel\t${enc(f.name)}\t-\t-\t${r.getLong(base + i)}"
            }
            (fileLine +: statLines) ++ nullLines
        }
      }
  }

  /** One committed manifest, parsed once. [[snapshot]] is the ONE reader
    * of `manifests/v<N>`; every read, planning and commit path takes the
    * value instead of re-reading the file by (path, version), so one
    * operation reads each manifest once and can never plan against one
    * version and read another. Immutable like the file it parses.
    *  - `nbuckets`: the bucket count the snapshot was written with — the
    *    `#nbuckets=` header, else (manifests written before the header
    *    existed) the `_keys` create-time count. PER-SNAPSHOT, not
    *    table-global, so [[rebucket]] can evolve the layout: writers
    *    bucket new data by the head's count, and the OCC manifest lock
    *    serializes a racing upsert against a rebucket (the loser re-reads
    *    the new head — and with it the new count).
    *  - `dirs`: bucket → relative data dir.
    *  - `schema`: the recorded snapshot schema, all-nullable (files
    *    written before an additive evolution read the newer columns as
    *    null); None for manifests written before schemas were recorded.
    *  - `sortedBy`: the `#sorted=` claim — present only when EVERY data
    *    file of the snapshot was written internally sorted by these
    *    columns (ascending, nulls first), i.e. after a full key-sorted
    *    rewrite (compact/rebucket). Partial commits write no header, so
    *    the claim lapses conservatively. None = no claim, never a guess.
    *  - `dropped`: the `#dropped=` ledger ([[droppedColumns]]).
    *  - `dv` / `delta`: the MOR log — deletion vectors and delta commits
    *    as (relative path, create version), ascending by version; empty
    *    for pure-COW snapshots (every read path short-circuits to its
    *    plain plan then).
    *  - `text`: the manifest verbatim (metadata-only commits copy it).
    */
  final case class Snapshot(path: String, version: Int, nbuckets: Int,
                            dirs: Map[Int, String], schema: Option[types.StructType],
                            sortedBy: Option[Seq[String]], dropped: Set[String],
                            dv: Seq[(String, Int)], delta: Seq[(String, Int)],
                            text: String) {
    def lines: Seq[String] = text.split("\n").toSeq

    /** An outstanding MOR log: metadata (row counts, stats bounds) no
      * longer describes the rows a read serves.
      */
    def hasLog: Boolean = dv.nonEmpty || delta.nonEmpty

    /** [[text]] with a `#nbuckets=` header: a legacy manifest copied
      * into a new version gets the count it was read with, so writers on
      * top of the copy bucket correctly.
      */
    def headedText: String =
      if (lines.exists(_.startsWith("#nbuckets="))) text else s"#nbuckets=$nbuckets\n" + text

    /** relFile → recorded stats (empty for legacy manifests), read from
      * the stat segments on first use. Inline lines (written before the
      * segment format) and per-attempt segments are merged; either alone
      * is complete for the dirs it covers.
      */
    lazy val fileStats: Map[String, FileStat] = {
      val segLines = dirs.values.toSeq.flatMap(attemptOfRel).distinct.flatMap { a =>
        scala.util.Try(MetaIO.readString(statsSegPath(path, a))).toOption
          .toSeq.flatMap(_.split("\n").toSeq)
      }
      // a segment covers its whole ATTEMPT; restrict to the dirs this
      // snapshot actually references (a later version may have rewritten
      // some of the attempt's buckets)
      val dirSet = dirs.values.toSet
      def inSnapshot(l: String): Boolean = {
        val rel = l.substring(l.indexOf('=') + 1).split("\t")(0)
        val cut = rel.lastIndexOf('/')
        cut > 0 && dirSet.contains(rel.substring(0, cut))
      }
      val all = lines ++
        segLines.filter(l => (!l.startsWith("#file=") && !l.startsWith("#stat=") &&
          !l.startsWith("#bloom=")) || inSnapshot(l))
      val rows = all.collect { case l if l.startsWith("#file=") =>
        // 2-field legacy lines carry no byte length (bytes = -1)
        val p = l.stripPrefix("#file=").split("\t")
        p(0) -> (p(1).toLong, if (p.length >= 3) p(2).toLong else -1L)
      }.toMap
      val stats = all.collect { case l if l.startsWith("#stat=") =>
        val p = l.stripPrefix("#stat=").split("\t")
        (p(0), dec(p(1)),
          ColStat(Some(p(2)).filter(_ != "-").map(dec), Some(p(3)).filter(_ != "-").map(dec),
            p(4).toLong, if (p.length >= 7) FileCounts.parse(p(5), p(6)) else None))
      }.groupBy(_._1)
      val blooms = all.collect { case l if l.startsWith("#bloom=") =>
        val p = l.stripPrefix("#bloom=").split("\t")
        (p(0), dec(p(1)), java.util.Base64.getDecoder.decode(p(2)))
      }.groupBy(_._1)
      rows.map { case (f, (n, bytes)) =>
        f -> FileStat(n, stats.getOrElse(f, Seq.empty).map(s => s._2 -> s._3).toMap,
          blooms.getOrElse(f, Seq.empty).map(s => s._2 -> s._3).toMap, bytes)
      }
    }

    private lazy val statsByDir: Map[String, Seq[(String, FileStat)]] =
      fileStats.toSeq.groupBy { case (f, _) => f.substring(0, f.lastIndexOf('/')) }

    /** (relative file, bytes) of every data file in relative dir `dir`,
      * from the recorded stats — no listing. Files with zero rows carry
      * no stats line and are rightly absent. A dir the stats do not
      * cover with byte lengths (a legacy write, a failed stats job, an
      * empty or tombstone dir) is listed instead: never a wrong list.
      */
    def filesIn(dir: String): Seq[(String, Long)] = {
      val covered = statsByDir.getOrElse(dir, Nil)
      if (covered.nonEmpty && covered.forall(_._2.bytes >= 0L))
        covered.map { case (f, st) => (f, st.bytes) }.sortBy(_._1)
      else MetaIO.list(new Path(path, dir))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (s"$dir/${f.getPath.getName}", f.getLen)).sortBy(_._1)
    }
  }

  private val manifestReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Total manifest reads ([[snapshot]] calls) performed so far
    * (test-facing, like [[metaListCalls]]: the read-once guard reads the
    * delta across an operation).
    */
  def metaReadCalls: Long = manifestReads.get()

  /** Snapshot `v` of the table at `path`, from ONE read of its manifest
    * — the only code that reads `manifests/v<N>`. A missing manifest gets
    * the clear failure modes a lakehouse owes its users instead of a raw
    * filesystem error:
    *  - version committed but manifest reclaimed → "vacuumed", naming
    *    the earliest still-readable version (the commit markers keep
    *    full history for audit, so this case is precisely detectable);
    *  - version never committed → "no committed version", naming the
    *    latest. Every snapshot read, time travel, restore, and change
    *    feed routes through here.
    */
  def snapshot(path: String, v: Int): Snapshot = {
    manifestReads.incrementAndGet()
    val text =
      try MetaIO.readString(manifestPath(path, v))
      catch {
        case _: java.io.FileNotFoundException =>
          val readable = MetaIO.list(new Path(path, "manifests")).map(_.getPath.getName)
            .collect { case VersionFile(n) => n.toInt }
          if (MetaIO.exists(commitMarker(path, v)))
            throw new IllegalStateException(
              s"version $v of $path was vacuumed" +
                (if (readable.nonEmpty) s"; earliest readable version is ${readable.min}"
                 else "") +
                " — snapshot reads, time travel, restore, and change feeds cannot cross the vacuum horizon")
          else
            throw new IllegalArgumentException(
              s"no committed version $v at $path (latest is ${latestVersion(path)})")
      }
    val lines = text.split("\n").toSeq
    def header(name: String): Option[String] =
      lines.collectFirst { case l if l.startsWith(s"#$name=") => l.stripPrefix(s"#$name=") }
    def log(kind: String): Seq[(String, Int)] =
      lines.collect { case l if l.startsWith(s"#$kind=") =>
        val rel = l.stripPrefix(s"#$kind=").trim
        rel -> relVersion(rel)
      }.sortBy(_._2)
    Snapshot(path, v,
      header("nbuckets").fold(meta(path)._2)(_.trim.toInt),
      lines.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val Array(b, d) = line.split("\t")
        b.toInt -> d
      }.toMap,
      header("schema").map(ddl => types.StructType(types.StructType.fromDDL(dec(ddl))
        .fields.map(_.copy(nullable = true)))),
      header("sorted").map(dec(_).split(",").toSeq),
      header("dropped").fold(Set.empty[String])(dec(_).split(",").filter(_.nonEmpty).toSet),
      log("dv"), log("delta"), text)
  }

  /** Snapshot `version` of the table at `path`, -1 = the head. */
  def snapshotAt(path: String, version: Int): Snapshot = {
    val v = if (version >= 0) version else latestVersion(path)
    require(v >= 0, s"no table at $path")
    snapshot(path, v)
  }

  /** The attempt token of a `data/<attempt>/<bucket>/…` relative path —
    * the unit both data-dir layout and stat segments are keyed by.
    */
  private def attemptOfRel(rel: String): Option[String] = {
    val parts = rel.split("/")
    if (parts.length >= 3 && parts(0) == "data") Some(parts(1)) else None
  }

  /** Per-attempt stat segment: the `#file=`/`#stat=` lines for the
    * files written under `data/<attempt>/`, stored NEXT TO the
    * manifests instead of inside them. Manifests stay O(buckets) no
    * matter how many files the table holds — at millions of files an
    * inline-stats manifest would be rewritten whole on EVERY commit,
    * making commit cost O(table) instead of O(touched). Segments are
    * derived from the manifest's dir lines by name (no pointer list to
    * maintain) and die with their attempt dir at vacuum.
    */
  private def statsSegPath(path: String, attempt: String) =
    new Path(new Path(path, "manifests"), s"$attempt.stats")

  /** Conservative may-match test of one DSv1 filter against one file's
    * recorded stats: true = the file could hold matching rows (or the
    * stats cannot prove otherwise), false = provably no row matches and
    * the file can be skipped without opening it.
    */
  private def isAscii(s: String) = s.forall(_ < 128)

  // compare a recorded bound with a filter value; None = not provable
  // (unknown bound, type mismatch, NaN, non-ASCII string ordering —
  // Java UTF-16 order diverges from Spark's UTF-8 binary order there)
  private def boundCmp(kind: String, bound: String, v: Any): Option[Int] = kind match {
      case "num" =>
        val b = scala.util.Try(BigDecimal(bound)).toOption
        val value = v match {
          case d: java.lang.Double if d.isNaN => None
          case fl: java.lang.Float if fl.isNaN => None
          case n: java.math.BigDecimal => Some(BigDecimal(n))
          case n: BigDecimal => Some(n)
          case n: java.lang.Number => scala.util.Try(BigDecimal(n.toString)).toOption
          case _ => None
        }
        for (bb <- b; vv <- value) yield bb.compare(vv)
      case "str" => v match {
        case s: String if isAscii(bound) && isAscii(s) =>
          Some(Integer.signum(bound.compareTo(s)))
        case _ => None
      }
      case "date" =>
        (v match {
          case d: java.sql.Date => Some(d.toString)
          case d: java.time.LocalDate => Some(d.toString)
          case _ => None
        }).map(s => Integer.signum(bound.compareTo(s)))
      case "ts" =>
        // NTZ filter values convert as-if-UTC, the SAME convention
        // collectStatLines records NTZ bounds under (it declines to
        // record them at all from a non-UTC writer session), so bound
        // and probe share an epoch convention whatever zone this reader runs
        for (b <- scala.util.Try(bound.toLong).toOption; m <- FileCounts.tsMicros(v))
          yield java.lang.Long.compare(b, m)
      case _ => None
  }

  private def mayMatch(st: FileStat, kinds: Map[String, String],
                       f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def stat(a: String) = st.cols.get(a)
    def cmpMin(a: String, v: Any): Option[Int] =
      for (k <- kinds.get(a); cs <- stat(a); m <- cs.min; c <- boundCmp(k, m, v)) yield c
    def cmpMax(a: String, v: Any): Option[Int] =
      for (k <- kinds.get(a); cs <- stat(a); m <- cs.max; c <- boundCmp(k, m, v)) yield c
    // Bloom test for equality: provable ABSENCE only (mightContain
    // false ⇒ no row holds v — modulo hash-type mismatch, so the probe
    // hashes v only when its Literal type equals the written column's;
    // decimals excluded: Literal precision inference diverges).
    def bloomRules(a: String, v: Any): Boolean = v match {
      case null => false
      case _: java.math.BigDecimal | _: BigDecimal => false
      case _ => st.blooms.get(a) match {
        case None => false
        case Some(bytes) =>
          (for {
            h <- org.apache.spark.sql.graftshim.Bridge.xxhash64Of(v)
            bf <- scala.util.Try(org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(bytes))).toOption
          } yield !bf.mightContainLong(h)).getOrElse(false)
      }
    }
    if (st.rows == 0L) return false // an empty file matches nothing
    f match {
      case EqualTo(a, v) =>
        !(cmpMin(a, v).exists(_ > 0) || cmpMax(a, v).exists(_ < 0) ||
          stat(a).exists(_.nullCount == st.rows) || bloomRules(a, v))
      case EqualNullSafe(a, v) =>
        if (v == null) stat(a).forall(_.nullCount > 0)
        else mayMatch(st, kinds, EqualTo(a, v))
      case GreaterThan(a, v)        => !cmpMax(a, v).exists(_ <= 0)
      case GreaterThanOrEqual(a, v) => !cmpMax(a, v).exists(_ < 0)
      case LessThan(a, v)           => !cmpMin(a, v).exists(_ >= 0)
      case LessThanOrEqual(a, v)    => !cmpMin(a, v).exists(_ > 0)
      case In(a, vs) => vs.exists(v => mayMatch(st, kinds, EqualTo(a, v)))
      case IsNull(a)    => stat(a).forall(_.nullCount > 0)
      case IsNotNull(a) => stat(a).forall(_.nullCount < st.rows)
      case And(l, r) => mayMatch(st, kinds, l) && mayMatch(st, kinds, r)
      case Or(l, r)  => mayMatch(st, kinds, l) || mayMatch(st, kinds, r)
      case StringStartsWith(a, p) if p.nonEmpty && isAscii(p) =>
        // matching rows live in [p, p·last+1): max < p or min ≥ upper ⇒ skip
        val upper = p.init + (p.last + 1).toChar
        !(cmpMax(a, p).exists(_ < 0) || cmpMin(a, upper).exists(_ >= 0))
      case _ => true // Not(…) and anything unknown: keep
    }
  }

  /** The [[mayMatch]] dual: true = EVERY row of the file provably
    * matches the filter (so the file contributes its whole row count
    * to a LOWER bound on the match set). Strictly conservative in the
    * other direction — anything unprovable is false, never true. Nulls
    * matter everywhere: a comparison filter matches no null row, so
    * every value case additionally requires nullCount == 0.
    */
  private def mustMatch(st: FileStat, kinds: Map[String, String],
                        f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def stat(a: String) = st.cols.get(a)
    def noNulls(a: String) = stat(a).exists(_.nullCount == 0L)
    def cmpMin(a: String, v: Any): Option[Int] =
      for (k <- kinds.get(a); cs <- stat(a); m <- cs.min; c <- boundCmp(k, m, v)) yield c
    def cmpMax(a: String, v: Any): Option[Int] =
      for (k <- kinds.get(a); cs <- stat(a); m <- cs.max; c <- boundCmp(k, m, v)) yield c
    if (st.rows == 0L) return true // vacuously: contributes 0 rows anyway
    // string mins may be stored TRUNCATED (a prefix is a valid lower
    // bound for range proofs — prefix ≥ v ⇒ actual ≥ v — but NOT for
    // equality: a 120-char prefix equal to v says nothing about the
    // actual min); maxes are never truncated (oversized → unknown)
    def exactMin(a: String): Boolean = kinds.get(a).forall(k =>
      k != "str" || stat(a).flatMap(_.min).forall(_.length < 120))
    f match {
      case EqualTo(a, v) =>
        noNulls(a) && exactMin(a) &&
          cmpMin(a, v).contains(0) && cmpMax(a, v).contains(0)
      case EqualNullSafe(a, v) =>
        if (v == null) stat(a).exists(_.nullCount == st.rows)
        else mustMatch(st, kinds, EqualTo(a, v))
      case GreaterThan(a, v)        => noNulls(a) && cmpMin(a, v).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => noNulls(a) && cmpMin(a, v).exists(_ >= 0)
      case LessThan(a, v)           => noNulls(a) && cmpMax(a, v).exists(_ < 0)
      case LessThanOrEqual(a, v)    => noNulls(a) && cmpMax(a, v).exists(_ <= 0)
      case In(a, vs) => vs.exists(v => mustMatch(st, kinds, EqualTo(a, v)))
      case IsNull(a)    => stat(a).exists(_.nullCount == st.rows)
      case IsNotNull(a) => noNulls(a)
      case And(l, r) => mustMatch(st, kinds, l) && mustMatch(st, kinds, r)
      case Or(l, r)  => mustMatch(st, kinds, l) || mustMatch(st, kinds, r)
      case StringStartsWith(a, p) if p.nonEmpty && isAscii(p) =>
        // every row in [p, p·last+1) starts with p — min ≥ p AND
        // max < upper (a truncated min prefix stays a valid ≥ proof)
        val upper = p.init + (p.last + 1).toChar
        noNulls(a) && cmpMin(a, p).exists(_ >= 0) && cmpMax(a, upper).exists(_ < 0)
      case _ => false // anything unknown is unprovable
    }
  }

  /** Conservative per-file keep test for snapshot `s` under DSv1
    * filters, per RELATIVE file path — the one metadata pruning rule of
    * every scan (the table's file index, the DSv2 storage-partitioned
    * scan, the skipping report): a file is dropped when it lies outside
    * the buckets a full-key equality or IN hashes into
    * ([[v2.BoundBucket.hit]]), or when its stats or blooms rule a filter
    * out. None when nothing can prune (legacy manifest, empty filters):
    * read everything. Unknown files keep (conservative).
    */
  def fileKeepPredicate(s: Snapshot, filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[String => Boolean] = {
    if (filters.isEmpty) return None
    val schema = s.schema.getOrElse(return None)
    val pinsKey = filters.exists {
      case _: org.apache.spark.sql.sources.EqualTo | _: org.apache.spark.sql.sources.In => true
      case _ => false
    }
    val bucketDirs: Option[Set[String]] = if (!pinsKey) None else {
      val keys = keyColumns(s.path)
      val kts = keys.flatMap(k => schema.fields.find(_.name == k).map(_.dataType))
      Option.when(kts.size == keys.size)(v2.BoundBucket.hit(keys, kts, s.nbuckets, filters))
        .flatten.map(bs => s.dirs.collect { case (b, d) if bs(b) => d }.toSet)
    }
    val stats = s.fileStats
    if (stats.isEmpty && bucketDirs.isEmpty) return None
    val kinds = schema.fields.flatMap(f => statKind(f.dataType).map(f.name -> _)).toMap
    Some(rel => bucketDirs.forall(_.contains(dirOf(rel))) &&
      stats.get(rel).forall(st => filters.forall(fl => mayMatch(st, kinds, fl))))
  }

  /** Metadata-only UPPER BOUND on snapshot `s`'s rows matching
    * `filters`: Σ rowCount over files whose stats cannot rule the
    * filters out. Conservative by construction — dropped conjuncts and
    * may-match semantics only RAISE the bound — so a caller may treat
    * `Some(h)` as a proof that at most h rows match (and `Some(0)` as
    * zero matches, exactly). None when the bound would be unsound:
    * empty filters, any stat-less dir (its rows are uncounted), or an
    * outstanding MOR log (delta rows live outside the stats'd files;
    * DVs alone would keep the bound valid, but the refusal stays
    * uniform with [[analyzeIncremental]]'s rule). This is what lets a
    * filtered index probe SKIP its match-count job when the answer is
    * already decidable from the skipping machinery's metadata.
    */
  def matchUpperBound(s: Snapshot,
                      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[Long] =
    matchBounds(s, filters, complete = false)._2

  /** Metadata-only (LOWER, UPPER) bounds on snapshot `s`'s rows
    * matching `filters` — the [[matchUpperBound]] pair form, summed
    * over files from each file's [[fileBounds]] (the conjunction of
    * every filter). Files whose stats carry [[FileCounts]] bound the
    * rows that MATCH; files without them (legacy segments) contribute
    * the whole-file bound — their rows if the file may match, and to
    * the lower bound only if every row provably matches. The lower
    * bound additionally needs every `requireNonNull` column to have a
    * recorded zero null count in the file, and is only sound when the
    * caller proved the filter set COMPLETE (`complete = true`, every
    * conjunct of the original predicate translated — a dropped
    * conjunct can only shrink the true match set, which an upper bound
    * survives but a lower bound does not); otherwise the lower slot is
    * None. Both None when the machinery can't answer at all (empty
    * filters, stat-less dirs, MOR logs — [[matchUpperBound]]'s
    * refusals).
    */
  def matchBounds(s: Snapshot,
                  filters: Seq[org.apache.spark.sql.sources.Filter],
                  complete: Boolean,
                  requireNonNull: Seq[String] = Nil): (Option[Long], Option[Long]) = {
    if (filters.isEmpty || s.hasLog) return (None, None)
    val stats = s.fileStats
    if (stats.isEmpty) return (None, None)
    val schema = s.schema.getOrElse(return (None, None))
    val kinds = schema.fields.flatMap(f => statKind(f.dataType).map(f.name -> _)).toMap
    val dataTypes = schema.fields.map(f => f.name -> f.dataType).toMap
    var hi = 0L
    var lo = 0L
    s.dirs.values.toSeq.foreach { d =>
      val files = stats.keys.filter(_.startsWith(d + "/")).toSeq
      if (files.isEmpty) return (None, None) // stat-less dir: rows unknown
      files.foreach { rel =>
        val st = stats(rel)
        val (l, h) = filters.map(fileBounds(st, kinds, dataTypes, _)).reduce(both(st.rows))
        hi += h
        if (complete && requireNonNull.forall(c => st.cols.get(c).exists(_.nullCount == 0L)))
          lo += l
      }
    }
    (if (complete) Some(lo) else None, Some(hi))
  }

  /** [lo, hi] of a conjunction in a file of `rows` rows, from its two
    * sides' bounds: the smaller upper bound, and Bonferroni's lower
    * bound (at most rows − lo₁ rows fail the first side).
    */
  private def both(rows: Long)(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (math.max(0L, a._1 + b._1 - rows), math.min(a._2, b._2))

  /** Sound [lo, hi] on the rows of ONE file matching ONE filter. The
    * whole-file bound ([[mustMatch]] ⇒ every row, ![[mayMatch]] ⇒ none)
    * is tightened from the column's [[FileCounts]] when recorded:
    *  - IsNull / IsNotNull: the null count, exactly;
    *  - equality and IN over a listed column: the rows of the listed
    *    values that equal (one of) the value(s); unlisted: at most the
    *    mode's count per value, and at most the rows of the value's bin
    *    (IN: the sum, at most the file's non-null rows);
    *  - comparisons (numeric, date and timestamp columns): the bins
    *    above or below the value's bin count toward both bounds and the
    *    value's own bin toward the upper bound only;
    *  - AND: [[both]];
    *  - anything else: the whole-file bound.
    * Nulls never match (no list or bin holds them); NaN equals only
    * NaN and sorts above every value (a file with NaN or ±Infinity
    * records no bins, and a NaN filter value has no bin, so ranges
    * there keep the whole-file bound). A listed value the reader cannot
    * compare counts toward the upper bound only.
    */
  private def fileBounds(st: FileStat, kinds: Map[String, String],
                         dataTypes: Map[String, types.DataType],
                         f: org.apache.spark.sql.sources.Filter): (Long, Long) = {
    import org.apache.spark.sql.sources._
    val whole = (if (mustMatch(st, kinds, f)) st.rows else 0L,
      if (mayMatch(st, kinds, f)) st.rows else 0L)
    def counted(a: String): Option[(ColStat, FileCounts.Counts, types.DataType)] =
      for (cs <- st.cols.get(a); c <- cs.counts; dt <- dataTypes.get(a)) yield (cs, c, dt)
    // Σ rows of the listed values by test outcome: (sure, sure + unknown)
    def listed(l: Seq[(String, Long)], test: String => Option[Boolean]): (Long, Long) =
      l.foldLeft((0L, 0L)) { case ((lo, hi), (s, n)) =>
        test(s) match {
          case Some(true) => (lo + n, hi + n)
          case Some(false) => (lo, hi)
          case None => (lo, hi + n)
        }
      }
    // at most this many rows hold the single value v
    def pointHi(c: FileCounts.Counts, dt: types.DataType, v: Any): Long =
      (for (b <- c.bins; k <- FileCounts.keyOf(dt, v)) yield {
        val i = FileCounts.binOf(k, b.e) - b.base
        if (i < 0 || i >= b.counts.length) 0L else b.counts(i.toInt)
      }).fold(c.mode)(math.min(c.mode, _))
    // rows whose value x satisfies ok(sign(x − v)), from the bins
    def compared(a: String, v: Any, ok: Int => Boolean): Option[(Long, Long)] =
      for ((_, c, dt) <- counted(a); b <- c.bins; k <- FileCounts.keyOf(dt, v)) yield {
        val at = FileCounts.binOf(k, b.e)
        b.counts.zipWithIndex.foldLeft((0L, 0L)) { case ((lo, hi), (n, i)) =>
          val bin = b.base + i
          if (bin == at) (lo, hi + n)
          else if (ok(if (bin > at) 1 else -1)) (lo + n, hi + n)
          else (lo, hi)
        }
      }
    val refined: Option[(Long, Long)] = f match {
      case IsNull(a) => st.cols.get(a).map(cs => (cs.nullCount, cs.nullCount))
      case IsNotNull(a) => st.cols.get(a).map(cs => (st.rows - cs.nullCount, st.rows - cs.nullCount))
      case EqualTo(a, v) if v != null =>
        counted(a).map { case (_, c, dt) =>
          c.list.fold((0L, pointHi(c, dt, v)))(l => listed(l, FileCounts.listedEq(dt, _, v)))
        }
      case In(a, vs) =>
        val values = vs.toSeq.filter(_ != null).distinct
        counted(a).map { case (cs, c, dt) =>
          c.list.fold((0L, math.min(st.rows - cs.nullCount, values.map(pointHi(c, dt, _)).sum))) {
            l => listed(l, s => {
              val eqs = values.map(FileCounts.listedEq(dt, s, _))
              if (eqs.contains(Some(true))) Some(true)
              else if (eqs.forall(_.isDefined)) Some(false)
              else None
            })
          }
        }
      case GreaterThan(a, v)        => compared(a, v, _ > 0)
      case GreaterThanOrEqual(a, v) => compared(a, v, _ >= 0)
      case LessThan(a, v)           => compared(a, v, _ < 0)
      case LessThanOrEqual(a, v)    => compared(a, v, _ <= 0)
      case And(l, r) =>
        Some(both(st.rows)(fileBounds(st, kinds, dataTypes, l), fileBounds(st, kinds, dataTypes, r)))
      case _ => None
    }
    refined.fold(whole)(r => (math.max(whole._1, r._1), math.min(whole._2, r._2)))
  }

  /** The filtered serving paths' match count, METADATA-FIRST — the ONE
    * implementation of the leg-selection ladder [[GraftIndex.probe]],
    * [[GraftIndex.knnJoin]], and [[GraftHnsw]] share (hand-duplicated
    * with slightly different case sets through r12; hoisted so they
    * cannot drift): when the pred's pushable form is stats-answerable
    * AND the bounds already DECIDE the serving leg, the count job is
    * skipped entirely. The pred is translated against the snapshot's
    * RECORDED schema (an empty relation of that schema — no table
    * relation is resolved, no file listed), and [[matchBounds]] bounds
    * the matching rows from the commit-time [[FileCounts]], so
    * equality, IN and range preds on a COW snapshot usually decide the
    * leg with no job at all. Every shortcut is provably identical to
    * count-based selection:
    *  - upper ≤ bruteForceCap ⇒ true count ≤ cap ⇒ brute leg, same leg
    *    (upper == 0 ⇒ exactly zero matches);
    *  - lower > acceptCap ⇒ true count > acceptCap ⇒ post-filter leg
    *    (sound only under a COMPLETE conjunct translation, with the
    *    `requireNonNull` columns' per-file zero-null proofs — both
    *    enforced by [[matchBounds]]);
    *  - bruteForceCap < lower AND upper ≤ acceptCap ⇒ the middle
    *    (filtered-walk / pushed-scan) leg.
    * Anything undecided — legacy manifests without a recorded schema or
    * counts, MOR logs, bounds that straddle a cap — pays `exactCount`
    * (by-name — only evaluated then), exactly as before. Nothing is
    * cached per pred or per query. Two-regime callers (no middle leg) pass
    * acceptCap = bruteForceCap and the middle case vanishes (lo ≤ hi
    * makes it unreachable). `acceptCap >= bruteForceCap` is REQUIRED:
    * with acceptCap < bruteForceCap the `lo > acceptCap` case could
    * return a lower bound ≤ bruteForceCap and select the brute leg over
    * an arbitrarily larger true match set — results would stay exact
    * but the broadcast unbounded.
    */
  def metadataMatchCount(spark: SparkSession, s: Snapshot,
                         pred: org.apache.spark.sql.Column,
                         requireNonNull: Seq[String],
                         bruteForceCap: Long, acceptCap: Long)
                        (exactCount: => Long): Long = {
    require(bruteForceCap >= 0, s"need bruteForceCap >= 0, got $bruteForceCap")
    require(acceptCap >= bruteForceCap,
      s"need acceptCap ($acceptCap) >= bruteForceCap ($bruteForceCap) — the " +
        "metadata leg-selection proof assumes it (a smaller acceptCap could " +
        "route an unboundedly large match set onto the broadcast brute leg)")
    val (lo, hi) = s.schema.fold((Option.empty[Long], Option.empty[Long])) { sc =>
      val (filters, complete) =
        org.apache.spark.sql.graftshim.Bridge.translateFiltersWithCompleteness(
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc), pred)
      matchBounds(s, filters, complete, requireNonNull)
    }
    hi match {
      case Some(h) if h <= bruteForceCap => h
      case _ => lo match {
        case Some(l) if l > acceptCap => l
        case Some(l) if l > bruteForceCap && hi.exists(_ <= acceptCap) => hi.get
        case _ => exactCount
      }
    }
  }

  /** [[fileKeepPredicate]] applied to snapshot `s`'s files:
    * Some((inputPaths, keptFiles, totalStatFiles)) when the manifest
    * carries stats — inputPaths include stat-less carried dirs
    * wholesale (conservative) — or None for legacy manifests and empty
    * filter sets.
    */
  def prunedDataPaths(s: Snapshot, filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[(Seq[String], Int, Int)] = {
    val stats = s.fileStats
    if (stats.isEmpty) return None
    val keep = fileKeepPredicate(s, filters).getOrElse(return None)
    val dirPaths = scala.collection.mutable.ArrayBuffer.empty[String]
    val keptFiles = scala.collection.mutable.ArrayBuffer.empty[String]
    var total = 0
    s.dirs.values.toSeq.sorted.foreach { d =>
      val files = stats.keys.filter(_.startsWith(d + "/")).toSeq.sorted
      if (files.isEmpty) dirPaths += s"${s.path}/$d" // stat-less dir: read whole
      else files.foreach { rel =>
        total += 1
        if (keep(rel)) keptFiles += s"${s.path}/$rel"
      }
    }
    Some((dirPaths.toSeq ++ keptFiles.toSeq, keptFiles.size, total))
  }

  /** Snapshot read restricted to the files whose stats may satisfy
    * `filters` — Some only when at least one file is actually skipped
    * (otherwise the caller's plain snapshot scan is identical). Filters
    * are NOT applied here — callers re-apply them (skipping is
    * conservative, kept files still hold non-matching rows). The MOR
    * log applies to the pruned scan too: a kept file can still hold
    * MOR-deleted rows, and delta winner rows (not stats-indexed — they
    * live in the log, not in files the manifest describes) may match
    * anywhere, so emission stays table-wide — even when stats pruned
    * EVERY stored file, the log can still hold matches.
    */
  def readStatsPruned(spark: SparkSession, s: Snapshot,
                      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[DataFrame] =
    prunedDataPaths(s, filters).flatMap { case (_, kept, total) =>
      if (kept == total || s.schema.isEmpty) None
      else {
        val keep = fileKeepPredicate(s, filters).get
        Some(readMor(spark, s, s.dirs.values.toSeq)(readPinned(spark, s, keep)))
      }
    }

  private def commitsDir(path: String) = new Path(path, "_commits")
  private def commitMarker(path: String, v: Int) = new Path(commitsDir(path), s"v$v")
  private def keysPath(path: String) = new Path(path, "_keys")
  private def clusterPath(path: String) = new Path(path, "_cluster")
  private def manifestPath(path: String, v: Int) = new Path(new Path(path, "manifests"), s"v$v")

  /** committed versions, ascending (= commit order: versions are minted
    * sequentially under the manifest lock)
    */
  private def commitVersions(path: String): Seq[Int] =
    MetaIO.list(commitsDir(path)).map(_.getPath.getName)
      .collect { case VersionFile(v) => v.toInt }.sorted

  def exists(path: String): Boolean = commitVersions(path).nonEmpty

  /** latest committed version, or -1 */
  def latestVersion(path: String): Int = commitVersions(path).lastOption.getOrElse(-1)

  /** committed (version, wall-clock millis) pairs, commit order.
    *
    * Cost note: discovery is a directory LISTING (same as Delta's
    * _delta_log) and reading the timestamps is one small GET per
    * marker — O(commits), paid only by wall-clock time travel
    * ([[readAsOf]]); version reads and [[latestVersion]] never open
    * markers. One-file-per-commit is deliberate: the alternative
    * single-file log needs atomic append, which object stores do not
    * have. Long-lived tables bound the listing with [[vacuum]]-style
    * retention on the _commits dir if it ever matters (markers are
    * ~13 bytes each; millions list fine).
    */
  def commitLog(path: String): Seq[(Int, Long)] =
    MetaIO.list(commitsDir(path)).flatMap { st =>
      st.getPath.getName match {
        case VersionFile(v) =>
          // markers are written atomically (replaceString), but a legacy
          // torn marker degrades to the file's mtime, not an exception
          val ts = scala.util.Try(MetaIO.readString(st.getPath).trim.toLong)
            .getOrElse(st.getModificationTime)
          Some(v.toInt -> ts)
        case _ => None // in-flight .tmp siblings from the atomic swap
      }
    }.sortBy(_._1)

  /** (key columns, bucket count, key DDL types). The types field was
    * added after v1 tables existed, so it is optional on read; absent,
    * [[alignKeyTypes]] falls back to reading the snapshot schema.
    */
  private[sources] def meta(path: String): (Seq[String], Int, Option[Seq[types.DataType]]) = {
    val fields = MetaIO.readString(keysPath(path)).split("\\|")
    val keyTypes =
      if (fields.length >= 3 && fields(2).nonEmpty)
        scala.util.Try(fields(2).split(";").toSeq.map(types.DataType.fromDDL)).toOption
      else None
    (fields(0).split(",").toSeq, fields(1).toInt, keyTypes)
  }

  private[sources] def bucketCol(keyCols: Seq[String], nbuckets: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(nbuckets)).cast("int")

  def create(df: DataFrame, path: String, keyCols: Seq[String], nbuckets: Int = 16,
             timeCluster: Option[String] = None): Unit = {
    require(!exists(path), s"table already exists at $path")
    timeCluster.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"time-cluster column '$c' not in schema (${df.schema.fieldNames.mkString(", ")})")
      require(!keyCols.contains(c),
        s"time-cluster column '$c' is a record key — keys order the bucket " +
          "layout already; declare a non-key time dimension")
    }
    // key TYPES are recorded so later writes can align a batch's key
    // columns without re-reading the snapshot schema (ddl strings,
    // ';'-separated — ',' appears inside decimal(p,s))
    val keyDdl = keyCols.map(k => df.schema(k).dataType.sql).mkString(";")
    // put-if-absent: two racing creates — exactly one wins the keys file
    if (!MetaIO.putIfAbsent(keysPath(path), keyCols.mkString(",") + "|" + nbuckets + "|" + keyDdl))
      throw new java.util.ConcurrentModificationException(
        s"concurrent create already initialized the table at $path")
    // declared time clustering (the days(ts) DDL intent): recorded once
    // at create; every argument-less compact() linearly clusters on it
    timeCluster.foreach(c => MetaIO.replaceString(clusterPath(path), c))
    writeVersion(df, path, keyCols, nbuckets, v = 0, base = None, carryOver = Map.empty)
  }

  /** The time-cluster column declared at create (`PARTITIONED BY
    * (days(ts), …)` through the catalog, or `create(timeCluster=…)`),
    * if any — the standing maintenance intent [[compact]] honors.
    */
  def declaredClustering(path: String): Option[String] =
    if (MetaIO.exists(clusterPath(path)))
      Some(MetaIO.readString(clusterPath(path)).trim).filter(_.nonEmpty)
    else None

  /** ALTER TABLE ADD COLUMNS — additive schema evolution as a
    * METADATA-ONLY commit (Delta's ALTER cost): the new version's
    * manifest is the head's with an extended `#schema=` line; every
    * data dir, stats segment, and MOR log line carries over verbatim,
    * zero data IO. Existing rows read the new columns as NULL (the
    * same padding the read paths already do for columns an upsert
    * batch introduced), so columns are forced nullable — a NOT NULL
    * add would instantly be violated by every existing row and
    * refuses upstream. Only top-level ADDs exist here: drops/renames/
    * type changes would silently orphan or reinterpret recorded stats
    * and bloom filters, so they refuse rather than guess.
    */
  def addColumns(spark: SparkSession, path: String,
                 newCols: Seq[types.StructField], maxRetries: Int = 5): Unit =
    occRetry(maxRetries) {
      require(newCols.nonEmpty, "ADD COLUMNS: no columns given")
      val s = snapshotAt(path, -1)
      val v = s.version
      val schema = s.schema.getOrElse(throw new IllegalStateException(
        s"$path: no recorded snapshot schema (legacy manifest) — " +
          "commit once through a write to upgrade, then ALTER"))
      newCols.foreach { f =>
        require(!schema.fieldNames.contains(f.name),
          s"ADD COLUMNS: column '${f.name}' already exists")
      }
      // a name [[dropColumns]] retired may still exist in un-rewritten
      // files with its OLD values; re-adding it would resurrect them
      val retired = s.dropped.intersect(newCols.map(_.name).toSet)
      require(retired.isEmpty,
        s"ADD COLUMNS: ${retired.mkString(", ")} previously dropped — existing " +
          "files still carry the old values under that name; compact() first " +
          "(a full rewrite clears the ledger), then ADD")
      val dup = newCols.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
      require(dup.isEmpty, s"ADD COLUMNS: duplicate column(s) ${dup.mkString(", ")}")
      val extended = types.StructType(
        schema.fields ++ newCols.map(_.copy(nullable = true)))
      val lines = s.lines.map {
        case l if l.startsWith("#schema=") => "#schema=" + enc(extended.toDDL)
        case l => l
      }.mkString("\n")
      if (!MetaIO.putIfAbsent(manifestPath(path, v + 1), lines))
        throw new java.util.ConcurrentModificationException(
          s"concurrent writer committed v${v + 1} first at $path")
      MetaIO.replaceString(commitMarker(path, v + 1), System.currentTimeMillis().toString)
    }

  /** The `#dropped=` ledger at snapshot `v`: names [[dropColumns]] has
    * retired from this table's live lineage. Old files still carry
    * these columns' bytes, so re-introducing a retired name (ADD
    * COLUMNS, an upsert batch, RENAME … TO it) must refuse — the old
    * values would silently resurface as the "new" column's data for
    * every un-rewritten row. A FULL rewrite (compact/rebucket) clears
    * the ledger legitimately: after it, no live file carries the name.
    */
  def droppedColumns(path: String, version: Int = -1): Set[String] = {
    val v = if (version >= 0) version else latestVersion(path)
    if (v < 0) Set.empty else snapshot(path, v).dropped
  }

  /** Refuse a column mutation while derived state still references the
    * column by name: CHECK constraints (their stored SQL would stop
    * resolving — or worse, resolve against a different column after a
    * rename) and table-attached vector/text indexes (whose refresh
    * reads the column from the head snapshot). Dropping the dependent
    * first is the explicit, loud path.
    */
  private def refuseColumnRefs(path: String, cols: Set[String], what: String): Unit = {
    constraints(path).foreach { case (name, sql) =>
      val hit = sqlColumnRefs(sql).intersect(cols)
      require(hit.isEmpty, s"$what: column(s) ${hit.mkString(", ")} referenced by " +
        s"CHECK constraint '$name' ($sql) — DROP CONSTRAINT first")
    }
    scala.util.Try(GraftIndex.list(path)).getOrElse(Nil).foreach { im =>
      val hit = (im.vecCol +: im.keyCols).toSet.intersect(cols)
      require(hit.isEmpty, s"$what: column(s) ${hit.mkString(", ")} used by vector " +
        s"index '${im.name}' — drop the index first")
    }
    scala.util.Try(MetaIO.list(new Path(path, "_textidx"))).getOrElse(Nil)
      .filter(_.isDirectory).map(_.getPath.getName).foreach { n =>
        scala.util.Try(TextIndex.meta(path, n)).toOption.foreach { tm =>
          val hit = (tm.textCol +: tm.keyCols).toSet.intersect(cols)
          require(hit.isEmpty, s"$what: column(s) ${hit.mkString(", ")} used by text " +
            s"index '$n' — drop the index first")
        }
      }
    scala.util.Try(MetaIO.list(new Path(path, "_hnswidx"))).getOrElse(Nil)
      .filter(_.isDirectory).map(_.getPath.getName).foreach { n =>
        scala.util.Try(GraftHnsw.meta(path, n)).toOption.foreach { hm =>
          val hit = Set(hm.vecCol, hm.keyCol).intersect(cols)
          require(hit.isEmpty, s"$what: column(s) ${hit.mkString(", ")} used by HNSW " +
            s"index '$n' — drop the index first")
        }
      }
  }

  /** ALTER TABLE DROP COLUMN — METADATA-ONLY, like [[addColumns]]: the
    * new version's `#schema=` simply omits the columns, and because
    * every read path projects the RECORDED snapshot schema
    * (schema-pinned scans, point lookups, MOR delta reads alike), the
    * old files' bytes for the column are never requested again — zero
    * data IO, the Delta column-mapping cost without the mapping,
    * bought by the `#dropped=` ledger that refuses re-introducing the
    * name until a full rewrite physically clears it. Time travel is
    * untouched: pre-drop versions keep their own `#schema=` and serve
    * the column. Refuses: record-key columns (the bucket layout hashes
    * them), columns referenced by CHECK constraints or attached
    * indexes, and legacy schema-less manifests.
    */
  def dropColumns(spark: SparkSession, path: String, colNames: Seq[String],
                  maxRetries: Int = 5): Unit =
    occRetry(maxRetries) {
      require(colNames.nonEmpty, "DROP COLUMN: no columns given")
      val s = snapshotAt(path, -1)
      val v = s.version
      val schema = s.schema.getOrElse(throw new IllegalStateException(
        s"$path: no recorded snapshot schema (legacy manifest) — " +
          "commit once through a write to upgrade, then ALTER"))
      val (keys, _, _) = meta(path)
      colNames.foreach { c =>
        require(schema.fieldNames.contains(c), s"DROP COLUMN: no column '$c' " +
          s"(schema: ${schema.fieldNames.mkString(", ")})")
        require(!keys.contains(c), s"DROP COLUMN: '$c' is a record-key column — " +
          "the bucket layout and every manifest hash it; key evolution is not supported")
      }
      require(schema.fields.length > colNames.distinct.size,
        "DROP COLUMN: cannot drop every column")
      refuseColumnRefs(path, colNames.toSet, "DROP COLUMN")
      val remaining = types.StructType(
        schema.fields.filterNot(f => colNames.contains(f.name)))
      val ledger = s.dropped ++ colNames
      require(ledger.forall(c => !c.contains(",")),
        s"DROP COLUMN: ',' in a column name breaks the ledger encoding")
      val droppedLine = "#dropped=" + enc(ledger.toSeq.sorted.mkString(","))
      val lines = s.lines
        .filterNot(_.startsWith("#dropped=")).flatMap {
          case l if l.startsWith("#schema=") =>
            Seq("#schema=" + enc(remaining.toDDL), droppedLine)
          case l => Seq(l)
        }
      if (!MetaIO.putIfAbsent(manifestPath(path, v + 1), lines.mkString("\n")))
        throw new java.util.ConcurrentModificationException(
          s"concurrent writer committed v${v + 1} first at $path")
      MetaIO.replaceString(commitMarker(path, v + 1), System.currentTimeMillis().toString)
      // keep the bloom config consistent: a bloom on a dropped column
      // would make every future stats pass reference a missing column
      bloomConfig(path).foreach { case (cols, fpp) =>
        val kept = cols.filterNot(colNames.contains)
        if (kept != cols) {
          if (kept.isEmpty) MetaIO.delete(bloomMetaPath(path))
          else enableBloomFilters(path, kept, fpp)
        }
      }
    }

  /** ALTER TABLE RENAME COLUMN — a FULL COW REWRITE commit (the
    * compact/rebucket cost class, stated loudly). Plain parquet has no
    * column-id mapping, so old files cannot serve the new name; the
    * honest answer (Hudi's) is one distributed rewrite of the head
    * snapshot under the new name — which also regenerates every file's
    * stats and blooms keyed by the NEW name, so nothing recorded is
    * ever reinterpreted. Old versions keep their own schema (time
    * travel serves the old name); the full rewrite clears the
    * `#dropped=` ledger by construction, so renaming TO a previously
    * dropped name is safe here and refused nowhere else. Refuses:
    * record-key columns, existing/retired target names handled by the
    * rewrite itself, and columns referenced by constraints or attached
    * indexes.
    */
  def renameColumn(spark: SparkSession, path: String, from: String, to: String,
                   maxRetries: Int = 5): Unit =
    occRetry(maxRetries) {
      val s = snapshotAt(path, -1)
      val schema = s.schema.getOrElse(throw new IllegalStateException(
        s"$path: no recorded snapshot schema (legacy manifest) — " +
          "commit once through a write to upgrade, then ALTER"))
      require(schema.fieldNames.contains(from), s"RENAME COLUMN: no column '$from' " +
        s"(schema: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(to),
        s"RENAME COLUMN: column '$to' already exists")
      require(to.nonEmpty && !to.contains(",") && !to.contains("\t") && !to.contains("\n"),
        s"RENAME COLUMN: bad target name '$to'")
      val keys = keyColumns(path)
      require(!keys.contains(from), s"RENAME COLUMN: '$from' is a record-key column — " +
        "the bucket layout and every manifest hash it; key evolution is not supported")
      refuseColumnRefs(path, Set(from), "RENAME COLUMN")
      writeVersion(read(spark, s).withColumnRenamed(from, to), path, keys, s.nbuckets,
        s.version + 1, Some(s), carryOver = Map.empty, sortWithin = keys, recordSorted = true)
      // carry a bloom on the renamed column to its new name
      bloomConfig(path).foreach { case (cols, fpp) =>
        if (cols.contains(from))
          enableBloomFilters(path, cols.map(c => if (c == from) to else c), fpp)
      }
    }

  /** Upsert = merge into the touched buckets only; untouched buckets are
    * carried over by manifest reference (no rewrite, no read).
    *
    * Additive schema evolution (the Hudi behavior): updates may carry
    * NEW columns — existing rows read them as null — and may omit
    * existing non-key columns — the updated rows' omitted columns
    * become null (whole-row replace semantics, not column-level patch).
    * Key columns are always required.
    */
  /** `precombine`: Hudi's precombine-field semantics — when the update
    * batch itself repeats a key, the row with the GREATEST precombine
    * value wins (default: deterministic full-row tie-break).
    */
  /** [[upsert]] with optimistic-concurrency retry: a writer that loses
    * the commit race re-reads the new head and re-applies its batch
    * (the merge is keyed last-wins, so re-application against the
    * winner's snapshot is exactly the serial order the lock chose).
    * This is the Hudi-style auto-retry loop; the raw [[upsert]] stays
    * available for callers that want to handle conflicts themselves.
    */
  def upsertRetry(spark: SparkSession, path: String, updates: DataFrame,
                  precombine: Seq[String] = Nil, maxRetries: Int = 5): Unit =
    occRetry(maxRetries) { upsert(spark, path, updates, precombine) }

  /** [[delete]] with the same optimistic-concurrency retry loop as
    * [[upsertRetry]] (deleting a key is idempotent, so re-application
    * against the race winner's head is always safe).
    */
  def deleteRetry(spark: SparkSession, path: String, keysDf: DataFrame,
                  maxRetries: Int = 5): Unit =
    occRetry(maxRetries) { delete(spark, path, keysDf) }

  private def occRetry(maxRetries: Int)(body: => Unit): Unit = {
    var attempt = 0
    while (true) {
      try { body; return }
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
  }

  /** Cast `df`'s key columns to the table's stored key types: the
    * bucket is xxhash64 over the key VALUES AS TYPED, so an
    * Int-typed key batch against a Long-keyed table would hash into
    * the wrong bucket and silently miss its rows. Lossless for the
    * sane widenings (int→long etc.); a truly incompatible cast fails
    * in Spark's analyzer rather than corrupting placement.
    *
    * Key types come from the `_keys` file (recorded at create — O(1));
    * tables created before the field existed fall back to one snapshot
    * schema read.
    */
  private def alignKeyTypes(spark: SparkSession, s: Snapshot,
                            keys: Seq[String], keyTypes: Option[Seq[types.DataType]],
                            df: DataFrame): DataFrame = {
    val stored: Map[String, types.DataType] = keyTypes match {
      case Some(ts) => keys.zip(ts).toMap
      case None => read(spark, s).schema.fields
        .map(f => f.name -> f.dataType).toMap
    }
    keys.foldLeft(df) { (d, k) =>
      stored.get(k) match {
        case Some(t) if d.schema(k).dataType != t => d.withColumn(k, col(k).cast(t))
        case _ => d
      }
    }
  }

  /** Base read for rewrites and diffs: SCHEMA-PINNED to the version's
    * recorded snapshot (old files pad evolved columns as null, and a
    * DROPPED column's bytes are never requested — the read-side half of
    * the `#dropped=` ledger: without the pin, a rewrite's mergeSchema
    * base read would fold retired bytes back into fresh files).
    * mergeSchema only for legacy schema-less manifests.
    */
  private def readPinned(spark: SparkSession, s: Snapshot,
                         fileKeep: String => Boolean = _ => true)(g: Seq[String]): DataFrame =
    s.schema match {
      case Some(sc) => org.apache.spark.sql.graftshim.Bridge.parquetScan(spark,
        fileIndex(s, g, fileKeep), sc)
      case None => spark.read.option("mergeSchema", "true").parquet(g.map(d => s"${s.path}/$d"): _*)
    }

  /** The file list of snapshot `s`'s relative data dirs `dirs` (files
    * whose relative path passes `fileKeep`), read from its stats
    * segments ([[Snapshot.filesIn]]). Its `listFiles` drops, from the
    * pushed data filters alone, the buckets a full-key equality or IN
    * cannot hash into and the files whose stats or blooms rule the
    * filters out ([[fileKeepPredicate]]).
    */
  private[sources] def fileIndex(s: Snapshot, dirs: Seq[String],
                                 fileKeep: String => Boolean = _ => true): GraftFileIndex =
    GraftFileIndex.files(s.path, dirs.flatMap(s.filesIn).filter(f => fileKeep(f._1)),
      dataFilters =>
        fileKeepPredicate(s, org.apache.spark.sql.graftshim.Bridge.toV1Filters(dataFilters))
          .fold((_: String) => true)(identity))

  /** Rows grouped for a `partitionBy(c)` write so that each value of
    * `c` lands in ONE write task, hence one file per value per attempt:
    * a single task when the planned input fits one open-cost unit
    * (`spark.sql.files.openCostInBytes`, where a shuffle's fixed cost
    * outweighs the work it spreads), else a shuffle on `c`.
    */
  private[graft] def clusteredFor(df: DataFrame, c: String): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        org.apache.spark.sql.graftshim.Bridge.filesOpenCostInBytes) df.coalesce(1)
    else df.repartition(col(c))

  /** Native Parquet scan of table files (relative path, bytes). */
  private def scanFiles(spark: SparkSession, tableRoot: String, files: Seq[(String, Long)],
                        schema: types.StructType): DataFrame =
    org.apache.spark.sql.graftshim.Bridge.parquetScan(spark,
      GraftFileIndex.files(tableRoot, files, _ => _ => true), schema)

  private def dirOf(rel: String): String = rel.substring(0, math.max(0, rel.lastIndexOf('/')))

  def upsert(spark: SparkSession, path: String, updates0: DataFrame,
             precombine: Seq[String] = Nil): Unit =
    upsertImpl(spark, path, updates0, precombine, branch = None)

  /** The COW upsert body, parameterized by the commit target: mainline
    * (merge against latestVersion, commit v+1 with a marker) or a
    * branch (merge against the branch head SLOT, stage at a branch
    * slot, serialize through the branch's sequence record).
    */
  private def upsertImpl(spark: SparkSession, path: String, updates0: DataFrame,
                         precombine: Seq[String], branch: Option[String]): Unit = {
    val s = snapshotAt(path, branch.fold(latestVersion(path))(branchHead(path, _)))
    val (keys, _, keyTypes) = meta(path)
    val nbuckets = s.nbuckets
    keys.foreach(k => require(updates0.columns.contains(k), s"updates missing key column $k"))
    val updates = alignKeyTypes(spark, s, keys, keyTypes, updates0)
    val current = s.dirs
    val touched = updates.select(bucketCol(keys, nbuckets).as(BUCKET))
      .distinct().collect().map(_.getInt(0)).toSet
    val baseDirs = current.filter { case (b, _) => touched(b) }.values.toSeq
    // MOR-log-aware base: a rewritten bucket must not resurrect rows a
    // deletion vector removed, and must MATERIALIZE the delta winner
    // rows of its buckets (including buckets with no dir yet) — the
    // rewrite folds the log for everything it touches
    val base = readMor(spark, s, baseDirs, Some(touched))(g =>
      if (g.isEmpty) updates.limit(0)
      else readPinned(spark, s)(g))
    val (base2, updates2) = alignSchemas(base, updates)
    // the merge's key shuffle clusters on the bucket (a function of the
    // key), so the write leaves one file per touched bucket
    val merged = Upsert.merge(base2.withColumn(BUCKET, bucketCol(keys, nbuckets)),
      updates2.withColumn(BUCKET, bucketCol(keys, nbuckets)), keys, precombine.map(col),
      clusterBy = Some(BUCKET))
    val carryOver = current.filter { case (b, _) => !touched(b) }
    branch match {
      case None =>
        writeVersion(merged, path, keys, nbuckets, s.version + 1, Some(s), carryOver,
          touched = touched, clustered = true)
      case Some(n) =>
        val seq = branchCommits(path, n).lastOption.fold(1)(_._1 + 1)
        writeVersion(merged, path, keys, nbuckets, nextBranchSlot(path), Some(s), carryOver,
          touched = touched, branchCommit = Some((n, seq)),
          dirVersion = branchBase(path, n) + seq, clustered = true)
    }
  }

  /** Merge-on-read upsert (delta commit): commit a version whose
    * manifest is the previous one plus a `#delta=` line naming a small
    * parquet file of the upserted ROWS — no bucket is read or
    * rewritten. The COW [[upsert]] rewrites every touched bucket,
    * which for a trickle of scattered updates (one key per bucket —
    * the streaming-ingest shape) multiplies each written byte by the
    * bucket size; this path writes O(batch) bytes and every read
    * merges the log by key (version-scoped: the newest delta row for a
    * key wins over the stored row and older log events, exactly
    * last-writer-wins — the same outcome a COW upsert would commit).
    * Hudi's MOR log-file write / Delta's deletion-vector counterpart
    * for upserts, keyed by record key.
    *
    * `precombine` resolves repeats WITHIN the batch (Hudi's
    * precombine-field); across commits the later version wins, which
    * is the COW merge's rule too ([[Upsert.merge]] orders by version
    * before precombine).
    *
    * Additive schema evolution works like COW: a batch may add new
    * columns (the committed manifest records the widened snapshot
    * schema) and may omit existing non-key columns (whole-row replace
    * semantics — omitted columns read as null).
    *
    * The delta is written as ONE file: delta batches are small by
    * contract (trickle/streaming writes — bulk loads belong on the COW
    * path), and [[compact]] or any rewrite of the affected buckets
    * folds them away. Reads pay one planned scan per outstanding log
    * file, so compact regularly.
    */
  def upsertMor(spark: SparkSession, path: String, updates0: DataFrame,
                precombine: Seq[String] = Nil): Unit = {
    val s = snapshotAt(path, -1)
    val v = s.version
    val (keys, _, keyTypes) = meta(path)
    keys.foreach(k => require(updates0.columns.contains(k), s"updates missing key column $k"))
    val updates = alignKeyTypes(spark, s, keys, keyTypes, updates0)
    // in-batch dedupe under the SAME winner rule the COW merge applies
    // (precombine desc, deterministic tie-break) — the stored delta
    // holds one row per key, so read-side merging never re-arbitrates
    val deduped = Upsert.merge(updates.limit(0), updates, keys, precombine.map(col))
    if (deduped.isEmpty) return // empty batch: no version, same as a no-op upsert
    // align to the (possibly widened) snapshot schema: same-named
    // columns cast to the table's type, omitted columns null-padded,
    // genuinely new columns appended — the stored file IS the new
    // snapshot schema, so schema-pinned reads never hit a type clash
    val prevSc = s.schema.getOrElse(
      types.StructType(read(spark, s).schema.fields.map(_.copy(nullable = true))))
    val newSc = types.StructType(prevSc.fields ++
      deduped.schema.fields.filterNot(f => prevSc.fieldNames.contains(f.name))
        .map(_.copy(nullable = true)))
    // same resurrect guard as the COW path: a delta batch must not
    // widen the schema with a name the #dropped ledger retired
    val morResurrected = (newSc.fieldNames.toSet -- prevSc.fieldNames.toSet)
      .intersect(s.dropped)
    if (morResurrected.nonEmpty)
      throw new IllegalArgumentException(
        s"delta batch re-introduces previously dropped column(s) " +
          s"${morResurrected.mkString(", ")} at $path — un-rewritten files still " +
          "carry the old values under that name; compact() first, then re-add")
    val aligned = deduped.select(newSc.fields.map { f =>
      (if (deduped.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }.toIndexedSeq: _*)
    val rel = s"delta/v${v + 1}-${java.util.UUID.randomUUID.toString.take(8)}"
    // same CHECK guard as the COW path — a delta row is a stored row
    constraintGuard(path, aligned).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/$rel")
    // manifest: previous text verbatim, headers upgraded, #schema
    // replaced when the batch widened it, plus this delta's line
    var lines = s.headedText.split("\n").toSeq
    val scLine = "#schema=" + enc(newSc.toDDL)
    lines =
      if (lines.exists(_.startsWith("#schema=")))
        lines.map(l => if (l.startsWith("#schema=")) scLine else l)
      else scLine +: lines
    lines = lines :+ s"#delta=$rel"
    if (!MetaIO.putIfAbsent(manifestPath(path, v + 1), lines.mkString("\n")))
      throw new java.util.ConcurrentModificationException(
        s"concurrent writer committed v${v + 1} first at $path; re-read and retry the upsert")
    MetaIO.replaceString(commitMarker(path, v + 1), System.currentTimeMillis().toString)
  }

  /** [[upsertMor]] with the optimistic-concurrency retry loop of
    * [[upsertRetry]] (a losing writer's orphaned delta file is
    * vacuum-reclaimed like an orphaned data dir).
    */
  def upsertMorRetry(spark: SparkSession, path: String, updates: DataFrame,
                     precombine: Seq[String] = Nil, maxRetries: Int = 5): Unit =
    occRetry(maxRetries) { upsertMor(spark, path, updates, precombine) }

  /** Delete by key: drop every row whose key appears in `keysDf` (extra
    * columns are ignored). Same touched-bucket COW path as upsert — only
    * the buckets the keys hash into are read and rewritten (anti-join
    * against the key set, broadcast when small), untouched buckets carry
    * over by manifest reference, so cost is O(touched buckets), not
    * O(table). Hudi's `operation=delete` (demo.ipynb cell 8 API family).
    * A bucket whose rows are all deleted drops out of the manifest;
    * [[changes]] reports the removals with `_deleted = true`.
    */
  def delete(spark: SparkSession, path: String, keysDf: DataFrame): Unit =
    deleteImpl(spark, path, keysDf, branch = None)

  private def deleteImpl(spark: SparkSession, path: String, keysDf: DataFrame,
                         branch: Option[String]): Unit = {
    val s = snapshotAt(path, branch.fold(latestVersion(path))(branchHead(path, _)))
    val (keys, _, keyTypes) = meta(path)
    val nbuckets = s.nbuckets
    keys.foreach(k => require(keysDf.columns.contains(k), s"delete batch missing key column $k"))
    val keyOnly = alignKeyTypes(spark, s, keys, keyTypes, keysDf)
      .select(keys.map(col): _*).distinct()
    val current = s.dirs
    val touched = keyOnly.select(bucketCol(keys, nbuckets).as(BUCKET))
      .distinct().collect().map(_.getInt(0)).toSet
    val baseDirs = current.filter { case (b, _) => touched(b) }.values.toSeq
    // with no stored bucket AND no delta commits, no row can hold these
    // keys; delta rows may live in buckets with no dir, so they keep
    // the rewrite alive
    if (baseDirs.isEmpty && s.delta.isEmpty) return
    val base = readMor(spark, s, baseDirs, Some(touched))(g =>
      if (g.isEmpty) keyOnly.limit(0)
      else readPinned(spark, s)(g))
    val remaining = base.join(keyOnly, keys, "left_anti")
    val carryOver = current.filter { case (b, _) => !touched(b) }
    branch match {
      case None =>
        writeVersion(remaining, path, keys, nbuckets, s.version + 1, Some(s), carryOver,
          touched = touched)
      case Some(n) =>
        val seq = branchCommits(path, n).lastOption.fold(1)(_._1 + 1)
        writeVersion(remaining, path, keys, nbuckets, nextBranchSlot(path), Some(s), carryOver,
          touched = touched, branchCommit = Some((n, seq)),
          dirVersion = branchBase(path, n) + seq)
    }
  }

  /** Merge-on-read delete by key (deletion vectors): commit a version
    * whose manifest is the previous one plus a `#dv=` line naming a
    * small parquet file of the deleted keys — NO data dir is read or
    * rewritten. The COW [[delete]] rewrites every touched bucket, which
    * for a scattered key set (one key per bucket — the GDPR-erasure
    * shape) approaches a full-table rewrite at 100 TB; this path writes
    * O(|keys|) bytes and every read applies the DV as a broadcast
    * anti-join (version-scoped — see the deletion-vector section above;
    * a later upsert re-inserting a deleted key wins). Deletes
    * accumulate one tiny file per call; [[compact]] (or any rewrite of
    * the affected buckets) folds them away. [[changes]] reports the
    * removals with `_deleted = true` exactly like a COW delete.
    */
  def deleteMor(spark: SparkSession, path: String, keysDf: DataFrame): Unit = {
    val s = snapshotAt(path, -1)
    val (keys, _, keyTypes) = meta(path)
    keys.foreach(k => require(keysDf.columns.contains(k), s"delete batch missing key column $k"))
    val keyOnly = alignKeyTypes(spark, s, keys, keyTypes, keysDf)
      .select(keys.map(col): _*).distinct()
    if (keyOnly.isEmpty) return // no keys: no version, same as a no-op DELETE
    commitDv(spark, s, keyOnly)
  }

  /** [[deleteMor]] with the optimistic-concurrency retry loop (key
    * deletion is idempotent; a losing writer's orphaned DV file is
    * vacuum-reclaimed like an orphaned data dir).
    */
  def deleteMorRetry(spark: SparkSession, path: String, keysDf: DataFrame,
                     maxRetries: Int = 5): Unit =
    occRetry(maxRetries) { deleteMor(spark, path, keysDf) }

  /** Predicate delete, merge-on-read: the stats-pruned match scan of
    * [[deleteWhere]] (phases 1–2) finds the matching rows, but instead
    * of rewriting their buckets the matching KEYS are committed as a
    * deletion vector. Read cost O(candidate buckets), write cost
    * O(matches) — nothing is rewritten. Returns the number of rows
    * deleted (keys are unique in a keyed table, and the DV-aware match
    * scan never counts a row an earlier DV already removed).
    */
  def deleteWhereMor(spark: SparkSession, path: String, cond: Column): Long = {
    val s = snapshotAt(path, -1)
    val keys = keyColumns(path)
    val filters = org.apache.spark.sql.graftshim.Bridge
      .translateFilters(read(spark, s), cond)
    val candidates = candidateBuckets(spark, s, filters)
    if (candidates.isEmpty) return 0L
    val matched = readBuckets(spark, s, candidates)
      .filter(coalesce(cond, lit(false)))
      .select(keys.map(col): _*).distinct()
    val n = matched.count()
    if (n == 0L) return 0L
    commitDv(spark, s, matched)
    n
  }

  def deleteWhereMorRetry(spark: SparkSession, path: String, cond: Column,
                          maxRetries: Int = 5): Long = {
    var n = 0L
    occRetry(maxRetries) { n = deleteWhereMor(spark, path, cond) }
    n
  }

  /** Write `keyOnly` (already typed and key-projected) as version
    * v+1's deletion vector: DV parquet first, then the manifest commit
    * under the same put-if-absent lock every writer uses. The new
    * manifest is the previous text verbatim (bucket lines, stats
    * references, earlier #dv lines) plus this DV's line; a legacy
    * manifest is upgraded with #nbuckets/#schema headers first so every
    * DV-bearing snapshot plans from recorded metadata.
    */
  private def commitDv(spark: SparkSession, s: Snapshot, keyOnly: DataFrame): Unit = {
    val (path, v) = (s.path, s.version)
    val rel = s"dv/v${v + 1}-${java.util.UUID.randomUUID.toString.take(8)}"
    // one file: a DV is small by contract (compact folds it away long
    // before the single-writer coalesce could matter)
    keyOnly.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/$rel")
    val schemaLine =
      if (s.schema.isDefined) Nil
      else {
        val sc = types.StructType(read(spark, s).schema.fields.map(_.copy(nullable = true)))
        Seq(s"#schema=${enc(sc.toDDL)}")
      }
    val lines = (schemaLine :+ s.headedText :+ s"#dv=$rel").mkString("\n")
    if (!MetaIO.putIfAbsent(manifestPath(path, v + 1), lines))
      throw new java.util.ConcurrentModificationException(
        s"concurrent writer committed v${v + 1} first at $path; re-read and retry the delete")
    MetaIO.replaceString(commitMarker(path, v + 1), System.currentTimeMillis().toString)
  }

  /** Buckets whose recorded file stats cannot RULE OUT a row matching
    * `filters`. Stat-less dirs (legacy writes, failed stats jobs) are
    * always candidates — pruning is an optimization, never a filter.
    */
  private def candidateBuckets(spark: SparkSession, s: Snapshot,
                               filters: Seq[org.apache.spark.sql.sources.Filter])
      : Set[Int] = {
    // delta winner rows are not stats-indexed (they live in the log,
    // not in manifest-described files), so every bucket holding delta
    // keys is a candidate regardless of what file stats rule out —
    // including buckets with no data dir at all
    val deltaBuckets: Set[Int] =
      if (s.delta.isEmpty) Set.empty
      else spark.read.parquet(s.delta.map(e => s"${s.path}/${e._1}"): _*)
        .select(bucketCol(keyColumns(s.path), s.nbuckets).as(BUCKET)).distinct()
        .collect().map(_.getInt(0)).toSet
    val current = s.dirs
    if (filters.isEmpty) return current.keySet ++ deltaBuckets
    val stats = s.fileStats
    if (stats.isEmpty) return current.keySet ++ deltaBuckets
    val schema = s.schema.getOrElse(return current.keySet ++ deltaBuckets)
    val kinds = schema.fields.flatMap(f => statKind(f.dataType).map(f.name -> _)).toMap
    current.filter { case (_, d) =>
      val files = stats.keys.filter(_.startsWith(d + "/"))
      files.isEmpty ||
        files.exists(rel => filters.forall(fl => mayMatch(stats(rel), kinds, fl)))
    }.keySet ++ deltaBuckets
  }

  private val BucketDirRe = s"$BUCKET=(\\d+)/".r

  /** Second pruning phase of predicate DML (Delta's DELETE/UPDATE do
    * exactly this): one scan of the stats-surviving candidate buckets
    * finds which buckets ACTUALLY hold matching rows, so a false-
    * positive candidate (stats couldn't disprove, no row matches) is
    * never rewritten. Returns (buckets holding matches, matching rows).
    */
  private def bucketsWithMatches(spark: SparkSession, s: Snapshot,
                                 candidates: Set[Int], cond: Column): (Set[Int], Long) = {
    if (candidates.isEmpty) return (Set.empty, 0L)
    if (!s.hasLog) {
      // pure-COW path: attribute matches to buckets via the file name,
      // captured AT SCAN LEVEL (it is undefined above joins)
      val perFile = readBuckets(spark, s, candidates)
        .withColumn("__f", input_file_name())
        .filter(coalesce(cond, lit(false)))
        .groupBy(col("__f")).agg(count(lit(1)).as("__n"))
        .collect()
      val buckets = perFile.flatMap(r =>
        BucketDirRe.findFirstMatchIn(r.getString(0)).map(_.group(1).toInt)).toSet
      (buckets, perFile.map(_.getLong(1)).sum)
    } else {
      // MOR path: delta winner rows carry no file name — attribute via
      // the SAME bucket hash the writers use (all dirs of one snapshot
      // share its layout; rebucket is a full rewrite that drops the log)
      val perBucket = readBuckets(spark, s, candidates)
        .filter(coalesce(cond, lit(false)))
        .groupBy(bucketCol(keyColumns(s.path), s.nbuckets).as(BUCKET)).agg(count(lit(1)).as("__n"))
        .collect()
      (perBucket.map(_.getInt(0)).toSet, perBucket.map(_.getLong(1)).sum)
    }
  }

  /** Predicate delete — `DELETE FROM t WHERE cond` (Delta/Hudi DML, a
    * surface key-based [[delete]] can't express). Three phases, each
    * narrowing what the next one touches, so cost is O(buckets holding
    * matches), not O(table):
    *
    *  1. `cond` is translated to DSv1 filters (the exact translation
    *     Spark applies for `PrunedFilteredScan`) and tested against the
    *     manifest's per-file min/max stats — buckets provably free of
    *     matches drop out without any data IO.
    *  2. One scan of the surviving candidates finds the buckets that
    *     ACTUALLY hold matching rows (filter pushed to parquet).
    *  3. Only those buckets are rewritten without their matching rows
    *     (rows where `cond` is NULL are kept — SQL DELETE semantics);
    *     every other bucket carries over by manifest reference.
    *
    * Zero matches ⇒ no new version is committed (a no-op DELETE leaves
    * no history entry). Returns the number of rows deleted; [[changes]]
    * reports them with `_deleted = true`.
    */
  def deleteWhere(spark: SparkSession, path: String, cond: Column): Long = {
    val s = snapshotAt(path, -1)
    val filters = org.apache.spark.sql.graftshim.Bridge
      .translateFilters(read(spark, s), cond)
    val candidates = candidateBuckets(spark, s, filters)
    val (touched, matchedRows) = bucketsWithMatches(spark, s, candidates, cond)
    if (touched.isEmpty) return 0L
    val remaining = readBuckets(spark, s, touched)
      .filter(!coalesce(cond, lit(false)))
    val carryOver = s.dirs.filter { case (b, _) => !touched(b) }
    writeVersion(remaining, path, keyColumns(path), s.nbuckets, s.version + 1, Some(s),
      carryOver, touched = touched)
    matchedRows
  }

  /** Predicate update — `UPDATE t SET col = expr, … WHERE cond`. Same
    * three-phase stats-pruned COW as [[deleteWhere]]: only buckets
    * actually holding matching rows are rewritten, with each SET
    * expression applied under `cond` (NULL = not matched) and cast to
    * the column's existing type, so the table schema never drifts.
    * SET expressions may reference any table column (`SET a = b + 1`).
    *
    * Key columns cannot be SET: a key update changes the row's bucket
    * (and can collide with an existing key elsewhere) — that operation
    * is a delete + upsert, and silently rebucketing here would corrupt
    * point-lookup placement. Returns the number of rows updated.
    */
  def update(spark: SparkSession, path: String, cond: Column,
             set: Map[String, Column]): Long = {
    require(set.nonEmpty, "update needs at least one SET column")
    val s = snapshotAt(path, -1)
    val keys = keyColumns(path)
    val snapshot = read(spark, s)
    val schema = snapshot.schema
    set.keys.foreach { c =>
      require(schema.fieldNames.contains(c), s"SET column $c not in table schema")
      require(!keys.contains(c),
        s"cannot SET key column $c — a key update moves the row's bucket; delete + upsert instead")
    }
    val filters = org.apache.spark.sql.graftshim.Bridge.translateFilters(snapshot, cond)
    val candidates = candidateBuckets(spark, s, filters)
    val (touched, matchedRows) = bucketsWithMatches(spark, s, candidates, cond)
    if (touched.isEmpty) return 0L
    val hit = coalesce(cond, lit(false))
    val outCols = schema.fields.map { f =>
      set.get(f.name) match {
        case Some(e) => when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }
    val rewritten = readBuckets(spark, s, touched)
      .select(outCols.toIndexedSeq: _*)
    writeVersion(rewritten, path, keys, s.nbuckets, s.version + 1, Some(s),
      s.dirs.filter { case (b, _) => !touched(b) }, touched = touched)
    matchedRows
  }

  /** Conditional MERGE INTO the table — the clause family of
    * [[Upsert.mergeConditional]] (WHEN MATCHED AND … THEN
    * DELETE/UPDATE, WHEN NOT MATCHED AND … THEN INSERT; conditions and
    * SET expressions reference the `t`/`s` aliases) applied through
    * the same touched-bucket COW as [[upsert]]: the target side of the
    * merge join is ONLY the buckets the source keys hash into, every
    * other bucket carries over by manifest reference. A 0.1 % MERGE
    * against a 100 TB table reads and rewrites ~0.1 % of it.
    */
  def mergeInto(spark: SparkSession, path: String, source0: DataFrame,
                matchedDelete: Option[Column] = None,
                matchedUpdate: Option[(Column, Map[String, Column])] = None,
                notMatchedInsert: Option[Column] = Some(lit(true)),
                notMatchedInsertSet: Map[String, Column] = Map.empty,
                bySourceDelete: Option[Column] = None,
                bySourceUpdate: Option[(Column, Map[String, Column])] = None): Unit = {
    val s = snapshotAt(path, -1)
    val (keys, _, keyTypes) = meta(path)
    val nbuckets = s.nbuckets
    keys.foreach(k => require(source0.columns.contains(k), s"source missing key column $k"))
    // same invariant update() enforces: a SET that rewrites a key column
    // would leave the row in the bucket its OLD key hashed to — point
    // lookups and future upserts would then miss it. Delete + upsert is
    // the supported way to move a row's key.
    (matchedUpdate.toSeq ++ bySourceUpdate.toSeq).foreach { case (_, set) =>
      set.keys.foreach(c => require(!keys.contains(c),
        s"cannot SET key column $c in a MERGE UPDATE clause — a key update moves " +
          "the row's bucket; delete + upsert instead"))
    }
    notMatchedInsertSet.keys.foreach(c => require(!keys.contains(c),
      s"cannot override key column $c in WHEN NOT MATCHED INSERT — the inserted " +
        "row was bucketed by its source key; insert the desired key in the source instead"))
    val source = alignKeyTypes(spark, s, keys, keyTypes, source0)
    val current = s.dirs
    // WHEN NOT MATCHED BY SOURCE reaches target rows in EVERY bucket
    // (any row may lack a source pair), so the statement is a
    // full-table rewrite — the same cost Delta pays for these clauses.
    // Stated loudly here because the clause changes the cost class:
    // without by-source clauses a 0.1 % MERGE touches ~0.1 % of the
    // buckets; with them it rewrites the table.
    val bySource = bySourceDelete.nonEmpty || bySourceUpdate.nonEmpty
    val sourceBuckets = source.select(bucketCol(keys, nbuckets).as(BUCKET))
      .distinct().collect().map(_.getInt(0)).toSet
    // by-source: every manifest bucket PLUS the source's (an insert may
    // hash into a bucket the manifest doesn't hold yet)
    val touched =
      if (bySource) current.keys.toSet ++ sourceBuckets else sourceBuckets
    // empty source: without by-source clauses nothing can change (no
    // new version); WITH them, every target row is not-matched-by-
    // source and the clauses must still run
    if (touched.isEmpty && !bySource) return
    val base = readBuckets(spark, s, touched)
    val merged = Upsert.mergeConditional(base, source, keys,
      matchedDelete, matchedUpdate, notMatchedInsert, notMatchedInsertSet,
      bySourceDelete, bySourceUpdate)
    val carryOver = current.filter { case (b, _) => !touched(b) }
    writeVersion(merged, path, keys, nbuckets, s.version + 1, Some(s), carryOver,
      touched = touched)
  }

  /** [[deleteWhere]]/[[update]]/[[mergeInto]] with the optimistic-
    * concurrency retry loop of [[upsertRetry]] — each attempt re-reads
    * the head version, so re-application against a race winner's
    * snapshot is exactly a fresh run of the statement.
    */
  def deleteWhereRetry(spark: SparkSession, path: String, cond: Column,
                       maxRetries: Int = 5): Long = {
    var n = 0L
    occRetry(maxRetries) { n = deleteWhere(spark, path, cond) }
    n
  }

  def updateRetry(spark: SparkSession, path: String, cond: Column,
                  set: Map[String, Column], maxRetries: Int = 5): Long = {
    var n = 0L
    occRetry(maxRetries) { n = update(spark, path, cond, set) }
    n
  }

  def mergeIntoRetry(spark: SparkSession, path: String, source: DataFrame,
                     matchedDelete: Option[Column] = None,
                     matchedUpdate: Option[(Column, Map[String, Column])] = None,
                     notMatchedInsert: Option[Column] = Some(lit(true)),
                     notMatchedInsertSet: Map[String, Column] = Map.empty,
                     bySourceDelete: Option[Column] = None,
                     bySourceUpdate: Option[(Column, Map[String, Column])] = None,
                     maxRetries: Int = 5): Unit =
    occRetry(maxRetries) {
      mergeInto(spark, path, source, matchedDelete, matchedUpdate,
        notMatchedInsert, notMatchedInsertSet, bySourceDelete, bySourceUpdate)
    }

  /** Metadata-only row count — Delta's `SELECT COUNT(*)` fast path: the
    * sum of the manifest's per-file row counts, answered from the
    * manifest + stat segments without opening a single data file (at
    * 100 TB: a few KB of metadata reads vs a full scan). None when any
    * snapshot dir lacks recorded stats (legacy writes, a failed stats
    * job, or a dir holding only empty files — completeness can't be
    * proven), in which case the caller falls back to `read().count()`.
    */
  def countRows(path: String, version: Int = -1): Option[Long] =
    countRows(snapshotAt(path, version))

  def countRows(s: Snapshot): Option[Long] = {
    // the MOR log changes the row count in ways metadata can't see:
    // a DV may name keys that never existed, a delta both inserts and
    // replaces — the stats answer would miscount either way
    if (s.hasLog) return None
    val stats = s.fileStats
    val dirs = s.dirs.values.toSeq
    if (!dirs.forall(d => stats.keys.exists(_.startsWith(d + "/")))) None
    else Some(dirs.flatMap(d =>
      stats.collect { case (rel, st) if rel.startsWith(d + "/") => st.rows }).sum)
  }

  /** Per-column slice of a metadata-only snapshot profile: exact null
    * count, min/max in the stats' serialized rendering (numerics as
    * decimal strings, strings as text, timestamps as epoch-micros).
    * A None bound means "not exactly answerable from metadata", never
    * a guess.
    */
  final case class ColumnProfile(nullCount: Long, min: Option[String], max: Option[String])

  /** Metadata-only column profile of a snapshot — the release-audit
    * twin of the full-scan `pipeline_profile` query: snapshot row count
    * plus per-column null counts and min/max, derived ENTIRELY from the
    * manifest's stats segments. Zero data-file IO, so profiling every
    * commit (and diffing profiles across versions — the drift audit a
    * 100 TB ingest pipeline wants) costs O(files) metadata lines at any
    * table size.
    *
    * Loud-or-safe exactness rules (None / dropped instead of wrong):
    *  - declines entirely while a MOR log is outstanding (a DV may name
    *    keys that never existed, a delta inserts AND replaces — the
    *    [[countRows]] rule) or when any referenced dir lacks stats
    *    coverage (legacy manifests).
    *  - a bound any covering file can't answer exactly reports None:
    *    oversized text max, possibly-truncated 120-char text min.
    *  - a file with stats but no line for a column predates that
    *    column's additive evolution — its rows read as null and are
    *    counted exactly; columns beyond the 32-column stat cap are
    *    dropped from the report instead of misread as all-null.
    *  - string bounds merge under UTF-8 byte order (Spark/DuckDB binary
    *    collation), not Java's UTF-16 compareTo.
    */
  def statsProfile(path: String, version: Int = -1): Option[(Long, Map[String, ColumnProfile])] =
    statsProfile(snapshotAt(path, version))

  def statsProfile(s: Snapshot): Option[(Long, Map[String, ColumnProfile])] = {
    if (s.hasLog) return None
    val sc = s.schema.getOrElse(return None)
    val stats = s.fileStats
    val dirs = s.dirs.values.toSeq
    if (!dirs.forall(d => stats.keys.exists(_.startsWith(d + "/")))) return None
    val files = stats.filter { case (rel, _) =>
      val cut = rel.lastIndexOf('/')
      cut > 0 && dirs.contains(rel.substring(0, cut))
    }.values.toSeq
    val totalRows = files.map(_.rows).sum
    def utf8Cmp(a: String, b: String): Int = {
      val x = a.getBytes(StandardCharsets.UTF_8); val y = b.getBytes(StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    }
    def pick(kind: String, vals: Seq[String], isMin: Boolean): String = kind match {
      case "num" => if (isMin) vals.minBy(BigDecimal(_)) else vals.maxBy(BigDecimal(_))
      case "ts"  => if (isMin) vals.minBy(_.toLong) else vals.maxBy(_.toLong)
      case _ =>
        val ord = Ordering.fromLessThan[String]((a, b) => utf8Cmp(a, b) < 0)
        if (isMin) vals.min(ord) else vals.max(ord)
    }
    val profiled = statFields(sc).map { f =>
      val kind = statKind(f.dataType).get
      // per-file contribution: Right(Some(bound)) exact, Right(None) no
      // non-null values, Left(()) unknown → whole column bound unknown
      def bound(st: FileStat, isMin: Boolean): Either[Unit, Option[String]] =
        st.cols.get(f.name) match {
          case None => Right(None) // pre-evolution file: all rows null
          case Some(cs) =>
            val raw = if (isMin) cs.min else cs.max
            raw match {
              case Some(s) if isMin && kind == "str" && s.length >= 120 => Left(())
              // a rendering `pick` can't order exactly (double NaN/
              // Infinity cast to string) is UNKNOWN, never a crash
              case Some(s) if kind == "num" &&
                scala.util.Try(BigDecimal(s)).isFailure => Left(())
              case Some(s) if kind == "ts" &&
                scala.util.Try(s.toLong).isFailure => Left(())
              case Some(s) => Right(Some(s))
              case None if cs.nullCount == st.rows => Right(None)
              case None => Left(())
            }
        }
      def merged(isMin: Boolean): Option[String] = {
        val bs = files.map(bound(_, isMin))
        if (bs.exists(_.isLeft)) None
        else {
          val vs = bs.collect { case Right(Some(s)) => s }
          if (vs.isEmpty) None else Some(pick(kind, vs, isMin))
        }
      }
      val nulls = files.map(st =>
        st.cols.get(f.name).map(_.nullCount).getOrElse(st.rows)).sum
      f.name -> ColumnProfile(nulls, merged(isMin = true), merged(isMin = false))
    }.toMap
    Some((totalRows, profiled))
  }

  /** One column's profile on each side of a [[statsDrift]] — None for a
    * side where the column has no exact profile (absent pre-evolution,
    * or past the stat cap) instead of a guessed bound.
    */
  final case class ColumnDrift(from: Option[ColumnProfile], to: Option[ColumnProfile])

  /** Metadata-only DRIFT report between two committed snapshots — the
    * release-gate diff a 100 TB ingest pipeline reads per commit: row-
    * count movement plus per-column null-count and bound movement,
    * derived entirely from the two versions' [[statsProfile]]s. Zero
    * data-file IO, so diffing every commit costs O(files) metadata
    * lines per side at any table size — vs the two full scans the same
    * report costs from data. Loud-or-safe inherits from statsProfile:
    * None when EITHER side declines (outstanding MOR log, missing stats
    * coverage) — never a report built on partial metadata.
    */
  def statsDrift(path: String, fromVersion: Int, toVersion: Int)
      : Option[(Long, Long, Map[String, ColumnDrift])] =
    for {
      (rowsFrom, profFrom) <- statsProfile(path, fromVersion)
      (rowsTo, profTo) <- statsProfile(path, toVersion)
    } yield (rowsFrom, rowsTo,
      (profFrom.keySet ++ profTo.keySet).map { c =>
        c -> ColumnDrift(profFrom.get(c), profTo.get(c))
      }.toMap)

  // ---- ANALYZE: column NDV statistics for the query planner ------------
  //
  // The `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS` analog (Delta/
  // Hive): ONE aggregate scan computes per-column distinct counts (and
  // byte lengths for strings), recorded in a `_ndv` sidecar stamped
  // with the analyzed version. The v2 scan serves these through
  // `Statistics.columnStats()`, which Spark's `transformV2Stats`
  // translates into catalyst per-attribute ColumnStat — the numbers
  // the cost-based optimizer prices joins and aggregates with
  // (`spark.sql.cbo.enabled`). Null counts and min/max bounds do NOT
  // live here: the manifest's stats segments already carry them
  // snapshot-EXACTLY at zero scan cost; ANALYZE records only what
  // metadata cannot know (distinctness). Planner numbers are estimates
  // by contract, so a stale NDV (commits since the analyze) is served
  // as-is with its version visible — re-ANALYZE after bulk changes,
  // exactly like every warehouse.

  private def ndvPath(path: String) = new Path(path, "_ndv")

  /** One analyzed column: distinct count, plus (avgLen, maxLen) in
    * bytes for strings (the broadcast-sizing inputs CBO wants), plus
    * an optional equi-height histogram (height, bins as
    * (lo, hi, ndv) over the column's double-projected domain — the
    * internal rep Catalyst's estimation uses: days for dates, micros
    * for timestamps).
    */
  final case class ColumnNdv(ndv: Long, strLen: Option[(Long, Long)],
                             hist: Option[(Double, Seq[(Double, Double, Long)])] = None)

  /** Run the analyze scan and record the `_ndv` sidecar; returns the
    * per-column numbers. Exact NDV by default — a multi-column
    * countDistinct compiles to one Expand pass (|cols| projections of
    * one scan; the cost is real and stated). `approx = true` swaps in
    * HLL `approx_count_distinct` — the 100 TB path: one true scan, no
    * expansion, ±2% — planner estimates don't need the exact regime.
    * Complex-typed columns (array/map/struct/binary) are skipped: CBO
    * never prices them and their NDV is ill-defined for planning.
    */
  /** The double projection of a column Catalyst's estimation reasons
    * in: numerics as-is, dates as epoch DAYS, timestamps as epoch
    * MICROS. None = no histogram for this type (strings, booleans,
    * NTZ — NTZ's epoch projection is timezone-ambiguous, so its
    * histogram is withheld rather than recorded under one guess).
    */
  private def histProjection(f: org.apache.spark.sql.types.StructField)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           _: DecimalType => Some(col(f.name).cast("double"))
      case DateType => Some(unix_date(col(f.name)).cast("double"))
      case TimestampType => Some(unix_micros(col(f.name)).cast("double"))
      case _ => None
    }
  }

  def analyze(spark: SparkSession, path: String,
              approx: Boolean = false, histogramBins: Int = 0): Map[String, ColumnNdv] = {
    require(histogramBins >= 0 && histogramBins <= 254,
      s"histogramBins in [0, 254], got $histogramBins")
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path")
    val df = read(spark, path)
    val eligible = df.schema.fields.toSeq.filter(f => f.dataType match {
      case _: org.apache.spark.sql.types.ArrayType => false
      case _: org.apache.spark.sql.types.MapType => false
      case _: org.apache.spark.sql.types.StructType => false
      case org.apache.spark.sql.types.BinaryType => false
      case _ => true
    })
    require(eligible.nonEmpty, s"$path: no analyzable (atomic-typed) columns")
    // index-based aliases: column names are user-controlled and may
    // collide with any suffix convention
    val aggs = eligible.zipWithIndex.flatMap { case (f, i) =>
      val nd = if (approx) approx_count_distinct(col(f.name)) else countDistinct(col(f.name))
      Seq(nd.cast("long").as(s"c${i}_ndv")) ++ (f.dataType match {
        case org.apache.spark.sql.types.StringType => Seq(
          ceil(avg(octet_length(col(f.name)))).cast("long").as(s"c${i}_avg"),
          max(octet_length(col(f.name))).cast("long").as(s"c${i}_max"))
        case _ => Nil
      }) ++ (if (histogramBins > 0 && histProjection(f).isDefined) Seq(
        // equi-height boundaries: histogramBins+1 percentile cuts of the
        // double projection (same pass as the NDV aggregate)
        percentile_approx(histProjection(f).get,
          typedlit((0 to histogramBins).map(_.toDouble / histogramBins)),
          lit(10000)).as(s"c${i}_pct"),
        count(histProjection(f).get).as(s"c${i}_nn")) else Nil)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // pass B (histograms only): per-bin distinct counts. One explode of
    // (histogram column, bin index, value) triples → one shuffle with
    // |cols|·bins groups — the same expansion class the exact-NDV
    // Expand already pays; ANALYZE is a paid maintenance verb and the
    // cost is stated. Distinctness is counted on the double projection
    // (injective for every histogrammed type except bigints beyond
    // 2^53 — an estimate-grade edge, noted here).
    val histCols: Seq[(org.apache.spark.sql.types.StructField, Int, Array[Double], Long)] =
      if (histogramBins == 0) Nil
      else eligible.zipWithIndex.flatMap { case (f, i) =>
        histProjection(f).map { _ =>
          val cuts = row.getSeq[Double](row.fieldIndex(s"c${i}_pct")).toArray
          (f, i, cuts, row.getAs[Long](s"c${i}_nn"))
        }
      }.filter(_._4 > 0L) // all-null columns carry no histogram
    val binNdv: Map[(Int, Int), Long] =
      if (histCols.isEmpty) Map.empty
      else {
        val entries = histCols.map { case (f, i, cuts, _) =>
          val inner = typedlit(cuts.slice(1, cuts.length - 1).toSeq)
          val vv = histProjection(f).get
          val bi = least(lit(histogramBins - 1),
            size(filter(inner, b => vv > b))).cast("int")
          struct(lit(i).as("ci"), bi.as("bi"), vv.as("v"))
        }
        df.select(explode(array(entries: _*)).as("e"))
          .filter(col("e.v").isNotNull)
          .groupBy(col("e.ci"), col("e.bi"))
          .agg(countDistinct(col("e.v")).as("ndv"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      }
    val hists: Map[Int, (Double, Seq[(Double, Double, Long)])] =
      histCols.map { case (_, i, cuts, nonNull) =>
        val bins = (0 until histogramBins).map { b =>
          (cuts(b), cuts(b + 1), binNdv.getOrElse((i, b), 0L))
        }
        i -> (nonNull.toDouble / histogramBins, bins)
      }.toMap
    val out = eligible.zipWithIndex.map { case (f, i) =>
      val ndv = row.getAs[Long](s"c${i}_ndv")
      val strLen = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          // all-null string column: no lengths to record
          if (row.isNullAt(row.fieldIndex(s"c${i}_avg"))) None
          else Some((row.getAs[Long](s"c${i}_avg"), row.getAs[Long](s"c${i}_max")))
        case _ => None
      }
      f.name -> ColumnNdv(ndv, strLen, hists.get(i))
    }.toMap
    val body = (s"version=$v" +: s"approx=$approx" +:
      (out.toSeq.sortBy(_._1).map { case (c, n) =>
        s"${enc(c)}=${n.ndv}${n.strLen.map { case (a, m) => s",$a,$m" }.getOrElse("")}"
      } ++
      out.toSeq.sortBy(_._1).flatMap { case (c, n) =>
        n.hist.map { case (h, bins) =>
          s"hist:${enc(c)}=$h;" + bins.map { case (lo, hi, nd) => s"$lo:$hi:$nd" }.mkString(",")
        }
      })).mkString("\n")
    MetaIO.replaceString(ndvPath(path), body)
    out
  }

  /** The recorded analyze numbers: (analyzed version, per-column NDV).
    * None when the table was never analyzed. Malformed sidecars fail
    * loudly — a planner fed garbage estimates is worse than one fed
    * none.
    */
  // ---- INCREMENTAL analyze: per-file HLL sketches ----------------------
  //
  // The Iceberg-puffin NDV model: data files are IMMUTABLE, so a
  // distinct-count sketch computed per (file, column) is valid for the
  // file's whole life — refreshing the table's NDV after a commit
  // means sketching only files the sketch store hasn't seen (COW
  // rewrites touch only the mutated buckets; untouched buckets' files
  // keep their names and their sketches), then unioning per column.
  // At 100 TB this turns the ANALYZE cost from O(table) per refresh
  // into O(new data) — the difference between "stats are always
  // current" and "stats are from last quarter". NDV is HLL-estimated
  // by construction (exact below the sketch's coupon threshold, ±2%
  // above — the planner-estimate contract); string lengths fold
  // exactly from per-file (sum, max, count). Histograms compose the
  // same way through per-(file, column) KLL quantile sketches
  // ([[graft.functions.kllsketch]] — rank sketches MERGE file-wise,
  // unlike percentile cuts): boundaries come from the union of the
  // live files' sketches, within KLL's ~1.65 % rank-error contract of
  // the full-scan cuts. Per-bin NDV is estimated as ndv/bins (bins are
  // equi-height on ranks, so distincts split near-uniformly — the
  // planner-estimate grade; the full analyze stays the exact-per-bin
  // path).
  //
  // `_ndvsketch` sidecar, one line per (file, column):
  //   lgk=12
  //   <enc(file)>|<enc(col)>=<base64 HLL>   (or `-` = no non-null values)
  //   len:<enc(file)>|<enc(col)>=<sumLen>,<maxLen>,<nonNull>   (strings)
  //   kll:<enc(file)>|<enc(col)>=<base64 KLL>  (or `-`; histogrammable cols)
  // Files no longer in the head snapshot are dropped at each refresh —
  // the store tracks the live file set, bounded by it.

  private def ndvSketchPath(path: String) = new Path(path, "_ndvsketch")
  private val SketchLgK = 12

  /** Injective projection of an atomic column into a sketchable domain
    * (DataSketches HLL updates take longs/strings/binary): integrals
    * and date/ts as longs (days / micros), everything else through its
    * deterministic string rendering. Distinctness is preserved, which
    * is all a distinct-count sketch needs.
    */
  private def sketchProjection(f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        col(f.name).cast("long")
      case DateType => unix_date(col(f.name)).cast("long")
      case TimestampType => unix_micros(col(f.name))
      case StringType => col(f.name)
      case _ => col(f.name).cast("string")
    }
  }

  /** Refresh the table's column NDV statistics INCREMENTALLY: sketch
    * only the head snapshot's files absent from the `_ndvsketch` store,
    * union per column, and write the same `_ndv` sidecar the full
    * [[analyze]] writes (the serving path — `columnStats()` → CBO — is
    * shared and cannot tell the two apart). Returns the new profile.
    *
    * Refuses while a MOR log is outstanding: deltas/DVs change row
    * visibility in ways that cannot be attributed to immutable files —
    * compact first (the statsProfile rule). After this call the NDV is
    * CURRENT for the head version by construction, not an estimate of
    * a past snapshot.
    */
  def analyzeIncremental(spark: SparkSession, path: String,
                         histogramBins: Int = 0): Map[String, ColumnNdv] = {
    require(histogramBins >= 0 && histogramBins <= 254,
      s"histogramBins in [0, 254], got $histogramBins")
    val head = snapshotAt(path, -1)
    require(!head.hasLog,
      s"$path has outstanding MOR log entries: per-file sketches cannot attribute " +
        "merged rows to immutable files — GraftTable.compact(...) first")
    val sc = head.schema.getOrElse(
      throw new IllegalStateException(s"$path: no recorded snapshot schema"))
    val eligible = sc.fields.toSeq.filter(f => f.dataType match {
      case _: org.apache.spark.sql.types.ArrayType => false
      case _: org.apache.spark.sql.types.MapType => false
      case _: org.apache.spark.sql.types.StructType => false
      case org.apache.spark.sql.types.BinaryType => false
      case _ => true
    })
    require(eligible.nonEmpty, s"$path: no analyzable (atomic-typed) columns")
    // head snapshot's file list: from the stats segments (metadata-
    // only), falling back to listing just the dirs without coverage
    val dirs = head.dirs.values.toSeq
    val stats = head.fileStats
    val files: Seq[String] = dirs.flatMap { rel =>
      val covered = stats.keys.filter(_.startsWith(rel + "/")).toSeq
      if (covered.nonEmpty) covered
      else MetaIO.list(new Path(s"$path/$rel"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => s"$rel/${f.getPath.getName}")
    }
    // load the store; retain only live files
    val (storedSketch, storedLen, storedKll) = readSketchStore(path)
    val live = files.toSet
    val colNames = eligible.map(_.name)
    // histogrammable columns (same projection rule as the full analyze)
    val histFields = if (histogramBins == 0) Nil
      else eligible.filter(f => histProjection(f).isDefined)
    val uncovered = files.filter(f =>
      !colNames.forall(c => storedSketch.contains((f, c))) ||
        !histFields.forall(hf => storedKll.contains((f, hf.name))))
    val (newSketch, newLen, newKll) =
      if (uncovered.isEmpty) (Map.empty[(String, String), Option[Array[Byte]]],
        Map.empty[(String, String), (Long, Long, Long)],
        Map.empty[(String, String), Option[Array[Byte]]])
      else {
        val absolute = uncovered.map(f => s"$path/$f")
        val aggs = eligible.zipWithIndex.flatMap { case (f, i) =>
          Seq(hll_sketch_agg(sketchProjection(f), lit(SketchLgK)).as(s"c${i}_sk")) ++
            (f.dataType match {
              case org.apache.spark.sql.types.StringType => Seq(
                sum(octet_length(col(f.name))).cast("long").as(s"c${i}_sum"),
                max(octet_length(col(f.name))).cast("long").as(s"c${i}_mx"),
                count(col(f.name)).as(s"c${i}_ct"))
              case _ => Nil
            }) ++
            (if (histFields.exists(_.name == f.name)) Seq(
              graft.functions.kllsketch.kll_agg(histProjection(f).get).as(s"c${i}_kll"))
            else Nil)
        }
        val rows = spark.read.schema(sc).parquet(absolute: _*)
          .withColumn("__f", input_file_name())
          .groupBy("__f").agg(aggs.head, aggs.tail: _*)
          .collect()
        def relOf(uri: String): String =
          uncovered.find(f => uri.endsWith(f)).getOrElse(
            throw new IllegalStateException(s"sketched file $uri matches no planned file"))
        val sk = rows.flatMap { r =>
          val rel = relOf(r.getAs[String]("__f"))
          eligible.zipWithIndex.map { case (f, i) =>
            (rel, f.name) -> Option(r.getAs[Array[Byte]](s"c${i}_sk"))
          }
        }.toMap
        val ln = rows.flatMap { r =>
          val rel = relOf(r.getAs[String]("__f"))
          eligible.zipWithIndex.collect {
            case (f, i) if f.dataType == org.apache.spark.sql.types.StringType &&
                !r.isNullAt(r.fieldIndex(s"c${i}_sum")) =>
              (rel, f.name) -> (r.getAs[Long](s"c${i}_sum"), r.getAs[Long](s"c${i}_mx"),
                r.getAs[Long](s"c${i}_ct"))
          }
        }.toMap
        val kl = rows.flatMap { r =>
          val rel = relOf(r.getAs[String]("__f"))
          eligible.zipWithIndex.collect {
            case (f, i) if histFields.exists(_.name == f.name) =>
              (rel, f.name) -> Option(r.getAs[Array[Byte]](s"c${i}_kll"))
          }
        }.toMap
        // a planned file the scan never yielded rows for (empty file)
        // still needs covering entries, else every refresh rescans it
        val missing = uncovered.flatMap(f => eligible.map(ff => (f, ff.name)))
          .filterNot(sk.contains)
        val missingKll = uncovered.flatMap(f => histFields.map(hf => (f, hf.name)))
          .filterNot(kl.contains)
        (sk ++ missing.map(_ -> None).toMap, ln,
          kl ++ missingKll.map(_ -> (None: Option[Array[Byte]])).toMap)
      }
    val mergedSketch: Map[(String, String), Option[Array[Byte]]] =
      storedSketch.filter { case ((f, _), _) => live(f) } ++ newSketch
    val mergedLen: Map[(String, String), (Long, Long, Long)] =
      storedLen.filter { case ((f, _), _) => live(f) } ++ newLen
    val mergedKll: Map[(String, String), Option[Array[Byte]]] =
      storedKll.filter { case ((f, _), _) => live(f) } ++ newKll
    writeSketchStore(path, mergedSketch, mergedLen, mergedKll)
    // union per column → the NDV profile; exact-fold the string lengths
    import spark.implicits._
    val skRows = mergedSketch.toSeq.collect {
      case ((f, c), Some(b)) if live(f) => (c, b)
    }
    val ndvByCol: Map[String, Long] =
      if (skRows.isEmpty) Map.empty
      else skRows.toDF("c", "sk").groupBy("c")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("ndv"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // histograms from the per-file KLL union: one merged sketch per
    // column (the merge is a distributed kll_merge_agg — the driver sees
    // |cols| sketches, never |files|), boundaries = equi-rank quantile
    // cuts, height = n/bins from the sketch's own update count, per-bin
    // NDV = ndv/bins (equi-height bins split distincts near-uniformly —
    // planner-estimate grade, stated; the full analyze is the exact path)
    val histByCol: Map[String, (Double, Seq[(Double, Double, Long)])] =
      if (histogramBins == 0) Map.empty
      else {
        val klRows = mergedKll.toSeq.collect {
          case ((f, c), Some(b)) if live(f) => (c, b)
        }
        if (klRows.isEmpty) Map.empty
        else klRows.toDF("c", "sk").groupBy("c")
          .agg(graft.functions.kllsketch.kll_merge_agg(col("sk")).as("m"))
          .collect().flatMap { r =>
            val c = r.getString(0)
            if (r.isNullAt(1)) None
            else {
              val s = graft.functions.kllsketch.heapify(r.getAs[Array[Byte]](1))
              if (s.isEmpty) None
              else {
                val cuts = s.getQuantiles(
                  (0 to histogramBins).map(_.toDouble / histogramBins).toArray,
                  org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE)
                val binNdv = math.max(1L, math.round(
                  ndvByCol.getOrElse(c, 0L).toDouble / histogramBins))
                val bins = (0 until histogramBins).map(b =>
                  (cuts(b), cuts(b + 1), binNdv))
                Some(c -> (s.getN.toDouble / histogramBins, bins))
              }
            }
          }.toMap
      }
    val out = eligible.map { f =>
      val lens = mergedLen.collect { case ((file, c), t) if c == f.name && live(file) => t }
      val strLen =
        if (f.dataType != org.apache.spark.sql.types.StringType || lens.isEmpty) None
        else {
          val cnt = lens.map(_._3).sum
          if (cnt == 0L) None
          else Some((math.ceil(lens.map(_._1).sum.toDouble / cnt).toLong, lens.map(_._2).max))
        }
      f.name -> ColumnNdv(ndvByCol.getOrElse(f.name, 0L), strLen, histByCol.get(f.name))
    }.toMap
    val body = (s"version=${head.version}" +: s"approx=true" +:
      (out.toSeq.sortBy(_._1).map { case (c, n) =>
        s"${enc(c)}=${n.ndv}${n.strLen.map { case (a, m) => s",$a,$m" }.getOrElse("")}"
      } ++
      out.toSeq.sortBy(_._1).flatMap { case (c, n) =>
        n.hist.map { case (h, bins) =>
          s"hist:${enc(c)}=$h;" + bins.map { case (lo, hi, nd) => s"$lo:$hi:$nd" }.mkString(",")
        }
      })).mkString("\n")
    MetaIO.replaceString(ndvPath(path), body)
    out
  }

  private def readSketchStore(path: String)
      : (Map[(String, String), Option[Array[Byte]]],
         Map[(String, String), (Long, Long, Long)],
         Map[(String, String), Option[Array[Byte]]]) =
    if (!MetaIO.exists(ndvSketchPath(path))) (Map.empty, Map.empty, Map.empty)
    else {
      val lines = MetaIO.readString(ndvSketchPath(path)).split("\n").filter(_.nonEmpty)
      def b64(s: String): Option[Array[Byte]] =
        if (s == "-") None else Some(java.util.Base64.getDecoder.decode(s))
      val sk = lines.filterNot(l => l.startsWith("lgk=") || l.startsWith("len:") ||
          l.startsWith("kll:")).map { l =>
        val Array(k, s) = l.split("=", 2)
        val Array(f, c) = k.split("\\|", 2)
        (dec(f), dec(c)) -> b64(s)
      }.toMap
      val ln = lines.filter(_.startsWith("len:")).map { l =>
        val Array(k, s) = l.stripPrefix("len:").split("=", 2)
        val Array(f, c) = k.split("\\|", 2)
        val Array(a, m, n) = s.split(",", 3)
        (dec(f), dec(c)) -> ((a.toLong, m.toLong, n.toLong))
      }.toMap
      val kll = lines.filter(_.startsWith("kll:")).map { l =>
        val Array(k, s) = l.stripPrefix("kll:").split("=", 2)
        val Array(f, c) = k.split("\\|", 2)
        (dec(f), dec(c)) -> b64(s)
      }.toMap
      (sk, ln, kll)
    }

  private def writeSketchStore(path: String,
      sk: Map[(String, String), Option[Array[Byte]]],
      ln: Map[(String, String), (Long, Long, Long)],
      kll: Map[(String, String), Option[Array[Byte]]]): Unit = {
    def b64(b: Option[Array[Byte]]): String =
      b.map(java.util.Base64.getEncoder.encodeToString).getOrElse("-")
    val body = (s"lgk=$SketchLgK" +:
      (sk.toSeq.sortBy { case ((f, c), _) => (f, c) }.map { case ((f, c), b) =>
        s"${enc(f)}|${enc(c)}=" + b64(b)
      } ++
      ln.toSeq.sortBy { case ((f, c), _) => (f, c) }.map { case ((f, c), (a, m, n)) =>
        s"len:${enc(f)}|${enc(c)}=$a,$m,$n"
      } ++
      kll.toSeq.sortBy { case ((f, c), _) => (f, c) }.map { case ((f, c), b) =>
        s"kll:${enc(f)}|${enc(c)}=" + b64(b)
      })).mkString("\n")
    MetaIO.replaceString(ndvSketchPath(path), body)
  }

  def ndvProfile(path: String): Option[(Int, Map[String, ColumnNdv])] =
    if (!MetaIO.exists(ndvPath(path))) None
    else {
      val lines = MetaIO.readString(ndvPath(path)).split("\n").filter(_.nonEmpty)
      val kv = lines.map(_.split("=", 2)).collect { case Array(k, s) => k -> s }.toMap
      val v = kv.getOrElse("version",
        throw new IllegalStateException(s"$path/_ndv: missing version line")).toInt
      val hists: Map[String, (Double, Seq[(Double, Double, Long)])] = lines
        .filter(_.startsWith("hist:")).map { l =>
          val Array(k, s) = l.stripPrefix("hist:").split("=", 2)
          val Array(h, binsS) = s.split(";", 2)
          val bins = binsS.split(",").toSeq.map { b =>
            b.split(":") match {
              case Array(lo, hi, nd) => (lo.toDouble, hi.toDouble, nd.toLong)
              case _ => throw new IllegalStateException(s"$path/_ndv: bad hist bin '$b'")
            }
          }
          dec(k) -> (h.toDouble, bins)
        }.toMap
      val cols = lines.filterNot(l =>
        l.startsWith("version=") || l.startsWith("approx=") || l.startsWith("hist:")).map { l =>
        val Array(k, s) = l.split("=", 2)
        val parts = s.split(",")
        val c = dec(k)
        c -> (parts match {
          case Array(n) => ColumnNdv(n.toLong, None, hists.get(c))
          case Array(n, a, m) => ColumnNdv(n.toLong, Some((a.toLong, m.toLong)), hists.get(c))
          case _ => throw new IllegalStateException(s"$path/_ndv: bad line '$l'")
        })
      }.toMap
      Some((v, cols))
    }

  /** pad each side with the other's missing columns as typed nulls */
  private def alignSchemas(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    val aCols = a.columns.toSet
    val bCols = b.columns.toSet
    val a2 = b.schema.fields.filterNot(f => aCols(f.name))
      .foldLeft(a)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
    val b2 = a.schema.fields.filterNot(f => bCols(f.name))
      .foldLeft(b)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
    (a2, b2)
  }

  /** Snapshot read; `version` for time travel. The scan is Spark's
    * native Parquet scan of the snapshot's recorded file list
    * ([[fileIndex]]): no listing, no mergeSchema footer pass, and rows
    * written before an additive evolution read the newer columns as
    * null (the reader pads missing columns). A full-key equality above
    * it reads one bucket's files, a stats-prunable filter only the files
    * that may match — both decided in the index's `listFiles`. Legacy
    * manifests (no recorded schema) fall back to mergeSchema inference.
    */
  def read(spark: SparkSession, path: String, version: Int = -1): DataFrame =
    read(spark, snapshotAt(path, version))

  def read(spark: SparkSession, s: Snapshot): DataFrame =
    readMor(spark, s, s.dirs.values.toSeq)(readPinned(spark, s))

  /** The table's record-key columns (create-time order). */
  def keyColumns(path: String): Seq[String] = meta(path)._1

  /** Snapshot restricted to the manifest dirs of `buckets` — the
    * point-lookup path: a key-equality read opens ONE bucket's files
    * (file-group pruning, Hudi's bucket-index lookup), not the table.
    * The frame has the full snapshot schema, so reads of an old
    * un-rewritten bucket after additive evolution still line up. The
    * MOR log applies on top, scoped to the requested buckets: a
    * point-looked-up key that was MOR-deleted must be absent here
    * exactly as in a full read, and a key living only in a delta commit
    * (even in a bucket with no dir) must be served.
    */
  def readBuckets(spark: SparkSession, path: String, version: Int,
                  buckets: Set[Int]): DataFrame =
    readBuckets(spark, snapshotAt(path, version), buckets)

  def readBuckets(spark: SparkSession, s: Snapshot, buckets: Set[Int]): DataFrame = {
    val rels = s.dirs.filter { case (b, _) => buckets(b) }.values.toSeq
    s.schema match {
      case Some(_) => readMor(spark, s, rels, Some(buckets))(readPinned(spark, s))
      case None => // legacy manifest: one full-relation pass for the schema.
        // (Never log-bearing: the MOR commits upgrade a legacy manifest
        // with #schema before they append the first #dv/#delta line.)
        val full = read(spark, s)
        if (rels.isEmpty) return full.limit(0)
        val sub = readPinned(spark, s)(rels)
        val padded = full.schema.fields.filterNot(f => sub.columns.contains(f.name))
          .foldLeft(sub)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
        padded.select(full.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** Time travel by wall clock: the snapshot committed at or before
    * `tsMillis` (commit times are recorded in the commit markers).
    */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame = {
    val eligible = commitLog(path).filter(_._2 <= tsMillis)
    require(eligible.nonEmpty, s"no commit at or before $tsMillis in $path")
    read(spark, path, eligible.last._1)
  }

  // ---- the MOR log (merge-on-read deletes AND upserts) -----------------
  //
  // A MOR commit appends one line to the previous manifest naming a
  // small parquet file — `#dv=dv/v<N>-<uuid>` (deleted KEYS) or
  // `#delta=delta/v<N>-<uuid>` (upserted ROWS) — and touches no data
  // dir. At 100 TB a scattered key delete (the GDPR-erasure shape) or a
  // trickle of scattered updates (the streaming-ingest shape) under COW
  // rewrites nearly every bucket; under the log each commit writes
  // O(batch) bytes, and reads apply the log as broadcast joins against
  // the unshuffled base: DV/replaced keys via one anti-join per
  // version-group, delta winner rows via a union (their per-key
  // arbitration shuffles only the log, never the table). This is Hudi's
  // MOR log-file design / Delta's deletion vectors, keyed by record key
  // instead of file position (keys are the table's identity here, and
  // key-based log entries survive compaction reshuffles).
  //
  // VERSION SCOPING (the Iceberg sequence-number rule): a log entry
  // created at version V overrides only data dirs written at or before
  // V, and among log entries for the same key the newest version wins
  // (a delta row after a DV re-inserts the key; a DV after a delta row
  // deletes it). Any COW rewrite reads log-aware, so rewritten buckets
  // MATERIALIZE their log state and the carried lines degrade to no-ops
  // for them — a touched bucket that empties gets a tombstone dir so
  // carried delta rows cannot resurface. DV lines are dropped once
  // nothing carried is old enough to need them; delta lines are carried
  // until a full rewrite (compact, rebucket) drops the whole log —
  // compaction is the fold-the-log step, exactly as in MOR lakehouses.

  private val RelVersionRe = "^(?:data|dv|delta)/v(\\d+)".r

  /** The version a manifest-relative data/dv path was written at (the
    * `v<N>` of its attempt dir). Unparsable = legacy pre-DV layout =
    * older than any DV ⇒ 0 (DVs always apply — conservative-correct).
    */
  private def relVersion(rel: String): Int =
    RelVersionRe.findFirstMatchIn(rel).map(_.group(1).toInt).getOrElse(0)

  /** Total on-disk bytes of the given DV files — the broadcast-safety
    * gate. DVs small enough to broadcast (the design contract; compact
    * folds them away when they grow) anti-join with zero shuffle on the
    * scan side; oversized DVs fall back to a plain (shuffled) anti-join
    * rather than forcing an OOM-able broadcast.
    */
  private def dvSizeBytes(path: String, rels: Seq[String]): Long =
    rels.map { r =>
      scala.util.Try(MetaIO.list(new Path(path, r)).filter(_.isFile)
        .map(_.getLen).sum).getOrElse(0L)
    }.sum

  private val DvBroadcastMaxBytes = 64L << 20

  /** pad `df` with `sc`'s missing fields as typed nulls, in `sc` order */
  private def padToSchema(df: DataFrame, sc: types.StructType): DataFrame = {
    val have = df.columns.toSet
    val padded = sc.fields.filterNot(f => have(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    padded.select(sc.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Read manifest-relative paths (dirs or files) with snapshot `s`'s
    * MOR log — deletion vectors AND delta commits — applied under
    * version scoping.
    *
    * Base side: `rels` are grouped by how many overlays apply to them
    * (overlay versions ascend, so the applicable set is always a
    * suffix — one group per distinct suffix length, each scanned once
    * and anti-joined against the union of its applicable overlay keys:
    * a key named by ANY newer overlay is either deleted or replaced,
    * so the stored row never survives as-is). Broadcast under the size
    * gate; the 100 TB base never shuffles.
    *
    * Winner side (delta commits only): per key, the newest overlay
    * event AT OR AFTER the key's bucket's current dir version (older
    * events were materialized by the rewrite that produced the dir) —
    * emitted when it is a delta row, dropped when it is a DV
    * tombstone. `scope` restricts emission to the bucket set being
    * served (None = whole table); a bucket with NO data dir still
    * emits its winners — the first rows of a previously-empty bucket
    * live only in the log until a rewrite materializes them.
    *
    * No overlays ⇒ the untouched single-scan plan from `readGroup`.
    */
  private def readMor(spark: SparkSession, s: Snapshot,
                      rels: Seq[String], scope: Option[Set[Int]] = None)
                     (readGroup: Seq[String] => DataFrame): DataFrame = {
    val (path, dvs, deltas) = (s.path, s.dv, s.delta)
    if (dvs.isEmpty && deltas.isEmpty) return readGroup(rels)
    val keys = keyColumns(path)
    // (rel, commit version, isDelete), ascending by version — versions
    // are unique per overlay (one log line per commit)
    val overlays = (dvs.map(e => (e._1, e._2, true)) ++
      deltas.map(e => (e._1, e._2, false))).sortBy(_._2)
    def overlayKeys(os: Seq[(String, Int, Boolean)]): DataFrame = {
      val df = os.map { case (rel, _, _) =>
        spark.read.parquet(s"$path/$rel").select(keys.map(col): _*)
      }.reduce(_.unionByName(_)).distinct()
      if (dvSizeBytes(path, os.map(_._1)) <= DvBroadcastMaxBytes) broadcast(df) else df
    }
    val base: Option[DataFrame] =
      if (rels.isEmpty) None
      else {
        val groups = rels.groupBy(rel => overlays.count(_._2 >= relVersion(rel)))
        Some(groups.toSeq.sortBy(_._1).map { case (suffix, rs) =>
          val b = readGroup(rs)
          if (suffix == 0) b
          else b.join(overlayKeys(overlays.takeRight(suffix)), keys, "left_anti")
        }.reduce(_.unionByName(_, allowMissingColumns = true)))
      }
    val winners: Option[DataFrame] =
      if (deltas.isEmpty) None
      else {
        // delta-bearing manifests always record #schema (the delta
        // commit upgrades first), so winner rows read schema-pinned —
        // files written before an additive evolution pad the new
        // columns as null, exactly like data files
        val sc = s.schema.getOrElse(throw new IllegalStateException(
          s"delta-bearing manifest without #schema at $path v${s.version}"))
        val nb = s.nbuckets
        val events = overlays.map { case (rel, ver, del) =>
          val raw =
            if (del) padToSchema(
              spark.read.parquet(s"$path/$rel").select(keys.map(col): _*), sc)
            else spark.read.schema(sc).parquet(s"$path/$rel")
          raw.withColumn("__ver", lit(ver)).withColumn("__del", lit(del))
        }.reduce(_.unionByName(_)).withColumn("__b", bucketCol(keys, nb))
        val dirVer = typedLit(s.dirs.map { case (b, d) => b -> relVersion(d) })
        var ev = events.filter(
          col("__ver") >= coalesce(element_at(dirVer, col("__b")), lit(-1)))
        scope.foreach(s =>
          ev = ev.filter(array_contains(typedLit(s.toSeq), col("__b"))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col("__ver").desc)
        Some(ev.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1 && !col("__del"))
          .select(sc.fieldNames.map(col).toIndexedSeq: _*))
      }
    (base, winners) match {
      case (Some(b), Some(wn)) => b.unionByName(wn, allowMissingColumns = true)
      case (b, wn) => b.orElse(wn).getOrElse(readGroup(rels))
    }
  }

  /** Major compaction: rewrite the current snapshot as a fresh version
    * with exactly one file per bucket. Bucket-level COW accretes files
    * (every upsert adds a dir for each touched bucket) — the classic
    * small-files problem; at 100 TB scan throughput dies on
    * file-open overhead long before bytes. The repartition pins each
    * bucket to one task so each dir is one well-sized file. Runs
    * through the same optimistic-commit path as upsert (a racing
    * writer fails cleanly); follow with [[vacuum]] to reclaim the old
    * dirs.
    */
  /** `clusterBy = Some(Seq(a, b, …))` additionally Z-ORDERS each
    * bucket's files on the N columns (Delta/Iceberg OPTIMIZE ZORDER,
    * bucket-scoped): rows keep their key-hash bucket — the manifest
    * invariant — but within a file they are sorted by the
    * interleaved-bit z-value, so parquet row-group min/max stats prune
    * scans filtered on ANY clustered dimension. At 100 TB this is the
    * difference between a time-range query reading one row group per
    * file and reading the whole table; the stats pass is one extra
    * lightweight agg scan. Per-dimension resolution is 2^(63/n) rank
    * buckets — each extra dimension halves the others' pruning
    * resolution (the z-order trade stated, not hidden), so cluster on
    * the 2-4 columns queries actually filter on. A SINGLE column is
    * LINEAR clustering (disjoint per-file ranges — the time layout:
    * full resolution on that one dimension).
    */
  /** `targetFilesPerBucket` (clustered path only): split each bucket
    * into ~that many files, each covering a narrow z-range — the layout
    * manifest file-stats skip on. 1 (default) keeps one file per bucket
    * (row-group pruning inside the file still applies); at 100 TB pick
    * it so files land near the FS block size.
    */
  /** `curve` (multi-column clustering only): `"zorder"` (default) or
    * `"hilbert"` — the continuous curve whose contiguous per-file
    * ranges stay connected blobs (no rollover-straddling files with
    * smeared min/max; see [[graft.functions.Hilbert]]). Hilbert costs
    * O(n·bits) integer ops per row at write time vs z's pure bit-OR
    * chain — both are compaction-time-only; probes read the same
    * manifest stats either way.
    */
  def compact(spark: SparkSession, path: String,
              clusterBy: Option[Seq[String]] = None,
              targetFilesPerBucket: Int = 1,
              curve: String = "zorder"): Unit = {
    require(targetFilesPerBucket >= 1, "need at least one file per bucket")
    require(curve == "zorder" || curve == "hilbert",
      s"unknown clustering curve '$curve' (zorder | hilbert)")
    val s = snapshotAt(path, -1)
    val keys = keyColumns(path)
    def rewrite(df: DataFrame, sortWithin: Seq[String], rangeSplit: Int = 1,
                recordSorted: Boolean = false): Unit =
      writeVersion(df, path, keys, s.nbuckets, s.version + 1, Some(s), carryOver = Map.empty,
        sortWithin = sortWithin, rangeSplit = rangeSplit, recordSorted = recordSorted)
    val snap = read(spark, s)
    // an argument-less compact honors the clustering DECLARED at create
    // (days(ts) DDL): linear time clustering on that column — Delta's
    // OPTIMIZE against a declared layout, not a per-call choice. An
    // explicit clusterBy always wins; a declared column dropped by
    // ALTER degrades to plain compaction (schema is the truth).
    // Duplicates collapse ((ts, ts) spells the linear layout).
    val effective = clusterBy.map(_.distinct).filter(_.nonEmpty).orElse(
      declaredClustering(path).filter(snap.schema.fieldNames.contains)
        .map(Seq(_)))
    effective match {
      case None =>
        // plain compaction doubles as the SORTED-layout rewrite: each
        // bucket's file comes out key-ordered (the in-task sort rides
        // the ordering pass partitionBy pays anyway) and the manifest
        // records it — co-bucketed joins of two compacted tables then
        // skip the SMJ sorts as well as the shuffle
        rewrite(snap, keys, recordSorted = true)
      case Some(Seq(a)) =>
        // LINEAR clustering on one dimension — the TIME layout: each
        // bucket's files become disjoint ranges of that column, so a
        // range predicate prunes to the matching slices exactly (a
        // z-interleave with more columns would divide this column's
        // resolution). This is how a 100 TB fact table gets
        // days(ts)-partition pruning without a second physical layout
        // dimension — the manifest's per-file min/max over narrow
        // slices IS the partition tree, and the bucket invariant
        // (upserts, point lookups) is untouched.
        rewrite(snap.withColumn("__zc", col(a)), Seq("__zc"), targetFilesPerBucket)
      case Some(dims) =>
        val cluster =
          if (curve == "hilbert") graft.operators.Layout.hcolumnN(snap, dims)
          else graft.operators.Layout.zcolumnN(snap, dims)
        cluster match {
          case None => // empty/all-null dimensions: plain compaction
            rewrite(snap, keys, recordSorted = true)
          case Some(z) =>
            rewrite(snap.withColumn("__zc", z), Seq("__zc"), targetFilesPerBucket)
        }
    }
  }

  /** Bucket-count evolution (Hudi clustering / Iceberg partition-spec
    * evolution, restricted to the hash-bucket layout): rewrite the
    * current snapshot under `newBuckets` and commit it as a new
    * version whose manifest header records the new count. A table's
    * create-time bucket count always becomes too small — a 100 TB
    * table bucketed for 1 TB has 100× oversized file groups and 100×
    * the upsert write amplification — and COW makes the fix a plain
    * versioned rewrite: old versions stay readable under their own
    * layout (each manifest pins its own `#nbuckets`), time travel and
    * [[changes]] across the boundary work unchanged (the bucket diff
    * sees every bucket changed — a full-rewrite diff, same as
    * compaction — and full-row EXCEPT still reports only real
    * changes). A writer racing the rebucket loses the OCC lock,
    * re-reads the new head, and buckets its batch by the new count.
    */
  def rebucket(spark: SparkSession, path: String, newBuckets: Int): Unit = {
    require(newBuckets >= 1, "need at least one bucket")
    val s = snapshotAt(path, -1)
    val keys = keyColumns(path)
    writeVersion(read(spark, s), path, keys, newBuckets, s.version + 1, Some(s),
      carryOver = Map.empty, sortWithin = keys, recordSorted = true)
  }

  /** The full snapshot at `version`, shaped as a change-feed batch
    * (table columns sorted by name + `_deleted = false`) — the CDC
    * bootstrap image. Single source of truth for the change-feed
    * schema's column order; [[changes]], [[ChangeFeed.pollOnce]], and
    * the streaming source all align to it.
    */
  def initialImage(spark: SparkSession, path: String, version: Int = -1): DataFrame = {
    val snap = read(spark, path, version)
    snap.select(snap.columns.sorted.map(col).toIndexedSeq: _*)
      .withColumn("_deleted", lit(false))
  }

  /** Change feed: rows ADDED, UPDATED, or DELETED in versions
    * (fromVersion, toVersion] — each key emitted at most once. Schema =
    * the table's columns (sorted by name) plus a trailing `_deleted`
    * boolean: adds/updates carry their latest (toVersion) image with
    * `_deleted = false`; deletes carry the last stored (fromVersion)
    * image with `_deleted = true` — Hudi's incremental-query surface
    * extended with delete capture, Debezium-style before-image.
    *
    * Cheap under bucket-level COW: only buckets whose manifest entry
    * differs between the versions can hold changes, so the diff reads
    * just those buckets' dirs. Upserts = `to EXCEPT ALL from`
    * (full-row compare — an unchanged row carried through a
    * rewrite/compaction is NOT a change); deletes = `from` rows whose
    * key vanished from the changed buckets (keys never move buckets —
    * the bucket is a pure hash of the key — so a key absent from its
    * own bucket is absent from the table).
    */
  def changes(spark: SparkSession, path: String, fromVersion: Int,
              toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion, "fromVersion must be <= toVersion")
    changes(spark, snapshot(path, fromVersion), snapshot(path, toVersion))
  }

  def changes(spark: SparkSession, from: Snapshot, to: Snapshot): DataFrame = {
    val keys = keyColumns(to.path)
    val (newSide, oldSide) = changedSides(spark, from, to)
    def sortedCols(df: DataFrame) = df.columns.sorted.map(col).toSeq
    // schema may have evolved between the versions — align both sides
    // (padding with typed nulls) so the full-row EXCEPT is well-typed
    val dirUpserts: Option[DataFrame] = newSide.map { n =>
      oldSide match {
        case None => n
        case Some(o) =>
          val (n2, o2) = alignSchemas(n, o)
          val cols = sortedCols(n2)
          n2.select(cols: _*).exceptAll(o2.select(cols: _*))
      }
    }
    // delta commits change no dir — their channel is the #delta lines
    // added in (from, to]. Like the DV channel below, the new deltas'
    // keys are only CANDIDATES: the state compare reduces them to keys
    // whose live image actually changed across the range (an upsert
    // overwritten back to its old value reports nothing). Cost is
    // O(buckets the delta keys hash into), not O(table).
    val deltaUpserts: Option[DataFrame] = addedLogKeys(spark, keys, from.delta, to.delta, to.path)
      .map { k =>
        val (n2, o2) = alignSchemas(keyRows(spark, to, keys, k), keyRows(spark, from, keys, k))
        val cols = sortedCols(n2)
        n2.select(cols: _*).exceptAll(o2.select(cols: _*))
      }
    // a key can reach both upsert channels (delta-written, then its
    // bucket rewritten later in the range) — both compute the same
    // toVersion image, so dedup by key keeps one emission per key
    val upserts: Option[DataFrame] = (dirUpserts, deltaUpserts) match {
      case (Some(a), Some(b)) =>
        Some(a.unionByName(b, allowMissingColumns = true).dropDuplicates(keys))
      case (a, b) => a.orElse(b)
    }
    val dirDeletes: Option[DataFrame] = oldSide.map { o =>
      newSide match {
        case None => o
        case Some(n) =>
          o.join(n.select(keys.map(col): _*).distinct(), keys, "left_anti")
      }
    }
    // MOR deletes commit no dir change — their delta is the #dv lines
    // added in (from, to]. The new DVs' keys are only CANDIDATES: the
    // joins below reduce them to keys live at fromVersion and gone at
    // toVersion, so a delete-then-reinsert in the range reports nothing
    // and restore churn self-corrects. Cost is O(buckets the DV keys
    // hash into), not O(table) — the same pruning a keyed delete does.
    val dvDeletes: Option[DataFrame] = addedLogKeys(spark, keys, from.dv, to.dv, to.path)
      .map(k => dvGone(spark, from, to, keys, k))
    // a key can appear in BOTH delete channels (MOR-deleted, then its
    // bucket rewritten later in the range) — images are identical
    // (fromVersion's stored row), so dedup by key keeps the contract of
    // one emission per key
    val deletes: Option[DataFrame] = (dirDeletes, dvDeletes) match {
      case (Some(a), Some(b)) =>
        Some(a.unionByName(b, allowMissingColumns = true).dropDuplicates(keys))
      case (a, b) => a.orElse(b)
    }
    (upserts, deletes) match {
      case (None, None) =>
        val snap = read(spark, to)
        snap.select(sortedCols(snap): _*).limit(0).withColumn("_deleted", lit(false))
      case (u, d) =>
        val uu = u.map(_.withColumn("_deleted", lit(false)))
        val dd = d.map(_.withColumn("_deleted", lit(true)))
        val combined = (uu, dd) match {
          case (Some(a), Some(b)) => a.unionByName(b, allowMissingColumns = true)
          case (a, b) => a.orElse(b).get
        }
        combined.select(
          (combined.columns.filterNot(_ == "_deleted").sorted.map(col)
            :+ col("_deleted")).toIndexedSeq: _*)
    }
  }

  /** The dir channel shared by [[changes]] and [[retractions]]: only
    * buckets whose manifest entry differs between the versions (in
    * EITHER direction — a bucket missing from `to` was entirely deleted,
    * one missing from `from` is entirely new) can hold changes. Each
    * side reads MOR-aware AT ITS OWN VERSION, scoped to the changed
    * buckets: a row a deletion vector had already removed at `from` is
    * not a before-image, a row a DV removes by `to` is not an upsert
    * image, and a changed bucket's state includes the delta winners
    * that applied to it then — even when that version had no dir for
    * the bucket at all (its rows lived only in the log), so a
    * materializing rewrite of log-only rows is not a false upsert.
    * Returns (to side, from side); None = nothing to read on that side.
    */
  private def changedSides(spark: SparkSession, from: Snapshot, to: Snapshot)
      : (Option[DataFrame], Option[DataFrame]) = {
    val changed = (from.dirs.keySet ++ to.dirs.keySet)
      .filter(b => from.dirs.get(b) != to.dirs.get(b))
    def side(s: Snapshot): Option[DataFrame] = {
      val rels = changed.toSeq.flatMap(s.dirs.get)
      if (rels.isEmpty && s.delta.isEmpty) None
      else Some(readMor(spark, s, rels, Some(changed))(readPinned(spark, s)))
    }
    (side(to), side(from))
  }

  /** The keys of the MOR log files (`#delta=` or `#dv=` entries) `to`
    * carries and `from` does not — a diff's candidate keys for the
    * log channels. None when the range added no such file.
    */
  private def addedLogKeys(spark: SparkSession, keys: Seq[String],
                           from: Seq[(String, Int)], to: Seq[(String, Int)],
                           path: String): Option[DataFrame] = {
    val added = to.map(_._1).filterNot(from.map(_._1).toSet)
    if (added.isEmpty) None
    else Some(spark.read.parquet(added.map(r => s"$path/$r"): _*)
      .select(keys.map(col): _*).distinct())
  }

  /** Snapshot `s`'s rows for the candidate keys `k`, read bucket-pruned:
    * log keys were typed/aligned when written, so hashing them under
    * each version's own layout lands on the right dirs.
    */
  private def keyRows(spark: SparkSession, s: Snapshot, keys: Seq[String],
                      k: DataFrame): DataFrame = {
    val bs = k.select(bucketCol(keys, s.nbuckets).as(BUCKET))
      .distinct().collect().map(_.getInt(0)).toSet
    readBuckets(spark, s, bs).join(broadcast(k), keys, "left_semi")
  }

  /** The deletion-vector channel: rows of candidate keys `k` live at
    * `from` and gone at `to` (a delete-then-reinsert reports nothing).
    */
  private def dvGone(spark: SparkSession, from: Snapshot, to: Snapshot, keys: Seq[String],
                     k: DataFrame): DataFrame =
    keyRows(spark, from, keys, k)
      .join(keyRows(spark, to, keys, k).select(keys.map(col): _*), keys, "left_anti")

  /** The RETRACTION form of [[changes]]: the (fromVersion, toVersion]
    * delta as a z-set (Green et al.'s ring of multiplicities; DBSP's
    * stream element) — table columns (sorted by name) plus a trailing
    * `_weight` int: every row image PRESENT at toVersion but not at
    * fromVersion carries +1, every image present at fromVersion but
    * gone at toVersion carries −1. An UPDATE therefore emits BOTH its
    * after-image (+1) and its before-image (−1) — the piece
    * [[changes]]' Hudi-style surface omits — which is exactly what a
    * downstream incremental aggregate needs to SUBTRACT a key's old
    * contribution without keeping per-key state of its own: any
    * linear aggregate (count, sum — avg/stddev via their moment sums)
    * over the table equals the same aggregate over the z-set applied
    * additively, group by group.
    *
    * Same cost model as [[changes]]: the dir channel diffs only
    * buckets whose manifest entry differs (symmetric `EXCEPT ALL`
    * both ways, so a row carried unchanged through a
    * rewrite/compaction cancels and reports nothing); delta-commit
    * keys and deletion-vector keys are CANDIDATE channels reduced by
    * the same state compare, read bucket-pruned at each endpoint
    * version — O(changed buckets + touched-key buckets), never
    * O(table). Cross-channel, a key appears at most once per sign
    * (images at a given version are identical whichever channel
    * computed them).
    */
  def retractions(spark: SparkSession, path: String, fromVersion: Int,
                  toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion, "fromVersion must be <= toVersion")
    retractions(spark, snapshot(path, fromVersion), snapshot(path, toVersion))
  }

  def retractions(spark: SparkSession, from: Snapshot, to: Snapshot): DataFrame = {
    val keys = keyColumns(to.path)
    val (newSide, oldSide) = changedSides(spark, from, to)
    def sortedCols(df: DataFrame) = df.columns.sorted.map(col).toSeq
    // a channel's z-set in ONE aggregation pass (each endpoint state
    // scanned once — the two-directional EXCEPT ALL alternative scans
    // each side twice): net weight per full row image is +1 (only at
    // to), −1 (only at from), or 0 (carried unchanged — e.g. through a
    // compaction rewrite — and dropped). Keys are unique per snapshot,
    // so net weights beyond ±1 cannot occur.
    def zdiff(after: Option[DataFrame], before: Option[DataFrame]): Option[DataFrame] = {
      def w(df: DataFrame, v: Int) = {
        val cols = sortedCols(df)
        df.select(cols: _*).withColumn("_weight", lit(v))
      }
      val both = (after, before) match {
        case (Some(t), Some(f)) =>
          val (t2, f2) = alignSchemas(t, f)
          Some(w(t2, 1).unionByName(w(f2, -1)))
        case (Some(t), None) => Some(w(t, 1))
        case (None, Some(f)) => Some(w(f, -1))
        case (None, None) => None
      }
      both.map { u =>
        val grp = u.columns.filterNot(_ == "_weight").map(col).toSeq
        u.groupBy(grp: _*).agg(sum(col("_weight")).cast("int").as("_weight"))
          .filter(col("_weight") =!= 0)
      }
    }
    val dirZ = zdiff(newSide, oldSide)
    // delta-commit channel: new #delta lines' keys are candidates; the
    // endpoint-state compare reduces them to keys whose live image
    // actually changed, each side read bucket-pruned at its own version
    val deltaZ = addedLogKeys(spark, keys, from.delta, to.delta, to.path).flatMap(k =>
      zdiff(Some(keyRows(spark, to, keys, k)), Some(keyRows(spark, from, keys, k))))
    // deletion-vector channel: DV commits touch no dir, so their keys'
    // before-images surface here — live at fromVersion, gone at
    // toVersion (delete-then-reinsert reports through the + channels)
    val dvZ: Option[DataFrame] = addedLogKeys(spark, keys, from.dv, to.dv, to.path)
      .map(k => dvGone(spark, from, to, keys, k).withColumn("_weight", lit(-1)))
    // one emission per (key, sign): a key reaching two channels (e.g.
    // delta-written, bucket rewritten later in the range) computed the
    // same endpoint images in both — dedup keeps one
    val parts = Seq(dirZ, deltaZ, dvZ).flatten
    if (parts.isEmpty) {
      val snap = read(spark, to)
      snap.select(sortedCols(snap): _*).limit(0)
        .withColumn("_weight", lit(1))
    } else {
      val combined = parts.reduce(_.unionByName(_, allowMissingColumns = true))
        .dropDuplicates(keys :+ "_weight")
      combined.select(
        (combined.columns.filterNot(_ == "_weight").sorted.map(col)
          :+ col("_weight")).toIndexedSeq: _*)
    }
  }

  // ---- tags: named immutable version refs (Iceberg tags / Hudi ----
  // ---- savepoints / Delta "pin this snapshot" retention)       ----
  //
  // A tag is a tiny `refs/<name>` file holding a committed version
  // number. Two contracts give tags their value at 100 TB:
  //   1. RESOLUTION — `VERSION AS OF 'name'` (and the Scala API) reads
  //      the tagged snapshot by name, so release pins travel through
  //      SQL without anyone memorizing version integers.
  //   2. RETENTION — [[vacuum]] keeps every tagged version's manifest
  //      and files regardless of `keepVersions` (the Iceberg
  //      keep-tagged-snapshots rule): tagging IS the statement "this
  //      snapshot outlives the retention window". Dropping the tag
  //      releases the files to the next vacuum.
  // Tags are immutable: re-pointing is an explicit delete + create,
  // never a silent overwrite (a moved release pin is how audits rot).

  private def refPath(path: String, name: String) = new Path(new Path(path, "refs"), name)

  /** Tag name contract: filesystem-safe, and NOT all digits — an
    * all-digit name would be indistinguishable from an integer version
    * in `VERSION AS OF`, which parses numerics first.
    */
  private def requireRefName(name: String): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}"),
      s"tag name '$name' must match [A-Za-z0-9][A-Za-z0-9._-]{0,63}")
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — ambiguous with an integer version in VERSION AS OF")
  }

  /** Create tag `name` → `version` (default: the current head). The
    * version must still be READABLE (committed AND its manifest not yet
    * vacuumed) — a tag that can't serve its snapshot is a lie.
    */
  def tagCreate(path: String, name: String, version: Int = -1): Int = {
    requireRefName(name)
    val head = latestVersion(path)
    require(head >= 0, s"no table at $path")
    val v = if (version < 0) head else version
    require(commitVersions(path).contains(v),
      s"$path has no committed version $v (committed: ${commitVersions(path).mkString(", ")})")
    require(MetaIO.exists(manifestPath(path, v)),
      s"version $v of $path was vacuumed — its snapshot is no longer readable")
    if (!MetaIO.putIfAbsent(refPath(path, name), v.toString))
      throw new IllegalArgumentException(
        s"tag '$name' already exists at $path (→ v${resolveTag(path, name).getOrElse(-1)}); " +
          "tags are immutable — tagDelete then tagCreate to re-point")
    v
  }

  /** Drop tag `name`; false when it didn't exist (the IF EXISTS
    * contract — callers that must be loud check the return).
    */
  def tagDelete(path: String, name: String): Boolean = {
    val p = refPath(path, name)
    val existed = MetaIO.exists(p)
    if (existed) MetaIO.delete(p)
    existed
  }

  /** All tags as (name, version), name-sorted. */
  def tags(path: String): Seq[(String, Int)] =
    MetaIO.list(new Path(path, "refs")).filter(_.isFile)
      .map(f => f.getPath.getName -> MetaIO.readString(f.getPath).trim.toInt)
      .sortBy(_._1)

  def resolveTag(path: String, name: String): Option[Int] = {
    val p = refPath(path, name)
    if (MetaIO.exists(p)) Some(MetaIO.readString(p).trim.toInt) else None
  }

  /** Whether version `v`'s snapshot is still servable: committed AND
    * its manifest not vacuumed. (tagCreate guarantees this at create
    * time and tag-aware vacuum preserves it; false can only describe a
    * tag written by a pre-tag-aware engine build.)
    */
  def isVersionReadable(path: String, v: Int): Boolean =
    commitVersions(path).contains(v) && MetaIO.exists(manifestPath(path, v))

  // ---- branches: write-audit-publish (Iceberg WAP / audit branches) ----
  //
  // A branch is a STAGED manifest lineage over the same data pool: each
  // branch commit runs the ordinary COW write path (touched-bucket
  // merge, CHECK guards, stats segments, attempt-unique data dirs) but
  // lands its manifest at a slot in a DISJOINT number range
  // (BranchSlotBase+) WITHOUT a commit marker — so every mainline
  // reader, writer, time travel, and vacuum keep-window is blind to it,
  // and the mainline put-if-absent commit lock at latestVersion+1 is
  // never contested. Branch commits serialize through their own
  // put-if-absent sequence records (`_branches/<name>/c<K>` → slot).
  //
  // publish() is the fast-forward: branch commit K becomes main version
  // base+K by COPYING the staged manifest text to that slot (manifest
  // text references attempt-named data dirs — position-independent) and
  // writing its marker. The data dirs were ALREADY named v<base+K>-…
  // at write time (writeVersion's dirVersion), so the MOR log's
  // version-scoping arithmetic is identical before and after the
  // renumbering. Non-fast-forward (main advanced past base) refuses
  // loudly at the first occupied slot; a crashed publish is retried
  // idempotently (already-placed slots are recognized by content).
  //
  // This is the write-audit-publish loop a 100 TB ingest wants: stage
  // the risky batch on a branch, audit it (branchChanges diff, fsck,
  // constraint/drift checks against the branch head), publish in O(K)
  // metadata operations — or branchDrop and nothing ever happened.

  /** Branch slots live at 1e9+ — mainline history can never collide
    * (guarded loudly) and sweep rules can tell the ranges apart.
    */
  private val BranchSlotBase = 1000000000

  private def branchRoot(path: String) = new Path(path, "_branches")
  private def branchDirPath(path: String, name: String) =
    new Path(branchRoot(path), name)
  private def branchBasePath(path: String, name: String) =
    new Path(branchDirPath(path, name), "base")
  private[sources] def branchSeqPath(path: String, name: String, seq: Int) =
    new Path(branchDirPath(path, name), s"c$seq")

  private def nextBranchSlot(path: String): Int = {
    val maxSlot = MetaIO.list(new Path(path, "manifests"))
      .map(_.getPath.getName)
      .collect { case VersionFile(n) => n.toInt }
      .maxOption.getOrElse(-1)
    math.max(BranchSlotBase, maxSlot + 1)
  }

  /** Create branch `name` at the current head. Metadata-only: one base
    * record; the first branch commit stages the first manifest.
    */
  def branchCreate(path: String, name: String): Int = {
    val head = latestVersion(path)
    require(head >= 0, s"no table at $path")
    require(head < BranchSlotBase, s"version space exhausted at $path")
    require(name.nonEmpty && name.matches("[A-Za-z0-9_\\-]+"),
      s"bad branch name '$name' (letters, digits, _, - only)")
    if (!MetaIO.putIfAbsent(branchBasePath(path, name), head.toString))
      throw new IllegalArgumentException(
        s"branch '$name' already exists at $path (base v" +
          s"${branchBase(path, name)}) — publish or branchDrop it first")
    head
  }

  /** The main version the branch forked from. */
  def branchBase(path: String, name: String): Int = {
    val p = branchBasePath(path, name)
    require(MetaIO.exists(p), s"no branch '$name' at $path")
    MetaIO.readString(p).trim.toInt
  }

  def branchExists(path: String, name: String): Boolean =
    MetaIO.exists(branchBasePath(path, name))

  /** The branch's committed (seq → staged slot) pairs, seq-ascending. */
  def branchCommits(path: String, name: String): Seq[(Int, Int)] =
    MetaIO.list(branchDirPath(path, name))
      .map(_.getPath)
      .filter(_.getName.matches("c\\d+"))
      .map(p => p.getName.stripPrefix("c").toInt -> MetaIO.readString(p).trim.toInt)
      .sortBy(_._1)

  /** The snapshot version a branch read serves: its newest staged slot,
    * or the base when nothing was committed yet.
    */
  def branchHead(path: String, name: String): Int =
    branchCommits(path, name).lastOption.fold(branchBase(path, name))(_._2)

  /** All branches as (name, base, nCommits), name-sorted. */
  def branches(path: String): Seq[(String, Int, Int)] =
    MetaIO.list(branchRoot(path)).filter(_.isDirectory)
      .map(_.getPath.getName).sorted
      .filter(branchExists(path, _))
      .map(n => (n, branchBase(path, n), branchCommits(path, n).length))

  /** Read the branch head snapshot (MOR-aware, like any version read). */
  def readBranch(spark: SparkSession, path: String, name: String): DataFrame =
    read(spark, path, branchHead(path, name))

  /** The AUDIT diff: what publishing this branch would change on main —
    * [[changes]] from the base to the branch head (upserts + deletes
    * with `_deleted`), computed from manifests, cost O(changed buckets).
    */
  def branchChanges(spark: SparkSession, path: String, name: String): DataFrame =
    changes(spark, path, branchBase(path, name), branchHead(path, name))

  /** Keyed upsert onto the branch (the staging write): the identical
    * touched-bucket COW path as [[upsert]] — CHECK constraints, stats,
    * schema evolution, OCC retry — against the BRANCH head, invisible
    * to main until [[publish]].
    */
  def branchUpsert(spark: SparkSession, path: String, name: String,
                   updates: DataFrame, precombine: Seq[String] = Nil,
                   maxRetries: Int = 5): Unit =
    occRetry(maxRetries) { upsertImpl(spark, path, updates, precombine, Some(name)) }

  /** Key delete on the branch; the [[delete]] twin of [[branchUpsert]]. */
  def branchDeleteKeys(spark: SparkSession, path: String, name: String,
                       keysDf: DataFrame, maxRetries: Int = 5): Unit =
    occRetry(maxRetries) { deleteImpl(spark, path, keysDf, Some(name)) }

  /** FAST-FORWARD publish: branch commit K becomes main version base+K
    * (manifest text copied to the slot, marker written — data dirs are
    * already named for these versions). Refuses loudly when main
    * advanced past the base (the first occupied slot with DIFFERENT
    * content); a crashed publish retries idempotently (already-placed
    * slots are recognized by content equality, already-marked slots by
    * the marker). Returns the new main head. Run publishes for a table
    * through one maintainer (or the lock provider) — two publishes of
    * DIFFERENT branches race exactly like two mainline writers: one
    * wins slot base+1, the other refuses.
    */
  def publish(path: String, name: String): Int = {
    val base = branchBase(path, name)
    val commits = branchCommits(path, name)
    // PREFLIGHT (before the first marker is written): read every staged
    // slot and check every target slot is publishable, so the clean
    // refusal ("main advanced, nothing published") fires here, not
    // mid-loop after a prefix of commits already went live. A staged
    // slot may be MISSING only when a prior crashed publish already
    // placed its target manifest + marker (the crash hit the cleanup
    // loop) — that commit is treated as done on retry.
    val staged = commits.map { case (k, slot) =>
      val target = base + k
      val text =
        if (MetaIO.exists(manifestPath(path, slot)))
          Some(snapshot(path, slot).text)
        else None
      text match {
        case None =>
          require(MetaIO.exists(manifestPath(path, target)) &&
              MetaIO.exists(commitMarker(path, target)),
            s"publish '$name': staged slot $slot (commit $k) is missing and " +
              s"v$target is not published — the branch record is damaged; " +
              "branchDrop and re-stage")
        case Some(t) =>
          if (MetaIO.exists(manifestPath(path, target)) &&
              snapshot(path, target).text != t)
            throw new IllegalStateException(
              s"publish '$name': main advanced past base v$base at $path " +
                s"(v$target exists with different content) — fast-forward only; " +
                "nothing was published; branchDrop and re-stage against the new head")
      }
      (slot, target, text)
    }
    // FAST-FORWARD: preflight passed, so a failure past this point can
    // only be a mainline writer racing into a target slot between the
    // check and the put — a narrow window, but the error must say what
    // it left behind: a PREFIX of the branch is live on main.
    staged.foreach { case (_, target, text) =>
      text.foreach { t =>
        if (!MetaIO.putIfAbsent(manifestPath(path, target), t)) {
          if (snapshot(path, target).text != t)
            throw new IllegalStateException(
              s"publish '$name': a mainline writer raced into v$target at $path " +
                s"mid-publish — commits before v$target ARE LIVE on main " +
                "(partial publish); do NOT re-stage those; resolve the conflict " +
                "on the remaining commits and re-stage only them")
        }
        MetaIO.replaceString(commitMarker(path, target),
          System.currentTimeMillis().toString)
      }
    }
    // the staged slots and the record go; the data dirs live on,
    // referenced by the renumbered manifests
    staged.foreach { case (slot, _, text) =>
      if (text.isDefined) MetaIO.delete(manifestPath(path, slot))
    }
    MetaIO.delete(branchDirPath(path, name))
    base + commits.length
  }

  /** [[publish]] with the AUDIT step ENFORCED, not hoped: [[fsck]]
    * runs against the branch-head snapshot first, and any failed check
    * refuses the publish with the findings named — the staged commits
    * stay staged, main never sees them. This is the WAP loop's gate as
    * one call: a missing/truncated staged file, an unreadable sidecar,
    * or a dangling ref blocks the fast-forward instead of becoming
    * main's problem.
    */
  def publishVerified(spark: SparkSession, path: String, name: String): Int = {
    val head = branchHead(path, name)
    val bad = fsck(spark, path, version = head).filterNot(_.ok)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"publish '$name' REFUSED: fsck on the branch head (v$head) failed " +
          bad.map(f => s"${f.check} (${f.detail.getOrElse("")})").mkString("; ") +
          " — repair or branchDrop; main was not touched")
    publish(path, name)
  }

  /** Abandon the branch: record and staged manifests deleted; the
    * branch's data dirs become unreferenced orphans for [[vacuum]]'s
    * grace-window sweep. False when absent (IF EXISTS contract).
    */
  def branchDrop(path: String, name: String): Boolean = {
    if (!branchExists(path, name)) return false
    branchCommits(path, name).foreach { case (_, slot) =>
      MetaIO.delete(manifestPath(path, slot))
    }
    MetaIO.delete(branchDirPath(path, name))
    true
  }

  /** One fsck finding: a named consistency check with how many items it
    * examined, how many failed, and a detail string naming the first
    * few offenders (None when clean).
    */
  final case class FsckRow(check: String, ok: Boolean, checked: Long,
                           problems: Long, detail: Option[String])

  /** FSCK — audit one snapshot's metadata↔filesystem consistency (the
    * Delta `FSCK`/Iceberg table-integrity shape): does every file the
    * manifest's metadata promises actually exist, with the recorded
    * length, and do all sidecars still parse? Read-only; repairs are
    * the operator's call (restore, re-ANALYZE, tag_delete…), never
    * automatic — an auto-"repair" that drops a missing file silently
    * turns storage loss into silent row loss.
    *
    * Cost, honestly: per-file existence/length verification is O(files)
    * filesystem metadata RPCs — that IS what fsck means. The per-file
    * probes run DISTRIBUTED (the [[cloneTo]] conf-broadcast pattern),
    * so a 100 TB audit is a short parallel job, not a driver loop;
    * everything else is O(dirs + sidecars) driver metadata. Run as a
    * periodic audit, not per query — routine reads already get their
    * integrity from the manifest contract this verifies.
    *
    * Checks: manifest parse + schema header; every data dir exists;
    * every stats-recorded file exists with the recorded byte length;
    * stats coverage (files present but stat-less — legacy, prunes
    * nothing); MOR log files (`#dv=`/`#delta=`) exist; `_keys` parses
    * and agrees with the manifest's bucket count; `_constraints`
    * parse; every tag resolves to a committed, readable version; the
    * `_ndv` ANALYZE sidecar parses and names a committed version.
    */
  def fsck(spark: SparkSession, path: String, version: Int = -1): Seq[FsckRow] = {
    val head = latestVersion(path)
    require(head >= 0, s"no graft table at $path")
    val s = snapshot(path, if (version < 0) head else version) // loud for unknown/vacuumed
    val out = scala.collection.mutable.ArrayBuffer.empty[FsckRow]
    def row(check: String, checked: Long, bad: Seq[String]): Unit =
      out += FsckRow(check, bad.isEmpty, checked, bad.size.toLong,
        if (bad.isEmpty) None else Some(bad.take(3).mkString("; ")))

    // -- manifest structure + schema header --
    val dirs = s.dirs
    row("manifest_parse", dirs.size.toLong, Seq.empty)
    row("schema_header", 1L,
      if (s.schema.isDefined) Seq.empty
      else Seq("no #schema= header (legacy manifest; planning falls back to footer reads)"))

    // -- every referenced data dir exists --
    val missingDirs = dirs.values.toSeq.distinct.sorted
      .filterNot(d => MetaIO.exists(new Path(path, d)))
    row("data_dirs", dirs.values.toSeq.distinct.size.toLong, missingDirs)

    // -- every stats-recorded file exists with the recorded length --
    val dirSet = dirs.values.toSet
    val logRels = (s.dv ++ s.delta).map(_._1)
    val stats = s.fileStats.filter { case (rel, _) =>
      val cut = rel.lastIndexOf('/')
      cut > 0 && dirSet(rel.substring(0, cut))
    }
    val probed: Seq[(String, Long)] =
      stats.toSeq.map { case (rel, st) => (rel, st.bytes) }.sortBy(_._1)
    val badFiles: Seq[String] =
      if (probed.isEmpty) Seq.empty
      else {
        val sc = spark.sparkContext
        val confB = org.apache.spark.sql.graftshim.Bridge.broadcastHadoopConf(sc)
        val root = path
        val slices = math.max(1, math.min(probed.size, sc.defaultParallelism * 2))
        sc.parallelize(probed, slices).flatMap { case (rel, bytes) =>
          val conf = org.apache.spark.sql.graftshim.Bridge.hadoopConfOf(confB)
          val p = new Path(root, rel)
          val fs = p.getFileSystem(conf)
          if (!fs.exists(p)) Some(s"$rel: MISSING")
          else if (bytes >= 0 && fs.getFileStatus(p).getLen != bytes)
            Some(s"$rel: length ${fs.getFileStatus(p).getLen} != recorded $bytes")
          else None
        }.collect().toSeq.sorted
      }
    row("data_files", probed.size.toLong, badFiles)

    // -- coverage: files on disk the stats never recorded (legacy dirs
    // prune nothing and plan by listing — visible, not an error) --
    val statNames = stats.keySet
    val uncovered = dirs.values.toSeq.distinct.sorted.flatMap { d =>
      MetaIO.list(new Path(path, d))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => s"$d/${f.getPath.getName}")
        .filterNot(statNames)
    }
    out += FsckRow("stats_coverage", uncovered.isEmpty,
      (statNames.size + uncovered.size).toLong, uncovered.size.toLong,
      if (uncovered.isEmpty) None
      else Some(uncovered.take(3).mkString("; ") + " (stat-less: skipping/SPJ fall back to listing)"))

    // -- MOR log files named by the manifest --
    val missingLogs = logRels.distinct.sorted
      .filterNot(rel => MetaIO.exists(new Path(path, rel)))
    row("mor_log_files", logRels.distinct.size.toLong, missingLogs)

    // -- sidecars --
    val keysBad = scala.util.Try {
      val (keyCols, n, _) = meta(path)
      require(keyCols.nonEmpty && n > 0, s"_keys: empty keys or buckets=$n")
      // a rebucket changes the per-snapshot count; _keys keeps the
      // CREATE-time count — only a non-positive header is corruption
      require(s.nbuckets > 0, s"manifest #nbuckets=${s.nbuckets} invalid")
    }.failed.toOption.map(_.getMessage).toSeq
    row("sidecar_keys", 1L, keysBad)
    row("sidecar_constraints", 1L,
      scala.util.Try(constraints(path)).failed.toOption
        .map(e => s"_constraints: ${e.getMessage}").toSeq)

    // -- tags resolve to committed, readable versions --
    val tagRows = scala.util.Try(tags(path)).getOrElse(Seq.empty)
    val badTags = tagRows.collect {
      case (name, tv) if !isVersionReadable(path, tv) =>
        s"refs/$name -> v$tv (not committed/readable)"
    }
    row("tags_resolve", tagRows.size.toLong, badTags)

    // -- ANALYZE sidecar parses and names a committed version --
    val ndvBad = scala.util.Try(ndvProfile(path)).map {
      case Some((nv, _)) if !commitVersions(path).contains(nv) =>
        Seq(s"_ndv: analyzed version $nv is not a committed version")
      case _ => Seq.empty[String]
    }.recover { case e => Seq(s"_ndv: ${e.getMessage}") }.get
    row("sidecar_ndv", 1L, ndvBad)

    // -- branches: base committed, every staged slot's manifest parses --
    val branchRows = scala.util.Try(branches(path)).getOrElse(Seq.empty)
    val badBranches = branchRows.flatMap { case (name, b, _) =>
      val baseBad =
        if (isVersionReadable(path, b)) Nil
        else Seq(s"_branches/$name: base v$b not committed/readable")
      val slotBad = scala.util.Try(branchCommits(path, name)).toOption match {
        case None => Seq(s"_branches/$name: commit records unreadable")
        case Some(cs) => cs.collect {
          case (k, slot) if scala.util.Try(snapshot(path, slot)).isFailure =>
            s"_branches/$name: c$k -> staged manifest v$slot missing/corrupt"
        }
      }
      baseBad ++ slotBad
    }
    row("branches_resolve", branchRows.size.toLong, badBranches)

    out.toSeq
  }

  /** Roll the table back to `version`: commit a NEW head whose manifest
    * is a copy of the old one (Hudi's savepoint/restore, Delta's
    * RESTORE). Nothing is rewritten — the new manifest points at the
    * old version's files, which COW never mutated — so restore is an
    * O(manifest) metadata operation at any table size. History after
    * the restored version stays readable (time travel) until vacuumed;
    * the restore itself goes through the same optimistic-commit lock as
    * any writer, and [[changes]] across the restore correctly reports
    * the rolled-back rows (upserts undone → old images reappear as
    * updates; inserts undone → `_deleted`).
    */
  def restoreTo(path: String, version: Int): Unit = {
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path")
    require(version >= 0 && version <= v, s"version $version out of range [0, $v]")
    if (version == v) return
    // the new head's manifest is a FULL copy of the restored version's —
    // bucket lines, schema, and file stats all still describe those
    // (immutable) files. Legacy manifests without a #nbuckets header get
    // one prepended so writers on top of the restore bucket correctly.
    val lines = snapshot(path, version).headedText
    if (!MetaIO.putIfAbsent(manifestPath(path, v + 1), lines))
      throw new java.util.ConcurrentModificationException(
        s"concurrent writer committed v${v + 1} first at $path; re-read and retry the restore")
    // atomic swap: the marker appears WITH its content — a concurrent
    // commitLog never reads a created-but-unwritten (empty) marker
    MetaIO.replaceString(commitMarker(path, v + 1), System.currentTimeMillis().toString)
  }

  /** DEEP CLONE: materialize version `version` (default head) of `src`
    * as a NEW independent table at `dst` (Delta's DEEP CLONE, Iceberg's
    * snapshot-export shape). The physical layout carries over
    * byte-for-byte — data files, MOR log files (DVs + deltas), stats
    * segments, the `#sorted=` claim, constraints, and bloom config are
    * COPIED verbatim and the clone's v0 manifest IS the source
    * snapshot's text — so the clone spends ZERO compute re-bucketing,
    * re-sorting, or re-encoding, and every metadata-derived behavior
    * (stats skipping, SPJ planning, zero-sort joins, metadata
    * aggregates) holds on the clone immediately. The copy itself runs
    * as a DISTRIBUTED job, one task per file group (at 100 TB a
    * driver-streamed copy is the bug — the cluster moves the bytes,
    * the driver moves only metadata). The clone starts a fresh history
    * (its v0 = the cloned snapshot): no file is shared with `src`, so
    * source vacuum/commits can never corrupt it — the cross-table GC
    * hazard a shallow clone carries is structurally absent.
    *
    * Returns (files copied, bytes copied).
    */
  def cloneTo(spark: SparkSession, src: String, dst: String,
              version: Int = -1): (Long, Long) = {
    val head = latestVersion(src)
    require(head >= 0, s"no table at $src")
    val v = if (version < 0) head else version
    require(isVersionReadable(src, v),
      s"$src has no readable version $v (committed: ${commitVersions(src).mkString(", ")})")
    require(latestVersion(dst) < 0, s"a graft table already exists at $dst")
    require(new Path(src).toUri != new Path(dst).toUri, "clone onto itself")
    val snap = snapshot(src, v)
    // everything the snapshot references, as table-relative paths:
    // data dirs + MOR log dirs, plus the stats segments derived from
    // the dir names (the same derivation rule readers use)
    val dirRels = snap.dirs.values.toSeq.distinct
    val logRels = (snap.dv ++ snap.delta).map(_._1).distinct
    val segRels = dirRels.map(d => d.split("/")(1)).distinct
      .map(att => s"manifests/$att.stats")
      .filter(rel => MetaIO.exists(new Path(src, rel)))
    // enumerate files ON THE DRIVER (O(files) metadata, one-time);
    // move bytes ON THE CLUSTER
    val files: Seq[(String, Long)] = (dirRels ++ logRels).flatMap { rel =>
      MetaIO.list(new Path(src, rel)).filter(_.isFile)
        .map(f => (s"$rel/${f.getPath.getName}", f.getLen))
    } ++ segRels.flatMap { rel =>
      MetaIO.list(new Path(src, rel).getParent)
        .find(_.getPath.getName == rel.stripPrefix("manifests/"))
        .map(st => (rel, st.getLen))
    }
    val sc = spark.sparkContext
    val confB = org.apache.spark.sql.graftshim.Bridge.broadcastHadoopConf(sc)
    val (srcRoot, dstRoot) = (src, dst)
    val slices = math.max(1, math.min(files.size, sc.defaultParallelism * 2))
    if (files.nonEmpty) sc.parallelize(files.map(_._1), slices).foreach { rel =>
      val conf = org.apache.spark.sql.graftshim.Bridge.hadoopConfOf(confB)
      val from = new Path(srcRoot, rel)
      val to = new Path(dstRoot, rel)
      org.apache.hadoop.fs.FileUtil.copy(
        from.getFileSystem(conf), from, to.getFileSystem(conf), to,
        /*deleteSource=*/ false, /*overwrite=*/ true, conf)
    }
    // sidecars: `_keys` (record key + bucket-count identity — a table
    // is not readable without it), plus the data-quality gates, bloom
    // write config, and declared time clustering (they describe the
    // data, which is identical)
    for (side <- Seq("_keys", "_constraints", "_bloom", "_cluster")) {
      val p = new Path(src, side)
      if (MetaIO.exists(p)) MetaIO.replaceString(new Path(dst, side), MetaIO.readString(p))
    }
    // the ANALYZE sketch store travels too, FILTERED to the cloned
    // snapshot's files: data files copy byte-for-byte under the same
    // relative paths, so their per-file HLL sketches stay valid on the
    // clone — its first `analyze(incremental = true)` scans nothing
    // and materializes a fresh `_ndv`. The `_ndv` profile itself does
    // NOT copy (it may reflect a different source version; a stamp
    // from another table's history would be a lie).
    locally {
      val (sk, ln, kll) = readSketchStore(src)
      if (sk.nonEmpty) {
        val cloned = files.map(_._1).toSet
        val skF = sk.filter { case ((f, _), _) => cloned(f) }
        val lnF = ln.filter { case ((f, _), _) => cloned(f) }
        val klF = kll.filter { case ((f, _), _) => cloned(f) }
        if (skF.nonEmpty) writeSketchStore(dst, skF, lnF, klF)
      }
    }
    // legacy manifests without a #nbuckets header get one prepended so
    // writers on top of the clone bucket correctly (restoreTo's rule)
    // standard commit ordering: data (copied above) → manifest → marker
    if (!MetaIO.putIfAbsent(manifestPath(dst, 0), snap.headedText))
      throw new java.util.ConcurrentModificationException(
        s"concurrent cloner committed v0 first at $dst")
    MetaIO.replaceString(commitMarker(dst, 0), System.currentTimeMillis().toString)
    (files.size.toLong, files.map(_._2).sum)
  }

  /** Drop snapshots older than the last `keepVersions`: delete data
    * dirs no surviving manifest references, plus their manifests.
    * TAGGED versions (see [[tagCreate]]) are always retained — the
    * Iceberg keep-tagged-snapshots rule — so a release pin below the
    * window keeps exactly its own manifest and files alive.
    * Time travel past the horizon is gone (standard lakehouse vacuum
    * semantics); the commit markers keep their full history for audit.
    * Long-lived tables need this — bucket-level COW leaks one dir per
    * touched bucket per commit otherwise.
    *
    * A dir referenced by NO manifest at all is either an aborted
    * writer's leftovers or an IN-FLIGHT write racing this vacuum
    * (writeVersion writes data before it commits the manifest).
    * Deleting the latter would corrupt the version that writer then
    * commits, so never-referenced dirs are reclaimed only after
    * `orphanGraceMs` of inactivity — the same grace-period discipline
    * Delta's VACUUM retention check and Hudi's cleaner apply.
    * Committed-but-expired dirs (referenced by a manifest outside the
    * keep horizon) are deleted immediately: their writer is done by
    * definition.
    */
  def vacuum(path: String, keepVersions: Int = 1,
             orphanGraceMs: Long = 24L * 3600 * 1000): Unit = {
    reclaim(path, keepVersions, orphanGraceMs, execute = true)
    ()
  }

  /** Read-only PREVIEW of [[vacuum]]: the (kind, table-relative path)
    * list the same-argument vacuum would reclaim right now — kinds:
    * `data` (a bucket dir), `log` (a dv/delta dir), `manifest`.
    * Attempt-dir husks and stats segments follow their data dirs and
    * are not separately listed. Nothing is touched — the ops
    * "what would this reclaim?" question answered from metadata before
    * committing to an irreversible delete (VacuumSpec cross-checks
    * plan == actual reclamation, kind by kind).
    */
  def vacuumPlan(path: String, keepVersions: Int = 1,
                 orphanGraceMs: Long = 24L * 3600 * 1000): Seq[(String, String)] =
    reclaim(path, keepVersions, orphanGraceMs, execute = false)

  private def reclaim(path: String, keepVersions: Int,
                      orphanGraceMs: Long, execute: Boolean): Seq[(String, String)] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val v = latestVersion(path)
    require(v >= 0, s"no table at $path")
    // tagged versions are RETAINED regardless of the keep window (the
    // Iceberg keep-tagged-snapshots rule) — a tag is the durable claim
    // "this snapshot must stay readable"; drop the tag to release it
    val tagged = tags(path).map(_._2)
    // live branches pin their staged slots AND their base (the branch's
    // reads and its eventual publish both need them servable)
    val branchPinned = branches(path).flatMap { case (n, b, _) =>
      b +: branchCommits(path, n).map(_._2)
    }
    val keep = ((math.max(0, v - keepVersions + 1) to v) ++ tagged ++ branchPinned)
      .distinct.sorted
    // every surviving manifest file (incl. those past the horizon),
    // each read once. A kept version without one (reclaimed by an
    // earlier, narrower vacuum) has nothing left to keep
    val allManifests = MetaIO.list(new Path(path, "manifests"))
      .map(_.getPath.getName)
      .collect { case VersionFile(n) => n.toInt }
    val surviving = allManifests.map(n => n -> snapshot(path, n)).toMap
    val kept = keep.flatMap(surviving.get)
    val referenced = kept.flatMap(_.dirs.values).toSet
    // every dir ANY surviving manifest file references: membership
    // distinguishes expired-committed dirs (safe to drop now) from
    // never-committed ones (grace-guarded)
    val referencedAny = surviving.values.flatMap(_.dirs.values).toSet
    val now = System.currentTimeMillis()
    val actions = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    MetaIO.list(new Path(path, "data")).filter(_.isDirectory).foreach { vDir =>
      val vName = vDir.getPath.getName
      MetaIO.list(vDir.getPath)
        .filter(_.getPath.getName.startsWith(s"$BUCKET="))
        .foreach { bDir =>
          val rel = s"data/$vName/${bDir.getPath.getName}"
          if (!referenced(rel) &&
              (referencedAny(rel) || now - bDir.getModificationTime > orphanGraceMs)) {
            actions += (("data", rel))
            if (execute) MetaIO.delete(bDir.getPath)
          }
        }
      // nothing referenced left in this attempt dir → reclaim it whole
      // (removes the _SUCCESS marker and any stray committer files too).
      // Grace-guarded as well: a JUST-STARTED writer's attempt dir holds
      // only _temporary staging — no bucket dirs yet — and must survive
      if (execute &&
          !MetaIO.list(vDir.getPath).exists(_.getPath.getName.startsWith(s"$BUCKET=")) &&
          now - vDir.getModificationTime > orphanGraceMs)
        MetaIO.delete(vDir.getPath)
    }
    // MOR log files (dv/ and delta/): same two-tier rule as data dirs —
    // a log file referenced only by expired manifests is reclaimed now;
    // one referenced by NO manifest is a racing MOR writer's in-flight
    // write (log parquet lands before its manifest) and gets the
    // orphan grace
    for ((sub, entriesOf) <- Seq[(String, Snapshot => Seq[(String, Int)])](
        "dv" -> (_.dv), "delta" -> (_.delta))) {
      val keptLog = kept.flatMap(entriesOf).map(_._1).toSet
      val any = surviving.values.flatMap(entriesOf).map(_._1).toSet
      MetaIO.list(new Path(path, sub)).filter(_.isDirectory).foreach { d =>
        val rel = s"$sub/${d.getPath.getName}"
        if (!keptLog(rel) &&
            (any(rel) || now - d.getModificationTime > orphanGraceMs)) {
          actions += (("log", rel))
          if (execute) MetaIO.delete(d.getPath)
        }
      }
    }
    // drop every non-kept manifest below head (the keep set is no
    // longer contiguous once tags pin versions below the window)
    val keepSet = keep.toSet
    (0 until v).filterNot(keepSet)
      .filter(old => MetaIO.exists(manifestPath(path, old)))
      .foreach { old =>
        actions += (("manifest", s"manifests/v$old"))
        if (execute) MetaIO.delete(manifestPath(path, old))
      }
    // orphan STAGED manifests (a branch writer that lost its sequence
    // race, or a dropped/crashed branch): slots >= BranchSlotBase owned
    // by no live branch, marker-less by construction — swept after the
    // same grace window as orphan data dirs
    val ownedSlots = branchPinned.toSet
    allManifests.filter(s => s >= BranchSlotBase && !ownedSlots(s)).foreach { s =>
      val p = manifestPath(path, s)
      if (MetaIO.exists(p) &&
          now - MetaIO.list(p.getParent).find(_.getPath.getName == s"v$s")
            .map(_.getModificationTime).getOrElse(now) > orphanGraceMs) {
        actions += (("manifest", s"manifests/v$s"))
        if (execute) MetaIO.delete(p)
      }
    }
    // stat segments die with their attempt dirs: once vacuum has
    // reclaimed data/<attempt> entirely, no surviving manifest can
    // resolve files under it, so its segment is unreachable by name
    if (execute) MetaIO.list(new Path(path, "manifests"))
      .map(_.getPath.getName).filter(_.endsWith(".stats")).foreach { n =>
        if (!MetaIO.exists(new Path(path, s"data/${n.stripSuffix(".stats")}")))
          MetaIO.delete(new Path(new Path(path, "manifests"), n))
      }
    actions.toSeq
  }

  /** Write snapshot v: data dir → manifest → commit marker.
    *
    * Optimistic concurrency control: the manifest for v is created with
    * put-if-absent ([[MetaIO.putIfAbsent]]), so of two writers that
    * both read version v−1 and race to commit v, exactly one wins; the
    * loser throws ConcurrentModificationException WITHOUT touching any
    * shared state (its data dir carries a unique suffix, so it never
    * clobbers the winner's files, and vacuum reclaims the orphan). This
    * is the same manifest-level atomic-rename/put-if-absent protocol
    * the lakehouse formats use; the caller retries the upsert against
    * the new head.
    *
    * `base` is the snapshot the write read under that protocol (None
    * only for create's v0): its manifest lines carry over (the MOR log,
    * the `#dropped=` ledger, legacy inline stats) with no second read.
    *
    * Branch commits ([[branchUpsert]]/[[branchDeleteKeys]]) reuse this
    * whole path with three twists: `base` is the branch head SLOT the
    * write merged against, not v−1; `branchCommit =
    * Some((name, seq))` replaces the commit marker with a put-if-absent
    * on the branch's own commit-sequence record (the branch's OCC
    * lock — the staged manifest slot stays marker-less and therefore
    * invisible to every mainline reader); and `dirVersion` names the
    * data dir with the version the commit will HOLD after [[publish]]
    * renumbers it (base+seq), so the MOR log's version-scoping
    * arithmetic — which compares versions PARSED FROM DIR NAMES — reads
    * identically before and after publish. Mainline callers pass
    * neither of the last two.
    */
  private def writeVersion(df: DataFrame, path: String, keyCols: Seq[String],
                           nbuckets: Int, v: Int, base: Option[Snapshot],
                           carryOver: Map[Int, String],
                           sortWithin: Seq[String] = Nil, rangeSplit: Int = 1,
                           touched: Set[Int] = Set.empty,
                           recordSorted: Boolean = false,
                           branchCommit: Option[(String, Int)] = None,
                           dirVersion: Int = -1,
                           clustered: Boolean = false): Unit = {
    // unique per-attempt dir: racing writers must not share a data path
    val dirV = if (dirVersion >= 0) dirVersion else v
    val dataRel = s"data/v$dirV-${java.util.UUID.randomUUID.toString.take(8)}"
    // CHECK guard rides the write job itself (no pre-pass): a violating
    // row fails the job here, before any manifest or commit marker
    // a `clustered` caller's frame already carries BUCKET, computed
    // and shuffled on in its own merge: it arrives grouped by bucket
    val guarded = constraintGuard(path, df)
    val bucketed =
      if (clustered) guarded else guarded.withColumn(BUCKET, bucketCol(keyCols, nbuckets))
    // sortWithin: transient cluster-sort columns (e.g. compact's
    // z-value) — each task's rows arrive sorted by (bucket, sortCols),
    // which satisfies the writer's required partition-column ordering,
    // so NO re-sort happens inside the write and the cluster order
    // reaches the parquet file; the transient columns are projected
    // away (projection preserves per-partition row order).
    // rangeSplit > 1: RANGE-partition on (bucket, sortCols) into
    // ~rangeSplit output partitions per bucket, so each bucket dir gets
    // several files each covering a NARROW slice of the cluster order —
    // the layout the manifest's file-level min/max stats skip on. (A
    // range spanning a bucket boundary just writes one file into each
    // of its two dirs; partitionBy still routes rows correctly.)
    // many-small-files regime (guide §2.2/§6): when the clustered
    // rewrite's file-count target far exceeds the session's
    // parallelism, one range partition PER FILE launches thousands of
    // tiny tasks (measured: the 512-file 3-dim exhibit ran a 512-task
    // write whose wall was ~4× its compute). Instead range-partition to
    // a parallelism-sized task count and let maxRecordsPerFile roll
    // each task's (bucket, sortCols)-ORDERED output into the same
    // number of NARROW files — rows arrive sorted, so row-count
    // boundaries are contiguous slices of the cluster order: the same
    // pruning layout, ~targetParts/cap fewer tasks. Needs a row-count
    // hint; the previous manifest's #file lines give it for free
    // (metadata fold, exact on log-free tables). No stats → keep the
    // one-partition-per-file plan.
    val targetParts = nbuckets * rangeSplit
    val partCap = math.max(
      df.sparkSession.sparkContext.defaultParallelism * 2, nbuckets)
    // Unsorted writes group rows by bucket first (the caller's own
    // shuffle when `clustered`, else [[clusteredFor]]), so each
    // attempt leaves ONE file per bucket — every file is a Parquet open,
    // a Configuration copy and a footer read on every later scan — and
    // a bucket past `spark.sql.files.maxPartitionBytes` (never less than
    // the open cost, the smallest split Spark packs) rolls into several,
    // capped by maxRecordsPerFile at that many bytes' worth of rows by
    // the base snapshot's recorded rows and bytes.
    val maxRecs: Option[Long] =
      if (rangeSplit > 1) {
        if (targetParts <= partCap) None
        else base.flatMap(b => scala.util.Try(statsProfile(b).map(_._1)).toOption.flatten)
          .filter(_ > 0)
          .map(n => math.max(1L, (n + targetParts - 1) / targetParts))
      } else if (sortWithin.nonEmpty) None
      else base.flatMap { b =>
        val sized = b.fileStats.values.filter(_.bytes > 0L)
        val (rows, bytes) = (sized.map(_.rows).sum, sized.map(_.bytes).sum)
        val cap = math.max(org.apache.spark.sql.graftshim.Bridge.filesMaxPartitionBytes,
          org.apache.spark.sql.graftshim.Bridge.filesOpenCostInBytes)
        Option.when(rows > 0L)(math.max(1L, (cap.toDouble * rows / bytes).toLong))
      }
    val prepared =
      if (sortWithin.isEmpty) {
        if (clustered) bucketed else clusteredFor(bucketed, BUCKET)
      } else {
        val parted =
          if (rangeSplit > 1)
            bucketed.repartitionByRange(
              if (maxRecs.isDefined) partCap else targetParts,
              (BUCKET +: sortWithin).map(col): _*)
          else bucketed.repartition(nbuckets, col(BUCKET))
        // only TRANSIENT cluster columns (the "__" convention, e.g.
        // compact's __zc z-value) are projected away after the sort;
        // sorting by real table columns (the key-sorted compact layout)
        // must keep them
        parted.sortWithinPartitions((BUCKET +: sortWithin).map(col): _*)
          .drop(sortWithin.filter(_.startsWith("__")): _*)
      }
    maxRecs.fold(prepared.write)(r => prepared.write.option("maxRecordsPerFile", r))
      .mode(SaveMode.Overwrite).partitionBy(BUCKET)
      .parquet(s"$path/$dataRel")
    // manifest = freshly written bucket dirs + carried-over references;
    // the written files' lengths feed the stats lines, so no later
    // step lists these dirs again
    val writtenFiles = MetaIO.list(new Path(path, dataRel))
      .filter(_.getPath.getName.startsWith(s"$BUCKET="))
      .flatMap(d => MetaIO.list(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => (s"$dataRel/${d.getPath.getName}/${f.getPath.getName}", f.getLen)))
    var written = writtenFiles.map(f => dirOf(f._1)).distinct
      .map(d => d.substring(d.lastIndexOf('=') + 1).toInt -> d).toMap
    if (written.isEmpty && carryOver.isEmpty) {
      // empty snapshot (e.g. a delete removed every row): partitionBy
      // emits no dirs for zero rows, but the table must stay readable
      // with its schema — write one empty, schema-bearing bucket file.
      // Taken from `prepared` (minus the bucket column), not `df`: the
      // sortWithin path's transient cluster-sort columns must not leak
      // into the table schema through this fallback.
      prepared.drop(BUCKET).limit(0)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/$dataRel/$BUCKET=0")
      written = Map(0 -> s"$dataRel/$BUCKET=0")
    }
    val spark = df.sparkSession
    // delta-commit interplay: when the previous manifest carries #delta
    // lines, a TOUCHED bucket that came out empty must not simply drop
    // from the manifest — a carried delta's rows for it would resurface
    // (no dir = no dir version to scope them away). Write an empty
    // tombstone dir instead: its version v marks every older log event
    // for that bucket as materialized-away.
    if (base.exists(_.delta.nonEmpty) && carryOver.nonEmpty) {
      (touched -- written.keySet).foreach { b =>
        prepared.drop(BUCKET).limit(0)
          .write.mode(SaveMode.Overwrite).parquet(s"$path/$dataRel/$BUCKET=$b")
        written += b -> s"$dataRel/$BUCKET=$b"
      }
    }
    // snapshot schema = previous column order, new columns appended
    // (additive evolution); recorded in the manifest so readers skip
    // the mergeSchema footer-listing pass and point lookups/pruned
    // scans can pad without a full-table relation. A legacy previous
    // manifest (no #schema) pays ONE footer pass here to upgrade.
    val newSchema = types.StructType(prepared.schema.fields.filterNot(_.name == BUCKET))
    val prevLines: Seq[String] =
      if (carryOver.isEmpty) Nil else base.fold(Seq.empty[String])(_.lines)
    // the previous DDL as recorded (not the all-nullable read schema),
    // so the carried columns' recorded nullability survives
    val prevSchema: Option[types.StructType] =
      if (carryOver.isEmpty) None
      else prevLines.collectFirst { case l if l.startsWith("#schema=") =>
          types.StructType.fromDDL(dec(l.stripPrefix("#schema="))) }
        .orElse(base.flatMap(b => scala.util.Try(read(spark, b).schema).toOption))
    val snapshotSc = prevSchema match {
      case Some(ps) =>
        types.StructType(ps.fields ++
          newSchema.fields.filterNot(f => ps.fieldNames.contains(f.name)))
      case None => newSchema
    }
    // #dropped ledger (see dropColumns): carried through every PARTIAL
    // rewrite (carried dirs still hold the retired columns' bytes) and
    // legitimately lapsing on a full rewrite (prevLines empty then);
    // a batch re-introducing a retired name must refuse BEFORE the
    // manifest lands — carried files would serve their old values as
    // the "new" column's data
    val droppedLedgerLine = prevLines.filter(_.startsWith("#dropped="))
    val retiredNames =
      if (carryOver.isEmpty) Set.empty[String] else base.fold(Set.empty[String])(_.dropped)
    val resurrected = prevSchema.fold(Set.empty[String])(ps =>
      newSchema.fieldNames.toSet -- ps.fieldNames.toSet).intersect(retiredNames)
    if (resurrected.nonEmpty)
      throw new IllegalArgumentException(
        s"write batch re-introduces previously dropped column(s) " +
          s"${resurrected.mkString(", ")} at $path — un-rewritten files still " +
          "carry the old values under that name; compact() first, then re-add")
    // stats live in per-attempt SEGMENT files (statsSegPath), not the
    // manifest: fresh files get one bounded aggregate scan written to
    // this attempt's own segment; carried dirs resolve by name from the
    // segments their attempts already own. Commit cost stays
    // O(touched files + buckets) — inline carry-by-copy was O(table)
    // per commit at high file counts. Carried dirs whose stats are
    // still INLINE in the previous manifest (legacy format) have those
    // lines copied out to their attempts' segments once, MERGED in case
    // a restore resurfaces dirs an earlier upgrade pass missed. Never
    // fail the commit over stats — files without them simply don't
    // prune.
    val carriedDirs = carryOver.values.toSet
    def relOfLine(l: String) = l.substring(l.indexOf('=') + 1).split("\t")(0)
    val carriedInline = prevLines.filter { l =>
      (l.startsWith("#file=") || l.startsWith("#stat=")) &&
        carriedDirs.exists(d => relOfLine(l).startsWith(d + "/"))
    }
    val (upgradable, keepInline) =
      carriedInline.partition(l => attemptOfRel(relOfLine(l)).isDefined)
    upgradable.groupBy(l => attemptOfRel(relOfLine(l)).get).foreach { case (a, ls) =>
      val seg = statsSegPath(path, a)
      val existing = scala.util.Try(MetaIO.readString(seg)).toOption
        .toSeq.flatMap(_.split("\n").toSeq).filter(_.nonEmpty)
      val merged = (existing ++ ls).distinct
      if (merged.size != existing.size) MetaIO.replaceString(seg, merged.mkString("\n"))
    }
    val freshStats =
      try {
        val sl = collectStatLines(spark, path, writtenFiles, newSchema)
        sl ++ collectBloomLines(spark, path, writtenFiles, newSchema, sl)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] stats collection failed for $path v$v: $e"); Nil
      }
    if (freshStats.nonEmpty) // this attempt's uuid is unique: no racing writer shares it
      MetaIO.replaceString(statsSegPath(path, dataRel.stripPrefix("data/")),
        freshStats.mkString("\n"))
    // MOR log carry rules. Delta lines: carried through ANY partial
    // rewrite — a delta may hold rows for buckets this write never saw
    // (even buckets with no dir), and per-bucket content is unknowable
    // without reading it; version scoping keeps a carried line inert
    // for every rewritten bucket, so over-carrying is correct, just
    // deferred work for compact. DV lines: carried while some carried
    // dir OR carried delta is old enough for the DV to apply to —
    // dropping a DV that still guards a carried delta's row would
    // resurrect it. A full rewrite (compact/rebucket, carryOver empty)
    // drops the whole log — the fold-the-log step of merge-on-read.
    val carriedDeltas = prevLines.filter(_.startsWith("#delta="))
    val carriedLogRels = carryOver.values.toSeq ++
      carriedDeltas.map(_.stripPrefix("#delta=").trim)
    val carriedDvs = prevLines.filter(_.startsWith("#dv=")).filter { l =>
      val dvv = relVersion(l.stripPrefix("#dv=").trim)
      carriedLogRels.exists(r => relVersion(r) <= dvv)
    }
    // #sorted= : every data file of THIS snapshot is internally sorted
    // by the record key (ascending, nulls first — Spark's default sort)
    // — only a FULL rewrite (compact/rebucket, carryOver empty) can
    // claim it; any later partial commit writes a manifest without the
    // header and the claim conservatively lapses. The DSv2 scan turns
    // the claim into a reported output ordering (zero-sort SPJ joins).
    val sortedLine =
      if (recordSorted && carryOver.isEmpty && sortWithin == keyCols)
        Seq("#sorted=" + enc(keyCols.mkString(","))) else Nil
    val lines = (Seq(s"#nbuckets=$nbuckets", "#schema=" + enc(snapshotSc.toDDL)) ++
      droppedLedgerLine ++ sortedLine ++ keepInline ++ carriedDvs ++ carriedDeltas ++
      (carryOver ++ written).toSeq.sortBy(_._1).map { case (b, d) => s"$b\t$d" })
      .mkString("\n")
    // put-if-absent = the commit lock: first manifest for v wins
    if (!MetaIO.putIfAbsent(manifestPath(path, v), lines))
      throw new java.util.ConcurrentModificationException(
        s"concurrent writer committed v$v first at $path; re-read and retry the upsert")
    branchCommit match {
      case None =>
        // marker last: readers only see fully-written manifests; the
        // commit time enables wall-clock time travel (readAsOf). Atomic
        // swap, so a concurrent commitLog never sees an empty marker.
        MetaIO.replaceString(commitMarker(path, v), System.currentTimeMillis().toString)
      case Some((name, seq)) =>
        // the branch's commit lock: first writer of c<seq> wins; the
        // loser's staged manifest is an invisible orphan (no marker, no
        // sequence record) that reclaim() sweeps after the grace window
        if (!MetaIO.putIfAbsent(branchSeqPath(path, name, seq), v.toString))
          throw new java.util.ConcurrentModificationException(
            s"concurrent writer committed branch '$name' c$seq first at $path; " +
              "re-read the branch head and retry")
    }
  }
}
