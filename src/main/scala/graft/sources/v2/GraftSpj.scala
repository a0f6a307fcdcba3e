package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.GraftTable

/** STORAGE-PARTITIONED JOINS for GraftTable — the DSv2 read path that
  * teaches Spark the table's physical bucketing, so two tables
  * co-bucketed on their record keys JOIN WITH ZERO SHUFFLE (Spark's
  * SPJ machinery, the same contract Iceberg's bucket transform uses):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  *   spark.table("graft.`/data/orders`")
  *     .join(spark.table("graft.`/data/returns`"), "o_orderkey")
  *   // == SortMergeJoin over per-bucket partitions, NO Exchange
  * }}}
  *
  * Why this matters at 100 TB: the shuffle of a fact ⋈ fact join IS
  * the dominant cost; both tables already live hash-bucketed on the
  * join key (GraftTable's write layout), and this scan surfaces that
  * layout as a [[KeyGroupedPartitioning]] over the `bucket(n, keys…)`
  * transform — one input partition per bucket, `partitionKey` = the
  * bucket id — so Catalyst aligns bucket i with bucket i instead of
  * re-hashing 100 TB. The bucket function the catalog exports
  * evaluates the IDENTICAL `pmod(xxhash64(keys), n)` expression the
  * write path places rows with ([[Bridge.bucketExprEval]]).
  *
  * Scope, stated loudly: batch READ of the head snapshot (or a
  * `VERSION AS OF` / `TIMESTAMP AS OF` pinned one), and
  * only while NO MOR log is outstanding — deltas/DVs change row
  * visibility in ways a per-bucket file scan must merge, so the scan
  * REFUSES (compact first, or read through [[GraftTable.read]], which
  * handles the full log). Writes keep going through the GraftTable
  * API. Column pruning is pushed into the parquet read; rows are
  * decoded by Spark's own `ParquetFileFormat` reader closure — the
  * exact machinery FileSourceScanExec ships to executors.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog with ProcedureCatalog {
  private var catalogName = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString("/")

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    if (GraftTable.latestVersion(path) < 0)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GraftV2Table(path)
  }

  /** SQL time travel — `SELECT … FROM graft.`path` VERSION AS OF 3`:
    * pins the named commit version, the same snapshot
    * `GraftTable.read(spark, path, 3)` (and the `graft_table` TVF)
    * serves. The pinned table is read-only: DML against the past
    * refuses loudly.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    // integers pin a commit version; anything else resolves as a TAG
    // name first, then a BRANCH name (the branch's staged head — a
    // read-only SQL window into the WAP stage; staging writes stay on
    // the Scala API). Names are never all-digit, so the namespaces
    // cannot collide with versions.
    val v = version.toIntOption match {
      case Some(n) =>
        val committed = GraftTable.commitLog(path).map(_._1)
        if (!committed.contains(n))
          throw new IllegalArgumentException(
            s"$path has no committed version $n (committed: ${committed.mkString(", ")})")
        n
      case None =>
        GraftTable.resolveTag(path, version)
          .orElse(Option.when(GraftTable.branchExists(path, version))(
            GraftTable.branchHead(path, version)))
          .getOrElse(throw new IllegalArgumentException(
            s"$path has no tag or branch '$version' (tags: " +
              s"${GraftTable.tags(path).map { case (t, tv) => s"$t→v$tv" }.mkString(", ")}; " +
              s"branches: ${GraftTable.branches(path).map(_._1).mkString(", ")})"))
    }
    new GraftV2Table(path, pinned = Some(v))
  }

  /** `TIMESTAMP AS OF` — Spark hands the instant in MICROseconds; the
    * snapshot is the last commit at or before it ([[GraftTable
    * .readAsOf]]'s wall-clock rule, against the commit markers'
    * recorded times).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = pathOf(ident)
    val tsMillis = Math.floorDiv(timestampMicros, 1000L)
    val eligible = GraftTable.commitLog(path).filter(_._2 <= tsMillis)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"$path has no commit at or before epoch-millis $tsMillis " +
          s"(earliest: ${GraftTable.commitLog(path).headOption.map(_._2).getOrElse(-1L)})")
    new GraftV2Table(path, pinned = Some(eligible.last._1))
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftTable.latestVersion(pathOf(ident)) >= 0

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed catalog: enumeration is not meaningful

  /** SQL `CREATE TABLE` / `CREATE TABLE … AS SELECT` — the record key
    * and bucket count come from the bucket transform
    * (`PARTITIONED BY (bucket(8, k))`, the Iceberg-shaped spelling) or
    * from `TBLPROPERTIES (keys='k', buckets='8')`. A graft table IS a
    * keyed bucketed table, so a statement naming neither refuses
    * loudly rather than guessing a layout. CTAS composes from the
    * standard non-atomic v2 plan: this create, then the table's write
    * builder (a keyed upsert into the just-created empty table), with
    * [[dropTable]] as Spark's failure cleanup.
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    val path = pathOf(ident)
    // time transforms (Iceberg's days/hours/months(ts) spelling) map to
    // the DECLARED linear time clustering (SURVEY §5's layout decision):
    // recorded at create, every argument-less compact lays each bucket
    // out as disjoint ts slices the manifest stats prune like a
    // partition tree — the granularity name is accepted (slices are
    // data-sized, finer than any fixed calendar grain) and the column
    // is what's recorded
    // identity transforms (Hive-style `PARTITIONED BY (lang, …)`) take
    // the same route: declared clustering on the bare column — the
    // categorical-partition benefit (a lang = 'en' predicate prunes to
    // the matching slices) from stats over sorted slices, without a
    // directory-per-value layout whose small-file count multiplies by
    // the bucket count
    val (clusterTransforms, rest) = partitions.toSeq.partition(t =>
      Set("days", "hours", "months", "years", "identity").contains(t.name))
    val timeCluster: Option[String] = clusterTransforms match {
      case Seq() => None
      case Seq(t) => t.arguments.toSeq match {
        case Seq(r: NamedReference) => Some(r.fieldNames.mkString("."))
        case other => throw new UnsupportedOperationException(
          s"${t.name}(col): takes one column reference, got " +
            other.mkString("[", ", ", "]"))
      }
      case other => throw new UnsupportedOperationException(
        s"graft tables take at most one time/identity transform, got " +
          other.map(_.name).mkString("[", ", ", "]"))
    }
    val fromTransform: Option[(Seq[String], Int)] = rest match {
      case Seq() => None
      case Seq(t) if t.name == "bucket" =>
        val n = t.arguments.head match {
          case l: V2Literal[_] => l.value.toString.toInt
          case other => throw new UnsupportedOperationException(
            s"bucket(n, keys…): first argument must be a literal count, got $other")
        }
        val cols = t.arguments.tail.toSeq.map {
          case r: NamedReference => r.fieldNames.mkString(".")
          case other => throw new UnsupportedOperationException(
            s"bucket(n, keys…): key arguments must be column references, got $other")
        }
        Some((cols, n))
      case other => throw new UnsupportedOperationException(
        s"graft tables take exactly one bucket(n, keys…) transform " +
          "(plus optionally one days/hours/months(ts) time transform), got " +
          other.mkString("[", ", ", "]"))
    }
    val fromProps: Option[(Seq[String], Int)] =
      Option(properties.get("keys")).map { ks =>
        (ks.split(",").map(_.trim).toSeq,
          Option(properties.get("buckets")).map(_.trim.toInt).getOrElse(16))
      }
    val (keys, n) = fromTransform.orElse(fromProps).getOrElse(
      throw new UnsupportedOperationException(
        "a graft table is keyed and bucketed: declare the layout with " +
          "PARTITIONED BY (bucket(n, key…)) or TBLPROPERTIES (keys='k1,k2', buckets='n')"))
    val missing = keys.filterNot(k => schema.fieldNames.contains(k))
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"key column(s) ${missing.mkString(", ")} not in schema ${schema.catalogString}")
    require(n >= 1, s"buckets must be >= 1, got $n")
    timeCluster.foreach { c =>
      if (!schema.fieldNames.contains(c)) throw new IllegalArgumentException(
        s"cluster transform column '$c' not in schema ${schema.catalogString}")
      val dt = schema(c).dataType
      val isTime = dt.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
        dt.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType] ||
        dt.isInstanceOf[org.apache.spark.sql.types.DateType]
      val named = clusterTransforms.head.name
      if (named != "identity" && !isTime)
        throw new IllegalArgumentException(
          s"time transform column '$c' must be a timestamp/date, got ${dt.sql} — " +
            "a categorical column partitions as a bare identity transform")
      val orderable = dt match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.BinaryType => false
        case _ => true
      }
      if (named == "identity" && !orderable)
        throw new IllegalArgumentException(
          s"identity transform column '$c' must be an orderable scalar type, got ${dt.sql}")
    }
    val spark = SparkSession.active
    GraftTable.create(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      path, keys, n, timeCluster = timeCluster)
    new GraftV2Table(path)
  }
  /** SQL `ALTER TABLE graft.\`path\` …` — the column-evolution family:
    *  - ADD COLUMNS: metadata-only commit ([[GraftTable.addColumns]]),
    *    adds forced nullable (every existing row reads NULL);
    *  - DROP COLUMN: metadata-only commit ([[GraftTable.dropColumns]]) —
    *    schema-pinned reads never request the bytes again; the
    *    `#dropped=` ledger refuses re-introducing the name;
    *  - RENAME COLUMN: a FULL COW REWRITE commit
    *    ([[GraftTable.renameColumn]], the compact cost class — plain
    *    parquet has no column-id mapping, so old files cannot serve the
    *    new name; the rewrite regenerates stats/blooms under it).
    * Type changes and NOT NULL still refuse loudly rather than
    * reinterpret recorded data or stats. A statement mixing change
    * kinds refuses whole (never a partial ALTER).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident)
    val spark = SparkSession.active
    def top(fieldNames: Array[String], what: String): String = {
      if (fieldNames.length != 1) throw new UnsupportedOperationException(
        s"ALTER TABLE $what supports top-level columns only, got " +
          fieldNames.mkString("."))
      fieldNames.head
    }
    val kinds = changes.map(_.getClass).distinct
    if (kinds.length > 1) throw new UnsupportedOperationException(
      s"graft ALTER TABLE applies ONE change kind per statement (got " +
        s"${kinds.map(_.getSimpleName).mkString(", ")}) — a mixed statement " +
        "could half-apply; issue separate ALTERs")
    changes.head match {
      case _: TableChange.AddColumn =>
        val adds = changes.map { case a: TableChange.AddColumn =>
          val n = top(a.fieldNames, "ADD COLUMNS")
          if (!a.isNullable) throw new UnsupportedOperationException(
            s"ADD COLUMNS $n NOT NULL: every existing row would " +
              "violate it — add the column nullable, backfill, then constrain")
          org.apache.spark.sql.types.StructField(n, a.dataType)
        }
        GraftTable.addColumns(spark, path, adds)
      case _: TableChange.DeleteColumn =>
        val drops = changes.map { case d: TableChange.DeleteColumn =>
          top(d.fieldNames, "DROP COLUMN")
        }
        GraftTable.dropColumns(spark, path, drops)
      case r: TableChange.RenameColumn =>
        if (changes.length != 1) throw new UnsupportedOperationException(
          "RENAME COLUMN takes one column per statement")
        GraftTable.renameColumn(spark, path, top(r.fieldNames, "RENAME COLUMN"),
          r.newName)
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports ADD COLUMNS / DROP COLUMN / RENAME COLUMN, " +
          s"got $other")
    }
    new GraftV2Table(path)
  }
  /** SQL `DROP TABLE` (and CTAS's failure cleanup): removes the table
    * directory — data, manifests, commit log, the lot. False when
    * nothing existed (the v2 IF EXISTS contract).
    */
  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    if (GraftTable.latestVersion(path) < 0) return false
    val p = new Path(path)
    p.getFileSystem(GraftTable.MetaIO.conf).delete(p, true)
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("use the GraftTable API")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** SQL `CALL graft.compact('/path')` etc. — the maintenance verbs
    * ([[GraftProcedures]]). A one-level `system` namespace is accepted
    * as an alias (the Iceberg spelling); anything else refuses.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val nsOk = ident.namespace.isEmpty || ident.namespace.sameElements(Array("system"))
    if (!nsOk) throw new IllegalArgumentException(
      s"unknown procedure namespace ${ident.namespace.mkString(".")} " +
        "(graft procedures live at the catalog root, or under `system`)")
    GraftProcedures.all.getOrElse(ident.name, throw new IllegalArgumentException(
      s"unknown procedure graft.${ident.name} " +
        s"(available: ${GraftProcedures.all.keys.toSeq.sorted.mkString(", ")})"))
  }
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.all.keys.toSeq.sorted
        .map(n => Identifier.of(namespace, n)).toArray
    else Array.empty
}

/** The catalog's `bucket(n, keys…)` — bound per key-type signature;
  * `canonicalName` is what SPJ compares across the two join sides to
  * prove the layouts agree.
  */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, keys...): graft's pmod(xxhash64(keys), n) placement hash"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2 &&
      inputType.fields.head.dataType == IntegerType,
      s"bucket(n, keys...): got ${inputType.catalogString}")
    new BoundBucket(inputType.fields.drop(1).map(_.dataType).toSeq)
  }
}

class BoundBucket(keyTypes: Seq[DataType]) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = (IntegerType +: keyTypes).toArray
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  /** Key TYPES are part of the identity: the placement hash is
    * xxhash64 over the key's Catalyst representation, so `bucket` over
    * an int key and over a long key send the same VALUE to different
    * buckets. Two join sides may only be deemed layout-compatible when
    * their canonical names — types included — agree (Iceberg encodes
    * the SQL type into its transform canonicalName for the same
    * reason); a type-blind name would let SPJ align bucket i with a
    * bucket i holding DIFFERENT key values and silently drop matches.
    */
  override def canonicalName(): String =
    s"graft.bucket(${keyTypes.map(_.catalogString).mkString(",")})"
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val row = InternalRow.fromSeq(
      keyTypes.indices.map(i => input.get(i + 1, keyTypes(i))))
    BoundBucket.evaluator(keyTypes, n)(row)
  }
}

object BoundBucket {
  /** One evaluator construction per (keyTypes, n) — `produceResult` may
    * be mapped over ROWS (e.g. partially-clustered SPJ evaluating the
    * transform on data), and rebuilding the BoundReference/XxHash64/
    * Pmod tree per call would pay object construction per row. n is a
    * query constant, so the map stays tiny.
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Seq[DataType], Int), InternalRow => Int]()
  private[sources] def evaluator(keyTypes: Seq[DataType], n: Int): InternalRow => Int =
    cache.computeIfAbsent((keyTypes, n),
      { case (kt, nb) => Bridge.bucketExprEval(kt, nb) })

  /** The buckets rows matching DSv1 `filters` can live in, from the
    * filter values alone (no job): every key column pinned by an
    * equality or IN (intersected per column), each value tuple hashed
    * with the writers' own expression. None = the filters do not pin
    * the full key (or a value does not convert): no bucket pruning.
    * Null values match no equi-predicate and are dropped.
    */
  private[sources] def hit(keys: Seq[String], keyTypes: Seq[DataType], n: Int,
                           filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[Set[Int]] = {
    val pinned = keys.map { k =>
      filters.collect {
        case org.apache.spark.sql.sources.EqualTo(c, v) if c == k => Set(v)
        case org.apache.spark.sql.sources.In(c, vs) if c == k => vs.toSet
      }.reduceOption(_ intersect _).map(_.filter(_ != null).toSeq)
    }
    if (pinned.exists(_.isEmpty)) return None
    val tuples = pinned.flatten.foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
      for (t <- acc; v <- vs) yield t :+ v
    }
    if (tuples.size > 4096) return None
    val eval = evaluator(keyTypes, n)
    scala.util.Try(tuples.map { t =>
      eval(InternalRow.fromSeq(t.zip(keyTypes).map { case (v, kt) =>
        Bridge.toCatalystValue(v, kt).get }))
    }.toSet).toOption
  }
}

class GraftV2Table(val path: String, val pinned: Option[Int] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with SupportsMetadataColumns {
  /** The pinned (or head) snapshot, read once: the schema, the layout
    * and every scan this table plans come from it.
    */
  private[v2] val snap: GraftTable.Snapshot =
    GraftTable.snapshot(path, pinned.getOrElse(GraftTable.latestVersion(path)))
  private def refuseTimeTravelWrite(): Unit = pinned.foreach { v =>
    throw new UnsupportedOperationException(
      s"$path VERSION AS OF $v is a read-only historical snapshot — " +
        "writes/DML go to the head table (use restoreTo to make a version current)")
  }
  private[v2] val tableSchema: StructType =
    snap.schema.getOrElse(
      throw new IllegalStateException(
        s"$path: no recorded snapshot schema (legacy manifest) — " +
          "read via GraftTable.read, or commit once to upgrade"))
  private[v2] val keys: Seq[String] = GraftTable.keyColumns(path)
  private[v2] val nbuckets: Int = snap.nbuckets

  /** Bucket count REPORTED to Spark — `spark.sql.graft.spj.coalesceBuckets=m`
    * lets a table bucketed at a MULTIPLE of m present the m-bucket
    * layout by merging dir groups, which makes SPJ work across bucket-
    * count evolution (after `rebucket` doubles one side of a join pair,
    * n and 2n layouts are incompatible to Spark's key-grouped matcher,
    * so the join would pay a FULL shuffle). Exactness: placement is
    * `pmod(xxhash64(k), n)`, and `pmod(h, c·m) ≡ pmod(h, m) (mod m)` —
    * every row in physical bucket b belongs to coalesced bucket
    * `b mod m` under the m-bucket hash, bit-for-bit. A table whose
    * count m does not divide keeps its natural layout (the join then
    * shuffles — correct, just not aligned; check `.explain`).
    */
  private[v2] val reportedBuckets: Int =
    SparkSession.active.conf.getOption("spark.sql.graft.spj.coalesceBuckets")
      .flatMap(_.toIntOption)
      .filter(m => m >= 1 && nbuckets % m == 0)
      .getOrElse(nbuckets)

  override def name(): String = s"graft.`$path`"
  override def schema(): StructType = tableSchema
  // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark 4.1's native
  // `MERGE WITH SCHEMA EVOLUTION`: ResolveMergeIntoSchemaEvolution
  // computes the new source columns and routes them through
  // GraftCatalog.alterTable → GraftTable.addColumns (the additive
  // metadata-only widening) before the merge resolves. Non-additive
  // changes still refuse there.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(reportedBuckets, keys: _*))
  /** Surfaced in `DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES`: the
    * layout and snapshot facts an operator asks first, from metadata
    * already in hand (zero extra IO beyond the constraint sidecar).
    */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("keys", keys.mkString(","))
    m.put("buckets", nbuckets.toString)
    m.put("version", snap.version.toString)
    pinned.foreach(v => m.put("pinned", v.toString))
    val cs = GraftTable.constraints(path)
    if (cs.nonEmpty) m.put("constraints", cs.keys.toSeq.sorted.mkString(","))
    GraftTable.declaredClustering(path).foreach(m.put("time_cluster", _))
    GraftTable.bloomConfig(path).foreach { case (cols, fpp) =>
      m.put("bloom.columns", cols.mkString(",")); m.put("bloom.fpp", fpp.toString)
    }
    val tg = GraftTable.tags(path)
    if (tg.nonEmpty)
      m.put("tags", tg.map { case (n, tv) => s"$n=v$tv" }.mkString(","))
    GraftTable.ndvProfile(path).foreach { case (av, cols) =>
      m.put("analyze.version", av.toString)
      m.put("analyze.columns", cols.keys.toSeq.sorted.mkString(","))
    }
    m
  }

  /** Row-level lineage columns (the Iceberg `_file`/`_partition`
    * shape): `SELECT _bucket, _file, … FROM graft.\`path\`` — which
    * physical bucket and data file each row came from, at zero reader
    * cost (per-chunk constants appended to the row). The debugging
    * query a 100 TB table needs when one file misbehaves.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    GraftV2Table.MetaCol("_bucket", IntegerType,
      "physical bucket id = pmod(xxhash64(keys), nbuckets)"),
    GraftV2Table.MetaCol("_file", org.apache.spark.sql.types.StringType,
      "data file the row was read from, relative to the table root"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(snap, tableSchema, keys, nbuckets, reportedBuckets)

  /** `INSERT INTO graft.`path`` — V1Write fallback routing the batch
    * into the table's KEYED UPSERT (last-wins on the record key, the
    * table's one write semantic; constraints, stats, OCC all apply).
    * INSERT OVERWRITE refuses: truncate-and-replace has no keyed
    * meaning here.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    refuseTimeTravelWrite()
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (df: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              if (overwrite) throw new UnsupportedOperationException(
                "INSERT OVERWRITE is not supported: graft writes are keyed upserts " +
                  "(use deleteWhere + insert, or the GraftTable API)")
              GraftTable.upsertRetry(df.sparkSession, path, df)
            }
        }
    }
  }

  /** `DELETE FROM graft.`path` WHERE …` — Spark hands the condition as
    * DSv1 filters (only when FULLY translatable; otherwise the command
    * itself fails, never a partial delete); they convert to one Column
    * and run through the stats-pruned touched-bucket COW delete.
    */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    refuseTimeTravelWrite()
    val cond = filters.map(GraftV2Table.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    GraftTable.deleteWhereRetry(SparkSession.active, path, cond)
    ()
  }
}

object GraftV2Table {
  private[v2] val MetaColNames = Set("_bucket", "_file")
  private[v2] final case class MetaCol(name: String, dataType: DataType,
                                       override val comment: String)
      extends MetadataColumn {
    override def isNullable: Boolean = false
  }
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.{sources => f}

  /** DSv1 Filter → Column (the delete path's condition rebuild).
    * Unknown filter types fail LOUDLY — deleting with a silently
    * dropped conjunct would delete the wrong rows.
    */
  private[v2] def filterToColumn(flt: f.Filter): Column = flt match {
    case f.EqualTo(a, v) => col(a) === lit(v)
    case f.EqualNullSafe(a, v) => col(a) <=> lit(v)
    case f.GreaterThan(a, v) => col(a) > lit(v)
    case f.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case f.LessThan(a, v) => col(a) < lit(v)
    case f.LessThanOrEqual(a, v) => col(a) <= lit(v)
    case f.In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case f.IsNull(a) => col(a).isNull
    case f.IsNotNull(a) => col(a).isNotNull
    case f.StringStartsWith(a, v) => col(a).startsWith(v)
    case f.StringEndsWith(a, v) => col(a).endsWith(v)
    case f.StringContains(a, v) => col(a).contains(v)
    case f.And(l, r) => filterToColumn(l) && filterToColumn(r)
    case f.Or(l, r) => filterToColumn(l) || filterToColumn(r)
    case f.Not(c) => not(filterToColumn(c))
    case f.AlwaysTrue() => lit(true)
    case f.AlwaysFalse() => lit(false)
    case other => throw new UnsupportedOperationException(
      s"DELETE condition filter $other has no column form — " +
        "use GraftTable.deleteWhere with an explicit Column")
  }
}

class GraftScanBuilder(snap: GraftTable.Snapshot, full: StructType,
                       keys: Seq[String], nbuckets: Int,
                       reportedBuckets: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit {
  private var required: StructType = full
  private var requestedMeta: Seq[org.apache.spark.sql.types.StructField] = Nil
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  /** Metadata columns (_bucket/_file) arrive here mixed into the
    * required schema — split them out so the parquet read sees only
    * real data fields; the reader re-appends them per chunk.
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val (meta, data) = requiredSchema.fields.partition(f =>
      GraftV2Table.MetaColNames.contains(f.name) && !full.fieldNames.contains(f.name))
    required = StructType(data)
    requestedMeta = meta.toSeq
  }
  /** Filters are USED (stats-segment file skipping inside each bucket
    * partition + parquet row-group pruning in the reader) but not
    * GUARANTEED — every filter is returned as residual, so Spark
    * re-applies it post-scan and conservative skipping stays safe.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  // ------------------------------------------------------------------
  // Limit pushdown (PARTIAL): `SELECT … LIMIT n` caps every partition
  // reader at n rows — each task stops reading parquet after n rows
  // instead of draining its whole bucket chunk, and Spark's global
  // CollectLimit still applies on top (isPartiallyPushed). At 100 TB
  // this is the difference between a "peek at the table" query
  // touching ~n rows per task and scanning whole row groups for rows
  // it will throw away. Spark only pushes the limit when every filter
  // is already pushed-and-removed; ours stay residual, so a WHERE
  // blocks the pushdown — correct, since a filtered limit must not
  // stop at n pre-filter rows.
  // ------------------------------------------------------------------
  private var limit: Option[Int] = None
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  // ------------------------------------------------------------------
  // Aggregate pushdown from table METADATA: an un-filtered, un-grouped
  // COUNT(*) / COUNT(col) / MIN(col) / MAX(col) over a graft table is
  // EXACTLY the statsProfile read — the manifest's per-file stats lines
  // already carry (rows, nullCount, min, max) per column — so the whole
  // query collapses to ONE driver-local row with ZERO data IO and zero
  // tasks (`SELECT count(*) FROM graft.t` at 100 TB = a few metadata
  // lines, the Iceberg/Delta "answer from manifests" behavior).
  //
  // COMPLETE pushdown only, loud-or-safe: every aggregate must be
  // exactly answerable or the whole pushdown declines to the ordinary
  // scan. Declines: any GROUP BY; any pushed filter (Spark already
  // blocks agg pushdown behind residual filters — belt and braces);
  // outstanding MOR log / missing stats coverage (statsProfile's rules);
  // a column outside the stat set (ineligible type or past the 32-col
  // cap); a bound metadata can't state exactly (possibly-truncated
  // ≥120-char text min, oversized text max, NaN/Infinity renderings,
  // NTZ bounds recorded under a non-UTC session); COUNT(DISTINCT …),
  // SUM/AVG and every other function (not derivable from bounds).
  // MIN/MAX over an all-null or empty column answer NULL — exact, the
  // profile's nullCount proves it. Aggregation over a pinned
  // `VERSION AS OF` snapshot answers from THAT version's metadata.
  // ------------------------------------------------------------------
  private var pushedAgg: Option[(StructType, InternalRow)] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = translateAgg(agg)
    pushedAgg.isDefined
  }

  private def translateAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference}
    import org.apache.spark.sql.types._
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return None
    // any statsProfile decline (MOR log, legacy manifest, stat gaps) →
    // no pushdown; a throw (corrupt metadata) must never fail the query
    val (rows, prof) = scala.util.Try(GraftTable.statsProfile(snap))
      .toOption.flatten.getOrElse(return None)
    def colName(e: V2Expr): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }
    def fieldOf(c: String): Option[StructField] = full.fields.find(_.name == c)
    def decode(s: String, dt: DataType): Option[Any] = GraftStatDecode.decode(s, dt)
    // Some(value) = exactly answerable (null for all-null/empty — the
    // profile's nullCount proves no non-null value exists); None = not
    def bound(p: GraftTable.ColumnProfile, dt: DataType, isMin: Boolean): Option[Any] =
      if (p.nullCount == rows) Some(null)
      else (if (isMin) p.min else p.max).flatMap(decode(_, dt))
    val results: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(StructField("count(*)", LongType, nullable = false) -> (rows: Any))
      case c: Count if !c.isDistinct =>
        for { n <- colName(c.column()); p <- prof.get(n) }
          yield StructField(s"count($n)", LongType, nullable = false) ->
            ((rows - p.nullCount): Any)
      case m: Min =>
        for { n <- colName(m.column()); f <- fieldOf(n); p <- prof.get(n)
              v <- bound(p, f.dataType, isMin = true) }
          yield StructField(s"min($n)", f.dataType) -> v
      case m: Max =>
        for { n <- colName(m.column()); f <- fieldOf(n); p <- prof.get(n)
              v <- bound(p, f.dataType, isMin = false) }
          yield StructField(s"max($n)", f.dataType) -> v
      case _ => None // SUM/AVG/DISTINCT/…: not derivable from bounds
    }
    if (results.exists(_.isEmpty)) None
    else {
      val rs = results.flatten
      Some((StructType(rs.map(_._1)), InternalRow.fromSeq(rs.map(_._2))))
    }
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, row)) =>
      GraftMetaAggScan(schema, row,
        s"GraftMetaAggScan(${snap.path} v${snap.version}: ${schema.fieldNames.mkString(", ")})")
    case None =>
      new GraftScan(snap, full, required, keys, nbuckets, pushed.toSeq,
        reportedBuckets, limit, requestedMeta)
  }
}

/** Serialized stat-bound rendering → the column type's Catalyst value
  * (the inverse of collectStatLines' cast-to-string). Any parse failure
  * is None — callers decline (no pushdown / no stat) rather than guess.
  * Shared by the metadata aggregate pushdown and the column-statistics
  * report ([[GraftScan.estimateStatistics]]).
  */
private[v2] object GraftStatDecode {
  import org.apache.spark.sql.types._
  def decode(s: String, dt: DataType): Option[Any] = scala.util.Try[Option[Any]](dt match {
    case ByteType => Some(s.toByte)
    case ShortType => Some(s.toShort)
    case IntegerType => Some(s.toInt)
    case LongType => Some(s.toLong)
    case FloatType =>
      val f = s.toFloat; if (f.isNaN || f.isInfinite) None else Some(f)
    case DoubleType =>
      val d = s.toDouble; if (d.isNaN || d.isInfinite) None else Some(d)
    case d: DecimalType =>
      Some(org.apache.spark.sql.types.Decimal(BigDecimal(s), d.precision, d.scale))
    case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    case DateType => Some(java.time.LocalDate.parse(s).toEpochDay.toInt)
    case TimestampType | TimestampNTZType => Some(s.toLong) // epoch micros
    case _ => None
  }).toOption.flatten
}

/** The completely-pushed-aggregate result: one driver-local row, zero
  * tasks, zero data IO (planned as a LocalTableScan). Values were
  * derived from the manifest's stats segments alone.
  */
final case class GraftMetaAggScan(schema: StructType, row: InternalRow,
                                  desc: String) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = Array(row)
  override def description(): String = desc
}

class GraftScan(snap: GraftTable.Snapshot, dataSchema: StructType,
                requiredSchema: StructType, keys: Seq[String], nbuckets: Int,
                filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                reportedBuckets0: Int = -1,
                limit: Option[Int] = None,
                metaFields: Seq[org.apache.spark.sql.types.StructField] = Nil)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with SupportsReportOrdering {
  private val (path, version) = (snap.path, snap.version)
  // -1 (direct construction in tests) = report the physical layout
  private val reportedBuckets =
    if (reportedBuckets0 > 0) reportedBuckets0 else nbuckets

  override def readSchema(): StructType =
    StructType(requiredSchema.fields.toSeq ++ metaFields)
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScan($path v$version, ${nbuckets}-bucketed on ${keys.mkString(",")}" +
      (if (reportedBuckets != nbuckets) s", coalesced to $reportedBuckets" else "") +
      (if (filters.nonEmpty) s", pushed: [${filters.mkString(", ")}]" else "") +
      limit.map(n => s", limit: $n").getOrElse("") +
      (if (runtimeFilters.nonEmpty) s", runtime: [${runtimeFilters.mkString(", ")}]" else "") + ")"

  // ------------------------------------------------------------------
  // Statistics from table METADATA (SupportsReportStatistics): without
  // these, a DSv2 relation prices at spark.sql.defaultSizeInBytes
  // (Long.Max-ish), so the STATIC planner can never choose a broadcast
  // join for a small graft table — only AQE's runtime rescue. The
  // manifest's stats lines already carry per-file (rows, bytes), so
  // the honest numbers cost zero data IO. Pushed filters shrink the
  // estimate through the same may-match file pruning the scan itself
  // uses — an upper bound, which is the safe direction for join
  // sizing. Loud-or-safe: MOR logs / stat-less legacy snapshots
  // report UNKNOWN rather than a number the log could falsify.
  // ------------------------------------------------------------------
  override def estimateStatistics(): Statistics = {
    def stat(size: java.util.OptionalLong, rows: java.util.OptionalLong): Statistics =
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong = size
        override def numRows(): java.util.OptionalLong = rows
        override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
          columnStatsMap
      }
    val none = java.util.OptionalLong.empty()
    if (snap.hasLog) return stat(none, none) // MOR log changes visibility: don't guess
    if (snap.dirs.isEmpty) return stat(java.util.OptionalLong.of(1L), java.util.OptionalLong.of(0L))
    val st = snap.fileStats
    if (st.isEmpty) return stat(none, none) // legacy snapshot: no stats recorded
    val keep = GraftTable.fileKeepPredicate(snap, filters ++ runtimeFilters)
      .getOrElse((_: String) => true)
    // runtime bucket pruning drops whole dirs, as planInputPartitions does
    val prunedDirs = runtimeBuckets.fold(Set.empty[String])(rb =>
      snap.dirs.collect { case (b, d) if !rb(b % reportedBuckets) => d + "/" }.toSet)
    val kept = st.collect {
      case (f, s) if keep(f) && !prunedDirs.exists(f.startsWith) => s
    }
    val rows = java.util.OptionalLong.of(kept.map(_.rows).sum)
    if (kept.exists(_.bytes < 0L)) return stat(none, rows) // pre-byte-length lines
    // scale by the projected column fraction, the FileScan estimate:
    // a 2-column read of a 30-column table shouldn't price a broadcast
    // at the full row width
    val ratio =
      if (dataSchema.defaultSize <= 0) 1.0
      else requiredSchema.defaultSize.toDouble / dataSchema.defaultSize
    val bytes = math.max(1L, (kept.map(_.bytes).sum * ratio).toLong)
    stat(java.util.OptionalLong.of(bytes), rows)
  }

  // ------------------------------------------------------------------
  // Column-level statistics for the COST-BASED OPTIMIZER: per-column
  // null counts and typed min/max come from the manifest's stats
  // segments (snapshot-EXACT, zero data IO); distinct counts (and
  // string byte lengths) come from the `_ndv` sidecar the ANALYZE verb
  // records. Spark's transformV2Stats turns these into catalyst
  // per-attribute ColumnStat, which `spark.sql.cbo.enabled` prices
  // joins/aggregates with — the ANALYZE TABLE … FOR COLUMNS contract
  // of every warehouse, at metadata cost. Filtered scans serve column
  // stats ONLY while the pushed filters prune ZERO files: the residual
  // Filter node is always kept, so Spark's FilterEstimation applies
  // the selectivity itself — over snapshot-exact inputs, which is
  // exactly right when pruning removed nothing (the interleaved-layout
  // common case, where histograms are the CBO's only lever — the
  // broadcast-flip AnalyzeSpec pins). Once pruning DOES drop files,
  // rows/bytes above already shrink, and serving snapshot-level column
  // stats on top would double-count the filter — withheld (better
  // absent than wrong-shaped). NDV is an estimate by contract (stamped
  // with its analyzed version; re-ANALYZE after bulk changes);
  // bounds/nulls decline per column when metadata can't state them
  // exactly (the statsProfile rules).
  // ------------------------------------------------------------------
  /** True iff the pushed + runtime filters keep EVERY stat-covered
    * file (vacuously true with no filters). Evaluated once: column
    * stats feed the optimizer, which runs before runtime filters
    * arrive — conservative either way.
    */
  private lazy val pruningRemovesNothing: Boolean =
    (filters.isEmpty && runtimeFilters.isEmpty) || {
      val st = snap.fileStats
      st.nonEmpty &&
        GraftTable.fileKeepPredicate(snap, filters ++ runtimeFilters)
          .forall(keep => st.keys.forall(keep))
    }
  private lazy val columnStatsMap: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    val prof: Map[String, GraftTable.ColumnProfile] =
      if (!pruningRemovesNothing) Map.empty
      else scala.util.Try(GraftTable.statsProfile(snap)).toOption.flatten
        .map(_._2).getOrElse(Map.empty)
    val ndv: Map[String, GraftTable.ColumnNdv] =
      if (!pruningRemovesNothing) Map.empty
      else scala.util.Try(GraftTable.ndvProfile(path)).toOption.flatten
        .map(_._2).getOrElse(Map.empty)
    requiredSchema.fields.foreach { f =>
      val p = prof.get(f.name)
      val n = ndv.get(f.name)
      if (p.isDefined || n.isDefined) {
        val minV = p.flatMap(_.min).flatMap(GraftStatDecode.decode(_, f.dataType))
          .filterNot(_.isInstanceOf[org.apache.spark.unsafe.types.UTF8String])
        val maxV = p.flatMap(_.max).flatMap(GraftStatDecode.decode(_, f.dataType))
          .filterNot(_.isInstanceOf[org.apache.spark.unsafe.types.UTF8String])
        val lens: Option[(Long, Long)] = n.flatMap(_.strLen)
          .orElse(if (f.dataType == org.apache.spark.sql.types.StringType) None
                  else Some((f.dataType.defaultSize.toLong, f.dataType.defaultSize.toLong)))
        out.put(Expressions.column(f.name), new ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            n.map(x => java.util.OptionalLong.of(x.ndv))
              .getOrElse(java.util.OptionalLong.empty())
          override def nullCount(): java.util.OptionalLong =
            p.map(x => java.util.OptionalLong.of(x.nullCount))
              .getOrElse(java.util.OptionalLong.empty())
          override def min(): java.util.Optional[Object] =
            minV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty())
          override def max(): java.util.Optional[Object] =
            maxV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty())
          override def avgLen(): java.util.OptionalLong =
            lens.map(l => java.util.OptionalLong.of(l._1))
              .getOrElse(java.util.OptionalLong.empty())
          override def maxLen(): java.util.OptionalLong =
            lens.map(l => java.util.OptionalLong.of(l._2))
              .getOrElse(java.util.OptionalLong.empty())
          override def histogram(): java.util.Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            n.flatMap(_.hist) match {
              case None => java.util.Optional.empty()
              case Some((h, binSeq)) =>
                java.util.Optional.of(
                  new org.apache.spark.sql.connector.read.colstats.Histogram {
                    override def height(): Double = h
                    override def bins(): Array[
                        org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                      binSeq.map { case (l, u, nd) =>
                        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                          override def lo(): Double = l
                          override def hi(): Double = u
                          override def ndv(): Long = nd
                        }
                      }.toArray
                  })
            }
        })
      }
    }
    out
  }

  // ------------------------------------------------------------------
  // Runtime filtering (SupportsRuntimeV2Filtering) — the DSv2 dynamic
  // partition pruning hook. On a fact ⋈ filtered-dim join, Spark
  // re-enters the fact scan at EXECUTION time with the dim side's
  // actual join-key values (an IN predicate over filterAttributes);
  // the scan then prunes with metadata only, twice over:
  //   1. bucket-level — each key value hashes to exactly one bucket
  //      (the write path's own pmod(xxhash64(k), m)), so buckets no
  //      value lands in are skipped WHOLESALE (their partitions stay
  //      in the plan file-less, preserving the KeyGroupedPartitioning
  //      value set SPJ alignment depends on);
  //   2. file-level — the values run through the same stats/bloom
  //      may-match pruning as pushed filters, skipping files whose
  //      min/max (or bloom) exclude every probe value.
  // At 100 TB this is the difference between scanning the whole fact
  // table and touching |dim-match| buckets of it. Untranslatable
  // predicates are DROPPED (less pruning, never wrong rows).
  // ------------------------------------------------------------------
  private var runtimeFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil
  private var runtimeBuckets: Option[Set[Int]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    keys.map(k => Expressions.column(k)).toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    runtimeFilters = predicates.toSeq.flatMap(Bridge.predicateToV1)
    runtimeBuckets = bucketsHit(runtimeFilters)
  }

  /** Bucket ids the runtime key values can possibly live in
    * ([[BoundBucket.hit]] under the reported layout — the pmod nesting
    * keeps a coalesced id exact). None = no bucket-level pruning
    * (file-level still applies).
    */
  private def bucketsHit(fs: Seq[org.apache.spark.sql.sources.Filter]): Option[Set[Int]] = {
    val kts = keys.map(k => dataSchema.fields.find(_.name == k).map(_.dataType)
      .getOrElse(return None))
    BoundBucket.hit(keys, kts, reportedBuckets, fs)
  }

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(reportedBuckets, keys: _*)), reportedBuckets)

  // ------------------------------------------------------------------
  // Reported ordering (SupportsReportOrdering) — ZERO-SORT joins on top
  // of the zero-shuffle ones: after a key-sorted full rewrite (plain
  // compact / rebucket record `#sorted=keys` in the manifest), every
  // partition this scan emits is one whole key-ordered file, so the
  // scan declares `keys ASC NULLS FIRST` per partition and SortMergeJoin
  // drops BOTH its sorts (EnsureRequirements sees the ordering already
  // satisfied). The claim is made ONLY when it provably holds:
  //   - the manifest records exactly this key list as sorted;
  //   - no bucket coalescing (merging dir groups concatenates sorted
  //     runs — not sorted);
  //   - every bucket holds at most ONE stats-covered file, small enough
  //     (≤ maxPartitionBytes) that the chunker emits it whole — one
  //     partition per bucket, rows exactly the file's order (this is
  //     precisely the post-compact regime; multi-file buckets fall back
  //     to SMJ's own sorts, correct and merely not free);
  //   - the key columns survive column pruning (an ordering over pruned
  //     columns would be unresolvable).
  // Runtime-pruned (file-less) partitions and pushed limits preserve
  // the claim: an empty sequence and a prefix of a sorted file are
  // sorted.
  // ------------------------------------------------------------------
  private lazy val provablyOrdered: Boolean =
    reportedBuckets == nbuckets &&
      keys.forall(k => requiredSchema.fieldNames.contains(k)) &&
      snap.sortedBy.contains(keys) && {
        val stats = snap.fileStats
        val maxBytes = math.max(1L, Bridge.filesMaxPartitionBytes)
        snap.dirs.values.forall { d =>
          val sizes = stats.collect {
            case (f, st) if f.startsWith(d + "/") => st.bytes
          }.toSeq
          sizes.length <= 1 && sizes.forall(b => b >= 0L && b <= maxBytes)
        }
      }

  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (!provablyOrdered) Array.empty
    else keys.map(k => Expressions.sort(
      Expressions.column(k),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
      org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)).toArray

  override def planInputPartitions(): Array[InputPartition] = {
    // MOR log entries change row visibility beyond the bucket files —
    // refuse rather than silently return stale rows (loud-or-safe)
    if (snap.hasLog)
      throw new IllegalStateException(
        s"$path has outstanding MOR log entries (deltas/deletion vectors): " +
          "the storage-partitioned scan reads bucket files directly and cannot " +
          "merge the log. GraftTable.compact(...) first, or read via GraftTable.read")
    val dirs = snap.dirs
    // pushed + runtime filters skip whole files from the stats segments
    // alone — the same may-match metadata pruning the DSv1 paths use,
    // kept INSIDE the bucket structure (None = no stats, keep everything)
    val keep = GraftTable.fileKeepPredicate(snap, filters ++ runtimeFilters)
      .getOrElse((_: String) => true)
    // Planning is METADATA-ONLY for stats-bearing snapshots: the
    // manifest's per-file stats lines name every (file, byte-length) in
    // each dir, so the file list comes straight from them — zero
    // driver-side filesystem listing per query (at 100 TB file counts
    // a per-bucket LIST per query is the planning bottleneck; on
    // object stores it's a LIST storm). A dir with no stats coverage
    // (legacy write, failed stats job, or pre-byte-length lines) falls
    // back to listing JUST that dir — never a wrong file list
    // ([[GraftTable.Snapshot.filesIn]], the list every table read uses).
    // EVERY reported bucket id gets a partition (possibly file-less),
    // so the two sides of a join always expose identical partition-
    // value sets. Coalesced layouts (reportedBuckets < nbuckets) merge
    // the physical dirs whose id ≡ p (mod reportedBuckets) — exact by
    // the pmod nesting property (see GraftV2Table.reportedBuckets).
    (0 until reportedBuckets).map { p =>
      // runtime bucket pruning: a bucket no probe value hashes into is
      // emitted FILE-LESS (the partition VALUE must survive so both
      // SPJ sides keep identical partition-value sets)
      val physical =
        if (runtimeBuckets.exists(rb => !rb.contains(p))) Seq.empty[Int]
        else (p until nbuckets by reportedBuckets)
      val files = physical.flatMap(b => dirs.get(b).toSeq).flatMap { rel =>
        snap.filesIn(rel).collect { case (f, len) if keep(f) => (s"$path/$f", len) }
      }
      // Within a bucket, parallelism is FILE-AND-BYTE-RANGE, not
      // one-task-per-bucket: each file splits at maxPartitionBytes
      // boundaries (the parquet reader serves row groups by midpoint,
      // Spark's standard rule) and chunks bin-pack under the same
      // maxPartitionBytes/openCostInBytes sizing FileSourceScanExec
      // uses. Every emitted partition still carries the bucket id as
      // its partition key, so SPJ GROUPING (BatchScanExec
      // .groupPartitions, active under the bucketing conf) reassembles
      // one aligned partition per bucket for joins — while a plain
      // scan of a 100 TB table fans out over chunks instead of being
      // capped at nbuckets tasks. A file-less bucket still emits one
      // EMPTY partition: both join sides must expose identical
      // partition-value sets.
      if (files.isEmpty)
        Seq(GraftInputPartition(p, Array.empty): InputPartition)
      else {
        val maxBytes = math.max(1L, Bridge.filesMaxPartitionBytes)
        val openCost = math.max(0L, Bridge.filesOpenCostInBytes)
        val chunks = files.flatMap { case (f, len) =>
          if (len <= maxBytes) Seq((f, 0L, len))
          else (0L until len by maxBytes).map(s => (f, s, math.min(maxBytes, len - s)))
        }
        val packed = Seq.newBuilder[InputPartition]
        var cur = List.empty[(String, Long, Long)]
        var curBytes = 0L
        def flush(): Unit = if (cur.nonEmpty) {
          packed += GraftInputPartition(p, cur.reverse.toArray); cur = Nil; curBytes = 0L
        }
        chunks.foreach { c =>
          val cost = c._3 + openCost
          if (curBytes > 0L && curBytes + cost > maxBytes) flush()
          cur ::= c; curBytes += cost
        }
        flush()
        packed.result()
      }
    }.flatten.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    // pushed AND runtime filters reach the parquet reader too →
    // row-group pruning (runtime IN values are sound to apply: they
    // are exactly the join's surviving key set)
    GraftReaderFactory(
      Bridge.parquetReaderFactory(spark, dataSchema, requiredSchema,
        filters ++ runtimeFilters), limit, metaFields.map(_.name))
  }
}

/** `files` = byte-range chunks (path, start, length); a whole file is
  * the single chunk (path, 0, fileLen).
  */
final case class GraftInputPartition(bucket: Int, files: Array[(String, Long, Long)])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

final case class GraftReaderFactory(
    readFile: org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow],
    limit: Option[Int] = None,
    metaCols: Seq[String] = Nil)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new PartitionReader[InternalRow] {
      // requested metadata columns (_bucket/_file) are per-CHUNK
      // constants: one tiny row built per file chunk, joined onto every
      // data row via a reused JoinedRow — zero per-row allocation
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private def withMeta(f: String)(rows: Iterator[InternalRow]): Iterator[InternalRow] =
        if (metaCols.isEmpty) rows
        else {
          val rel = { val i = f.indexOf("/data/"); if (i >= 0) f.substring(i + 1) else f }
          val meta = InternalRow.fromSeq(metaCols.map {
            case "_bucket" => p.bucket
            case "_file" => org.apache.spark.unsafe.types.UTF8String.fromString(rel)
          })
          rows.map(r => joined(r, meta))
        }
      // the parquet closure may yield ColumnarBatch disguised as
      // InternalRow (FileScanRDD's contract) — unwrap both shapes
      private val raw: Iterator[InternalRow] = p.files.iterator
        .flatMap { case (f, start, len) =>
          withMeta(f)(readFile(Bridge.partitionedFile(f, start, len))
            .asInstanceOf[Iterator[Any]]
            .flatMap {
              case b: org.apache.spark.sql.vectorized.ColumnarBatch => b.rowIterator().asScala
              case r: InternalRow => Iterator.single(r)
            })
        }
      // pushed LIMIT n: this task stops pulling from the parquet reader
      // after n rows (lazy iterators — row groups past the cap are
      // never decoded); the global limit still applies above
      private val it: Iterator[InternalRow] = limit.fold(raw)(raw.take)
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
