package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` surfaces (this package sits under
  * `org.apache.spark.sql`, the same access path Spark's own code uses).
  *
  *  - Expression ↔ Column conversion (Spark 4 made Column node-backed;
  *    `ExpressionUtils` is the supported internal path, same one the
  *    `functions` object uses).
  *  - `internalCreateDataFrame(isStreaming = true)`: the only way a
  *    DSv1 streaming `Source.getBatch` can hand MicroBatchExecution a
  *    streaming-tagged DataFrame — the exact call FileStreamSource and
  *    every community v1 source make.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Broadcast the driver's Hadoop conf for executor-side FileSystem
    * access (`SerializableConfiguration` is `private[spark]`; this is
    * the same broadcast every Spark file source ships its conf with).
    * Read it back task-side with [[hadoopConfOf]].
    */
  def broadcastHadoopConf(sc: org.apache.spark.SparkContext)
      : org.apache.spark.broadcast.Broadcast[_] =
    org.apache.spark.util.SerializableConfiguration.broadcast(sc)

  def hadoopConfOf(b: org.apache.spark.broadcast.Broadcast[_])
      : org.apache.hadoop.conf.Configuration =
    b.value.asInstanceOf[org.apache.spark.util.SerializableConfiguration].value
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over pre-computed InternalRows; `isStreaming = true`
    * tags it as a micro-batch for the incremental planner.
    */
  def internalDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                        schema: StructType, isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** Bloom-filter aggregate over xxhash64(c) — the same internal
    * aggregate Spark's runtime row-group filtering builds
    * (`BloomFilterAggregate`), exposed for per-file bloom collection.
    * Returns the serialized `org.apache.spark.util.sketch.BloomFilter`
    * as binary (readable via `BloomFilter.readFrom`).
    */
  def bloomAgg(c: Column, estItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    ExpressionUtils.column(new BloomFilterAggregate(
      new XxHash64(Seq(expression(c))), Literal(estItems), Literal(numBits))
      .toAggregateExpression())
  }

  /** xxhash64 of a driver-side value with Spark's exact semantics (the
    * probe side of [[bloomAgg]] — same `XxHash64` expression, seed 42,
    * over the Literal's inferred Catalyst type). None when the value
    * has no Literal mapping.
    */
  def xxhash64Of(v: Any): Option[Long] = scala.util.Try {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal(v))).eval(null).asInstanceOf[Long]
  }.toOption

  /** Task-side parquet row reader factory — the exact
    * `ParquetFileFormat.buildReaderWithPartitionValues` closure Spark's
    * own FileSourceScanExec serializes into FileScanRDD, exposed so the
    * DSv2 storage-partitioned read path (graft.sources.v2) reuses
    * Spark's parquet machinery instead of reimplementing it. The
    * returned function is designed to ship to executors. NOTE: with the
    * vectorized reader enabled the iterator's elements may be
    * `ColumnarBatch`es disguised as InternalRow (FileScanRDD's
    * contract) — callers must unwrap both shapes.
    */
  def parquetReaderFactory(spark: SparkSession, dataSchema: StructType,
                           requiredSchema: StructType,
                           filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : org.apache.spark.sql.execution.datasources.PartitionedFile => Iterator[InternalRow] = {
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    fmt.buildReaderWithPartitionValues(
      cs, dataSchema, new StructType(), requiredSchema, filters,
      // rows, not ColumnarBatch: the v2 PartitionReader contract here
      // is row-at-a-time (the vectorized reader still decodes pages)
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      cs.sessionState.newHadoopConf())
  }

  def partitionedFile(path: String, length: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    partitionedFile(path, 0L, length)

  /** Byte-range chunk of a file — the parquet reader serves the row
    * groups whose MIDPOINT falls in [start, start+length), Spark's
    * standard split rule, so chunks partition a file's rows exactly
    * once with no coordination.
    */
  def partitionedFile(path: String, start: Long, length: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      InternalRow.empty, org.apache.spark.paths.SparkPath.fromPathString(path),
      start, length, Array.empty)

  /** The session's file-split sizing knobs (`spark.sql.files.
    * maxPartitionBytes` / `openCostInBytes`) — the same numbers
    * FileSourceScanExec packs splits with.
    */
  def filesMaxPartitionBytes: Long =
    org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
  def filesOpenCostInBytes: Long =
    org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes

  /** Evaluate Spark's own bucket arithmetic — `pmod(xxhash64(keys), n)`
    * — over a bound InternalRow; the DSv2 bucket function
    * (graft.sources.v2) must reproduce the write path's placement
    * bit-for-bit, so it evaluates the IDENTICAL expression tree.
    */
  def bucketExprEval(keyTypes: Seq[org.apache.spark.sql.types.DataType],
                     nbuckets: Int): InternalRow => Int = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Pmod, XxHash64, Cast}
    val refs = keyTypes.zipWithIndex.map { case (dt, i) => BoundReference(i, dt, nullable = true) }
    val e = Cast(Pmod(new XxHash64(refs), Literal(nbuckets.toLong)),
      org.apache.spark.sql.types.IntegerType)
    row => e.eval(row).asInstanceOf[Int]
  }

  /** Translate a user predicate over `df` into DSv1 [[Filter]]s — the
    * same `DataSourceStrategy.translateFilter` Spark applies before
    * handing filters to a `PrunedFilteredScan`, reached by analyzing
    * `df.filter(cond)` so attributes resolve against the frame's real
    * schema. Conjuncts that don't translate (UDFs, non-foldable
    * expressions…) are simply dropped: callers use the result for
    * CONSERVATIVE stats pruning, where fewer filters only means less
    * skipping, never wrong answers.
    */
  def translateFilters(df: DataFrame, cond: Column)
      : Seq[org.apache.spark.sql.sources.Filter] =
    translateFiltersWithCompleteness(df, cond)._1

  /** [[translateFilters]] plus a COMPLETENESS flag: true iff EVERY
    * conjunct of the optimized predicate translated — the precondition
    * for using the translated set as anything stronger than a
    * conservative may-match (a dropped conjunct can only shrink the
    * true match set, so an upper bound survives it but a LOWER bound
    * does not). False when the optimizer left no Filter at all (e.g. a
    * pred folded to true) — a caller needing a lower bound must not
    * mistake "nothing translated" for "everything translated".
    */
  def translateFiltersWithCompleteness(df: DataFrame, cond: Column)
      : (Seq[org.apache.spark.sql.sources.Filter], Boolean) = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression => CExpr}
    def split(e: CExpr): Seq[CExpr] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    // the OPTIMIZED plan, not the analyzed one: analysis leaves literal
    // coercions as `cast(7 as bigint)` around constants, which
    // DataSourceStrategy refuses to translate — constant folding turns
    // them back into literals, making strictly more conjuncts pushable
    // (a SQL-text predicate like 'k = 7' translates only after folding)
    val optimized = df.filter(cond).queryExecution.optimizedPlan
    val preds = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => split(f.condition)
    }.flatten
    val translated = preds.map { p =>
      org.apache.spark.sql.execution.datasources.DataSourceStrategy
        .translateFilter(p, supportNestedPredicatePushdown = false)
    }
    (translated.flatten, preds.nonEmpty && translated.forall(_.isDefined))
  }

  /** DSv2 [[org.apache.spark.sql.connector.expressions.filter.Predicate]]
    * → DSv1 [[org.apache.spark.sql.sources.Filter]] — the exact
    * `PredicateUtils.toV1` conversion Spark applies when feeding v2
    * runtime filters to v1-shaped pruning. None when the predicate has
    * no v1 shape (caller treats that as "cannot prune", never wrong).
    */
  def predicateToV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** External (Scala/Java) value → Catalyst internal representation for
    * `dt` (String → UTF8String, Timestamp → micros, …) — how the DSv2
    * runtime-filter values (v1 Filter literals) re-enter expression
    * evaluation. None when the value cannot represent `dt`.
    */
  def toCatalystValue(v: Any, dt: org.apache.spark.sql.types.DataType): Option[Any] =
    scala.util.Try(
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(dt)(v)
    ).toOption

  /** DataFrame over an already-analyzed logical plan —
    * `Dataset.ofRows`, the constructor every internal command uses to
    * re-enter the public API from a plan fragment (here: the SQL DML
    * rule handing MERGE's resolved source query to GraftTable).
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over a native Parquet scan of `index`'s files —
    * `HadoopFsRelation(index, ParquetFileFormat)` under a
    * LogicalRelation, the relation Spark's own `spark.read.parquet`
    * resolves to, so the planner emits a FileSourceScanExec
    * (vectorized batches, pushed filters, split packing) over a file
    * list the caller built from metadata. Output = `dataSchema` ++ the
    * index's partition columns.
    */
  def parquetScan(spark: SparkSession,
                  index: org.apache.spark.sql.execution.datasources.FileIndex,
                  dataSchema: StructType): DataFrame =
    dataFrame(spark, org.apache.spark.sql.execution.datasources.LogicalRelation(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
        index.partitionSchema, dataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        Map.empty)(spark)))

  /** Catalyst data filters → DSv1 [[org.apache.spark.sql.sources.Filter]]s,
    * `DataSourceStrategy.translateFilter` per conjunct; untranslatable
    * ones are dropped (callers prune conservatively with the rest).
    */
  def toV1Filters(exprs: Seq[Expression]): Seq[org.apache.spark.sql.sources.Filter] =
    exprs.flatMap(e => org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false))

  /** Whether the session's CacheManager holds any cached plan — the
    * observable a no-cache-leak spec needs: a `df.persist()` inside an
    * operator registers a session-LIFETIME entry here (CacheManager
    * holds a strong reference, so the blocks never GC), while an eager
    * `localCheckpoint` does not (its blocks are RDD-level and the
    * ContextCleaner reclaims them with the frame).
    */
  def sessionCacheEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Create-or-get the driver's StateStoreCoordinator RPC endpoint.
    * Streaming queries register it through StreamingQueryManager, but
    * BATCH-mode `transformWithState` plans StateStoreRDDs too and its
    * executors look the endpoint up — in a session that never ran a
    * streaming query the lookup fails (CANNOT_LOAD_STATE_STORE).
    * `forDriver` is create-or-get (it falls back to the existing ref
    * on a name collision), so calling it first is idempotent and safe
    * alongside any later streaming query.
    */
  def ensureStateStoreCoordinator(spark: SparkSession): Unit = {
    org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef
      .forDriver(org.apache.spark.SparkEnv.get,
        spark.sessionState.conf)
    ()
  }

  /** Unload every loaded state-store provider and stop the maintenance
    * task (they re-create lazily on next use — the same reset Spark's
    * own test harness performs between suites). Terminated streaming
    * queries leave their providers LOADED for up to a maintenance
    * interval (state snapshots in heap + a background snapshot/cleanup
    * thread); a benchmark that ran unrelated streaming work beforehand
    * must shed that residue before timing a streaming row.
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Block until the async listener bus has delivered every queued
    * event (`listenerBus` is `private[spark]`). A profiler that clears
    * its per-query accumulators between runs must drain first, or a
    * previous run's late job-end events pollute the next run's metrics.
    */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
