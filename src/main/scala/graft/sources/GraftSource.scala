package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, SubqueryExpression}
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** `format("graft")` — the DataFrame reader/writer surface of the
  * lakehouse table, mirroring how the reference ingests its table
  * (demo.ipynb cell 8: `df.write.format("hudi")` with
  * `recordkey.field`, `operation=upsert`):
  *
  * {{{
  *   df.write.format("graft").option("recordkey", "k")
  *     .mode(SaveMode.Append).save(path)          // upsert (create if new)
  *   spark.read.format("graft").load(path)        // latest snapshot
  *   spark.read.format("graft").option("version", "0").load(path)
  * }}}
  *
  * A read resolves to the snapshot's native Parquet scan: the relation
  * is the `HadoopFsRelation` over [[GraftFileIndex]] that
  * [[GraftTable.read]] plans, so Spark's FileSourceScanExec reads the
  * recorded file list with vectorized batches, column pruning and
  * PushedFilters, and the index's `listFiles` turns a full-key equality
  * into a one-bucket read and stats-prunable filters into skipped files
  * — no listing, no Row conversion. A snapshot with an outstanding MOR
  * log has no file-list form (its rows are `readMor`'s joins), so it is
  * served by [[GraftLogRelation]] over that plan.
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with SchemaRelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  // ---- streaming read: the change feed as a real streaming Source ------
  //
  //   spark.readStream.format("graft").load(path)
  //
  // Offsets ARE table versions — the commit log is the offset log, so
  // Structured Streaming's checkpoint + this source give restartable,
  // in-order consumption of the change feed (Hudi's incremental
  // streaming read). Each micro-batch is changes((startV, endV]) in the
  // change-feed schema (table columns sorted + `_deleted`); the first
  // batch from a fresh checkpoint is the full snapshot as the initial
  // image (`option("startingVersion", v)` skips history ≤ v instead).

  private def changeSchema(spark: SparkSession, path: String): StructType = {
    val snap = GraftTable.read(spark, path)
    StructType(snap.schema.fields.sortBy(_.name) :+
      StructField("_deleted", BooleanType, nullable = false))
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    // the change-feed schema is fixed by the table; honoring a caller's
    // .schema(...) here while getBatch emits the table's order would
    // mis-bind columns POSITIONALLY downstream — reject it loudly
    require(schema.isEmpty,
      "graft streaming source has a fixed schema (table columns sorted by name + _deleted); .schema(...) is not supported")
    (shortName(), changeSchema(sqlContext.sparkSession, pathOf(parameters)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftStreamSource(sqlContext.sparkSession, pathOf(parameters),
      changeSchema(sqlContext.sparkSession, pathOf(parameters)),
      parameters.get("startingVersion").map(_.toInt))

  // ---- streaming write: keyed upsert/delete sink -----------------------
  //
  //   df.writeStream.format("graft").option("recordkey", "k")
  //     .option("checkpointLocation", cp).start(path)
  //
  // Each micro-batch applies the same keyed last-wins merge the batch
  // writer uses (`operation=delete` deletes the batch's keys instead).
  // The last applied batchId is recorded in the table directory through
  // the same Hadoop-FS metadata layer and replayed batches are SKIPPED,
  // upgrading foreachBatch's at-least-once to exactly-once table
  // content for the one-writer-per-table case (concurrent writers are
  // still arbitrated by the manifest put-if-absent lock).
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val path = pathOf(parameters)
    val keys = parameters.get("recordkey").map(_.split(",").map(_.trim).toSeq)
    val nbuckets = parameters.get("nbuckets").map(_.toInt).getOrElse(16)
    val precombine = parameters.get("precombine")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val operation = parameters.getOrElse("operation", "upsert")
    require(Set("upsert", "upsert_mor", "delete", "delete_mor")(operation),
      s"graft: unknown operation '$operation' (expected upsert, upsert_mor, delete, or delete_mor)")
    // the replay marker is scoped to THIS query's checkpoint: batchIds
    // restart from 0 for every new checkpoint, so a table-global marker
    // would wrongly skip a brand-new query's first batch
    val scope = parameters.get("checkpointLocation")
      .orElse(parameters.get("queryName")).getOrElse(java.util.UUID.randomUUID.toString)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(scope.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    // option("refreshindexes", "N"): after every Nth committed batch,
    // refresh EVERY index attached to the table (vector, text, HNSW) —
    // a CDC-fed table's indexes then track the head with a staleness
    // window of ≤ N micro-batches, no operator-side streamRefresh loop.
    // 0 (default) = off: index maintenance stays an explicit concern.
    val refreshEvery = parameters.get("refreshindexes").map(_.toInt).getOrElse(0)
    require(refreshEvery >= 0,
      s"graft sink: refreshindexes must be >= 0 (every Nth batch; 0 = off), got $refreshEvery")
    // option("maxsegments", N): cap the SEGMENTED index families' growth
    // on each refresh tick — text refresh auto-compacts and HNSW refresh
    // auto-MERGES its smallest tier past N segments, so a long-lived CDC
    // stream's per-probe cost stays bounded without an operator loop.
    // 0 (default) = unbounded (every flush stays its own segment).
    val maxSegments = parameters.get("maxsegments").map(_.toInt).getOrElse(0)
    require(maxSegments >= 0,
      s"graft sink: maxsegments must be >= 0 (0 = unbounded), got $maxSegments")
    new GraftStreamSink(path, keys, nbuckets, precombine, operation, tag, refreshEvery,
      maxSegments)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = pathOf(parameters)
    // option("branch", name): read the WAP branch's staged head — the
    // audit-side read surface (writes stay on GraftTable.branchUpsert)
    val v = parameters.get("branch") match {
      case Some(b) =>
        require(!parameters.contains("version"),
          "graft read: give version OR branch, not both")
        GraftTable.branchHead(path, b)
      case None => parameters.get("version").map(_.toInt).getOrElse(-1)
    }
    val snapshot = GraftTable.read(sqlContext.sparkSession, GraftTable.snapshotAt(path, v))
    snapshot.queryExecution.analyzed match {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(r, _, _, _, _) => r
      case _ => new GraftLogRelation(sqlContext, snapshot)
    }
  }

  override def createRelation(sqlContext: SQLContext, parameters: Map[String, String],
                              schema: StructType): BaseRelation =
    createRelation(sqlContext, parameters) // schema is always table-defined

  /** Write path: SaveMode.Append = upsert (create on first write) —
    * the reference's `operation=upsert`; with
    * `option("operation", "delete")` the batch's key columns name rows
    * to remove (Hudi's `operation=delete`, same cell-8 API family);
    * ErrorIfExists = create-only; Ignore = create if absent. Overwrite
    * is rejected: a versioned table's "overwrite" should be an explicit
    * upsert/vacuum decision, not a silent history wipe.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    lazy val keys = parameters.getOrElse("recordkey",
        throw new IllegalArgumentException(
          "graft source requires option(\"recordkey\", \"k1[,k2…]\") to create a table"))
      .split(",").map(_.trim).toSeq
    val nbuckets = parameters.get("nbuckets").map(_.toInt).getOrElse(16)
    // Hudi's precombine.field: winner among same-key rows in one batch
    val precombine = parameters.get("precombine")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val operation = parameters.getOrElse("operation", "upsert")
    require(Set("upsert", "upsert_mor", "delete", "delete_mor")(operation),
      s"graft: unknown operation '$operation' (expected upsert, upsert_mor, delete, or delete_mor)")
    require(operation == "upsert" || mode == SaveMode.Append,
      s"graft: operation=$operation requires SaveMode.Append")
    mode match {
      case SaveMode.Append if operation == "delete" =>
        require(GraftTable.exists(path), s"graft: cannot delete from missing table $path")
        GraftTable.delete(spark, path, data)
      case SaveMode.Append if operation == "upsert_mor" =>
        // merge-on-read: commit the rows as a delta — no bucket rewrite
        // (Hudi's MOR log-file write); the table must already exist
        // (a first write IS a bulk load — that belongs on the COW path)
        require(GraftTable.exists(path),
          s"graft: operation=upsert_mor needs an existing table at $path (create with a COW write first)")
        GraftTable.upsertMor(spark, path, data, precombine)
      case SaveMode.Append if operation == "delete_mor" =>
        // merge-on-read: commit the keys as a deletion vector — no
        // bucket rewrite (Hudi's MOR delete / Delta's deletion vectors)
        require(GraftTable.exists(path), s"graft: cannot delete from missing table $path")
        GraftTable.deleteMor(spark, path, data)
      case SaveMode.Append =>
        if (GraftTable.exists(path)) GraftTable.upsert(spark, path, data, precombine)
        else GraftTable.create(data, path, keys, nbuckets)
      case SaveMode.ErrorIfExists =>
        GraftTable.create(data, path, keys, nbuckets)
      case SaveMode.Ignore =>
        if (!GraftTable.exists(path)) GraftTable.create(data, path, keys, nbuckets)
      case SaveMode.Overwrite =>
        throw new UnsupportedOperationException(
          "graft: Overwrite would wipe table history; upsert with mode=Append, or vacuum explicitly")
    }
    createRelation(sqlContext, parameters)
  }
}

/** DSv1 streaming Source over a GraftTable's commit log: offset N ==
  * "versions ≤ N consumed". getBatch((a, b]) = `GraftTable.changes(a,
  * b)` (initial image for a fresh start). Versions are minted
  * sequentially under the commit lock, so offsets are totally ordered
  * and replayable — the lakehouse itself is the write-ahead log.
  * Retention: a restart whose checkpointed offset predates the vacuum
  * horizon fails loudly (same contract as [[ChangeFeed]]).
  */
private[sources] class GraftStreamSource(spark: SparkSession, path: String,
                                         override val schema: StructType,
                                         startingVersion: Option[Int]) extends Source {

  private def ver(o: V1Offset): Int = o match {
    case l: LongOffset => l.offset.toInt
    case s: SerializedOffset => s.json.trim.toInt
    case other => other.json.trim.toInt
  }

  override def getOffset: Option[V1Offset] = {
    val v = GraftTable.latestVersion(path)
    if (v < 0) None else Some(LongOffset(v.toLong))
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endV = ver(end)
    val batch = start.map(ver).orElse(startingVersion) match {
      case Some(fromV) => GraftTable.changes(spark, path, fromV, endV)
      case None => // fresh checkpoint: full snapshot as the initial image
        GraftTable.initialImage(spark, path, endV)
    }
    // align to the declared source schema, then hand the planner a
    // streaming-tagged frame over the computed rows (the v1-source
    // contract — a plain batch DataFrame would be rejected)
    val aligned = batch.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    Bridge.internalDataFrame(spark, aligned.queryExecution.toRdd, schema,
      isStreaming = true)
  }

  override def stop(): Unit = ()
}

/** DSv1 streaming Sink: keyed upsert (or delete) per micro-batch with
  * recorded-batchId replay skipping. See [[GraftSource.createSink]].
  *
  * `refreshEvery > 0`: after every Nth committed batch the sink
  * refreshes ALL attached indexes (all three families), so the table's
  * serving surfaces follow the stream head. Staleness contract: an
  * index lags by at most N micro-batches plus the trigger interval —
  * and the stale-loud probe check still applies in between, so a
  * reader can never silently serve the gap. A refresh failure fails
  * the query LOUDLY (house rule); on restart the replayed batch is
  * marker-skipped and the NEXT refreshing batch folds the whole
  * backlog — refresh applies (indexedVersion, head], so a missed tick
  * self-heals, it never leaves a hole.
  */
private[sources] class GraftStreamSink(path: String, keys: Option[Seq[String]],
                                       nbuckets: Int, precombine: Seq[String],
                                       operation: String, checkpointTag: String,
                                       refreshEvery: Int = 0,
                                       maxSegments: Int = 0) extends Sink {

  private def batchMarker = new Path(path, s"_sink_batch-$checkpointTag")

  private def lastBatchId: Long =
    if (GraftTable.MetaIO.exists(batchMarker))
      GraftTable.MetaIO.readString(batchMarker).trim.toLong
    else -1L

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // Skip ONLY the exact redelivered batch (a restart replays the one
    // in-flight batchId). batchId < marker means the CHECKPOINT WAS
    // RESET — batchIds restarted from 0 carrying fresh source data, so
    // skipping `<=` would silently drop it; re-applying instead is safe
    // (keyed last-wins merge is idempotent, at-least-once contract).
    if (batchId == lastBatchId) return
    val spark = data.sparkSession
    // re-wrap the incremental plan's rows as a standalone batch frame —
    // writing `data` directly would re-trigger the streaming plan
    val rows = data.queryExecution.toRdd.map(_.copy())
    val batch = Bridge.internalDataFrame(spark, rows, data.schema, isStreaming = false)
    // retrying writers: an OCC loss against a concurrent compactor or
    // second writer must not kill the streaming query
    if (operation == "delete" || operation == "delete_mor") {
      require(GraftTable.exists(path), s"graft sink: cannot delete from missing table $path")
      if (operation == "delete_mor") GraftTable.deleteMorRetry(spark, path, batch)
      else GraftTable.deleteRetry(spark, path, batch)
    } else if (GraftTable.exists(path)) {
      // upsert_mor: each micro-batch is one O(batch) delta commit — the
      // natural MOR fit for streaming trickle ingest (compact on a cadence)
      if (operation == "upsert_mor") GraftTable.upsertMorRetry(spark, path, batch, precombine)
      else GraftTable.upsertRetry(spark, path, batch, precombine)
    } else {
      val k = keys.getOrElse(throw new IllegalArgumentException(
        "graft sink requires option(\"recordkey\", \"k1[,k2…]\") to create a table"))
      GraftTable.create(batch, path, k, nbuckets)
    }
    GraftTable.MetaIO.replaceString(batchMarker, batchId.toString)
    // opt-in index freshness: refresh folds (indexedVersion, head], so
    // every tick catches up ALL backlog regardless of missed ticks
    if (refreshEvery > 0 && batchId % refreshEvery == 0) {
      GraftIndex.list(path).foreach(m => GraftIndex.refresh(spark, path, m.name))
      TextIndex.list(path).foreach(m =>
        TextIndex.refresh(spark, path, m.name, maxSegments = maxSegments))
      GraftHnsw.list(path).foreach(m =>
        GraftHnsw.refresh(spark, path, m.name, maxSegments = maxSegments))
    }
  }

  override def toString: String = s"GraftStreamSink[$path]"
}

/** A MOR-log snapshot's rows as a DSv1 relation: [[GraftTable.read]]'s
  * plan (the log's anti-joins and winner union over the native scans),
  * handed to Spark as InternalRows (`needConversion = false`, so no
  * Row round trip). A `CatalystScan`: the query's columns and
  * predicates are applied to that plan by name, so the optimizer pushes
  * them through the joins into the native scans (a full-key equality
  * still reads one bucket). Spark re-applies every predicate above the
  * scan.
  */
private[sources] class GraftLogRelation(val sqlContext: SQLContext, snapshot: DataFrame)
    extends BaseRelation with CatalystScan {
  override def schema: StructType = snapshot.schema
  override def needConversion: Boolean = false
  override def buildScan(requiredColumns: Seq[Attribute],
                         filters: Seq[Expression]): RDD[Row] =
    filters.filterNot(SubqueryExpression.hasSubquery)
      .foldLeft(snapshot)((df, f) => df.filter(Bridge.column(f.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      })))
      .select(requiredColumns.map(a => Bridge.column(UnresolvedAttribute.quoted(a.name))): _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
}
