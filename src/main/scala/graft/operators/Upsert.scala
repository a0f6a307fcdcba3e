package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record-key upsert merge — the semantics of the reference's Hudi
  * ingest (demo.ipynb cell 8: `recordkey.field=job_id`,
  * `operation=upsert`, COPY_ON_WRITE with DefaultSparkRecordMerger =
  * last-writer-wins per key).
  *
  * Spark-first shape: tag each side with a version ordinal, union, keep
  * `row_number() = 1` per key ordered by version desc. One shuffle on
  * the record key (unavoidable for a keyed merge); AQE handles skewed
  * keys. At 100 TB the upsert cost is bounded by the updated partitions
  * when used through [[graft.sources.GraftTable]], which applies this
  * merge per write.
  */
object Upsert {

  /** Last-wins merge: rows in `updates` replace same-key rows in `base`;
    * new keys are inserted. Both sides must share a schema (any column
    * order — the union is by name).
    *
    * If `updates` itself repeats a key, the winner is chosen by
    * `precombine` descending (Hudi's precombine-field semantics); with
    * no precombine given, the full non-key row struct breaks the tie,
    * so the result is deterministic for any input (never
    * partitioning-dependent).
    *
    * `clusterBy`: a column of both sides that is a function of the key
    * (a table's bucket id). The merge's one shuffle is then on it, so
    * the output arrives grouped and sorted by it — what a
    * `partitionBy` writer needs to leave one file per value — at no
    * extra shuffle.
    */
  def merge(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
            precombine: Seq[Column] = Nil, clusterBy: Option[String] = None): DataFrame = {
    require(base.columns.sorted.sameElements(updates.columns.sorted),
      s"schema mismatch: ${base.columns.mkString(",")} vs ${updates.columns.mkString(",")}")
    val unioned0 = base.withColumn("__v", lit(0)).unionByName(updates.withColumn("__v", lit(1)))
    val unioned = clusterBy.fold(unioned0)(c => unioned0.repartition(col(c)))
    val nonKey = base.columns.filterNot(c => keyCols.contains(c) || clusterBy.contains(c))
    val tieBreak: Seq[Column] =
      if (precombine.nonEmpty) precombine
      else if (nonKey.nonEmpty) Seq(struct(nonKey.map(col): _*))
      else Nil
    val w = Window.partitionBy((clusterBy.toSeq ++ keyCols).map(col): _*)
      .orderBy(col("__v").desc +: tieBreak.map(_.desc): _*)
    unioned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__v", "__rn")
  }

  /** Delete-aware variant: updates rows where `deleteFlag` is true drop
    * the key entirely (Hudi `_hoodie_is_deleted` semantics).
    */
  def mergeWithDeletes(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
                       deleteFlag: Column): DataFrame = {
    val tagged = updates.withColumn("__del", deleteFlag)
    val merged = merge(base.withColumn("__del", lit(false)), tagged, keyCols)
    merged.filter(!col("__del")).drop("__del")
  }

  /** Conditional MERGE — the full `MERGE INTO` clause family (Delta /
    * Hudi / ANSI `MERGE`) as one declarative plan over a single
    * key-equality join:
    *
    *   - `matchedDelete`:   WHEN MATCHED AND cond THEN DELETE
    *   - `matchedUpdate`:   WHEN MATCHED AND cond THEN UPDATE SET …
    *   - `notMatchedInsert`: WHEN NOT MATCHED AND cond THEN INSERT
    *   - `bySourceDelete`/`bySourceUpdate`: WHEN NOT MATCHED BY SOURCE
    *     AND cond THEN DELETE / UPDATE SET … (SQL:2023; target rows
    *     with no source pair — conditions/SETs may reference only `t`)
    *
    * Clause precedence is fixed and documented: for a matched key the
    * DELETE condition is evaluated first, then UPDATE; a matched row
    * satisfying neither keeps its target image. A source row matching
    * nothing and failing the insert condition is dropped. Conditions
    * and SET expressions may reference both sides through the `t`
    * (target) and `s` (source) aliases — e.g.
    * `col("s.price") > col("t.price")`. A NULL condition counts as
    * not-satisfied (SQL `WHERE`-truth, same as MERGE).
    *
    * The result carries exactly the target's schema: SET values are
    * cast to the target column's type. Inserted rows take
    * `notMatchedInsertSet` values where given (Delta's
    * `whenNotMatched().insert(values)`), fall back to the source's
    * same-named column (`insertAll()`), and pad the rest with typed
    * nulls. Like
    * [[merge]], the source must not repeat a key (ANSI MERGE raises a
    * cardinality violation there; here the duplicate source rows would
    * each pair with the one target row — pre-combine upstream).
    *
    * Scale shape: ONE equi-join on the record key (broadcast when the
    * source batch is small, shuffle otherwise) and a projection —
    * no window, no union of three branches, so whole-stage codegen
    * covers the clause logic. Through
    * [[graft.sources.GraftTable.mergeInto]] the target side is only
    * the touched buckets, making a 0.1 % MERGE read ~0.1 % of a 100 TB
    * table.
    */
  def mergeConditional(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
                       matchedDelete: Option[Column] = None,
                       matchedUpdate: Option[(Column, Map[String, Column])] = None,
                       notMatchedInsert: Option[Column] = Some(lit(true)),
                       notMatchedInsertSet: Map[String, Column] = Map.empty,
                       bySourceDelete: Option[Column] = None,
                       bySourceUpdate: Option[(Column, Map[String, Column])] = None)
      : DataFrame = {
    keyCols.foreach { k =>
      require(base.columns.contains(k), s"target missing key column $k")
      require(updates.columns.contains(k), s"source missing key column $k")
    }
    val t = base.withColumn("__t", lit(true)).as("t")
    val s = updates.withColumn("__s", lit(true)).as("s")
    val on = keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val j = t.join(s, on, "full_outer")

    val matched = coalesce(col("t.__t"), lit(false)) && coalesce(col("s.__s"), lit(false))
    val srcOnly = col("t.__t").isNull && coalesce(col("s.__s"), lit(false))
    // WHEN NOT MATCHED BY SOURCE (SQL:2023 / Delta): target rows whose
    // key has NO source pair — the third disjoint row class of the
    // full-outer join. Same fixed precedence as the matched pair:
    // DELETE first, then UPDATE (callers encoding SQL clause order
    // guard conditions upstream, exactly as for matched clauses).
    // By-source conditions may reference only the `t` side — the `s`
    // side is all-null on these rows by construction.
    val tgtOnly = coalesce(col("t.__t"), lit(false)) && col("s.__s").isNull
    def holds(c: Option[Column]) = c.map(x => coalesce(x, lit(false))).getOrElse(lit(false))
    val del = matched && holds(matchedDelete)
    val upd = matched && !holds(matchedDelete) && holds(matchedUpdate.map(_._1))
    val ins = srcOnly && holds(notMatchedInsert)
    val bsDel = tgtOnly && holds(bySourceDelete)
    val bsUpd = tgtOnly && !holds(bySourceDelete) && holds(bySourceUpdate.map(_._1))

    val set = matchedUpdate.map(_._2).getOrElse(Map.empty)
    val bsSet = bySourceUpdate.map(_._2).getOrElse(Map.empty)
    val srcCols = updates.columns.toSet
    val outCols = base.schema.fields.map { f =>
      val insVal = notMatchedInsertSet.get(f.name).map(_.cast(f.dataType))
        .getOrElse(
          if (srcCols(f.name)) col(s"s.${f.name}").cast(f.dataType)
          else lit(null).cast(f.dataType))
      val updVal = set.get(f.name)
        .map(_.cast(f.dataType)).getOrElse(col(s"t.${f.name}"))
      val bsVal = bsSet.get(f.name)
        .map(_.cast(f.dataType)).getOrElse(col(s"t.${f.name}"))
      when(srcOnly, insVal)
        .when(upd, updVal)
        .when(bsUpd, bsVal)
        .otherwise(col(s"t.${f.name}"))
        .as(f.name)
    }
    j.filter(!del && !bsDel && (!srcOnly || ins)).select(outCols.toIndexedSeq: _*)
  }
}
