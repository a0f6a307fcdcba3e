package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import graft.functions.{CosineSimilarity, DotProduct, L2Distance, VectorNorm}

/** SQL surface for the vector kernels — the Spark-native analog of the
  * reference exposing search through SQL (`hudi_vector_search(...)`,
  * demo.ipynb cell 11). With these registered, the reference's query
  * pattern is plain Spark SQL:
  *
  * {{{
  *   SELECT vec_id, cosine_similarity(embedding, (SELECT embedding FROM q)) AS score
  *   FROM embeddings ORDER BY score DESC LIMIT 10
  * }}}
  *
  * and the reference's ONE-CALL table-function shape works verbatim
  * (demo.ipynb cell 11: `hudi_vector_search(path, col, vec, k, metric)`):
  *
  * {{{
  *   SELECT * FROM graft_vector_search(
  *     '/data/embeddings', 'embedding',
  *     (SELECT embedding FROM embeddings WHERE vec_id = 0), 10, 'cosine')
  * }}}
  *
  * Two entry points:
  *  - config-time: `--conf spark.sql.extensions=graft.GraftExtensions`
  *  - runtime: `GraftFunctions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    GraftFunctions.tableFunctions.foreach { case (name, info, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name), info, builder))
    }
    // SQL UPDATE / MERGE INTO / general-condition DELETE over
    // graft.`path` tables — routed into GraftTable's stats-pruned COW
    // engine (graft.sources.v2.GraftDmlRule); post-hoc so conditions,
    // assignments, and the MERGE source are fully resolved first
    ext.injectPostHocResolutionRule(spark => graft.sources.v2.GraftDmlRule(spark))
  }
}

object GraftFunctions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def binary(f: (Expression, Expression) => Expression)(args: Seq[Expression]): Expression = {
    require(args.length == 2, s"expected 2 arguments, got ${args.length}")
    f(args(0), args(1))
  }

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity",
      info("cosine_similarity", "cosine_similarity(a, b) - cosine similarity of two float/double arrays"),
      binary(CosineSimilarity.apply) _),
    ("dot_product",
      info("dot_product", "dot_product(a, b) - inner product of two float/double arrays"),
      binary(DotProduct.apply) _),
    ("l2_distance",
      info("l2_distance", "l2_distance(a, b) - euclidean distance of two float/double arrays"),
      binary(L2Distance.apply) _),
    ("vector_norm",
      info("vector_norm", "vector_norm(a) - euclidean norm of a float/double array"),
      { args: Seq[Expression] =>
        require(args.length == 1, s"expected 1 argument, got ${args.length}")
        VectorNorm(args.head)
      })
    // NOTE deliberately NO theta_* registrations: Spark 4.1 ships the
    // DataSketches theta family natively (theta_sketch_agg,
    // theta_union[_agg], theta_intersection[_agg], theta_difference,
    // theta_sketch_estimate) — registering shadows here would hide the
    // builtins' codegen'd implementations behind house copies.
  )

  /** `graft_vector_search(path, vecCol, queryVec, k [, metric])` — the
    * reference's table-function entry point, built as a declarative
    * plan: parquet scan → codegen'd kernel score → top-k (which the
    * planner compiles to TakeOrderedAndProject). `queryVec` is embedded
    * as an EXPRESSION, not evaluated at build time — a scalar subquery
    * (the reference's own usage) resolves inside the plan. path/vecCol/
    * k/metric must be literals (they shape the plan itself). Ties at
    * the k-th score are broken deterministically by the table's
    * NON-vector columns in schema order (free inside
    * TakeOrderedAndProject) — without it, duplicate vectors at the
    * k-boundary would make the returned SET nondeterministic.
    */
  private def vectorSearchPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 4 || args.length == 5,
      s"graft_vector_search(path, vecCol, queryVec, k[, metric]): got ${args.length} args")
    val lit = literals("graft_vector_search", args)
    val path = lit(0, "path").toString
    val vecCol = lit(1, "vecCol").toString
    val k = lit(3, "k").asInstanceOf[Number].intValue()
    val metric = if (args.length == 5) lit(4, "metric").toString else "cosine"
    val queryCol = org.apache.spark.sql.graftshim.Bridge.column(args(2))
    val spark = SparkSession.active
    val scan = spark.read.parquet(path)
    val scored = scan
      .withColumn("score", operators.VectorSearch.scoreCol(col(vecCol), queryCol, metric))
    val ord = if (metric == "l2") col("score").asc else col("score").desc
    val ties = scan.schema.fieldNames.filterNot(_ == vecCol).map(col(_).asc)
    scored.orderBy(ord +: ties.toSeq: _*).limit(k).queryExecution.logical
  }

  /** `graft_index_search(tablePath, queryVec, k[, nprobe[, name]])` —
    * the reference's `hudi_vector_search('{TABLE_PATH}', …)` literally
    * (demo.ipynb cell 11): SQL top-k served from the TABLE-ATTACHED
    * index ([[graft.sources.GraftIndex]]), stale-checked at plan time —
    * a query against an index the table has moved past fails loudly in
    * SQL exactly like the Scala API. `queryVec` must FOLD to an array
    * value (any numeric element type): the coarse cells are ranked
    * driver-side to shape the partition-pruned plan, so the vector must
    * exist before planning — a scalar subquery can't (collect it first;
    * the full-scan `graft_vector_search` TVF takes subqueries).
    * nprobe defaults to nlist (exhaustive = exact). `predSql` (optional
    * 6th arg, a SQL boolean expression over the TABLE's columns, e.g.
    * `'label = 3'`) turns the call into a FILTERED search: top-k among
    * matching rows only, the pred pushed INTO the cell-pruned scan —
    * filtering the k results afterwards would silently under-fill, this
    * keeps k full.
    */
  private def indexSearchPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3 && args.length <= 6,
      s"graft_index_search(tablePath, queryVec, k[, nprobe[, name[, predSql]]]): got ${args.length} args")
    val lit = literals("graft_index_search", args)
    val path = lit(0, "tablePath").toString
    val query = foldVec("graft_index_search", args(1))
    val k = lit(2, "k").asInstanceOf[Number].intValue()
    val nprobe = if (args.length >= 4) lit(3, "nprobe").asInstanceOf[Number].intValue() else -1
    val name = if (args.length >= 5) lit(4, "name").toString else "vec"
    val spark = SparkSession.active
    val pred = if (args.length == 6) Some(parsePred(spark, "graft_index_search",
      lit(5, "predSql").toString)) else None
    val np = if (nprobe > 0) nprobe else graft.sources.GraftIndex.meta(path, name).nlist
    graft.sources.GraftIndex.probe(spark, path, query, k, np, name, pred)
      .queryExecution.logical
  }

  /** A TVF query-vector argument: must FOLD to a numeric array at plan
    * time (the index TVFs rank cells / shape per-segment tasks before
    * execution, so the vector must exist before planning — a scalar
    * subquery can't; the full-scan `graft_vector_search` takes those).
    */
  private def foldVec(fn: String, e: Expression): Seq[Float] = {
    require(e.foldable, s"$fn: queryVec must be a foldable numeric array")
    (e.dataType, e.eval(null)) match {
      case (org.apache.spark.sql.types.ArrayType(et, _),
            a: org.apache.spark.sql.catalyst.util.ArrayData) => et match {
        case org.apache.spark.sql.types.FloatType => a.toFloatArray().toSeq
        case org.apache.spark.sql.types.DoubleType => a.toDoubleArray().map(_.toFloat).toSeq
        case org.apache.spark.sql.types.IntegerType => a.toIntArray().map(_.toFloat).toSeq
        case org.apache.spark.sql.types.LongType => a.toLongArray().map(_.toFloat).toSeq
        case dt: org.apache.spark.sql.types.DecimalType => // array(0.1, …) literals
          a.toObjectArray(dt).map(_.asInstanceOf[org.apache.spark.sql.types.Decimal].toFloat).toSeq
        case other => throw new IllegalArgumentException(
          s"$fn: unsupported query element type $other")
      }
      case _ => throw new IllegalArgumentException(
        s"$fn: queryVec must be a foldable numeric array")
    }
  }

  /** A TVF's plan-shaping argument reader: `lit(i, what)` evaluates
    * `args(i)`, refusing a non-literal as "`fn`: `what` must be a
    * literal".
    */
  private def literals(fn: String, args: Seq[Expression]): (Int, String) => Any =
    (i, what) => {
      require(args(i).foldable, s"$fn: $what must be a literal")
      args(i).eval(null)
    }

  /** A k-NN-join TVF's query batch: every row of the SQL-visible
    * `qtable` as (key as long, vector as floats).
    */
  private def queryRows(spark: SparkSession, fn: String, qtable: String, keyCol: String,
                        vecCol: String): Seq[(Long, Seq[Float])] =
    spark.table(qtable)
      .select(col(keyCol).cast("long"), col(vecCol)).collect().toSeq
      .map { r =>
        (r.getLong(0), r.getSeq[Any](1).map {
          case f: Float => f
          case d: Double => d.toFloat
          case i: Int => i.toFloat
          case l: Long => l.toFloat
          case d: java.math.BigDecimal => d.floatValue()
          case other => throw new IllegalArgumentException(
            s"$fn: unsupported vector element $other")
        })
      }

  /** A numeric TVF argument as Double: SQL decimal literals (`0.6`)
    * eval to Spark's own Decimal, which is NOT a java.lang.Number —
    * both shapes accepted here.
    */
  private def numArg(fn: String, what: String, v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be numeric, got $other")
  }

  /** Parse a TVF's predicate-string argument into a Column: the SQL
    * text resolves against the served DataFrame like any `.filter`
    * expression (unresolvable columns fail at analysis, loudly).
    */
  private def parsePred(spark: SparkSession, fn: String, sql: String): Column = {
    require(sql.trim.nonEmpty, s"$fn: predSql must be a non-empty SQL boolean expression")
    org.apache.spark.sql.graftshim.Bridge.column(
      spark.sessionState.sqlParser.parseExpression(sql))
  }

  /** `graft_index_mmr(tablePath, queryVec, k, lambda, candidates[,
    * nprobe[, name[, predSql]]])` — DIVERSIFIED top-k served from the
    * table-attached ANN index: stage 1 = the `graft_index_search` probe
    * widened to `candidates` rows (stale-checked, pred legs, quantized
    * rerank — everything the plain TVF does), stage 2 = the MMR greedy
    * over that serving slice ([[graft.sources.GraftIndex.probeMmr]]).
    * Output: rank + the canonical probe shape + mmr_score; λ=1
    * degenerates to the plain probe's order. nprobe defaults to nlist.
    */
  private def indexMmrPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 5 && args.length <= 8,
      s"graft_index_mmr(tablePath, queryVec, k, lambda, candidates[, nprobe[, name[, predSql]]]): got ${args.length} args")
    val lit = literals("graft_index_mmr", args)
    val path = lit(0, "tablePath").toString
    val query = foldVec("graft_index_mmr", args(1))
    val k = lit(2, "k").asInstanceOf[Number].intValue()
    val lambda = numArg("graft_index_mmr", "lambda", lit(3, "lambda"))
    val candidates = lit(4, "candidates").asInstanceOf[Number].intValue()
    val nprobe = if (args.length >= 6) lit(5, "nprobe").asInstanceOf[Number].intValue() else -1
    val name = if (args.length >= 7) lit(6, "name").toString else "vec"
    val spark = SparkSession.active
    val pred = if (args.length == 8) Some(parsePred(spark, "graft_index_mmr",
      lit(7, "predSql").toString)) else None
    val np = if (nprobe > 0) nprobe else graft.sources.GraftIndex.meta(path, name).nlist
    graft.sources.GraftIndex.probeMmr(spark, path, query, k, np, lambda, candidates,
        name, pred)
      .queryExecution.logical
  }

  /** `graft_hnsw_mmr(tablePath, queryVec, k, lambda, candidates[, ef[,
    * name[, predSql]]])` — the [[indexMmrPlan]] twin for the
    * table-attached HNSW ([[graft.sources.GraftHnsw.probeMmr]]).
    * `ef` defaults to 64.
    */
  private def hnswMmrPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 5 && args.length <= 8,
      s"graft_hnsw_mmr(tablePath, queryVec, k, lambda, candidates[, ef[, name[, predSql]]]): got ${args.length} args")
    val lit = literals("graft_hnsw_mmr", args)
    val path = lit(0, "tablePath").toString
    val query = foldVec("graft_hnsw_mmr", args(1))
    val k = lit(2, "k").asInstanceOf[Number].intValue()
    val lambda = numArg("graft_hnsw_mmr", "lambda", lit(3, "lambda"))
    val candidates = lit(4, "candidates").asInstanceOf[Number].intValue()
    val ef = if (args.length >= 6) lit(5, "ef").asInstanceOf[Number].intValue() else 64
    val name = if (args.length >= 7) lit(6, "name").toString else "hnsw"
    val spark = SparkSession.active
    val pred = if (args.length == 8) Some(parsePred(spark, "graft_hnsw_mmr",
      lit(7, "predSql").toString)) else None
    graft.sources.GraftHnsw.probeMmr(spark, path, query, k, ef, lambda, candidates,
        name, pred)
      .queryExecution.logical
  }

  /** `graft_table(path[, version])` — SQL read of a GraftTable snapshot
    * (latest, an integer time-travel version, or a TAG name — the same
    * name/version duality the catalog's `VERSION AS OF` resolves). The
    * lakehouse analog of the reference reading its Hudi table into SQL.
    */
  private def tablePlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1 || args.length == 2,
      s"graft_table(path[, version]): got ${args.length} args")
    require(args.forall(_.foldable), "graft_table: path/version must be literals")
    val path = args(0).eval(null).toString
    // the snapshot read itself: a native Parquet scan over the
    // manifest's file list (GraftTable.read, a HadoopFsRelation over
    // GraftFileIndex), so WHERE clauses above the TVF reach its
    // listFiles — full-key bucket point lookups and stats file skipping
    // from metadata, like spark.read.format("graft"); a MOR-log snapshot
    // is readMor's plan. The ANALYZED plan, pinned to one snapshot.
    val version =
      if (args.length == 2) args(1).eval(null) match {
        case n: Number => n.intValue()
        case tag => // tag/branch names are never all-digit — no ambiguity
          val name = tag.toString
          graft.sources.GraftTable.resolveTag(path, name)
            .orElse(Option.when(graft.sources.GraftTable.branchExists(path, name))(
              graft.sources.GraftTable.branchHead(path, name)))
            .getOrElse(throw new IllegalArgumentException(
              s"$path has no tag or branch '$name' (tags: " +
                s"${graft.sources.GraftTable.tags(path)
                  .map { case (t, v) => s"$t→v$v" }.mkString(", ")})"))
      }
      else -1
    graft.sources.GraftTable.read(SparkSession.active,
      graft.sources.GraftTable.snapshotAt(path, version)).queryExecution.analyzed
  }

  /** `graft_table_changes(path, fromVersion, toVersion)` — SQL read of
    * the change feed between two snapshots: table columns (sorted) plus
    * `_deleted` (adds/updates carry the new image, deletes the last
    * stored image). Hudi's incremental query, as a table function.
    */
  private def changesPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3,
      s"graft_table_changes(path, fromVersion, toVersion): got ${args.length} args")
    require(args.forall(_.foldable), "graft_table_changes: all arguments must be literals")
    val path = args(0).eval(null).toString
    val from = args(1).eval(null).asInstanceOf[Number].intValue()
    val to = args(2).eval(null).asInstanceOf[Number].intValue()
    graft.sources.GraftTable.changes(SparkSession.active, path, from, to)
      .queryExecution.logical
  }

  /** `graft_text_search(tablePath, query, k[, mode[, name[, predSql[,
    * maxDist[, q]]]]])` — BM25 top-k from the table-attached inverted
    * text index ([[graft.sources.TextIndex]]), stale-checked at plan
    * time like [[indexSearchPlan]]. `mode` = 'any' (default), 'all'
    * (conjunctive), 'phrase' (exact consecutive-token match via
    * positional postings — returns `n_occurrences` instead of `score`),
    * or 'fuzzy' (Lucene FuzzyQuery: the term's edit-distance-≤maxDist
    * vocabulary expansion scored disjunctively). The query string folds
    * at plan time: its terms name the posting partitions to read, so
    * pruning happens before execution.
    *
    * `maxDist`/`q` are the fuzzy mode's knobs (edit-distance budget,
    * default 1 — the Lucene default — and the pruning q-gram width,
    * default 2), positional args 7/8, so a two-edit typo is servable
    * through SQL, not just the Scala API (the r12 gap — they were
    * hardwired). Pass predSql as NULL or '' to reach them without a
    * filter; passing them with a non-fuzzy mode refuses loudly rather
    * than silently ignoring them.
    */
  private def textSearchPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3 && args.length <= 8,
      s"graft_text_search(tablePath, query, k[, mode[, name[, predSql[, maxDist[, q]]]]]): got ${args.length} args")
    val lit = literals("graft_text_search", args)
    val path = lit(0, "tablePath").toString
    val query = lit(1, "query").toString
    val k = lit(2, "k").asInstanceOf[Number].intValue()
    val mode = if (args.length >= 4) lit(3, "mode").toString else "any"
    val name = if (args.length >= 5) lit(4, "name").toString else "txt"
    // predSql = Lucene's filtered-query clause in SQL: eligibility
    // semi-join before the top-k cut, full-corpus statistics. NULL/''
    // skip the filter (so the positional fuzzy knobs stay reachable).
    val pred = if (args.length >= 6) Option(lit(5, "predSql"))
        .map(_.toString).filter(_.trim.nonEmpty)
        .map(parsePred(SparkSession.active, "graft_text_search", _))
      else None
    require(args.length <= 6 || mode == "fuzzy",
      s"graft_text_search: maxDist/q apply to mode 'fuzzy' only, got mode '$mode'")
    val maxDist = if (args.length >= 7) lit(6, "maxDist").asInstanceOf[Number].intValue() else 1
    val qGram = if (args.length >= 8) lit(7, "q").asInstanceOf[Number].intValue() else 2
    val df =
      if (mode == "phrase")
        graft.sources.TextIndex.searchPhrase(SparkSession.active, path, query, k,
          name = name, pred = pred)
      else if (mode == "fuzzy")
        graft.sources.TextIndex.searchFuzzy(SparkSession.active, path, query, k,
          maxDist = maxDist, name = name, q = qGram, pred = pred)
      else
        graft.sources.TextIndex.search(SparkSession.active, path, query, k,
          name = name, mode = mode, pred = pred)
    df.queryExecution.logical
  }

  /** `graft_hybrid_search(tablePath, queryVec, textQuery, k[, n[, nprobe[, predSql]]])`
    * — the reference's full hybrid retrieval (demo.ipynb cell 13) as ONE
    * SQL call, BOTH legs served from table-attached indexes: vector leg
    * = [[graft.sources.GraftIndex]] top-n probe (nprobe defaults to
    * nlist = exact), text leg = [[graft.sources.TextIndex]] BM25 top-n
    * (rational idf, per-term quantize-then-integer-sum — the
    * deterministic ranking the oracle can reproduce), fused by
    * reciprocal-rank fusion. Returns (key, rrf_score) top-k. Both
    * indexes are stale-checked at plan time; index names are the
    * defaults ('vec'/'txt'). Like [[indexSearchPlan]], `queryVec` must
    * fold at plan time (it shapes the partition-pruned probe).
    */
  private def hybridSearchPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 4 && args.length <= 7,
      s"graft_hybrid_search(tablePath, queryVec, textQuery, k[, n[, nprobe[, predSql]]]): got ${args.length} args")
    val lit = literals("graft_hybrid_search", args)
    val path = lit(0, "tablePath").toString
    val query = foldVec("graft_hybrid_search", args(1))
    val textQuery = lit(2, "textQuery").toString
    val k = lit(3, "k").asInstanceOf[Number].intValue()
    val n = if (args.length >= 5) lit(4, "n").asInstanceOf[Number].intValue() else 50
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.col
    val im = graft.sources.GraftIndex.meta(path, "vec")
    val nprobe = if (args.length >= 6) lit(5, "nprobe").asInstanceOf[Number].intValue()
                 else im.nlist
    val pred = if (args.length == 7) Some(parsePred(spark, "graft_hybrid_search",
      lit(6, "predSql").toString)) else None
    val (key, fused) = hybridFused(spark, path, query, textQuery, n, nprobe, pred)
    fused.orderBy(col("rrf_score").desc, col(key).asc).limit(k)
      .queryExecution.logical
  }

  /** The two-index fused candidate frame SHARED by `graft_hybrid_search`
    * and `graft_rerank_search`: (key, rrf_score) over the union of both
    * legs' top-n — vector leg = table-attached index probe, text leg =
    * BM25 with the rational idf's per-term quantize-then-integer-sum
    * (the deterministic ranking the oracle reproduces). `pred` filters
    * BOTH legs' eligibility BEFORE their top-n rank cuts
    * (post-filtering fused results would starve the fusion of exactly
    * the rows the filter wanted): the vector leg pushes the pred into
    * its probe (selective preds take the exact brute leg), the text leg
    * semi-joins the scored docs against the pinned snapshot —
    * full-corpus BM25 statistics, Lucene filter semantics.
    */
  private def hybridFused(spark: SparkSession, path: String, query: Seq[Float],
                          textQuery: String, n: Int, nprobe: Int,
                          pred: Option[Column])
      : (String, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{col, floor, lit => flit, sum}
    val im = graft.sources.GraftIndex.meta(path, "vec")
    val key = im.keyCols.head
    val vecLeg = graft.operators.Fusion.rankByTopN(
      graft.sources.GraftIndex.probe(spark, path, query, n, nprobe, pred = pred)
        .select(col(key), col("score").as("__vs")), key, col("__vs"), n)
    val txtScored = graft.sources.TextIndex.scoredTerms(spark, path, textQuery, idf = "rational")
      .groupBy(col(key))
      .agg(sum(floor(col("contrib") * flit(1000000.0)).cast("long")).as("__ts"))
    val txtEligible = pred.fold(txtScored)(p =>
      txtScored.join(graft.sources.GraftTable.read(spark, path,
          graft.sources.TextIndex.meta(path, "txt").indexedVersion)
        .filter(p).select(col(key)), Seq(key), "left_semi"))
    val txtLeg = graft.operators.Fusion.rankByTopN(txtEligible, key, col("__ts"), n)
    (key, graft.operators.Fusion.rrf(Seq(txtLeg, vecLeg), key, "rank"))
  }

  /** `graft_rerank_search(tablePath, queryVec, textQuery, k[, n[,
    * nprobe[, predSql]]])` — the cross-encoder PRECISION stage as one
    * SQL call, completing the retrieve→fuse→rerank pipeline the SQL
    * surface stopped short of at RRF: the [[hybridFused]] candidate set
    * is quantized-cut to its top-`n` (floor(rrf·1e4) desc, key asc —
    * the integer arithmetic the oracle replays), joined to the indexed
    * text column at the text index's pinned version, rescored as
    * (textQuery, doc) PAIRS through [[graft.operators.Rerank]] (the
    * deterministic token-overlap stub — a real model drops into the
    * same per-partition BatchScorer seam), and cut to k on
    * (ce_score desc, rrf_q desc, key asc). Output: (key, ce_score,
    * rrf_q). Reranking cost is per CANDIDATE (n per call), never per
    * corpus — the [[graft.operators.Rerank]] scale contract.
    */
  private def rerankSearchPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 4 && args.length <= 7,
      s"graft_rerank_search(tablePath, queryVec, textQuery, k[, n[, nprobe[, predSql]]]): got ${args.length} args")
    val lit = literals("graft_rerank_search", args)
    val path = lit(0, "tablePath").toString
    val query = foldVec("graft_rerank_search", args(1))
    val textQuery = lit(2, "textQuery").toString
    val k = lit(3, "k").asInstanceOf[Number].intValue()
    val n = if (args.length >= 5) lit(4, "n").asInstanceOf[Number].intValue() else 50
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{col, floor, lit => flit}
    val nprobe = if (args.length >= 6) lit(5, "nprobe").asInstanceOf[Number].intValue()
                 else graft.sources.GraftIndex.meta(path, "vec").nlist
    val pred = if (args.length == 7) Some(parsePred(spark, "graft_rerank_search",
      lit(6, "predSql").toString)) else None
    val (key, fused) = hybridFused(spark, path, query, textQuery, n, nprobe, pred)
    val tm = graft.sources.TextIndex.meta(path, "txt")
    val cand = fused
      .select(col(key), floor(col("rrf_score") * flit(10000.0)).cast("long").as("rrf_q"))
      .orderBy(col("rrf_q").desc, col(key).asc).limit(n)
      .join(graft.sources.GraftTable.read(spark, path, tm.indexedVersion)
        .select(col(key), col(tm.textCol)), Seq(key))
    graft.operators.Rerank.rerank(cand, textQuery, tm.textCol)
      .select(col(key), col("ce_score"), col("rrf_q"))
      .orderBy(col("ce_score").desc, col("rrf_q").desc, col(key).asc).limit(k)
      .queryExecution.logical
  }

  /** `graft_knn_join(tablePath, queryTable, k[, nprobe[, name[, predSql]]])`
    * — the BATCH shape of index serving as one SQL call: every row of
    * `queryTable` (a SQL-visible table/view carrying the index's key
    * and vector columns) gets its top-k neighbors from the
    * table-attached ANN index, returned as (qid, key, score). This is
    * the SQL surface of [[graft.sources.GraftIndex.knnJoin]]: the
    * query batch is the SMALL side by contract — it is collected at
    * plan time because the per-query probe cells are ranked
    * driver-side to shape ONE partition-pruned scan over the union of
    * all queries' cells (cells shared between queries are read once).
    * The index is stale-checked at plan time like the other index
    * TVFs; nprobe defaults to nlist (exhaustive = exact per query).
    * `predSql` filters the join's right side by the measured-match-
    * count strategy (selective preds brute-force exactly; loose preds
    * push into the cell scans) — the `graft_hnsw_knn_join` twin.
    */
  private def knnJoinPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3 && args.length <= 6,
      s"graft_knn_join(tablePath, queryTable, k[, nprobe[, name[, predSql]]]): got ${args.length} args")
    val lit = literals("graft_knn_join", args)
    val path = lit(0, "tablePath").toString
    val qtable = lit(1, "queryTable").toString
    val k = lit(2, "k").asInstanceOf[Number].intValue()
    val nprobe = if (args.length >= 4) lit(3, "nprobe").asInstanceOf[Number].intValue() else -1
    val name = if (args.length >= 5) lit(4, "name").toString else "vec"
    val spark = SparkSession.active
    val pred = if (args.length == 6) Some(parsePred(spark, "graft_knn_join",
      lit(5, "predSql").toString)) else None
    val m = graft.sources.GraftIndex.meta(path, name)
    val np = if (nprobe > 0) nprobe else m.nlist
    val qs = queryRows(spark, "graft_knn_join", qtable, m.keyCols.head, m.vecCol)
    graft.sources.GraftIndex.knnJoin(spark, path, qs, k, np, name, pred = pred)
      .queryExecution.logical
  }

  /** `graft_hnsw_knn_join(tablePath, queryTable, k[, ef[, name[, predSql]]])`
    * — the batched ANN join through the TABLE-ATTACHED HNSW index, the
    * [[knnJoinPlan]] twin for the graph family: each row of the
    * SQL-visible `queryTable` (key + the index's vector column) gets
    * its approximate top-k live table keys; every committed segment
    * graph loads once and serves every query, dead copies die by the
    * horizon-tombstone filter. `predSql` filters the join's right side
    * by the measured-selectivity strategy (one accept set / match count
    * serves every query). Output: (qid, keyCol, score).
    */
  private def hnswKnnJoinPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3 && args.length <= 6,
      s"graft_hnsw_knn_join(tablePath, queryTable, k[, ef[, name[, predSql]]]): got ${args.length} args")
    val lit = literals("graft_hnsw_knn_join", args)
    val path = lit(0, "tablePath").toString
    val qtable = lit(1, "queryTable").toString
    val k = lit(2, "k").asInstanceOf[Number].intValue()
    val ef = if (args.length >= 4) lit(3, "ef").asInstanceOf[Number].intValue() else 64
    val name = if (args.length >= 5) lit(4, "name").toString else "hnsw"
    val spark = SparkSession.active
    val pred = if (args.length == 6) Some(parsePred(spark, "graft_hnsw_knn_join",
      lit(5, "predSql").toString)) else None
    val m = graft.sources.GraftHnsw.meta(path, name)
    val qs = queryRows(spark, "graft_hnsw_knn_join", qtable, m.keyCol, m.vecCol)
    graft.sources.GraftHnsw.knnJoin(spark, path, qs, k, ef, name, pred = pred)
      .queryExecution.logical
  }

  /** `graft_hnsw_search(layoutPath, queryVec, k[, ef])` — SQL top-k
    * from a standalone [[graft.operators.HnswIndex]] layout: each
    * segment graph walks a bounded-`ef` beam in one task, candidates
    * reduce to a global top-k. `queryVec` must FOLD to a numeric array
    * (the probe shapes per-segment tasks at plan time); `ef` defaults
    * to 64. Approximate by nature — the HNSW contract, same as the
    * Scala API.
    */
  private def hnswSearchPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3 || args.length == 4,
      s"graft_hnsw_search(layoutPath, queryVec, k[, ef]): got ${args.length} args")
    val lit = literals("graft_hnsw_search", args)
    val path = lit(0, "layoutPath").toString
    val query = foldVec("graft_hnsw_search", args(1))
    val k = lit(2, "k").asInstanceOf[Number].intValue()
    val ef = if (args.length == 4) lit(3, "ef").asInstanceOf[Number].intValue() else 64
    val spark = SparkSession.active
    val model = operators.HnswIndex.load(spark, path)
    operators.HnswIndex.probe(spark, model, "id", query, k, ef)
      .queryExecution.logical
  }

  /** `graft_hnsw_probe(tablePath, queryVec, k[, ef[, name[, predSql]]])`
    * — SQL top-k served from the TABLE-ATTACHED HNSW index
    * ([[graft.sources.GraftHnsw]]), stale-checked at plan time like
    * `graft_index_search`; output is the canonical probe shape (table
    * columns minus the vector, score last). `ef` defaults to 64.
    * `predSql` (a SQL boolean expression over the table's columns)
    * makes it a FILTERED search — served by the measured-selectivity
    * strategy (brute force over a selective subset / filtered walk /
    * post-filter; see GraftHnsw.probeFiltered), so k stays full instead
    * of silently under-filling the way filtering the output would.
    */
  private def hnswProbePlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 3 && args.length <= 6,
      s"graft_hnsw_probe(tablePath, queryVec, k[, ef[, name[, predSql]]]): got ${args.length} args")
    val lit = literals("graft_hnsw_probe", args)
    val path = lit(0, "tablePath").toString
    val query = foldVec("graft_hnsw_probe", args(1))
    val k = lit(2, "k").asInstanceOf[Number].intValue()
    val ef = if (args.length >= 4) lit(3, "ef").asInstanceOf[Number].intValue() else 64
    val name = if (args.length >= 5) lit(4, "name").toString else "hnsw"
    val spark = SparkSession.active
    val pred = if (args.length == 6) Some(parsePred(spark, "graft_hnsw_probe",
      lit(5, "predSql").toString)) else None
    graft.sources.GraftHnsw.probe(spark, path, query, k, ef, name, pred = pred)
      .queryExecution.logical
  }

  val tableFunctions: Seq[(String, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    ("graft_vector_search",
      info("graft_vector_search",
        "graft_vector_search(path, vecCol, queryVec, k[, metric]) - top-k vector search over a parquet table"),
      vectorSearchPlan _),
    ("graft_table",
      info("graft_table",
        "graft_table(path[, version]) - snapshot read of a GraftTable (versioned COW lakehouse table)"),
      tablePlan _),
    ("graft_table_changes",
      info("graft_table_changes",
        "graft_table_changes(path, fromVersion, toVersion) - change feed (adds/updates/deletes with _deleted flag) between two snapshots"),
      changesPlan _),
    ("graft_index_search",
      info("graft_index_search",
        "graft_index_search(tablePath, queryVec, k[, nprobe[, name[, predSql]]]) - top-k served from the table-attached ANN index (stale-checked); predSql makes it a filtered search"),
      indexSearchPlan _),
    ("graft_index_mmr",
      info("graft_index_mmr",
        "graft_index_mmr(tablePath, queryVec, k, lambda, candidates[, nprobe[, name[, predSql]]]) - DIVERSIFIED (MMR) top-k served from the table-attached ANN index: index probe widened to `candidates`, then the greedy lambda*rel - (1-lambda)*max-sim re-rank; lambda=1 = the plain probe"),
      indexMmrPlan _),
    ("graft_hnsw_mmr",
      info("graft_hnsw_mmr",
        "graft_hnsw_mmr(tablePath, queryVec, k, lambda, candidates[, ef[, name[, predSql]]]) - DIVERSIFIED (MMR) top-k served from the table-attached HNSW index"),
      hnswMmrPlan _),
    ("graft_text_search",
      info("graft_text_search",
        "graft_text_search(tablePath, query, k[, mode[, name[, predSql[, maxDist[, q]]]]]) - BM25 (mode any/all), exact-phrase (mode phrase), or one-term fuzzy BM25 (mode fuzzy; maxDist/q knobs, defaults 1/2) top-k served from the table-attached inverted text index (stale-checked); predSql (NULL/'' = none) makes it a filtered query (Lucene filter semantics)"),
      textSearchPlan _),
    ("graft_hybrid_search",
      info("graft_hybrid_search",
        "graft_hybrid_search(tablePath, queryVec, textQuery, k[, n[, nprobe[, predSql]]]) - RRF fusion of the table-attached vector index's top-n and the text index's BM25 top-n (both stale-checked); predSql filters both legs' eligibility before their rank cuts"),
      hybridSearchPlan _),
    ("graft_rerank_search",
      info("graft_rerank_search",
        "graft_rerank_search(tablePath, queryVec, textQuery, k[, n[, nprobe[, predSql]]]) - hybrid fusion's top-n candidates rescored as (query, doc) pairs by the cross-encoder seam (deterministic token-overlap stub; real models drop into the same BatchScorer), top-k on (ce_score, rrf_q)"),
      rerankSearchPlan _),
    ("graft_knn_join",
      info("graft_knn_join",
        "graft_knn_join(tablePath, queryTable, k[, nprobe[, name[, predSql]]]) - batched top-k ANN join: each row of queryTable against the table-attached index (stale-checked); predSql filters the right side by measured match count (selective = exact brute force, loose = pushed into the cell scans)"),
      knnJoinPlan _),
    ("graft_hnsw_search",
      info("graft_hnsw_search",
        "graft_hnsw_search(layoutPath, queryVec, k[, ef]) - approximate top-k from a standalone HNSW segment-graph layout"),
      hnswSearchPlan _),
    ("graft_hnsw_probe",
      info("graft_hnsw_probe",
        "graft_hnsw_probe(tablePath, queryVec, k[, ef[, name[, predSql]]]) - top-k served from the table-attached HNSW index (stale-checked); predSql makes it a filtered search"),
      hnswProbePlan _),
    ("graft_hnsw_knn_join",
      info("graft_hnsw_knn_join",
        "graft_hnsw_knn_join(tablePath, queryTable, k[, ef[, name[, predSql]]]) - batched top-k ANN join through the table-attached HNSW index (stale-checked); predSql filters the join's right side"),
      hnswKnnJoinPlan _),
    ("graft_fuzzy_match",
      info("graft_fuzzy_match",
        "graft_fuzzy_match(corpusTable, textCol, idCol, probe, maxDist[, q]) - every corpus row within maxDist edits of the probe (EXACT, q-gram pruned; refuses probes too short for the pruning bound)"),
      fuzzyMatchPlan _),
    ("graft_fuzzy_names",
      info("graft_fuzzy_names",
        "graft_fuzzy_names(tableA, colA, tableB, colB, maxDist[, q[, dfCap[, bandShard]]]) - EXACT fuzzy join of two corpus-scale string sets: distinct-name pairs within maxDist edits with pair multiplicities (two-sided rarest-gram prefix index, gram-shuffled, never broadcast); past dfCap hot postings it auto-degrades to the length-band shard (bandShard auto/never/always) and refuses only a head that stays hot within one band"),
      fuzzyNamesPlan _))

  /** `graft_fuzzy_match(corpusTable, textCol, idCol, probe, maxDist[, q])`
    * — exact fuzzy (edit-distance) lookup as one SQL call: every row of
    * the SQL-visible corpus table whose `textCol` is within `maxDist`
    * edits of the probe string, through [[graft.operators.FuzzyJoin]]'s
    * q-gram pruned inverted-index plan (the record-linkage primitive's
    * SQL surface; same loud refusal when the probe is too short for
    * the exactness bound). Output: (idCol, textCol, dist).
    */
  private def fuzzyMatchPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 5 && args.length <= 6,
      s"graft_fuzzy_match(corpusTable, textCol, idCol, probe, maxDist[, q]): " +
        s"got ${args.length} args")
    val lit = literals("graft_fuzzy_match", args)
    val corpus = lit(0, "corpusTable").toString
    val textCol = lit(1, "textCol").toString
    val idCol = lit(2, "idCol").toString
    val probe = lit(3, "probe").toString
    val maxDist = lit(4, "maxDist").asInstanceOf[Number].intValue()
    val q = if (args.length == 6) lit(5, "q").asInstanceOf[Number].intValue() else 2
    val spark = SparkSession.active
    import spark.implicits._
    val probes = Seq((0L, probe)).toDF("__pid", "__probe")
    graft.operators.FuzzyJoin.join(spark.table(corpus), textCol, Seq(idCol),
        probes, "__probe", "__pid", maxDist, q)
      .drop("__pid")
      .queryExecution.logical
  }

  /** `graft_fuzzy_names(tableA, colA, tableB, colB, maxDist[, q[, dfCap]])`
    * — the big-big fuzzy join ([[graft.operators.FuzzyJoin.joinNames]])
    * as one SQL call over two SQL-visible tables: every pair of
    * distinct strings (one per side) within `maxDist` edits, with pair
    * multiplicities. `dfCap` is the hot-prefix-posting refusal bound —
    * exposed here so a SQL caller can tighten (or, eyes open, widen)
    * the never-silently-quadratic guard without dropping to the Scala
    * API. Output: (name_a, name_b, dist, n_pairs).
    */
  private def fuzzyNamesPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 5 && args.length <= 8,
      s"graft_fuzzy_names(tableA, colA, tableB, colB, maxDist[, q[, dfCap[, bandShard]]]): " +
        s"got ${args.length} args")
    val lit = literals("graft_fuzzy_names", args)
    val spark = SparkSession.active
    val maxDist = lit(4, "maxDist").asInstanceOf[Number].intValue()
    val q = if (args.length >= 6) lit(5, "q").asInstanceOf[Number].intValue() else 2
    val dfCap = if (args.length >= 7) lit(6, "dfCap").asInstanceOf[Number].intValue()
                else 100000
    val bandShard = if (args.length == 8) lit(7, "bandShard").toString else "auto"
    graft.operators.FuzzyJoin.joinNames(
        spark.table(lit(0, "tableA").toString), lit(1, "colA").toString,
        spark.table(lit(2, "tableB").toString), lit(3, "colB").toString,
        maxDist, q, dfCap, bandShard)
      .queryExecution.logical
  }

  /** Register on a live session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, inf, builder) =>
      registry.registerFunction(FunctionIdentifier(name), inf, builder)
    }
    val tvfRegistry = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (name, inf, builder) =>
      tvfRegistry.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }
}
