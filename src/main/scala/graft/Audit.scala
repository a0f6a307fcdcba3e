package graft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
object Audit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    // SPARK_GRAFT_AUDIT_ONLY=q1,q2 audits just those queries — the fast
    // loop when iterating on one operator's plan
    val only = sys.env.get("SPARK_GRAFT_AUDIT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        df.queryExecution.toRdd.count() // executes THIS QueryExecution, finalizing its AQE plan
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p => p.toString
        }
        val codegenSpans = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
        val bcast = "BroadcastHashJoin|BroadcastNestedLoop".r.findAllIn(plan).size
        val smj = "SortMergeJoin".r.findAllIn(plan).size
        val ex = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
        val topk = if (plan.contains("TakeOrderedAndProject")) " TOP-K" else ""
        // red flags: unblocked pairwise plans must never appear.
        // vs_knn_join is a deliberate BNLJ: exact batched knn = tiny
        // broadcast query set × single scan of the big side (the
        // broadcast side is the ~10-row query set, never the table);
        // its ANN twin vs_knn_join_ivf is the partition-pruned path.
        // q22's BNLJ broadcasts a ONE-ROW aggregate (avg-balance
        // threshold) against customer — a keyless 1×N "loop" is a
        // map-side scalar compare, the same shape a scalar subquery
        // executes as; there is no key to hash-join on.
        // q_sample_temperature and q_balance_deciles broadcast the same
        // one-row shape (corpus-wide normalizer / percentile boundaries);
        // q_events_funnel cross-joins three ONE-ROW stage aggregates;
        // q11_important_stock broadcasts its ONE-ROW grand total (the
        // Q11 scalar-subquery threshold).
        // q_segment_overlap_sketch/_sql: non-equi (a < b) self-join of a
        // 5-ROW aggregated sketch frame — the pair matrix of segments,
        // inherently tiny (segments², never corpus), broadcast BNLJ is
        // the right plan.
        // q_events_gapfill / _ffill cross-join distinct event types
        // (~5 rows) with the exploded day spine of ONE aggregate row —
        // the dimension-sized date spine, never a fact-sized side.
        // mm_clip_maxsim broadcasts the query's frames (doc 0, frame_idx
        // < 8: at most 8 rows) against every doc frame — MaxSim's
        // query × candidate dot matrix. q_hard_negatives is the
        // vs_knn_join shape: the vec_id < 10 query set broadcast under a
        // label-inequality condition. vs_sql_knn_tvf_filtered is
        // GraftIndex.knnJoin's exact brute leg: it broadcasts the
        // predicate's match set, which that leg only serves when the
        // measured match count is <= bruteForceCap, against the query
        // batch's local rows.
        val expectedBnlj =
          Set("vs_knn_join", "q22_idle_rich_customers", "q_sample_temperature",
            "q_balance_deciles", "q_events_funnel", "q11_important_stock",
            "q_segment_overlap_sketch", "q_segment_overlap_sql", "q_events_gapfill",
            "q_events_gapfill_ffill", "mm_clip_maxsim", "q_hard_negatives",
            "vs_sql_knn_tvf_filtered")
        val danger =
          (if (plan.contains("BroadcastNestedLoopJoin") && !expectedBnlj(name)) " !!BNLJ" else "") +
          (if (plan.contains("CartesianProduct")) " !!CARTESIAN" else "")
        println(s"[audit] $name: codegen=$codegenSpans bcast=$bcast smj=$smj shuffles=$ex$topk$danger")
      } catch { case e: Throwable => println(s"[audit] $name: ERROR ${e.toString.take(120)}") }
    }
    spark.stop()
  }
}
