package graft

import org.apache.spark.sql.functions._

/** Corpus-derived join sides carry no broadcast hint: Spark's size rule
  * and AQE's runtime statistics choose the broadcast (q_dedup_keep,
  * q_dedup_keep_quality, q_golden_record).
  */
class HintsSpec extends SparkSpec {

  test("real q_dedup_keep drop list: unhinted is fine — AQE broadcasts at runtime") {
    // The drop list is downstream of connected components (iterative
    // localCheckpoints + aggregates), so its size ESTIMATE is unknown
    // or inflated and the planner does not broadcast it. At test scale
    // the executed anti-join still ends up a broadcast join, because
    // AQE converts it from runtime shuffle statistics.
    val dir = "/root/testdata/sf0.001"
    val d = graft.core.Tables.load(spark, dir, "documents")
    val pairs = graft.operators.Dedup.minhashPairs(
      graft.operators.TextAnalysis.gramArrays(d, "doc_id", "text", 5),
      "doc_id", 3, 5)
    val drop = graft.operators.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .where(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    val kept = d.join(drop, Seq("doc_id"), "left_anti")
    kept.collect() // materialize so AQE finalizes the physical plan
    // Descend through AQE's leaf wrappers (AdaptiveSparkPlanExec holds
    // its final plan out-of-tree; QueryStageExec is a LeafExecNode
    // whose materialized subtree hangs off `plan`) — a plain exists()
    // stops at both boundaries.
    def findBhj(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findBhj(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findBhj(q.plan)
      case other => other.children.exists(findBhj)
    }
    assert(findBhj(kept.queryExecution.executedPlan),
      "test-scale anti-join should broadcast the drop list at runtime via AQE")
  }
}
