package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway graft's custom operator needs: wrap a
  * hand-built [[LogicalPlan]] as a DataFrame. Spark exposes plan
  * construction to extensions (strategies, rules, expressions) but keeps
  * `Dataset.ofRows` package-private, so library code that INTRODUCES a
  * logical node (graft.plans.TopKPerGroup) routes through this shim —
  * the standard pattern public Spark extension libraries use. The only
  * other file outside the `graft` namespace is
  * [[org.apache.spark.GraftListenerBridge]].
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
