package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RUNTIME BLOOM-FILTER JOIN PRUNING (f17) — the fifth rung of the
  * scan-avoidance ladder, and the ROW-level sibling of f15's partition
  * pruning: for `fact JOIN dim WHERE dim.selective`, Catalyst's
  * InjectRuntimeFilter plants a `bloom_filter_might_contain(...)`
  * predicate on the fact's join column, built at runtime from the
  * filtered dim's keys (Spark SQL runtime filters, public since 3.3).
  * Where DPP needs the fact PARTITIONED on the join key, the bloom
  * filter prunes an UNPARTITIONED fact — rows that cannot survive the
  * join die at the scan, before the shuffle. At 100 TB this is the
  * difference between shuffling the whole fact table and shuffling the
  * ~4% that joins a one-nation supplier slice.
  *
  * The demo runs in an ISOLATED child session (`GraftSession.child` —
  * shared context, cloned SQL conf) with broadcast disabled (a broadcast join
  * needs no runtime filter — the filter targets shuffle joins) and the
  * application-side size threshold lowered so the test-scale fact
  * qualifies; at production scale the DEFAULT thresholds (10 GB scan)
  * trigger the same plan automatically. Correctness never depends on
  * the bloom (false positives just survive to the real join), which is
  * why the oracle is the plain join — the f15 stance. PlanSpec pins
  * `might_contain` + `bloom_filter_agg` in the executed plan (after an
  * action — runtime filters plan at execution) and RuntimeBloomSpec
  * proves the join's input-rows metric DROPS under the filter vs the
  * bloom-free plan.
  *
  * The aggregate sums quantities in DECIMAL(18,6) per row before the
  * 2dp round (the cross-engine sum discipline). */
object RuntimeBloom {

  /** The fact⋈selective-dim aggregate, shaped for whatever session's
    * optimizer settings are in force. */
  def query(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(s, dir)
      .select("l_suppkey", "l_quantity")
    val sup = graft.Tables.supplier(s, dir)
      .filter(col("s_nationkey") === 3)
      .select(col("s_suppkey"))
    li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("line_count"),
        round(sum(col("l_quantity").cast("decimal(18,6)")), 2)
          .cast("double").as("qty_sum"))
      .orderBy("s_suppkey")
  }

  /** Child session with the runtime-filter posture: shuffle join (no
    * broadcast), bloom injection thresholds sized for the test corpus. */
  def bloomSession(spark: SparkSession): SparkSession =
    graft.GraftSession.child(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1")

  def bloomPrunedAgg(spark: SparkSession, dir: String): DataFrame =
    query(bloomSession(spark), dir)
}
