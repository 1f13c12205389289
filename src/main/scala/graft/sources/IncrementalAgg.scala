package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL AGGREGATE MAINTENANCE (f14) — the generic
  * materialized-view refresh primitive over the sf-parameterized events
  * table (`ref_mv_channel_daily_incr` proves the same shape on the
  * reference's fixed CSVs; this is the engine-side form a 100 TB nightly
  * pipeline runs):
  *
  *   1. HISTORY: the daily (event_type, day) aggregate over everything
  *      before the cutoff is materialized ONCE to day-partitioned
  *      parquet — the view's stored version.
  *   2. DELTA: only the days at/after the cutoff aggregate fresh —
  *      O(delta), the history is never rescanned.
  *   3. MERGE: stored version ∪ delta re-aggregates per key. Counts add
  *      and DECIMAL sums add exactly (both associative), so the merged
  *      view is BIT-IDENTICAL to a full recompute — which is exactly
  *      what the DuckDB oracle computes.
  *
  * The stored version keeps UNROUNDED decimal sums (rounding is a
  * final-projection concern; rounding before the merge would destroy
  * associativity — the repo-wide exact-sum discipline). Day partitioning
  * means a late-arriving correction rewrites one partition via f11's
  * dynamic-overwrite primitive; the merge here only ever APPENDS new
  * days, the cheapest refresh of all. Cutoff = max day − 7 (derived on
  * the days-sized grid, broadcast — no driver round trip). */
object IncrementalAgg {

  private val DayUs = 86400000000L

  private def daily(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), expr(s"ts_us div $DayUs").as("day"))
      .agg(
        count(lit(1)).as("events"),
        sum(col("value").cast("decimal(18,6)")).as("value_sum"))

  /** Materialize history, aggregate the delta, merge, and return the
    * refreshed view in the driver-contract projection. */
  def refreshedDailyView(spark: SparkSession, dir: String): DataFrame = {
    val base = StaleOutputs.appDir(spark, "incragg", dir)
    val ev = graft.Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("ts_us"), col("value"))
    val cutoff = ev.select(expr(s"ts_us div $DayUs").as("day"))
      .agg((max("day") - 7).as("cut"))
    val keyed = ev.withColumn("day", expr(s"ts_us div $DayUs"))
      .crossJoin(broadcast(cutoff))
    daily(keyed.filter(col("day") < col("cut")))
      .write.partitionBy("day").mode("overwrite").parquet(s"$base/v1")
    // partition-column inference reads `day` back as int — re-widen so
    // the union's schema matches the delta's
    val stored = spark.read.parquet(s"$base/v1")
      .withColumn("day", col("day").cast("long"))
    val delta = daily(keyed.filter(col("day") >= col("cut")))
    stored.unionByName(delta)
      .groupBy("event_type", "day")
      .agg(sum("events").as("events"), sum("value_sum").as("value_sum"))
      .select(col("event_type"), col("day"),
        col("events"),
        round(col("value_sum"), 4).cast("double").as("total_value"))
      .orderBy("event_type", "day")
  }
}
