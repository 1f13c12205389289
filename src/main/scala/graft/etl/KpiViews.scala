package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The three KPI views (reference: etl_script/04_views.sql).
  *
  * The reference pre-aggregates both facts to the (date_id, campaign_id)
  * grain, FULL OUTER merges them with COALESCE zeros, then rolls the merge
  * up (04_views.sql:17-46). Here each view is one aggregate over the two
  * facts union-all'd at row grain, each side's missing measures typed
  * NULLs that COALESCE turns into the reference's zeros. The union has no
  * join, so there is no fan-out for a pre-aggregate to guard against
  * (SURVEY §7.5-2), and the view's own grouping is its only exchange.
  * `orders` is `count(sale_id)`: sale_id is unique per sales row
  * (StarBuildSpec pins it over a multi-partition CSV) and NULL on spend
  * rows, so it equals the reference's COUNT(DISTINCT sale_id).
  *
  * KPI formulas (04_views.sql:114-142): aov revenue/orders, ctr
  * clicks/impressions, roas revenue/spend, profit_roas (revenue-cost)/spend,
  * roi (revenue-spend)/spend, profit_roi (revenue-cost-spend)/spend — NULL
  * on zero denominator, 4dp (ctr 6dp, spend 2dp).
  *
  * Deviation (documented, SURVEY §0.2-5): mv_channel_daily's reference ctr
  * is Postgres INT/INT division (always 0); we compute the true ratio, as
  * the reference's own kpi views do.
  */
object KpiViews {

  private def nullifZero(c: Column): Column = when(c === 0, lit(null)).otherwise(c)

  // Exact-sum discipline for `spend` (the one money column with true
  // fractional cents — revenue/cost are whole THB, so their double sums are
  // exact at any accumulation order): cast each ROW to decimal(18,6) before
  // summing; decimal addition is exact/order-independent, so the sum — and
  // the DuckDB oracle's — match bitwise regardless of partitioning. See
  // queries/Relational.scala q05 for the original derivation.
  private val dec = "decimal(18,6)"

  /** Both facts at row grain, union-all'd; each side's missing measures
    * are typed NULLs. */
  private def facts(star: Warehouse.Star): DataFrame = {
    def none(t: String): Column = lit(null).cast(t)
    star.factSales.select(col("date_id"), col("campaign_id"), col("sale_id"),
        col("revenue"), col("cost"),
        none("double").as("spend"), none("long").as("clicks"), none("long").as("impressions"))
      .unionByName(star.factSpend.select(col("date_id"), col("campaign_id"),
        none("long").as("sale_id"), none("double").as("revenue"), none("double").as("cost"),
        col("spend"), col("clicks"), col("impressions")))
  }

  /** [[facts]] left-joined to their campaign's `campaignCols`. */
  private def factsByCampaign(star: Warehouse.Star, campaignCols: String*): DataFrame =
    facts(star).join(broadcast(star.dimCampaigns.select("campaign_id", campaignCols: _*)),
      Seq("campaign_id"), "left")

  // the zero-filled sums every view reports
  private val revenue = coalesce(sum("revenue"), lit(0.0))
  private val cost = coalesce(sum("cost"), lit(0.0))
  private val spendDec = coalesce(sum(col("spend").cast(dec)), lit(0).cast(dec))
  private val clicks = coalesce(sum("clicks"), lit(0L))
  private val impressions = coalesce(sum("impressions"), lit(0L))
  private val orders = count("sale_id")
  private val ctr = round(clicks.cast("double") / nullifZero(impressions), 6)

  /** mv_channel_daily (04_views.sql:16-64): date × channel daily rollup. */
  def channelDaily(star: Warehouse.Star): DataFrame =
    factsByCampaign(star, "channel")
      .join(broadcast(star.dimDate.select("date_id", "date")), Seq("date_id"))
      .groupBy("date", "channel")
      .agg(
        revenue.as("revenue"),
        cost.as("cost"),
        round(spendDec, 2).cast("double").as("spend"),
        clicks.as("clicks"),
        impressions.as("impressions"),
        ctr.as("ctr"),
        orders.as("orders"))
      .orderBy("date", "channel")

  /** Partition-incremental refresh of [[channelDaily]] — the 100 TB
    * nightly path. The reference rebuilds every view from scratch each
    * night (README.md:261-264, cron full rerun); at warehouse scale the
    * nightly delta touches one day of a multi-year fact table, so the
    * incremental form recomputes ONLY the rollup rows whose date is in the
    * delta and stitches them onto the untouched history:
    *
    *   out = existing WHERE date < cutoff  ∪  rollup(facts WHERE date ≥ cutoff)
    *
    * Correct because the rollup is date-partitioned: every output row
    * depends only on its own date's facts (all aggregates, including the
    * ctr ratio, are computed within one (date, channel) group). The
    * history side is a pure partition-pruning filter — no join, no
    * recompute, and when `existing` is a date-partitioned parquet table
    * the scan skips history files entirely. Equality with the full
    * recompute is hash-proven through the driver gate
    * (ref_mv_channel_daily_incr shares ref_mv_channel_daily's oracle). */
  def channelDailyIncremental(existing: DataFrame, star: Warehouse.Star,
                              cutoffDateId: Long): DataFrame = {
    val deltaStar = star.copy(
      factSales = star.factSales.filter(col("date_id") >= cutoffDateId),
      factSpend = star.factSpend.filter(col("date_id") >= cutoffDateId))
    existing.filter(col("date") < to_date(timestamp_seconds(lit(cutoffDateId))))
      .unionByName(channelDaily(deltaStar))
      .orderBy("date", "channel")
  }

  private def kpiCols: Seq[Column] = {
    val spend = spendDec.cast("double")
    Seq(
      revenue.as("revenue"),
      cost.as("cost"),
      round(spendDec, 2).cast("double").as("spend"),
      coalesce(sum(col("revenue") - col("cost")), lit(0.0)).as("gross_profit"),
      clicks.as("clicks"),
      impressions.as("impressions"),
      orders.as("orders"),
      round(revenue / nullifZero(orders), 4).as("aov"),
      ctr.as("ctr"),
      round(revenue / nullifZero(spend), 4).as("roas"),
      round((revenue - cost) / nullifZero(spend), 4).as("profit_roas"),
      round((revenue - spend) / nullifZero(spend), 4).as("roi"),
      round((revenue - cost - spend) / nullifZero(spend), 4).as("profit_roi"))
  }

  /** mv_kpi_channel (04_views.sql:70-147). */
  def kpiChannel(star: Warehouse.Star): DataFrame =
    factsByCampaign(star, "channel")
      .groupBy("channel")
      .agg(kpiCols.head, kpiCols.tail: _*)
      .orderBy("channel")

  /** mv_kpi_campaign (04_views.sql:153-232). */
  def kpiCampaign(star: Warehouse.Star): DataFrame =
    factsByCampaign(star, "campaign_name", "channel")
      .groupBy("campaign_id", "campaign_name", "channel")
      .agg(kpiCols.head, kpiCols.tail: _*)
      .orderBy("campaign_id")
}
