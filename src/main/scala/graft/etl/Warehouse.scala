package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** staging → star-schema transform (reference: etl_script/03_transform.sql).
  *
  * Stances taken on reference quirks (SURVEY §0.2):
  *  - surrogate ids are deterministic `row_number() OVER (ORDER BY natural
  *    key)` instead of insert-order SERIAL (§0.2-6); every join stays on
  *    natural keys so ids never affect query results. Dim windows are tiny
  *    (19/48/365 rows) — the single-partition window is fine at any scale
  *    because dims are dimension-sized by definition.
  *  - `sale_id`/`spend_id` only need uniqueness (orders = COUNT(DISTINCT
  *    sale_id)); they use monotonically_increasing_id() — distributed, no
  *    global sort, correct at 100 TB.
  *  - channel = trim(regexp_extract(name, '^[^0-9]+')) — the reference's
  *    REGEXP_SUBSTR keeps a trailing space (§0.2-4); we trim.
  */
object Warehouse {

  /** All six warehouse tables (landed once per run by `Pipeline.build`). */
  final case class Star(
      dimDate: DataFrame, dimCustomers: DataFrame, dimProducts: DataFrame,
      dimCampaigns: DataFrame, factSales: DataFrame, factSpend: DataFrame) {
    def registerTempViews(): Unit = {
      dimDate.createOrReplaceTempView("dim_date")
      dimCustomers.createOrReplaceTempView("dim_customers")
      dimProducts.createOrReplaceTempView("dim_products")
      dimCampaigns.createOrReplaceTempView("dim_campaigns")
      factSales.createOrReplaceTempView("fact_sales")
      factSpend.createOrReplaceTempView("fact_spend")
    }
  }

  /** Raw dates are unpadded US-format ("11/1/2024"): Postgres to_date
    * 'MM/DD/YYYY' parses them leniently, Spark's strict parser needs the
    * single-letter pattern (accepts 1-or-2-digit fields). */
  private val DateFmt = "M/d/yyyy"
  private val txDate = to_date(col("Transaction Date"), DateFmt)

  /** 03_transform.sql:5-14 — epoch-seconds date_id, calendar parts, ISO
    * week (Postgres EXTRACT(WEEK) and Spark weekofyear are both ISO-8601).
    * `season` exists in the DDL but is never populated (SURVEY §1.3). */
  def dimDate(tx: DataFrame): DataFrame =
    tx.select(txDate.as("date")).distinct()
      .select(
        col("date").cast("timestamp").cast("long").as("date_id"),
        col("date"),
        dayofmonth(col("date")).as("day"),
        weekofyear(col("date")).as("week"),
        month(col("date")).as("month"),
        year(col("date")).as("year"),
        lit(null).cast(StringType).as("season"))

  /** 03_transform.sql:18-22 — natural key customer_id, DISTINCT dedup. */
  def dimCustomers(tx: DataFrame): DataFrame =
    tx.select(
        col("Customer ID").as("customer_id"),
        col("Age").as("age"),
        col("Gender").as("gender"),
        col("Location").as("location"),
        col("Subscription Status").as("subscription_status"))
      .distinct()
      .withColumn("frequency_band", lit(null).cast(StringType))

  /** 03_transform.sql:25-28 — unit prices ROUND(SUM(amount)/SUM(qty), 0);
    * deterministic product_id over the natural key (§0.2-6). */
  def dimProducts(tx: DataFrame): DataFrame = {
    val agg = tx.groupBy(
        col("Item Purchased").as("item_name"), col("Category").as("category"))
      .agg(
        round(sum("Purchase Amount (THB)") / sum("Quantity"), 0).as("base_price"),
        round(sum("Cost Price (THB)") / sum("Quantity"), 0).as("cost_price"))
    agg.withColumn("product_id",
        row_number().over(Window.orderBy("item_name", "category")))
      .select("product_id", "item_name", "category", "base_price", "cost_price")
  }

  /** 03_transform.sql:31-34 — channel from campaign name; ORDER BY
    * campaign_name id assignment, made explicit with row_number. */
  def dimCampaigns(tx: DataFrame): DataFrame =
    tx.select(col("Campaign Name").as("campaign_name")).distinct()
      .withColumn("channel", trim(regexp_extract(col("campaign_name"), "^[^0-9]+", 0)))
      .withColumn("campaign_id", row_number().over(Window.orderBy("campaign_name")))
      .select("campaign_id", "campaign_name", "channel")

  /** 03_transform.sql:37-52 — triple LEFT JOIN to resolve FKs. Dims are
    * broadcast (19–2,450 rows): the fact scan streams through three
    * broadcast-hash joins with zero shuffle at any fact size. */
  def factSales(tx: DataFrame, dimDate: DataFrame, dimProducts: DataFrame,
                dimCampaigns: DataFrame): DataFrame =
    tx.join(broadcast(dimDate.select("date_id", "date")),
        txDate === col("date"), "left")
      .join(broadcast(dimProducts.select("product_id", "item_name")),
        col("Item Purchased") === col("item_name"), "left")
      .join(broadcast(dimCampaigns.select("campaign_id", "campaign_name")),
        col("Campaign Name") === col("campaign_name"), "left")
      .select(
        monotonically_increasing_id().as("sale_id"),
        col("date_id"),
        col("Customer ID").as("customer_id"),
        col("product_id"),
        col("campaign_id"),
        col("Quantity").as("quantity"),
        col("Purchase Amount (THB)").as("revenue"),
        col("Cost Price (THB)").as("cost"),
        col("Shipping Type").as("shipping_type"),
        col("Payment Method").as("payment_method"),
        col("Previous Purchases").as("prev_purchases"))

  /** 03_transform.sql:55-65. */
  def factSpend(spend: DataFrame, dimDate: DataFrame,
                dimCampaigns: DataFrame): DataFrame =
    spend.join(
        // rename: the raw "Date" column and dim "date" collide under
        // Spark's case-insensitive resolution
        broadcast(dimDate.select(col("date_id"), col("date").as("dim_d"))),
        to_date(col("Date"), DateFmt) === col("dim_d"), "left")
      .join(broadcast(dimCampaigns.select("campaign_id", "campaign_name")),
        col("Campaign Name") === col("campaign_name"), "left")
      .select(
        monotonically_increasing_id().as("spend_id"),
        col("date_id"),
        col("campaign_id"),
        col("Spending").as("spend"),
        col("Impressions").as("impressions"),
        col("Clicks").as("clicks"),
        col("Observed CTR").as("observed_ctr"))

  /** Optional enrichments (documented extensions, SURVEY §0.2-2/3 — the
    * reference configures these sources but never wires them). */
  object Enrichment {

    /** dim_promotions from promotion_reference.csv (legacy schema.sql:26-29
      * declares it; canonical pipeline loads the CSV and drops it).
      * Duplicate promo codes dedup DETERMINISTICALLY (min discount_pct) —
      * `dropDuplicates` keeps an arbitrary surviving row, which would make
      * engine output nondeterministic (and diverge from the no-dedup
      * DuckDB oracle) if the CSV ever carried a duplicated code. */
    def dimPromotions(promo: DataFrame): DataFrame =
      promo.select(
        col("promo_code"),
        col("discount_pct"))
        .na.fill("", Seq("promo_code"))
        .groupBy("promo_code")
        .agg(min(col("discount_pct")).as("discount_pct"))

    /** dim_campaigns enriched with promo_code + run dates by joining
      * campaigns_details on the natural key (campaign_name). Derived
      * channel is kept and checked against the file's channel column. */
    def enrichCampaigns(dimCampaigns: DataFrame, details: DataFrame): DataFrame =
      dimCampaigns.join(
        broadcast(details.select(
          col("campaign_name"),
          col("channel").as("declared_channel"),
          col("promo_code"), col("start_date"), col("end_date"))),
        Seq("campaign_name"), "left")

    /** Legacy season bucketing (etil_pipeline.sql:108-112, F9): Mar–May
      * Summer, Jun–Sep Rainy, else Cool — the canonical pipeline leaves
      * dim_date.season NULL; this fills it for the legacy-variant user. */
    def withSeason(dimDate: DataFrame): DataFrame =
      dimDate.withColumn("season",
        when(month(col("date")).between(3, 5), "Summer")
          .when(month(col("date")).between(6, 9), "Rainy")
          .otherwise("Cool"))
  }
}
