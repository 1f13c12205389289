package graft.sources

import graft.etl.{Pipeline, Warehouse}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse persistence (reference: the Postgres table sinks S2/S5,
  * SURVEY §2.1) re-expressed as partitioned Parquet — the lakehouse form.
  *
  * Layout decisions for 100 TB:
  *  - Facts are partitioned by calendar date (derived `dt` column): any
  *    date-ranged query prunes to the matching partitions (visible as
  *    PartitionFilters in the scan — tested by WarehouseSinkSpec).
  *    [[write]] overwrites each table whole.
  *  - Dimensions are single unpartitioned tables (dimension-sized by
  *    definition; partitioning them would just make small files).
  *  - `maxRecordsPerFile` caps file size so a skewed load day cannot
  *    produce an unsplittable giant file.
  */
object WarehouseSink {

  /** Write the star schema under `outDir` (one subdir per table). */
  def write(star: Warehouse.Star, outDir: String): Unit = {
    star.dimDate.write.mode(SaveMode.Overwrite).parquet(s"$outDir/dim_date")
    star.dimCustomers.write.mode(SaveMode.Overwrite).parquet(s"$outDir/dim_customers")
    star.dimProducts.write.mode(SaveMode.Overwrite).parquet(s"$outDir/dim_products")
    star.dimCampaigns.write.mode(SaveMode.Overwrite).parquet(s"$outDir/dim_campaigns")
    star.factSales
      .withColumn("dt", to_date(from_unixtime(col("date_id"))))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("dt")
      .parquet(s"$outDir/fact_sales")
    star.factSpend
      .withColumn("dt", to_date(from_unixtime(col("date_id"))))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("dt")
      .parquet(s"$outDir/fact_spend")
  }

  /** Read a previously-written warehouse back as a Star. */
  def read(spark: SparkSession, outDir: String): Warehouse.Star = {
    def t(name: String): DataFrame = spark.read.parquet(s"$outDir/$name")
    Warehouse.Star(
      dimDate = t("dim_date"),
      dimCustomers = t("dim_customers"),
      dimProducts = t("dim_products"),
      dimCampaigns = t("dim_campaigns"),
      factSales = t("fact_sales").drop("dt"),
      factSpend = t("fact_spend").drop("dt"))
  }

  /** Driver-contract round trip (the S2 analog of JsonlCorpus.roundTrip):
    * build the star from the reference's raw CSVs, write it through the
    * partitioned parquet sink, read it back, and project a deterministic
    * form — the partitioned fact re-joined to a round-tripped dimension.
    * The DuckDB oracle rebuilds the same rows independently from the raw
    * CSVs, so a hash match proves the sink+source preserve every value
    * through the partition-encode/decode (`dt` derive → directory key →
    * drop). Surrogate sale_id is excluded: monotonically_increasing_id is
    * partition-order-dependent by design (SURVEY §0.2-6) — every
    * deterministic column round-trips.
    *
    * sfDir is ignored, like every ref_* surface; the registered entry
    * passes the session's [[Pipeline.rawDir]]. */
  def roundTrip(spark: SparkSession,
                rawDir: String = Pipeline.DefaultRawDir): DataFrame = {
    val out = StaleOutputs.appDir(spark, "warehouse", rawDir)
    write(Pipeline.build(spark, rawDir), out)
    val star = read(spark, out)
    star.factSales
      .join(broadcast(star.dimProducts.select("product_id", "item_name", "category")),
        Seq("product_id"), "left")
      .select("date_id", "customer_id", "product_id", "campaign_id",
        "quantity", "revenue", "cost", "item_name", "category")
      .orderBy("date_id", "customer_id", "product_id", "campaign_id",
        "quantity", "revenue", "cost")
  }

  /** Date-pruned fact scan: the query a partitioned layout exists for. */
  def salesForDateRange(spark: SparkSession, outDir: String,
                        from: String, to: String): DataFrame =
    spark.read.parquet(s"$outDir/fact_sales")
      .filter(col("dt").between(from, to))
}
