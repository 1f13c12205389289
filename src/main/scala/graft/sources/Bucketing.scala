package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed tables: the shuffle-elimination lever for repeated big-big
  * joins (builder rules: "co-locate joins via bucketing").
  *
  * Writing both fact tables bucketed by the join key pre-shuffles them
  * ONCE at write time; every subsequent join on that key reads co-located
  * buckets and skips both exchanges (and with sorted buckets, the sort).
  * At 100 TB this converts the nightly fact-fact join from the dominant
  * shuffle into a local zip of bucket files. Requires `saveAsTable`
  * (bucket metadata lives in the catalog, not the parquet footer).
  */
object Bucketing {

  /** Persist `df` bucketed (and sorted) by `key` into `buckets` buckets. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Join two bucketed tables on their bucket key — planner reads bucket
    * layout from the catalog and emits a join with NO Exchange on either
    * side (asserted by BucketingSpec). */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Oracle-verified bucketed-join round trip (f03): lineitem ⋈ orders
    * on the order key over the bucketed+sorted pair f19 lands once per
    * source generation in [[ArtifactStore.BucketStore]], joined
    * shuffle-free in [[BucketedJoin]]'s no-broadcast child session and
    * aggregated by priority — proving the bucket layout survives the
    * write/read cycle with the same answer as the plain parquet join (the
    * DuckDB oracle joins the raw files). f03 shares f19's landing and
    * writes nothing under `spark.sql.warehouse.dir`; it sums the gross
    * `l_extendedprice` where f19 sums the discounted price.
    *
    * This is the nightly-pipeline shape at 100 TB: pay the bucket shuffle
    * once at ingest, then every downstream join on the key reads
    * co-located sorted buckets — zero exchange, zero sort
    * (BucketingSpec asserts the exchange-free join subplan). */
  def bucketedRevenueByPriority(spark: SparkSession, dir: String): DataFrame =
    BucketedJoin.landedJoin(spark, dir, multiFile = false, col("l_extendedprice"))
}
