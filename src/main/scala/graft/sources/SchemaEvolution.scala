package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema EVOLUTION round trip (f04): a table whose writer gained a
  * column mid-stream — generation 1 files carry (o_orderkey,
  * o_totalprice), generation 2 adds o_orderpriority — read back as ONE
  * table via parquet schema merging, old rows null-filled in the new
  * column. This is the additive-evolution contract every long-lived
  * ingest pipeline needs (new fields appear; history stays readable).
  *
  * Scale note: `mergeSchema` reconciles schemas by reading EVERY file's
  * footer — fine per-partition, wrong as a steady-state plan at 100 TB
  * (millions of footers). Production pins the superset schema in a
  * catalog and passes it explicitly (`spark.read.schema(...)`), which
  * skips the footer sweep; the merged result is identical, which is
  * exactly what this surface verifies. */
object SchemaEvolution {

  def roundTrip(spark: SparkSession, dir: String): DataFrame = {
    val base = StaleOutputs.appDir(spark, "schema_evo", dir)
    val o = spark.read.parquet(s"$dir/orders.parquet")
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$base/gen=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$base/gen=2")
    spark.read.option("mergeSchema", "true").parquet(base)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }
}
