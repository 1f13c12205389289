package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DYNAMIC PARTITION OVERWRITE (f11) — the nightly-reprocess primitive for
  * partitioned tables: rewrite ONLY the partitions present in the incoming
  * batch, leave every other partition's files untouched
  * (`spark.sql.sources.partitionOverwriteMode=dynamic` — static mode, the
  * default, would truncate the whole table first). This is how a 100 TB
  * `partitionBy(dt)` fact re-lands one corrected day: the job writes that
  * day's rows in overwrite mode and the other 364 partitions are never
  * listed, read, or touched. The demo table partitions the corpus by
  * `lang` and re-lands the 'en' partition with revised text; the
  * whole-table read-back proves revised-in-place ∧ others-byte-identical
  * (the spec additionally pins the untouched partitions' FILES). */
object PartitionOverwrite {

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select("doc_id", "n_chars", "text", "lang")

  /** Step 1: land the full lang-partitioned table. Returns its path. */
  def writeBase(spark: SparkSession, dir: String): String = {
    val base = StaleOutputs.appDir(spark, "partover", dir)
    corpus(spark, dir).write.partitionBy("lang")
      .mode("overwrite").parquet(s"$base/table")
    s"$base/table"
  }

  /** Step 2: re-land ONLY the 'en' partition with revised text under
    * dynamic partition-overwrite mode (the session default is restored
    * afterwards). */
  def reviseEn(spark: SparkSession, dir: String, table: String): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      corpus(spark, dir).filter(col("lang") === "en")
        .withColumn("text", concat(col("text"), lit(" r2")))
        .write.partitionBy("lang").mode("overwrite").parquet(table)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** Build the lang-partitioned table, then dynamically overwrite the
    * 'en' partition with revised text. Returns the table path. */
  def buildAndRevise(spark: SparkSession, dir: String): String = {
    val table = writeBase(spark, dir)
    reviseEn(spark, dir, table)
    table
  }

  /** Driver surface (f11): the whole table read back after the partial
    * re-land — 'en' rows carry the revision, every other partition is
    * bit-identical to the original write. */
  def overwriteQuery(spark: SparkSession, dir: String): DataFrame = {
    val table = buildAndRevise(spark, dir)
    spark.read.parquet(table)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("fp"))
      .orderBy("doc_id")
  }
}
