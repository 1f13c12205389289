package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORC round trip (f07): the second columnar format Spark ships natively.
  * A lakehouse migrating between parquet and ORC (or federating tables
  * from both) needs the write→read cycle proven lossless; the oracle
  * reads the ORIGINAL parquet, so a hash match shows the ORC layout is
  * invisible to results — including string, long, and null handling.
  * Text round-trips as its md5 (the hash gate compares fingerprints, not
  * megabytes of prose). */
object OrcRoundTrip {

  def roundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = StaleOutputs.appDir(spark, "orc", dir)
    graft.Tables.documents(spark, dir)
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .select(col("doc_id"), md5(col("text")).as("fp"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }
}
