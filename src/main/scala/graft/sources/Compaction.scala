package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file COMPACTION round trip (f05): rewrite a table into a target
  * file count via a round-robin repartition, then prove the rewrite
  * lossless by reading it back through the hash gate. The operational
  * fix for the classic lakehouse failure mode — streaming and per-batch
  * ingests leave thousands of KB-sized files whose open/footer overhead
  * dominates scans; nightly compaction rewrites each partition to
  * ~128 MB-sized files (here a fixed count of 4, the local stand-in for
  * `table_bytes / 128MB`). The repartition is a DELIBERATE full
  * shuffle — the write pays it once so every later scan opens a bounded
  * file set, and `CompactionSpec` asserts the exact output file count. */
object Compaction {

  def outDir(spark: SparkSession, dir: String): String =
    StaleOutputs.appDir(spark, "compact", dir)

  def compact(spark: SparkSession, dir: String, files: Int = 4): DataFrame = {
    val out = outDir(spark, dir)
    spark.read.parquet(s"$dir/documents.parquet")
      .repartition(files)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }
}
