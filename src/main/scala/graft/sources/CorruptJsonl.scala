package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CORRUPT-RECORD JSONL INGEST (f16) — the PERMISSIVE-mode channel f01's
  * clean round trip doesn't exercise: real crawl/vendor JSONL feeds carry
  * malformed lines (truncated uploads, encoding accidents), and the
  * production posture is NEVER fail-the-job and NEVER silently drop —
  * parse what parses, route what doesn't into `_corrupt_record` with the
  * raw line preserved for replay (the dead-letter idea of w15 at the
  * PARSER layer). At 100 TB a 10⁻⁶ corruption rate is still thousands of
  * lines a day; the three-mode story (PERMISSIVE routes, DROPMALFORMED
  * drops, FAILFAST aborts) is spec-pinned so the choice stays explicit.
  *
  * The feed corrupts DETERMINISTICALLY (doc_id % 7 == 3 loses its last 5
  * bytes — the closing digits+brace, guaranteed-invalid JSON), so the
  * ingest report is oracle-verifiable: parsed-field aggregates over the
  * ok channel recompute from the source table, and the corrupt channel
  * must hold exactly the rule's rows. Parsed-field stats aggregate ONLY
  * the ok channel on BOTH engines — PERMISSIVE's treatment of partially
  * parseable prefixes is parser-internal and deliberately not part of
  * the verified contract (only the routing is).
  *
  * Scale shape: one narrow write pass (to_json + conditional truncate),
  * one declared-schema single-pass read (f01's no-inference stance) —
  * the corrupt column rides the same scan, zero extra passes. */
object CorruptJsonl {

  val schemaWithCorrupt: StructType =
    JsonlCorpus.documentsSchema.add(StructField("_corrupt_record", StringType))

  /** Land the deterministically-corrupted JSONL feed; returns its path. */
  def writeFeed(spark: SparkSession, dir: String): String = {
    val out = StaleOutputs.appDir(spark, "corrupt_jsonl", dir)
    val line = to_json(struct(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars")))
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), line.as("j"))
      .select(when(col("doc_id") % 7 === 3,
          expr("substring(j, 1, length(j) - 5)"))
        .otherwise(col("j")).as("value"))
      .write.mode("overwrite").text(out)
    out
  }

  /** PERMISSIVE read of a corrupted feed with the corrupt-record channel
    * declared in the schema (required — Spark only populates the corrupt
    * column when it is part of the declared schema). */
  def permissiveRead(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(schemaWithCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Driver surface (f16): land the feed, ingest PERMISSIVE, report per
    * outcome — parsed-field aggregates over the ok channel only. The
    * parsed frame materializes eagerly (GC-scoped localCheckpoint, the
    * house discipline): Spark DISALLOWS queries that prune a raw JSON
    * scan down to the corrupt column alone
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — and any consumer that only
    * needs `outcome` does exactly that — so the parse lands once and
    * every downstream audit reads the landed rows, which is the
    * production posture anyway. */
  def ingestReport(spark: SparkSession, dir: String): DataFrame = {
    val feed = writeFeed(spark, dir)
    permissiveRead(spark, feed)
      .localCheckpoint()
      .withColumn("outcome",
        when(col("_corrupt_record").isNotNull, lit("corrupt"))
          .otherwise(lit("ok")))
      .groupBy("outcome")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("outcome") === "ok", col("n_chars"))).as("n_chars_sum"),
        min(when(col("outcome") === "ok", col("doc_id"))).as("min_doc"),
        max(when(col("outcome") === "ok", col("doc_id"))).as("max_doc"))
      .orderBy("outcome")
  }
}
