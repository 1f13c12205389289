package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL (newline-delimited JSON) corpus source/sink — the interchange
  * format LLM training-data pipelines actually exchange (one document per
  * line, splittable, streamable).
  *
  * 100 TB decisions:
  *  - The documents are written `partitionBy(lang)`: language is the
  *    universal first filter of a corpus pipeline, and a `lang = 'xx'`
  *    read prunes to the matching directories (PartitionFilters —
  *    spec-asserted) instead of scanning the corpus.
  *  - Reads ALWAYS declare the schema. Spark's JSON schema inference runs
  *    a full extra pass over the data before the real job — at corpus
  *    scale that doubles the read; with a declared schema the scan is
  *    single-pass and malformed lines surface as nulls under the default
  *    PERMISSIVE mode rather than failing the job.
  *  - gzip per-file compression is intentionally NOT the default: gzip'd
  *    JSONL is unsplittable (one task per file); at scale prefer many
  *    moderate files (maxRecordsPerFile) over few compressed ones, or use
  *    a splittable codec at the storage layer.
  */
object JsonlCorpus {

  /** documents table schema, declared (never inferred — see above). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Write a documents DataFrame as lang-partitioned JSONL. */
  def write(docs: DataFrame, path: String): Unit =
    docs.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("lang")
      .json(path)

  /** Read a lang-partitioned JSONL corpus with the declared schema
    * (`lang` resolves from the partition directories). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(documentsSchema)
      .json(path)
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** Driver-contract round trip: documents → JSONL → read back, projected
    * to a hash-comparable form (md5(text) proves byte-level text fidelity
    * through JSON escaping without shipping the text itself). */
  def roundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = StaleOutputs.appDir(spark, "jsonl", dir)
    write(graft.Tables.documents(spark, dir), out)
    read(spark, out)
      .select(col("doc_id"), md5(col("text")).as("fp"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }
}
