package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic SHUFFLE-AND-SHARD export (f08) — the step that turns a
  * cleaned corpus into training input: a seeded, reproducible global
  * permutation of the documents written as N exactly-balanced shards with
  * a manifest. Training runs need (a) a shuffle so batches aren't
  * document-ordered, (b) bit-reproducibility across reruns of the same
  * seed (restarts, ablations), and (c) balanced shards so data-parallel
  * readers finish together.
  *
  * The permutation is `md5(seed || ':' || doc_id)` — pseudo-random,
  * seeded, engine-portable, and independent of physical layout. The
  * permutation RANK is computed without a global sort: the first two hex
  * chars of the key bucket rows into 256 ordered groups; per-bucket
  * counts prefix-sum into bucket bases (a 256-row window — the same
  * aggregated-spine trick as sequence packing), and a per-bucket
  * row_number (partitioned window, bounded by corpus/256) completes the
  * global rank. Shard = (rank − 1) mod N: exact ±1 balance, not just
  * statistical. At 100 TB this is one uniform hash exchange on the bucket
  * plus a per-bucket sort — the corpus never passes through a single
  * partition.
  *
  * The export physically writes `partitionBy(shard)` parquet (f01/f05's
  * write machinery) and the manifest is computed from the READ-BACK files
  * — what lands on disk, not what was about to be written. Each manifest
  * row fingerprints its shard's rank-ordered id list, so "same seed ⇒
  * identical shards" is checkable by comparing two manifests. */
object ShardExport {

  /** Rank every doc by the seeded permutation and assign balanced shards. */
  def assignShards(docs: DataFrame, seed: String, nShards: Int): DataFrame = {
    val seeded = docs
      .withColumn("rk", md5(concat(lit(seed), lit(":"), col("doc_id").cast("string"))))
      .withColumn("bucket", substring(col("rk"), 1, 2))
    val bucketBase = seeded.groupBy("bucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("bbase",
        coalesce(sum(col("bn")).over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
    seeded.join(bucketBase.select("bucket", "bbase"), Seq("bucket"))
      .withColumn("rank",
        col("bbase") + row_number().over(
          Window.partitionBy("bucket").orderBy("rk", "doc_id")))
      .withColumn("shard", ((col("rank") - 1) % nShards).cast("long"))
      .drop("rk", "bucket", "bbase")
  }

  def outDir(spark: SparkSession, dir: String): String =
    StaleOutputs.appDir(spark, "shards", dir)

  /** Write the sharded corpus and return the manifest read back from it:
    * per shard, doc count, char mass, and the md5 of the rank-ordered id
    * list (the reproducibility fingerprint). */
  def shardExport(spark: SparkSession, dir: String,
                  seed: String = "42", nShards: Int = 8): DataFrame = {
    val out = outDir(spark, dir)
    assignShards(
      graft.Tables.documents(spark, dir).select("doc_id", "lang", "n_chars"),
      seed, nShards)
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    manifestOf(spark.read.parquet(out))
  }

  /** Manifest over a sharded frame (written or about-to-write). */
  def manifestOf(sharded: DataFrame): DataFrame =
    sharded
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("n_chars"),
        md5(concat_ws(",",
          expr("transform(array_sort(collect_list(struct(rank, doc_id))), s -> cast(s.doc_id as string))")))
          .as("ids_fp"))
      .orderBy("shard")
}
