package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FILE-STATS DATA SKIPPING (f13) — manifest-level pruning, the third
  * rung of the scan-avoidance ladder this package builds: f06 (z-order)
  * skips ROW GROUPS via parquet footer stats, f09 (time travel) resolves
  * WHICH files compose a version, and f13 skips WHOLE FILES from the
  * plan using per-file min/max column stats kept in a manifest — the
  * planner never opens (or even stats) a pruned file. This is the
  * Iceberg/Delta data-skipping core: at 100 TB a manifest of ~10⁵ file
  * entries (kilobytes per column) prunes petabyte scans down to the few
  * files whose [min,max] interval intersects the predicate, and the
  * pruning cost is a metadata read that does not touch the data plane.
  *
  * The stats manifest is computed from the written files themselves
  * (group rows by `input_file_name()`), so it is correct by construction
  * for any layout; it only PAYS when the layout clusters the stat column
  * (range partitioning here — each file covers a narrow interval, so a
  * point/range predicate intersects few files). DataSkippingSpec proves
  * the scan's `numFiles` metric drops under the pruned plan while the
  * answer stays identical to the unpruned read. */
object DataSkipping {

  /** Write `df` as `files` range-partitioned files on `layoutCol` plus a
    * stats manifest carrying per-file (min, max) for each of `statCols`. */
  def writeWithStats(df: DataFrame, layoutCol: String, statCols: Seq[String],
                     out: String, files: Int): Unit = {
    df.repartitionByRange(files, col(layoutCol))
      .sortWithinPartitions(layoutCol)
      .write.mode("overwrite").parquet(s"$out/data")
    val spark = df.sparkSession
    val aggs = statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(s"$out/data")
      .groupBy(input_file_name().as("path"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/manifest")
  }

  /** Read `out` under the interval predicate lo ≤ `c` ≤ hi, planning ONLY
    * the files whose manifest [min,max] intersects the interval. The
    * survivor list is manifest metadata (one short row per file — the
    * same driver-plane footprint as f09's manifestPaths), never data. The
    * residual filter still applies row-exactly: pruning is a superset
    * guarantee, correctness never depends on it. */
  def prunedRead(spark: SparkSession, out: String, c: String,
                 lo: Long, hi: Long): DataFrame = {
    val keep = spark.read.parquet(s"$out/manifest")
      .filter(!(col(s"max_$c") < lo || col(s"min_$c") > hi))
      .select("path").collect().map(_.getString(0)).sorted
    val base =
      if (keep.isEmpty) // degenerate: nothing can match; keep the schema
        spark.read.parquet(s"$out/data").filter(lit(false))
      else spark.read.parquet(keep.toIndexedSeq: _*)
    base.filter(col(c).between(lo, hi))
  }

  /** Driver surface (f13): documents laid out by n_chars in 8 files with
    * an (n_chars, doc_id) stats manifest; a length-band query answered
    * through the pruned plan. The layout must be invisible to results —
    * the oracle runs the same aggregate over the raw table. */
  def skippingQuery(spark: SparkSession, dir: String): DataFrame = {
    val out = StaleOutputs.appDir(spark, "skip", dir)
    writeWithStats(graft.Tables.documents(spark, dir),
      "n_chars", Seq("n_chars", "doc_id"), out, 8)
    prunedRead(spark, out, "n_chars", 200, 400)
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang")
  }
}
