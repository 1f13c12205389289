package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) layout rewrite (f06) — the classic lakehouse
  * data-layout lever this library had not yet shipped (f03 = bucketing,
  * f05 = compaction): rewrite a table so that each output file covers a
  * COMPACT 2-D TILE of the (colA, colB) space instead of a stripe of one
  * column's range. A linear sort by colA serves colA predicates but makes
  * every file span colB's full range (no colB-predicate can skip
  * anything); interleaving the two columns' bucket bits into one Morton
  * key gives every file tight min/max footer stats on BOTH columns, so
  * parquet row-group pruning skips most of the table for 2-D box — and
  * crucially also single-column colB — predicates. ZOrderSpec proves the
  * skip by comparing scan-output rows under both layouts.
  *
  * Scale shape: the rewrite is one range-exchange on the z-value (the
  * same one-off cost as any compaction pass — paid at write time so every
  * later scan skips); bucket ids come from min/max scaling (at 100 TB
  * the domain bounds come from table stats or config rather than the
  * write-time aggregate used here). The z-value is dropped before the
  * write — layout is pure physical organization, invisible to readers. */
object ZOrder {

  private val Bits = 8 // 8 bits per dimension → 16-bit Morton key

  /** Morton-interleave two `Bits`-bit bucket columns: bit i of `a` lands
    * at position 2i+1, bit i of `b` at 2i. Pure integer arithmetic —
    * codegen'd, no UDF. */
  private def morton(a: Column, b: Column): Column =
    (0 until Bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
    }.reduce(_ + _)

  /** Min-max scale a numeric column into [0, 2^Bits). */
  private def bucket(c: Column, lo: Double, hi: Double): Column = {
    val span = math.max(hi - lo, 1e-9)
    least(lit((1 << Bits) - 1),
      greatest(lit(0L), floor((c.cast("double") - lit(lo)) / lit(span / (1 << Bits)))))
      .cast("long")
  }

  /** Rewrite `df` into `files` parquet files laid out along the Morton
    * curve of (colA, colB). Every original column round-trips unchanged;
    * the z-value exists only during the exchange. */
  def writeZOrdered(df: DataFrame, colA: String, colB: String,
                    out: String, files: Int): Unit = {
    val stats = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).first()
    if ((0 until 4).exists(stats.isNullAt)) {
      // empty table or all-null layout column: no curve to lay out along;
      // layout is pure physical organization, so a plain write is the
      // correct (and only well-defined) result rather than an NPE
      df.write.mode("overwrite").parquet(out)
      return
    }
    val zv = morton(
      bucket(col(colA), stats.getDouble(0), stats.getDouble(1)),
      bucket(col(colB), stats.getDouble(2), stats.getDouble(3)))
    df.withColumn("__zv", zv)
      .repartitionByRange(files, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv")
      .write.mode("overwrite").parquet(out)
  }

  /** Driver surface (f06): z-order `orders` on (o_custkey, o_totalprice),
    * read the layout back, and answer a 2-D box query through it. The
    * layout must be invisible to results — the oracle computes the same
    * aggregate over the raw table — while ZOrderSpec proves the scan-side
    * skipping the layout exists for. */
  def zorderQuery(spark: SparkSession, dir: String): DataFrame = {
    val out = StaleOutputs.appDir(spark, "zorder", dir)
    writeZOrdered(graft.Tables.orders(spark, dir),
      "o_custkey", "o_totalprice", out, 16)
    spark.read.parquet(out)
      .filter(col("o_custkey").between(200, 400) &&
        col("o_totalprice").between(50000, 150000))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("orders_in_box"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2)
          .cast("double").as("revenue"))
      .orderBy("o_orderstatus")
  }
}
