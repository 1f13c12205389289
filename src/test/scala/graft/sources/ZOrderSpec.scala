package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Proof that the z-order layout actually skips: the same box predicate
  * scanned through (a) a linear colA-sorted layout and (b) the Morton
  * layout must read far fewer rows under (b) — parquet row-group pruning
  * can use BOTH columns' footer stats only when each file covers a
  * compact 2-D tile. "Rows read" is the FileSourceScanExec output-rows
  * metric: rows the reader delivered after min/max pruning, i.e. the
  * rows in row groups the predicate could not skip. */
class ZOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one row group per small file so row-group pruning == file skipping
      .config("spark.sql.parquet.filterPushdown", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Execute and return the parquet scan's output-rows metric. */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
      val self = p match {
        case f: FileSourceScanExec => Seq(f.metrics("numOutputRows").value)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      self ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).sum
  }

  test("f06: 2-D box predicate skips most row groups under z-order, not under linear sort") {
    val base = StaleOutputs.appDir(spark, "zorder_spec", dir)
    val orders = graft.Tables.orders(spark, dir)
    val total = orders.count()

    // linear layout: range-partitioned + sorted by o_custkey only — every
    // file spans o_totalprice's full range
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$base/linear")
    // z-order layout: each file covers a compact (custkey, totalprice) tile
    ZOrder.writeZOrdered(orders, "o_custkey", "o_totalprice",
      s"$base/zorder", 16)

    // a predicate on the SECOND dimension only — the case a colA sort
    // cannot help with at all
    def boxed(path: String): DataFrame =
      spark.read.parquet(path)
        .filter(col("o_totalprice").between(50000, 100000))
    val linearRows = scanRows(boxed(s"$base/linear"))
    val zRows = scanRows(boxed(s"$base/zorder"))
    val answerL = boxed(s"$base/linear").count()
    val answerZ = boxed(s"$base/zorder").count()

    assert(answerL === answerZ, "layout changed query results")
    assert(linearRows === total,
      s"expected the linear layout to read everything, read $linearRows of $total")
    assert(zRows < total / 2,
      s"z-order layout read $zRows of $total rows — no meaningful skip")
    assert(zRows >= answerZ, "scan metric undercounts the true matches")
  }
}
