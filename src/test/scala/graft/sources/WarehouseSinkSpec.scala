package graft.sources

import graft.etl.{AnalyticsQueries, Pipeline, RefFixture, Warehouse}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Partitioned Parquet sink: round-trip fidelity + partition pruning. */
class WarehouseSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var outDir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    outDir = graft.TempDir("graft_wh").toString
    WarehouseSink.write(Pipeline.run(spark, RefFixture.rawDir), outDir)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("round-trip preserves all row counts") {
    val back = WarehouseSink.read(spark, outDir)
    assert(back.dimDate.count() === 365)
    assert(back.dimCustomers.count() === 2450)
    assert(back.dimProducts.count() === 19)
    assert(back.dimCampaigns.count() === 48)
    assert(back.factSales.count() === 10000)
    assert(back.factSpend.count() === 1460)
  }

  test("queries over the persisted star match the in-memory pipeline") {
    val back = WarehouseSink.read(spark, outDir)
    val persisted = AnalyticsQueries.q1BestSellers(back).collect().map(_.toString).toSeq
    val inMemory = AnalyticsQueries.q1BestSellers(Pipeline.run(spark, RefFixture.rawDir)).collect().map(_.toString).toSeq
    assert(persisted === inMemory)
  }

  test("date-range scan prunes partitions") {
    val pruned = WarehouseSink.salesForDateRange(spark, outDir, "2024-11-01", "2024-11-07")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"))
    // 7 of 365 days → roughly 7/365 of rows; assert pruning actually
    // restricted the data, not just the plan text
    val n = pruned.count()
    assert(n > 0 && n < 1000)
  }
}
