package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator unit tests over hand-written micro-fixtures
  * (FIXTURES.md §C; SURVEY §5.2-1). */
class EtlUnitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private def sc = spark

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tx(rows: Seq[(String, String, Int, String, String, String, Int, Double, Double, String)]): DataFrame = {
    val s = sc; import s.implicits._
    rows.toDF("Transaction Date", "Customer ID", "Age", "Gender",
        "Item Purchased", "Category", "Quantity", "Purchase Amount (THB)",
        "Cost Price (THB)", "Location")
      .withColumn("Subscription Status", lit("Active"))
      .withColumn("Shipping Type", lit("Standard"))
      .withColumn("Payment Method", lit("Cash on Delivery"))
      .withColumn("Previous Purchases", lit(0))
      .withColumn("Campaign Name", lit("Email 2024-11"))
  }

  // C1: date parsing, epoch ids, ISO week boundaries, UTC pinning
  test("dim_date: unpadded M/d/yyyy parse, epoch date_id, ISO week") {
    val d = Warehouse.dimDate(tx(Seq(
      ("11/1/2024", "C1", 21, "Male", "Tee", "T-Shirts", 1, 100.0, 40.0, "Bangkok"),
      ("2/29/2024", "C2", 22, "Male", "Tee", "T-Shirts", 1, 100.0, 40.0, "Bangkok"),
      ("12/30/2024", "C3", 23, "Male", "Tee", "T-Shirts", 1, 100.0, 40.0, "Bangkok"),
      ("1/1/2025", "C4", 24, "Male", "Tee", "T-Shirts", 1, 100.0, 40.0, "Bangkok"))))
      .collect().map(r => r.getAs[java.sql.Date]("date").toString ->
        (r.getAs[Long]("date_id"), r.getAs[Int]("week"), r.getAs[Int]("year"))).toMap
    assert(d("2024-11-01")._1 === 1730419200L)          // UTC midnight epoch
    assert(d("2024-02-29")._2 === 9)                    // leap day, ISO week 9
    assert(d("2024-12-30")._2 === 1)                    // ISO: Dec 30 2024 → week 1
    assert(d("2025-01-01")._2 === 1)
  }

  // C2: channel extraction incl. trailing-space trim (SURVEY §0.2-4)
  test("channel derivation trims the regexp artifact") {
    val s = sc; import s.implicits._
    val df = Seq("Paid Search 2024-11", "Email 2025-02", "X2024-01", "NoDigits")
      .toDF("campaign_name")
      .withColumn("channel", trim(regexp_extract($"campaign_name", "^[^0-9]+", 0)))
    val m = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("Paid Search 2024-11") === "Paid Search")
    assert(m("Email 2025-02") === "Email")
    assert(m("X2024-01") === "X")
    assert(m("NoDigits") === "NoDigits")
  }

  // C8: unit-price dim: ROUND(SUM(amount)/SUM(qty), 0) (03_transform.sql:26)
  test("dim_products unit price is round(sum(amount)/sum(qty), 0)") {
    val p = Warehouse.dimProducts(tx(Seq(
      ("11/1/2024", "C1", 21, "Male", "Tee", "T-Shirts", 2, 500.0, 200.0, "Bangkok"),
      ("11/2/2024", "C2", 22, "Male", "Tee", "T-Shirts", 1, 260.0, 95.0, "Bangkok"))))
      .collect()(0)
    assert(p.getAs[Double]("base_price") === 253.0) // 760/3 = 253.33 → 253
    assert(p.getAs[Double]("cost_price") === 98.0)  // 295/3 = 98.33 → 98
  }

  // C4: full-outer merge grain — sales-only, spend-only, shared keys
  test("KPI merge preserves the key universe and coalesces zeros") {
    val s = sc; import s.implicits._
    val star = Warehouse.Star(
      dimDate = Seq((1L, "2024-11-01"), (2L, "2024-11-02"), (3L, "2024-11-03"))
        .toDF("date_id", "date"),
      dimCustomers = spark.emptyDataFrame,
      dimProducts = spark.emptyDataFrame,
      dimCampaigns = Seq((10, "Email 2024-11", "Email")).toDF("campaign_id", "campaign_name", "channel"),
      factSales = Seq(
        (1L, 1L, 10, 100.0, 40.0),  // shared key
        (2L, 2L, 10, 50.0, 20.0))   // sales-only key
        .toDF("sale_id", "date_id", "campaign_id", "revenue", "cost"),
      factSpend = Seq(
        (1L, 1L, 10, 30.0, 5L, 100L),   // shared key
        (2L, 3L, 10, 70.0, 0L, 0L))     // spend-only key
        .toDF("spend_id", "date_id", "campaign_id", "spend", "clicks", "impressions"))
    val m = KpiViews.channelDaily(star).collect()
      .map(r => r.getAs[String]("date") ->
        (r.getAs[Double]("revenue"), r.getAs[Double]("spend"), r.getAs[Long]("orders"))).toMap
    // |rows| = |dates(sales) ∪ dates(spend)|
    assert(m.keySet === Set("2024-11-01", "2024-11-02", "2024-11-03"))
    assert(m("2024-11-01") === ((100.0, 30.0, 1L)))
    assert(m("2024-11-02") === ((50.0, 0.0, 1L)))  // spend zero-filled
    assert(m("2024-11-03") === ((0.0, 70.0, 0L)))  // sales zero-filled
  }

  // C3: KPI null guards with zero denominators
  test("KPI ratios are NULL on zero denominators") {
    val s = sc; import s.implicits._
    val star = Warehouse.Star(
      dimDate = Seq((1L, "2024-11-01")).toDF("date_id", "date"),
      dimCustomers = spark.emptyDataFrame,
      dimProducts = spark.emptyDataFrame,
      dimCampaigns = Seq((10, "Email 2024-11", "Email")).toDF("campaign_id", "campaign_name", "channel"),
      factSales = Seq((1L, 1L, 10, 100.0, 40.0))
        .toDF("sale_id", "date_id", "campaign_id", "revenue", "cost"),
      // spend=0, impressions=0 → roas/roi/profit_roas/profit_roi/ctr NULL
      factSpend = Seq((1L, 1L, 10, 0.0, 0L, 0L))
        .toDF("spend_id", "date_id", "campaign_id", "spend", "clicks", "impressions"))
    val r = KpiViews.kpiChannel(star).collect()(0)
    assert(r.isNullAt(r.fieldIndex("roas")))
    assert(r.isNullAt(r.fieldIndex("ctr")))
    assert(r.isNullAt(r.fieldIndex("roi")))
    assert(r.isNullAt(r.fieldIndex("profit_roi")))
    assert(r.getAs[Double]("aov") === 100.0) // orders=1 → defined
  }

  // C5: CASE band boundaries — ages 19/20/29/30/39/40/49/50
  test("Q8 age bands hit exact boundaries") {
    val s = sc; import s.implicits._
    val banded = Seq(19, 20, 29, 30, 39, 40, 49, 50).toDF("age")
      .withColumn("age_group",
        when(col("age") < 20, "Under 20")
          .when(col("age").between(20, 29), "20–29")
          .when(col("age").between(30, 39), "30–39")
          .when(col("age").between(40, 49), "40–49")
          .otherwise("50+"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(banded(19) === "Under 20" && banded(20) === "20–29")
    assert(banded(29) === "20–29" && banded(30) === "30–39")
    assert(banded(39) === "30–39" && banded(40) === "40–49")
    assert(banded(49) === "40–49" && banded(50) === "50+")
  }

  // C7: Q6 fan-out — 2 spend rows × 3 sales rows inflate both sums
  test("Q6 fan-out join inflates sums verbatim (SURVEY §0.2-7)") {
    val s = sc; import s.implicits._
    val star = Warehouse.Star(
      dimDate = Seq((1L, "2024-11-01")).toDF("date_id", "date"),
      dimCustomers = spark.emptyDataFrame,
      dimProducts = spark.emptyDataFrame,
      dimCampaigns = Seq((10, "Email 2024-11", "Email")).toDF("campaign_id", "campaign_name", "channel"),
      factSales = Seq(
        (1L, 1L, 10, 100.0, 40.0), (2L, 1L, 10, 100.0, 40.0), (3L, 1L, 10, 100.0, 40.0))
        .toDF("sale_id", "date_id", "campaign_id", "revenue", "cost"),
      factSpend = Seq(
        (1L, 1L, 10, 6000.0, 10L, 100L), (2L, 1L, 10, 6000.0, 20L, 100L))
        .toDF("spend_id", "date_id", "campaign_id", "spend", "clicks", "impressions"))
    val r = AnalyticsQueries.q6SpendWaste(star).collect()
    // 2 spend × 3 sales = 6 joined rows: spend 12000→36000, clicks 30→90,
    // revenue 300→600; thresholds: 36000>5000, 90<100, 600<3000 → selected
    assert(r.length === 1)
    assert(r(0).getAs[Double]("spend") === 36000.0)
    assert(r(0).getAs[Long]("clicks") === 90L)
    assert(r(0).getAs[Double]("revenue") === 600.0)
  }

  // C6: Q7 retention counts purchase rows, not customers (SURVEY §0.2-8)
  test("Q7 counts rows after first purchase date, not distinct customers") {
    val s = sc; import s.implicits._
    val star = Warehouse.Star(
      dimDate = spark.emptyDataFrame, dimCustomers = spark.emptyDataFrame,
      dimProducts = spark.emptyDataFrame, dimCampaigns = spark.emptyDataFrame,
      factSales = Seq(
        (1L, "C1", 100L), // C1: single purchase → not returning
        (2L, "C2", 100L), (3L, "C2", 200L), (4L, "C2", 300L), // C2: 2 of 3 rows after first
        (5L, "C3", 100L), (6L, "C3", 100L)) // C3: same-date repeat → NOT counted
        .toDF("sale_id", "customer_id", "date_id"),
      factSpend = spark.emptyDataFrame)
    val r = AnalyticsQueries.q7Retention(star).collect()(0)
    assert(r.getAs[Long]("returning_customers") === 2L)
    assert(r.getAs[Long]("total_customers") === 6L) // rows, not customers
    assert(r.getAs[Double]("retention_rate") === 0.333)
  }
}
