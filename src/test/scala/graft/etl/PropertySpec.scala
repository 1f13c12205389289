package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5.2-4): generated fact rows flow
  * through the real builders; invariants are asserted dataset-wide with
  * Spark filters (one job per property, not one per case). */
class PropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

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

  private def sample[A](g: Gen[List[A]]): List[A] =
    g.apply(Gen.Parameters.default, Seed(42L)).get

  private def genStar(n: Int): Warehouse.Star = {
    val s = spark; import s.implicits._
    val salesGen = Gen.listOfN(n, for {
      dateId <- Gen.choose(1L, 20L)
      campaignId <- Gen.choose(1, 5)
      revenue <- Gen.choose(0.0, 10000.0)
      costFrac <- Gen.choose(0.0, 1.0)
    } yield (dateId, campaignId, revenue, revenue * costFrac))
    val spendGen = Gen.listOfN(n, for {
      dateId <- Gen.choose(1L, 25L) // partially disjoint key range
      campaignId <- Gen.choose(1, 6)
      spend <- Gen.oneOf(Gen.const(0.0), Gen.choose(1.0, 5000.0))
      clicks <- Gen.choose(0L, 500L)
      impressions <- Gen.oneOf(Gen.const(0L), Gen.choose(1000L, 99999L))
    } yield (dateId, campaignId, spend, clicks, impressions))
    Warehouse.Star(
      dimDate = (1L to 25L).map(i => (i, s"d$i")).toDF("date_id", "date"),
      dimCustomers = spark.emptyDataFrame,
      dimProducts = spark.emptyDataFrame,
      dimCampaigns = (1 to 6).map(i => (i, s"Camp $i", s"Ch${i % 3}"))
        .toDF("campaign_id", "campaign_name", "channel"),
      factSales = sample(salesGen).zipWithIndex
        .map { case ((d, c, r, co), i) => (i.toLong, d, c, r, co) }
        .toDF("sale_id", "date_id", "campaign_id", "revenue", "cost"),
      factSpend = sample(spendGen).zipWithIndex
        .map { case ((d, c, sp, cl, im), i) => (i.toLong, d, c, sp, cl, im) }
        .toDF("spend_id", "date_id", "campaign_id", "spend", "clicks", "impressions"))
  }

  test("merge preserves the key universe exactly") {
    // sparse enough that both facts have (date, channel) pairs of their own
    val star = genStar(40)
    // dim_date maps date_id 1:1 and channel is a function of campaign_id,
    // so the view's keys are the distinct (date, channel) pairs over both
    // facts
    def keys(fact: org.apache.spark.sql.DataFrame): Set[(String, String)] = fact
      .join(star.dimDate, Seq("date_id"))
      .join(star.dimCampaigns, Seq("campaign_id"), "left")
      .select("date", "channel").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val (sales, spend) = (keys(star.factSales), keys(star.factSpend))
    assert((sales -- spend).nonEmpty && (spend -- sales).nonEmpty)
    val view = KpiViews.channelDaily(star)
    assert(view.count() === (sales ++ spend).size)
    assert(view.select("date", "channel").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet === sales ++ spend)
  }

  test("merged measures are non-negative and zero-filled, never null") {
    val star = genStar(300)
    Seq("mv_channel_daily" -> KpiViews.channelDaily(star),
        "mv_kpi_channel" -> KpiViews.kpiChannel(star),
        "mv_kpi_campaign" -> KpiViews.kpiCampaign(star)).foreach { case (name, v) =>
      assert(v.filter(
        "revenue IS NULL OR cost IS NULL OR spend IS NULL OR orders IS NULL " +
          "OR clicks IS NULL OR impressions IS NULL").count() === 0, name)
      assert(v.filter(
        "revenue < 0 OR cost < 0 OR spend < 0 OR orders < 0 " +
          "OR clicks < 0 OR impressions < 0").count() === 0, name)
    }
  }

  test("KPI null-guards: roas NULL iff spend = 0; ctr in [0,1] when defined") {
    val k = KpiViews.kpiCampaign(genStar(300))
    assert(k.filter("(roas IS NULL) != (spend = 0)").count() === 0)
    assert(k.filter("(ctr IS NULL) != (impressions = 0)").count() === 0)
    assert(k.filter("ctr IS NOT NULL AND (ctr < 0 OR ctr > 1)").count() === 0)
    assert(k.filter("(aov IS NULL) != (orders = 0)").count() === 0)
  }

  test("gross profit decomposes: gross_profit = revenue - cost") {
    val k = KpiViews.kpiChannel(genStar(300))
    assert(k.filter(abs(col("gross_profit") - (col("revenue") - col("cost"))) > 1e-6).count() === 0)
  }

  test("date_id round-trips through epoch seconds") {
    val s = spark; import s.implicits._
    val dates = sample(Gen.listOfN(100,
      Gen.choose(0L, 20000L))).map(d => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(d)))
    val df = dates.toDF("date")
      .withColumn("date_id", col("date").cast("timestamp").cast("long"))
      .withColumn("back", to_date(from_unixtime(col("date_id"))))
    assert(df.filter("back != date").count() === 0)
  }

  test("dedup normalization is idempotent") {
    val s = spark; import s.implicits._
    val texts = sample(Gen.listOfN(200, Gen.listOf(
      Gen.oneOf("the", "a", "spark  ", " JOIN", "x\t", "Agg")).map(_.mkString(" "))))
    val norm = trim(regexp_replace(lower(col("t")), "\\s+", " "))
    val df = texts.toDF("t").withColumn("n1", norm)
      .withColumn("n2", trim(regexp_replace(lower(col("n1")), "\\s+", " ")))
    assert(df.filter("n1 != n2").count() === 0)
  }
}
