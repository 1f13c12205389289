package graft.etl

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end tests: run the full pipeline on the reference's own
  * CSVs (read-only at /root/reference/data/raw) and assert the row counts
  * profiled in FIXTURES.md §A plus the analytic anchors the reference
  * publishes in its README (SURVEY §5.1/§5.2-2, BASELINE.md).
  */
class GoldenPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var star: Warehouse.Star = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    star = Pipeline.run(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("warehouse row counts match the profiled reference data") {
    assert(star.dimDate.count() === 365)
    assert(star.dimCustomers.count() === 2450)
    assert(star.dimProducts.count() === 19)
    assert(star.dimCampaigns.count() === 48)
    assert(star.factSales.count() === 10000)
    assert(star.factSpend.count() === 1460)
  }

  test("channels are exactly the four trimmed names (SURVEY §0.2-4)") {
    val channels = star.dimCampaigns.select("channel").distinct()
      .collect().map(_.getString(0)).toSet
    assert(channels === Set("Paid Search", "Social", "Email", "Affiliates"))
  }

  test("facts have no unresolved FKs (left joins all matched)") {
    assert(star.factSales.filter("date_id IS NULL OR product_id IS NULL OR campaign_id IS NULL").count() === 0)
    assert(star.factSpend.filter("date_id IS NULL OR campaign_id IS NULL").count() === 0)
  }

  test("Q7 retention rate matches README anchor 0.754") {
    val row = AnalyticsQueries.q7Retention(star).collect()(0)
    assert(row.getAs[Double]("retention_rate") === 0.754)
    assert(row.getAs[Long]("total_customers") === 10000L)
  }

  test("Q1.1 top seller is Box Logo Tee (README anchor)") {
    val top = AnalyticsQueries.q1BestSellers(star).collect()(0)
    assert(top.getAs[String]("item_name") === "Box Logo Tee")
  }

  test("channel KPI anchors: Email ROAS≈5/ROI≈4 best, Affiliates ROAS≈3.82, Paid Search ROI<0") {
    val byChannel = KpiViews.kpiChannel(star).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    val email = byChannel("Email")
    assert(math.abs(email.getAs[Double]("roas") - 5.0) < 0.25)
    assert(math.abs(email.getAs[Double]("roi") - 4.0) < 0.25)
    assert(math.abs(byChannel("Affiliates").getAs[Double]("roas") - 3.82) < 0.05)
    // README.md:701 "negative ROI" = loses money after COGS: profit_roi < 0
    // (plain roi is +0.45; cross-checked independently in DuckDB from the
    // raw CSVs — the insight text refers to the profit variant).
    assert(byChannel("Paid Search").getAs[Double]("profit_roi") < 0)
    // Email is the best channel by net profit (README.md:699)
    val best = AnalyticsQueries.q2ChannelKpis(star).collect()(0)
    assert(best.getAs[String]("channel") === "Email")
  }

  test("mv_channel_daily covers all 365 days × 4 channels") {
    val daily = KpiViews.channelDaily(star)
    assert(daily.count() === 365L * 4)
    assert(daily.filter("ctr IS NULL OR ctr <= 0").count() === 0)
  }

  test("incremental channel_daily refresh equals the full rebuild") {
    val cutoff = java.time.LocalDate.of(2025, 10, 1).toEpochDay * 86400L
    val history = star.copy(
      factSales = star.factSales.filter(s"date_id < $cutoff"),
      factSpend = star.factSpend.filter(s"date_id < $cutoff"))
    val incr = KpiViews.channelDailyIncremental(
      KpiViews.channelDaily(history), star, cutoff).collect()
    val full = KpiViews.channelDaily(star).collect()
    assert(incr.length === full.length)
    assert(incr.map(_.toString).toSeq === full.map(_.toString).toSeq)
    // the holdout is non-trivial: both sides of the stitch contribute
    assert(star.factSales.filter(s"date_id >= $cutoff").count() > 0)
    assert(star.factSales.filter(s"date_id < $cutoff").count() > 0)
  }

  test("every analytics query in the catalog executes (q6 legitimately empty)") {
    Pipeline.queryCatalog(star).foreach { case (name, build) =>
      val n = build().count()
      // Q6's reference thresholds (spend>5000 AND clicks<100 AND
      // revenue<3000, analytics_queries.sql:208-210) select nothing at
      // annual campaign grain — 0 rows IS the reference's own answer.
      if (name != "q6_spend_waste")
        assert(n > 0, s"query $name returned no rows")
    }
  }

  test("Q5 quadrant labels are total (every product classified)") {
    val types = AnalyticsQueries.q5HeroProducts(star)
      .select("product_type").distinct().collect().map(_.getString(0)).toSet
    val allowed = Set("HERO PRODUCT 🔥", "High Potential", "Volume Driver", "Free Rider")
    assert(types.subsetOf(allowed) && types.nonEmpty)
    assert(AnalyticsQueries.q5HeroProducts(star).count() === 19)
  }

  test("optional enrichments: promotions dim, campaign details, season") {
    val promo = Warehouse.Enrichment.dimPromotions(
      Ingest.promo(spark, Pipeline.DefaultRawDir))
    assert(promo.count() === 4)
    assert(promo.filter("discount_pct NOT IN (0, 10, 15, 20)").count() === 0)

    val enriched = Warehouse.Enrichment.enrichCampaigns(
      star.dimCampaigns, Ingest.campaignsDetails(spark, Pipeline.DefaultRawDir))
    assert(enriched.count() === 48)
    // derived channel (trimmed regexp) agrees with the declared channel
    assert(enriched.filter("channel != declared_channel").count() === 0)
    assert(enriched.filter("start_date IS NULL OR end_date IS NULL").count() === 0)

    val seasons = Warehouse.Enrichment.withSeason(star.dimDate)
      .groupBy("season").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 365 days spanning 2024-11 → 2025-10: Summer 92 (Mar-May),
    // Rainy 122 (Jun-Sep), Cool 151 (Oct-Feb)
    assert(seasons === Map("Summer" -> 92L, "Rainy" -> 122L, "Cool" -> 151L))
  }

  test("Q9 frequency segments partition all 2,450 customers") {
    val segs = AnalyticsQueries.q9Frequency(star).collect()
    assert(segs.map(_.getAs[Long]("customers")).sum === 10000L) // row-grain semantics
  }
}
