package graft.etl

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.WarehouseSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, InputAdapter, ProjectExec, RDDScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Pipeline.run` lands the star once per call (the reference's nightly
  * INSERT…SELECT): the catalog surfaces plan over the landed tables
  * instead of re-parsing the raw CSVs, still do their own work per query
  * (like the reference's unmaterialized views), and a second call sees
  * rewritten files. Runs over a micro raw dir written to a temp
  * directory, so it needs no reference checkout. */
class StarBuildSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var raw: Path = _

  private val txHeader = "Transaction Date,Customer ID,Age,Gender,Item Purchased," +
    "Category,Quantity,Purchase Amount (THB),Cost Price (THB),Location," +
    "Subscription Status,Shipping Type,Payment Method,Previous Purchases,Campaign Name"

  private def txRow(date: String, customer: String, item: String, qty: Int,
                    price: Double, campaign: String): String =
    s"$date,$customer,25,Male,$item,T-Shirts,$qty,${price * qty},${price * qty * 0.4}," +
      s"Bangkok,Active,Standard,Cash on Delivery,2,$campaign"

  private val baseTx = Seq(
    txRow("9/29/2025", "C1", "Box Logo Tee", 1, 990.0, "Email 2025-09"),
    txRow("9/30/2025", "C2", "Box Logo Tee", 2, 990.0, "Social 2025-09"),
    txRow("9/30/2025", "C1", "Cargo Pants", 1, 1590.0, "Email 2025-09"),
    txRow("10/1/2025", "C3", "Cargo Pants", 1, 1590.0, "Social 2025-10"),
    txRow("10/2/2025", "C2", "Box Logo Tee", 1, 990.0, "Email 2025-10"))

  private def write(name: String, lines: Seq[String]): Unit =
    Files.write(raw.resolve(name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  private def writeRaw(tx: Seq[String]): Unit = {
    write("ecom_mens_streetwear_10000.csv", txHeader +: tx)
    write("channel_spend_daily_campaign.csv", Seq(
      "Date,Campaign Name,Spending,Impressions,Clicks,Observed CTR",
      "9/29/2025,Email 2025-09,100.0,1000,50,0.05",
      "9/30/2025,Social 2025-09,200.0,4000,80,0.02",
      "10/1/2025,Social 2025-10,150.0,3000,60,0.02",
      "10/2/2025,Email 2025-10,120.0,1500,45,0.03"))
    write("promotion_reference.csv", Seq("promo_code,discount_pct", ",0", "EMAIL10,10"))
    write("campaigns_details.csv", Seq(
      "campaign_id,campaign_name,channel,promo_code,start_date,end_date",
      "1,Email 2025-09,Email,EMAIL10,2025-09-01,2025-09-30",
      "2,Email 2025-10,Email,EMAIL10,2025-10-01,2025-10-31",
      "3,Social 2025-09,Social,,2025-09-01,2025-09-30",
      "4,Social 2025-10,Social,,2025-10-01,2025-10-31"))
  }

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    raw = Files.createTempDirectory("graft_star_raw")
    writeRaw(baseTx)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (raw != null) org.apache.commons.io.FileUtils.deleteDirectory(raw.toFile)
  }

  /** Every node of an executed plan: AQE's current plan, query stages'
    * inner plans and subqueries included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  /** The node that produces a result's rows, once Sort, Project and the
    * exchange/codegen wrappers are peeled off. */
  private def resultRoot(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => resultRoot(a.executedPlan)
    case q: QueryStageExec => resultRoot(q.plan)
    case s: SortExec => resultRoot(s.child)
    case s: ProjectExec => resultRoot(s.child)
    case s: WholeStageCodegenExec => resultRoot(s.child)
    case s: InputAdapter => resultRoot(s.child)
    case s: ColumnarToRowExec => resultRoot(s.child)
    case s: AQEShuffleReadExec => resultRoot(s.child)
    case s: Exchange => resultRoot(s.child)
    case other => other
  }

  private def csvScans(p: SparkPlan): Seq[String] = nodes(p).collect {
    case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
      s.relation.location.rootPaths.map(_.getName)
  }.flatten

  test("the star lands once: each table is a Scan ExistingRDD") {
    val star = Pipeline.run(spark, raw.toString)
    val tables = Seq("dim_date" -> star.dimDate, "dim_customers" -> star.dimCustomers,
      "dim_products" -> star.dimProducts, "dim_campaigns" -> star.dimCampaigns,
      "fact_sales" -> star.factSales, "fact_spend" -> star.factSpend)
    tables.foreach { case (name, df) =>
      resultRoot(df.queryExecution.executedPlan) match {
        case _: RDDScanExec =>
        case other => fail(s"$name is not landed:\n$other")
      }
    }
    assert(star.factSales.count() === baseTx.size)
    assert(star.dimProducts.count() === 2)
  }

  test("no catalog surface re-parses a star CSV, and none is a bare " +
       "read of a landed table") {
    val star = Pipeline.run(spark, raw.toString)
    val catalog = Pipeline.queryCatalog(star, raw.toString)
    assert(catalog.size === 18)
    catalog.toSeq.sortBy(_._1).foreach { case (name, build) =>
      val df = build()
      df.collect()
      val plan = df.queryExecution.executedPlan
      // promo_enrichment joins the two enrichment files the nightly
      // build never loads (SURVEY §0.2-2/3); no surface reads the
      // transactions or spend CSV the star is built from
      val allowed =
        if (name == "promo_enrichment") Set("campaigns_details.csv", "promotion_reference.csv")
        else Set.empty[String]
      val scanned = csvScans(plan)
      assert(scanned.forall(allowed), s"$name re-parses ${scanned.mkString(", ")}:\n$plan")
      resultRoot(plan) match {
        case r @ (_: RDDScanExec | _: InMemoryTableScanExec) =>
          fail(s"$name returns a landed table as its result: $r")
        case _ =>
      }
    }
  }

  test("WarehouseSink.write of a landed star spends one job per table") {
    val star = Pipeline.run(spark, raw.toString)
    val out = Files.createTempDirectory("graft_star_wh")
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      WarehouseSink.write(star, out.toString)
      // listener events arrive asynchronously: wait until the count settles
      var prev = -1
      while (jobs.get() != prev) { prev = jobs.get(); Thread.sleep(300) }
      // one job per table: no write re-derives a dim or re-parses a CSV
      assert(jobs.get() === 6)
      assert(WarehouseSink.read(spark, out.toString).factSales.count() === baseTx.size)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    }
  }

  test("a second run re-reads the files: rewritten rows come back") {
    val first = Pipeline.run(spark, raw.toString)
    val before = AnalyticsQueries.q1BestSellers(first).collect()
      .map(_.getAs[String]("item_name")).toSet
    assert(before === Set("Box Logo Tee", "Cargo Pants"))
    try {
      writeRaw(baseTx :+ txRow("10/2/2025", "C4", "Track Jacket", 3, 2490.0, "Email 2025-10"))
      val second = Pipeline.run(spark, raw.toString)
      val after = AnalyticsQueries.q1BestSellers(second).collect()
        .map(_.getAs[String]("item_name")).toSet
      assert(after === before + "Track Jacket")
      assert(second.factSales.count() === baseTx.size + 1)
      assert(spark.table("fact_sales").count() === baseTx.size + 1)
      // the first run's star keeps its own landed rows
      assert(first.factSales.count() === baseTx.size)
    } finally writeRaw(baseTx)
  }
}
