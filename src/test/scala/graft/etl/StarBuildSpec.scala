package graft.etl

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.sources.WarehouseSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct}
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
  * rewritten files. The tables of a dependency wave land concurrently:
  * a failure surfaces as Spark's own error, repeated builds agree row for
  * row, and the landing threads never keep the JVM alive. Runs over a
  * micro raw dir written to a temp directory (and the generated §A corpus
  * for the split-CSV test), so it needs no reference checkout. */
class StarBuildSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var raw: Path = _
  // non-daemon threads alive once the session is up, before any build
  private var sessionThreads: Set[Thread] = _

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
    raw = graft.TempDir("graft_star_raw")
    writeRaw(baseTx)
    sessionThreads = nonDaemonThreads
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
    tables(star).foreach { case (name, df) =>
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
    val out = graft.TempDir("graft_star_wh")
    val jobs = new graft.Profile.Collector(spark.sparkContext)
    try {
      WarehouseSink.write(star, out.toString)
      // one job per table: no write re-derives a dim or re-parses a CSV
      assert(jobs.read().jobs === 6)
      assert(WarehouseSink.read(spark, out.toString).factSales.count() === baseTx.size)
    } finally {
      jobs.close()
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

  private def nonDaemonThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet

  private def tables(star: Warehouse.Star): Seq[(String, DataFrame)] = Seq(
    "dim_date" -> star.dimDate, "dim_customers" -> star.dimCustomers,
    "dim_products" -> star.dimProducts, "dim_campaigns" -> star.dimCampaigns,
    "fact_sales" -> star.factSales, "fact_spend" -> star.factSpend)

  test("a missing spend CSV fails the build with Spark's own path error") {
    val partial = graft.TempDir("graft_star_partial")
    try {
      Files.copy(raw.resolve("ecom_mens_streetwear_10000.csv"),
        partial.resolve("ecom_mens_streetwear_10000.csv"))
      // off the test thread, so a wave that never completes fails the
      // test instead of hanging the suite
      val outcome = Await.result(
        Future(Try(Pipeline.run(spark, partial.toString))), 120.seconds)
      val e = intercept[AnalysisException](outcome.get)
      assert(e.getCondition === "PATH_NOT_FOUND", e)
      assert(e.getMessage.contains("channel_spend_daily_campaign.csv"), e)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(partial.toFile)
  }

  test("the landing jobs carry the caller's job group and description") {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(
        (e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup("nightly-star", "land the star")
    try {
      Pipeline.build(spark, raw.toString)
      // listener events arrive asynchronously: wait until the count settles
      var prev = -1
      while (seen.size != prev) { prev = seen.size; Thread.sleep(300) }
      // at least one job per landed table, every one in the caller's group
      assert(seen.size >= 7)
      assert(seen.asScala.toSet === Set(("nightly-star", "land the star")))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("two builds in one session land the same six tables row for row") {
    val (a, b) = (Pipeline.build(spark, raw.toString), Pipeline.build(spark, raw.toString))
    tables(a).zip(tables(b)).foreach { case ((name, x), (_, y)) =>
      assert(x.count() > 0, name)
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, s"$name differs")
    }
  }

  test("the build leaves no non-daemon thread behind") {
    // against the session's start: the landing threads outlive a build
    // and are reused by the next, so earlier tests may have started them
    Pipeline.build(spark, raw.toString).factSales.count()
    val left = nonDaemonThreads -- sessionThreads
    assert(left.isEmpty, left.map(_.getName).mkString(", "))
  }

  test("sale_id and spend_id stay unique when the CSVs split into " +
       "several partitions, so orders = count(sale_id) is exact") {
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "32k")
    try {
      val rawDir = RefFixture.rawDir
      assert(Ingest.transactions(spark, rawDir).rdd.getNumPartitions > 1)
      assert(Ingest.spend(spark, rawDir).rdd.getNumPartitions > 1)
      val star = Pipeline.build(spark, rawDir)
      def unique(df: DataFrame, id: String): Unit = {
        val r = df.agg(org.apache.spark.sql.functions.count(id), countDistinct(id)).head()
        assert(r.getLong(0) === r.getLong(1), s"$id repeats")
      }
      unique(star.factSales, "sale_id")
      unique(star.factSpend, "spend_id")
      // the view's orders against COUNT(DISTINCT sale_id) per (date, channel)
      val distinctOrders = star.factSales
        .join(star.dimDate.select("date_id", "date"), Seq("date_id"))
        .join(star.dimCampaigns.select("campaign_id", "channel"), Seq("campaign_id"), "left")
        .groupBy("date", "channel").agg(countDistinct("sale_id").as("orders"))
      val viewOrders = KpiViews.channelDaily(star)
        .filter(col("orders") > 0).select("date", "channel", "orders")
      assert(distinctOrders.count() > 1)
      assert(viewOrders.exceptAll(distinctOrders).isEmpty &&
        distinctOrders.exceptAll(viewOrders).isEmpty)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
