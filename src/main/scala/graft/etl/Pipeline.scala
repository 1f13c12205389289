package graft.etl

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

/** End-to-end pipeline orchestration (reference: run_etl.sh — but one
  * driver program, no process/network hops; SURVEY §3.1).
  *
  * The reference's 5-step shell pipeline (createdb → DDL → pandas load →
  * transform → views) collapses to: parse 2 CSVs into staging → land the
  * 6 star tables once → register temp views. The tables land like the
  * reference's INSERT…SELECT; the three KPI views stay unmaterialized and
  * Catalyst plans each downstream action over the landed tables
  * (views inline into the LogicalPlan like Postgres view rewriting, §3.2).
  *
  * The raw dir defaults to the reference checkout ([[DefaultRawDir]]). The
  * registered `ref_*` surfaces, which ignore their sfDir, read it from the
  * session conf [[RawDirConf]] instead ([[rawDir]]); SparkConf also picks
  * the key up as the JVM property `-Dspark.graft.refRawDir`.
  */
object Pipeline {

  val DefaultRawDir = "/root/reference/data/raw"

  /** Session conf key naming the raw dir the `ref_*` surfaces read. */
  val RawDirConf = "spark.graft.refRawDir"

  /** The session's raw dir: [[RawDirConf]] when set, else [[DefaultRawDir]]. */
  def rawDir(spark: SparkSession): String =
    spark.conf.getOption(RawDirConf).getOrElse(DefaultRawDir)

  /** Build the star once (reference: 02_load_csv.py → 03_transform.sql)
    * in three dependency waves: staging `tx` from the transactions CSV;
    * the four dims, derived from `tx`; the two facts, joined to the landed
    * dims (`factSpend` reads the spend CSV, its only consumer). The tables
    * of a wave land concurrently, since the landing is bound by per-job
    * scheduling overhead, not by compute. Each table lands with an eager
    * localCheckpoint (GC-scoped blocks, freed once the Star is
    * unreachable), so the surfaces over it never re-parse the CSVs or
    * re-derive the dims. Every call re-reads the files. */
  def build(spark: SparkSession, rawDir: String = DefaultRawDir): Warehouse.Star = {
    val Seq(tx) = land(spark)(() => Ingest.transactions(spark, rawDir))
    val Seq(dd, dcust, dp, dcamp) = land(spark)(
      () => Warehouse.dimDate(tx), () => Warehouse.dimCustomers(tx),
      () => Warehouse.dimProducts(tx), () => Warehouse.dimCampaigns(tx))
    val Seq(fs, fsp) = land(spark)(
      () => Warehouse.factSales(tx, dd, dp, dcamp),
      () => Warehouse.factSpend(Ingest.spend(spark, rawDir), dd, dcamp))
    Warehouse.Star(dd, dcust, dp, dcamp, fs, fsp)
  }

  /** Daemon threads for [[land]]: idle ones expire, and none keeps the
    * JVM alive. */
  private val landingPool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-star-landing")
    t.setDaemon(true)
    t
  }

  /** One wave: derive and localCheckpoint each frame in its own future,
    * wait for all of them on the calling thread, then rethrow the first
    * failure as the frame raised it. Each future carries the caller's
    * active session and local properties (job group, description), as
    * Spark's broadcast exchanges do. */
  private def land(spark: SparkSession)(frames: (() => DataFrame)*): Seq[DataFrame] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val futures = frames.map(f =>
      SQLExecution.withThreadLocalCaptured(session, landingPool)(f().localCheckpoint()))
    val results = futures.map(f => Try(f.get()))
    results.collectFirst { case Failure(e: ExecutionException) => throw e.getCause }
    results.map(_.get)
  }

  /** Build the star and register all warehouse + view temp views. The
    * views are registered as builder results — like the reference's
    * non-materialized views they re-derive per query, over the landed
    * tables. */
  def run(spark: SparkSession, rawDir: String = DefaultRawDir): Warehouse.Star = {
    val star = build(spark, rawDir)
    star.registerTempViews()
    KpiViews.channelDaily(star).createOrReplaceTempView("mv_channel_daily")
    KpiViews.kpiChannel(star).createOrReplaceTempView("mv_kpi_channel")
    KpiViews.kpiCampaign(star).createOrReplaceTempView("mv_kpi_campaign")
    star
  }

  /** All named query surfaces over a built star — the analyst-facing
    * catalog (reference: analytics_queries.sql + 04_views.sql). */
  def queryCatalog(star: Warehouse.Star,
                   rawDir: String = DefaultRawDir): Map[String, () => DataFrame] = Map(
    // Promotions enrichment (reference 02_load_csv.py:17-38 loads
    // campaigns_details + promotion_reference then never joins them —
    // SURVEY §0.2-2/3): the campaign dim enriched with its declared
    // channel, run dates, and promo discount. promo_code normalizes to
    // '' so no-promo campaigns hit the reference file's own ('', 0) row
    // instead of a hardcoded default. Both join sides are file-sized —
    // broadcast, no shuffle.
    "promo_enrichment" -> (() => {
      import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
      val spark = star.dimCampaigns.sparkSession
      Warehouse.Enrichment.enrichCampaigns(
          star.dimCampaigns, Ingest.campaignsDetails(spark, rawDir))
        .withColumn("promo_code", coalesce(col("promo_code"), lit("")))
        .join(broadcast(
          Warehouse.Enrichment.dimPromotions(Ingest.promo(spark, rawDir))),
          Seq("promo_code"), "left")
        .select(col("campaign_id"), col("campaign_name"), col("channel"),
          col("declared_channel"), col("promo_code"),
          col("start_date"), col("end_date"), col("discount_pct"))
        .orderBy("campaign_id")
    }),
    "mv_channel_daily" -> (() => KpiViews.channelDaily(star)),
    // nightly-refresh form: history (last 31 days held out) + delta rollup;
    // must equal mv_channel_daily row-for-row (same oracle)
    "mv_channel_daily_incr" -> (() => {
      val cutoff = java.time.LocalDate.of(2025, 10, 1).toEpochDay * 86400L
      val history = star.copy(
        factSales = star.factSales.filter(org.apache.spark.sql.functions.col("date_id") < cutoff),
        factSpend = star.factSpend.filter(org.apache.spark.sql.functions.col("date_id") < cutoff))
      KpiViews.channelDailyIncremental(KpiViews.channelDaily(history), star, cutoff)
    }),
    "mv_kpi_channel"   -> (() => KpiViews.kpiChannel(star)),
    "mv_kpi_campaign"  -> (() => KpiViews.kpiCampaign(star)),
    "q0_pnl"           -> (() => AnalyticsQueries.q0Pnl(star)),
    "q1_best_sellers"  -> (() => AnalyticsQueries.q1BestSellers(star)),
    "q1_top_profit"    -> (() => AnalyticsQueries.q1TopProfit(star)),
    "q1_top_margin"    -> (() => AnalyticsQueries.q1TopMargin(star)),
    "q2_channel_kpis"  -> (() => AnalyticsQueries.q2ChannelKpis(star)),
    "q3_repeat_drivers"-> (() => AnalyticsQueries.q3RepeatDrivers(star)),
    "q4_category"      -> (() => AnalyticsQueries.q4CategoryLoyalty(star)),
    "q5_hero_products" -> (() => AnalyticsQueries.q5HeroProducts(star)),
    "q6_spend_waste"   -> (() => AnalyticsQueries.q6SpendWaste(star)),
    "q6_spend_waste_active" -> (() => AnalyticsQueries.q6SpendWasteActive(star)),
    "q7_retention"     -> (() => AnalyticsQueries.q7Retention(star)),
    "q8_demographics"  -> (() => AnalyticsQueries.q8Demographics(star)),
    "q9_frequency"     -> (() => AnalyticsQueries.q9Frequency(star)),
  )
}
