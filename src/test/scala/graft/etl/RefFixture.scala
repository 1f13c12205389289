package graft.etl

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

/** The four raw CSVs of FIXTURES.md §A, generated so the `ref_*` surfaces
  * run without the reference checkout. A port of perfbench/gen.py's
  * `reference_csvs`: same schemas, value domains and §A counts — 10,000
  * transactions over all 365 days, 2,450 customers with fixed attributes,
  * 19 products, 48 campaigns (4 channels × 12 months), 1,460 spend rows
  * and 4 promo codes — checked on the written files by [[check]]. The
  * same seed always gives the same files.
  *
  * [[rawDir]] writes the corpus once per JVM into a temp dir whose path
  * ends in `/reference/data/raw` (WindowGuardSpec's CSV exemption is bound
  * to the `/reference/` path segment), removed when the JVM exits. Specs
  * point their session at it with
  * `.config(Pipeline.RawDirConf, RefFixture.rawDir)`; the conf is
  * per-session, so GoldenPipelineSpec still reads the real reference. */
object RefFixture {

  private val Seed = 7L
  private val Transactions = 10000
  private val Customers = 2450

  private val Channels = Seq("Paid Search", "Social", "Email", "Affiliates")
  private val FirstDay = LocalDate.of(2024, 11, 1)
  private val Days = 365
  // item -> (category, unit price THB, unit cost THB)
  private val Products = Seq(
    ("Box Logo Tee", "T-Shirts", 990, 320),
    ("Graphic Tee - Heavyweight", "T-Shirts", 1290, 410),
    ("Pocket Tee", "T-Shirts", 890, 280),
    ("Cargo Pants", "Bottoms", 2490, 900),
    ("Relaxed Denim", "Bottoms", 2990, 1150),
    ("Nylon Track Pants", "Bottoms", 1990, 700),
    ("Sweat Shorts", "Bottoms", 1290, 430),
    ("Six Panel Cap", "Caps", 790, 230),
    ("Washed Dad Cap", "Caps", 690, 200),
    ("Beanie", "Caps", 590, 180),
    ("Crossbody Bag", "Accessories", 1490, 520),
    ("Logo Socks 3-Pack", "Accessories", 590, 190),
    ("Crewneck Sweatshirt", "Sweatshirts", 2290, 820),
    ("Quarter Zip Fleece", "Sweatshirts", 2590, 950),
    ("Varsity Jacket - Wool Blend", "Outerwear", 3990, 1800),
    ("Coach Jacket", "Outerwear", 2990, 1200),
    ("Puffer Vest", "Outerwear", 3490, 1500),
    ("Pullover Hoodie", "Hoodies", 2490, 880),
    ("Zip Hoodie", "Hoodies", 2690, 960))
  private val Locations = Seq("Bangkok", "Chiang Mai", "Phuket", "Khon Kaen", "Chonburi",
    "Nakhon Ratchasima", "Songkhla", "Ayutthaya")
  private val LocationW = Seq(0.41, 0.1, 0.08, 0.07, 0.08, 0.08, 0.0362, 0.0438)
  private val Shipping = Seq("Standard", "Express", "Same-Day")
  private val Payment = Seq("Credit Card", "PromptPay", "Cash on Delivery", "Bank Transfer",
    "E-Wallet")
  private val Promos = Seq(("", 0), ("PROMO10", 10), ("PROMO15", 15), ("PROMO20", 20))

  private val TransactionsCsv = "ecom_mens_streetwear_10000.csv"
  private val SpendCsv = "channel_spend_daily_campaign.csv"
  private val CampaignsCsv = "campaigns_details.csv"
  private val PromoCsv = "promotion_reference.csv"

  lazy val rawDir: String = {
    val root = graft.TempDir("graft_ref_fixture")
    val raw = Files.createDirectories(root.resolve("reference/data/raw"))
    write(raw)
    raw.toString
  }

  private def dp(x: Double, digits: Int): String =
    s"%.${digits}f".formatLocal(java.util.Locale.ROOT, x)

  private def usDate(d: LocalDate): String = s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}"

  private def campaign(channel: String, d: LocalDate): String =
    f"$channel ${d.getYear}-${d.getMonthValue}%02d"

  private def writeLines(path: Path, lines: Iterable[String]): Unit =
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  /** Write the four CSVs under `out` and [[check]] them. */
  private def write(out: Path): Unit = {
    val rng = new Random(Seed)
    def choice[A](xs: Seq[A], weights: Seq[Double]): A = {
      val r = rng.nextDouble() * weights.sum
      val cum = weights.scanLeft(0.0)(_ + _).tail
      xs(cum.indexWhere(r < _) match { case -1 => xs.size - 1; case i => i })
    }
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    // every index occurs at least once, the rest uniformly, in random order
    def covering(n: Int, total: Int): IndexedSeq[Int] =
      rng.shuffle((0 until n) ++ IndexedSeq.fill(total - n)(rng.nextInt(n)))

    val days = (0 until Days).map(i => FirstDay.plusDays(i.toLong))

    // customers carry fixed attributes, so dim_customers has one row each
    val custIds = {
      val ids = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (ids.size < Customers) ids += rng.nextInt(900000)
      ids.toIndexedSeq.map(i => s"C${1000000 + i}")
    }
    val custAge = IndexedSeq.fill(Customers)(16 + rng.nextInt(35))
    val custGender = IndexedSeq.fill(Customers)(
      choice(Seq("Male", "Female", "Other"), Seq(0.6617, 0.3212, 0.0171)))
    val custLoc = IndexedSeq.fill(Customers)(choice(Locations, LocationW))
    val custSub = IndexedSeq.fill(Customers)(choice(Seq("Active", "Inactive"), Seq(0.35, 0.65)))

    val dayIdx = covering(Days, Transactions)
    val custIdx = covering(Customers, Transactions)
    val itemIdx = covering(Products.size, Transactions)
    val tx = (0 until Transactions).map { i =>
      val d = days(dayIdx(i))
      val c = custIdx(i)
      val (item, cat, price, cost) = Products(itemIdx(i))
      val q = choice(Seq(1, 2, 3), Seq(0.8023, 0.1784, 0.0193))
      Seq(usDate(d), custIds(c), custAge(c), custGender(c), item, cat, q,
        dp(price * q, 1), dp(cost * q, 1), custLoc(c), custSub(c),
        choice(Shipping, Seq(0.6, 0.3, 0.1)), pick(Payment), rng.nextInt(10),
        campaign(pick(Channels), d)).mkString(",")
    }
    writeLines(out.resolve(TransactionsCsv),
      ("Transaction Date,Customer ID,Age,Gender,Item Purchased,Category,Quantity," +
        "Purchase Amount (THB),Cost Price (THB),Location,Subscription Status," +
        "Shipping Type,Payment Method,Previous Purchases,Campaign Name") +: tx)

    val spend = for (d <- days; ch <- Channels) yield {
      val amount = 886.97 + rng.nextDouble() * (20228.21 - 886.97)
      val imp = 15810 + rng.nextInt(314095 - 15810)
      val ctr = 0.004 + rng.nextDouble() * 0.006
      val clicks = (imp * ctr).toInt.max(114).min(2756)
      s"${usDate(d)},${campaign(ch, d)},${dp(amount, 2)},$imp,$clicks," +
        dp(clicks.toDouble / imp, 6)
    }
    writeLines(out.resolve(SpendCsv),
      "Date,Campaign Name,Spending,Impressions,Clicks,Observed CTR" +: spend)

    val months = days.map(_.withDayOfMonth(1)).distinct
    val campaigns = for ((ch, start) <- Channels.flatMap(ch => months.map(ch -> _)))
      yield (campaign(ch, start), ch, start)
    writeLines(out.resolve(CampaignsCsv),
      "campaign_id,campaign_name,channel,promo_code,start_date,end_date" +:
        campaigns.zipWithIndex.map { case ((name, ch, start), i) =>
          s"${i + 1},$name,$ch,${pick(Promos)._1},$start,${start.plusMonths(1).minusDays(1)}"
        })

    writeLines(out.resolve(PromoCsv),
      "promo_code,discount_pct" +: Promos.map { case (code, pct) => s"$code,$pct" })

    check(out)
  }

  /** FIXTURES.md §A invariants on the written files; throws on any break. */
  private def check(out: Path): Unit = {
    def rows(name: String): Seq[Map[String, String]] = {
      val lines = Files.readAllLines(out.resolve(name)).asScala.toSeq
      val header = lines.head.split(",", -1).toSeq
      lines.tail.map(l => header.zip(l.split(",", -1)).toMap)
    }
    val tx = rows(TransactionsCsv)
    val sp = rows(SpendCsv)
    val names = tx.map(_("Campaign Name")).toSet
    val checks = Seq(
      "10,000 transactions" -> (tx.size == Transactions),
      "365 transaction dates" -> (tx.map(_("Transaction Date")).distinct.size == Days),
      "2,450 customers" -> (tx.map(_("Customer ID")).distinct.size == Customers),
      "one attribute set per customer" -> (tx.map(r => (r("Customer ID"), r("Age"),
        r("Gender"), r("Location"), r("Subscription Status"))).distinct.size == Customers),
      "19 products" -> (tx.map(_("Item Purchased")).distinct.size == Products.size),
      "48 campaigns" -> (names.size == 48),
      "four channels" -> (names.map(_.split(" ").init.mkString(" ")) == Channels.toSet),
      "1,460 spend rows on the same campaigns" ->
        (sp.size == 4 * Days && sp.map(_("Campaign Name")).toSet == names),
      "48 campaign details" -> (rows(CampaignsCsv).size == 48),
      "4 promo codes" -> (rows(PromoCsv).size == Promos.size))
    val bad = checks.collect { case (k, false) => k }
    if (bad.nonEmpty)
      throw new AssertionError(s"generated reference CSVs break: ${bad.mkString(", ")}")
  }
}
