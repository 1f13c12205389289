package graft

import java.nio.file.{Files, Path}

import graft.etl.{Pipeline, RefFixture}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The ref_* surfaces keep no per-session catalog memo: every call lands
  * the star afresh from the session's raw dir (`Pipeline.run`), so a
  * catalog's DataFrames are always bound to the calling session and see
  * the files as they are now. The first spec runs the same ref query
  * under two SEQUENTIAL sessions (the first stopped before the second
  * starts): both must succeed with identical results. The second rewrites
  * the transactions CSV under a live session and expects the next call
  * to see it. Both read the generated §A corpus ([[graft.etl.RefFixture]])
  * through the `spark.graft.refRawDir` session conf, so the spec needs no
  * reference checkout. */
class RefCatalogSpec extends AnyFunSuite {

  private def newSession(rawDir: String = RefFixture.rawDir): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Pipeline.RawDirConf, rawDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("ref_q0_pnl runs in two sequential SparkSessions") {
    val q = SparkEntry.queries("ref_q0_pnl")

    val s1 = newSession()
    val first =
      try q(s1, "unused").collect().map(_.toSeq).toSeq
      finally s1.stop()

    // second, fresh session: its call lands its own star, so nothing
    // from the stopped session is read
    val s2 = newSession()
    val second =
      try q(s2, "unused").collect().map(_.toSeq).toSeq
      finally s2.stop()

    assert(first.nonEmpty)
    assert(first === second)
  }

  test("ref_mv_kpi_channel sees a transactions CSV rewritten under a live session") {
    val raw = TempDir("graft_ref_rewrite").resolve("reference/data/raw")
    Files.createDirectories(raw)
    Files.list(java.nio.file.Paths.get(RefFixture.rawDir)).iterator().asScala
      .foreach(f => Files.copy(f, raw.resolve(f.getFileName)))
    val txCsv = Files.list(raw).iterator().asScala
      .find(_.getFileName.toString.startsWith("ecom_")).get
    // (orders, revenue) straight from the CSV: column 7 is the purchase amount
    def csvTotals(p: Path): (Long, Double) = {
      val rows = Files.readAllLines(p).asScala.drop(1).filter(_.nonEmpty)
      (rows.size.toLong, rows.map(_.split(",")(7).toDouble).sum)
    }
    val q = SparkEntry.queries("ref_mv_kpi_channel")
    val s = newSession(raw.toString)
    def viewTotals(): (Long, Double) = {
      val rows = q(s, "unused").collect()
      (rows.map(_.getAs[Long]("orders")).sum, rows.map(_.getAs[Double]("revenue")).sum)
    }
    try {
      val (orders0, revenue0) = viewTotals()
      val (csvOrders0, csvRevenue0) = csvTotals(txCsv)
      assert(orders0 === csvOrders0)
      assert(math.abs(revenue0 - csvRevenue0) < 0.05)

      val lines = Files.readAllLines(txCsv).asScala
      Files.write(txCsv, (lines.head +: lines.tail.take(lines.size / 2)).asJava)
      val (csvOrders1, csvRevenue1) = csvTotals(txCsv)
      assert(csvOrders1 < csvOrders0)

      val (orders1, revenue1) = viewTotals()
      assert(orders1 === csvOrders1, "the view still counts the old file's orders")
      assert(math.abs(revenue1 - csvRevenue1) < 0.05,
        s"revenue $revenue1 does not reflect the rewrite ($csvRevenue1)")
    } finally {
      s.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(raw.getParent.getParent.getParent.toFile)
    }
  }
}
