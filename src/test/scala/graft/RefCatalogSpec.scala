package graft

import graft.etl.{Pipeline, RefFixture}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The ref_* catalog is memoized per SparkSession (SparkEntry.catalogFor):
  * a catalog's DataFrames are bound to the session that built them, so a
  * process that stops its session and opens a new one must get a freshly
  * built catalog — not dead plans from the stopped one. This spec is the
  * regression guard: the same ref query runs under two SEQUENTIAL sessions
  * (the first stopped before the second starts) and both must succeed with
  * identical results. Both sessions read the generated §A corpus
  * ([[graft.etl.RefFixture]]) through the `spark.graft.refRawDir` session
  * conf, so the spec needs no reference checkout. */
class RefCatalogSpec extends AnyFunSuite {

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Pipeline.RawDirConf, RefFixture.rawDir)
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

    // second, fresh session: the stopped-session entry must be purged and
    // a new catalog built against s2, or this throws on dead RDD state
    val s2 = newSession()
    val second =
      try q(s2, "unused").collect().map(_.toSeq).toSeq
      finally s2.stop()

    assert(first.nonEmpty)
    assert(first === second)
  }
}
