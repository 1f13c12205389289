package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The events `ts` physical type has drifted between driver rounds
  * (int64-nanoseconds ↔ timestamp[us]); Tables.tsUs/eventTime normalize
  * both. The live testdata only ever exercises ONE branch, so this spec
  * synthesizes the OTHER form from the same rows and proves every
  * normalized quantity — and a representative downstream query — is
  * identical across physical types. A third type must throw loudly, not
  * coerce (the round-5 silent-corruption mode). */
class TsDriftSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var nsDir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // re-land the same events with ts as int64 NANOSECONDS (the legacy
    // physical form the driver shipped before round 5)
    nsDir = TempDir("graft_tsdrift").toString
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.withColumn("ts",
        (unix_micros(col("ts").cast("timestamp")) * 1000L).cast("long"))
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("tsUs and eventTime agree across int64-ns and timestamp[us] forms") {
    val tsForm = Tables.eventsUs(spark, dir)
      .select("event_id", "ts_us").orderBy("event_id").collect()
    val nsForm = Tables.eventsUs(spark, nsDir)
      .select("event_id", "ts_us").orderBy("event_id").collect()
    assert(tsForm.nonEmpty)
    assert(nsForm.map(_.toString).toSeq === tsForm.map(_.toString).toSeq)
    val evTs = Tables.events(spark, dir)
    val evNs = Tables.events(spark, nsDir)
    val et1 = evTs.select(col("event_id"), Tables.eventTime(evTs).as("et"))
      .orderBy("event_id").collect()
    val et2 = evNs.select(col("event_id"), Tables.eventTime(evNs).as("et"))
      .orderBy("event_id").collect()
    assert(et2.map(_.toString).toSeq === et1.map(_.toString).toSeq)
  }

  test("a downstream events consumer is physical-type-independent") {
    val a = graft.streaming.EventStream.sessionCounts(spark, dir).collect()
    val b = graft.streaming.EventStream.sessionCounts(spark, nsDir).collect()
    assert(a.nonEmpty)
    assert(b.map(_.toString).toSeq === a.map(_.toString).toSeq)
  }

  test("an unsupported ts type throws loudly instead of coercing") {
    val broken = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("string"))
    val e = intercept[IllegalStateException] { Tables.tsUs(broken) }
    assert(e.getMessage.contains("drifted"))
    val e2 = intercept[IllegalStateException] { Tables.eventTime(broken) }
    assert(e2.getMessage.contains("drifted"))
  }
}
