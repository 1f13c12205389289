package graft

import graft.etl.{Pipeline, RefFixture}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Gate-shrinkage guard: EVERY registered SparkEntry surface must at
  * least EXECUTE. Verify.scala deliberately catches per-query throws so
  * one broken query can't zero the whole round's artifact — but that
  * means a throwing query silently VANISHES from the correctness gate
  * (round 5 lost 15 entries to one type drift and nothing went red).
  * This spec is the loud half of that trade: any registered query that
  * throws turns the suite red with the query's name and error.
  *
  * sf0.001 keeps the sweep cheap; correctness-vs-oracle is the driver
  * gate's job — this asserts executability only. Every oracle key must
  * also point at a registered query (a dangling oracle is a typo'd
  * rename that would silently weaken the gate the other way). */
class GateGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Pipeline.RawDirConf, RefFixture.rawDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("every registered query executes against sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, dir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}")
        }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} registered queries throw:\n${failures.mkString("\n")}")
  }

  test("every oracle key names a registered query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles with no registered query: $dangling")
  }
}
