package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed big-big join eliminates both shuffle exchanges; HLL sketch
  * stays within its error bound. */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        graft.TempDir("graft_buckets").toString)
      // force the planner to prove co-location, not broadcast its way out
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("join on the bucket key plans with zero exchanges") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Bucketing.writeBucketed(o, "o_bucketed", "l_orderkey", 8)

    val joined = Bucketing.bucketedJoin(spark, "li_bucketed", "o_bucketed", "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")

    // same result as the shuffled join over raw parquet
    val expected = li.join(o, "l_orderkey").count()
    assert(joined.count() === expected)
  }

  test("approx_count_distinct sketch within its rsd bound") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = li.select(countDistinct("l_partkey")).collect()(0).getLong(0).toDouble
    val approx = li.select(approx_count_distinct("l_partkey", 0.02))
      .collect()(0).getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx=$approx exact=$exact") // 2% rsd → 5% is a generous ceiling
  }

  test("f03 oracle surface: join subplan is exchange-free, agg is the only shuffle") {
    val df = Bucketing.bucketedRevenueByPriority(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // exactly one Exchange line (the o_orderpriority aggregate) plus the
    // range exchange of the deterministic final sort; the join itself
    // reads co-located sorted buckets
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges === 1, s"bucketed join should not shuffle:\n$plan")
    assert(df.collect().map(_.getLong(1)).sum ===
      spark.read.parquet(s"$dir/lineitem.parquet").count())
  }
}
