package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** f03 lands nothing of its own: it reads the bucketed pair f19 keeps in
  * [[ArtifactStore.BucketStore]], so applications that come and go leave
  * no bucketed tables behind in `spark.sql.warehouse.dir`. */
class BucketedLandingSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("f03 in two sequential sessions leaves the shared warehouse dir " +
       "empty and returns the unbucketed join's rows") {
    val warehouse = graft.TempDir("graft_f03_warehouse").toFile
    try {
      for (run <- 1 to 2) {
        val spark = SparkSession.builder()
          .master("local[4]")
          .config("spark.sql.shuffle.partitions", "4")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.warehouse.dir", warehouse.toString)
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        try {
          assert(spark.conf.get("spark.sql.warehouse.dir").contains(warehouse.getName),
            "a session from an earlier suite is still running")
          val got = Bucketing.bucketedRevenueByPriority(spark, dir)
            .collect().map(_.toSeq).toSeq
          val want = spark.read.parquet(s"$dir/lineitem.parquet")
            .join(spark.read.parquet(s"$dir/orders.parquet"),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("line_count"),
              round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2)
                .cast("double").as("revenue"))
            .orderBy("o_orderpriority")
            .collect().map(_.toSeq).toSeq
          assert(want.nonEmpty)
          assert(got === want, s"run $run")
        } finally spark.stop()
        val left = Option(warehouse.list()).toSeq.flatten
        assert(left.isEmpty, s"run $run left ${left.mkString(", ")} in the warehouse dir")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(warehouse)
  }
}
