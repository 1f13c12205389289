package graft

import org.apache.spark.sql.SparkSession

/** Plan-review utility: print the formatted physical plan and wall time of
  * one or more registered queries.
  *
  * Usage: Explain <sfDir> <queryName> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // production posture (GraftExtensions): HOF dot/L2 folds run codegen'd
    graft.functions.RewriteDotProduct.install(spark)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"===== $name: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
