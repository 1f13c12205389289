package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for graft's own mains (Bench and Verify keep
  * their setup inline: benchmark harnesses read their stdout and timing). */
object GraftSession {

  /** The Bench posture: `local[cpus]` with cpus = `SPARK_GRAFT_CPUS`, else
    * the host's available processors, one shuffle partition per core, UTC
    * session time (events' NTZ timestamps then match DuckDB's `epoch_us`),
    * no UI, WARN logging, and the dot-product rewrite that
    * `GraftExtensions` installs in production. */
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.RewriteDotProduct.install(spark)
    spark
  }
}
