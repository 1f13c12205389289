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

  private val children = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Seq[(String, String)]), SparkSession]

  /** A child of `parent` with `settings` applied to its conf, memoized per
    * (parent, settings). The child shares the parent's context and a clone
    * of its SQL conf, so the settings never reach the parent's plans. A
    * fresh `newSession()` per call would accumulate SessionState (conf,
    * catalog, listener registrations) on the shared SparkContext for the
    * life of the application. Entries of stopped parents are purged. */
  def child(parent: SparkSession, settings: (String, String)*): SparkSession = {
    children.keys.filter(_._1.sparkContext.isStopped).foreach(children.remove)
    children.getOrElseUpdate((parent, settings), {
      val s = parent.newSession()
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })
  }
}
