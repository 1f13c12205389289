package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of [[Profile.profile]] on one lazy builder (q01) and one
  * whose fixpoint loop runs inside the builder (d16). Each profile and
  * the builder alone run in their own child session, so neither reads the
  * other's session memos. The cold run must count at least the jobs the
  * builder alone runs: a profile whose window held only the final
  * `count()` misses d16's loop. The cold run's stage rows name the graft
  * code that ran them. */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = spark = GraftSession.local()

  override def afterAll(): Unit = if (spark != null) spark.stop()

  for ((name, frame) <- Seq("q01_pricing_summary" -> "graft.Tables",
                            "d16_dedup_clusters" -> "graft.ops.Dedup"))
    test(s"Profile reports $name's rows, warm jobs, plan and a cold time " +
         "that includes the builder") {
      val r = Profile.profile(spark.newSession(), dir, name)
      val fresh = spark.newSession()
      val builder = new Profile.Collector(spark.sparkContext)
      val (df, builderS, builderJobs) =
        try {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(fresh, dir)
          (df, (System.nanoTime() - t0) / 1e9, builder.read().jobs)
        } finally builder.close()
      info(f"cold ${r.coldS}%.2f s / ${r.cold.jobs} jobs, warm ${r.warmS}%.2f s / " +
        f"${r.warm.jobs} jobs, builder alone $builderS%.2f s / $builderJobs jobs")
      assert(r.rows === df.count())
      assert(r.warm.jobs >= 1)
      assert(r.cold.jobs >= builderJobs)
      assert(r.coldS >= builderS)
      assert(r.plan.contains("== Physical Plan =="))
      assert(r.cold.stageRows.exists(_.contains(s"| $frame")), r.cold.stageRows)
    }
}
