package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The f17 proof: the runtime bloom filter must MEASURABLY cut the rows
  * the fact side carries into the shuffle — the executed fact-side
  * Filter's output-rows metric drops to (roughly) the joinable slice
  * under the bloom versus the full fact row count without it, while the
  * ANSWER is identical (a bloom false positive just survives to the
  * real join — a superset cut, never a semantics change). The
  * DynamicPruningSpec discipline applied to row-level runtime filters. */
class RuntimeBloomSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        graft.TempDir("graft_bloomspec").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => Seq(other)
    }
    here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
  }

  /** Output-rows of the Filter sitting on the lineitem scan (the node
    * the bloom predicate lands in). */
  private def factFilterRows(df: DataFrame): Long = {
    val fs = walk(df.queryExecution.executedPlan).collect {
      case f: FilterExec if walk(f.child).exists {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
        case _ => false
      } => f
    }
    assert(fs.nonEmpty, "no Filter over the lineitem scan found")
    fs.map(_.metrics("numOutputRows").value).min
  }

  test("f17: the fact-side Filter's output rows DROP under the runtime " +
       "bloom vs the bloom-free plan, and the answer is identical") {
    val bloomed = RuntimeBloom.bloomPrunedAgg(spark, dir)
    val bloomedRows = bloomed.collect()
    val underBloom = factFilterRows(bloomed)

    // bloom-free control: same shuffle-join posture, injection off
    val s2 = RuntimeBloom.bloomSession(spark)
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    val plain = RuntimeBloom.query(s2, dir)
    val plainRows = plain.collect()
    val factTotal = graft.Tables.lineitem(spark, dir).count()

    // without the bloom there is no fact-side Filter at all (nothing to
    // filter on) OR it passes everything; either way the shuffle carries
    // the full fact. With it, only the nation-3 suppliers' lines (+ any
    // bloom false positives) survive to the exchange.
    assert(underBloom < factTotal / 2,
      s"bloom passed $underBloom of $factTotal fact rows — pruned nothing")
    val joined = bloomedRows.map(_.getLong(1)).sum
    assert(underBloom >= joined,
      "the bloom filter cannot pass fewer rows than actually join")
    assert(bloomedRows.map(_.toString).toSeq === plainRows.map(_.toString).toSeq)
  }
}
