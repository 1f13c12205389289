package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Proof that manifest stats pruning actually skips FILES (not just row
  * groups): the pruned plan's FileSourceScanExec must report fewer
  * `numFiles` than the layout wrote, while answering identically to the
  * unpruned read. Row-group pruning (f06's lever) is orthogonal — this
  * spec pins the file-list-level cut that happens before any footer is
  * opened. */
class DataSkippingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Execute and return the parquet scans' total planned-file count. */
  private def scanFiles(df: DataFrame): Long = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
      val self = p match {
        case f: FileSourceScanExec => Seq(f.metrics("numFiles").value)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      self ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).sum
  }

  test("f13: manifest interval pruning plans a strict subset of files, same answer") {
    val out = StaleOutputs.appDir(spark, "skip_spec", dir)
    val docs = graft.Tables.documents(spark, dir)
    DataSkipping.writeWithStats(docs, "n_chars", Seq("n_chars", "doc_id"), out, 8)

    // a narrow band: range layout on n_chars concentrates it in few files
    val pruned = DataSkipping.prunedRead(spark, out, "n_chars", 200, 300)
    val prunedFiles = scanFiles(pruned)
    val full = spark.read.parquet(s"$out/data")
      .filter(col("n_chars").between(200, 300))
    val fullFiles = scanFiles(full)

    assert(fullFiles === 8L, s"layout should have written 8 files, saw $fullFiles")
    assert(prunedFiles < 8L, s"manifest pruning planned all $prunedFiles files")
    assert(pruned.count() === full.count(), "pruning changed query results")
    assert(pruned.agg(sum("n_chars")).first().getLong(0) ===
      full.agg(sum("n_chars")).first().getLong(0), "pruning changed aggregates")

    // an impossible interval prunes everything and still answers
    val none = DataSkipping.prunedRead(spark, out, "n_chars", -100, -1)
    assert(none.count() === 0L)
  }
}
