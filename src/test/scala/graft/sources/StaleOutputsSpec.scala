package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The app-scoped scratch contract of [[StaleOutputs.appDir]]: the
  * returned layout, and a TTL sweep that deletes only sibling application
  * dirs whose newest file has aged past [[StaleOutputs.SweepTtlMs]]. */
class StaleOutputsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tag = "stale_outputs_spec"
  private val tagDir = new File(StaleOutputs.root, s"graft_$tag")
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StaleOutputs.reset(tagDir.toString)
  }

  override def afterAll(): Unit = {
    StaleOutputs.reset(tagDir.toString)
    if (spark != null) spark.stop()
  }

  /** An application dir holding one nested part file. */
  private def appTree(appId: String): File = {
    val data = new File(tagDir, s"$appId/sf0.001/data")
    assert(data.mkdirs())
    java.nio.file.Files.write(new File(data, "part-0.parquet").toPath, Array[Byte](1))
    new File(tagDir, appId)
  }

  private def backdate(f: File, t: Long): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(backdate(_, t))
    assert(f.setLastModified(t))
  }

  test("appDir sweeps aged sibling app dirs, keeps live ones and the caller's own") {
    val appId = spark.sparkContext.applicationId
    val past = System.currentTimeMillis() - StaleOutputs.SweepTtlMs - 60000L
    val aged = appTree("app-aged")
    val touched = appTree("app-touched")
    val own = appTree(appId)
    Seq(aged, touched, own).foreach(backdate(_, past))
    // a writer mid-flight bumps one nested file, not the top dir
    assert(new File(touched, "sf0.001/data/part-0.parquet")
      .setLastModified(System.currentTimeMillis()))

    val out = StaleOutputs.appDir(spark, tag, "/any/parent/sf0.001")

    assert(out === s"${StaleOutputs.root}/graft_$tag/$appId/sf0.001")
    assert(!aged.exists(), "a sibling quiet past the TTL must be swept")
    assert(touched.exists(), "a sibling written within the TTL must be kept")
    assert(own.exists(), "the caller's own app dir must never be swept")
  }
}
