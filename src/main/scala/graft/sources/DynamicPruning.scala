package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DYNAMIC PARTITION PRUNING (f15) — the fourth rung of the
  * scan-avoidance ladder (f06 row groups, f13 whole files, f09 version
  * manifests): pruning the FACT TABLE'S PARTITIONS from a predicate that
  * only exists on the OTHER SIDE OF A JOIN. A static planner cannot
  * prune `fact JOIN dim WHERE dim.region = 'west'` — no literal
  * predicate touches the fact's partition column — so Catalyst plants a
  * `DynamicPruningExpression` (a reused broadcast subquery of the dim's
  * join keys) INTO the fact scan's partition filters at runtime. This is
  * the star-schema workhorse at 100 TB: the canonical
  * `sales JOIN dates WHERE week = X` reads only the matching date
  * partitions, and the pruning subquery rides the SAME broadcast the
  * join itself needs, so it costs no extra pass (Spark SQL's DPP,
  * public since 3.0).
  *
  * The demo partitions the corpus by `lang`, joins a 5-row region dim
  * filtered to one region, and aggregates — PlanSpec pins the
  * `dynamicpruningexpression` inside the scan's PartitionFilters, and
  * DynamicPruningSpec proves the scan's partition/file metrics drop
  * under the filtered dim while the answer equals the layout-free
  * compute. Correctness never depends on the pruning (it is a plan-side
  * superset cut), which is why the oracle is the plain unpartitioned
  * join. */
object DynamicPruning {

  /** The 5-row language→region dim (deterministic literal rows — a stand-in
    * for the usual date/geo dimension). */
  def regionDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("en", "west"), ("fr", "west"), ("de", "east"), ("es", "east"),
      ("zh", "east")).toDF("lang", "region")
  }

  /** Land the lang-partitioned fact AND the dim as parquet once per
    * (session, dir) — partitioned layout is a write-once artifact,
    * query-many (the f11 table shape). The dim MUST be an on-disk
    * relation: a literal LocalRelation's filter constant-folds into the
    * relation itself during optimization, leaving no Filter node for
    * DPP's selective-predicate check to find — exactly the difference
    * between a demo and the production star-schema shape, where the dim
    * is a table. */
  def tables(spark: SparkSession, dir: String): (String, String) = {
    val base = StaleOutputs.appDir(spark, "dpp", dir)
    val fact = s"$base/table"
    val dim = s"$base/dim"
    if (!new java.io.File(fact, "_SUCCESS").exists()) {
      graft.Tables.documents(spark, dir)
        .select("doc_id", "n_chars", "lang")
        .write.partitionBy("lang").mode("overwrite").parquet(fact)
      regionDim(spark).coalesce(1).write.mode("overwrite").parquet(dim)
    }
    (fact, dim)
  }

  /** The DPP query: fact partitions are selected at RUNTIME by the
    * broadcast dim's surviving join keys. Left in its declarative form —
    * no manual partition listing anywhere — precisely so the optimizer's
    * pruning is what gets exercised and pinned. */
  def pruningJoin(spark: SparkSession, dir: String): DataFrame = {
    val (factPath, dimPath) = tables(spark, dir)
    val fact = spark.read.parquet(factPath)
    val dim = broadcast(
      spark.read.parquet(dimPath).filter(col("region") === "west"))
    fact.join(dim, Seq("lang"))
      .groupBy("lang", "region")
      .agg(count(lit(1)).as("docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang")
  }
}
