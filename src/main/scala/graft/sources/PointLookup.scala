package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BUCKETED POINT-LOOKUP LAYOUT (f18) — the r12 graph-ANN serve-path
  * discipline generalized into a reusable lakehouse primitive: land a
  * table hive-partitioned by `pb = id div BucketWidth` (sorted by id
  * within each bucket) so that an id-list lookup prunes to the ids'
  * buckets at PLANNING time and pushes the id list into the parquet
  * reader. A point fetch of k ids then reads O(k) buckets of
  * [[BucketWidth]] rows — independent of table size — where a plain
  * layout would stream the table through a filter. This is the sixth
  * rung of the scan-avoidance ladder (f06 z-order and f13 skipping cut
  * RANGE scans; DPP/f15 and the runtime bloom/f17 cut JOIN probes; this
  * cuts ID-LIST probes — the serving-side access pattern of feature
  * stores, dedup index probes, and ANN vector fetches).
  *
  * The layout is [[ArtifactStore]]'s bucketed layout, written once per
  * source generation; at production scale BucketWidth is sized so a
  * bucket is one parquet row group (~100k rows) — the per-lookup read
  * stays O(k) buckets either way.
  * PlanSpec pins the partition filter, the pushed In, and the
  * files-read ≤ k metric; the oracle is the plain predicate on the raw
  * table (values never depend on the layout). */
object PointLookup {

  /** Rows per layout bucket — small at test SFs so pruning is
    * observable; a production deployment sizes it to a row group. */
  val BucketWidth = 64L

  /** Land (or reuse) the bucketed layout of documents(doc_id, lang,
    * n_chars) for this source generation; returns the layout path. */
  def layoutDir(spark: SparkSession, dir: String): String =
    ArtifactStore.IndexStore.landBucketed(dir, "documents",
        expr(s"cast(doc_id div $BucketWidth as int)"), "doc_id") {
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }

  /** The pruned point fetch: the ids' buckets + parquet In pushdown on
    * the ids. */
  def fetch(spark: SparkSession, dir: String, ids: Seq[Long]): DataFrame = {
    val sorted = ids.distinct.sorted
    ArtifactStore.fetchBuckets(spark, layoutDir(spark, dir),
      sorted.map(i => (i / BucketWidth).toInt), col("doc_id").isin(sorted: _*))
  }

  /** The f18 demo request size — FIXED in code (the d30 bounded-in-code
    * discipline, ADVICE r12): a serving lookup brings a request-sized
    * id list, never a corpus-proportional one. The old unbounded
    * `doc_id % 97` set grew with N and, 97-spaced over 64-wide buckets,
    * touched ~2/3 of all bucket directories — a near-full scan wearing
    * a point-lookup costume. 200 ids read ≤200 buckets of [[BucketWidth]]
    * rows at ANY table size; mirrored in the f18 oracle's LIMIT. */
  val LookupBudget = 200

  /** Driver surface (f18): a deterministic sparse id set (the FIRST
    * [[LookupBudget]] ids with doc_id % 97 = 3 — the driver-known id
    * list a serving lookup would bring) fetched through the bucketed
    * layout. The oracle runs the plain predicate + LIMIT on the raw
    * table — the layout must never change values, only the scan shape. */
  def pointLookup(spark: SparkSession, dir: String): DataFrame = {
    val ids = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 === 3)
      .select("doc_id").orderBy("doc_id").limit(LookupBudget)
      .collect().map(_.getLong(0)).toSeq
    fetch(spark, dir, ids)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }
}
