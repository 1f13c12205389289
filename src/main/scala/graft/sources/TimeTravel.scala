package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SNAPSHOT-VERSIONED table with time travel (f09) — the lakehouse
  * primitive a nightly 100 TB pipeline uses for rollback and reproducible
  * reads: every commit is a MANIFEST (the list of data files composing
  * that version), data files are immutable, and "read AS OF v" resolves
  * files through version v's manifest and nothing else. The same design
  * as the public table formats (Iceberg/Delta: manifest-tracked immutable
  * files + copy-on-write), reduced to its engine-relevant core.
  *
  * The merge commit is genuine COPY-ON-WRITE at file granularity: the
  * files containing rows hit by the update/delete predicates are found by
  * `input_file_name()`, ONLY those files are rewritten (update applied,
  * deletes dropped), and version 2's manifest is the untouched v1 files
  * plus the rewritten ones. At 100 TB a merge touching one day of a
  * range-partitioned table rewrites that day's files — the other 99.9%
  * of the table is carried by manifest reference, zero bytes moved, and
  * v1 stays readable forever (until a retention vacuum) because nothing
  * was mutated in place. */
object TimeTravel {

  def baseDir(spark: SparkSession, dir: String): String =
    StaleOutputs.appDir(spark, "timetravel", dir)

  private def listParquet(d: String): Seq[String] =
    Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.getAbsolutePath).sorted.toSeq

  private def writeManifest(spark: SparkSession, base: String, v: Int,
                            paths: Seq[String]): Unit = {
    import spark.implicits._
    paths.toDF("path").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/manifests/v$v")
  }

  private def manifestPaths(spark: SparkSession, base: String, v: Int): Seq[String] =
    spark.read.parquet(s"$base/manifests/v$v")
      .collect().map(_.getString(0)).sorted.toSeq

  /** Read the table AS OF version `v`: exactly the manifest's files. */
  def readAsOf(spark: SparkSession, base: String, v: Int): DataFrame =
    spark.read.parquet(manifestPaths(spark, base, v): _*)

  /** Build the two-version demo table: v1 = the documents corpus in four
    * range-partitioned files; v2 = one MERGE commit (docs with id ≤ 100
    * get a ' v2' text suffix, ids ≤ 100 divisible by 17 are deleted —
    * delete wins where both match). Range partitioning concentrates the
    * predicate: only the low-id file(s) rewrite, the rest carry over by
    * manifest reference. */
  def buildDemo(spark: SparkSession, dir: String): String = {
    val base = baseDir(spark, dir)
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "lang", "n_chars", "text")
    docs.repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/data/v1")
    val v1Files = listParquet(s"$base/data/v1")
    writeManifest(spark, base, 1, v1Files)

    val hit = col("doc_id") <= 100
    val del = hit && col("doc_id") % 17 === 0
    val touched = readAsOf(spark, base, 1)
      .withColumn("f", input_file_name())
      .filter(hit)
      .select("f").distinct()
      .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
    val untouched = v1Files.filterNot(touched)
    spark.read.parquet(touched.toSeq.sorted: _*)
      .filter(!del)
      .withColumn("text",
        when(hit, concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$base/data/v2")
    writeManifest(spark, base, 2, untouched ++ listParquet(s"$base/data/v2"))
    base
  }

  /** SNAPSHOT EXPIRATION + VACUUM (f10) — the retention half of the
    * versioned table's lifecycle: drop version `v`'s manifest, then delete
    * every data file no SURVIVING manifest references. Copy-on-write makes
    * this pure manifest arithmetic — the reachable-file set is the union
    * of the remaining manifests (an O(#files) metadata scan, no data
    * read), and files shared across versions survive because the v2
    * manifest still references them. At 100 TB this is the nightly
    * retention job that keeps storage linear in the live table, not in
    * its history. Returns (files deleted, files surviving). */
  def expire(spark: SparkSession, base: String, v: Int): (Int, Int) = {
    val manifestsDir = new java.io.File(s"$base/manifests")
    val survivors = Option(manifestsDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != s"v$v")
      .map(_.getName.stripPrefix("v").toInt).toSeq
    require(survivors.nonEmpty, s"cannot expire v$v: no surviving version")
    val reachable = survivors.flatMap(manifestPaths(spark, base, _)).toSet
    val dataDirs = Option(new java.io.File(s"$base/data").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
    val dead = dataDirs.flatMap(d => listParquet(d.getAbsolutePath))
      .filterNot(reachable)
    dead.foreach(p => new java.io.File(p).delete())
    val vDir = new java.io.File(s"$base/manifests/v$v")
    Option(vDir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    vDir.delete()
    (dead.length, reachable.size)
  }

  /** Driver surface (f10): build the two-version table, expire v1, vacuum,
    * then read the CURRENT version back through its manifest — post-vacuum.
    * Hash-matching the merge's outcome proves the vacuum deleted only
    * unreachable files (a GC'd shared file would break the read; a
    * lingering v1-only file is asserted gone in the spec). */
  def snapshotExpireQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = buildDemo(spark, dir)
    expire(spark, base, 1)
    readAsOf(spark, base, 2).select(
      col("doc_id"), col("lang"), col("n_chars"), md5(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  /** SNAPSHOT DIFF (f12) — what changed between two committed versions,
    * computed from the MANIFEST DELTA only. Copy-on-write makes files
    * carried by both manifests byte-identical, so they can contribute
    * nothing to a diff and are NEVER OPENED: the diff reads just the
    * files v2 dropped and the files v2 added, full-outer joins them on
    * the key, and keeps rows whose fingerprint differs (update), or that
    * exist on one side only (delete/add). At 100 TB a merge that rewrote
    * one day's partition diffs at the cost of that day — table size is
    * irrelevant. This is the audit primitive behind incremental
    * downstream refresh ("which rows changed since v1?") and merge
    * verification. Output: one row per changed key with before/after
    * fingerprints; rows in rewritten files that carried over unchanged
    * are filtered by fingerprint equality. */
  def snapshotDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = buildDemo(spark, dir)
    val v1 = manifestPaths(spark, base, 1).toSet
    val v2 = manifestPaths(spark, base, 2).toSet
    val dropped = (v1 -- v2).toSeq.sorted
    val added = (v2 -- v1).toSeq.sorted
    require(dropped.nonEmpty && added.nonEmpty,
      s"manifest delta is empty: v1-only=${dropped.size} v2-only=${added.size}")
    def side(paths: Seq[String], fpAs: String) =
      spark.read.parquet(paths: _*)
        .select(col("doc_id"), md5(col("text")).as(fpAs))
    side(dropped, "fp_before")
      .join(side(added, "fp_after"), Seq("doc_id"), "full_outer")
      .filter(col("fp_before").isNull || col("fp_after").isNull ||
        col("fp_before") =!= col("fp_after"))
      .select(col("doc_id"),
        when(col("fp_before").isNull, lit("A"))
          .when(col("fp_after").isNull, lit("D"))
          .otherwise(lit("U")).as("change"),
        col("fp_before"), col("fp_after"))
      .orderBy("doc_id")
  }

  /** Driver surface (f09): both versions read back through their
    * manifests, tagged and unioned — hash-matching the oracle proves the
    * v1 read sees exactly the pre-merge corpus and the v2 read sees
    * exactly the merge's outcome. */
  def timeTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = buildDemo(spark, dir)
    def snap(v: Int) = readAsOf(spark, base, v).select(
      lit(v.toLong).as("version"), col("doc_id"), col("lang"), col("n_chars"),
      md5(col("text")).as("fp"))
    snap(1).unionByName(snap(2)).orderBy("version", "doc_id")
  }
}
