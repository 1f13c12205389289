package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** THE shared land-or-reuse machinery for every cross-process artifact
  * this engine publishes (VERDICT r13 item 7): the ANN index family
  * (`graft_annartifacts`), the standing dedup/ingest indexes that were
  * applicationId-scoped scratch until r14 (`graft_pointlookup` — d19's
  * fingerprint index, w08/w19's band-min index, f18's point-lookup
  * layout), and the bucketed co-located join landings
  * (`graft_bucketedjoin`, f19/f20). r12 proved lifecycle divergence is
  * where the bugs live — four bespoke memos with three different
  * policies; this object is the ONE implementation of the contract all
  * of them need:
  *
  *  - **Write-once, read-many, cross-process.** The destination path is
  *    a pure function of (store, tag, format version, source
  *    generation): any process may materialize it, every other process
  *    reuses it without re-landing (the production shape — a nightly
  *    index built by the ingest job and read by every query node).
  *  - **Atomic publication.** Builds land in a process-unique
  *    `.build_*` temp dir, the `_SOURCE` provenance sidecar is written
  *    INSIDE it, and one rename publishes both together; the loser of a
  *    cross-process race deletes its copy and reads the winner's
  *    (builds are deterministic-by-value, so either copy is correct).
  *  - **Post-publication verification** (ADVICE r13): after the land or
  *    the reuse decision, `_SUCCESS` must exist at the destination —
  *    a failed rename with no published winner, or a sweep that raced
  *    the land, fails HERE with a descriptive error instead of
  *    memoizing an empty path that later reads trip over as an opaque
  *    FileNotFound.
  *  - **Policy-based sweep, never age** for current-version entries
  *    (VERDICT r12 item 1: parquet reads never bump mtime, so age must
  *    never be grounds for deleting an artifact other processes read).
  *    A published entry whose sidecar names THIS store's format version
  *    dies only when its source is gone or fingerprint-stale. Entries
  *    of a FOREIGN version (or with no sidecar — pre-r13 format) get a
  *    [[StaleOutputs.SweepTtlMs]] GRACE window (ADVICE r13): an
  *    older-version process may still be reading them mid-flight, so
  *    they sweep only when source-stale or aged past the TTL.
  *    Mixed-version concurrency BEYOND the grace window is out of
  *    contract (a deployment does not run two engine versions against
  *    one store for hours; the gate/bench/test overlap this guards is
  *    minutes long).
  *  - **Generation-keyed relation cache + manifest retry.** Reads go
  *    through [[relation]], keyed on the `_SOURCE` sidecar's mtime —
  *    written once per build, rewritten only by a rebuild, never
  *    touched on reuse (the reuse lease lands on `_SUCCESS`) — so a
  *    delete-and-rebuild under the same path can never be served
  *    through a dead cached file manifest. [[withManifestRetry]] is the
  *    serving node's reopen-the-index move for the in-flight case.
  *  - **Two layouts.** [[Store.landRead]] lands a plain parquet dataset
  *    and reads it back through [[relation]]. [[Store.landBucketed]]
  *    lands the probe-bucketed layout every standing index shares (the
  *    ANN walk artifacts, d19's fingerprint index, w08/w19's band-min
  *    index, f18's documents layout): each row carries a caller-computed
  *    bucket id in the hive partition column `pb`, the frame is
  *    repartitioned by `pb` (one file set per bucket directory) and
  *    sorted by the caller's keys within each bucket. [[fetchBuckets]]
  *    is its one read: `pb IN buckets` prunes directories at planning
  *    time against the cached manifest, the caller's key filter reaches
  *    the parquet reader as a pushed filter, and `pb` is dropped from
  *    the result. An empty bucket list plans no file scan at all. A
  *    fetch therefore reads O(|keys|) buckets whatever the artifact's
  *    size; the values never depend on the layout.
  */
object ArtifactStore {

  /** One store = one root directory under tmp + one format version +
    * the source files its artifacts' fingerprints cover. The version is
    * per-store: bumping it invalidates that store's artifacts only
    * (they linger through the foreign-version grace window, then age
    * out — or die immediately when their source regenerates). */
  final case class Store(name: String, version: String,
                         defaultFiles: Seq[String]) {
    def root: String = s"${StaleOutputs.root}/$name"

    /** Land (or reuse) `build` as a plain parquet artifact and read it
      * through [[relation]] — the build-once/consume-many contract of
      * [[graft.SessionMemo]] extended across processes. */
    def landRead(spark: SparkSession, dir: String, tag: String)
                (build: => DataFrame): DataFrame =
      relation(spark, landDf(this, dir, tag, Nil)(build))

    /** Land (or reuse) `build` in the bucketed layout (object doc):
      * `bucket` computes each row's bucket id, `sortKeys` order the rows
      * within a bucket. Returns the published path, for [[fetchBuckets]]
      * and [[relation]]. */
    def landBucketed(dir: String, tag: String, bucket: Column,
                     sortKeys: String*)(build: => DataFrame): String =
      landDf(this, dir, tag, Seq(BucketCol)) {
        build.withColumn(BucketCol, bucket)
          .repartition(col(BucketCol))
          .sortWithinPartitions(sortKeys.map(col): _*)
      }
  }

  /** The ANN index family (s-family walk artifacts, PQ codebooks/codes,
    * centroids). Version stays "r13": the artifact SEMANTICS are
    * unchanged since r13, so artifacts built by r13 processes remain
    * current and are reused, not rebuilt. */
  val AnnStore = Store("graft_annartifacts", "r13", Seq("embeddings.parquet"))

  /** The standing serve-side indexes over the documents corpus: d19's
    * fingerprint index, w08/w19's band-min index, f18's bucketed
    * point-lookup layout (VERDICT r13 item 1 — promoted from
    * per-application scratch to this shared store). */
  val IndexStore = Store("graft_pointlookup", "r14", Seq("documents.parquet"))

  /** The f19/f20 bucketed fact-table landings. The fingerprint covers
    * BOTH joined tables (ADVICE r13: the memo guards a two-table
    * landing, so either side regenerating must invalidate it). */
  val BucketStore = Store("graft_bucketedjoin", "r14",
    Seq("lineitem.parquet", "orders.parquet"))

  private val SourceMeta = "_SOURCE"

  /** Count of artifact BUILDS this process has performed — the
    * cross-process reuse spec's probe (a second process landing an
    * already-published artifact must leave this at zero). */
  val landsPerformed = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The bucketed layout's hive partition column (object doc). */
  private val BucketCol = "pb"

  /** Source fingerprint over the store's files under `dir` (size +
    * mtime each, "-"-joined): regenerating the testdata invalidates
    * every artifact keyed on it automatically. */
  def fingerprint(store: Store, dir: String): String =
    fingerprintOf(dir, store.defaultFiles)

  private def fingerprintOf(dir: String, files: Seq[String]): String =
    files.map { n =>
      val f = new java.io.File(s"$dir/$n")
      s"${f.length()}_${f.lastModified()}"
    }.mkString("-")

  /** Sidecar: line0 = absolute source dir, line1 = format version,
    * line2 = source fingerprint at build time, line3 = the files the
    * fingerprint covers (","-joined; absent in r13-built sidecars,
    * which implicitly cover the store's default files). */
  private def sidecarBody(store: Store, dir: String): String =
    s"${new java.io.File(dir).getAbsolutePath}\n${store.version}\n" +
      s"${fingerprint(store, dir)}\n${store.defaultFiles.mkString(",")}"

  private def readSidecar(d: java.io.File): Option[Array[String]] =
    scala.util.Try {
      new String(
        java.nio.file.Files.readAllBytes(
          new java.io.File(d, SourceMeta).toPath),
        java.nio.charset.StandardCharsets.UTF_8).split("\n")
    }.toOption.filter(_.length >= 3)

  /** Is this published entry's recorded source still live (files exist,
    * fingerprint matches)? Version-agnostic — the caller layers the
    * version rule on top. */
  private def sourceCurrent(store: Store, lines: Array[String]): Boolean = {
    val files = if (lines.length >= 4 && lines(3).nonEmpty)
      lines(3).split(",").toSeq else store.defaultFiles
    files.forall(n => new java.io.File(s"${lines(0)}/$n").exists()) &&
      fingerprintOf(lines(0), files) == lines(2)
  }

  /** The sweep-keep policy (see object doc): current-version entries
    * live exactly as long as their source generation; foreign-version /
    * sidecar-less entries get the TTL grace window. */
  private[graft] def keepEntry(store: Store)(d: java.io.File): Boolean =
    readSidecar(d) match {
      case Some(lines) if lines(1) == store.version =>
        sourceCurrent(store, lines)
      case Some(lines) =>
        sourceCurrent(store, lines) && ageMs(d) <= StaleOutputs.SweepTtlMs
      case None => ageMs(d) <= StaleOutputs.SweepTtlMs
    }

  private def ageMs(d: java.io.File): Long = {
    def latest(f: java.io.File): Long = {
      val children = if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
      else Array.empty[java.io.File]
      (f.lastModified() +: children.map(latest)).max
    }
    System.currentTimeMillis() - latest(d)
  }

  // per-destination in-process serialization: two threads landing the
  // same artifact concurrently would run the (expensive) build twice
  // and thrash the temp area; cross-process dedup is the atomic rename
  private val inFlight =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Land (or reuse) one artifact. `write` materializes the artifact
    * into the temp dir it is handed (it may write any file layout —
    * a parquet dataset, a pair of bucketed tables — as long as the
    * result is complete when it returns). Returns the published path. */
  def land(store: Store, dir: String, tag: String)
          (write: java.io.File => Unit): String = {
    val root = new java.io.File(store.root)
    root.mkdirs()
    StaleOutputs.sweepStale(store.root, keepEntry(store))
    val sfName = new java.io.File(dir).getName
    val dest = new java.io.File(
      s"${store.root}/${tag}_${store.version}_${sfName}_${fingerprint(store, dir)}")
    val success = new java.io.File(dest, "_SUCCESS")
    inFlight.getOrElseUpdate(dest.toString, new Object).synchronized {
      if (!success.exists()) {
        val tmp = new java.io.File(
          s"${store.root}/.build_${java.util.UUID.randomUUID().toString.take(8)}")
        write(tmp)
        java.nio.file.Files.write(
          new java.io.File(tmp, SourceMeta).toPath,
          sidecarBody(store, dir)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val tmpSuccess = new java.io.File(tmp, "_SUCCESS")
        if (!tmpSuccess.exists())
          java.nio.file.Files.write(tmpSuccess.toPath, Array.empty[Byte])
        if (!tmp.renameTo(dest)) StaleOutputs.reset(tmp.toString)
        landsPerformed.incrementAndGet()
      } else {
        // lease renewal on every reuse — defense in depth against any
        // EXTERNAL age-based janitor (the in-store sweep never ages
        // current entries): an actively-read artifact keeps a fresh
        // mtime even though parquet reads never write. `_SOURCE` stays
        // untouched — it is the generation marker.
        success.setLastModified(System.currentTimeMillis())
      }
    }
    // ADVICE r13: verify the publication outcome rather than returning
    // a possibly-empty path for later reads to trip over opaquely —
    // covers a failed rename whose racing winner also died, and a
    // sweep that raced the land
    if (!new java.io.File(dest, "_SUCCESS").exists())
      throw new IllegalStateException(
        s"artifact land failed to publish $dest: no _SUCCESS after " +
          "land/reuse (rename failed with no published winner, or a " +
          "concurrent sweep removed the entry) — retry the operation")
    dest.toString
  }

  /** [[land]] specialized to a parquet dataset (hive-partitioned when
    * `partitionCols` is non-empty — the bucketed layout). */
  private def landDf(store: Store, dir: String, tag: String,
                     partitionCols: Seq[String])
                    (build: => DataFrame): String =
    land(store, dir, tag) { tmp =>
      val w = build.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp.toString)
    }

  /** The artifact's generation: `_SOURCE`'s mtime — written once per
    * build, rewritten only by a rebuild under the same path, never
    * touched on reuse. Keying the relation cache on it means a rebuilt
    * artifact (same path, fresh part-file UUIDs) can never be served
    * through a dead cached file index (VERDICT r12 item 1c) — including
    * a rebuild by ANOTHER process (the r12 driver-gate-vs-sbt death). */
  private def generation(path: String): Long =
    new java.io.File(path, SourceMeta).lastModified()

  /** One relation per (session, path, generation), listed ONCE: a
    * partitioned artifact at replica scale holds thousands of bucket
    * directories, and re-listing them per fetch would put an
    * O(#buckets) driver cost on every probe. The manifest lives in RAM,
    * the data stays on disk — DiskANN's split, shared by every probe
    * surface (ANN walks, fingerprint probes, band probes, f18). */
  private val readCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Long), DataFrame]

  def relation(spark: SparkSession, path: String): DataFrame = {
    readCache.keys.filter(_._1.sparkContext.isStopped).foreach(readCache.remove)
    val gen = generation(path)
    readCache.keys.filter(k => k._2 == path && k._3 != gen)
      .foreach(readCache.remove)
    readCache.getOrElseUpdate((spark, path, gen), spark.read.parquet(path))
  }

  /** The bucketed layout's one read (object doc): the rows of the
    * artifact at `path` in `buckets` that pass `keyFilter`, without the
    * bucket column. No buckets means no rows and no file scan. */
  def fetchBuckets(spark: SparkSession, path: String, buckets: Seq[Int],
                   keyFilter: Column): DataFrame = {
    val rel = relation(spark, path)
    val kept =
      if (buckets.isEmpty) lit(false)
      else col(BucketCol).isin(buckets.distinct.sorted: _*) && keyFilter
    rel.filter(kept).drop(BucketCol)
  }

  /** True iff `e`'s cause chain is the one failure a cached manifest
    * can produce: a part file deleted out from under the listed index. */
  private def manifestDead(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        (t.getMessage != null && t.getMessage.contains("FAILED_READ_FILE"))
    }

  /** Run an ACTION over relations planned against cached artifact
    * manifests; if it dies because an external janitor deleted-and-
    * rebuilt part files under a still-cached path, drop this session's
    * cached relations and retry ONCE against the relisted store — a
    * serving node's reopen-the-index move (VERDICT r12 item 1c). Any
    * other failure propagates untouched, and a second manifest death
    * does too (the store itself is gone, not just the cache). */
  def withManifestRetry[A](spark: SparkSession)(run: => A): A =
    try run catch {
      case e: Throwable if manifestDead(e) =>
        readCache.keys.filter(_._1 == spark).foreach(readCache.remove)
        run
    }
}
