package graft.streaming

import graft.sources.ArtifactStore
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table (SURVEY §2.9: the
  * reference's only "freshness" mechanism is a nightly batch rerun; this
  * module is the engine's incremental path).
  *
  * Design: file-source streaming with `Trigger.AvailableNow` — processes
  * everything currently in the directory with streaming semantics
  * (checkpointable, incremental on re-run) then stops. The same plan runs
  * continuously against a live directory/Kafka source unchanged. Watermark
  * bounds state: late events beyond 10 minutes are dropped, so window state
  * is O(active windows), not O(stream length) — the property that keeps
  * state bounded on an unbounded 100 TB/day stream.
  */
object EventStream {

  /** File-source stream of events with an event-time column. The file
    * source wants a directory; the sf dir is the basePath and the glob
    * filter selects the events table.
    *
    * The streaming source requires an explicit schema; declaring a FIXED
    * one is how round 5 silently corrupted units when the driver's `ts`
    * physical type changed (a user-supplied LongType coerced the new
    * timestamp[us] values and every event time collapsed to ~1970). So:
    * probe the batch footer for what is ACTUALLY on disk, declare exactly
    * that, and let [[graft.Tables.eventTime]]/[[graft.Tables.tsUs]]
    * normalize — a drift to a third type throws loudly there instead of
    * corrupting silently. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val onDisk = spark.read.parquet(s"$dir/events.parquet")
    val df = spark.readStream
      .schema(onDisk.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    df.withColumn("event_time", graft.Tables.eventTime(df))
  }

  /** Tumbling 1-hour windows per event_type with a 10-minute watermark.
    * The sum follows the exact-sum discipline (per-row decimal casts, round
    * at the end, cast back) so the result is order-independent and matches
    * the DuckDB oracle at any scale factor. */
  def windowedCounts(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("events"),
        round(sum(col("value").cast("decimal(18,6)")), 4)
          .cast("double").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("events"), col("total_value"))

  /** The same aggregation as a batch plan — used by tests to prove the
    * streaming result equals the batch result on a static directory.
    * event_time via the shared normalizer, so batch and stream agree on
    * units by construction. */
  def windowedCountsBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    windowedCounts(ev.withColumn("event_time", graft.Tables.eventTime(ev)))
  }

  /** Driver-contract form of the windowed aggregation: window start as
    * epoch seconds (timestamp columns don't compare portably across
    * engines at nanosecond precision), deterministic order. */
  def windowedCountsVerify(spark: SparkSession, dir: String): DataFrame =
    windowedCountsBatch(spark, dir)
      .withColumn("window_start_epoch", unix_timestamp(col("window_start")))
      .select("window_start_epoch", "event_type", "events", "total_value")
      .orderBy("window_start_epoch", "event_type")

  /** Streaming exact dedup — the ingest-time form of [[graft.ops.Dedup]]'s
    * exact dedup for a continuous training-data feed: keep the first-seen
    * event per key, drop later duplicates. dropDuplicatesWithinWatermark
    * bounds state to keys inside the watermark horizon (one entry per key,
    * expired as the watermark passes), so state is O(keys-per-10-minutes)
    * on an unbounded stream — a duplicate arriving later than the horizon
    * would pass through, the standard at-least-once dedup trade-off. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Drain `df` with AvailableNow into the memory sink `name`, in output
    * mode `mode`, and return the sink's table. */
  private def drainToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    df.sparkSession.table(name)
  }

  /** Run [[dedupEvents]] with AvailableNow into a memory sink. Append mode:
    * each surviving event emits exactly once. */
  def runDedupAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(dedupEvents(readEvents(spark, dir)), "graft_dedup", "append")

  /** Driver-contract batch anchor for the streaming dedup: the
    * deterministic form — per (user_id, event_type) the minimum event_id is
    * the keeper, with the duplicate count. The streaming path keeps
    * first-SEEN (arrival order, not oracle-reproducible); StreamingSpec
    * proves both select the same key set with the same totals. */
  def eventDedupCounts(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy("user_id", "event_type")
      .agg(min("event_id").as("keeper"), count(lit(1)).as("copies"))
      .orderBy("user_id", "event_type")

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks within the hour AFTER it — the attribution join as a
    * continuous query. Both sides carry watermarks and the join condition
    * bounds event-time distance, so Spark derives a state-retention
    * horizon for each side and evicts joined state as watermarks advance:
    * state is O(events-per-watermark-window), not O(stream length) — the
    * property that keeps a 100 TB/day click stream joinable at all.
    * Output at pair grain (purchase_id, click_id, gap_us). */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "10 minutes")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_time").as("c_time"))
      .withWatermark("c_time", "10 minutes")
    purchases.join(clicks,
      expr("""p_user = c_user AND
             |c_time > p_time AND c_time <= p_time + interval 1 hour
             |""".stripMargin.replaceAll("\n", " ")))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("click_id"),
        (unix_micros(col("c_time")) - unix_micros(col("p_time"))).as("gap_us"))
  }

  /** Run [[streamStreamJoin]] with AvailableNow into a memory sink. */
  def runStreamJoinAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(streamStreamJoin(spark, dir), "graft_ssjoin", "append")

  /** Streaming → warehouse round trip (the streaming analog of the f01 /
    * warehouse sink round trips): the windowed aggregation runs as an
    * AvailableNow stream and lands in PARQUET via foreachBatch — the
    * production pattern for continuous ingestion into a lakehouse table
    * (foreachBatch gets a batch DataFrame per micro-batch, so the sink
    * reuses the exact batch writer).
    *
    * APPEND mode, not Complete: each micro-batch appends only the
    * windows the advancing watermark has CLOSED, so per-trigger sink
    * I/O is O(newly closed windows) — on an unbounded stream the
    * Complete-mode alternative rewrites the entire aggregate history
    * every trigger, O(stream length) I/O, which is a scale
    * anti-pattern (the round-5 implementation did exactly that).
    * Watermark 0s: with AvailableNow the final watermark lands on the
    * max event time, so every window whose end has been passed emits
    * exactly once; only the stream-trailing open window stays in state
    * — precisely the window the next batch could still extend. The
    * oracle applies the same cut relationally (w10 discipline).
    *
    * The written table is read back and projected to the
    * driver-contract form, so the oracle verifies the entire
    * stream→sink→scan path end to end. */
  def streamToWarehouse(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.StaleOutputs.appDir(spark, "stream_sink", dir)
    // append-mode sink + fixed app-scoped dir: a SECOND invocation in the
    // same application (bench interleaves 3+ passes) would append a full
    // duplicate generation — reset makes each invocation rebuild from empty
    graft.sources.StaleOutputs.reset(out)
    val q = windowedCounts(readEvents(spark, dir), delay = "0 seconds")
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(out)
      .withColumn("window_start_epoch", unix_timestamp(col("window_start")))
      .select("window_start_epoch", "event_type", "events", "total_value")
      .orderBy("window_start_epoch", "event_type")
  }

  /** One micro-batch of events in upsert-state shape: one row per
    * (user_id, event_type) carrying the latest event and the batch's
    * update count. */
  private def toUpsertState(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_type"),
        col("ts_us").as("last_ts_us"), col("event_id").as("last_event_id"),
        col("value").as("last_value"), lit(1L).as("n_updates"))

  /** MERGE a reduced batch into the (possibly absent) previous state:
    * union + re-reduce per key. The winner is max(struct(ts, event_id))
    * — a unique total order, so the carried value is deterministic —
    * and update counts add. Associative and order-insensitive, so ANY
    * batch split of the stream converges to the same state
    * (StreamingSpec proves a 2-way split equals the single-shot form). */
  def upsertMerge(prev: Option[DataFrame], batch: DataFrame): DataFrame = {
    val all = prev.map(_.unionByName(batch)).getOrElse(batch)
    all.groupBy("user_id", "event_type")
      .agg(
        max(struct(col("last_ts_us"), col("last_event_id"), col("last_value"))).as("w"),
        sum("n_updates").as("n_updates"))
      .select(col("user_id"), col("event_type"),
        col("w.last_ts_us").as("last_ts_us"),
        col("w.last_event_id").as("last_event_id"),
        col("w.last_value").as("last_value"),
        col("n_updates"))
  }

  /** Streaming UPSERT into a latest-state table — the parquet emulation
    * of `MERGE INTO` that a lakehouse pipeline runs per micro-batch: each
    * batch is reduced to one row per (user_id, event_type), merged with
    * the previous state version via [[upsertMerge]], and written as a new
    * immutable version (versioned dirs = poor-man's table format commit;
    * readers always see a complete version, never a partial overwrite).
    *
    * Scale shape: state I/O per batch is O(state + delta) hash-joined on
    * the uniform key — the stream's history is never rescanned, unlike
    * w05's complete-mode rewrite. State per key is one fixed-size row.
    * The final version is read back and verified by the driver's oracle
    * (arg_max over all events), proving the whole
    * stream→merge→sink→scan path. */
  def streamUpsertLatest(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.StaleOutputs.appDir(spark, "upsert", dir)
    @volatile var last: Option[String] = None
    val src = readEvents(spark, dir)
    val q = src
      .withColumn("ts_us", graft.Tables.tsUs(src))
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val s = batch.sparkSession
        val prev = last.map(p => s.read.parquet(p))
        val merged = upsertMerge(prev, toUpsertState(batch.toDF()))
        val path = s"$base/v$id"
        merged.write.mode("overwrite").parquet(path)
        last = Some(path)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(last.getOrElse(sys.error("no upsert batch ran")))
      .orderBy("user_id", "event_type")
  }

  /** Driver-contract batch anchor for the stream-stream join: the same
    * pair-grain attribution computed relationally with the bucketed
    * range-join shape (purchases exploded to their 2 candidate epoch-hour
    * buckets → equi-join on (user, bucket) → exact µs range filter; a
    * click's bucket is unique, so no pair duplicates). StreamingSpec
    * proves the streamed join emits exactly this pair set. */
  def purchaseClickPairs(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000 * 1000
    val ev = graft.Tables.eventsUs(spark, dir)
      .select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_us"))
      .withColumn("bucket", explode(array(
        expr(s"p_us div $hourUs"), expr(s"p_us div $hourUs + 1"))))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("c_us"))
      .withColumn("bucket", expr(s"c_us div $hourUs"))
    purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_us") > col("p_us") && col("c_us") <= col("p_us") + lit(hourUs))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        (col("c_us") - col("p_us")).as("gap_us"))
      .orderBy("purchase_id", "click_id")
  }

  final case class Event(user_id: Long, event_time: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, events: Int, total: Double)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
                           events: Int, total_value: Double)

  /** Stateful sessionization via flatMapGroupsWithState: a session closes
    * after 30 minutes of inactivity (processing-time timeout drives state
    * expiry; with AvailableNow the final batch flushes open sessions on
    * timeout after the source drains). State per user is one fixed-size
    * record — bounded regardless of stream length. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get; state.remove()
            Iterator(Session(userId, s.start, s.last, s.events, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.event_time.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.event_time.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.events + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, s.start, s.last, s.events, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Relational (batch/window) sessionization — the same 30-minute-gap
    * rule as [[sessionize]] expressed with lag + cumulative sum, giving the
    * driver gate an oracle-checkable form and the spec a cross-check of
    * the stateful path. µs precision to match the oracle's timestamps. */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000 * 1000
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    graft.Tables.eventsUs(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id")
      .agg(
        max("session_id").as("sessions"),
        count(lit(1)).as("events"))
      .orderBy("user_id")
  }

  /** Batch SESSION ASSEMBLY at session grain — the table downstream
    * feature pipelines consume (one row per session: bounds, duration,
    * event count, exact value sum), where [[sessionCounts]] only reports
    * the per-user rollup. Same 30-minute-gap rule as [[sessionize]]
    * (StreamingSpec proves the rollup of this table equals
    * [[sessionCounts]] row-for-row).
    *
    * Scale shape: ONE hash exchange on user_id total. The lag +
    * running-sum windows partition by user_id, and the session aggregate
    * groups by (user_id, session_idx) — a superset of the window's
    * partitioning keys, so `EnsureRequirements` reuses the exchange
    * (hash(user_id) already clusters every (user_id, session_idx) group;
    * PlanSpec asserts the single-exchange plan). Per-user state inside a
    * task is one partition's rows, never the corpus. The value sum is the
    * exact-decimal discipline (order-independent, oracle-portable). */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000 * 1000
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    graft.Tables.eventsUs(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_idx", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("events"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"),
        round(sum(col("value").cast("decimal(18,6)")), 4)
          .cast("double").as("total_value"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
      .select("user_id", "session_idx", "events", "start_us", "end_us",
        "duration_us", "total_value")
      .orderBy("user_id", "session_idx")
  }

  /** Run the windowed aggregation with AvailableNow into a memory sink and
    * return the collected result. Complete mode: every window emits its
    * final value once the source drains. */
  def runWindowedAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(windowedCounts(readEvents(spark, dir)), "graft_windowed", "complete")

  // ---------------------------------------------------------------------
  // w08: STREAMING ingest dedup against a static signature index — the
  // streaming twin of the batch incremental near-dup (d22's
  // delta-vs-index half), as the in-flight guard a continuous
  // training-data feed runs at the ingest line.
  // ---------------------------------------------------------------------

  /** documents.parquet schema, declared for the file-source stream. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** STATIC side: the persisted signature index — min doc_id per LSH
    * band bucket over everything already ingested (md5 bucket != 'f').
    * At 100 TB this table is written once at ingest (d22 stores the same
    * artifact); consulting only the bucket MINIMUM is exact for the
    * "does an OLDER index doc share this bucket" question: if any index
    * doc in the bucket is older than the arrival, so is the minimum. */
  def indexBandMins(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.MinHashSigs.register(spark)
    val sig = graft.ops.Dedup.docShingles(spark, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 1))
      .filter(col("bucket") =!= "f" && col("n") > 0)
      .select(col("doc_id"), expr("minhash_sigs(shingles, 8)").as("sig"))
    sig.selectExpr("doc_id",
      """stack(4, 0, concat(sig[0], sig[1]), 1, concat(sig[2], sig[3]),
        |         2, concat(sig[4], sig[5]), 3, concat(sig[6], sig[7])) as (band, bkey)
        |""".stripMargin.replaceAll("\n", " "))
      .groupBy("band", "bkey").agg(min("doc_id").as("bmin"))
  }

  /** Probe bucket of a band key: band (0..3) × a crc32 nibble of the
    * key — 64 index partitions, so pruning is observable at test SFs
    * and any probe's bucket list is bounded BY BUCKET SPACE (≤64 values
    * in code, whatever the corpus or batch size). Production sizes the
    * bucket count so a partition is a row-group-sized file set. */
  private[graft] def bandBucket(band: org.apache.spark.sql.Column,
                                bkey: org.apache.spark.sql.Column) =
    (band * 16 + pmod(crc32(bkey.cast("binary")), lit(16))).cast("int")

  /** [[bandBucket]] replayed on the driver for a literal key list —
    * java.util.zip.CRC32 is the same CRC-32 Spark's `crc32` computes. */
  private[graft] def bandBucketOf(band: Int, bkey: String): Int = {
    val c = new java.util.zip.CRC32()
    c.update(bkey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    band * 16 + (c.getValue % 16).toInt
  }

  /** The band-min index as a PERSISTED, PROBE-PRUNABLE artifact (VERDICT
    * r12 item 4): [[indexBandMins]] in the store's bucketed layout under
    * [[bandBucket]]. At 100 TB this is written once at ingest (the
    * docstring's claim, now an actual artifact); w08's stream-static
    * join reads it instead of re-deriving corpus signatures per run, and
    * w19's per-batch probe prunes to the batch's buckets. */
  def bandIndexPath(spark: SparkSession, dir: String): String =
    ArtifactStore.IndexStore.landBucketed(dir, "bandindex",
        bandBucket(col("band"), col("bkey")), "band", "bkey") {
      indexBandMins(spark, dir)
    }

  /** Pruned point-probe of the band-min index — the serving access
    * pattern (an ingest node asking "which of these buckets hold an
    * older doc?"): partition filter on the keys' buckets + pushed In on
    * the keys, reading O(|keys|) buckets whatever the index size
    * (PlanSpec pins files-read, like the s29/f18 pins). */
  def bandFetch(spark: SparkSession, dir: String,
                keys: Seq[(Int, String)]): DataFrame = {
    val ks = keys.map(_._2).distinct.sorted
    val pairs = keys.map { case (b, k) => s"$b|$k" }.distinct.sorted
    // bucket prune + bkey pushdown reach the scan; the exact (band,
    // bkey) pair filter runs post-scan so a same-key-different-band
    // row can never leak through
    ArtifactStore.fetchBuckets(spark, bandIndexPath(spark, dir),
      keys.map { case (b, k) => bandBucketOf(b, k) },
      col("bkey").isin(ks: _*) &&
        concat_ws("|", col("band"), col("bkey")).isin(pairs: _*))
  }

  /** (doc_id, band, bkey) LSH band keys of every shingled document —
    * the per-row half of [[indexBandMins]], reusable over a streamed
    * micro-batch frame. */
  def bandKeysOf(arrivals: DataFrame): DataFrame =
    // shingle-emptiness pre-filtered on the CHEAP equivalent predicate:
    // n > 0 ⟺ the doc has ≥ 3 tokens (a 3-gram exists iff toks ≥ 3, and
    // distinct concat strings are non-empty). Filtering on the DERIVED
    // `n` let predicate pushdown drag the whole shingle transform below
    // w12's fan-out exchange — the full array built per row on the map
    // side just to be size-tested, then rebuilt above (guide §4.4's
    // duplicated-evaluation trap, JVM-expression flavor; measured 3.9 s
    // single-task map stage on a 594 KB scan).
    graft.ops.Dedup.withShinglesOf(
        arrivals.filter(size(split(col("text"), " ")) >= 3))
      .select(col("doc_id"), expr("minhash_sigs(shingles, 8)").as("sig"))
      .selectExpr("doc_id",
        """stack(4, 0, concat(sig[0], sig[1]), 1, concat(sig[2], sig[3]),
          |         2, concat(sig[4], sig[5]), 3, concat(sig[6], sig[7])) as (band, bkey)
          |""".stripMargin.replaceAll("\n", " "))

  /** Micro-batches between [[compactBandIndex]] folds of the delta log. */
  val IndexCompactEvery = 4

  /** Append one micro-batch's band-minima delta to the index generation
    * dir — per-batch sink I/O is O(delta): only the batch's own bucket
    * minima are written, as new files, and nothing existing is re-read
    * or rewritten. */
  def appendBandDelta(delta: DataFrame, genDir: String): Unit =
    delta.write.mode("append").parquet(genDir)

  /** MERGE-ON-READ view of a delta-log index generation: bucket minima
    * aggregated across every delta file. Sound because per-bucket MIN is
    * associative, commutative, AND idempotent — any append order, any
    * batch split, and even a replayed delta converge to the same index
    * (StreamingSpec proves split-invariance). */
  def readBandIndex(spark: SparkSession, genDir: String): DataFrame =
    spark.read.parquet(genDir)
      .groupBy("band", "bkey").agg(min("bmin").as("bmin"))

  /** Fold the accumulated deltas of `genDir` into a single file set (one
    * row per bucket), replacing the delta log — the periodic compaction
    * that bounds merge-on-read fan-in. Write-then-rename keeps a complete
    * generation visible at every instant (w07's poor-man's-commit). */
  def compactBandIndex(spark: SparkSession, genDir: String): Unit = {
    val tmp = s"$genDir.compacting"
    readBandIndex(spark, genDir).write.mode("overwrite").parquet(tmp)
    graft.sources.StaleOutputs.reset(genDir)
    if (!new java.io.File(tmp).renameTo(new java.io.File(genDir)))
      sys.error(s"band-index compaction swap failed for $genDir")
  }

  /** STREAMING INDEX MAINTENANCE (w12) — the UPDATER half of the ingest
    * line that [[ingestDedupStream]]'s probe side (w08) assumes exists:
    * each micro-batch of arriving documents computes its band keys and
    * APPENDS them raw to the index's delta log — the per-trigger plan is
    * fully narrow (no exchange); readers aggregate per-bucket MIN across
    * delta files
    * ([[readBandIndex]]), and every [[IndexCompactEvery]] batches the log
    * folds to one file set ([[compactBandIndex]]).
    *
    * Scale shape: the r6 form re-read and fully REWROTE the merged index
    * every micro-batch — per-batch I/O O(index), total I/O over a day of
    * triggers batches×index, a compaction anti-pattern at 100 TB. Here
    * per-batch I/O is O(delta) (VERDICT r6 item 2; StreamingSpec asserts
    * the appended bytes), amortized compaction adds O(index/K), and
    * because bucket-min is associative+commutative+idempotent the
    * delta-log view equals the batch build bit-for-bit, which is exactly
    * what the oracle computes. */
  def streamBandIndex(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.MinHashSigs.register(spark)
    val base = graft.sources.StaleOutputs.appDir(spark, "stream_index", dir)
    // min-merge is idempotent, so a re-run over the same feed would
    // converge even on top of the old log — reset anyway so repeated
    // bench passes don't grow the delta log without bound
    graft.sources.StaleOutputs.reset(base)
    val gen = s"$base/gen"
    @volatile var batches = 0
    val q = readDocuments(spark, dir)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        graft.functions.MinHashSigs.register(s)
        // RAW band keys, no per-batch groupBy: the min-merge happens at
        // read (and at compaction) anyway, so pre-aggregating the delta
        // only bought a shuffle inside the trigger. Raw append keeps the
        // whole per-trigger plan narrow (shingle → sig → stack → write)
        // — ingest runs at line rate; delta size is still O(batch)
        // (4 rows/doc), and compaction every [[IndexCompactEvery]]
        // batches bounds the read fan-in.
        // fanOut (guide §2.5): a micro-batch is small by definition, so
        // its file-source split count can be far below the cluster's
        // parallelism — at bench scale the WHOLE shingle+minhash trigger
        // ran on ONE task (r15 JobStats: w12 = 5 tasks / 4.9 s summed =
        // wall). The adaptive guard shuffles only batch-sized bytes and
        // passes a well-split production batch through untouched; the
        // bucket-min merge is split-invariant (StreamingSpec), so the
        // index is bit-identical.
        val delta = bandKeysOf(graft.Tables.fanOut(batch.toDF()))
          .select(col("band"), col("bkey"), col("doc_id").as("bmin"))
        appendBandDelta(delta, gen)
        batches += 1
        if (batches % IndexCompactEvery == 0) compactBandIndex(s, gen)
      }
      .start()
    q.awaitTermination()
    if (batches == 0) sys.error("no index batch ran")
    readBandIndex(spark, gen).orderBy("band", "bkey")
  }

  private val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("label", IntegerType),
    StructField("embedding", ArrayType(FloatType))))

  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(embeddingsSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)

  /** The per-batch half of the streaming ANN ingest (w20), exposed so
    * StreamingSpec can drive arbitrary batch slicings: this batch's
    * parent rows jitter into arrivals, beam-walk the FROZEN base index
    * (pruned point-reads — the r12 serve path), and their attach rows
    * APPEND to the delta log as new files. Per-batch sink I/O is
    * O(batch·M); nothing existing is re-read or rewritten, and no base
    * artifact is touched (an insert is never a rebuild). */
  def ingestAttachBatch(batch: DataFrame, dir: String, gen: String): Unit = {
    val parents = batch.filter(col("vec_id").between(10, 14))
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    if (parents.limit(1).count() > 0)
      graft.ops.Similarity.insertAttachOf(batch.sparkSession, dir, parents)
        .write.mode("append").parquet(gen)
  }

  /** STREAMING GRAPH-ANN INGEST (w20) — the w12 delta-log discipline
    * applied to the graph index's ATTACH LOG: arriving vectors fold into
    * the serving index as they land, each micro-batch paying only its own
    * arrivals' beam walks (the s33 insert rule — ONE walk + an M-row
    * append per arrival, never a rebuild) and appending the attach rows
    * to the log s34-style serving reads. Because every arrival's walk
    * depends ONLY on the frozen base index, the log is
    * SLICING-INVARIANT: any batch split of the same arrivals converges
    * to the same attach table (StreamingSpec proves 1-row slices ≡
    * all-at-once ≡ the batch s33), which is what makes the streamed
    * ingest exactly the batch insert, not an approximation of it.
    *
    * Scale shape: per trigger, O(batch) walk point-reads + O(batch·M)
    * appended rows; the base artifacts are immutable (spec-pinned); the
    * read side is a plain union of delta files — attach rows are
    * per-arrival disjoint, so no merge function is even needed (simpler
    * than w12's bucket-min). Compaction is s37's job. */
  def streamAnnIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.StaleOutputs.appDir(spark, "stream_annlog", dir)
    graft.sources.StaleOutputs.reset(base)
    val gen = s"$base/gen"
    @volatile var batches = 0
    val q = readEmbeddings(spark, dir)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        ingestAttachBatch(batch.toDF(), dir, gen)
        batches += 1
      }
      .start()
    q.awaitTermination()
    if (batches == 0) sys.error("no ingest batch ran")
    spark.read.parquet(gen).orderBy("arrival_id", "rnk")
  }

  /** The per-row half of the probe: arrival columns + sig + bk0..bk3.
    * Split out so w19's per-batch path can MATERIALIZE the keyed frame
    * once and share it between the bucket-list collects and the verdict
    * joins (shingling is the batch's dominant narrow cost — computing
    * it twice per trigger showed up whole at sf10). */
  private[graft] def bandKeyed(arrivals: DataFrame): DataFrame = {
    var keyed = graft.ops.Dedup.withShinglesOf(arrivals)
      .withColumn("sig",
        when(col("n") > 0, expr("minhash_sigs(shingles, 8)")))
    for (b <- 0 until 4)
      keyed = keyed.withColumn(s"bk$b",
        when(col("n") > 0, expr(s"concat(sig[${2 * b}], sig[${2 * b + 1}])")))
    keyed
  }

  /** The four per-band index joins over an already-keyed frame. */
  private def bandProbeJoins(keyed: DataFrame, idx: DataFrame): DataFrame = {
    var joined: DataFrame = keyed
    for (b <- 0 until 4)
      joined = joined.join(
        idx.filter(col("band") === b)
          .select(col("bkey").as(s"bk$b"), col("bmin").as(s"bmin$b")),
        Seq(s"bk$b"), "left")
    joined
  }

  /** The w08 probe chain with the 4 per-band index minima left-joined
    * on (exposed so w19's ledger can read the SAME probe as flags
    * instead of a filter). Keeps every arrival column. */
  def bandProbeOf(arrivals: DataFrame, idx: DataFrame): DataFrame =
    bandProbeJoins(bandKeyed(arrivals), idx)

  /** The guard as a frame-in/frame-out transform — identical plan for a
    * streaming or batch `arrivals` frame (StreamingSpec proves the two
    * agree row for row). */
  def ingestDedupOf(arrivals: DataFrame, idx: DataFrame): DataFrame =
    bandProbeOf(arrivals, idx)
      .filter((0 until 4)
        .map(b => col(s"bmin$b").isNull || col(s"bmin$b") > col("doc_id"))
        .reduce(_ && _))
      .select("doc_id", "lang", "n_chars")

  /** The in-flight dedup guard: each arriving document (md5 bucket 'f' —
    * the same arrival line as d19/d22) computes its MinHash band keys as
    * per-row expressions, and four stream-static hash joins probe the
    * index band table; the row is dropped the moment ANY band's bucket
    * holds an OLDER index doc. ZERO streaming state: no aggregation, no
    * watermark, no dedup buffer — the decision is per-row against the
    * static index, so the guard runs at line rate on an unbounded feed
    * (StreamingSpec asserts the state-free progress). This is the
    * recall-first gate: band collision without the exact-Jaccard verify
    * may drop a non-duplicate (the LSH false-positive rate); the nightly
    * batch pass (d22) is the exact form. Short docs (no shingles) carry
    * null band keys and always pass. */
  def ingestDedupStream(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.MinHashSigs.register(spark)
    // static side = the PERSISTED band-min artifact (VERDICT r12 item 4):
    // the stream-static join probes the standing table through its cached
    // file manifest instead of re-deriving corpus signatures every run
    ingestDedupOf(
      readDocuments(spark, dir)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "f"),
      ArtifactStore.relation(spark, bandIndexPath(spark, dir))
        .select("band", "bkey", "bmin"))
  }

  /** Run [[ingestDedupStream]] with AvailableNow into a memory sink.
    * Append mode: each surviving document emits exactly once; the result
    * is arrival-order-free (the keep decision is a pure per-row
    * function), so the driver oracle hash-matches it directly. */
  def runIngestDedupAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(ingestDedupStream(spark, dir), "graft_ingest_dedup", "append").orderBy("doc_id")

  /** STREAMING SKETCH MAINTENANCE (w09) — t29's count-min grid kept live
    * over the document feed. This is WHY sketches matter on streams: a
    * streaming exact word count holds one state row per distinct word —
    * unbounded, the state store grows with the vocabulary forever — while
    * the sketch aggregate's key space is the grid, so state is ≤
    * depth×width rows (2 K) on an UNBOUNDED stream, and every partition
    * map-side-combines to the same 2 K cells before the shuffle. No
    * watermark needed: the grid never expires, it converges. The final
    * grid equals the batch sketch bit-for-bit (counts are
    * arrival-order-free), so the driver oracle hash-matches the streamed
    * state directly — the same stream≡batch discipline as w01/w08. */
  def streamCmsCells(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.cmsCellPairs(docs)
      .groupBy("hrow", "bucket")
      .agg(count(lit(1)).as("cell_count"))

  /** Run [[streamCmsCells]] with AvailableNow into a memory sink.
    * Complete mode: the sink holds the whole (grid-sized) state each
    * commit — exactly the "publish the sketch" step a live pipeline
    * runs per trigger. */
  def runStreamCmsAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(streamCmsCells(readDocuments(spark, dir)),
      "graft_stream_cms", "complete").orderBy("hrow", "bucket")

  /** STREAM-STATIC ENRICHMENT (w11) — the canonical production join: an
    * unbounded event stream enriched against a bounded dimension table
    * (here the customer segment dim), then rolled up per (segment,
    * event_type). The dim side BROADCASTS — the stream never shuffles
    * before its map-side partial aggregation, so the join runs at line
    * rate on any stream volume; streaming state is the segments ×
    * event_types grid (bounded, converging — the w09 discipline), so no
    * watermark is needed and the settled Complete-mode result equals the
    * batch join bit-for-bit (count is exact; the value sum is the
    * exact-decimal discipline). At 100 TB/day the only scale knob is the
    * dim size staying under the broadcast threshold — a bigger dim
    * switches to a shuffled stream-static join with the same semantics. */
  def enrichedSegmentStats(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), Seq("user_id"))
      .groupBy("segment", "event_type")
      .agg(
        count(lit(1)).as("events"),
        round(sum(col("value").cast("decimal(18,6)")), 4)
          .cast("double").as("total_value"))

  /** The customer segment dimension keyed by the stream's user_id. */
  def segmentDim(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))

  /** Run [[enrichedSegmentStats]] as an AvailableNow stream into a
    * memory sink and return the settled grid, ordered. */
  def runEnrichAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(enrichedSegmentStats(readEvents(spark, dir), segmentDim(spark, dir)),
      "graft_enrich", "complete").orderBy("segment", "event_type")

  /** STREAM AS-OF SCD2 ENRICHMENT (w13) — the "dimension correctness at
    * event time" production join: arriving events (md5 bucket 'f', the
    * same arrival line as d19/d22/w08) probe the NIGHTLY-BUILT SCD2
    * dimension (q34's interval assembly over the history buckets) for
    * the state valid AT the event's own timestamp — `valid_from ≤ ts <
    * valid_to` — not the current state, which is how late or replayed
    * events get enriched correctly. LEFT join: an arrival before its
    * user's first history interval (or for a user history never saw)
    * passes through with a null state rather than being dropped.
    *
    * Scale shape: ZERO streaming state — the as-of decision is a pure
    * per-row probe of the static dim (w08's discipline), so the guard
    * runs at line rate on an unbounded feed; the dim broadcasts here and
    * falls back to a user_id-bucketed shuffled stream-static join when
    * it outgrows the threshold (w11's knob). The per-user intervals
    * partition time, so each arrival matches at most one dim row — the
    * join can't fan out. */
  def asOfEnrichStream(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.queries.Relational.scd2Of(
        graft.Tables.eventsUs(spark, dir)
          .filter(substring(md5(col("event_id").cast("string")), 1, 1) =!= "f"))
      .select(col("user_id").as("d_user"), col("state"),
        col("valid_from_us"), col("valid_to_us"))
    val arrivals = readEvents(spark, dir)
      .filter(substring(md5(col("event_id").cast("string")), 1, 1) === "f")
      .withColumn("ts_us", unix_micros(col("event_time")))
    arrivals.join(broadcast(dim),
        arrivals("user_id") === col("d_user") &&
          col("valid_from_us") <= col("ts_us") &&
          (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")),
        "left")
      .select(col("event_id"), arrivals("user_id"), col("event_type"),
        col("state").as("state_at"), col("valid_from_us").as("state_since_us"))
  }

  /** Run [[asOfEnrichStream]] with AvailableNow into a memory sink.
    * Append mode, arrival-order-free (the probe is a pure per-row
    * function of the static dim), so the driver oracle hash-matches the
    * sink directly. */
  def runAsOfEnrichAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(asOfEnrichStream(spark, dir), "graft_asof_enrich", "append").orderBy("event_id")

  /** NATIVE SESSION WINDOWS (w10) — the DECLARATIVE form of [[sessionize]]:
    * Spark's built-in `session_window` aggregate (dynamic-gap merging
    * windows) instead of hand-rolled flatMapGroupsWithState. Same
    * 30-minute rule, but state management, merge-on-overlap, and
    * watermark eviction come from the engine — the form to prefer in
    * production because it composes with any aggregate and needs no
    * user state code. Boundary semantics differ from the lag form at
    * exact-gap equality (windows [t, t+g) merge on OVERLAP, so a gap of
    * exactly g starts a NEW session — the oracle encodes `>=`).
    *
    * Watermark 0s: with AvailableNow the final watermark lands on the
    * max event time, so append mode emits every session whose window end
    * (last event + gap) has been passed; only sessions still open within
    * the trailing gap of the stream's very end stay in state — exactly
    * the sessions a live pipeline MUST hold, since the next batch could
    * extend them. The oracle applies the same cut relationally. */
  def sessionWindowStats(events: DataFrame): DataFrame =
    events
      .withWatermark("event_time", "0 seconds")
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
      .agg(
        count(lit(1)).as("events"),
        round(sum(col("value").cast("decimal(18,6)")), 4)
          .cast("double").as("total_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("events"), col("total_value"))

  def runSessionWindowAvailableNow(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(sessionWindowStats(readEvents(spark, dir)),
      "graft_session_win", "append").orderBy("user_id", "start_us")

  /** Dead-letter routing rule shared by the w15 stream and its oracle:
    * first matching rule wins. `value_outlier` models a bounds check,
    * `blocked_user` a broadcast blocklist probe (expressed arithmetically
    * so the oracle needs no side table). */
  def quarantineVerdict(events: DataFrame): DataFrame =
    events.withColumn("reason",
      when(col("value") > 300.0, lit("value_outlier"))
        .when(col("user_id") % 97 === 0, lit("blocked_user"))
        .otherwise(lit("ok")))

  /** STREAM QUARANTINE (w15) — validated ingest with a DEAD-LETTER
    * split, the multi-sink pattern every production feed runs: each
    * micro-batch is routed by [[quarantineVerdict]], clean rows append
    * to the main table and rejects append to a quarantine table WITH
    * their reason — rejects are preserved for replay/debugging, never
    * dropped. foreachBatch + an eagerly materialized batch gives the
    * two sinks one scan of the micro-batch (GC-scoped localCheckpoint,
    * not a leaked persist); per-trigger I/O is O(batch).
    *
    * The returned report re-reads BOTH sinks and aggregates per
    * (reason, event_type) — rows and the exact-decimal value sum — so
    * the oracle verifies the whole route→sink→scan path, and total rows
    * across verdicts must equal the feed (nothing lost, nothing
    * duplicated). Counts and decimal sums are commutative monoids, so
    * AvailableNow's batch slicing cannot change the answer (w14's
    * determinism stance). */
  def streamQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.StaleOutputs.appDir(spark, "quarantine", dir)
    graft.sources.StaleOutputs.reset(base)
    val good = s"$base/good"
    val dead = s"$base/dead"
    val routed = quarantineVerdict(readEvents(spark, dir))
      .select("event_id", "user_id", "event_type", "value", "reason")
    // Seed BOTH sinks with an explicit empty write of the routed schema:
    // a feed that yields zero micro-batches (or routes every row one way)
    // would otherwise leave a missing/schema-less directory and the
    // read-back below would throw AnalysisException (ADVICE r8). The
    // seed is one empty parquet file per sink — O(1), append-safe.
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), routed.schema)
    empty.write.mode("append").parquet(good)
    empty.write.mode("append").parquet(dead)
    val q = routed
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF().localCheckpoint() // eager: one scan, two sinks
        b.filter(col("reason") === "ok").write.mode("append").parquet(good)
        b.filter(col("reason") =!= "ok").write.mode("append").parquet(dead)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(good).unionByName(spark.read.parquet(dead))
      .groupBy("reason", "event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("value").cast("decimal(18,6)")), 4)
          .cast("double").as("value_sum"))
      .orderBy("reason", "event_type")
  }

  /** STREAM OBSERVABILITY (w14) — ingest SLO metrics via
    * `Dataset.observe` + `StreamingQueryProgress.observedMetrics`, the
    * production pattern for data-quality counters on an unbounded feed:
    * the metrics piggyback on the stream's own pass (observe plants an
    * accumulator-backed aggregate INSIDE the plan), so row counts, null
    * counts, exact value sums, and timestamp bounds cost ZERO extra
    * scans — where a naive quality job would re-read the feed, at 100 TB
    * a second pass is the difference between monitoring and not having
    * it.
    *
    * Determinism across batch splits: every observed metric is a
    * commutative monoid fold (count/sum/min/max), and the cross-batch
    * combine below folds the same monoids — so HOW AvailableNow slices
    * the backlog into micro-batches cannot change the answer. The value
    * sum follows the exact-decimal discipline (per-row DECIMAL(18,6),
    * rounded once at the final projection).
    *
    * The per-batch rows are collected by a [[StreamingQueryListener]]
    * registered for the run — the production metrics-bus shape, and the
    * only LOSSLESS one: `recentProgress` is a ring buffer capped at
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100), so an
    * AvailableNow backlog sliced into >100 micro-batches would silently
    * drop the oldest batches' metrics and undercount with no error
    * (ADVICE r8, medium). The listener bus delivers events per listener
    * IN ORDER, so once the run's QueryTerminatedEvent arrives every
    * progress event is already folded; batches are keyed by batchId so a
    * replayed progress event can't double-count. */
  def runObservedIngest(spark: SparkSession, dir: String): DataFrame = {
    val queryName = "graft_observed"
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener.{
      QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    val observed = readEvents(spark, dir).observe("ingest_slo",
      count(lit(1)).as("n_rows"),
      count(when(col("value").isNull, 1)).as("null_values"),
      sum(col("value").cast("decimal(18,6)")).as("value_sum"),
      min(unix_micros(col("event_time"))).as("min_ts_us"),
      max(unix_micros(col("event_time"))).as("max_ts_us"))
    val byBatch = new java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, org.apache.spark.sql.Row]()
    val terminated = new java.util.concurrent.CountDownLatch(1)
    // the runId is captured by onQueryStarted (matched by query name),
    // NOT assigned after start(): the bus delivers started → progress →
    // terminated in per-listener order, so the guard below can never see
    // a terminated event before the matching started event — whereas a
    // post-start() assignment races a tiny AvailableNow run's terminated
    // event and stalls the latch for the full timeout (ADVICE r9).
    @volatile var runId: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == queryName) runId = e.runId
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == queryName)
          Option(e.progress.observedMetrics.get("ingest_slo"))
            .foreach(r => byBatch.put(e.progress.batchId, r))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (runId != null && e.runId == runId) terminated.countDown()
    }
    spark.streams.addListener(listener)
    try {
      val q = observed.writeStream
        .format("noop")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the terminated event is posted after every progress event of the
      // run; waiting for it closes the async listener-bus window
      terminated.await(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    val batches = byBatch.values.asScala.toSeq
      .filter(_.getAs[Long]("n_rows") > 0L)
    val rows = batches.map(_.getAs[Long]("n_rows")).sum
    val nulls = batches.map(_.getAs[Long]("null_values")).sum
    val vsum = batches.map(r => BigDecimal(r.getAs[java.math.BigDecimal]("value_sum")))
      .foldLeft(BigDecimal(0))(_ + _)
    // empty feed ⇒ zero-row SLO report with NULL bounds, not a crash
    val minTs = if (batches.isEmpty) None
                else Some(batches.map(_.getAs[Long]("min_ts_us")).min)
    val maxTs = if (batches.isEmpty) None
                else Some(batches.map(_.getAs[Long]("max_ts_us")).max)
    import spark.implicits._
    Seq((rows, nulls,
        vsum.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        minTs, maxTs))
      .toDF("n_rows", "null_values", "value_sum", "min_ts_us", "max_ts_us")
  }

  /** Per-document verdict for the w16 streaming quality gate: t49's
    * Gopher flags (corpus-calibrated minStopwords=1, the same driver
    * stance as t49) with FIRST-FAILING-RULE attribution in the published
    * rule order — 'ok' when every rule passes. Pure per-row expressions
    * over the document alone, so the identical plan runs over a batch or
    * streaming frame (the ingestDedupOf discipline) and the verdict is
    * arrival-order-free. */
  def qualityGateVerdict(docs: DataFrame): DataFrame =
    graft.ops.TextAnalysis.gopherFlagsOf(docs, minStopwords = 1)
      .withColumn("reason",
        when(col("r_words") === 0, lit("too_few_words"))
          .when(col("r_mean_len") === 0, lit("word_length"))
          .when(col("r_symbol") === 0, lit("symbol_heavy"))
          .when(col("r_alpha") === 0, lit("non_alpha"))
          .when(col("r_stop") === 0, lit("no_stopwords"))
          .otherwise(lit("ok")))
      .select("doc_id", "lang", "n_words", "reason")

  /** STREAMING QUALITY GATE (w16) — the t49 rule filter applied IN
    * FLIGHT: arriving documents are scored and routed at ingest, the
    * production posture for web-crawl feeds (filter before you store —
    * at 100 TB, post-hoc filtering means having paid to land the
    * rejects). ZERO streaming state: no watermark, no aggregation, no
    * buffer inside the trigger — the verdict is a narrow per-row pass,
    * so the gate runs at line rate on an unbounded feed. The returned
    * report re-reads the routed sink and aggregates per (reason, lang);
    * counts and integer word sums are commutative monoids, so
    * AvailableNow's backlog slicing cannot change the answer (w14's
    * determinism stance), and total docs across reasons must equal the
    * feed — nothing lost, nothing duplicated. */
  def streamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.StaleOutputs.appDir(spark, "quality_gate", dir)
    graft.sources.StaleOutputs.reset(base)
    val out = s"$base/routed"
    val routed = qualityGateVerdict(readDocuments(spark, dir))
    // seed the sink with the routed schema (the w15 empty-feed lesson)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), routed.schema)
    empty.write.mode("append").parquet(out)
    val q = routed
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF().write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(out)
      .groupBy("reason", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("words_sum"))
      .orderBy("reason", "lang")
  }

  /** The w17 per-row scorer: t50's trained model EMBEDDED as a literal
    * decimal LUT inside one higher-order expression — score =
    * Σ_tokens lr[bucket(md5(token))] + prior, folded in DECIMAL so the
    * streamed score is bit-identical to t50's batch (doc, bucket)-grain
    * sum (decimal addition is order-independent). Pure per-row compute:
    * no join, no shuffle, no state — the model ships with the plan the
    * way a serving binary ships its weights. */
  def modelScoreVerdict(docs: DataFrame, lrs: Seq[String], prior: String): DataFrame = {
    val lrArr = "array(" +
      lrs.map(s => s"CAST($s AS DECIMAL(18,6))").mkString(", ") + ")"
    val decode = graft.ops.TextAnalysis.bucketDecodeSql("m")
    val scoreExpr =
      s"""aggregate(
         |  transform(split(text, ' '), t -> md5(t)),
         |  CAST(0 AS DECIMAL(28,6)),
         |  (acc, m) -> CAST(acc + element_at($lrArr,
         |    CAST(($decode) % 64 AS INT) + 1) AS DECIMAL(28,6)))
         |""".stripMargin.replaceAll("\n", " ")
    docs
      .withColumn("score",
        expr(scoreExpr) + expr(s"CAST($prior AS DECIMAL(18,6))"))
      .withColumn("predicted", (col("score") > 0).cast("int"))
      .select("doc_id", "lang", "score", "predicted")
  }

  /** STREAMING MODEL SERVING (w17) — the serving half of t50's
    * distillation: the quality model TRAINS batch-side (one corpus
    * pass, 64 lr values + a prior), then scores ARRIVING documents
    * in-flight (the md5-'f' arrival line — t50's own holdout, so the
    * streamed verdicts ARE t50's held-out predictions, spec-asserted
    * row for row). This is the production split every distilled filter
    * runs: train nightly at corpus scale, serve per-document at line
    * rate with the weights inlined — ZERO streaming state, no
    * stream-side join, nothing to rebalance when the feed spikes. The
    * report re-reads the routed sink and aggregates per (predicted,
    * lang); counts and exact-decimal score sums are commutative
    * monoids, so AvailableNow slicing cannot change it (w14's stance). */
  def streamModelScore(spark: SparkSession, dir: String): DataFrame = {
    val (lrs, prior) = graft.ops.TextAnalysis.distilledModel(spark, dir)
    val base = graft.sources.StaleOutputs.appDir(spark, "model_score", dir)
    graft.sources.StaleOutputs.reset(base)
    val out = s"$base/routed"
    val scored = modelScoreVerdict(
      readDocuments(spark, dir)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "f"),
      lrs, prior)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), scored.schema)
    empty.write.mode("append").parquet(out)
    val q = scored
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF().write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(out)
      .groupBy("predicted", "lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum("score"), 4).cast("double").as("score_sum"))
      .orderBy("predicted", "lang")
  }

  /** The w18 drift math, batch-shaped: per-language Jensen–Shannon term
    * between the REFERENCE mix (the full corpus profile, frozen batch
    * side) and the post-gate survivor mix streamed in by
    * [[streamGateDrift]] — t32's exact JS expression sequence so both
    * engines fold the identical IEEE ops. Languages the gate wiped out
    * entirely still report (kept_n = 0, their q-term 0 by the JS zero
    * convention). */
  def gateDriftReport(docs: DataFrame, keptCounts: DataFrame): DataFrame = {
    val grid = docs.groupBy("lang").agg(count(lit(1)).as("ref_n"))
      .join(keptCounts, Seq("lang"), "left_outer")
      .withColumn("kept_n", coalesce(col("kept_n"), lit(0L)))
    val totals = grid.agg(sum("ref_n").as("ref_total"),
      sum("kept_n").as("kept_total"))
    val p = col("ref_n") / col("ref_total")
    val q = col("kept_n") / col("kept_total")
    val m = (p + q) / lit(2.0)
    val termP = when(col("ref_n") === 0, lit(0.0))
      .otherwise(p * log(p / m) / lit(2.0))
    val termQ = when(col("kept_n") === 0, lit(0.0))
      .otherwise(q * log(q / m) / lit(2.0))
    grid.crossJoin(broadcast(totals))
      .select(col("lang"), col("ref_n"), col("kept_n"),
        round(p, 6).as("ref_share"),
        round(q, 6).as("kept_share"),
        round(termP + termQ, 6).as("js_term"))
      .orderBy("lang")
  }

  /** STREAMING GATE-DRIFT MONITOR (w18) — does the in-flight quality
    * gate SKEW THE LANGUAGE MIX? Aggressive rule filters are known to
    * reject low-resource languages disproportionately (the documented
    * failure mode of English-calibrated heuristics), and a pipeline that
    * only discovers the skew at training time has already paid for the
    * corpus. This monitor rides w16's gate: each micro-batch appends its
    * survivors' per-language PARTIAL COUNTS to a sink — counts are a
    * commutative monoid, so AvailableNow's backlog slicing cannot change
    * the final answer (the w14 determinism stance) and the stream side
    * keeps ZERO state. The report then scores the streamed survivor mix
    * against the frozen reference profile (the corpus snapshot the gate
    * was calibrated on) with t32's per-language JS-divergence terms —
    * alerting is one `sum(js_term) > ε` over a #languages-sized frame.
    *
    * Scale shape: the stream side is w16's narrow per-row verdict plus a
    * per-batch #langs-row aggregate (map-side combine collapses each
    * batch before any exchange); the sink accumulates #langs × #batches
    * tiny rows; the reference profile is one batch aggregate computed
    * once. Nothing here grows with the corpus except the one narrow
    * verdict pass the gate already pays. */
  def streamGateDrift(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.StaleOutputs.appDir(spark, "gate_drift", dir)
    graft.sources.StaleOutputs.reset(base)
    val out = s"$base/kept_counts"
    val countsSchema = StructType(Seq(
      StructField("lang", StringType), StructField("n", LongType)))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), countsSchema)
    empty.write.mode("append").parquet(out)
    val q = qualityGateVerdict(readDocuments(spark, dir))
      .filter(col("reason") === "ok")
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.toDF().groupBy("lang").agg(count(lit(1)).as("n"))
          .write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()
    val keptCounts = spark.read.parquet(out)
      .groupBy("lang").agg(sum("n").as("kept_n"))
    gateDriftReport(graft.Tables.documents(spark, dir), keptCounts)
  }

  /** The w19 per-arrival verdict: t53's curation funnel evaluated IN
    * FLIGHT against the persisted ingest artifacts, one verdict per doc
    * in precedence order — `exact_dup` (normalized fingerprint already
    * in the fingerprint index, d19's artifact), `near_dup` (w08's
    * band-min probe says an OLDER index doc shares a bucket),
    * `quality_reject` (t49's rules at the w16 calibration), `landed`.
    * Pure per-row expressions plus left joins against two STATIC index
    * frames — no stream-stream join, no state, so the identical plan
    * runs over a batch or streaming frame and the verdict is
    * arrival-order-free. */
  def ingestLedgerVerdict(arrivals: DataFrame, fpIndex: DataFrame,
                          idx: DataFrame): DataFrame =
    ingestLedgerVerdictKeyed(
      bandKeyed(arrivals.withColumn("fp",
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))),
      fpIndex, idx)

  /** [[ingestLedgerVerdict]] over an ALREADY keyed-and-fingerprinted
    * frame — w19's per-batch path materializes the keyed frame once
    * (shingles + sigs + fp are the batch's dominant narrow cost) and
    * feeds both the bucket-list collects and this verdict from it. */
  private[graft] def ingestLedgerVerdictKeyed(
      keyed: DataFrame, fpIndex: DataFrame, idx: DataFrame): DataFrame = {
    val probed = bandProbeJoins(keyed, idx)
      .join(fpIndex.withColumn("fphit", lit(1)), Seq("fp"), "left")
    val near = (0 until 4)
      .map(b => col(s"bmin$b").isNotNull && col(s"bmin$b") < col("doc_id"))
      .reduce(_ || _)
    graft.ops.TextAnalysis.gopherFlagsOf(probed, minStopwords = 1)
      .withColumn("verdict",
        when(col("fphit") === 1, lit("exact_dup"))
          .when(near, lit("near_dup"))
          .when(col("keep") === 0, lit("quality_reject"))
          .otherwise(lit("landed")))
      .select("doc_id", "lang", "n_chars", "verdict")
  }

  /** The fingerprint index (d19's persisted artifact shape): distinct
    * normalized fingerprints of everything already ingested. The inline
    * derivation — the batch-mirror form specs compare against; the
    * stream itself probes d19's PERSISTED bucketed artifact. */
  def fpIndexOf(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) =!= "f")
      .select(md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
        .as("fp"))
      .distinct()

  /** The w19 per-batch index slices (VERDICT r12 item 4): BOTH standing
    * indexes pruned to the batch's probe buckets before the verdict
    * joins — the f18 serving discipline at the ingest line. The bucket
    * lists are bounded BY BUCKET SPACE in code (≤16 fingerprint
    * buckets, ≤64 band buckets), whatever the corpus or batch size;
    * pruning is sound because each bucket is a function of the probe
    * key, so index rows outside the batch's buckets cannot match any
    * batch key. */
  def prunedIngestIndexes(spark: SparkSession, dir: String,
                          keyed: DataFrame): (DataFrame, DataFrame) = {
    val fpBuckets = keyed
      .select(graft.ops.Dedup.fpBucket(col("fp")))
      .distinct().collect().map(_.getInt(0)).toSeq
    val fpIdx = ArtifactStore.fetchBuckets(spark,
        graft.ops.Dedup.fpIndexPath(spark, dir), fpBuckets, lit(true))
      .select("fp")
    val bandBuckets = keyed
      .selectExpr("stack(4, 0, bk0, 1, bk1, 2, bk2, 3, bk3) as (band, bkey)")
      .filter(col("bkey").isNotNull)
      .select(bandBucket(col("band"), col("bkey")))
      .distinct().collect().map(_.getInt(0)).toSeq
    val bandIdx = ArtifactStore.fetchBuckets(spark,
        bandIndexPath(spark, dir), bandBuckets, lit(true))
      .select("band", "bkey", "bmin")
    (fpIdx, bandIdx)
  }

  /** STREAMING INGEST LEDGER (w19) — the ingest dashboard: t53 answers
    * "what survived curation" for the corpus at rest; w19 answers it at
    * the INGEST LINE, per micro-batch, against the persisted index
    * artifacts (fingerprints, LSH band minima) and the in-flight
    * quality rules. Each micro-batch appends its per-(verdict, lang)
    * PARTIAL counts — counts and char sums are commutative monoids, so
    * AvailableNow's backlog slicing cannot change the final report (the
    * w14/w18 determinism stance) and the stream side keeps ZERO state.
    * At 100 TB the two index sides are the ingest line's standing
    * tables; the stream pays one narrow verdict pass per arrival plus a
    * #verdicts×#langs-row aggregate per trigger. */
  def streamIngestLedger(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.MinHashSigs.register(spark)
    val base = graft.sources.StaleOutputs.appDir(spark, "ingest_ledger", dir)
    graft.sources.StaleOutputs.reset(base)
    val out = s"$base/counts"
    val countsSchema = StructType(Seq(
      StructField("verdict", StringType), StructField("lang", StringType),
      StructField("n", LongType), StructField("chars", LongType)))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), countsSchema)
    empty.write.mode("append").parquet(out)
    // land both standing indexes BEFORE the stream starts — at the real
    // ingest line they are written once at ingest, not derived in-flight
    graft.ops.Dedup.fpIndexPath(spark, dir)
    bandIndexPath(spark, dir)
    val q = readDocuments(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
      .writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the verdict runs PER BATCH against bucket-pruned slices of the
        // persisted indexes (VERDICT r12 item 4): the probe reads only
        // the batch's buckets, never the corpus-sized index frames
        val s = batch.sparkSession
        graft.functions.MinHashSigs.register(s)
        // key the batch ONCE (shingles + sigs + fp are the trigger's
        // dominant narrow cost) and feed the bucket collects AND the
        // verdict from the materialized frame
        val keyed = bandKeyed(batch.toDF()
            .withColumn("fp", graft.ops.Dedup.normalizedFp))
          .localCheckpoint()
        val (fpIdx, bandIdx) = prunedIngestIndexes(s, dir, keyed)
        ingestLedgerVerdictKeyed(keyed, fpIdx, bandIdx)
          .groupBy("verdict", "lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
          .write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(out)
      .groupBy("verdict", "lang")
      .agg(sum("n").as("n_docs"), sum("chars").as("chars_sum"))
      .orderBy("verdict", "lang")
  }
}
