package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming surface: AvailableNow windowed aggregation equals the batch
  * plan on a static directory; sessionization closes sessions on gaps. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("AvailableNow windowed aggregation matches the batch equivalent") {
    val streamed = EventStream.runWindowedAvailableNow(spark, dir)
      .orderBy("window_start", "event_type").collect()
    val batch = EventStream.windowedCountsBatch(spark, dir)
      .orderBy("window_start", "event_type").collect()
    assert(streamed.length === batch.length)
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
    assert(streamed.map(_.getAs[Long]("events")).sum ===
      spark.read.parquet(s"$dir/events.parquet").count())
  }

  test("stream-static enrichment settles to the batch join rollup") {
    val streamed = EventStream.runEnrichAvailableNow(spark, dir).collect()
    val batch = EventStream.enrichedSegmentStats(
        graft.Tables.events(spark, dir), EventStream.segmentDim(spark, dir))
      .orderBy("segment", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("checkpoint recovery: a restarted stream processes ONLY the new " +
       "files and converges to the batch result") {
    import java.nio.file.{Files, Paths}
    val base = graft.TempDir("graft_ckpt_spec").toString
    val src = s"$base/events"; val ckpt = s"$base/checkpoint"; val out = s"$base/out"
    Files.createDirectories(Paths.get(src))
    val all = spark.read.parquet(s"$dir/events.parquet")
    // land the stream's input in two separate files (two "days" of feed)
    all.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$src/chunk=a")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(all.schema)
        .option("recursiveFileLookup", "true").parquet(src)
      val counts = stream
        .groupBy("event_type")
        .agg(count(lit(1)).as("events"))
      val q = counts.writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .start()
      q.awaitTermination()
    }
    runOnce() // run 1: processes chunk a, commits offsets to the checkpoint
    val afterA = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // second chunk arrives while the stream is DOWN
    all.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$src/chunk=b")
    runOnce() // run 2: restart from the checkpoint — only chunk b is new
    val afterB = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchTruth = all.groupBy("event_type").agg(count(lit(1)).as("events"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // run 1 saw exactly the even half; the restart converged to the whole
    val evenTruth = all.filter(col("event_id") % 2 === 0)
      .groupBy("event_type").agg(count(lit(1)).as("events"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterA === evenTruth)
    assert(afterB === batchTruth)
    // the recovered run resumed from committed offsets: its state carried
    // chunk a's counts rather than rescanning chunk a's file (afterB would
    // still be correct under a rescan, so ALSO check the offset log shows
    // two committed batches, not one restarted from scratch)
    val commits = new java.io.File(s"$ckpt/commits").list()
      .filterNot(_.endsWith(".tmp")).filterNot(_.startsWith("."))
    assert(commits.toSet === Set("0", "1"),
      s"expected exactly commits 0 and 1, got ${commits.mkString(",")}")
  }

  test("AvailableNow dedup keeps one first-seen event per key, same key set as batch") {
    val streamed = EventStream.runDedupAvailableNow(spark, dir).collect()
    val streamedKeys = streamed
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    // exactly one survivor per key
    assert(streamedKeys.length === streamedKeys.toSet.size)
    // same key set and total as the deterministic batch anchor
    val batch = EventStream.eventDedupCounts(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))).toSet
    assert(streamedKeys.toSet === batch)
    // every survivor is a real event (ids exist in the source)
    val ids = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed.map(_.getAs[Long]("event_id")).forall(ids.contains))
  }

  test("stream-stream interval join emits exactly the batch pair set") {
    val streamed = EventStream.runStreamJoinAvailableNow(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"),
        r.getAs[Long]("gap_us")))
    val batch = EventStream.purchaseClickPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"),
        r.getAs[Long]("gap_us")))
    assert(batch.nonEmpty, "testdata should contain clicks within 1h of purchases")
    // append-mode inner join: each qualifying pair exactly once, no dups
    assert(streamed.length === streamed.toSet.size)
    assert(streamed.toSet === batch.toSet)
  }

  test("stateful sessionize agrees with the window-based session counts") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val events = raw
      .select(col("user_id"),
        graft.Tables.eventTime(raw).as("event_time"),
        col("value"))
      .as[EventStream.Event]
    // Batch invocation emits only gap-CLOSED sessions; each user's trailing
    // session stays open in state — so closed = windowed sessions - 1.
    val closedPerUser = EventStream.sessionize(events).collect()
      .groupBy(_.user_id).map { case (u, ss) => u -> ss.length.toLong }
    val windowed = EventStream.sessionCounts(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("sessions")).toMap
    assert(windowed.nonEmpty)
    windowed.foreach { case (u, n) =>
      assert(closedPerUser.getOrElse(u, 0L) === n - 1,
        s"user $u: stateful closed ${closedPerUser.getOrElse(u, 0L)} vs windowed $n")
    }
  }

  test("upsert merge: any batch split converges to the single-shot state") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_type"),
        col("ts_us").as("last_ts_us"), col("event_id").as("last_event_id"),
        col("value").as("last_value"), lit(1L).as("n_updates"))
    val single = EventStream.upsertMerge(None, e)
      .orderBy("user_id", "event_type").collect()
    // split on event_id parity, merge in two steps — must converge
    val b1 = e.filter(col("last_event_id") % 2 === 0)
    val b2 = e.filter(col("last_event_id") % 2 === 1)
    val s1 = EventStream.upsertMerge(None, b1)
    val split = EventStream.upsertMerge(Some(s1), b2)
      .orderBy("user_id", "event_type").collect()
    assert(split.toSeq === single.toSeq)
    // winner really is the latest event per key
    val direct = graft.Tables.eventsUs(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(expr("max_by(event_id, struct(ts_us, event_id))").as("eid"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    single.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))
      assert((r.getAs[Long]("last_event_id"), r.getAs[Long]("n_updates")) === direct(k))
    }
  }

  test("streaming band index: any batch split converges to the batch build") {
    import org.apache.spark.sql.functions._
    graft.functions.MinHashSigs.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def mins(df: org.apache.spark.sql.DataFrame) =
      EventStream.bandKeysOf(df).groupBy("band", "bkey").agg(min("doc_id").as("bmin"))
    val single = mins(docs).orderBy("band", "bkey").collect()
    val merged = mins(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(mins(docs.filter(col("doc_id") % 2 === 1)))
      .groupBy("band", "bkey").agg(min("bmin").as("bmin"))
      .orderBy("band", "bkey").collect()
    assert(single.nonEmpty)
    assert(merged.map(_.toString).toSeq === single.map(_.toString).toSeq)
  }

  test("band index delta log: appends are O(delta) bytes, compaction folds " +
       "to the batch build") {
    import org.apache.spark.sql.functions._
    graft.functions.MinHashSigs.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def mins(df: org.apache.spark.sql.DataFrame) =
      EventStream.bandKeysOf(df).groupBy("band", "bkey").agg(min("doc_id").as("bmin"))
    val gen = graft.TempDir("graft_band_gen_spec").toString + "/gen"
    def bytesUnder(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else f.length()
      walk(new java.io.File(p))
    }
    // full-index write size: what the r6 design paid EVERY batch
    val fullDir = gen + "_full"
    mins(docs).write.parquet(fullDir)
    val fullBytes = bytesUnder(fullDir)
    // four quarter-corpus deltas appended to the log; each append may
    // write only ~its share, never a full-index rewrite
    val perBatch = (0 until 4).map { q =>
      val before = bytesUnder(gen)
      EventStream.appendBandDelta(mins(docs.filter(col("doc_id") % 4 === q)), gen)
      bytesUnder(gen) - before
    }
    assert(perBatch.forall(_ > 0))
    assert(perBatch.forall(_ < fullBytes),
      s"a delta append cost a full-index rewrite: $perBatch vs full $fullBytes")
    // merge-on-read over the log equals the single-shot batch build
    val viaLog = EventStream.readBandIndex(spark, gen)
      .orderBy("band", "bkey").collect()
    val direct = mins(docs).orderBy("band", "bkey").collect()
    assert(viaLog.map(_.toString).toSeq === direct.map(_.toString).toSeq)
    // compaction folds the 4-delta log into one generation, same answer,
    // strictly fewer bytes than the accumulated log
    val logBytes = bytesUnder(gen)
    EventStream.compactBandIndex(spark, gen)
    val compacted = EventStream.readBandIndex(spark, gen)
      .orderBy("band", "bkey").collect()
    assert(compacted.map(_.toString).toSeq === direct.map(_.toString).toSeq)
    assert(bytesUnder(gen) < logBytes,
      s"compaction did not shrink the log: ${bytesUnder(gen)} vs $logBytes")
  }

  test("streaming ingest dedup: state-free, equals the batch guard row for row") {
    import org.apache.spark.sql.functions._
    graft.functions.MinHashSigs.register(spark)
    // streaming run, keeping a handle on the query to inspect progress
    val q = EventStream.ingestDedupStream(spark, dir)
      .writeStream.format("memory").queryName("ingest_dedup_spec")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // ZERO streaming state: no aggregation, no watermark, no dedup
    // buffer — the property that lets the guard run at line rate forever
    val progresses = q.recentProgress
    assert(progresses.nonEmpty)
    assert(progresses.forall(_.stateOperators.isEmpty),
      "ingest guard accumulated streaming state")
    val streamed = spark.table("ingest_dedup_spec")
      .collect().map(_.getLong(0)).toSet
    // batch mirror: same transform over a batch read of the same files
    val batchArrivals = spark.read.parquet(s"$dir/documents.parquet")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
    val batch = EventStream.ingestDedupOf(batchArrivals,
      EventStream.indexBandMins(spark, dir))
      .collect().map(_.getLong(0)).toSet
    assert(streamed === batch)
  }

  test("streaming as-of SCD2 enrichment: state-free, interval-exact, " +
       "pre-history arrivals survive with null state") {
    import org.apache.spark.sql.functions._
    val q = EventStream.asOfEnrichStream(spark, dir)
      .writeStream.format("memory").queryName("asof_enrich_spec")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the as-of decision is a pure per-row probe of the static dim —
    // zero streaming state, the w08 line-rate property
    assert(q.recentProgress.nonEmpty)
    assert(q.recentProgress.forall(_.stateOperators.isEmpty),
      "as-of enrichment accumulated streaming state")
    val rows = spark.table("asof_enrich_spec").collect()
    // the per-user intervals partition time: exactly one output row per
    // arrival (the left join cannot fan out)
    val arrivals = spark.read.parquet(s"$dir/events.parquet")
      .filter(substring(md5(col("event_id").cast("string")), 1, 1) === "f")
      .count()
    assert(rows.length.toLong === arrivals)
    // interval semantics, checked independently against the dim frame:
    // every enriched row's state must be the dim row covering its ts
    val dim = graft.queries.Relational.scd2Of(
        graft.Tables.eventsUs(spark, dir)
          .filter(substring(md5(col("event_id").cast("string")), 1, 1) =!= "f"))
      .collect()
      .groupBy(_.getAs[Long]("user_id"))
    val ts = graft.Tables.eventsUs(spark, dir)
      .select("event_id", "ts_us").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var nulls = 0
    rows.foreach { r =>
      val user = r.getAs[Long]("user_id")
      val t = ts(r.getAs[Long]("event_id"))
      val expected = dim.getOrElse(user, Array.empty).find { d =>
        d.getAs[Long]("valid_from_us") <= t &&
          (d.isNullAt(d.fieldIndex("valid_to_us")) ||
            t < d.getAs[Long]("valid_to_us"))
      }
      expected match {
        case Some(d) =>
          assert(r.getAs[String]("state_at") === d.getAs[String]("state"))
          assert(r.getAs[Long]("state_since_us") === d.getAs[Long]("valid_from_us"))
        case None =>
          nulls += 1
          assert(r.isNullAt(r.fieldIndex("state_at")),
            "arrival outside every interval must carry a null state")
      }
    }
    // nulls (pre-history arrivals) are corpus-dependent: none exist at
    // sf0.001; when they do occur the None branch above pins the null
    assert(nulls >= 0)
  }

  test("streaming sketch: grid-bounded state, equals the batch sketch") {
    import org.apache.spark.sql.functions._
    val q = EventStream.streamCmsCells(EventStream.readDocuments(spark, dir))
      .writeStream.format("memory").queryName("stream_cms_spec")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the whole point: streaming state is the GRID, bounded by
    // depth×width = 2048 rows no matter how long the stream runs
    val stateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal)
    assert(stateRows.nonEmpty, "sketch aggregate should be stateful")
    assert(stateRows.forall(_ <= 4 * 512),
      s"sketch state exceeded the grid: $stateRows")
    // the streamed grid equals the batch grid bit-for-bit (counts are
    // arrival-order-free)
    val streamed = spark.table("stream_cms_spec")
      .orderBy("hrow", "bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.ops.TextAnalysis
      .cmsCellPairs(spark.read.parquet(s"$dir/documents.parquet"))
      .groupBy("hrow", "bucket").agg(count(lit(1)).as("cell_count"))
      .orderBy("hrow", "bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed === batch)
  }

  test("streaming upsert equals the settled batch state") {
    val streamed = EventStream.streamUpsertLatest(spark, dir).collect()
    val e = graft.Tables.eventsUs(spark, dir)
    import org.apache.spark.sql.functions._
    val anchor = e.groupBy("user_id", "event_type")
      .agg(max(col("ts_us")).as("last_ts_us"),
        expr("max_by(event_id, struct(ts_us, event_id))").as("last_event_id"),
        expr("max_by(value, struct(ts_us, event_id))").as("last_value"),
        count(lit(1)).as("n_updates"))
      .orderBy("user_id", "event_type").collect()
    assert(streamed.map(_.toString).toSeq === anchor.map(_.toString).toSeq)
  }

  test("session-grain stats roll up to the per-user session counts") {
    import org.apache.spark.sql.functions._
    val stats = EventStream.sessionStats(spark, dir)
    val rolled = stats.groupBy("user_id")
      .agg(max("session_idx").as("sessions"), sum("events").as("events"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("sessions"), r.getAs[Long]("events"))).toMap
    val counts = EventStream.sessionCounts(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("sessions"), r.getAs[Long]("events"))).toMap
    assert(rolled === counts)
    // adjacent sessions of one user are separated by MORE than the gap,
    // and events inside a session by at most the gap (the splitting rule)
    val gapUs = 30L * 60 * 1000 * 1000
    stats.collect().groupBy(_.getAs[Long]("user_id")).values.foreach { ss =>
      ss.sortBy(_.getAs[Long]("session_idx")).sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_us") - a.getAs[Long]("end_us") > gapUs)
        case _ =>
      }
    }
  }

  test("sessionization: gap splits sessions, totals preserved") {
    val s = spark; import s.implicits._
    def ev(uid: Long, minute: Long, v: Double) = EventStream.Event(
      uid, new java.sql.Timestamp(minute * 60000L), v)
    // user 1: events at t=0,10 then gap > 30min then t=60 → two sessions
    // user 2: single event → one session
    val input = Seq(ev(1, 0, 1.0), ev(1, 10, 2.0), ev(1, 60, 4.0), ev(2, 5, 8.0))
    // In batch (single invocation per group), only gap-closed sessions are
    // emitted; the trailing open session stays in state awaiting timeout.
    val sessions = EventStream.sessionize(input.toDS()).collect()
    val u1 = sessions.filter(_.user_id == 1)
    assert(u1.length === 1) // first session closed by the 50-minute gap
    assert(u1(0).events === 2 && u1(0).total_value === 3.0)
    assert(u1(0).start_ms === 0L && u1(0).end_ms === 10 * 60000L)
    assert(sessions.count(_.user_id == 2) === 0) // still open, in state
  }

  test("observed ingest SLO: the piggybacked metrics equal the direct " +
       "batch aggregates — no second pass needed to get them right") {
    val metrics = EventStream.runObservedIngest(spark, dir).collect()
    assert(metrics.length === 1)
    val m = metrics(0)
    val direct = graft.Tables.eventsUs(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("value").isNull, 1)).as("null_values"),
        round(sum(col("value").cast("decimal(18,6)")), 4)
          .cast("double").as("value_sum"),
        min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us"))
      .collect()(0)
    assert(m.getAs[Long]("n_rows") === direct.getAs[Long]("n_rows"))
    assert(m.getAs[Long]("n_rows") > 0L)
    assert(m.getAs[Long]("null_values") === direct.getAs[Long]("null_values"))
    assert(m.getAs[Double]("value_sum") === direct.getAs[Double]("value_sum"))
    assert(m.getAs[Long]("min_ts_us") === direct.getAs[Long]("min_ts_us"))
    assert(m.getAs[Long]("max_ts_us") === direct.getAs[Long]("max_ts_us"))
  }

  test("w17 model serving: the per-row decimal fold reproduces t50's " +
    "batch predictions; the stream is state-free and equals batch row for row") {
    val (lrs, pr) = graft.ops.TextAnalysis.distilledModel(spark, dir)
    assert(lrs.size === 64)
    def arrivals(df: org.apache.spark.sql.DataFrame) =
      df.filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
    val batch = EventStream.modelScoreVerdict(
        arrivals(spark.read.parquet(s"$dir/documents.parquet")), lrs, pr)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("predicted"),
        r.getAs[java.math.BigDecimal]("score").toPlainString)).toSet
    // the serving fold must reproduce the training-side batch predictions
    val t50 = graft.ops.TextAnalysis
      .distilledScoresOf(graft.Tables.documents(spark, dir))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("predicted")).toMap
    assert(batch.map(x => x._1 -> x._2).toMap === t50,
      "per-row serving fold must equal t50's (doc, bucket)-sum decisions")
    // streaming run: identical rows, ZERO streaming state
    val q = EventStream.modelScoreVerdict(
        arrivals(EventStream.readDocuments(spark, dir)), lrs, pr)
      .writeStream.format("memory").queryName("w17_spec")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.nonEmpty)
    assert(q.recentProgress.forall(_.stateOperators.isEmpty),
      "the serving scorer accumulated streaming state")
    val streamed = spark.table("w17_spec").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("predicted"),
        r.getAs[java.math.BigDecimal]("score").toPlainString)).toSet
    assert(streamed === batch)
  }

  test("streaming quality gate: equals the batch verdict rollup, " +
    "conserves the feed, attributes one reason per doc") {
    val report = EventStream.streamQualityGate(spark, dir).collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // batch mirror: the SAME verdict transform over a batch read
    val batch = EventStream.qualityGateVerdict(docs)
      .groupBy("reason", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("words_sum"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val streamed = report
      .map(r => (r.getAs[String]("reason"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("words_sum"))).toMap
    assert(streamed === batch,
      "stream route->sink->scan must equal the batch verdict rollup")
    // conservation: one reason per doc, nothing lost or duplicated
    assert(report.map(_.getAs[Long]("n_docs")).sum === docs.count())
  }

  test("streaming gate-drift monitor: equals the batch JS report (the " +
    "per-batch partial counts are a monoid), and the gate's skew is real") {
    val got = EventStream.streamGateDrift(spark, dir).collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val keptBatch = EventStream.qualityGateVerdict(docs)
      .filter(col("reason") === "ok")
      .groupBy("lang").agg(count(lit(1)).as("kept_n"))
    val batch = EventStream.gateDriftReport(docs, keptBatch).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(got.map(key).toSeq === batch.map(key).toSeq,
      "streamed survivor counts must fold to the batch drift report")
    // sanity: the gate keeps a subset, shares each sum to 1 (rounded)
    got.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    assert(math.abs(got.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    assert(math.abs(got.map(_.getDouble(4)).sum - 1.0) < 1e-4)
    // the monitor exists because filters skew the mix: on the testdata
    // at least one language's share must actually move
    assert(got.exists(r => r.getDouble(5) > 0.0),
      "planted corpus should show a nonzero drift term")
  }

  test("streaming ingest ledger: equals the batch verdict rollup " +
    "(monoid partial counts), conserves the arrival slice, and the " +
    "planted corpus exercises the dup verdicts") {
    import org.apache.spark.sql.functions.{md5, substring, sum => fsum}
    val got = EventStream.streamIngestLedger(spark, dir).collect()
    val arrivals = spark.read.parquet(s"$dir/documents.parquet")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
    val batch = EventStream.ingestLedgerVerdict(arrivals,
        EventStream.fpIndexOf(spark, dir),
        EventStream.indexBandMins(spark, dir))
      .groupBy("verdict", "lang")
      .agg(count(lit(1)).as("n_docs"), fsum("n_chars").as("chars_sum"))
      .orderBy("verdict", "lang").collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    assert(got.map(key).toSeq === batch.map(key).toSeq,
      "streamed ledger must equal the batch verdict rollup")
    assert(got.map(_.getLong(2)).sum === arrivals.count(),
      "one verdict per arrival — nothing lost, nothing duplicated")
    val verdicts = got.map(_.getString(0)).toSet
    assert(verdicts.contains("landed"))
    assert(verdicts.contains("near_dup") || verdicts.contains("exact_dup"),
      "planted corpus should surface at least one dup verdict at ingest")
  }

  test("w20 streamed attach log is SLICING-INVARIANT and equals the " +
       "batch insert: per-parent micro-batches, the one-shot stream, and " +
       "s33 all converge to the same table; no base artifact is touched") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("arrival_id", "nbr", "cosine", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val batch = rows(graft.ops.Similarity.graphAnnInsert(spark, dir))
    // snapshot THIS dir's base BUILD artifacts after the batch run built
    // them (restricted to the base tags so concurrently-running suites
    // creating unrelated artifacts — knnattach, pq, other corpora —
    // cannot race the assertion; suites run in parallel under sbt)
    def baseArtifacts: Set[String] = {
      val sfName = new java.io.File(dir).getName
      val base = new java.io.File(graft.sources.ArtifactStore.AnnStore.root)
      Option(base.listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty)
        .filter(n => n.contains(s"_${sfName}_") &&
          Seq("knngraph", "walkvec", "knnmedoid", "cents", "km")
            .exists(n.startsWith))
    }
    val before = baseArtifacts
    // drive the per-batch core with ONE-PARENT slices — the finest
    // slicing a file stream could ever deliver
    val gen = graft.TempDir("w20slices").toString + "/gen"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    (10L to 14L).foreach { p =>
      EventStream.ingestAttachBatch(
        emb.filter(col("vec_id") === p), dir, gen)
    }
    val sliced = rows(spark.read.parquet(gen))
    assert(sliced === batch,
      "one-parent-per-batch ingest diverged from the batch insert")
    // the production one-shot stream converges to the same log
    val streamed = rows(EventStream.streamAnnIngest(spark, dir))
    assert(streamed === batch,
      "streamed attach log diverged from the batch insert")
    assert(baseArtifacts === before,
      "streaming ingest touched a base index artifact — that is a rebuild")
  }
}
