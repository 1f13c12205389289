package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.etl.Pipeline
import graft.sources.{ArtifactStore, WarehouseSink}

/** One benchmark process. It sets up a session the way `graft.Bench`
  * does, runs one cold pass of a workload and then warm passes until its
  * time budget is spent, and writes the timings as one JSON file. Traced,
  * it also records spans around every call into a layer and the layer
  * counters of a SparkListener and a QueryExecutionListener.
  *
  * Arguments are `key=value`:
  *  - `workload`: `star_nightly` (input = raw CSV dir, `queries` = catalog
  *    surfaces) or any other name for a registry workload (input = table
  *    dir, `queries` = registered names);
  *  - `out`: result JSON path; `work`: scratch dir for sink output;
  *    `rows`: dir for the cold pass's result rows and oracle SQL;
  *  - `seconds`: measuring budget after set-up; `min_warm`: warm passes
  *    run even when the budget is spent;
  *  - `seed`: query-order seed; `cpus`; `trace` (0|1);
  *  - `spawned_at`: epoch seconds when the parent spawned this JVM, so
  *    set-up time includes JVM start. */
object PerfDriver {

  // ---------------------------------------------------------------- tracing

  /** Named long counters, updated from the listener thread and read
    * between queries. */
  final class Counters {
    private val c = new ConcurrentHashMap[String, AtomicLong]()
    def add(k: String, v: Long): Unit =
      c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
    def snapshot: Map[String, Long] = c.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 != 0)

  /** Scheduler, task and shuffle counters; task busy intervals for the
    * driver-idle measure; wall time of jobs whose tasks wrote output. */
  final class TaskListener(c: Counters) extends SparkListener {
    val busy = new ConcurrentLinkedQueue[(Long, Long)]()
    private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageJob = new ConcurrentHashMap[Int, Integer]()
    private val writeJobs = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c.add("jobs", 1)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStart.remove(e.jobId)
      if (writeJobs.remove(e.jobId) && t0 != null) c.add("write_job_ms", e.time - t0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      c.add("stages", 1)
      if (e.stageInfo.failureReason.isDefined) c.add("failed_stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      c.add("tasks", 1)
      busy.add((i.launchTime, i.finishTime))
      if (i.failed || i.killed) c.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        c.add("task_ms", m.executorRunTime)
        c.add("cpu_ns", m.executorCpuTime)
        c.add("gc_ms", m.jvmGCTime)
        // launch, deserialisation and result hand-back: the part of a
        // task's life the scheduler, not the operator, accounts for
        c.add("task_wait_ms", math.max(0L, i.duration - m.executorRunTime))
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        c.add("spill_bytes", m.diskBytesSpilled)
        c.add("input_bytes", m.inputMetrics.bytesRead)
        c.add("input_records", m.inputMetrics.recordsRead)
        val out = m.outputMetrics.bytesWritten
        c.add("output_bytes", out)
        if (out > 0) Option(stageJob.get(e.stageId)).foreach(j => writeJobs.add(j.intValue))
      }
    }
  }

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries, but not into a cached relation's build plan. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  /** The executed root with Sort, Project and the exchange/codegen
    * plumbing around them peeled off: an InMemoryTableScan here means
    * the query returned a memoised frame. */
  def resultRoot(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => resultRoot(a.executedPlan)
    case q: QueryStageExec => resultRoot(q.plan)
    case s: SortExec => resultRoot(s.child)
    case s: ProjectExec => resultRoot(s.child)
    case s: WholeStageCodegenExec => resultRoot(s.child)
    case s: InputAdapter => resultRoot(s.child)
    case s: ColumnarToRowExec => resultRoot(s.child)
    case s: AQEShuffleReadExec => resultRoot(s.child)
    case s: Exchange => resultRoot(s.child)
    case other => other
  }

  /** Catalyst phase time and cached-relation scans per executed query. */
  final class PlanListener(c: Counters) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      c.add("executions", 1)
      c.add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
      c.add("memo_scans", nodes(qe.executedPlan).count(_.isInstanceOf[InMemoryTableScanExec]))
    }
  }

  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, query: Int)

  // ------------------------------------------------------------ row output

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  // ------------------------------------------------------------------ files

  def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else if (f.isFile) Iterator(f) else Iterator.empty

  /** Published artifacts: `_SUCCESS` markers under the process tmp dir. */
  def published(tmp: File): Set[String] =
    walk(tmp).filter(_.getName == "_SUCCESS").map(_.getParent).toSet

  // ------------------------------------------------------------------- main

  final case class Sample(pass: Int, name: String, kind: String, builderS: Double,
                          actionS: Double, ok: Boolean, error: String, rows: Long,
                          counters: Map[String, Long])

  final case class Pass(index: Int, label: String, traced: Boolean, wallS: Double,
                        idleS: Double, cachedBytes: Long)

  /** A query's collected result, kept until its pass has ended. */
  final case class Result(name: String, schema: StructType, rows: Array[Row])

  def dirBytes(f: File): Long = walk(f).map(_.length()).sum

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = opt("cpus").toInt
    val work = new File(opt("work"))

    // ---- set-up: session, the production optimizer posture, one action
    val spawnedAt = opt("spawned_at").toDouble
    def since: Double = System.currentTimeMillis() / 1000.0 - spawnedAt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.RewriteDotProduct.install(spark)
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    val setupS = since

    val result = Map("setup_s" -> setupS) ++ measure(spark, opt)
    spark.stop()
    writeJson(new File(opt("out")), result)
  }

  def writeJson(f: File, v: Any): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)) finally w.close()
  }

  /** The cold pass, an untimed warm-up pass, then warm passes until
    * `seconds` have passed and at least `min_warm` ran. Traced, warm passes
    * alternate traced and untraced so one process gives both bases of the
    * tracing overhead. */
  def measure(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val workload = opt("workload")
    val input = opt("input")
    val work = new File(opt("work"))
    val seconds = opt("seconds").toDouble
    val minWarm = opt("min_warm").toInt
    val trace = opt("trace") == "1"
    val names = opt("queries").split(",").toSeq
    val rowsDir = new File(opt("rows"))
    val tmp = new File(sys.props("java.io.tmpdir"))
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(opt("seed").toLong)

    val counters = new Counters
    val tasks = new TaskListener(counters)
    val plans = new PlanListener(counters)
    var tracing = false
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      if (on) { sc.addSparkListener(tasks); spark.listenerManager.register(plans) }
      else { sc.removeSparkListener(tasks); spark.listenerManager.unregister(plans) }
      tracing = on
    }

    val t0 = System.nanoTime()
    def now: Long = System.nanoTime() - t0
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0
    def span[T](name: String, parent: Int, query: Int)(body: => T): (T, Long) = {
      val id = nextSpan; nextSpan += 1
      val s = now
      val r = body
      if (tracing) PerfBridge.drainListeners(sc)
      val e = now
      if (tracing) spans += Span(id, name, s, e, parent, query)
      (r, e - s)
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val coldDigest = mutable.Map.empty[String, String]
    val coldResults = mutable.ArrayBuffer.empty[Result]
    // (index of the sample, its result) for the pass that is running
    val passResults = mutable.ArrayBuffer.empty[(Int, Result)]
    var queryId = 0

    /** One timed call into a layer: the builder (everything before the
      * final action) and the action, each a span under one query span.
      * Its rows are kept for the checks that follow the pass. */
    def run(pass: Int, passSpan: Int, name: String, kind: String,
            build: () => DataFrame, action: DataFrame => Array[Row]): Unit = {
      queryId += 1
      val q = queryId
      val before = if (tracing) counters.snapshot else Map.empty[String, Long]
      val rddsBefore = if (tracing) sc.getPersistentRDDs.keySet else Set.empty[Int]
      val artBefore = if (tracing) published(tmp) else Set.empty[String]
      val fileT0 = System.currentTimeMillis()
      var builderNs, actionNs = 0L
      var out: Array[Row] = null
      var df: DataFrame = null
      val error = try {
        span(s"query:$name", passSpan, q) {
          val parent = nextSpan - 1
          val (d, bNs) = span(s"$kind.builder", parent, q)(build())
          df = d
          builderNs = bNs
          val (rows, aNs) = span(s"$kind.action", parent, q)(action(d))
          out = rows
          actionNs = aNs
        }
        ""
      } catch { case t: Throwable => s"${t.getClass.getName}: ${t.getMessage}".take(500) }
      var extra = Map.empty[String, Long]
      if (tracing) {
        PerfBridge.drainListeners(sc)
        val written = Seq(tmp, new File(work, "warehouse"))
          .flatMap(walk(_).filter(_.lastModified() >= fileT0)).size
        val rootScan = df != null && error.isEmpty &&
          resultRoot(df.queryExecution.executedPlan).isInstanceOf[InMemoryTableScanExec]
        extra = Map(
          "memo_builds" -> (sc.getPersistentRDDs.keySet -- rddsBefore).size.toLong,
          "artifact_builds" -> (published(tmp) -- artBefore).size.toLong,
          "files_written" -> written.toLong,
          "memo_root_scans" -> (if (rootScan) 1L else 0L))
      }
      val after = if (tracing) counters.snapshot else Map.empty[String, Long]
      if (error.isEmpty && df != null) passResults += ((samples.size, Result(name, df.schema, out)))
      samples += Sample(pass, name, kind, builderNs / 1e9, actionNs / 1e9, error.isEmpty,
        error, if (out == null) 0L else out.length.toLong, delta(after, before) ++ extra)
    }

    val collect: DataFrame => Array[Row] = _.collect()
    val nothing: DataFrame => Array[Row] = _ => Array.empty[Row]
    val registry =
      if (workload == "star_nightly") Map.empty[String, (SparkSession, String) => DataFrame]
      else SparkEntry.queries

    // the cold pass runs in the listed order, as a nightly job does; later
    // passes in a fresh seeded order each, as an analyst session does
    def order(index: Int): Seq[String] = if (index == 0) names else rnd.shuffle(names)

    def onePass(index: Int, label: String): Unit = {
      val wallStart = System.currentTimeMillis()
      val (_, ns) = span(s"pass:$label", -1, 0) {
        val passSpan = nextSpan - 1
        if (workload == "star_nightly") {
          var star: graft.etl.Warehouse.Star = null
          run(index, passSpan, "Pipeline.run", "etl.pipeline",
            () => { star = Pipeline.run(spark, input); null }, nothing)
          if (star != null && label == "landing") {
            run(index, passSpan, "WarehouseSink.write", "sources.write",
              () => { WarehouseSink.write(star, new File(work, "warehouse").getPath); null },
              nothing)
          } else if (star != null) {
            val catalog = Pipeline.queryCatalog(star, input)
            order(index).foreach(n => run(index, passSpan, n, "etl.catalog", catalog(n), collect))
          }
        } else {
          order(index).foreach { n =>
            run(index, passSpan, n, "query", () => registry(n)(spark, input), collect)
          }
        }
      }
      val wallEnd = System.currentTimeMillis()
      var idle = 0.0
      var cached = 0L
      if (tracing) {
        PerfBridge.drainListeners(sc)
        val iv = tasks.busy.asScala.toSeq
          .map { case (s, e) => (math.max(s, wallStart), math.min(e, wallEnd)) }
          .filter { case (s, e) => e > s }.sortBy(_._1)
        var covered = 0L
        var reach = wallStart
        iv.foreach { case (s, e) =>
          if (e > reach) { covered += e - math.max(s, reach); reach = e }
        }
        idle = (wallEnd - wallStart - covered) / 1e3
        cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
      tasks.busy.clear()
      passes += Pass(index, label, tracing, ns / 1e9, idle, cached)
      // outside the pass's time: the cold pass's rows are kept for the
      // oracle check, and a later pass whose rows differ from them fails
      passResults.foreach { case (i, r) =>
        val digest = sha1(r.rows.mkString("\n"))
        if (index == 0) { coldDigest(r.name) = digest; coldResults += r }
        else if (coldDigest.get(r.name).exists(_ != digest))
          samples(i) = samples(i).copy(ok = false, error = "result differs from the cold pass")
      }
      passResults.clear()
    }

    rowsDir.mkdirs()
    setTracing(trace)
    val measureStart = System.nanoTime()
    onePass(0, "cold")
    // the JIT keeps compiling through the first repeat of every query, so
    // one warm-up pass runs untimed before the warm passes
    setTracing(false)
    onePass(1, "warmup")
    var warm = 0
    while (warm < minWarm || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      warm += 1
      setTracing(trace && warm % 2 == 1)
      onePass(warm + 1, "warm")
    }
    // the nightly landing: too slow for every run's passes on a small
    // host, so only the traced run times it, after the measured passes
    if (trace && workload == "star_nightly") {
      setTracing(true)
      onePass(warm + 2, "landing")
    }
    setTracing(false)

    val status = scala.io.Source.fromFile("/proc/self/status")
    val vmhwmKb = try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L) finally status.close()
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val stores = Seq(ArtifactStore.AnnStore, ArtifactStore.IndexStore, ArtifactStore.BucketStore)

    val artifactBytes = stores.map(s => dirBytes(new File(s.root))).sum

    // the cold pass's results and the oracle SQL of every surface run, for
    // the out-of-process check
    coldResults.foreach { r =>
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.parquet(new File(rowsDir, r.name).getPath)
    }
    val oracle =
      if (workload == "star_nightly")
        graft.etl.RefOracles.sql.map { case (k, q) => k -> q.replace(Pipeline.DefaultRawDir, input) }
      else SparkEntry.oracleSql
    writeJson(new File(rowsDir, "oracle_sql.json"), oracle)

    Map(
      "vmhwm_kb" -> vmhwmKb,
      "heap_peak_bytes" -> heapPeak,
      "jvm_gc_ms" -> gcMs,
      "artifact_bytes" -> artifactBytes,
      "passes" -> passes.toList.map(p => Map("index" -> p.index, "label" -> p.label,
        "traced" -> p.traced, "wall_s" -> p.wallS, "idle_s" -> p.idleS,
        "cached_bytes" -> p.cachedBytes)),
      "samples" -> samples.toList.map(s => Map("pass" -> s.pass, "name" -> s.name,
        "kind" -> s.kind, "builder_s" -> s.builderS, "action_s" -> s.actionS, "ok" -> s.ok,
        "error" -> s.error, "rows" -> s.rows, "counters" -> s.counters)),
      "spans" -> spans.toList.map(s => Map("id" -> s.id, "name" -> s.name,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "parent" -> s.parent,
        "query" -> s.query)))
  }
}
