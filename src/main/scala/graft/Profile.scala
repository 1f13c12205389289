package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Diagnostic main: run each named query cold, then warm, in one session,
  * and print per query one row of the warm run's scheduler and executor
  * counters, one indented row per stage of each run naming the graft code
  * that submitted it (the cold run's rows show the memo, checkpoint and
  * artifact builds; `graft.Profile` marks the profiled `count()` itself),
  * and the warm run's formatted executed plan. Both timings include the
  * builder (eager checkpoints, fixpoint loops, memo builds, whole
  * streaming runs), as Bench times them. Wall
  * time far above task time / cores points at scheduling or builder-side
  * work rather than compute. No harness reads its output.
  *
  * Usage: Profile <sfDir> <query|ALL> [query ...]   (ALL = the registry
  * without the `ref_*` surfaces, which ignore sfDir)
  */
object Profile {

  /** Counters of the jobs that ran while a [[Collector]] was attached. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, taskS: Double,
                          gcS: Double, shuffleReadMB: Double,
                          shuffleWriteMB: Double, spillMB: Double,
                          stageRows: Seq[String])

  /** Listener-side job, stage and task counters of one SparkContext. It
    * attaches once the bus has delivered the events of earlier jobs, and
    * `read` drains the bus first, so it counts exactly the jobs submitted
    * in between. */
  final class Collector(sc: SparkContext) extends SparkListener {
    private val jobs, stages, tasks = new AtomicInteger
    private val taskMs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong
    private val stageRows = new ConcurrentLinkedQueue[String]
    // call sites by SQL execution and by stage; only the bus thread uses them
    private val execSites = mutable.Map.empty[Long, String]
    private val stageSites = mutable.Map.empty[Int, String]
    GraftListenerBridge.drain(sc)
    sc.addSparkListener(this)

    /** The innermost graft frame of a call site outside `SessionMemo`
      * (whose build `count()` is on every memo's stack): the code that ran it. */
    private def graftFrame(callSite: String): Option[String] =
      callSite.linesIterator.find(l => l.contains("graft.") && !l.contains("graft.SessionMemo"))
        .map(_.trim.take(80))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        graftFrame(x.details).orElse(x.rootExecutionId.flatMap(execSites.get))
          .foreach(execSites(x.executionId) = _)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // a stage AQE submits from its thread pool carries only pool frames
      // in its own call site; its job's SQL execution has the caller's
      for (p <- Option(e.properties);
           id <- Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY));
           site <- execSites.get(id.toLong); s <- e.stageIds)
        stageSites(s) = site
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val si = e.stageInfo
      val tm = Option(si.taskMetrics)
      val site = graftFrame(si.details).orElse(stageSites.get(si.stageId)).getOrElse("")
      stageRows.add(f"stage ${si.stageId}%4d tasks=${si.numTasks}%4d " +
        f"taskt=${tm.fold(-1L)(_.executorRunTime) / 1e3}%7.2fs " +
        f"gc=${tm.fold(-1L)(_.jvmGCTime) / 1e3}%6.2fs ${si.name.take(60)} | $site")
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }

    def read(): Counts = {
      GraftListenerBridge.drain(sc)
      Counts(jobs.get, stages.get, tasks.get, taskMs.get / 1e3, gcMs.get / 1e3,
        shuffleRead.get / 1e6, shuffleWrite.get / 1e6, spill.get / 1e6,
        stageRows.asScala.toSeq)
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** One query's profile; `plan` is the warm run's. */
  final case class Result(coldS: Double, warmS: Double, rows: Long,
                          cold: Counts, warm: Counts, plan: String)

  def profile(spark: SparkSession, sfDir: String, name: String): Result = {
    val query = SparkEntry.queries(name)
    def run(): (DataFrame, Long, Double, Counts) = {
      val collector = new Collector(spark.sparkContext)
      try {
        val t0 = System.nanoTime()
        val df = query(spark, sfDir)
        val rows = df.count()
        (df, rows, (System.nanoTime() - t0) / 1e9, collector.read())
      } finally collector.close()
    }
    val (_, _, coldS, cold) = run()
    val (df, rows, warmS, warm) = run()
    Result(coldS, warmS, rows, cold, warm, df.queryExecution.explainString(FormattedMode))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args.toSeq.drop(1) == Seq("ALL"))
        SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("ref_"))
      else args.toSeq.drop(1)
    val spark = GraftSession.local()
    println(f"${"query"}%-28s ${"warm_s"}%8s ${"cold_s"}%8s ${"rows"}%9s ${"jobs"}%5s " +
      f"${"stg"}%5s ${"tasks"}%6s ${"taskt_s"}%8s ${"gc_s"}%6s ${"shR_MB"}%7s " +
      f"${"shW_MB"}%7s ${"spill_MB"}%8s")
    names.foreach { name =>
      try {
        val r = profile(spark, sfDir, name)
        val c = r.warm
        println(f"$name%-28s ${r.warmS}%8.2f ${r.coldS}%8.2f ${r.rows}%9d ${c.jobs}%5d " +
          f"${c.stages}%5d ${c.tasks}%6d ${c.taskS}%8.2f ${c.gcS}%6.2f " +
          f"${c.shuffleReadMB}%7.1f ${c.shuffleWriteMB}%7.1f ${c.spillMB}%8.1f")
        r.cold.stageRows.foreach(row => println(s"    cold $row"))
        c.stageRows.foreach(row => println(s"    warm $row"))
        println(r.plan)
      } catch {
        case NonFatal(e) => println(s"ERR $name: ${e.toString.linesIterator.next()}")
      }
    }
    spark.stop()
  }
}
