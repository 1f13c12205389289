package graft.ops

import graft.Profile
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Action-count guard for the iterative connected-components loop: at
  * corpus scale every Spark action inside the loop is a pass over the
  * label table, so the loop must spend exactly ONE action per propagation
  * round (the lazy local checkpoint is materialized by the same aggregate
  * that reads the convergence flag). AQE is disabled for the session so
  * one action == one scheduled job and the count is deterministic. */
class JobCountSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      // corpus-scale shape: the label table never broadcasts (a broadcast
      // exchange is its own collect job and would muddy the action count)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("d16 CC loop: one Spark action per propagation round") {
    val s = spark; import s.implicits._
    // a 6-node chain 0-1-2-...-5: the min label moves one hop per round,
    // so the loop needs 5 propagation rounds + 1 no-change round — the
    // worst case per node count, which makes the job budget tight
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("d1", "d2")
    val jobs = new Profile.Collector(spark.sparkContext)
    try {
      val clusters = Dedup.dedupClustersOf(chain) // loop runs here
      val loopJobs = jobs.read().jobs
      // 1 job for the eager initial-labels checkpoint + 6 rounds × 1 job:
      // the round-3 shape (checkpoint + separate join-and-count) would
      // spend 13 — the budget below fails it
      assert(loopJobs <= 8, s"CC loop spent $loopJobs jobs for 6 rounds")
      // and the answer is still right: one component, labeled by its min
      val rows = clusters.collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq === (0L to 5L))
      assert(rows.forall(_.getLong(1) == 0L))
    } finally jobs.close()
  }

  test("s29 driver-beam walk: a steady serve spends a CONSTANT job " +
       "budget (entry + a fixed handful per hop — pruned point-reads " +
       "and local-frame broadcasts), independent of corpus size") {
    val dir = "/root/testdata/sf0.001"
    // warm: artifact builds, session memos, file-index cache
    Similarity.graphAnn(spark, dir).collect()
    val jobs = new Profile.Collector(spark.sparkContext)
    try {
      Similarity.graphAnn(spark, dir).collect()
      val steady = jobs.read().jobs
      // entry beam (collect + its broadcasts) + 4 hops × (adjacency
      // point-read collect + scored point-read collect + the expansion/
      // query local-frame broadcasts) + the result collect. The budget
      // fails a shape that adds a per-hop action (a separate isEmpty
      // probe, an eager per-hop checkpoint, a re-walked consumer) — at
      // serving scale every extra job is scheduler latency on the hot
      // path, and NOTHING here may scale with corpus size.
      // measured 26: 2 entry (localize + entry collect) + 4 hops × 2
      // point-read collects + the result collect, plus 1-task broadcast
      // micro-jobs for projected local frames. The number is a CONSTANT
      // of (hops, beam) — the assert is about corpus-independence and
      // catching a shape that adds per-hop actions, not about the
      // micro-job tail.
      info(s"steady s29 serve spent $steady jobs")
      assert(steady <= 28, s"steady s29 serve spent $steady jobs (≤28)")
    } finally jobs.close()
  }

  test("s42 batched serve: the job budget at 10× the queries is the " +
       "SAME constant as the 10-query walk — each hop stays exactly " +
       "two pruned point-reads whatever the batch size (the union of " +
       "per-query beams is an I/O batching, never a per-query loop)") {
    val dir = "/root/testdata/sf0.001"
    Similarity.batchedGraphAnn(spark, dir).collect() // warm
    val jobs = new Profile.Collector(spark.sparkContext)
    try {
      Similarity.batchedGraphAnn(spark, dir).collect()
      val steady = jobs.read().jobs
      info(s"steady s42 batched serve spent $steady jobs for " +
        s"${Similarity.BatchedServeQueries} queries")
      // s29's budget, unchanged: a shape that walked queries one at a
      // time would spend ~10× this (100 queries × per-hop actions)
      assert(steady <= 28,
        s"steady s42 batched serve spent $steady jobs (≤28) — the hop " +
          "loop is no longer batch-size-independent")
    } finally jobs.close()
  }

  test("g05 BFS loop: one Spark action per frontier round") {
    val s = spark; import s.implicits._
    // a 7-node path 0-1-...-6: eccentricity 6 from the seed, so the loop
    // needs 6 growing rounds + 1 empty round — one hop per round is the
    // worst case, which makes the job budget tight
    val chain = (0L until 6L).map(i => (i, i + 1)).toDF("p1", "p2")
    val jobs = new Profile.Collector(spark.sparkContext)
    try {
      val hist = GraphRank.bfsHopsOf(chain) // seed + loop run here
      val loopJobs = jobs.read().jobs
      // 1 seed/materialize job + 1 eager frontier checkpoint + 7 rounds ×
      // 1 job: a second action per round (e.g. a separate isEmpty probe)
      // would spend 16 — the budget below fails it
      assert(loopJobs <= 10, s"BFS loop spent $loopJobs jobs for 7 rounds")
      val rows = hist.collect()
      assert(rows.length === 7, "hop levels 0..6")
      rows.foreach { r =>
        val h = r.getAs[Int]("hop")
        assert(r.getAs[Long]("nodes") === 1L, s"hop $h")
        assert(r.getAs[Long]("min_pk") === h.toLong &&
          r.getAs[Long]("max_pk") === h.toLong, s"hop $h node id")
      }
    } finally jobs.close()
  }

  test("g07 converged-CC loop: one Spark action per propagation round") {
    val s = spark; import s.implicits._
    // a 6-node chain (both directions, componentSizesOf's contract): the
    // min label travels one hop per round — 5 propagation rounds + 1
    // no-change round, the per-node worst case, so the budget is tight
    val und = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
      .union((0L until 5L).map(i => (i + 1, i)).toDF("src", "dst"))
    val jobs = new Profile.Collector(spark.sparkContext)
    try {
      val hist = GraphRank.componentSizesConvergedOf(und) // loop runs here
      val loopJobs = jobs.read().jobs
      // 1 eager adjacency checkpoint + 6 rounds × 1 convergence aggregate
      // (the chg flag rides the round's frame; a separate did-it-change
      // probe would spend 13) — budget fails the two-action shape
      assert(loopJobs <= 9, s"converged-CC loop spent $loopJobs jobs for 6 rounds")
      // one component of 6 nodes
      val rows = hist.collect()
      assert(rows.length === 1)
      assert(rows(0).getAs[Long]("size") === 6L)
      assert(rows(0).getAs[Long]("components") === 1L)
      assert(rows(0).getAs[Long]("nodes") === 6L)
    } finally jobs.close()
  }

  test("g08 k-core peel: per-round jobs are NODE-GRAIN broadcast builds " +
       "only — bounded by the round budget, never an edge-frame action") {
    val s = spark; import s.implicits._
    // K4 + pendant chain (the OpsSpec planted graph). The r9 incremental
    // peel trades the old single-DAG form (which re-aggregated the FULL
    // edge frame 3× per round inside one job) for per-round broadcasts
    // of the node-grain dead set — each broadcast build is its own small
    // job, so the job count is 2-3 per round plus the final action, but
    // every one of them collects a NODE-grain frame; the edge frame is
    // scanned narrowly and never rewritten (the property that took the
    // 10× scale-step from ~25 s to ~2.5 s). The bound below fails if a
    // per-round EDGE materialization (eager checkpoint) or a driver
    // probe loop creeps back in on top of the budgeted broadcasts.
    val clique = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a != b
    } yield (a, b)
    val chain = Seq(("a", "x"), ("x", "a"), ("b", "x"), ("x", "b"),
      ("x", "y"), ("y", "x"))
    val und = (clique ++ chain).toDF("src", "dst")
    val jobs = new Profile.Collector(spark.sparkContext)
    try {
      val rounds = 4
      val rows = GraphRank.kcoreOf(und, k = 3, rounds = rounds).collect()
      val spent = jobs.read().jobs
      assert(spent <= 2 + 3 * rounds, s"k-core spent $spent jobs; " +
        "more than the budgeted node-grain broadcast builds per round — " +
        "an edge materialization or driver probe has crept in")
      assert(rows.map(_.getString(0)).toSet === Set("a", "b", "c", "d"))
    } finally jobs.close()
  }

  test("k-means training: one driver action per Lloyd iteration, none hidden") {
    // each iteration's centroid table localizes (one collect); a
    // regression to lazy nested-lineage centroids would re-execute prior
    // iterations inside later jobs — cheap at test scale but the
    // recursive-plan blowup that dominated the round-5 cold index builds
    val jobs = new Profile.Collector(spark.sparkContext)
    try {
      val cents = Similarity.kmeansCentroids(spark, "/root/testdata/sf0.001")
      val built = jobs.read().jobs
      // seed localize + 2 iteration localizes, each preceded by a file-
      // listing job for its fresh parquet scan (3 collects + 3 listings);
      // nested-lineage centroids re-executing prior iterations would blow
      // past this
      assert(built <= 6, s"k-means build spent $built driver actions")
      assert(cents.count() > 0)
    } finally jobs.close()
  }
}
