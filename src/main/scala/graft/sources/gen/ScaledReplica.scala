package graft.sources.gen

import org.apache.spark.sql.functions._

/** Scale-step harness (VERDICT r8 item 6): materialize an N× replica of
  * an sf dir so the iterative graph/streaming families can be MEASURED
  * one decade above the largest driver-generated SF, not just
  * plan-audited. `main(src, dest, copies)` writes `copies` key-shifted
  * copies of the five tables those families read (orders, lineitem,
  * customer, events, documents) — each copy's keys move up by
  * k·10,000,000, so the result is `copies` disjoint shards of the same
  * distribution: row counts scale exactly N×, graph node/edge counts
  * scale N×, and per-user/per-doc group sizes stay constant (the shape a
  * 10× bigger day of the same workload has; co-purchase support
  * thresholds keep the same per-shard semantics).
  *
  * The shift constant keeps every shifted key below 2^31 at 10 copies of
  * sf0.1 — g03's degree-orientation packs (degree·2^31 + partkey) into
  * one BIGINT, so partkeys must stay under 2^31 for the packing to stay
  * a total order.
  *
  * Deliberate consequence of disjoint shards: single-source surfaces
  * (g05 BFS from the global min node) still traverse ONE shard, so their
  * cost measures the component, not the corpus — noted in the README
  * scaling table.
  *
  * PERTURBED CONTENT (VERDICT r9 item 3): shard 0 is byte-identical to
  * the source, but every k>0 shard's `documents.text` gets ONE
  * key-derived adjacent-token swap and every k>0 shard's
  * `embeddings.embedding` a ±1% per-dimension multiplicative jitter
  * (hash-seeded, deterministic — no RNG state). Exactly-duplicated
  * shards made the dedup-family replica runs degenerate: exact-hash
  * dedup collapsed 10 shards to 1 survivor set and w08 rejected ~90% of
  * its feed, so the decade step timed the probe machinery against
  * unrealistically tiny survivor volumes. After the perturbation the
  * shard copies are NEAR-duplicates (the realistic cross-crawl shape):
  * exact/fingerprint dedup keeps ~10× survivors, while
  * MinHash/SimHash/embedding near-dup still find the cross-shard
  * families and do real pairing work. The jitter is multiplicative, so
  * vector norms stay within 1% — no re-normalization pass is needed for
  * the cosine chains, which recompute norms from the stored values. */
object ScaledReplica {
  val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(src, dest, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val spark = graft.GraftSession.local()
    import org.apache.spark.sql.DataFrame
    // one adjacent-token swap at a (doc_id, shard)-derived position:
    // breaks exact-hash identity across shards, keeps ~all shingles (a
    // near-duplicate, not a fresh document)
    def swapTokens(d: DataFrame, k: Int): DataFrame = d
      .withColumn("toks", split(col("text"), " "))
      .withColumn("p", pmod(col("doc_id") + lit(k),
        greatest(size(col("toks")) - 1, lit(1))).cast("int"))
      .withColumn("text", when(size(col("toks")) >= 2, expr(
        "array_join(transform(toks, (x, i) -> " +
          "CASE WHEN i = p THEN toks[p+1] WHEN i = p+1 THEN toks[p] " +
          "ELSE x END), ' ')")).otherwise(col("text")))
      .drop("toks", "p")
    // ±1% per-dim multiplicative jitter, hash-seeded by (vec_id, dim,
    // shard): shard copies become ~0.9999-cosine near-dups instead of
    // exact ones; norms move < 1% so no re-normalization is required
    def jitterVec(d: DataFrame, k: Int): DataFrame = d
      .withColumn("embedding", expr(
        s"transform(embedding, (x, i) -> cast(x * (1.0d + " +
          s"(pmod(hash(vec_id, i, $k), 1000) / 1000.0d - 0.5d) * 0.02d) " +
          "as float))"))
    def replicate(table: String, keyCols: Seq[String],
                  perturb: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val shifted = (0 until copies).map { k =>
        val moved =
          keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Off)))
        if (k == 0) moved else perturb(moved, k)
      }.reduce(_ unionByName _)
      // the testdata layout is ONE FILE per table (the streaming readers
      // select it by pathGlobFilter on the file name, which a directory
      // of part files would not match) — write single-part and rename
      val tmp = new java.io.File(s"$dest/.tmp_$table")
      shifted.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $table"))
      val target = new java.io.File(s"$dest/$table.parquet")
      if (target.exists()) {
        if (target.isDirectory) graft.sources.StaleOutputs.reset(target.toString)
        target.delete()
      }
      require(part.renameTo(target), s"rename failed for $table")
      graft.sources.StaleOutputs.reset(tmp.toString)
      tmp.delete()
      println(s"[scaled] $table x$copies -> $dest")
    }
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("customer", Seq("c_custkey"))
    // l_suppkey shifts with lineitem, so the supplier dim must shift in
    // lockstep for fact⋈dim surfaces (f17) to keep their join selectivity
    replicate("supplier", Seq("s_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), swapTokens)
    // vec_id shifts like every other key; label is a distribution column
    // (cell seed), so each shard keeps the same cell structure — the
    // embedding-family surfaces (d29, s-chains) see N× rows per cell
    replicate("embeddings", Seq("vec_id"), jitterVec)
    spark.stop()
  }
}
