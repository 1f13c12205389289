package graft.sources.gen

import org.apache.spark.sql.SparkSession

/** A CLUSTERED synthetic embedding corpus, written as a second "sf dir"
  * (just `embeddings.parquet` in the testdata layout) so the whole
  * (session, dir)-parameterized ANN family — PQ, IVF-PQ, SQ, refine —
  * runs on it UNCHANGED, artifacts and all.
  *
  * Why it exists (VERDICT r8 item 4): the driver's synthetic embeddings
  * are near-isotropic noise — nearest-neighbor margins of a few percent
  * of median distance — so the PQ recall floors on them (≥0.12) are
  * data-limited and prove only that the machinery runs.
  *
  * Why a PRODUCT mixture and not a plain one-level mixture-of-Gaussians:
  * a single level of (center + isotropic noise) moves the problem, it
  * doesn't fix it — BETWEEN clusters the margins become huge, but the
  * top-3 WITHIN a cluster is decided by the isotropic noise again, which
  * no finite codebook can learn (measured: recall@3 ≈ 0.4, barely above
  * the flat corpus). PQ's actual data assumption (Jégou et al. 2011) is
  * that the distribution FACTORIZES across subspaces, so the realistic
  * "clusterable" corpus is a product mixture: each vector is a cluster
  * center (10 clusters, coordinates ±10) plus, PER 8-dim SUBSPACE, one
  * of 4 trait offsets (coordinates ±3) plus tiny jitter (±0.05).
  * Distinct subvector values per subspace = 10×4 = 40 < 64 codewords,
  * and the first 40 vectors enumerate every (cluster, trait) combo so
  * the seed-initialized Lloyd pass sees them all — a HEALTHY quantizer
  * recovers the product structure and ranks neighborhoods through gaps
  * of ~50 squared units against ~0.2 of jitter, while a broken
  * LUT/codebook/residual path stays near random. OpsSpec pins recall@3
  * ≥ 0.6 for the s12/s13 chains here; the flat-noise floors remain as
  * the degenerate case.
  *
  * Everything is a deterministic integer mix of (id, dim) — no RNG
  * state, so the corpus is bit-identical across sessions and the
  * fingerprint-keyed disk artifacts stay valid. `label` is the true
  * cluster id, matching the testdata schema (vec_id BIGINT, embedding
  * ARRAY<FLOAT>, label INT). */
object ClusteredEmbeddings {
  val Dim = 64
  val SubDim = 8
  val K = 10      // clusters
  val T = 4       // trait offsets per subspace
  val N = 500

  /** splitmix64-style deterministic hash of (a, b) to [0, 1). */
  private def mix(a: Long, b: Long): Double = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Trait of vector i in subspace s. The first K·T vectors enumerate
    * every (cluster, trait) combo with the trait CONSTANT across
    * subspaces (i div K), guaranteeing seed coverage of all 40 distinct
    * subvector values; later vectors draw traits independently per
    * subspace. */
  def trait0(i: Long, s: Int): Int =
    if (i < K * T) (i / K).toInt
    else (mix(i + 31, s + 513) * T).toInt.min(T - 1)

  /** Vector i = center(i % K) + traitOffset(per subspace) + jitter. */
  def vector(i: Long): Array[Float] = {
    val c = i % K
    Array.tabulate(Dim) { d =>
      val s = d / SubDim
      val center = (mix(c + 1, d) - 0.5) * 20.0
      val offset = (mix(trait0(i, s) * 7919L + 4242L, d) - 0.5) * 6.0
      val jitter = (mix(i + 5077, d + 13) - 0.5) * 0.1
      (center + offset + jitter).toFloat
    }
  }

  /** Write (once per machine) and return the corpus dir. */
  def ensure(spark: SparkSession): String = synchronized {
    val dir = new java.io.File(graft.sources.StaleOutputs.root, "graft_clustered_sfspec")
    val table = new java.io.File(dir, "embeddings.parquet")
    if (!new java.io.File(table, "_SUCCESS").exists()) {
      import spark.implicits._
      (0L until N).map(i => (i, vector(i), (i % K).toInt))
        .toDF("vec_id", "embedding", "label")
        .repartition(4)
        .write.mode("overwrite").parquet(table.toString)
    }
    dir.toString
  }
}
