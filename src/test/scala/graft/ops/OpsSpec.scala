package graft.ops

import graft.functions.WeightedMean
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the LLM-pipeline operators (dedup / similarity / multimodal /
  * custom aggregate) on the sf0.001 testdata. */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS) (q31 reads it)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("exact dedup accounts for every document") {
    val r = Dedup.exactDedup(spark, dir).collect()(0)
    val total = graft.Tables.documents(spark, dir).count()
    assert(r.getAs[Long]("docs") === total)
    assert(r.getAs[Long]("distinct_texts") <= total)
  }

  test("minhash LSH drops the same documents as all-pairs Jaccard") {
    val exact = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh.subsetOf(exact))      // LSH never invents pairs (verified)
    // Bucket-min pairing emits a spanning STAR per duplicate cluster, not
    // all cluster pairs (a cluster {A,B,C} yields (A,B),(A,C) but not
    // (B,C)) — so the invariant that matters for the shipped operator
    // (dropNearDuplicates) is loser-set equality, not pair recall: every
    // doc the exact detector would drop, LSH drops, and nothing more.
    assert(lsh.map(_._2) === exact.map(_._2))
  }

  test("d30 calibration report agrees with the d04 loser-set invariant: " +
       "LSH drops exactly the exact detector's losers on this corpus") {
    val r = Dedup.lshCalibration(spark, dir).collect()(0)
    assert(r.getAs[Long]("exact_losers") > 0L, "planted near-dups expected")
    assert(r.getAs[Long]("missed_losers") === 0L)
    assert(r.getAs[Long]("extra_losers") === 0L)
    assert(r.getAs[Double]("loser_recall") === 1.0)
    // the star emits at most one pair per loser; the exact pass all pairs
    assert(r.getAs[Long]("lsh_pairs") <= r.getAs[Long]("exact_pairs"))
  }

  test("exact-dedup apply keeps exactly one doc per distinct text") {
    val kept = Dedup.dropExactDuplicates(spark, dir).count()
    val distinctTexts = graft.Tables.documents(spark, dir)
      .select("text").distinct().count()
    assert(kept === distinctTexts)
  }

  test("m03 resize: aspect-preserving 224-box; decodable image rows get " +
       "REAL decoded dims + a genuine pixel-sampled out_px_sum that " +
       "matches m01's decode, stub rows keep the 0 sentinel") {
    val decoded = Multimodal.decodeBatch(spark, dir).collect()
      .map(d => d.doc_id -> d).toMap
    var realRows = 0
    Multimodal.resizeBatch(spark, dir).collect().foreach { r =>
      assert(r.out_w <= 224 && r.out_h <= 224 && r.out_w >= 1 && r.out_h >= 1)
      assert(math.max(r.out_w, r.out_h) === 224) // long side fills the box
      // aspect order survives the resize
      assert((r.width >= r.height) === (r.out_w >= r.out_h))
      assert(r.out_bytes === r.out_w * r.out_h * 3)
      val d = decoded(r.doc_id)
      if (Set("bmp", "png", "jpeg")(d.format) && d.px_sum > 0) {
        // real-decode rows: dims must be m01's REAL decoded dims, and the
        // nearest-neighbor upscale genuinely sampled pixels
        realRows += 1
        assert(r.width === d.width && r.height === d.height,
          s"doc ${r.doc_id}: resize dims diverged from the real decode")
        assert(r.out_px_sum > 0L, s"doc ${r.doc_id}: no pixels sampled")
        // a uniform-upscale invariant: the sampled mean stays within the
        // source byte range (0..255 per channel sample)
        assert(r.out_px_sum <= r.out_w * r.out_h * 3 * 255)
      } else {
        assert(r.out_px_sum === 0L,
          s"doc ${r.doc_id} (${d.format}): stub row must carry the sentinel")
      }
    }
    assert(realRows > 0, "corpus should contain decodable image rows")
  }

  test("frame sampling: real stride-2 AVI demux on video rows (px_sum " +
       "matches an independent replay of the pixel law), 1KiB-frame " +
       "stub elsewhere") {
    val lens = Multimodal.mediaTable(spark, dir)
      .select(col("doc_id"), length(col("media")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var aviRows = 0
    Multimodal.frameSampleBatch(spark, dir).collect().foreach { r =>
      val len = lens(r.doc_id).toInt
      if (Multimodal.AviCodec.eligible(r.doc_id, len)) {
        aviRows += 1
        val (w, h) = Multimodal.AviCodec.dims(len)
        val n = Multimodal.AviCodec.frameCount(len)
        assert(r.n_frames === n.toLong, s"doc ${r.doc_id}: frame count")
        val sampled = 0 until n by 2
        assert(r.frames_sampled === sampled.size.toLong)
        assert(r.idx_sum === sampled.map(_.toLong).sum)
        // independent replay of the synthesis pixel law (f+j)%16
        val expected = sampled.map { f =>
          (0 until 3 * w * h).map(j => ((f + j) % 16).toLong).sum
        }.sum
        assert(r.px_sum === expected, s"doc ${r.doc_id}: px_sum")
      } else {
        assert(r.n_frames === len.toLong / 1024L + 1L)
        assert(r.frames_sampled === (r.n_frames + 9) / 10)
        val k = r.frames_sampled
        assert(r.idx_sum === 10 * (k * (k - 1) / 2))
        assert(r.px_sum === 0L,
          s"doc ${r.doc_id}: stub row must carry the sentinel")
      }
    }
    assert(aviRows > 0, "corpus should contain decodable video rows")
  }

  test("trained IVF: full ranked answer per query, never beating brute force") {
    val trained = Similarity.annIvfTrained(spark, dir).collect()
    val byQuery = trained.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size === 10)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rnk")).sorted.toSeq === Seq(1, 2, 3))
    }
    // approximate results can't exceed the exact top-1 (subset property)
    val bruteBest = Similarity.knnBrute(spark, dir).collect()
      .filter(_.getAs[Int]("rnk") === 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cosine")).toMap
    trained.foreach { r =>
      assert(r.getAs[Double]("cosine") <= bruteBest(r.getAs[Long]("query_id")) + 1e-9)
    }
  }

  test("label-free k-means: full centroid table, objective improves over seeds") {
    val vecs = graft.Tables.embeddings(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    val trained = Similarity.kmeansCentroids(spark, dir).collect()
      .groupBy(_.getAs[Int]("cid"))
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("centroid")).toSeq
      }
    assert(trained.values.forall(_.length === 64))
    assert(trained.nonEmpty && trained.size <= 8)
    def sq(v: Array[Double], c: Seq[Double]): Double =
      v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    def objective(cents: Iterable[Seq[Double]]): Double =
      vecs.values.map(v => cents.map(c => sq(v, c)).min).sum
    val seeds = vecs.filterKeys(_ < 8).values.map(_.toSeq)
    // two Lloyd iterations must not worsen the quantization error (6dp
    // centroid rounding is orders of magnitude below real improvements)
    assert(objective(trained.values) <= objective(seeds) + 1e-6)
  }

  test("label-free ANN: full ranked answer per query, never beats brute force") {
    val rows = Similarity.annKmeans(spark, dir).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size === 10)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq === Seq(1, 2, 3))
    }
    val bruteBest = Similarity.knnBrute(spark, dir).collect()
      .filter(_.getAs[Int]("rnk") === 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cosine")).toMap
    rows.foreach { r =>
      assert(r.getAs[Double]("cosine") <= bruteBest(r.getAs[Long]("query_id")) + 1e-9)
    }
  }

  test("multi-probe IVF strictly improves recall over nprobe=1, never beats brute") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val truth = pairs(Similarity.knnBrute(spark, dir))
    val probe1 = pairs(Similarity.annIvfTrained(spark, dir))
    val probe2 = pairs(Similarity.annIvfMultiprobe(spark, dir))
    val r1 = probe1.intersect(truth).size.toDouble / truth.size
    val r2 = probe2.intersect(truth).size.toDouble / truth.size
    // probing the 2 nearest cells recovers neighbors that sit across the
    // query's cell boundary: on this corpus the gain is strict
    assert(r2 > r1, f"multi-probe recall $r2%.3f did not improve on $r1%.3f")
    // and approximate search can never OUTSCORE the exact top-1
    val bruteBest = Similarity.knnBrute(spark, dir).collect()
      .filter(_.getAs[Int]("rnk") === 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cosine")).toMap
    Similarity.annIvfMultiprobe(spark, dir).collect().foreach { r =>
      assert(r.getAs[Double]("cosine") <= bruteBest(r.getAs[Long]("query_id")) + 1e-9)
    }
  }

  test("cell near-dup pairs co-habit a trained cell, ranked like d06") {
    val cellOf = Similarity.trainedAssignment(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.get(r.fieldIndex("cell"))).toMap
    val rows = Similarity.embeddingNearDupCells(spark, dir).collect()
    assert(rows.length === 20)
    val cosines = rows.map(_.getAs[Double]("cosine"))
    assert(cosines.sameElements(cosines.sortBy(-_)), "descending cosine order")
    rows.foreach { r =>
      val (v1, v2) = (r.getAs[Long]("v1"), r.getAs[Long]("v2"))
      assert(v1 < v2)
      assert(cellOf(v1) === cellOf(v2), s"pair ($v1, $v2) crosses cells")
    }
  }

  test("embedding apply drops exactly the detected higher-id vectors") {
    val losers = Similarity.embeddingNearDup(spark, dir).collect()
      .map(_.getAs[Long]("v2")).toSet
    val total = graft.Tables.embeddings(spark, dir).count()
    val kept = Similarity.dropEmbeddingNearDups(spark, dir)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(losers.nonEmpty)
    assert(kept.size === total - losers.size)
    assert(kept.intersect(losers).isEmpty)
  }

  test("LSH-fed dedup apply equals exact-Jaccard-fed dedup apply") {
    val byLsh = Dedup.dropNearDuplicates(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val byExact = Dedup.dropNearDuplicatesBy(Dedup.ngramJaccard)(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(byLsh === byExact)
    assert(byLsh.size < graft.Tables.documents(spark, dir).count())
  }

  test("simhash banding has complete recall at hamming <= 1 (pigeonhole)") {
    // With 2 bands, a pair differing in <= 1 bit is identical in at least
    // one band, so it MUST collide and appear in the output — recall at
    // distance <= bands-1 is exact, not probabilistic. Verify against a
    // brute-force all-pairs hamming over the (small) collected code table.
    val codes = Dedup.simhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val mustFind = for {
      (a, ha) <- codes; (b, hb) <- codes
      if a < b && Integer.bitCount(ha ^ hb) <= 1
    } yield (a, b)
    assert(mustFind.nonEmpty, "testdata should contain hamming<=1 code pairs")
    val pairs = Dedup.simhashNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    mustFind.foreach { p =>
      assert(found.contains(p), s"missing guaranteed pair $p")
    }
    pairs.foreach { case (d1, d2, h) =>
      assert(d1 < d2); assert(h >= 0 && h <= 3)
    }
  }

  test("simhash64 banded near-dup: exact precision, pigeonhole recall, sane curve") {
    val codes = Dedup.simhash64(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force all-pairs hamming over the collected code table — the
    // quadratic oracle the banded operator replaces at scale
    def hamming(a: (Long, Long, Long), b: (Long, Long, Long)): Int =
      java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
    val brutePairs = for {
      a <- codes; b <- codes
      if a._1 < b._1 && hamming(a, b) <= 8
    } yield (a._1, b._1, hamming(a, b))
    val pairs = Dedup.simhash64NearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty, "testdata should contain simhash64 near-dups")
    pairs.foreach { case (d1, d2, h) =>
      assert(d1 < d2); assert(h >= 0 && h <= 8)
    }
    val lshLosers = pairs.map(_._2).toSet
    val bruteLosers = brutePairs.map(_._2).toSet
    // PRECISION is exact by construction: candidates pass an exact
    // bit_count verify, so nothing outside the brute-force set can appear
    assert(lshLosers.subsetOf(bruteLosers))
    // PIGEONHOLE regime: a pair within hamming 3 of 64 agrees exactly on
    // >= 1 of the 4 bands, so its higher doc ALWAYS surfaces as a
    // candidate — the only way it escapes the loser set is a SHADOWED
    // bucket (every smaller anchor doc in every shared bucket is > 8
    // away, so all emitted (anchor, doc) star pairs fail the exact
    // verify). With the default 2 anchors per bucket the test corpus has
    // no such miss (k=1 lost three losers to shadows); assert any future
    // miss is a genuine shadow, not a banding bug.
    val guaranteed = brutePairs.filter(_._3 <= 3).map(_._2).toSet
    assert(guaranteed.nonEmpty, "testdata should contain hamming<=3 code pairs")
    val byId = codes.map(c => c._1 -> c).toMap
    def bandKeys(c: (Long, Long, Long)): Seq[(Int, Long)] =
      Seq((0, c._3 & 0xffffL), (1, c._3 >> 16), (2, c._2 & 0xffffL), (3, c._2 >> 16))
    val bucketAnchors = codes.flatMap(c => bandKeys(c).map(bk => (bk, c._1)))
      .groupBy(_._1).map { case (bk, xs) => bk -> xs.map(_._2).toSeq.sorted.take(2) }
    val missed = guaranteed.diff(lshLosers)
    assert(missed.isEmpty,
      s"k=2 anchors should leave no pigeonhole miss on this corpus: $missed")
    missed.foreach { b =>
      bandKeys(byId(b)).foreach { bk =>
        bucketAnchors(bk).filter(_ < b).foreach { m =>
          assert(hamming(byId(m), byId(b)) > 8,
            s"doc $b missed though bucket $bk anchor $m is within 8 — banding bug")
        }
      }
    }
    // beyond distance 3 recall is the standard multi-table curve
    // (probabilistic in the geometry, deterministic on fixed data) —
    // floor it so a banding regression shows up as a recall cliff
    val recall = lshLosers.size.toDouble / bruteLosers.size
    assert(recall >= 0.7, f"banded recall degraded: $recall%.3f")
  }

  test("simhash-fed dedup apply drops exactly the detected higher-id docs") {
    val losers = Dedup.simhash64NearDup(spark, dir).collect()
      .map(_.getLong(1)).toSet
    val total = graft.Tables.documents(spark, dir).count()
    val kept = Dedup.dropSimhashNearDuplicates(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(losers.nonEmpty)
    assert(kept.size === total - losers.size)
    assert(kept.intersect(losers).isEmpty)
  }

  test("dedup clusters equal a union-find over the same pair graph") {
    val pairs = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // reference union-find on the driver
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    val got = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // exactly one keeper (the minimum) per component
    got.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min === cid)
    }
    // transitive semantics is strictly-at-most the pairwise rule: every
    // cluster keeper survives pairwise dedup too (the component min is
    // never a pair's higher id), never the other way round
    val pairwiseKept = Dedup.dropNearDuplicates(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val clusterKept = Dedup.dropClusteredDuplicates(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(clusterKept.subsetOf(pairwiseKept))
  }

  test("jaccard pairs are canonical (d1 < d2) and thresholded") {
    Dedup.ngramJaccard(spark, dir).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getAs[Double]("jaccard") >= 0.5 && r.getAs[Double]("jaccard") <= 1.0)
    }
  }

  test("brute-force kNN: ranks are 1..3 per query, cosine in [-1, 1]") {
    val rows = Similarity.knnBrute(spark, dir).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size === 10)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq === Seq(1, 2, 3))
      val cosines = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cosine"))
      assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
      assert(cosines.sameElements(cosines.sortBy(-_))) // descending by rank
    }
  }

  test("IVF candidates never beat brute force (pruned subset property)") {
    val brute = Similarity.knnBrute(spark, dir).collect()
      .filter(_.getAs[Int]("rnk") === 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cosine")).toMap
    Similarity.annIvf(spark, dir).collect()
      .filter(_.getAs[Int]("rnk") === 1)
      .foreach { r =>
        assert(r.getAs[Double]("cosine") <= brute(r.getAs[Long]("query_id")) + 1e-9)
      }
  }

  test("compressed-index family holds recall@3 floors vs exact truth " +
       "(s12/s13/s23/s24/m09) at sf0.01 and sf0.1") {
    // VERDICT r7 item 4: s07 pinned a floor, the SQ/PQ serving paths only
    // MEASURED recall. Floors are set from measured values with margin
    // (PQ ~0.2 is data-limited on this isotropic corpus — see PqK's
    // docstring; random selection scores ~3/n ≈ 0.006, so even the loose
    // floors are ~20x random and any machinery regression goes red).
    import org.apache.spark.sql.DataFrame
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def l2TopK(vecs: DataFrame, k: Int): Set[(Long, Long)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("dist").asc, col("cand_id").asc)
      pairs(vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
        .crossJoin(vecs.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("cand_id"), col("v").as("cv")))
        .withColumn("dist",
          expr("aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k))
    }
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = graft.Tables.embeddings(spark, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
      val truth = l2TopK(emb, 3)
      val feats = Multimodal.featureBatch(spark, d).toDF()
        .select(col("doc_id").as("vec_id"), col("features").as("v"))
      val mediaTruth = l2TopK(feats, 3)
      def recall(approx: Set[(Long, Long)], t: Set[(Long, Long)]): Double =
        approx.intersect(t).size.toDouble / t.size
      val floors = Seq(
        ("s12_pq_ann", recall(pairs(Similarity.pqAnn(spark, d)), truth), 0.12),
        ("s13_ivfpq_ann", recall(pairs(Similarity.ivfPqAnn(spark, d)), truth), 0.12),
        ("s23_sq_ann", recall(pairs(Similarity.sqAnn(spark, d)), truth), 0.80),
        ("s24_ivfsq_ann", recall(pairs(Similarity.ivfSqAnn(spark, d)), truth), 0.35),
        // refine lifts raw ADC (~0.2 -> ~0.3+) but stays capped by the
        // nprobe=2 cell confinement of its shortlist — the IVF trade
        ("s20_refined_ann", recall(pairs(Similarity.refinedAnn(spark, d)), truth), 0.20),
        // prefix-16 sketch + 50-row exact rerank: ~0.3-0.5 measured; the
        // prefix carries 1/4 of the distance signal on isotropic data
        ("s25_truncated_ann", recall(pairs(Similarity.truncatedAnn(spark, d)), truth), 0.25),
        ("m09_media_sq_search",
          recall(pairs(Multimodal.mediaSqSearch(spark, d)), mediaTruth), 0.80))
      floors.foreach { case (name, r, floor) =>
        assert(r >= floor, f"$name recall@3 $r%.3f below floor $floor%.2f at $d")
      }
    }
  }

  test("PQ/IVF-PQ recall@3 >= 0.6 on a CLUSTERED corpus — quantization " +
       "must preserve real neighborhoods (the flat-noise floors above " +
       "are the degenerate case)") {
    // VERDICT r8 item 4: the testdata embeddings are near-isotropic
    // noise, so the s12/s13 floors there (0.12) prove the machinery
    // runs, not that quantization preserves neighborhoods. This corpus
    // (mixture of 10 separated centers, noise ≪ separation) is the
    // regime PQ is FOR: a broken codebook/LUT/residual path scores near
    // random (~0.006) while a healthy one must clear 0.6.
    import org.apache.spark.sql.DataFrame
    val d = graft.sources.gen.ClusteredEmbeddings.ensure(spark)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dist").asc, col("cand_id").asc)
    val truth = pairs(emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cand_id"), col("v").as("cv")))
      .withColumn("dist",
        expr("aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3))
    def recall(approx: Set[(Long, Long)]): Double =
      approx.intersect(truth).size.toDouble / truth.size
    val rPq = recall(pairs(Similarity.pqAnn(spark, d)))
    val rIvfPq = recall(pairs(Similarity.ivfPqAnn(spark, d)))
    info(f"clustered recall@3: s12 pq=$rPq%.3f s13 ivfpq=$rIvfPq%.3f")
    assert(rPq >= 0.6, f"s12 PQ recall@3 on clustered data: $rPq%.3f < 0.6")
    assert(rIvfPq >= 0.6, f"s13 IVF-PQ recall@3 on clustered data: $rIvfPq%.3f < 0.6")
  }

  test("multimodal decode: BMP, PNG, JPEG, and WEBP rows carry genuinely " +
       "parsed dims, the rest match the stub arithmetic") {
    val rows = Multimodal.decodedMeta(spark, dir).collect()
    assert(rows.length === graft.Tables.documents(spark, dir).count())
    // per-row pixel byte j is j%16 in BOTH real formats — the decoders'
    // padded walk (BMP) / inflate+defilter (PNG) must land exactly on
    // the closed form
    def rowSum(w: Int, h: Int): Long = {
      val lr = 3 * w; val rem = lr % 16
      h.toLong * (lr / 16 * 120 + rem * (rem - 1) / 2)
    }
    var bmps = 0; var pngs = 0; var jpegs = 0; var webps = 0
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val b = r.getAs[Long]("bytes")
      if (Multimodal.BmpCodec.eligible(id, b.toInt)) {
        bmps += 1
        assert(r.getAs[String]("format") === "bmp")
        val (w, h) = Multimodal.BmpCodec.dims(b.toInt)
        assert(r.getAs[Long]("width") === w.toLong)
        assert(r.getAs[Long]("height") === h.toLong)
        assert(r.getAs[Long]("px_sum") === rowSum(w, h))
      } else if (Multimodal.PngCodec.eligible(id, b.toInt)) {
        pngs += 1
        assert(r.getAs[String]("format") === "png")
        val (w, h) = Multimodal.PngCodec.dims(b.toInt)
        assert(r.getAs[Long]("width") === w.toLong)
        assert(r.getAs[Long]("height") === h.toLong)
        assert(r.getAs[Long]("px_sum") === rowSum(w, h))
      } else if (Multimodal.JpegCodec.eligible(id, b.toInt)) {
        jpegs += 1
        assert(r.getAs[String]("format") === "jpeg")
        val (w, h) = Multimodal.JpegCodec.dims(b.toInt)
        assert(r.getAs[Long]("width") === w.toLong)
        assert(r.getAs[Long]("height") === h.toLong)
        // DC-exact uniform gray: the lossy decode is byte-exact
        assert(r.getAs[Long]("px_sum") === w.toLong * h * (b % 256))
      } else if (Multimodal.WebpCodec.eligible(id, b.toInt)) {
        webps += 1
        assert(r.getAs[String]("format") === "webp")
        val (w, h) = Multimodal.WebpCodec.dims(b.toInt)
        assert(r.getAs[Long]("width") === w.toLong)
        assert(r.getAs[Long]("height") === h.toLong)
        // declared boundary: VP8L pixels stay undecoded, px_sum 0
        assert(r.getAs[Long]("px_sum") === 0L)
      } else {
        assert(r.getAs[Long]("width") === 64 + b % 512)
        assert(r.getAs[Long]("height") === 64 + (b * 7) % 512)
        assert(r.getAs[Long]("px_sum") === 0L)
      }
    }
    assert(bmps > 0, "corpus should contain BMP-eligible rows")
    assert(pngs > 0, "corpus should contain PNG-eligible rows")
    assert(jpegs > 0, "corpus should contain JPEG-eligible rows")
    assert(webps > 0, "corpus should contain WEBP-eligible rows")
  }

  test("RewriteDotProduct rule: HOF fold rewrites to native DotProduct, same values") {
    // Parquet-backed input: local literal frames constant-fold into a
    // LocalRelation before the extra-optimization batch, leaving nothing
    // to rewrite — the rule targets real scans.
    val hof = "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    val df = graft.Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
    val before = df.selectExpr("vec_id", s"$hof as dot")
      .orderBy("vec_id").collect().map(_.getDouble(1)).toSeq
    graft.functions.RewriteDotProduct.install(spark)
    val accel = df.selectExpr("vec_id", s"$hof as dot").orderBy("vec_id")
    // scan every plan node (the top node is the Sort, not the Project)
    val rewritten = accel.queryExecution.optimizedPlan
      .collect { case p => p.expressions }.flatten.exists(_.exists {
        case _: graft.functions.DotProduct => true
        case _ => false
      })
    assert(rewritten, "optimizer should swap the HOF fold for DotProduct")
    assert(accel.collect().map(_.getDouble(1)).toSeq === before) // bitwise equal
    // null semantics preserved: unequal lengths → null under both forms
    val s = spark; import s.implicits._
    val uneven = Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
    assert(uneven.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) as dot")
      .collect()(0).isNullAt(0))
  }

  test("typed Aggregator extension point: weighted mean with partials") {
    val s = spark; import s.implicits._
    val ds = Seq((10.0, 1.0), (20.0, 3.0)).toDS()
    val wm = ds.select(WeightedMean.toColumn).collect()(0)
    assert(math.abs(wm - 17.5) < 1e-12) // (10*1 + 20*3) / 4
    val empty = Seq.empty[(Double, Double)].toDS()
    assert(empty.select(WeightedMean.toColumn).collect()(0).isNaN)
  }

  test("SRP near-dup: exact-dup recall 1, pairs canonical, never beats brute") {
    val s = spark; import s.implicits._
    // identical vectors share the full SRP code, so they MUST surface
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 10).toFloat)
    val other = Array.tabulate(64)(i => (math.cos(i * 3 + 2) * 10).toFloat)
    val planted = Seq(
      (0L, base), (1L, other), (2L, base.clone()) // 0 and 2 identical
    ).toDF("vec_id", "embedding")
    val found = Similarity.srpNearDupOf(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(found.exists { case (a, b, c) => a == 0L && b == 2L && c == 1.0 })
    // on the testdata: canonical ordering and verified-cosine precision
    val pairs = Similarity.srpNearDup(spark, dir).collect()
    assert(pairs.nonEmpty)
    // true all-pairs ceiling (srp candidates are a subset of all pairs;
    // d06's label-celled top-20 would NOT bound cross-label srp pairs)
    val e = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", sqrt(expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")))
    val a = e.select(col("vec_id").as("v1"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("v2"), col("v").as("vb"), col("norm").as("nb"))
    val allPairsTop = a.join(b, col("v1") < col("v2"))
      .withColumn("dot",
        expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"))
      .select(max(round(col("dot") / (col("na") * col("nb")), 6)))
      .collect()(0).getDouble(0)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)) // canonical v1 < v2
      assert(r.getDouble(2) <= allPairsTop + 1e-9)
    }
    // NO recall assertion against allPairsTop here: this corpus's most
    // similar pair is only ~0.48 cosine (angle ~61°), where SRP collision
    // probability is LOW by design — the planted-duplicate check above is
    // the recall contract (identical vectors always collide).
  }

  test("decontamination: flagged docs are train-side and truly overlap eval") {
    val flagged = TextAnalysis.decontaminate(spark, dir).collect()
    assert(flagged.nonEmpty, "corpus should contain eval-overlapping docs")
    flagged.foreach { r =>
      assert(r.getAs[Long]("shared_shingles") >= 1)
    }
    val bucketOf = graft.Tables.documents(spark, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 1))
    val evalIds = bucketOf.filter(col("bucket") === "f")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged.forall(r => !evalIds.contains(r.getAs[Long]("doc_id"))))
    // apply = train minus flagged, exactly
    val train = bucketOf.filter(col("bucket") =!= "f").count()
    val kept = TextAnalysis.decontaminateApply(spark, dir).count()
    assert(kept === train - flagged.length)
  }

  test("bloom decontamination: prefilter prunes the probe, answer stays exact") {
    val ds = Dedup.docShingles(spark, dir)
    val (survivors, _) = TextAnalysis.bloomPrefilter(spark, ds, fpp = 0.03)
    // the bloom predicate is a scan-side filter in the executed plan
    survivors.collect()
    val plan = survivors.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom filter absent from plan:\n$plan")
    // selectivity: most train shingles never touch the eval suite, so the
    // prefilter must drop the bulk of the probe stream (true matches +
    // the 3% fpp tail survive)
    val total = ds
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 1))
      .filter(col("bucket") =!= "f")
      .select(explode(col("shingles"))).count()
    val kept = survivors.count()
    assert(kept < total / 2, s"bloom kept $kept of $total probe shingles")
    // and the fpp tail dies in the confirm join: result == the exact op
    val exact = TextAnalysis.decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bloomed = TextAnalysis.bloomDecontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bloomed === exact)
  }

  test("cms heavy hitters: estimates dominate exact counts, even under collision") {
    val docs = graft.Tables.documents(spark, dir)
    val report = TextAnalysis.cmsTopWordsOf(docs).collect()
    assert(report.length === 20)
    val ests = report.map(_.getAs[Long]("cms_estimate"))
    assert(ests.sameElements(ests.sorted.reverse), "report must rank by estimate")
    report.foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("exact_count"),
        s"CMS underestimated ${r.getAs[String]("word")}")
    }
    // a deliberately tiny grid (width 8) forces collisions: estimates
    // inflate but NEVER undershoot — the one-sided error CMS guarantees
    TextAnalysis.cmsTopWordsOf(docs, width = 8).collect().foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("exact_count"))
    }
  }

  test("peak concurrency: sweep-line peaks match brute interval counting") {
    import org.apache.spark.sql.expressions.Window
    val report = graft.queries.Relational.q41PeakConcurrency(spark, dir).collect()
    assert(report.nonEmpty)
    assert(report.forall(_.getAs[Long]("peak_concurrency") >= 1))
    // brute force: concurrency peaks only at session starts, so per day
    // max over starts of |sessions covering that instant| is the truth
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val sess = graft.Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .withColumn("chg",
        when(col("prev").isNull || col("ts_us") - col("prev") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("run", sum("chg").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run")
      .agg(min("ts_us").as("s"), max("ts_us").as("e"))
      .persist()
    val brute = sess.select(col("s").as("t"))
      .join(sess, col("s") <= col("t") && col("t") <= col("e"))
      .groupBy("t").agg(count(lit(1)).as("conc"))
      .withColumn("day", expr("t div 86400000000"))
      .groupBy("day").agg(max("conc").as("bpeak"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sess.unpersist()
    report.foreach { r =>
      assert(r.getAs[Long]("peak_concurrency") === brute(r.getAs[Long]("day")),
        s"day ${r.getAs[Long]("day")}")
    }
  }

  test("triangle count: degree-ordered orientation matches id-ordered brute force") {
    val r = GraphRank.triangleCount(spark, dir).collect()(0)
    assert(r.getAs[Long]("nodes") > 0 && r.getAs[Long]("edges") > 0)
    // independent enumeration: canonical a<b<c id-order (a different total
    // order than the shipped degree-order — same triangles, different plan)
    val items = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("s")).filter(col("s") >= 2)
      .select("p1", "p2").persist()
    val brute = edges.as("e1")
      .join(edges.as("e2"), col("e1.p2") === col("e2.p1"))
      .join(edges.as("e3"),
        col("e1.p1") === col("e3.p1") && col("e2.p2") === col("e3.p2"))
      .count()
    edges.unpersist()
    assert(r.getAs[Long]("triangles") === brute)
  }

  test("node similarity: wedge counts match set-intersection brute force") {
    val top = GraphRank.nodeSimilarity(spark, dir).collect()
    assert(top.length > 0 && top.length <= 25)
    // independent recomputation: materialize each node's neighbor SET and
    // intersect arrays — a different algorithm (set semantics) than the
    // shipped wedge self-join (multiset scan), so a pairing bug can't
    // cancel out on both sides
    val items = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("s")).filter(col("s") >= 2)
      .select("p1", "p2")
    val nbrs = edges.union(edges.select(col("p2"), col("p1")))
      .groupBy(col("p1").as("pk")).agg(collect_set(col("p2")).as("ns"))
      .collect().map(r => r.getAs[Long]("pk") ->
        r.getSeq[Long](1).toSet).toMap
    top.foreach { r =>
      val (v, w) = (r.getAs[Long]("v"), r.getAs[Long]("w"))
      val inter = (nbrs(v) intersect nbrs(w)).size.toLong
      assert(r.getAs[Long]("cn") === inter, s"pair ($v,$w)")
      assert(r.getAs[Long]("deg_v") === nbrs(v).size.toLong, s"deg($v)")
      assert(r.getAs[Long]("deg_w") === nbrs(w).size.toLong, s"deg($w)")
      val jac = BigDecimal(inter.toDouble / (nbrs(v).size + nbrs(w).size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("jaccard") - jac) < 1e-9, s"jaccard($v,$w)")
    }
  }

  test("bfs hops: frontier-loop distances match a textbook queue BFS") {
    val hist = GraphRank.bfsHops(spark, dir).collect()
    assert(hist.length > 0 && hist.head.getAs[Int]("hop") === 0)
    // reference: collect the (small, sf0.001) edge set and run classic
    // driver-side BFS — a wholly different mechanism than the join loop
    val items = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("s")).filter(col("s") >= 2)
      .select("p1", "p2").collect()
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    edges.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      adj(a) = b :: adj(a); adj(b) = a :: adj(b)
    }
    val seed = adj.keys.min
    val distRef = scala.collection.mutable.Map(seed -> 0)
    val queue = scala.collection.mutable.Queue(seed)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      adj(u).foreach { v =>
        if (!distRef.contains(v)) { distRef(v) = distRef(u) + 1; queue += v }
      }
    }
    val refHist = distRef.toSeq.groupBy(_._2).map { case (h, xs) =>
      h -> (xs.size.toLong, xs.map(_._1).min, xs.map(_._1).max)
    }
    assert(hist.length === refHist.size, "hop level count")
    hist.foreach { r =>
      val (n, lo, hi) = refHist(r.getAs[Int]("hop"))
      assert(r.getAs[Long]("nodes") === n, s"hop ${r.getAs[Int]("hop")} count")
      assert(r.getAs[Long]("min_pk") === lo && r.getAs[Long]("max_pk") === hi,
        s"hop ${r.getAs[Int]("hop")} id range")
    }
  }

  test("drop provenance: the decision log reproduces the clean-corpus verdicts") {
    val prov = Dedup.dropProvenance(spark, dir).collect()
    val total = graft.Tables.documents(spark, dir).count()
    assert(prov.length.toLong === total, "one audit row per corpus doc")
    prov.foreach { r =>
      Seq("exact_dup", "near_dup", "low_quality", "kept").foreach { c =>
        assert(Set(0, 1).contains(r.getAs[Int](c)), s"$c not a 0/1 flag")
      }
      val dropped = r.getAs[Int]("exact_dup") + r.getAs[Int]("near_dup") +
        r.getAs[Int]("low_quality") > 0
      assert(r.getAs[Int]("kept") === (if (dropped) 0 else 1))
    }
    // kept = 1 rows ARE d14's survivors — the log can't drift from the pipeline
    val keptIds = prov.filter(_.getAs[Int]("kept") === 1).map(_.getLong(0)).toSet
    val d14Ids = Dedup.cleanCorpus(spark, dir).collect().map(_.getLong(0)).toSet
    assert(keptIds === d14Ids)
  }

  test("histogram quantiles: estimate lands in the true value's bin") {
    val docs = graft.Tables.documents(spark, dir)
    val rows = TextAnalysis.histogramQuantilesOf(docs).collect()
    assert(rows.length === 6)
    val pcts = rows.map(_.getAs[Int]("pct"))
    assert(pcts.sameElements(Array(10, 25, 50, 75, 90, 99)))
    // the rank-r value lives inside the bin the estimate interpolates, so
    // the sketch error is bounded by one bin width — the histogram's
    // one-sided analogue of CMS's overshoot-only guarantee
    rows.foreach { r =>
      val est = r.getAs[Double]("est_q")
      val exact = r.getAs[Long]("exact_q").toDouble
      assert(math.abs(est - exact) <= 16.0,
        s"p${r.getAs[Int]("pct")}: |$est - $exact| > bin width")
    }
    // quantile estimates are nondecreasing in p
    val ests = rows.map(_.getAs[Double]("est_q"))
    assert(ests.sameElements(ests.sorted))
  }

  test("refined ANN: exact rerank never loses recall to the raw ADC ranking") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val q = emb.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = emb.filter(col("vec_id") >= 10).select(col("vec_id").as("cid"), col("v").as("cv"))
    val pairDist = q.crossJoin(c).withColumn("dist", round(
      expr("aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"), 6))
    val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("cid").asc)
    val brute = pairDist.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).collect()
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.map(_.getAs[Long]("cid")).toSet).toMap
    val dists = pairDist.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("dist")).toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("cand_id")).toSet)
      byQ.map { case (qid, got) => (got & brute(qid)).size.toDouble / 3 }.sum / byQ.size
    }
    val refined = Similarity.refinedAnn(spark, dir).collect()
    val adc = Similarity.ivfPqAnn(spark, dir).collect()
    assert(recall(refined) >= recall(adc),
      s"rerank recall ${recall(refined)} < ADC recall ${recall(adc)}")
    // every reranked distance is the true exact distance of that pair
    refined.foreach { r =>
      assert(r.getAs[Double]("dist") ===
        dists((r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))))
    }
  }

  test("SQ8: stats cover every dim, distortion bounded, high recall vs brute-L2") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val dims = emb.select(size(col("v"))).first().getInt(0)
    val stats = Similarity.sqTrain(spark, dir).collect()
    assert(stats.length === dims)
    stats.foreach(r => assert(r.getAs[Double]("mn") <= r.getAs[Double]("mx")))
    // brute exact-L2 top-3 ground truth (refined-ANN test's discipline)
    val q = emb.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = emb.filter(col("vec_id") >= 10).select(col("vec_id").as("cid"), col("v").as("cv"))
    val pairDist = q.crossJoin(c).withColumn("dist", round(
      expr("aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"), 6))
    val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("cid").asc)
    val brute = pairDist.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).collect()
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.map(_.getAs[Long]("cid")).toSet).toMap
    val dists = pairDist.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid")) -> r.getAs[Double]("dist")).toMap
    val sq = Similarity.sqAnn(spark, dir).collect()
    assert(sq.nonEmpty)
    // per-query: exactly k ranked rows, nondecreasing reported distance
    sq.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === (1 to sorted.length))
      val ds = sorted.map(_.getAs[Double]("sqdist")).toSeq
      assert(ds === ds.sorted)
    }
    // 8-bit distortion bound: |sqdist - true| per pair is at most
    // sum_d step_d * (2*|q_d - x_d| + step_d); bound it loosely by the
    // worst dim step against the true distance magnitude
    val maxStep = stats.map(r => (r.getAs[Double]("mx") - r.getAs[Double]("mn")) / 255.0).max
    sq.foreach { r =>
      val truth = dists((r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")))
      val err = math.abs(r.getAs[Double]("sqdist") - truth)
      val tol = dims * maxStep * (2 * math.sqrt(truth) + maxStep) + 1e-6
      assert(err <= tol, s"SQ8 distortion $err exceeds bound $tol (true $truth)")
    }
    // 1 byte/dim keeps ranking quality: top-3 recall vs exact brute
    val byQ = sq.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("cand_id")).toSet)
    val recall = byQ.map { case (qid, got) => (got & brute(qid)).size.toDouble / 3 }.sum / byQ.size
    assert(recall >= 0.8, f"SQ8 recall@3 degraded: $recall%.3f")
  }

  test("hybrid search: fused ranking is exactly the RRF of its two sources") {
    val lex = Similarity.lexicalRanked(spark, dir, fuse = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("r")).toMap
    // the vector source: brute cosine ranks recomputed independently
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", sqrt(expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val c = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    val cos = q.crossJoin(c)
      .withColumn("cosine", round(
        expr("aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)") /
          (col("qn") * col("cn")), 6))
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Double]("cosine")))
      .toSeq
    val vec = cos.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(t => (-t._3, t._2)).take(10).zipWithIndex
        .map { case ((qid, cid, _), i) => (qid, cid) -> (i + 1) }
    }.toMap
    def rrf(pair: (Long, Long)): Long =
      lex.get(pair).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        vec.get(pair).map(r => 1000000L / (60 + r)).getOrElse(0L)
    val expected = (lex.keySet ++ vec.keySet).groupBy(_._1).flatMap { case (_, pairs) =>
      pairs.toSeq.map(p => (p, rrf(p))).sortBy { case ((_, cid), s) => (-s, cid) }.take(3)
    }.toMap
    val got = Similarity.hybridSearch(spark, dir).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val pair = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      assert(expected.contains(pair), s"$pair not in expected fused top-3")
      assert(r.getAs[Long]("rrf_score") === expected(pair))
    }
  }

  test("index compaction: tombstones applied physically, cell-clustered, lossless") {
    val compacted = Similarity.indexCompactAnn(spark, dir).collect().toSeq
    val logical = Similarity.indexDeleteAnn(spark, dir).collect().toSeq
    assert(compacted === logical, "compacted index must serve s17's answers")
    val base = graft.sources.StaleOutputs.appDir(spark, "anncompact", dir) + "/codes"
    val cellDirs = Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length > 1, s"expected cell=* inverted-list layout under $base")
    // no tombstoned id survives in the physical artifact
    val ids = spark.read.parquet(base).select("cand_id").distinct()
      .collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    ids.foreach { id =>
      assert(!org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).startsWith("0"),
        s"tombstoned vec $id present after compaction")
    }
    // the payoff of the cell-clustered layout: a one-cell probe PRUNES at
    // the file level — the scan opens only that cell's files
    val someCell = spark.read.parquet(base).agg(min("cell")).collect()(0).get(0)
    val oneCell = spark.read.parquet(base).filter(col("cell") === someCell)
    oneCell.collect()
    val scanned = oneCell.queryExecution.executedPlan.collectLeaves().flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.metrics("numFiles").value)
      case _ => Seq.empty
    }.sum
    val totalFiles = spark.read.parquet(base).inputFiles.length
    assert(scanned > 0 && scanned < totalFiles,
      s"cell probe scanned $scanned of $totalFiles files — no partition pruning")
  }

  test("chunking: stride-24/window-32 chunks tile every document exactly") {
    val docs = graft.Tables.documents(spark, dir)
    val nToks = docs.select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = TextAnalysis.chunkTokens(spark, dir).collect()
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet === nToks.keySet) // every doc chunks (n >= 1 always)
    byDoc.foreach { case (id, cs) =>
      val n = nToks(id)
      assert(cs.length === (n + 23) / 24) // ceil(n / stride) starts
      cs.foreach { c =>
        val cid = c.getAs[Int]("chunk_id")
        val expected = math.min(32, n - cid * 24)
        assert(c.getAs[Int]("n_chunk_tokens") === expected)
        // chunk text really holds that many tokens
        assert(c.getAs[String]("chunk_text").split(" ").length === expected)
      }
    }
  }

  test("quantile filter: kept docs sit at or below their language median") {
    val kept = TextAnalysis.quantileFiltered(spark, dir).collect()
    assert(kept.nonEmpty)
    // independent medians via sort-and-pick per language
    val scored = TextAnalysis.qualityScore(spark, dir)
      .join(graft.Tables.documents(spark, dir).select("doc_id", "lang"), Seq("doc_id"))
      .select("lang", "repetition_ratio").collect()
      .groupBy(_.getString(0)).map { case (l, rs) =>
        val v = rs.map(_.getDouble(1)).sorted
        val m = if (v.length % 2 == 1) v(v.length / 2)
                else (v(v.length / 2 - 1) + v(v.length / 2)) / 2.0
        l -> m
      }
    kept.foreach { r =>
      assert(r.getDouble(2) <= scored(r.getString(1)) + 1e-12)
    }
    // a median cut keeps at least half of every language
    val perLang = kept.groupBy(_.getString(1)).view.mapValues(_.length)
    val totals = graft.Tables.documents(spark, dir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (l, n) => assert(n >= totals(l) / 2) }
  }

  test("cluster size histogram: accounts for every clustered doc, families >= 2") {
    val hist = Dedup.clusterSizeHistogram(spark, dir).collect()
    assert(hist.nonEmpty)
    // every family in a pair graph has at least two members
    assert(hist.forall(_.getAs[Long]("family_size") >= 2))
    // histogram totals reconcile with the cluster labels
    val labels = Dedup.dedupClusters(spark, dir).collect()
    assert(hist.map(_.getAs[Long]("docs")).sum === labels.length)
    assert(hist.map(_.getAs[Long]("families")).sum ===
      labels.map(_.getAs[Long]("cluster_id")).distinct.length)
  }

  test("incremental dedup: survivors are batch-only, index-clean, batch-unique") {
    import org.apache.spark.sql.Row
    val docs = graft.Tables.documents(spark, dir)
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 1))
    val indexFps = docs.filter(col("bucket") =!= "f")
      .select("fp").distinct().collect().map(_.getString(0)).toSet
    val byId = docs.select("doc_id", "fp", "bucket").collect()
      .map { case Row(id: Long, fp: String, b: String) => id -> (fp, b) }.toMap
    val survivors = Dedup.incrementalDedup(spark, dir).collect().map(_.getLong(0))
    assert(survivors.nonEmpty)
    val survFps = survivors.map(id => byId(id)._1)
    assert(survivors.forall(id => byId(id)._2 == "f"), "survivors must be batch docs")
    assert(survFps.forall(!indexFps.contains(_)), "index fingerprints must be dropped")
    assert(survFps.length === survFps.distinct.length, "one keeper per fingerprint")
    // completeness: every batch fingerprint outside the index has its keeper
    val expected = byId.collect {
      case (id, (fp, "f")) if !indexFps.contains(fp) => fp
    }.toSet
    assert(survFps.toSet === expected)
    // layout-independence (VERDICT r12 item 4): the pruned-artifact form
    // the registry serves equals the inline derivation row for row
    val inline = Dedup.incrementalDedupOf(graft.Tables.documents(spark, dir))
      .collect().map(_.toString).toSeq
    assert(Dedup.incrementalDedup(spark, dir).collect().map(_.toString).toSeq
      === inline)
  }

  test("media near-dup: identical payloads always surface, pairs canonical, apply drops exactly the losers") {
    // identical payloads → identical m05 feature vectors → identical SRP
    // codes → band-certain collision: a duplicated payload always
    // surfaces as a cosine-1.0 pair. Planted at the exact dim=8 feature
    // shape mediaNearDup feeds (the corpus itself has near-dups, not
    // byte-identical payloads)
    val s = spark; import s.implicits._
    val fa = Array.tabulate(8)(i => (i * 37 + 11).toDouble)
    val fb = Array.tabulate(8)(i => (i * i * 5 + 3).toDouble)
    val planted = Seq((0L, fa), (1L, fb), (2L, fa.clone()))
      .toDF("vec_id", "embedding")
    val found = Similarity.srpNearDupOf(planted, k = 20, dim = 8).collect()
    assert(found.exists(r =>
      r.getLong(0) == 0L && r.getLong(1) == 2L && r.getDouble(2) == 1.0),
      "identical planted payloads did not surface as a cosine-1.0 pair")
    val pairs = Multimodal.mediaNearDup(spark, dir).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not canonical")
      assert(r.getDouble(2) <= 1.0 + 1e-9)
    }
    // apply = corpus minus exactly the detected losers
    val losers = pairs.map(_.getLong(1)).toSet
    val kept = Multimodal.dropMediaNearDups(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = graft.Tables.documents(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === all -- losers)
  }

  test("media phash: engine pairs equal a driver-side brute-force " +
       "aHash + nibble-band + bucket-min reconstruction") {
    val rows = Multimodal.featureBatch(spark, dir).collect()
    val n = rows.length
    // identical threshold arithmetic: exact decimal sum → one double divide
    val means = (0 until 8).map { i =>
      rows.map(r => BigDecimal(r.features(i))).sum.toDouble / n
    }
    val code = rows.map { r =>
      r.doc_id -> (0 until 8).map(i =>
        if (r.features(i) > means(i)) 1 << i else 0).sum
    }.toMap
    val expected = (for {
      band <- Seq(0, 1)
      (bkey, members) <- code.toSeq
        .groupBy { case (_, c) => if (band == 0) c % 16 else c / 16 }
      v1 = members.map(_._1).min
      (v2, c2) <- members if v2 > v1
      h = Integer.bitCount(code(v1) ^ c2) if h <= 1
    } yield (v1, v2, h)).toSet
    val got = Multimodal.mediaPerceptualNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "no perceptual pairs at sf0.001 — fixture drifted?")
  }

  test("split leakage: classes match a driver-side reconstruction from " +
       "the LSH pairs and the t36 split rule") {
    def splitOf(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
      if (h >= '0' && h <= 'b') "train"
      else if (h == 'c' || h == 'd') "val" else "test"
    }
    val pairs = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (splitOf(a), splitOf(b))
        ((if (sa <= sb) (sa, sb) else (sb, sa)), (a, b))
      }
      .groupBy(_._1)
      .map { case (k, vs) =>
        (k._1, k._2, vs.length.toLong,
          vs.flatMap { case (_, (a, b)) => Seq(a, b) }.distinct.length.toLong)
      }.toSet
    val got = TextAnalysis.splitLeakage(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
    assert(got.nonEmpty, "no LSH pairs at sf0.001 — fixture drifted?")
  }

  test("incremental near-dup: (index ∪ delta) losers ≡ full-corpus LSH losers ∩ delta") {
    // the contract that makes nightly incremental runs trustworthy: the
    // docs an incremental pass drops from the delta are EXACTLY the docs
    // a from-scratch full-corpus d04 rebuild would drop from the delta —
    // same keepers, no drift between the nightly path and the rebuild
    val docs = graft.Tables.documents(spark, dir)
    val deltaIds = docs
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fullLosers = Dedup.minhashLsh(spark, dir)
      .select("d2").collect().map(_.getLong(0)).toSet
    val expectedKept = deltaIds -- fullLosers
    val incrementalKept = Dedup.incrementalNearDup(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds.nonEmpty && (deltaIds intersect fullLosers).nonEmpty,
      "split produced no delta-side near-dups — the test would be vacuous")
    assert(incrementalKept === expectedKept)
  }

  test("bigram logprob: repeated-bigram text outscores unique-bigram text, short docs excluded") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),   // bigram types repeat — high conditional probs
      (2L, "c d e f g h"),   // every bigram occurs once
      (3L, "x")              // no bigrams at all
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLogprobOf(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(!r.contains(3L), "a one-token doc has no bigrams to score")
    assert(r(1L)._1 === 5L && r(2L)._1 === 5L) // size-1 bigrams each
    assert(r(1L)._2 > r(2L)._2,
      s"repeated bigrams must outscore unique ones: ${r(1L)._2} vs ${r(2L)._2}")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // the sf corpus has near-dup documents but no planted exact shared
  // spans, so the span tests plant their own frames (README correctness
  // note): a 4-token boilerplate frame in docs 1-3 and a 6-token shared
  // run in docs 5-6 (the run is LONGER than the window — it must surface
  // as overlapping repeated windows whose union covers the whole run)
  private def spanDocs(s: SparkSession) = {
    import s.implicits._
    Seq(
      (1L, "the quick brown fox alpha beta gamma delta"),
      (2L, "x1 the quick brown fox y1 y2"),
      (3L, "x2 x3 the quick brown fox"),
      (4L, "totally different tokens here now"),
      (5L, "one two three four five six tail5"),
      (6L, "head6 one two three four five six")
    ).toDF("doc_id", "text")
  }

  test("span near-dup: planted shared frame found with min-doc keeper; " +
       "long shared run surfaces as overlapping windows") {
    val spans = Dedup.spanNearDupOf(spanDocs(spark), window = 4).collect()
    assert(spans.length === 4, spans.mkString("; "))
    val frame = spans.filter(_.getAs[Long]("df") == 3L)
    assert(frame.length === 1, "exactly one span lives in three documents")
    assert(frame(0).getAs[Long]("keeper") === 1L)
    assert(frame(0).getAs[Long]("n_occ") === 3L)
    // the 6-token run shared by docs 5/6 = 3 overlapping 4-token windows
    val run = spans.filter(_.getAs[Long]("df") == 2L)
    assert(run.length === 3)
    assert(run.forall(_.getAs[Long]("keeper") == 5L))
  }

  test("span excision: losers lose exactly the shared span, keeper and " +
       "outsider docs byte-identical") {
    val m = Dedup.spanExciseOf(spanDocs(spark), window = 4).collect()
      .map(r => r.getLong(0) -> r).toMap
    // keeper of the frame: untouched
    assert(m(1L).getAs[Int]("tokens_removed") === 0)
    assert(m(1L).getAs[String]("clean_fp") ===
      md5Hex("the quick brown fox alpha beta gamma delta"))
    // losers: exactly the 4 frame tokens cut, surroundings stitched
    assert(m(2L).getAs[Int]("tokens_removed") === 4)
    assert(m(2L).getAs[String]("clean_fp") === md5Hex("x1 y1 y2"))
    assert(m(3L).getAs[Int]("tokens_removed") === 4)
    assert(m(3L).getAs[String]("clean_fp") === md5Hex("x2 x3"))
    // unrelated doc: untouched
    assert(m(4L).getAs[Int]("tokens_removed") === 0)
    assert(m(4L).getAs[String]("clean_fp") ===
      md5Hex("totally different tokens here now"))
    // overlapping windows union into ONE contiguous 6-token cut
    assert(m(5L).getAs[Int]("tokens_removed") === 0)
    assert(m(6L).getAs[Int]("tokens_removed") === 6)
    assert(m(6L).getAs[String]("clean_fp") === md5Hex("head6"))
  }

  test("sequence packing: every chunk lands exactly once, every sequence within budget") {
    val chunks = TextAnalysis.chunkTokens(spark, dir)
    val packed = TextAnalysis.sequencePackOf(chunks).collect()
    // conservation: chunks and tokens both partition exactly across sequences
    assert(packed.map(_.getAs[Long]("n_chunks")).sum === chunks.count())
    assert(packed.map(_.getAs[Long]("n_tokens")).sum ===
      chunks.agg(sum("n_chunk_tokens")).first().getLong(0))
    // the hard capacity contract: base = budget - window + 1 caps every
    // sequence at budget even though assignment is pure integer division
    packed.foreach(r => assert(r.getAs[Long]("n_tokens") <= 128L,
      s"sequence ${r.getAs[Long]("seq_id")} overflows: ${r.getAs[Long]("n_tokens")}"))
    // chunk size <= window < base: every bin receives a chunk start, so
    // sequence ids are gapless from 0
    val ids = packed.map(_.getAs[Long]("seq_id")).toSeq
    assert(ids === (0L until ids.length.toLong).toSeq)
  }

  test("t57 packing sweep: every budget point respects its capacity, " +
       "conserves the chunk mass, and the budget-128 row IS t23's own " +
       "aggregate; padding falls as the budget tightens toward the " +
       "chunk grain") {
    val chunks = TextAnalysis.chunkTokens(spark, dir)
    val nChunks = chunks.count()
    val nTokens = chunks.agg(sum("n_chunk_tokens")).first().getLong(0)
    val sweep = TextAnalysis.packingSweep(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getLong(6)))
    assert(sweep.map(_._1).toSeq === Seq(64, 128, 256))
    sweep.foreach { case (b, nSeqs, c, t, cap, frac, maxT) =>
      // conservation at every point: the sweep repartitions the SAME
      // chunk mass, never loses or duplicates it
      assert(c === nChunks && t === nTokens, s"budget $b lost chunk mass")
      // the t23 capacity contract holds per point
      assert(maxT <= b.toLong, s"budget $b overflowed: $maxT")
      assert(cap === nSeqs * b)
      assert(frac >= 0.0 && frac < 1.0)
    }
    // the budget-128 row must equal t23's own aggregate exactly
    val packed = TextAnalysis.sequencePackOf(chunks).collect()
    val (s128, _, _, _, _, m128) =
      sweep.find(_._1 == 128).map(x => (x._2, x._3, x._4, x._5, x._6, x._7)).get
    assert(s128 === packed.length.toLong, "budget-128 n_seqs != t23")
    assert(m128 === packed.map(_.getAs[Long]("n_tokens")).max,
      "budget-128 max fill != t23")
    // more sequences at smaller budgets (the trade the table shows)
    assert(sweep.map(_._2).toSeq === sweep.map(_._2).toSeq.sorted.reverse,
      "n_seqs should fall as the budget grows")
  }

  test("BPE merges: greedy overlap semantics, monotone counts, early stop, " +
       "one new symbol per merge") {
    val s = spark; import s.implicits._
    // "aaaa" → pairs (a,a)×3; greedy left-to-right gives "aa|aa" (NOT
    // "aa|a|a" or three merges); then (aa,aa)×1 → "aaaa"; then no pairs
    // remain and induction stops early at 2 of the 8 requested merges
    val m = TextAnalysis.bpeMergesOf(Seq((1L, "aaaa")).toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getString(4)))
    assert(m.toSeq === Seq((1L, "a", "a", 3L, "aa"), (2L, "aa", "aa", 1L, "aaaa")))

    // corpus induction: full 8 rounds, counts monotone non-increasing
    // (a merge can only remove adjacencies or create pairs bounded by its
    // own count), vocabulary grows by exactly one fresh symbol per merge
    val c = TextAnalysis.bpeMerges(spark, dir).collect()
    assert(c.length === 8)
    val counts = c.map(_.getAs[Long]("pair_count")).toSeq
    assert(counts.sliding(2).forall(w => w.head >= w.last), counts.mkString(","))
    c.foreach(r => assert(r.getAs[String]("merged") ===
      r.getAs[String]("lhs") + r.getAs[String]("rhs")))
    assert(c.map(_.getAs[String]("merged")).distinct.length === 8)
  }

  test("t56 batched BPE: batch=1 degenerates to EXACTLY t24's greedy " +
       "trainer, every round's picks are mutually symbol-disjoint, and " +
       "the round-1 picks are a ranked prefix walk of t24's pair table") {
    // batch=1, rounds=8 must reproduce t24's sequential merge table
    val seq24 = TextAnalysis.bpeMerges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4)))
    val b1 = TextAnalysis.bpeBatchMergesOf(
        graft.Tables.documents(spark, dir), rounds = 8, batch = 1).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3),
        r.getLong(4), r.getString(5)))
    assert(b1.toSeq === seq24.toSeq,
      "batch=1 batched trainer diverged from the sequential greedy")
    // production shape: rounds of disjoint picks
    val batched = TextAnalysis.bpeBatchMerges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getLong(4)))
    assert(batched.nonEmpty)
    batched.groupBy(_._1).foreach { case (round, picks) =>
      val syms = picks.flatMap(p => Seq(p._3, p._4))
      assert(syms.distinct.length === syms.length,
        s"round $round picks share symbols: ${picks.mkString(",")}")
      // picks are recorded in selection (rank) order with counts from
      // the PRE-round table: counts non-increasing within the round
      val cs = picks.sortBy(_._2).map(_._5)
      assert(cs.sliding(2).forall(w => w.head >= w.last), cs.mkString(","))
    }
    // round 1's first pick IS t24's first merge (same table, same order)
    val r1 = batched.filter(p => p._1 == 1L && p._2 == 1).head
    assert((r1._3, r1._4, r1._5) === ((seq24.head._2, seq24.head._3, seq24.head._4)))
  }

  test("BPE encode: merges compress, expansion bounded by chars, token conservation") {
    val s = spark; import s.implicits._
    // "aaaa aaaa b" induces (a,a) then (aa,aa): every "aaaa" encodes to ONE
    // subword, "b" stays one — 3 words, 3 subwords despite 9 characters
    val enc = TextAnalysis.bpeEncodeOf(Seq((1L, "aaaa aaaa b")).toDF("doc_id", "text"))
      .collect()
    assert(enc.length === 1)
    assert(enc.head.getAs[Long]("word_count") === 3L)
    assert(enc.head.getAs[Long]("subword_count") === 3L)

    // corpus: subword counts sit between word count (merges only shrink to
    // >=1 per word) and character count (no merge ever splits)
    val docs = graft.Tables.documents(spark, dir)
    val out = TextAnalysis.bpeEncode(spark, dir)
    assert(out.count() === docs.count())
    val bad = out.filter(col("subword_count") < col("word_count") ||
      col("expansion") < 1.0)
    assert(bad.count() === 0)
    // conservation: word_count matches the tokenizer's own alnum-word grain
    val words = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$")).count()
    assert(out.agg(sum("word_count")).first().getLong(0) === words)
  }

  test("component sizes: HashMin rounds resolve known components; " +
       "histogram accounts for every node") {
    val s = spark; import s.implicits._
    // two components: a path a-b-c-d (diameter 3) and an edge x-y
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("src", "dst")
    val und = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val hist = GraphRank.componentSizesOf(und, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 3 rounds ≥ both diameters → exact components: one of size 4, one of 2
    assert(hist === Set((2L, 1L, 2L), (4L, 1L, 4L)))
    // an UNDER-budgeted run is still deterministic, just unconverged:
    // after 1 round node d holds label 'c' (min within 1 hop), so the
    // path splits — total node mass is conserved regardless
    val one = GraphRank.componentSizesOf(und, rounds = 1).collect()
    assert(one.map(_.getLong(2)).sum === 6L)
    // driver surface runs on the purchase graph and conserves its nodes
    val nodes = GraphRank.componentSizes(spark, dir)
      .agg(sum("nodes")).first().getLong(0)
    val expected = graft.Tables.orders(spark, dir)
      .join(graft.Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("n"))
      .union(graft.Tables.orders(spark, dir)
        .join(graft.Tables.lineitem(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("s"), col("l_suppkey")).as("n")))
      .distinct().count()
    assert(nodes === expected)
  }

  test("zipf fit: slope recovers a planted power law; n_words caps at topN") {
    val s = spark; import s.implicits._
    // synthetic corpus with freq(word_r) = floor(1000 / r): exact Zipf
    // (slope −1) up to floor jitter — the fit must land near −1
    val docs = (1 to 50).flatMap { r =>
      Seq.fill(1000 / r)(s"w${"%02d".format(r)}")
    }.grouped(500).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val row = TextAnalysis.zipfFitOf(docs, topN = 50).collect()(0)
    assert(row.getAs[Long]("n_words") === 50L)
    val slope = row.getAs[Double]("zipf_slope")
    assert(slope < -0.9 && slope > -1.1, s"slope $slope not ~ -1")
    // real corpus: negative slope, bounded word count
    val corpus = TextAnalysis.zipfFit(spark, dir).collect()(0)
    assert(corpus.getAs[Double]("zipf_slope") < 0)
    assert(corpus.getAs[Long]("n_words") <= 1000L)
  }

  test("perplexity buckets: quartiles partition the corpus evenly and " +
       "bucket means are monotone non-increasing") {
    val out = TextAnalysis.perplexityBuckets(spark, dir).collect()
    assert(out.map(_.getAs[Int]("bucket")).toSeq === Seq(1, 2, 3, 4))
    val total = graft.Tables.documents(spark, dir).count()
    val sizes = out.map(_.getAs[Long]("docs"))
    assert(sizes.sum === total)
    assert(sizes.max - sizes.min <= 1, s"ntile imbalance: ${sizes.toSeq}")
    // bucket 1 holds the highest (least negative) scores
    val means = out.map(_.getAs[Double]("mean_logprob"))
    assert(means.zip(means.tail).forall { case (a, b) => a >= b },
      s"bucket means not monotone: ${means.toSeq}")
  }

  test("graph rank: hand-walked supersteps, teleport floor, node accounting") {
    val s = spark; import s.implicits._
    // c1—{s1,s2}, c2—{s2}: degrees c1=2, c2=1, s1=1, s2=2, n=4. Three
    // hand-walked fixed-point supersteps from uniform SCALE/4 mass
    // (divisions land exactly, so no floor loss obscures the arithmetic)
    val ord = Seq((1L, 1L), (2L, 2L)).toDF("o_orderkey", "o_custkey")
    val li = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("l_orderkey", "l_suppkey")
    val m = GraphRank.graphRankOf(ord, li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m === Map(
      "s1" -> (1L, 169714843750L),
      "s2" -> (2L, 330285156250L)))

    // corpus: one row per participating supplier; every rank holds the
    // integer teleport floor and stays below total mass
    val orders = graft.Tables.orders(spark, dir)
    val lineitem = graft.Tables.lineitem(spark, dir)
    val out = GraphRank.graphRank(spark, dir).collect()
    assert(out.length === lineitem.select("l_suppkey").distinct().count())
    val n = orders.select("o_custkey").distinct().count() +
      lineitem.select("l_suppkey").distinct().count()
    val grant = (15L * 1000000000000L / 100L) / n
    out.foreach { r =>
      val score = r.getAs[Long]("rank_micros")
      assert(score >= grant && score < 1000000000000L, s"${r.getString(0)}: $score")
    }

    // personalized: only seed-reachable mass — totals strictly below the
    // uniform walk's, and seeds' suppliers outrank the global floor
    val pr = GraphRank.personalizedRank(spark, dir).collect()
    assert(pr.length === out.length)
    pr.foreach { r =>
      val score = r.getAs[Long]("rank_micros")
      assert(score >= 0L && score < 1000000000000L)
    }
    val uniform = out.map(r => r.getString(0) -> r.getAs[Long]("rank_micros")).toMap
    assert(pr.exists(r => uniform(r.getString(0)) != r.getAs[Long]("rank_micros")),
      "seed-restricted teleport must actually reshape the distribution")
  }

  test("quality classifier: real separation, threshold consistency, score bounds") {
    val out = TextAnalysis.qualityClassifier(spark, dir).collect()
    assert(out.length === graft.Tables.documents(spark, dir).count())
    val labels = out.map(_.getAs[Int]("keep")).distinct.sorted
    assert(labels.toSeq === Seq(0, 1), "threshold must actually separate the corpus")
    out.foreach { r =>
      val s = r.getAs[Double]("score")
      assert(s > 0.0 && s < 1.0)
      assert((r.getAs[Int]("keep") === 1) === (s >= 0.5))
    }
  }

  test("vocab growth: conservation against corpus totals, monotone curves") {
    val docs = graft.Tables.documents(spark, dir)
    val rows = TextAnalysis.vocabGrowth(spark, dir).collect()
    assert(rows.length === docs.count())
    // every type is attributed exactly once; totals close the books
    val allToks = docs.select(explode(split(col("text"), " ")).as("t"))
    assert(rows.map(_.getAs[Long]("new_types")).sum ===
      allToks.distinct().count())
    assert(rows.last.getAs[Long]("cum_types") ===
      rows.map(_.getAs[Long]("new_types")).sum)
    assert(rows.last.getAs[Long]("cum_tokens") === allToks.count())
    // running sums are monotone and the curve saturates (late docs add
    // fewer new types than the opening doc, which contributes all of its
    // distinct tokens)
    assert(rows.sliding(2).forall(w =>
      w.head.getAs[Long]("cum_types") <= w.last.getAs[Long]("cum_types")))
    assert(rows.head.getAs[Long]("new_types") > rows.last.getAs[Long]("new_types"))
  }

  test("threshold sweep: monotone non-increasing, anchored at the detector's pair set") {
    val rows = Dedup.thresholdSweep(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq === rows.map(_._1).sorted.toSeq)
    // tightening the cutoff can only shed pairs and losers
    rows.sliding(2).foreach {
      case Array((_, p1, l1), (_, p2, l2)) =>
        assert(p2 <= p1 && l2 <= l1)
      case _ => ()
    }
    // the 0.5 row IS the production detector's output
    assert(rows.head._1 === 0.5)
    assert(rows.head._2 === Dedup.minhashLsh(spark, dir).count())
  }

  test("minhash estimate: exact for identical docs, unbiased within tolerance") {
    val rows = Dedup.minhashEstimate(spark, dir).collect()
    assert(rows.nonEmpty, "testdata should contain exact near-dup pairs")
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      // 8 components → estimates are multiples of 1/8
      assert(est >= 0.0 && est <= 1.0 && math.abs(est * 8 - math.round(est * 8)) < 1e-9)
      if (r.getAs[Double]("jaccard") == 1.0)
        assert(est === 1.0, "identical shingle sets must have identical signatures")
    }
    val meanErr = rows.map(_.getAs[Double]("est_err")).sum / rows.length
    assert(meanErr < 0.25, f"mean |J - est| $meanErr%.3f too high for 8 perms")
  }

  test("unigram logprob: exact hand computation, common-token docs score higher") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "a a a"), (2L, "a b c")).toDF("doc_id", "text")
    // freqs: a=4, b=1, c=1, total=6; lp(a)=round(ln(4/6),6)=-0.405465,
    // lp(b)=lp(c)=round(ln(1/6),6)=-1.791759
    val m = TextAnalysis.unigramLogprobOf(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob")).toMap
    assert(m(1L) === BigDecimal(-0.405465).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(math.abs(m(2L) - math.rint(((-0.405465 - 1.791759 - 1.791759) / 3) * 1e4) / 1e4) < 1e-9)
    assert(m(1L) > m(2L), "the common-token doc must score higher")
    val corpus = TextAnalysis.unigramLogprob(spark, dir).collect()
    assert(corpus.length === graft.Tables.documents(spark, dir).count())
    assert(corpus.forall(_.getAs[Double]("avg_logprob") < 0.0))
  }

  test("ngram repetition: looping text scores high, varied text scores zero") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"), // 7 trigrams, 3 distinct; top token 3/9
      (2L, "w x y z"),           // 2 distinct trigrams → dup 0
      (3L, "q r")                // under 3 tokens → no trigrams, dup 0
    ).toDF("doc_id", "text")
    val m = TextAnalysis.ngramRepetitionOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getAs[Int]("n_trigrams") === 7)
    assert(m(1L).getAs[Double]("dup_trigram_frac") === 0.5714) // 1 - 3/7
    assert(m(1L).getAs[Double]("top_token_frac") === 0.3333)   // 3/9
    assert(m(2L).getAs[Double]("dup_trigram_frac") === 0.0)
    assert(m(2L).getAs[Double]("top_token_frac") === 0.25)
    assert(m(3L).getAs[Int]("n_trigrams") === 0)
    assert(m(3L).getAs[Double]("dup_trigram_frac") === 0.0)
  }

  test("temperature mix: per-language sample is exactly floor(sqrt(n)), reproducibly") {
    val out = TextAnalysis.temperatureMix(spark, dir).collect()
    val totals = graft.Tables.documents(spark, dir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perLang = out.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(perLang.keySet === totals.keySet, "every language survives the mix")
    perLang.foreach { case (l, n) =>
      assert(n === math.floor(math.sqrt(totals(l).toDouble)).toInt,
        s"lang $l: sampled $n of ${totals(l)}")
    }
    // α=0.5 rebalances: the dominant language is cut harder than the rarest
    val keepRate = totals.map { case (l, n) => l -> perLang(l).toDouble / n }
    assert(keepRate(totals.maxBy(_._2)._1) < keepRate(totals.minBy(_._2)._1))
    // deterministic: a second run selects the identical doc set
    val again = TextAnalysis.temperatureMix(spark, dir).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("PQ: complete codes, monotone ADC ranking, overlaps exact L2 neighbors") {
    val nvec = graft.Tables.embeddings(spark, dir).count()
    val codes = Similarity.pqCodes(spark, dir).collect()
    assert(codes.length === nvec * 8, "every vector needs one code per subspace")
    assert(codes.forall { r =>
      val c = r.getAs[Int]("code"); c >= 0 && c < Similarity.PqK
    })
    codes.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getAs[Int]("subspace")).sorted.toSeq === (0 until 8))
    }
    val ann = Similarity.pqAnn(spark, dir).collect()
    val perQuery = ann.groupBy(_.getLong(0))
    assert(perQuery.size === 10)
    perQuery.values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === Seq(1, 2, 3))
      val d = sorted.map(_.getAs[Double]("adist"))
      assert(d.forall(_ >= 0.0) && d.zip(d.tail).forall { case (a, b) => a <= b })
    }
    // ADC is an approximation; it must still find SOME exact-L2 neighbors
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d").asc, col("cand_id").asc)
    val n = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val exact = n.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(n.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cand_id"), col("v").as("cv")))
      .withColumn("d",
        expr("aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact & got).nonEmpty, "ADC found none of the exact top-3 neighbors")
  }

  test("IVF-PQ: candidates confined to probed cells, ranking monotone") {
    val ann = Similarity.ivfPqAnn(spark, dir).collect()
    val perQuery = ann.groupBy(_.getLong(0))
    assert(perQuery.size === 10)
    perQuery.values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === Seq(1, 2, 3))
      val d = sorted.map(_.getAs[Double]("adist"))
      assert(d.forall(_ >= 0.0) && d.zip(d.tail).forall { case (a, b) => a <= b })
    }
    // IVF invariant: every returned candidate lives in one of its query's
    // nprobe=2 nearest cells (re-derived here from the public centroid
    // table, mirroring the quantizer's L2 + cell tie-break rule)
    val cents = Similarity.labelCentroids(spark, dir).collect()
      .groupBy(_.get(0).toString)
      .map { case (cell, rs) =>
        cell -> rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("centroid"))
      }
    val vecs = graft.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    def ranked(v: Array[Double]) = cents.toSeq.map { case (cell, c) =>
      (cell, v.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum)
    }.sortBy { case (cell, d) => (d, cell) }.map(_._1)
    val candCell = vecs.map { case (id, v) => id -> ranked(v).head }
    val queryProbes = vecs.collect { case (id, v) if id < 10 => id -> ranked(v).take(2).toSet }
    ann.foreach { r =>
      val q = r.getLong(0); val c = r.getLong(1)
      assert(queryProbes(q).contains(candCell(c)),
        s"query $q returned candidate $c outside its probed cells")
    }
  }

  test("ann recall report: one row per query, matches bounded, recall consistent") {
    val rows = Similarity.annRecallReport(spark, dir).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === (0L until 10L))
    rows.foreach { r =>
      val m = r.getAs[Long]("matches")
      assert(m >= 0 && m <= 3)
      assert(r.getAs[Double]("recall") ===
        BigDecimal(m / 3.0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("incremental index: complete rank structure, repeat calls identical") {
    val r1 = Similarity.incrementalIndexAnn(spark, dir).collect()
    val r2 = Similarity.incrementalIndexAnn(spark, dir).collect()
    assert(r1.toSeq === r2.toSeq, "frozen-trainer search must be deterministic")
    val byQuery = r1.groupBy(_.getLong(0))
    assert(byQuery.keySet === (0L until 10L).toSet)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getInt(3)).sorted.toSeq === Seq(1, 2, 3))
    }
  }

  test("index delete: tombstoned candidates never surface, survivors keep s13's relative order") {
    val deleted = graft.Tables.embeddings(spark, dir)
      .select("vec_id").collect().map(_.getLong(0))
      .filter(id => java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(1).map(b => f"$b%02x").mkString
        .startsWith("0")).toSet
    assert(deleted.nonEmpty, "hash slice selected no tombstones — vacuous")
    val after = Similarity.indexDeleteAnn(spark, dir).collect()
    after.foreach { r =>
      assert(!deleted.contains(r.getLong(1)),
        s"deleted candidate ${r.getLong(1)} surfaced in search results")
    }
    // deletion only removes candidates: any s13 result whose candidate
    // survives must keep its (query, cand) pairing
    val before = Similarity.ivfPqAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = before.filter { case (_, c) => !deleted.contains(c) }
    val afterPairs = after.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(survivors.subsetOf(afterPairs))
  }

  test("filtered ANN: pre-filter fills top-k from the allowed subset only") {
    val evens = graft.Tables.embeddings(spark, dir)
      .filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(evens.nonEmpty)
    val out = Similarity.filteredAnn(spark, dir).collect()
    // every hit obeys the predicate, and every query still fills k=3 —
    // the guarantee post-filtering an unfiltered top-k cannot give
    out.foreach(r => assert(evens.contains(r.getLong(1)),
      s"candidate ${r.getLong(1)} violates the metadata predicate"))
    val perQuery = out.groupBy(_.getLong(0)).values.map(_.length).toSet
    assert(perQuery === Set(3))
    // the predicate must actually bind: some unfiltered hit is odd-labeled
    val unfiltered = Similarity.ivfPqAnn(spark, dir).collect()
    assert(unfiltered.exists(r => !evens.contains(r.getLong(1))),
      "even-label filter is vacuous against s13's results")
  }

  test("media search: 3 ranked hits per query, descending cosine, valid range") {
    val out = graft.ops.Multimodal.mediaSearch(spark, dir).collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.values.forall(_.length === 3))
    byQuery.values.foreach { hits =>
      val cos = hits.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cosine"))
      assert(cos.sliding(2).forall(w => w.head >= w.last), cos.mkString(","))
      cos.foreach(c => assert(c >= -1.0 && c <= 1.0))
    }
  }

  test("co-purchase: canonical pair order, support cross-checked directly") {
    val out = Relational_q40(spark)
    assert(out.nonEmpty && out.length <= 25)
    out.foreach(r => assert(r.getLong(0) < r.getLong(1), "pairs must be canonical"))
    // supports arrive sorted and the top pair's support re-derives exactly
    val supports = out.map(_.getAs[Long]("support"))
    assert(supports.sliding(2).forall(w => w.head >= w.last))
    val (p1, p2) = (out.head.getLong(0), out.head.getLong(1))
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val direct = li.filter(col("l_partkey") === p1).select("l_orderkey")
      .intersect(li.filter(col("l_partkey") === p2).select("l_orderkey"))
      .count()
    assert(direct === supports.head)
  }

  private def Relational_q40(s: org.apache.spark.sql.SparkSession) =
    graft.queries.Relational.q40Copurchase(s, dir).collect()

  test("index round trip: search from the persisted parquet index equals the in-session answer") {
    val fromDisk = Similarity.indexRoundTrip(spark, dir).collect().toSeq
    val inSession = Similarity.ivfPqAnn(spark, dir).collect().toSeq
    assert(fromDisk === inSession)
    val base = graft.sources.StaleOutputs.appDir(spark, "annindex", dir)
    for (part <- Seq("centroids", "codebooks", "codes"))
      assert(new java.io.File(s"$base/$part").exists(), s"$part not persisted")
  }

  test("PQ index artifacts persist on disk: repeat calls read, never retrain") {
    // build-index/query-index split, now CROSS-PROCESS
    // (AnnStore.landRead): the first call trains and publishes a parquet
    // artifact; every later call — this session or a fresh JVM — must
    // read that artifact without rewriting it. Witness: the artifact
    // tree's newest DATA mtime is unchanged across a repeat call (a retrain would
    // republish). `_SUCCESS` is excluded: reuse deliberately touches it
    // as the lease renewal (r13 lifecycle fix) — a lease touch is not a
    // republish, and the part files + `_SOURCE` generation marker must
    // stay byte-identical.
    def newestMtime(f: java.io.File): Long =
      if (f.isDirectory)
        (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
          .map(newestMtime)).max
      else if (f.getName == "_SUCCESS") 0L
      else f.lastModified()
    val store = new java.io.File(graft.sources.ArtifactStore.AnnStore.root)
    for (f <- Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
        Similarity.pqCodebooks, Similarity.pqCandidateCodes,
        Similarity.residCodebooks, Similarity.residCandidateCodes)) {
      val first = f(spark, dir).collect()
      val stamp = newestMtime(store)
      val again = f(spark, dir).collect()
      assert(newestMtime(store) === stamp, "repeat call republished an artifact")
      assert(again.map(_.toString).sorted.toSeq ===
        first.map(_.toString).sorted.toSeq)
    }
    // the corpus-sized assignment stays an IN-SESSION memo (float vectors
    // don't belong in the artifact store): reference equality + persisted
    val first = Similarity.trainedAssignment(spark, dir)
    assert(Similarity.trainedAssignment(spark, dir) eq first,
      "memo returned a fresh frame")
    assert(first.storageLevel.useMemory, "memoized frame is not persisted")
  }

  test("trainedAssignment builds once under concurrent first access: two " +
       "callers released together on a fresh session persist one frame, " +
       "and only one of them runs Spark jobs") {
    import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    // a private copy of the corpus: a plan no earlier test has cached
    val copy = graft.TempDir("graft_assign_race")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/embeddings.parquet"),
      copy.resolve("embeddings.parquet"))
    val fresh = spark.newSession()
    val sc = spark.sparkContext
    val groups = ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    val before = sc.getPersistentRDDs.keys.toSet
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(i => pool.submit(new Callable[org.apache.spark.sql.DataFrame] {
        def call(): org.apache.spark.sql.DataFrame = {
          sc.setJobGroup(s"graft-assign-caller-$i", "concurrent first access")
          go.await()
          Similarity.trainedAssignment(fresh, copy.toString)
        }
      }))
      go.countDown()
      val frames = calls.map(_.get(600, TimeUnit.SECONDS))
      assert(frames(0) eq frames(1), "the two callers got different frames")
      val added = sc.getPersistentRDDs.keys.toSet -- before
      assert(added.size === 1,
        s"concurrent first access persisted ${added.size} frames, not 1")
      // the listener bus delivers in order: once this job is seen, every
      // job the callers started has been seen too
      sc.setJobGroup("graft-assign-barrier", "barrier")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60e9.toLong
      while (!groups.contains("graft-assign-barrier") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(groups.contains("graft-assign-barrier"))
      val building = groups.asScala.filter(_.startsWith("graft-assign-caller-"))
      assert(building.size === 1,
        s"both callers ran the build: ${building.toSeq.sorted.mkString(", ")}")
    } finally {
      pool.shutdownNow()
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(copy.toFile)
    }
  }

  test("d38 retro compaction completes d22 across the arrival boundary: " +
       "tombstones are exactly the index docs the exact all-pairs " +
       "detector pairs with a SMALLER-id delta doc — the drops a " +
       "from-scratch rebuild would make that the immutable-index night " +
       "cannot") {
    def bucket(id: Long): Char = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
    }
    val exact = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.nonEmpty)
    val tomb = Dedup.retroCompaction(spark, dir).collect()
      .map(_.getLong(0)).toSet
    // soundness: every tombstone is an index doc out-kept by a delta doc
    tomb.foreach { t =>
      assert(bucket(t) != 'f', s"tombstone $t is a delta doc")
      assert(exact.exists { case (a, b) => b == t && bucket(a) == 'f' },
        s"tombstone $t has no exact cross-boundary pair")
    }
    // completeness: every exact (delta < index) pair tombstones its
    // index side — together with d22's delta-side drops, the
    // incremental pair reproduces the from-scratch detector across the
    // boundary (within-index pairs belong to earlier nights)
    val expected = exact.collect {
      case (a, b) if bucket(a) == 'f' && bucket(b) != 'f' => b
    }.toSet
    assert(tomb === expected)
    // sf0.001's planted pairs happen never to put the delta doc first
    // (tomb may be empty here; sf0.01 carries 1, sf0.1 carries 17 in
    // the gate) — prove the non-vacuous path on a constructed corpus:
    // identical text, the SMALLER id on the arrival side
    val sess = spark; import sess.implicits._
    val deltaId = Iterator.from(0).map(_.toLong).find(bucket(_) == 'f').get
    val indexId = Iterator.from(deltaId.toInt + 1).map(_.toLong)
      .find(bucket(_) != 'f').get
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (deltaId, body, "en", body.length.toLong),
      (indexId, body, "en", body.length.toLong),
      (indexId + 1, (1 to 40).map(i => s"other$i").mkString(" "), "en", 10L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val synth = Dedup.retroCompactionOf(docs, Dedup.docShinglesOf(docs))
      .collect().map(_.getLong(0)).toSet
    assert(synth === Set(indexId),
      s"expected exactly the out-kept index doc $indexId, got $synth")
  }

  test("t58 substring duplication: accounting bounded, window counts " +
       "match a driver recompute, planted verbatim spans cross the drop " +
       "band from both sides of an LSH pair, and the two detectors " +
       "measurably diverge (shingle-Jaccard ≠ contiguous-run overlap)") {
    val rows = TextAnalysis.substringDup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { case (n, d, pm, v) =>
      assert(d <= n && n > 0)
      assert(pm === 1000L * d / n)
      assert(v === (if (pm >= 500) "drop" else if (pm >= 200) "trim" else "keep"))
    }
    val texts = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // docs under the window width carry no row, by contract
    val eligible = texts.filter(_._2.toLowerCase.split(" ", -1).length >=
      TextAnalysis.SubstrWindow).map(_._1).toSet
    assert(rows.keySet === eligible)
    // n_windows matches a driver-side sliding-window recompute
    val (sampleId, sampleText) = texts.find(t => eligible(t._1)).get
    val toks = sampleText.toLowerCase.split(" ", -1)
    val expectWins = toks.sliding(TextAnalysis.SubstrWindow)
      .map(_.mkString(" ")).toSeq.distinct.size
    assert(rows(sampleId)._1 === expectWins.toLong,
      s"doc $sampleId window count mismatch")
    // the planted near-dups share long verbatim spans: some doc must
    // cross the trim band
    assert(rows.values.exists(_._4 != "keep"),
      "planted verbatim spans did not surface")
    // cross-detector relationship: at least one LSH pair is VERBATIM
    // enough that both sides cross the drop band — but NOT every LSH
    // pair is (a 0.5-Jaccard doc whose edits land every ~10 tokens
    // shares shingles yet no 16-token run): the two detectors measure
    // different things, which is exactly why this operator exists
    val lshPairs = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lshPairs.nonEmpty)
    assert(lshPairs.exists { case (a, b) =>
      eligible(a) && eligible(b) && rows(a)._3 >= 500 && rows(b)._3 >= 500
    }, "no LSH pair crossed the drop band from both sides")
    // sharing is symmetric by construction: a doc with dup material
    // never stands alone
    val dupDocs = rows.filter(_._2._2 > 0)
    assert(dupDocs.isEmpty || dupDocs.size >= 2)
  }

  test("mixture report: docs and shares account for the whole corpus") {
    val rows = TextAnalysis.mixtureReport(spark, dir).collect()
    val total = graft.Tables.documents(spark, dir).count()
    assert(rows.map(_.getAs[Long]("docs")).sum === total)
    val shareSum = rows.map(_.getAs[Double]("doc_share")).sum
    assert(math.abs(shareSum - 1.0) < 0.005, s"shares sum to $shareSum")
    val bands = Set("ok", "too_short", "repetitive", "boilerplate")
    assert(rows.forall(r => bands.contains(r.getAs[String]("quality_band"))))
  }

  test("oov rate: vocab docs score 0, rates bounded, token counts conserved") {
    val rows = TextAnalysis.oovRate(spark, dir).collect()
    val total = graft.Tables.documents(spark, dir)
      .select(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === total)
    rows.foreach { r =>
      val rate = r.getAs[Double]("oov_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("in_vocab_tokens") <= r.getAs[Long]("n_tokens"))
    }
    // the corpus vocabulary covers most of this synthetic corpus
    val meanRate = rows.map(_.getAs[Double]("oov_rate")).sum / rows.length
    assert(meanRate < 0.5, f"mean OOV $meanRate%.3f implausibly high")
  }

  test("extreme values: exact per-type ceil(n/1000) tail, two-phase equals window") {
    import graft.queries.Relational
    val out = Relational.q31ExtremeValues(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val e = spark.read.parquet(s"$dir/events.parquet")
    val counts = e.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perType = out.groupBy(_._1).view.mapValues(_.length).toMap
    counts.foreach { case (t, n) =>
      assert(perType.getOrElse(t, 0) === ((n + 999) / 1000).toInt, s"type $t")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
    val direct = e.select(col("event_id"), col("event_type"), col("value"))
      .withColumn("rk", row_number().over(w))
      .collect().filter(r => r.getAs[Int]("rk") <= ((counts(r.getAs[String]("event_type")) + 999) / 1000).toInt)
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    assert(out.toSet === direct.toSet)
  }

  test("stratified sample: two-phase salted top-k equals the direct window") {
    val twoPhase = TextAnalysis.stratifiedSample(spark, dir).collect()
      .map(r => (r.getString(1), r.getAs[Int]("rk"), r.getLong(0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val direct = graft.Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy("lang", "rk")
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Int]("rk"), r.getAs[Long]("doc_id")))
    assert(twoPhase.toSeq === direct.toSeq)
    assert(twoPhase.groupBy(_._1).values.forall(_.length <= 5))
  }

  test("corpus merge: precedence wins on collision, ties break to smallest id") {
    val s = spark; import s.implicits._
    val curated = Seq((10L, "alpha"), (11L, "beta")).toDF("doc_id", "text")
    val crawl = Seq(
      (20L, "alpha"),  // exact dup of curated 10 → curated wins
      (21L, "gamma"),  // new content → kept
      (22L, "gamma")   // same-priority dup → smallest id (21) wins
    ).toDF("doc_id", "text")
    val out = Dedup.mergeWithPrecedenceOf(
      Seq((curated, "curated", 0), (crawl, "crawl", 1)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSet === Set(
      (10L, "curated", 2L), (11L, "curated", 1L), (21L, "crawl", 2L)))
    // the merge agg must stay a HashAggregate: the packed-BIGINT min is
    // fully primitive (a struct min_by would fall back to SortAggregate)
    val plan = Dedup.mergeWithPrecedenceOf(
      Seq((curated, "curated", 0), (crawl, "crawl", 1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"))
    assert(!plan.contains("SortAggregate"))
  }

  test("hll: raw-branch estimate within tolerance, invariant under duplication") {
    // 4000 distinct single-word docs: fills all 64 registers (raw branch,
    // not linear counting); duplication must not move an NDV estimate.
    val docs = spark.range(4000)
      .select(lit("s1").as("source"), concat(lit("w"), col("id")).as("text"))
    val once = TextAnalysis.hllDistinctOf(docs).collect()(0)
    assert(once.getAs[Int]("nonzero_registers") === 64) // raw path
    assert(once.getAs[Long]("exact_ndv") === 4000L)
    assert(math.abs(once.getAs[Double]("rel_err")) < 0.35) // ~2.7x the 13% sigma
    val tripled = TextAnalysis.hllDistinctOf(
      docs.union(docs).union(docs)).collect()(0)
    assert(tripled.getAs[Double]("hll_ndv") === once.getAs[Double]("hll_ndv"))
  }

  test("attribution: every model conserves conversions and revenue") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type"), col("value")).collect()
    val purchases = ev.filter(_.getString(0) == "purchase")
    val nConv = purchases.length.toDouble
    val totalValue = purchases.map(_.getDouble(1)).sum
    val rows = graft.queries.Relational.q42Attribution(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSet ===
      Set("first_touch", "last_touch", "linear"))
    assert(rows.map(_.getString(1)).toSet.subsetOf(
      Set("view", "click", "signup", "(direct)")))
    rows.groupBy(_.getString(0)).foreach { case (model, rs) =>
      val cc = rs.map(_.getAs[Double]("credited_conversions")).sum
      val cv = rs.map(_.getAs[Double]("credited_value")).sum
      // linear credits round per-touch at 6dp, so conservation holds to
      // ~1e-6 x touches; last/first are exact integers
      assert(math.abs(cc - nConv) < 0.01, s"$model conversions: $cc vs $nConv")
      assert(math.abs(cv - totalValue) < 0.05, s"$model value: $cv vs $totalValue")
    }
  }

  test("assoc rules: scores match brute recompute, ranking is total") {
    val items = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = items.map(_._1).distinct.length
    val deg = items.groupBy(_._2).map { case (pk, xs) => pk -> xs.length }
    val sup = items.groupBy(_._1).values
      .flatMap { basket =>
        val pks = basket.map(_._2).sorted
        for (i <- pks.indices; j <- i + 1 until pks.length) yield (pks(i), pks(j))
      }
      .groupBy(identity).map { case (p, xs) => p -> xs.size }
    val rows = graft.queries.Relational.q43AssocRules(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, c) = (r.getAs[Long]("ante"), r.getAs[Long]("cons"))
      val sab = sup.getOrElse(if (a < c) (a, c) else (c, a), 0)
      assert(sab === r.getAs[Long]("support"))
      assert(sab >= 2)
      val (sa, sb) = (deg(a), deg(c))
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r6(sab.toDouble / sa) === r.getAs[Double]("confidence"))
      assert(r6(sab.toDouble * nOrders / (sa.toDouble * sb)) === r.getAs[Double]("lift"))
      assert(r6(sab.toDouble / (sa + sb - sab)) === r.getAs[Double]("jaccard"))
    }
    val ranked = rows.sortBy(_.getAs[Int]("rank"))
    val resorted = rows.sortBy(r => (-r.getAs[Double]("lift"),
      -r.getAs[Double]("confidence"), r.getAs[Long]("ante"), r.getAs[Long]("cons")))
    assert(ranked.map(_.getAs[Long]("ante")).toSeq ===
      resorted.map(_.getAs[Long]("ante")).toSeq)
  }

  test("zscore anomalies: window stats match brute trailing-7 recompute") {
    val dayUs = 86400000000L
    val daily = graft.Tables.eventsUs(spark, dir)
      .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val series = daily.groupBy(_._1._1).map { case (et, m) =>
      et -> m.toSeq.map { case ((_, d), c) => (d, c) }.sortBy(_._1)
    }
    val rows = graft.queries.Relational.q44AnomalyZscore(spark, dir).collect()
    assert(rows.nonEmpty)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val (et, day, c) = (r.getString(0), r.getLong(1), r.getAs[Long]("events"))
      val s = series(et)
      val i = s.indexWhere(_._1 == day)
      val win = s.slice(i - 7, i).map(_._2)
      assert(win.length === 7) // only full windows are emitted
      assert(c === s(i)._2)
      val mean = win.sum / 7.0
      val sd = math.sqrt((win.map(x => x * x).sum - win.sum * win.sum / 7.0) / 6.0)
      val z = r4((c - mean) / sd)
      assert(r.getAs[Double]("zscore") === z)
      assert(r.getAs[Int]("is_anomaly") === (if (math.abs(z) >= 2.0) 1 else 0))
    }
  }

  test("trend fit: closed-form OLS matches brute recompute per group") {
    val dayUs = 86400000000L
    val daily = graft.Tables.eventsUs(spark, dir)
      .select(col("event_type"), expr(s"ts_us div $dayUs").as("day"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }.toSeq
    val day0 = daily.map(_._1._2).min
    val rows = graft.queries.Relational.q45TrendFit(spark, dir).collect()
    assert(rows.nonEmpty)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { r =>
      val et = r.getString(0)
      val pts = daily.filter(_._1._1 == et)
        .map { case ((_, d), c) => (d - day0, c) }
      val n = pts.length.toLong
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val syy = pts.map(p => p._2 * p._2).sum
      assert(r.getAs[Long]("n_days") === n)
      val den = (n * sxx - sx * sx).toDouble
      assert(r.getAs[Double]("slope") === r6((n * sxy - sx * sy) / den))
      assert(r.getAs[Double]("intercept") === r6((sy * sxx - sx * sxy) / den))
      val r2 = ((n * sxy - sx * sy).toDouble * (n * sxy - sx * sy)) /
        (den * (n * syy - sy * sy))
      assert(r.getAs[Double]("r2") === r6(r2))
    }
  }

  test("kcore: matches a driver-side peel reconstruction") {
    import graft.Tables
    val pairs = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("c"),
        concat(lit("s"), col("l_suppkey")).as("s"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    // doubled undirected edge list, peeled KCoreRounds times at KCoreK
    var edges: Set[(String, String)] =
      (pairs ++ pairs.map(p => (p._2, p._1))).toSet
    for (_ <- 1 to GraphRank.KCoreRounds) {
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
      val alive = deg.filter(_._2 >= GraphRank.KCoreK).keySet
      edges = edges.filter(e => alive(e._1) && alive(e._2))
    }
    val expect = edges.groupBy(_._1).toSeq
      .map { case (n, es) => (n.take(1), es.size) }
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val got = GraphRank.kcore(spark, dir).collect()
      .map(r => (r.getString(0), r.getAs[Long]("deg").toInt) -> r.getAs[Long]("nodes"))
      .toMap
    assert(got === expect)
  }

  test("kcore: a planted chain fringe peels away, the clique survives") {
    val sp = spark
    import sp.implicits._
    // K4 clique + a fringe x wired to a, b, y (deg 3) with pendant y
    // (deg 1). Peel 1 drops only y; peel 2 drops x (now deg 2); peel 3
    // is a fixpoint: the cascade needs two rounds, the clique is the
    // exact 3-core.
    val clique = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a != b
    } yield (a, b)
    val chain = Seq(("a", "x"), ("x", "a"), ("b", "x"), ("x", "b"),
      ("x", "y"), ("y", "x"))
    val und = (clique ++ chain).toDF("src", "dst")
    val rows = GraphRank.kcoreOf(und, k = 3, rounds = 4).collect()
      .map(r => (r.getString(0), r.getAs[Long]("deg"), r.getAs[Long]("nodes")))
    // survivors: exactly the 4 clique nodes, every one at degree 3...
    assert(rows.toSet === Set(("a", 3L, 1L), ("b", 3L, 1L),
      ("c", 3L, 1L), ("d", 3L, 1L)))
    // ...and with a 2-round budget the cascade is caught mid-flight:
    // y is gone, x (deg 2 after losing y) survives round 2's filter
    // computed on round-1 degrees — the fixed-budget semantics
    val partial = GraphRank.kcoreOf(und, k = 3, rounds = 1).collect()
      .map(r => (r.getString(0), r.getAs[Long]("deg"))).toMap
    assert(!partial.contains("y") && partial.contains("x"))
  }

  /** Driver-side synchronous LPA: one vote per (src → dst) edge of
    * `edges` (self-loops included by the caller), new label = most
    * frequent voted label, ties to the lexically smallest. */
  private def lpaReference(edges: Seq[(String, String)], rounds: Int)
      : Map[Long, Long] = {
    val nodes = edges.map(_._1).distinct
    var lbl = nodes.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lbl = edges.groupBy(_._2).map { case (node, es) =>
        val votes = es.groupBy(e => lbl(e._1)).map { case (l, v) => l -> v.size }
        node -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl.values.groupBy(identity).map(_._2.size)
      .groupBy(identity).map { case (sz, xs) => sz.toLong -> xs.size.toLong }
  }

  test("lpa: matches a driver-side synchronous-vote reconstruction") {
    import graft.Tables
    val pairs = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(concat(lit("c"), col("o_custkey")).as("c"),
        concat(lit("s"), col("l_suppkey")).as("s"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= GraphRank.LpaMinSupport)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val und = pairs ++ pairs.map(p => (p._2, p._1))
    val withSelf = und ++ und.map(_._1).distinct.map(n => (n, n))
    val expect = lpaReference(withSelf, GraphRank.LpaRounds)
    val got = GraphRank.lpaCommunities(spark, dir).collect()
      .map(r => r.getAs[Long]("size") -> r.getAs[Long]("communities")).toMap
    assert(got === expect)
  }

  test("lpa: a bridged pair of cliques resolves into exactly two communities") {
    val sp = spark
    import sp.implicits._
    // two K4s (a*, b*) joined by ONE bridge a1-b1: the bridge vote is
    // always outnumbered by the 3 intra-clique votes + self, so each
    // clique keeps its own (min-label) community
    def k4(p: String) = for {
      x <- 1 to 4; y <- 1 to 4 if x != y
    } yield (s"$p$x", s"$p$y")
    val und = k4("a") ++ k4("b") ++ Seq(("a1", "b1"), ("b1", "a1"))
    val nodes = und.map(_._1).distinct
    val withSelf = (und ++ nodes.map(n => (n, n))).toDF("src", "dst")
    val hist = GraphRank.lpaCommunitiesOf(withSelf, GraphRank.LpaRounds)
      .collect().map(r => (r.getAs[Long]("size"),
        r.getAs[Long]("communities"), r.getAs[Long]("nodes")))
    assert(hist.toSet === Set((4L, 2L, 8L)))
  }

  test("bm25: matches a driver-side Okapi reconstruction, ranks descend") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val nDocs = docs.size.toLong
    val sumDl = docs.values.map(_.size.toLong).sum
    val avgdl = sumDl.toDouble / nDocs
    val dfMap = docs.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    def score(q: Long, c: Long): BigDecimal = {
      val qToks = docs(q).distinct
      val cTf = docs(c).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val dl = docs(c).size.toLong
      qToks.filter(cTf.contains).map { t =>
        val df = dfMap(t)
        val idf = r6(math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0))
        val tf = cTf(t).toDouble
        val tff = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
        BigDecimal(r6(idf * tff)).setScale(6)
      }.sum
    }
    val got = TextAnalysis.bm25(spark, dir).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rnk"))
      // scores non-increasing down the ranked list
      val scores = byRank.map(_.getAs[Double]("bm25"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // each reported score equals the hand-computed Okapi sum
      byRank.foreach { r =>
        val c = r.getAs[Long]("cand_id")
        assert(r.getAs[Double]("bm25") === r6(score(q, c).toDouble),
          s"query $q cand $c")
      }
      // rank-1 is the true argmax over the whole candidate corpus
      val best = docs.keys.filter(_ >= 10).maxBy(c => (score(q, c), -c))
      assert(byRank.head.getAs[Long]("cand_id") === best)
    }
  }

  test("t46 training order ≡ brute-force md5 permutation manifest") {
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hexVal = "0123456789abcdef"
    val keyed = docs.map { case (id, chars) =>
      val okey = md5hex(s"order|$id")
      val shard = (hexVal.indexOf(okey(0)) * 16 + hexVal.indexOf(okey(1))) % 8
      (shard, okey, id, chars)
    }
    val expected = keyed.groupBy(_._1).map { case (shard, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      val fp = ordered.zipWithIndex
        .map { case ((_, _, id, _), i) => (i + 1).toLong * (id % 1000003L) }.sum
      shard -> (rows.length.toLong, rows.map(_._4).sum,
        ordered.head._3, ordered.last._3, fp)
    }
    val got = TextAnalysis.trainingOrder(spark, dir).collect().map { r =>
      r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }.toMap
    assert(got === expected)
    // every doc landed in exactly one shard
    assert(got.values.map(_._1).sum === docs.length.toLong)
  }

  test("s27 MMR prefers a diverse pick over a redundant higher-rel one") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{col, expr, sqrt}
    def at(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    // c11/c12 are near-copies of each other (1° apart) near the query;
    // c13 is farther from q but FAR from the pair — pure top-2 keeps the
    // redundant pair, MMR swaps the copy for the diverse candidate.
    val embs = Seq(
      (1L, at(0)), (11L, at(30)), (12L, at(31)), (13L, at(-40))
    ).toDF("vec_id", "embedding")
    val pool = Similarity.knnOf(
      embs.filter(col("vec_id") === 1L), embs.filter(col("vec_id") > 1L), 3)
    val poolVecs = pool.select("query_id", "cand_id")
      .join(embs.select(col("vec_id").as("cand_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v")), "cand_id")
      .withColumn("norm", sqrt(expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")))
    val out = Similarity.mmrRerankOf(pool, poolVecs, k = 2, lambda = 0.7, mu = 0.3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(x => (x._1, x._2)).toSeq === Seq((1, 11L), (2, 13L)))
    // hand-check the two scores from the same rounded inputs
    def r6d(d: Double) = java.math.BigDecimal.valueOf(d).setScale(6,
      java.math.RoundingMode.HALF_UP)
    def cosDeg(a: Double, b: Double): Double = {
      val (va, vb) = (at(a).map(_.toDouble), at(b).map(_.toDouble))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
    }
    val s1 = r6d(cosDeg(0, 30)).multiply(new java.math.BigDecimal("0.7"))
    val s2 = new java.math.BigDecimal("0.7").multiply(r6d(cosDeg(0, -40)))
      .subtract(new java.math.BigDecimal("0.3").multiply(r6d(cosDeg(30, -40))))
    assert(out(0)._3 === s1.setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    assert(out(1)._3 === s2.setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  }

  test("t47 boilerplate strip ≡ brute-force corpus chunk-count recompute") {
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def chunksOf(text: String): Seq[String] =
      text.split(" ", -1).grouped(3).map(_.mkString(" ")).toSeq
    val all = docs.flatMap { case (id, t) =>
      chunksOf(t).zipWithIndex.map { case (c, i) => (id, i, c) }
    }
    val bp = all.groupBy(_._3).filter(_._2.map(_._1).distinct.length >= 3).keySet
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = docs.map { case (id, t) =>
      val cs = chunksOf(t)
      val keptCs = cs.filterNot(bp.contains)
      id -> (cs.length.toLong, keptCs.length.toLong,
        md5hex(keptCs.mkString(" ")))
    }.toMap
    val got = TextAnalysis.boilerplateStrip(spark, dir).collect().map { r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Int]("n_chunks").toLong,
        r.getAs[Long]("kept_chunks"), r.getAs[String]("kept_fp"))
    }.toMap
    assert(got === expected)
    // the threshold bites on this corpus: something removed, something kept
    assert(expected.values.exists { case (n, k, _) => k < n })
    assert(expected.values.exists { case (_, k, _) => k > 0 })
  }

  test("t47 strips a shared chunk everywhere, keeps unique content in order") {
    val s = spark; import s.implicits._
    val banner = "cookie notice accepted"
    // 3 docs share the same 3-token banner at DIFFERENT positions; doc 4
    // does not. Unique payloads must survive, in original order.
    val docs = Seq(
      (1L, s"$banner alpha beta gamma"),
      (2L, s"alpha beta gamma $banner"),
      (3L, s"delta eps zeta $banner omega one two"),
      (4L, "uniq only here delta eps zeta")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateStripOf(docs, span = 3, minDocs = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("kept_chunks"), r.getAs[Long]("removed_chunks")))
      .toMap
    // the banner chunk is exactly ["cookie","notice","accepted"] only when
    // aligned on a 3-token boundary: docs 1 and 2 and 3 all align it
    assert(out(1L) === ((1L, 1L)))
    assert(out(2L) === ((1L, 1L)))
    assert(out(3L) === ((2L, 1L)))
    assert(out(4L) === ((2L, 0L)))
  }

  test("t47 zero-chunk docs survive: the sentinel row carries the doc " +
       "grain through the strip aggregate") {
    val s = spark; import s.implicits._
    // doc 2 has null text → no real chunks; its sentinel row must still
    // emit an output row (the oracle's doc-grain LEFT JOIN retains it —
    // ADVICE r9) without costing a third corpus scan
    val docs = Seq((1L, Option("alpha beta gamma")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateStripOf(docs, span = 3, minDocs = 3).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L))
    val r2 = out.find(_.getAs[Long]("doc_id") == 2L).get
    assert(r2.isNullAt(r2.fieldIndex("n_chunks")),
      "null text must carry a null chunk count on both engines")
    assert(r2.getAs[Long]("kept_chunks") === 0L)
    assert(r2.isNullAt(r2.fieldIndex("removed_pct")),
      "no 0/0 divide may reach either engine")
  }

  test("s28 sweep: recall climbs with nprobe, exhaustive probing is exact") {
    val sweep = Similarity.nprobeSweep(spark, dir).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("cand_pairs"),
        r.getAs[Double]("recall"))).sortBy(_._1)
    assert(sweep.map(_._1).toSeq === Seq(1, 2, 4))
    // cost strictly grows with probes; recall never degrades
    assert(sweep.sliding(2).forall { case Array(a, b) => b._2 > a._2 })
    assert(sweep.sliding(2).forall { case Array(a, b) => b._3 >= a._3 })
    // probing every cell IS the exact search — recall must be 1 by
    // construction (same (cosine, cand_id) ranking as the ground truth)
    val full = Similarity.nprobeSweep(spark, dir, probes = Seq(1000)).collect()
    assert(full.length === 1)
    assert(full(0).getAs[Double]("recall") === 1.0)
  }

  test("g11 random walks ≡ brute-force md5-argmin walk replay") {
    val edges0 = GraphRank.copurchaseSupport(spark, dir)
      .filter(col("support") >= 2).select("p1", "p2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges0 ++ edges0.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSeq }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val L = 4; val W = 2
    val expected = adj.keys.toSeq.map { start =>
      val visits = for (w <- 0 until W) yield {
        var u = start
        (start, w, 0, u) +: (1 to L).map { t =>
          u = adj(u).minBy(nb => md5hex(s"rw|$start|$w|$t|$u|$nb"))
          (start, w, t, u)
        }
      }
      val rows = visits.flatten
      start -> (rows.length.toLong,
        rows.map(_._4).distinct.length.toLong,
        rows.map { case (_, w, t, u) => (w * (L + 1) + t + 1).toLong * (u % 1000003L) }.sum)
    }.toMap
    val got = GraphRank.randomWalks(spark, dir).collect().map { r =>
      r.getAs[Long]("start") -> (r.getAs[Long]("n_steps"),
        r.getAs[Long]("distinct_visited"), r.getAs[Long]("walk_fp"))
    }.toMap
    assert(got === expected)
    // walks genuinely move: some start has more than one distinct node
    assert(expected.values.exists(_._2 > 1))
  }

  test("t48 DSIR weights ≡ brute-force hashed-bigram model recompute, " +
       "and the target slice scores above the rest") {
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hexVal = "0123456789abcdef"
    def bucket(g: String): Int = {
      val m = md5hex(g)
      val h = (0 until 8).map(i =>
        hexVal.indexOf(m(i)).toLong << (4 * (7 - i))).sum
      (h % 256).toInt
    }
    val perDoc = docs.map { case (id, lang, text) =>
      val toks = text.split(" ", -1)
      val bs = toks.sliding(2).filter(_.length == 2)
        .map(p => bucket(p.mkString(" "))).toSeq
      (id, lang, bs.groupBy(identity).map { case (b, xs) => b -> xs.length.toLong })
    }
    val cr = perDoc.flatMap(_._3).groupBy(_._1)
      .map { case (b, xs) => b -> xs.map(_._2).sum }
    val ct = perDoc.filter(_._2 == "en").flatMap(_._3).groupBy(_._1)
      .map { case (b, xs) => b -> xs.map(_._2).sum }
    val rtot = cr.values.sum; val ttot = ct.values.sum
    def r6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP)
    val lr = cr.map { case (b, c) =>
      b -> r6(math.log(((ct.getOrElse(b, 0L) + 1).toDouble * (rtot + 256)) /
        ((c + 1).toDouble * (ttot + 256))))
    }
    val expected = perDoc.map { case (id, lang, bs) =>
      val w = bs.map { case (b, n) =>
        lr(b).multiply(java.math.BigDecimal.valueOf(n))
      }.reduce(_ add _).setScale(4, java.math.RoundingMode.HALF_UP)
      id -> w.doubleValue()
    }.toMap
    val got = TextAnalysis.dsirWeights(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("weight")).toMap
    assert(got === expected)
    // separation: the target slice must average above the rest
    val byLang = docs.map { case (id, lang, _) => (lang, got(id)) }
    val en = byLang.filter(_._1 == "en").map(_._2)
    val rest = byLang.filterNot(_._1 == "en").map(_._2)
    assert(en.sum / en.length > rest.sum / rest.length,
      "en docs must outscore the rest under an en-target model")
  }

  test("d29 SemDeDup ≡ brute-force θ-graph components with the " +
       "far-from-centroid keeper rule") {
    val assigned = Similarity.semDedupAssignment(spark, dir)
      .select("vec_id", "cell", "v", "norm").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Double](2).toArray, r.getDouble(3)))
    def r6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // brute θ-graph within cells
    val pairs = for {
      i <- assigned.indices; j <- (i + 1) until assigned.length
      (id1, c1, v1, n1) = assigned(i); (id2, c2, v2, n2) = assigned(j)
      if c1 == c2
      cos = r6(v1.zip(v2).map { case (x, y) => x * y }.sum / (n1 * n2))
      if cos >= 0.3
    } yield if (id1 < id2) (id1, id2) else (id2, id1)
    // min-label components to fixpoint
    var label = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> x).toMap
    var changed = true
    while (changed) {
      changed = false
      pairs.foreach { case (a, b) =>
        val m = math.min(label(a), label(b))
        if (label(a) != m) { label += a -> m; changed = true }
        if (label(b) != m) { label += b -> m; changed = true }
      }
    }
    val cents = Similarity.semDedupCentroids(spark, dir)
      .select("cell", "cv").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val byId = assigned.map(a => a._1 -> a).toMap
    val expected = label.map { case (id, lab) =>
      val (_, cell, v, n) = byId(id)
      val cv = cents(cell)
      val cos2c = r6(v.zip(cv).map { case (x, y) => x * y }.sum /
        (n * math.sqrt(cv.map(x => x * x).sum)))
      id -> (lab, cos2c)
    }
    val keepers = expected.groupBy(_._2._1).map { case (lab, ms) =>
      lab -> ms.toSeq.map { case (id, (_, c)) => (c, id) }.min._2
    }
    val got = Similarity.semDedup(spark, dir).collect().map { r =>
      r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Double]("cos2c"),
          r.getAs[Int]("keep"))
    }.toMap
    assert(got.view.mapValues(v => (v._1, v._2)).toMap === expected)
    got.foreach { case (id, (lab, _, keep)) =>
      assert((keep == 1) === (keepers(lab) == id),
        s"vec $id keeper flag disagrees with the argmin rule")
    }
  }

  test("d29 cell width is bounded in code: θ-graph pair volume grows " +
       "sub-quadratically across a 4× corpus step (k scales with N)") {
    // the sizing formula itself, at the gated and replica scales
    assert(Similarity.semDedupK(500) === 8)      // sf0.01: floor holds
    assert(Similarity.semDedupK(2000) === 10)    // sf0.1: derived path
    assert(Similarity.semDedupK(20000) === 100)  // sf1 replica
    val sp = spark
    import sp.implicits._
    def corpus(n: Int): String = {
      val d = new java.io.File(sys.props("java.io.tmpdir"), s"graft_semdedup_scale_$n")
      val table = new java.io.File(d, "embeddings.parquet")
      if (!new java.io.File(table, "_SUCCESS").exists()) {
        val rows = (0L until n).map { i =>
          (i, graft.sources.gen.ClusteredEmbeddings.vector(i), (i % 10).toInt)
        }
        spark.createDataset(rows).toDF("vec_id", "embedding", "label")
          .repartition(4).write.mode("overwrite").parquet(table.toString)
      }
      d.toString
    }
    // Σ|cell|² IS the θ-graph's scored-pair volume (before the θ filter):
    // the one quantity the r9 verdict flagged as quadratic under fixed k
    def pairVolume(d: String): (Long, Long) = {
      val widths = Similarity.semDedupAssignment(spark, d)
        .groupBy("cell").count().collect().map(_.getLong(1))
      (widths.map(w => w * w).sum, widths.max)
    }
    val (v1, _) = pairVolume(corpus(2000))
    val (v4, wMax) = pairVolume(corpus(8000))
    // linear-in-N is 4×, fixed-k quadratic is 16×: pin the sub-quadratic
    // side with slack for k-means imbalance
    val growth = v4.toDouble / v1
    info(f"pair volume 2000→8000 rows: $v1 → $v4 (${growth}%.1f×), max cell $wMax")
    assert(growth <= 8.0, f"pair volume grew $growth%.1f× over a 4× corpus")
    assert(wMax <= 8L * Similarity.SemDedupTargetCell,
      s"max cell width $wMax exceeds 8×target")
  }

  test("t51 perplexity bands: keep-class-fluent text out-scores OOV " +
       "garbage (Laplace penalty), and bands are value-ordered tertiles") {
    val sp = spark
    import sp.implicits._
    val vocab = Seq("the", "model", "data", "train", "scale", "spark",
      "engine", "query")
    def sent(n: Int, seed: Int): String =
      (0 until n).map(i => vocab((i + seed) % vocab.length)).mkString(" ")
    // 20 keep-class docs (50+ words, stopword present) train the LM;
    // doc 100 is in-vocabulary fluent, doc 101 is 60 unseen tokens
    val docs = ((0L until 20L).map(i => (i, sent(60, i.toInt))) ++
      Seq((100L, sent(60, 3)),
          (101L, (0 until 60).map(i => s"zzq${i}xw").mkString(" "))))
      .toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBandsOf(docs).collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Double]("score"), r.getAs[String]("band"))).toMap
    assert(byId(100L)._1 < byId(101L)._1,
      s"fluent ${byId(100L)} must out-score garbage ${byId(101L)}")
    assert(byId(101L)._2 === "tail", s"OOV garbage banded ${byId(101L)._2}")
    // bands are value-ordered: max(head) ≤ min(middle) ≤ ... — the
    // threshold-comparison rule, not an engine-ordering accident
    val byBand = out.groupBy(_.getAs[String]("band"))
      .view.mapValues(_.map(_.getAs[Double]("score"))).toMap
    assert(byBand("head").max <= byBand("middle").min)
    assert(byBand("middle").max <= byBand("tail").min)
  }

  test("d30/d31 on a zero-pair corpus report 0 counters, not NULLs — " +
       "the clean-crawl shape the gate corpora never exercise (ADVICE r10)") {
    val sp = spark
    import sp.implicits._
    // two long documents with DISJOINT vocabularies: no shared shingle,
    // so both detectors emit zero pairs and every loser/agreement join
    // is empty — the shape where a bare sum() returns NULL
    val docs = Seq(
      (1L, ("alpha beta gamma delta epsilon zeta eta theta " * 8).trim),
      (2L, ("uno dos tres cuatro cinco seis siete ocho " * 8).trim)
    ).toDF("doc_id", "text")
    val ds = Dedup.docShinglesOf(docs)
    val cal = Dedup.lshCalibrationOf(ds).collect().head
    for (c <- Seq("exact_pairs", "lsh_pairs", "exact_losers", "lsh_losers",
                  "missed_losers", "extra_losers")) {
      assert(!cal.isNullAt(cal.fieldIndex(c)), s"$c is NULL on the zero-pair corpus")
      assert(cal.getAs[Long](c) === 0L, s"$c != 0 on the zero-pair corpus")
    }
    // loser_recall is undefined (0/0) — NULL is the documented value,
    // mirrored by the oracle's ELSE-less CASE
    assert(cal.isNullAt(cal.fieldIndex("loser_recall")))
    val agr = Dedup.detectorAgreementOf(docs, ds).collect().head
    for (c <- Seq("mh_pairs", "sh_pairs", "both_pairs", "mh_only", "sh_only")) {
      assert(!agr.isNullAt(agr.fieldIndex(c)), s"$c is NULL on the zero-pair corpus")
      assert(agr.getAs[Long](c) === 0L, s"$c != 0 on the zero-pair corpus")
    }
    assert(agr.isNullAt(agr.fieldIndex("dice")))
  }

  test("Lloyd trainer input is corpus-bounded: identity at gated sizes, " +
       "~budget rows beyond (the r10 weak — per-pass cost O(B·k·d), " +
       "linear in N even with k ∝ N)") {
    val sp = spark
    import sp.implicits._
    // identity at gated-SF sizes: the sample IS the corpus, so every
    // hash-gated centroid value is untouched by the bound
    val small = (0L until 2000L).map(i => (i, i.toString)).toDF("vec_id", "x")
    assert(Similarity.trainerSample(small, 2000L).count() === 2000L)
    // beyond the budget: the trainer sees ~budget rows whatever N is —
    // per-pass distances = |sample| × k ≤ ~B·k, never N·k
    val big = (0L until 20000L).map(i => (i, "v")).toDF("vec_id", "x")
    val s1 = Similarity.trainerSample(big, 20000L)
    val c = s1.count()
    val b = Similarity.TrainerSampleBudget
    assert(c <= (b * 1.1).toLong, s"sample $c exceeds budget $b + 10%")
    assert(c >= (b * 0.9).toLong, s"sample $c under budget $b - 10%")
    // deterministic: md5-keyed, so re-sampling yields the same ids
    // (reproducible across runs, engines, and artifact rebuilds)
    val ids1 = s1.select("vec_id").collect().map(_.getLong(0)).toSet
    val ids2 = Similarity.trainerSample(big, 20000L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2)
  }

  test("s29 graph ANN: beam walk is monotone and recall@3 clears the " +
       "floor on the CLUSTERED corpus") {
    import org.apache.spark.sql.DataFrame
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // structure on the flat testdata: k rows per query, valid candidates
    val flat = Similarity.graphAnn(spark, dir).collect()
    assert(flat.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 3))
    flat.foreach(r => assert(r.getAs[Long]("cand_id") >= 10L))
    // recall on the clustered corpus, where neighborhoods are real: the
    // medoid entry + 3-hop beam walk must recover most of the brute top-3
    val d = graft.sources.gen.ClusteredEmbeddings.ensure(spark)
    val truth = pairs(Similarity.knnBrute(spark, d))
    val got = pairs(Similarity.graphAnn(spark, d))
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"s29 clustered recall@3 = $recall%.3f")
    // measured 0.967 at m=8/beam=8/hops=4/entryDeg=32 on the sized
    // quantizer (0.80 without long-range entry edges, 0.87–0.90 with
    // only m of them); pin 0.9 with drift margin
    assert(recall >= 0.9, f"s29 graph-ANN recall@3 $recall%.3f < 0.9")
  }

  test("s39 PQ-scored walk: refine returns EXACT cosines, structure " +
       "holds on flat data, recall@3 clears the floor on the CLUSTERED " +
       "corpus at 8 bytes/node walk cost") {
    import org.apache.spark.sql.DataFrame
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = Similarity.pqGraphAnn(spark, dir).collect()
    assert(flat.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 3))
    flat.foreach(r => assert(r.getAs[Long]("cand_id") >= 10L))
    // the refine step's cosines are EXACT: for every (query, cand) the
    // walk returns, the cosine equals the brute-force exact value —
    // the ADC approximation steers the walk but never leaks into scores
    import org.apache.spark.sql.functions.{col, expr, round, sqrt}
    val vs = graft.Tables.embeddings(spark, dir).select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", sqrt(expr("aggregate(v, 0D, (acc, x) -> acc + x * x)")))
    val exact = vs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
      .crossJoin(vs.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cand_id"), col("v").as("cv2"),
          col("norm").as("cnorm")))
      .withColumn("cosine", round(
        expr("aggregate(zip_with(qv, cv2, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
          / (col("qnorm") * col("cnorm")), 6))
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")) ->
        r.getAs[Double]("cosine")).toMap
    flat.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      assert(r.getAs[Double]("cosine") === exact(key),
        s"refined cosine for $key is not the exact value")
    }
    // recall floor on the clustered corpus — the ADC walk must find
    // (nearly) what the exact walk finds; measured 0.967 = s29's own
    // level at m=8/beam=8/hops=4 (the 64-codeword LUT preserves the
    // neighborhood ordering well enough to steer the same walk)
    val d = graft.sources.gen.ClusteredEmbeddings.ensure(spark)
    val truth = pairs(Similarity.knnBrute(spark, d))
    val got = pairs(Similarity.pqGraphAnn(spark, d))
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"s39 clustered recall@3 = $recall%.3f")
    assert(recall >= 0.85, f"s39 PQ-walk recall@3 $recall%.3f < 0.85")
  }

  test("s41 filtered ANN: every result satisfies the predicate, ranks " +
       "are contiguous per query, results come from all hops' scored " +
       "expansions (not just the final beam), and recall clears the " +
       "floor against exact FILTERED brute force on the clustered corpus") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val rows = Similarity.filteredGraphAnn(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("cand_id") % 3 == 0),
      "a returned candidate violates the metadata predicate")
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq === (1 to rs.length),
        "per-query ranks must be a contiguous 1..k prefix")
    }
    // cosines are the walk's own exact 6dp scores: spot-check against a
    // direct cosine computation for every returned pair
    val emb = graft.Tables.embeddings(spark, dir)
    val exactAll = Similarity.knnOf(
        emb.filter(col("vec_id") < 10),
        emb.filter(col("vec_id") >= 10 && col("vec_id") % 3 === 0),
        Int.MaxValue)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("cand_id")) -> r.getAs[Double]("cosine")).toMap
    rows.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      assert(r.getAs[Double]("cosine") === exactAll(key),
        s"filtered-serve cosine for $key is not the exact value")
    }
    // recall floor on the clustered corpus vs exact FILTERED brute force
    // (truth = top-3 among the predicate-matching candidates only)
    val d = graft.sources.gen.ClusteredEmbeddings.ensure(spark)
    val cemb = graft.Tables.embeddings(spark, d)
    val truth = pairs(Similarity.knnOf(
      cemb.filter(col("vec_id") < 10),
      cemb.filter(col("vec_id") >= 10 && col("vec_id") % 3 === 0), 3))
    val got = pairs(Similarity.filteredGraphAnn(spark, d))
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"s41 clustered filtered recall@3 = $recall%.3f")
    assert(recall >= 0.8, f"s41 filtered recall@3 $recall%.3f < 0.8")
  }

  test("s41 selectivity sweep (VERDICT r13 item 4): recall vs exact " +
       "FILTERED brute force holds its floor across 50% / 10% / 1% " +
       "predicate bands on the clustered corpus — the predicate-aware " +
       "beam budget (filterWiden) keeps the eligible yield up as the " +
       "filter sharpens, and the gate band (mod=3) stays unwidened") {
    assert(Similarity.filterWiden(3) === 1,
      "the gate predicate must keep the unwidened s29 walk")
    assert(Similarity.filterWiden(2) === 1)
    assert(Similarity.filterWiden(10) === 2)
    assert(Similarity.filterWiden(100) === 4)
    val d = graft.sources.gen.ClusteredEmbeddings.ensure(spark)
    val cemb = graft.Tables.embeddings(spark, d)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    def recallAt(mod: Int, hashed: Boolean): (Double, Int) = {
      val pred =
        if (hashed) pmod(xxhash64(col("vec_id")), lit(mod.toLong)) === 0
        else col("vec_id") % mod === 0
      val truth = pairs(Similarity.knnOf(
        cemb.filter(col("vec_id") < 10),
        cemb.filter(col("vec_id") >= 10 && pred), 3))
      val got = pairs(Similarity.filteredGraphAnn(spark, d, 3, mod, hashed))
      (got.intersect(truth).size.toDouble / truth.size, truth.size)
    }
    // selectivity axis, geometry-decorrelated (hashed predicate):
    // rank-time + predicate-aware beam down to 10% (measured
    // 0.967/1.000); at 1% the serve crosses to filter-first exact
    // scoring (measured 0.2 for the widened walk — no beam budget finds
    // an eligible set this scattered) and recall is 1 by construction
    assert(100 >= Similarity.FilterFirstMod &&
      Similarity.FilterFirstMod > 10,
      "the crossover must sit between the measured bands")
    for ((mod, floor) <- Seq(2 -> 0.8, 10 -> 0.8, 100 -> 0.99)) {
      val (recall, n) = recallAt(mod, hashed = true)
      info(f"s41 recall@3 at hashed 1/$mod selectivity " +
        f"(beam ×${Similarity.filterWiden(mod)}, filter-first = " +
        f"${mod >= Similarity.FilterFirstMod}): $recall%.3f (truth $n)")
      assert(recall >= floor,
        f"s41 recall@3 $recall%.3f < $floor at hashed 1/$mod selectivity")
    }
    // correlation axis: on this corpus cluster = id mod 10, so the RAW
    // parity predicate admits exactly the even clusters — a query in an
    // odd cluster has no eligible neighbor nearby and rank-time
    // filtering breaks DESPITE 50% selectivity. Pinned as the measured
    // regime boundary (Filtered-DiskANN's motivating case): if this
    // ever CLEARS the decorrelated floor the corpus stopped being
    // adversarial and the boundary claim needs re-measuring.
    val (corr, nCorr) = recallAt(2, hashed = false)
    info(f"s41 recall@3 at CORRELATED 1/2 predicate: $corr%.3f (truth $nCorr)")
    assert(corr >= 0.4 && corr < 0.8,
      f"correlated-predicate recall $corr%.3f left the documented " +
        "boundary band [0.4, 0.8) — re-measure the regime")
  }

  test("s42 batched serving: per-query results are IDENTICAL to the " +
       "10-query walk on the shared queries (batching never mixes " +
       "queries), ranks are a contiguous 1..k prefix, and the large " +
       "majority of corpus-member queries find themselves top-1 at " +
       "cosine 1") {
    val batched = Similarity.batchedGraphAnn(spark, dir).collect()
    assert(batched.map(_.getAs[Long]("query_id")).distinct.length ===
      Similarity.BatchedServeQueries)
    // identity with s29 on the 10 held-out queries: the per-hop union
    // of beams is an I/O batching, not a semantic change
    val s29 = Similarity.graphAnn(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    val shared = batched.filter(_.getAs[Long]("query_id") < 10)
      .map(_.toString).sorted.toSeq
    assert(shared === s29,
      "batched serve diverged from the independent walk on the shared " +
        "query set")
    batched.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rnk")).sorted.toSeq === (1 to rs.length))
    }
    // live-traffic half: a corpus-member query that reaches itself
    // scores cosine exactly 1 (6dp round of a self-dot), and the walk
    // finds itself top-1 for the large majority — an approximate walk
    // may legitimately miss a poorly-inbound-connected node (that IS
    // the recall < 1 of ANN), so this is a floor, not an identity
    val members = batched.filter(_.getAs[Long]("query_id") >= 10)
    members.filter(r =>
        r.getAs[Long]("cand_id") == r.getAs[Long]("query_id")).foreach { r =>
      assert(r.getAs[Double]("cosine") === 1.0)
      assert(r.getAs[Int]("rnk") === 1,
        s"query ${r.getAs[Long]("query_id")} scored itself at 1.0 but " +
          "ranked something above it")
    }
    val selfHits = members.filter(r => r.getAs[Int]("rnk") == 1 &&
      r.getAs[Long]("cand_id") == r.getAs[Long]("query_id")).length
    val nMembers = members.map(_.getAs[Long]("query_id")).distinct.length
    info(s"s42 self-recall: $selfHits/$nMembers")
    assert(selfHits >= (nMembers * 8) / 10,
      s"only $selfHits/$nMembers corpus-member queries found themselves")
  }

  test("s43 shard merge: per-shard builds + a cross-pair-only merge " +
       "produce a graph EDGE-IDENTICAL to the monolithic build, and " +
       "the serve is row-identical to s29") {
    // shard artifacts: parity-pure, near-layer only (≤ m edges per src)
    for (p <- 0 to 1) {
      val edges = spark.read
        .parquet(Similarity.shardGraphPath(spark, dir, p))
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(edges.nonEmpty, s"shard $p built no edges")
      assert(edges.forall { case (s, d) => s % 2 == p && d % 2 == p },
        s"shard $p leaked a cross-parity edge — its build saw the " +
          "other shard")
      assert(edges.groupBy(_._1).values.forall(
        _.length <= Similarity.GraphAnnM),
        s"shard $p near layer exceeds m edges for some node")
    }
    // the bit-identity claim: merged edge set == monolithic edge set
    val idx = Similarity.graphAnnIndex(spark, dir)
    val full = spark.read.parquet(idx.graphPath).select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val merged = spark.read
      .parquet(Similarity.mergedGraphPath(spark, dir)).select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((merged -- full).isEmpty && (full -- merged).isEmpty,
      s"merge ≠ rebuild: ${(merged -- full).size} extra, " +
        s"${(full -- merged).size} missing of ${full.size}")
    info(s"s43 merged graph: ${merged.size} edges, identical to the " +
      "monolithic build")
    // and therefore the serve is row-identical to s29's
    val a = Similarity.graphAnn(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    val b = Similarity.mergedShardAnn(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    assert(b === a, "merged-index serve diverged from s29")
  }

  test("s40 beam sweep: cost rises with width, the beam-8 point equals " +
       "s30's final-hop row, and width buys recall on the clustered corpus") {
    val rows = Similarity.graphAnnBeamSweep(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Seq(4, 8, 16))
    assert(rows.map(_._2).distinct.length === 1, "n_queries must be constant")
    // width is paid for: scored volume non-decreasing in beam
    assert(rows.sliding(2).forall { case Array(lo, hi) => hi._3 >= lo._3 })
    // the beam-8 setting IS s29/s30's production point: matched must
    // equal the hop sweep's final-hop row exactly
    val s30last = Similarity.graphAnnSweep(spark, dir).collect()
      .maxBy(_.getAs[Int]("hop"))
    assert(rows.find(_._1 == 8).get._4 === s30last.getAs[Long]("matched"),
      "beam-8 sweep point diverged from the s30 final hop")
    // on the clustered corpus, width buys recall (and the production
    // point clears the family floor)
    val d = graft.sources.gen.ClusteredEmbeddings.ensure(spark)
    val c = Similarity.graphAnnBeamSweep(spark, d).collect()
      .map(r => r.getInt(0) -> r.getDouble(4)).toMap
    info(f"s40 clustered recall@3: beam4=${c(4)}%.3f beam8=${c(8)}%.3f " +
      f"beam16=${c(16)}%.3f")
    assert(c(16) >= c(4), "wider beam lost recall on the clustered corpus")
    assert(c(8) >= 0.9, f"production beam-8 recall ${c(8)}%.3f < 0.9")
  }

  test("s33/s34: inserted arrivals are FINDABLE post-insert (every " +
       "parent retrieves its arrival) and the insert writes NO new " +
       "index artifact — an insert is never a rebuild") {
    // force the index build, then snapshot THIS dir's base BUILD
    // artifacts (restricted so parallel suites creating unrelated
    // artifacts — other corpora, attach logs, pq — cannot race it)
    Similarity.graphAnn(spark, dir).collect()
    def artifactDirs: Set[String] = {
      val sfName = new java.io.File(dir).getName
      val base = new java.io.File(graft.sources.ArtifactStore.AnnStore.root)
      Option(base.listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty)
        .filter(n => n.contains(s"_${sfName}_") &&
          Seq("knngraph", "walkvec", "knnmedoid", "cents", "km")
            .exists(n.startsWith))
    }
    val before = artifactDirs
    val attach = Similarity.graphAnnInsert(spark, dir).collect()
    assert(artifactDirs === before,
      "graphAnnInsert materialized a new index artifact — that is a rebuild")
    // every arrival attaches exactly M edges, ranked
    val byArr = attach.groupBy(_.getAs[Long]("arrival_id"))
    assert(byArr.keySet ===
      (10L to 14L).map(_ + Similarity.InsertIdBase).toSet)
    assert(byArr.values.forall(_.length == Similarity.GraphAnnM))
    // findability on the flat testdata AND the clustered corpus: the
    // merged graph must surface each parent's jittered arrival — a node
    // the base graph cannot return at all
    def assertFindable(d: String): Unit = {
      val byQ = Similarity.graphAnnServeAfterInsert(spark, d).collect()
        .groupBy(_.getAs[Long]("query_id"))
      (10L to 14L).foreach { p =>
        val got = byQ(p).map(_.getAs[Long]("cand_id")).toSet
        assert(got.contains(Similarity.InsertIdBase + p),
          s"parent $p did not retrieve its inserted arrival in $d; got $got")
      }
    }
    assertFindable(dir)
    assertFindable(graft.sources.gen.ClusteredEmbeddings.ensure(spark))
  }

  test("s34 serves from the PERSISTED attach log (VERDICT r11 item 2): " +
       "once the knnattach artifact exists, post-insert serving runs " +
       "exactly ONE beam walk — its own — never a re-run of the insert's") {
    // ensure the log artifact is materialized (may run the insert walk)
    Similarity.graphAnnAttachLog(spark, dir).collect()
    val before = Similarity.walkRuns.get()
    val served = Similarity.graphAnnServeAfterInsert(spark, dir).collect()
    assert(served.nonEmpty)
    assert(Similarity.walkRuns.get() - before === 1,
      s"serve ran ${Similarity.walkRuns.get() - before} walks; the attach " +
        "log should spare the insert re-walk")
    // and the log's values ARE the insert's values (durability, not drift)
    val log = Similarity.graphAnnAttachLog(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val ins = Similarity.graphAnnInsert(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(log === ins, "attach log diverged from a fresh insert walk")
  }

  test("s30 hop sweep: cost grows with depth, recall never degrades, " +
       "and the last hop equals s29's answer set") {
    val sweep = Similarity.graphAnnSweep(spark, dir).collect()
      .map(r => (r.getAs[Int]("hop"), r.getAs[Long]("cand_nodes"),
        r.getAs[Double]("recall"), r.getAs[Long]("matched"))).sortBy(_._1)
    assert(sweep.map(_._1).toSeq === (1 to Similarity.GraphAnnHops))
    // recall is monotone (top-3(U)∩S ⊆ top-3(S), S grows per hop);
    // expansion SIZE is not — a converged beam's neighborhoods overlap —
    // so cost gets a bound, not an ordering
    assert(sweep.sliding(2).forall { case Array(a, b) => b._3 >= a._3 })
    val (nq, b, m) = (10L, Similarity.GraphAnnBeam, Similarity.GraphAnnM)
    // every scored node is a frontier member or one of its ≤ m+entryDeg
    // neighbors, and the frontier is ≤ probes+beam rows — the bound is a
    // CONSTANT per query, independent of corpus size (the walk's whole
    // point)
    val perQuery = (Similarity.GraphAnnProbes + b) *
      (1 + m + Similarity.GraphAnnEntryDegree)
    sweep.foreach { case (h, nodes, _, _) =>
      assert(nodes >= nq && nodes <= nq * perQuery,
        s"hop $h scored $nodes nodes, outside [$nq, ${nq * perQuery}]")
    }
    // consistency with the shipped search: hop GraphAnnHops IS s29
    val s29 = Similarity.graphAnn(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val exact = Similarity.knnBrute(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    assert(sweep.last._4 === s29.intersect(exact).size.toLong,
      s"sweep's last-hop matched ${sweep.last._4} != s29-vs-brute overlap")
  }

  test("s27 on testdata: rank-1 is the brute-force top-1 and marginal " +
       "scores are non-increasing") {
    val knn1 = Similarity.knnBrute(spark, dir).collect()
      .filter(_.getAs[Int]("rnk") === 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cand_id")).toMap
    val mmr = Similarity.mmrRerank(spark, dir).collect()
    assert(mmr.length === knn1.size * 3)
    mmr.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      assert(byRank.head.getAs[Long]("cand_id") === knn1(q),
        s"query $q rank-1 must be the relevance argmax")
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q MMR marginal scores must be non-increasing")
    }
  }

  test("t49 Gopher rules: each rule attributes exactly its planted violation " +
    "(published minStopwords=2 defaults)") {
    val s = spark; import s.implicits._
    def words(w: String, n: Int): String = Seq.fill(n)(w).mkString(" ")
    val docs = Seq(
      // 48 fillers + "the" + "of" = 50 words, mean len ~4.9, no symbols
      (1L, words("table", 48) + " the of"),
      // 8 fillers + 2 stopwords = 10 words < 50
      (2L, words("table", 8) + " the of"),
      // 48 one-char words + the + of: mean word length < 3
      (3L, words("x", 48) + " the of"),
      // 6 '#' words in 50: 10*6 > 50 (alpha ratio 44/50 = 88% still passes)
      (4L, words("table", 42) + " the of " + words("#", 6)),
      // 15 numeric words in 50: alpha 35/50 = 70% < 80%
      (5L, words("table", 33) + " the of " + words("123", 15)),
      // 50 words but only "the" from the Gopher list
      (6L, words("table", 49) + " the")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRulesOf(docs).collect().map { x =>
      x.getAs[Long]("doc_id") ->
        (x.getAs[Int]("r_words"), x.getAs[Int]("r_mean_len"),
          x.getAs[Int]("r_symbol"), x.getAs[Int]("r_alpha"),
          x.getAs[Int]("r_stop"), x.getAs[Int]("keep"))
    }.toMap
    assert(r(1L) === ((1, 1, 1, 1, 1, 1)), s"clean doc must keep: ${r(1L)}")
    assert(r(2L) === ((0, 1, 1, 1, 1, 0)), s"short doc fails r_words only: ${r(2L)}")
    assert(r(3L) === ((1, 0, 1, 1, 1, 0)), s"1-char doc fails r_mean_len only: ${r(3L)}")
    assert(r(4L) === ((1, 1, 0, 1, 1, 0)), s"symbol doc fails r_symbol only: ${r(4L)}")
    assert(r(5L) === ((1, 1, 1, 0, 1, 0)), s"numeric doc fails r_alpha only: ${r(5L)}")
    assert(r(6L) === ((1, 1, 1, 1, 0, 0)), s"one-stopword doc fails r_stop only: ${r(6L)}")
  }

  test("s31 hard negatives: same-label candidates excluded even at cosine 1, " +
    "ties break on neg_id, k bounds the set") {
    val s = spark; import s.implicits._
    def frame(rows: Seq[(Long, Int, Seq[Double])]) =
      rows.toDF("vec_id", "label", "v")
        .withColumn("norm",
          org.apache.spark.sql.functions.sqrt(
            org.apache.spark.sql.functions.expr(
              "aggregate(v, 0D, (acc, x) -> acc + x * x)")))
    val queries = frame(Seq((0L, 0, Seq(1.0, 0.0))))
    val cands = frame(Seq(
      (10L, 0, Seq(1.0, 0.0)),  // cosine 1.0 but SAME label — excluded
      (11L, 1, Seq(2.0, 0.0)),  // cosine 1.0
      (14L, 3, Seq(3.0, 0.0)),  // cosine 1.0 — tie with 11, loses on id
      (13L, 2, Seq(1.0, 1.0)),  // cosine 0.707107
      (12L, 1, Seq(0.0, 1.0)))) // cosine 0 — beyond k=3
    val r = Similarity.hardNegativesOf(queries, cands, k = 3).collect()
      .map(x => (x.getAs[Int]("rnk"), x.getAs[Long]("neg_id"),
        x.getAs[Double]("cosine")))
    assert(r.toSeq === Seq((1, 11L, 1.0), (2, 14L, 1.0), (3, 13L, 0.707107)),
      s"got ${r.toSeq}")
  }

  test("d30 calibration sample: identity under budget, a deterministic " +
    "proper md5-subset beyond it — the quadratic baseline's input is " +
    "bounded in code") {
    val s = spark; import s.implicits._
    val docs = (0L until 400L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
    val under = Dedup.calibrationSampleOf(docs, budget = 400L)
    assert(under.count() === 400L, "corpus within budget must pass through whole")
    val a = Dedup.calibrationSampleOf(docs, budget = 40L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Dedup.calibrationSampleOf(docs, budget = 40L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b, "sample must be deterministic")
    assert(a.nonEmpty && a.size < 400,
      s"sample must be a proper non-empty subset, got ${a.size}")
    // brute recompute of the predicate: md5-uniform fraction budget/N
    val expected = (0L until 400L).filter { i =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).take(2)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) * 400L < 40L * 65536L
    }.toSet
    assert(a === expected, "sample must equal the md5-fraction predicate")
  }

  test("t50 distilled filter: learns a separable teacher perfectly on the " +
    "holdout; confusion totals cover exactly the 'f'-nibble eval docs") {
    val s = spark; import s.implicits._
    // 320 docs: even ids are long keep-docs over one vocabulary, odd ids
    // are short drop-docs over a disjoint vocabulary — separable both by
    // length (the count features) and by bucket content
    def md5Nib(i: Long): Char =
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.head
    val docs = (0L until 320L).map { i =>
      if (i % 2 == 0) (i, (Seq.fill(54)("alpha") :+ "the").mkString(" "))
      else (i, (Seq.fill(9)("zork") :+ "the").mkString(" "))
    }.toDF("doc_id", "text")
    val preds = TextAnalysis.distilledScoresOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("label"),
        r.getAs[Int]("predicted")))
    val evalIds = (0L until 320L).filter(i => md5Nib(i) == 'f').toSet
    assert(preds.map(_._1).toSet === evalIds,
      "predictions must cover exactly the md5-'f' holdout")
    assert(preds.nonEmpty)
    preds.foreach { case (id, label, predicted) =>
      assert(label === (if (id % 2 == 0) 1 else 0), s"doc $id teacher label")
      assert(predicted === label,
        s"doc $id: a separable teacher must distill perfectly, " +
          s"got predicted=$predicted label=$label")
    }
  }

  test("d31 detector agreement: totals reconcile with d04/d11 exactly, " +
    "dice recomputes from the counts") {
    val r = Dedup.detectorAgreement(spark, dir).collect()(0)
    val mh = Dedup.minhashLsh(spark, dir).count()
    val sh = Dedup.simhash64NearDup(spark, dir).count()
    assert(r.getAs[Long]("mh_pairs") === mh, "mh_pairs must equal d04's pair count")
    assert(r.getAs[Long]("sh_pairs") === sh, "sh_pairs must equal d11's pair count")
    val both = r.getAs[Long]("both_pairs")
    assert(both <= math.min(mh, sh) && both >= 0)
    assert(r.getAs[Long]("mh_only") === mh - both)
    assert(r.getAs[Long]("sh_only") === sh - both)
    assert(r.getAs[Double]("dice") ===
      BigDecimal(2.0 * both / (mh + sh))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("g12 harmonic centrality: hand-checked on a path graph, horizon " +
    "bounds the sum, disconnected components contribute nothing") {
    val s = spark; import s.implicits._
    // path 1-2-3-4-5 plus the disconnected pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("p1", "p2")
    val r = graft.ops.GraphRank.harmonicCentralityOf(edges, nSources = 3)
      .collect()
      .map(x => x.getAs[Long]("src") ->
        (x.getAs[Long]("n1"), x.getAs[Long]("n2"), x.getAs[Long]("n3"),
          x.getAs[Double]("harmonic"))).toMap
    assert(r.keySet === Set(1L, 2L, 3L), "sources are the 3 smallest ids")
    assert(r(1L) === ((1L, 1L, 1L, 1.833333)), s"src 1: ${r(1L)}") // 2,3,4; 5 beyond horizon
    assert(r(2L) === ((2L, 1L, 1L, 2.833333)), s"src 2: ${r(2L)}")
    assert(r(3L) === ((2L, 2L, 0L, 3.0)), s"src 3: ${r(3L)}") // whole path within 2 hops
  }

  test("s32 triplet margins: positive is the same-label argmax, margins " +
    "exact, semi-hard only inside the (0, alpha) band") {
    val s = spark; import s.implicits._
    def frame(rows: Seq[(Long, Int, Seq[Double])]) =
      rows.toDF("vec_id", "label", "v")
        .withColumn("norm",
          org.apache.spark.sql.functions.sqrt(
            org.apache.spark.sql.functions.expr(
              "aggregate(v, 0D, (acc, x) -> acc + x * x)")))
    val queries = frame(Seq((0L, 0, Seq(1.0, 0.0))))
    val cands = frame(Seq(
      (10L, 0, Seq(1.0, 1.0)),   // same label, cos 0.707107 — loses to 15
      (15L, 0, Seq(1.0, 0.0)),   // same label, cos 1.0 — the positive
      (11L, 1, Seq(2.0, 0.0)),   // neg cos 1.0: margin 0 — NOT semi-hard
      (13L, 2, Seq(1.0, 0.1)),   // neg cos 0.995037: inside the band
      (12L, 1, Seq(0.0, 1.0)))) // neg cos 0: margin 1.0 — too easy
    val r = Similarity.tripletMarginsOf(queries, cands, k = 3).collect()
      .map(x => (x.getAs[Int]("rnk"), x.getAs[Long]("pos_id"),
        x.getAs[Long]("neg_id"), x.getAs[Double]("margin"),
        x.getAs[Int]("semi_hard")))
    assert(r.toSeq === Seq(
      (1, 15L, 11L, 0.0, 0),
      (2, 15L, 13L, 0.004963, 1),
      (3, 15L, 12L, 1.0, 0)), s"got ${r.toSeq}")
  }

  test("s31 hard negatives on the corpus: k rows per query, no same-label " +
    "neighbor, scores non-increasing") {
    val labels = graft.Tables.embeddings(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val rows = Similarity.hardNegatives(spark, dir).collect()
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.length === 5, s"query $q must emit k=5 negatives")
      rs.foreach { r =>
        assert(r.getAs[Int]("neg_label") !== labels(q),
          s"query $q (label ${labels(q)}) got a same-label negative")
        assert(r.getAs[Int]("neg_label") === labels(r.getAs[Long]("neg_id")),
          "neg_label must be the candidate's own label")
      }
      val sc = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cosine"))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b },
        s"query $q cosine must be non-increasing in rank")
    }
  }

  test("d32 soft-dedup weights: family members get 1/n, outsiders 1, " +
    "and the corpus reconciles with the cluster labels exactly") {
    val sp = spark
    import sp.implicits._
    // planted: docs 1..5; 1,2,3 are one family (labels all point at 1)
    val docs = (1L to 5L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "cluster_id")
    val planted = Dedup.dedupWeightsOf(docs, clusters).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("family_size"),
        r.getAs[Double]("weight")))
    assert(planted.toSeq === Seq(
      (1L, 3L, 1.0 / 3L), (2L, 3L, 1.0 / 3L), (3L, 3L, 1.0 / 3L),
      (4L, 1L, 1.0), (5L, 1L, 1.0)))
    // corpus: family sizes must equal the d16 label counts, every doc
    // present exactly once, weight always 1/family_size
    val famOf = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val sizeOf = famOf.groupBy(_._2).map { case (c, xs) => c -> xs.size.toLong }
    val labelOf = famOf.toMap
    val rows = Dedup.dedupWeights(spark, dir).collect()
    assert(rows.length === graft.Tables.documents(spark, dir).count())
    rows.foreach { r =>
      val (id, fs, w) = (r.getAs[Long]("doc_id"),
        r.getAs[Long]("family_size"), r.getAs[Double]("weight"))
      val expect = labelOf.get(id).map(sizeOf).getOrElse(1L)
      assert(fs === expect, s"doc $id family_size $fs != $expect")
      assert(w === 1.0 / fs, s"doc $id weight $w != 1/$fs")
    }
  }

  test("g13 modularity: hand-checked on the bridged cliques, and the " +
    "community sizes reconcile with g09's histogram on the corpus") {
    val sp = spark
    import sp.implicits._
    def k4(p: String) = for {
      x <- 1 to 4; y <- 1 to 4 if x != y
    } yield (s"$p$x", s"$p$y")
    val und = k4("a") ++ k4("b") ++ Seq(("a1", "b1"), ("b1", "a1"))
    val nodes = und.map(_._1).distinct
    val withSelf = (und ++ nodes.map(n => (n, n))).toDF("src", "dst")
    val got = GraphRank.lpaModularityOf(withSelf, GraphRank.LpaRounds)
      .collect().map(r => (r.getAs[String]("community"),
        r.getAs[Long]("size"), r.getAs[Long]("internal_edges"),
        r.getAs[Long]("degree_sum"), r.getAs[Double]("dq")))
    // m = 13 (6 per clique + bridge); each clique: e_c=6, deg_c=13
    val dq = 6.0 / 13L - (13.0 / 26.0) * (13.0 / 26.0)
    assert(got.toSeq === Seq(
      ("a1", 4L, 6L, 13L, dq), ("b1", 4L, 6L, 13L, dq)))
    // corpus reconciliation: per-size community counts must equal g09's
    // histogram rows, and Q must land in modularity's valid range
    val mod = GraphRank.lpaModularity(spark, dir).collect()
    val hist = mod.groupBy(_.getAs[Long]("size"))
      .map { case (s, xs) => s -> xs.length.toLong }
    val g09 = GraphRank.lpaCommunities(spark, dir).collect()
      .map(r => r.getAs[Long]("size") -> r.getAs[Long]("communities")).toMap
    assert(hist === g09)
    val q = mod.map(_.getAs[Double]("dq")).sum
    assert(q >= -0.5 && q <= 1.0, s"global modularity $q outside [-0.5, 1]")
  }

  test("d36 weighted resample: the draw is the exact-integer Bernoulli " +
    "over d32's weights — singletons always pass, big families thin out, " +
    "kept set reconciles doc by doc") {
    def u16(id: Long): Long = {
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rs|$id".getBytes("UTF-8"))
      ((dg(0) & 0xff).toLong << 8) | (dg(1) & 0xff).toLong
    }
    val weights = Dedup.dedupWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectKept = weights.filter { case (id, fs) => u16(id) * fs < 65536L }
      .keySet
    val got = Dedup.weightedResample(spark, dir).collect()
    assert(got.map(_.getLong(0)).toSet === expectKept)
    got.foreach(r => assert(r.getLong(3) === weights(r.getLong(0))))
    // singletons pass unconditionally
    val singles = weights.filter(_._2 == 1L).keySet
    assert(singles.subsetOf(got.map(_.getLong(0)).toSet))
    // soft dedup must actually thin the planted families
    val famDocs = weights.count(_._2 > 1L)
    val famKept = got.count(_.getLong(3) > 1L)
    assert(famDocs > 0 && famKept < famDocs,
      s"families kept $famKept of $famDocs members — the draw cut nothing")
    // and, unlike hard keep-min-id, survivors are not biased to the
    // family minimum: at least one kept member is NOT its family's min
    val famMin = Dedup.dedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).min }
    val keptIds = got.map(_.getLong(0)).toSet
    val clusterOf = Dedup.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keptIds.exists(id =>
      clusterOf.get(id).exists(c => famMin(c) != id)),
      "every survivor is its family min — that is d07, not a resample")
  }

  test("d37 semdedup sweep: monotone in θ, reconciles with a driver-side " +
    "recompute over the persisted route, and the θ=0.3 row IS d29's " +
    "edge set") {
    val assigned = Similarity.semDedupAssignment(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Seq[Double]]("v").toArray, r.getAs[Double]("norm")))
    def cos(a: (Long, Int, Array[Double], Double),
            b: (Long, Int, Array[Double], Double)): Double = {
      var acc = 0.0; var i = 0
      while (i < a._3.length) { acc += a._3(i) * b._3(i); i += 1 }
      BigDecimal(acc / (a._4 * b._4))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val scored = assigned.groupBy(_._2).values.toSeq.flatMap { cell0 =>
      val cell = cell0.toSeq
      for (x <- cell; y <- cell if x._1 < y._1) yield (y._1, cos(x, y))
    }
    val thetas = Seq(0.2, 0.25, 0.3, 0.35, 0.4)
    val expect = thetas.map { t =>
      val hits = scored.filter(_._2 >= t)
      t -> ((hits.size.toLong, hits.map(_._1).distinct.size.toLong))
    }.toMap
    val got = Similarity.semDedupSweep(spark, dir).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
    // monotone: a higher bar never finds more
    thetas.sliding(2).foreach { case Seq(lo, hi) =>
      assert(got(hi)._1 <= got(lo)._1 && got(hi)._2 <= got(lo)._2)
    }
    // the θ=0.3 row is exactly the edge set d29 clusters (same cosines,
    // same cells, same threshold)
    assert(got(0.3)._1 === scored.count(_._2 >= 0.3).toLong)
    assert(got(0.2)._1 > got(0.4)._1,
      "the planted corpus should spread pairs across the θ range")
  }

  test("d35 incremental semdedup: verdicts reconcile with a driver-side " +
    "recompute over the persisted route (index wins, then smaller-id " +
    "batch peer, else unique) and the report covers the whole delta") {
    val assigned = Similarity.semDedupAssignment(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Seq[Double]]("v").toArray, r.getAs[Double]("norm")))
    def bucketF(id: Long): Boolean = {
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(dg(0)).charAt(0) == 'f'
    }
    def cos(a: (Long, Int, Array[Double], Double),
            b: (Long, Int, Array[Double], Double)): Double = {
      var acc = 0.0
      var i = 0
      while (i < a._3.length) { acc += a._3(i) * b._3(i); i += 1 }
      BigDecimal(acc / (a._4 * b._4))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (delta, idx) = assigned.partition(x => bucketF(x._1))
    assert(delta.nonEmpty && idx.nonEmpty)
    val byCellIdx = idx.groupBy(_._2)
    val byCellDelta = delta.groupBy(_._2)
    val expect = delta.map { dv =>
      val im = byCellIdx.getOrElse(dv._2, Array.empty[(Long, Int, Array[Double], Double)])
        .map(m => (m._1, cos(dv, m))).filter(_._2 >= 0.3)
      val bm = byCellDelta(dv._2)
        .filter(_._1 < dv._1).map(m => (m._1, cos(dv, m))).filter(_._2 >= 0.3)
      def best(ms: Array[(Long, Double)]) =
        ms.minBy(m => (-m._2, m._1))
      val (verdict, mid, mcos) =
        if (im.nonEmpty) { val b = best(im); ("dup_vs_index", b._1, b._2) }
        else if (bm.nonEmpty) { val b = best(bm); ("dup_in_batch", b._1, b._2) }
        else ("unique", -1L, 0.0)
      dv._1 -> ((dv._2, verdict, mid, mcos))
    }.toMap
    val got = Similarity.incrementalSemDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(got === expect)
    assert(got.size === delta.length, "one verdict row per delta vector")
    // the planted corpus must exercise the dup path, not just 'unique'
    assert(got.values.exists(_._2 != "unique"),
      "delta should contain at least one semantic duplicate")
  }

  test("g15 conductance: hand-checked on the bridged cliques (φ = 1/13 " +
    "each side), and vol = 2·internal + cut reconciles with g13 row by " +
    "row on the corpus") {
    val sp = spark
    import sp.implicits._
    def k4(p: String) = for {
      x <- 1 to 4; y <- 1 to 4 if x != y
    } yield (s"$p$x", s"$p$y")
    val und = k4("a") ++ k4("b") ++ Seq(("a1", "b1"), ("b1", "a1"))
    val nodes = und.map(_._1).distinct
    val withSelf = (und ++ nodes.map(n => (n, n))).toDF("src", "dst")
    val got = GraphRank.lpaConductanceOf(withSelf, GraphRank.LpaRounds)
      .collect().map(r => (r.getAs[String]("community"),
        r.getAs[Long]("size"), r.getAs[Long]("volume"),
        r.getAs[Long]("cut_edges"), r.getAs[Double]("conductance")))
    // each clique: vol = 4·3 + 1 bridge endpoint = 13, cut = 1,
    // m = 13 so min(13, 26-13) = 13 → φ = 1/13
    val phi = math.round(1.0 / 13 * 1e6) / 1e6
    assert(got.toSeq === Seq(
      ("a1", 4L, 13L, 1L, phi), ("b1", 4L, 13L, 1L, phi)))
    // corpus reconciliation: the degree-sum identity against g13 —
    // volume = 2·internal_edges + cut_edges for EVERY community
    val cond = GraphRank.lpaConductance(spark, dir).collect()
      .map(r => r.getAs[String]("community") ->
        ((r.getAs[Long]("volume"), r.getAs[Long]("cut_edges"),
          r.getAs[Double]("conductance")))).toMap
    val mod = GraphRank.lpaModularity(spark, dir).collect()
      .map(r => r.getAs[String]("community") ->
        r.getAs[Long]("internal_edges")).toMap
    assert(cond.keySet === mod.keySet)
    cond.foreach { case (c, (vol, cut, phi2)) =>
      assert(vol === 2 * mod(c) + cut, s"vol identity broken for $c")
      assert(phi2 >= 0.0 && phi2 <= 1.0)
    }
  }

  test("t52 epoch allocation: hand-checked planted plan — the dominant " +
    "source runs 2 epochs, the low-resource one hits the 4-epoch cap " +
    "with unmet remainder; budget never oversubscribed") {
    val sp = spark
    import sp.implicits._
    // big: 2×800 tokens = 1600 (weight 40); lo: 4 tokens (weight 2)
    // T=1604, B=3208, W=42 → big target 3055 (2 epochs), lo target 152
    // (38 epochs uncapped → 4, planned 16, unmet 136)
    val docs = Seq(
      (1L, "big", Seq.fill(800)("w").mkString(" ")),
      (2L, "big", Seq.fill(800)("w").mkString(" ")),
      (3L, "lo", "a b c d")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.epochAllocationOf(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("lang_tokens"),
        r.getAs[Long]("weight"), r.getAs[Long]("target_tokens"),
        r.getAs[Long]("epochs"), r.getAs[Long]("planned_tokens"),
        r.getAs[Long]("unmet_tokens")))
    assert(got.toSeq === Seq(
      ("big", 1600L, 40L, 3055L, 2L, 3055L, 0L),
      ("lo", 4L, 2L, 152L, 4L, 16L, 136L)))
    // corpus invariants: Σ targets ≤ budget (floor rounding), epochs
    // capped, planned = min(target, cap×tokens)
    val rows = TextAnalysis.epochAllocation(spark, dir).collect()
    val budget = 2L * rows.map(_.getAs[Long]("lang_tokens")).sum
    assert(rows.map(_.getAs[Long]("target_tokens")).sum <= budget)
    rows.foreach { r =>
      assert(r.getAs[Long]("epochs") <= TextAnalysis.MaxEpochs)
      assert(r.getAs[Long]("planned_tokens") ===
        math.min(r.getAs[Long]("target_tokens"),
          r.getAs[Long]("lang_tokens") * TextAnalysis.MaxEpochs))
    }
  }

  test("d33 cross-source matrix reconciles with d04's pair list exactly, " +
    "cell by cell") {
    val langOf = graft.Tables.documents(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val pairs = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.groupBy(p => (langOf(p._1), langOf(p._2)))
      .map { case (k, ps) =>
        k -> ((ps.length.toLong, ps.map(_._2).distinct.length.toLong)) }
    val got = Dedup.crossSourceMatrix(spark, dir).collect()
      .map(r => (r.getAs[String]("lang_keep"), r.getAs[String]("lang_lose")) ->
        ((r.getAs[Long]("pairs"), r.getAs[Long]("distinct_losers")))).toMap
    assert(got === expect)
    assert(got.values.map(_._1).sum === pairs.length.toLong)
  }

  test("s38 tier recall reconciles exactly with the shipped tier searches " +
    "vs a driver-side exact-L2 ground truth") {
    val vecs = graft.Tables.embeddings(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
    def r6(x: Double): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val cands = vecs.filter(_._1 >= 10)
    val etop = vecs.filter(_._1 < 10).map { case (q, qv) =>
      q -> cands.map { case (c, cv) =>
        (r6(qv.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum), c)
      }.sortBy { case (d, c) => (d, c) }.take(3).map(_._2).toSet
    }.toMap
    def overlap(df: org.apache.spark.sql.DataFrame): Long =
      df.collect().count(r => etop(r.getAs[Long]("query_id"))
        .contains(r.getAs[Long]("cand_id"))).toLong
    val expect = Map(
      "pq" -> overlap(Similarity.pqAnn(spark, dir)),
      "sq8" -> overlap(Similarity.sqAnn(spark, dir)),
      "trunc16" -> overlap(Similarity.truncatedAnn(spark, dir)))
    val got = Similarity.tierRecallReport(spark, dir).collect()
    assert(got.length === 3)
    got.foreach { r =>
      val m = r.getAs[String]("method")
      assert(r.getAs[Long]("n_queries") === 10L)
      assert(r.getAs[Long]("matched") === expect(m),
        s"$m matched ${r.getAs[Long]("matched")} != brute ${expect(m)}")
      assert(r.getAs[Double]("recall") ===
        BigDecimal(java.math.BigDecimal.valueOf(expect(m) / 30.0))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("g14 incremental components: a planted delta edge MERGES two base " +
    "components, untouched and delta-only components keep their labels, " +
    "and the corpus answer equals the batch fixpoint exactly") {
    val sp = spark
    import sp.implicits._
    def und(pairs: (String, String)*): org.apache.spark.sql.DataFrame =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    // base: three 2-node components; delta: a2-b1 merges A and B, and a
    // fresh d1-d2 component arrives entirely in the delta
    val labels = GraphRank.incrementalLabelsOf(
        und(("a1", "a2"), ("b1", "b2"), ("c1", "c2")),
        und(("a2", "b1"), ("d1", "d2")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels === Map(
      "a1" -> "a1", "a2" -> "a1", "b1" -> "a1", "b2" -> "a1",
      "c1" -> "c1", "c2" -> "c1", "d1" -> "d1", "d2" -> "d1"))
    // corpus: incremental ≡ batch, row for row
    val inc = GraphRank.incrementalComponents(spark, dir).collect()
      .map(r => (r.getAs[Long]("size"), r.getAs[Long]("components"),
        r.getAs[Long]("nodes")))
    val batch = GraphRank.componentSizesConverged(spark, dir).collect()
      .map(r => (r.getAs[Long]("size"), r.getAs[Long]("components"),
        r.getAs[Long]("nodes")))
    assert(inc.toSeq === batch.toSeq)
  }

  test("s37 compaction: tombstones are UNREACHABLE in the patched serve " +
    "(no result filter needed), every query refills k, and recall vs " +
    "the live ground truth clears the floor on the clustered corpus") {
    def tombsOf(d: String): Set[Long] =
      Similarity.graphAnn(spark, d).collect()
        .filter(_.getAs[Int]("rnk") == 1).map(_.getAs[Long]("cand_id")).toSet
    def check(d: String, floor: Double): Unit = {
      val tomb = tombsOf(d)
      val served = Similarity.graphAnnCompactServe(spark, d).collect()
      assert(served.length === 30, s"expected 10 queries x 3 rows in $d")
      assert(served.forall(r => !tomb(r.getAs[Long]("cand_id"))),
        s"a tombstone was served from the PATCHED graph in $d")
      // ground truth: brute cosine top-3 among LIVE candidates only
      val vecs = graft.Tables.embeddings(spark, d).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val cands = vecs.filter { case (id, _) => id >= 10 && !tomb(id) }
      val truth = vecs.filter(_._1 < 10).map { case (q, qv) =>
        q -> cands.map { case (c, cv) =>
          (BigDecimal(cos(qv, cv)).setScale(6, BigDecimal.RoundingMode.HALF_UP), c)
        }.sortBy { case (s, c) => (-s, c) }.take(3).map(_._2).toSet
      }.toMap
      val hits = served.count(r =>
        truth(r.getAs[Long]("query_id")).contains(r.getAs[Long]("cand_id")))
      val recall = hits / 30.0
      assert(recall >= floor, s"$d: recall@3 $recall below $floor")
    }
    check(dir, 0.5) // flat noise corpus: walkability, not geometry
    check(graft.sources.gen.ClusteredEmbeddings.ensure(spark), 0.85)
  }

  test("s36 quantization error ≡ brute per-tier recompute from the " +
    "trained artifacts") {
    // valueOf (shortest decimal repr), not new BigDecimal(binary
    // expansion) — Spark's Round on double goes through valueOf
    def r6(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP)
    val vecs = graft.Tables.embeddings(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .toMap
    val cands = vecs.filter(_._1 >= 10)
    // pq: per subspace, min squared distance to the s10 codebook
    val books = Similarity.pqTrain(spark, dir).collect()
      .groupBy(r => (r.getAs[Int]("subspace"), r.getAs[Int]("cid")))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("centroid")) }
    val pqErr = cands.map { case (_, v) =>
      (0 until 8).map { s =>
        val sv = v.slice(s * 8, s * 8 + 8)
        books.collect { case ((bs, _), cv) if bs == s =>
          r6(sv.zip(cv).map { case (x, c) => (x - c) * (x - c) }.sum)
        }.min
      }.reduce(_ add _)
    }
    // sq8: affine byte round trip through the s22 stats
    val st = Similarity.sqTrain(spark, dir).collect()
      .map(r => r.getAs[Int]("dim") ->
        (r.getAs[Double]("mn"), r.getAs[Double]("mx"))).toMap
    val sqErr = cands.map { case (_, v) =>
      r6(v.zipWithIndex.map { case (x, d) =>
        val (mn, mx) = st(d)
        val xh = if (mx == mn) mn
          else mn + math.min(255d, math.max(0d,
            math.floor((x - mn) * 255d / (mx - mn) + 0.5))) * (mx - mn) / 255d
        (x - xh) * (x - xh)
      }.sum)
    }
    // trunc16: discarded tail energy
    val trErr = cands.map { case (_, v) =>
      r6(v.drop(16).map(x => x * x).sum) }
    def expect(errs: Iterable[java.math.BigDecimal]) = (
      errs.size.toLong,
      r6(errs.reduce(_ add _).doubleValue / errs.size).doubleValue,
      errs.max.doubleValue)
    val got = Similarity.quantizationError(spark, dir).collect()
      .map(r => r.getAs[String]("method") -> ((r.getAs[Long]("n_vectors"),
        r.getAs[Double]("avg_err"), r.getAs[Double]("max_err")))).toMap
    assert(got("pq") === expect(pqErr))
    assert(got("sq8") === expect(sqErr))
    assert(got("trunc16") === expect(trErr))
    assert(got.keySet === Set("pq", "sq8", "trunc16"))
    assert(got("pq")._2 > 0 && got("sq8")._2 >= 0 && got("trunc16")._2 > 0)
  }

  test("s35 tombstone delete: no tombstone served, k rows per query, and " +
    "the result IS the beam's ranked prefix after exclusion") {
    // the WHOLE final scored expansion (k beyond the beam disables the
    // prefix cut), since the serve digs past the beam when several
    // tombstones land in one query's prefix
    val beamList = Similarity.graphAnn(spark, dir, k = Int.MaxValue)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rnk")))
    val tomb = beamList.filter(_._4 == 1).map(_._2).toSet
    val expect = beamList.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      rs.sortBy(_._4).filterNot(r => tomb(r._2)).take(3).zipWithIndex
        .map { case ((_, n, c, _), i) => (q, n, c, i + 1) }
    }.toSet
    val got = Similarity.graphAnnDeleteServe(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rnk")))
    assert(got.length === beamList.map(_._1).distinct.length * 3,
      "every query must still fill k=3 rows after the delete")
    assert(got.forall(r => !tomb(r._2)), "a tombstoned node was served")
    assert(got.toSet === expect, "served set != ranked prefix of survivors")
  }

  test("t54 PR curve: the θ=0 row IS t50's confusion matrix, the keep set " +
    "shrinks monotonically in θ, and class totals are conserved") {
    val curve = TextAnalysis.distilledPrCurve(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(curve.map(_._1).toSeq === (-4 to 4).map(_ * 2))
    // θ=0 must reproduce t50's shipped operating point exactly
    val t50 = TextAnalysis.distilledFilter(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val z = curve.find(_._1 == 0).get
    assert(z._2 === t50.getOrElse((1, 1), 0L), "tp != t50 (label=1,pred=1)")
    assert(z._3 === t50.getOrElse((0, 1), 0L), "fp != t50 (label=0,pred=1)")
    assert(z._4 === t50.getOrElse((1, 0), 0L), "fn != t50 (label=1,pred=0)")
    assert(z._5 === t50.getOrElse((0, 0), 0L), "tn != t50 (label=0,pred=0)")
    // raising the bar only shrinks the keep side; class totals conserved
    curve.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2 && hi._3 <= lo._3)
      assert(hi._4 >= lo._4 && hi._5 >= lo._5)
    }
    val pos = curve.map(r => r._2 + r._4).distinct
    val neg = curve.map(r => r._3 + r._5).distinct
    assert(pos.length === 1 && neg.length === 1,
      "tp+fn and fp+tn must be θ-invariant class totals")
    // the curve must actually move on the planted corpus (the sweep is
    // pointless if every θ lands on the same confusion matrix)
    assert(curve.map(r => (r._2, r._3)).distinct.length > 1)
  }

  test("d34 cluster coherence flags a planted chain (A~B~C, A!~C) with " +
    "coverage 2/3 and reconciles with d16+d04 on the testdata") {
    val s = spark; import s.implicits._
    // planted chain: one component of 3 docs held together by 2 pairs
    val chain = Seq((1L, 2L, 0.6), (2L, 3L, 0.55)).toDF("d1", "d2", "jaccard")
    val got1 = Dedup.clusterCoherenceOf(Dedup.dedupClustersOf(chain), chain)
      .collect()
    assert(got1.length === 1)
    val r = got1.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 3L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === math.round(2.0 / 3.0 * 1e6) / 1e6)
    assert(r.getDouble(4) === 0.55 && r.getDouble(5) === 0.6)
    // testdata reconciliation: every family row matches a driver-side
    // recompute from the same pair list and labels
    val pairs = Dedup.minhashLsh(spark, dir).collect()
      .map(p => (p.getLong(0), p.getLong(1), p.getDouble(2)))
    val lab = Dedup.dedupClusters(spark, dir).collect()
      .map(p => p.getLong(0) -> p.getLong(1)).toMap
    val sizes = lab.values.groupBy(identity).map { case (c, v) => c -> v.size }
    val expect = pairs.groupBy(p => lab(p._1)).map { case (c, ps) =>
      val n = sizes(c).toLong
      c -> ((n, ps.length.toLong,
        math.round(ps.length * 2.0 / (n * (n - 1)) * 1e6) / 1e6,
        ps.map(_._3).min, ps.map(_._3).max))
    }
    val got = Dedup.clusterCoherence(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        x.getDouble(3), x.getDouble(4), x.getDouble(5)))).toMap
    assert(got === expect)
    assert(got.values.map(_._2).sum === pairs.length.toLong,
      "every verified pair must land in exactly one family")
    assert(got.values.forall(v => v._3 > 0.0 && v._3 <= 1.0))
  }

  test("t53 pipeline funnel reconciles stage by stage with the primitives " +
    "it composes (d27 flags, t12's decontamination rule) and is monotone") {
    import org.apache.spark.sql.functions.{col, size, split}
    val docs = graft.Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val prov = Dedup.dropProvenance(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Int]("exact_dup"), r.getAs[Int]("near_dup"),
          r.getAs[Int]("low_quality")))).toMap
    val contaminated = TextAnalysis.decontaminate(spark, dir).collect()
      .map(_.getLong(0)).toSet
    def bucketF(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(d(0)).charAt(0) == 'f'
    }
    case class St(var dr: Long = 0, var tr: Long = 0, var de: Long = 0,
      var te: Long = 0, var dn: Long = 0, var tn: Long = 0,
      var dq: Long = 0, var tq: Long = 0, var df: Long = 0, var tf: Long = 0)
    val expect = collection.mutable.Map[String, St]()
    toks.foreach { case (id, (lang, n)) =>
      val (ed, nd, lq) = prov(id)
      val s = expect.getOrElseUpdate(lang, St())
      s.dr += 1; s.tr += n
      if (ed == 0) { s.de += 1; s.te += n }
      if (ed == 0 && nd == 0) { s.dn += 1; s.tn += n }
      if (ed == 0 && nd == 0 && lq == 0) { s.dq += 1; s.tq += n }
      if (ed == 0 && nd == 0 && lq == 0 && !bucketF(id) &&
          !contaminated(id)) { s.df += 1; s.tf += n }
    }
    val got = TextAnalysis.pipelineFunnel(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet === expect.keySet)
    got.foreach { r =>
      val s = expect(r.getString(0))
      val vals = (1 to 10).map(r.getLong)
      assert(vals === Seq(s.dr, s.tr, s.de, s.te, s.dn, s.tn,
        s.dq, s.tq, s.df, s.tf), s"funnel row mismatch for ${r.getString(0)}")
      // the funnel is cumulative: every stage is <= the previous one
      assert(vals(0) >= vals(2) && vals(2) >= vals(4) &&
        vals(4) >= vals(6) && vals(6) >= vals(8))
      assert(vals(1) >= vals(3) && vals(3) >= vals(5) &&
        vals(5) >= vals(7) && vals(7) >= vals(9))
    }
    // at least one stage must actually cut something on the planted corpus
    val tot = expect.values
    assert(tot.map(_.dr).sum > tot.map(_.df).sum,
      "the planted corpus should lose docs through the funnel")
  }

  test("t55 composed curation pipeline: the dedup+quality stages ARE " +
    "t53's docs_quality stage (per-language doc and token counts " +
    "reconcile row by row) and the strict t11 rule applied on top " +
    "reproduces t53's docs_final; the mixture applies t17's floor-sqrt " +
    "quota, every packed sequence respects the 128-token budget, and " +
    "the shards balance ±1") {
    import org.apache.spark.sql.functions.{col, size, split, substring, md5, sum => fsum, count => fcount, lit}
    // 1a. reconciliation: dedup+quality survivors == the funnel's
    // docs/tokens_quality stage
    val qgated = TextAnalysis.curationQualityGated(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .localCheckpoint()
    val qByLang = qgated.groupBy("lang")
      .agg(fcount(lit(1)).as("d"), fsum("nt").as("t")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 1b. the STRICT rule (t11 any-overlap + holdout) on the same frame
    // must reproduce the funnel's final stage — the graded/strict
    // relation, pinned even where the strict rule keeps nothing
    val strictByLang = qgated
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1) =!= "f")
      .join(TextAnalysis.decontaminate(spark, dir).select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(fcount(lit(1)).as("d"), fsum("nt").as("t")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    TextAnalysis.pipelineFunnel(spark, dir).collect().foreach { r =>
      val lang = r.getString(0)
      val (qd, qt) = qByLang.getOrElse(lang, (0L, 0L))
      assert(qd === r.getAs[Long]("docs_quality") &&
             qt === r.getAs[Long]("tokens_quality"),
        s"quality-gated corpus diverged from the funnel's g3 stage for $lang")
      val (sd, st) = strictByLang.getOrElse(lang, (0L, 0L))
      assert(sd === r.getAs[Long]("docs_final") &&
             st === r.getAs[Long]("tokens_final"),
        s"strict-rule survivors diverged from the funnel's final for $lang")
    }
    // 1c. the graded rule keeps a superset of the strict rule's
    // survivors (any-overlap implies ≥0.5-overlap dropped too), and the
    // pipeline corpus is non-vacuous where the strict rule may be empty
    val gated = TextAnalysis.curationGated(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .localCheckpoint()
    val gatedByLang = gated.groupBy("lang")
      .agg(fcount(lit(1)).as("d"), fsum("nt").as("t")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    gatedByLang.foreach { case (lang, (d, _)) =>
      assert(d >= strictByLang.getOrElse(lang, (0L, 0L))._1,
        s"graded rule kept fewer docs than the strict rule for $lang")
    }
    assert(gatedByLang.values.map(_._1).sum > 0L,
      "the graded pipeline corpus is empty")
    // 2. mixture quota: per language, exactly floor(sqrt(gated docs))
    val sampled = gated.join(
      TextAnalysis.temperatureMixOf(
        graft.Tables.documents(spark, dir).join(
          gated.select("doc_id"), Seq("doc_id"), "left_semi"))
        .select("doc_id"),
      Seq("doc_id"), "left_semi")
    val sampledCounts = sampled.groupBy("lang").agg(fcount(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    gatedByLang.foreach { case (lang, (d, _)) =>
      assert(sampledCounts.getOrElse(lang, 0L) ===
        math.floor(math.sqrt(d.toDouble)).toLong,
        s"mixture quota wrong for $lang (gated $d docs)")
    }
    // 3. pack capacity + 4. shard balance and conservation
    val sampledDocs = graft.Tables.documents(spark, dir)
      .join(sampled.select("doc_id"), Seq("doc_id"), "left_semi")
    val seqs = TextAnalysis.sequencePackOf(
      TextAnalysis.chunkTokensOf(sampledDocs)).collect()
    assert(seqs.nonEmpty)
    seqs.foreach(r => assert(r.getAs[Long]("n_tokens") <= 128L,
      s"sequence ${r.getAs[Long]("seq_id")} exceeds the 128-token budget"))
    val manifest = TextAnalysis.curationPipeline(spark, dir).collect()
    val perShard = manifest.map(_.getAs[Long]("n_seqs"))
    assert(perShard.max - perShard.min <= 1L,
      s"shards unbalanced: ${perShard.mkString(",")}")
    assert(perShard.sum === seqs.length.toLong,
      "manifest lost or duplicated packed sequences")
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum ===
      seqs.map(_.getAs[Long]("n_tokens")).sum,
      "token mass not conserved from packing to manifest")
    // the manifest is deterministic: same seed => identical fingerprints
    val again = TextAnalysis.curationPipeline(spark, dir).collect()
    assert(manifest.map(_.getString(4)).toSeq ===
      again.map(_.getString(4)).toSeq, "same-seed manifests diverged")
  }
}
