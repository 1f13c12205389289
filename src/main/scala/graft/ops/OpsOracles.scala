package graft.ops

/** DuckDB oracle SQL for the LLM-pipeline operators (documents /
  * embeddings tables). Same determinism contract as RelationalOracles;
  * higher-order list functions mirror Spark's transform/filter/aggregate
  * (DuckDB list subscripts are 1-based where Spark's are 0-based — index
  * arithmetic below accounts for it).
  */
object OpsOracles {

  /** Every embedding as a DOUBLE list `v` with its L2 `norm`, as CTE `n`
    * keyed by `cols` — the cosine input of Similarity.knnBrute. */
  private def normedCte(cols: String) =
    s"""n AS (
       |  SELECT $cols, embedding::DOUBLE[] AS v,
       |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS norm
       |  FROM embeddings)""".stripMargin

  /** Shared by d06 (detection) and d09 (application): same-cell cosine
    * pairs ranked with full tie-breaks. */
  private val embNearDupCte =
    s"""${normedCte("vec_id, label")},
      |scored AS (
      |  SELECT a.vec_id AS v1, b.vec_id AS v2,
      |    round(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]))
      |          / (a.norm * b.norm), 6) AS cosine
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY cosine DESC, v1 ASC, v2 ASC) AS rn
      |  FROM scored)""".stripMargin

  private def shingleCteFrom(src: String) =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM $src),
      |sh AS (SELECT DISTINCT doc_id,
      |  unnest(CASE WHEN len(l) < 3 THEN []
      |         ELSE list_transform(range(len(l)-2),
      |              i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]) END) AS shingle
      |  FROM toks)""".stripMargin

  private val shingleCte = shingleCteFrom("documents")

  /** Eight hex digits of the md5 string `m` from 1-based position `from`
    * as one non-negative BIGINT — conv(substring(m, from, 8), 16, 10). */
  private def hexToBigint(m: String, from: Int = 1): String =
    (0 until 8).map { i =>
      val mult = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', $m[${from + i}]) - 1) * CAST($mult AS BIGINT)"
    }.mkString(" + ")

  /** t49's Gopher counts over `toks` and `text`, as select columns —
    * TextAnalysis.gopherFlagsOf's inputs. */
  private val gopherCountCols =
    """CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS word_chars,
      |    CAST(len(regexp_extract_all(text, '#'))
      |       + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS sym_hits,
      |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
      |    CAST(len(list_intersect(list_distinct(toks),
      |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_distinct""".stripMargin

  /** t50/w17 shared model CTEs: t49 labels (minStopwords=1) + 'f'
    * holdout, (doc, bucket) unigram counts, the 64-bucket lr model and
    * the class prior — everything up to scoring. */
  private val distilledModelCtes =
    s"""tq AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      |mq AS (
      |  SELECT doc_id,
      |    $gopherCountCols
      |  FROM tq),
      |lab AS (
      |  SELECT doc_id,
      |    CASE WHEN n_words BETWEEN 50 AND 100000
      |          AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
      |          AND 10 * sym_hits <= n_words
      |          AND 5 * alpha_words >= 4 * n_words
      |          AND stop_distinct >= 1 THEN 1 ELSE 0 END AS label,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_eval
      |  FROM mq),
      |tok0 AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      |tok AS (SELECT doc_id, md5(tk) AS m FROM tok0),
      |pdb AS (
      |  SELECT doc_id, CAST((${hexToBigint("m")}) % 64 AS INT) AS b,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM tok GROUP BY 1, 2),
      |cnt AS (
      |  SELECT b,
      |    CAST(sum(CASE WHEN label = 1 THEN n ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN label = 0 THEN n ELSE 0 END) AS BIGINT) AS c0
      |  FROM pdb JOIN lab USING (doc_id) WHERE NOT is_eval GROUP BY b),
      |spine AS (SELECT CAST(unnest(range(64)) AS INT) AS b),
      |counts AS (
      |  SELECT s.b, COALESCE(c1, 0) AS c1, COALESCE(c0, 0) AS c0
      |  FROM spine s LEFT JOIN cnt ON s.b = cnt.b),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
      |  CAST(sum(c0) AS BIGINT) AS t0 FROM counts),
      |model AS (
      |  SELECT b, round(ln((CAST(c1 + 1 AS DOUBLE) * CAST(t0 + 64 AS DOUBLE))
      |    / (CAST(c0 + 1 AS DOUBLE) * CAST(t1 + 64 AS DOUBLE))), 6) AS lr
      |  FROM counts CROSS JOIN tot),
      |pri AS (
      |  SELECT round(ln(CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)), 6) AS pr
      |  FROM lab WHERE NOT is_eval)""".stripMargin

  /** d30's deterministic calibration sample — mirrors
    * [[graft.ops.Dedup.calibrationSampleOf]]: identity while the corpus
    * fits the 5000-doc budget (every gated SF), an md5-uniform fraction
    * beyond it. The 4-nibble decode is the simhash oracle's strpos trick. */
  private val calibrationSampleCte =
    """dcnt AS (SELECT CAST(count(*) AS BIGINT) AS dn FROM documents),
      |dsamp AS (SELECT doc_id, text,
      |  md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
      |docs_s AS (
      |  SELECT doc_id, text FROM dsamp CROSS JOIN dcnt
      |  WHERE dn <= 5000 OR
      |    CAST((strpos('0123456789abcdef', m[1]) - 1) * 4096
      |       + (strpos('0123456789abcdef', m[2]) - 1) * 256
      |       + (strpos('0123456789abcdef', m[3]) - 1) * 16
      |       + (strpos('0123456789abcdef', m[4]) - 1) AS BIGINT) * dn
      |      < 5000 * 65536)""".stripMargin

  /** t24's training vocabulary: the 256 most frequent lowercase
    * alphanumeric words as `w`(word, freq), each split into `|`-joined
    * symbols as `v0` — the input of TextAnalysis.bpeMergesOf. */
  private val bpeVocabCtes =
    """w AS (
      |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) s
      |  WHERE regexp_matches(tok, '^[a-z0-9]+$')
      |  GROUP BY 1 ORDER BY freq DESC, word LIMIT 256),
      |v0 AS (SELECT word, freq,
      |  array_to_string(list_transform(range(1, len(word) + 1), i -> word[i]), '|') AS repr
      |  FROM w)""".stripMargin

  /** t24: the eight BPE stages unrolled (DuckDB 1.0 has no recursive
    * lambda state beyond list_reduce's first-element seed, and memory's
    * fold-portability note rules out cross-engine fold cleverness — so
    * each stage is generated: pair counts from v(k-1), argmax with the
    * (cnt desc, a, b) tie-break, greedy merge application via the same
    * string-accumulator fold as TextAnalysis.applyMergeSql). */
  private def bpeStage(k: Int): String = {
    val prev = if (k == 1) "v0" else s"v${k - 1}"
    s"""p$k AS (
       |  SELECT sp[u.i] AS a, sp[u.i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, string_split(repr, '|') AS sp FROM $prev) t,
       |    UNNEST(list_transform(range(1, len(sp)), x -> x)) AS u(i)
       |  GROUP BY 1, 2),
       |t$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
       |v$k AS (
       |  SELECT word, freq, list_reduce(string_split(repr, '|'), (acc, s) ->
       |    CASE WHEN regexp_extract(acc, '[^|]*$$') = t$k.a AND s = t$k.b
       |    THEN substr(acc, 1, length(acc) - length(regexp_extract(acc, '[^|]*$$'))) ||
       |      t$k.a || t$k.b
       |    ELSE acc || '|' || s END) AS repr
       |  FROM $prev, t$k)""".stripMargin
  }

  /** [[bpeStage]] 1..8: t24's merges as `t1`..`t8` —
    * TextAnalysis.bpeMergesOf's eight merges. */
  private val bpeStages = (1 to 8).map(bpeStage).mkString(",\n")

  /** t56: one BATCHED round — the bounded ranked prefix (LIMIT mirrors
    * TextAnalysis.BpePairScanBudget, the d30 bounded-in-code rule), a
    * chain of `batch` greedy DISJOINT picks (pick k = the best-ranked
    * pair sharing no symbol with picks 1..k-1; aggregate form so an
    * exhausted chain yields NULL rows instead of empty cross joins), and
    * one fold applying every non-NULL pick (disjointness makes the
    * branch order irrelevant). */
  private def bpeBatchStage(r: Int, batch: Int): String = {
    val prev = if (r == 1) "v0" else s"v${r - 1}"
    val pp =
      s"""pp$r AS (
         |  SELECT sp[u.i] AS a, sp[u.i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(repr, '|') AS sp FROM $prev) t,
         |    UNNEST(list_transform(range(1, len(sp)), x -> x)) AS u(i)
         |  GROUP BY 1, 2
         |  ORDER BY cnt DESC, a, b LIMIT 4096)""".stripMargin
    val picks = (1 to batch).map { k =>
      val priors = (1 until k).map { j =>
        s"(x$j.a IS NULL OR (p.a != x$j.a AND p.a != x$j.b AND p.b != x$j.a AND p.b != x$j.b))"
      }
      val priorFrom = (1 until k).map(j => s"s$r$j x$j").mkString(", ")
      val from = if (k == 1) s"pp$r p" else s"pp$r p, $priorFrom"
      val where = if (priors.isEmpty) "" else s"\n   WHERE ${priors.mkString("\n     AND ")}"
      s"""s$r$k AS (SELECT max(a) AS a, max(b) AS b, max(cnt) AS cnt FROM
         |  (SELECT p.a, p.b, p.cnt FROM $from$where
         |   ORDER BY p.cnt DESC, p.a, p.b LIMIT 1))""".stripMargin
    }
    val branches = (1 to batch).map { k =>
      s"""WHEN x$k.a IS NOT NULL AND regexp_extract(acc, '[^|]*$$') = x$k.a AND s = x$k.b
         |      THEN substr(acc, 1, length(acc) - length(regexp_extract(acc, '[^|]*$$'))) || x$k.a || x$k.b""".stripMargin
    }.mkString("\n      ")
    val pickFrom = (1 to batch).map(k => s"s$r$k x$k").mkString(", ")
    val v =
      s"""v$r AS (
         |  SELECT word, freq, list_reduce(string_split(repr, '|'), (acc, s) ->
         |    CASE
         |      $branches
         |      ELSE acc || '|' || s END) AS repr
         |  FROM $prev, $pickFrom)""".stripMargin
    (Seq(pp) ++ picks ++ Seq(v)).mkString(",\n")
  }

  private def bpeBatchOracleSql(rounds: Int = 2, batch: Int = 4): String = {
    val stages = (1 to rounds).map(bpeBatchStage(_, batch)).mkString(",\n")
    val union = (for (r <- 1 to rounds; k <- 1 to batch) yield
      s"SELECT CAST($r AS BIGINT) AS round, CAST($k AS INT) AS pick, a AS lhs, b AS rhs, cnt AS pair_count, a || b AS merged FROM s$r$k WHERE a IS NOT NULL")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeVocabCtes,
       |$stages
       |$union
       |ORDER BY round, pick""".stripMargin
  }

  /** t57: the packing-budget sweep — t23's offset chain (budget-
    * independent) shared by every point; per budget one seq-grain
    * aggregate on `off // base`. */
  private def packingSweepOracleSql(budgets: Seq[Int] = Seq(64, 128, 256)): String = {
    val perBudget = budgets.map { b =>
      val base = b - 32 + 1
      s"""SELECT CAST($b AS INT) AS budget,
         |  CAST(count(*) AS BIGINT) AS n_seqs,
         |  CAST(sum(c) AS BIGINT) AS n_chunks,
         |  CAST(sum(t) AS BIGINT) AS n_tokens,
         |  CAST(count(*) * $b AS BIGINT) AS capacity,
         |  round(1.0 - CAST(sum(t) AS DOUBLE) / (count(*) * $b), 6) AS padding_frac,
         |  CAST(max(t) AS BIGINT) AS max_seq_tokens
         |FROM (SELECT off // $base AS seq_id, count(*) AS c,
         |      CAST(sum(nt) AS BIGINT) AS t
         |      FROM o GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
       |c AS (SELECT doc_id, unnest(range(0, n, 24)) AS s, n FROM t),
       |ch AS (SELECT doc_id, CAST(s // 24 AS INT) AS chunk_id,
       |  CAST(least(32, n - s) AS INT) AS nt FROM c),
       |dt AS (SELECT doc_id, CAST(sum(nt) AS BIGINT) AS doc_tokens FROM ch GROUP BY 1),
       |db AS (SELECT doc_id, CAST(coalesce(sum(doc_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS doc_base
       |  FROM dt),
       |o AS (SELECT ch.doc_id, chunk_id, nt,
       |  db.doc_base + CAST(coalesce(sum(nt) OVER (PARTITION BY ch.doc_id
       |    ORDER BY chunk_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS BIGINT) AS off
       |  FROM ch JOIN db ON ch.doc_id = db.doc_id)
       |$perBudget
       |ORDER BY budget""".stripMargin
  }

  private def bpeOracleSql: String = {
    val union = (1 to 8).map(k =>
      s"SELECT CAST($k AS BIGINT) AS step, a AS lhs, b AS rhs, cnt AS pair_count, a || b AS merged FROM t$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeVocabCtes,
       |$bpeStages
       |$union
       |ORDER BY step""".stripMargin
  }

  /** The e1..e8 greedy-encode chain over e0's distinct word types —
    * shared by the t25 and t34 oracles. */
  private def bpeEncodeStages: String =
    (1 to 8).map { k =>
      val prev = if (k == 1) "e0" else s"e${k - 1}"
      s"""e$k AS (
         |  SELECT word, list_reduce(string_split(repr, '|'), (acc, s) ->
         |    CASE WHEN regexp_extract(acc, '[^|]*$$') = t$k.a AND s = t$k.b
         |    THEN substr(acc, 1, length(acc) - length(regexp_extract(acc, '[^|]*$$'))) ||
         |      t$k.a || t$k.b
         |    ELSE acc || '|' || s END) AS repr
         |  FROM $prev, t$k)""".stripMargin
    }.mkString(",\n")

  /** The t24 merge stages (t1..t8) re-derived, then [[bpeEncodeStages]]
    * over every distinct corpus word (not just the training vocabulary)
    * as `dw`(key, word) + `e0`..`e8` — TextAnalysis.bpeEncodeOf's
    * chain, keyed by doc_id (t25) or lang (t34). */
  private def bpeEncodeCtes(key: String): String =
    s"""$bpeVocabCtes,
       |$bpeStages,
       |dw AS (
       |  SELECT $key, tok AS word
       |  FROM (SELECT $key, unnest(string_split(lower(text), ' ')) AS tok FROM documents) s
       |  WHERE regexp_matches(tok, '^[a-z0-9]+$$')),
       |e0 AS (SELECT DISTINCT word,
       |  array_to_string(list_transform(range(1, len(word) + 1), i -> word[i]), '|') AS repr
       |  FROM dw),
       |$bpeEncodeStages""".stripMargin

  /** t25: [[bpeEncodeCtes]] joined back to the token stream for per-doc
    * subword counts. */
  private def bpeEncodeOracleSql: String =
    s"""WITH ${bpeEncodeCtes("doc_id")},
       |enc AS (SELECT word, CAST(len(string_split(repr, '|')) AS INT) AS n_sub FROM e8)
       |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS word_count,
       |  CAST(sum(enc.n_sub) AS BIGINT) AS subword_count,
       |  round(CAST(sum(enc.n_sub) AS DOUBLE) / count(*), 6) AS expansion
       |FROM dw JOIN enc USING (word)
       |GROUP BY dw.doc_id
       |ORDER BY dw.doc_id""".stripMargin

  /** t34: the t24 merge stages + shared encode chain, aggregated to
    * LANGUAGE grain — fertility (subwords/word) and chars/subword as
    * single divides of exact BIGINT sums. */
  private def tokenizerFertilityOracleSql: String =
    s"""WITH ${bpeEncodeCtes("lang")},
       |enc AS (SELECT word, CAST(len(string_split(repr, '|')) AS INT) AS n_sub,
       |  CAST(length(word) AS BIGINT) AS n_chars_w FROM e8)
       |SELECT dw.lang, CAST(count(*) AS BIGINT) AS words,
       |  CAST(sum(enc.n_sub) AS BIGINT) AS subwords,
       |  CAST(sum(enc.n_chars_w) AS BIGINT) AS chars,
       |  round(CAST(sum(enc.n_sub) AS DOUBLE) / count(*), 6) AS fertility,
       |  round(CAST(sum(enc.n_chars_w) AS DOUBLE) / CAST(sum(enc.n_sub) AS DOUBLE), 6)
       |    AS chars_per_subword
       |FROM dw JOIN enc USING (word)
       |GROUP BY dw.lang
       |ORDER BY dw.lang""".stripMargin

  /** The three fixed-point PageRank supersteps unrolled (mirrors
    * GraphRank.superstep: BIGINT micro-unit mass, floor division, integer
    * 85/100 damping, per-node teleport grants from the `g` CTE — no
    * floating point anywhere, so nothing can round differently). */
  private def rankSteps: String = {
    def step(k: Int): String = {
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""r$k AS (
         |  SELECT e.dst AS node,
         |    CAST((85 * sum(r.r // d.deg)) // 100 + g.grant AS BIGINT) AS r
         |  FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    JOIN g ON e.dst = g.gnode
         |  GROUP BY e.dst, g.grant)""".stripMargin
    }
    (1 to 3).map(step).mkString(",\n")
  }

  private val rankEdgesCte =
    """e0 AS (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1)""".stripMargin

  private val rankOutput =
    """SELECT r.node, d.deg AS degree, r.r AS rank_micros
      |FROM r3 r JOIN deg d ON r.node = d.src
      |WHERE r.node LIKE 's%'
      |ORDER BY node""".stripMargin

  /** g01: uniform init SCALE/n and uniform grant 0.15·SCALE/n. */
  private def graphRankOracleSql: String =
    s"""WITH $rankEdgesCte,
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS (SELECT src AS node, 1000000000000 // nn.n AS r FROM deg, nn),
       |g AS (SELECT src AS gnode, ((15 * 1000000000000) // 100) // nn.n AS grant
       |  FROM deg, nn),
       |$rankSteps
       |$rankOutput""".stripMargin

  /** g02: personalized PageRank — the same fixed-point supersteps with
    * init mass and teleport grants restricted to nation-1 customer seeds
    * (SCALE/|S| on seeds, 0 elsewhere). */
  private def personalizedRankOracleSql: String =
    s"""WITH $rankEdgesCte,
       |seeds AS (
       |  SELECT d.src AS seed FROM deg d
       |  JOIN (SELECT 'c' || c_custkey AS src FROM customer WHERE c_nationkey = 1) c
       |    ON d.src = c.src),
       |nsc AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM seeds),
       |r0 AS (
       |  SELECT d.src AS node,
       |    CASE WHEN s.seed IS NOT NULL
       |      THEN 1000000000000 // (SELECT ns FROM nsc)
       |      ELSE CAST(0 AS BIGINT) END AS r
       |  FROM deg d LEFT JOIN seeds s ON d.src = s.seed),
       |g AS (
       |  SELECT d.src AS gnode,
       |    CASE WHEN s.seed IS NOT NULL
       |      THEN ((15 * 1000000000000) // 100) // (SELECT ns FROM nsc)
       |      ELSE CAST(0 AS BIGINT) END AS grant
       |  FROM deg d LEFT JOIN seeds s ON d.src = s.seed),
       |$rankSteps
       |$rankOutput""".stripMargin

  /** Each step references the previous round TWICE (own label + the
    * neighbor join) — `AS MATERIALIZED` is load-bearing: DuckDB
    * auto-materializes multiply-referenced CTEs under a plain WITH, but
    * inside a `WITH RECURSIVE` clause list that heuristic is off and the
    * inlined chain re-evaluates 2^rounds times (measured: the g07 oracle
    * at sf0.1 spilled 36 GB before the hint; sub-second after — the same
    * doubled-lineage trap g06's Spark loop engineers out). */
  private def hashMinStep(k: Int): String = {
    val prev = s"l${k - 1}"
    s"""l$k AS MATERIALIZED (
       |  SELECT v.node, least(v.l, coalesce(min(w.l), v.l)) AS l
       |  FROM $prev v
       |  LEFT JOIN (SELECT e.dst AS node, r.l FROM e JOIN $prev r
       |    ON e.src = r.node) w ON w.node = v.node
       |  GROUP BY v.node, v.l)""".stripMargin
  }

  private def hashMinUnrollCtes(rounds: Int): String =
    s"""l0 AS (SELECT src AS node, src AS l FROM deg),
       |${(1 to rounds).map(hashMinStep).mkString(",\n")}""".stripMargin

  /** g06: HashMin bounded-round connected components — the same
    * [[GraphRank.ComponentRounds]] min-label supersteps as
    * GraphRank.componentSizes, unrolled (each step: every node takes the
    * min of its own and its neighbors' labels), then the component-size
    * histogram. The shared constant keeps engine and oracle in lockstep. */
  private def componentSizesOracleSql: String = {
    val rounds = GraphRank.ComponentRounds
    s"""WITH $rankEdgesCte,
       |${hashMinUnrollCtes(rounds)},
       |sizes AS (SELECT l, CAST(count(*) AS BIGINT) AS size FROM l$rounds GROUP BY l)
       |SELECT size, CAST(count(*) AS BIGINT) AS components,
       |  CAST(sum(size) AS BIGINT) AS nodes
       |FROM sizes GROUP BY size ORDER BY size""".stripMargin
  }

  /** g07: EXACT components (mirrors GraphRank.componentSizesConverged's
    * fixpoint). A naive recursive reachability walk is quadratic in
    * component size — the purchase graph's giant component would make
    * the oracle itself the bottleneck — so the graph is first CONTRACTED
    * by the same k unrolled HashMin rounds as g06 (each label class lies
    * within one component, so contraction preserves the component
    * partition exactly), and the recursive walk runs over the tiny
    * label-graph only. Exact for any data, any diameter. */
  private def componentsConvergedOracleSql: String = {
    val rounds = GraphRank.ComponentRounds
    s"""WITH RECURSIVE $rankEdgesCte,
       |${hashMinUnrollCtes(rounds)},
       |ce AS MATERIALIZED (
       |  SELECT DISTINCT a.l AS src, b.l AS dst FROM e
       |  JOIN l$rounds a ON e.src = a.node
       |  JOIN l$rounds b ON e.dst = b.node),
       |walk(node, reach) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM ce)
       |  UNION
       |  SELECT w.node, ce.dst FROM walk w JOIN ce ON w.reach = ce.src),
       |flabel AS (SELECT node, min(reach) AS fl FROM walk GROUP BY node),
       |final AS (SELECT n.node, f.fl FROM l$rounds n
       |  JOIN flabel f ON n.l = f.node),
       |sizes AS (SELECT fl, CAST(count(*) AS BIGINT) AS size
       |  FROM final GROUP BY fl)
       |SELECT size, CAST(count(*) AS BIGINT) AS components,
       |  CAST(sum(size) AS BIGINT) AS nodes
       |FROM sizes GROUP BY size ORDER BY size""".stripMargin
  }

  /** g08: k-core peeling (mirrors GraphRank.kcoreOf) — KCoreRounds
    * unrolled peels, each CTE referenced by the next round's degree
    * filter AND both endpoint joins (plain WITH: DuckDB materializes
    * multiply-referenced CTEs here; only WITH RECURSIVE clause lists
    * need the explicit MATERIALIZED). */
  private def kcoreOracleSql: String = {
    val k = GraphRank.KCoreK
    val peels = (1 to GraphRank.KCoreRounds).map { r =>
      s"""a$r AS (SELECT src FROM u${r - 1} GROUP BY src HAVING count(*) >= $k),
         |u$r AS (SELECT u.src, u.dst FROM u${r - 1} u
         |  JOIN a$r x ON u.src = x.src JOIN a$r y ON u.dst = y.src)"""
        .stripMargin
    }.mkString(",\n")
    val last = s"u${GraphRank.KCoreRounds}"
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |u0 AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |$peels,
       |fd AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM $last GROUP BY src)
       |SELECT substring(src, 1, 1) AS kind, deg,
       |  CAST(count(*) AS BIGINT) AS nodes
       |FROM fd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** g09: synchronous label propagation (mirrors
    * GraphRank.lpaCommunities) — LpaRounds unrolled votes over the
    * self-loop purchase graph; the per-node argmax-with-min-label
    * tiebreak is a row_number over (count DESC, label ASC), exactly the
    * struct-min order of the Spark loop. Each count CTE is referenced
    * once by its round's pick and the edge CTE is multiply-referenced
    * under a plain WITH (auto-materialized — only WITH RECURSIVE clause
    * lists need the explicit hint, see hashMinStep). */
  private def lpaStep(k: Int): String = {
    val prev = s"p${k - 1}"
    s"""c$k AS (
       |  SELECT es.dst AS node, r.lbl, count(*) AS c
       |  FROM es JOIN $prev r ON es.src = r.node
       |  GROUP BY 1, 2),
       |p$k AS (
       |  SELECT node, lbl FROM (
       |    SELECT node, lbl, row_number() OVER (
       |      PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
       |    FROM c$k) WHERE rn = 1)""".stripMargin
  }

  /** Shared LPA prefix (support-thresholded edges + self-loop vote graph
    * + the unrolled rounds) — g09 histograms the final label vector,
    * g13 modularity-scores it. */
  private def lpaCtes: String = {
    val rounds = GraphRank.LpaRounds
    s"""e0 AS (
       |  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING count(*) >= ${GraphRank.LpaMinSupport}),
       |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |nodes AS (SELECT DISTINCT src FROM e),
       |es AS (SELECT src, dst FROM e
       |  UNION ALL SELECT src, src FROM nodes),
       |p0 AS (SELECT src AS node, src AS lbl FROM nodes),
       |${(1 to rounds).map(lpaStep).mkString(",\n")}""".stripMargin
  }

  private def lpaOracleSql: String =
    s"""WITH $lpaCtes,
       |sizes AS (SELECT lbl, CAST(count(*) AS BIGINT) AS size
       |  FROM p${GraphRank.LpaRounds} GROUP BY lbl)
       |SELECT size, CAST(count(*) AS BIGINT) AS communities,
       |  CAST(sum(size) AS BIGINT) AS nodes
       |FROM sizes GROUP BY size ORDER BY size""".stripMargin

  /** g13: Newman–Girvan modularity of the LPA partition (mirrors
    * GraphRank.lpaModularity) — per-community e_c/deg_c/size as exact
    * integers, dq as the identical IEEE operation sequence the engine
    * runs (two divisions, one multiply, one subtract — bit-identical,
    * no rounding step). */
  private def lpaModularityOracleSql: String =
    s"""WITH $lpaCtes,
       |lab AS (SELECT node, lbl FROM p${GraphRank.LpaRounds}),
       |mm AS (SELECT count(*) AS m FROM e0),
       |degn AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |ec AS (
       |  SELECT a.lbl, count(*) AS iec FROM e0
       |  JOIN lab a ON e0.src = a.node
       |  JOIN lab b ON e0.dst = b.node
       |  WHERE a.lbl = b.lbl GROUP BY a.lbl),
       |dc AS (
       |  SELECT l.lbl, CAST(count(*) AS BIGINT) AS size,
       |    CAST(sum(d.deg) AS BIGINT) AS degree_sum
       |  FROM lab l JOIN degn d ON l.node = d.node GROUP BY l.lbl)
       |SELECT dc.lbl AS community, dc.size,
       |  CAST(coalesce(ec.iec, 0) AS BIGINT) AS internal_edges,
       |  dc.degree_sum,
       |  CAST(coalesce(ec.iec, 0) AS DOUBLE) / mm.m
       |    - (CAST(dc.degree_sum AS DOUBLE) / (mm.m * 2.0))
       |    * (CAST(dc.degree_sum AS DOUBLE) / (mm.m * 2.0)) AS dq
       |FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl CROSS JOIN mm
       |ORDER BY community""".stripMargin

  /** g15: conductance of the LPA partition (mirrors
    * GraphRank.lpaConductance) — cut counted once per boundary side,
    * vol = degree sum, φ one IEEE divide of exact BIGINTs, round(,6). */
  private def lpaConductanceOracleSql: String =
    s"""WITH $lpaCtes,
       |lab AS (SELECT node, lbl FROM p${GraphRank.LpaRounds}),
       |mm AS (SELECT count(*) AS m FROM e0),
       |degn AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
       |bedge AS (
       |  SELECT a.lbl AS lbla, b.lbl AS lblb FROM e0
       |  JOIN lab a ON e0.src = a.node
       |  JOIN lab b ON e0.dst = b.node
       |  WHERE a.lbl <> b.lbl),
       |cutc AS (
       |  SELECT lbl, CAST(count(*) AS BIGINT) AS cut_edges FROM (
       |    SELECT lbla AS lbl FROM bedge
       |    UNION ALL SELECT lblb FROM bedge)
       |  GROUP BY lbl),
       |dc AS (
       |  SELECT l.lbl, CAST(count(*) AS BIGINT) AS size,
       |    CAST(sum(d.deg) AS BIGINT) AS volume
       |  FROM lab l JOIN degn d ON l.node = d.node GROUP BY l.lbl)
       |SELECT dc.lbl AS community, dc.size, dc.volume,
       |  CAST(coalesce(c.cut_edges, 0) AS BIGINT) AS cut_edges,
       |  CASE WHEN least(dc.volume, mm.m * 2 - dc.volume) <= 0 THEN 0.0
       |       ELSE round(CAST(coalesce(c.cut_edges, 0) AS DOUBLE)
       |         / least(dc.volume, mm.m * 2 - dc.volume), 6) END AS conductance
       |FROM dc LEFT JOIN cutc c ON dc.lbl = c.lbl CROSS JOIN mm
       |ORDER BY community""".stripMargin

  /** MinHash signatures → 4 band keys per doc (mirrors
    * Dedup.minhashLshOf's signature/band construction; shared by the
    * full-corpus LSH CTEs and the d22 incremental split). */
  private val sigBandsCte =
    """sig AS (SELECT doc_id,
      |  min(md5('0|' || shingle)) AS h0, min(md5('1|' || shingle)) AS h1,
      |  min(md5('2|' || shingle)) AS h2, min(md5('3|' || shingle)) AS h3,
      |  min(md5('4|' || shingle)) AS h4, min(md5('5|' || shingle)) AS h5,
      |  min(md5('6|' || shingle)) AS h6, min(md5('7|' || shingle)) AS h7
      |  FROM sh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, 0 AS band, h0 || h1 AS bkey FROM sig UNION ALL
      |  SELECT doc_id, 1, h2 || h3 FROM sig UNION ALL
      |  SELECT doc_id, 2, h4 || h5 FROM sig UNION ALL
      |  SELECT doc_id, 3, h6 || h7 FROM sig)""".stripMargin

  /** MinHash signatures → 4 bands → bucket-min candidate pairs — the SQL
    * mirror of Dedup.minhashLsh (shared by d04 and the d07 apply path). */
  private val lshCandCte =
    s"""$sigBandsCte,
      |bmin AS (SELECT band, bkey, min(doc_id) AS d1 FROM bands GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT bmin.d1, b.doc_id AS d2
      |  FROM bands b JOIN bmin USING (band, bkey)
      |  WHERE b.doc_id > bmin.d1)""".stripMargin

  /** The verify half of Dedup.minhashLsh: per-doc shingle-set `sizes` and
    * the shared-shingle count `c` of every candidate pair, as CTE `inter`
    * (d31 names it `linter`, beside a second detector's pairs). */
  private def lshInterCtes(inter: String) =
    s"""$lshCandCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |$inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cand ON a.doc_id = cand.d1 AND b.doc_id = cand.d2
       |  GROUP BY 1, 2)""".stripMargin

  /** Dedup.jaccardOf's keep rule over `inter` + `sizes` (4dp-rounded
    * jaccard >= 0.5) as CTE `name`, projecting `select` (which ends in
    * `FROM inter`). */
  private def jaccardKeepCte(name: String, select: String) =
    s"""$name AS (
       |  $select
       |  JOIN sizes sa ON d1 = sa.doc_id
       |  JOIN sizes sb ON d2 = sb.doc_id
       |  WHERE round(c / CAST(sa.n + sb.n - c AS DOUBLE), 4) >= 0.5)""".stripMargin

  /** The [[jaccardKeepCte]] projection of Dedup.jaccardOf's columns. */
  private val jaccardSelect =
    """SELECT d1, d2,
      |    round(c / CAST(sa.n + sb.n - c AS DOUBLE), 4) AS jaccard
      |  FROM inter""".stripMargin

  /** d03's and d04's result: every pair the keep rule keeps, with its
    * jaccard, in (d1, d2) order — Dedup.jaccardOf's output. */
  private val jaccardPairsSelect =
    """SELECT d1, d2,
      |  round(c / CAST(sa.n + sb.n - c AS DOUBLE), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON d1 = sa.doc_id
      |JOIN sizes sb ON d2 = sb.doc_id
      |WHERE round(c / CAST(sa.n + sb.n - c AS DOUBLE), 4) >= 0.5
      |ORDER BY d1, d2""".stripMargin

  /** d04's verified pair list (d1, d2) as `pairs` — Dedup.minhashLsh. */
  private val lshPairsCtes =
    s"${lshInterCtes("inter")},\n${jaccardKeepCte("pairs", "SELECT d1, d2 FROM inter")}"

  /** d04's losers (the larger id of each verified pair) as `losers` —
    * the set Dedup.dropNearDuplicatesOf drops. */
  private val lshLosersCtes =
    s"${lshInterCtes("inter")},\n${jaccardKeepCte("losers", "SELECT DISTINCT d2 FROM inter")}"

  /** Reachability over the undirected edge list `bi`(a, b): min(node) per
    * doc_id is the fixpoint of Dedup.dedupClustersOf's min-label
    * propagation. */
  private val clusterWalkCte =
    """walk(doc_id, node) AS (
      |  SELECT DISTINCT a, a FROM bi
      |  UNION
      |  SELECT w.doc_id, e.b FROM walk w JOIN bi e ON w.node = e.a)""".stripMargin

  /** [[clusterWalkCte]] over the pair CTE `pairs`, made undirected as
    * Dedup.dedupClustersOf's edge list is. */
  private def clusterWalkCtes(pairs: String) =
    s"""bi AS (SELECT d1 AS a, d2 AS b FROM $pairs
       |       UNION ALL SELECT d2, d1 FROM $pairs),
       |$clusterWalkCte""".stripMargin

  /** d16's components over d04's pairs (Dedup.dedupClusters). */
  private val lshClusterWalkCtes = s"$lshPairsCtes,\n${clusterWalkCtes("pairs")}"

  /** t02's quality signals per doc as `qual`, n_tokens cast to `tokens` —
    * the gate of Dedup.cleanCorpus. */
  private def qualCte(tokens: String) =
    s"""qual AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS $tokens) AS n_tokens,
       |    round(len(list_filter(string_split(text, ' '),
       |          w -> w IN ('the','a','of','and','is')))
       |          / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS stop_ratio,
       |    round(1.0 - len(list_distinct(string_split(text, ' ')))
       |          / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS repetition_ratio
       |  FROM documents)""".stripMargin

  /** The support-≥2 co-purchase graph as `edges`(p1 < p2) over the
    * basket `items` and pair `support` — GraphRank.copurchaseSupport and
    * its edge cut. */
  private val basketEdgesCtes =
    """items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2, count(*) AS support
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |edges AS (SELECT p1, p2 FROM pairs WHERE support >= 2)""".stripMargin

  /** [[basketEdgesCtes]] oriented by packed (degree, id) keys as
    * `oriented`(src, dst, dstk) — GraphRank.triangleCount's orientation,
    * shared by g03 and g10. */
  private val orientedEdgesCtes =
    s"""$basketEdgesCtes,
       |deg AS (
       |  SELECT pk, count(*) AS d FROM (
       |    SELECT p1 AS pk FROM edges UNION ALL SELECT p2 AS pk FROM edges)
       |  GROUP BY 1),
       |okey AS (SELECT pk, d * 2147483648 + pk AS k FROM deg),
       |oriented AS (
       |  SELECT CASE WHEN ka.k < kb.k THEN e.p1 ELSE e.p2 END AS src,
       |         CASE WHEN ka.k < kb.k THEN e.p2 ELSE e.p1 END AS dst,
       |         CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS dstk
       |  FROM edges e
       |  JOIN okey ka ON e.p1 = ka.pk
       |  JOIN okey kb ON e.p2 = kb.pk)""".stripMargin

  /** Every doc's LSH band keys with its md5 arrival bucket as `bb` —
    * the index/delta split of Dedup.incrementalNearDupOf. */
  private val bandBucketsCtes =
    s"""$shingleCte,
       |$sigBandsCte,
       |bb AS (
       |  SELECT doc_id, band, bkey,
       |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
       |  FROM bands)""".stripMargin

  /** Trained-IVF building block shared by s06/s07/d13 (mirrors
    * Similarity.cellScored + trainedAssignment/cellRanked): per-cell mean
    * centroids seeded from labels, then every vector distance-ranked
    * against every centroid — rk = 1 is the nearest-centroid assignment.
    * Ordering is (round(dist,6), cell) — exactly the tie order of
    * Similarity.nearestCell's LUT argmin (the broadcast codebook row is
    * sorted by cell id, and array_position takes the FIRST index
    * achieving the rounded minimum distance). */
  private val ivfRankedCte =
    s"""cent0 AS (
      |  SELECT label AS cell, i AS dim,
      |    round(avg(CAST(embedding[i+1] AS DOUBLE)), 6) AS centroid
      |  FROM embeddings, range(64) AS t(i)
      |  GROUP BY label, i),
      |cent AS (
      |  SELECT cell, list(centroid ORDER BY dim) AS cv FROM cent0 GROUP BY cell),
      |${normedCte("vec_id")},
      |cellranked AS (
      |  SELECT n.vec_id, c.cell, n.v, n.norm,
      |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |      round(list_sum(list_transform(range(64),
      |        i -> (n.v[i+1] - c.cv[i+1]) * (n.v[i+1] - c.cv[i+1]))), 6) ASC,
      |      c.cell ASC) AS rk
      |  FROM n CROSS JOIN cent c)""".stripMargin

  /** One Lloyd assignment CTE (nearest centroid by 6dp-rounded L2, cid
    * tiebreak) — shared by the s08/s09 fixed-k replay and d29's
    * corpus-sized chain. Expects an `n`(vec_id, v) CTE in scope. */
  private def kmAssignCte(cents: String, out: String) =
    s"""$out AS (
       |  SELECT vec_id, cid, v FROM (
       |    SELECT n.vec_id, c.cid, n.v,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        round(list_sum(list_transform(range(64),
       |          i -> (n.v[i+1] - c.cv[i+1]) * (n.v[i+1] - c.cv[i+1]))), 6) ASC,
       |        c.cid ASC) AS rk
       |    FROM n CROSS JOIN $cents c)
       |  WHERE rk = 1)""".stripMargin

  /** Per-iteration 6dp-rounded centroid means, companion to
    * [[kmAssignCte]]. */
  private def kmMeansCte(assigned: String, m: String, c: String) =
    s"""$m AS (
       |  SELECT cid, i AS dim, round(avg(v[i+1]), 6) AS c
       |  FROM $assigned, range(64) AS t(i)
       |  GROUP BY cid, i),
       |$c AS (SELECT cid, list(c ORDER BY dim) AS cv FROM $m GROUP BY cid)""".stripMargin

  /** s08: label-free k-means (k=8, 2 Lloyd iterations) — deterministic
    * seeds (first 8 vectors), one unrolled CTE pair per iteration,
    * centroids rounded to 6dp after each (mirrors
    * Similarity.kmeansCentroids). */
  private val kmeansSql =
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM n WHERE vec_id < 8),
       |${kmAssignCte("c0", "a1")},
       |${kmMeansCte("a1", "m1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmMeansCte("a2", "m2", "c2")}
       |SELECT cid, CAST(dim AS INT) AS dim, c AS centroid FROM m2
       |ORDER BY cid, dim""".stripMargin

  /** d29's corpus-sized k-means chain (mirrors Similarity
    * .semDedupCentroids / semDedupAssignment): the same Lloyd replay as
    * [[kmeansSql]] but the seed count derives from the corpus —
    * k = max(8, ceil(N / 200)) — so expected cell width, and with it the
    * θ-graph pair volume, stays bounded at any corpus size. Ends in a
    * `cent`(cell, cv) centroid table plus the TWO-LEVEL ROUTE (⌈√k⌉
    * super-centroids from one Lloyd step over the centroid table;
    * vectors route super-first — O(N·√k·d), the hierarchical-quantizer
    * build shape): `vsup` is the vector→super leg, `routed` the
    * centroid→super membership the final per-super argmin joins. `n`
    * carries norms for the cosine downstream. */
  private val semKmeansCtes =
    s"""${normedCte("vec_id")},
       |kk AS (SELECT greatest(8, CAST(ceil(count(*) / ${Similarity.SemDedupTargetCell}.0) AS BIGINT)) AS k
       |       FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM n
       |       WHERE vec_id < (SELECT k FROM kk)),
       |${kmAssignCte("c0", "a1")},
       |${kmMeansCte("a1", "m1", "c1")},
       |${kmAssignCte("c1", "a2")},
       |${kmMeansCte("a2", "m2", "c2")},
       |cent AS MATERIALIZED (SELECT cid AS cell, cv FROM c2),
       |seeds AS (
       |  SELECT cell AS sup, cv FROM (
       |    SELECT cell, cv, row_number() OVER (ORDER BY cell ASC) AS rn
       |    FROM cent)
       |  WHERE rn <= (SELECT CAST(ceil(sqrt(k)) AS BIGINT) FROM kk)),
       |sa AS (
       |  SELECT cell, cv, sup FROM (
       |    SELECT c.cell, c.cv, d.sup,
       |      row_number() OVER (PARTITION BY c.cell ORDER BY
       |        round(list_sum(list_transform(range(64),
       |          i -> (c.cv[i+1] - d.cv[i+1]) * (c.cv[i+1] - d.cv[i+1]))), 6) ASC,
       |        d.sup ASC) AS rk
       |    FROM cent c CROSS JOIN seeds d)
       |  WHERE rk = 1),
       |sup AS (
       |  SELECT sup, list(sx ORDER BY dim) AS cv FROM (
       |    SELECT sup, i AS dim, round(avg(cv[i+1]), 6) AS sx
       |    FROM sa, range(64) AS t(i) GROUP BY sup, i)
       |  GROUP BY sup),
       |routed AS MATERIALIZED (
       |  SELECT cell, cv, sup FROM (
       |    SELECT c.cell, c.cv, u.sup,
       |      row_number() OVER (PARTITION BY c.cell ORDER BY
       |        round(list_sum(list_transform(range(64),
       |          i -> (c.cv[i+1] - u.cv[i+1]) * (c.cv[i+1] - u.cv[i+1]))), 6) ASC,
       |        u.sup ASC) AS rk
       |    FROM cent c CROSS JOIN sup u)
       |  WHERE rk = 1),
       |vsup AS (
       |  SELECT vec_id, v, norm, sup FROM (
       |    SELECT n.vec_id, n.v, n.norm, u.sup,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        round(list_sum(list_transform(range(64),
       |          i -> (n.v[i+1] - u.cv[i+1]) * (n.v[i+1] - u.cv[i+1]))), 6) ASC,
       |        u.sup ASC) AS rk
       |    FROM n CROSS JOIN (SELECT * FROM sup SEMI JOIN routed USING (sup)) u)
       |  WHERE rk = 1)""".stripMargin

  /** [[semKmeansCtes]] plus each vector's cell from the two-level route
    * as `assigned` — Similarity.semDedupAssignment. */
  private val semAssignedCtes =
    s"""$semKmeansCtes,
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cell, v, norm FROM (
       |    SELECT w.vec_id, r.cell, w.v, w.norm,
       |      row_number() OVER (PARTITION BY w.vec_id ORDER BY
       |        round(list_sum(list_transform(range(64),
       |          i -> (w.v[i+1] - r.cv[i+1]) * (w.v[i+1] - r.cv[i+1]))), 6) ASC,
       |        r.cell ASC) AS rk
       |    FROM vsup w JOIN routed r ON w.sup = r.sup)
       |  WHERE rk = 1)""".stripMargin

  /** One unrolled hop of the beam walk, PARAMETERIZED over the CTE
    * names so the same generator serves the standard search walk
    * (prefix "", graph/cand/q), the s33 arrival walk (prefix "i" over
    * the base graph with the jittered-arrival queries), and the s34
    * post-insert serve walk (prefix "p" over the merged graph +
    * arrival-extended candidates). */
  private def walkHopCte(prefix: String, graphName: String,
                         candName: String, qName: String,
                         beam: Int = Similarity.GraphAnnBeam)(t: Int) = {
    val qcos = "round(list_sum(list_transform(range(64), " +
      "i -> q.v[i+1] * c.v[i+1])) / (q.norm * c.norm), 6)"
    s"""${prefix}e$t AS (SELECT DISTINCT query_id, node FROM (
       |  SELECT query_id, node FROM ${prefix}b${t - 1}
       |  UNION ALL
       |  SELECT b.query_id, g.dst FROM ${prefix}b${t - 1} b
       |  JOIN $graphName g ON b.node = g.src)),
       |${prefix}s$t AS (
       |  SELECT e.query_id, e.node, $qcos AS cosine,
       |    row_number() OVER (PARTITION BY e.query_id ORDER BY
       |      $qcos DESC, e.node ASC) AS rnk
       |  FROM ${prefix}e$t e JOIN $candName c ON e.node = c.cand_id
       |  JOIN $qName q ON e.query_id = q.query_id),
       |${prefix}b$t AS (SELECT query_id, node FROM ${prefix}s$t
       |  WHERE rnk <= $beam)""".stripMargin
  }

  /** Probe entry for a query CTE: the GraphAnnProbes nearest cells'
    * medoids (from `medName` — s37 re-elects into `med2`) become
    * `${prefix}b0`. */
  private def walkEntryCtes(prefix: String, qName: String,
                            medName: String = "med"): String =
    s"""${prefix}qprobe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT qq.query_id, ct.cell,
       |      row_number() OVER (PARTITION BY qq.query_id ORDER BY
       |        round(list_sum(list_transform(range(64),
       |          i -> (qq.v[i+1] - ct.cv[i+1]) * (qq.v[i+1] - ct.cv[i+1]))), 6)
       |          ASC, ct.cell ASC) AS rk
       |    FROM $qName qq CROSS JOIN cent ct)
       |  WHERE rk <= ${Similarity.GraphAnnProbes}),
       |${prefix}b0 AS (SELECT DISTINCT p.query_id, m.entry AS node
       |  FROM ${prefix}qprobe p JOIN $medName m ON p.cell = m.cell)""".stripMargin

  /** Query-independent half of the walk chain: quantizer, assignment,
    * candidates, per-cell medoids, scored same-cell pairs, and the
    * near+long-range edge graph — shared verbatim by s29/s30/s33/s34. */
  private val graphWalkBaseCtes = {
    s"""$semAssignedCtes,
       |cand AS MATERIALIZED (
       |  SELECT vec_id AS cand_id, cell, v, norm FROM assigned
       |  WHERE vec_id >= 10),
       |med AS (
       |  SELECT cell, cand_id AS entry FROM (
       |    SELECT c.cell, c.cand_id,
       |      row_number() OVER (PARTITION BY c.cell ORDER BY
       |        round(list_sum(list_transform(range(64),
       |          i -> (c.v[i+1] - ct.cv[i+1]) * (c.v[i+1] - ct.cv[i+1]))), 6)
       |          ASC, c.cand_id ASC) AS rk
       |    FROM cand c JOIN cent ct ON c.cell = ct.cell)
       |  WHERE rk = 1),
       |pairsg AS MATERIALIZED (
       |  SELECT a.cand_id AS src, b.cand_id AS dst, a.cell,
       |    round(list_sum(list_transform(range(64),
       |      i -> a.v[i+1] * b.v[i+1])) / (a.norm * b.norm), 6) AS gcos
       |  FROM cand a JOIN cand b
       |    ON a.cell = b.cell AND a.cand_id <> b.cand_id),
       |graph AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM (
       |      SELECT src, dst, row_number() OVER (PARTITION BY src
       |        ORDER BY gcos DESC, dst ASC) AS rk FROM pairsg)
       |    WHERE rk <= ${Similarity.GraphAnnM}
       |    UNION ALL
       |    SELECT src, dst FROM (
       |      SELECT p.src, p.dst,
       |        row_number() OVER (PARTITION BY p.cell
       |          ORDER BY p.gcos ASC, p.dst ASC) AS fk,
       |        count(*) OVER (PARTITION BY p.cell) AS cnt
       |      FROM pairsg p JOIN med m ON p.cell = m.cell AND p.src = m.entry)
       |    WHERE (fk - 1) % ((cnt + ${Similarity.GraphAnnEntryDegree - 1})
       |      // ${Similarity.GraphAnnEntryDegree}) = 0))""".stripMargin
  }

  /** s29/s30 shared walk chain (mirrors Similarity.beamWalkScored):
    * cells from the CORPUS-SIZED two-level-routed quantizer
    * ([[semKmeansCtes]] — the graph build's pair join must stay
    * O(N·targetCell), the d29 lesson applied to the index build), k-NN
    * graph (per-node top-M same-cell cosine), per-cell medoid entry,
    * then GraphAnnHops unrolled hops — e$t = the expanded frontier,
    * s$t = its scored ranking (cosine + rnk kept), b$t = the rank-≤beam
    * beam. The M/beam/hops literals come from the SAME constants the
    * engine defaults read. */
  private val graphWalkCtes = {
    def hop(t: Int) = walkHopCte("", "graph", "cand", "q")(t)
    s"""$graphWalkBaseCtes,
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell, v, norm FROM assigned
       |  WHERE vec_id < 10),
       |${walkEntryCtes("", "q")},
       |${(1 to Similarity.GraphAnnHops).map(hop).mkString(",\n")}""".stripMargin
  }

  /** s42's batched serve: the IDENTICAL walk chain over the batched
    * query set (s29's 10 held-out queries plus 90 corpus members) —
    * each query's hops replayed independently, which is exactly the
    * per-query-identity claim the engine's shared-hop batching makes. */
  private val batchedWalkCtes = {
    def hop(t: Int) = walkHopCte("m", "graph", "cand", "qb")(t)
    s"""$graphWalkBaseCtes,
       |qb AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell, v, norm FROM assigned
       |  WHERE vec_id < ${Similarity.BatchedServeQueries}),
       |${walkEntryCtes("m", "qb")},
       |${(1 to Similarity.GraphAnnHops).map(hop).mkString(",\n")}""".stripMargin
  }

  /** s39's ADC walk: the same base graph/entry as s29, but every hop
    * ranks its expansion by the PQ approximate distance (sum of the
    * query's DECIMAL(18,6) LUT entries over the node's 8 codes —
    * s12's scoring inside s29's walk), and only the final beam pays an
    * exact cosine re-rank. PQ CTEs carry a 'p' prefix because the
    * semKmeans chain already owns c0/a1/m1/c1/a2/m2/c2. */
  private val adcWalkCtes = {
    def hop(t: Int) =
      s"""ae$t AS (SELECT DISTINCT query_id, node FROM (
         |  SELECT query_id, node FROM ab${t - 1}
         |  UNION ALL
         |  SELECT b.query_id, g.dst FROM ab${t - 1} b
         |  JOIN graph g ON b.node = g.src)),
         |az$t AS (
         |  SELECT e.query_id, e.node, sum(l.d) AS adist
         |  FROM ae$t e JOIN pcodes c ON e.node = c.cand_id
         |  JOIN plut l ON l.query_id = e.query_id AND l.s = c.s
         |    AND l.code = c.code
         |  GROUP BY 1, 2),
         |ab$t AS (SELECT query_id, node FROM (
         |  SELECT query_id, node, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adist ASC, node ASC) AS rnk FROM az$t)
         |  WHERE rnk <= ${Similarity.GraphAnnBeam})""".stripMargin
    s"""$graphWalkBaseCtes,
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell, v, norm FROM assigned
       |  WHERE vec_id < 10),
       |${walkEntryCtes("a", "q")},
       |psub AS (SELECT vec_id, CAST(s AS INT) AS s, v[s*8+1 : s*8+8] AS sv
       |         FROM n, range(8) AS t(s)),
       |${pqTrainCtesP("p", "psub")},
       |${pqAssignCte("pc2", "pa3", "psub")},
       |pcodes AS MATERIALIZED (
       |  SELECT vec_id AS cand_id, s, cid AS code FROM pa3 WHERE vec_id >= 10),
       |plut AS MATERIALIZED (
       |  SELECT q2.vec_id AS query_id, c.s, c.cid AS code,
       |    CAST(round(list_sum(list_transform(range(8),
       |      i -> (q2.sv[i+1] - c.cv[i+1]) * (q2.sv[i+1] - c.cv[i+1]))), 6)
       |      AS DECIMAL(18,6)) AS d
       |  FROM psub q2 JOIN pc2 c ON q2.s = c.s
       |  WHERE q2.vec_id < 10),
       |${(1 to Similarity.GraphAnnHops).map(hop).mkString(",\n")}""".stripMargin
  }

  /** s40's beam sweep: three parameterized walk chains (beam 4/8/16)
    * off ONE shared base graph + entry; summary row per beam. */
  private val beamSweepCtes = {
    def chain(b: Int) = {
      def hop(t: Int) = walkHopCte(s"w$b", "graph", "cand", "q", b)(t)
      s"""w${b}b0 AS (SELECT query_id, node FROM zb0),
         |${(1 to Similarity.GraphAnnHops).map(hop).mkString(",\n")}""".stripMargin
    }
    s"""$graphWalkBaseCtes,
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell, v, norm FROM assigned
       |  WHERE vec_id < 10),
       |${walkEntryCtes("z", "q")},
       |${Seq(4, 8, 16).map(chain).mkString(",\n")}""".stripMargin
  }

  /** s33's arrival walk: jittered arrivals (per-dim additive
    * (md5-nibble − 7.5)/1000 noise off parents 10–14, 6dp-rounded —
    * Similarity.insertArrivals exactly) beam-walk the BASE graph; the
    * attach list is the final hop's rank-≤M prefix. */
  private val insertWalkCtes = {
    def hop(t: Int) = walkHopCte("i", "graph", "cand", "iq")(t)
    s"""$graphWalkBaseCtes,
       |iq AS MATERIALIZED (
       |  SELECT ${Similarity.InsertIdBase} + vec_id AS query_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
       |  FROM (
       |    SELECT vec_id,
       |      list_transform(range(64), i -> round(v[i+1] +
       |        (strpos('0123456789abcdef', substr(md5('ins|' ||
       |          CAST(vec_id AS VARCHAR) || '|' || CAST(i AS VARCHAR)),
       |          1, 1)) - 1 - 7.5) / 1000.0, 6)) AS v
       |    FROM n WHERE vec_id BETWEEN 10 AND 14)),
       |${walkEntryCtes("i", "iq")},
       |${(1 to Similarity.GraphAnnHops).map(hop).mkString(",\n")},
       |attach AS MATERIALIZED (
       |  SELECT query_id AS arrival_id, node AS nbr, cosine, rnk
       |  FROM is${Similarity.GraphAnnHops}
       |  WHERE rnk <= ${Similarity.GraphAnnM})""".stripMargin
  }

  /** s34's serve walk: merged graph (base ∪ attach ∪ reverse-attach),
    * candidates extended by the arrivals, queried by the PARENTS. */
  private val serveAfterInsertCtes = {
    def hop(t: Int) = walkHopCte("p", "mgraph", "mcand", "pq")(t)
    s"""$insertWalkCtes,
       |mgraph AS MATERIALIZED (
       |  SELECT src, dst FROM graph
       |  UNION ALL SELECT arrival_id AS src, nbr AS dst FROM attach
       |  UNION ALL SELECT nbr AS src, arrival_id AS dst FROM attach),
       |mcand AS MATERIALIZED (
       |  SELECT cand_id, v, norm FROM cand
       |  UNION ALL SELECT query_id AS cand_id, v, norm FROM iq),
       |pq AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v, norm FROM n
       |  WHERE vec_id BETWEEN 10 AND 14),
       |${walkEntryCtes("p", "pq")},
       |${(1 to Similarity.GraphAnnHops).map(hop).mkString(",\n")}""".stripMargin
  }

  /** s37's compaction walk: tombstones = the base walk's rank-1 nodes;
    * the patch retires them delta-locally (retained live edges,
    * u→t→w shortcuts re-ranked top-M for tombstone-ADJACENT srcs only,
    * re-elected entries), then the parents' queries walk the patched
    * graph with NO result filter — mirrors
    * Similarity.graphAnnCompactServe step for step. */
  private val compactWalkCtes = {
    val m = Similarity.GraphAnnM
    def hop(t: Int) = walkHopCte("z", "pgraph", "cand", "q")(t)
    s"""$graphWalkCtes,
       |tomb AS (SELECT DISTINCT node FROM s${Similarity.GraphAnnHops}
       |  WHERE rnk = 1),
       |retained AS (
       |  SELECT src, dst FROM graph
       |  WHERE src NOT IN (SELECT node FROM tomb)
       |    AND dst NOT IN (SELECT node FROM tomb)),
       |totomb AS (
       |  SELECT src, dst FROM graph
       |  WHERE src NOT IN (SELECT node FROM tomb)
       |    AND dst IN (SELECT node FROM tomb)),
       |adjsrc AS (SELECT DISTINCT src FROM totomb),
       |shortcuts AS (
       |  SELECT DISTINCT a.src, g.dst FROM totomb a
       |  JOIN graph g ON a.dst = g.src
       |  WHERE g.dst NOT IN (SELECT node FROM tomb) AND g.dst <> a.src),
       |cande AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM retained
       |    WHERE src IN (SELECT src FROM adjsrc)
       |    UNION ALL SELECT src, dst FROM shortcuts)),
       |padj AS (
       |  SELECT src, dst FROM (
       |    SELECT e.src, e.dst, row_number() OVER (PARTITION BY e.src
       |      ORDER BY round(list_sum(list_transform(range(64),
       |        i -> a.v[i+1] * b.v[i+1])) / (a.norm * b.norm), 6) DESC,
       |        e.dst ASC) AS rk
       |    FROM cande e JOIN cand a ON e.src = a.cand_id
       |    JOIN cand b ON e.dst = b.cand_id)
       |  WHERE rk <= $m),
       |pgraph AS MATERIALIZED (
       |  SELECT src, dst FROM retained
       |  WHERE src NOT IN (SELECT src FROM adjsrc)
       |  UNION ALL SELECT src, dst FROM padj),
       |med2 AS (
       |  SELECT cell, cand_id AS entry FROM (
       |    SELECT c.cell, c.cand_id,
       |      row_number() OVER (PARTITION BY c.cell ORDER BY
       |        round(list_sum(list_transform(range(64),
       |          i -> (c.v[i+1] - ct.cv[i+1]) * (c.v[i+1] - ct.cv[i+1]))), 6)
       |          ASC, c.cand_id ASC) AS rk
       |    FROM cand c JOIN cent ct ON c.cell = ct.cell
       |    WHERE c.cand_id NOT IN (SELECT node FROM tomb))
       |  WHERE rk = 1),
       |${walkEntryCtes("z", "q", "med2")},
       |${(1 to Similarity.GraphAnnHops).map(hop).mkString(",\n")}""".stripMargin
  }

  /** Nearest-codeword assignment of `sub`'s (vec_id, s, sv) rows against
    * codebook table `cents` — reused by the PQ training iterations, the
    * final encode (s11/s12), and the residual encode (s13). */
  private def pqAssignCte(cents: String, out: String, src: String = "sub") =
    s"""$out AS (
       |  SELECT vec_id, s, cid, sv FROM (
       |    SELECT b.vec_id, b.s, c.cid, b.sv,
       |      row_number() OVER (PARTITION BY b.vec_id, b.s ORDER BY
       |        round(list_sum(list_transform(range(8),
       |          i -> (b.sv[i+1] - c.cv[i+1]) * (b.sv[i+1] - c.cv[i+1]))), 6) ASC,
       |        c.cid ASC) AS rk
       |    FROM $src b JOIN $cents c ON b.s = c.s)
       |  WHERE rk = 1)""".stripMargin

  private def pqMeansCte(assigned: String, m: String, c: String) =
    s"""$m AS (
       |  SELECT s, cid, i AS dim, round(avg(sv[i+1]), 6) AS c
       |  FROM $assigned, range(8) AS t(i)
       |  GROUP BY s, cid, i),
       |$c AS (SELECT s, cid, list(c ORDER BY dim) AS cv FROM $m GROUP BY s, cid)""".stripMargin

  /** Product-quantization training replay (seeds = the first PqK ids' subvectors,
    * 2 Lloyd iterations, 6dp-rounded means — Similarity.pqCodebooksOf
    * exactly). Expects a `sub`(vec_id, s, sv) CTE already in scope, so the
    * same training runs on raw subvectors (s10-s12) or coarse-residual
    * subvectors (s13). */
  private val pqTrainCtes =
    s"""c0 AS (SELECT s, CAST(vec_id AS INT) AS cid, sv AS cv FROM sub WHERE vec_id < ${Similarity.PqK}),
       |${pqAssignCte("c0", "a1")},
       |${pqMeansCte("a1", "m1", "c1")},
       |${pqAssignCte("c1", "a2")},
       |${pqMeansCte("a2", "m2", "c2")}""".stripMargin

  /** Prefixed PQ-training chain for statements that already use the
    * unprefixed c0/a1/m1/c1/a2/m2/c2 names (the semKmeans chain in the
    * graph-walk CTEs — s39 composes both). Same 2-Lloyd-pass replay as
    * [[pqTrainCtes]], over an explicit subvector CTE. */
  private def pqTrainCtesP(p: String, src: String): String =
    s"""${p}c0 AS (SELECT s, CAST(vec_id AS INT) AS cid, sv AS cv FROM $src WHERE vec_id < ${Similarity.PqK}),
       |${pqAssignCte(s"${p}c0", s"${p}a1", src)},
       |${pqMeansCte(s"${p}a1", s"${p}m1", s"${p}c1")},
       |${pqAssignCte(s"${p}c1", s"${p}a2", src)},
       |${pqMeansCte(s"${p}a2", s"${p}m2", s"${p}c2")}""".stripMargin

  /** s10-s12's base: raw-embedding subvectors + the shared training. */
  private val pqBaseCte =
    s"""n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sub AS (SELECT vec_id, CAST(s AS INT) AS s, v[s*8+1 : s*8+8] AS sv
       |        FROM n, range(8) AS t(s)),
       |$pqTrainCtes""".stripMargin

  /** IVF-PQ's query side over `probes`(query_id, cell, v), `cent`, the
    * residual codebooks `c2` and the candidates' `codes`: per-(query,
    * probed cell) residual LUTs and the ADC ranking `rankedq` — shared by
    * [[ivfPqCtesWith]] and s16 (Similarity.ivfPqSearch). */
  private val ivfPqQueryCtes =
    """qres AS (
      |  SELECT p.query_id, p.cell,
      |    list_transform(range(64), i -> p.v[i+1] - c.cv[i+1]) AS v
      |  FROM probes p JOIN cent c ON p.cell = c.cell),
      |qsub AS (SELECT query_id, cell, CAST(s AS INT) AS s, v[s*8+1 : s*8+8] AS sv
      |         FROM qres, range(8) AS t(s)),
      |lut AS (
      |  SELECT q.query_id, q.cell, q.s, b.cid AS code,
      |    CAST(round(list_sum(list_transform(range(8),
      |      i -> (q.sv[i+1] - b.cv[i+1]) * (q.sv[i+1] - b.cv[i+1]))), 6)
      |      AS DECIMAL(18,6)) AS d
      |  FROM qsub q JOIN c2 b ON q.s = b.s),
      |scored AS (
      |  SELECT query_id, cand_id, sum(d) AS adist
      |  FROM codes JOIN lut USING (cell, s, code)
      |  GROUP BY query_id, cand_id),
      |rankedq AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY adist ASC, cand_id ASC) AS rnk
      |  FROM scored)""".stripMargin

  /** IVF-PQ chain shared by s13 (the search), s14 (the recall report),
    * and s17 (`codesFilter` drops tombstoned candidates from the code
    * table): coarse cells, residual subvectors, residual-PQ training,
    * candidate codes, nprobe=2 probes, residual LUTs, ADC ranking into
    * `rankedq`. Mirrors Similarity.ivfPqAnn step for step. */
  private def ivfPqCtesWith(codesFilter: String): String =
    s"""$ivfRankedCte,
       |assigned AS (SELECT vec_id, cell, v FROM cellranked WHERE rk = 1),
       |resid AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(range(64), i -> a.v[i+1] - c.cv[i+1]) AS v
       |  FROM assigned a JOIN cent c ON a.cell = c.cell),
       |sub AS (SELECT vec_id, CAST(s AS INT) AS s, v[s*8+1 : s*8+8] AS sv
       |        FROM resid, range(8) AS t(s)),
       |$pqTrainCtes,
       |${pqAssignCte("c2", "a3")},
       |codes AS (
       |  SELECT a3.vec_id AS cand_id, ass.cell, a3.s, a3.cid AS code
       |  FROM a3 JOIN assigned ass ON a3.vec_id = ass.vec_id
       |  WHERE a3.vec_id >= 10$codesFilter),
       |probes AS (
       |  SELECT vec_id AS query_id, cell, v FROM cellranked
       |  WHERE rk <= 2 AND vec_id < 10),
       |$ivfPqQueryCtes""".stripMargin

  private val ivfPqCtes = ivfPqCtesWith("")

  /** The top-3 of `rankedq` per query — Similarity.ivfPqAnn's answer. */
  private val rankedqTop3 =
    """SELECT query_id, cand_id, CAST(adist AS DOUBLE) AS adist, CAST(rnk AS INT) AS rnk
      |FROM rankedq
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  /** m05's closed-form feature vectors as `n`(vec_id, v) over the byte
    * lengths `b0` — Multimodal.featureBatch's deterministic stub. */
  private val mediaFeatureCtes =
    """b0 AS (SELECT doc_id, octet_length(encode(text)) AS bytes FROM documents),
      |n AS (
      |  SELECT doc_id AS vec_id,
      |    [CAST(bytes AS DOUBLE), CAST(64 + bytes % 512 AS DOUBLE),
      |     CAST(64 + (bytes * 7) % 512 AS DOUBLE), CAST(bytes % 3 AS DOUBLE),
      |     CAST(bytes // 1024 + 1 AS DOUBLE), CAST(bytes % 997 AS DOUBLE),
      |     CAST(bytes % 499 AS DOUBLE), CAST(bytes % 251 AS DOUBLE)] AS v
      |  FROM b0)""".stripMargin

  /** The top-3 of `scored` by cosine per query — Similarity.knnBrute's
    * answer. */
  private val cosineTop3 =
    """SELECT query_id, cand_id, cosine, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
      |  FROM scored)
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  /** m08: cross-modal retrieval — the m05 closed-form feature vectors
    * through the s01 brute-cosine ranking. */
  private val mediaSearchSql =
    s"""WITH $mediaFeatureCtes,
      |n2 AS (SELECT vec_id, v,
      |  sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM n),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
      |          / (q.norm * c.norm), 6) AS cosine
      |  FROM n2 q CROSS JOIN n2 c
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
      |$cosineTop3""".stripMargin

  /** SRP-LSH's 16 hyperplanes over `dims` dimensions, regenerated from
    * md5('srp|b|d'), as `wl`(b, wv) — Similarity.srpNearDupOf's planes. */
  private def srpPlanesCtes(dims: Int) =
    s"""w0 AS (
       |  SELECT b, d,
       |    (instr('0123456789abcdef', substr(m, 1, 1)) - 1) * 4096 +
       |    (instr('0123456789abcdef', substr(m, 2, 1)) - 1) * 256 +
       |    (instr('0123456789abcdef', substr(m, 3, 1)) - 1) * 16 +
       |    (instr('0123456789abcdef', substr(m, 4, 1)) - 1) - 32768 AS w
       |  FROM (SELECT b, d,
       |          md5('srp|' || CAST(b AS VARCHAR) || '|' || CAST(d AS VARCHAR)) AS m
       |        FROM range(16) t1(b), range($dims) t2(d))),
       |wl AS (SELECT b, list(w ORDER BY d) AS wv FROM w0 GROUP BY b)""".stripMargin

  /** Every `vecs`(vec_id, v, norm) row's 16-bit sign code under `wl`,
    * 2×8-bit bands, bucket-min candidate pairs and their exact cosine as
    * `scored`(v1, v2, cosine) — Similarity.srpNearDupOf's detector. */
  private def srpScoredCtes(dims: Int, vecs: String) =
    s"""dots AS (
       |  SELECT vec_id, b,
       |    list_sum(list_transform(range($dims), i -> v[i+1] * wv[i+1])) AS dot
       |  FROM $vecs CROSS JOIN wl),
       |codes AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN dot > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS code
       |  FROM dots GROUP BY vec_id),
       |bands AS (
       |  SELECT vec_id, 0 AS band, code % 256 AS bkey FROM codes
       |  UNION ALL SELECT vec_id, 1, code // 256 FROM codes),
       |bmin AS (SELECT band, bkey, min(vec_id) AS v1 FROM bands GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT bmin.v1, b.vec_id AS v2
       |  FROM bands b JOIN bmin USING (band, bkey)
       |  WHERE b.vec_id > bmin.v1),
       |scored AS (
       |  SELECT cand.v1, cand.v2,
       |    round(list_sum(list_transform(range($dims), i -> a.v[i+1] * c.v[i+1]))
       |          / (a.norm * c.norm), 6) AS cosine
       |  FROM cand JOIN $vecs a ON cand.v1 = a.vec_id JOIN $vecs c ON cand.v2 = c.vec_id)""".stripMargin

  /** Shared by m06 (detection) and m07 (application): the m05 feature
    * vectors (closed-form from octet_length — Multimodal.featureBatch's
    * deterministic stub) pushed through d18's SRP-LSH construction at
    * dim=8: md5-derived hyperplanes, 16-bit codes, 2×8-bit bands,
    * bucket-min candidate pairing, exact cosine verify into `scored`. */
  private val mediaSrpCte =
    s"""$mediaFeatureCtes,
      |n2 AS (
      |  SELECT vec_id, v,
      |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
      |  FROM n),
      |${srpPlanesCtes(8)},
      |${srpScoredCtes(8, "n2")}""".stripMargin

  /** SQ8 over the candidates (vec_id >= 10) of `n`(vec_id, v): per-dim
    * `st`/`sa` min/max, every candidate decoded from its byte codes as
    * `xh`(vec_id, xhat), and each query's squared L2 to it as CTE
    * `scored` — Similarity.sqSearch. */
  private def sq8ScoredCtes(scored: String) =
    s"""st AS (
       |  SELECT CAST(t.d AS INT) AS dim, min(v[t.d + 1]) AS mn,
       |    max(v[t.d + 1]) AS mx
       |  FROM n, unnest(range(len(v))) AS t(d)
       |  WHERE vec_id >= 10
       |  GROUP BY 1),
       |sa AS (
       |  SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
       |  FROM st),
       |xh AS (
       |  SELECT vec_id,
       |    list_transform(range(len(v)), d ->
       |      CASE WHEN mxs[d + 1] = mns[d + 1] THEN mns[d + 1]
       |      ELSE mns[d + 1] + least(255, greatest(0,
       |        floor((v[d + 1] - mns[d + 1]) * 255 / (mxs[d + 1] - mns[d + 1]) + 0.5)))
       |        * (mxs[d + 1] - mns[d + 1]) / 255 END) AS xhat
       |  FROM n CROSS JOIN sa
       |  WHERE vec_id >= 10),
       |$scored AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS cand_id,
       |    round(list_sum(list_transform(range(len(q.v)),
       |      i -> (q.v[i + 1] - x.xhat[i + 1]) * (q.v[i + 1] - x.xhat[i + 1]))), 6)
       |      AS sqdist
       |  FROM n q CROSS JOIN xh x
       |  WHERE q.vec_id < 10)""".stripMargin

  /** The top-3 of `scored` by sqdist per query — Similarity.sqAnn's answer. */
  private val sqdistTop3 =
    """SELECT query_id, cand_id, sqdist, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY sqdist ASC, cand_id ASC) AS rnk
      |  FROM scored)
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  private val eventWindowsSql =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
      |  event_type,
      |  count(*) AS events,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  private val knnBruteSql =
    s"""WITH ${normedCte("vec_id, label")},
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
      |          / (q.norm * c.norm), 6) AS cosine
      |  FROM n q CROSS JOIN n c
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
      |$cosineTop3""".stripMargin

  private val simhashCodesCte = {
    val votes = (0 until 16)
      .map(b => s"sum(2 * ((v >> $b) & 1) - 1) AS s$b").mkString(", ")
    val bits = (0 until 16)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")
    s"""tok0 AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      |  FROM documents),
      |tok AS (SELECT doc_id, md5(t) AS m FROM tok0),
      |tv AS (
      |  SELECT doc_id,
      |    (strpos('0123456789abcdef', m[1]) - 1) * 4096 +
      |    (strpos('0123456789abcdef', m[2]) - 1) * 256 +
      |    (strpos('0123456789abcdef', m[3]) - 1) * 16 +
      |    (strpos('0123456789abcdef', m[4]) - 1) AS v
      |  FROM tok),
      |votes AS (SELECT doc_id, $votes FROM tv GROUP BY doc_id),
      |codes AS (SELECT doc_id, CAST($bits AS INT) AS simhash FROM votes)""".stripMargin
  }

  private val simhashSql =
    s"""WITH $simhashCodesCte
      |SELECT doc_id, simhash FROM codes
      |ORDER BY doc_id""".stripMargin

  /** 64-bit SimHash codes as two 32-bit halves (mirrors Dedup.simhash64:
    * code_hi from md5 hex chars 1-8, code_lo from chars 9-16; exact
    * non-negative BIGINT arithmetic, no overflow on either engine). */
  private val simhash64CodesCte = {
    val votes =
      ((0 until 32).map(b => s"sum(2 * ((vhi >> $b) & 1) - 1) AS h$b") ++
       (0 until 32).map(b => s"sum(2 * ((vlo >> $b) & 1) - 1) AS l$b")).mkString(", ")
    def bits(prefix: String): String =
      (0 until 32)
        .map(b => s"(CASE WHEN $prefix$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
    s"""tok0 AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      |  FROM documents),
      |tok AS (SELECT doc_id, md5(t) AS m FROM tok0),
      |tv AS (
      |  SELECT doc_id, ${hexToBigint("m")} AS vhi, ${hexToBigint("m", 9)} AS vlo
      |  FROM tok),
      |votes AS (SELECT doc_id, $votes FROM tv GROUP BY doc_id),
      |codes64 AS (
      |  SELECT doc_id, ${bits("h")} AS code_hi, ${bits("l")} AS code_lo
      |  FROM votes)""".stripMargin
  }

  /** d11/d12: 4×16-bit band tables over the 64-bit codes, k-anchor star
    * pairing (k=2: each doc vs its bucket's two smallest ids), exact
    * hamming verify (mirrors Dedup.simhash64NearDup at maxHamming=8). */
  private val simhash64PairsCte =
    s"""$simhash64CodesCte,
      |banded64 AS (
      |  SELECT doc_id, 0 AS band, code_lo % 65536 AS bkey FROM codes64
      |  UNION ALL SELECT doc_id, 1, code_lo // 65536 FROM codes64
      |  UNION ALL SELECT doc_id, 2, code_hi % 65536 FROM codes64
      |  UNION ALL SELECT doc_id, 3, code_hi // 65536 FROM codes64),
      |anchor64 AS (
      |  SELECT band, bkey, doc_id AS d1 FROM (
      |    SELECT band, bkey, doc_id,
      |      row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rk
      |    FROM banded64)
      |  WHERE rk <= 2),
      |cand64 AS (
      |  SELECT DISTINCT anchor64.d1, b.doc_id AS d2
      |  FROM banded64 b JOIN anchor64 USING (band, bkey)
      |  WHERE b.doc_id > anchor64.d1),
      |pairs64 AS (
      |  SELECT c.d1, c.d2,
      |    CAST(bit_count(xor(a.code_hi, b.code_hi))
      |         + bit_count(xor(a.code_lo, b.code_lo)) AS INT) AS hamming
      |  FROM cand64 c
      |  JOIN codes64 a ON c.d1 = a.doc_id
      |  JOIN codes64 b ON c.d2 = b.doc_id)""".stripMargin

  // d08: hamming-band application over the codes — 2×8-bit band equi-join,
  // exact bit_count(xor) <= 3 filter (mirrors Dedup.simhashNearDup).
  private val simhashNearDupSql =
    s"""WITH $simhashCodesCte,
      |banded AS (
      |  SELECT doc_id, simhash, 0 AS band, simhash % 256 AS bkey FROM codes
      |  UNION ALL
      |  SELECT doc_id, simhash, 1 AS band, simhash // 256 AS bkey FROM codes),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
      |         a.simhash AS h1, b.simhash AS h2
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
      |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(h1, h2)) <= 3
      |ORDER BY d1, d2""".stripMargin

  /** j05/j07's 30-min-gap sessions as `sess`(user_id, sid, s_start,
    * s_end, n_events) over the µs event stream `ev` —
    * IntervalJoin.sessionIntervals. */
  private val sessionCtes =
    """ev AS (
      |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
      |  FROM events),
      |s0 AS (SELECT user_id, ts_us, event_id,
      |  lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |    AS prev
      |  FROM ev),
      |s1 AS (SELECT user_id, ts_us, event_id,
      |  CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
      |    THEN 1 ELSE 0 END AS brk FROM s0),
      |s2 AS (SELECT user_id, ts_us,
      |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM s1),
      |sess AS (SELECT user_id, sid, min(ts_us) AS s_start,
      |  max(ts_us) AS s_end, count(*) AS n_events
      |  FROM s2 GROUP BY 1, 2)""".stripMargin

  /** j04/j06's per-purchase clicks ranked by |gap|, past before future
    * on ties, as `ranked`(…, rk); equal-µs clicks pre-collapsed to the max
    * event_id, and purchases without a click kept when `join` is a LEFT
    * JOIN — AsOfJoin.nearest's pick order. */
  private def nearestClickCtes(join: String) =
    s"""p AS (
       |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
       |  FROM events WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT user_id, epoch_us(ts) AS c_us, max(event_id) AS click_id
       |  FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts)),
       |ranked AS (
       |  SELECT p.purchase_id, p.user_id, c.click_id,
       |    c.c_us - p.p_us AS gap_us,
       |    row_number() OVER (PARTITION BY p.purchase_id ORDER BY
       |      abs(c.c_us - p.p_us) ASC,
       |      CASE WHEN c.c_us <= p.p_us THEN 0 ELSE 1 END ASC) AS rk
       |  FROM p $join c ON p.user_id = c.user_id)""".stripMargin

  /** m01/m02's byte length `L` and format class flags per doc as `b` —
    * the synthesized media layout Multimodal.decodedMeta parses. */
  private val imageClassCte =
    """b AS (
      |  SELECT doc_id, octet_length(encode(text)) AS L,
      |    (doc_id % 3 = 0 AND octet_length(encode(text)) >= 200) AS is_bmp,
      |    (doc_id % 6 = 2 AND octet_length(encode(text)) >= 280) AS is_png,
      |    (doc_id % 12 = 5 AND octet_length(encode(text)) >= 200) AS is_jpeg,
      |    (doc_id % 12 = 11 AND octet_length(encode(text)) >= 64) AS is_webp
      |  FROM documents)""".stripMargin

  /** `width`, `height` and `format` over [[imageClassCte]]'s `b` — the
    * per-format dimension laws of Multimodal.decodedMeta. */
  private val imageDimCols =
    """CASE WHEN is_bmp THEN 4 + L % 5
      |         WHEN is_png THEN 4 + L % 6
      |         WHEN is_jpeg THEN 3 + L % 6
      |         WHEN is_webp THEN 5 + L % 9
      |         ELSE 64 + L % 512 END AS width,
      |    CASE WHEN is_bmp THEN 4 + L % 3
      |         WHEN is_png THEN 4 + L % 4
      |         WHEN is_jpeg THEN 3 + L % 4
      |         WHEN is_webp THEN 4 + L % 7
      |         ELSE 64 + (L * 7) % 512 END AS height,
      |    CASE WHEN is_bmp THEN 'bmp'
      |      WHEN is_png THEN 'png'
      |      WHEN is_jpeg THEN 'jpeg'
      |      WHEN is_webp THEN 'webp'
      |      ELSE CASE L % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
      |           ELSE 'webp' END END AS format""".stripMargin

  /** t31/t35's HyperLogLog registers (m = 64) per source as CTE `regs`
    * over the lowercase alphanumeric tokens `toks` —
    * TextAnalysis.hllRegistersOf. */
  private def hllRegisterCtes(regs: String) =
    s"""toks AS (
       |  SELECT source, tok AS word
       |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents) s
       |  WHERE regexp_matches(tok, '^[a-z0-9]+$$')),
       |h AS (
       |  SELECT source, (${hexToBigint("m8")}) AS h
       |  FROM (SELECT source, substr(md5('h#' || word), 1, 8) AS m8 FROM toks) t),
       |b AS (SELECT source, h % 64 AS bucket, h // 64 AS w FROM h),
       |$regs AS (
       |  SELECT source, bucket,
       |    max(CASE WHEN w = 0 THEN 27
       |             ELSE strpos(lpad(bin(w), 26, '0'), '1') END) AS reg
       |  FROM b GROUP BY 1, 2)""".stripMargin

  /** t23's token-window chunks of `src` (window 32, stride 24) with
    * their global token offset as `o`(doc_id, chunk_id, nt, off) —
    * TextAnalysis.sequencePackOf's input. */
  private def packOffsetsCtes(src: String) =
    s"""t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM $src),
       |c AS (SELECT doc_id, unnest(range(0, n, 24)) AS s, n FROM t),
       |ch AS (SELECT doc_id, CAST(s // 24 AS INT) AS chunk_id,
       |  CAST(least(32, n - s) AS INT) AS nt FROM c),
       |dt AS (SELECT doc_id, CAST(sum(nt) AS BIGINT) AS doc_tokens
       |  FROM ch GROUP BY 1),
       |db AS (SELECT doc_id, CAST(coalesce(sum(doc_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS doc_base
       |  FROM dt),
       |o AS (SELECT ch.doc_id, chunk_id, nt,
       |  db.doc_base + CAST(coalesce(sum(nt) OVER (PARTITION BY ch.doc_id
       |    ORDER BY chunk_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS BIGINT) AS off
       |  FROM ch JOIN db ON ch.doc_id = db.doc_id)""".stripMargin

  /** w16/w18's first failing t49 rule per doc as `v`(cols…, reason) —
    * EventStream.qualityGateVerdict. */
  private def gopherReasonCtes(cols: String) =
    s"""t AS (
       |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
       |m AS (
       |  SELECT doc_id, lang,
       |    $gopherCountCols
       |  FROM t),
       |v AS (
       |  SELECT $cols,
       |    CASE
       |      WHEN NOT (n_words BETWEEN 50 AND 100000) THEN 'too_few_words'
       |      WHEN NOT (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
       |        THEN 'word_length'
       |      WHEN NOT (10 * sym_hits <= n_words) THEN 'symbol_heavy'
       |      WHEN NOT (5 * alpha_words >= 4 * n_words) THEN 'non_alpha'
       |      WHEN NOT (stop_distinct >= 1) THEN 'no_stopwords'
       |      ELSE 'ok' END AS reason
       |  FROM m)""".stripMargin

  /** t02's per-doc quality signals as `s`(cols…, n_tokens, stop_ratio,
    * repetition_ratio) — TextAnalysis.qualityScoreOf. */
  private def qualityScoreCtes(cols: String) =
    s"""t AS (SELECT $cols, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT $cols,
       |  CAST(len(toks) AS INT) AS n_tokens,
       |  round(len(list_filter(toks, w -> w IN ('the','a','of','and','is')))
       |        / CAST(len(toks) AS DOUBLE), 4) AS stop_ratio,
       |  round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4) AS repetition_ratio
       |  FROM t)""".stripMargin

  /** t11/t28: train docs (md5 bucket != 'f') sharing a shingle with the
    * eval slice (bucket 'f') — TextAnalysis.decontaminateOf. */
  private val decontaminateSql =
    s"""WITH $shingleCte,
      |b AS (SELECT doc_id, shingle,
      |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket FROM sh),
      |ev AS (SELECT DISTINCT shingle FROM b WHERE bucket = 'f')
      |SELECT doc_id, count(*) AS shared_shingles
      |FROM b JOIN ev USING (shingle)
      |WHERE bucket != 'f'
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** f19/f20: the plain lineitem ⋈ orders revenue per priority that
    * BucketedJoin.bucketedJoin and bucketedJoinMultiFile must reproduce. */
  private val bucketedJoinSql =
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS line_count,
      |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** s29/s43: the walk's last hop, rank <= 3 — Similarity.graphAnn's
    * answer. */
  private val graphAnnSql =
    s"""WITH $graphWalkCtes
      |SELECT query_id, node AS cand_id, cosine, rnk
      |FROM s${Similarity.GraphAnnHops}
      |WHERE rnk <= 3
      |ORDER BY query_id, rnk""".stripMargin

  /** s17/s19: the IVF-PQ search with the md5-'0' slice tombstoned out
    * of the code table — Similarity.indexDeleteAnn. */
  private val ivfPqDeleteSql =
    s"""WITH ${ivfPqCtesWith(
           " AND substring(md5(CAST(a3.vec_id AS VARCHAR)), 1, 1) != '0'")}
      |$rankedqTop3""".stripMargin

  /** The top-3 cosine candidates per query within its cell: queries `q`
    * joined to candidates `c` on cell and `filter` — the IVF search of
    * Similarity.annIvf over a trained cell assignment. */
  private def cellCosineTop3(q: String, c: String, filter: String) =
    s"""SELECT query_id, cand_id, cosine, rnk FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    round(list_sum(list_transform(range(64), i -> q.v[i+1] * c.v[i+1]))
       |          / (q.norm * c.norm), 6) AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      round(list_sum(list_transform(range(64), i -> q.v[i+1] * c.v[i+1]))
       |            / (q.norm * c.norm), 6) DESC, c.vec_id ASC) AS rnk
       |  FROM $q q JOIN $c c
       |    ON q.cell = c.cell AND $filter)
       |WHERE rnk <= 3
       |ORDER BY query_id, rnk""".stripMargin

  /** The brute-force cosine top-3 per query as `exact`(query_id, node) —
    * the ground truth of Similarity.graphAnnSweep and graphAnnBeamSweep. */
  private val exactCosineTop3Cte =
    """exact AS (SELECT query_id, node FROM (
      |    SELECT a.vec_id AS query_id, b.vec_id AS node,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        round(list_sum(list_transform(range(64),
      |          i -> a.v[i+1] * b.v[i+1])) / (a.norm * b.norm), 6) DESC,
      |        b.vec_id ASC) AS rk
      |    FROM n a CROSS JOIN n b
      |    WHERE a.vec_id < 10 AND b.vec_id >= 10)
      |  WHERE rk <= 3)""".stripMargin

  val sql: Map[String, String] = Map(
    "s03_knn_native" -> knnBruteSql,

    "s04_knn_autoaccel" -> knnBruteSql,

    "d05_simhash" -> simhashSql,

    "d08_simhash_neardup" -> simhashNearDupSql,

    "d11_simhash64_neardup" ->
      s"""WITH $simhash64PairsCte
        |SELECT d1, d2, hamming FROM pairs64
        |WHERE hamming <= 8
        |ORDER BY d1, d2""".stripMargin,

    "d12_simhash_apply" ->
      s"""WITH $simhash64PairsCte
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT d2 FROM pairs64 WHERE hamming <= 8)
        |ORDER BY doc_id""".stripMargin,

    "d06_embedding_neardup" ->
      s"""WITH $embNearDupCte
         |SELECT v1, v2, cosine FROM ranked
         |WHERE rn <= 20
         |ORDER BY cosine DESC, v1 ASC, v2 ASC""".stripMargin,

    "d09_embedding_apply" ->
      s"""WITH $embNearDupCte
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT v2 FROM ranked WHERE rn <= 20)
         |ORDER BY e.vec_id""".stripMargin,
    "t01_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpeish_tokens,
        |  CAST(length(text) AS INT) AS n_chars_m,
        |  round(length(text) / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS chars_per_token
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "t02_quality_score" ->
      s"""WITH ${qualityScoreCtes("doc_id")}
        |SELECT doc_id, n_tokens, stop_ratio, repetition_ratio,
        |  CASE WHEN n_tokens < 10 THEN 'too_short'
        |       WHEN repetition_ratio > 0.8 THEN 'repetitive'
        |       WHEN stop_ratio > 0.4 THEN 'boilerplate'
        |       ELSE 'ok' END AS quality_band
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    // t20: corpus mixture report — (lang, quality band) cross-tab with
    // doc counts, token mass, and corpus share (t02's band rules).
    "t20_mixture_report" ->
      s"""WITH ${qualityScoreCtes("doc_id, lang")},
        |b AS (SELECT lang, n_tokens,
        |  CASE WHEN n_tokens < 10 THEN 'too_short'
        |       WHEN repetition_ratio > 0.8 THEN 'repetitive'
        |       WHEN stop_ratio > 0.4 THEN 'boilerplate'
        |       ELSE 'ok' END AS quality_band
        |  FROM s),
        |tot AS (SELECT count(*) AS total_docs FROM documents)
        |SELECT lang, quality_band, count(*) AS docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  round(count(*) / CAST(total_docs AS DOUBLE), 4) AS doc_share
        |FROM b CROSS JOIN tot
        |GROUP BY lang, quality_band, total_docs
        |ORDER BY lang, quality_band""".stripMargin,

    // t18: per-doc out-of-vocabulary rate against the exact top-50
    // corpus vocabulary (t05's tie-break: occurrences DESC, token ASC).
    "t18_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok FROM tok GROUP BY tok
        |  ORDER BY count(*) DESC, tok ASC LIMIT 50)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE tok IN (SELECT tok FROM vocab)) AS BIGINT)
        |    AS in_vocab_tokens,
        |  round(1.0 - count(*) FILTER (WHERE tok IN (SELECT tok FROM vocab))
        |        / CAST(count(*) AS DOUBLE), 4) AS oov_rate
        |FROM tok
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // t19: unigram log-prob (perplexity proxy) — per-token ln(p) rounded
    // 6dp then DECIMAL(18,6), exact per-doc sum, mean at the projection.
    "t19_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS occ FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(sum(occ) AS BIGINT) AS total FROM freq),
        |lp AS (
        |  SELECT tok, CAST(round(ln(occ / CAST(total AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS lp
        |  FROM freq CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logprob
        |FROM tok JOIN lp USING (tok)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // t21: bigram conditional log-prob with add-one smoothing —
    // p(cur|prev) = (c(prev,cur)+1)/(c(prev)+V); one double division per
    // bigram type, ln rounded 6dp → DECIMAL(18,6), exact per-doc sums.
    "t21_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |big AS (
        |  SELECT doc_id, b.prev AS prev, b.cur AS cur FROM (
        |    SELECT doc_id,
        |      unnest(CASE WHEN len(l) < 2 THEN []
        |             ELSE list_transform(range(len(l) - 1),
        |                  i -> struct_pack(prev := l[i+1], cur := l[i+2])) END) AS b
        |    FROM toks)),
        |bfreq AS (SELECT prev, cur, count(*) AS cb FROM big GROUP BY 1, 2),
        |ufreq AS (SELECT prev, count(*) AS cu FROM big GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS vocab
        |      FROM (SELECT unnest(l) AS t FROM toks)),
        |lp AS (
        |  SELECT b.prev, b.cur,
        |    CAST(round(ln(CAST(cb + 1 AS DOUBLE) / (cu + vocab)), 6)
        |      AS DECIMAL(18,6)) AS lp
        |  FROM bfreq b JOIN ufreq u ON b.prev = u.prev CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logprob
        |FROM big JOIN lp USING (prev, cur)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "t05_vocabulary" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS occurrences
        |FROM tok
        |GROUP BY token
        |ORDER BY occurrences DESC, token ASC
        |LIMIT 50""".stripMargin,

    // t29: count-min sketch heavy hitters — the sketch grid, the
    // estimates, and the exact counts all replay bit-identically (md5
    // row hashes, integer counters), so the whole report hash-matches.
    "t29_cms_topwords" -> {
      val bucketed =
        s"""SELECT word, i AS hrow, (${hexToBigint("m")}) % 512 AS bucket
           |  FROM (SELECT word, i,
           |          substr(md5(CAST(i AS VARCHAR) || '#' || word), 1, 8) AS m""".stripMargin
      s"""WITH toks AS (
        |  SELECT tok AS word
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) s
        |  WHERE regexp_matches(tok, '^[a-z0-9]+$$')),
        |tb AS (
        |  $bucketed
        |        FROM toks, range(4) t(i))),
        |cells AS (SELECT hrow, bucket, count(*) AS cell_count FROM tb GROUP BY 1, 2),
        |exact AS (SELECT word, count(*) AS exact_count FROM toks GROUP BY 1),
        |wb AS (
        |  $bucketed
        |        FROM (SELECT DISTINCT word FROM toks) w, range(4) t(i))),
        |est AS (
        |  SELECT e.word, e.exact_count, min(c.cell_count) AS cms_estimate
        |  FROM exact e JOIN wb USING (word) JOIN cells c USING (hrow, bucket)
        |  GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (
        |    ORDER BY cms_estimate DESC, word ASC) AS rank FROM est)
        |SELECT CAST(rank AS INT) AS rank, word, exact_count, cms_estimate
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin
    },

    // w12: streaming band-index maintenance — per-bucket MIN merges are
    // associative, so the streamed index equals the batch build
    "w12_stream_index" ->
      s"""WITH $shingleCte,
        |$sigBandsCte
        |SELECT band, bkey, min(doc_id) AS bmin
        |FROM bands
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // w11: stream-static enrichment — the settled grid is arrival-order-
    // free (counts + exact-decimal sums), so the oracle is the batch
    // join/rollup of the same two tables.
    // w13: arrivals (md5 bucket 'f') probe the history-side SCD2 dim for
    // the state valid at each event's own timestamp; left join keeps
    // pre-history arrivals with null state. Mirrors q34's interval CTE
    // chain over the history buckets only.
    "w13_asof_enrich" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
        |    substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = 'f' AS is_arrival
        |  FROM events),
        |r AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                   OR lag(event_type) OVER w != event_type
        |            THEN 1 ELSE 0 END AS chg
        |  FROM (SELECT * FROM e WHERE NOT is_arrival)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS run
        |  FROM r),
        |i AS (
        |  SELECT user_id, run, min(event_type) AS state,
        |    min(ts_us) AS valid_from_us
        |  FROM s GROUP BY user_id, run),
        |dim AS (
        |  SELECT user_id, state, valid_from_us,
        |    lead(valid_from_us) OVER (PARTITION BY user_id
        |      ORDER BY valid_from_us, run) AS valid_to_us
        |  FROM i)
        |SELECT a.event_id, a.user_id, a.event_type,
        |  d.state AS state_at, d.valid_from_us AS state_since_us
        |FROM (SELECT * FROM e WHERE is_arrival) a
        |LEFT JOIN dim d ON a.user_id = d.user_id
        |  AND d.valid_from_us <= a.ts_us
        |  AND (d.valid_to_us IS NULL OR a.ts_us < d.valid_to_us)
        |ORDER BY a.event_id""".stripMargin,

    "w11_stream_enrich" ->
      """SELECT c.c_mktsegment AS segment, e.event_type,
        |  count(*) AS events,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS total_value
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // w09: streaming sketch maintenance — the streamed grid is
    // arrival-order-free (pure counts), so the oracle is the batch grid:
    // t29's cell CTE with the grid as output.
    "w09_stream_sketch" ->
      s"""WITH toks AS (
        |  SELECT tok AS word
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) s
        |  WHERE regexp_matches(tok, '^[a-z0-9]+$$')),
        |tb AS (
        |  SELECT word, i AS hrow, (${hexToBigint("m")}) % 512 AS bucket
        |  FROM (SELECT word, i,
        |          substr(md5(CAST(i AS VARCHAR) || '#' || word), 1, 8) AS m
        |        FROM toks, range(4) t(i)))
        |SELECT CAST(hrow AS INT) AS hrow, bucket, count(*) AS cell_count
        |FROM tb GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // g03: triangle count — the same degree-ordered orientation replayed
    // relationally: pack (degree, id) keys, orient, wedge self-join,
    // close. Counts are integers; nothing can diverge.
    // g11: deterministic random walks — unrolled steps, each an argmin
    // over neighbors of md5("rw|start|walk|step|here|neighbor"); the
    // per-start manifest (count, distinct visited, order-sensitive
    // Σ position·residue) pins every step of every walk.
    "g11_random_walks" -> {
      val steps = (1 to 4).map { t =>
        val key = s"md5('rw|' || start || '|' || w || '|' || $t || '|' || u || '|' || e.p2)"
        s"""w$t AS (
           |  SELECT start, w, $t AS t, min_by(e.p2, $key) AS u
           |  FROM w${t - 1} JOIN e ON u = e.p1
           |  GROUP BY start, w)""".stripMargin
      }.mkString(",\n")
      s"""WITH $basketEdgesCtes,
        |e AS (SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges),
        |nodes AS (SELECT DISTINCT p1 FROM e),
        |w0 AS (SELECT p1 AS start, w, 0 AS t, p1 AS u
        |  FROM nodes CROSS JOIN (VALUES (0), (1)) ws(w)),
        |$steps,
        |alls AS (
        |  SELECT * FROM w0 UNION ALL SELECT * FROM w1
        |  UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
        |  UNION ALL SELECT * FROM w4)
        |SELECT start, CAST(count(*) AS BIGINT) AS n_steps,
        |  CAST(count(DISTINCT u) AS BIGINT) AS distinct_visited,
        |  CAST(sum((w * 5 + t + 1) * (u % 1000003)) AS BIGINT) AS walk_fp
        |FROM alls GROUP BY start ORDER BY start""".stripMargin
    },

    "g03_triangle_count" ->
      s"""WITH $orientedEdgesCtes,
        |wedges AS (
        |  SELECT e1.dst AS v, e2.dst AS w
        |  FROM oriented e1 JOIN oriented e2
        |    ON e1.src = e2.src AND e1.dstk < e2.dstk),
        |tri AS (
        |  SELECT count(*) AS triangles
        |  FROM wedges JOIN oriented o ON wedges.v = o.src AND wedges.w = o.dst)
        |SELECT CAST(triangles AS BIGINT) AS triangles,
        |  CAST((SELECT count(*) FROM deg) AS BIGINT) AS nodes,
        |  CAST((SELECT count(*) FROM edges) AS BIGINT) AS edges
        |FROM tri""".stripMargin,

    // g10: local clustering coefficient — g03's oriented triangle
    // enumeration exploded to member nodes; coeff is one double divide
    // of exact BIGINTs (g04's jaccard pattern), ordering total via the
    // unique node id.
    "g10_local_clustering" ->
      s"""WITH $orientedEdgesCtes,
        |tri AS (
        |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        |  FROM oriented e1
        |  JOIN oriented e2 ON e1.src = e2.src AND e1.dstk < e2.dstk
        |  JOIN oriented o ON e1.dst = o.src AND e2.dst = o.dst),
        |pernode AS (
        |  SELECT pk, count(*) AS triangles FROM (
        |    SELECT u AS pk FROM tri
        |    UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri)
        |  GROUP BY 1),
        |sc AS (
        |  SELECT deg.pk, deg.d, coalesce(pernode.triangles, 0) AS triangles,
        |    round(coalesce(pernode.triangles, 0) * 2
        |      / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS coeff
        |  FROM deg LEFT JOIN pernode ON deg.pk = pernode.pk
        |  WHERE deg.d >= 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    ORDER BY coeff DESC, triangles DESC, pk ASC) AS rank
        |  FROM sc)
        |SELECT CAST(rank AS INT) AS rank, pk AS node, d AS degree,
        |  CAST(triangles AS BIGINT) AS triangles, coeff
        |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // g04: common-neighbor similarity — wedge enumeration over the
    // undirected support-thresholded co-purchase graph; Jaccard is one
    // double divide of exact BIGINT counts, ranking on the rounded score
    // with (cn, v, w) tie-breaks making the order total.
    "g04_node_similarity" ->
      s"""WITH $basketEdgesCtes,
        |und AS (SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges),
        |deg AS (SELECT p1 AS pk, count(*) AS deg FROM und GROUP BY 1),
        |wedges AS (
        |  SELECT e1.p2 AS v, e2.p2 AS w, count(*) AS cn
        |  FROM und e1 JOIN und e2 ON e1.p1 = e2.p1 AND e1.p2 < e2.p2
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT v, w, cn, dv.deg AS deg_v, dw.deg AS deg_w,
        |    round(cn / CAST(dv.deg + dw.deg - cn AS DOUBLE), 6) AS jaccard
        |  FROM wedges
        |  JOIN deg dv ON v = dv.pk
        |  JOIN deg dw ON w = dw.pk),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    ORDER BY jaccard DESC, cn DESC, v ASC, w ASC) AS rank
        |  FROM sc)
        |SELECT CAST(rank AS INT) AS rank, v, w, cn, deg_v, deg_w, jaccard
        |FROM ranked WHERE rank <= 25 ORDER BY rank""".stripMargin,

    // t30: histogram-sketch quantiles — integer ceil-division ranks, one
    // divide+multiply interpolation, explicit rank-semantics exact column:
    // every number replays bit-identically.
    "t30_histogram_quantiles" ->
      """WITH hist AS (
        |  SELECT least(n_chars // 16, 63) AS bin, count(*) AS c
        |  FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT bin, c, sum(c) OVER (
        |    ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist),
        |n AS (SELECT count(*) AS n FROM documents),
        |targets AS (
        |  SELECT pct, (pct * n + 99) // 100 AS r
        |  FROM (SELECT unnest([10, 25, 50, 75, 90, 99]) AS pct), n),
        |ranked AS (
        |  SELECT pct, r, bin, c, cum - c AS cumprev,
        |    row_number() OVER (PARTITION BY pct ORDER BY bin) AS rk
        |  FROM targets JOIN cum ON cum >= r),
        |e AS (
        |  SELECT pct, r,
        |    round(bin * 16 + 16 * CAST(r - cumprev AS DOUBLE) / c, 6) AS est_q
        |  FROM ranked WHERE rk = 1),
        |vals AS (SELECT n_chars AS v, count(*) AS vc FROM documents GROUP BY 1),
        |vcum AS (
        |  SELECT v, sum(vc) OVER (
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vcum
        |  FROM vals),
        |ex AS (
        |  SELECT pct, v AS exact_q,
        |    row_number() OVER (PARTITION BY pct ORDER BY v) AS rk
        |  FROM e JOIN vcum ON vcum >= r)
        |SELECT CAST(e.pct AS INT) AS pct, e.est_q, ex.exact_q
        |FROM e JOIN ex ON e.pct = ex.pct AND ex.rk = 1
        |ORDER BY pct""".stripMargin,

    // t31: HyperLogLog — registers replay bit-identically (md5-hex hash,
    // string-position ρ over zero-padded bin(), exact dyadic 2^-reg
    // terms); CAST(0.709 AS DOUBLE) forces double (bare literal product
    // is DECIMAL in DuckDB); exact NDV beside as calibration.
    "t31_hll_distinct" ->
      s"""WITH ${hllRegisterCtes("r")},
        |a AS (
        |  SELECT source, count(*) AS present,
        |    sum(1.0 / CAST(CAST(1 AS BIGINT) << reg AS DOUBLE)) AS sumterm
        |  FROM r GROUP BY 1),
        |e AS (
        |  SELECT source, present, 64 - present AS zeros,
        |    sumterm + CAST(64 - present AS DOUBLE) AS ssum
        |  FROM a),
        |est AS (
        |  SELECT source, present,
        |    round(CASE WHEN CAST(0.709 AS DOUBLE) * 4096 / ssum <= 160.0
        |                AND zeros > 0
        |      THEN 64.0 * ln(64.0 / zeros)
        |      ELSE CAST(0.709 AS DOUBLE) * 4096 / ssum END, 2) AS hll_ndv
        |  FROM e),
        |x AS (SELECT source, count(DISTINCT word) AS exact_ndv FROM toks GROUP BY 1)
        |SELECT source, CAST(64 AS INT) AS m, CAST(present AS INT) AS nonzero_registers,
        |  hll_ndv, exact_ndv,
        |  round((hll_ndv - exact_ndv) / exact_ndv, 4) AS rel_err
        |FROM est JOIN x USING (source)
        |ORDER BY source""".stripMargin,

    // t35: HLL mergeability — the oracle independently derives BOTH the
    // per-source-merged and the direct corpus registers and counts
    // mismatches (0 by max-associativity), then estimates from the
    // merged sketch with t31's estimator.
    "t35_hll_merge" ->
      s"""WITH ${hllRegisterCtes("rs")},
        |merged AS (SELECT bucket, max(reg) AS reg FROM rs GROUP BY 1),
        |direct AS (
        |  SELECT bucket,
        |    max(CASE WHEN w = 0 THEN 27
        |             ELSE strpos(lpad(bin(w), 26, '0'), '1') END) AS reg
        |  FROM b GROUP BY 1),
        |mm AS (
        |  SELECT count(*) AS register_mismatches
        |  FROM merged m FULL JOIN direct d USING (bucket)
        |  WHERE m.reg IS DISTINCT FROM d.reg),
        |am AS (
        |  SELECT count(*) AS present,
        |    sum(1.0 / CAST(CAST(1 AS BIGINT) << reg AS DOUBLE)) AS sumterm
        |  FROM merged),
        |em AS (
        |  SELECT round(CASE WHEN CAST(0.709 AS DOUBLE) * 4096
        |      / (sumterm + CAST(64 - present AS DOUBLE)) <= 160.0
        |      AND 64 - present > 0
        |    THEN 64.0 * ln(64.0 / (64 - present))
        |    ELSE CAST(0.709 AS DOUBLE) * 4096
        |      / (sumterm + CAST(64 - present AS DOUBLE)) END, 2) AS merged_ndv
        |  FROM am),
        |ad AS (
        |  SELECT count(*) AS present,
        |    sum(1.0 / CAST(CAST(1 AS BIGINT) << reg AS DOUBLE)) AS sumterm
        |  FROM direct),
        |ed AS (
        |  SELECT round(CASE WHEN CAST(0.709 AS DOUBLE) * 4096
        |      / (sumterm + CAST(64 - present AS DOUBLE)) <= 160.0
        |      AND 64 - present > 0
        |    THEN 64.0 * ln(64.0 / (64 - present))
        |    ELSE CAST(0.709 AS DOUBLE) * 4096
        |      / (sumterm + CAST(64 - present AS DOUBLE)) END, 2) AS direct_ndv
        |  FROM ad),
        |x AS (SELECT count(DISTINCT word) AS exact_ndv FROM toks)
        |SELECT CAST(64 AS INT) AS m, em.merged_ndv, ed.direct_ndv,
        |  CAST(mm.register_mismatches AS BIGINT) AS register_mismatches,
        |  x.exact_ndv,
        |  round((em.merged_ndv - x.exact_ndv) / x.exact_ndv, 4) AS rel_err
        |FROM em, ed, mm, x""".stripMargin,

    // g05: BFS hop profile — DuckDB replays the frontier loop as a
    // recursive CTE: UNION-dedup on (pk, hop) with a hop bound matching
    // the engine's cap, then min(hop) per node = first visit. Integers
    // only; nothing can diverge.
    "g05_bfs_hops" ->
      s"""WITH RECURSIVE $basketEdgesCtes,
        |und AS (SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges),
        |walk(pk, hop) AS (
        |  SELECT (SELECT min(p1) FROM und), 0
        |  UNION
        |  SELECT u.p2, w.hop + 1
        |  FROM walk w JOIN und u ON u.p1 = w.pk
        |  WHERE w.hop < 63),
        |dist AS (SELECT pk, min(hop) AS hop FROM walk GROUP BY 1)
        |SELECT CAST(hop AS INT) AS hop, count(*) AS nodes,
        |  min(pk) AS min_pk, max(pk) AS max_pk
        |FROM dist GROUP BY 1 ORDER BY 1""".stripMargin,

    // g12: bounded-horizon harmonic centrality — the 3-hop frontier sweep
    // unrolled level by level (DISTINCT caps each level at S×V; min-hop
    // recovered by the grouped MIN, mirroring the engine's anti-join BFS).
    "g12_harmonic_centrality" ->
      s"""WITH $basketEdgesCtes,
        |und AS MATERIALIZED (
        |  SELECT p1, p2 FROM edges UNION ALL SELECT p2, p1 FROM edges),
        |seeds AS (
        |  SELECT p1 AS src FROM (SELECT DISTINCT p1 FROM und)
        |  ORDER BY p1 LIMIT 10),
        |w0 AS (SELECT src, src AS pk, 0 AS hop FROM seeds),
        |w1 AS (SELECT DISTINCT w.src, u.p2 AS pk, 1 AS hop
        |       FROM w0 w JOIN und u ON u.p1 = w.pk),
        |w2 AS (SELECT DISTINCT w.src, u.p2 AS pk, 2 AS hop
        |       FROM w1 w JOIN und u ON u.p1 = w.pk),
        |w3 AS (SELECT DISTINCT w.src, u.p2 AS pk, 3 AS hop
        |       FROM w2 w JOIN und u ON u.p1 = w.pk),
        |alls AS (
        |  SELECT * FROM w0 UNION ALL SELECT * FROM w1
        |  UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3),
        |dist AS (SELECT src, pk, min(hop) AS hop FROM alls GROUP BY 1, 2),
        |agg AS (
        |  SELECT src,
        |    CAST(sum(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM dist WHERE hop > 0 GROUP BY src)
        |SELECT src, n1, n2, n3,
        |  round(n1 / 1.0 + n2 / 2.0 + n3 / 3.0, 6) AS harmonic
        |FROM agg ORDER BY src""".stripMargin,

    // t33: per-source quota cap — t02's quality machinery + one ranked
    // window; ordering keys are integers/strings with a doc_id tie-break.
    "t33_source_quota" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, source, CAST(len(toks) AS INT) AS n_tokens,
        |    round(len(list_filter(toks, w -> w IN ('the','a','of','and','is')))
        |          / CAST(len(toks) AS DOUBLE), 4) AS stop_ratio,
        |    round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
        |      AS repetition_ratio
        |  FROM t),
        |band AS (
        |  SELECT doc_id, source, n_tokens,
        |    CASE WHEN n_tokens < 10 THEN 'too_short'
        |         WHEN repetition_ratio > 0.8 THEN 'repetitive'
        |         WHEN stop_ratio > 0.4 THEN 'boilerplate'
        |         ELSE 'ok' END AS quality_band
        |  FROM s),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY
        |      CASE WHEN quality_band = 'ok' THEN 1 ELSE 0 END DESC,
        |      n_tokens DESC, doc_id ASC) AS rank
        |  FROM band)
        |SELECT source, CAST(rank AS INT) AS rank, doc_id, n_tokens, quality_band
        |FROM r WHERE rank <= 50
        |ORDER BY source, rank""".stripMargin,

    // t32: distribution drift — lang-mix JS divergence between the corpus
    // and the md5-bucket-'f' ingest slice; shares are exact divides, the
    // ln chain is rounded only at the projection (per-lang JS terms are
    // ≥ 0 by the log-sum inequality, so HALF_UP == half-away).
    "t32_distribution_drift" ->
      """WITH sliced AS (
        |  SELECT lang,
        |    CAST(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS INT) AS is_delta
        |  FROM documents),
        |grid AS (
        |  SELECT lang,
        |    CAST(sum(1 - is_delta) AS BIGINT) AS base_n,
        |    CAST(sum(is_delta) AS BIGINT) AS delta_n
        |  FROM sliced GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(1 - is_delta) AS BIGINT) AS base_total,
        |    CAST(sum(is_delta) AS BIGINT) AS delta_total
        |  FROM sliced),
        |sh AS (
        |  SELECT lang, base_n, delta_n,
        |    base_n / CAST(base_total AS DOUBLE) AS p,
        |    delta_n / CAST(delta_total AS DOUBLE) AS q
        |  FROM grid CROSS JOIN tot),
        |t AS (
        |  SELECT lang, base_n, delta_n, p, q, (p + q) / 2.0 AS m FROM sh)
        |SELECT lang, base_n, delta_n,
        |  round(p, 6) AS base_share, round(q, 6) AS delta_share,
        |  round(CASE WHEN base_n = 0 THEN 0.0 ELSE p * ln(p / m) / 2.0 END
        |      + CASE WHEN delta_n = 0 THEN 0.0 ELSE q * ln(q / m) / 2.0 END,
        |    6) AS js_term
        |FROM t ORDER BY lang""".stripMargin,

    "t06_idf" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT token, count(*) AS doc_freq,
        |  round(ln(n_docs / CAST(count(*) AS DOUBLE)), 6) AS idf
        |FROM tok CROSS JOIN n
        |GROUP BY token, n_docs
        |ORDER BY token""".stripMargin,

    "s08_kmeans_train" -> kmeansSql,

    "s10_pq_train" ->
      s"""WITH $pqBaseCte
        |SELECT s AS subspace, cid, CAST(dim AS INT) AS dim, c AS centroid
        |FROM m2
        |ORDER BY subspace, cid, dim""".stripMargin,

    "s11_pq_codes" ->
      s"""WITH $pqBaseCte,
        |${pqAssignCte("c2", "a3")}
        |SELECT vec_id, s AS subspace, cid AS code
        |FROM a3
        |ORDER BY vec_id, subspace""".stripMargin,

    // s12: ADC — per-query LUT of exact-subvector→codeword distances
    // (DECIMAL(18,6) after a 6dp round, so the 8-term sum is exact and
    // order-independent), candidates contribute only their codes.
    "s12_pq_ann" ->
      s"""WITH $pqBaseCte,
        |${pqAssignCte("c2", "a3")},
        |lut AS (
        |  SELECT q.vec_id AS query_id, c.s, c.cid AS code,
        |    CAST(round(list_sum(list_transform(range(8),
        |      i -> (q.sv[i+1] - c.cv[i+1]) * (q.sv[i+1] - c.cv[i+1]))), 6)
        |      AS DECIMAL(18,6)) AS d
        |  FROM sub q JOIN c2 c ON q.s = c.s
        |  WHERE q.vec_id < 10),
        |codes AS (SELECT vec_id AS cand_id, s, cid AS code FROM a3 WHERE vec_id >= 10),
        |scored AS (
        |  SELECT query_id, cand_id, sum(d) AS adist
        |  FROM codes JOIN lut USING (s, code)
        |  GROUP BY query_id, cand_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adist ASC, cand_id ASC) AS rnk
        |  FROM scored)
        |SELECT query_id, cand_id, CAST(adist AS DOUBLE) AS adist, CAST(rnk AS INT) AS rnk
        |FROM ranked
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s13: IVF-PQ — coarse cells from the trained quantizer, PQ trained
    // on COARSE RESIDUALS (v − cell centroid), candidates scored by ADC
    // against per-(query, probed-cell) residual lookup tables. nprobe=2.
    "s13_ivfpq_ann" ->
      s"""WITH $ivfPqCtes
        |$rankedqTop3""".stripMargin,

    // s15: index-persistence round trip — the parquet write/read of the
    // index artifacts must be invisible to answers, so the oracle is
    // exactly s13's chain recomputed from the raw table.
    "s15_index_roundtrip" ->
      s"""WITH $ivfPqCtes
        |$rankedqTop3""".stripMargin,

    // s17: index delete — s13's chain with the tombstoned md5-'0' slice
    // dropped from the code table before scoring.
    "s17_index_delete" -> ivfPqDeleteSql,

    // s19: index compaction — the physical rewrite (tombstones applied,
    // cell-clustered layout) must be invisible to answers, so the oracle
    // is exactly s17's post-delete chain; hash identity proves the
    // compacted artifact serves the same index.
    "s19_index_compact" -> ivfPqDeleteSql,

    // s20: refined ANN — s13's ADC chain over-fetches a 12-deep
    // shortlist, then the exact float rerank picks the top 3; mirrors
    // Similarity.refinedAnn (shortlist from rankedq, exact L2 from n).
    "s20_refined_ann" ->
      s"""WITH $ivfPqCtes,
        |short AS (SELECT query_id, cand_id FROM rankedq WHERE rnk <= 12),
        |ex AS (
        |  SELECT s.query_id, s.cand_id,
        |    round(list_sum(list_transform(range(64),
        |      i -> (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1]))), 6) AS dist
        |  FROM short s
        |  JOIN n q ON s.query_id = q.vec_id
        |  JOIN n c ON s.cand_id = c.vec_id),
        |rr AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rnk
        |  FROM ex)
        |SELECT query_id, cand_id, CAST(dist AS DOUBLE) AS dist, CAST(rnk AS INT) AS rnk
        |FROM rr WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s22: SQ8 training — per-dimension min/max over the candidate
    // corpus (exact doubles, no rounding discipline needed)
    "s22_sq_train" ->
      """WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id >= 10)
        |SELECT CAST(t.d AS INT) AS dim, min(v[t.d + 1]) AS mn,
        |  max(v[t.d + 1]) AS mx
        |FROM c, unnest(range(len(v))) AS t(d)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // s23: SQ8 ANN — candidates reconstructed from their byte codes
    // (floor((x-mn)*255/(mx-mn)+0.5) clamped; floor is the cross-engine
    // rounding primitive), squared-L2 to the exact query floats via the
    // same per-row list fold as knnBrute, 6dp round before ranking
    "s23_sq_ann" ->
      s"""WITH n AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |${sq8ScoredCtes("scored")}
        |$sqdistTop3""".stripMargin,

    // s24: IVF-SQ — coarse cells (the trained-assignment replay) + SQ8
    // stats on candidate residuals + probed search scored in RESIDUAL
    // space (the pinned subtraction order; full-space agrees in math but
    // not float order)
    "s24_ivfsq_ann" ->
      s"""WITH $ivfRankedCte,
        |assigned AS (SELECT vec_id, cell, v FROM cellranked WHERE rk = 1),
        |resid AS (
        |  SELECT a.vec_id, a.cell,
        |    list_transform(range(64), i -> a.v[i + 1] - c.cv[i + 1]) AS rv
        |  FROM assigned a JOIN cent c USING (cell)),
        |st AS (
        |  SELECT CAST(t.d AS INT) AS dim, min(rv[t.d + 1]) AS mn,
        |    max(rv[t.d + 1]) AS mx
        |  FROM resid, unnest(range(len(rv))) AS t(d)
        |  WHERE vec_id >= 10
        |  GROUP BY 1),
        |sa AS (
        |  SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
        |  FROM st),
        |xh AS (
        |  SELECT vec_id, cell,
        |    list_transform(range(len(rv)), d ->
        |      CASE WHEN mxs[d + 1] = mns[d + 1] THEN mns[d + 1]
        |      ELSE mns[d + 1] + least(255, greatest(0,
        |        floor((rv[d + 1] - mns[d + 1]) * 255 / (mxs[d + 1] - mns[d + 1]) + 0.5)))
        |        * (mxs[d + 1] - mns[d + 1]) / 255 END) AS rhat
        |  FROM resid CROSS JOIN sa
        |  WHERE vec_id >= 10),
        |qr AS (
        |  SELECT cr.vec_id AS query_id, cr.cell,
        |    list_transform(range(64), i -> cr.v[i + 1] - c.cv[i + 1]) AS qrv
        |  FROM cellranked cr JOIN cent c USING (cell)
        |  WHERE cr.vec_id < 10 AND cr.rk <= 2),
        |scored AS (
        |  SELECT qr.query_id, x.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(64),
        |      i -> (qr.qrv[i + 1] - x.rhat[i + 1]) * (qr.qrv[i + 1] - x.rhat[i + 1]))), 6)
        |      AS sqdist
        |  FROM qr JOIN xh x USING (cell))
        |$sqdistTop3""".stripMargin,

    // s21: hybrid search — IDF-overlap lexical ranking and brute cosine
    // ranking fused by integer reciprocal-rank fusion (1e6 // (60+rank));
    // ranks are exact, floor division is exact, the fusion cannot drift.
    "s21_hybrid_search" ->
      s"""WITH ${normedCte("vec_id")},
        |vscored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
        |          / (q.norm * c.norm), 6) AS cosine
        |  FROM n q CROSS JOIN n c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |vr AS (
        |  SELECT query_id, cand_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS r
        |  FROM vscored),
        |tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |dfq AS (SELECT token, count(*) AS doc_freq FROM tok GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |lex AS (
        |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
        |    sum(CAST(round(ln(n_docs / CAST(doc_freq AS DOUBLE)), 6)
        |        AS DECIMAL(18,6))) AS lex
        |  FROM tok q
        |  JOIN tok c USING (token)
        |  JOIN dfq USING (token)
        |  CROSS JOIN nd
        |  WHERE q.doc_id < 10 AND c.doc_id >= 10
        |  GROUP BY 1, 2),
        |lr AS (
        |  SELECT query_id, cand_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY lex DESC, cand_id ASC) AS r
        |  FROM lex),
        |pts AS (
        |  SELECT query_id, cand_id, CAST(1000000 // (60 + r) AS BIGINT) AS pts
        |  FROM lr WHERE r <= 10
        |  UNION ALL
        |  SELECT query_id, cand_id, CAST(1000000 // (60 + r) AS BIGINT) AS pts
        |  FROM vr WHERE r <= 10),
        |fused AS (
        |  SELECT query_id, cand_id, CAST(sum(pts) AS BIGINT) AS rrf_score
        |  FROM pts GROUP BY 1, 2),
        |rr AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY rrf_score DESC, cand_id ASC) AS rnk
        |  FROM fused)
        |SELECT query_id, cand_id, rrf_score, CAST(rnk AS INT) AS rnk
        |FROM rr WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s18: filtered ANN — s13's chain with the even-label metadata
    // predicate restricting the code table BEFORE scoring (pre-filter
    // semantics: top-k fills from the allowed subset).
    "s18_filtered_ann" ->
      s"""WITH ${ivfPqCtesWith(
             " AND a3.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)")}
        |$rankedqTop3""".stripMargin,

    // s16: incremental index update — coarse centroids and residual
    // codebooks trained on the INDEX subset only (md5 bucket != 'f';
    // seeds = its 16 smallest ids), every candidate encoded with the
    // frozen trainers, search over the merged code table. Mirrors
    // Similarity.incrementalIndexAnn stage for stage.
    "s16_incremental_index" ->
      s"""WITH ${normedCte("vec_id, label")},
        |cand AS (SELECT * FROM n WHERE vec_id >= 10),
        |idx AS (SELECT * FROM cand
        |        WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) != 'f'),
        |cent0 AS (
        |  SELECT label AS cell, i AS dim, round(avg(v[i+1]), 6) AS centroid
        |  FROM idx, range(64) AS t(i) GROUP BY 1, 2),
        |cent AS (SELECT cell, list(centroid ORDER BY dim) AS cv
        |         FROM cent0 GROUP BY cell),
        |cranked AS (
        |  SELECT c.vec_id, ct.cell, c.v, c.norm,
        |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |      round(list_sum(list_transform(range(64),
        |        i -> (c.v[i+1] - ct.cv[i+1]) * (c.v[i+1] - ct.cv[i+1]))), 6) ASC,
        |      ct.cell ASC) AS rk
        |  FROM cand c CROSS JOIN cent ct),
        |assigned AS (SELECT vec_id, cell, v FROM cranked WHERE rk = 1),
        |resid AS (
        |  SELECT a.vec_id,
        |    list_transform(range(64), i -> a.v[i+1] - c.cv[i+1]) AS v
        |  FROM assigned a JOIN cent c ON a.cell = c.cell),
        |suball AS (SELECT vec_id, CAST(s AS INT) AS s, v[s*8+1 : s*8+8] AS sv
        |           FROM resid, range(8) AS t(s)),
        |sub AS (SELECT * FROM suball
        |        WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) != 'f'),
        |c0 AS (
        |  SELECT s, CAST(vec_id AS INT) AS cid, sv AS cv FROM sub
        |  WHERE vec_id IN (SELECT vec_id FROM (
        |    SELECT DISTINCT vec_id FROM sub ORDER BY vec_id LIMIT 16))),
        |${pqAssignCte("c0", "a1")},
        |${pqMeansCte("a1", "m1", "c1")},
        |${pqAssignCte("c1", "a2")},
        |${pqMeansCte("a2", "m2", "c2")},
        |${pqAssignCte("c2", "a3", "suball")},
        |codes AS (
        |  SELECT a3.vec_id AS cand_id, ass.cell, a3.s, a3.cid AS code
        |  FROM a3 JOIN assigned ass ON a3.vec_id = ass.vec_id),
        |qranked AS (
        |  SELECT q.vec_id, ct.cell, q.v,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      round(list_sum(list_transform(range(64),
        |        i -> (q.v[i+1] - ct.cv[i+1]) * (q.v[i+1] - ct.cv[i+1]))), 6) ASC,
        |      ct.cell ASC) AS rk
        |  FROM n q CROSS JOIN cent ct WHERE q.vec_id < 10),
        |probes AS (SELECT vec_id AS query_id, cell, v FROM qranked WHERE rk <= 2),
        |$ivfPqQueryCtes
        |$rankedqTop3""".stripMargin,

    // s14: ANN recall report — how many of s13's top-3 survive against
    // the exact-L2 ground truth, per query.
    "s14_ann_recall" ->
      s"""WITH $ivfPqCtes,
        |exact AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(range(64),
        |          i -> (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1]))) ASC,
        |        c.vec_id ASC) AS rk
        |    FROM n q CROSS JOIN n c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rk <= 3),
        |appr AS (SELECT query_id, cand_id FROM rankedq WHERE rnk <= 3)
        |SELECT ap.query_id,
        |  CAST(count(ex.cand_id) AS BIGINT) AS matches,
        |  round(count(ex.cand_id) / 3.0, 4) AS recall
        |FROM appr ap
        |LEFT JOIN exact ex ON ap.query_id = ex.query_id AND ap.cand_id = ex.cand_id
        |GROUP BY ap.query_id
        |ORDER BY ap.query_id""".stripMargin,

    // s09: the fully label-free chain — kmeansSql's trained c2 centroids,
    // assignment, then the same cell search as s06.
    "s09_ann_kmeans" ->
      s"""${kmeansSql.replaceAll("(?s)\nSELECT cid.*$", "")},
        |normed AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS norm
        |  FROM embeddings),
        |fin AS (
        |  SELECT vec_id, cell, v, norm FROM (
        |    SELECT n.vec_id, c.cid AS cell, n.v, n.norm,
        |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        |        round(list_sum(list_transform(range(64),
        |          i -> (n.v[i+1] - c.cv[i+1]) * (n.v[i+1] - c.cv[i+1]))), 6) ASC,
        |        c.cid ASC) AS rk
        |    FROM normed n CROSS JOIN c2 c)
        |  WHERE rk = 1)
        |${cellCosineTop3("fin", "fin", "q.vec_id < 10 AND c.vec_id >= 10")}""".stripMargin,

    "s05_label_centroids" ->
      """SELECT label, CAST(i AS INT) AS dim,
        |  round(avg(CAST(embedding[i+1] AS DOUBLE)), 6) AS centroid
        |FROM embeddings, range(64) AS t(i)
        |GROUP BY label, i
        |ORDER BY label, dim""".stripMargin,

    "s06_ivf_trained" ->
      s"""WITH $ivfRankedCte,
        |assigned AS (SELECT vec_id, cell, v, norm FROM cellranked WHERE rk = 1)
        |${cellCosineTop3("assigned", "assigned", "q.vec_id < 10 AND c.vec_id >= 10")}""".stripMargin,

    // s07: multi-probe — the query side expands to its 2 nearest cells
    // (rk <= 2); candidates stay on their rk = 1 assignment.
    "s07_ivf_multiprobe" ->
      s"""WITH $ivfRankedCte,
        |assigned AS (SELECT vec_id, cell, v, norm FROM cellranked WHERE rk = 1),
        |probes AS (
        |  SELECT vec_id, cell, v, norm FROM cellranked
        |  WHERE rk <= 2 AND vec_id < 10)
        |${cellCosineTop3("probes", "assigned", "c.vec_id >= 10")}""".stripMargin,

    // s28: nprobe recall/cost sweep — query cells rk ≤ nprobe per sweep
    // point, candidates on their rk = 1 assignment; matched vs exact
    // cosine top-3; cand_pairs counts the scored volume per setting.
    "s28_nprobe_sweep" ->
      s"""WITH $ivfRankedCte,
        |assigned AS (SELECT vec_id, cell, v, norm FROM cellranked WHERE rk = 1),
        |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
        |probes AS (
        |  SELECT np.nprobe, r.vec_id, r.cell, r.v, r.norm
        |  FROM cellranked r CROSS JOIN np
        |  WHERE r.vec_id < 10 AND r.rk <= np.nprobe),
        |scored AS (
        |  SELECT q.nprobe, q.vec_id AS query_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(64), i -> q.v[i+1] * c.v[i+1]))
        |          / (q.norm * c.norm), 6) AS cosine
        |  FROM probes q JOIN assigned c
        |    ON q.cell = c.cell AND c.vec_id >= 10),
        |appr AS (SELECT nprobe, query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
        |      ORDER BY cosine DESC, cand_id ASC) AS rnk FROM scored)
        |  WHERE rnk <= 3),
        |cc AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS cand_pairs
        |  FROM scored GROUP BY nprobe),
        |exact AS (SELECT query_id, cand_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        round(list_sum(list_transform(range(64), i -> q.v[i+1] * c.v[i+1]))
        |              / (q.norm * c.norm), 6) DESC, c.vec_id ASC) AS rk
        |    FROM n q CROSS JOIN n c
        |    WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |  WHERE rk <= 3),
        |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
        |  FROM embeddings WHERE vec_id < 10),
        |m AS (
        |  SELECT a.nprobe,
        |    CAST(count(e.cand_id) AS BIGINT) AS matched
        |  FROM appr a LEFT JOIN exact e
        |    ON a.query_id = e.query_id AND a.cand_id = e.cand_id
        |  GROUP BY a.nprobe)
        |SELECT CAST(m.nprobe AS INT) AS nprobe, n_queries, cand_pairs, matched,
        |  round(matched / (n_queries * 3.0), 4) AS recall
        |FROM m JOIN cc ON m.nprobe = cc.nprobe CROSS JOIN nq
        |ORDER BY nprobe""".stripMargin,

    // s29: HNSW-lite graph ANN — the shared walk chain's last hop,
    // rank ≤ 3 (beam ≥ 3 makes "top-3 of the beam" ≡ "top-3 of the
    // expansion", exactly as the engine computes it).
    "s29_graph_ann" -> graphAnnSql,

    // s43: shard-parallel build + merge — the oracle replays the
    // MONOLITHIC build + walk while Spark serves from the MERGED
    // artifact (two per-shard builds + a cross-pair-only merge): the
    // hash equality IS the merge ≡ rebuild claim, end to end.
    "s43_merged_shard_ann" -> graphAnnSql,

    // s42: batched ANN serving — the s29 walk over the 100-query batch,
    // replayed query by query (the engine's per-hop batching must be
    // observationally identical to independent walks).
    "s42_batched_ann" ->
      s"""WITH $batchedWalkCtes
        |SELECT query_id, node AS cand_id, cosine, rnk
        |FROM ms${Similarity.GraphAnnHops}
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s41: filtered ANN serve — the SAME walk as s29 (the beam
    // traverses the full graph; Filtered-DiskANN's navigate-over-
    // everything), answered by the best PREDICATE-MATCHING nodes across
    // every hop's scored expansion (UNION dedups: a node rescored on a
    // later hop carries the identical 6dp cosine).
    "s41_filtered_ann" ->
      s"""WITH $graphWalkCtes,
        |fall AS (${(1 to Similarity.GraphAnnHops)
          .map(t => s"SELECT query_id, node, cosine FROM s$t")
          .mkString(" UNION ")})
        |SELECT query_id, node AS cand_id, cosine, rnk FROM (
        |  SELECT query_id, node, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, node ASC) AS rnk
        |  FROM fall WHERE node % 3 = 0)
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s39: PQ-scored graph walk + exact refine (the DiskANN layout) —
    // the ADC hop chain's final beam re-ranked by exact cosine.
    "s39_pq_graph_ann" ->
      s"""WITH $adcWalkCtes
        |SELECT query_id, node AS cand_id, cosine, rnk FROM (
        |  SELECT b.query_id, b.node,
        |    round(list_sum(list_transform(range(64),
        |      i -> qq.v[i+1] * c.v[i+1])) / (qq.norm * c.norm), 6) AS cosine,
        |    row_number() OVER (PARTITION BY b.query_id ORDER BY
        |      round(list_sum(list_transform(range(64),
        |        i -> qq.v[i+1] * c.v[i+1])) / (qq.norm * c.norm), 6) DESC,
        |      b.node ASC) AS rnk
        |  FROM ab${Similarity.GraphAnnHops} b
        |  JOIN cand c ON b.node = c.cand_id
        |  JOIN q qq ON b.query_id = qq.query_id)
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s40: beam-width sweep — three walk chains (beam 4/8/16) off one
    // base graph; per beam, last-hop top-3 vs exact + total scored
    // volume across hops.
    "s40_beam_sweep" -> {
      val hops = Similarity.GraphAnnHops
      def summary(b: Int) =
        s"""SELECT $b AS beam,
           |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 10) AS n_queries,
           |  (SELECT CAST(count(*) AS BIGINT) FROM (${(1 to hops)
             .map(t => s"SELECT query_id FROM w${b}s$t").mkString(" UNION ALL ")})) AS cand_nodes,
           |  (SELECT CAST(count(e.node) AS BIGINT)
           |   FROM (SELECT query_id, node FROM w${b}s$hops WHERE rnk <= 3) a
           |   LEFT JOIN exact e ON a.query_id = e.query_id AND a.node = e.node)
           |    AS matched""".stripMargin
      s"""WITH $beamSweepCtes,
        |$exactCosineTop3Cte
        |SELECT beam, n_queries, cand_nodes, matched,
        |  round(matched / (n_queries * 3.0), 4) AS recall
        |FROM (${Seq(4, 8, 16).map(summary).mkString("\nUNION ALL\n")})
        |ORDER BY beam""".stripMargin
    },

    // s38: cross-tier recall frontier — each tier's SHIPPED search path
    // (s12 ADC / s23 SQ8 / s25 truncated two-stage, replayed with
    // renamed CTEs) overlapped against the exact-L2 top-3 (mirrors
    // Similarity.tierRecallReport).
    "s38_tier_recall" ->
      s"""WITH $pqBaseCte,
        |${pqAssignCte("c2", "a3")},
        |plut AS (
        |  SELECT q.vec_id AS query_id, c.s, c.cid AS code,
        |    CAST(round(list_sum(list_transform(range(8),
        |      i -> (q.sv[i+1] - c.cv[i+1]) * (q.sv[i+1] - c.cv[i+1]))), 6)
        |      AS DECIMAL(18,6)) AS d
        |  FROM sub q JOIN c2 c ON q.s = c.s
        |  WHERE q.vec_id < 10),
        |pcodes AS (SELECT vec_id AS cand_id, s, cid AS code FROM a3
        |  WHERE vec_id >= 10),
        |pscored AS (
        |  SELECT query_id, cand_id, sum(d) AS adist
        |  FROM pcodes JOIN plut USING (s, code)
        |  GROUP BY query_id, cand_id),
        |ptop AS (SELECT query_id, cand_id FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY adist ASC, cand_id ASC) AS rnk
        |  FROM pscored) WHERE rnk <= 3),
        |${sq8ScoredCtes("qscored")},
        |stop AS (SELECT query_id, cand_id FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sqdist ASC, cand_id ASC) AS rnk
        |  FROM qscored) WHERE rnk <= 3),
        |tpre AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(16),
        |      i -> (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1]))), 6) AS pdist
        |  FROM n q CROSS JOIN n c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |tshort AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY pdist ASC, cand_id ASC) AS prk
        |    FROM tpre) WHERE prk <= 50),
        |trer AS (
        |  SELECT s.query_id, s.cand_id,
        |    round(list_sum(list_transform(range(64),
        |      i -> (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1]))), 6) AS dist
        |  FROM tshort s
        |  JOIN n q ON s.query_id = q.vec_id
        |  JOIN n c ON s.cand_id = c.vec_id),
        |ttop AS (SELECT query_id, cand_id FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rnk
        |  FROM trer) WHERE rnk <= 3),
        |exd AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(64),
        |      i -> (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1]))), 6) AS dist
        |  FROM n q CROSS JOIN n c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |etop AS (SELECT query_id, cand_id FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rk
        |  FROM exd) WHERE rk <= 3),
        |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM n
        |  WHERE vec_id < 10)
        |SELECT * FROM (
        |  SELECT 'pq' AS method, CAST(8 AS INT) AS bytes_per_vec,
        |    nq.n_queries,
        |    CAST((SELECT count(*) FROM ptop JOIN etop USING (query_id, cand_id))
        |      AS BIGINT) AS matched,
        |    round((SELECT count(*) FROM ptop JOIN etop USING (query_id, cand_id))
        |      / CAST(nq.n_queries * 3 AS DOUBLE), 4) AS recall
        |  FROM nq
        |  UNION ALL
        |  SELECT 'sq8', CAST(64 AS INT), nq.n_queries,
        |    CAST((SELECT count(*) FROM stop JOIN etop USING (query_id, cand_id))
        |      AS BIGINT),
        |    round((SELECT count(*) FROM stop JOIN etop USING (query_id, cand_id))
        |      / CAST(nq.n_queries * 3 AS DOUBLE), 4)
        |  FROM nq
        |  UNION ALL
        |  SELECT 'trunc16', CAST(64 AS INT), nq.n_queries,
        |    CAST((SELECT count(*) FROM ttop JOIN etop USING (query_id, cand_id))
        |      AS BIGINT),
        |    round((SELECT count(*) FROM ttop JOIN etop USING (query_id, cand_id))
        |      / CAST(nq.n_queries * 3 AS DOUBLE), 4)
        |  FROM nq)
        |ORDER BY method""".stripMargin,

    // t52: epoch allocation under a 2x token budget — α=0.5 temperature
    // weights over lang token counts, overflow-safe pro-rata targets,
    // 4-epoch repeat cap (mirrors TextAnalysis.epochAllocation's integer
    // algebra term for term).
    "t52_epoch_allocation" ->
      """WITH pl AS (
        |  SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
        |  FROM documents GROUP BY lang),
        |plw AS (
        |  SELECT lang, lang_tokens,
        |    CAST(floor(sqrt(CAST(lang_tokens AS DOUBLE))) AS BIGINT) AS weight
        |  FROM pl),
        |tot AS (
        |  SELECT CAST(sum(lang_tokens) * 2 AS BIGINT) AS budget,
        |    CAST(sum(weight) AS BIGINT) AS tw
        |  FROM plw),
        |tgt AS (
        |  SELECT lang, lang_tokens, weight,
        |    weight * (budget // tw) + (weight * (budget % tw)) // tw
        |      AS target_tokens
        |  FROM plw CROSS JOIN tot)
        |SELECT lang, lang_tokens, weight, target_tokens,
        |  least(CAST(4 AS BIGINT),
        |    (target_tokens + lang_tokens - 1) // lang_tokens) AS epochs,
        |  least(target_tokens, lang_tokens * 4) AS planned_tokens,
        |  target_tokens - least(target_tokens, lang_tokens * 4)
        |    AS unmet_tokens
        |FROM tgt
        |ORDER BY lang""".stripMargin,

    // s36: quantization-error report — per tier, the reconstruction
    // error on the candidate corpus (pq: assigned-codeword distance sum;
    // sq8: affine byte-map round trip; trunc16: discarded tail energy).
    // Per-vector errors round 6dp and sum as DECIMAL; the mean is one
    // double divide at the projection (mirrors
    // Similarity.quantizationError).
    "s36_quant_error" ->
      s"""WITH $pqBaseCte,
        |cnd AS (SELECT vec_id, v FROM n WHERE vec_id >= 10),
        |pqd AS (
        |  SELECT b.vec_id, b.s,
        |    min(round(list_sum(list_transform(range(8),
        |      i -> (b.sv[i+1] - c.cv[i+1]) * (b.sv[i+1] - c.cv[i+1]))), 6))
        |      AS dmin
        |  FROM sub b JOIN c2 c ON b.s = c.s
        |  WHERE b.vec_id >= 10
        |  GROUP BY b.vec_id, b.s),
        |pqe AS (SELECT vec_id, sum(CAST(dmin AS DECIMAL(18,6))) AS err
        |  FROM pqd GROUP BY vec_id),
        |st AS (
        |  SELECT CAST(t.d AS INT) AS dim, min(v[t.d + 1]) AS mn,
        |    max(v[t.d + 1]) AS mx
        |  FROM cnd, unnest(range(len(v))) AS t(d)
        |  GROUP BY 1),
        |sa AS (
        |  SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
        |  FROM st),
        |xh AS (
        |  SELECT vec_id, v,
        |    list_transform(range(len(v)), d ->
        |      CASE WHEN mxs[d + 1] = mns[d + 1] THEN mns[d + 1]
        |      ELSE mns[d + 1] + least(255, greatest(0,
        |        floor((v[d + 1] - mns[d + 1]) * 255 / (mxs[d + 1] - mns[d + 1]) + 0.5)))
        |        * (mxs[d + 1] - mns[d + 1]) / 255 END) AS xhat
        |  FROM cnd CROSS JOIN sa),
        |sqe AS (
        |  SELECT vec_id, CAST(round(list_sum(list_transform(range(len(v)),
        |    i -> (v[i+1] - xhat[i+1]) * (v[i+1] - xhat[i+1]))), 6)
        |    AS DECIMAL(18,6)) AS err
        |  FROM xh),
        |tre AS (
        |  SELECT vec_id, CAST(round(list_sum(list_transform(range(48),
        |    i -> v[i+17] * v[i+17])), 6) AS DECIMAL(18,6)) AS err
        |  FROM cnd)
        |SELECT * FROM (
        |  SELECT 'pq' AS method, CAST(8 AS INT) AS bytes_per_vec,
        |    count(*) AS n_vectors,
        |    round(CAST(sum(err) AS DOUBLE) / count(*), 6) AS avg_err,
        |    CAST(max(err) AS DOUBLE) AS max_err FROM pqe
        |  UNION ALL
        |  SELECT 'sq8', CAST(64 AS INT), count(*),
        |    round(CAST(sum(err) AS DOUBLE) / count(*), 6),
        |    CAST(max(err) AS DOUBLE) FROM sqe
        |  UNION ALL
        |  SELECT 'trunc16', CAST(64 AS INT), count(*),
        |    round(CAST(sum(err) AS DOUBLE) / count(*), 6),
        |    CAST(max(err) AS DOUBLE) FROM tre)
        |ORDER BY method""".stripMargin,

    // s35: tombstone delete + filtered serving — the delete set is every
    // rank-1 node of the SAME walk (FreshDiskANN: tombstoned nodes keep
    // routing, results filter them); survivors re-rank per query.
    "s35_graph_ann_delete" ->
      s"""WITH $graphWalkCtes,
        |tomb AS (SELECT DISTINCT node FROM s${Similarity.GraphAnnHops}
        |  WHERE rnk = 1),
        |kept AS (
        |  SELECT query_id, node, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, node ASC) AS rnk
        |  FROM s${Similarity.GraphAnnHops}
        |  WHERE node NOT IN (SELECT node FROM tomb))
        |SELECT query_id, node AS cand_id, cosine, rnk FROM kept
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s37: compaction after delete — the patched graph serves with NO
    // result filter; tombstones are unreachable by construction.
    "s37_graph_ann_compact" ->
      s"""WITH $compactWalkCtes
        |SELECT query_id, node AS cand_id, cosine, rnk
        |FROM zs${Similarity.GraphAnnHops}
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s33: graph-ANN insert — the jittered arrivals beam-walk the BASE
    // graph (never a rebuild); the attach list is the final hop's
    // rank-≤M prefix, HNSW's insert rule.
    "s33_graph_ann_insert" ->
      s"""WITH $insertWalkCtes
        |SELECT arrival_id, nbr, cosine, rnk FROM attach
        |ORDER BY arrival_id, rnk""".stripMargin,

    // w20: the streamed attach log — slicing-invariant because every
    // arrival's walk reads only the frozen base index, so the streamed
    // ingest's final log IS the batch insert's table (s33's oracle).
    "w20_stream_ann_ingest" ->
      s"""WITH $insertWalkCtes
        |SELECT arrival_id, nbr, cosine, rnk FROM attach
        |ORDER BY arrival_id, rnk""".stripMargin,

    // s34: post-insert serving — the parents query the MERGED graph
    // (base ∪ attach ∪ reverse-attach, candidates extended by the
    // arrivals); each parent must surface its arrival, reachable only
    // through the new reverse edges.
    "s34_graph_ann_serve" ->
      s"""WITH $serveAfterInsertCtes
        |SELECT query_id, node AS cand_id, cosine, rnk
        |FROM ps${Similarity.GraphAnnHops}
        |WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // s30: hop-depth recall/cost sweep over the SAME walk — per hop, the
    // rank-≤3 prefix of that hop's scored expansion vs the exact brute
    // top-3, plus the expansion size scored (the cost). n_queries counts
    // the query SET (s28's denominator discipline).
    "s30_graph_ann_sweep" ->
      s"""WITH $graphWalkCtes,
        |allh AS (${(1 to Similarity.GraphAnnHops).map(t =>
          s"SELECT $t AS hop, query_id, node, rnk FROM s$t")
          .mkString("\n  UNION ALL ")}),
        |cc AS (SELECT hop, CAST(count(*) AS BIGINT) AS cand_nodes
        |  FROM allh GROUP BY hop),
        |$exactCosineTop3Cte,
        |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries
        |  FROM embeddings WHERE vec_id < 10),
        |mt AS (
        |  SELECT a.hop, CAST(count(e.node) AS BIGINT) AS matched
        |  FROM (SELECT hop, query_id, node FROM allh WHERE rnk <= 3) a
        |  LEFT JOIN exact e
        |    ON a.query_id = e.query_id AND a.node = e.node
        |  GROUP BY a.hop)
        |SELECT CAST(mt.hop AS INT) AS hop, n_queries, cand_nodes, matched,
        |  round(matched / (n_queries * 3.0), 4) AS recall
        |FROM mt JOIN cc ON mt.hop = cc.hop CROSS JOIN nq
        |ORDER BY hop""".stripMargin,

    // d37: semdedup threshold sweep — d23's tuning table for the
    // semantic detector: one celled pair pass, the θ grid folded over
    // the same 6dp cosines d29 thresholds.
    "d37_semdedup_sweep" ->
      s"""WITH $semAssignedCtes,
        |pairsc AS MATERIALIZED (
        |  SELECT b.vec_id AS d2,
        |    round(list_sum(list_transform(range(64),
        |      i -> a.v[i+1] * b.v[i+1])) / (a.norm * b.norm), 6) AS cosine
        |  FROM assigned a JOIN assigned b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |grid AS (SELECT CAST(unnest([0.2, 0.25, 0.3, 0.35, 0.4]) AS DOUBLE) AS theta)
        |SELECT theta,
        |  CAST(count(CASE WHEN cosine >= theta THEN 1 END) AS BIGINT) AS pairs,
        |  CAST(count(DISTINCT CASE WHEN cosine >= theta THEN d2 END) AS BIGINT)
        |    AS distinct_losers
        |FROM pairsc CROSS JOIN grid
        |GROUP BY theta
        |ORDER BY theta""".stripMargin,

    // d29: SemDeDup — celled θ-graph (cosine ≥ 0.3) on the CORPUS-SIZED
    // k-means quantizer (semKmeansCtes: k = max(8, ceil(N/200)), so pair
    // volume stays ~N·200), transitive components via reachability
    // closure (pair graph is duplicate-sized; multiply-referenced CTEs
    // MATERIALIZED against recursive re-inline), keeper = argmin
    // cosine-to-own-centroid per family.
    // d35: incremental semdedup — the persisted route (assigned) split
    // by the md5 arrival boundary; delta pairs only against same-cell
    // index members and smaller-id batch peers. Verdict precedence:
    // index wins (immutable tonight), sentinels -1/0.0 for unique.
    "d35_incremental_semdedup" ->
      s"""WITH $semAssignedCtes,
        |delta AS MATERIALIZED (SELECT * FROM assigned
        |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = 'f'),
        |idx AS MATERIALIZED (SELECT * FROM assigned
        |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <> 'f'),
        |mi AS (
        |  SELECT d.vec_id, i.vec_id AS match_id,
        |    round(list_sum(list_transform(range(64),
        |      i2 -> d.v[i2+1] * i.v[i2+1])) / (d.norm * i.norm), 6) AS cosine
        |  FROM delta d JOIN idx i ON d.cell = i.cell
        |  WHERE round(list_sum(list_transform(range(64),
        |      i2 -> d.v[i2+1] * i.v[i2+1])) / (d.norm * i.norm), 6) >= 0.3),
        |mb AS (
        |  SELECT d.vec_id, p.vec_id AS match_id,
        |    round(list_sum(list_transform(range(64),
        |      i2 -> d.v[i2+1] * p.v[i2+1])) / (d.norm * p.norm), 6) AS cosine
        |  FROM delta d JOIN delta p ON d.cell = p.cell
        |    AND p.vec_id < d.vec_id
        |  WHERE round(list_sum(list_transform(range(64),
        |      i2 -> d.v[i2+1] * p.v[i2+1])) / (d.norm * p.norm), 6) >= 0.3),
        |bi AS (SELECT vec_id, match_id AS i_id, cosine AS i_cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosine DESC, match_id ASC) AS rk FROM mi) WHERE rk = 1),
        |bb AS (SELECT vec_id, match_id AS b_id, cosine AS b_cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosine DESC, match_id ASC) AS rk FROM mb) WHERE rk = 1)
        |SELECT d.vec_id, d.cell,
        |  CASE WHEN bi.i_id IS NOT NULL THEN 'dup_vs_index'
        |       WHEN bb.b_id IS NOT NULL THEN 'dup_in_batch'
        |       ELSE 'unique' END AS verdict,
        |  CAST(COALESCE(bi.i_id, bb.b_id, -1) AS BIGINT) AS best_match,
        |  COALESCE(bi.i_cos, bb.b_cos, 0.0) AS best_cosine
        |FROM delta d
        |LEFT JOIN bi ON d.vec_id = bi.vec_id
        |LEFT JOIN bb ON d.vec_id = bb.vec_id
        |ORDER BY d.vec_id""".stripMargin,

    "d29_semdedup" ->
      s"""WITH RECURSIVE $semAssignedCtes,
        |pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2
        |  FROM assigned a JOIN assigned b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_sum(list_transform(range(64),
        |      i -> a.v[i+1] * b.v[i+1])) / (a.norm * b.norm), 6) >= 0.3),
        |bi AS MATERIALIZED (
        |  SELECT d1 AS a, d2 AS b FROM pairs
        |  UNION ALL SELECT d2, d1 FROM pairs),
        |$clusterWalkCte,
        |comps AS (SELECT doc_id, min(node) AS cluster_id FROM walk
        |  GROUP BY doc_id),
        |mem AS (
        |  SELECT c.doc_id AS vec_id, s.cell, c.cluster_id,
        |    round(list_sum(list_transform(range(64),
        |        i -> s.v[i+1] * ct.cv[i+1]))
        |      / (s.norm * sqrt(list_sum(list_transform(ct.cv, x -> x * x)))),
        |      6) AS cos2c
        |  FROM comps c
        |  JOIN assigned s ON c.doc_id = s.vec_id
        |  JOIN cent ct ON s.cell = ct.cell)
        |SELECT vec_id, cell, cluster_id, cos2c,
        |  CAST(CASE WHEN row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY cos2c ASC, vec_id ASC) = 1 THEN 1 ELSE 0 END AS INT)
        |    AS keep
        |FROM mem ORDER BY vec_id""".stripMargin,

    // d13: label-free near-dup — d06's shape with the pair join celled on
    // the trained rk = 1 assignment instead of the given label.
    "d13_neardup_cells" ->
      s"""WITH $ivfRankedCte,
        |assigned AS (SELECT vec_id, cell, v, norm FROM cellranked WHERE rk = 1),
        |scored AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2,
        |    round(list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1]))
        |          / (a.norm * b.norm), 6) AS cosine
        |  FROM assigned a JOIN assigned b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY cosine DESC, v1 ASC, v2 ASC) AS rn
        |  FROM scored)
        |SELECT v1, v2, cosine FROM ranked
        |WHERE rn <= 20
        |ORDER BY cosine DESC, v1 ASC, v2 ASC""".stripMargin,

    "t07_top_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tfc AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT token, count(*) AS doc_freq FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |    round(tf * ln(n_docs / CAST(doc_freq AS DOUBLE)), 6) AS tfidf
        |  FROM tfc JOIN dfc USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tfidf FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
        |  FROM scored)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "t08_quality_filtered" ->
      s"""WITH ${qualityScoreCtes("doc_id, lang")}
        |SELECT lang, count(*) AS kept_docs, round(avg(n_tokens), 4) AS avg_tokens
        |FROM s
        |WHERE NOT (n_tokens < 10) AND NOT (repetition_ratio > 0.8)
        |  AND NOT (stop_ratio > 0.4)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "t09_hash_sample" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
        |ORDER BY doc_id""".stripMargin,

    // t11: decontamination detection — train docs (md5 bucket != 'f')
    // sharing any 3-gram shingle with the eval slice (bucket 'f');
    // mirrors TextAnalysis.decontaminateOf (sh is per-doc distinct).
    "t11_decontaminate" -> decontaminateSql,

    // t38: n-gram novelty — shingle-grain first-owner min-agg, doc-grain
    // rollup; integer counts + one rounded divide
    "t38_ngram_novelty" ->
      s"""WITH $shingleCte,
        |fo AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id,
        |  count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS novel,
        |  round(CAST(sum(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS novelty_rate
        |FROM sh JOIN fo USING (shingle)
        |GROUP BY sh.doc_id
        |ORDER BY sh.doc_id""".stripMargin,

    // t37: graded contamination — per-doc shared-shingle fraction with
    // bands on the ROUNDED fraction (both engines band the same value)
    "t37_contamination_report" ->
      s"""WITH $shingleCte,
        |b AS (SELECT doc_id, shingle,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket FROM sh),
        |ev AS (SELECT DISTINCT shingle FROM b WHERE bucket = 'f'),
        |tr AS (SELECT doc_id, count(*) AS n_shingles
        |  FROM b WHERE bucket != 'f' GROUP BY 1),
        |sd AS (SELECT b.doc_id, count(*) AS shared
        |  FROM b JOIN ev USING (shingle) WHERE bucket != 'f' GROUP BY 1),
        |j AS (
        |  SELECT tr.doc_id,
        |    CAST(tr.n_shingles AS BIGINT) AS n_shingles,
        |    CAST(COALESCE(sd.shared, 0) AS BIGINT) AS shared,
        |    round(CAST(COALESCE(sd.shared, 0) AS DOUBLE) / tr.n_shingles, 6)
        |      AS overlap_frac
        |  FROM tr LEFT JOIN sd USING (doc_id))
        |SELECT doc_id, n_shingles, shared, overlap_frac,
        |  CASE WHEN shared = 0 THEN 'clean'
        |       WHEN overlap_frac < 0.1 THEN 'touched'
        |       WHEN overlap_frac < 0.5 THEN 'partial'
        |       ELSE 'contaminated' END AS band
        |FROM j
        |ORDER BY doc_id""".stripMargin,

    // t28: bloom-prefiltered decontamination — the bloom is a pure
    // execution-side pruning device (false positives die in the exact
    // confirm join), so the oracle is t11's exact chain verbatim: hash
    // identity IS the proof that fpp never leaked into the answer.
    "t28_bloom_decontaminate" -> decontaminateSql,

    // t12: decontamination apply — the train split minus contaminated docs
    // (docs under 3 tokens have no shingles and pass through, both engines).
    "t12_decontaminate_apply" ->
      s"""WITH $shingleCte,
        |b AS (SELECT doc_id, shingle,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket FROM sh),
        |ev AS (SELECT DISTINCT shingle FROM b WHERE bucket = 'f'),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM b JOIN ev USING (shingle)
        |  WHERE bucket != 'f')
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) != 'f'
        |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin,

    // t53: pipeline funnel — d27's gate chain extended with t12's
    // decontamination stage and BIGINT token sums, aggregated per lang.
    // Flags are cumulative (each stage ANDs the previous), mirroring the
    // Spark side's g1..g4 columns exactly.
    "t53_pipeline_funnel" ->
      s"""WITH $shingleCte,
        |$lshLosersCtes,
        |${qualCte("BIGINT")},
        |bkt AS (SELECT doc_id, shingle,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket FROM sh),
        |ev AS (SELECT DISTINCT shingle FROM bkt WHERE bucket = 'f'),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM bkt JOIN ev USING (shingle)
        |  WHERE bucket != 'f'),
        |flags AS (
        |  SELECT d.doc_id, d.lang, q.n_tokens,
        |    CASE WHEN d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |         THEN 1 ELSE 0 END AS g1e,
        |    CASE WHEN d.doc_id IN (SELECT d2 FROM losers) THEN 0 ELSE 1 END AS g2e,
        |    CASE WHEN q.n_tokens < 10 OR q.repetition_ratio > 0.8
        |           OR q.stop_ratio > 0.4 THEN 0 ELSE 1 END AS g3e,
        |    CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) != 'f'
        |           AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        |         THEN 1 ELSE 0 END AS g4e
        |  FROM documents d JOIN qual q USING (doc_id))
        |SELECT lang,
        |  CAST(count(*) AS BIGINT) AS docs_raw,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_raw,
        |  CAST(sum(g1e) AS BIGINT) AS docs_exact,
        |  CAST(sum(g1e * n_tokens) AS BIGINT) AS tokens_exact,
        |  CAST(sum(g1e * g2e) AS BIGINT) AS docs_neardup,
        |  CAST(sum(g1e * g2e * n_tokens) AS BIGINT) AS tokens_neardup,
        |  CAST(sum(g1e * g2e * g3e) AS BIGINT) AS docs_quality,
        |  CAST(sum(g1e * g2e * g3e * n_tokens) AS BIGINT) AS tokens_quality,
        |  CAST(sum(g1e * g2e * g3e * g4e) AS BIGINT) AS docs_final,
        |  CAST(sum(g1e * g2e * g3e * g4e * n_tokens) AS BIGINT) AS tokens_final
        |FROM flags
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // t55: the composed curation pipeline capstone — the WHOLE chain
    // replayed CTE-for-CTE: the dedup/quality gates as row-level
    // survival (exact keepers, LSH losers, quality rejects — t53's g3),
    // the t12 eval holdout plus the GRADED contamination drop measured
    // against the BOUNDED eval suite (the 256 md5-lowest shingled docs
    // of the 'f' bucket — CurationEvalBudget; both t11's any-overlap
    // and a corpus-proportional graded slice saturate this corpus's
    // bounded shingle vocabulary), t17's temperature quota applied on
    // the GATED corpus, t13/t23 chunk+pack over the sampled survivors,
    // f08's seeded shard permutation over the packed sequences,
    // manifest grain out.
    "t55_curation_pipeline" ->
      s"""WITH $shingleCte,
        |$lshLosersCtes,
        |${qualCte("BIGINT")},
        |bkt AS (SELECT doc_id, shingle,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket FROM sh),
        |evd AS (
        |  SELECT doc_id FROM (SELECT DISTINCT doc_id FROM bkt WHERE bucket = 'f')
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 256),
        |ev AS (SELECT DISTINCT shingle FROM bkt JOIN evd USING (doc_id)),
        |tr AS (SELECT doc_id, count(*) AS n_shingles
        |  FROM bkt WHERE bucket != 'f' GROUP BY 1),
        |sd AS (SELECT b.doc_id, count(*) AS shared
        |  FROM bkt b JOIN ev USING (shingle) WHERE bucket != 'f' GROUP BY 1),
        |contaminated AS (
        |  SELECT tr.doc_id FROM tr JOIN sd USING (doc_id)
        |  WHERE round(CAST(sd.shared AS DOUBLE) / tr.n_shingles, 6) >= 0.5),
        |gated AS (
        |  SELECT d.doc_id, d.lang, d.text
        |  FROM documents d JOIN qual q USING (doc_id)
        |  WHERE d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |    AND d.doc_id NOT IN (SELECT d2 FROM losers)
        |    AND NOT (q.n_tokens < 10 OR q.repetition_ratio > 0.8
        |             OR q.stop_ratio > 0.4)
        |    AND substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) != 'f'
        |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |tgt AS (SELECT lang, CAST(floor(sqrt(count(*))) AS INT) AS target
        |  FROM gated GROUP BY lang),
        |mrk AS (SELECT lang, doc_id, text, row_number() OVER (
        |  PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS mr
        |  FROM gated),
        |sampled AS (SELECT doc_id, text FROM mrk JOIN tgt USING (lang)
        |  WHERE mr <= target),
        |${packOffsetsCtes("sampled")},
        |seqs AS (SELECT CAST(off // 97 AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens
        |  FROM o GROUP BY 1),
        |srnk AS (SELECT seq_id, n_chunks, n_tokens,
        |  row_number() OVER (ORDER BY md5('42:' || CAST(seq_id AS VARCHAR)),
        |    seq_id) AS rank
        |  FROM seqs)
        |SELECT CAST((rank - 1) % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  md5(string_agg(CAST(seq_id AS VARCHAR), ',' ORDER BY rank)) AS ids_fp
        |FROM srnk GROUP BY 1 ORDER BY 1""".stripMargin,

    // t13: token-window chunking (window=32, stride=24) — DuckDB range()
    // excludes the end bound, Spark sequence(0, n-1) includes it: both
    // enumerate starts 0, 24, 48, ... < n. List slice l[a:b] is 1-based
    // end-inclusive = Spark slice(toks, a, 32), both clamp at the end.
    "t13_chunk_tokens" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l,
        |  len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, l, n, unnest(range(0, n, 24)) AS s FROM t)
        |SELECT doc_id,
        |  CAST(s // 24 AS INT) AS chunk_id,
        |  CAST(least(32, n - s) AS INT) AS n_chunk_tokens,
        |  array_to_string(l[s+1 : s+32], ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // t23: sequence packing — chunks (t13's grain, text not needed) get a
    // global token offset (doc-grain base + intra-doc running sum) and a
    // sequence id by integer division on base = budget-window+1 = 97,
    // which caps every sequence at budget (offsets contiguous, chunk <=
    // window). sum(INT) goes HUGEINT in DuckDB: cast BIGINT throughout.
    "t23_sequence_pack" ->
      s"""WITH ${packOffsetsCtes("documents")}
        |SELECT CAST(off // 97 AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    // t15: per-language median-threshold filter — the median is compared
    // unrounded and never emitted (midpoint re-rounding is the one
    // engine-divergence hazard); per-row ratios are 4dp-rounded.
    "t15_quantile_filter" ->
      """WITH q AS (SELECT doc_id, lang,
        |  round(1.0 - len(list_distinct(string_split(text, ' ')))
        |        / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS repetition_ratio
        |  FROM documents),
        |m AS (SELECT lang, median(repetition_ratio) AS med FROM q GROUP BY lang)
        |SELECT doc_id, lang, repetition_ratio
        |FROM q JOIN m USING (lang)
        |WHERE repetition_ratio <= med
        |ORDER BY doc_id""".stripMargin,

    // t14: stratified per-language sample — the oracle is the single
    // direct window; Spark's two-phase salted form is semantically equal
    // (a global top-5 row is top-5 in its own salt slice).
    "t14_stratified_sample" ->
      """SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,

    // w10: native session windows — islands with the session_window
    // boundary rule (windows [t, t+gap) merge on OVERLAP: a gap of
    // exactly 30 min starts a NEW session, hence >=), window end = last
    // event + gap, and the watermark cut keeps only sessions the final
    // watermark (max event time, 0s delay) has passed.
    "w10_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
        |mx AS (SELECT max(ts_us) AS wm FROM e),
        |b AS (
        |  SELECT user_id, event_id, ts_us, value,
        |    CASE WHEN lag(ts_us, 1) OVER win IS NULL
        |           OR ts_us - lag(ts_us, 1) OVER win >= 1800000000
        |         THEN 1 ELSE 0 END AS boundary
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, ts_us, value,
        |    CAST(sum(boundary) OVER (PARTITION BY user_id
        |      ORDER BY ts_us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
        |  FROM b),
        |sess AS (
        |  SELECT user_id, min(ts_us) AS start_us,
        |    max(ts_us) + 1800000000 AS end_us,
        |    count(*) AS events,
        |    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
        |  FROM s GROUP BY user_id, seq)
        |SELECT user_id, start_us, end_us, events, total_value
        |FROM sess CROSS JOIN mx WHERE end_us <= wm
        |ORDER BY user_id, start_us""".stripMargin,

    "w02_session_counts" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(new_session) AS BIGINT) AS sessions,
        |  count(*) AS events
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // f04: schema evolution — the merged read equals old-generation rows
    // null-filled in the new column plus new-generation rows intact.
    "f04_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,

    // f05: compaction — the rewrite must be lossless; the oracle is the
    // identity projection of the source table.
    "f05_compaction" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // f06: z-order layout round trip — the Morton rewrite must be
    // invisible to results: same box aggregate over the raw table.
    "f06_zorder" ->
      """SELECT o_orderstatus,
        |  count(*) AS orders_in_box,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_custkey BETWEEN 200 AND 400
        |  AND o_totalprice BETWEEN 50000 AND 150000
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // f13: file-stats data skipping — layout + manifest pruning must be
    // invisible to results; the oracle is the same band aggregate over
    // the raw table.
    "f13_data_skipping" ->
      """SELECT lang, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE n_chars BETWEEN 200 AND 400
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // f16: corrupt-record ingest — the routing rule recomputes from the
    // source table; parsed-field stats aggregate the ok channel only.
    "f16_corrupt_jsonl" ->
      """WITH o AS (
        |  SELECT CASE WHEN doc_id % 7 = 3 THEN 'corrupt' ELSE 'ok' END
        |    AS outcome, doc_id, n_chars
        |  FROM documents)
        |SELECT outcome, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN outcome = 'ok' THEN n_chars END) AS BIGINT)
        |    AS n_chars_sum,
        |  min(CASE WHEN outcome = 'ok' THEN doc_id END) AS min_doc,
        |  max(CASE WHEN outcome = 'ok' THEN doc_id END) AS max_doc
        |FROM o GROUP BY outcome ORDER BY outcome""".stripMargin,

    // f15: dynamic partition pruning — the oracle is the LAYOUT-FREE
    // join (pruning is a plan-side superset cut, never a semantics).
    "f15_dynamic_pruning" ->
      """WITH dim(lang, region) AS (VALUES
        |  ('en','west'), ('fr','west'), ('de','east'), ('es','east'),
        |  ('zh','east'))
        |SELECT d.lang, region, count(*) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents d JOIN dim USING (lang)
        |WHERE region = 'west'
        |GROUP BY d.lang, region
        |ORDER BY d.lang""".stripMargin,

    // f17: runtime bloom-filter join pruning — the oracle is the plain
    // join (a bloom false positive just survives to the real join; the
    // filter is a superset cut, never a semantics change — f15's stance
    // at row grain).
    "f17_runtime_bloom" ->
      """SELECT s_suppkey,
        |  CAST(count(*) AS BIGINT) AS line_count,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS qty_sum
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 3
        |GROUP BY s_suppkey
        |ORDER BY s_suppkey""".stripMargin,

    // f18: bucketed point lookup — the oracle is the PLAIN predicate on
    // the raw table: the layout must only change the scan shape
    // (partition-pruned buckets + pushed In), never the values. LIMIT
    // 200 mirrors PointLookup.LookupBudget: the request is fixed-size
    // in code, never corpus-proportional (ADVICE r12).
    "f18_point_lookup" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents
        |WHERE doc_id % 97 = 3
        |ORDER BY doc_id
        |LIMIT 200""".stripMargin,

    // f19: shuffle-free co-located fact⋈fact join — the oracle is the
    // PLAIN join on the raw tables: bucketing must only change the scan
    // and exchange shape, never the values. Per-row DECIMAL(18,6) cast
    // before the sum (the cross-engine sum discipline).
    "f19_bucketed_join" -> bucketedJoinSql,

    // f20: the SAME join through MULTI-FILE buckets (the 100 TB
    // posture — Exchange still absent, per-bucket Sort back, PlanSpec-
    // pinned): values are layout-independent, so the oracle is
    // identical to f19's plain join on the raw tables.
    "f20_bucketed_join_multifile" -> bucketedJoinSql,

    // t36: stratified split report — the md5-nibble three-way split with
    // per-source shares; pure integer counts and one rounded divide
    "t36_train_val_test" ->
      """WITH d AS (
        |  SELECT source,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |           BETWEEN '0' AND 'b' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |           IN ('c', 'd') THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |c AS (SELECT source, split, count(*) AS docs FROM d GROUP BY 1, 2),
        |t AS (SELECT source, count(*) AS src_total FROM d GROUP BY 1)
        |SELECT c.source, c.split, c.docs,
        |  round(CAST(c.docs AS DOUBLE) / t.src_total, 4) AS share
        |FROM c JOIN t USING (source)
        |ORDER BY source, split""".stripMargin,

    // f14: incremental aggregate maintenance — history + delta merge
    // must be BIT-IDENTICAL to the full recompute (counts and decimal
    // sums are associative), so the oracle IS the full recompute.
    "f14_incremental_agg" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, value
        |  FROM events)
        |SELECT event_type, day, count(*) AS events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS total_value
        |FROM e
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // w07: streaming upsert — latest event per (user, type) with update
    // count; the oracle recomputes the settled state from all events.
    "w07_stream_upsert" ->
      """WITH r AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS n_updates
        |  FROM events)
        |SELECT user_id, event_type, ts_us AS last_ts_us,
        |  event_id AS last_event_id, value AS last_value,
        |  CAST(n_updates AS BIGINT) AS n_updates
        |FROM r
        |WHERE rk = 1
        |ORDER BY user_id, event_type""".stripMargin,

    // w06: batch session assembly at session grain — lag + running-sum
    // session ids, then per-session bounds/count/exact-decimal value sum
    // (mirrors EventStream.sessionStats; w02 is its per-user rollup).
    "w06_session_stats" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |s AS (
        |  SELECT *, sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us,
        |  max(ts_us) - min(ts_us) AS duration_us,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
        |FROM s
        |GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // t16: Gopher-style repetition signals — duplicate 3-gram fraction
    // (list arithmetic, 1-based subscripts) + top-token fraction.
    "t16_ngram_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |base AS (SELECT doc_id, len(l) AS n_tokens,
        |  CASE WHEN len(l) < 3 THEN []
        |       ELSE list_transform(range(len(l)-2),
        |            i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]) END AS tris
        |  FROM toks),
        |b2 AS (SELECT doc_id, n_tokens, len(tris) AS n_trigrams,
        |  CASE WHEN len(tris) > 0
        |       THEN round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris), 4)
        |       ELSE 0.0 END AS dup_trigram_frac
        |  FROM base),
        |tok AS (SELECT doc_id, unnest(l) AS tok FROM toks),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
        |top AS (SELECT doc_id, max(c) AS top_count FROM cnt GROUP BY doc_id)
        |SELECT b2.doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(n_trigrams AS INT) AS n_trigrams, dup_trigram_frac,
        |  round(CAST(top_count AS DOUBLE) / n_tokens, 4) AS top_token_frac
        |FROM b2 JOIN top ON b2.doc_id = top.doc_id
        |ORDER BY b2.doc_id""".stripMargin,

    // t17: temperature-balanced language mix — per-language target
    // floor(sqrt(n)), md5-hash-ordered selection; the oracle is the
    // direct window form, Spark's salted two-phase form is exact-equal.
    "t17_temperature_mix" ->
      """WITH t AS (SELECT lang, count(*) AS lang_docs,
        |  CAST(floor(sqrt(count(*))) AS INT) AS target
        |  FROM documents GROUP BY lang),
        |r AS (SELECT lang, doc_id, row_number() OVER (
        |  PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT r.lang, r.doc_id, t.lang_docs, t.target
        |FROM r JOIN t ON r.lang = t.lang
        |WHERE rk <= t.target
        |ORDER BY r.lang, r.doc_id""".stripMargin,

    // f03: bucketed-join round trip — the oracle joins the raw parquet
    // directly; equality proves the bucket write/read cycle is lossless.
    "f03_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS line_count,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "t03_lang_stats" ->
      """SELECT lang,
        |  count(*) AS docs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
        |  count(DISTINCT source) AS sources
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "t04_lang_id" ->
      """WITH t AS (SELECT lang,
        |  len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the','a','of','and','is'))) AS en_hits
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN en_hits >= 2 THEN 'en' ELSE 'und' END AS predicted,
        |  count(*) AS docs,
        |  round(avg(en_hits), 4) AS avg_hits
        |FROM t
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "d01_exact_dedup" ->
      """WITH g AS (
        |  SELECT md5(text) AS fp, count(*) AS copies, min(doc_id) AS keeper
        |  FROM documents GROUP BY md5(text))
        |SELECT count(*) AS distinct_texts,
        |  CAST(sum(copies) AS BIGINT) AS docs,
        |  count(*) FILTER (WHERE copies > 1) AS dup_groups
        |FROM g""".stripMargin,

    "d02_fingerprint_dedup" ->
      """WITH g AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |    count(*) AS copies, min(doc_id) AS keeper
        |  FROM documents GROUP BY 1)
        |SELECT count(*) AS distinct_docs,
        |  CAST(sum(copies) AS BIGINT) AS docs,
        |  count(*) FILTER (WHERE copies > 1) AS dup_groups
        |FROM g""".stripMargin,

    // d19: incremental ingest dedup — batch (md5 bucket 'f') anti-joined
    // against the index fingerprints, min-doc_id keeper within the batch.
    "d19_incremental_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
        |  FROM documents),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM fp
        |  WHERE bucket = 'f'
        |    AND fp NOT IN (SELECT fp FROM fp WHERE bucket != 'f')
        |  GROUP BY fp)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN keep USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // d22: incremental NEAR-dup — delta (md5 bucket 'f') band keys probe
    // the index band table (older index doc wins) + bucket-min pairing
    // within the delta; exact-Jaccard verify; losers dropped from the
    // delta only (mirrors Dedup.incrementalNearDupOf stage for stage).
    "d22_incremental_neardup" ->
      s"""WITH $bandBucketsCtes,
        |cand_idx AS (
        |  SELECT i.doc_id AS d1, d.doc_id AS d2
        |  FROM bb d JOIN bb i ON d.band = i.band AND d.bkey = i.bkey
        |  WHERE d.bucket = 'f' AND i.bucket != 'f' AND i.doc_id < d.doc_id),
        |dmin AS (
        |  SELECT band, bkey, min(doc_id) AS d1 FROM bb
        |  WHERE bucket = 'f' GROUP BY 1, 2),
        |cand_delta AS (
        |  SELECT dmin.d1, b.doc_id AS d2
        |  FROM bb b JOIN dmin USING (band, bkey)
        |  WHERE b.bucket = 'f' AND b.doc_id > dmin.d1),
        |cand AS (
        |  SELECT DISTINCT d1, d2 FROM (
        |    SELECT * FROM cand_idx UNION ALL SELECT * FROM cand_delta)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  JOIN cand ON a.doc_id = cand.d1 AND b.doc_id = cand.d2
        |  GROUP BY 1, 2),
        |${jaccardKeepCte("losers", "SELECT DISTINCT d2 FROM inter")}
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
        |  AND doc_id NOT IN (SELECT d2 FROM losers)
        |ORDER BY doc_id""".stripMargin,

    // d38: retro-loser compaction — the mirror orientation of d22's
    // delta-vs-index candidates: an index doc out-kept by a SMALLER-id
    // arrival is a tombstone for the next index compaction.
    "d38_retro_compaction" ->
      s"""WITH $bandBucketsCtes,
        |cand AS (
        |  SELECT DISTINCT d.doc_id AS d1, i.doc_id AS d2
        |  FROM bb d JOIN bb i ON d.band = i.band AND d.bkey = i.bkey
        |  WHERE d.bucket = 'f' AND i.bucket != 'f' AND d.doc_id < i.doc_id),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  JOIN cand ON a.doc_id = cand.d1 AND b.doc_id = cand.d2
        |  GROUP BY 1, 2),
        |${jaccardKeepCte("tomb", "SELECT DISTINCT d2 FROM inter")}
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT d2 FROM tomb)
        |ORDER BY doc_id""".stripMargin,

    // w08: streaming ingest dedup — arriving docs (md5 bucket 'f') are
    // dropped on ANY band-bucket collision with an OLDER index doc; no
    // Jaccard verify (the streaming recall-first gate; d22 is the exact
    // nightly form). Mirrors EventStream.ingestDedupStream's per-row
    // decision exactly.
    "w08_stream_ingest_dedup" ->
      s"""WITH $bandBucketsCtes,
        |im AS (
        |  SELECT band, bkey, min(doc_id) AS bmin FROM bb
        |  WHERE bucket != 'f' GROUP BY 1, 2),
        |drops AS (
        |  SELECT DISTINCT d.doc_id
        |  FROM bb d JOIN im USING (band, bkey)
        |  WHERE d.bucket = 'f' AND im.bmin < d.doc_id)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'
        |  AND doc_id NOT IN (SELECT doc_id FROM drops)
        |ORDER BY doc_id""".stripMargin,

    // d20: MinHash estimate calibration — signature-agreement fraction
    // (8 perms) vs exact Jaccard on the exact near-dup pairs.
    "d20_minhash_estimate" ->
      s"""WITH $shingleCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |${jaccardKeepCte("pairs", jaccardSelect)},
        |sig AS (SELECT doc_id,
        |  min(md5('0|' || shingle)) AS h0, min(md5('1|' || shingle)) AS h1,
        |  min(md5('2|' || shingle)) AS h2, min(md5('3|' || shingle)) AS h3,
        |  min(md5('4|' || shingle)) AS h4, min(md5('5|' || shingle)) AS h5,
        |  min(md5('6|' || shingle)) AS h6, min(md5('7|' || shingle)) AS h7
        |  FROM sh GROUP BY doc_id),
        |est AS (
        |  SELECT p.d1, p.d2, p.jaccard,
        |    round((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END +
        |           CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END +
        |           CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END +
        |           CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END +
        |           CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END +
        |           CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END +
        |           CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END +
        |           CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) / 8.0, 4) AS est_jaccard
        |  FROM pairs p JOIN sig a ON p.d1 = a.doc_id JOIN sig b ON p.d2 = b.doc_id)
        |SELECT d1, d2, jaccard, est_jaccard,
        |  round(abs(jaccard - est_jaccard), 4) AS est_err
        |FROM est
        |ORDER BY d1, d2""".stripMargin,

    "d03_ngram_jaccard" ->
      s"""WITH $shingleCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |$jaccardPairsSelect""".stripMargin,

    // Mirrors the Spark LSH exactly: bucket-min candidate pairing
    // (each doc vs its band-bucket's min doc_id), exact-Jaccard verify.
    "d07_dedup_apply" ->
      s"""WITH $shingleCte,
        |$lshLosersCtes
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT d2 FROM losers)
        |ORDER BY doc_id""".stripMargin,

    // d14: exact keepers ∩ not-near-dup ∩ quality-ok — the composed
    // cleaning pipeline (mirrors Dedup.cleanCorpus stage for stage)
    "d14_clean_corpus" ->
      s"""WITH $shingleCte,
        |$lshLosersCtes,
        |${qualCte("INT")}
        |SELECT d.doc_id, d.lang, d.n_chars FROM documents d JOIN qual q USING (doc_id)
        |WHERE d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |  AND d.doc_id NOT IN (SELECT d2 FROM losers)
        |  AND NOT (q.n_tokens < 10) AND NOT (q.repetition_ratio > 0.8)
        |  AND NOT (q.stop_ratio > 0.4)
        |ORDER BY d.doc_id""".stripMargin,

    // d27: drop provenance — d14's gates re-expressed as per-doc 0/1
    // flags; the kept column must reproduce d14's survivor set exactly.
    "d27_drop_provenance" ->
      s"""WITH $shingleCte,
        |$lshLosersCtes,
        |${qualCte("INT")},
        |flags AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |         THEN 0 ELSE 1 END AS exact_dup,
        |    CASE WHEN d.doc_id IN (SELECT d2 FROM losers) THEN 1 ELSE 0 END AS near_dup,
        |    CASE WHEN q.n_tokens < 10 OR q.repetition_ratio > 0.8
        |           OR q.stop_ratio > 0.4 THEN 1 ELSE 0 END AS low_quality
        |  FROM documents d JOIN qual q USING (doc_id))
        |SELECT doc_id, exact_dup, near_dup, low_quality,
        |  CASE WHEN exact_dup = 0 AND near_dup = 0 AND low_quality = 0
        |       THEN 1 ELSE 0 END AS kept
        |FROM flags
        |ORDER BY doc_id""".stripMargin,

    // d34: cluster coherence — d16's components joined back to the
    // verified pair list: pairs / C(size,2) coverage plus the min/max
    // in-family jaccard. Coverage is one IEEE divide of exact BIGINTs;
    // the jaccards are d04's engine-identical rounded values.
    "d34_cluster_coherence" ->
      s"""WITH RECURSIVE $shingleCte,
        |${lshInterCtes("inter")},
        |${jaccardKeepCte("pairsj", jaccardSelect)},
        |${clusterWalkCtes("pairsj")},
        |lab AS (SELECT doc_id, min(node) AS cluster_id FROM walk GROUP BY doc_id),
        |csize AS (SELECT cluster_id, count(*) AS size FROM lab GROUP BY 1),
        |agg AS (
        |  SELECT l.cluster_id, count(*) AS n_pairs,
        |    min(p.jaccard) AS min_jaccard, max(p.jaccard) AS max_jaccard
        |  FROM pairsj p JOIN lab l ON p.d1 = l.doc_id
        |  GROUP BY 1)
        |SELECT a.cluster_id,
        |  CAST(s.size AS BIGINT) AS size,
        |  CAST(a.n_pairs AS BIGINT) AS n_pairs,
        |  round(CAST(a.n_pairs * 2 AS DOUBLE) / (s.size * (s.size - 1)), 6)
        |    AS coverage,
        |  a.min_jaccard, a.max_jaccard
        |FROM agg a JOIN csize s USING (cluster_id)
        |ORDER BY a.cluster_id""".stripMargin,

    // d16: connected components over the verified LSH pair graph via a
    // recursive reachability CTE — min reachable node == the fixpoint of
    // Spark's min-label propagation (mirrors Dedup.dedupClusters).
    "d16_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
        |$lshClusterWalkCtes
        |SELECT doc_id, min(node) AS cluster_id FROM walk
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // d21: duplicate-family size histogram — d16's components aggregated
    // to (family size → families, docs absorbed).
    "d21_cluster_sizes" ->
      s"""WITH RECURSIVE $shingleCte,
        |$lshClusterWalkCtes,
        |labels AS (SELECT doc_id, min(node) AS cluster_id FROM walk GROUP BY doc_id),
        |fam AS (SELECT cluster_id, count(*) AS family_size FROM labels GROUP BY cluster_id)
        |SELECT family_size, count(*) AS families,
        |  CAST(sum(family_size) AS BIGINT) AS docs
        |FROM fam
        |GROUP BY family_size
        |ORDER BY family_size""".stripMargin,

    // d28: best-keeper election per duplicate family — the same walk CTE
    // as d16, then argmax by (n_chars desc, doc_id asc) via a ranked
    // window (the oracle form of the engine's packed-BIGINT max_by).
    "d28_cluster_best_keep" ->
      s"""WITH RECURSIVE $shingleCte,
        |$lshClusterWalkCtes,
        |labels AS (
        |  SELECT doc_id, min(node) AS cluster_id FROM walk GROUP BY doc_id),
        |jd AS (
        |  SELECT l.doc_id, l.cluster_id, d.n_chars
        |  FROM labels l JOIN documents d USING (doc_id)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM jd),
        |fam AS (SELECT cluster_id, count(*) AS family_size FROM jd GROUP BY 1)
        |SELECT r.cluster_id, r.doc_id AS keeper,
        |  CAST(r.n_chars AS BIGINT) AS keeper_chars, fam.family_size
        |FROM r JOIN fam USING (cluster_id)
        |WHERE rk = 1
        |ORDER BY r.cluster_id""".stripMargin,

    // d17: the cluster-aware apply — drop clustered docs that are not
    // their component's minimum (same walk CTE as d16).
    "d17_cluster_apply" ->
      s"""WITH RECURSIVE $shingleCte,
        |$lshClusterWalkCtes,
        |labels AS (
        |  SELECT doc_id, min(node) AS cluster_id FROM walk GROUP BY doc_id)
        |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (
        |  SELECT doc_id FROM labels WHERE doc_id != cluster_id)
        |ORDER BY d.doc_id""".stripMargin,

    // d32: soft dedup — per-doc sampling weight 1/family_size over d16's
    // components (mirrors Dedup.dedupWeights); 1.0/n is one
    // correctly-rounded IEEE division of small integers, bit-identical
    // across engines.
    // d36: weighted-resample apply — d32's weight chain with the exact
    // integer Bernoulli draw decode4('rs|'||doc_id) * family_size < 65536
    // (u < 1/n with no float ever materializing; the d30 decode, salted).
    "d36_weighted_resample" ->
      s"""WITH RECURSIVE $shingleCte,
        |$lshClusterWalkCtes,
        |labels AS (
        |  SELECT doc_id, min(node) AS cluster_id FROM walk GROUP BY doc_id),
        |fam AS (
        |  SELECT cluster_id, count(*) AS fs FROM labels GROUP BY cluster_id),
        |wtd AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    CAST(coalesce(fam.fs, 1) AS BIGINT) AS family_size,
        |    md5('rs|' || CAST(d.doc_id AS VARCHAR)) AS m
        |  FROM documents d
        |  LEFT JOIN labels l ON d.doc_id = l.doc_id
        |  LEFT JOIN fam ON l.cluster_id = fam.cluster_id)
        |SELECT doc_id, lang, n_chars, family_size
        |FROM wtd
        |WHERE CAST((strpos('0123456789abcdef', m[1]) - 1) * 4096
        |    + (strpos('0123456789abcdef', m[2]) - 1) * 256
        |    + (strpos('0123456789abcdef', m[3]) - 1) * 16
        |    + (strpos('0123456789abcdef', m[4]) - 1) AS BIGINT) * family_size
        |  < 65536
        |ORDER BY doc_id""".stripMargin,

    "d32_dedup_weights" ->
      s"""WITH RECURSIVE $shingleCte,
        |$lshClusterWalkCtes,
        |labels AS (
        |  SELECT doc_id, min(node) AS cluster_id FROM walk GROUP BY doc_id),
        |fam AS (
        |  SELECT cluster_id, count(*) AS fs FROM labels GROUP BY cluster_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(fam.fs, 1) AS BIGINT) AS family_size,
        |  CAST(1 AS DOUBLE) / CAST(coalesce(fam.fs, 1) AS BIGINT) AS weight
        |FROM documents d
        |LEFT JOIN labels l USING (doc_id)
        |LEFT JOIN fam ON l.cluster_id = fam.cluster_id
        |ORDER BY d.doc_id""".stripMargin,

    // d15: containment (|∩| of rare shingles / min set size) over pairs
    // sharing >= 1 rare shingle (df <= 50) — mirrors
    // Dedup.containmentNearDupOf incl. the hot-shingle cap.
    "d15_containment" ->
      s"""WITH $shingleCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
        |rs AS (SELECT doc_id, shingle FROM sh JOIN rare USING (shingle)),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM rs a JOIN rs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  round(c / CAST(least(sa.n, sb.n) AS DOUBLE), 4) AS containment
        |FROM inter
        |JOIN sizes sa ON d1 = sa.doc_id
        |JOIN sizes sb ON d2 = sb.doc_id
        |WHERE round(c / CAST(least(sa.n, sb.n) AS DOUBLE), 4) >= 0.9
        |ORDER BY d1, d2""".stripMargin,

    "d04_minhash_lsh" ->
      s"""WITH $shingleCte,
        |${lshInterCtes("inter")}
        |$jaccardPairsSelect""".stripMargin,

    // d33: cross-source duplication matrix — d04's verified pairs
    // aggregated to (lang_keep, lang_lose) with pair and distinct-loser
    // counts (mirrors Dedup.crossSourceMatrix).
    "d33_cross_source_matrix" ->
      s"""WITH $shingleCte,
        |$lshPairsCtes
        |SELECT ka.lang AS lang_keep, kb.lang AS lang_lose,
        |  CAST(count(*) AS BIGINT) AS pairs,
        |  CAST(count(DISTINCT p.d2) AS BIGINT) AS distinct_losers
        |FROM pairs p
        |JOIN documents ka ON p.d1 = ka.doc_id
        |JOIN documents kb ON p.d2 = kb.doc_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // d30: LSH calibration — the production detector's loser set vs the
    // exact all-pairs baseline's; pair counts differ by design (spanning
    // star vs all pairs), the loser SET is the contract.
    "d30_lsh_calibration" ->
      s"""WITH $calibrationSampleCte,
        |${shingleCteFrom("docs_s")},
        |$lshCandCte,
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |einter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |epairs AS (
        |  SELECT d1, d2 FROM einter
        |  JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
        |  WHERE round(c / CAST(sa.n + sb.n - c AS DOUBLE), 4) >= 0.5),
        |linter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  JOIN cand ON a.doc_id = cand.d1 AND b.doc_id = cand.d2
        |  GROUP BY 1, 2),
        |lpairs AS (
        |  SELECT d1, d2 FROM linter
        |  JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
        |  WHERE round(c / CAST(sa.n + sb.n - c AS DOUBLE), 4) >= 0.5),
        |el AS (SELECT DISTINCT d2 AS doc_id FROM epairs),
        |ll AS (SELECT DISTINCT d2 AS doc_id FROM lpairs),
        |agg AS (SELECT
        |  CAST((SELECT count(*) FROM epairs) AS BIGINT) AS exact_pairs,
        |  CAST((SELECT count(*) FROM lpairs) AS BIGINT) AS lsh_pairs,
        |  CAST((SELECT count(*) FROM el) AS BIGINT) AS exact_losers,
        |  CAST((SELECT count(*) FROM ll) AS BIGINT) AS lsh_losers,
        |  CAST((SELECT count(*) FROM el SEMI JOIN ll USING (doc_id)) AS BIGINT) AS agree)
        |SELECT exact_pairs, lsh_pairs, exact_losers, lsh_losers,
        |  exact_losers - agree AS missed_losers,
        |  lsh_losers - agree AS extra_losers,
        |  CASE WHEN exact_losers > 0
        |    THEN round(agree / CAST(exact_losers AS DOUBLE), 4) END AS loser_recall
        |FROM agg""".stripMargin,

    // d23: threshold sweep over the production detector's verified pairs —
    // per candidate cutoff, surviving pair and loser counts. Thresholds
    // are i/100.0 on both engines (identical doubles), compared against
    // the shared 4dp-rounded jaccard.
    "d23_threshold_sweep" ->
      s"""WITH $shingleCte,
        |${lshInterCtes("inter")},
        |${jaccardKeepCte("pairs", jaccardSelect)},
        |ts AS (SELECT i / 100.0 AS threshold FROM range(50, 100, 5) r(i))
        |SELECT threshold, count(*) AS pairs,
        |  count(DISTINCT d2) AS losers
        |FROM pairs CROSS JOIN ts
        |WHERE jaccard >= threshold
        |GROUP BY threshold
        |ORDER BY threshold""".stripMargin,

    "f07_orc_roundtrip" ->
      """SELECT doc_id, md5(text) AS fp, lang, n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // f08: seeded shard export manifest — global permutation rank by
    // md5('42:' || doc_id), shard = (rank-1) mod 8 (exact balance), each
    // shard fingerprinted by its rank-ordered id list. The oracle ranks
    // with one global row_number; Spark reaches the same rank via the
    // 256-bucket two-phase form (bucket = key prefix, so bucket-then-key
    // order IS key order).
    "f08_shard_export" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    md5('42:' || CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents),
        |rnk AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY rk, doc_id) AS rank
        |  FROM r)
        |SELECT CAST((rank - 1) % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rank)) AS ids_fp
        |FROM rnk GROUP BY 1 ORDER BY 1""".stripMargin,

    // f09: time travel — v1 must equal the raw corpus (pre-merge), v2 the
    // merge outcome (ids <= 100 suffixed ' v2', of those the multiples of
    // 17 deleted). Hash equality proves the manifest-resolved reads see
    // exactly the right file sets.
    "f09_time_travel" ->
      """SELECT CAST(1 AS BIGINT) AS version, doc_id, lang, n_chars,
        |  md5(text) AS fp
        |FROM documents
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, doc_id, lang, n_chars,
        |  md5(CASE WHEN doc_id <= 100 THEN text || ' v2' ELSE text END) AS fp
        |FROM documents
        |WHERE NOT (doc_id <= 100 AND doc_id % 17 = 0)
        |ORDER BY version, doc_id""".stripMargin,

    // f11: dynamic partition overwrite — only the 'en' partition re-lands
    // with revised text; everything else must read back unchanged.
    "f11_partition_overwrite" ->
      """SELECT doc_id, lang, n_chars,
        |  md5(CASE WHEN lang = 'en' THEN text || ' r2' ELSE text END) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // f12: snapshot diff — the manifest-delta join must surface exactly
    // the merge's row-level effects: ids <= 100 updated (' v2' suffix),
    // of those the multiples of 17 deleted; unchanged rows riding along
    // in rewritten files are filtered by fingerprint equality.
    "f12_snapshot_diff" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 0 THEN 'D' ELSE 'U' END AS change,
        |  md5(text) AS fp_before,
        |  CASE WHEN doc_id % 17 = 0 THEN NULL
        |       ELSE md5(text || ' v2') END AS fp_after
        |FROM documents
        |WHERE doc_id <= 100
        |ORDER BY doc_id""".stripMargin,

    // f10: the current version's state after expiring v1 — the v2 half of
    // f09's oracle; identity with it proves the vacuum touched no live file
    "f10_snapshot_expire" ->
      """SELECT doc_id, lang, n_chars,
        |  md5(CASE WHEN doc_id <= 100 THEN text || ' v2' ELSE text END) AS fp
        |FROM documents
        |WHERE NOT (doc_id <= 100 AND doc_id % 17 = 0)
        |ORDER BY doc_id""".stripMargin,

    "s01_knn_brute" -> knnBruteSql,

    // s26: radius search — knnBruteSql's scoring with a threshold filter
    // instead of the rank window (τ = 0.25, exactly binary-representable,
    // compared on the 6dp-rounded score in both engines).
    "s26_range_search" ->
      s"""WITH ${normedCte("vec_id")},
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
        |          / (q.norm * c.norm), 6) AS cosine
        |  FROM n q CROSS JOIN n c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |SELECT query_id, cand_id, cosine FROM scored
        |WHERE cosine >= 0.25
        |ORDER BY query_id, cand_id""".stripMargin,

    // s27: MMR diversified rerank — the 3 greedy steps unrolled as CTEs
    // over the SAME 6dp-rounded rel/sim inputs the engine selects on
    // (λ=0.7, μ=0.3 as literals on both engines; score ties → cand_id
    // asc). sel1 is pool rnk=1 because 0.7·rel is monotone in rel with
    // the identical tie-break.
    "s27_mmr_rerank" ->
      s"""WITH ${normedCte("vec_id")},
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
        |          / (q.norm * c.norm), 6) AS rel
        |  FROM n q CROSS JOIN n c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |pool AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY rel DESC, cand_id ASC) AS rnk
        |    FROM scored)
        |  WHERE rnk <= 10),
        |pv AS (
        |  SELECT p.query_id, p.cand_id, p.rel, n.v, n.norm
        |  FROM pool p JOIN n ON n.vec_id = p.cand_id),
        |sim AS (
        |  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
        |    round(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]))
        |          / (a.norm * b.norm), 6) AS sim
        |  FROM pv a JOIN pv b
        |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
        |sel1 AS (
        |  SELECT query_id, cand_id, rel,
        |    0.7 * CAST(rel AS DECIMAL(10,6)) -
        |    0.3 * CAST(0 AS DECIMAL(10,6)) AS score
        |  FROM pool WHERE rnk = 1),
        |cand2 AS (
        |  SELECT p.query_id, p.cand_id, p.rel,
        |    0.7 * CAST(p.rel AS DECIMAL(10,6)) -
        |    0.3 * CAST(s.sim AS DECIMAL(10,6)) AS score
        |  FROM pool p
        |  JOIN sel1 ON sel1.query_id = p.query_id
        |  JOIN sim s ON s.query_id = p.query_id
        |    AND s.a_id = p.cand_id AND s.b_id = sel1.cand_id
        |  WHERE p.cand_id <> sel1.cand_id),
        |sel2 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rk
        |    FROM cand2) WHERE rk = 1),
        |cand3 AS (
        |  SELECT p.query_id, p.cand_id, p.rel,
        |    0.7 * CAST(p.rel AS DECIMAL(10,6)) -
        |    0.3 * greatest(CAST(s1.sim AS DECIMAL(10,6)),
        |                   CAST(s2.sim AS DECIMAL(10,6))) AS score
        |  FROM pool p
        |  JOIN sel1 ON sel1.query_id = p.query_id
        |  JOIN sel2 ON sel2.query_id = p.query_id
        |  JOIN sim s1 ON s1.query_id = p.query_id
        |    AND s1.a_id = p.cand_id AND s1.b_id = sel1.cand_id
        |  JOIN sim s2 ON s2.query_id = p.query_id
        |    AND s2.a_id = p.cand_id AND s2.b_id = sel2.cand_id
        |  WHERE p.cand_id <> sel1.cand_id AND p.cand_id <> sel2.cand_id),
        |sel3 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rk
        |    FROM cand3) WHERE rk = 1)
        |SELECT query_id, CAST(1 AS INT) AS "rank", cand_id,
        |  CAST(round(score, 6) AS DOUBLE) AS score FROM sel1
        |UNION ALL SELECT query_id, CAST(2 AS INT), cand_id,
        |  CAST(round(score, 6) AS DOUBLE) FROM sel2
        |UNION ALL SELECT query_id, CAST(3 AS INT), cand_id,
        |  CAST(round(score, 6) AS DOUBLE) FROM sel3
        |ORDER BY query_id, "rank"""".stripMargin,

    // s25: truncated-prefix (Matryoshka-style) two-stage search — stage 1
    // ranks by L2 over the first 16 dims (rounded 6dp + cand_id
    // tie-break, so the shortlist-50 cut is engine-identical), stage 2
    // exact-reranks the shortlist over all 64 dims. Mirrors
    // Similarity.truncatedAnn's defaults.
    "s25_truncated_ann" ->
      """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pre AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(16),
        |      i -> (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1]))), 6) AS pdist
        |  FROM n q CROSS JOIN n c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |short AS (
        |  SELECT query_id, cand_id FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY pdist ASC, cand_id ASC) AS prk
        |    FROM pre) WHERE prk <= 50),
        |rer AS (
        |  SELECT s.query_id, s.cand_id,
        |    round(list_sum(list_transform(range(64),
        |      i -> (q.v[i+1] - c.v[i+1]) * (q.v[i+1] - c.v[i+1]))), 6) AS dist
        |  FROM short s
        |  JOIN n q ON s.query_id = q.vec_id
        |  JOIN n c ON s.cand_id = c.vec_id)
        |SELECT query_id, cand_id, dist, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rnk
        |  FROM rer) WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // f02: the DSv2 generator connector's scan query — the oracle
    // regenerates identical rows from pure range() arithmetic (token j of
    // doc i = first 5 md5 hex chars of "i_j"), mirroring
    // SyntheticCorpus.textOf; the [100, 300) bound is the predicate the
    // connector receives via filter pushdown.
    "f02_synthetic_source" ->
      """WITH g AS (SELECT i AS doc_id FROM range(100, 300) t(i)),
        |tx AS (SELECT doc_id,
        |  array_to_string(list_transform(range(doc_id % 7 + 3),
        |    j -> substr(md5(CAST(doc_id AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 5)),
        |    ' ') AS text
        |  FROM g)
        |SELECT doc_id,
        |  ['en','de','fr','es','und'][CAST(doc_id % 5 AS INT) + 1] AS lang,
        |  text,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM tx
        |ORDER BY doc_id""".stripMargin,

    // d18: SRP-LSH embedding near-dup — hyperplanes regenerated from
    // md5('srp|b|d') (identical to the Scala constants by md5 standard),
    // 16 sign bits -> 2x8-bit bands -> bucket-min candidates -> exact
    // cosine verify, top-20 (mirrors Similarity.srpNearDupOf).
    "d18_srp_neardup" ->
      s"""WITH ${srpPlanesCtes(64)},
        |${normedCte("vec_id")},
        |${srpScoredCtes(64, "n")}
        |SELECT v1, v2, cosine FROM scored
        |ORDER BY cosine DESC, v1 ASC, v2 ASC
        |LIMIT 20""".stripMargin,

    "s02_ann_ivf" ->
      s"""WITH ${normedCte("vec_id, label")},
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
        |          / (q.norm * c.norm), 6) AS cosine
        |  FROM n q JOIN n c ON q.label = c.label
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |$cosineTop3""".stripMargin,

    "m05_media_features" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS bytes FROM documents)
        |SELECT doc_id,
        |  CAST(bytes AS DOUBLE) AS f0,
        |  CAST(64 + bytes % 512 AS DOUBLE) AS f1,
        |  CAST(64 + (bytes * 7) % 512 AS DOUBLE) AS f2,
        |  CAST(bytes % 3 AS DOUBLE) AS f3,
        |  CAST(bytes // 1024 + 1 AS DOUBLE) AS f4,
        |  CAST(bytes % 997 AS DOUBLE) AS f5,
        |  CAST(bytes % 499 AS DOUBLE) AS f6,
        |  CAST(bytes % 251 AS DOUBLE) AS f7
        |FROM b
        |ORDER BY doc_id""".stripMargin,

    // m10: aHash perceptual near-dup — per-dim mean-threshold bits → one
    // 8-bit code, 2×4-bit nibble bands with bucket-min pairing, exact
    // hamming ≤ 1 verify via bit_count(xor); thresholds are one IEEE
    // divide of an exact decimal sum by an exact count.
    "m10_media_phash" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS bytes FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(bytes AS DOUBLE) AS f0,
        |  CAST(64 + bytes % 512 AS DOUBLE) AS f1,
        |  CAST(64 + (bytes * 7) % 512 AS DOUBLE) AS f2,
        |  CAST(bytes % 3 AS DOUBLE) AS f3,
        |  CAST(bytes // 1024 + 1 AS DOUBLE) AS f4,
        |  CAST(bytes % 997 AS DOUBLE) AS f5,
        |  CAST(bytes % 499 AS DOUBLE) AS f6,
        |  CAST(bytes % 251 AS DOUBLE) AS f7
        |  FROM b),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(f0 AS DECIMAL(18,6))) AS s0, sum(CAST(f1 AS DECIMAL(18,6))) AS s1,
        |  sum(CAST(f2 AS DECIMAL(18,6))) AS s2, sum(CAST(f3 AS DECIMAL(18,6))) AS s3,
        |  sum(CAST(f4 AS DECIMAL(18,6))) AS s4, sum(CAST(f5 AS DECIMAL(18,6))) AS s5,
        |  sum(CAST(f6 AS DECIMAL(18,6))) AS s6, sum(CAST(f7 AS DECIMAL(18,6))) AS s7
        |  FROM f),
        |coded AS (SELECT doc_id,
        |    (CASE WHEN f0 > CAST(s0 AS DOUBLE) / n THEN 1 ELSE 0 END)
        |  + (CASE WHEN f1 > CAST(s1 AS DOUBLE) / n THEN 2 ELSE 0 END)
        |  + (CASE WHEN f2 > CAST(s2 AS DOUBLE) / n THEN 4 ELSE 0 END)
        |  + (CASE WHEN f3 > CAST(s3 AS DOUBLE) / n THEN 8 ELSE 0 END)
        |  + (CASE WHEN f4 > CAST(s4 AS DOUBLE) / n THEN 16 ELSE 0 END)
        |  + (CASE WHEN f5 > CAST(s5 AS DOUBLE) / n THEN 32 ELSE 0 END)
        |  + (CASE WHEN f6 > CAST(s6 AS DOUBLE) / n THEN 64 ELSE 0 END)
        |  + (CASE WHEN f7 > CAST(s7 AS DOUBLE) / n THEN 128 ELSE 0 END) AS code
        |  FROM f CROSS JOIN m),
        |bands AS (SELECT doc_id, code, 0 AS band, code % 16 AS bkey FROM coded
        |  UNION ALL SELECT doc_id, code, 1, code // 16 FROM coded),
        |mins AS (SELECT band, bkey, min(doc_id) AS v1 FROM bands GROUP BY 1, 2),
        |c1 AS (SELECT mins.band, mins.bkey, mins.v1, b2.code AS c1
        |  FROM mins JOIN bands b2 ON b2.band = mins.band AND b2.bkey = mins.bkey
        |    AND b2.doc_id = mins.v1)
        |SELECT DISTINCT c1.v1, b.doc_id AS v2,
        |  CAST(bit_count(xor(c1.c1, b.code)) AS INT) AS hamming
        |FROM bands b JOIN c1 ON b.band = c1.band AND b.bkey = c1.bkey
        |WHERE b.doc_id > c1.v1 AND bit_count(xor(c1.c1, b.code)) <= 1
        |ORDER BY v1, v2""".stripMargin,

    // m06/m07: media near-dup over the m05 feature vectors via SRP-LSH
    // (d18's construction at dim=8; weights regenerated from md5 so both
    // engines derive the same hyperplanes).
    "m06_media_neardup" ->
      s"""WITH $mediaSrpCte
        |SELECT v1, v2, cosine FROM scored
        |ORDER BY cosine DESC, v1 ASC, v2 ASC
        |LIMIT 20""".stripMargin,

    "m07_media_apply" ->
      s"""WITH $mediaSrpCte,
        |losers AS (
        |  SELECT DISTINCT v2 FROM (
        |    SELECT v1, v2, cosine FROM scored
        |    ORDER BY cosine DESC, v1 ASC, v2 ASC
        |    LIMIT 20))
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT v2 FROM losers)
        |ORDER BY doc_id""".stripMargin,

    // m01: BMP rows (doc_id%3=0, L≥200) carry REAL synthesized BMPs,
    // PNG rows (doc_id%6=2, L≥280) REAL deflate-compressed PNGs, and
    // JPEG rows (doc_id%12=5, L≥200) REAL DC-exact baseline JPEGs and
    // WEBP rows (doc_id%12=11, L≥64) REAL RIFF/VP8L containers — the
    // engine genuinely parses/inflates/IDCTs them; this oracle
    // recomputes the dims and the pixel sums in closed form (BMP/PNG:
    // pixel byte j is j%16, so a row of 3w bytes sums to (3w//16)*120 +
    // rem*(rem-1)/2, dims 4+L%5 × 4+L%3 / 4+L%6 × 4+L%4; JPEG: uniform
    // gray L%256 over 3+L%6 × 3+L%4 one-band pixels). Other rows keep
    // the documented stub arithmetic (px_sum 0).
    "m01_decoded_meta" ->
      s"""WITH $imageClassCte,
        |d AS (
        |  SELECT doc_id, L AS bytes,
        |    $imageDimCols,
        |    CASE WHEN is_bmp THEN
        |      CAST(4 + L % 3 AS BIGINT) *
        |        ((3 * (4 + L % 5)) // 16 * 120 +
        |         ((3 * (4 + L % 5)) % 16) * ((3 * (4 + L % 5)) % 16 - 1) // 2)
        |    WHEN is_png THEN
        |      CAST(4 + L % 4 AS BIGINT) *
        |        ((3 * (4 + L % 6)) // 16 * 120 +
        |         ((3 * (4 + L % 6)) % 16) * ((3 * (4 + L % 6)) % 16 - 1) // 2)
        |    WHEN is_jpeg THEN
        |      CAST(3 + L % 6 AS BIGINT) * (3 + L % 4) * (L % 256)
        |    ELSE 0 END AS px_sum
        |  FROM b)
        |SELECT doc_id, bytes, width, height, format, CAST(px_sum AS BIGINT) AS px_sum
        |FROM d ORDER BY doc_id""".stripMargin,

    // m11: WAV decode — the Spark side genuinely parses RIFF chunks and
    // sums |PCM16 sample|; the oracle recomputes the synthesized corpus's
    // fields in closed form from octet_length (sample pattern (j%200)-100
    // telescopes: 10000 per 200-sample period + piecewise remainder).
    "m11_audio_meta" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS L FROM documents
        |  WHERE doc_id % 6 = 1 AND octet_length(encode(text)) >= 64),
        |d AS (
        |  SELECT doc_id, L AS bytes,
        |    CAST(8000 + L % 4000 AS BIGINT) AS sample_rate,
        |    CAST(1 + L % 2 AS BIGINT) AS channels,
        |    (L - 44) // 2 AS n
        |  FROM b)
        |SELECT doc_id, bytes, sample_rate, channels,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST((n // 200) * 10000 +
        |    CASE WHEN n % 200 <= 100
        |      THEN 100 * (n % 200) - (n % 200) * (n % 200 - 1) // 2
        |      ELSE 5050 + (n % 200 - 101) * (n % 200 - 100) // 2
        |    END AS BIGINT) AS amp_sum
        |FROM d ORDER BY doc_id""".stripMargin,

    // m13: audio energy/silence over the REAL decoded PCM16 samples —
    // closed forms from octet_length: Σ s² telescopes (666700 per
    // 200-sample period + square-pyramid remainder S(x)=x(x+1)(2x+1)/6),
    // silence (|s|<10 → j%200 ∈ [91,109]) is 19 per period + a clamp,
    // peak is 100 whenever any sample exists (j=0 → -100).
    "m13_audio_energy" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS L FROM documents
        |  WHERE doc_id % 6 = 1 AND octet_length(encode(text)) >= 64),
        |d AS (
        |  SELECT doc_id, CAST(8000 + L % 4000 AS BIGINT) AS sample_rate,
        |    (L - 44) // 2 AS n
        |  FROM b),
        |e AS (SELECT doc_id, sample_rate, n, n // 200 AS f, n % 200 AS r FROM d)
        |SELECT doc_id, sample_rate, CAST(n AS BIGINT) AS n_samples,
        |  CAST(f * 19 + LEAST(GREATEST(r - 91, 0), 19) AS BIGINT)
        |    AS silent_samples,
        |  CAST(f * 666700 +
        |    CASE WHEN r <= 100
        |      THEN 338350 - (100 - r) * (101 - r) * (201 - 2 * r) // 6
        |      ELSE 338350 + (r - 101) * (r - 100) * (2 * r - 201) // 6
        |    END AS BIGINT) AS sq_sum,
        |  CAST(CASE WHEN n > 0 THEN 100 ELSE 0 END AS BIGINT) AS peak_abs
        |FROM e ORDER BY doc_id""".stripMargin,

    // m14: frame-strided audio decimation (k=4) — the kept predicate
    // (j div c) % 4 = 0 and the sample law |(j%200)-100| are BOTH
    // periodic with period 200 for c ∈ {1,2} (200 ≡ 0 mod 4c), so the
    // per-period kept-count and kept-amp constants come from one bounded
    // 200-fold and the tail from a remainder fold — never a per-sample
    // unnest (the m13 closed-form discipline, fold-assisted).
    // m15: video motion energy over the REAL AVI decode — adjacent
    // frames' pixel j differ by 1 except at the 16-cycle wrap
    // ((f+j)%16 = 15 -> |15-0| = 15), so pair f contributes
    // P + 14*W(f), W(f) = #{j < P : j % 16 = 15-f} (f <= 3 < 16 by
    // synthesis) — a bounded <=4-element fold per row.
    "m15_motion_energy" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS L FROM documents
        |  WHERE doc_id % 6 = 4 AND octet_length(encode(text)) >= 448),
        |a AS (
        |  SELECT doc_id,
        |    CAST(2 + L % 4 AS BIGINT) AS n_frames,
        |    CAST(2 + L % 3 AS BIGINT) AS width,
        |    CAST(2 + L % 2 AS BIGINT) AS height,
        |    3 * (2 + L % 3) * (2 + L % 2) AS P
        |  FROM b)
        |SELECT doc_id, n_frames, width, height,
        |  CAST(n_frames - 1 AS BIGINT) AS frame_pairs,
        |  CAST(COALESCE(list_sum(list_transform(range(n_frames - 1),
        |    g -> P + 14 * (CASE WHEN 15 - g < P
        |                   THEN (P - 1 - (15 - g)) // 16 + 1
        |                   ELSE 0 END))), 0) AS BIGINT) AS motion_sum
        |FROM a ORDER BY doc_id""".stripMargin,

    "m14_audio_resample" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS L FROM documents
        |  WHERE doc_id % 6 = 1 AND octet_length(encode(text)) >= 64),
        |d AS (
        |  SELECT doc_id, CAST(8000 + L % 4000 AS BIGINT) AS rate,
        |    CAST(1 + L % 2 AS BIGINT) AS c,
        |    (L - 44) // 2 AS n
        |  FROM b),
        |e AS (SELECT doc_id, rate, c, n, n // 200 AS f, n % 200 AS r FROM d),
        |g AS (
        |  SELECT doc_id, rate, c, n,
        |    COALESCE(list_sum(list_transform(range(200),
        |      j -> CASE WHEN (j // c) % 4 = 0 THEN 1 ELSE 0 END)), 0) AS kper,
        |    COALESCE(list_sum(list_transform(range(r),
        |      j -> CASE WHEN (j // c) % 4 = 0 THEN 1 ELSE 0 END)), 0) AS krem,
        |    COALESCE(list_sum(list_transform(range(200),
        |      j -> CASE WHEN (j // c) % 4 = 0 THEN abs(j - 100) ELSE 0 END)), 0) AS aper,
        |    COALESCE(list_sum(list_transform(range(r),
        |      j -> CASE WHEN (j // c) % 4 = 0 THEN abs(j - 100) ELSE 0 END)), 0) AS arem,
        |    f
        |  FROM e)
        |SELECT doc_id, rate, CAST(rate // 4 AS BIGINT) AS out_rate,
        |  c AS channels, CAST(n AS BIGINT) AS n_samples,
        |  CAST(f * kper + krem AS BIGINT) AS out_samples,
        |  CAST(f * aper + arem AS BIGINT) AS out_amp_sum
        |FROM g ORDER BY doc_id""".stripMargin,

    // m12: real-decode image stats — BMP (doc_id%3=0, L≥200), PNG
    // (doc_id%6=2, L≥280), and JPEG (doc_id%12=5, L≥200) rows — webp is
    // dims-only by declared boundary, so it has no pixel-stats row; dims and
    // pixel sum in closed form (BMP/PNG: pixel byte j ≡ j%16; JPEG:
    // uniform gray L%256, one band); px_mean divides by the per-format
    // band count — one IEEE divide of exact integers before the 6dp
    // round.
    "m12_image_stats" ->
      """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
        |d AS (
        |  SELECT doc_id, 'bmp' AS format,
        |    CAST(4 + L % 5 AS BIGINT) AS width, CAST(4 + L % 3 AS BIGINT) AS height,
        |    NULL AS gray
        |  FROM b WHERE doc_id % 3 = 0 AND L >= 200
        |  UNION ALL
        |  SELECT doc_id, 'png',
        |    CAST(4 + L % 6 AS BIGINT), CAST(4 + L % 4 AS BIGINT), NULL
        |  FROM b WHERE doc_id % 6 = 2 AND L >= 280
        |  UNION ALL
        |  SELECT doc_id, 'jpeg',
        |    CAST(3 + L % 6 AS BIGINT), CAST(3 + L % 4 AS BIGINT), L % 256
        |  FROM b WHERE doc_id % 12 = 5 AND L >= 200),
        |e AS (
        |  SELECT doc_id, format, width, height,
        |    CASE WHEN format = 'jpeg' THEN width * height * gray
        |    ELSE height * ((3 * width) // 16 * 120 +
        |      ((3 * width) % 16) * ((3 * width) % 16 - 1) // 2) END AS px_sum
        |  FROM d)
        |SELECT doc_id, format, width, height,
        |  CAST(px_sum AS BIGINT) AS px_sum,
        |  round(CAST(px_sum AS DOUBLE) / (width * height *
        |    CASE WHEN format = 'jpeg' THEN 1 ELSE 3 END), 6) AS px_mean
        |FROM e ORDER BY doc_id""".stripMargin,

    "j02_range_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  count(*) AS clicks_within_1h
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) > epoch_us(p.ts)
        | AND epoch_us(c.ts) <= epoch_us(p.ts) + 3600000000
        |GROUP BY 1, 2
        |ORDER BY purchase_id""".stripMargin,

    // j05: interval-overlap join — w06's 30-min-gap sessions against
    // ±5-min incident windows around error events, direct overlap theta
    // join (the oracle may be quadratic; the engine's bucketed form may
    // not). All µs arithmetic exact-integer; sid sum cast BIGINT to match
    // Spark's long running sum.
    "j05_interval_join" ->
      s"""WITH $sessionCtes,
        |errs AS (SELECT event_id AS err_id, ts_us - 300000000 AS w_start,
        |  ts_us + 300000000 AS w_end
        |  FROM ev WHERE event_type = 'error')
        |SELECT user_id, sid AS session_id, s_start AS s_start_us,
        |  s_end AS s_end_us, n_events,
        |  CAST(count(DISTINCT err_id) AS BIGINT) AS overlapping_errors
        |FROM sess JOIN errs ON s_start <= w_end AND w_start <= s_end
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY user_id, session_id""".stripMargin,

    // j07: interval ANTI-join — j05's session/incident tables, sessions
    // overlapping NO incident window (NOT EXISTS is the brute-force
    // complement of the engine's bucket-decomposed anti form).
    "j07_interval_anti_join" ->
      s"""WITH $sessionCtes,
        |errs AS (SELECT ts_us - 300000000 AS w_start,
        |  ts_us + 300000000 AS w_end
        |  FROM ev WHERE event_type = 'error')
        |SELECT user_id, sid AS session_id, s_start AS s_start_us,
        |  s_end AS s_end_us, n_events
        |FROM sess
        |WHERE NOT EXISTS (SELECT 1 FROM errs
        |  WHERE sess.s_start <= errs.w_end AND errs.w_start <= sess.s_end)
        |ORDER BY user_id, session_id""".stripMargin,

    // corpus merge with precedence: packed-BIGINT min (pri*2^40 + doc_id)
    // mirrors Dedup.mergeWithPrecedenceOf; count(*) cast to Spark's BIGINT
    "d24_corpus_merge" ->
      """WITH curated AS (
        |  SELECT doc_id, text, 0 AS pri FROM documents),
        |crawl AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text ELSE text || ' rev2' END AS text,
        |    1 AS pri
        |  FROM documents),
        |u AS (SELECT * FROM curated UNION ALL SELECT * FROM crawl),
        |k AS (
        |  SELECT md5(text) AS fp,
        |    min(CAST(pri AS BIGINT) * 1099511627776 + doc_id) AS packed,
        |    CAST(count(*) AS BIGINT) AS copies
        |  FROM u GROUP BY 1)
        |SELECT packed % 1099511627776 AS doc_id,
        |  CASE WHEN packed // 1099511627776 = 0
        |    THEN 'curated' ELSE 'crawl' END AS source,
        |  copies
        |FROM k
        |ORDER BY doc_id""".stripMargin,

    // span-level near-dup detection: every 8-token window fingerprints to
    // md5; spans in 2..16 distinct docs are repeats. Two-phase grouping
    // (fp, doc) then fp mirrors the Spark plan's Expand-free distinct.
    // DuckDB lateral over a column-derived range needs the
    // unnest(list_transform(range(...))) form; list slicing l[a:b] is
    // 1-based inclusive = Spark slice(l, a, b-a+1).
    "d25_span_neardup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, u.pos AS pos,
        |    md5(array_to_string(toks[u.pos + 1 : u.pos + 8], ' ')) AS fp
        |  FROM d, UNNEST(list_transform(range(0, n - 8 + 1), x -> x)) AS u(pos)
        |  WHERE n >= 8),
        |pd AS (
        |  SELECT fp, doc_id, count(*) AS occ_in_doc FROM o GROUP BY 1, 2),
        |s AS (
        |  SELECT fp, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(occ_in_doc) AS BIGINT) AS n_occ,
        |    min(doc_id) AS keeper
        |  FROM pd GROUP BY 1)
        |SELECT fp, df, n_occ, keeper FROM s
        |WHERE df BETWEEN 2 AND 16
        |ORDER BY fp""".stripMargin,

    // span excision apply: losing occurrences (doc != keeper) cover token
    // positions pos..pos+7; a doc's covered set is the union; cleaned text
    // = original tokens minus covered positions, fingerprinted
    "d26_span_apply" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, u.pos AS pos,
        |    md5(array_to_string(toks[u.pos + 1 : u.pos + 8], ' ')) AS fp
        |  FROM d, UNNEST(list_transform(range(0, n - 8 + 1), x -> x)) AS u(pos)
        |  WHERE n >= 8),
        |pd AS (SELECT fp, doc_id FROM o GROUP BY 1, 2),
        |s AS (
        |  SELECT fp, count(*) AS df, min(doc_id) AS keeper
        |  FROM pd GROUP BY 1 HAVING count(*) BETWEEN 2 AND 16),
        |cv AS (
        |  SELECT DISTINCT o.doc_id, pp.p
        |  FROM o JOIN s USING (fp),
        |    UNNEST(list_transform(range(o.pos, o.pos + 8), x -> x)) AS pp(p)
        |  WHERE o.doc_id != s.keeper),
        |cl AS (SELECT doc_id, list(p) AS cov FROM cv GROUP BY 1)
        |SELECT d.doc_id, d.n AS n_tokens,
        |  CAST(coalesce(len(cl.cov), 0) AS INT) AS tokens_removed,
        |  md5(coalesce(array_to_string(list_transform(
        |    list_filter(range(0, d.n),
        |      p -> cl.cov IS NULL OR NOT list_contains(cl.cov, p)),
        |    p -> toks[p + 1]), ' '), '')) AS clean_fp
        |FROM d LEFT JOIN cl ON d.doc_id = cl.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // PII redaction: DuckDB regexp_replace needs the 'g' flag (Spark
    // replaces all matches by default); counts via regexp_extract_all
    // length, cast to Spark's INT
    "t22_pii_redact" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or +1-555-'
        |      || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS raw
        |  FROM documents),
        |cleaned AS (
        |  SELECT doc_id, raw,
        |    regexp_replace(
        |      regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}',
        |                     '[EMAIL]', 'g'),
        |      '\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS clean
        |  FROM raw)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS emails,
        |  CAST(len(regexp_extract_all(raw,
        |    '\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INT) AS phones,
        |  md5(clean) AS clean_fp,
        |  CAST(len(raw) - len(clean) AS INT) AS chars_removed
        |FROM cleaned
        |ORDER BY doc_id""".stripMargin,

    // blocked fuzzy join: the ok-blocks census (HAVING count <= 1000)
    // mirrors FuzzyJoin.blockedPairs' maxBlock guard; levenshtein is
    // exact-integer in both engines, cast to Spark's INT
    "j03_fuzzy_join" ->
      """WITH d AS (
        |  SELECT doc_id, lang, substr(text, 1, 40) AS pre,
        |    split_part(text, ' ', 1) AS t1
        |  FROM documents),
        |ok AS (SELECT lang, t1 FROM d GROUP BY 1, 2 HAVING count(*) <= 1000)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
        |  CAST(levenshtein(a.pre, b.pre) AS INT) AS dist
        |FROM d a
        |JOIN d b ON a.lang = b.lang AND a.t1 = b.t1 AND a.doc_id < b.doc_id
        |JOIN ok ON ok.lang = a.lang AND ok.t1 = a.t1
        |WHERE levenshtein(a.pre, b.pre) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Clicks are pre-aggregated to ONE row per (user_id, µs ts) with the
    // max event_id BEFORE the ASOF join: Spark's carry-forward tie-break
    // keeps the largest click_id among equal-µs ties, and DuckDB's ASOF
    // does not specify which tied right row wins — the pre-agg makes the
    // oracle's tie-break explicit instead of empirical.
    "j01_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(event_id) AS event_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts) c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,

    // j04: nearest in EITHER direction. Clicks pre-agg to one row per
    // (user, µs ts) with max event_id — the operator's equal-ts tie rule
    // in both directions — then rank by absolute gap with past-beats-
    // future on cross-direction ties (AsOfJoin.nearest's pick order
    // exactly). After the pre-agg, two candidates can only tie on abs gap
    // from OPPOSITE directions, so the two-term ordering is total.
    "j04_nearest_join" ->
      s"""WITH ${nearestClickCtes("LEFT JOIN")}
        |SELECT purchase_id, user_id, click_id, CAST(gap_us AS BIGINT) AS gap_us
        |FROM ranked WHERE rk = 1
        |ORDER BY purchase_id""".stripMargin,

    // j08: temporal interpolation join — straddling click neighbours per
    // purchase (prev/next may be quadratic here; the engine's form is the
    // one-exchange carry-window pair). Equal-ts clicks collapse to the
    // max event_id's value (j04's stance); the interpolation arithmetic
    // mirrors the engine operand-for-operand (BIGINT−BIGINT, /, ×, + —
    // each one IEEE double op), rounded only at the final projection.
    "j08_interp_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us, max_by(value, event_id) AS v
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts)),
        |prev AS (
        |  SELECT p.purchase_id, max(c.c_us) AS t_prev,
        |    max_by(c.v, c.c_us) AS v_prev
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.c_us <= p.p_us
        |  GROUP BY 1),
        |nxt AS (
        |  SELECT p.purchase_id, min(c.c_us) AS t_next,
        |    min_by(c.v, c.c_us) AS v_next
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.c_us >= p.p_us
        |  GROUP BY 1)
        |SELECT p.purchase_id, p.user_id,
        |  t_prev AS t_prev_us, t_next AS t_next_us,
        |  round(CASE
        |    WHEN t_prev IS NULL AND t_next IS NULL THEN NULL
        |    WHEN t_prev IS NULL THEN v_next
        |    WHEN t_next IS NULL THEN v_prev
        |    WHEN t_next = t_prev THEN v_prev
        |    ELSE v_prev + (v_next - v_prev) *
        |      ((p.p_us - t_prev) / (t_next - t_prev))
        |  END, 6) AS interp_value
        |FROM p
        |LEFT JOIN prev USING (purchase_id)
        |LEFT JOIN nxt USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin,

    // j06: k-nearest-in-time join (k=2) — j04's tie stances exactly
    // (equal-ts clicks pre-collapsed to max id; past beats future on
    // |gap| ties); the oracle brute-forces the per-user candidate space
    // the engine reaches via the rank-position bucket composition.
    "j06_knn_time_join" ->
      s"""WITH ${nearestClickCtes("JOIN")}
        |SELECT purchase_id, user_id, CAST(rk AS INT) AS rank, click_id,
        |  CAST(gap_us AS BIGINT) AS gap_us
        |FROM ranked WHERE rk <= 2
        |ORDER BY purchase_id, rank""".stripMargin,

    // decimal-sum discipline on BOTH sides: the Spark side sums per-row
    // DECIMAL(18,6) casts (exact, order-independent); a double sum here
    // could round differently at a 4dp boundary at larger scale factors.
    "w01_event_windows" -> eventWindowsSql,

    // w14: the observe()-based ingest SLO row. Every observed metric is a
    // commutative monoid (count/sum/min/max) folded across micro-batches,
    // so the oracle is the direct whole-feed aggregate; the value sum
    // follows the w01 exact-decimal discipline.
    "w14_stream_observed" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_values,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS value_sum,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
        |FROM events""".stripMargin,

    // w05 is the same aggregation run AS A STREAM in APPEND mode and
    // round-tripped through a foreachBatch parquet sink — a hash match
    // verifies the whole stream→sink→scan path. Append + 0s watermark
    // emits exactly the windows whose end the final watermark (max
    // event time) has passed (w10 discipline), so the oracle applies
    // the same cut: drop the stream-trailing open window.
    // w15: dead-letter quarantine — the routing CASE mirrors
    // EventStream.quarantineVerdict (first match wins); sums follow the
    // exact-decimal discipline.
    "w15_stream_quarantine" ->
      """WITH v AS (
        |  SELECT event_type, value,
        |    CASE WHEN value > 300.0 THEN 'value_outlier'
        |         WHEN user_id % 97 = 0 THEN 'blocked_user'
        |         ELSE 'ok' END AS reason
        |  FROM events)
        |SELECT reason, event_type, count(*) AS n_rows,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
        |    AS value_sum
        |FROM v GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "w05_stream_sink" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS ts_us, date_trunc('hour', ts) AS h,
        |    event_type, value
        |  FROM events),
        |mx AS (SELECT max(ts_us) AS wm FROM e)
        |SELECT CAST(epoch(h) AS BIGINT) AS window_start_epoch,
        |  event_type,
        |  count(*) AS events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
        |FROM e CROSS JOIN mx
        |GROUP BY 1, 2, wm
        |HAVING (CAST(epoch(h) AS BIGINT) + 3600) * 1000000 <= wm
        |ORDER BY 1, 2""".stripMargin,

    "d10_exact_apply" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,

    // the round trip is the operator under test; a faithful JSONL
    // write+read must reproduce the source table exactly
    "f01_jsonl_roundtrip" ->
      """SELECT doc_id, md5(text) AS fp, lang, n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.rollingFingerprint: explicit left-to-right fold,
    // prepended zero makes list_reduce start from acc = 0 like Spark's
    // aggregate; every intermediate < 2^37 so BIGINT arithmetic is exact
    "t10_rolling_fingerprint" ->
      s"""WITH toks AS (
        |  SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS ms
        |  FROM documents),
        |hs AS (SELECT doc_id, list_transform(ms, m -> ${hexToBigint("m")}) AS hl FROM toks)
        |SELECT doc_id,
        |  list_reduce([CAST(0 AS BIGINT)] || hl,
        |              (acc, h) -> (acc * 31 + h) % 2147483647) AS rfp
        |FROM hs
        |ORDER BY doc_id""".stripMargin,

    // pair-grain attribution join (the batch anchor of the stream-stream
    // join; StreamingSpec proves the streamed form emits the same pairs)
    "w04_stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) > epoch_us(p.ts)
        | AND epoch_us(c.ts) <= epoch_us(p.ts) + 3600000000
        |ORDER BY purchase_id, click_id""".stripMargin,

    "w03_event_dedup" ->
      """SELECT user_id, event_type,
        |  min(event_id) AS keeper,
        |  count(*) AS copies
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    // m03: REAL resize for the decodable image classes (r12) — real
    // dims from the format laws, the nearest-neighbor index map
    // replayed in integer arithmetic, and out_px_sum recomputed from
    // each format's synthesized pixel law (BMP/PNG channel bytes
    // (3x+c)%16 with identical rows; JPEG the DC-exact uniform L%256
    // over 3 replicated channels). WEBP/WAV/plain rows keep the stub
    // dims with the out_px_sum = 0 sentinel.
    "m03_resize_meta" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
        |c AS (
        |  SELECT doc_id, L,
        |    CASE WHEN doc_id % 3 = 0 AND L >= 200 THEN 'bmp'
        |         WHEN doc_id % 6 = 2 AND L >= 280 THEN 'png'
        |         WHEN doc_id % 12 = 5 AND L >= 200 THEN 'jpeg'
        |         ELSE 'stub' END AS cls
        |  FROM b),
        |d AS (
        |  SELECT doc_id, L, cls,
        |    CASE cls WHEN 'bmp' THEN 4 + L % 5 WHEN 'png' THEN 4 + L % 6
        |      WHEN 'jpeg' THEN 3 + L % 6 ELSE 64 + L % 512 END AS width,
        |    CASE cls WHEN 'bmp' THEN 4 + L % 3 WHEN 'png' THEN 4 + L % 4
        |      WHEN 'jpeg' THEN 3 + L % 4 ELSE 64 + (L * 7) % 512 END AS height
        |  FROM c),
        |e AS (
        |  SELECT doc_id, L, cls, width, height,
        |    greatest(1, width * 224 // greatest(width, height)) AS out_w,
        |    greatest(1, height * 224 // greatest(width, height)) AS out_h
        |  FROM d)
        |SELECT doc_id, width, height, out_w, out_h,
        |  out_w * out_h * 3 AS out_bytes,
        |  CAST(CASE cls
        |    WHEN 'jpeg' THEN out_w * out_h * 3 * (L % 256)
        |    WHEN 'stub' THEN 0
        |    ELSE out_h * list_sum(list_transform(range(out_w), ox ->
        |      (3 * (ox * width // out_w)) % 16 +
        |      (3 * (ox * width // out_w) + 1) % 16 +
        |      (3 * (ox * width // out_w) + 2) % 16))
        |  END AS BIGINT) AS out_px_sum
        |FROM e
        |ORDER BY doc_id""".stripMargin,

    // m04: REAL frame sampling for the AVI video rows (r14) — frame
    // count/dims from the synthesis laws, stride-2 schedule, px_sum
    // from the frame-dependent pixel law (byte j of frame f is
    // (f+j)%16 over P = 3wh pixel bytes): per frame S(f) =
    // (P//16)*120 + a bounded <16-element remainder fold; the sampled
    // frames are f ∈ {0,2,4} (n ≤ 5 by synthesis), so the stride sum
    // expands to at most three S(f) terms. Non-video rows keep the
    // 1KiB-frame stub with the px_sum = 0 sentinel.
    "m04_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
        |c AS (
        |  SELECT doc_id, L, (doc_id % 6 = 4 AND L >= 448) AS is_avi FROM f),
        |a AS (
        |  SELECT doc_id, is_avi,
        |    CASE WHEN is_avi THEN 2 + L % 4 ELSE L // 1024 + 1 END AS n_frames,
        |    CASE WHEN is_avi THEN 3 * (2 + L % 3) * (2 + L % 2) ELSE 0 END AS P
        |  FROM c),
        |k AS (
        |  SELECT doc_id, is_avi, n_frames, P,
        |    CASE WHEN is_avi THEN (n_frames + 1) // 2
        |         ELSE (n_frames + 9) // 10 END AS s
        |  FROM a)
        |SELECT doc_id, n_frames, s AS frames_sampled,
        |  CAST(CASE WHEN is_avi THEN s * (s - 1)
        |       ELSE 10 * (s * (s - 1) // 2) END AS BIGINT) AS idx_sum,
        |  CAST(CASE WHEN is_avi THEN
        |    s * (P // 16) * 120
        |    + COALESCE(list_sum(list_transform(range(P % 16),
        |        u -> u % 16)), 0)
        |    + CASE WHEN s >= 2 THEN COALESCE(list_sum(list_transform(
        |        range(P % 16), u -> (2 + u) % 16)), 0) ELSE 0 END
        |    + CASE WHEN s >= 3 THEN COALESCE(list_sum(list_transform(
        |        range(P % 16), u -> (4 + u) % 16)), 0) ELSE 0 END
        |  ELSE 0 END AS BIGINT) AS px_sum
        |FROM k
        |ORDER BY doc_id""".stripMargin,

    // m02: same BMP/PNG/JPEG/stub split as m01 (bmp is a real format
    // class; the 'png' and 'jpeg' classes pool real rows with the stub
    // rows whose length-derived format label matches).
    "m02_format_summary" ->
      s"""WITH $imageClassCte,
        |m AS (
        |  SELECT L AS bytes,
        |    $imageDimCols
        |  FROM b)
        |SELECT format, count(*) AS images,
        |  round(avg(bytes), 4) AS avg_bytes,
        |  round(avg(width), 4) AS avg_width,
        |  round(avg(height), 4) AS avg_height
        |FROM m
        |GROUP BY format
        |ORDER BY format""".stripMargin,

    "t24_bpe_merges" -> bpeOracleSql,

    "t56_bpe_batch_merges" -> bpeBatchOracleSql(),

    "t57_packing_sweep" -> packingSweepOracleSql(),

    // t58: exact-substring duplication at 16-token window grain (Lee
    // et al. 2022) — per-doc DISTINCT window hashes, a hash shared by
    // ≥2 docs is cross-document verbatim material; integer permille,
    // no rounding surface. DuckDB list slice t[i:i+15] is inclusive
    // (16 elements) and range(1, n) excludes n — both mirrored from
    // Spark's slice(toks, i, 16) over sequence(1, size-15).
    "t58_substring_dup" ->
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= ${TextAnalysis.SubstrWindow}),
        |wins AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(t) - ${TextAnalysis.SubstrWindow - 2}),
        |    i -> substring(md5(array_to_string(t[i:i+${TextAnalysis.SubstrWindow - 1}], ' ')), 1, 16))) AS whs
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(whs) AS wh FROM wins),
        |shared AS (SELECT wh FROM ex GROUP BY wh HAVING count(*) >= 2),
        |dup AS (
        |  SELECT e.doc_id, count(*) AS dup_w
        |  FROM ex e JOIN shared s ON e.wh = s.wh GROUP BY 1)
        |SELECT w.doc_id,
        |  CAST(len(w.whs) AS BIGINT) AS n_windows,
        |  CAST(coalesce(d.dup_w, 0) AS BIGINT) AS dup_windows,
        |  CAST((1000 * coalesce(d.dup_w, 0)) // len(w.whs) AS BIGINT)
        |    AS dup_permille,
        |  CASE WHEN (1000 * coalesce(d.dup_w, 0)) // len(w.whs) >= 500
        |         THEN 'drop'
        |       WHEN (1000 * coalesce(d.dup_w, 0)) // len(w.whs) >= 200
        |         THEN 'trim'
        |       ELSE 'keep' END AS verdict
        |FROM wins w LEFT JOIN dup d ON w.doc_id = d.doc_id
        |ORDER BY w.doc_id""".stripMargin,

    "m08_media_search" -> mediaSearchSql,

    // m09: SQ8-compressed media search — m05's closed-form feature
    // vectors pushed through the s23 SQ encode/decode/score pattern
    // (stats trained on the candidate side, squared-L2 ranking)
    "m09_media_sq_search" ->
      s"""WITH $mediaFeatureCtes,
        |${sq8ScoredCtes("scored")}
        |$sqdistTop3""".stripMargin,

    "t25_bpe_encode" -> bpeEncodeOracleSql,

    "t34_tokenizer_fertility" -> tokenizerFertilityOracleSql,

    // t26: logistic quality classifier — integer features; the double
    // ratios feed exp() so the 6dp round lands on a non-terminating value.
    "t26_quality_classifier" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_tokens, n_types, n_chars,
        |    round(CAST(1.0 AS DOUBLE) / (1.0 + exp(-(
        |      CAST(-4.0 AS DOUBLE) +
        |      0.45 * (CAST(n_chars AS DOUBLE) / n_tokens) +
        |      4.0 * (CAST(n_types AS DOUBLE) / n_tokens) +
        |      0.002 * n_tokens))), 6) AS score
        |  FROM f)
        |SELECT doc_id, n_tokens, n_types, n_chars, score,
        |  CAST(score >= 0.5 AS INT) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    // t27: Heaps-curve vocabulary growth — first occurrence per type,
    // then doc-grain running totals.
    "t27_vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |fs AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY 1),
        |nt AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS new_types
        |  FROM fs GROUP BY 1),
        |sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM toks GROUP BY 1)
        |SELECT sp.doc_id, sp.n_tokens,
        |  CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types,
        |  CAST(sum(COALESCE(nt.new_types, 0)) OVER w AS BIGINT) AS cum_types,
        |  CAST(sum(sp.n_tokens) OVER w AS BIGINT) AS cum_tokens
        |FROM sp LEFT JOIN nt ON sp.doc_id = nt.doc_id
        |WINDOW w AS (ORDER BY sp.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY sp.doc_id""".stripMargin,

    "g01_graph_rank" -> graphRankOracleSql,

    "g02_personalized_rank" -> personalizedRankOracleSql,

    "g06_component_sizes" -> componentSizesOracleSql,
    "g08_kcore" -> kcoreOracleSql,
    "g09_lpa_communities" -> lpaOracleSql,
    "g13_lpa_modularity" -> lpaModularityOracleSql,
    "g15_conductance" -> lpaConductanceOracleSql,
    "g07_components_converged" -> componentsConvergedOracleSql,
    // g14: incremental ≡ batch by construction (min-label over the merged
    // label groups IS the union component's min), so the oracle is the
    // full-graph converged answer — the d22 exactness stance.
    "g14_incremental_components" -> componentsConvergedOracleSql,

    // t39: Zipf fit — ln-micro integer regression: 6dp-rounded lns as
    // BIGINT micro-units, exact integer sums/cross-products (HUGEINT
    // here, DECIMAL(38,0) engine-side), one double division per
    // coefficient; the micro scaling cancels in the slope, the
    // intercept divides its extra 1e6 out in double identically.
    "t39_zipf_fit" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS occ FROM tok GROUP BY tok),
        |top AS (SELECT tok, occ FROM freq ORDER BY occ DESC, tok LIMIT 1000),
        |xy AS (SELECT
        |  CAST(CAST(round(ln(CAST(row_number() OVER (ORDER BY occ DESC, tok)
        |    AS DOUBLE)), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x6,
        |  CAST(CAST(round(ln(CAST(occ AS DOUBLE)), 6) AS DECIMAL(18,6))
        |    * 1000000 AS BIGINT) AS y6
        |  FROM top),
        |s AS (SELECT
        |  CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(x6) AS HUGEINT) AS sx, CAST(sum(y6) AS HUGEINT) AS sy,
        |  CAST(sum(x6 * y6) AS HUGEINT) AS sxy,
        |  CAST(sum(x6 * x6) AS HUGEINT) AS sxx
        |  FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_words,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
        |  round(CAST(sxx * sy - sx * sxy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) / 1000000.0, 6) AS zipf_intercept
        |FROM s""".stripMargin,

    // t41: cross-split leakage — d04's LSH pair list classified by the
    // t36 md5-nibble split of each endpoint, canonicalized by
    // least/greatest; pairs = half the exploded doc rows (exact — every
    // pair contributes two), leaked_docs = distinct docs per class.
    "t41_split_leakage" ->
      s"""WITH $shingleCte,
        |$lshPairsCtes,
        |sp AS (SELECT d1, d2,
        |  CASE WHEN substring(md5(CAST(d1 AS VARCHAR)), 1, 1) BETWEEN '0' AND 'b'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(d1 AS VARCHAR)), 1, 1) IN ('c', 'd')
        |         THEN 'val' ELSE 'test' END AS s1,
        |  CASE WHEN substring(md5(CAST(d2 AS VARCHAR)), 1, 1) BETWEEN '0' AND 'b'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(d2 AS VARCHAR)), 1, 1) IN ('c', 'd')
        |         THEN 'val' ELSE 'test' END AS s2
        |  FROM pairs),
        |ex AS (SELECT least(s1, s2) AS split_a, greatest(s1, s2) AS split_b,
        |  unnest([d1, d2]) AS doc FROM sp)
        |SELECT split_a, split_b,
        |  CAST(count(*) // 2 AS BIGINT) AS pairs,
        |  CAST(count(DISTINCT doc) AS BIGINT) AS leaked_docs
        |FROM ex GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // t42: Okapi BM25 (k1=1.2, b=0.75, Lucene idf variant). Constants are
    // CAST literals so DuckDB doesn't fold them as DECIMAL (BIGINT*DECIMAL
    // arithmetic would diverge from Spark's all-double chain); the idf ln
    // rounds to 6dp, the per-term product rounds to 6dp → DECIMAL(18,6),
    // sums exactly, and the double re-cast happens only at the final
    // projection — the t19 discipline.
    "t42_bm25" ->
      """WITH dd AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |    string_split(text, ' ') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM dd),
        |tfc AS (SELECT doc_id, dl, token, count(*) AS tf
        |  FROM tok GROUP BY 1, 2, 3),
        |dfc AS (SELECT token, count(*) AS doc_freq FROM tfc GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        |  FROM dd),
        |scored AS (
        |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
        |    CAST(round(
        |      round(ln((n_docs - doc_freq + CAST(0.5 AS DOUBLE))
        |                 / (doc_freq + CAST(0.5 AS DOUBLE))
        |               + CAST(1.0 AS DOUBLE)), 6)
        |      * ((c.tf * CAST(2.2 AS DOUBLE))
        |         / (c.tf + CAST(1.2 AS DOUBLE)
        |            * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
        |               * (c.dl / (CAST(sum_dl AS DOUBLE) / n_docs)))))
        |    , 6) AS DECIMAL(18,6)) AS term_w
        |  FROM tfc q
        |  JOIN tfc c ON q.token = c.token AND q.doc_id < 10 AND c.doc_id >= 10
        |  JOIN dfc ON q.token = dfc.token
        |  CROSS JOIN stats),
        |agg AS (SELECT query_id, cand_id, sum(term_w) AS score
        |  FROM scored GROUP BY 1, 2),
        |ranked AS (SELECT query_id, cand_id, score,
        |  row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rnk
        |  FROM agg)
        |SELECT query_id, cand_id, round(CAST(score AS DOUBLE), 6) AS bm25,
        |  CAST(rnk AS INT) AS rnk
        |FROM ranked WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // t44: content-defined chunk dedup — t10's md5-prefix token decode,
    // gear-style boundary mask h % 16 = 0, chunk ids as prefix sums of
    // the cut mask (DuckDB 1-based list slices mirror Spark's 0-based
    // slice/aggregate), ratios as one int/int division rounded 4dp.
    // t45: per-(source, lang) data card — exact integer aggregates with
    // single IEEE divides mirrored operand-for-operand.
    "t45_data_card" ->
      """WITH per AS (
        |  SELECT source, lang,
        |    CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |    round(CAST(sum(length(text)) AS BIGINT)
        |      / CAST(count(*) AS DOUBLE), 4) AS avg_chars,
        |    CAST(count(DISTINCT text) AS BIGINT) AS distinct_texts
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS corpus_docs FROM documents)
        |SELECT source, lang, docs, total_tokens, avg_chars, distinct_texts,
        |  round(1.0 - distinct_texts / CAST(docs AS DOUBLE), 6) AS dup_rate,
        |  round(docs * 100.0 / CAST(corpus_docs AS DOUBLE), 4) AS share_pct
        |FROM per CROSS JOIN tot
        |ORDER BY source, lang""".stripMargin,

    // t46: global training order — md5("order|"++doc_id) permutation,
    // hash-sharded (first two key nibbles mod 8), within-shard
    // row_number, manifest with the order-sensitive Σ position·residue
    // fingerprint. All exact integer/string ops; HUGEINT sums cast back
    // to BIGINT.
    "t46_training_order" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    md5('order|' || CAST(doc_id AS VARCHAR)) AS okey
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_chars, okey,
        |    CAST(((strpos('0123456789abcdef', okey[1]) - 1) * 16 +
        |          (strpos('0123456789abcdef', okey[2]) - 1)) % 8 AS INT) AS shard
        |  FROM k),
        |p AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY okey, doc_id) AS BIGINT) AS position
        |  FROM s)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min_by(doc_id, okey) AS first_doc,
        |  max_by(doc_id, okey) AS last_doc,
        |  CAST(sum(position * (doc_id % 1000003)) AS BIGINT) AS perm_fp
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    // t47: C4-style corpus-level boilerplate strip — 3-token chunks,
    // chunks in ≥3 distinct docs stripped everywhere, per-doc md5 of the
    // order-preserved surviving text. list_slice is 1-based inclusive
    // (mirrors Spark's 1-based slice(arr, start, len)).
    "t47_boilerplate_strip" ->
      """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
        |dn AS (SELECT doc_id, ts,
        |         CAST(ceil(len(ts) / 3.0) AS INT) AS n_chunks FROM toks),
        |idx AS (SELECT doc_id, ts,
        |          unnest(range(CAST(n_chunks AS BIGINT))) AS cpos FROM dn),
        |chunks AS (SELECT doc_id, CAST(cpos AS INT) AS cpos,
        |    array_to_string(list_slice(ts, cpos*3 + 1, cpos*3 + 3), ' ') AS chunk
        |  FROM idx),
        |bp AS (SELECT chunk FROM chunks
        |       GROUP BY chunk HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_chunks,
        |    string_agg(chunk, ' ' ORDER BY cpos) AS kept_text
        |  FROM chunks ANTI JOIN bp USING (chunk) GROUP BY doc_id)
        |SELECT d.doc_id, d.n_chunks,
        |  CAST(COALESCE(k.kept_chunks, 0) AS BIGINT) AS kept_chunks,
        |  CAST(d.n_chunks - COALESCE(k.kept_chunks, 0) AS BIGINT) AS removed_chunks,
        |  md5(COALESCE(k.kept_text, '')) AS kept_fp,
        |  CAST(length(COALESCE(k.kept_text, '')) AS INT) AS kept_chars,
        |  CASE WHEN d.n_chunks > 0 THEN
        |    round((d.n_chunks - COALESCE(k.kept_chunks, 0))
        |      / CAST(d.n_chunks AS DOUBLE), 6) END AS removed_pct
        |FROM dn d LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // t48: DSIR importance weights — hashed-bigram (mod 256) bag models
    // for target (lang='en') vs raw; per-bucket log-ratio of add-one
    // smoothed rates as ONE ln of an exact-integer ratio rounded 6dp;
    // per-doc Σ n_b·lr as exact DECIMAL. List indexing is 1-based.
    "t48_dsir_weights" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, str_split(text, ' ') AS ts FROM documents),
        |bg0 AS (
        |  SELECT doc_id, lang, ts,
        |    unnest(range(CAST(len(ts) - 1 AS BIGINT))) AS i
        |  FROM t WHERE len(ts) >= 2),
        |bg AS (
        |  SELECT doc_id, lang,
        |    md5(ts[CAST(i + 1 AS BIGINT)] || ' ' || ts[CAST(i + 2 AS BIGINT)]) AS m
        |  FROM bg0),
        |pdb AS (
        |  SELECT doc_id, lang, CAST((${hexToBigint("m")}) % 256 AS INT) AS b,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM bg GROUP BY 1, 2, 3),
        |cr AS (SELECT b, CAST(sum(n) AS BIGINT) AS cr FROM pdb GROUP BY b),
        |ct AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct FROM pdb
        |       WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS rtot,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n ELSE 0 END) AS BIGINT) AS ttot
        |  FROM pdb),
        |lr AS (
        |  SELECT cr.b,
        |    round(ln(((COALESCE(ct.ct, 0) + 1) * (tot.rtot + 256))
        |      / ((cr.cr + 1) * (tot.ttot + 256))), 6) AS lr
        |  FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN tot)
        |SELECT doc_id, lang,
        |  CAST(round(sum(n * CAST(lr AS DECIMAL(18,6))), 4) AS DOUBLE) AS weight
        |FROM pdb JOIN lr USING (b)
        |GROUP BY doc_id, lang
        |ORDER BY doc_id""".stripMargin,

    // t50: distilled quality filter — t49 labels (minStopwords=1), the
    // md5-'f' holdout, t48's exact likelihood-ratio algebra over 64
    // hashed-unigram buckets, decimal score vs 0, confusion matrix.
    "t50_distilled_filter" -> {
      s"""WITH $distilledModelCtes,
        |sc AS (
        |  SELECT doc_id, label, sum(n * CAST(lr AS DECIMAL(18,6))) AS s
        |  FROM pdb JOIN lab USING (doc_id) JOIN model USING (b)
        |  WHERE is_eval GROUP BY 1, 2),
        |pred AS (
        |  SELECT label,
        |    CASE WHEN s + CAST(pr AS DECIMAL(18,6)) > 0 THEN 1 ELSE 0 END
        |      AS predicted
        |  FROM sc CROSS JOIN pri)
        |SELECT label, predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY label, predicted""".stripMargin
    },

    // t54: filter operating curve — t50's exact decimal margins swept
    // over an integer θ grid; counts exact, P/R/F1 single IEEE divides
    // of exact BIGINTs rounded at the final projection.
    "t54_filter_pr_curve" -> {
      s"""WITH $distilledModelCtes,
        |sc AS (
        |  SELECT doc_id, label, sum(n * CAST(lr AS DECIMAL(18,6))) AS s
        |  FROM pdb JOIN lab USING (doc_id) JOIN model USING (b)
        |  WHERE is_eval GROUP BY 1, 2),
        |mg AS (
        |  SELECT label, s + CAST(pr AS DECIMAL(18,6)) AS margin
        |  FROM sc CROSS JOIN pri),
        |grid AS (SELECT CAST(unnest(range(-4, 5)) * 2 AS INT) AS theta),
        |cm AS (
        |  SELECT theta,
        |    CAST(sum(CASE WHEN margin > theta AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN margin > theta AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT (margin > theta) AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT (margin > theta) AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM mg CROSS JOIN grid GROUP BY theta)
        |SELECT theta, tp, fp, fn, tn,
        |  CASE WHEN tp + fp = 0 THEN 0.0
        |       ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
        |  CASE WHEN tp + fn = 0 THEN 0.0
        |       ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
        |  CASE WHEN tp * 2 + fp + fn = 0 THEN 0.0
        |       ELSE round(CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn), 6) END AS f1
        |FROM cm ORDER BY theta""".stripMargin
    },

    // t51: CCNet-style perplexity banding — hashed-unigram Laplace LM
    // over the t49-keep class, per-doc mean NLL (decimal sum, one IEEE
    // divide), tertile cut scores from the bounded md5 sample, bands by
    // value comparison.
    "t51_perplexity_bands" -> {
      s"""WITH $distilledModelCtes,
        |klm AS (
        |  SELECT b, CAST(sum(n) AS BIGINT) AS c
        |  FROM pdb JOIN lab USING (doc_id) WHERE label = 1 GROUP BY b),
        |kcounts AS (
        |  SELECT s.b, COALESCE(c, 0) AS c
        |  FROM spine s LEFT JOIN klm ON s.b = klm.b),
        |ktot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM kcounts),
        |lnp AS (
        |  SELECT b, round(ln(CAST(c + 1 AS DOUBLE) / (t + 64)), 6) AS lnp
        |  FROM kcounts CROSS JOIN ktot),
        |sc0 AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |    CAST(sum(n * CAST(-lnp AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |      AS n6
        |  FROM pdb JOIN lnp USING (b) GROUP BY doc_id),
        |sco AS (
        |  SELECT doc_id, n_tokens,
        |    CAST((2 * n6 + n_tokens) // (2 * n_tokens) AS DOUBLE)
        |      / 1000000 AS score
        |  FROM sc0),
        |scnt AS (SELECT CAST(count(*) AS BIGINT) AS sn FROM sco),
        |samp AS (
        |  SELECT doc_id, score,
        |    md5(CAST(doc_id AS VARCHAR)) AS m FROM sco),
        |ssamp AS (
        |  SELECT doc_id, score FROM samp CROSS JOIN scnt
        |  WHERE sn <= 5000 OR
        |    CAST((strpos('0123456789abcdef', m[1]) - 1) * 4096
        |       + (strpos('0123456789abcdef', m[2]) - 1) * 256
        |       + (strpos('0123456789abcdef', m[3]) - 1) * 16
        |       + (strpos('0123456789abcdef', m[4]) - 1) AS BIGINT) * sn
        |      < 5000 * 65536),
        |ranked AS (
        |  SELECT score, row_number() OVER (ORDER BY score, doc_id) AS rn,
        |    count(*) OVER () AS cnt
        |  FROM ssamp),
        |cuts AS (
        |  SELECT max(CASE WHEN rn = (cnt + 2) // 3 THEN score END) AS t1,
        |    max(CASE WHEN rn = (cnt * 2 + 2) // 3 THEN score END) AS t2
        |  FROM ranked)
        |SELECT doc_id, n_tokens, score,
        |  CASE WHEN score <= t1 THEN 'head'
        |       WHEN score <= t2 THEN 'middle'
        |       ELSE 'tail' END AS band
        |FROM sco CROSS JOIN cuts
        |ORDER BY doc_id""".stripMargin
    },

    // w17: the same trained model served per-row over the 'f' arrivals;
    // the oracle scores via the (doc, bucket) sum — decimal addition is
    // order-independent, so it equals the engine's per-token fold.
    "w17_stream_model_score" -> {
      s"""WITH $distilledModelCtes,
        |sc AS (
        |  SELECT doc_id, sum(n * CAST(lr AS DECIMAL(18,6))) AS s
        |  FROM pdb JOIN lab USING (doc_id) JOIN model USING (b)
        |  WHERE is_eval GROUP BY 1),
        |scd AS (
        |  SELECT d.lang, sc.s + (SELECT CAST(pr AS DECIMAL(18,6)) FROM pri)
        |    AS score
        |  FROM sc JOIN documents d USING (doc_id))
        |SELECT CASE WHEN score > 0 THEN 1 ELSE 0 END AS predicted, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(round(sum(score), 4) AS DOUBLE) AS score_sum
        |FROM scd GROUP BY 1, 2 ORDER BY predicted, lang""".stripMargin
    },

    "t44_cdc_chunks" ->
      s"""WITH dd AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |hs AS (SELECT doc_id, lang, toks, len(toks) AS n,
        |  list_transform(list_transform(toks, t -> md5(t)), m -> ${hexToBigint("m")}) AS hl
        |  FROM dd),
        |cu AS (SELECT *, list_transform(hl,
        |    h -> CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END) AS cut FROM hs),
        |ci AS (SELECT *, list_transform(range(n),
        |    i -> CAST(coalesce(list_sum(cut[1:i]), 0) AS BIGINT)) AS cid
        |  FROM cu),
        |ch AS (SELECT doc_id, lang,
        |  list_transform(range(CAST(cid[n] + 1 AS BIGINT)), c ->
        |    array_to_string(list_transform(
        |      list_filter(range(n), i -> cid[i+1] = c), i -> toks[i+1]), ' '))
        |    AS chunks
        |  FROM ci),
        |ex AS (SELECT doc_id, lang, unnest(chunks) AS chunk FROM ch)
        |SELECT lang, count(*) AS chunks,
        |  CAST(count(DISTINCT md5(chunk)) AS BIGINT) AS distinct_chunks,
        |  round((count(*) - count(DISTINCT md5(chunk)))
        |        / CAST(count(*) AS DOUBLE), 4) AS dup_share,
        |  round(sum(len(string_split(chunk, ' ')))
        |        / CAST(count(*) AS DOUBLE), 4) AS avg_chunk_toks
        |FROM ex GROUP BY lang ORDER BY lang""".stripMargin,

    // t43: Gopher-style repetition gate. Per-doc fractions are one
    // int/int double division rounded to 6dp → DECIMAL(18,6) (exact
    // threshold compares and exact per-language sums); bigrams via the
    // t21 list_transform positional walk (1-based DuckDB lists mirror
    // Spark's 0-based toks[i-1]/toks[i]).
    "t43_repetition" ->
      """WITH dd AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
        |uni AS (SELECT doc_id, lang, len(l) AS n, len(list_distinct(l)) AS nd
        |  FROM dd),
        |big AS (SELECT doc_id,
        |  unnest(CASE WHEN len(l) < 2 THEN []
        |         ELSE list_transform(range(len(l) - 1),
        |                             i -> l[i+1] || ' ' || l[i+2]) END) AS bg
        |  FROM dd),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2),
        |bm AS (SELECT doc_id, max(c) AS mc FROM bc GROUP BY 1),
        |per AS (
        |  SELECT u.lang,
        |    CAST(round((n - nd) / CAST(n AS DOUBLE), 6) AS DECIMAL(18,6)) AS duf,
        |    CAST(CASE WHEN n < 2 THEN 0
        |         ELSE round(coalesce(mc, 0) / CAST(n - 1 AS DOUBLE), 6) END
        |      AS DECIMAL(18,6)) AS tbf
        |  FROM uni u LEFT JOIN bm USING (doc_id))
        |SELECT lang, count(*) AS docs,
        |  CAST(count(*) FILTER (WHERE duf > 0.5 OR tbf > 0.06) AS BIGINT)
        |    AS flagged_docs,
        |  round(CAST(sum(duf) AS DOUBLE) / count(*), 4) AS avg_dup_unigram,
        |  round(CAST(sum(tbf) AS DOUBLE) / count(*), 4) AS avg_top_bigram,
        |  CAST(max(tbf) AS DOUBLE) AS max_top_bigram
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,

    // t40: CCNet-style perplexity quartiles — t19's scoring chain, the
    // SQL-standard ntile mirrored by GlobalOrder.withNtile, bucket means
    // over exact decimal sums of the 4dp-rounded per-doc scores.
    "t40_perplexity_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS occ FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(sum(occ) AS BIGINT) AS total FROM freq),
        |lp AS (
        |  SELECT tok, CAST(round(ln(occ / CAST(total AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS lp
        |  FROM freq CROSS JOIN tot),
        |doc AS (SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logprob
        |  FROM tok JOIN lp USING (tok) GROUP BY doc_id),
        |b AS (SELECT doc_id, n_tokens, avg_logprob,
        |  ntile(4) OVER (ORDER BY avg_logprob DESC, doc_id) AS bucket FROM doc)
        |SELECT CAST(bucket AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |  round(CAST(sum(CAST(avg_logprob AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 4) AS mean_logprob
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // s31: hard negatives — s01's brute scoring with the query-dependent
    // anti-label pair predicate (q.label <> c.label), k=5.
    "s31_hard_negatives" ->
      s"""WITH ${normedCte("vec_id, label")},
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neg_id, c.label AS neg_label,
        |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
        |          / (q.norm * c.norm), 6) AS cosine
        |  FROM n q JOIN n c ON q.label <> c.label
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10)
        |SELECT query_id, neg_id, neg_label, cosine, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neg_id ASC) AS rnk
        |  FROM scored)
        |WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    // s32: triplet assembly — same-label top-1 positive × anti-label
    // top-3 negatives; margins and the semi-hard band in exact DECIMAL.
    "s32_triplet_margins" ->
      s"""WITH ${normedCte("vec_id, label")},
        |ps AS (
        |  SELECT q.vec_id AS anchor_id, c.vec_id AS pos_id,
        |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
        |          / (q.norm * c.norm), 6) AS pos_cos
        |  FROM n q JOIN n c ON q.label = c.label
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |pr AS (
        |  SELECT anchor_id, pos_id, pos_cos FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY anchor_id ORDER BY pos_cos DESC, pos_id ASC) AS prnk
        |    FROM ps) WHERE prnk = 1),
        |ns AS (
        |  SELECT q.vec_id AS anchor_id, c.vec_id AS neg_id,
        |    round(list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
        |          / (q.norm * c.norm), 6) AS neg_cos
        |  FROM n q JOIN n c ON q.label <> c.label
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10),
        |nr AS (
        |  SELECT anchor_id, neg_id, neg_cos, CAST(rnk AS INT) AS rnk FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY anchor_id ORDER BY neg_cos DESC, neg_id ASC) AS rnk
        |    FROM ns) WHERE rnk <= 3)
        |SELECT p.anchor_id, pos_id, pos_cos, neg_id, neg_cos, rnk,
        |  CAST(CAST(pos_cos AS DECIMAL(18,6)) - CAST(neg_cos AS DECIMAL(18,6))
        |    AS DOUBLE) AS margin,
        |  CASE WHEN CAST(neg_cos AS DECIMAL(18,6)) < CAST(pos_cos AS DECIMAL(18,6))
        |        AND CAST(pos_cos AS DECIMAL(18,6)) - CAST(neg_cos AS DECIMAL(18,6))
        |            < CAST(0.05 AS DECIMAL(18,6))
        |       THEN 1 ELSE 0 END AS semi_hard
        |FROM pr p JOIN nr USING (anchor_id)
        |ORDER BY anchor_id, rnk""".stripMargin,

    // d31: detector ensemble agreement — d04's verified MinHash pairs vs
    // d11's SimHash64 pairs, one summary row (CTE names disjoint across
    // the two detector bundles by construction).
    "d31_detector_agreement" ->
      s"""WITH $shingleCte,
        |${lshInterCtes("linter")},
        |mh AS (
        |  SELECT d1, d2 FROM linter
        |  JOIN sizes sa ON d1 = sa.doc_id JOIN sizes sb ON d2 = sb.doc_id
        |  WHERE round(c / CAST(sa.n + sb.n - c AS DOUBLE), 4) >= 0.5),
        |$simhash64PairsCte,
        |shp AS (SELECT d1, d2 FROM pairs64 WHERE hamming <= 8),
        |agg AS (SELECT
        |  CAST((SELECT count(*) FROM mh) AS BIGINT) AS mh_pairs,
        |  CAST((SELECT count(*) FROM shp) AS BIGINT) AS sh_pairs,
        |  CAST((SELECT count(*) FROM mh SEMI JOIN shp USING (d1, d2))
        |    AS BIGINT) AS both_pairs)
        |SELECT mh_pairs, sh_pairs, both_pairs,
        |  mh_pairs - both_pairs AS mh_only,
        |  sh_pairs - both_pairs AS sh_only,
        |  CASE WHEN mh_pairs + sh_pairs > 0
        |    THEN round(2.0 * both_pairs / (mh_pairs + sh_pairs), 4) END AS dice
        |FROM agg""".stripMargin,

    // t49: Gopher rules — every threshold in integer cross-multiplied
    // form, mirroring the Spark side bit-for-bit (no float boundaries).
    "t49_gopher_rules" ->
      s"""WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    $gopherCountCols
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n_words, word_chars,
        |    CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_words,
        |    CASE WHEN 3 * n_words <= word_chars AND word_chars <= 10 * n_words
        |         THEN 1 ELSE 0 END AS r_mean_len,
        |    CASE WHEN 10 * sym_hits <= n_words THEN 1 ELSE 0 END AS r_symbol,
        |    CASE WHEN 5 * alpha_words >= 4 * n_words THEN 1 ELSE 0 END AS r_alpha,
        |    CASE WHEN stop_distinct >= 1 THEN 1 ELSE 0 END AS r_stop
        |  FROM m)
        |SELECT doc_id, n_words, word_chars, r_words, r_mean_len, r_symbol,
        |  r_alpha, r_stop,
        |  r_words * r_mean_len * r_symbol * r_alpha * r_stop AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // w16: t49's flags (minStopwords=1 driver stance) with first-failing-
    // rule attribution, aggregated per (reason, lang) — verifies the whole
    // stream route→sink→scan path since every column is row-local.
    // w19: streaming ingest ledger — the funnel verdicts replayed in
    // batch SQL: fingerprint index hit, band-min probe hit (an OLDER
    // index doc shares a bucket), t49 quality at minStopwords=1, landed;
    // the stream only accumulates monoid counts so the oracle is the
    // batch rollup verbatim.
    "w19_stream_ingest_ledger" ->
      s"""WITH $shingleCte,
        |$sigBandsCte,
        |bb AS (SELECT doc_id, band, bkey,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket FROM bands),
        |idxmin AS (SELECT band, bkey, min(doc_id) AS bmin
        |  FROM bb WHERE bucket <> 'f' GROUP BY 1, 2),
        |nearhit AS (
        |  SELECT DISTINCT a.doc_id FROM bb a JOIN idxmin m
        |    ON a.band = m.band AND a.bkey = m.bkey
        |  WHERE a.bucket = 'f' AND m.bmin < a.doc_id),
        |fpidx AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> 'f'),
        |arr AS (
        |  SELECT doc_id, lang, n_chars, text,
        |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        |  FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'),
        |mq2 AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(string_split(text, ' '),
        |      w -> length(w))) AS BIGINT) AS word_chars,
        |    CAST(len(regexp_extract_all(text, '#'))
        |       + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS sym_hits,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |      AS stop_distinct
        |  FROM arr),
        |keepv AS (
        |  SELECT doc_id,
        |    CASE WHEN n_words BETWEEN 50 AND 100000
        |          AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
        |          AND 10 * sym_hits <= n_words
        |          AND 5 * alpha_words >= 4 * n_words
        |          AND stop_distinct >= 1 THEN 1 ELSE 0 END AS keep
        |  FROM mq2),
        |v2 AS (
        |  SELECT a.lang, a.n_chars,
        |    CASE WHEN a.fp IN (SELECT fp FROM fpidx) THEN 'exact_dup'
        |         WHEN a.doc_id IN (SELECT doc_id FROM nearhit) THEN 'near_dup'
        |         WHEN k.keep = 0 THEN 'quality_reject'
        |         ELSE 'landed' END AS verdict
        |  FROM arr a JOIN keepv k USING (doc_id))
        |SELECT verdict, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM v2 GROUP BY 1, 2
        |ORDER BY verdict, lang""".stripMargin,

    // w18: streaming gate-drift monitor — w16's verdict chain reduced to
    // survivor counts per lang, then t32's JS math against the full-corpus
    // reference profile. The stream side only accumulates monoid counts,
    // so the oracle is the batch rollup verbatim.
    "w18_stream_gate_drift" ->
      s"""WITH ${gopherReasonCtes("lang")},
        |kept AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS kept_n
        |  FROM v WHERE reason = 'ok' GROUP BY 1),
        |ref AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS ref_n
        |  FROM documents GROUP BY 1),
        |grid AS (
        |  SELECT r.lang, r.ref_n, CAST(COALESCE(k.kept_n, 0) AS BIGINT) AS kept_n
        |  FROM ref r LEFT JOIN kept k USING (lang)),
        |tot AS (
        |  SELECT CAST(sum(ref_n) AS BIGINT) AS ref_total,
        |    CAST(sum(kept_n) AS BIGINT) AS kept_total FROM grid),
        |sh2 AS (
        |  SELECT lang, ref_n, kept_n,
        |    ref_n / CAST(ref_total AS DOUBLE) AS p,
        |    kept_n / CAST(kept_total AS DOUBLE) AS q
        |  FROM grid CROSS JOIN tot),
        |tt AS (
        |  SELECT lang, ref_n, kept_n, p, q, (p + q) / 2.0 AS m FROM sh2)
        |SELECT lang, ref_n, kept_n,
        |  round(p, 6) AS ref_share, round(q, 6) AS kept_share,
        |  round(CASE WHEN ref_n = 0 THEN 0.0 ELSE p * ln(p / m) / 2.0 END
        |      + CASE WHEN kept_n = 0 THEN 0.0 ELSE q * ln(q / m) / 2.0 END,
        |    6) AS js_term
        |FROM tt ORDER BY lang""".stripMargin,

    "w16_stream_quality_gate" ->
      s"""WITH ${gopherReasonCtes("lang, n_words")}
        |SELECT reason, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS words_sum
        |FROM v GROUP BY reason, lang
        |ORDER BY reason, lang""".stripMargin,
  )
}
