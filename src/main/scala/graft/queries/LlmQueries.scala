package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Td
import graft.llm.{Bpe, Chunking, Classifier, Curation, Dedup, Drift, GraphOps, Importance, Keywords, Multimodal, Pca, Sampling, Similarity, Sketches, SuffixArray, Surprisal, TextOps}
import graft.sources.LlmLake

/** LLM-training-data pipeline operators over the driver's documents /
  * embeddings tables: deduplication (exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine), similarity search (brute-force + LSH ANN),
  * text analysis (token counts, quality, language-ID, fingerprints), and
  * multimodal binary-column plumbing.
  *
  * Oracle strategy: every deterministic pipeline carries a DuckDB twin.
  * Floating-point similarity is computed over integer-quantized vectors so
  * both engines produce bit-identical doubles (see [[graft.llm.Similarity]]).
  * The MinHash query's oracle is the exact all-pairs Jaccard at the same
  * threshold — valid because the band geometry (r=4, b=32) has miss
  * probability ~1e-15 at the observed near-dup similarity (>=0.9), i.e. the
  * approximate path is exhaustive on real near-dups; the exact-confirm
  * filter removes all false positives. The LSH/IVF ANN oracles embed the
  * engine's projection geometry as literal SQL arithmetic so even the
  * bucket-dependent candidate sets hash-match exactly.
  */
object LlmQueries {

  /** DuckDB twins of TextOps.tokens / TextOps.shingles(n=3). */
  private val toksCte =
    """toks AS (SELECT doc_id, lang, source, text,
      |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      |  FROM documents)""".stripMargin
  private val shinglesCte =
    """sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
      |  FROM toks, UNNEST(range(1, greatest(len(t)-2, 1) + 1)) AS u(i))""".stripMargin

  /** Shared WITH-body of the lt31 scorecard oracle — toks → bigrams →
    * token counts → Gopher measures (`gop`) → fused signals (`sig`) —
    * factored out so chain compositions (lq11) replay the IDENTICAL
    * signal formulas, not a drifting copy. Ends without a trailing comma;
    * the fused keep verdict over aliases `s` (sig) and `a` (gop) is
    * [[scorecardKeepExpr]]. */
  private lazy val scorecardCtes: String = {
    val scoreSql = TextOps.StopwordLists.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      lang -> s"len(list_filter(t, x -> x IN ($inList)))"
    }
    val caseChain = scoreSql.init.zipWithIndex.map { case ((lang, score), i) =>
      val later = scoreSql.drop(i + 1).map(_._2)
      val laterMax = if (later.size == 1) later.head else s"greatest(${later.mkString(", ")})"
      s"WHEN $score >= $laterMax THEN '$lang'"
    }.mkString(" ")
    s"""$toksCte,
       |g AS (SELECT doc_id, list_transform(range(1, greatest(len(t)-1, 1) + 1),
       |    i -> array_to_string(t[i:i+1], ' ')) AS g FROM toks),
       |tok AS (SELECT doc_id, unnest(t) AS w, len(t) AS n FROM toks),
       |tc AS (SELECT doc_id, w, n, count(*) AS c FROM tok GROUP BY 1, 2, 3),
       |gop AS (SELECT doc_id,
       |    max(c) AS top_cnt, max(n) AS n_tok,
       |    sum(CASE WHEN w IN ('the', 'a') THEN c ELSE 0 END) AS n_stop,
       |    sum(c * length(w)) AS sum_len
       |  FROM tc GROUP BY 1),
       |sig AS (SELECT tk.doc_id,
       |    CAST(len(t) AS INT) AS n_tokens,
       |    0.4 * least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
       |      + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
       |      + 0.3 * least(((CAST(length(text) AS DOUBLE) + 1.0)
       |          / CAST(len(t) AS DOUBLE) - 1.0) / 8.0, 1.0) AS quality,
       |    1.0 - CAST(len(list_distinct(g.g)) AS DOUBLE) / CAST(len(g.g) AS DOUBLE)
       |      AS rep2,
       |    (CASE $caseChain ELSE '${scoreSql.last._1}' END) AS lang_pred
       |  FROM toks tk JOIN g ON tk.doc_id = g.doc_id)""".stripMargin
  }

  /** The lt31 fused keep verdict over `sig s` / `gop a`. */
  private val scorecardKeepExpr: String =
    """s.quality >= 0.5 AND s.rep2 <= 0.08
      |    AND CAST(a.top_cnt AS DOUBLE) / CAST(a.n_tok AS DOUBLE) <= 0.2
      |    AND CAST(a.n_stop AS DOUBLE) / CAST(a.n_tok AS DOUBLE) >= 0.01
      |    AND CAST(a.sum_len AS DOUBLE) / CAST(a.n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
      |    AND s.lang_pred = 'en'""".stripMargin

  /** Generated DuckDB replay of [[graft.llm.Bpe.trainMerges]]: `n`
    * iterations unrolled as CTEs (the lg1-pagerank pattern). Each iteration
    * k derives pairs from syms{k-1} via a lead window, elects best{k} by
    * (freq DESC, lhs, rhs), and applies the same relational leftmost-greedy
    * merge (run-start running max + position parity + consumed-lag) the
    * Scala side runs — see Bpe's scaladoc for why parity-in-run IS greedy. */
  private def bpeOracle(n: Int): String = {
    val union = (1 to n)
      .map(k => s"SELECT $k AS merge_rank, lhs, rhs, lhs || rhs AS merged, pair_freq FROM best$k")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(n)}
       |$union""".stripMargin
  }

  /** DuckDB replay of [[graft.llm.Bpe.encodeDocs]]: the SAME generated
    * training chain as [[bpeOracle]] (the final syms$n CTE IS the encoded
    * vocabulary), rolled up to word→symbol-count and joined back to the
    * doc token stream. */
  private def bpeEncodeOracle(n: Int): String =
    s"""WITH ${bpeCtes(n)},
       |wt AS (SELECT w, count(*) AS n_sym FROM syms$n GROUP BY 1),
       |stream AS (SELECT doc_id, unnest(t) AS w FROM toks)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(n_sym) AS DOUBLE) / count(*) AS fertility
       |FROM stream JOIN wt USING (w) GROUP BY doc_id""".stripMargin

  /** The generated BPE training chain through `syms$n` (shared by the
    * merge-table and encode oracles). */
  private def bpeCtes(n: Int): String = {
    val iters = (1 to n).map { k =>
      val p = k - 1
      s"""nx$k AS (SELECT w, freq, pos, sym,
         |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM syms$p),
         |best$k AS (SELECT sym AS lhs, nxt AS rhs,
         |    CAST(sum(freq) AS BIGINT) AS pair_freq
         |  FROM nx$k WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY pair_freq DESC, lhs, rhs LIMIT 1),
         |fl$k AS (SELECT *, CASE WHEN m = 1 AND (pos -
         |      max(CASE WHEN newrun = 1 THEN pos END) OVER (PARTITION BY w
         |        ORDER BY pos ROWS UNBOUNDED PRECEDING)) % 2 = 0
         |    THEN 1 ELSE 0 END AS sel
         |  FROM (SELECT *, CASE WHEN m = 1 AND
         |        coalesce(lag(m) OVER (PARTITION BY w ORDER BY pos), 0) = 0
         |      THEN 1 ELSE 0 END AS newrun
         |    FROM (SELECT x.*, CASE WHEN x.sym = b.lhs AND x.nxt = b.rhs
         |        THEN 1 ELSE 0 END AS m
         |      FROM nx$k x CROSS JOIN best$k b))),
         |syms$k AS (SELECT w, freq,
         |    row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
         |    CASE WHEN sel = 1 THEN sym || nxt ELSE sym END AS sym
         |  FROM (SELECT *, coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos),
         |      0) AS consumed FROM fl$k)
         |  WHERE consumed = 0)""".stripMargin
    }.mkString(",\n")
    s"""$toksCte,
       |words AS (SELECT w, count(*) AS freq FROM (SELECT unnest(t) AS w FROM toks)
       |  GROUP BY 1),
       |syms0 AS (SELECT w, freq, CAST(i - 1 AS BIGINT) AS pos, substr(w, CAST(i AS INT), 1) AS sym
       |  FROM words, UNNEST(range(1, length(w) + 1)) AS u(i)),
       |$iters""".stripMargin
  }

  /** Generated DuckDB replay of [[graft.llm.SuffixArray.dupSpans]]: the
    * direct suffix sort (list_slice suffixes ordered lexicographically,
    * the same total order Spark gives ArrayType), SA-adjacent LCP as the
    * min mismatching index over the unnested pair positions, and the
    * island merge — the data-dependent suffix order and every exact
    * maximal-run length hash-match end-to-end. The prefix-doubling twin
    * [[graft.llm.SuffixArray.dupSpansDoubling]] is spec-pinned equal in
    * SuffixArraySpec, so one oracle fences both implementations. */
  private def suffixOracle(minRun: Int): String =
    s"""WITH $toksCte,
       |sufs AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
       |  list_slice(t, i, len(t)) AS suf
       |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
       |ssa AS (SELECT doc_id, p, suf,
       |  row_number() OVER (ORDER BY suf, doc_id, p) AS rn FROM sufs),
       |sp AS (SELECT y.rn AS rn, x.doc_id AS da, x.p AS pa, x.suf AS sa,
       |  y.doc_id AS db, y.p AS pb, y.suf AS sb,
       |  least(len(x.suf), len(y.suf)) AS ml
       |  FROM ssa x JOIN ssa y ON y.rn = x.rn + 1),
       |plcp AS (SELECT rn, da, pa, db, pb,
       |  coalesce(min(CASE WHEN sa[CAST(i AS INT)] <> sb[CAST(i AS INT)] THEN i END),
       |    ml + 1) - 1 AS lcp
       |  FROM sp, UNNEST(range(1, ml + 1)) AS u(i)
       |  GROUP BY rn, da, pa, db, pb, ml),
       |srep AS (SELECT doc_id, p, CAST(max(lcp) AS BIGINT) AS replen FROM (
       |  SELECT da AS doc_id, pa AS p, lcp FROM plcp
       |  UNION ALL SELECT db, pb, lcp FROM plcp) GROUP BY 1, 2),
       |smarks AS (SELECT doc_id, p, p + replen AS e, replen
       |  FROM srep WHERE replen >= $minRun),
       |sisl AS (SELECT doc_id, p, e, replen,
       |  CASE WHEN coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY p
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) >= p
       |  THEN 0 ELSE 1 END AS brk FROM smarks),
       |sgrp AS (SELECT doc_id, p, e, replen,
       |  sum(brk) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS g
       |  FROM sisl)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(span_len) AS BIGINT) AS dup_tokens,
       |  CAST(max(mx) AS BIGINT) AS max_replen
       |FROM (SELECT doc_id, g, max(e) - min(p) AS span_len, max(replen) AS mx
       |  FROM sgrp GROUP BY doc_id, g)
       |GROUP BY doc_id""".stripMargin

  /** Generated DuckDB replay of [[graft.llm.SuffixArray.crossDupSpans]]:
    * the ld18 suffix sort + SA-adjacent LCP over the UNION of both
    * corpus sides (the md5 80/20 split riding each suffix), then the two
    * nearest-train-suffix LCP scans spelled as segment windows — segment
    * id = running count of train suffixes in rank order, running min of
    * the adjacent LCP within the segment with the train row's own link
    * nulled out — and the ld18 island merge over eval positions only.
    * The global `ORDER BY rn` windows are fine in a single-node oracle;
    * the Spark side runs the same recurrence as a range-partitioned
    * two-pass scan ([[graft.llm.Sampling.globalSegmentedMinScan]]). */
  private def crossSuffixOracle(minRun: Int): String =
    s"""WITH $toksCte,
       |csides AS (SELECT doc_id,
       |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 100 < 80 THEN 0 ELSE 1 END AS side FROM documents),
       |sufs AS (SELECT t.doc_id, cs.side, CAST(i - 1 AS BIGINT) AS p,
       |  list_slice(t.t, i, len(t.t)) AS suf
       |  FROM toks t JOIN csides cs ON cs.doc_id = t.doc_id,
       |  UNNEST(range(1, len(t.t) + 1)) AS u(i)),
       |ssa AS (SELECT doc_id, side, p, suf,
       |  row_number() OVER (ORDER BY suf, doc_id, p) AS rn FROM sufs),
       |sp AS (SELECT y.rn AS rn, x.suf AS sa, y.suf AS sb,
       |  least(len(x.suf), len(y.suf)) AS ml
       |  FROM ssa x JOIN ssa y ON y.rn = x.rn + 1),
       |plcp AS (SELECT rn,
       |  coalesce(min(CASE WHEN sa[CAST(i AS INT)] <> sb[CAST(i AS INT)] THEN i END),
       |    ml + 1) - 1 AS lcp
       |  FROM sp, UNNEST(range(1, ml + 1)) AS u(i)
       |  GROUP BY rn, ml),
       |r AS (SELECT s.doc_id, s.side, s.p, s.rn,
       |  a.lcp AS lcp_prev, b.lcp AS lcp_next
       |  FROM ssa s LEFT JOIN plcp a ON a.rn = s.rn
       |  LEFT JOIN plcp b ON b.rn = s.rn + 1),
       |fseg AS (SELECT *, sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)
       |    OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS segf FROM r),
       |fwd AS (SELECT *, CASE WHEN segf = 0 THEN NULL ELSE
       |    min(CASE WHEN side = 0 THEN NULL ELSE lcp_prev END)
       |      OVER (PARTITION BY segf ORDER BY rn ROWS UNBOUNDED PRECEDING)
       |  END AS cross_prev FROM fseg),
       |bseg AS (SELECT *, sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)
       |    OVER (ORDER BY rn DESC ROWS UNBOUNDED PRECEDING) AS segb FROM fwd),
       |bwd AS (SELECT *, CASE WHEN segb = 0 THEN NULL ELSE
       |    min(CASE WHEN side = 0 THEN NULL ELSE lcp_next END)
       |      OVER (PARTITION BY segb ORDER BY rn DESC ROWS UNBOUNDED PRECEDING)
       |  END AS cross_next FROM bseg),
       |crep AS (SELECT doc_id, p,
       |  greatest(coalesce(cross_prev, 0), coalesce(cross_next, 0)) AS replen
       |  FROM bwd WHERE side = 1),
       |cmarks AS (SELECT doc_id, p, p + replen AS e, replen
       |  FROM crep WHERE replen >= $minRun),
       |cisl AS (SELECT doc_id, p, e, replen,
       |  CASE WHEN coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY p
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) >= p
       |  THEN 0 ELSE 1 END AS brk FROM cmarks),
       |cgrp AS (SELECT doc_id, p, e, replen,
       |  sum(brk) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS g
       |  FROM cisl)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(span_len) AS BIGINT) AS dup_tokens,
       |  CAST(max(mx) AS BIGINT) AS max_replen
       |FROM (SELECT doc_id, g, max(e) - min(p) AS span_len, max(replen) AS mx
       |  FROM cgrp GROUP BY doc_id, g)
       |GROUP BY doc_id""".stripMargin

  /** CTE chain ending in `jac` = exact all-pairs token-3-gram Jaccard pairs
    * at `minJ` (d1 < d2). Shared by the Jaccard/MinHash oracles and the
    * cluster-survivor oracle. */
  private def jacCtes(minJ: Double): String =
    s"""$toksCte,
       |$shinglesCte,
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |jac AS (SELECT * FROM (
       |  SELECT d1, d2, n_inter,
       |    CAST(n_inter AS DOUBLE) / CAST(x.n_sh + y.n_sh - n_inter AS DOUBLE) AS jaccard
       |  FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id)
       |WHERE jaccard >= $minJ)""".stripMargin

  /** DuckDB all-pairs exact token-3-gram Jaccard at `minJ` — the oracle for
    * both the exact pipeline and the MinHash+LSH pipeline. */
  private def jaccardOracle(minJ: Double): String =
    s"""WITH ${jacCtes(minJ)}
       |SELECT d1, d2, n_inter, jaccard FROM jac""".stripMargin

  /** DuckDB twin of Dedup.simhash32 (generated bit expressions). */
  private val simhashCtes: String = {
    val bitSums = (0 until 32)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val simExpr = (0 until 32)
      .map(i => s"(CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT) AS h FROM tok),
       |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY 1),
       |sim AS (SELECT doc_id, $simExpr AS simhash FROM bits)""".stripMargin
  }

  /** DuckDB quantized-embedding CTEs (twin of Similarity.quantize):
    * per-component rows + per-vector squared norms, over `src` (the base
    * embeddings table, or a derived corpus CTE). */
  private def quantCtesFrom(src: String) =
    s"""qc AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
       |  FROM $src),
       |nrm AS (SELECT vec_id, sum(x*x) AS nn FROM qc GROUP BY 1)""".stripMargin
  private val quantCtes = quantCtesFrom("embeddings")

  /** Quantized component `d` (0-based) of an embedding row, as DuckDB SQL
    * (list indexing is 1-based). */
  private def qComp(d: Int): String =
    s"CAST(round(CAST(embedding[${d + 1}] AS DOUBLE) * 1000) AS BIGINT)"

  /** Shared tail of the ANN oracles: exact cosine over candidate pairs +
    * per-query rank (identical IEEE sequence to the engine kernels — the
    * same `dp / (sqrt(nn) * sqrt(nn))` shape ls1's oracle hash-matches). */
  private def annRankTail(k: Int): String =
    s"""dot AS (SELECT query_id, neighbor_id, sum(x.x * y.x) AS dp
       |  FROM cand JOIN qc x ON x.vec_id = query_id
       |  JOIN qc y ON y.vec_id = neighbor_id AND y.i = x.i
       |  GROUP BY 1, 2),
       |sims AS (SELECT query_id, neighbor_id,
       |    CAST(dp AS DOUBLE) / (sqrt(CAST(nx.nn AS DOUBLE)) * sqrt(CAST(ny.nn AS DOUBLE)))
       |      AS cosine
       |  FROM dot JOIN nrm nx ON query_id = nx.vec_id
       |  JOIN nrm ny ON neighbor_id = ny.vec_id)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM sims)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB twin of the engine's LSH candidate generation: the identical
    * sparse projection planes ([[Similarity.planeTerms]]) embedded as
    * literal arithmetic, summed in the same dim order — bucket codes agree
    * bit-for-bit, so "candidates = pairs sharing >= 1 bucket code" is
    * reproduced exactly and the whole LSH ANN query becomes
    * hash-checkable (previously rows-only). */
  /** `codes` CTE: one (vec_id, t, code) row per LSH table, with the
    * engine's sparse projection planes embedded as literal arithmetic
    * (same dims, same summation order → identical codes). */
  /** Per-table LSH bucket codes as literal plane arithmetic. `bits > 0`
    * embeds that fixed geometry directly; `bits == 0` derives the bit
    * count from the corpus the way [[Similarity.deriveLshBits]] does
    * (clamp(floor-log2(count/32), 4, 20)) and sums the first `db` bits of
    * a fixed 20-plane-per-table family — sound because a plane's geometry
    * is keyed by (table, plane) alone, so growing the bit count never
    * perturbs existing planes. */
  private def lshCodesCte(
      tables: Int, bits: Int, dims: Int, inv: Int,
      src: String = "embeddings"): String = {
    val maxBits = if (bits > 0) bits else 20
    val terms = Similarity.planeTerms(tables, maxBits, dims, inv)
    def planeExpr(tp: Int): String =
      if (terms(tp).isEmpty) "0.0"
      else terms(tp).map { case (d, s) =>
        val e = s"CAST(${qComp(d)} AS DOUBLE)"
        if (s > 0) e else s"(-1.0 * $e)"
      }.mkString(" + ")
    if (bits > 0) {
      def codeExpr(t: Int): String =
        (0 until bits).map { p =>
          s"(CASE WHEN (${planeExpr(t * bits + p)}) > 0 THEN ${1 << p} ELSE 0 END)"
        }.mkString(" + ")
      val codeList = (0 until tables).map(codeExpr).mkString(",\n    ")
      s"""codes AS (SELECT vec_id, unnest(range(0, $tables)) AS t,
         |  unnest([$codeList]) AS code
         |  FROM $src)""".stripMargin
    } else {
      def bitArr(t: Int): String =
        "[" + (0 until maxBits).map { p =>
          s"(CASE WHEN (${planeExpr(t * maxBits + p)}) > 0 THEN 1 ELSE 0 END)"
        }.mkString(", ") + "]"
      val arrList = (0 until tables).map(bitArr).mkString(",\n    ")
      s"""db AS (SELECT least(greatest(
         |    length(bin(greatest(count(*) // 32, 1))) - 1, 4), 20) AS b
         |  FROM $src),
         |codesN AS (SELECT vec_id, unnest(range(0, $tables)) AS t,
         |  unnest([$arrList]) AS barr
         |  FROM $src),
         |codes AS (SELECT vec_id, t,
         |    CAST(list_sum(list_transform(range(0, db.b),
         |      p -> barr[p + 1] * (1 << p))) AS BIGINT) AS code
         |  FROM codesN CROSS JOIN db)""".stripMargin
    }
  }

  /** The embedding near-dup demonstration corpus: the testdata embeddings
    * are purely random vectors (max pair cosine ~0.51 at every SF — the
    * only pairs past any threshold are the random tail, where NO LSH
    * geometry can be selective: the 0.45-vs-random per-plane agreement gap
    * is ~0.65 vs 0.5), so the scale path is demonstrated on the corpus
    * plus deterministic planted twins: every `vec_id % 50 == 0` vector
    * gains a twin (`vec_id + 1000000`) whose first component is shifted by
    * +0.25 in double space — cos(orig, twin) ≈ 0.97, squarely in the
    * near-dup regime the operator is built for. The derivation is
    * declarative on both engines (float→double widening is exact, +0.25 is
    * exact in binary, quantization follows), so the oracle reproduces the
    * corpus bit-for-bit. */
  private val plantedCorpusCte =
    """corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_concat([CAST(embedding[1] AS DOUBLE) + 0.25],
      |      list_transform(embedding[2:], x -> CAST(x AS DOUBLE))) AS embedding
      |  FROM embeddings WHERE vec_id % 50 = 0)""".stripMargin

  /** Spark twin of [[plantedCorpusCte]]. */
  private def plantedCorpus(vecs: DataFrame, dims: Int = 64): DataFrame = {
    val twins = vecs.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        concat(
          array(element_at(col("embedding"), 1).cast("double") + lit(0.25)),
          transform(slice(col("embedding"), 2, dims - 1), x => x.cast("double"))
        ).as("embedding"))
    vecs.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .unionByName(twins)
  }

  private def ls2Oracle(k: Int, tables: Int, bits: Int, dims: Int, inv: Int,
      qMod: Int, qLimit: Int): String =
    s"""WITH $quantCtes,
       |${lshCodesCte(tables, bits, dims, inv)},
       |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % $qMod = 0
       |  ORDER BY vec_id LIMIT $qLimit),
       |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM codes a JOIN qsel q ON a.vec_id = q.vec_id
       |  JOIN codes b ON a.t = b.t AND a.code = b.code
       |  WHERE a.vec_id <> b.vec_id),
       |${annRankTail(k)}""".stripMargin

  /** LSH near-dup pair oracle: symmetric code self-join (d1 < d2) then
    * exact quantized cosine at `minCos` — the twin of
    * [[Similarity.lshNearDups]] over the planted-twin corpus. */
  private def ld7Oracle(
      minCos: Double, tables: Int, bits: Int, dims: Int, inv: Int): String =
    s"""WITH $plantedCorpusCte,
       |${quantCtesFrom("corpus")},
       |${lshCodesCte(tables, bits, dims, inv, "corpus")},
       |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |  FROM codes a JOIN codes b ON a.t = b.t AND a.code = b.code
       |  WHERE a.vec_id < b.vec_id),
       |dot AS (SELECT d1, d2, sum(x.x * y.x) AS dp
       |  FROM cand JOIN qc x ON x.vec_id = d1
       |  JOIN qc y ON y.vec_id = d2 AND y.i = x.i
       |  GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT d1, d2,
       |    CAST(dp AS DOUBLE) / (sqrt(CAST(nx.nn AS DOUBLE)) * sqrt(CAST(ny.nn AS DOUBLE)))
       |      AS cosine
       |  FROM dot JOIN nrm nx ON d1 = nx.vec_id JOIN nrm ny ON d2 = ny.vec_id)
       |WHERE cosine >= $minCos""".stripMargin

  /** DuckDB twin of the IVF cell-probe candidate generation (cell = packed
    * signs of the first cellBits quantized components; probes = own cell +
    * all Hamming-1 neighbors). */
  private def ls3Oracle(k: Int, cellBits: Int, qMod: Int): String = {
    val cellExpr = (0 until cellBits)
      .map(b => s"(CASE WHEN ${qComp(b)} > 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")
    val probeList = ("cell" +: (0 until cellBits).map(b => s"xor(cell, ${1 << b})"))
      .mkString(", ")
    s"""WITH $quantCtes,
       |cells AS (SELECT vec_id, $cellExpr AS cell FROM embeddings),
       |probes AS (SELECT vec_id, unnest([$probeList]) AS cell
       |  FROM cells WHERE vec_id % $qMod = 0),
       |cand AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN cells c ON p.cell = c.cell AND p.vec_id <> c.vec_id),
       |${annRankTail(k)}""".stripMargin
  }

  /** DuckDB twin of [[Similarity.ivfLearnedTopK]] — replays the whole
    * deterministic k-means-lite training in SQL: seeds = kCells smallest
    * vec_ids (cell = rank), one Lloyd round over exact integer component
    * sums, final assignment + nprobe probing by the identical
    * `dp / (sqrt(nn_v) * sqrt(nn_c))` IEEE sequence with the identical
    * (cosine DESC, cell) tie-break. Everything data-dependent (the learned
    * centroids included) is recomputed relationally, so even the candidate
    * sets hash-match. */
  /** Prefixed CTE chain replaying the learned-IVF coarse-quantizer training
    * (seeds → one Lloyd round over exact integer sums → final ranking).
    * Ends with `${p}cells` (vec_id, cell) and exposes `${p}sc2` (the full
    * nearest-centroid ranking) for probe derivation. Prefixing lets the
    * IVFADC oracle compose this chain with [[pqTrainCtes]] in one WITH. */
  private def ivfTrainCtes(kCells: Int, p: String,
      derivedKSql: String = "least(CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))" +
        " AS BIGINT), 65536)"): String = {
    // nearest-centroid rank of every vector vs centroid sums `cs`/`csn`
    def rankCte(dotName: String, cs: String, csn: String, out: String): String =
      s"""$dotName AS (SELECT v.vec_id, c.c, sum(v.x * c.s) AS dp
         |  FROM qc v JOIN $cs c ON c.i = v.i GROUP BY 1, 2),
         |$out AS (SELECT d.vec_id, d.c,
         |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
         |      CAST(d.dp AS DOUBLE) /
         |        (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(cn.nn AS DOUBLE)))
         |        DESC, d.c) AS rn
         |  FROM $dotName d JOIN nrm n ON d.vec_id = n.vec_id
         |  JOIN $csn cn ON d.c = cn.c)""".stripMargin
    // kCells = 0 → derive the √N operating point exactly as
    // Similarity.deriveKCells does (count→double exact below 2^53, IEEE
    // sqrt/floor correctly rounded, same 65536 cap), so the auto-sizing
    // itself is part of what the hash pins
    val seedCtes = if (kCells > 0)
      s"""${p}seed AS (SELECT vec_id,
         |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
         |  FROM (SELECT vec_id FROM nrm ORDER BY vec_id LIMIT $kCells))""".stripMargin
    else
      s"""${p}kc AS (SELECT $derivedKSql AS kc FROM nrm),
         |${p}seed AS (SELECT vec_id, CAST(srn - 1 AS INT) AS c
         |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS srn
         |    FROM nrm) t CROSS JOIN ${p}kc WHERE t.srn <= kc)""".stripMargin
    s"""$seedCtes,
       |${p}c0 AS (SELECT s.c, q.i, q.x AS s FROM ${p}seed s JOIN qc q ON q.vec_id = s.vec_id),
       |${p}c0n AS (SELECT c, sum(s*s) AS nn FROM ${p}c0 GROUP BY 1),
       |${rankCte(s"${p}dot1", s"${p}c0", s"${p}c0n", s"${p}sc1")},
       |${p}a1 AS (SELECT vec_id, c FROM ${p}sc1 WHERE rn = 1),
       |${p}c1 AS (SELECT a.c, q.i, sum(q.x) AS s
       |  FROM ${p}a1 a JOIN qc q ON q.vec_id = a.vec_id GROUP BY 1, 2),
       |${p}c1n AS (SELECT c, sum(s*s) AS nn FROM ${p}c1 GROUP BY 1),
       |${rankCte(s"${p}dot2", s"${p}c1", s"${p}c1n", s"${p}sc2")},
       |${p}cells AS (SELECT vec_id, c AS cell FROM ${p}sc2 WHERE rn = 1)""".stripMargin
  }

  /** DuckDB twin of [[Similarity.cellBlockedNearDups]] over the planted
    * corpus: the SAME k-means-lite training replay as ls3 (so the
    * data-dependent cell assignments hash-match), nprobe cells per vector,
    * distinct shared-cell pairs, exact quantized-cosine confirm. */
  private def ld12Oracle(minCos: Double, kCells: Int, nprobe: Int): String =
    s"""WITH $plantedCorpusCte,
       |${quantCtesFrom("corpus")},
       |${ivfTrainCtes(kCells, "")},
       |probes AS (SELECT vec_id, c AS cell FROM sc2 WHERE rn <= $nprobe),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |  FROM probes a JOIN probes b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |dot AS (SELECT d1, d2, sum(x.x * y.x) AS dp
       |  FROM cand JOIN qc x ON x.vec_id = d1
       |  JOIN qc y ON y.vec_id = d2 AND y.i = x.i
       |  GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT d1, d2,
       |    CAST(dp AS DOUBLE) / (sqrt(CAST(nx.nn AS DOUBLE)) * sqrt(CAST(ny.nn AS DOUBLE)))
       |      AS cosine
       |  FROM dot JOIN nrm nx ON d1 = nx.vec_id JOIN nrm ny ON d2 = ny.vec_id)
       |WHERE cosine >= $minCos""".stripMargin

  /** DuckDB twin of [[Similarity.cellBlockedContamination]] over the
    * planted corpus: the ld12 quantizer-training replay, the md5 80/20
    * split, cross-side (eval × train) shared-cell candidates, exact
    * quantized-cosine confirm, and the per-eval top-hit window. */
  private def ld19Oracle(minCos: Double, nprobe: Int): String =
    s"""WITH $plantedCorpusCte,
       |${quantCtesFrom("corpus")},
       |${ivfTrainCtes(0, "")},
       |sides AS (SELECT vec_id,
       |  CASE WHEN CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    % 100 < 80 THEN 0 ELSE 1 END AS side FROM corpus),
       |probes AS (SELECT vec_id, c AS cell FROM sc2 WHERE rn <= $nprobe),
       |cand AS (SELECT DISTINCT a.vec_id AS eval_id, b.vec_id AS train_id
       |  FROM probes a JOIN sides sa ON sa.vec_id = a.vec_id AND sa.side = 1
       |  JOIN probes b ON a.cell = b.cell
       |  JOIN sides sb ON sb.vec_id = b.vec_id AND sb.side = 0),
       |cdot AS (SELECT eval_id, train_id, sum(x.x * y.x) AS dp
       |  FROM cand JOIN qc x ON x.vec_id = eval_id
       |  JOIN qc y ON y.vec_id = train_id AND y.i = x.i
       |  GROUP BY 1, 2),
       |hits AS (SELECT * FROM (
       |  SELECT eval_id, train_id,
       |    CAST(dp AS DOUBLE) / (sqrt(CAST(nx.nn AS DOUBLE)) * sqrt(CAST(ny.nn AS DOUBLE)))
       |      AS cosine
       |  FROM cdot JOIN nrm nx ON eval_id = nx.vec_id
       |  JOIN nrm ny ON train_id = ny.vec_id)
       |  WHERE cosine >= $minCos)
       |SELECT eval_id, n_hits, train_id AS top_train, cosine AS top_cos FROM (
       |  SELECT eval_id, train_id, cosine,
       |    CAST(count(*) OVER (PARTITION BY eval_id) AS BIGINT) AS n_hits,
       |    row_number() OVER (PARTITION BY eval_id
       |      ORDER BY cosine DESC, train_id) AS rn
       |  FROM hits) WHERE rn = 1""".stripMargin

  /** DuckDB twin of [[Similarity.treeBlockedNearDups]] — replays BOTH
    * quantizer levels relationally: the L1 chain is [[ivfTrainCtes]] with
    * the tree branching factor k = least(1 << ((length(bin(N)) + 2) // 3),
    * 256) (the bit-length spelling `Similarity.deriveTreeK` computes —
    * integer-exact, no float), then per-L1-cell L2 seeds (each cell's k
    * smallest members), one L2 Lloyd round over exact integer sums, and
    * the nprobe × nprobe composite probing, all through the identical
    * `dp / (sqrt(nn_v) * sqrt(nn_c))` IEEE sequence with (cosine DESC,
    * cell) ties. Data-dependent at every step, so the candidate PAIR sets
    * hash-match exactly. */
  private def ld15Oracle(minCos: Double, nprobe: Int): String = {
    val treeK =
      "least((CAST(1 AS BIGINT) << ((length(bin(count(*))) + 2) // 3)), 256)"
    s"""WITH $plantedCorpusCte,
       |${quantCtesFrom("corpus")},
       |${ivfTrainCtes(0, "t1", treeK)},
       |s2seed AS (SELECT vec_id, c1, CAST(rn2 - 1 AS INT) AS c2 FROM (
       |    SELECT a.vec_id, a.cell AS c1,
       |      row_number() OVER (PARTITION BY a.cell ORDER BY a.vec_id) AS rn2
       |    FROM t1cells a) t CROSS JOIN t1kc WHERE rn2 <= kc),
       |u0 AS (SELECT s.c1, s.c2, q.i, q.x AS s
       |  FROM s2seed s JOIN qc q ON q.vec_id = s.vec_id),
       |u0n AS (SELECT c1, c2, sum(s*s) AS nn FROM u0 GROUP BY 1, 2),
       |d2a AS (SELECT v.vec_id, a.cell AS c1, c.c2, sum(v.x * c.s) AS dp
       |  FROM qc v JOIN t1cells a ON a.vec_id = v.vec_id
       |  JOIN u0 c ON c.c1 = a.cell AND c.i = v.i GROUP BY 1, 2, 3),
       |r2a AS (SELECT d.vec_id, d.c1, d.c2,
       |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |      CAST(d.dp AS DOUBLE) /
       |        (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(cn.nn AS DOUBLE)))
       |        DESC, d.c2) AS rn
       |  FROM d2a d JOIN nrm n ON d.vec_id = n.vec_id
       |  JOIN u0n cn ON cn.c1 = d.c1 AND cn.c2 = d.c2),
       |a2 AS (SELECT vec_id, c1, c2 FROM r2a WHERE rn = 1),
       |u1 AS (SELECT a.c1, a.c2, q.i, sum(q.x) AS s
       |  FROM a2 a JOIN qc q ON q.vec_id = a.vec_id GROUP BY 1, 2, 3),
       |u1n AS (SELECT c1, c2, sum(s*s) AS nn FROM u1 GROUP BY 1, 2),
       |p1 AS (SELECT vec_id, c AS c1 FROM t1sc2 WHERE rn <= $nprobe),
       |d2f AS (SELECT v.vec_id, p.c1, c.c2, sum(v.x * c.s) AS dp
       |  FROM qc v JOIN p1 p ON p.vec_id = v.vec_id
       |  JOIN u1 c ON c.c1 = p.c1 AND c.i = v.i GROUP BY 1, 2, 3),
       |r2f AS (SELECT d.vec_id, d.c1, d.c2,
       |    row_number() OVER (PARTITION BY d.vec_id, d.c1 ORDER BY
       |      CAST(d.dp AS DOUBLE) /
       |        (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(cn.nn AS DOUBLE)))
       |        DESC, d.c2) AS rn
       |  FROM d2f d JOIN nrm n ON d.vec_id = n.vec_id
       |  JOIN u1n cn ON cn.c1 = d.c1 AND cn.c2 = d.c2),
       |probes AS (SELECT vec_id, c1, c2 FROM r2f WHERE rn <= $nprobe),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |  FROM probes a JOIN probes b
       |  ON a.c1 = b.c1 AND a.c2 = b.c2 AND a.vec_id < b.vec_id),
       |dot AS (SELECT d1, d2, sum(x.x * y.x) AS dp
       |  FROM cand JOIN qc x ON x.vec_id = d1
       |  JOIN qc y ON y.vec_id = d2 AND y.i = x.i
       |  GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT d1, d2,
       |    CAST(dp AS DOUBLE) / (sqrt(CAST(nx.nn AS DOUBLE)) * sqrt(CAST(ny.nn AS DOUBLE)))
       |      AS cosine
       |  FROM dot JOIN nrm nx ON d1 = nx.vec_id JOIN nrm ny ON d2 = ny.vec_id)
       |WHERE cosine >= $minCos""".stripMargin
  }

  private def ls3LearnedOracle(k: Int, kCells: Int, nprobe: Int, qMod: Int,
      qLimit: Int): String =
    s"""WITH $quantCtes,
       |${ivfTrainCtes(kCells, "")},
       |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % $qMod = 0
       |  ORDER BY vec_id LIMIT $qLimit),
       |probes AS (SELECT s.vec_id, s.c AS cell FROM sc2 s
       |  JOIN qsel q ON q.vec_id = s.vec_id WHERE s.rn <= $nprobe),
       |cand AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN cells c ON p.cell = c.cell AND p.vec_id <> c.vec_id),
       |${annRankTail(k)}""".stripMargin

  /** DuckDB twin of [[Similarity.pqTopK]] — replays PQ codebook training
    * (per-subspace seeds → integer L2 assignment → integer-rounded Lloyd
    * rebuild with empty clusters keeping seeds), corpus encoding, the
    * integer ADC candidate scan (top-`rerank` per query by
    * (Σ subspace d2 ASC, neighbor_id)), and the exact cosine re-rank. All
    * accumulated quantities are exact integers — only the final cosine
    * divides, through the same IEEE sequence as every ANN oracle — so the
    * data-dependent candidate sets hash-match exactly. */
  /** Prefixed CTE chain replaying PQ codebook training + corpus encoding
    * (per-subspace seeds → integer-L2 Lloyd round → integer-rounded
    * codewords, empty clusters keeping seeds). Ends with `${p}codes`
    * (vec_id, s, c) and exposes `${p}dist2` — the full per-(vector,
    * subspace, codeword) distance table, which doubles as the ADC lookup
    * table for any query subset. */
  private def pqTrainCtes(m: Int, ksub: Int, dsub: Int, p: String): String =
    s"""${p}sub AS (SELECT vec_id, CAST((i - 1) // $dsub AS INT) AS s,
       |  CAST((i - 1) % $dsub AS INT) AS j, x FROM qc),
       |${p}seed AS (SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
       |  FROM (SELECT vec_id FROM nrm ORDER BY vec_id LIMIT $ksub)),
       |${p}cb0 AS (SELECT sd.c, sb.s, sb.j, sb.x AS w
       |  FROM ${p}seed sd JOIN ${p}sub sb ON sb.vec_id = sd.vec_id),
       |${p}dist1 AS (SELECT v.vec_id, v.s, c.c, sum((v.x - c.w)*(v.x - c.w)) AS d2
       |  FROM ${p}sub v JOIN ${p}cb0 c ON c.s = v.s AND c.j = v.j GROUP BY 1, 2, 3),
       |${p}a1 AS (SELECT vec_id, s, c FROM (
       |    SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d2, c) AS rn FROM ${p}dist1)
       |  WHERE rn = 1),
       |${p}csum AS (SELECT a.s, a.c, v.j, sum(v.x) AS sx, count(*) AS n
       |  FROM ${p}a1 a JOIN ${p}sub v ON v.vec_id = a.vec_id AND v.s = a.s GROUP BY 1, 2, 3),
       |${p}cb1 AS (SELECT z.c, z.s, z.j,
       |    coalesce(CAST(floor(CAST(u.sx AS DOUBLE) / u.n + 0.5) AS BIGINT), z.w) AS w
       |  FROM ${p}cb0 z LEFT JOIN ${p}csum u ON u.s = z.s AND u.c = z.c AND u.j = z.j),
       |${p}dist2 AS (SELECT v.vec_id, v.s, c.c, sum((v.x - c.w)*(v.x - c.w)) AS d2
       |  FROM ${p}sub v JOIN ${p}cb1 c ON c.s = v.s AND c.j = v.j GROUP BY 1, 2, 3),
       |${p}codes AS (SELECT vec_id, s, c FROM (
       |    SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d2, c) AS rn FROM ${p}dist2)
       |  WHERE rn = 1)""".stripMargin

  private def ls6Oracle(k: Int, m: Int, ksub: Int, rerank: Int, dims: Int,
      qMod: Int, qLimit: Int): String =
    s"""WITH $quantCtes,
       |${pqTrainCtes(m, ksub, dims / m, "")},
       |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % $qMod = 0
       |  ORDER BY vec_id LIMIT $qLimit),
       |adc AS (SELECT l.vec_id AS query_id, cd.vec_id AS neighbor_id,
       |    sum(l.d2) AS approx_d2
       |  FROM dist2 l JOIN qsel q ON l.vec_id = q.vec_id
       |  JOIN codes cd ON cd.s = l.s AND cd.c = l.c
       |  WHERE l.vec_id <> cd.vec_id
       |  GROUP BY 1, 2),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx_d2, neighbor_id) AS rn FROM adc)
       |  WHERE rn <= $rerank),
       |${annRankTail(k)}""".stripMargin

  /** DuckDB twin of [[Similarity.ivfPqTopK]] (IVFADC): both training
    * chains composed under distinct prefixes, candidates = probed-cell
    * matches, scored by the cell-restricted integer ADC sum, exact cosine
    * re-rank. Every data-dependent intermediate — centroids, codebooks,
    * cells, codes, candidate sets — is recomputed relationally, so the
    * whole composition hash-matches. */
  private def ls7Oracle(
      k: Int, kCells: Int, nprobe: Int, m: Int, ksub: Int, rerank: Int,
      dims: Int, qMod: Int, qLimit: Int): String =
    s"""WITH $quantCtes,
       |${ivfTrainCtes(kCells, "iv")},
       |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % $qMod = 0
       |  ORDER BY vec_id LIMIT $qLimit),
       |ivprobes AS (SELECT s.vec_id, s.c AS cell FROM ivsc2 s
       |  JOIN qsel q ON q.vec_id = s.vec_id WHERE s.rn <= $nprobe),
       |${pqTrainCtes(m, ksub, dims / m, "pq")},
       |cand0 AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM ivprobes p JOIN ivcells c ON p.cell = c.cell AND p.vec_id <> c.vec_id),
       |adc AS (SELECT b.query_id, b.neighbor_id, sum(l.d2) AS approx_d2
       |  FROM cand0 b
       |  JOIN pqcodes cd ON cd.vec_id = b.neighbor_id
       |  JOIN pqdist2 l ON l.vec_id = b.query_id AND l.s = cd.s AND l.c = cd.c
       |  GROUP BY 1, 2),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx_d2, neighbor_id) AS rn FROM adc)
       |  WHERE rn <= $rerank),
       |${annRankTail(k)}""".stripMargin

  /** DuckDB twin of [[GraphOps.pagerank]] over the symmetrized Jaccard
    * near-dup graph: the fixed iterations unroll as a generated CTE chain
    * (r0 → r`iters`), every division integral (`//` on non-negative
    * BIGINTs floors exactly like Spark's `div`), so all ranks hash-match. */
  private def lg1Oracle(iters: Int, scale: Long, minJ: Double): String = {
    // MATERIALIZED: the last two levels are each referenced twice now
    // (final select + convergence compare) — plain CTEs would re-inline
    // the chain back to the shingle self-join
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT n.id,
         |    CAST((15 * $scale) // (100 * nn.n)
         |      + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst AS id, sum(p.pr // d.deg) AS s
         |    FROM edges e JOIN r${i - 1} p ON p.id = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY 1) c ON c.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${jacCtes(minJ)},
       |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
       |  UNION ALL SELECT d2, d1 FROM jac),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |r0 AS MATERIALIZED (SELECT n.id, CAST($scale // nn.n AS BIGINT) AS pr
       |  FROM nodes n CROSS JOIN nn),
       |$iterCtes
       |SELECT id AS doc_id, pr,
       |  NOT EXISTS (SELECT 1 FROM r$iters a JOIN r${iters - 1} b
       |    ON a.id = b.id AND a.pr <> b.pr) AS converged
       |FROM r$iters""".stripMargin
  }

  /** lg3 oracle: the LPA rounds unrolled as generated CTEs (the lg1
    * recipe) — each round recomputes neighbor+self vote counts and the
    * (count DESC, label ASC) argmax exactly as
    * [[graft.llm.GraphOps.labelPropagation]] does. */
  private def lg3Oracle(iters: Int, minJ: Double): String = {
    // MATERIALIZED: each l_i is referenced twice (vote join + self-votes),
    // and the last two levels additionally feed the convergence compare
    val iterCtes = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT node AS id, lbl FROM (
         |  SELECT node, lbl, row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, lbl) AS rn
         |  FROM (SELECT node, lbl, count(*) AS c FROM (
         |      SELECT e.src AS node, p.lbl FROM edges e
         |      JOIN l${i - 1} p ON p.id = e.dst
         |      UNION ALL SELECT id, lbl FROM l${i - 1})
         |    GROUP BY 1, 2)) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${jacCtes(minJ)},
       |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
       |  UNION ALL SELECT d2, d1 FROM jac),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes),
       |$iterCtes
       |SELECT id AS doc_id, lbl AS community,
       |  NOT EXISTS (SELECT 1 FROM l$iters a JOIN l${iters - 1} b
       |    ON a.id = b.id AND a.lbl <> b.lbl) AS converged
       |FROM l$iters""".stripMargin
  }

  /** DuckDB replay of [[graft.llm.GraphOps.bfsHops]] over the Jaccard
    * near-dup graph: `rounds` frontier expansions unrolled as CTEs, each
    * one propagate-join + one min fold — min() is order-independent, so
    * every round hash-matches. Sources: graph nodes with id % srcMod = 0. */
  private def lg4Oracle(rounds: Int, minJ: Double, srcMod: Int): String = {
    // MATERIALIZED: each d_i is referenced twice (propagate + carry), and
    // the last two levels additionally feed the convergence compare
    val iterCtes = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
         |  SELECT e.dst AS id, p.dist + 1 AS dist
         |  FROM edges e JOIN d${i - 1} p ON p.id = e.src
         |  UNION ALL SELECT id, dist FROM d${i - 1}) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${jacCtes(minJ)},
       |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
       |  UNION ALL SELECT d2, d1 FROM jac),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |d0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS dist FROM nodes
       |  WHERE id % $srcMod = 0),
       |$iterCtes
       |SELECT id AS doc_id, dist AS hops,
       |  ((SELECT count(*) FROM d$rounds) = (SELECT count(*) FROM d${rounds - 1})
       |   AND (SELECT coalesce(sum(dist), 0) FROM d$rounds)
       |     = (SELECT coalesce(sum(dist), 0) FROM d${rounds - 1})) AS converged
       |FROM d$rounds""".stripMargin
  }

  /** DuckDB twin of [[Similarity.mipsTopK]]: the base quantized tables are
    * built under shadow names (qc0/nrm0) and `qc`/`nrm` BECOME their
    * norm-augmented forms, so [[ivfTrainCtes]] trains the √N quantizer on
    * the augmented corpus verbatim (the ld12/ld19 shadowing pattern).
    * Query probes rank the FINAL centroids (ivfTrainCtes' c1/c1n) against
    * the raw 64-dim vectors — the i-join simply never matches the
    * augmentation component, the oracle-side spelling of append-0. Final
    * rank = exact integer dot of the ORIGINAL vectors. */
  private def mipsOracle(k: Int, nprobe: Int, qMod: Int, qLimit: Int): String =
    s"""WITH qc0 AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
       |  FROM embeddings),
       |nrm0 AS (SELECT vec_id, sum(x*x) AS nn FROM qc0 GROUP BY 1),
       |mm AS (SELECT max(nn) AS m2 FROM nrm0),
       |qc AS (SELECT vec_id, i, x FROM qc0
       |  UNION ALL SELECT vec_id, 65 AS i,
       |    CAST(floor(sqrt(CAST(m2 - nn AS DOUBLE))) AS BIGINT) AS x
       |  FROM nrm0 CROSS JOIN mm),
       |nrm AS (SELECT vec_id, sum(x*x) AS nn FROM qc GROUP BY 1),
       |${ivfTrainCtes(0, "")},
       |qsel AS (SELECT vec_id FROM nrm0 WHERE vec_id % $qMod = 0
       |  ORDER BY vec_id LIMIT $qLimit),
       |qdotq AS (SELECT v.vec_id, c.c, sum(v.x * c.s) AS dp
       |  FROM qc0 v JOIN qsel USING (vec_id) JOIN c1 c ON c.i = v.i
       |  GROUP BY 1, 2),
       |qsc AS (SELECT d.vec_id, d.c,
       |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
       |      CAST(d.dp AS DOUBLE) /
       |        (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(cn.nn AS DOUBLE)))
       |        DESC, d.c) AS rn
       |  FROM qdotq d JOIN nrm0 n ON d.vec_id = n.vec_id
       |  JOIN c1n cn ON d.c = cn.c),
       |probes AS (SELECT vec_id AS query_id, c AS cell FROM qsc WHERE rn <= $nprobe),
       |cand AS (SELECT p.query_id, cl.vec_id AS neighbor_id
       |  FROM probes p JOIN cells cl ON cl.cell = p.cell
       |  WHERE cl.vec_id <> p.query_id),
       |dpt AS (SELECT query_id, neighbor_id, CAST(sum(x.x * y.x) AS BIGINT) AS dp
       |  FROM cand JOIN qc0 x ON x.vec_id = query_id
       |  JOIN qc0 y ON y.vec_id = neighbor_id AND y.i = x.i
       |  GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT query_id, neighbor_id, dp,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY dp DESC, neighbor_id) AS INT) AS rank
       |  FROM dpt)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB twin of [[GraphOps.kCore]]: `rounds` peel rounds unrolled as
    * generated CTEs. Every e_i is referenced twice (degree count + next
    * filter), so each round is AS MATERIALIZED — plain CTEs would inline
    * the shingle self-join exponentially (the round-5 DuckDB lesson). */
  private def lg5Oracle(k: Int, rounds: Int, minJ: Double): String = {
    val iterCtes = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT id FROM (
         |    SELECT id, count(*) AS deg FROM (
         |      SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |    GROUP BY 1) WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT id FROM s$i) AND b IN (SELECT id FROM s$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${jacCtes(minJ)},
       |e0 AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM jac),
       |$iterCtes
       |SELECT id AS doc_id, core_deg,
       |  ((SELECT count(*) FROM e$rounds)
       |    = (SELECT count(*) FROM e${rounds - 1})) AS converged
       |FROM (
       |  SELECT id, CAST(count(*) AS BIGINT) AS core_deg FROM (
       |    SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |  GROUP BY 1) WHERE core_deg >= $k""".stripMargin
  }

  private def q(name: String, oracle: String)(
      f: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, f, Some(oracle))

  /** The shared src-bucketed symmetrized near-dup edge lake (minJ = 0.8)
    * behind the lake-layout graph kernels (lg6/lg8/lg9). Memoized per
    * (session, sf dir): the bucketed write is the PAY-ONCE side of the
    * layout — built by whichever kernel runs first, read exchange-free by
    * every one after (and by bench re-invocations, so the min-of-k
    * measures the steady-state read path) — and concurrent executions in
    * one JVM no longer race on a shared-named scratch db. */
  private def symEdgeLake(s: SparkSession, dir: String): graft.sources.LlmLake =
    LlmLake.memoized(s, s"edges_sym08:$dir", buckets = 8) { lk =>
      val jac = Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8)
      lk.writeEdges(symEdges(jac))
    }

  /** Symmetrize a canonical (d1 < d2) pair table into (src, dst) BOTH ways
    * via explode — ONE pass over the pair stream. The union-legged spelling
    * (`jac.select(d1, d2) unionByName jac.select(d2, d1)`) plans each leg
    * as its own copy of the whole pair pipeline and ReuseExchange does NOT
    * dedupe them (measured r13, ProbeSym: 2 SortMergeJoins in the union
    * plan, none reused) — the dedupClusters symmetrize lesson applied to
    * the graph-kernel edge builds. Row multiset is identical. */
  /** Symmetrized (src, dst) edges, PINNED to src partitioning with one
    * explicit keyed repartition — the in-session twin of the bucketed edge
    * lake: pagerank/LPA/BFS join the (corpus-dominant) edge side on src
    * once per round, and off this layout the cached edge frame never
    * re-exchanges (the lake queries lg6/lg8/lg9 get the same property from
    * their bucket-sorted scan). REPARTITION_BY_NUM so AQE cannot coalesce
    * the cache to one partition and serialize every round. */
  private def symEdges(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("d1").as("src"), col("d2").as("dst")),
        struct(col("d2").as("src"), col("d1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(
        pairs.sparkSession.sessionState.conf.numShufflePartitions, col("src"))

  /** DuckDB twins of `size(TextOps.tokens(text))` / `TextOps.qualityScore`
    * over documents-shaped rows (same expressions lt6's oracle inlines). */
  private val nTokSql =
    """CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT)"""
  private val qualitySql =
    """0.4 * least(CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE) / 100.0, 1.0)
      |    + 0.3 * (CAST(len(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS DOUBLE)
      |             / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE))
      |    + 0.3 * least(((CAST(length(text) AS DOUBLE) + 1.0)
      |             / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE) - 1.0) / 8.0, 1.0)""".stripMargin

  /** DuckDB replay of [[graft.llm.Pca.projectTop]]: covariance from one
    * pass of sufficient statistics (C = n²·Σxxᵀ − n·ssᵀ over quantized
    * vectors), sign-preserving 12-bit shift, `iters` power-iteration rounds
    * unrolled as CTEs (exact milli-unit integers; the float step is the
    * identical multiply/sqrt/divide/floor), first-nonzero sign pin, exact
    * integer projections. Every data-dependent intermediate hash-matches. */
  private def pcaOracle(iters: Int, trainMod: Int): String = {
    // every iterate is referenced twice (next iterate + its normalizer) —
    // MATERIALIZED stops DuckDB 1.0's default inlining from expanding the
    // chain exponentially back to the parquet scan
    val iterCtes = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (SELECT c.i, CAST(sum(c.c * p.v) AS BIGINT) AS w
         |  FROM cq c JOIN v${k - 1} p ON p.i = c.j GROUP BY 1),
         |n$k AS (SELECT CAST(sum(w * w) AS BIGINT) AS n2 FROM w$k),
         |v$k AS MATERIALIZED (SELECT w.i, CASE WHEN n.n2 = 0 THEN p.v
         |    ELSE CAST(floor(w.w * 1000.0 / sqrt(CAST(n.n2 AS DOUBLE))) AS BIGINT)
         |    END AS v
         |  FROM w$k w JOIN v${k - 1} p ON p.i = w.i CROSS JOIN n$k n)""".stripMargin
    }.mkString(",\n")
    // training statistics come from the (vec_id % trainMod = 0) sample —
    // Pca.topComponent's documented 100 TB sampling path — while the
    // final projection still streams the FULL corpus
    s"""WITH qc AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
       |  FROM embeddings),
       |tq AS MATERIALIZED (SELECT * FROM qc WHERE vec_id % $trainMod = 0),
       |nn AS (SELECT count(DISTINCT vec_id) AS n FROM tq),
       |sums AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM tq GROUP BY 1),
       |r AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS r
       |  FROM tq a JOIN tq b ON b.vec_id = a.vec_id GROUP BY 1, 2),
       |cov AS (SELECT r.i, r.j, nn.n * nn.n * r.r - nn.n * sa.s * sb.s AS cv
       |  FROM r JOIN sums sa ON sa.i = r.i JOIN sums sb ON sb.i = r.j
       |  CROSS JOIN nn),
       |sh AS (SELECT greatest(length(bin(max(abs(cv)))) - 12, 0) AS s FROM cov),
       |cq AS MATERIALIZED (SELECT i, j, CASE WHEN cv < 0 THEN -(abs(cv) >> s)
       |    ELSE abs(cv) >> s END AS c
       |  FROM cov CROSS JOIN sh),
       |v0 AS (SELECT DISTINCT i, CAST(353 AS BIGINT) AS v FROM qc),
       |$iterCtes,
       |sg AS (SELECT coalesce((SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END
       |    FROM v$iters WHERE v <> 0 ORDER BY i LIMIT 1), 1) AS g),
       |vf AS (SELECT i, v * g AS v FROM v$iters CROSS JOIN sg)
       |SELECT q.vec_id, CAST(sum(q.x * vf.v) AS BIGINT) AS proj
       |FROM qc q JOIN vf ON vf.i = q.i GROUP BY 1""".stripMargin
  }

  /** DuckDB replay of [[graft.llm.Classifier.nbScores]] over documents with
    * weak label = quality >= 0.5 and the md5(doc_id) % 5 test split: ends
    * with `fin` (doc_id, y, score) — the exact integer NB log-ratio score
    * of every held-out doc. Shared by lt33 (confusion) and lt34 (AUC). */
  private lazy val nbScoreCtes: String =
    s"""$toksCte,
       |lab AS (SELECT doc_id,
       |    CASE WHEN $qualitySql >= 0.5 THEN 1 ELSE 0 END AS y,
       |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 = 0) AS is_test
       |  FROM documents),
       |tf AS (SELECT t.doc_id, l.y, l.is_test, u.tk AS tok, count(*) AS m
       |  FROM toks t JOIN lab l ON l.doc_id = t.doc_id, UNNEST(t.t) AS u(tk)
       |  GROUP BY 1, 2, 3, 4),
       |model AS (SELECT tok,
       |    sum(CASE WHEN y = 1 THEN m ELSE 0 END) AS c1,
       |    sum(CASE WHEN y = 0 THEN m ELSE 0 END) AS c0
       |  FROM tf WHERE NOT is_test GROUP BY 1),
       |tot AS (SELECT
       |    sum(CASE WHEN y = 1 THEN m ELSE 0 END) AS t1,
       |    sum(CASE WHEN y = 0 THEN m ELSE 0 END) AS t0,
       |    count(DISTINCT tok) AS v,
       |    count(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS n1,
       |    count(DISTINCT CASE WHEN y = 0 THEN doc_id END) AS n0
       |  FROM tf WHERE NOT is_test),
       |sc AS (SELECT f.doc_id, f.y,
       |    sum(f.m * (length(bin(coalesce(mo.c1, 0) + 1))
       |             - length(bin(coalesce(mo.c0, 0) + 1)))) AS s_tok,
       |    sum(f.m) AS n_tok
       |  FROM tf f LEFT JOIN model mo ON mo.tok = f.tok
       |  WHERE f.is_test GROUP BY 1, 2),
       |fin AS (SELECT doc_id, y,
       |    CAST(s_tok - n_tok * (length(bin(t1 + v)) - length(bin(t0 + v)))
       |      + (length(bin(n1 + 1)) - length(bin(n0 + 1))) AS BIGINT) AS score
       |  FROM sc, tot)""".stripMargin

  /** Oracle for the bucketed-lake chain: near-dup clusters (exact Jaccard
    * transitive closure — the same equivalence ld6's oracle rests on),
    * non-survivor removal, curation filter, embeddings join. */
  private val lq1Oracle: String =
    s"""WITH RECURSIVE ${jacCtes(0.8)},
       |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
       |  UNION SELECT d2, d1 FROM jac),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |cmap AS (SELECT id AS doc_id, min(r) AS survivor_id FROM reach GROUP BY 1),
       |removed AS (SELECT doc_id FROM cmap WHERE doc_id <> survivor_id),
       |scored AS (SELECT doc_id, lang, text, $nTokSql AS n_tok, $qualitySql AS q
       |  FROM documents),
       |kept AS (SELECT * FROM scored
       |  WHERE n_tok BETWEEN 10 AND 5000 AND q >= 0.5
       |    AND doc_id NOT IN (SELECT doc_id FROM removed))
       |SELECT k.doc_id, k.lang, k.n_tok,
       |  floor(k.q * 1E6 + 0.5) / 1E6 AS quality,
       |  e.label, CAST(round(CAST(e.embedding[1] AS DOUBLE) * 1000) AS BIGINT) AS q0
       |FROM kept k JOIN embeddings e ON e.vec_id = k.doc_id""".stripMargin

  def entries: Seq[QueryDef] = Seq(

    // ── exact dedup: survivor per content hash ──
    q("ld1_exact_dedup",
      """SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.exactSurvivors(Td.table(s, dir, "documents"), "doc_id", "text")
    },

    // ── exact n-gram Jaccard near-dup pairs (baseline/confirm path) ──
    q("ld2_jaccard_pairs", jaccardOracle(0.8)) { (s, dir) =>
      Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8)
    },

    // ── MinHash + banded LSH near-dup (the 100 TB path); oracle = exact
    //    all-pairs at the same threshold (recall ~1, see object scaladoc) ──
    q("ld3_minhash_lsh_neardup", jaccardOracle(0.8)) { (s, dir) =>
      // fanned scan: the signature pipeline (tokenize+shingle+128-way
      // minhash) is the query's dominant per-row map work, and the
      // one-row-group test layout would otherwise run it as ONE task
      Dedup.minhashNearDups(Td.tableFanned(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 128, rowsPerBand = 4, minJ = 0.8)
    },

    // ── near-dup cluster survivors: connected components over the jaccard
    //    pair graph, survivor = min doc id per component. Spark side is
    //    distributed min-label propagation; DuckDB oracle is the recursive
    //    transitive closure of the same edge set. ──
    q("ld6_dedup_clusters",
      s"""WITH RECURSIVE ${jacCtes(0.8)},
         |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
         |  UNION SELECT d2, d1 FROM jac),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, min(r) AS survivor_id FROM reach GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.dedupClusters(Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8))
    },

    // ── ld6's connected components via ALTERNATING STAR CONTRACTION
    //    (r9; Kiveris et al. SoCC'14): instead of joining a node-label
    //    table against the full edge list every round (pointer doubling),
    //    each round REWRITES the edge list toward component minima —
    //    per-round shuffle bounded by the CURRENT (typically shrinking)
    //    edge count, the trillion-edge CC shape. Identical output — and
    //    oracle — to ld6: a different contraction order cannot change
    //    which component a node is in or its minimum. ──
    q("ld20_star_clusters",
      s"""WITH RECURSIVE ${jacCtes(0.8)},
         |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
         |  UNION SELECT d2, d1 FROM jac),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, min(r) AS survivor_id FROM reach GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.starClusters(Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8))
    },

    // ── SimHash near-dup pairs, hamming <= 3 (byte-band blocking is
    //    pigeonhole-complete, so this is exact, not approximate) ──
    q("ld4_simhash_neardup",
      s"""WITH $toksCte,
         |$simhashCtes
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin) { (s, dir) =>
      Dedup.simhashNearDups(
        Dedup.simhash32(Td.table(s, dir, "documents"), "doc_id", "text"), 3)
    },

    // ── embedding-cosine near-dup pairs (exact confirm path) ──
    q("ld5_embed_neardup",
      s"""WITH $quantCtes,
         |dot AS (SELECT a.vec_id AS d1, b.vec_id AS d2, sum(a.x * b.x) AS dp
         |  FROM qc a JOIN qc b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT d1, d2,
         |    CAST(dp AS DOUBLE) / (sqrt(CAST(x.nn AS DOUBLE)) * sqrt(CAST(y.nn AS DOUBLE)))
         |      AS cosine
         |  FROM dot JOIN nrm x ON d1 = x.vec_id JOIN nrm y ON d2 = y.vec_id)
         |WHERE cosine >= 0.45""".stripMargin) { (s, dir) =>
      Similarity.embeddingNearDups(Td.table(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
    },

    // ── embedding near-dup via LSH bucketing — the registered SCALE path
    //    for ld5: symmetric id-only bucket self-join (never all-pairs,
    //    nothing broadcast/collected), exact cosine confirm on candidates.
    //    Geometry 16×10-bit (invDensity 4) is the scale-safe regime: ~2% of
    //    random pairs become candidates (measured at sf0.01 AND sf0.1;
    //    SimilaritySpec pins < 5%) while cos≈0.97 twins collide with
    //    probability ~1 (planted recall 100%, also pinned). Runs at a
    //    genuine near-dup threshold (0.9) over the planted-twin corpus —
    //    see [[plantedCorpusCte]] for why the random testdata corpus can't
    //    demonstrate this regime by itself. ──
    //    r7: bits auto-size to clamp(floor-log2(N/32), 4, 20) — one more
    //    bucket bit per corpus doubling keeps expected bucket size ~32-64,
    //    so candidates stay linear in N (the ×100 run measured the fixed
    //    10-bit geometry at 337×/decade: buckets grew with the corpus and
    //    within-bucket pairs quadratically). The oracle derives the same
    //    count and sums the first `db` bits of a fixed 20-plane family.
    q("ld7_embed_neardup_lsh",
      ld7Oracle(minCos = 0.9, tables = 16, bits = 0, dims = 64, inv = 4)) { (s, dir) =>
      Similarity.lshNearDups(
        plantedCorpus(Td.table(s, dir, "embeddings")), "vec_id", "embedding", 0.9,
        tables = 16, bits = 0, invDensity = 4)
    },

    // ── SemDeDup-style cell-blocked embedding near-dups: the learned
    //    k-means clustering (ls3's coarse quantizer) IS the blocking —
    //    candidates only within shared cells, nprobe=2 so boundary-split
    //    twins still meet, exact cosine confirm. Third candidate geometry
    //    beside ld7's hyperplane buckets and ld5's all-pairs; the oracle
    //    replays the training relationally so the data-dependent cell
    //    assignments (and therefore pair sets) hash-match. ──
    //    r7: kCells auto-sizes to √N (kCells = 0) — at ×100 the fixed-16
    //    geometry made cells 100× larger and within-cell candidate pairs
    //    10,000× more numerous (the whole-surface ×100 run OOMed exactly
    //    here); √N cells keep candidates ~nprobe²·N, linear. The oracle
    //    derives the identical count relationally.
    q("ld12_semantic_dedup",
      ld12Oracle(minCos = 0.9, kCells = 0, nprobe = 2)) { (s, dir) =>
      Similarity.cellBlockedNearDups(
        plantedCorpus(Td.table(s, dir, "embeddings")), "vec_id", "embedding", 0.9,
        kCells = 0, nprobe = 2)
    },

    // ── hierarchical (two-level) SemDeDup blocking — the refinement
    //    ld12's O(N^1.5) analysis names, built instead of assumed: two
    //    quantizer levels of k ≈ N^(1/3) cells each (k derived from N's
    //    bit length — integer-exact cross-engine) put BOTH training and
    //    within-cell pairs at O(N^(4/3)); vectors probe nprobe L1 cells ×
    //    nprobe L2 centroids so boundary-split twins still meet. The
    //    oracle replays both trainings relationally — candidate pair sets
    //    hash-match. ──
    q("ld15_semantic_dedup_tree",
      ld15Oracle(minCos = 0.9, nprobe = 2)) { (s, dir) =>
      Similarity.treeBlockedNearDups(
        plantedCorpus(Td.table(s, dir, "embeddings")), "vec_id", "embedding", 0.9,
        nprobe = 2)
    },

    // ── SEMANTIC eval decontamination (cross-split embedding near-dups):
    //    eval-split vectors within cos 0.9 of ANY train vector — the
    //    embedding complement of lt10's shingle detector (a paraphrase
    //    shares no 3-grams but its embedding stays close; exact dups can
    //    never cross a hash split, so both detectors target what the
    //    split cannot prevent). ld12's √N cell blocking trained on the
    //    UNION of both splits, but the within-cell confirm loops
    //    eval × train ONLY (no train-train dots), then one eval-keyed
    //    window rolls up hits. The oracle replays the quantizer training,
    //    the md5 split, and the cross-side candidate join relationally —
    //    data-dependent cell assignments and hit sets hash-match. ──
    q("ld19_semantic_contamination",
      ld19Oracle(minCos = 0.9, nprobe = 2)) { (s, dir) =>
      val corpus = plantedCorpus(Td.table(s, dir, "embeddings"))
        .withColumn("side",
          when(pmod(Dedup.md5Hash60(col("vec_id").cast("string")), lit(100L)) < 80,
            lit(0)).otherwise(lit(1)))
      Similarity.cellBlockedContamination(corpus, "vec_id", "embedding", "side",
        minCos = 0.9, kCells = 0, nprobe = 2)
    },

    // ── asymmetric containment near-dup pairs: |A∩B| / |A| per direction
    //    — detects a doc EMBEDDED in a larger host, which Jaccard's size
    //    normalization structurally misses (spec demonstrates the case).
    //    Same shingle-hash join + DF cap as ld2. ──
    q("ld10_containment",
      s"""WITH $toksCte,
         |$shinglesCte,
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT d1, d2, n_inter,
         |    CAST(n_inter AS DOUBLE) / CAST(x.n_sh AS DOUBLE) AS c1,
         |    CAST(n_inter AS DOUBLE) / CAST(y.n_sh AS DOUBLE) AS c2
         |  FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id)
         |WHERE c1 >= 0.85 OR c2 >= 0.85""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.85)
    },

    // ── deterministic integer PageRank over the near-dup graph (graph
    //    tier beyond ld6's connected components): authority scores feed
    //    survivor selection / quality weighting. Scaled-integer ranks +
    //    integral divisions make every bit reduction-order-independent —
    //    the only way PageRank can be oracle-pinned across engines. ──
    q("lg1_pagerank",
      lg1Oracle(iters = 5, scale = 1000000000000L, minJ = 0.8)) { (s, dir) =>
      val jac = Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8)
      GraphOps.pagerank(symEdges(jac), iters = 5)
        .select(col("id").as("doc_id"), col("pr"), col("converged"))
    },

    // ── deterministic label-propagation communities over the near-dup
    //    graph: unlike ld6's connected components (one bridge edge merges
    //    two clusters), LPA's majority vote keeps densely-linked template
    //    families distinct across incidental links — the granularity a
    //    curation policy actually wants to act on. Self-inclusive votes +
    //    min-label ties make the fixed 4 rounds bit-deterministic, so the
    //    oracle replays the whole iteration as generated CTEs. ──
    q("lg3_communities", lg3Oracle(iters = 4, minJ = 0.8)) { (s, dir) =>
      val jac = Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8)
      GraphOps.labelPropagation(symEdges(jac), iters = 4)
        .select(col("id").as("doc_id"), col("community"), col("converged"))
    },

    // ── multi-source BFS hop distance over the near-dup graph: how far
    //    does influence/contamination spread from a seed set (here: graph
    //    nodes with id % 10 = 0)? Per round one src-keyed propagate join +
    //    one node-keyed min fold (map-side combinable — hub nodes never
    //    hot-spot a window partition); rounds = hop radius. min() is
    //    order-independent, so all 4 rounds replay as oracle CTEs. ──
    q("lg4_bfs_hops", lg4Oracle(rounds = 4, minJ = 0.8, srcMod = 10)) { (s, dir) =>
      val jac = Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8)
      // persisted HERE (not just inside bfsHops): `sources` is a second
      // consumer of the edge expression, and unpersisted it would re-run
      // the whole pair pipeline for the seed distinct alone
      val edges = graft.llm.Caches.persist(symEdges(jac))
      val sources = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 10 === 0)
      GraphOps.bfsHops(edges, sources, rounds = 4)
        .select(col("id").as("doc_id"), col("dist").as("hops"), col("converged"))
    },

    // ── k-core of the near-dup graph: nodes keeping >= k neighbors AMONG
    //    SURVIVORS after 4 synchronous peel rounds — pendant chains and
    //    loosely-attached tendrils peel off, dense template clusters
    //    remain (components keep both; the web-graph spam-pruning cut).
    //    Per round one degree hash-aggregate + two semi-joins; rounds
    //    bound peel DEPTH, not graph size. Exact integers, so the oracle
    //    unrolls the rounds (AS MATERIALIZED — each round is referenced
    //    twice, and DuckDB's CTE inlining would go exponential on the
    //    shingle self-join upstream, the round-5 lesson). ──
    q("lg5_kcore", lg5Oracle(k = 2, rounds = 4, minJ = 0.8)) { (s, dir) =>
      val jac = Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8)
      GraphOps.kCore(jac.select(col("d1").as("a"), col("d2").as("b")), k = 2, rounds = 4)
        .select(col("id").as("doc_id"), col("core_deg"), col("converged"))
    },

    // ── lg1's PageRank over the BUCKETED lake edge table (r9): the edge
    //    list is written once bucket-sorted on src (LlmLake.writeEdges —
    //    the pay-once write side), so every iteration's rank join reads
    //    the corpus-dominant edge side exchange-free and each round keeps
    //    only the inherent dst-keyed transpose shuffle (plan-asserted in
    //    GraphLakeSpec on GraphOps.pagerankRound). Output — and therefore
    //    the oracle — is IDENTICAL to lg1: the layout changes where rows
    //    sit, never what the integer arithmetic produces. ──
    q("lg6_pagerank_lake",
      lg1Oracle(iters = 5, scale = 1000000000000L, minJ = 0.8)) { (s, dir) =>
      GraphOps.pagerank(symEdgeLake(s, dir).edges, iters = 5)
        .select(col("id").as("doc_id"), col("pr"), col("converged"))
    },

    // ── lg3's label propagation over the SAME bucketed lake edge table:
    //    the vote-fetch join reads the src-bucketed edge side exchange-
    //    free every round (the label frame exits each round id-keyed), so
    //    a round keeps only its two inherent shuffles — the (node, label)
    //    vote transpose and the argmax re-key — where the plain layout
    //    re-exchanges the corpus-dominant edge table too (plan-asserted
    //    in GraphLakeSpec on rounds 1 AND 2). Output — and oracle — is
    //    lg3's verbatim: layout never changes what the votes count. ──
    q("lg8_communities_lake", lg3Oracle(iters = 4, minJ = 0.8)) { (s, dir) =>
      GraphOps.labelPropagation(symEdgeLake(s, dir).edges, iters = 4)
        .select(col("id").as("doc_id"), col("community"), col("converged"))
    },

    // ── lg4's multi-source BFS over the bucketed lake: the frontier
    //    propagate join rides the src bucketing exchange-free from round
    //    2 on (round 1 pays one exchange keying the caller's seed frame),
    //    leaving only the inherent id-keyed min fold per round
    //    (plan-asserted in GraphLakeSpec). Oracle is lg4's verbatim. ──
    q("lg9_bfs_lake", lg4Oracle(rounds = 4, minJ = 0.8, srcMod = 10)) { (s, dir) =>
      val edges = symEdgeLake(s, dir).edges
      val sources = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 10 === 0)
      GraphOps.bfsHops(edges, sources, rounds = 4)
        .select(col("id").as("doc_id"), col("dist").as("hops"), col("converged"))
    },

    // ── lg5's k-core via the SYMMETRIC alternating peel (r9): each round
    //    groups degrees and semi-joins survivors on the edge frame's
    //    CURRENT partitioning key, re-keying only for the other endpoint —
    //    one edge-sized exchange per round where lg5's pair formulation
    //    pays three (plan-asserted in GraphLakeSpec). Identical output to
    //    lg5 by construction (GraphOpsSpec pins it), so the oracle is
    //    lg5's verbatim. ──
    q("lg7_kcore_sym", lg5Oracle(k = 2, rounds = 4, minJ = 0.8)) { (s, dir) =>
      val jac = Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8)
      GraphOps.kCoreSym(symEdges(jac), k = 2, rounds = 4)
        .select(col("id").as("doc_id"), col("core_deg"), col("converged"))
    },

    // ── edit-distance-1 entity near-dups via complete deletion-signature
    //    blocking (SymSpell): the blocking is provably exhaustive for
    //    ED ≤ 1, so the oracle can brute-force levenshtein over all pairs
    //    and the results must match EXACTLY — a completeness check, not
    //    just a sample. ──
    q("ld11_edit_neardup",
      """SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
        |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS d
        |FROM supplier a JOIN supplier b
        |  ON a.s_suppkey < b.s_suppkey
        |  AND abs(length(a.s_name) - length(b.s_name)) <= 1
        |  AND levenshtein(a.s_name, b.s_name) <= 1""".stripMargin) { (s, dir) =>
      Dedup.editNeighborPairs(Td.table(s, dir, "supplier"), "s_suppkey", "s_name")
        .select(col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2"), col("d"))
    },

    // ── per-node triangle counts over the near-dup graph: density
    //    signal beyond ld6's components (a doc in many triangles sits in
    //    a dense template cluster, not a chance pairwise match). The
    //    jac pair table is already canonical (d1 < d2), so each triangle
    //    closes exactly once. ──
    q("lg2_triangles",
      s"""WITH ${jacCtes(0.8)},
         |e AS (SELECT d1 AS a, d2 AS b FROM jac),
         |w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.b = e2.a),
         |t AS (SELECT x, y, z FROM w JOIN e e3 ON w.x = e3.a AND w.z = e3.b),
         |c AS (SELECT id, count(*) AS triangles FROM (
         |  SELECT x AS id FROM t UNION ALL SELECT y FROM t
         |  UNION ALL SELECT z FROM t) GROUP BY 1),
         |n AS (SELECT DISTINCT a AS id FROM e UNION SELECT b FROM e)
         |SELECT n.id AS doc_id, coalesce(c.triangles, 0) AS triangles
         |FROM n LEFT JOIN c ON n.id = c.id""".stripMargin) { (s, dir) =>
      val jac = Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.8)
      GraphOps.triangleCount(jac.select(col("d1").as("a"), col("d2").as("b")))
        .select(col("id").as("doc_id"), col("triangles"))
    },

    // ── content-defined chunking dedup: boundaries from a rolling
    //    3-token hash (0 mod 8 → ~8-token chunks), so an insertion moves
    //    only nearby boundaries — the insert-robust complement to ld8's
    //    fixed-width chunks. Same per-doc dup profile. ──
    q("ld9_cdc_dedup",
      s"""WITH $toksCte,
         |pos AS (SELECT doc_id, t, generate_subscripts(t, 1) AS pos,
         |  unnest(t) AS tok FROM toks),
         |sgf AS (SELECT doc_id, pos, tok,
         |  CASE WHEN pos >= 4 AND
         |    CAST(('0x' || substr(md5(array_to_string(t[greatest(pos-3, 1):pos-1], ' ')), 1, 15)) AS BIGINT) % 8 = 0
         |    THEN 1 ELSE 0 END AS b
         |  FROM pos),
         |seg AS (SELECT doc_id, pos, tok,
         |  sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS seg FROM sgf),
         |ch AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS chunk
         |  FROM seg GROUP BY doc_id, seg),
         |nd AS (SELECT chunk, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1)
         |SELECT c.doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dup_frac
         |FROM ch c JOIN nd d ON c.chunk = d.chunk
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.cdcChunkDupStats(Td.table(s, dir, "documents"), "doc_id", "text", 8)
    },

    // ── IVFADC — the production extreme-scale ANN shape: learned IVF
    //    cells bound WHICH vectors each query touches (nprobe probed
    //    cells), PQ codes bound WHAT touching costs (m code bytes scored
    //    via the query's integer lookup table), exact cosine re-ranks the
    //    top candidates. The oracle composes BOTH training replays under
    //    distinct prefixes — centroids, codebooks, cells, codes, and the
    //    cell-restricted ADC candidates all hash-match. ──
    //    r7: the fully DISTRIBUTED IVFADC tail — what a query batch past
    //    the broadcast cap runs at 100 TB: candidates from the ls3-style
    //    cell equi-join (nothing query-side broadcasts), scored by the
    //    (query, s, c) LUT equi-join summing the identical integer ADC
    //    distances. Forced here via broadcastCap = 1 and held to ls7's
    //    EXACT oracle — broadcast path, distributed path, and the
    //    relational replay all agree bit-for-bit. ──
    q("ls15_ann_ivfpq_dist",
      ls7Oracle(k = 10, kCells = 0, nprobe = 4, m = 8, ksub = 16,
        rerank = 50, dims = 64, qMod = 40, qLimit = 50)) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.ivfPqTopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding",
        k = 10, kCells = 0, nprobe = 4, m = 8, ksub = 16, rerank = 50,
        broadcastCap = 1)
    },

    //    r7: √N auto-sized kCells + constant 50-query batch, like ls3 —
    //    the r6 probe showed ls7's apparent 24× at ×100 was the bench
    //    scaling its own query set with the corpus.
    q("ls7_ann_ivfpq",
      ls7Oracle(k = 10, kCells = 0, nprobe = 4, m = 8, ksub = 16,
        rerank = 50, dims = 64, qMod = 40, qLimit = 50)) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.ivfPqTopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding",
        k = 10, kCells = 0, nprobe = 4, m = 8, ksub = 16, rerank = 50)
    },

    // ── SQ8 — scalar-quantized int8 compressed scan (FAISS SQ8 flat
    //    shape): per-dim max-abs training, round(x·127/max_d) codes,
    //    candidates by the exact-integer weighted code dot (×max_d²),
    //    exact cosine re-rank of the top 50. The oracle replays training,
    //    encoding and scoring relationally — the data-dependent candidate
    //    sets hash-match bit-for-bit. ──
    //    r7: constant 50-query batch (the ls7 lesson, applied family-wide
    //    after the ×100 run measured the query-set-growth artifact at
    //    30×/decade here).
    q("ls8_ann_sq8",
      s"""WITH $quantCtes,
         |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % 40 = 0
         |  ORDER BY vec_id LIMIT 50),
         |mx AS (SELECT i, greatest(max(abs(x)), 1) AS mx FROM qc GROUP BY 1),
         |codes AS (SELECT vec_id, qc.i, mx, CAST(round(x * 127.0 / mx) AS BIGINT) AS cx
         |  FROM qc JOIN mx ON qc.i = mx.i),
         |adc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    sum(q.cx * c.cx * q.mx * q.mx) AS adc
         |  FROM codes q JOIN qsel ON q.vec_id = qsel.vec_id
         |  JOIN codes c ON q.i = c.i AND q.vec_id <> c.vec_id
         |  GROUP BY 1, 2),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc DESC, neighbor_id) AS cr
         |  FROM adc) WHERE cr <= 50),
         |${annRankTail(10)}""".stripMargin) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.sq8TopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding", k = 10, rerank = 50)
    },

    // ── Matryoshka ANN (MRL adaptive retrieval): candidates by the exact
    //    integer dot over the FIRST 16 of 64 dims (4× less scan traffic —
    //    truncation instead of ls8's quantization), exact full-dim cosine
    //    re-rank of the top 50. Candidate sets replay bit-for-bit in the
    //    oracle (i <= 16 over the same quantized component rows). ──
    //    r7: constant 50-query batch (the family-wide ×100 fix).
    q("ls9_ann_matryoshka",
      s"""WITH $quantCtes,
         |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % 40 = 0
         |  ORDER BY vec_id LIMIT 50),
         |pdot AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    sum(a.x * b.x) AS pd
         |  FROM qc a JOIN qsel ON a.vec_id = qsel.vec_id
         |  JOIN qc b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  WHERE a.i <= 16 GROUP BY 1, 2),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY pd DESC, neighbor_id) AS cr
         |  FROM pdot) WHERE cr <= 50),
         |${annRankTail(10)}""".stripMargin) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.matryoshkaTopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding", k = 10, prefixDims = 16, rerank = 50)
    },

    // ── chunk-granular verbatim-span dedup: per-doc duplicated-chunk
    //    profile over consecutive 16-token chunks (doc-level near-dup
    //    passes miss partially-copied spans; this is the chunk-exact
    //    complement). Single scan, single chunk-keyed exchange (window
    //    df counting), one per-doc rollup. ──
    q("ld8_chunk_dedup",
      s"""WITH $toksCte,
         |ch AS (SELECT doc_id, array_to_string(t[c*16+1 : c*16+16], ' ') AS chunk
         |  FROM toks, UNNEST(range(0, CAST(ceil(len(t)/16.0) AS INT))) AS u(c)),
         |nd AS (SELECT chunk, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1)
         |SELECT c.doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS dup_frac
         |FROM ch c JOIN nd d ON c.chunk = d.chunk
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.chunkDupStats(Td.table(s, dir, "documents"), "doc_id", "text", 16)
    },

    // ── C4-style verbatim-span SCRUB: ld8 measures duplication, this one
    //    removes it — one occurrence of each distinct 16-token chunk
    //    survives corpus-wide (globally first by (doc_id, chunk index)),
    //    and every document is reassembled from its surviving chunks in
    //    order. Single scan, single chunk-keyed exchange (row_number
    //    election), per-doc rollup reassembly (sorted-struct idiom). ──
    q("ld13_span_scrub",
      s"""WITH $toksCte,
         |ch AS (SELECT doc_id, c, array_to_string(t[c*16+1 : c*16+16], ' ') AS chunk
         |  FROM toks, UNNEST(range(0, CAST(ceil(len(t)/16.0) AS INT))) AS u(c)),
         |k AS (SELECT doc_id, c, chunk,
         |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, c) AS rn FROM ch)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY c), '')
         |    AS clean_text
         |FROM k GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.scrubDupSpans(Td.table(s, dir, "documents"), "doc_id", "text", 16)
    },

    // ── brute-force cosine top-10 ANN (queries = the 50 smallest
    //    vec_id % 40 = 0 ids — constant batch so the baseline scan cost
    //    scales with the CORPUS, not quadratically with the bench's own
    //    construction; the r7 fix applied family-wide) ──
    q("ls1_ann_topk",
      s"""WITH $quantCtes,
         |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % 40 = 0
         |  ORDER BY vec_id LIMIT 50),
         |dot AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    sum(a.x * b.x) AS dp
         |  FROM qc a JOIN qsel ON a.vec_id = qsel.vec_id
         |  JOIN qc b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |sims AS (SELECT query_id, neighbor_id,
         |    CAST(dp AS DOUBLE) / (sqrt(CAST(x.nn AS DOUBLE)) * sqrt(CAST(y.nn AS DOUBLE)))
         |      AS cosine
         |  FROM dot JOIN nrm x ON query_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id)
         |SELECT * FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |  FROM sims)
         |WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding", 10)
    },

    // ── LSH-bucketed ANN (the scale path). The oracle reproduces the
    //    EXACT candidate semantics by embedding the engine's sparse
    //    projection planes as literal arithmetic (same dims, same order →
    //    identical codes), then ranking candidates by the same quantized
    //    cosine — full hash check; SimilaritySpec additionally pins the
    //    recall floor vs ls1's brute force. ──
    //    r7: constant 50-query batch (the family-wide ×100 fix).
    q("ls2_ann_lsh",
      ls2Oracle(k = 10, tables = 16, bits = 4, dims = 64, inv = 8, qMod = 40,
        qLimit = 50)) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.lshTopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding", 10)
    },

    // ── HYBRID retrieval with reciprocal-rank fusion: the RAG-stack merge
    //    of a dense list (ls1's exact-cosine top-10 over embeddings) and a
    //    lexical list (3-gram shingle-overlap top-10 over the paired
    //    documents — the BM25 seat) into one ranking by Σ 1e6 DIV
    //    (60 + rank), RRF's 1/(c+r) weights scaled to exact integer ppm so
    //    no float division can reorder ties. Both legs and the fusion are
    //    replayed relationally; at scale the lexical leg takes the
    //    shingle DF cap (viral-boilerplate bound) like every other
    //    shingle-keyed join in the dedup tier — applied as a window over
    //    the post-probe candidate stream, not the corpus shingle table,
    //    so the cap costs one exchange of the (constant-batch) candidates
    //    rather than of the corpus. ──
    //    r7: constant 50-query batch across BOTH legs (same qsel ids
    //    drive the dense and lexical rankers — the family-wide ×100 fix).
    q("ls10_hybrid_rrf",
      s"""WITH $quantCtes,
         |$toksCte,
         |$shinglesCte,
         |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % 40 = 0
         |  ORDER BY vec_id LIMIT 50),
         |dot AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    sum(a.x * b.x) AS dp
         |  FROM qc a JOIN qsel q ON a.vec_id = q.vec_id
         |  JOIN qc b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |sims AS (SELECT query_id, neighbor_id,
         |    CAST(dp AS DOUBLE) / (sqrt(CAST(x.nn AS DOUBLE)) * sqrt(CAST(y.nn AS DOUBLE)))
         |      AS cosine
         |  FROM dot JOIN nrm x ON query_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id),
         |dense AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rank FROM sims) WHERE rank <= 10),
         |ovl AS (SELECT query_id, neighbor_id, count(*) AS ov FROM (
         |  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id
         |  FROM sh a JOIN qsel q ON a.doc_id = q.vec_id
         |  JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
         |  QUALIFY count(*) OVER (PARTITION BY a.doc_id, a.s) + 1
         |    <= ${Dedup.DefaultMaxShingleDf})
         |  GROUP BY 1, 2),
         |lex AS (SELECT query_id, neighbor_id, rank FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY ov DESC, neighbor_id) AS rank FROM ovl) WHERE rank <= 10),
         |fused AS (SELECT query_id, neighbor_id,
         |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm
         |  FROM (SELECT * FROM dense UNION ALL SELECT * FROM lex) GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rrf_ppm, rank FROM (
         |  SELECT query_id, neighbor_id, rrf_ppm,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_ppm DESC, neighbor_id) AS INT) AS rank
         |  FROM fused) WHERE rank <= 10""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val vecs = Td.tableFanned(s, dir, "embeddings")
      // one constant 50-id batch drives BOTH legs
      val qids = vecs.filter(col("vec_id") % 40 === 0)
        .orderBy("vec_id").limit(50).select("vec_id")
      val dense = Similarity.bruteForceTopK(
          vecs.join(qids, "vec_id"), vecs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val sh = Dedup.shingleTable(Td.tableFanned(s, dir, "documents"),
          "doc_id", "text", 3)
        .select(col("doc_id"), col("shingle")).distinct()
      val lex = sh.join(broadcast(qids.withColumnRenamed("vec_id", "doc_id")),
          "doc_id").as("a")
        .join(sh.as("b"), col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id"))
        // hot-shingle DF cap on the CANDIDATE stream: each (query, shingle)
        // slice holds exactly that shingle's corpus DF rows, so the window
        // rides the post-probe candidates (small — the query batch is a
        // constant 50) and the full corpus shingle table never takes an
        // extra exchange. A viral boilerplate shingle is one fat slice,
        // counted and discarded before the pair rollup can square it.
        // The slice excludes the query doc itself, so corpus DF is
        // __df + 1 — compared against the same DefaultMaxShingleDf the
        // dedup tier uses, and MIRRORED in the oracle's QUALIFY so a
        // firing cap can never diverge the two sides.
        .withColumn("__df", count(lit(1)).over(
          Window.partitionBy(col("a.doc_id"), col("a.shingle"))))
        .filter(col("__df") + 1 <= Dedup.DefaultMaxShingleDf)
        .groupBy(col("a.doc_id").as("query_id"),
          col("b.doc_id").as("neighbor_id"))
        .agg(count(lit(1)).as("ov"))
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("ov").desc, col("neighbor_id"))))
        .filter(col("rank") <= 10)
        .select("query_id", "neighbor_id", "rank")
      Similarity.rrfFuse(Seq(dense, lex), k = 10)
    },

    // ── BM25 more-like-this retrieval (k1=1.2, b=0.75) — the idf- and
    //    length-normalized lexical ranker (ls10's overlap leg has no
    //    notion of term rarity or document length; this is what the
    //    lexical seat of a RAG stack actually runs). Terms are BIGRAM
    //    windows (lt29's proven spelling): the synthetic corpus's unigram
    //    vocabulary is ~31 words all in the same power-of-two df band as
    //    N itself — every word is a stopword — while bigrams spread into
    //    discriminative df bands. Exact integer ppm arithmetic
    //    throughout: floor-log2 idf (the lt19 bin() idiom), one
    //    integer-DIV tf-saturation sequence, df·4 > N stopword cut.
    //    Constant 50-query batch; corpus postings aggregate once
    //    (map-side combined — Zipf-hot terms are agg keys, never window
    //    partitions), every query-side table broadcasts, so the corpus
    //    never exchanges by term. ──
    q("ls16_bm25",
      s"""WITH $toksCte,
         |tg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS w
         |  FROM toks, UNNEST(range(1, greatest(len(t)-1, 1) + 1)) AS u(i)),
         |lenq AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
         |  FROM tg GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len) AS BIGINT) AS sumlen FROM lenq),
         |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
         |  FROM tg GROUP BY 1, 2),
         |qsel AS (SELECT doc_id AS query_id FROM documents
         |  WHERE doc_id % 40 = 0 ORDER BY doc_id LIMIT 50),
         |qp AS (SELECT DISTINCT q.query_id, tf.w
         |  FROM tf JOIN qsel q ON tf.doc_id = q.query_id),
         |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf
         |  WHERE w IN (SELECT DISTINCT w FROM qp) GROUP BY 1),
         |wq AS (SELECT w, CAST(length(bin(n)) - length(bin(df)) AS BIGINT) AS idf2
         |  FROM dfq, st WHERE df * 4 <= n),
         |ap AS (SELECT (sumlen * 1000000) // n AS avgdl_ppm FROM st),
         |cand AS (SELECT qp.query_id, tf.doc_id AS neighbor_id, tf.tf, l.len, wq.idf2
         |  FROM qp JOIN wq ON qp.w = wq.w JOIN tf ON tf.w = qp.w
         |  JOIN lenq l ON tf.doc_id = l.doc_id
         |  WHERE tf.doc_id <> qp.query_id),
         |sc AS (SELECT query_id, neighbor_id,
         |    CAST(sum(idf2 * ((tf * 2200000 * 1000000) //
         |      (tf * 1000000 +
         |       (1200 * (250000 + (750000 * len * 1000000) // avgdl_ppm)) // 1000)))
         |      AS BIGINT) AS score_scaled
         |  FROM cand, ap GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, score_scaled, rank FROM (
         |  SELECT query_id, neighbor_id, score_scaled,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_scaled DESC, neighbor_id) AS INT) AS rank
         |  FROM sc) WHERE rank <= 10""".stripMargin) { (s, dir) =>
      val docs = Td.tableFanned(s, dir, "documents")
      Similarity.bm25MoreLikeThis(
        docs.filter(col("doc_id") % 40 === 0).orderBy("doc_id").limit(50),
        docs, "doc_id", "text", k = 10, ngram = 2)
    },

    // ── IVF ANN with a LEARNED coarse quantizer (second scale path beside
    //    LSH; the distributed cell-join shape). Centroids are trained
    //    k-means-lite from the corpus itself — deterministic seeds + one
    //    Lloyd round over exact integer sums — and the oracle replays the
    //    training relationally, so the data-dependent candidate sets
    //    hash-match exactly. Recall floor pinned by SimilaritySpec (the
    //    fixed sign-grid ivfTopK stays available as the zero-training
    //    variant, spec-covered). ──
    //    r7: kCells auto-sizes to the √N operating point (kCells = 0 →
    //    Similarity.deriveKCells; the oracle derives the identical count
    //    relationally) and the query batch is a CONSTANT 50 smallest
    //    qualifying ids, so the scaling bench measures the operator's
    //    O(√N)-per-query regime, not a query set growing with the corpus.
    q("ls3_ann_ivf",
      ls3LearnedOracle(k = 10, kCells = 0, nprobe = 4, qMod = 40,
        qLimit = 50)) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.ivfLearnedTopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding", k = 10, kCells = 0, nprobe = 4)
    },

    // ── MIPS top-k (max INNER PRODUCT, not cosine — recommender scores /
    //    unnormalized rerankers) via the norm-augmentation reduction:
    //    corpus vectors gain one floor(sqrt(M² − ‖x‖²)) component so all
    //    share ~norm M and the EXISTING IVF machinery blocks the search;
    //    queries probe with the raw vector (append-0 side). Final rank is
    //    the exact INTEGER dot of the original vectors — no float in the
    //    output. Oracle replays augmentation, √N training, probing, and
    //    rank; SimilaritySpec pins full-probe == brute MIPS and the case
    //    where inner-product and cosine order DISAGREE. ──
    q("ls17_mips", mipsOracle(k = 10, nprobe = 4, qMod = 40, qLimit = 50)) {
      (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.mipsTopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding", k = 10, kCells = 0, nprobe = 4)
    },

    // ── product-quantization ANN (ADC) — the COMPRESSED-SCAN scale path
    //    (third beside LSH buckets and IVF cells): corpus encoded as m=8
    //    codebook indices (32× smaller scan), per-query integer lookup
    //    tables score the whole code table, top-50 candidates re-ranked by
    //    exact cosine. Training, encoding, and the integer ADC scan are all
    //    replayed relationally by the oracle, so even the data-dependent
    //    candidate sets hash-match; recall floor vs ls1 brute force and the
    //    broadcast=distributed equivalence are pinned in SimilaritySpec. ──
    //    r7: constant 50-query batch (the family-wide ×100 fix).
    q("ls6_ann_pq",
      ls6Oracle(k = 10, m = 8, ksub = 16, rerank = 50, dims = 64, qMod = 40,
        qLimit = 50)) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      Similarity.pqTopK(
        vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        vecs, "vec_id", "embedding", k = 10, m = 8, ksub = 16, rerank = 50)
    },

    // ── corpus n-gram document-frequency top-k (text analysis) ──
    q("lt4_ngram_topk",
      s"""WITH $toksCte,
         |bg AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS s
         |  FROM toks, UNNEST(range(1, greatest(len(t)-1, 1) + 1)) AS u(i))
         |SELECT s AS ngram, count(*) AS df FROM bg GROUP BY 1
         |ORDER BY df DESC, ngram LIMIT 25""".stripMargin) { (s, dir) =>
      Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 2)
        .groupBy(col("shingle").as("ngram"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("ngram"))
        .limit(25)
    },

    // ── per-label embedding centroids via the one-pass vector-sum
    //    Aggregator (exact quantized sums ⇒ deterministic means) ──
    q("ls4_label_centroids",
      """WITH qc AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
        |  FROM embeddings)
        |SELECT label, CAST(dim AS INT) AS dim,
        |  CAST(sum(x) AS DOUBLE) / count(*) AS mean_q
        |FROM qc GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Similarity.labelCentroids(Td.table(s, dir, "embeddings"), "label", "embedding")
    },

    // ── text stats: token counts (plain + BPE-ish), quality score ──
    q("lt1_text_stats",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT)
        |    AS n_tokens,
        |  CAST(len(list_filter(string_split_regex(
        |      regexp_replace(text, '([.,!?;:])', ' \1 ', 'g'), '\s+'), x -> x <> '')) AS INT)
        |    AS n_bpeish,
        |  CAST(length(text) AS INT) AS n_chars_obs,
        |  0.4 * least(CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE) / 100.0, 1.0)
        |    + 0.3 * (CAST(len(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS DOUBLE)
        |             / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE))
        |    + 0.3 * least(((CAST(length(text) AS DOUBLE) + 1.0)
        |             / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE) - 1.0) / 8.0, 1.0)
        |    AS quality
        |FROM documents""".stripMargin) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      Td.table(s, dir, "documents").select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(TextOps.bpeishTokens(col("text"))).as("n_bpeish"),
        length(col("text")).as("n_chars_obs"),
        TextOps.qualityScore(toks, col("text")).as("quality"))
    },

    // ── language ID: stopword-score argmax (deterministic CASE chain).
    //    The oracle applies the identical heuristic — this checks the
    //    pipeline; the testdata's lang labels are synthetic word-salad, so
    //    agreement with the label column is not the contract. ──
    q("lt2_lang_id", {
      val scoreSql = TextOps.StopwordLists.map { case (lang, words) =>
        val inList = words.map(w => s"'$w'").mkString(", ")
        lang -> s"len(list_filter(t, x -> x IN ($inList)))"
      }
      val caseChain = scoreSql.init.zipWithIndex.map { case ((lang, score), i) =>
        val later = scoreSql.drop(i + 1).map(_._2)
        val laterMax = if (later.size == 1) later.head else s"greatest(${later.mkString(", ")})"
        s"WHEN $score >= $laterMax THEN '$lang'"
      }.mkString(" ")
      s"""WITH $toksCte
         |SELECT doc_id, lang,
         |  (CASE $caseChain ELSE '${scoreSql.last._1}' END) AS lang_pred
         |FROM toks""".stripMargin
    }) { (s, dir) =>
      Td.table(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextOps.langId(TextOps.tokens(col("text"))).as("lang_pred"))
    },

    // ── deterministic hash-split sampling (reproducible train/val/test
    //    splits): bucket = md5-hash(text) mod 100, split by bucket range.
    //    Engine-independent (md5), so the exact same rows land in the same
    //    split on any engine, any cluster size, any run. ──
    q("lt5_hash_split",
      """WITH b AS (SELECT doc_id, lang,
        |  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, count(DISTINCT lang) AS n_langs
        |FROM b GROUP BY 1""".stripMargin) { (s, dir) =>
      val bucket = pmod(Dedup.md5Hash60(col("text")), lit(100L))
      Td.table(s, dir, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("lang")).as("n_langs"))
    },

    // ── deterministic mixture sampling: per-source Bernoulli rates decided
    //    by the cross-engine md5 hash — the dataset-mixing primitive
    //    ("50% of src1, 10% of everything else"); a pure scan-stage filter ──
    q("lt7_mixture_sample", {
      val rateCase =
        """CASE WHEN source = 'src0' THEN 1.0
          |     WHEN source = 'src1' THEN 0.5
          |     WHEN source = 'src2' THEN 0.25
          |     ELSE 0.1 END""".stripMargin
      s"""SELECT doc_id, source, lang FROM documents
         |WHERE CAST(('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
         |  < CAST(round(($rateCase) * 1000) AS BIGINT)""".stripMargin
    }) { (s, dir) =>
      Sampling.mixtureSample(Td.table(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "source", "lang")
    },

    // ── deterministic quota sampling: up to 30 docs per language chosen by
    //    hash order — balanced eval subsets without a global sort ──
    q("lt8_quota_sample",
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000,
        |      doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 30""".stripMargin) { (s, dir) =>
      Sampling.quotaSample(Td.table(s, dir, "documents"), "doc_id", "lang", 30)
        .select("doc_id", "lang")
    },

    // ── TOKEN-budget mixture sampling: pretraining mixes are specified in
    //    tokens, not documents — per language, take docs in deterministic
    //    hash order while the running token total BEFORE the doc stays
    //    under that language's budget (overshoot ≤ 1 doc: taking only
    //    strictly-fitting docs would bias against long docs at the
    //    boundary). One window shuffle; same engine-independent order as
    //    lt8. ──
    q("lt12_token_budget",
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
        |  CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS hk
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |  sum(n_tok) OVER (PARTITION BY lang ORDER BY hk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tok FROM c
        |WHERE cum - n_tok <
        |  CASE WHEN lang = 'en' THEN 15000 WHEN lang = 'zh' THEN 3000 ELSE 6000 END""".stripMargin) { (s, dir) =>
      val withTok = Td.table(s, dir, "documents")
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      Sampling.tokenBudgetSample(withTok, "doc_id", "lang", "n_tok",
          Map("en" -> 15000L, "zh" -> 3000L), defaultBudget = 6000L)
        .select(col("doc_id"), col("lang"), col("n_tok"))
    },

    // ── GPT-style sequence packing: concat docs in deterministic hash
    //    order per shard, split at 512-token context boundaries — every
    //    training sequence exactly full, a doc may straddle two bins.
    //    One shuffle on the shard key; shard count scales with the
    //    cluster. ("offset" is reserved in DuckDB → bin_off.) ──
    q("lt14_sequence_pack",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
        |  FROM documents),
        |h AS (SELECT doc_id, n_tok, shard,
        |    CAST(('0x' || substr(md5(CAST(shard AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS hk
        |  FROM t),
        |c AS (SELECT doc_id, shard,
        |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tok AS strt
        |  FROM h)
        |SELECT doc_id, shard, strt // 512 AS bin, strt % 512 AS bin_off
        |FROM c""".stripMargin) { (s, dir) =>
      val withTok = Td.table(s, dir, "documents")
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      Sampling.sequencePack(withTok, "doc_id", "n_tok", ctxTokens = 512L, shards = 8)
        .withColumnRenamed("offset", "bin_off")
    },

    // ── length-bucketed dynamic batching (the pad-efficiency loader
    //    shape, vs lt14's concat-packing): band = floor-log2(n_tok) via
    //    the length(bin(w))-1 idiom, per-batch capacity
    //    budget DIV (2^(band+1)-1) so padded batch size never exceeds
    //    the budget, fill order by md5 key. One (band, shard) exchange —
    //    shard sub-key stops the ~log-many bands from hot-spotting a
    //    window partition at scale. ──
    q("lt45_length_batches",
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w,
        |    CAST(length(bin(w)) - 1 AS INT) AS band,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
        |  FROM t WHERE w >= 1),
        |c AS (SELECT doc_id, band, shard,
        |    greatest(4096 // ((CAST(1 AS BIGINT) << (band + 1)) - 1), 1) AS cap,
        |    CAST(('0x' || substr(md5(CAST(band AS VARCHAR) || ':' || CAST(shard AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
        |  FROM b),
        |p AS (SELECT doc_id, band, shard, cap,
        |    CAST(row_number() OVER (PARTITION BY band, shard ORDER BY hk, doc_id) - 1 AS BIGINT) AS pos
        |  FROM c)
        |SELECT doc_id, band, shard, pos // cap AS batch_idx, pos % cap AS slot
        |FROM p""".stripMargin) { (s, dir) =>
      val withTok = Td.table(s, dir, "documents")
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      Sampling.lengthBatches(withTok, "doc_id", "n_tok", tokenBudget = 4096L, shards = 8)
        .withColumnRenamed("id", "doc_id")
    },

    // ── seeded per-epoch corpus reshuffle (training-order primitive):
    //    deterministic pseudorandom permutation per epoch — (epoch, id)
    //    md5 key gives shard + read position; different epochs get
    //    provably different orders, same epoch is identical on any
    //    engine/run. One (epoch, shard) exchange; the epoch table is a
    //    broadcast literal. ──
    q("lt46_epoch_shuffle",
      """WITH e AS (SELECT CAST(range AS INT) AS epoch FROM range(3)),
        |h AS (SELECT d.doc_id, e.epoch,
        |    CAST(('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
        |  FROM documents d CROSS JOIN e)
        |SELECT doc_id, epoch, hk % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, hk % 8 ORDER BY hk, doc_id) - 1 AS BIGINT) AS pos
        |FROM h""".stripMargin) { (s, dir) =>
      Sampling.epochShuffle(Td.table(s, dir, "documents"), "doc_id", epochs = 3, shards = 8)
        .withColumnRenamed("id", "doc_id")
    },

    // ── epoch-aware loader manifest (lt45 × lt46 composed): for each
    //    epoch, length-banded batches built over THAT epoch's permutation
    //    — band/capacity from lt45's budget-bounded construction, order
    //    and shard placement from lt46's (epoch, id) key. One
    //    (epoch, band, shard) exchange; the epoch table is a broadcast
    //    literal. ──
    q("lt47_epoch_batches",
      """WITH e AS (SELECT CAST(range AS INT) AS epoch FROM range(3)),
        |t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS w
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(length(bin(w)) - 1 AS INT) AS band
        |  FROM t WHERE w >= 1),
        |h AS (SELECT b.doc_id, b.band, e.epoch,
        |    greatest(4096 // ((CAST(1 AS BIGINT) << (band + 1)) - 1), 1) AS cap,
        |    CAST(('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(b.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
        |  FROM b CROSS JOIN e),
        |p AS (SELECT doc_id, epoch, band, hk % 8 AS shard, cap,
        |    CAST(row_number() OVER (PARTITION BY epoch, band, hk % 8
        |      ORDER BY hk, doc_id) - 1 AS BIGINT) AS pos
        |  FROM h)
        |SELECT doc_id, epoch, band, shard, pos // cap AS batch_idx,
        |  pos % cap AS slot
        |FROM p""".stripMargin) { (s, dir) =>
      val withTok = Td.table(s, dir, "documents")
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      Sampling.epochBatches(withTok, "doc_id", "n_tok",
        tokenBudget = 4096L, epochs = 3, shards = 8)
        .withColumnRenamed("id", "doc_id")
    },

    // ── leakage-safe train/val/test split: the split key is the near-dup
    //    CLUSTER representative (ld6's components over the 0.8-Jaccard
    //    graph; singletons represent themselves), hashed with the
    //    cross-engine md5 — so two near-duplicates can never straddle the
    //    train/eval boundary, the contamination mode lt5's row-hashed
    //    split leaves open. One corpus-by-id join against the (small)
    //    cluster map on top of the ld6 machinery; the split itself is a
    //    scan-stage hash + case. ──
    q("lt48_leakage_safe_split",
      s"""WITH RECURSIVE ${jacCtes(0.8)},
         |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
         |  UNION SELECT d2, d1 FROM jac),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |cmap AS (SELECT id AS doc_id, min(r) AS survivor_id FROM reach GROUP BY 1),
         |g AS (SELECT d.doc_id, coalesce(c.survivor_id, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN cmap c ON d.doc_id = c.doc_id),
         |h AS (SELECT doc_id, group_key,
         |    CAST(('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
         |  FROM g)
         |SELECT doc_id, group_key,
         |  CASE WHEN b < 80 THEN 'train'
         |       WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM h""".stripMargin) { (s, dir) =>
      val docs = Td.table(s, dir, "documents")
      val clusters = Dedup.dedupClusters(Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"),
          "doc_id", "text", 3), 0.8))
      Sampling.leakageSafeSplit(docs, clusters, "doc_id")
    },

    // ── soft dedup (dedup-as-reweighting): weight each document by
    //    1e6 DIV cluster_size ppm instead of dropping non-survivors, so a
    //    near-dup cluster contributes one document's worth of sampling
    //    mass while keeping its internal variation available — the
    //    alternative to hard removal when cluster members are variants,
    //    not copies. Exact integer ppm; feeds lt32's weighted sampler
    //    directly. Cluster sizes aggregate the (small) membership map;
    //    the corpus takes the same single by-id join as lt48. ──
    q("lt49_soft_dedup_weights",
      s"""WITH RECURSIVE ${jacCtes(0.8)},
         |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
         |  UNION SELECT d2, d1 FROM jac),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |cmap AS MATERIALIZED (SELECT id AS doc_id, min(r) AS survivor_id
         |  FROM reach GROUP BY 1),
         |csz AS (SELECT survivor_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM cmap GROUP BY 1),
         |g AS (SELECT d.doc_id, coalesce(c.survivor_id, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN cmap c ON d.doc_id = c.doc_id)
         |SELECT g.doc_id, g.group_key,
         |  CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
         |  CAST(greatest(1000000 // coalesce(s.cluster_size, 1), 1) AS BIGINT) AS weight_ppm
         |FROM g LEFT JOIN csz s ON g.group_key = s.survivor_id""".stripMargin) { (s, dir) =>
      val docs = Td.table(s, dir, "documents")
      val clusters = Dedup.dedupClusters(Dedup.jaccardPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"),
          "doc_id", "text", 3), 0.8))
      Sampling.softDedupWeights(docs, clusters, "doc_id")
    },

    // ── the WHOLE curation chain as one hash-pinned query: lt31
    //    scorecard keep → ld1 min-id dedup per md5(text) → lt45
    //    length-bucketed batching. Spark side runs
    //    ChainStream.batchChainBatched — the SAME code object the
    //    streaming chain's equivalence spec pins against its incremental
    //    twin — so the oracle transitively fences the streaming
    //    bronze→silver→gold pipeline too: stream = batch (spec),
    //    batch = relational replay (this hash). The oracle reuses lt31's
    //    factored signal CTEs, never a drifting copy. ──
    q("lq11_chain_manifest",
      s"""WITH $scorecardCtes,
         |keep AS (SELECT s.doc_id FROM sig s JOIN gop a ON s.doc_id = a.doc_id
         |  WHERE $scorecardKeepExpr),
         |surv AS (SELECT doc_id, n_tok FROM (
         |    SELECT k.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tok,
         |      row_number() OVER (PARTITION BY md5(tk.text) ORDER BY k.doc_id) AS rn
         |    FROM keep k JOIN toks tk ON tk.doc_id = k.doc_id) z
         |  WHERE rn = 1),
         |b AS (SELECT doc_id, CAST(length(bin(n_tok)) - 1 AS INT) AS band,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
         |  FROM surv WHERE n_tok >= 1),
         |c AS (SELECT doc_id, band, shard,
         |    greatest(4096 // ((CAST(1 AS BIGINT) << (band + 1)) - 1), 1) AS cap,
         |    CAST(('0x' || substr(md5(CAST(band AS VARCHAR) || ':' || CAST(shard AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
         |  FROM b),
         |p AS (SELECT doc_id, band, shard, cap,
         |    CAST(row_number() OVER (PARTITION BY band, shard ORDER BY hk, doc_id) - 1 AS BIGINT) AS pos
         |  FROM c)
         |SELECT doc_id, band, shard, pos // cap AS batch_idx, pos % cap AS slot
         |FROM p""".stripMargin) { (s, dir) =>
      import s.implicits._
      graft.streaming.ChainStream.batchChainBatched(
        Td.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
          .as[(Long, String, String, String)],
        tokenBudget = 4096L, shards = 8)
        .toDF("doc_id", "band", "shard", "batch_idx", "slot")
    },

    // ── DSIR-style importance weights: score each doc by Σ over its
    //    tokens of (target_bucket_count+1)*1e6 DIV (raw_bucket_count+1)
    //    over 64 hashed unigram buckets (target = the 'en' slice). The
    //    bucket table is O(64) no matter the corpus, so the engine
    //    compiles it into a literal map and scores in a ZERO-shuffle
    //    scan-stage fold; the oracle computes the same integers the
    //    opposite way (explode → join → re-group) — two independent
    //    algorithms, one exact answer. ──
    q("lt15_importance_weights",
      s"""WITH $toksCte,
        |tok AS (SELECT doc_id, lang, unnest(t) AS w FROM toks),
        |b AS (SELECT doc_id,  lang,
        |    CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 64 AS b FROM tok),
        |tc AS (SELECT b, count(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b, count(*) AS cr FROM b GROUP BY 1),
        |ratio AS (SELECT rc.b, ((coalesce(ct, 0) + 1) * 1000000) // (cr + 1) AS rs
        |  FROM rc LEFT JOIN tc ON rc.b = tc.b)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(rs) AS BIGINT) AS score_scaled
        |FROM b JOIN ratio ON b.b = ratio.b
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = Td.tableFanned(s, dir, "documents")
      val buckets = 64
      val target = Importance.bucketCounts(
        docs.filter(col("lang") === "en"), "text", buckets)
      val raw = Importance.bucketCounts(docs, "text", buckets)
      Importance.scoreDocs(docs, "doc_id", "text", target, raw, buckets)
    },

    // ── Corpus-trained bigram surprisal (the CCNet/KenLM perplexity-
    //    filter shape with the LM reduced to exact integer counts):
    //    per-doc mean of floor(log2 c(prev)) - floor(log2 c(prev,cur))
    //    over a ""-sentinel bigram stream, log2 via length(bin(n)) so no
    //    transcendental can diverge between engines. Counts are hash
    //    AGGREGATES, not windows — Zipf-hot contexts ('the') would
    //    hot-spot a window partition with no map-side combine. ──
    q("lt19_surprisal",
      s"""WITH $toksCte,
        |occ AS (SELECT doc_id, CASE WHEN i = 1 THEN '' ELSE t[i-1] END AS prev,
        |    t[i] AS cur
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
        |docbg AS (SELECT doc_id, prev, cur, count(*) AS m FROM occ GROUP BY 1, 2, 3),
        |bg AS (SELECT prev, cur, CAST(sum(m) AS BIGINT) AS cbg FROM docbg GROUP BY 1, 2),
        |ctx AS (SELECT prev, CAST(sum(cbg) AS BIGINT) AS cprev FROM bg GROUP BY 1),
        |sc AS (SELECT doc_id, m, length(bin(cprev)) - length(bin(cbg)) AS s
        |  FROM docbg JOIN bg USING (prev, cur) JOIN ctx USING (prev))
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_toks,
        |  CAST(sum(m * s) AS BIGINT) AS sum_surprisal,
        |  CAST(floor(sum(m * s) * 1000000.0 / sum(m)) AS BIGINT) AS surprisal_q
        |FROM sc GROUP BY 1""".stripMargin) { (s, dir) =>
      Surprisal.bigramSurprisal(Td.tableFanned(s, dir, "documents"), "doc_id", "text")
    },

    // ── CROSS-corpus surprisal — the actual CCNet filter: the bigram LM
    //    trains ONLY on the lang='en' reference stratum, then scores
    //    EVERY doc; reference-unseen bigrams get add-one backoff
    //    (floor-log2(cprev + V) - floor-log2(cbg + 1), V = reference
    //    vocab), so out-of-domain text scores a flat log2(V) ceiling per
    //    token. Distinct from lt19 (corpus scored under ITSELF): this is
    //    the domain-shift signal, that one the outlier signal. is_ref
    //    rides the docbg group key — the reference counts are one more
    //    hash aggregate over docbg, no second tokenize pass. ──
    q("lt50_xent_filter",
      s"""WITH $toksCte,
        |occ AS (SELECT doc_id, lang = 'en' AS is_ref,
        |    CASE WHEN i = 1 THEN '' ELSE t[i-1] END AS prev, t[i] AS cur
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
        |docbg AS (SELECT doc_id, is_ref, prev, cur, count(*) AS m
        |  FROM occ GROUP BY 1, 2, 3, 4),
        |refbg AS (SELECT prev, cur, CAST(sum(m) AS BIGINT) AS cbg
        |  FROM docbg WHERE is_ref GROUP BY 1, 2),
        |refctx AS (SELECT prev, CAST(sum(cbg) AS BIGINT) AS cprev FROM refbg GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT cur) AS BIGINT) AS v FROM refbg),
        |sc AS (SELECT doc_id, m,
        |    length(bin(coalesce(cprev, 0) + v)) - length(bin(coalesce(cbg, 0) + 1)) AS s
        |  FROM docbg LEFT JOIN refbg USING (prev, cur)
        |  LEFT JOIN refctx USING (prev) CROSS JOIN vocab)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_toks,
        |  CAST(sum(m * s) AS BIGINT) AS sum_xent,
        |  CAST(floor(sum(m * s) * 1000000.0 / sum(m)) AS BIGINT) AS xent_q
        |FROM sc GROUP BY 1""".stripMargin) { (s, dir) =>
      Surprisal.crossSurprisal(Td.table(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en")
    },

    // ── trigram-INDEX phrase search (the pg_trgm / code-search shape):
    //    find every document containing a 6-token needle phrase WITHOUT
    //    scanning text — candidates are docs whose shingle postings hold
    //    ALL of the needle's token trigrams (posting intersection, cost
    //    bounded by the rarest trigram's posting list), then the tiny
    //    candidate set alone pays the exact whitespace-normalized confirm.
    //    Completeness is a theorem: a token-aligned occurrence implies
    //    every needle trigram present, so the index path returns EXACTLY
    //    the brute scan's answers — and the ORACLE runs the brute scan,
    //    making that equivalence the hash check itself. Needles derive
    //    from the corpus (tokens 3..8 of the three smallest doc_id % 97 =
    //    5 docs), so the query is self-contained at every SF. ──
    q("lt51_trgm_search",
      s"""WITH $toksCte,
        |nd AS (SELECT doc_id AS needle_src, array_to_string(t[3:8], ' ') AS needle
        |  FROM toks WHERE doc_id % 97 = 5 AND len(t) >= 8
        |  ORDER BY doc_id LIMIT 3)
        |SELECT nd.needle_src, nd.needle, t.doc_id
        |FROM toks t, nd
        |WHERE contains(' ' || array_to_string(t.t, ' ') || ' ',
        |  ' ' || nd.needle || ' ')""".stripMargin) { (s, dir) =>
      val toks = Td.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .withColumn("nt", size(col("t")))
      val needles = toks.filter(col("doc_id") % 97 === 5 && col("nt") >= 8)
        .orderBy("doc_id").limit(3)
        .select(col("doc_id").as("needle_src"),
          array_join(slice(col("t"), 3, 6), " ").as("needle"))
      val nsh = needles.select(col("needle_src"), col("needle"),
          explode(TextOps.shingles(TextOps.tokens(col("needle")), 3)).as("shingle"))
        .distinct()
      val need = nsh.groupBy("needle_src", "needle").agg(count(lit(1)).as("n_need"))
      val cand = Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3)
        .join(broadcast(nsh), Seq("shingle"))
        .groupBy("needle_src", "needle", "doc_id").agg(count(lit(1)).as("n_hit"))
        .join(broadcast(need), Seq("needle_src", "needle"))
        .where(col("n_hit") === col("n_need"))
      cand.join(toks, Seq("doc_id"))
        .where(concat(lit(" "), array_join(col("t"), " "), lit(" "))
          .contains(concat(lit(" "), col("needle"), lit(" "))))
        .select(col("needle_src"), col("needle"), col("doc_id"))
    },

    // ── corpus-snapshot TOKEN DRIFT audit (r8): the between-ingests
    //    regression check — did the token distribution move between the
    //    baseline and candidate snapshot (scraper broke, spam source
    //    flooded in)? Snapshots here are the doc_id parity halves (both
    //    engines derive them identically). Drift per token is the scaled
    //    cross-difference |o1·n2 − o2·n1| — zero iff relative frequency
    //    matches, the exact-integer per-token term of total variation,
    //    never a float ratio. ONE corpus scan (conditional sums), all
    //    comparison arithmetic on vocabulary-cardinality rows, top-30 via
    //    TakeOrderedAndProject. ──
    q("lt52_token_drift",
      s"""WITH $toksCte,
        |u AS (SELECT doc_id % 2 AS side, unnest(t) AS token FROM toks),
        |c AS (SELECT token,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
        |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o2
        |  FROM u GROUP BY 1),
        |n AS (SELECT CAST(sum(o1) AS BIGINT) AS n1,
        |    CAST(sum(o2) AS BIGINT) AS n2 FROM c)
        |SELECT token, o1, o2,
        |  CAST(abs(o1 * n2 - o2 * n1) AS BIGINT) AS drift
        |FROM c CROSS JOIN n
        |ORDER BY drift DESC, token LIMIT 30""".stripMargin) { (s, dir) =>
      Drift.tokenDrift(Td.table(s, dir, "documents"), "text",
        col("doc_id") % 2, topK = 30)
    },

    // ── EMBEDDING-space drift audit (r8): per-dimension mean shift
    //    between the two snapshot halves over milli-quantized vectors —
    //    an embedding model silently re-versioned moves mass across many
    //    dimensions, a preprocessing change moves a few. The mean
    //    comparison is the cross-difference |s1·c2 − s2·c1| (exact
    //    integers, no division). One corpus scan; all later arithmetic on
    //    DIMENSION-cardinality rows. ──
    q("ls18_embedding_drift",
      """WITH q AS (SELECT vec_id % 2 AS side,
        |    generate_subscripts(embedding, 1) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS m
        |  FROM embeddings),
        |c AS (SELECT CAST(dim AS INT) AS dim,
        |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN side = 0 THEN m ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN side = 1 THEN m ELSE 0 END) AS BIGINT) AS s2
        |  FROM q GROUP BY 1)
        |SELECT dim, c1, c2, s1, s2,
        |  CAST(abs(s1 * c2 - s2 * c1) AS BIGINT) AS drift
        |FROM c ORDER BY drift DESC, dim LIMIT 16""".stripMargin) { (s, dir) =>
      Drift.embeddingDrift(Td.table(s, dir, "embeddings"), "embedding",
        col("vec_id") % 2, topK = 16)
    },

    // ── Stratified EXACT split: per language, train/val/test by integer
    //    cross-multiplied boundaries over the deterministic hash order —
    //    every stratum gets exactly its proportions (a small language
    //    cannot draw an empty test set by Bernoulli luck, lt5's failure
    //    mode). Per-ROW assignment is the checked surface. ──
    q("lt21_stratified_split",
      """SELECT doc_id, lang, CASE WHEN rn * 100 <= n * 80 THEN 'train'
        |    WHEN rn * 100 <= n * 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000,
        |        doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)""".stripMargin) { (s, dir) =>
      Sampling.stratifiedSplit(Td.table(s, dir, "documents"), "doc_id", "lang", 80, 10)
        .select("doc_id", "lang", "split")
    },

    // ── RAG chunking: overlapping 32-token windows at stride 24 — the
    //    retrieval-granularity cut an embedding indexer consumes. ZERO
    //    shuffles: tokenize + window explode + slice are all scan-stage
    //    (plan-asserted); rows carry doc_id so downstream stages bucket
    //    without re-deriving. ──
    q("lt22_rag_chunks",
      s"""WITH $toksCte
        |SELECT doc_id, CAST(c AS INT) AS chunk_idx,
        |  CAST(c * 24 AS BIGINT) AS start_tok,
        |  CAST(least(32, len(t) - c * 24) AS BIGINT) AS n_toks,
        |  array_to_string(t[c*24+1 : c*24+32], ' ') AS chunk_text
        |FROM toks, UNNEST(range(0, CAST(ceil(len(t)/24.0) AS INT))) AS u(c)""".stripMargin) {
      (s, dir) =>
      Chunking.ragChunks(Td.table(s, dir, "documents"), "doc_id", "text", 32, 24)
    },

    // ── INCREMENTAL near-dup pairs (corpus append): only old–new and
    //    new–new pairs ("new" = doc_id % 10 = 7) — the build side of the
    //    shingle join is just the new batch, so appending 1% costs ~1%
    //    of a full rerun, never |corpus|². The oracle computes all-pairs
    //    and filters: the incremental pair set must match EXACTLY. ──
    q("ld14_incremental_neardup",
      s"""WITH ${jacCtes(0.5)}
        |SELECT d1, d2, n_inter, jaccard FROM jac
        |WHERE d1 % 10 = 7 OR d2 % 10 = 7""".stripMargin) { (s, dir) =>
      Dedup.incrementalJaccardPairs(
        Td.table(s, dir, "documents"), "doc_id", "text", 3,
        col("doc_id") % 10 === 7, 0.5)
    },

    // ── Count-min-sketch heavy hitters: top-10 tokens with their CMS
    //    estimates from a 4×64 DETERMINISTIC-hash sketch — the counter
    //    table is O(d·w) regardless of stream size (partial aggregation
    //    absorbs everything map-side), and the oracle replays the SKETCH
    //    itself, pinning each estimate and the one-sided-error verdict. ──
    q("lt23_cms_heavy_hitters",
      s"""WITH $toksCte,
        |tok AS (SELECT unnest(t) AS token FROM toks),
        |tc AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |hh AS (SELECT j, token, n,
        |    CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15))
        |      AS BIGINT) % 64 AS h
        |  FROM tc CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
        |counters AS (SELECT j, h, CAST(sum(n) AS BIGINT) AS c FROM hh GROUP BY 1, 2),
        |top AS (SELECT token, n FROM tc ORDER BY n DESC, token LIMIT 10)
        |SELECT t.token, max(t.n) AS exact_count,
        |  CAST(min(c.c) AS BIGINT) AS cms_estimate,
        |  min(c.c) >= max(t.n) AS never_underestimates
        |FROM top t JOIN hh ON hh.token = t.token
        |JOIN counters c ON c.j = hh.j AND c.h = hh.h
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Sketches.cmsHeavyHitters(Td.table(s, dir, "documents"), "doc_id", "text")
    },

    // ── tf-idf keyword extraction: top-3 tokens per doc by exact-integer
    //    tf × (floor(log2 N) − floor(log2 df)) — the labeling/routing
    //    signal (cluster naming, topic filters) with idf's log reduced to
    //    length(bin(n)) so both engines rank identically. Corpus doc
    //    count rides the plan as a 1-row cross-joined aggregate. ──
    q("lt20_tfidf_keywords",
      s"""WITH $toksCte,
        |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
        |sc AS (SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
        |    CAST(tf * (length(bin(n)) - length(bin(df))) AS BIGINT) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN nd)
        |SELECT doc_id, token, tf, score, CAST(rn AS INT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token) AS rn FROM sc)
        |WHERE rn <= 3""".stripMargin) { (s, dir) =>
      Keywords.tfidfKeywords(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3)
    },

    // ── Exact global shuffle rank: deterministic permutation 0..n-1 in
    //    md5 order — "shuffle the dataset once, reproducibly" for a
    //    training dataloader. NOT row_number-over-everything (that drags
    //    the table through one partition): a range-partitioned sort +
    //    zipWithIndex two-pass, so every partition stays parallel and
    //    only the per-partition COUNTS ever leave the executors. ──
    q("lt17_shuffle_rank",
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT), doc_id) - 1 AS perm_idx
        |FROM documents""".stripMargin) { (s, dir) =>
      Sampling.globalShuffleRank(Td.tableFanned(s, dir, "documents"), "doc_id")
    },

    // ── Per-stratum percentile curation: keep each language's top
    //    quality quartile — dynamic thresholds (75th percentile PER
    //    stratum), not a global constant like lt6's. Exact boundary:
    //    rn <= ceil(n/4) as pure integers (rn*4 <= n+3), so no
    //    percentile interpolation ambiguity; one shuffle on the stratum
    //    key carries both window functions. ──
    q("lt18_percentile_filter",
      s"""WITH scored AS (SELECT doc_id, lang, $nTokSql AS n_tok, $qualitySql AS q
        |  FROM documents),
        |r AS (SELECT doc_id, lang, n_tok, q,
        |    row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored)
        |SELECT doc_id, lang, n_tok,
        |  floor(q * 1E6 + 0.5) / 1E6 AS quality
        |FROM r WHERE rn * 4 <= n + 3""".stripMargin) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val scored = Td.table(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        size(toks).as("n_tok"),
        TextOps.qualityScore(toks, col("text")).as("q"))
      val byLang = Window.partitionBy(col("lang"))
      val w = byLang.orderBy(col("q").desc, col("doc_id"))
      scored
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byLang))
        .filter(col("rn") * 4 <= col("n") + 3)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          (floor(col("q") * 1e6 + 0.5) / 1e6).as("quality"))
    },

    // ── Mixture planner: the half of data mixing that PRODUCES the rates
    //    lt7 consumes — given a token budget and per-source target share,
    //    compute per-source epochs (rate > 1 = upsampling) with a
    //    max-epochs cap (the data-constrained regime: a source too small
    //    for its share repeats up to the cap, not unboundedly). One
    //    tiny aggregation; double arithmetic is the same literal ops in
    //    the same order in both engines, so it is bit-deterministic. ──
    q("lt16_mixture_planner",
      s"""WITH $toksCte,
        |src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(t)) AS BIGINT) AS n_tok FROM toks GROUP BY 1),
        |e AS (SELECT source, n_docs, n_tok,
        |    CAST(0.05 AS DOUBLE) * 60000 / n_tok AS epochs_raw FROM src)
        |SELECT source, n_docs, n_tok, epochs_raw,
        |  least(epochs_raw, CAST(2.0 AS DOUBLE)) AS epochs,
        |  CAST(floor(least(epochs_raw, CAST(2.0 AS DOUBLE)) * n_tok) AS BIGINT)
        |    AS planned_toks
        |FROM e""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "documents")
        .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("__nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tok"))
        .withColumn("epochs_raw", lit(0.05) * lit(60000) / col("n_tok"))
        .withColumn("epochs", least(col("epochs_raw"), lit(2.0)))
        .withColumn("planned_toks", floor(col("epochs") * col("n_tok")))
    },

    // ── Gopher-style repetition/quality rules with per-rule verdicts:
    //    most-common-token fraction (the rule lt1's ratios can't see —
    //    a doc that is one word repeated has perfect length stats),
    //    stopword fraction, mean token length, and the conjunction as
    //    `keep`. Every measure is per-document, so nothing needs a
    //    shuffle: the top count folds over the SORTED token array as a
    //    max run length, and the other measures are plain HOF reductions
    //    — the whole query is one scan stage, zero exchanges. (First cut
    //    exploded tokens through a two-shuffle wordcount: 3.4 s at sf0.1
    //    and, at 100 TB, a token-volume exchange for per-doc arithmetic;
    //    the fold is 1.3 s and ships nothing.) The oracle keeps the
    //    relational wordcount formulation — two independent algorithms,
    //    identical rollups. All ratios are exact small-int divisions so
    //    both engines agree bit-for-bit. ──
    q("lt13_gopher_rules",
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(t) AS w, len(t) AS n FROM toks),
         |tc AS (SELECT doc_id, w, n, count(*) AS c FROM tok GROUP BY 1, 2, 3),
         |agg AS (SELECT doc_id,
         |    max(c) AS top_cnt, max(n) AS n_tok,
         |    sum(CASE WHEN w IN ('the', 'a') THEN c ELSE 0 END) AS n_stop,
         |    sum(c * length(w)) AS sum_len
         |  FROM tc GROUP BY 1)
         |SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
         |  CAST(top_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_frac,
         |  CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_frac,
         |  CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) AS mean_tok_len,
         |  CAST(top_cnt AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 0.2
         |    AND CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 0.01
         |    AND CAST(sum_len AS DOUBLE) / CAST(n_tok AS DOUBLE) BETWEEN 3.0 AND 10.0
         |    AS keep
         |FROM agg""".stripMargin) { (s, dir) =>
      // tokenize ONCE into a materialized column: four measures read `t`,
      // and CollapseProject keeps a multiply-referenced non-cheap alias in
      // its own project instead of re-inlining the split per measure
      val toked = Td.table(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      // max run length over the sorted token array = most-common count
      val d = toked.select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tok"),
        TextOps.topTokenCount(col("t")).as("top_cnt"),
        size(filter(col("t"), w => w === "the" || w === "a")).cast("long").as("n_stop"),
        aggregate(col("t"), lit(0L), (acc, w) => acc + length(w)).as("sum_len"))
        // a zero-token doc has no quality ratios; the oracle's unnest CTE
        // drops it implicitly, so drop it explicitly here too
        .filter(col("n_tok") > 0)
      val topFrac = col("top_cnt").cast("double") / col("n_tok").cast("double")
      val stopFrac = col("n_stop").cast("double") / col("n_tok").cast("double")
      val meanLen = col("sum_len").cast("double") / col("n_tok").cast("double")
      d.select(col("doc_id"), col("n_tok").cast("int").as("n_tokens"),
        topFrac.as("top_frac"), stopFrac.as("stop_frac"), meanLen.as("mean_tok_len"),
        (topFrac <= 0.2 && stopFrac >= 0.01 &&
          meanLen >= 3.0 && meanLen <= 10.0).as("keep"))
    },

    // ── nearest-centroid assignment (cluster/domain labeling; 1-NN over
    //    the ls4 centroids). Exact integer sums — the /n of the mean
    //    cancels in cosine — so both engines agree bit-for-bit ──
    q("ls5_centroid_assign",
      s"""WITH $quantCtes,
         |lq AS (SELECT label, generate_subscripts(embedding, 1) AS i,
         |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
         |  FROM embeddings),
         |cs AS (SELECT label, i, sum(x) AS s FROM lq GROUP BY 1, 2),
         |cn AS (SELECT label, sum(s * s) AS nn FROM cs GROUP BY 1),
         |dotc AS (SELECT v.vec_id, c.label, sum(v.x * c.s) AS dp
         |  FROM qc v JOIN cs c ON c.i = v.i GROUP BY 1, 2),
         |scored AS (SELECT d.vec_id, d.label,
         |    CAST(dp AS DOUBLE) / (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(c.nn AS DOUBLE)))
         |      AS cosine
         |  FROM dotc d JOIN nrm n ON d.vec_id = n.vec_id JOIN cn c ON d.label = c.label)
         |SELECT e.vec_id, CAST(e.label AS INT) AS label,
         |  CAST(s.label AS INT) AS label_pred, s.cosine
         |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cosine DESC, label) AS rn FROM scored) s
         |JOIN embeddings e ON e.vec_id = s.vec_id
         |WHERE s.rn = 1""".stripMargin) { (s, dir) =>
      Similarity.centroidAssign(Td.table(s, dir, "embeddings"), "vec_id", "label", "embedding")
    },

    // ── eval decontamination: test-split documents contaminated by a
    //    train-split document via >= 3 shared 3-gram shingles. Absolute
    //    shared count, not Jaccard — an eval item is contaminated by ANY
    //    long-enough overlap regardless of the training doc's size. Note
    //    exact duplicates can never cross a content-hash split (same text
    //    -> same bucket), so this catches exactly the PARTIAL overlaps the
    //    hash split cannot. ──
    q("lt10_contamination",
      s"""WITH $toksCte,
         |$shinglesCte,
         |sp AS (SELECT doc_id,
         |  CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM documents)
         |SELECT a.doc_id AS test_doc, b.doc_id AS train_doc, count(*) AS n_shared
         |FROM sh a JOIN sp pa ON a.doc_id = pa.doc_id AND pa.split = 'test'
         |JOIN sh b ON a.s = b.s
         |JOIN sp pb ON b.doc_id = pb.doc_id AND pb.split = 'train'
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin) { (s, dir) =>
      val docs = Td.table(s, dir, "documents")
      val bucket = pmod(Dedup.md5Hash60(col("text")), lit(100L))
      val splits = docs.select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      // fanned shingle scan (the jaccard-family election): the
      // tokenize+shingle map work is the query's dominant compute and the
      // single-row-group test layout ran it as one task
      Dedup.contaminationPairs(
        Dedup.shingleTable(Td.tableFanned(s, dir, "documents"),
          "doc_id", "text", 3), splits,
        testSplit = "test", trainSplit = "train", minShared = 3)
    },

    // ── intra-document repetition signal: fraction of repeated 2-gram
    //    windows (duplicate-n-gram curation filter; high = boilerplate /
    //    keyword stuffing / degenerate text). Multiset windows, unlike the
    //    dedup tier's distinct shingles ──
    q("lt9_repetition",
      """WITH toks3 AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(t)-1, 1) + 1),
        |    i -> array_to_string(t[i:i+1], ' ')) AS g
        |  FROM toks3)
        |SELECT doc_id, CAST(len(g) AS INT) AS n_bigrams,
        |  CAST(len(list_distinct(g)) AS INT) AS n_distinct,
        |  1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE)
        |    AS rep_ratio
        |FROM bg""".stripMargin) { (s, dir) =>
      // explode + aggregate rather than three array-column expressions:
      // CollapseProject re-inlines a shared HOF array into every consumer
      // (no common-subexpression reuse for interpreted HOFs), so the
      // column form built the n-gram array 3-4x per row; this builds it
      // once and the counting is codegen'd aggregation.
      val toks = TextOps.tokens(col("text"))
      Td.tableFanned(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.ngramsAll(toks, 2)).as("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_bigrams"),
          countDistinct(col("g")).cast("int").as("n_distinct"))
        .withColumn("rep_ratio",
          lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams").cast("double"))
    },

    // ── document fingerprint (md5 of normalized text) ──
    q("lt3_fingerprint",
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      Td.tableFanned(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    },

    // ── composite curation filter — the end-to-end "keep clean documents"
    //    pipeline every training-data run starts with: length window +
    //    quality floor + exact-dup removal (keep the min-id survivor),
    //    all in one pass + one dedup shuffle. ──
    q("lt6_curation_filter",
      """WITH toks2 AS (SELECT doc_id, lang, source, text,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT) AS n_tok,
        |  0.4 * least(CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE) / 100.0, 1.0)
        |    + 0.3 * (CAST(len(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS DOUBLE)
        |             / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE))
        |    + 0.3 * least(((CAST(length(text) AS DOUBLE) + 1.0)
        |             / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS DOUBLE) - 1.0) / 8.0, 1.0)
        |    AS q
        |  FROM documents),
        |kept AS (SELECT * FROM toks2 WHERE n_tok BETWEEN 10 AND 5000 AND q >= 0.5),
        |surv AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |  FROM kept)
        |SELECT doc_id, lang, n_tok,
        |  floor(q * 1E6 + 0.5) / 1E6 AS quality
        |FROM surv WHERE doc_id = keep_id""".stripMargin) { (s, dir) =>
      // single scan + single shuffle: min(doc_id) over the md5(text)
      // partition replaces the previous agg + self-join survivor pattern,
      // which scanned documents (and recomputed tokenization + quality)
      // twice because the agg key and the join key planned as different
      // exchanges. Same kept rows either way: a row survives iff its
      // doc_id is the minimum among its exact-duplicate hash group.
      val toks = TextOps.tokens(col("text"))
      Td.table(s, dir, "documents")
        .withColumn("n_tok", size(toks))
        .withColumn("q", TextOps.qualityScore(toks, col("text")))
        .filter(col("n_tok").between(10, 5000) && col("q") >= 0.5)
        .withColumn("keep_id", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          (floor(col("q") * 1e6 + 0.5) / 1e6).as("quality"))
    },

    // ── TRAINING MANIFEST — the exportable per-document decision ledger a
    //    data pipeline hands to auditors and the trainer: every doc gets a
    //    verdict (first failing rule in precedence: too_short < too_long <
    //    low_quality < exact_dup < keep — lt6's exact thresholds) and kept
    //    docs get their lt21-style per-language EXACT train/val/test
    //    assignment. ONE scan, TWO keyed exchanges: the dup election is a
    //    min-over-md5(text) window restricted to rule-passing rows via a
    //    conditional min (no self-join), and the split rank/size share one
    //    (is_keep, lang) window spec. A drop reason is attributable row by
    //    row — the difference between a reproducible corpus and a filter
    //    soup. ──
    q("lq6_train_manifest",
      s"""WITH t AS (SELECT doc_id, lang, source, text,
         |  $nTokSql AS n_tok,
         |  $qualitySql AS q
         |  FROM documents),
         |d AS (SELECT *, min(CASE WHEN n_tok BETWEEN 10 AND 5000 AND q >= 0.5
         |    THEN doc_id END) OVER (PARTITION BY md5(text)) AS dup_min FROM t),
         |v AS (SELECT doc_id, lang, source,
         |  CASE WHEN n_tok < 10 THEN 'too_short'
         |       WHEN n_tok > 5000 THEN 'too_long'
         |       WHEN q < 0.5 THEN 'low_quality'
         |       WHEN doc_id <> dup_min THEN 'exact_dup'
         |       ELSE 'keep' END AS verdict FROM d),
         |w AS (SELECT *,
         |  row_number() OVER (PARTITION BY (verdict = 'keep'), lang
         |    ORDER BY CAST(('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000,
         |      doc_id) AS rn,
         |  count(*) OVER (PARTITION BY (verdict = 'keep'), lang) AS n
         |  FROM v)
         |SELECT doc_id, lang, source, verdict,
         |  CASE WHEN verdict <> 'keep' THEN NULL
         |       WHEN rn * 100 <= n * 80 THEN 'train'
         |       WHEN rn * 100 <= n * 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM w""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = TextOps.tokens(col("text"))
      val passes = col("n_tok").between(10, 5000) && col("q") >= 0.5
      // is_keep must be a MATERIALIZED column: partitioning two windows by
      // the raw (verdict = 'keep') expression aliases it per window
      // (_w0#a vs _w0#b), the partitionings stop being equal, and the
      // planner inserts a third exchange (plan-shape-spec'd at 2)
      val byKeepLang = Window.partitionBy(col("is_keep"), col("lang"))
      val wSplit = byKeepLang
        .orderBy(Sampling.keepHash(col("doc_id"), col("lang")), col("doc_id"))
      Td.table(s, dir, "documents")
        .withColumn("n_tok", size(toks))
        .withColumn("q", TextOps.qualityScore(toks, col("text")))
        .withColumn("dup_min", min(when(passes, col("doc_id")))
          .over(Window.partitionBy(md5(col("text")))))
        .withColumn("verdict",
          when(col("n_tok") < 10, "too_short")
            .when(col("n_tok") > 5000, "too_long")
            .when(col("q") < 0.5, "low_quality")
            .when(col("doc_id") =!= col("dup_min"), "exact_dup")
            .otherwise("keep"))
        .withColumn("is_keep", col("verdict") === "keep")
        .withColumn("rn", row_number().over(wSplit))
        .withColumn("n", count(lit(1)).over(byKeepLang))
        .select(col("doc_id"), col("lang"), col("source"), col("verdict"),
          when(col("verdict") =!= "keep", lit(null).cast("string"))
            .when(col("rn") * 100 <= col("n") * 80, "train")
            .when(col("rn") * 100 <= col("n") * 90, "val")
            .otherwise("test").as("split"))
    },

    // ── multimodal plumbing: binary payload + partition-batched (stub)
    //    feature extraction; oracle recomputes the deterministic fake
    //    features from first principles (all-ASCII corpus ⇒ byte = char) ──
    q("lm1_multimodal_features",
      """SELECT doc_id AS item_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(list_sum(list_transform(string_split(text, ''), x -> ord(x))) % 9973 AS BIGINT)
        |    AS checksum_mod,
        |  CAST(ord(substr(text, 1, 1)) AS INT) AS first_byte
        |FROM documents""".stripMargin) { (s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.binarize(Td.table(s, dir, "documents"), "doc_id", "text"))
    },

    // ── TRUE image resample through REAL codecs (r8): per doc a
    //    deterministic grayscale test card (the cardGray pixel function,
    //    width 24+id%17 × height 24+id%13) is ENCODED to genuine PNG
    //    bytes by javax.imageio, DECODED back, and nearest-neighbor
    //    resized to 16×16 over the decoded raster — resized (x, y) reads
    //    source ((x·w) DIV 16, (y·h) DIV 16). PNG grayscale is lossless,
    //    so the oracle replays the decoded pixels from the pixel function
    //    directly: the hash match proves the encode→decode→resample
    //    round trip bit-exact. The 1-D byte-signal resample this query
    //    previously ran stays spec-pinned (`Multimodal.resizePayload`,
    //    MultimodalSpec) as the audio-signal twin. ──
    q("lm3_resize",
      """WITH d AS (SELECT doc_id AS item_id,
        |    CAST(24 + doc_id % 17 AS INT) AS width,
        |    CAST(24 + doc_id % 13 AS INT) AS height
        |  FROM documents),
        |r AS (SELECT item_id, width, height,
        |    list_transform(range(0, 256), i ->
        |      (item_id * 31 + ((i % 16) * width // 16) * 7
        |        + ((i // 16) * height // 16) * 13) % 256) AS px
        |  FROM d)
        |SELECT item_id, width, height,
        |  CAST(16 AS INT) AS rw, CAST(16 AS INT) AS rh,
        |  CAST(list_sum(px) AS BIGINT) AS pix_sum,
        |  CAST(px[1] AS INT) AS p00, CAST(px[256] AS INT) AS p_last
        |FROM r""".stripMargin) { (s, dir) =>
      Multimodal.decodeResize(
        Multimodal.renderPng(Td.tableFanned(s, dir, "documents"), "doc_id"),
        targetW = 16, targetH = 16)
    },

    // ── ViT patch-grid token accounting: cap the longest side at 448 px
    //    (aspect-preserving integer resize), patchify 14×14, +1 CLS —
    //    the vision half of a multimodal token budget. Stub dims derive
    //    deterministically from doc_id (a real pipeline reads them from
    //    the image header at decode); the accounting arithmetic — all
    //    integer DIV, zero shuffles, scan-stage only — is the engine
    //    work and the oracle replays it exactly. ──
    q("lm4_patch_tokens",
      """WITH dims AS (SELECT doc_id AS item_id,
        |    64 + (doc_id * 37) % 1985 AS width,
        |    64 + (doc_id * 101) % 1985 AS height
        |  FROM documents),
        |s AS (SELECT item_id, width, height,
        |    greatest(width, height) AS longest FROM dims),
        |r AS (SELECT item_id, width, height,
        |    CASE WHEN longest > 448
        |      THEN greatest((width * 448) // longest, 1) ELSE width END AS scaled_w,
        |    CASE WHEN longest > 448
        |      THEN greatest((height * 448) // longest, 1) ELSE height END AS scaled_h
        |  FROM s)
        |SELECT item_id, width, height, scaled_w, scaled_h,
        |  ((scaled_w + 13) // 14) AS patches_x,
        |  ((scaled_h + 13) // 14) AS patches_y,
        |  ((scaled_w + 13) // 14) * ((scaled_h + 13) // 14) AS n_patches,
        |  ((scaled_w + 13) // 14) * ((scaled_h + 13) // 14) + 1 AS vis_tokens
        |FROM r""".stripMargin) { (s, dir) =>
      val dims = Td.table(s, dir, "documents").select(
        col("doc_id").as("item_id"),
        (lit(64L) + pmod(col("doc_id") * 37L, lit(1985L))).as("width"),
        (lit(64L) + pmod(col("doc_id") * 101L, lit(1985L))).as("height"))
      Multimodal.patchTokens(dims, "width", "height", maxSide = 448, patch = 14)
    },

    // ── PII-style redaction plumbing: regex scrub + match count + scrubbed
    //    fingerprint in one scan stage. The corpus is synthetic word soup,
    //    so the demo patterns target entity-like tokens (real hits);
    //    production swaps in email/phone/ID regexes — the pipeline shape
    //    (codegen'd regexp_replace/regexp_count, no UDF) is the point.
    //    Patterns stay in the RE2 ∩ Java-regex common dialect so both
    //    engines match identically. ──
    q("lt11_redact",
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '(customer|supplier|part)')) AS BIGINT)
        |    AS n_hits,
        |  md5(regexp_replace(text, '(customer|supplier|part)', '<ENT>', 'g'))
        |    AS red_hash
        |FROM documents""".stripMargin) { (s, dir) =>
      val pat = "(customer|supplier|part)"
      Td.table(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("long").as("n_hits"),
          md5(regexp_replace(col("text"), pat, "<ENT>")).as("red_hash"))
    },

    // ── bucketed-lake end-to-end: write documents/embeddings/cluster-map
    //    bucket-sorted on their keys, then run the chained curation read —
    //    near-dup non-survivor removal (anti-join), token/quality filter,
    //    embeddings attach — whose JOIN PLAN is exchange-free (asserted by
    //    LlmLakeSpec on this very registered query). The build cost (pair
    //    gen + bucketed writes) is the pay-once write side of the layout;
    //    the read side is what repeats at 100 TB. ──
    q("lq1_curated_join", lq1Oracle) { (s, dir) =>
      // 8 buckets: enough to prove the co-located layout at test SFs
      // without 32-file-per-table write churn; at real volume size buckets
      // to the row-group sweet spot (LlmLake scaladoc). Location/liveness
      // management (per-process scratch dir, stale-lake sweep) lives in
      // LlmLake.scratch — the query itself is pure build+read.
      val lake = LlmLake.scratch(s, "graft_lq1", "graft_lq1_lake", buckets = 8)
      lake.drop()
      lake.bootstrap()
      // The three bucketed writes are independent jobs (the cluster map is
      // derived straight from the ingest frame, not the just-written lake
      // table — identical rows), so they run CONCURRENTLY from a small
      // thread pool (guide §2.6: later jobs back-fill executors freed by
      // the tail of the current one; the pair pipeline's long single-key
      // stages overlap the two table writes' commit latency). The cluster
      // map's documents scan stays un-fanned: fanning it was measured
      // WORSE here (the three concurrent writes already fill the cores, so
      // the fanout exchange only added contention).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val writes = Seq(
        scala.concurrent.Future(lake.writeDocuments(Td.table(s, dir, "documents"))),
        scala.concurrent.Future(lake.writeEmbeddings(Td.table(s, dir, "embeddings"))),
        scala.concurrent.Future(lake.writeClusterMapFrom(
          Td.tableFanned(s, dir, "documents"))))
      try
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(writes),
          scala.concurrent.duration.Duration(600, "s")): Unit
      finally pool.shutdown()
      lake.curatedWithEmbeddings()
        .select(col("doc_id"), col("lang"), col("n_tok"),
          (floor(col("quality") * 1e6 + 0.5) / 1e6).as("quality"),
          col("label"),
          round(element_at(col("embedding"), 1).cast("double") * lit(1000.0))
            .cast("long").as("q0"))
    },

    // ── Dataset data card: the per-(source × lang) datasheet every
    //    released corpus ships — docs, tokens, exact-distinct texts,
    //    order-independent mean quality (quantized sum, Det.qavg), and
    //    curation keep-count — in ONE scan + one grouped aggregation
    //    (count distinct expands to Spark's standard two-phase plan).
    //    Exact distinct is the right choice at card granularity (cells,
    //    not rows, bound the cost); a11 shows the HLL path when it isn't. ──
    q("lq2_data_card",
      s"""WITH $toksCte,
        |scored AS (SELECT source, lang, md5(text) AS h,
        |    CAST(len(t) AS BIGINT) AS nt, $qualitySql AS q
        |  FROM toks)
        |SELECT source, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tok,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_uniq,
        |  ${O.qavg("q", 6)} AS mean_quality,
        |  CAST(sum(CASE WHEN nt BETWEEN 10 AND 5000 AND q >= 0.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM scored GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      Td.table(s, dir, "documents")
        .select(col("source"), col("lang"),
          md5(col("text")).as("h"),
          size(toks).cast("long").as("nt"),
          TextOps.qualityScore(toks, col("text")).as("q"))
        .groupBy("source", "lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tok"),
          countDistinct(col("h")).as("n_uniq"),
          graft.ops.Det.qavg(col("q"), 6).as("mean_quality"),
          sum(when(col("nt").between(10, 5000) && col("q") >= 0.5, 1L)
            .otherwise(0L)).as("n_kept"))
    },

    // ── Corpus snapshot diff (CDC audit): the release-over-release answer
    //    to "what changed in the training set" — version B is derived
    //    in-query by deterministic edits (1/7 removed, 1/7 text-edited,
    //    1/7 re-added under new ids), then a FULL OUTER join on the doc id
    //    classifies every row added/removed/changed/unchanged and rolls up
    //    per (source, class) with the exact char delta. Scale shape: one
    //    id-keyed shuffle per side (zero with both versions bucketed on
    //    doc_id — the LlmLake layout), O(sources × 4) output. ──
    q("lq3_snapshot_diff",
      """WITH newv AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END AS text,
        |    source,
        |    CASE WHEN doc_id % 7 = 2 THEN n_chars + 3 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 7 <> 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, source, n_chars
        |  FROM documents WHERE doc_id % 7 = 3),
        |d AS (
        |  SELECT coalesce(o.source, n.source) AS source,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text <> n.text THEN 'changed'
        |         ELSE 'unchanged' END AS change,
        |    coalesce(n.n_chars, 0) - coalesce(o.n_chars, 0) AS cd
        |  FROM documents o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
        |SELECT source, change, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(cd) AS BIGINT) AS char_delta
        |FROM d GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val old = Td.table(s, dir, "documents")
        .select("doc_id", "text", "source", "n_chars")
      val mod7 = col("doc_id") % 7
      val newV = old.filter(mod7 =!= 1)
        .select(col("doc_id"),
          when(mod7 === 2, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          col("source"),
          when(mod7 === 2, col("n_chars") + 3)
            .otherwise(col("n_chars")).as("n_chars"))
        .unionByName(old.filter(mod7 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("text"), col("source"), col("n_chars")))
      old.as("o")
        .join(newV.as("n"), col("o.doc_id") === col("n.doc_id"), "full_outer")
        .select(
          coalesce(col("o.source"), col("n.source")).as("source"),
          when(col("o.doc_id").isNull, "added")
            .when(col("n.doc_id").isNull, "removed")
            .when(col("o.text") =!= col("n.text"), "changed")
            .otherwise("unchanged").as("change"),
          (coalesce(col("n.n_chars"), lit(0)) -
            coalesce(col("o.n_chars"), lit(0))).as("cd"))
        .groupBy("source", "change")
        .agg(count(lit(1)).as("n_docs"), sum(col("cd")).cast("long").as("char_delta"))
    },

    // ── Survivorship policy over near-dup clusters: ld6's connected
    //    components pick min-id; real curation keeps the BEST-QUALITY
    //    member. Per cluster: argmax (quantized quality, then min id) via
    //    row_number + member count — two window functions over ONE
    //    cluster-key exchange, no self-join (the lt6 lesson). Quality is
    //    floor-quantized to 1e-6 so the double compares identically in
    //    both engines. ──
    q("lq4_survivor_pick",
      s"""WITH RECURSIVE ${jacCtes(0.8)},
         |edges AS (SELECT d1 AS src, d2 AS dst FROM jac
         |  UNION SELECT d2, d1 FROM jac),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |clu AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY 1),
         |qs AS (SELECT doc_id, CAST(floor(($qualitySql) * 1E6 + 0.5) AS BIGINT) AS qq
         |  FROM toks),
         |m AS (SELECT cluster, c.doc_id AS doc_id, qq,
         |    row_number() OVER (PARTITION BY cluster ORDER BY qq DESC, c.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster) AS n_members
         |  FROM clu c JOIN qs ON c.doc_id = qs.doc_id)
         |SELECT cluster, doc_id, qq, n_members FROM m WHERE rn = 1""".stripMargin) { (s, dir) =>
      val docs = Td.table(s, dir, "documents")
      val clusters = Dedup.dedupClusters(Dedup.jaccardPairs(
        Dedup.shingleTable(docs, "doc_id", "text", 3), 0.8))
      val toks = TextOps.tokens(col("text"))
      val qs = docs.select(col("doc_id"),
        floor(TextOps.qualityScore(toks, col("text")) * 1e6 + 0.5)
          .cast("long").as("qq"))
      val byCluster = Window.partitionBy("cluster")
      clusters.select(col("doc_id"), col("survivor_id").as("cluster"))
        .join(qs, "doc_id")
        .withColumn("rn",
          row_number().over(byCluster.orderBy(col("qq").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(byCluster))
        .filter(col("rn") === 1)
        .select("cluster", "doc_id", "qq", "n_members")
    },

    // ── Corpus drift monitor (PSI): release-over-release distribution
    //    shift of a document signal (here doc-length buckets, n_chars DIV
    //    100) between the lq3 snapshot pair — the gate a training-data
    //    pipeline puts in front of "retrain on the new crawl". Per-bucket
    //    population-stability contributions with EVERYTHING in exact
    //    integers: add-one-smoothed counts, parts-per-million shares by
    //    integer DIV, and the log ratio as floor(log2) via length(bin(n))
    //    over the BOUNDED ppm values (<= 1e6 at any corpus size — the
    //    count-product form would overflow BIGINT at 1e12-doc scale), so
    //    no transcendental or overflow can diverge between engines. Scale
    //    shape: ONE bucket-keyed shuffle with map-side combine for the
    //    histogram (the two releases union into one pass), a 1-row totals
    //    agg broadcast back — output is O(buckets). ──
    q("lq5_drift_psi",
      """WITH newv AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 2 THEN n_chars + 3 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 7 <> 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, n_chars FROM documents WHERE doc_id % 7 = 3),
        |h AS (SELECT bucket, CAST(sum(a) AS BIGINT) AS c_old,
        |    CAST(sum(b) AS BIGINT) AS c_new
        |  FROM (SELECT n_chars // 100 AS bucket, 1 AS a, 0 AS b FROM documents
        |        UNION ALL
        |        SELECT n_chars // 100, 0, 1 FROM newv)
        |  GROUP BY 1),
        |tot AS (SELECT sum(c_old) AS n_old, sum(c_new) AS n_new,
        |    count(*) AS k FROM h),
        |s AS (SELECT bucket, c_old, c_new,
        |    CAST((c_old + 1) * 1000000 // (n_old + k) AS BIGINT) AS p_old_ppm,
        |    CAST((c_new + 1) * 1000000 // (n_new + k) AS BIGINT) AS p_new_ppm
        |  FROM h, tot)
        |SELECT bucket, c_old, c_new, p_old_ppm, p_new_ppm,
        |  CAST(length(bin(p_old_ppm + 1)) - length(bin(p_new_ppm + 1)) AS BIGINT)
        |    AS log2_ratio,
        |  CAST((p_old_ppm - p_new_ppm) *
        |    (length(bin(p_old_ppm + 1)) - length(bin(p_new_ppm + 1))) AS BIGINT)
        |    AS psi_contrib
        |FROM s""".stripMargin) { (s, dir) =>
      // ONE corpus scan, not three: each row emits its old-release
      // contribution plus its (up to two) new-release contributions as a
      // conditional struct array exploded in the scan stage — the
      // three-legged union form read `documents` once per leg, two extra
      // full corpus reads at 1e12-doc scale. Bucket = floor(n_chars/100);
      // an integer quotient divides exactly in a double, so the
      // floor-of-division matches the oracle's integer `//` bit-for-bit.
      val mod7 = col("doc_id") % 7
      def bucketOf(c: org.apache.spark.sql.Column) =
        floor(c / 100.0).cast("long")
      val ncNew = when(mod7 === 2, col("n_chars") + 3).otherwise(col("n_chars"))
      val hist = Td.table(s, dir, "documents")
        .select(explode(filter(array(
          struct(bucketOf(col("n_chars")).as("bucket"),
            lit(1L).as("a"), lit(0L).as("b")),
          when(mod7 =!= 1, struct(bucketOf(ncNew).as("bucket"),
            lit(0L).as("a"), lit(1L).as("b"))),
          when(mod7 === 3, struct(bucketOf(col("n_chars")).as("bucket"),
            lit(0L).as("a"), lit(1L).as("b")))),
          x => x.isNotNull)).as("e"))
        .select(col("e.bucket").as("bucket"), col("e.a").as("a"), col("e.b").as("b"))
        .groupBy("bucket")
        .agg(sum("a").as("c_old"), sum("b").as("c_new"))
      val tot = hist.agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"),
        count(lit(1)).as("k"))
      val shares = hist.crossJoin(broadcast(tot))
        .withColumn("p_old_ppm",
          expr("(c_old + 1) * 1000000 DIV (n_old + k)"))
        .withColumn("p_new_ppm",
          expr("(c_new + 1) * 1000000 DIV (n_new + k)"))
      val l2 = (length(bin(col("p_old_ppm") + 1)) -
        length(bin(col("p_new_ppm") + 1))).cast("long")
      shares.select(col("bucket"), col("c_old"), col("c_new"),
        col("p_old_ppm"), col("p_new_ppm"), l2.as("log2_ratio"),
        ((col("p_old_ppm") - col("p_new_ppm")) * l2).cast("long").as("psi_contrib"))
    },

    // ── weighted sampling WITHOUT replacement, P(pick) ∝ n_chars —
    //    Efraimidis–Spirakis via the order-statistic identity (max of w
    //    uniforms ~ u^(1/w)) so the keys are 60-bit INTEGERS: both engines
    //    draw the same md5 uniforms and the top-k is bit-identical, no
    //    transcendental ulps to diverge on (the -ln(u)/w float form is the
    //    documented unbounded-weight fallback, deliberately unregistered).
    //    O(Σ weights) scan-stage draws + map-side max combine + one
    //    TakeOrderedAndProject. ──
    q("lt32_weighted_sample",
      """WITH d AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS weight
        |  FROM documents WHERE n_chars > 0),
        |u AS (SELECT id, weight,
        |    CAST(('0x' || substr(md5('r5' || ':' || CAST(id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) AS u
        |  FROM d, UNNEST(range(1, weight + 1)) AS t(j)),
        |k AS (SELECT id, weight, max(u) AS key FROM u GROUP BY 1, 2),
        |r AS (SELECT id, weight, key,
        |    CAST(row_number() OVER (ORDER BY key DESC, id) AS BIGINT) AS rank
        |  FROM k)
        |SELECT id, weight, key, rank FROM r WHERE rank <= 100""".stripMargin) {
      (s, dir) =>
      Sampling.weightedSample(Td.tableFanned(s, dir, "documents"),
        "doc_id", "n_chars", k = 100, seed = "r5")
    },

    // ── multimodal frame sampling: every 2nd 64-byte frame of the payload,
    //    stub features per kept frame (all-ASCII corpus ⇒ byte = char, so
    //    the oracle recomputes via substr/ord from first principles) ──
    // ── document-level PMI collocations: pairs that co-occur far above
    //    independence, with the log2 reduced to exact bitlen integers (the
    //    lt19/lt20 recipe) so both engines rank identically. Top-k is a
    //    total order (pmi, count, t1, t2 — pair key unique) so LIMIT is
    //    deterministic. ──
    q("lt25_pmi_pairs",
      s"""WITH $toksCte,
        |dt AS (SELECT DISTINCT doc_id, tok
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
        |uni AS (SELECT tok, count(*) AS c FROM dt GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM dt),
        |pr AS (SELECT a.tok AS t1, b.tok AS t2, count(*) AS n_pair
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT t1, t2, n_pair,
        |  CAST(length(bin(n * n_pair)) - length(bin(c1 * c2)) AS BIGINT) AS pmi_q
        |FROM (SELECT pr.*, u1.c AS c1, u2.c AS c2, n FROM pr
        |  JOIN uni u1 ON pr.t1 = u1.tok
        |  JOIN uni u2 ON pr.t2 = u2.tok CROSS JOIN nd)
        |ORDER BY pmi_q DESC, n_pair DESC, t1, t2 LIMIT 25""".stripMargin) { (s, dir) =>
      Keywords.pmiPairs(Td.tableFanned(s, dir, "documents"), "doc_id", "text",
        minPair = 5, k = 25)
    },

    // ── winnowing fingerprints (MOSS): min-hash-per-sliding-window over
    //    k-gram hashes with rightmost tie-break — positionally COMPLETE
    //    overlap detection (any shared w+k-1-token run shares a
    //    fingerprint) at ~2/(w+1) density. Selection is one sortable
    //    string key, so both engines elect identical fingerprints with
    //    plain min() — no struct ordering dependence. ──
    q("lt26_winnowing",
      s"""WITH $toksCte,
        |gr AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |    array_to_string(t[i:i+2], ' ') AS g
        |  FROM toks, UNNEST(range(1, greatest(len(t)-2, 1) + 1)) AS u(i)),
        |ky AS (SELECT doc_id, pos, substr(md5(g), 1, 15) || '#' ||
        |    lpad(CAST(9999999 - pos AS VARCHAR), 7, '0') AS key FROM gr),
        |wn AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id) AS ng,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |  FROM ky)
        |SELECT DISTINCT doc_id, substr(sel, 1, 15) AS fp,
        |  CAST(9999999 - CAST(substr(sel, 17, 7) AS BIGINT) AS INT) AS pos
        |FROM wn WHERE pos <= greatest(ng - 4, 0)""".stripMargin) { (s, dir) =>
      Dedup.winnowingFingerprints(Td.tableFanned(s, dir, "documents"),
        "doc_id", "text", k = 3, w = 4)
    },

    // ── BPE tokenizer training: the DuckDB twin REPLAYS the full training —
    //    word count, per-iteration pair count, argmax with tie-break, and
    //    the relational leftmost-greedy merge (run-start + parity windows)
    //    — as generated CTEs, so the learned merge table (data-dependent at
    //    every step: each iteration's pairs depend on the previous merge)
    //    hash-matches end-to-end. See [[graft.llm.Bpe]] for the scale
    //    argument (iterations run over the VOCABULARY symbol table, not the
    //    corpus). ──
    q("lt24_bpe_merges", bpeOracle(8)) { (s, dir) =>
      Bpe.trainMerges(Td.table(s, dir, "documents"), "text", nMerges = 8)
    },

    // ── BPE tokenizer APPLY — the other half of lt24: encode the corpus
    //    under its learned merges and report per-doc token counts +
    //    fertility (tokens/word). Because merges never cross word
    //    boundaries, the trained symbol table IS the encoded vocabulary,
    //    so encode costs one vocabulary rollup + one word-keyed join over
    //    the token stream — the iterations stay corpus-independent (see
    //    Bpe.encodeDocs). The oracle replays the full training chain and
    //    the encode join, so the data-dependent token counts hash-match
    //    end-to-end. ──
    q("lt30_bpe_encode", bpeEncodeOracle(8)) { (s, dir) =>
      Bpe.encodeDocs(Td.table(s, dir, "documents"), "text", nMerges = 8)
    },

    // ── curation scorecard: EVERY scan-stage quality signal (token count,
    //    heuristic quality, bigram repetition, Gopher top/stop/length
    //    measures, language ID) plus the fused keep verdict, in ONE pass —
    //    1 scan, 0 shuffles, plan-asserted. The point vs running lt1 +
    //    lt9 + lt13 + lt2 as separate pipelines: at 100 TB each extra
    //    pipeline is another full corpus read, while every signal here is
    //    scan-stage column work sharing one tokenization (t and the
    //    bigram array are materialized aliases — multi-referenced
    //    non-cheap projections that CollapseProject keeps, so neither is
    //    re-inlined per consumer). Thresholds split the corpus
    //    non-trivially at sf0.01 (quality median 0.53, rep2 median 0.03).
    //    The oracle recomputes each signal with the exact lt1/lt9/lt13/
    //    lt2 oracle formulas, so the booleans agree bit-for-bit. ──
    q("lt31_curation_scorecard",
      s"""WITH $scorecardCtes
         |SELECT s.doc_id, s.n_tokens, s.quality, s.rep2,
         |  CAST(a.top_cnt AS DOUBLE) / CAST(a.n_tok AS DOUBLE) AS top_frac,
         |  CAST(a.n_stop AS DOUBLE) / CAST(a.n_tok AS DOUBLE) AS stop_frac,
         |  CAST(a.sum_len AS DOUBLE) / CAST(a.n_tok AS DOUBLE) AS mean_tok_len,
         |  s.lang_pred,
         |  $scorecardKeepExpr AS keep
         |FROM sig s JOIN gop a ON s.doc_id = a.doc_id""".stripMargin) { (s, dir) =>
      // shared with the streaming curation chain — see Curation.scorecard
      Curation.scorecard(Td.tableFanned(s, dir, "documents"))
    },

    // ── vocabulary coverage / OOV rate: train a top-K frequency vocab
    //    (K=16, ties by token — deterministic), then score every doc's
    //    out-of-vocab rate against it. Scale shape: the vocab build is one
    //    explode+partial-agg scan ending in TakeOrdered(K); the SCORING
    //    pass never shuffles — the vocab rides the plan as a 1-row
    //    broadcast array and the per-doc counts are scan-stage HOFs (no
    //    token-level explode/join for the encode, unlike a naive
    //    tokenize-join-regroup which would shuffle the whole token
    //    stream). ──
    q("lt27_vocab_oov",
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |vocab AS (SELECT tok FROM (
         |  SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
         |  ORDER BY cnt DESC, tok LIMIT 16)),
         |oo AS (SELECT t.doc_id, count(*) AS n_tokens,
         |    sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS oov_tokens
         |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok GROUP BY 1)
         |SELECT d.doc_id, d.source, CAST(n_tokens AS INT) AS n_tokens,
         |  CAST(oov_tokens AS INT) AS oov_tokens,
         |  CAST(oov_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
         |FROM oo JOIN documents d ON oo.doc_id = d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Td.tableFanned(s, dir, "documents")
      val t = TextOps.tokens(col("text"))
      val vocab = docs.select(explode(t).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(16)
        .agg(sort_array(collect_list(col("tok"))).as("vlist"))
      docs.crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("source"),
          size(t).as("n_tokens"),
          size(filter(t, x => not(array_contains(col("vlist"), x))))
            .as("oov_tokens"))
        .withColumn("oov_rate",
          col("oov_tokens").cast("double") / col("n_tokens").cast("double"))
    },

    // ── cross-document duplicate-n-gram fraction: per doc, the share of
    //    3-gram POSITIONS whose shingle occurs in >= 2 distinct documents
    //    (the boilerplate/template signal used alongside intra-doc
    //    repetition lt9). Scale shape: doc-frequency is one distinct +
    //    shingle-key agg; the position stream joins df on the shingle key
    //    (1:1 fan-out — df is one row per shingle, so no quadratic blowup
    //    on viral shingles, unlike a pair self-join) and rolls up per doc.
    //    Three keyed exchanges, all linear in the token stream. ──
    q("lt29_dup_ngram_frac",
      s"""WITH $toksCte,
         |pos AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
         |  FROM toks, UNNEST(range(1, greatest(len(t)-2, 1) + 1)) AS u(i)),
         |dfq AS (SELECT s, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, s FROM pos) GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ngrams,
         |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS dup_frac
         |FROM pos JOIN dfq USING (s) GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.dupNgramFraction(Td.tableFanned(s, dir, "documents"), "text", n = 3)
    },

    // ── temperature-weighted mixture resampling (the multilingual /
    //    data-mixing staple: sample sources ∝ n^alpha, alpha=0.5, so
    //    small sources are up-weighted). ALL allocation arithmetic is
    //    integral — weights are floor(sqrt(n)*1e6) (IEEE sqrt is
    //    correctly rounded, so both engines quantize identically),
    //    targets are largest-remainder allocated in exact integer math,
    //    and the within-source sample is a deterministic (md5(text),
    //    doc_id) rank. Scale shape: the stats/allocation tables are
    //    source-cardinality-sized (the one global window runs over ~20
    //    rows); the doc-side work is one broadcast join + one
    //    source-key window shuffle. ──
    q("lt28_temperature_mix",
      """WITH stats AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |w AS (SELECT source,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1E6) AS BIGINT) AS w FROM stats),
        |tot AS (SELECT sum(w) AS wtot FROM w),
        |t1 AS (SELECT source, w, (200 * w) // wtot AS base,
        |    (200 * w) % wtot AS rem FROM w, tot),
        |ex AS (SELECT 200 - sum(base) AS extra FROM t1),
        |t2 AS (SELECT source, base + CASE WHEN
        |      row_number() OVER (ORDER BY rem DESC, source) <= extra
        |    THEN 1 ELSE 0 END AS target FROM t1, ex),
        |rk AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id)
        |      AS sample_rank
        |  FROM documents)
        |SELECT doc_id, rk.source, CAST(sample_rank AS INT) AS sample_rank
        |FROM rk JOIN t2 ON rk.source = t2.source
        |WHERE sample_rank <= target""".stripMargin) { (s, dir) =>
      Sampling.temperatureSample(
          Td.table(s, dir, "documents"), "doc_id", "source", budget = 200L,
          orderBy = Seq(md5(col("text")), col("doc_id")))
        .select(col("doc_id"), col("source"), col("sample_rank"))
    },

    q("lm2_frame_sample",
      """WITH nf AS (SELECT doc_id, text,
        |  greatest(CAST(ceil(length(text) / 64.0) AS INT), 1) AS n FROM documents),
        |fr AS (SELECT doc_id, text, unnest(range(0, n, 2)) AS frame_idx FROM nf)
        |SELECT doc_id AS item_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(length(substr(text, frame_idx * 64 + 1, 64)) AS INT) AS n_bytes,
        |  CAST(coalesce(list_sum(list_transform(
        |    string_split(substr(text, frame_idx * 64 + 1, 64), ''), x -> ord(x))), 0) % 9973
        |    AS BIGINT) AS checksum_mod
        |FROM fr""".stripMargin) { (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.binarize(Td.table(s, dir, "documents"), "doc_id", "text"),
        frameSize = 64, stride = 2)
    },

    // ── audio-modality preprocessing (VAD/silence-trim shape): bytes as
    //    unsigned 8-bit PCM centered at 128, EVERY 64-byte frame scored
    //    with exact integer energy Σ(b−128)² and a cross-multiplied
    //    silence verdict (energy < 2000·n_bytes ⇔ mean-square < 2000) —
    //    no division, no floats, so the oracle replays both bit-for-bit
    //    from the all-ASCII corpus (byte = char). ──
    q("lm5_audio_energy",
      """WITH nf AS (SELECT doc_id, text,
        |  greatest(CAST(ceil(length(text) / 64.0) AS INT), 1) AS n FROM documents),
        |fr AS (SELECT doc_id, text, unnest(range(0, n)) AS frame_idx FROM nf),
        |e AS (SELECT doc_id, frame_idx,
        |  substr(text, frame_idx * 64 + 1, 64) AS f FROM fr)
        |SELECT doc_id AS item_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(length(f) AS INT) AS n_bytes,
        |  CAST(coalesce(list_sum(list_transform(string_split(f, ''),
        |    x -> (ord(x) - 128) * (ord(x) - 128))), 0) AS BIGINT) AS energy,
        |  CAST(coalesce(list_sum(list_transform(string_split(f, ''),
        |    x -> (ord(x) - 128) * (ord(x) - 128))), 0) < 2000 * length(f)
        |    AS BOOLEAN) AS silent
        |FROM e""".stripMargin) { (s, dir) =>
      Multimodal.audioEnergy(
        Multimodal.binarize(Td.table(s, dir, "documents"), "doc_id", "text"),
        frameSize = 64, meanSqThreshold = 2000)
    },

    // ── top-principal-component projection ("All-but-the-Top" embedding
    //    postprocessing / PCA compression step 1): covariance from ONE
    //    sufficient-statistics pass (C = n²·Σxxᵀ − n·ssᵀ, exact integers),
    //    d² matrix collected under the bounded-by-construction contract,
    //    power iteration in milli-unit integers with the float step pinned
    //    to one identical IEEE multiply/sqrt/divide/floor, sign pinned by
    //    first nonzero component, projections exact integer dots streamed
    //    through a flat codegen expression (zero shuffles on the corpus
    //    pass). Training samples via trainMod — r7 registers the SAMPLING
    //    path itself (trainMod = 20, the ivfLearned pattern), so the
    //    query runs unchanged at the derived ×100 (200k vectors → 10k
    //    training sample, inside the 13k exact-integer covariance bound)
    //    instead of fail-fasting, and the oracle trains on the identical
    //    (vec_id % 20 = 0) sample while projecting the full corpus. The
    //    ORACLE REPLAYS THE TRAINING: all 24 power-iteration rounds
    //    unroll as CTEs and every intermediate hash-matches. ──
    q("ls11_pca_project", pcaOracle(iters = 24, trainMod = 20)) { (s, dir) =>
      Pca.projectTop(Td.table(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 64, iters = 24, trainMod = 20)
    },

    // ── Pareto frontier of the quality-vs-token-cost trade (skyline):
    //    the documents for which no other doc is at least as good AND at
    //    most as expensive — the efficient set a token-budgeted selection
    //    policy walks (the cheapest doc at every attainable quality
    //    level; 28 frontier docs at sf0.01 vs 1 for the degenerate
    //    quality-vs-length pairing, where quality's own length term makes
    //    one doc dominate). Grid-prefilter skyline (ops/Skyline.scala):
    //    three linear passes + bounded-table window + broadcast anti-join
    //    over the survivor set; cost-minimization enters as negated
    //    tokens, so Skyline stays a single both-axes-maximized kernel.
    //    The oracle is the brute-force NOT EXISTS dominance twin (same
    //    >= / strict tie semantics, so duplicate optima all stay).
    //    Quality floor-quantized to exact micro integers (the lq4 idiom)
    //    so dominance is integer comparison on both engines. ──
    q("lq12_pareto_frontier",
      s"""WITH scored AS (SELECT doc_id,
         |    CAST(floor(($qualitySql) * 1E6 + 0.5) AS BIGINT) AS q_micro,
         |    CAST($nTokSql AS BIGINT) AS n_tokens
         |  FROM documents WHERE $nTokSql > 0)
         |SELECT doc_id, q_micro, n_tokens FROM scored s
         |WHERE NOT EXISTS (SELECT 1 FROM scored t
         |  WHERE t.q_micro >= s.q_micro AND t.n_tokens <= s.n_tokens
         |    AND (t.q_micro > s.q_micro OR t.n_tokens < s.n_tokens))""".stripMargin) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val scored = Td.table(s, dir, "documents")
        .select(col("doc_id"),
          floor(TextOps.qualityScore(toks, col("text")) * 1e6 + 0.5)
            .cast("long").as("q_micro"),
          (-size(toks).cast("long")).as("neg_tokens"))
        .where(col("neg_tokens") < 0)
      graft.ops.Skyline.frontier2d(scored, "doc_id", "q_micro", "neg_tokens")
        .select(col("doc_id"), col("q_micro"),
          (-col("neg_tokens")).as("n_tokens"))
    },

    // ── export shard manifest (the dataset-packaging step: write the
    //    kept corpus as size-balanced shards + a manifest consumers trust
    //    without re-reading the data): kept docs in deterministic md5
    //    order, shard = running-byte total DIV 64 KiB (the lt14 running-
    //    sum shape at byte grain — one ordering window), manifest row per
    //    shard with doc count, byte total, and an order-independent
    //    checksum (Σ md5-hash60 of members mod 2^31). At 100 TB the
    //    window runs per md5 SUPER-shard like lt14; here one partition
    //    suffices and the shape is documented. ──
    q("lq10_shard_manifest",
      """WITH kept AS (SELECT doc_id, n_chars,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 2147483648 AS chk
        |  FROM documents),
        |r AS (SELECT doc_id, n_chars, chk,
        |    CAST(sum(n_chars) OVER (ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS bytes_before
        |  FROM kept),
        |a AS (SELECT doc_id, n_chars, chk,
        |    CAST(coalesce(bytes_before, 0) // 65536 AS BIGINT) AS shard_id FROM r)
        |SELECT shard_id, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_bytes,
        |  CAST(sum(chk) % 2147483648 AS BIGINT) AS checksum_mod
        |FROM a GROUP BY 1""".stripMargin) { (s, dir) =>
      // n_chars stands in for bytes (all-ASCII corpus => byte == char,
      // the lm1 contract); a real exporter uses octet_length of the
      // encoded payload
      Td.table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          graft.llm.Dedup.md5Hash60(col("doc_id").cast("string")).as("hk"),
          pmod(graft.llm.Dedup.md5Hash60(col("text")), lit(2147483648L)).as("chk"))
        .withColumn("shard_id",
          expr("CAST(coalesce(sum(n_chars) OVER (ORDER BY hk, doc_id" +
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)" +
            " DIV 65536 AS BIGINT)"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("n_bytes"),
          expr("CAST(sum(chk) % 2147483648 AS BIGINT)").as("checksum_mod"))
    },

    // ── n-gram NOVELTY rate (the complement of lt10's contamination
    //    overlap): per held-out doc, what fraction of its 3-gram shingles
    //    never appears in the train split — the generalization-gap signal
    //    eval designers read (a low-novelty eval set measures memory, not
    //    ability). Split = the lt5 text-hash buckets; one hashed-shingle
    //    left join against the distinct train shingle set, per-doc
    //    rollup, novelty as integer ppm. ──
    q("lt44_ngram_novelty",
      s"""WITH $toksCte,
        |$shinglesCte,
        |lab AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 100 < 80 AS is_train
        |  FROM documents),
        |tr AS (SELECT DISTINCT s FROM sh JOIN lab ON lab.doc_id = sh.doc_id
        |  WHERE is_train),
        |te AS (SELECT sh.doc_id, sh.s FROM sh JOIN lab ON lab.doc_id = sh.doc_id
        |  WHERE NOT is_train)
        |SELECT te.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN tr.s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN tr.s IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) AS novelty_ppm
        |FROM te LEFT JOIN tr ON tr.s = te.s
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = Td.tableFanned(s, dir, "documents")
      val lab = docs.select(col("doc_id"),
        (pmod(graft.llm.Dedup.md5Hash60(col("text")), lit(100L)) < 80).as("is_train"))
      // persisted: tr and te both consume the labeled shingle stream —
      // two independent plans would re-run the interpreted shingle HOF
      // over the full corpus (the Dedup.shingleTable cost note)
      val sh = graft.llm.Caches.persist(
        Dedup.shingleTable(docs, "doc_id", "text", 3)
          .select(col("doc_id"), col("shingle").as("sh")).distinct()
          .join(lab, Seq("doc_id")))
      val tr = sh.filter(col("is_train")).select(col("sh").as("ts")).distinct()
      val te = sh.filter(!col("is_train"))
      te.join(tr, col("ts") === col("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("ts").isNull, 1L).otherwise(0L)).cast("long").as("n_novel"),
          expr("CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) * 1000000" +
            " DIV count(1) AS BIGINT)").as("novelty_ppm"))
    },

    // ── MDM golden record (entity resolution end-to-end): ED≤1 name
    //    pairs from the SymSpell deletion-signature blocking (ld11's
    //    provably exhaustive machinery) → pointer-doubled connected
    //    components (ld6's labeler) → one golden row per entity cluster:
    //    smallest key wins the identity, name via min_by (deterministic —
    //    keys are unique), best attribute (max balance cents) merged
    //    across members; singletons pass through as their own cluster.
    //    The master-data-management shape: every stage a bounded keyed
    //    shuffle, the closure O(log diameter) rounds. NOTE the fixture's
    //    serial names (…#1, …#2) differ by one digit, so ED-1 transitively
    //    chains the WHOLE table into one cluster (n_members = all) — the
    //    textbook over-merge failure of edit-distance linkage on serial
    //    identifiers, surfaced (not hidden) by the member count; real
    //    deployments add a blocking key on the non-serial name part. ──
    q("ld17_golden_record",
      """WITH RECURSIVE p AS (SELECT a.s_suppkey AS src, b.s_suppkey AS dst
        |  FROM supplier a JOIN supplier b
        |  ON a.s_suppkey <> b.s_suppkey
        |  AND abs(length(a.s_name) - length(b.s_name)) <= 1
        |  AND levenshtein(a.s_name, b.s_name) <= 1),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM p
        |  UNION
        |  SELECT p.src, reach.r FROM p JOIN reach ON p.dst = reach.id),
        |clu AS (SELECT id, min(r) AS c FROM reach GROUP BY 1),
        |m AS (SELECT s.s_suppkey AS id,
        |    CAST(coalesce(clu.c, s.s_suppkey) AS BIGINT) AS c,
        |    s.s_name, s.s_acctbal
        |  FROM supplier s LEFT JOIN clu ON clu.id = s.s_suppkey)
        |SELECT c AS cluster_id, CAST(min(id) AS BIGINT) AS golden_key,
        |  arg_min(s_name, id) AS golden_name, count(*) AS n_members,
        |  CAST(max(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS max_acctbal_cents
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      val sup = Td.table(s, dir, "supplier")
      val pairs = Dedup.editNeighborPairs(sup, "s_suppkey", "s_name")
        .select(col("id1").cast("long").as("d1"), col("id2").cast("long").as("d2"))
      val clu = Dedup.dedupClusters(pairs)
      sup.select(col("s_suppkey").cast("long").as("id"), col("s_name"), col("s_acctbal"))
        .join(clu.select(col("doc_id").as("id"), col("survivor_id")), Seq("id"), "left")
        .withColumn("c", coalesce(col("survivor_id"), col("id")))
        .groupBy(col("c").as("cluster_id"))
        .agg(min(col("id")).cast("long").as("golden_key"),
          min_by(col("s_name"), col("id")).as("golden_name"),
          count(lit(1)).as("n_members"),
          max(floor(col("s_acctbal") * 100 + 0.5).cast("long")).cast("long")
            .as("max_acctbal_cents"))
    },

    // ── perceptual hash (aHash) over binary payloads — the image-dedup
    //    shape run on the byte plumbing: nearest-neighbor-resample every
    //    payload to 64 bytes (the lm3 kernel arithmetic), threshold each
    //    byte against the payload mean WITHOUT division (b·64 > Σb), and
    //    pack the 63 usable bits into a BIGINT fingerprint (bit 63 stays
    //    clear of the sign). Same-hash groups are byte-pattern near-dups
    //    — template families land together here even when their exact
    //    hashes differ. Scan-stage unrolled integer expressions; one
    //    hash-keyed window for the group size. Positions/values are
    //    char/codepoint-based — identical to bytes on this all-ASCII
    //    corpus (the lm1 contract); real image bytes arrive pre-decoded
    //    as unsigned ints. ──
    // ── TRUE average-hash over DECODED pixels (r8): the same rendered
    //    PNG test cards as lm3, decoded by javax.imageio and nearest-
    //    neighbored to the 8×8 aHash grid; bit i = y·8 + x set when
    //    64·gray > Σgray (cross-multiplied mean — no division), top bit
    //    left clear so the hash never wraps negative in either engine.
    //    The oracle replays the decoded grid from the pixel function
    //    (PNG lossless), so the hash match certifies a real
    //    encode→decode→hash path, not byte statistics. ──
    q("lm6_perceptual_hash", {
      val g = (i: Int) =>
        s"(item_id * 31 + ((${i % 8} * width) // 8) * 7 + ((${i / 8} * height) // 8) * 13) % 256 AS b$i"
      val tot = (0 until 64).map(i => s"b$i").mkString(" + ")
      val bits = (0 until 63).map(i =>
        s"(CASE WHEN b$i * 64 > tot THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
        .mkString("\n        | + ")
      s"""WITH d AS (SELECT doc_id AS item_id,
        |    24 + doc_id % 17 AS width, 24 + doc_id % 13 AS height
        |  FROM documents),
        |b AS (SELECT item_id, ${(0 until 64).map(g).mkString(",\n        |  ")}
        |  FROM d),
        |t AS (SELECT item_id, ${(0 until 64).map(i => s"b$i").mkString(", ")},
        |    $tot AS tot FROM b),
        |h AS (SELECT item_id, $bits AS phash FROM t)
        |SELECT item_id, phash,
        |  CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS n_same
        |FROM h""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Multimodal.decodeAHash(
          Multimodal.renderPng(Td.tableFanned(s, dir, "documents"), "doc_id"), grid = 8)
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy("phash")).cast("long"))
    },

    // ── JPEG (LOSSY) round trip, tolerance-banded (r9): lm3/lm6 certify
    //    the LOSSLESS codec path bit-exactly, but a real 100 TB multimodal
    //    corpus is mostly JPEG, where decoded pixels are not
    //    bit-reproducible across codec builds. The honest contract for a
    //    lossy path is the a18/a19 witness pattern: the oracle replays the
    //    codec-free EXACT aHash relationally (the lm6 arithmetic) and pins
    //    TRUE on a BOUNDED hamming deviation of the real javax.imageio
    //    JPEG encode→decode→hash chain. Band 12 of 63 bits: exhaustive
    //    over the full card-pattern cycle (id mod lcm(256,17,13) = 56,576
    //    distinct cards) the q=0.95 round trip measures max hamming 3
    //    (mean 0.099), so 12 carries 4× headroom for codec-build variation
    //    while sitting ~5σ below the ~31.5-bit expectation of unrelated
    //    hashes — a broken codec path cannot sneak under it. ONE
    //    partition-batched kernel (writer initialized once per partition);
    //    only the 3-column verdict ever shuffles. ──
    q("lm7_jpeg_hash_band", {
      val g = (i: Int) =>
        s"(item_id * 31 + ((${i % 8} * width) // 8) * 7 + ((${i / 8} * height) // 8) * 13) % 256 AS b$i"
      val tot = (0 until 64).map(i => s"b$i").mkString(" + ")
      val bits = (0 until 63).map(i =>
        s"(CASE WHEN b$i * 64 > tot THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
        .mkString("\n        | + ")
      s"""WITH d AS (SELECT doc_id AS item_id,
        |    24 + doc_id % 17 AS width, 24 + doc_id % 13 AS height
        |  FROM documents),
        |b AS (SELECT item_id, ${(0 until 64).map(g).mkString(",\n        |  ")}
        |  FROM d),
        |t AS (SELECT item_id, ${(0 until 64).map(i => s"b$i").mkString(", ")},
        |    $tot AS tot FROM b),
        |h AS (SELECT item_id, $bits AS phash_exact FROM t)
        |SELECT item_id, phash_exact, TRUE AS within_band FROM h""".stripMargin
    }) { (s, dir) =>
      Multimodal.jpegAHashBand(Td.tableFanned(s, dir, "documents"), "doc_id",
          grid = 8, quality = 0.95f)
        .select(col("item_id"), col("phash_exact"),
          (col("hamming") <= 12).as("within_band"))
    },

    // ── canonical prefix-fingerprint dedup (boilerplate/template
    //    grouping): lowercase, strip non-alphanumerics, squeeze
    //    whitespace, take the first 80 canonical characters, hash —
    //    grouping documents that OPEN identically (template families,
    //    mirrored boilerplate) that exact dedup keeps apart because the
    //    tails differ. Per group the survivor, member count, and distinct
    //    full-text count (n_full_variants > 1 = same opener, different
    //    bodies — the template signal). Same single digest shuffle as
    //    ld1; the normalize chain is scan-stage regex in the RE2∩Java
    //    common dialect (the lt11 contract). ──
    q("ld16_canonical_dedup",
      """WITH n AS (SELECT doc_id,
        |    md5(substr(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |      ' +', ' ', 'g')), 1, 80)) AS prefix_hash,
        |    md5(text) AS raw_hash
        |  FROM documents)
        |SELECT prefix_hash, CAST(min(doc_id) AS BIGINT) AS survivor_id,
        |  count(*) AS n_docs,
        |  CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_full_variants
        |FROM n GROUP BY 1
        |HAVING count(*) > 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "documents")
        .select(col("doc_id"),
          md5(substring(trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")), 1, 80)).as("prefix_hash"),
          md5(col("text")).as("raw_hash"))
        .groupBy("prefix_hash")
        .agg(min(col("doc_id")).cast("long").as("survivor_id"),
          count(lit(1)).as("n_docs"),
          count_distinct(col("raw_hash")).as("n_full_variants"))
        .filter(col("n_docs") > 1)
    },

    // ── EXACT duplicate-substring dedup via distributed suffix array
    //    (Lee et al. ExactSubstr): for every token position the exact
    //    maximal duplicated-run length, no fixed k — suffixes (array
    //    slices, bounded by the per-doc token cap) sorted with the
    //    range-partitioned two-pass (never a global window), SA-neighbor
    //    LCP as a scan-stage array fold, island-merged spans >= 10
    //    tokens per doc. The oracle replays the suffix order and every
    //    exact run length end-to-end; SuffixArraySpec brute-force-
    //    verifies replen AND pins the prefix-doubling scale twin
    //    (dupSpansDoubling — skinny-row shuffles for when N*maxlen
    //    outgrows the shuffle tier) equal on the fixture. See
    //    graft.llm.SuffixArray for the operating-point accounting. ──
    q("ld18_suffix_dups", suffixOracle(10)) { (s, dir) =>
      SuffixArray.dupSpansAuto(Td.tableFanned(s, dir, "documents"), "doc_id", "text",
        minRun = 10, levels = 7)
    },

    // ── EXACT-SUBSTRING eval decontamination (Lee et al. ExactSubstr,
    //    the contamination case lt10's shingle overlap and ld19's
    //    embedding near-dups only approximate): for every eval-split doc
    //    (md5 80/20, the ld19 split idiom) the merged spans of >= 10
    //    tokens appearing VERBATIM anywhere in the train split. ONE
    //    suffix array over the union of both sides; per eval position
    //    the exact longest cross-side run comes from its nearest train
    //    suffix in SA order on either side (LCP(i,j) = min of adjacent
    //    LCPs between them), computed as two segmented running-min
    //    scans — range-partitioned two-pass, never a global window.
    //    Eval↔eval repeats are invisible by construction. The oracle
    //    replays suffix order, both scans, and the island merge. ──
    q("ld21_exact_contamination", crossSuffixOracle(10)) { (s, dir) =>
      val docs = Td.tableFanned(s, dir, "documents")
        .withColumn("side",
          when(pmod(Dedup.md5Hash60(col("doc_id").cast("string")), lit(100L)) < 80,
            lit(0)).otherwise(lit(1)))
      SuffixArray.crossDupSpansAuto(docs, "doc_id", "text", "side", minRun = 10)
    },

    // ── dedup threshold tuning curve AS DATA: Jaccard pair counts per
    //    0.1-wide similarity band above a 0.5 floor — the sweep a curation
    //    engineer reads before pinning the near-dup threshold. ONE pair
    //    computation at the floor serves every band (the DF cap depends
    //    only on shingle document frequency, not the threshold, so the
    //    candidate set is identical to running each threshold alone). ──
    q("lt38_threshold_sweep",
      s"""WITH ${jacCtes(0.5)}
        |SELECT CAST(floor(jaccard * 10) AS INT) AS band,
        |  count(*) AS n_pairs,
        |  CAST(min(n_inter) AS BIGINT) AS min_overlap
        |FROM jac GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(
          Dedup.shingleTable(Td.tableFanned(s, dir, "documents"), "doc_id", "text", 3), 0.5)
        .groupBy(floor(col("jaccard") * 10).cast("int").as("band"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("n_inter")).cast("long").as("min_overlap"))
    },

    // ── cross-source duplication matrix (provenance analytics: which
    //    sources copy from which): near-dup pairs at the ld2 threshold
    //    joined back to each side's source, rolled up per unordered
    //    source pair. The doc→source lookup broadcasts; the pair table is
    //    already small. The "src A mirrors src B" signal that drives
    //    source-level dedup priorities. ──
    q("lq9_cross_source_dups",
      s"""WITH ${jacCtes(0.8)},
        |ds AS (SELECT doc_id, source FROM documents)
        |SELECT least(a.source, b.source) AS src1,
        |  greatest(a.source, b.source) AS src2,
        |  count(*) AS n_pairs
        |FROM jac JOIN ds a ON a.doc_id = jac.d1 JOIN ds b ON b.doc_id = jac.d2
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Td.tableFanned(s, dir, "documents")
      val ds = docs.select(col("doc_id"), col("source"))
      val jac = Dedup.jaccardPairs(
        Dedup.shingleTable(docs, "doc_id", "text", 3), 0.8)
      jac.join(broadcast(ds.select(col("doc_id").as("d1"), col("source").as("s1"))), Seq("d1"))
        .join(broadcast(ds.select(col("doc_id").as("d2"), col("source").as("s2"))), Seq("d2"))
        .groupBy(least(col("s1"), col("s2")).as("src1"),
          greatest(col("s1"), col("s2")).as("src2"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // ── cross-source quantile normalization (feature engineering: map
    //    each source's quality distribution onto the GLOBAL one, so a
    //    threshold means the same thing in every source). Per-source rank
    //    via a stratum-keyed window; target global position by exact
    //    ceil cross-multiplication; the mapped value comes from an EQUI
    //    join against the global rank table built with the lt17-shape
    //    range-partitioned sort + zipWithIndex (never a single-partition
    //    row_number over the corpus). All integers; ties pinned by
    //    (score, doc_id) on both sides. ──
    q("lt36_quantile_norm",
      s"""WITH sc AS (SELECT doc_id, source,
        |    CAST(floor(($qualitySql) * 1000000) AS BIGINT) AS s
        |  FROM documents),
        |r AS (SELECT doc_id, source, s,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY s, doc_id) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n,
        |    CAST(count(*) OVER () AS BIGINT) AS ntot
        |  FROM sc),
        |gr AS (SELECT s AS gs,
        |    CAST(row_number() OVER (ORDER BY s, doc_id) AS BIGINT) AS gpos
        |  FROM sc)
        |SELECT r.doc_id, r.source, r.s AS q_micro, g.gs AS qnorm_micro
        |FROM r JOIN gr g ON g.gpos = (r.r * r.ntot + r.n - 1) // r.n""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = TextOps.tokens(col("text"))
      // persisted: the per-source rank leg and the global rank leg both
      // consume the scored table — without it the tokenize+score scan
      // runs twice (the ntot scalar reads it too)
      val sc = graft.llm.Caches.persist(Td.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          floor(TextOps.qualityScore(toks, col("text")) * 1000000).cast("long").as("s")))
      // the corpus total rides the plan as a 1-row broadcast (the
      // nbScores `tot` idiom) — an unpartitioned count(*) window here
      // would drag the whole corpus through one partition just to
      // attach a constant
      val ntot = sc.agg(count(lit(1)).as("ntot"))
      val r = sc.select(col("doc_id"), col("source"), col("s"),
          row_number().over(Window.partitionBy("source").orderBy(col("s"), col("doc_id")))
            .cast("long").as("r"),
          count(lit(1)).over(Window.partitionBy("source")).cast("long").as("n"))
        .crossJoin(broadcast(ntot))
      val gr = Sampling.globalOrderedRank(
          sc.select(col("s"), col("doc_id")), Seq(col("s"), col("doc_id")))
        .select(col("s").as("gs"), col("gpos"))
      r.withColumn("pos", expr("(r * ntot + n - 1) DIV n"))
        .join(gr, col("gpos") === col("pos"))
        .select(col("doc_id"), col("source"), col("s").as("q_micro"),
          col("gs").as("qnorm_micro"))
    },

    // ── retrieval-quality eval AS A QUERY: per-query recall@10 of the
    //    LSH candidate path (ls2's geometry) against the exact top-10
    //    (ls1's kernel) — the ANN quality loop run as data, not as a
    //    test. Both legs replay relationally (the projection geometry is
    //    literal SQL), so even the recall numbers hash-match. The rank
    //    windows see candidate rows only. ──
    //    r7: constant 50-query batch in BOTH legs (the family-wide ×100
    //    fix — this query pays twice otherwise, brute force AND LSH).
    q("ls14_retrieval_recall",
      s"""WITH $quantCtes,
        |${lshCodesCte(16, 4, 64, 8)},
        |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % 40 = 0
        |  ORDER BY vec_id LIMIT 50),
        |ecand AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    sum(a.x * b.x) AS dp
        |  FROM qc a JOIN qsel q ON a.vec_id = q.vec_id
        |  JOIN qc b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |esims AS (SELECT query_id, neighbor_id,
        |    CAST(dp AS DOUBLE) / (sqrt(CAST(x.nn AS DOUBLE)) * sqrt(CAST(y.nn AS DOUBLE)))
        |      AS cosine
        |  FROM ecand JOIN nrm x ON query_id = x.vec_id
        |  JOIN nrm y ON neighbor_id = y.vec_id),
        |etop AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM esims) WHERE rn <= 10),
        |lcand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
        |  FROM codes a JOIN qsel q ON a.vec_id = q.vec_id
        |  JOIN codes b ON a.t = b.t AND a.code = b.code
        |  WHERE a.vec_id <> b.vec_id),
        |ldot AS (SELECT query_id, neighbor_id, sum(x.x * y.x) AS dp
        |  FROM lcand JOIN qc x ON x.vec_id = query_id
        |  JOIN qc y ON y.vec_id = neighbor_id AND y.i = x.i
        |  GROUP BY 1, 2),
        |lsims AS (SELECT query_id, neighbor_id,
        |    CAST(dp AS DOUBLE) / (sqrt(CAST(x.nn AS DOUBLE)) * sqrt(CAST(y.nn AS DOUBLE)))
        |      AS cosine
        |  FROM ldot JOIN nrm x ON query_id = x.vec_id
        |  JOIN nrm y ON neighbor_id = y.vec_id),
        |ltop AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM lsims) WHERE rn <= 10)
        |SELECT e.query_id,
        |  CAST(count(l.neighbor_id) AS BIGINT) AS n_matched,
        |  CAST(count(l.neighbor_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
        |FROM etop e LEFT JOIN ltop l
        |  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val vecs = Td.table(s, dir, "embeddings")
      val q = vecs.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50)
      val exact = Similarity.bruteForceTopK(q, vecs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = Similarity.lshTopK(q, vecs, "vec_id", "embedding", 10)
        .select(col("query_id").as("lq"), col("neighbor_id").as("ln"))
      exact.join(lsh,
          col("lq") === col("query_id") && col("ln") === col("neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(col("ln")).cast("long").as("n_matched"),
          expr("CAST(count(ln) * 1000000 DIV count(1) AS BIGINT)").as("recall_ppm"))
    },

    // ── hard-negative mining (contrastive-training data): per query the
    //    top-5 corpus items with cosine in [0.1, 0.8) — informative
    //    negatives strictly below the near-dup band that would poison
    //    training as false negatives. Band filter runs scan-stage BEFORE
    //    the top-k shuffle; same exact-integer-dot + IEEE-cosine kernel
    //    as ls1, so the oracle replays the band and ranks bit-for-bit. ──
    //    r7: constant 50-query batch (the family-wide ×100 fix).
    q("ls13_hard_negatives",
      s"""WITH $quantCtes,
        |qsel AS (SELECT vec_id FROM nrm WHERE vec_id % 40 = 0
        |  ORDER BY vec_id LIMIT 50),
        |dot AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    sum(a.x * b.x) AS dp
        |  FROM qc a JOIN qsel q ON a.vec_id = q.vec_id
        |  JOIN qc b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |sims AS (SELECT query_id, neighbor_id,
        |    CAST(dp AS DOUBLE) / (sqrt(CAST(x.nn AS DOUBLE)) * sqrt(CAST(y.nn AS DOUBLE)))
        |      AS cosine
        |  FROM dot JOIN nrm x ON query_id = x.vec_id JOIN nrm y ON neighbor_id = y.vec_id),
        |band AS (SELECT * FROM sims WHERE cosine >= 0.1 AND cosine < 0.8)
        |SELECT * FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        |  FROM band)
        |WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val emb = Td.table(s, dir, "embeddings")
      Similarity.hardNegativesTopK(
        emb.filter(col("vec_id") % 40 === 0).orderBy("vec_id").limit(50),
        emb, "vec_id", "embedding", k = 5, lo = 0.1, hi = 0.8)
    },

    // ── per-dimension embedding standardization (z-score whitening — the
    //    preprocessing normalize before ANN/clustering): one sufficient-
    //    statistics pass (per-dim Σx, Σx², n over quantized components —
    //    64 rows out, map-side combined), then z = (n·x − s)/√(n·q − s²)
    //    computed scan-stage with the dim-stats table BROADCAST onto the
    //    exploded corpus — no corpus shuffle. Numerator exact BIGINT; the
    //    one float step (multiply/sqrt/divide/floor to micro-units) is
    //    IEEE-identical on both engines. Zero-variance dims pin z = 0. ──
    q("ls12_embed_standardize",
      """WITH qc AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x
        |  FROM embeddings),
        |st AS (SELECT i, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS q FROM qc GROUP BY 1)
        |SELECT qc.vec_id, CAST(qc.i AS INT) AS dim,
        |  CAST(CASE WHEN st.n * st.q - st.s * st.s > 0
        |    THEN floor((st.n * qc.x - st.s) * 1000000.0
        |      / sqrt(CAST(st.n * st.q - st.s * st.s AS DOUBLE)))
        |    ELSE 0 END AS BIGINT) AS z_micro
        |FROM qc JOIN st ON st.i = qc.i""".stripMargin) { (s, dir) =>
      val qc = Td.table(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(Similarity.quantize(col("embedding"))).as(Seq("i0", "x")))
        .select(col("vec_id"), (col("i0") + 1).as("i"), col("x"))
      val st = qc.groupBy("i").agg(count(lit(1)).as("n"),
        sum(col("x")).cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("q"))
      val variance = col("n") * col("q") - col("s") * col("s")
      qc.join(broadcast(st), Seq("i"))
        .select(col("vec_id"), col("i").cast("int").as("dim"),
          when(variance > 0,
            floor((col("n") * col("x") - col("s")).cast("double") * lit(1000000.0)
              / sqrt(variance.cast("double"))))
            .otherwise(lit(0L)).cast("long").as("z_micro"))
    },

    // ── model-based quality filter (fastText/CCNet classifier shape):
    //    multinomial Naive Bayes TRAINED IN-QUERY on the md5-train split
    //    (weak label = heuristic quality >= 0.5), evaluated on the held-out
    //    split. All-integer log-ratios (bitlen-log2), so the oracle replays
    //    training AND scoring — sum_score pins the per-cell score mass, not
    //    just verdict counts. One corpus scan (persisted doc-token counts
    //    feed both the model fit and the test scoring), vocab-sized model
    //    aggregate, one vocab-keyed scoring join, one doc rollup. ──
    q("lt33_nb_classifier",
      s"""WITH $nbScoreCtes
        |SELECT y AS y_true, CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INT) AS y_pred,
        |  count(*) AS n_docs, CAST(sum(score) AS BIGINT) AS sum_score
        |FROM fin GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Classifier.nbTrainEval(nbLabeled(s, dir), "doc_id", "text", "y", testMod = 5)
    },

    // ── threshold-free ranking eval of the same scorer: EXACT Mann–Whitney
    //    ROC-AUC over the integer NB scores, ties by midrank, AUC as an
    //    integer-division ppm — no float anywhere, so the oracle pins the
    //    statistic itself. The corpus-sized score table collapses to
    //    distinct-score rows BEFORE the ordering window (score range is
    //    bitlen-bounded — thousands of rows, not corpus-sized), so the
    //    single-partition window is safe at any corpus size. ──
    q("lt34_auc_eval",
      s"""WITH $nbScoreCtes,
        |bysc AS (SELECT score, sum(y) AS np, count(*) AS na FROM fin GROUP BY 1),
        |rk AS (SELECT np, na,
        |    2 * (coalesce(sum(na) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
        |      + (na - 1) AS mr2
        |  FROM bysc),
        |agg AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(na) - sum(np) AS BIGINT) AS n_neg,
        |    CAST(sum(np * mr2) - sum(np) * (sum(np) + 1) AS BIGINT) AS u2
        |  FROM rk)
        |SELECT n_pos, n_neg, u2,
        |  CAST(u2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
        |FROM agg""".stripMargin) { (s, dir) =>
      Classifier.aucEval(
        Classifier.nbScores(nbLabeled(s, dir), "doc_id", "text", "y", testMod = 5))
    },

    // ── calibration / reliability bins over the same NB scores: clamp to
    //    [-40, 39], 8-wide bins (all nonnegative after the +40 shift, so
    //    Spark's truncating DIV and DuckDB's flooring // agree), per-bin
    //    empirical positive rate as an integer ppm division. The curve a
    //    threshold-picker reads before turning scores into keep/drop. ──
    q("lt35_calibration",
      s"""WITH $nbScoreCtes,
        |b AS (SELECT CAST((greatest(least(score, 39), -40) + 40) // 8 AS INT) AS bin, y
        |  FROM fin)
        |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm
        |FROM b GROUP BY 1""".stripMargin) { (s, dir) =>
      Classifier.calibrationBins(
        Classifier.nbScores(nbLabeled(s, dir), "doc_id", "text", "y", testMod = 5))
    },

    // ── k-anonymity with one-step generalization (governance tier): group
    //    sizes over the (lang, source) quasi-identifier; groups under k=5
    //    generalize source → '*' and pool per lang (the Mondrian lattice's
    //    first cut). Output = per original group its generalized key, final
    //    pooled size, and whether it now clears k. Plan: one group agg +
    //    one lang-keyed window over the GROUP table (quasi-identifier
    //    cardinality, not corpus rows) — corpus is scanned once. ──
    q("lq7_k_anonymity",
      """WITH g AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
        |w AS (SELECT lang, source, n,
        |    sum(CASE WHEN n < 5 THEN n ELSE 0 END) OVER (PARTITION BY lang) AS small_n
        |  FROM g)
        |SELECT lang, source,
        |  CASE WHEN n >= 5 THEN source ELSE '*' END AS gen_source,
        |  CAST(CASE WHEN n >= 5 THEN n ELSE small_n END AS BIGINT) AS n_final,
        |  CAST(CASE WHEN n >= 5 THEN n ELSE small_n END >= 5 AS BOOLEAN) AS anonymous
        |FROM w""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val g = Td.table(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val pooled = sum(when(col("n") < 5, col("n")).otherwise(0L))
        .over(Window.partitionBy("lang"))
      g.select(col("lang"), col("source"),
          when(col("n") >= 5, col("source")).otherwise(lit("*")).as("gen_source"),
          when(col("n") >= 5, col("n")).otherwise(pooled).cast("long").as("n_final"))
        .withColumn("anonymous", col("n_final") >= 5)
    },

    // ── retention wipe / right-to-be-forgotten audit (governance tier):
    //    deterministic tombstone predicate (user_id % 97 = 0 stands in for
    //    the deletion-request list), ONE scan of events with conditional
    //    aggregation — per event_type the before/wiped/after row counts and
    //    distinct wiped users. With an external tombstone table the flag
    //    becomes a broadcast semi-join and the wipe itself a partition-
    //    pruned anti-join rewrite on the user-bucketed lake (the LlmLake
    //    layout); the audit stays this one scan either way. ──
    q("lq8_retention_wipe",
      """SELECT event_type, count(*) AS n_before,
        |  CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wiped,
        |  CAST(count(*) - sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
        |  CAST(count(DISTINCT CASE WHEN user_id % 97 = 0 THEN user_id END) AS BIGINT) AS n_users_wiped
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val wiped = col("user_id") % 97 === 0
      Td.table(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_before"),
          sum(when(wiped, 1L).otherwise(0L)).as("n_wiped"),
          (count(lit(1)) - sum(when(wiped, 1L).otherwise(0L))).as("n_after"),
          count_distinct(when(wiped, col("user_id"))).as("n_users_wiped"))
    },

    // ── l-diversity audit — k-anonymity's (lq7) necessary complement: a
    //    k-anonymous group whose SENSITIVE attribute is homogeneous still
    //    leaks it (the homogeneity attack). Per quasi-identifier group
    //    (lang, source), with the floor-log2 length band standing in for
    //    the sensitive attribute: distinct l-diversity (l >= 3) AND the
    //    stronger recursive (c=2, l=3)-diversity — top1 < c·(n − top1 −
    //    top2), i.e. the most common value must not dominate what remains
    //    after the two most common. ALL integer comparisons (counts and a
    //    bin()-length band), so both engines agree bit-exactly; one scan,
    //    two hash aggregates, one window over GROUP-cardinality rows. ──
    q("lq13_l_diversity",
      """WITH b AS (SELECT lang, source, length(bin(n_chars)) AS band FROM documents),
        |g AS (SELECT lang, source, band, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
        |r AS (SELECT lang, source, band, cnt,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY cnt DESC, band) AS rn
        |  FROM g)
        |SELECT lang, source, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS l_distinct,
        |  CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top1,
        |  CAST(coalesce(max(CASE WHEN rn = 2 THEN cnt END), 0) AS BIGINT) AS top2,
        |  count(*) >= 3 AS distinct_l_pass,
        |  count(*) >= 3 AND max(CASE WHEN rn = 1 THEN cnt END)
        |    < 2 * (sum(cnt) - max(CASE WHEN rn = 1 THEN cnt END)
        |           - coalesce(max(CASE WHEN rn = 2 THEN cnt END), 0)) AS recursive_cl_pass
        |FROM r GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val g = Td.table(s, dir, "documents")
        .select(col("lang"), col("source"), length(bin(col("n_chars"))).as("band"))
        .groupBy("lang", "source", "band").agg(count(lit(1)).as("cnt"))
      val rn = row_number().over(Window.partitionBy("lang", "source")
        .orderBy(col("cnt").desc, col("band")))
      val top1 = max(when(col("rn") === 1, col("cnt")))
      val top2 = coalesce(max(when(col("rn") === 2, col("cnt"))), lit(0L))
      g.withColumn("rn", rn)
        .groupBy("lang", "source")
        .agg(sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("l_distinct"),
          top1.as("top1"), top2.as("top2"),
          (count(lit(1)) >= 3).as("distinct_l_pass"),
          (count(lit(1)) >= 3 && top1 < lit(2L) * (sum(col("cnt")) - top1 - top2))
            .as("recursive_cl_pass"))
    }
  )

  /** Shared weak-label input for lt33/lt34: documents + y = heuristic
    * quality >= 0.5 (the lt6 threshold). */
  private def nbLabeled(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Td.tableFanned(s, dir, "documents").withColumn("y",
      when(TextOps.qualityScore(toks, col("text")) >= 0.5, 1).otherwise(0))
  }
}
