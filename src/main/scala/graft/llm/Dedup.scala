package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data curation: exact,
  * n-gram-Jaccard, MinHash+LSH, and SimHash. All are pure DataFrame
  * pipelines — no collects, no UDFs in the hot path — so each scales by
  * shuffle-key choice:
  *
  *  - exact: one hash shuffle on the content digest;
  *  - n-gram Jaccard: shuffle on shingle (AQE skew-split handles hot
  *    shingles; at 100 TB additionally cap document frequency per shingle);
  *  - MinHash+LSH: shuffle on (band, bandHash) — candidate volume is
  *    controlled by band geometry, never all-pairs;
  *  - SimHash: shuffle on (band, bandBits) with pigeonhole completeness for
  *    hamming <= bands-1.
  */
object Dedup {

  // ── exact ────────────────────────────────────────────────────────────────

  /** Exact dedup: survivor = min id per content digest. */
  def exactSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  // ── n-gram Jaccard ───────────────────────────────────────────────────────

  /** (id, shingle, n_sh) exploded table, distinct per doc, with the doc's
    * distinct-shingle count emitted alongside every row. The count is
    * `size()` of the in-flight shingle ARRAY — free in the scan stage —
    * so downstream Jaccard never needs a per-doc count shuffle (the
    * window/aggregation pass it would otherwise pay over the full exploded
    * table). Tokens are materialized in their own projection first:
    * composing `shingles(tokens(text), n)` inline would splice the
    * tokenizer into the transform lambda, where it re-runs per shingle
    * position — O(tokens²) regex splits per document. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), TextOps.shingles(col("__toks"), n).as("__sh"))
      // __sh referenced twice FROM ITS OWN projection: CollapseProject's
      // multi-reference guard then refuses to inline the (expensive,
      // interpreted) shingle HOF into the consumers, so the array is built
      // once per document — explode(<hof>) + size(<hof>) in one projection
      // would instead re-inline it per consumer (no CSE for interpreted
      // HOFs) and triple the dedup tier's scan cost
      .select(col("doc_id"), col("__sh"), size(col("__sh")).as("n_sh"))
      .select(col("doc_id"), explode(col("__sh")).as("shingle"), col("n_sh"))

  /** Default per-shingle document-frequency ceiling. A shingle shared by f
    * documents contributes f·(f-1)/2 rows to the pair join — one viral
    * boilerplate shingle ("all rights reserved") with DF 10^6 alone yields
    * 5·10^11 pairs at 100 TB. Shingles past the cap are boilerplate, not
    * near-dup evidence: dropping them barely moves Jaccard for genuine
    * near-dups (which share many low-DF shingles) while bounding the join
    * at maxDf²/2 pairs per shingle. 1000 is far above any organic
    * shingle DF in the test corpora (max observed: 25 at sf0.1), so the
    * capped and uncapped paths agree there (oracle parity). */
  val DefaultMaxShingleDf = 1000

  /** Generic hot-key document-frequency cap: drop rows whose `keyCol`
    * value occurs more than `maxDf` times. The hot set is tiny by
    * construction (only keys with DF > maxDf), so it broadcasts and the
    * main table is filtered map-side — no extra shuffle of the big side. */
  private def capByDf(df: DataFrame, keyCol: String, maxDf: Int): DataFrame = {
    val hot = df.groupBy(keyCol).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(keyCol)
    // re-select in the input's column order: a USING join (even anti)
    // moves the join key to the front, which would silently break
    // positional renames downstream
    df.join(broadcast(hot), Seq(keyCol), "left_anti")
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Hot-shingle guard over a (doc_id, shingle) table — see [[capByDf]]. */
  def capShingleDf(shingles: DataFrame, maxDf: Int): DataFrame =
    capByDf(shingles, "shingle", maxDf)

  /** (doc_id, sh = 64-bit shingle hash, n_sh = doc's distinct-shingle
    * count). Equality on the hash shuffles and compares far cheaper than on
    * n-gram strings (collisions ~pairs/2^64 are negligible), and the
    * per-doc size riding every row means the pair rollup after a
    * self/confirm join needs NO size re-joins — the intersecting-pair table
    * (often >> the shingle table) would otherwise shuffle twice more just
    * to attach two longs. [[shingleTable]] emits `n_sh` for free from the
    * in-flight shingle array; a caller-built table without it falls back to
    * one count shuffle here. */
  private def hashedWithSize(shingles: DataFrame): DataFrame =
    if (shingles.columns.contains("n_sh"))
      shingles.select(col("doc_id"), xxhash64(col("shingle")).as("sh"), col("n_sh"))
    else
      shingles
        .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
        .withColumn("n_sh", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))

  /** Exact all-intersecting-pairs Jaccard >= minJ via shingle self-join,
    * with the hot-shingle DF cap applied first (pass
    * `maxShingleDf = Int.MaxValue` to disable). Union sizes always use the
    * FULL per-doc distinct-shingle count (the cap only suppresses pair
    * evidence from boilerplate shingles, it does not shrink documents —
    * matching the exact-Jaccard oracle's size semantics). This is the
    * confirm/baseline path; candidate *generation* at scale is LSH
    * (below). Output: d1 < d2, jaccard (double).
    *
    * The cap rides the join's OWN shuffle: the self-join must hash-
    * partition (and, for sort-merge, sort) both sides by the shingle hash
    * anyway, so a `count over (partition by sh)` window on top of that
    * exchange yields each shingle's exact document frequency with zero
    * extra passes — no separate aggregation, no broadcast, no cache. The
    * scan feeds one exchange, reused by both join sides. A 100 TB hot
    * shingle means one fat (linear) partition to count and discard —
    * the cap fires BEFORE the join can square it. */
  def jaccardPairs(
      shingles: DataFrame, minJ: Double,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    jaccardPairsUncapped(cappedHashed(shingles, maxShingleDf), minJ)

  /** Hashed (doc_id, sh, n_sh) table with the hot-shingle DF cap applied
    * (shared head of [[jaccardPairs]] and [[containmentPairs]]). */
  private def cappedHashed(shingles: DataFrame, maxShingleDf: Int): DataFrame = {
    val hashed = hashedWithSize(shingles)
    if (maxShingleDf == Int.MaxValue) hashed
    else hashed
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sh")))
      .filter(col("__df") <= maxShingleDf)
      .drop("__df")
  }

  /** Asymmetric near-dup detection: containment(A in B) =
    * |sh(A) ∩ sh(B)| / |sh(A)| — catches a document EMBEDDED in a larger
    * one, which Jaccard structurally misses (its size normalization drives
    * the score toward 0 as the host grows: a 100-token doc pasted into a
    * 10000-token page has J ≈ 0.01 but containment ≈ 1). Emits pairs
    * (d1 < d2) where either direction clears `minC`, reporting both
    * directions. Same shingle-hash equi-join shape (and hot-shingle DF
    * cap) as [[jaccardPairs]]. */
  def containmentPairs(
      shingles: DataFrame, minC: Double,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    pairMatches(cappedHashed(shingles, maxShingleDf))
      .groupBy("d1", "d2", "n1", "n2")
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("c1", col("n_inter").cast("double") / col("n1").cast("double"))
      .withColumn("c2", col("n_inter").cast("double") / col("n2").cast("double"))
      .filter(col("c1") >= minC || col("c2") >= minC)
      .select("d1", "d2", "n_inter", "c1", "c2")
  }

  /** Jaccard from a joined pair table carrying (d1, d2, n1, n2) per match:
    * group (sizes are functionally dependent on the doc ids), count the
    * intersection, compute jaccard = inter / (n1 + n2 - inter). */
  private def pairRollup(matches: DataFrame, minJ: Double): DataFrame =
    matches
      .groupBy("d1", "d2", "n1", "n2")
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")).cast("double"))
      .select("d1", "d2", "n_inter", "jaccard")
      .filter(col("jaccard") >= minJ)

  /** Self-join + rollup over an already-hashed (doc_id, sh, n_sh) table. */
  /** Canonical (d1 < d2) shingle-hash self-join carrying both sides'
    * sizes — the shared head of [[jaccardPairsUncapped]] and
    * [[containmentPairs]], factored so the join shape (canonicalization,
    * future skew hints) can only ever change in one place. */
  private def pairMatches(hashed: DataFrame): DataFrame = {
    val a = hashed.select(col("doc_id").as("d1"), col("sh"), col("n_sh").as("n1"))
    val b = hashed.select(col("doc_id").as("d2"), col("sh").as("sh2"), col("n_sh").as("n2"))
    // MERGE hint: without it the planner broadcasts one side of the
    // self-join (both sides estimate under the threshold at test SFs),
    // and the broadcast build RE-RUNS the entire upstream scan+tokenize+
    // shingle+window pipeline — the "one exchange reused by both sides"
    // contract in [[jaccardPairs]]'s scaladoc silently becomes two full
    // pipeline evaluations. Sort-merge keeps both sides on the single
    // sh-keyed exchange (ReuseExchange dedupes the identical map sides)
    // and spills gracefully at 100 TB where a broadcast could never fire
    // anyway. Measured r13 sf0.1: pair build 1.89 → 1.19 s, lg2 consumer
    // 3.44 → 2.92 s, identical output (join strategy is semantics-free).
    a.hint("merge").join(b, col("sh") === col("sh2") && col("d1") < col("d2"))
  }

  private def jaccardPairsUncapped(hashed: DataFrame, minJ: Double): DataFrame =
    // Size-ratio prefilter (guide §2.3 "shuffle fewer bytes"): the
    // intersection count can never exceed the smaller document, so
    // J = i/(n1+n2-i) <= min(n1,n2)/max(n1,n2) — a pair whose sizes differ
    // by more than minJ is dropped INSIDE the join stage, before its
    // intersection rows reach the rollup exchange. Pair-constant
    // predicate (n1, n2 ride every matched row), so it removes whole
    // pairs, never individual intersection rows: survivors' J is
    // unchanged and no qualifying pair can be lost. Skipped only when it
    // cannot prune (minJ <= 0). CONTAINMENT has no such bound (c1 = i/n1
    // is maximized by the SMALLER side alone), hence this lives here and
    // not in pairMatches.
    pairRollup(
      if (minJ > 0)
        pairMatches(hashed).filter(
          least(col("n1"), col("n2")).cast("double") >=
            lit(minJ) * greatest(col("n1"), col("n2")).cast("double"))
      else pairMatches(hashed),
      minJ)

  // ── token-chunk (verbatim-span) dedup ────────────────────────────────────

  /** Per-document verbatim-span duplication profile: the token stream is cut
    * into consecutive `n`-token chunks (last chunk may be short), and a chunk
    * occurrence counts as DUPLICATED when its exact text appears in >= 2
    * distinct documents — chunk-granular exact-substring dedup for stripping
    * boilerplate/copied spans that document-level near-dup passes
    * ([[jaccardPairs]]/[[minhashNearDups]]) miss when only part of a
    * document is copied.
    *
    * Plan shape: ONE documents scan. Chunk document-frequency comes from two
    * window functions over the SAME `chunk` partitioning (dense_rank numbers
    * the distinct docs in each chunk group; max broadcasts that count to
    * every occurrence) — a single chunk-keyed exchange, no self-join, no
    * second scan (the agg+join-back alternative plans two different
    * exchanges and re-tokenizes; same lesson as lt6's single-scan rewrite).
    * The per-doc rollup is the only other shuffle. At 100 TB the chunk rows
    * are ~1/n of token volume and AQE skew-split absorbs viral chunks.
    * Output: doc_id, n_chunks, n_dup_chunks, dup_frac. */
  def chunkDupStats(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"chunk size must be >= 1, got $n")
    val nch = ceil(size(col("__toks")) / lit(n.toDouble)).cast("int")
    val chunks = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      // empty token streams contribute no chunks (explode drops the row);
      // the `when` guard matters because sequence(0, -1) would DESCEND
      .select(col("doc_id"), col("__toks"),
        explode(when(size(col("__toks")) > 0, sequence(lit(0), nch - 1))
          .otherwise(array().cast("array<int>"))).as("c"))
      .select(col("doc_id"),
        array_join(slice(col("__toks"), col("c") * n + 1, lit(n)), " ").as("chunk"))
    val byChunk = Window.partitionBy("chunk")
    chunks
      .withColumn("__dr", dense_rank().over(byChunk.orderBy("doc_id")))
      .withColumn("__nd", max(col("__dr")).over(byChunk))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** Content-defined chunking (CDC) dedup — the INSERT-ROBUST complement
    * to [[chunkDupStats]]: a chunk boundary opens before token position p
    * whenever the rolling 3-token window ending at p-1 hashes to
    * 0 mod `avgLen` (expected chunk length = avgLen tokens). Because
    * boundaries depend only on local content, inserting or deleting a
    * token moves only the boundaries NEAR the edit — fixed-width chunks
    * instead shift every later boundary and destroy all downstream
    * matches (the CDC property backup/dedup systems are built on).
    *
    * Plan shape: one documents scan → token explode; boundary flags are
    * scan-stage expressions (the same md5-60bit hash lt5 splits on);
    * segment ids come from ONE running-sum window per doc; chunks
    * assemble in ONE (doc, seg) aggregation (order restored by sorting
    * the collected (pos, tok) structs — deterministic, matching the
    * oracle's `string_agg(... ORDER BY pos)`); the dup profile then
    * reuses ld8's two-windows-over-one-chunk-exchange shape. Output:
    * doc_id, n_chunks, n_dup_chunks, dup_frac. */
  def cdcChunkDupStats(
      docs: DataFrame, idCol: String, textCol: String, avgLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(avgLen >= 2, s"avgLen must be >= 2, got $avgLen")
    val pos = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        posexplode(col("__toks")).as(Seq("p0", "tok")))
      .withColumn("pos", col("p0") + 1)
    // boundary flag: the window slice is guarded by pos >= 4 (And
    // short-circuits) and clamped with greatest() so a small pos can never
    // reach Spark's from-the-end negative-start slice semantics
    val win = slice(col("__toks"), greatest(col("pos") - 3, lit(1)), lit(3))
    val b = when(col("pos") >= 4 &&
        pmod(md5Hash60(array_join(win, " ")), lit(avgLen.toLong)) === 0L, 1L)
      .otherwise(0L)
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val chunks = pos
      .withColumn("seg", sum(b).over(wDoc))
      .groupBy("doc_id", "seg")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk"))
    val byChunk = Window.partitionBy("chunk")
    chunks
      .withColumn("__dr", dense_rank().over(byChunk.orderBy("doc_id")))
      .withColumn("__nd", max(col("__dr")).over(byChunk))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** Incremental near-dup pairs for a corpus APPEND — the production
    * shape for a growing lake: compare only the NEW batch against the
    * full corpus (old–new and new–new pairs), never re-deriving the
    * old–old pairs the previous run already emitted. The join's probe
    * side is the full shingle table but its build side is only the new
    * batch's shingles, so work scales with |new| × matching keys, not
    * |corpus|² — appending 1 TB to 100 TB costs ~1% of a full rerun,
    * and the emitted pair set is EXACTLY the all-pairs result minus
    * old–old (oracle-pinned: the registered query's DuckDB twin computes
    * all-pairs and filters).
    *
    * Orientation: old–new pairs join once (old docs appear only on the
    * corpus side); new–new pairs are canonicalized by requiring
    * corpus-side id < new-side id when the corpus-side row is itself new.
    * The hot-shingle DF cap is computed over the FULL corpus (same
    * boilerplate semantics as [[jaccardPairs]] — a shingle's virality
    * doesn't depend on which batch it arrived in). */
  def incrementalJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      isNew: Column, minJ: Double,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val hashed = cappedHashed(shingleTable(docs, idCol, textCol, n), maxShingleDf)
    val newIds = docs.filter(isNew).select(col(idCol).cast("long").as("doc_id"))
    val aSide = hashed
      .join(newIds.withColumn("__new", lit(true)), Seq("doc_id"), "left")
      .withColumn("__new", coalesce(col("__new"), lit(false)))
      .select(col("doc_id").as("ida"), col("sh"), col("n_sh").as("na"), col("__new"))
    val bSide = hashed.join(newIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("idb"), col("sh").as("sh2"), col("n_sh").as("nb"))
    val m = aSide
      .join(bSide, col("sh") === col("sh2") &&
        ((!col("__new") && col("ida") =!= col("idb")) ||
          (col("__new") && col("ida") < col("idb"))))
      .select(
        least(col("ida"), col("idb")).as("d1"),
        greatest(col("ida"), col("idb")).as("d2"),
        when(col("ida") < col("idb"), col("na")).otherwise(col("nb")).as("n1"),
        when(col("ida") < col("idb"), col("nb")).otherwise(col("na")).as("n2"))
    // size-ratio prefilter: see jaccardPairsUncapped (J <= min/max)
    pairRollup(m.filter(least(col("n1"), col("n2")).cast("double") >=
      lit(minJ) * greatest(col("n1"), col("n2")).cast("double")), minJ)
  }

  /** Verbatim-span SCRUB — [[chunkDupStats]] reports the duplication
    * profile; this one performs the C4-style removal and hands back the
    * cleaned corpus. The token stream is cut into consecutive `n`-token
    * chunks; across the whole corpus exactly ONE occurrence of each
    * distinct chunk text survives (the globally first by (doc_id, chunk
    * index) — so a span repeated within a single document is scrubbed
    * too), and every document is reassembled from its surviving chunks in
    * original order.
    *
    * Plan shape: one documents scan; first-occurrence election is a
    * `row_number` window over ONE chunk-keyed exchange (no self-join, no
    * distinct-then-join-back second scan); reassembly is the per-doc
    * rollup — collected (index, chunk) structs sorted then joined, the
    * same order-restoring idiom as [[cdcChunkDupStats]], with per-doc
    * memory bounded by the document's own size. At 100 TB chunk rows are
    * ~1/n of token volume and AQE skew-split absorbs viral chunks
    * (boilerplate headers) in the window exchange.
    *
    * Output: doc_id, n_kept, n_dropped, clean_text (empty string when
    * every chunk of the document lost its election). Documents with no
    * tokens emit no row, matching [[chunkDupStats]]. */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"chunk size must be >= 1, got $n")
    val nch = ceil(size(col("__toks")) / lit(n.toDouble)).cast("int")
    val chunks = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        explode(when(size(col("__toks")) > 0, sequence(lit(0), nch - 1))
          .otherwise(array().cast("array<int>"))).as("c"))
      .select(col("doc_id"), col("c"),
        array_join(slice(col("__toks"), col("c") * n + 1, lit(n)), " ").as("chunk"))
    val byChunk = Window.partitionBy("chunk")
    chunks
      .withColumn("__rn", row_number().over(byChunk.orderBy(col("doc_id"), col("c"))))
      .withColumn("__keep", col("__rn") === 1)
      .groupBy("doc_id")
      .agg(
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("c"), col("chunk"))))),
            x => x.getField("chunk")), " ").as("clean_text"))
  }

  // ── MinHash + banded LSH ─────────────────────────────────────────────────

  /** One-pass MinHash signature aggregate: per input `sh` (a 64-bit shingle
    * hash), fold all `numHashes` re-seeded hashes into a running-min array
    * in ONE tight JIT-compiled loop. BIT-IDENTICAL to the declarative
    * spelling `min(xxhash64(lit(i), col("sh")))` for i in [0, numHashes):
    * Spark's XxHash64 expression folds children left-to-right from seed 42
    * (`hashLong(sh, hashInt(i, 42))`), replicated here via the same static
    * [[org.apache.spark.sql.catalyst.expressions.XXH64]] kernels —
    * MinHashAggSpec pins the equality row-for-row.
    *
    * Why not the declarative spelling (the r14 finding): 128 separate
    * `min(xxhash64(...))` AggregateExpressions push the aggregate past
    * `spark.sql.codegen.maxFields`, so the update path runs interpreted —
    * ~0.4 µs per hash+min (13.8 s CPU on ld3's 260 k-row shingle table at
    * sf0.1, the single largest CPU block left on the bench). Raising
    * maxFields made it WORSE (24 s: the generated giant update method blows
    * past the JIT's 8 KB inline/compile budget). The imperative loop is
    * ~20 ns per hash+min — and at 100 TB the signature pass is the dedup
    * tier's dominant map work. Guide §1.2 step 2 (per-task work) after the
    * shape is right. */
  private final class MinHashSigAgg(numHashes: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, Array[Long], Array[Long]] {
    import org.apache.spark.sql.Encoder
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // seed chain of xxhash64(lit(i), sh): recomputed per executor, tiny
    @transient private lazy val seeds: Array[Long] =
      Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))
    override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    override def reduce(b: Array[Long], shBoxed: java.lang.Long): Array[Long] = {
      val sh = shBoxed.longValue()
      val s = seeds
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashLong(sh, s(i))
        if (h < b(i)) b(i) = h
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], c: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) { if (c(i) < a(i)) a(i) = c(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** MinHash signature from 64-bit-hashed shingle rows (`sh` column):
    * numHashes independent min-hashes, each min over xxhash64(seed_i, sh),
    * computed by [[MinHashSigAgg]]'s one-loop fold. Output schema:
    * (doc_id, mh0 .. mh{n-1}). */
  private[graft] def minhashSignatureHashed(hashed: DataFrame, numHashes: Int): DataFrame = {
    val sig = udaf(new MinHashSigAgg(numHashes))
    hashed.groupBy("doc_id").agg(sig(col("sh")).as("__mhs"))
      .select(col("doc_id") +:
        (0 until numHashes).map(i => col("__mhs")(i).as(s"mh$i")): _*)
  }

  /** Banded-LSH candidate pairs from a minhash signature table:
    * bands of `rowsPerBand` hashes each; docs agreeing on all hashes of any
    * band become a candidate pair. Shuffle key is (band, bandHash) — the
    * classic sub-quadratic path. Probability a pair with Jaccard s is
    * emitted: 1 - (1 - s^r)^b; with r=4, b=32 recall at s>=0.9 is
    * 1 - 3e-15 (effectively exhaustive for true near-dups). */
  def lshCandidates(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandCols = (0 until numBands).map { bnd =>
      val hashes = (0 until rowsPerBand).map(r => col(s"mh${bnd * rowsPerBand + r}"))
      xxhash64(lit(bnd) +: hashes: _*)
    }
    // Group-local pair enumeration instead of a banded SELF-JOIN: the join
    // spelling evaluated the signature aggregation (numHashes xxhash64-mins
    // per shingle row) once PER SIDE — neither the MERGE hint nor an eager
    // cache of the banded frame got the two sides onto one computation
    // under AQE (measured on ld3/lq1: the agg+band stage ran twice at
    // ~0.7-1.6 s each). Grouping on (band, band_hash) consumes the banded
    // frame exactly once; each group's sorted member list emits its d1<d2
    // pairs in-place (slice from the element after d1 — ids sorted, so
    // order and canonical orientation are free). Group width is the same
    // quantity the join squared, so the quadratic exposure is unchanged;
    // the distinct collapses pairs that agree on several bands, exactly as
    // before.
    val banded = sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "band_hash")))
    banded.groupBy("band", "band_hash")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .where(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "d1")))
      .select(col("d1"),
        explode(slice(col("ids"), col("i") + 2,
          greatest(size(col("ids")) - col("i") - 1, lit(0)))).as("d2"))
      .distinct()
  }

  /** Full MinHash near-dup pipeline: shingle → sign → LSH candidates →
    * exact-Jaccard confirm (computed only for candidate pairs — the
    * all-pairs join never happens). */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int, minJ: Double,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    // internal frame (three longs per row), cached for its three consumers
    // (signature, confirm sides); released via Caches.release() — same
    // lifecycle and size semantics as jaccardPairs.
    val sh = capByDf(Caches.persist(hashedWithSize(
      shingleTable(docs, idCol, textCol, shingleN))), "sh", maxShingleDf)
    val cand = lshCandidates(minhashSignatureHashed(sh, numHashes), numHashes, rowsPerBand)
    val a = sh.select(col("doc_id").as("d1"), col("sh").as("s1"), col("n_sh").as("n1"))
    val b = sh.select(col("doc_id").as("d2b"), col("sh").as("s2"), col("n_sh").as("n2"))
    // size-ratio prefilter on the CONFIRM join (see jaccardPairsUncapped:
    // J <= min(n1,n2)/max(n1,n2)): an LSH candidate pair whose sizes
    // already rule out minJ never expands its intersection rows into the
    // rollup exchange.
    pairRollup(
      cand.join(a, "d1")
        .join(b, col("d2") === col("d2b") && col("s1") === col("s2"))
        .filter(least(col("n1"), col("n2")).cast("double") >=
          lit(minJ) * greatest(col("n1"), col("n2")).cast("double")),
      minJ)
  }

  /** Train/test contamination detection (eval decontamination): pairs of
    * documents from two different splits sharing at least `minShared`
    * shingles. Same sub-quadratic machinery as [[jaccardPairsUncapped]] —
    * hashed-shingle equi-join (with the [[capShingleDf]] guard) — but the
    * join is across split strata instead of a d1<d2 self-join, and the
    * signal is the absolute shared-shingle count (an eval item is
    * contaminated by ANY long-enough overlap, however large the training
    * doc, so Jaccard's size normalization is wrong here).
    * `splits` maps doc_id → split label (e.g. [[graft.llm]] hash-split
    * output); output: test_doc, train_doc, n_shared. */
  def contaminationPairs(
      shingles: DataFrame, splits: DataFrame,
      testSplit: String, trainSplit: String, minShared: Int,
      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val hashed = capByDf(
        shingles.select(col("doc_id"), xxhash64(col("shingle")).as("sh")),
        "sh", maxShingleDf)
      .join(splits, "doc_id")
    val t = hashed.filter(col("split") === testSplit).select(col("doc_id").as("test_doc"), col("sh"))
    val tr = hashed.filter(col("split") === trainSplit).select(col("doc_id").as("train_doc"), col("sh").as("sh2"))
    t.join(tr, col("sh") === col("sh2"))
      .groupBy("test_doc", "train_doc")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-document duplicate-n-gram fraction: per doc, the share of
    * n-gram POSITIONS whose shingle occurs in >= 2 distinct documents —
    * the boilerplate/template signal complementing the INTRA-doc
    * repetition ratio ([[TextOps.repetitionRatio]]).
    *
    * Scale shape: the position stream (doc_id, shingle — multiset, repeats
    * kept) is [[Caches.persist]]ed for its two consumers (the distinct →
    * doc-frequency aggregation and the probe side of the df join) so the
    * tokenize+window+explode pass runs once, not twice. The df table is
    * one row per shingle, so joining it back to positions fans out 1:1 —
    * a viral shingle cannot blow up quadratically the way a pair
    * self-join would. Three keyed exchanges, all linear in the token
    * stream. Callers release the internal cache via [[Caches.release]]
    * after consuming the result. */
  def dupNgramFraction(docs: DataFrame, textCol: String, n: Int): DataFrame = {
    val pos = Caches.persist(docs.select(col("doc_id"),
      explode(TextOps.ngramsAll(TextOps.tokens(col(textCol)), n)).as("s")))
    val dfq = pos.distinct().groupBy("s").agg(count(lit(1)).as("df"))
    pos.join(dfq, Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("dup_ngrams"))
      .withColumn("dup_frac",
        col("dup_ngrams").cast("double") / col("n_ngrams"))
  }

  // ── cluster survivors ────────────────────────────────────────────────────

  /** Connected components over a near-dup pair graph (d1, d2 edges):
    * survivor = min doc id per component; output (doc_id, survivor_id) for
    * every doc appearing in at least one pair.
    *
    * Distributed min-label propagation WITH pointer doubling: each round
    * every node first takes the min of its own and its neighbors' labels
    * (one edge hop), then jumps to its new label's label (doubling the
    * distance already covered). Rounds to converge are O(log diameter)
    * instead of O(diameter) — on a length-d chain, plain propagation needs
    * d rounds while this needs ~log2(d) — which matters twice: fewer
    * sequential jobs (each driver-side round is a scheduling barrier and a
    * load-variance surface) and a much smaller worst case for long-chain
    * components. The driver loop only checks a scalar convergence metric
    * per round; the data never leaves the executors. At 100 TB this is the
    * standard large-graph CC shape (label propagation over edge joins, cf.
    * two-hop / star-contraction CC).
    */
  def dedupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // loud guard: the edge build casts ids to long, and cast("long") on a
    // non-numeric column yields NULL per row — silent garbage instead of
    // an error. String doc ids must be mapped to longs by the caller.
    Seq("d1", "d2").foreach { c =>
      require(pairs.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"dedupClusters: $c must be numeric doc ids, got " +
          s"${pairs.schema(c).dataType.simpleString} (cast would silently null them)")
    }
    // Symmetrize via explode, not union: a union's two legs are two
    // separate evaluations of the (expensive) pair pipeline, while the
    // explode emits both directions from ONE pass over each pair row. No
    // distinct either: the pair rollup upstream emits unique d1 < d2 rows
    // (so the directions cannot collide), and duplicate edges would anyway
    // only widen the propagation joins (min over a multiset = min over its
    // set) — a distinct would cost a full extra shuffle of the edge table
    // for nothing. Callers feeding non-deduped edge lists at scale should
    // distinct() them first to keep join fan-out down.
    // persisted through the tracked registry so a mid-iteration failure
    // (this method unpersists explicitly only on the success path) still
    // gets cleaned at the harness's releaseAll boundary instead of pinning
    // the edge cache for the rest of a Bench/Verify run
    // The edge cache is PINNED to the round loop's join key (dst) with one
    // explicit keyed repartition — the in-session twin of the bucketed
    // edge lake (GraphLakeSpec): every round's neighbor-min join reads the
    // corpus-dominant edge side exchange-free off the cache's preserved
    // hashpartitioning, instead of re-exchanging it once per round. The
    // explicit count marks the shuffle REPARTITION_BY_NUM so AQE's
    // coalescer cannot fold the cache to one partition (which would
    // serialize every round).
    val nPart = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges = Caches.persist(pairs.select(explode(array(
        struct(col("d1").cast("long").as("src"), col("d2").cast("long").as("dst")),
        struct(col("d2").cast("long").as("src"), col("d1").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(nPart, col("dst")))
    // Seed each node with min(own id, min neighbor id) — one aggregation
    // that is both the node-set build and propagation round 0 (pairs and
    // star-shaped clusters converge immediately). Grouped on DST so it
    // rides the cache's dst partitioning exchange-free: on the symmetric
    // edge list built above, min over in-neighbors == min over
    // out-neighbors, so (dst, min(src)) is value-identical to the src
    // spelling. The eager localCheckpoint is deliberate: it is the job
    // that populates the edges cache with a SINGLE consumer — leaving the
    // seed lazy would hand round 0 a plan referencing `edges` three times.
    var labels = Caches.trackCheckpoint(edges.groupBy(col("dst").as("id"))
      .agg(min("src").as("m"))
      .select(col("id"), least(col("id"), col("m")).as("lbl"))
      .localCheckpoint())
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id2")).agg(min("lbl").as("nlbl"))
      val stepped = labels.join(neighborMin, labels("id") === col("id2"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("mid"))
      // Pointer doubling from round 1 on: labels are always node ids (the
      // seed picks one, every later value is some node's label), so
      // resolving id -> label ON the label itself jumps straight to what
      // that node already knows. Round 0 skips the jump: real near-dup
      // components are overwhelmingly diameter <= 2 (measured sf0.1 pair
      // graph: max diameter 1), so the common case is seed + one zero-
      // change confirm round with no extra joins — the jump's two extra
      // shuffles would be pure overhead there. Long-chain components hit
      // round 1+ and switch to doubled hops (O(log diameter) rounds).
      // `stepped` feeds both sides of the jump self-join; the planner
      // reuses the exchange (identical subplans), so the hop is one extra
      // small shuffle, not a recomputation.
      val jumped =
        if (iter == 0) stepped
        else {
          val ptr = stepped.select(col("id").as("pid"), col("mid").as("plbl"))
          stepped.join(ptr, stepped("mid") === col("pid"), "left")
            .select(col("id"), col("prev"),
              least(col("mid"), coalesce(col("plbl"), col("mid"))).as("mid"))
        }
      // One Spark job per round: the changed-label count rides a
      // LongAccumulator through the eager localCheckpoint materialization,
      // so convergence needs no second aggregation action. localCheckpoint
      // also truncates the lineage: without it each round's plan embeds the
      // whole previous round's plan and the tree grows exponentially (on a
      // cluster, use checkpoint() with a reliable dir for lineage
      // truncation plus fault tolerance). Termination stays correct with
      // the extra hop: a round with zero changes is a fixpoint of the
      // neighbor-min step alone, which on symmetric edges means adjacent
      // nodes agree everywhere — labels are component-constant.
      val changed = spark.sparkContext.longAccumulator(s"cc_changed_$iter")
      val next = jumped
        .as[(Long, Long, Long)]
        .map { case (id, prev, nl) =>
          if (nl < prev) changed.add(1L)
          (id, nl)
        }
        .toDF("id", "lbl")
        .localCheckpoint()
      // track every round's checkpoint at creation: the previous round is
      // still released eagerly below, but a FAILED round's storage must be
      // reachable by the harness releaseAll (unpersisting an already-
      // released RDD is a no-op, so eager + tracked don't conflict)
      Caches.trackCheckpoint(next)
      // release the PREVIOUS round's checkpoint storage for real:
      // Dataset.unpersist is a no-op on localCheckpoint'd frames (the pin
      // is on the LogicalRDD's rdd, not in the CacheManager)
      Caches.unpersistCheckpoint(labels)
      labels = next
      converged = changed.value == 0L
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupClusters did not converge within $maxIters iterations; " +
          "labels may be partially propagated (a component's diameter " +
          "exceeds maxIters) — raise maxIters")
    edges.unpersist()
    // every round's checkpoint (including the final labels pinned inside
    // the returned plan's LogicalRDD) is already tracked above, so the
    // harness-level releaseAll drops whatever remains after the consuming
    // action without sweeping the whole SparkContext (a host's own
    // persists stay untouched)
    labels.select(col("id").as("doc_id"), col("lbl").as("survivor_id"))
  }

  /** Connected components via ALTERNATING STAR CONTRACTION (the
    * large-star/small-star formulation of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — same output contract
    * as [[dedupClusters]]: (doc_id, survivor_id = component-min id),
    * spec-pinned identical and sharing ld6's recursive-closure oracle.
    *
    * Why a second formulation: [[dedupClusters]] maintains a NODE-LABEL
    * table and joins the full edge list against it every round — two
    * corpus-keyed exchanges per round whose width is the edge list. Star
    * contraction instead REWRITES THE EDGE LIST: each round hangs every
    * node off the minimum of its neighborhood (large-star moves the
    * larger neighbors, small-star the smaller), so edges migrate toward
    * component minima and the edge table typically SHRINKS round over
    * round (dup edges collapse in the distinct). On hub-heavy graphs the
    * per-round shuffle is bounded by the CURRENT edge count, not the
    * original — the property that made this the standard trillion-edge
    * CC shape — while pointer doubling keeps re-shuffling the original
    * edge list until convergence. Both are O(log diameter) rounds; the
    * crossover is real data's shrink rate, so both stay registered (the
    * lg5/lg7 deployment-knob discipline).
    *
    * Round shape: large-star = one symmetric explode + one node-keyed min
    * + one join back; small-star = one min + one join on the already
    * lo-oriented table; each step distinct-dedupes (the shrink) and
    * localCheckpoints (the dedupClusters lineage discipline). Convergence
    * = the small-star output equals its input edge set (count + anti-join
    * witness — exact, not a checksum); a budget exhaustion warns loudly
    * like [[dedupClusters]]. */
  def starClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    Seq("d1", "d2").foreach { c =>
      require(pairs.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"starClusters: $c must be numeric doc ids, got " +
          s"${pairs.schema(c).dataType.simpleString} (cast would silently null them)")
    }
    // canonical lo < hi orientation; self-pairs carry no connectivity
    var e = Caches.trackCheckpoint(pairs.select(
        least(col("d1").cast("long"), col("d2").cast("long")).as("lo"),
        greatest(col("d1").cast("long"), col("d2").cast("long")).as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct()
      .localCheckpoint())
    var cnt = e.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // LARGE-STAR: for every node u, hang each LARGER neighbor v off
      // m = min(N(u) ∪ {u}) — emitted lo-oriented since m < v always
      val sym = e.select(col("lo").as("u"), col("hi").as("v"))
        .unionAll(e.select(col("hi").as("u"), col("lo").as("v")))
      val mLarge = sym.groupBy("u").agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      val large = Caches.trackCheckpoint(sym.join(mLarge, "u")
        .where(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .where(col("lo") =!= col("hi"))
        .distinct()
        .localCheckpoint())
      // SMALL-STAR: on the lo-oriented table, for every hi-node u hang
      // each smaller neighbor AND u itself off m = min of its lo's
      val mSmall = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val next = Caches.trackCheckpoint(
        large.join(mSmall, "hi")
          .select(col("m").as("lo"), col("lo").as("hi"))
          .unionAll(mSmall.select(col("m").as("lo"), col("hi")))
          .where(col("lo") =!= col("hi"))
          .distinct()
          .localCheckpoint())
      val nextCnt = next.count()
      // exact fixpoint witness against the ROUND INPUT (same cardinality
      // AND no new edge — a checksum could collide, an anti-join cannot):
      // the whole round is a pure function of e, so next == e means every
      // later round reproduces it. Comparing against the intermediate
      // large-star table instead would stop early: small-star can map a
      // large-star output onto itself while the NEXT large-star still has
      // progress to make (a chain's tail hanging off a non-root).
      converged = nextCnt == cnt &&
        next.join(e, Seq("lo", "hi"), "left_anti").isEmpty
      // only NOW is the round input droppable — the witness read it
      Caches.unpersistCheckpoint(e)
      Caches.unpersistCheckpoint(large)
      e = next
      cnt = nextCnt
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"starClusters did not converge within $maxIters iterations; " +
          "labels may be partially contracted — raise maxIters")
    // converged edge set IS the star forest: (hi → lo=root) per non-root,
    // plus each root labeling itself
    val labels = e.select(col("hi").as("doc_id"), col("lo").as("survivor_id"))
      .unionByName(e.select(col("lo").as("doc_id"), col("lo").as("survivor_id")))
      .distinct()
    if (converged) labels
    else
      // Budget exhaustion leaves a partially-contracted edge set in which a
      // node can still hang off several intermediate minima — emitting that
      // verbatim would be a MULTI-label table (downstream joins on doc_id
      // fan out). Collapse to the minimum candidate so the degraded output
      // keeps dedupClusters' one-row-per-doc contract (labels are then
      // still only partially contracted — the warn above stands — but the
      // shape invariant holds). Converged path skips the extra exchange.
      labels.groupBy("doc_id").agg(min("survivor_id").as("survivor_id"))
  }

  // ── SimHash ──────────────────────────────────────────────────────────────

  /** Cross-engine 60-bit token hash: first 15 hex chars of md5, base-16
    * decoded. Identical in DuckDB as CAST('0x' || substr(md5(t),1,15) AS
    * BIGINT) — used instead of xxhash64 wherever the oracle must reproduce
    * the value. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 32-bit SimHash over the document's token multiset: bit i is set iff
    * the count of tokens with bit i set exceeds the count without
    * (strict majority; ties → 0). */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    val h = md5Hash60(col("tok"))
    val bitSums = (0 until 32).map(i =>
      sum(when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$i"))
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 32).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist, via byte-band
    * blocking: 4 bands of 8 bits; any pair within hamming <= 3 shares at
    * least one full band (pigeonhole), so candidate generation is complete —
    * the blocked join is an optimization, not an approximation. */
  def simhashNearDups(sims: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-band blocking is only complete for hamming <= 3")
    val banded = sims.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(bnd =>
        shiftright(col("simhash"), bnd * 8).bitwiseAND(lit(0xFFL))): _*))
        .as(Seq("band", "band_bits")))
    val a = banded.as("a")
    val b = banded.as("b")
    // MERGE hint, same reasoning as [[pairMatches]]: un-hinted, the
    // broadcast build of one self-join side re-runs the whole simhash
    // pipeline (token explode + 32 bit-sum aggregate) a second time;
    // sort-merge shares ONE (band, band_bits) exchange between the sides.
    a.hint("merge").join(b, col("a.band") === col("b.band") &&
        col("a.band_bits") === col("b.band_bits") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Edit-distance-1 near-dup pairs (typo-robust entity dedup) via
    * COMPLETE deletion-signature blocking (the SymSpell scheme): every
    * string emits itself plus each single-character deletion as a
    * signature. Two strings within edit distance 1 necessarily share
    * one — substitution: delete the differing position from both;
    * insertion/deletion: the shorter string IS a deletion variant of the
    * longer. Sharing a signature only bounds ED ≤ 2, so an exact
    * `levenshtein ≤ 1` confirm filters survivors.
    *
    * Shape: explode to |s|+1 signature rows per string, ONE equi-join on
    * the signature text (no hashing — no collisions to reason about),
    * distinct pair, scan-stage confirm. At 100 TB the signature is the
    * blocking key: candidate volume rides the join's own exchange, and a
    * viral signature (e.g. every string sharing a common prefix-deletion)
    * takes the same DF-cap discipline as the shingle joins if it ever
    * dominates. Emits (id1 < id2, d = exact distance ∈ {0, 1}). */
  def editNeighborPairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    // rename FIRST, then explode in a second select: a lambda referencing
    // a column aliased in the same projection trips Spark's lateral-
    // column-alias resolution (INTERNAL_ERROR LateralColumnAliasReference)
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val s = col("s")
    // i = 0..len: delete char i+1 (1-based); i = len yields the string
    // itself (covers pure insert/delete pairs)
    val dels = transform(sequence(lit(0), length(s)),
      i => concat(s.substr(lit(1), i), s.substr(i + lit(2), length(s))))
    // dedupe signatures per string BEFORE the join: a repeated-character
    // run emits the same deletion variant once per run position (every
    // 'Supplier#000000001'-style zero run ~7×), and the equi-join would
    // multiply m1·m2 identical rows per candidate pair for the later
    // distinct to shuffle and discard
    val sig = base.select(col("id"), s, explode(dels).as("sig")).distinct()
    val a = sig.select(col("id").as("id1"), col("s").as("s1"), col("sig"))
    val b = sig.select(col("id").as("id2"), col("s").as("s2"), col("sig").as("sig2"))
    // MERGE hint, same reasoning as [[pairMatches]]: the un-hinted
    // broadcast build re-runs the explode+distinct signature pipeline for
    // the second side; sort-merge reuses the distinct's own exchange.
    // levenshtein + filter run INSIDE the join stage (32-way), not after
    // the pair distinct: d is a pure function of (s1, s2), so confirming
    // per candidate occurrence and distinct-ing the survivors afterwards
    // yields the identical pair set — while the distinct now shuffles only
    // ED<=1 survivors (id1, id2, d — no strings) instead of every
    // candidate pair with both strings, whose byte-sized AQE coalesce ran
    // the whole confirm on one task (guide §2.3; StageProbe: 412 ms
    // single-task confirm stage on ld17 at sf0.1, gone after).
    a.hint("merge").join(b, col("sig") === col("sig2") && col("id1") < col("id2"))
      .withColumn("d", levenshtein(col("s1"), col("s2")))
      .filter(col("d") <= 1)
      .select("id1", "id2", "d")
      .distinct()
  }

  // ── Winnowing fingerprints ───────────────────────────────────────────────

  /** MOSS-style winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * "Winnowing: Local Algorithms for Document Fingerprinting"): hash every
    * k-token gram, slide a window of `w` consecutive gram hashes, and keep
    * the minimum hash of each window — rightmost occurrence on ties, the
    * paper's "robust winnowing". The guarantee: every w consecutive grams
    * contribute ≥1 selected fingerprint, so any shared run of ≥ w+k-1
    * tokens between two documents shares ≥1 fingerprint, at ~2/(w+1)
    * density instead of one-hash-per-gram — the plagiarism/overlap detector
    * that is cheaper than full shingle join but positionally complete
    * (unlike MinHash, which samples globally and has no locality
    * guarantee).
    *
    * Cross-engine determinism: the hash is the 15-hex-char md5 prefix AS A
    * STRING, and rightmost-tie selection is encoded into one sortable key
    * `hash || '#' || lpad(9999999 - pos, 7)` — the lexicographic min of
    * that key IS (min hash, max pos), so both engines elect identical
    * fingerprints with plain string min() over the window frame. Grams
    * beyond position 9999999 per doc would break the pad (lpad would
    * truncate) — far past any real document.
    *
    * Plan shape: tokenize + gram + hash are scan-stage; the only shuffle is
    * the (doc_id)-partitioned window (doc-scoped key, never viral), and the
    * final distinct rides a (doc_id, selection) hash agg with partial
    * aggregation. Docs with fewer than `w` grams have no full window — the
    * paper selects nothing; we keep the whole-doc minimum instead (every
    * doc gets ≥1 fingerprint, the practical variant) by clamping the
    * window-start filter to position 0.
    *
    * Output: doc_id, fp (15-hex md5 prefix of the selected gram), pos
    * (gram position of the selected occurrence) — distinct. */
  def winnowingFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowingFingerprints: k/w must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        posexplode(TextOps.ngramsAll(col("__toks"), k)).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
        concat(substring(md5(col("g")), 1, 15), lit("#"),
          lpad((lit(9999999) - col("pos")).cast("string"), 7, "0"))
          .as("key"))
    val byDoc = Window.partitionBy("doc_id")
    val frame = byDoc.orderBy("pos").rowsBetween(0, w - 1)
    grams
      .withColumn("ng", count(lit(1)).over(byDoc))
      .withColumn("sel", min(col("key")).over(frame))
      // only FULL windows select (plus position 0 when the doc is shorter
      // than w grams, so short docs still fingerprint)
      .filter(col("pos") <= greatest(col("ng") - w, lit(0L)))
      .select(col("doc_id"),
        substring(col("sel"), 1, 15).as("fp"),
        (lit(9999999) - substring(col("sel"), 17, 7).cast("int")).as("pos"))
      .distinct()
  }
}
