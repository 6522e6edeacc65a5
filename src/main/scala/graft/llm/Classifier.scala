package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the fastText/CCNet classifier shape
  * (train a cheap linear model on weak labels, score every document, filter
  * by the verdict) reduced to a multinomial Naive Bayes whose arithmetic is
  * EXACT integers, so training, scoring, and the held-out evaluation all
  * hash-match a relational oracle bit-for-bit.
  *
  * The statistical core of fastText's bag-of-words classifier and NB is the
  * same family (a linear score over token counts); NB's weights are pure
  * count ratios, which is what makes the whole pipeline — model fit
  * included — replayable as SQL. Log-likelihoods use the engine's
  * floor-log2 idiom (`length(bin(n))`, pure integer/string ops — see
  * [[Surprisal]]): llr(t) = bitlen(c1(t)+1) − bitlen(c0(t)+1) with add-one
  * smoothing, doc score = Σ m(t)·llr(t) − n_tok·(bitlen(T1+V) −
  * bitlen(T0+V)) + bitlen(N1+1) − bitlen(N0+1). No transcendental, no
  * float: every engine computes the same BIGINT.
  *
  * Plan shape (the 100 TB one): ONE corpus scan builds the per-(doc, token)
  * count table ([[Caches]]-persisted — the train counts and the test
  * scoring both consume it; without it each branch re-scans + re-tokenizes
  * the corpus). The model is VOCAB-sized (one hash aggregate with map-side
  * combine absorbing Zipf skew — never a window), totals ride the plan as a
  * 1-row broadcast, and scoring is one vocab-keyed join back onto the token
  * stream (broadcast when the vocab fits, AQE shuffle join at scale) + one
  * doc-keyed rollup. Train/test separation is the engine's deterministic
  * md5 split — no shuffle, no second scan.
  *
  * Reference scope: bike-analyzer has no ML tier; this is the
  * training-data-pipeline extension mandated by SURVEY §2-beyond (quality
  * scoring), composing the lt5 hash-split and lt1 quality machinery.
  */
object Classifier {

  /** floor(log2 n) + 1 for n >= 1 (and 1 for n = 0), as codegen'd
    * integer/string ops — identical to the oracle's `length(bin(n))`. */
  private def bitlen(c: Column): Column = length(bin(c))

  /** Trains multinomial NB on the hash-train split of `docs` (binary weak
    * label in `labelCol`) and scores the held-out split (~1/testMod of docs
    * by md5 over the id). Returns per-test-doc (doc_id, y, score) — the
    * exact integer log-ratio score. Decision boundary for consumers:
    * score > 0 → class 1 (ties → 0, pinned on both engines). Documents
    * with zero tokens emit no row (no evidence, no verdict — the
    * [[Surprisal]] contract). */
  def nbScores(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, testMod: Int = 5): DataFrame = {
    require(testMod >= 2, s"testMod must be >= 2, got $testMod")
    val base = docs.select(
      col(idCol).cast("long").as("doc_id"),
      col(labelCol).cast("int").as("y"),
      (pmod(Dedup.md5Hash60(col(idCol).cast("string")), lit(testMod.toLong)) === 0L)
        .as("is_test"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    // one corpus scan -> doc-scoped count table, persisted for its three
    // consumers (model, totals, test scoring)
    val docTf = Caches.persist(
      base.groupBy("doc_id", "y", "is_test", "tok").agg(count(lit(1)).as("m")))

    val train = docTf.filter(!col("is_test"))
    // vocab-sized model: per-token occurrence counts by class
    val model = train.groupBy("tok").agg(
      sum(when(col("y") === 1, col("m")).otherwise(0L)).as("c1"),
      sum(when(col("y") === 0, col("m")).otherwise(0L)).as("c0"))
    // scalar totals (class token mass, vocab size, class doc counts) —
    // a 1-row frame cross-joined into the scoring tail
    val tot = train.agg(
      sum(when(col("y") === 1, col("m")).otherwise(0L)).as("t1"),
      sum(when(col("y") === 0, col("m")).otherwise(0L)).as("t0"),
      count_distinct(col("tok")).as("v"),
      count_distinct(when(col("y") === 1, col("doc_id"))).as("n1"),
      count_distinct(when(col("y") === 0, col("doc_id"))).as("n0"))

    docTf.filter(col("is_test"))
      .join(model, Seq("tok"), "left")
      .select(col("doc_id"), col("y"), col("m"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c0"), lit(0L)).as("c0"))
      .groupBy("doc_id", "y")
      .agg(
        sum(col("m") * (bitlen(col("c1") + 1) - bitlen(col("c0") + 1)))
          .as("s_tok"),
        sum(col("m")).as("n_tok"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("y"),
        (col("s_tok")
          - col("n_tok") * (bitlen(col("t1") + col("v")) - bitlen(col("t0") + col("v")))
          + (bitlen(col("n1") + 1) - bitlen(col("n0") + 1))).cast("long").as("score"))
  }

  /** [[nbScores]] rolled up to the held-out confusion matrix:
    * (y_true, y_pred, n_docs, sum_score) — sum_score is the exact integer
    * score mass per cell, so an oracle pins the scores themselves, not just
    * the verdict counts. */
  def nbTrainEval(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, testMod: Int = 5): DataFrame =
    nbScores(docs, idCol, textCol, labelCol, testMod)
      .groupBy(col("y").as("y_true"),
        when(col("score") > 0, 1).otherwise(0).cast("int").as("y_pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score")).cast("long").as("sum_score"))

  /** Threshold-free ranking evaluation of a scorer: EXACT Mann–Whitney
    * ROC-AUC over integer scores, ties by midrank. `scored` must carry
    * (y ∈ {0,1}, score: long).
    *
    * Kept exact by staying in integers: per distinct score s (ascending),
    * twice-midrank mr2 = 2·(cum_before + 1) + (n_s − 1); U2 = Σ n_pos(s)·mr2
    * − N_pos·(N_pos+1) is twice the rank-sum U, and AUC·1e6 =
    * U2·1e6 DIV (2·N_pos·N_neg) — one integer division, no float anywhere,
    * so both engines emit the same BIGINT. Overflow bound: needs
    * U2·1e6 < 2^63, i.e. N_pos·N_neg < ~4.6e12 — evaluate per stratum past
    * ~2M×2M held-out docs (an eval-set size nobody reaches).
    *
    * Plan shape: the corpus-sized input collapses FIRST via one hash
    * aggregate to distinct-score rows (cardinality bounded by the score
    * range — thousands, not corpus-sized), and only that tiny frame crosses
    * the single-partition ordering window; the final rollup is one row.
    * Returns (n_pos, n_neg, u2, auc_ppm). Single-class contract: with
    * n_pos = 0 or n_neg = 0 the AUC is undefined and `auc_ppm` is NULL
    * (integer division by zero is NULL on both engines, deliberately not
    * masked to a fake value) — consumers should check n_pos/n_neg. */
  def aucEval(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = scored.groupBy("score").agg(
      sum(col("y")).cast("long").as("np"), count(lit(1)).as("na"))
    val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .select(col("np"), col("na"),
        (lit(2L) * (coalesce(sum(col("na")).over(w), lit(0L)) + 1L)
          + (col("na") - 1L)).as("mr2"))
      .agg(
        sum(col("np")).cast("long").as("n_pos"),
        (sum(col("na")) - sum(col("np"))).cast("long").as("n_neg"),
        (sum(col("np") * col("mr2"))
          - sum(col("np")) * (sum(col("np")) + 1L)).cast("long").as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        expr("u2 * 1000000 DIV (2 * n_pos * n_neg)").cast("long").as("auc_ppm"))
  }

  /** Reliability-diagram bins over integer scores: clamp to [lo, hi],
    * `width`-wide bins (shifted by −lo so the bin index is nonnegative —
    * Spark's truncating DIV and an oracle's flooring division agree only
    * off the negatives), per-bin size and empirical positive rate as an
    * integer ppm division. One hash aggregate; output is O(bins). */
  def calibrationBins(scored: DataFrame, lo: Long = -40L, hi: Long = 39L,
      width: Long = 8L): DataFrame = {
    require(width > 0 && hi > lo, s"bad bin geometry [$lo, $hi] / $width")
    scored
      .select(col("y"),
        expr(s"CAST((greatest(least(score, $hi), $lo) + ${-lo}) DIV $width AS INT)")
          .as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 DIV n").cast("long").as("pos_rate_ppm"))
  }
}
