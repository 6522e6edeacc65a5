package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Language-model-style quality signal without a language model: per-doc
  * mean BIGRAM SURPRISAL estimated from the corpus itself — the
  * CCNet/KenLM perplexity-filter shape (score each document by how
  * predictable its token stream is under a model trained on the corpus),
  * with the model reduced to exact integer counts so every engine computes
  * bit-identical scores.
  *
  * Per position i (with a `""` begin-of-doc sentinel as the first
  * context): surprisal = floor(log2 c(prev)) - floor(log2 c(prev, cur)),
  * an integer approximation of -log2 p(cur | prev) that is EXACT
  * cross-engine because floor(log2 n) is computed as
  * `length(bin(n)) - 1` — pure integer/string ops, no transcendental
  * whose last ulp could differ between engines. Boilerplate and
  * template-generated text (predictable continuations) scores near 0;
  * rare-continuation text scores high; both tails are what curation
  * pipelines cut.
  *
  * Plan shape (the skew-robust one): counting via windows over (prev) /
  * (prev, cur) would put Zipf-hot single-token contexts into single
  * window partitions with no map-side combine — at 100 TB the `the`
  * partition alone would hot-spot an executor. Instead all three count
  * tables are hash AGGREGATES (partial aggregation absorbs the skew in
  * the map stage):
  *   occ → docBg (doc_id, prev, cur, m)   [doc-scoped key: never viral]
  *        → bg   (prev, cur, cbg)          [rows = distinct bigrams]
  *        → ctx  (prev, cprev)             [rows = vocab]
  * then docBg ⋈ bg ⋈ ctx → per-doc rollup. docBg feeds three consumers,
  * so it is [[Caches]]-persisted (the dedup tier's tracked-persist
  * pattern; the harness releases per query, library callers call
  * `Caches.release()` after their action) — without it each branch
  * column-prunes differently and re-scans + re-tokenizes the corpus.
  * The count-table joins broadcast when small and fall to
  * AQE-skew-handled shuffle joins at scale.
  *
  * Output: doc_id, n_toks (token count incl. the sentinel position —
  * i.e. exactly the document's token count), sum_surprisal, and
  * surprisal_q = floor(mean × 1e6) (quantized so the double division is
  * reproducible: products stay < 2^53, one IEEE divide, one floor).
  * Documents with no tokens emit no row. */
object Surprisal {

  /** floor(log2 n) + 1 for positive n, as codegen'd integer/string ops. */
  private def bitlen(c: org.apache.spark.sql.Column) = length(bin(c))

  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("__toks"),
        posexplode(col("__toks")).as(Seq("p0", "cur")))
      .select(col("doc_id"),
        when(col("p0") === 0, lit("")).otherwise(
          element_at(col("__toks"), col("p0"))).as("prev"),
        col("cur"))
    // persisted: the bigram table feeds the corpus-model chain AND the
    // per-doc join.
    val docBg = Caches.persist(
      occ.groupBy("doc_id", "prev", "cur").agg(count(lit(1)).as("m")))
    val bg = docBg.groupBy("prev", "cur").agg(sum(col("m")).as("cbg"))
    val ctx = bg.groupBy("prev").agg(sum(col("cbg")).as("cprev"))
    val s = bitlen(col("cprev")) - bitlen(col("cbg"))
    docBg
      .join(bg, Seq("prev", "cur"))
      .join(ctx, Seq("prev"))
      .groupBy("doc_id")
      .agg(
        sum(col("m")).as("n_toks"),
        sum(col("m") * s).cast("long").as("sum_surprisal"))
      .withColumn("surprisal_q",
        floor(col("sum_surprisal") * lit(1000000.0) / col("n_toks")).cast("long"))
  }

  /** CROSS-corpus surprisal — the actual CCNet filter shape: the bigram
    * LM is trained ONLY on the rows where `isRef` holds (the clean
    * reference stratum, e.g. a wiki-like language slice) and then scores
    * EVERY document, so in-domain text scores low and out-of-domain /
    * noisy text scores high. [[bigramSurprisal]] scores the corpus under
    * itself (an outlier signal); this scores it under a reference (a
    * domain-shift signal) — both tails feed curation cuts.
    *
    * Unseen mass is handled add-one style, in the same exact integer
    * space: surprisal = floor(log2(cprev + V)) - floor(log2(cbg + 1)),
    * with cbg/cprev coalesced to 0 for bigrams/contexts the reference
    * never saw and V = the reference's distinct continuation vocabulary —
    * an integer approximation of -log2((cbg+1)/(cprev+V)) with no
    * transcendental to diverge cross-engine. A wholly out-of-vocabulary
    * document therefore scores a flat floor(log2 V) per token, the
    * maximum the smoothed model can assign.
    *
    * Plan shape mirrors [[bigramSurprisal]]: every count is a hash
    * aggregate (Zipf-hot contexts are absorbed by map-side partial agg,
    * never window partitions). `isRef` is constant per doc, so it rides
    * the docBg GROUP KEY — the reference counts derive from docBg by one
    * more aggregate, no second tokenize pass and no doc-id semi-join.
    * docBg and the bounded refBg table are [[Caches]]-persisted (two+
    * consumers each); V joins as a broadcast 1-row cross join. The
    * scoring joins are LEFT (the corpus keeps bigrams the reference
    * lacks); an empty reference stratum raises loudly at execution
    * rather than scoring everything under a vacuous V = 0 model. */
  def crossSurprisal(
      docs: DataFrame, idCol: String, textCol: String,
      isRef: org.apache.spark.sql.Column): DataFrame = {
    val occ = docs
      .select(col(idCol).cast("long").as("doc_id"),
        isRef.cast("boolean").as("is_ref"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("is_ref"), col("__toks"),
        posexplode(col("__toks")).as(Seq("p0", "cur")))
      .select(col("doc_id"), col("is_ref"),
        when(col("p0") === 0, lit("")).otherwise(
          element_at(col("__toks"), col("p0"))).as("prev"),
        col("cur"))
    // persisted ×2: docBg is read by the reference-model derivation and
    // the scoring join; refBg by the context rollup, the vocab scalar, and
    // the join.
    val docBg = Caches.persist(
      occ.groupBy("doc_id", "is_ref", "prev", "cur").agg(count(lit(1)).as("m")))
    val refBg = Caches.persist(docBg.where(col("is_ref"))
      .groupBy("prev", "cur").agg(sum(col("m")).as("cbg")))
    val refCtx = refBg.groupBy("prev").agg(sum(col("cbg")).as("cprev"))
    val vocab = refBg.agg(countDistinct(col("cur")).as("__v"))
    val s = bitlen(coalesce(col("cprev"), lit(0L)) + col("__v")) -
      bitlen(coalesce(col("cbg"), lit(0L)) + lit(1L))
    val sGuarded = when(col("__v") < 1,
        raise_error(lit("crossSurprisal: reference stratum is empty — no model to score under"))
          .cast("int"))
      .otherwise(s)
    docBg
      .join(refBg, Seq("prev", "cur"), "left")
      .join(refCtx, Seq("prev"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(
        sum(col("m")).as("n_toks"),
        sum(col("m") * sGuarded).cast("long").as("sum_xent"))
      .withColumn("xent_q",
        floor(col("sum_xent") * lit(1000000.0) / col("n_toks")).cast("long"))
  }
}
