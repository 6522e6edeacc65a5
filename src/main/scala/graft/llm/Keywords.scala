package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-document keyword extraction by tf-idf, with the idf reduced to
  * exact integers so both engines rank identically: idf(w) =
  * floor(log2 N) - floor(log2 df(w)) computed as `length(bin(n))`
  * differences (the same transcendental-free log2 as
  * [[Surprisal]]), score = tf × idf. Corpus-wide tokens (df = N) score
  * 0; rare-but-repeated tokens dominate — the labeling/routing signal
  * curation pipelines attach to documents (cluster naming, topic
  * routing, retrieval filters).
  *
  * Plan shape: tokens explode once into docTf (doc-scoped key, never
  * viral, partial agg absorbs token skew); docTf feeds three consumers
  * (df table, corpus doc count, scoring join) so it is [[Caches]]-
  * persisted like [[Surprisal]]'s docBg; df joins back broadcast-when-
  * small; the top-k election is a window over the doc key — never hot.
  * The doc count enters as a 1-row cross-joined aggregate (kept in-plan;
  * no driver round-trip).
  *
  * Output: doc_id, token, tf, score, rank (1..k by score desc, token
  * asc). Documents with no tokens emit no row. */
object Keywords {

  def tfidfKeywords(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // persisted: df / nd / the scoring join consume docTf inside one action
    val docTf = Caches.persist(docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val df = docTf.groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val nd = docTf.agg(count_distinct(col("doc_id")).as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    docTf
      .join(df, "token")
      .crossJoin(broadcast(nd))
      .withColumn("score",
        (col("tf") * (length(bin(col("n"))) - length(bin(col("df"))))).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "score", "rank")
  }

  /** Corpus collocations by document-level pointwise mutual information,
    * with the log reduced to exact integers (same bitlen-log2 family as
    * tf-idf above): pmi_q = floor(log2(N·c(a,b))) − floor(log2(c(a)·c(b)))
    * ≈ log2 [ P(a,b) / (P(a)P(b)) ] — the standard phrase-mining /
    * topic-association signal (a collocation scores high when the pair
    * co-occurs far above independence).
    *
    * Counting is document-level (a pair co-occurs when both tokens appear
    * in the same document, counted once — `array_distinct` before the
    * explode), so a token repeated 100× in one doc can't inflate its pairs.
    *
    * Plan shape: the distinct (doc, token) table is built once and
    * [[Caches]]-persisted (three consumers: unigram df, the pair self-join's
    * two sides); the self-join keys on doc_id — doc-scoped, never viral,
    * with per-doc pair fan-out bounded by maxDocTokens² (a loud
    * `raise_error` guards degenerate mega-vocabulary docs, the IntervalJoin
    * cap lesson); pair counts partial-aggregate; N rides the plan as a
    * 1-row broadcast cross join; top-k plans as TakeOrderedAndProject.
    * Count products stay < 2^62 for corpora < 2^31 docs — beyond that,
    * split the bitlen difference per factor (documented, not needed here).
    *
    * Output: t1 < t2, n_pair, pmi_q, ranked (pmi_q DESC, n_pair DESC,
    * t1, t2) top-k; pairs below `minPair` co-occurrences dropped (PMI is
    * noise on singleton pairs). */
  def pmiPairs(
      docs: DataFrame, idCol: String, textCol: String,
      minPair: Long, k: Int, maxDocTokens: Int = 100000): DataFrame = {
    require(k >= 1 && minPair >= 1, s"pmiPairs: need k/minPair >= 1")
    // persisted: the pair self-join's two sides + the marginals all read dt
    val dt = Caches.persist(docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
      .withColumn("nt", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("tok",
        when(col("nt") <= maxDocTokens, col("tok"))
          .otherwise(raise_error(concat(lit("pmiPairs: doc "),
            col("doc_id").cast("string"),
            lit(s" has more than $maxDocTokens distinct tokens — pair " +
              "fan-out would be quadratic. Pre-truncate or raise the cap.")))))
      .select("doc_id", "tok"))
    val uni = dt.groupBy("tok").agg(count(lit(1)).as("c"))
    val nd = dt.agg(count_distinct(col("doc_id")).as("n"))
    dt.as("a")
      .join(dt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("t1"), col("b.tok").as("t2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPair)
      .join(uni.select(col("tok").as("t1"), col("c").as("c1")), "t1")
      .join(uni.select(col("tok").as("t2"), col("c").as("c2")), "t2")
      .crossJoin(broadcast(nd))
      .select(col("t1"), col("t2"), col("n_pair"),
        (length(bin(col("n") * col("n_pair")))
          - length(bin(col("c1") * col("c2")))).cast("long").as("pmi_q"))
      .orderBy(col("pmi_q").desc, col("n_pair").desc, col("t1"), col("t2"))
      .limit(k)
  }
}
