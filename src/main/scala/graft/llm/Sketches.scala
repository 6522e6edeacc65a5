package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-memory frequency sketching for corpus statistics: a count-min
  * sketch built from DETERMINISTIC integer hashing (the cross-engine md5
  * family every sampler here uses), so the sketch itself — not just the
  * answers derived from it — is reproducible bit-for-bit in any engine
  * and the registered query's DuckDB twin pins the estimates, not merely
  * sanity bounds. Complements the a11 (HLL distinct-count) and a18
  * (t-digest quantile) sketch tier with the heavy-hitters/point-frequency
  * member.
  *
  * At 100 TB the point: depth×width counters (a few KB) absorb an
  * unbounded token stream via partial aggregation — the counter build is
  * a hash aggregate whose output is O(d·w) regardless of input size, and
  * estimates never underestimate (CMS's one-sided error), which the
  * verdict column asserts per reported token. */
object Sketches {

  /** Exact top-`topK` tokens with their CMS estimates and the one-sided
    * error verdict. Output: token, exact_count, cms_estimate,
    * never_underestimates (always true — oracle- and spec-pinned).
    *
    * The exact counts are computed anyway (they're the ground truth the
    * verdict needs); a pure-sketch deployment would keep only `counters`
    * and probe it. The token count table feeds two consumers (counters,
    * top-k) and is [[Caches]]-persisted. */
  def cmsHeavyHitters(
      docs: DataFrame, idCol: String, textCol: String,
      depth: Int = 4, width: Int = 64, topK: Int = 10): DataFrame = {
    require(depth >= 1 && width >= 1 && topK >= 1,
      s"depth/width/topK must be >= 1, got $depth/$width/$topK")
    // persisted: counters and the exact-top-k tail consume tc inside one
    // action
    val tc = Caches.persist(docs
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n")))
    val hh = tc
      .withColumn("j", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("h", pmod(
        Dedup.md5Hash60(concat(col("j").cast("string"), lit(":"), col("token"))),
        lit(width.toLong)))
    val counters = hh.groupBy("j", "h").agg(sum(col("n")).as("c"))
    val top = tc.orderBy(col("n").desc, col("token")).limit(topK)
    top.select("token")
      .join(hh, "token")
      .join(counters, Seq("j", "h"))
      .groupBy("token")
      .agg(max(col("n")).as("exact_count"), min(col("c")).as("cms_estimate"))
      .withColumn("never_underestimates",
        col("cms_estimate") >= col("exact_count"))
  }
}
