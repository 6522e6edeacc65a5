package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r14 minhash-signature rewrite: the one-loop imperative
  * aggregate ([[Dedup.MinHashSigAgg]]) must be BIT-IDENTICAL to the
  * declarative `min(xxhash64(lit(i), col("sh")))` spelling it replaced,
  * which lives on here as the oracle. Identical signatures ⇒ identical
  * bands ⇒ identical LSH candidates ⇒ the oracle-facing pair set cannot
  * move. */
class MinHashAggSpec extends SparkSpec {

  import spark.implicits._

  /** The replaced per-hash aggregate spelling: one `min(xxhash64(i, sh))`
    * AggregateExpression per hash, same (doc_id, mh0 .. mh{n-1}) schema. */
  private def declarativeSignature(hashed: org.apache.spark.sql.DataFrame,
      numHashes: Int) = {
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("sh"))).as(s"mh$i"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  // Adversarial-ish hashed-shingle fixture: negative hashes, Long.MinValue/
  // MaxValue extremes, duplicate sh values within and across docs, a
  // single-row doc, and a doc whose shingles collide with another's.
  private def hashedFixture = Seq(
    (1L, 42L), (1L, -42L), (1L, Long.MaxValue), (1L, Long.MinValue),
    (2L, 42L), (2L, 7L), (2L, 7L),
    (3L, 0L),
    (4L, -1L), (4L, 1L), (4L, 42L)
  ).toDF("doc_id", "sh")

  test("imperative minhash signature is bit-identical to the declarative spelling") {
    for (numHashes <- Seq(8, 128)) {
      val imperative = Dedup.minhashSignatureHashed(hashedFixture, numHashes)
      val declarative = declarativeSignature(hashedFixture, numHashes)
      assert(imperative.columns.toSeq == declarative.columns.toSeq,
        s"schema drift at numHashes=$numHashes")
      val a = imperative.orderBy("doc_id").collect().map(_.toSeq)
      val b = declarative.orderBy("doc_id").collect().map(_.toSeq)
      assert(a.toSeq == b.toSeq, s"value drift at numHashes=$numHashes")
    }
  }

  test("signature values match a direct replay of the xxhash64 seed chain") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = 8
    val got = Dedup.minhashSignatureHashed(hashedFixture, n)
      .orderBy("doc_id").collect()
    val byDoc = Seq(1L, 2L, 3L, 4L).map { d =>
      d -> Seq(42L, -42L, Long.MaxValue, Long.MinValue, 7L, 0L, -1L, 1L)
        .filter(sh => hashedFixture.filter(col("doc_id") === d && col("sh") === sh)
          .count() > 0)
    }.toMap
    got.foreach { row =>
      val d = row.getLong(0)
      (0 until n).foreach { i =>
        val expect = byDoc(d)
          .map(sh => XXH64.hashLong(sh, XXH64.hashInt(i, 42L))).min
        assert(row.getLong(1 + i) == expect, s"doc $d mh$i")
      }
    }
  }

  test("full LSH pipeline is unchanged by the aggregate swap (pair-set equality)") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different text with other words entirely here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text",
        shingleN = 3, numHashes = 128, rowsPerBand = 4, minJ = 0.5)
      .select("d1", "d2", "jaccard").as[(Long, Long, Double)].collect().toSet
    // the pair set the declarative spelling produced on this corpus: docs
    // 1/2 are verbatim twins, doc 3 shares 6 of its 7 word 3-grams with
    // them (J = 6/8), doc 4 shares nothing
    assert(pairs == Set((1L, 2L, 1.0), (1L, 3L, 0.75), (2L, 3L, 0.75)))
  }
}
