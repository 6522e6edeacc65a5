package graft.llm

import graft.{SparkSpec, Td}

/** Pins the dedup/similarity tier's cache lifecycle: every internal
  * persist is released by Caches.release() after the consuming action —
  * no dead cached RDDs accumulate across queries (the Bench, Verify and
  * StageProbe loops call releaseAll between queries). */
class CachesSpec extends SparkSpec {

  private def noopWrite(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  test("jaccardPairs caches nothing; minhash/lsh internal caches are gone after release()") {
    Caches.releaseAll(spark) // clean slate (suites share one JVM session)
    val docs = Td.table(spark, Sf0001, "documents")
    // jaccardPairs rides the join's own shuffle for the DF cap — zero
    // caches even BEFORE any release
    noopWrite(Dedup.jaccardPairs(
      Dedup.shingleTable(docs, "doc_id", "text", 3), 0.8))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "jaccardPairs must not persist anything")

    noopWrite(Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleN = 3, numHashes = 32, rowsPerBand = 4, minJ = 0.8))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the internal hashed-shingle cache to be materialized")
    Caches.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "release() must free every internal persist")

    val vecs = Td.table(spark, Sf0001, "embeddings")
    noopWrite(Similarity.lshNearDups(vecs, "vec_id", "embedding", 0.45))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Caches.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("releaseAll also clears dedupClusters' localCheckpoint storage") {
    Caches.releaseAll(spark)
    val docs = Td.table(spark, Sf0001, "documents")
    noopWrite(Dedup.dedupClusters(Dedup.minhashNearDups(
      docs, "doc_id", "text", shingleN = 3, numHashes = 32,
      rowsPerBand = 4, minJ = 0.8)))
    Caches.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseAll must leave zero persistent RDDs (incl. checkpoints)")
  }

  test("releaseAll is scoped: a host application's own persist survives it") {
    Caches.releaseAll(spark)
    val host = Td.table(spark, Sf0001, "documents").persist()
    try {
      noopWrite(host) // materialize the host cache
      // run a tier query that persists + checkpoints internally, then the
      // harness boundary release
      noopWrite(Dedup.dedupClusters(Dedup.minhashNearDups(
        host, "doc_id", "text", shingleN = 3, numHashes = 32,
        rowsPerBand = 4, minJ = 0.8)))
      Caches.releaseAll(spark)
      val remaining = spark.sparkContext.getPersistentRDDs
      assert(remaining.nonEmpty,
        "releaseAll must NOT sweep persists it never tracked")
      assert(host.storageLevel.useMemory,
        "the host frame must still be marked persistent")
    } finally {
      host.unpersist(blocking = true): Unit
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
