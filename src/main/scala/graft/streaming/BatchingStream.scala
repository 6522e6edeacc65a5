package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.llm.Dedup

/** One batched document: which fixed-capacity batch it joins within its
  * (band, shard) group, and at which slot. */
final case class BatchedDoc(
    doc_id: Long, band: Int, shard: Long, batch_idx: Long, slot: Long)

/** Streaming twin of [[graft.llm.Sampling.lengthBatches]]: documents
  * arrive continuously and each (band, shard) group's running position
  * cursor persists in keyed state, so every new doc gets its
  * (batch_idx, slot) INCREMENTALLY — no re-batching of history when a
  * drop lands. The loader-side companion of [[PackingStream]] for models
  * that keep sequences whole and pad to the band bound.
  *
  * Ordering contract (the [[PackingStream]] compromise): arrival order
  * across micro-batches, (hk, id) order within one — equal to the batch
  * operator on a single-drop replay, and batches stay capacity-exact in
  * every case because capacity depends only on the band.
  *
  * State is ONE Long per (band, shard) — bounded by ~64 x shards by
  * construction (bands are the positions of a long's leading bit), the
  * same cheapest-possible state shape as packing. */
object BatchingStream {

  /** Assign (band, shard, batch_idx, slot) to each arriving (doc_id,
    * n_tok), carrying each (band, shard) position cursor in keyed state.
    * Rows with n_tok < 1 carry no batchable content and are dropped,
    * matching the batch operator. */
  def batch(
      docs: Dataset[(Long, Long)], // (doc_id, n_tok)
      tokenBudget: Long, shards: Int): Dataset[BatchedDoc] = {
    require(tokenBudget >= 1, s"batch: tokenBudget must be >= 1, got $tokenBudget")
    require(shards >= 1, s"batch: shards must be >= 1, got $shards")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.toDF("doc_id", "n_tok")
      .filter(col("n_tok") >= 1L)
      .withColumn("band", (length(bin(col("n_tok"))) - 1).cast("int"))
      .withColumn("shard",
        pmod(Dedup.md5Hash60(col("doc_id").cast("string")), lit(shards.toLong)))
      .withColumn("hk", Dedup.md5Hash60(concat_ws(":",
        col("band").cast("string"), col("shard").cast("string"),
        col("doc_id").cast("string"))))
      .select("doc_id", "band", "shard", "hk")
      .as[(Long, Int, Long, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Long, BatchedDoc](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: (Int, Long), rows: Iterator[(Long, Int, Long, Long)], state: GroupState[Long]) =>
          val (band, shard) = key
          val cap = math.max(tokenBudget / ((2L << band) - 1), 1L)
          var pos = state.getOption.getOrElse(0L)
          // within the micro-batch: the batch operator's (hk, id) order
          val out = rows.toSeq.sortBy(r => (r._4, r._1)).map { case (id, _, _, _) =>
            val p = pos
            pos += 1
            BatchedDoc(id, band, shard, p / cap, p % cap)
          }
          state.update(pos)
          out.iterator
      }
  }

  /** Landing-dir JSONL drops → incrementally batched parquet, one owned
    * batch_id partition per trigger. */
  def start(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      tokenBudget: Long, shards: Int): StreamingQuery = {
    import spark.implicits._
    val stream = StreamGuards.landing(spark, CurationStream.docSchema, "json", landingDir)
      .select(col("doc_id").cast("long"),
        size(graft.llm.TextOps.tokens(col("text"))).cast("long"))
      .as[(Long, Long)]
    StreamGuards.drain(batch(stream, tokenBudget, shards),
        OutputMode.Update(), checkpointDir, outDir -> "BatchingStream batched sink") {
      (b, batchId) => StreamGuards.writeOwned(b, batchId, outDir)
    }
  }
}
