package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.llm.{Dedup, Sampling, TextOps}

/** One packed document: which context window (`bin`) it starts in within
  * its shard's concat stream, and at what `offset`. */
final case class PackedDoc(
    doc_id: Long, shard: Long, bin: Long, offset: Long)

/** Streaming twin of [[graft.llm.Sampling.sequencePack]]: documents arrive
  * continuously, and each shard's running token total persists in keyed
  * state, so every new doc gets its (bin, offset) into the concat-and-chunk
  * stream INCREMENTALLY — no re-pack of history when a drop lands.
  *
  * Ordering contract: the batch operator packs each shard in global
  * (keepHash, id) order; a stream cannot know a smaller hash arrives later,
  * so it packs in ARRIVAL order across micro-batches and (keepHash, id)
  * order within each micro-batch — the same first-arrival compromise
  * [[CurationStream]] documents for dedup. The two agree whenever drops
  * arrive in hash order, and in particular on a single-drop replay (the
  * equivalence the spec pins).
  *
  * State is ONE Long per shard — bounded by the shard count by
  * construction, the cheapest state shape Structured Streaming can carry
  * (contrast dedup's per-key state). At 100 TB the shard count scales with
  * the cluster, not the data, so state never grows.
  *
  * Memory contract: one shard's slice of one micro-batch is buffered to
  * apply the within-batch sort (the same group-buffering OdInference's
  * matcher does). Micro-batch size is the operator's knob —
  * maxFilesPerTrigger / maxBytesPerTrigger bound it at the source, so the
  * buffer is admission-controlled, not data-scaled.
  */
object PackingStream {

  /** Assign (shard, bin, offset) to each arriving doc, carrying each
    * shard's running token total in keyed state. Tokenizes `text`; a
    * caller that already carries the token count (e.g. the curated tier
    * of [[ChainStream]]) should use [[packWeighted]] and never ship text
    * through this operator at all. */
  def pack(
      docs: Dataset[(Long, String)], // (doc_id, text)
      ctxTokens: Long, shards: Int): Dataset[PackedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    packWeighted(
      docs.toDF("doc_id", "text")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        .as[(Long, Long)],
      ctxTokens, shards)
  }

  /** [[pack]] over precomputed (doc_id, n_tok) weights — the form for
    * upstream stages that already tokenized (no text in the shuffle). */
  def packWeighted(
      docs: Dataset[(Long, Long)], // (doc_id, n_tok)
      ctxTokens: Long, shards: Int): Dataset[PackedDoc] = {
    require(ctxTokens > 0, s"pack: ctxTokens must be positive, got $ctxTokens")
    require(shards > 0, s"pack: shards must be positive, got $shards")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.toDF("doc_id", "n_tok")
      .withColumn("shard",
        pmod(Dedup.md5Hash60(col("doc_id").cast("string")), lit(shards.toLong)))
      .withColumn("hk", Sampling.keepHash(col("doc_id"), col("shard")))
      .select("doc_id", "shard", "n_tok", "hk")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Long, Long)], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          // within the micro-batch: the batch operator's (keepHash, id) order
          val out = rows.toSeq.sortBy(r => (r._4, r._1)).map {
            case (id, shard, nTok, _) =>
              val start = cum
              cum += nTok
              PackedDoc(id, shard, start / ctxTokens, start % ctxTokens)
          }
          state.update(cum)
          out.iterator
      }
  }

  /** Landing-dir JSONL drops → incrementally packed parquet, one owned
    * batch_id partition per trigger: the state store rolls back with a
    * replayed batch, so a replay replaces itself instead of double-advancing
    * any shard's token cursor. */
  def start(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      ctxTokens: Long = 512L, shards: Int = 8): StreamingQuery = {
    import spark.implicits._
    val stream = StreamGuards.landing(spark, CurationStream.docSchema, "json", landingDir)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
    StreamGuards.drain(pack(stream, ctxTokens, shards),
        OutputMode.Update(), checkpointDir, outDir -> "PackingStream packed sink") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, outDir)
    }
  }
}
