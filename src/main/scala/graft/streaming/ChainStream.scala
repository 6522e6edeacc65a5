package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.llm.{Curation, Sampling, TextOps}

/** One document surviving the chain's curation stage, carrying what the
  * packing stage needs (`n_tok`) so downstream never re-reads text. */
final case class ChainCurated(doc_id: Long, text: String, n_tok: Long)

/** The FULL curation chain — lt31 scorecard → ld1 exact dedup → lt14
  * sequence packing — run INCREMENTALLY as a two-stage streaming pipeline
  * (the bronze→silver→gold shape a 100 TB ingest actually uses):
  *
  *   landing JSONL ─(stage 1: scorecard filter + first-seen dedup)→
  *   curated parquet ─(stage 2: stateful sequence packing)→ packed parquet
  *
  * Two QUERIES, not one: the dedup state is keyed by content hash and the
  * packing state by shard — Structured Streaming cannot chain two
  * arbitrary-keyed `flatMapGroupsWithState` operators in one query, and at
  * scale you would not want to (the intermediate curated tier is the
  * restart/inspect/backfill point). Each stage owns a checkpoint; replays
  * of the chain (new drops → run both stages with AvailableNow) resume
  * both states.
  *
  * Stream/batch contract (pinned by ChainStreamSpec):
  *  - the scorecard is [[Curation.scorecard]] — the SAME code the batch
  *    lt31 query runs, applied per micro-batch (stateless column work);
  *  - dedup is first-seen-wins on md5(text), the batch ld1 key. It equals
  *    the batch min-id survivor rule whenever drops arrive in id order
  *    (see [[CurationStream]] for why first-arrival is the streaming-
  *    correct rule);
  *  - packing continues each shard's token cursor across drops (see
  *    [[PackingStream]]); a single-drop replay equals the batch
  *    [[Sampling.sequencePack]] exactly.
  *
  * Crash-replay safety at the curated seam: stage 1 writes each batch
  * into its own `batch_id` partition with dynamic overwrite
  * ([[StreamGuards.writeOwned]]), so a replayed micro-batch
  * REPLACES itself instead of double-appending. That suffices for
  * end-to-end exactly-once here because the orchestration is sequential:
  * stage 2 only starts after stage 1's checkpoint commits, so any batch
  * stage 1 could still replay is one stage 2 has provably never read —
  * the rewritten files are new to its file-source log exactly once. */
object ChainStream {

  /** Stage 1 transform: scorecard keep-filter + first-seen content dedup.
    * The verdict comes from [[Curation.withVerdict]] — the shared batch
    * scorecard code in its column-appending (join-free) form, since a
    * stream cannot self-join in Update mode. */
  def curate(docs: Dataset[(Long, String, String, String)]): Dataset[ChainCurated] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val df = docs.toDF("doc_id", "lang", "source", "text")
    val kept = Curation.withVerdict(df)
      .where(col("keep"))
      .select(col("doc_id"), col("text"),
        col("n_tokens").cast("long").as("n_tok"),
        md5(col("text")).as("content_hash"))
      .as[(Long, String, Long, String)]
    kept
      .groupByKey(_._4)
      .flatMapGroupsWithState[Boolean, ChainCurated](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(Long, String, Long, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val r = rows.minBy(_._1) // min id within the batch, like ld1
            Iterator.single(ChainCurated(r._1, r._2, r._3))
          }
      }
  }

  /** Stage 1 shared by both chain variants: drain `landingDir` through
    * [[curate]] into `workDir/curated` (idempotent per-batch_id
    * partitions). Returns false when the curated tier does not exist yet
    * — a round whose drops all filtered out (or an empty landing dir)
    * leaves the gold stage nothing to drain. */
  private def runCurateStage(
      spark: SparkSession, landingDir: String, workDir: String): Boolean = {
    import spark.implicits._
    val curatedDir = s"$workDir/curated"
    val landed = StreamGuards.landing(spark, CurationStream.docSchema, "json", landingDir)
      .as[(Long, String, String, String)]
    // the curated tier is the chain's durable restart point: a foreign
    // curate checkpoint would clobber batch_id=0, then stage 2 would re-read
    // the rewritten files as new — double-packing the old world
    StreamGuards.drain(curate(landed), OutputMode.Update(),
        s"$workDir/ckpt_curate", curatedDir -> "ChainStream curated tier") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, curatedDir)
    }.awaitTermination()
    // Hadoop FS, not java.io: workDir may be hdfs://, s3a://, ...
    val curatedPath = new org.apache.hadoop.fs.Path(curatedDir)
    val fs = curatedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(curatedPath)
  }

  /** The curated tier as a weights-only stream — the curated parquet
    * already tokenized, so text never enters a gold-stage shuffle. */
  private def curatedWeights(
      spark: SparkSession, workDir: String): Dataset[(Long, Long)] = {
    import spark.implicits._
    spark.readStream
      .schema("doc_id LONG, text STRING, n_tok LONG, batch_id LONG")
      .parquet(s"$workDir/curated")
      .select(col("doc_id"), col("n_tok"))
      .as[(Long, Long)]
  }

  /** Run one incremental round of the whole chain over whatever is new in
    * `landingDir`: stage 1 (curate) drains into `workDir/curated`, then
    * stage 2 (pack) drains the new curated files into `workDir/packed`.
    * Both AvailableNow against persistent checkpoints — calling this after
    * each drop IS the incremental replay. */
  def runChainRound(
      spark: SparkSession, landingDir: String, workDir: String,
      ctxTokens: Long, shards: Int): Unit = {
    if (!runCurateStage(spark, landingDir, workDir)) return
    val packedDir = s"$workDir/packed"
    StreamGuards.drain(
        PackingStream.packWeighted(curatedWeights(spark, workDir), ctxTokens, shards),
        OutputMode.Update(), s"$workDir/ckpt_pack", packedDir -> "ChainStream packed tier") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, packedDir)
    }.awaitTermination()
  }

  /** The BATCHING-GOLD chain variant: same bronze→silver stages, gold =
    * incremental length-bucketed batching ([[BatchingStream]], the lt45
    * loader) instead of concat-packing — for models that keep sequences
    * whole and pad to the band bound. Same seam contracts as
    * [[runChainRound]]: idempotent per-batch_id curated partitions,
    * sequential orchestration (the gold stage only starts after the
    * curate checkpoint commits), each stage its own checkpoint — the two
    * gold variants can even run side by side off one curated tier, which
    * is exactly why the intermediate tier exists. */
  def runBatchedChainRound(
      spark: SparkSession, landingDir: String, workDir: String,
      tokenBudget: Long, shards: Int): Unit = {
    if (!runCurateStage(spark, landingDir, workDir)) return
    val batchedDir = s"$workDir/batched"
    StreamGuards.drain(
        BatchingStream.batch(curatedWeights(spark, workDir), tokenBudget, shards),
        OutputMode.Update(), s"$workDir/ckpt_batch", batchedDir -> "ChainStream batched tier") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, batchedDir)
    }.awaitTermination()
  }

  /** The batch twins' shared survivor set: scorecard keep-filter, then the
    * min-id survivor per md5(text), as (doc_id, text, n_tok). */
  private def batchSurvivors(docs: Dataset[(Long, String, String, String)]): DataFrame =
    Curation.withVerdict(docs.toDF("doc_id", "lang", "source", "text"))
      .where(col("keep"))
      .withColumn("content_hash", md5(col("text")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("content_hash").orderBy("doc_id")))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("text"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))

  /** The BATCH twin of the whole chain, for equivalence testing: shared
    * scorecard → min-id survivor per md5(text) → batch sequencePack. */
  def batchChain(
      docs: Dataset[(Long, String, String, String)],
      ctxTokens: Long, shards: Int): Dataset[(Long, Long, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Sampling.sequencePack(batchSurvivors(docs), "doc_id", "n_tok", ctxTokens, shards)
      .select(col("doc_id"), col("shard"), col("bin"), col("offset"))
      .as[(Long, Long, Long, Long)]
  }

  /** The BATCH twin of the batching-gold chain: shared scorecard → min-id
    * survivor per md5(text) → batch [[Sampling.lengthBatches]].
    * Output: (doc_id, band, shard, batch_idx, slot). */
  def batchChainBatched(
      docs: Dataset[(Long, String, String, String)],
      tokenBudget: Long, shards: Int): Dataset[(Long, Int, Long, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Sampling.lengthBatches(batchSurvivors(docs).select("doc_id", "n_tok"),
        "doc_id", "n_tok", tokenBudget, shards)
      .select(col("id"), col("band"), col("shard"), col("batch_idx"), col("slot"))
      .as[(Long, Int, Long, Long, Long)]
  }
}
