package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.llm.Drift

/** Streaming corpus-drift auditing — the streaming twin of the batch
  * `lt52`/`ls18` snapshot audits ([[Drift.tokenDrift]] /
  * [[Drift.embeddingDrift]]): a FROZEN baseline snapshot is summarized
  * once, then candidate documents (or embedding vectors) arriving as
  * parquet drops are folded in continuously; after every trigger the sink
  * holds the CURRENT drift verdict — the top-K moved tokens/dimensions of
  * (baseline vs everything ingested so far) — so a scraper break or a
  * silent embedding re-version surfaces on the trigger that lands it, not
  * at the next nightly batch audit.
  *
  * The state is not a state store but the ADDITIVE SUMMARY contract the
  * batch operators already split on: [[Drift.tokenCounts]] /
  * [[Drift.embeddingDimSums]] collapse any corpus slice to a
  * vocabulary/dimension-cardinality summary, and summaries over disjoint
  * slices union+re-aggregate into the joint summary. Each trigger writes
  * its drop's partial summary to ONE owned `batch_id` partition
  * ([[StreamGuards.writeOwned]] — a replayed trigger replaces itself),
  * then re-runs the SAME rollup code object
  * ([[Drift.tokenDriftRollup]] / [[Drift.embeddingDriftRollup]]) over the
  * accumulated summaries. Stream and batch verdicts therefore cannot
  * drift: both are the rollup of the same additive algebra.
  *
  * Scale: per trigger the stream pays one drop-sized scan plus a
  * summary-cardinality rollup (vocabulary/dimensions, NEVER corpus rows) —
  * the baseline corpus is scanned exactly once at start, regardless of how
  * many triggers follow. A restart reuses the persisted baseline summary
  * and the checkpoint's file ledger; pending files simply reprocess. */
object DriftStream {

  /** Landing schema for document drops (JSONL-safe: text is a string). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Landing schema for embedding drops — parquet, not JSONL: the doubles
    * must round-trip bit-exactly for the stream=batch contract. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Shared engine: seed `countsDir` with the baseline's side-0 summary
    * (batch_id = -1), then per trigger write the drop's side-1 partial
    * summary to its own batch_id partition and overwrite `outDir` with the
    * rollup over every summary accumulated so far. */
  private def run(
      spark: SparkSession, stream: DataFrame, baselineSummary: DataFrame,
      partialOf: DataFrame => DataFrame, rollup: DataFrame => DataFrame,
      countsDir: String, outDir: String, checkpointDir: String): StreamingQuery = {
    // guard BEFORE the seed write below, so a refused start leaves the
    // foreign summary log untouched; restarted batch ids would otherwise
    // overwrite old partials and the rollup would silently forget those
    // drops (the batch_id=-1 seed itself is exempt, owned by no batch)
    StreamGuards.requireStoreOwnership(spark, checkpointDir, countsDir,
      "DriftStream summary log")
    // one baseline scan per (re)start, idempotent into its own partition;
    // restarts could skip it, but re-deriving from the frozen snapshot is
    // simpler than trusting a maybe-half-written partition after a crash
    StreamGuards.writeOwned(baselineSummary, -1L, countsDir)
    StreamGuards.drain(stream, OutputMode.Append(), checkpointDir) { (batch, batchId) =>
      StreamGuards.writeOwned(partialOf(batch), batchId, countsDir)
      rollup(spark.read.parquet(countsDir))
        .write.mode("overwrite").parquet(outDir)
    }
  }

  /** Token-distribution drift of the accumulating candidate corpus vs the
    * frozen `baseline`, continuously refreshed in `outDir` — the lt52
    * audit as a stream of document drops. */
  def startTokenDrift(
      spark: SparkSession, landingDir: String, baseline: DataFrame,
      countsDir: String, outDir: String, checkpointDir: String,
      topK: Int = 30): StreamingQuery = {
    require(topK > 0, s"startTokenDrift: topK must be positive, got $topK")
    val drops = StreamGuards.landing(spark, docSchema, "parquet", landingDir)
      // a permissive landing line with no text carries no tokens and must
      // not crash-loop the trigger (the NearDupStream edge rule)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    run(spark, drops,
      Drift.tokenCounts(baseline, "text", lit(0)),
      b => Drift.tokenCounts(b, "text", lit(1)),
      Drift.tokenDriftRollup(_, topK),
      countsDir, outDir, checkpointDir)
  }

  /** Embedding-space drift of the accumulating candidate vectors vs the
    * frozen `baseline`, continuously refreshed in `outDir` — the ls18
    * audit as a stream of vector drops. */
  def startEmbeddingDrift(
      spark: SparkSession, landingDir: String, baseline: DataFrame,
      countsDir: String, outDir: String, checkpointDir: String,
      topK: Int = 16): StreamingQuery = {
    require(topK > 0, s"startEmbeddingDrift: topK must be positive, got $topK")
    val drops = StreamGuards.landing(spark, vecSchema, "parquet", landingDir)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
    run(spark, drops,
      Drift.embeddingDimSums(baseline, "embedding", lit(0)),
      b => Drift.embeddingDimSums(b, "embedding", lit(1)),
      Drift.embeddingDriftRollup(_, topK),
      countsDir, outDir, checkpointDir)
  }
}
