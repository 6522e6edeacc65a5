package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.llm.Similarity

/** Streaming eval-set decontamination — the streaming twin of the batch
  * `ld19` path ([[Similarity.cellBlockedContamination]]): a FROZEN train
  * corpus is indexed once ([[Similarity.buildContamIndex]] — √N coarse
  * quantizer + nprobe-cell membership), then eval candidates arriving as
  * parquet drops are probed continuously; each trigger emits the verdicts
  * for its eval vectors — (eval_id, n_hits, top_train, top_cos) for every
  * contaminated one.
  *
  * Unlike the stateful analogs ([[NearDupStream]]/[[BatchingStream]]) this
  * pipeline is STATELESS: cell assignment is per-row scalar work against
  * the broadcast centroids, the members lookup is a stream-static
  * equi-join, and a verdict only needs the trigger's own rows (an eval
  * item's candidate set lives entirely in the static index), so there is
  * no state store to size, and a restart simply reprocesses pending files.
  * The per-trigger reduction reuses [[Similarity.contamRollup]] — the SAME
  * code object as the batch operator (the ChainStream discipline), so
  * stream and batch verdicts cannot drift.
  *
  * Sink contract: one owned batch_id partition per trigger
  * ([[StreamGuards.writeOwned]]) — a replayed trigger replaces itself.
  *
  * Scale: the static members table is partition-pruned-joined per trigger;
  * trigger cost is bounded by drop size × nprobe × cell occupancy — the
  * candidate join carries vector payloads, which is exactly the trap
  * [[Similarity.groupLocalConfirm]] exists to avoid in BATCH land, but a
  * micro-batch probe side bounds it here (probing is the streaming
  * regime; bulk re-scoring belongs to the batch operator).
  *
  * Not to be confused with [[ContaminationStream]], the OTHER
  * contamination twin: that one gates on ld21's exact-substring detector
  * (verbatim token spans via a suffix array); this one gates on ld19's
  * embedding-similarity detector (semantic near-match via an IVF probe). */
object ContamStream {

  /** Landing schema: parquet drops of (vec_id, embedding) — parquet, not
    * JSONL, because embedding doubles must round-trip bit-exactly for the
    * stream=batch contract. */
  val evalSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Index the train side once, then stream eval drops from `landingDir`
    * through probe + rollup into `outDir` (one batch_id partition per
    * trigger). */
  def start(
      spark: SparkSession, landingDir: String, train: org.apache.spark.sql.DataFrame,
      outDir: String, checkpointDir: String, minCos: Double,
      kCells: Int = 0, nprobe: Int = 2, dims: Int = 64): StreamingQuery = {
    val idx = Similarity.buildContamIndex(train, "vec_id", "embedding",
      kCells, nprobe, dims)
    val evals = StreamGuards.landing(spark, evalSchema, "parquet", landingDir)
      // a permissive landing line with a null id/vector carries nothing to
      // probe and would crash the non-nullable encoder — and a crashed
      // stream re-reads the same file forever (the NearDupStream edge rule)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
    StreamGuards.drain(
        Similarity.probeContamination(evals, "vec_id", "embedding", idx, minCos),
        OutputMode.Append(), checkpointDir, outDir -> "ContamStream verdict sink") {
      (batch, batchId) =>
        StreamGuards.writeOwned(Similarity.contamRollup(batch), batchId, outDir)
    }
  }
}
