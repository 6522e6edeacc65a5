package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.llm.TextOps

/** One curated document surviving the streaming filter + dedup. */
final case class CuratedDoc(
    doc_id: Long, lang: String, source: String, text: String,
    fp: String, n_tok: Int, quality: Double)

/** Streaming curation for continuously-ingested training data — the
  * streaming twin of the batch curation chain (quality window + exact
  * dedup):
  *
  *  - the token-window + quality floor is stateless column work, so it
  *    runs unchanged on the stream (scan-stage ops are
  *    streaming-compatible by construction);
  *  - exact dedup is FIRST-SEEN-WINS by content fingerprint:
  *    `flatMapGroupsWithState` keyed on the md5 fingerprint emits a doc
  *    only if its key holds no state yet, so duplicates are dropped across
  *    micro-batches and restarts (state lives in the checkpoint).
  *
  * State is one boolean per distinct fingerprint — unbounded by design
  * (dedup has no horizon). At 100 TB scale that is the standard RocksDB
  * state-store workload (a 16-byte key per unique document); bound it with
  * a TTL timeout only if the dedup contract allows re-admitting old
  * content.
  *
  * Note the survivor rule differs from the batch [[graft.llm.Dedup]]
  * `exactSurvivors` (min doc id): a stream cannot know a smaller id
  * arrives later, so first-arrival IS the streaming-correct rule; the two
  * agree whenever ingest order follows id order.
  */
object CurationStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** Stateless curation columns + stateful first-seen dedup. */
  def curate(
      docs: Dataset[(Long, String, String, String)],
      minTok: Int, maxTok: Int, minQuality: Double): Dataset[CuratedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = TextOps.tokens(col("text"))
    docs.toDF("doc_id", "lang", "source", "text")
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withColumn("n_tok", size(toks))
      .withColumn("quality", TextOps.qualityScore(toks, col("text")))
      .filter(col("n_tok").between(minTok, maxTok) && col("quality") >= minQuality)
      .as[CuratedDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Boolean, CuratedDoc](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[CuratedDoc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // first occurrence within the batch wins too: smallest doc_id
            // of the batch's duplicates, matching a per-batch sort order
            Iterator.single(rows.minBy(_.doc_id))
          }
      }
  }

  /** Landing-dir JSONL drops → curated, deduplicated parquet, one owned
    * batch_id partition per trigger ([[StreamGuards.writeOwned]]: a replay
    * replaces itself, so the cross-restart dedup guarantee holds end to
    * end). */
  def start(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      minTok: Int = 10, maxTok: Int = 5000, minQuality: Double = 0.5): StreamingQuery = {
    import spark.implicits._
    val stream = StreamGuards.landing(spark, docSchema, "json", landingDir)
      .as[(Long, String, String, String)]
    StreamGuards.drain(curate(stream, minTok, maxTok, minQuality),
        OutputMode.Update(), checkpointDir, outDir -> "CurationStream curated sink") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, outDir)
    }
  }
}
