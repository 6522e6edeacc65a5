package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.sources.{Schemas, Store}

/** Structured Streaming ingest tier (SURVEY.md §2.10).
  *
  * The reference's "stream" is operational: repeated CLI ingests append
  * wall-clock-stamped snapshots. Here the same semantics run incrementally:
  * a landing directory receives stamped status-snapshot files (JSONL in the
  * station_status schema), a file source streams them, and `foreachBatch`
  * reuses the exact batch writer ([[Store.appendStatus]]) — so stream and
  * batch ingest are the same code path and provably equivalent
  * (StreamingSpec replays snapshots both ways and compares tables).
  *
  * Scale: the file source lists incrementally; each micro-batch appends new
  * date partitions only. `maxFilesPerTrigger` bounds batch size under
  * backlog. The optional watermark+dedup closes quirk Q5 (duplicate
  * snapshots double-count) — default OFF for reference parity.
  */
object StatusStream {

  /** Start the ingest stream over `landingDir`. It drains the backlog and
    * stops (`Trigger.AvailableNow`) — the replayable-test and catch-up mode.
    * The sink is the store's own layout, not a batch_id partition, so no
    * dir is checkpoint-owned. */
  def start(
      spark: SparkSession,
      landingDir: String,
      store: Store,
      checkpointDir: String,
      dedupWithinWatermark: Boolean = false): StreamingQuery = {
    val raw = spark.readStream
      .schema(Schemas.stationStatus)
      .option("maxFilesPerTrigger", 32)
      .json(landingDir)
    val cleaned =
      if (dedupWithinWatermark)
        raw.withWatermark("scraped_at", "30 minutes")
          .dropDuplicatesWithinWatermark("station_id", "scraped_at")
      else raw
    StreamGuards.drain(cleaned, OutputMode.Append(), checkpointDir) {
      (batch, _) => store.appendStatus(batch)
    }
  }
}
