package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.sources.Schemas

/** One status observation on the stream. */
final case class StatusPoint(station_id: String, scraped_at: Timestamp, bikes: Int)

/** One per-station inventory delta (first observation → delta 0, matching
  * the reference's `diff().fillna(0)` — SURVEY quirk Q3). */
final case class DeltaPoint(station_id: String, scraped_at: Timestamp, bikes: Int, delta: Int)

/** Last observation kept as per-station stream state. */
final case class LastSeen(tsMillis: Long, bikes: Int)

/** Streaming analog of the W1 batch lag-diff (SURVEY §2.10 "stateful
  * delta"): `flatMapGroupsWithState` keyed by station, state = last seen
  * observation, surviving across micro-batches (and restarts, via the
  * checkpoint). Batch W1 recomputes the window over all history; this
  * computes the same deltas incrementally, touching only new rows —
  * the 100 TB shape for continuous ingest.
  *
  * Within a micro-batch rows are processed in `scraped_at` order; across
  * batches ordering is by arrival (the file source lists in drop order),
  * matching the reference's append-then-diff semantics.
  */
object DeltaStream {

  /** Stateful per-station delta transform over any status stream. */
  def deltas(stream: Dataset[StatusPoint]): Dataset[DeltaPoint] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_.station_id)
      .flatMapGroupsWithState[LastSeen, DeltaPoint](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (id: String, rows: Iterator[StatusPoint], state: GroupState[LastSeen]) =>
          val sorted = rows.toSeq.sortBy(_.scraped_at.getTime)
          var last = state.getOption
          val out = sorted.map { p =>
            val delta = last.map(l => p.bikes - l.bikes).getOrElse(0)
            last = Some(LastSeen(p.scraped_at.getTime, p.bikes))
            DeltaPoint(id, p.scraped_at, p.bikes, delta)
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** [[deltas]] re-expressed on Spark 4's transformWithState — the
    * successor API to flatMapGroupsWithState: named, typed state handles
    * (here one `ValueState[LastSeen]`) on a RocksDB-backed store, explicit
    * TimeMode, per-state TTL available. Semantics are identical to
    * [[deltas]] and StreamingSpec pins byte-equal output from the same
    * drops; at 100 TB the RocksDB store is the piece that matters —
    * per-station state spills to local disk instead of living on the
    * executor heap. Requires
    * `spark.sql.streaming.stateStore.providerClass = RocksDBStateStoreProvider`. */
  class DeltaProcessor
      extends StatefulProcessor[String, StatusPoint, DeltaPoint] {
    @transient private var last: ValueState[LastSeen] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastSeen]("last",
        org.apache.spark.sql.Encoders.product[LastSeen], TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[StatusPoint],
        timerValues: TimerValues): Iterator[DeltaPoint] = {
      val sorted = rows.toSeq.sortBy(_.scraped_at.getTime)
      var l = if (last.exists()) Some(last.get()) else None
      val out = sorted.map { p =>
        val delta = l.map(x => p.bikes - x.bikes).getOrElse(0)
        l = Some(LastSeen(p.scraped_at.getTime, p.bikes))
        DeltaPoint(key, p.scraped_at, p.bikes, delta)
      }
      l.foreach(last.update)
      out.iterator
    }
  }

  /** transformWithState twin of [[deltas]]. */
  def deltasTws(stream: Dataset[StatusPoint]): Dataset[DeltaPoint] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_.station_id)
      .transformWithState(new DeltaProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Ingest-and-diff pipeline: status-snapshot JSON drops in `landingDir` →
    * stateful deltas → one owned batch_id partition per trigger at
    * `outDir` ([[StreamGuards.writeOwned]]: a replayed trigger replaces
    * itself instead of appending its deltas twice). One file per trigger
    * so state genuinely carries across micro-batches. */
  def start(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val stream = StreamGuards.landing(spark, Schemas.stationStatus, "json", landingDir)
      .selectExpr("station_id", "scraped_at", "num_bikes_available AS bikes")
      .as[StatusPoint]
    StreamGuards.drain(deltas(stream), OutputMode.Update(), checkpointDir,
        outDir -> "DeltaStream delta sink") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, outDir)
    }
  }
}
