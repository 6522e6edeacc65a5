package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues}
import org.apache.spark.sql.types.StructType

/** One changelog row: insert (+1) or retraction (−1) of value `v` under
  * aggregation key `key` (dcnt carries the signed count, so a compacted
  * changelog can fold multiple rows into one). */
final case class ChangeRow(key: String, v: Long, dcnt: Long)

/** Maintained aggregate snapshot for one key, emitted after every
  * micro-batch that touched the key. */
final case class RetractAgg(key: String, n: Long, sum_v: Long, min_v: Long, max_v: Long)

/** Streaming twin of [[graft.ops.Retract]] — retract streams are the
  * operator's native habitat (Flink-style CDC changelogs): a
  * `transformWithState` pipeline holds the per-(key, value) COUNT
  * HISTOGRAM as a `MapState[Long, Long]` on the RocksDB-backed store and
  * folds each micro-batch's +1/−1 deltas into it, re-deriving
  * (n, sum, min, max) from the surviving cells — min/max stay exact under
  * deletes because the histogram remembers every surviving value, the
  * same auxiliary the batch `Retract.maintainHistogram` maintains
  * relationally. RetractStreamSpec pins the streamed result byte-equal to
  * the batch fold of the same changelog, across a checkpoint restart.
  *
  * Corruption discipline matches batch: a retraction that would drive a
  * histogram cell negative retracts a row the histogram never held —
  * the processor raises loudly (failing the streaming query) instead of
  * folding garbage forward into every later snapshot.
  *
  * Scale shape: state is per-key and value-bucketed inside RocksDB
  * (`MapState` stores each histogram CELL as its own store entry, so a
  * wide histogram never deserializes whole per update); the changelog
  * shuffles once on `key`; within a micro-batch the fold is commutative
  * (+ on counts), so arrival order inside a batch cannot change any bit.
  */
object RetractStream {

  class RetractProcessor extends StatefulProcessor[String, ChangeRow, RetractAgg] {
    @transient private var hist: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[Long, Long]("hist",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[ChangeRow],
        timerValues: TimerValues): Iterator[RetractAgg] = {
      // fold the batch per value first — addition commutes, so intra-batch
      // order is immaterial and each touched cell takes ONE store write
      val folded = rows.foldLeft(Map.empty[Long, Long]) { (m, r) =>
        m.updated(r.v, m.getOrElse(r.v, 0L) + r.dcnt)
      }
      folded.foreach { case (v, d) =>
        if (d != 0L) {
          val cur = if (hist.containsKey(v)) hist.getValue(v) else 0L
          val next = cur + d
          if (next < 0L) throw new IllegalStateException(
            s"Retract: changelog retracts a row the histogram never held (key=$key, v=$v)")
          if (next == 0L) hist.removeKey(v) else hist.updateValue(v, next)
        }
      }
      // re-derive every aggregate from surviving cells (the non-invertible
      // min/max re-derivation is the whole point of the histogram)
      var n = 0L; var sum = 0L
      var mn = Long.MaxValue; var mx = Long.MinValue
      val it = hist.iterator()
      while (it.hasNext) {
        val (v, c) = it.next()
        n += c; sum += v * c
        if (v < mn) mn = v
        if (v > mx) mx = v
      }
      // a fully-retracted key emits an n = 0 TOMBSTONE (not silence): a
      // downstream materialization keyed on "latest snapshot per key"
      // must see the retraction, or the key's stale last aggregate wins
      if (n == 0L) Iterator.single(RetractAgg(key, 0L, 0L, 0L, 0L))
      else Iterator.single(RetractAgg(key, n, sum, mn, mx))
    }
  }

  /** Changelog stream → maintained per-key aggregates (one snapshot per
    * touched key per micro-batch). */
  def aggs(stream: Dataset[ChangeRow]): Dataset[RetractAgg] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .groupByKey(_.key)
      .transformWithState(new RetractProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Changelog JSON drops in `landingDir` → maintained aggregates, one
    * owned batch_id partition per trigger at `outDir` (the LAST batch per
    * key is the current snapshot). One file per trigger so state genuinely
    * carries across micro-batches. */
  def start(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val stream = StreamGuards.landing(spark,
        StructType.fromDDL("key STRING, v LONG, dcnt LONG"), "json", landingDir)
      .as[ChangeRow]
    StreamGuards.drain(aggs(stream), OutputMode.Update(), checkpointDir,
        outDir -> "RetractStream snapshot sink") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, outDir)
    }
  }
}
