package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

import graft.llm.{Qv, Similarity, VecSumAgg}

/** One streamed assignment row. */
final case class CellAssign(vec_id: Long, cell: Int, cosine: Double)

/** One per-cell occupancy snapshot (emitted per touched cell per batch). */
final case class CellCount(cell: Int, n_total: Long)

/** Streaming VECTOR INGEST against a FROZEN coarse quantizer — the
  * serving-side half of the ANN tier: the batch pipeline trains the cell
  * centroids (ls3/ls7's geometry); arriving vectors must be routed to
  * their cells incrementally without retraining, and the index's cell
  * OCCUPANCY must stay maintained so the operator can detect cells
  * filling up (re-shard / re-train triggers). The ContamStream
  * frozen-index discipline: centroids are computed ONCE from the static
  * train table at stream start and broadcast; micro-batches never touch
  * them, so stream assignment is byte-equal to a batch assignment against
  * the same centroids (VectorStreamSpec pins it, plus the checkpoint
  * restart of the occupancy state).
  *
  * Shape: assignment is STATELESS (broadcast centroids + partition-local
  * argmax — no shuffle); only the per-cell counter is stateful — a
  * `transformWithState` ValueState[Long] per cell on the RocksDB store,
  * keyed by cell id (bounded key space = kCells). */
object VectorStream {

  /** Frozen per-label centroids from the train corpus: exact integer
    * component sums (reduction-order-free) + precomputed norm, sorted by
    * label — the same construction [[Similarity.centroidAssign]] trains
    * on its own input, exposed for the frozen-index split. */
  def frozenCentroids(
      train: DataFrame, labelCol: String, embCol: String): Array[(Int, Array[Long], Double)] = {
    val spark = train.sparkSession
    import spark.implicits._
    val vecsum = udaf(VecSumAgg)
    val cents = train
      .select(col(labelCol).cast("int").as("label"),
        Similarity.quantize(col(embCol)).as("q"))
      .groupBy("label").agg(vecsum(col("q")).as("s"))
      .as[(Int, Array[Long])].collect().sortBy(_._1)
      .map { case (l, s) => (l, s, math.sqrt(Qv.dot(s, s).toDouble)) }
    require(cents.nonEmpty, "frozenCentroids: empty train corpus")
    require(cents.length <= 100000,
      s"${cents.length} cells exceed the broadcast contract")
    cents
  }

  /** Stateless nearest-centroid assignment of `vecs` against a frozen
    * centroid table — the SAME kernel batch and stream run (the stream
    * maps it over each micro-batch), so equivalence is by construction.
    * Ties go to the first (smallest) label, like centroidAssign. */
  def assign(
      vecs: DataFrame, idCol: String, embCol: String,
      cents: Array[(Int, Array[Long], Double)], dims: Int = 64): Dataset[CellAssign] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bcast = spark.sparkContext.broadcast(cents)
    vecs
      .select(col(idCol).cast("long").as("vec_id"),
        Similarity.quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
      .mapPartitions { iter =>
        val cs = bcast.value
        iter.map { case (id, e) =>
          require(e.length == dims, s"vector length ${e.length} != dims $dims")
          val vn = math.sqrt(Qv.dot(e, e).toDouble)
          var bi = 0
          var best = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            val cos = Qv.dot(e, cs(i)._2).toDouble / (vn * cs(i)._3)
            if (cos > best) { best = cos; bi = i }
            i += 1
          }
          CellAssign(id, cs(bi)._1, best)
        }
      }
  }

  /** Per-cell running occupancy: ValueState[Long] keyed by cell id. */
  class CellCounter extends StatefulProcessor[Int, CellAssign, CellCount] {
    @transient private var n: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        cell: Int, rows: Iterator[CellAssign],
        timerValues: TimerValues): Iterator[CellCount] = {
      val cur = if (n.exists()) n.get() else 0L
      val next = cur + rows.size
      n.update(next)
      Iterator.single(CellCount(cell, next))
    }
  }

  /** Landing schema for vector JSON drops. */
  private val vecSchema = StructType.fromDDL("vec_id LONG, embedding ARRAY<DOUBLE>")

  /** Vector JSON drops in `landingDir` → frozen-centroid assignment →
    * per-cell occupancy snapshots, one owned batch_id partition per
    * trigger at `outDir/cells` (the LAST batch per cell is current). One
    * file per trigger so occupancy state genuinely carries across
    * micro-batches. */
  def start(
      spark: SparkSession,
      landingDir: String,
      train: DataFrame,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val cents = frozenCentroids(train, "label", "embedding")
    val stream = StreamGuards.landing(spark, vecSchema, "json", landingDir)
    val counts = assign(stream, "vec_id", "embedding", cents)
      .groupByKey(_.cell)
      .transformWithState(new CellCounter, TimeMode.None(), OutputMode.Update())
    val cellsDir = s"$outDir/cells"
    StreamGuards.drain(counts, OutputMode.Update(), s"$checkpointDir/cells",
        cellsDir -> "VectorStream occupancy sink") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, cellsDir)
    }
  }

  /** Companion assignment sink (stateless leg): same drops → the
    * per-vector cell assignments, one owned batch_id partition per trigger
    * at `outDir/assign`. Separate query so the spec can drive and compare
    * each leg independently. */
  def startAssign(
      spark: SparkSession,
      landingDir: String,
      train: DataFrame,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    val cents = frozenCentroids(train, "label", "embedding")
    val stream = StreamGuards.landing(spark, vecSchema, "json", landingDir)
    val assignDir = s"$outDir/assign"
    StreamGuards.drain(assign(stream, "vec_id", "embedding", cents),
        OutputMode.Append(), s"$checkpointDir/assign",
        assignDir -> "VectorStream assignment sink") {
      (batch, batchId) => StreamGuards.writeOwned(batch, batchId, assignDir)
    }
  }
}
