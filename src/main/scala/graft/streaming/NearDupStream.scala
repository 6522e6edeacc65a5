package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.llm.TextOps

/** One per-(doc, band) bucket probe result. */
final case class BandHit(doc_id: Long, band: Int, dup_of: Option[Long], est_j: Double)

/** One bucket member kept in state. */
final case class NdMember(id: Long, sig: Seq[Long])

/** State per LSH bucket: the members seen so far, insertion-ordered. */
final case class NdState(members: Seq[NdMember])

/** Streaming MinHash near-dup tagging — the streaming twin of the batch
  * `ld3` path ([[graft.llm.Dedup.minhashNearDups]]): continuously-ingested
  * documents are tagged `dup_of = <earliest prior similar doc>` across
  * micro-batches and restarts.
  *
  * The batch path aggregates shingles per doc; a stream cannot (a second
  * stateful aggregation before `flatMapGroupsWithState` is off the table),
  * and does not need to: each document is ONE row, so its signature is
  * scalar column work — `transform`/`array_min` over the shingle array
  * computes the same `min(xxhash64(seed_i, xxhash64(shingle)))` family as
  * the batch signature, codegen-free but single-pass. Banding is scalar
  * too; the ONLY stateful operator is the per-(band, band_hash) bucket:
  *
  *  - state = the bucket's members (id + signature), insertion-ordered;
  *  - an arriving doc is compared against members via signature-estimated
  *    Jaccard (matching components / numHashes — the standard streaming
  *    estimate; the batch path's exact-Jaccard confirm needs shingle SETS,
  *    which a bounded state cannot hold);
  *  - it is tagged with the EARLIEST-id member that clears `minEstJ`, then
  *    appended to state (first-seen-wins, like [[CurationStream]] — a
  *    stream cannot know a smaller id arrives later);
  *  - per-bucket membership is capped at `maxBucketMembers`: a viral
  *    bucket is boilerplate banding, the streaming analog of the batch
  *    tier's shingle-DF cap ([[graft.llm.Dedup.capShingleDf]]); docs past
  *    the cap still PROBE the stored members but stop enlarging state, so
  *    state per bucket is bounded by cap × (numHashes+1) longs.
  *
  * A doc probes `numBands` buckets (one row per band), so its verdict is
  * the per-trigger reduction [[reduceHits]] — all of a doc's band rows
  * land in the same trigger, making the reduction complete without a
  * second stateful stage (it runs inside `foreachBatch`, in batch land).
  *
  * At 100 TB this is the standard RocksDB state-store workload: one
  * bounded entry per occupied bucket, shuffled on (band, band_hash) —
  * never all-pairs, same asymptotics as the batch banded join. */
object NearDupStream {

  /** Per-row signature + banding columns; shared by stream and the
    * batch-equivalence twin (same expressions ⇒ same signatures). */
  private[streaming] def withBands(
      docs: DataFrame, shingleN: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val numBands = numHashes / rowsPerBand
    // shingle-hash array projected FIRST and alone: its consumers sit in
    // later projections, so the interpreted HOF is built once per row
    // (CollapseProject's multi-reference guard; see Dedup.shingleTable)
    docs
      .withColumn("__shs",
        transform(TextOps.shingles(TextOps.tokens(col("text")), shingleN),
          s => xxhash64(s)))
      .withColumn("sig",
        transform(sequence(lit(0), lit(numHashes - 1)),
          i => array_min(transform(col("__shs"), h => xxhash64(i, h)))))
      .withColumn("band", explode(sequence(lit(0), lit(numBands - 1))))
      .withColumn("band_hash",
        xxhash64(col("band"),
          slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))))
      .drop("__shs")
  }

  private def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** (doc_id, text) stream → per-(doc, band) bucket probes. Key state by
    * (band, band_hash); docs within a trigger probe in doc_id order so
    * same-batch duplicates resolve deterministically. */
  def tagStream(
      docs: DataFrame, shingleN: Int = 3, numHashes: Int = 32,
      rowsPerBand: Int = 4, minEstJ: Double = 0.5,
      maxBucketMembers: Int = 64): Dataset[BandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // a permissive-schema landing line with null text/id would produce a
    // null signature that the non-nullable encoder rejects — and a crashed
    // stream RE-READS the same file on restart, a permanent crash loop.
    // Null-field records carry nothing to dedup; drop them at the edge
    // (CurationStream's quality filter does the same implicitly).
    withBands(docs.filter(col("doc_id").isNotNull && col("text").isNotNull),
        shingleN, numHashes, rowsPerBand)
      .select(col("doc_id").cast("long"), col("band"), col("band_hash"), col("sig"))
      .as[(Long, Int, Long, Seq[Long])]
      .groupByKey { case (_, band, bandHash, _) => (band, bandHash) }
      .flatMapGroupsWithState[NdState, BandHit](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[(Long, Int, Long, Seq[Long])],
            state: GroupState[NdState]) =>
          var members = state.getOption.map(_.members.toVector).getOrElse(Vector.empty)
          val appended = rows.toSeq.sortBy(_._1).map { case (id, band, _, sig) =>
            val hit = members.iterator
              .map(m => (m, estJaccard(sig, m.sig)))
              .collectFirst { case (m, j) if j >= minEstJ => (m.id, j) }
            if (members.length < maxBucketMembers)
              members :+= NdMember(id, sig)
            BandHit(id, band, hit.map(_._1), hit.map(_._2).getOrElse(0.0))
          }
          state.update(NdState(members))
          appended.iterator
      }
  }

  /** Per-trigger verdict reduction: one row per doc — the earliest dup_of
    * across its bands (null = no band produced a similar prior doc) WITH
    * the estimate for that same pair (a naive max(est_j) could report a
    * different band's estimate of a different member than the assigned
    * duplicate; the struct-min keeps the pair coherent — same (doc, dup)
    * in several bands always carries the same estimate, signatures being
    * per-doc). Runs in foreachBatch (batch land): a doc's band rows
    * always share a trigger, so this needs no second stateful op. */
  def reduceHits(hits: DataFrame): DataFrame =
    hits.groupBy("doc_id")
      .agg(min(when(col("dup_of").isNotNull,
        struct(col("dup_of"), col("est_j")))).as("m"))
      .select(col("doc_id"),
        col("m.dup_of").as("dup_of"), col("m.est_j").as("est_j"))

  /** Landing-dir JSONL drops → per-doc near-dup verdicts, one owned
    * batch_id partition per trigger ([[StreamGuards.writeOwned]]). */
  def start(
      spark: SparkSession, landingDir: String, outDir: String,
      checkpointDir: String, shingleN: Int = 3, numHashes: Int = 32,
      rowsPerBand: Int = 4, minEstJ: Double = 0.5): StreamingQuery = {
    val stream = StreamGuards.landing(spark, CurationStream.docSchema, "json", landingDir)
      .select(col("doc_id"), col("text"))
    StreamGuards.drain(tagStream(stream, shingleN, numHashes, rowsPerBand, minEstJ).toDF(),
        OutputMode.Update(), checkpointDir, outDir -> "NearDupStream verdict sink") {
      (batch, batchId) => StreamGuards.writeOwned(reduceHits(batch), batchId, outDir)
    }
  }
}
