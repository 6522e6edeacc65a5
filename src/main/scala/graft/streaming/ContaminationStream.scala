package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.llm.{Caches, SuffixArray}

/** Streaming exact-substring decontamination GATE — the streaming twin of
  * the batch ld21 detector ([[graft.llm.SuffixArray.crossDupSpansAuto]]),
  * pointed the operational direction: a FROZEN eval/benchmark corpus is
  * the reference side, candidate TRAINING documents arrive as parquet
  * drops, and after every trigger the sink holds, for each arrived doc
  * that contains a verbatim >= `minRun`-token span from the eval set, its
  * merged contaminated spans (n_spans, dup_tokens, max_replen). Clean
  * docs produce no row — the sink is the quarantine list a curation
  * pipeline joins against before admitting a batch to training.
  *
  * Stream == batch is STRUCTURAL here, not re-aggregated: a document's
  * cross-side verdict depends only on (its suffixes, the eval suffixes) —
  * same-side suffixes never interact, because only reference-side rows
  * reset the nearest-eval-suffix scans — so running the detector per
  * trigger over (eval ∪ drop) yields row-identical output to one batch
  * run over (eval ∪ all drops), restricted to that drop's docs
  * (spec-pinned, including across a restart). Each trigger writes its
  * verdicts to its own `batch_id` partition ([[StreamGuards.writeOwned]]),
  * so a replayed trigger replaces itself.
  *
  * Scale shape: per trigger one suffix sort over E + B positions (E =
  * eval corpus, B = drop), then the two segmented scans — the honest
  * 100 TB regime is a SMALL frozen eval set (benchmarks are MBs by
  * construction) against an unbounded train stream, so E rides along
  * cheaply and per-trigger cost is O((E+B)·log(E+B)) skinny-row sort
  * work; the auto switch flips to prefix doubling if a drop is large
  * enough that slices outgrow the shuffle tier. The eval side is frozen
  * to `evalDir` once per (re)start, so upstream eval derivation is never
  * re-paid per trigger.
  *
  * Doc-id spaces must be globally unique: the detector keys sides by doc
  * id, and the batch twin of "one run over (eval ∪ all drops)" would merge
  * two same-id documents' suffix rows under one id. The gate enforces both
  * halves per trigger and raises loudly instead of producing ambiguous
  * verdicts: (a) the drop is semi-joined against the frozen eval ids, and
  * (b) against an id LEDGER (`outDir` + "_ids", one partition per
  * batch_id) recording every previously admitted drop's ids — outDir
  * itself only holds CONTAMINATED docs, so it cannot catch a collision
  * with a previously-clean id. A replayed trigger excludes its own
  * batch_id partition from the ledger check and dynamically overwrites it,
  * so replay stays idempotent.
  *
  * See [[ContamStream]] for the OTHER contamination twin: that one gates
  * on ld19's embedding-similarity detector (semantic near-match); this one
  * gates on ld21's exact-substring detector (verbatim token spans).
  */
object ContaminationStream {

  /** Landing schema for candidate-document drops. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  def start(
      spark: SparkSession, landingDir: String, evalDocs: DataFrame,
      evalDir: String, outDir: String, checkpointDir: String,
      minRun: Int = 10): StreamingQuery = {
    require(minRun >= 1, s"start: minRun must be positive, got $minRun")
    // freeze the reference side once per (re)start — idempotent overwrite,
    // the DriftStream baseline idiom: simpler than trusting a maybe-half-
    // written snapshot after a crash
    evalDocs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(evalDir)
    val ledgerDir = outDir.stripSuffix("/") + "_ids"
    val drops = StreamGuards.landing(spark, docSchema, "parquet", landingDir)
      // permissive landing rows with no id/text carry nothing and must not
      // crash-loop the trigger (the NearDupStream edge rule)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
    // a foreign checkpoint would check its first drop against a ledger
    // MINUS the old batch-0 ids and then clobber that partition — exactly
    // the cross-drop collision class the ledger exists to catch
    StreamGuards.drain(drops, OutputMode.Append(), checkpointDir,
        ledgerDir -> "ContaminationStream id ledger") { (batch, batchId) =>
      val drop = batch.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val eval = spark.read.parquet(evalDir)
      val idClash = drop.select("doc_id")
        .join(eval.select("doc_id"), Seq("doc_id"), "left_semi").count()
      require(idClash == 0L,
        s"ContaminationStream: $idClash drop doc id(s) collide with the " +
          "frozen eval id space — remap the candidate ids before landing")
      val ledgerPath = new org.apache.hadoop.fs.Path(ledgerDir)
      val fs = ledgerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(ledgerPath)) {
        // cross-DROP collisions: ids from earlier triggers, excluding our
        // own partition so a replayed trigger doesn't indict itself
        val crossClash = drop.select("doc_id")
          .join(spark.read.parquet(ledgerDir)
              .filter(col("batch_id") =!= batchId).select("doc_id"),
            Seq("doc_id"), "left_semi").count()
        require(crossClash == 0L,
          s"ContaminationStream: $crossClash drop doc id(s) collide with " +
            "ids from an earlier drop — the sink's batch-equivalence " +
            "contract requires globally unique candidate ids")
      }
      val union = drop.withColumn("__cside", lit(1))
        .unionByName(eval.withColumn("__cside", lit(0)))
      try {
        StreamGuards.writeOwned(
          SuffixArray.crossDupSpansAuto(union, "doc_id", "text", "__cside", minRun),
          batchId, outDir)
        // admit this drop's ids to the ledger LAST: a crash anywhere
        // above replays the trigger, which overwrites both partitions
        StreamGuards.writeOwned(drop.select("doc_id"), batchId, ledgerDir)
      } finally Caches.releaseAll(spark) // the detector persists intermediates
    }
  }
}
