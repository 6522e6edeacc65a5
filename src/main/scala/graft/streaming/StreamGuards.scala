package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** How every durable stream in this package reads, writes and starts.
  *
  *  - [[landing]] is the one-file-per-trigger landing source the stateful
  *    specs rely on (state genuinely carries across micro-batches).
  *  - [[writeOwned]] is the one durable sink shape: each micro-batch owns
  *    its `batch_id` partition, written with dynamic overwrite, so a
  *    replayed trigger replaces itself.
  *  - [[drain]] is the one start: it refuses a foreign checkpoint for every
  *    owned dir, then drains the backlog with `Trigger.AvailableNow`.
  *
  * The ownership hazard: foreachBatch batch ids are PER-CHECKPOINT. If a
  * stream is restarted with a fresh (or deleted) checkpoint over an
  * existing store — a common ops move — batch ids restart at 0 and the new
  * batch 0 silently dynamic-overwrites the old `batch_id=0` partition; the
  * next rebuild-from-journal then permanently drops the lost rows with no
  * error, and a "max batch_id per key" reader silently mixes two state
  * lineages. A crash REPLAY is different and legitimate: the checkpoint's
  * offsets log already names the batch (offsets/N is written before
  * foreachBatch runs batch N), so replay overwrites a partition its own
  * checkpoint owns.
  *
  * The guard distinguishes exactly those two cases: every `batch_id=`
  * partition in the store must be named by the checkpoint's offsets log.
  * A store partition beyond the log's max batch means the store was
  * written by a DIFFERENT checkpoint — refuse loudly at start instead of
  * corrupting the lake on the first trigger. Seed partitions at negative
  * ids (DriftStream's batch_id=-1 baseline) are exempt: they are
  * re-derived idempotently at every (re)start, not owned by any batch.
  */
object StreamGuards {

  /** Landing-dir file source reading ONE file per trigger. */
  def landing(spark: SparkSession, schema: StructType, format: String,
      dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .format(format).load(dir)

  /** The owned-partition sink: `df` stamped with `batchId` and written
    * into its own `batch_id` partition of `dir` with dynamic overwrite.
    *
    * foreachBatch is at-least-once: a crash between the sink write and the
    * checkpoint commit re-runs the batch. The state store rolls back with
    * the replayed batch (a stateful operator re-emits the same rows), and
    * the rewrite REPLACES the batch's own partition instead of appending
    * duplicates — so a replay is a no-op end to end, and a cross-restart
    * guarantee (first-seen dedup, a shard's token cursor) survives it.
    * Readers see `batch_id` as a column; "max batch_id per key" reads the
    * current snapshot. */
  def writeOwned(df: Dataset[_], batchId: Long, dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** Start `ds` through `body` against `checkpointDir`, draining what is
    * available and stopping. Refuses first, for each `(dir, what)` in
    * `owned`, if `dir` holds batch partitions the checkpoint never logged
    * ([[requireStoreOwnership]]). `outputMode` is the operator's: Update
    * for the stateful streams, Append for the stateless ones. */
  def drain[T](ds: Dataset[T], outputMode: OutputMode, checkpointDir: String,
      owned: (String, String)*)(body: (Dataset[T], Long) => Unit): StreamingQuery = {
    owned.foreach { case (dir, what) =>
      requireStoreOwnership(ds.sparkSession, checkpointDir, dir, what)
    }
    ds.writeStream
      .outputMode(outputMode)
      .foreachBatch(body)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Max batch_id among `batch_id=` partitions under `storeDir`, or None
    * if the store doesn't exist / has none. Negative (seed) ids ignored. */
  private def maxStoreBatch(spark: SparkSession, storeDir: String): Option[Long] = {
    val p = new Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val ids = fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .flatMap(s => scala.util.Try(
          s.getPath.getName.stripPrefix("batch_id=").toLong).toOption)
        .filter(_ >= 0L)
      if (ids.isEmpty) None else Some(ids.max)
    }
  }

  /** Max batch id named by the checkpoint's offsets log, or None if the
    * checkpoint is fresh (no offsets yet). Offset file names are plain
    * batch numbers; compaction/temp artifacts are skipped. */
  private def maxOffsetBatch(spark: SparkSession, checkpointDir: String): Option[Long] = {
    val p = new Path(checkpointDir, "offsets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val ids = fs.listStatus(p).toSeq
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      if (ids.isEmpty) None else Some(ids.max)
    }
  }

  /** Refuse to start a stream whose durable store holds batch partitions
    * its checkpoint never logged. [[drain]] calls it for every owned dir;
    * call it directly only where a start writes into the store before the
    * stream exists. */
  def requireStoreOwnership(
      spark: SparkSession, checkpointDir: String, storeDir: String,
      what: String): Unit = {
    maxStoreBatch(spark, storeDir).foreach { mj =>
      val mo = maxOffsetBatch(spark, checkpointDir)
      require(mo.exists(_ >= mj),
        s"$what: $storeDir already holds batch_id=$mj but checkpoint " +
          s"$checkpointDir has ${mo.fold("no offsets (fresh checkpoint)")(o =>
            s"max logged batch $o")} — these partitions belong to a " +
          "DIFFERENT checkpoint. Starting would restart batch ids at " +
          (mo.fold(0L)(_ + 1)) + " and silently overwrite the existing " +
          "partitions, permanently losing their rows at the next " +
          "rebuild-from-journal. Restore the original checkpoint, or " +
          "explicitly move/delete the store to start fresh.")
    }
  }
}
