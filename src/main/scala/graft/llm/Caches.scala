package graft.llm

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifecycle registry for the dedup/similarity tier's INTERNAL persisted
  * frames (`jaccardPairs`, `minhashNearDups`, `lshNearDups` each cache a
  * multi-consumer intermediate). A persist with no matching unpersist is an
  * unbounded-by-default leak in long-running services: CacheManager dedupes
  * identical plans, but every distinct input corpus adds a new entry that
  * lives until a global `clearCache()`.
  *
  * Operators register their internal frames here instead of calling
  * `persist()` directly; callers release them with [[release]] AFTER the
  * action that consumed the returned frame (the caches are lazy inputs of
  * the returned plan — releasing earlier would recompute the shared
  * intermediate once per consumer). This frees exactly the tier's own
  * caches, never the caller's.
  *
  * Scope contract: the registry is JVM-global, not session- or
  * thread-scoped — [[release]] drains EVERY tracked frame. Sequential
  * pipelines (the engine's Bench/Verify/StageProbe loops, an application
  * running one curation job at a time) get exact lifecycle management for
  * free;
  * CONCURRENT pipelines sharing a JVM must coordinate (release only at a
  * boundary where no tracked pipeline is still consuming its plan, or
  * serialize the pipelines) — an interleaved release would unpersist a
  * sibling's in-flight intermediate, which recomputes (correctly but
  * once per consumer). */
object Caches {

  private val tracked = new ConcurrentLinkedQueue[DataFrame]()
  private val trackedCkpt = new ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` LAZILY and register it for the next [[release]]. Lazy
    * beat an eager count() at every multi-consumer site in a same-build
    * A/B on both 8 and 32 cores (lg1 1.89 s vs 3.35 s): the block manager
    * locks a cached partition while its first task computes it, so
    * concurrent consumers wait and reuse rather than recompute. */
  private[graft] def persist(df: DataFrame): DataFrame = {
    tracked.add(df.persist())
    df
  }

  /** [[persist]] at MEMORY_AND_DISK_SER — for corpus-sized frames whose
    * deserialized object count (not byte size) is the cost: e.g. the
    * suffix-array position table's 27M token-string rows at the ×100
    * scale, which otherwise sit in the old gen as ~100M live objects
    * dragging every GC for the pipeline's whole life. */
  private[graft] def persistSer(df: DataFrame): DataFrame = {
    tracked.add(df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    df
  }

  /** Register a `localCheckpoint()`ed RESULT frame whose pinned RDD should
    * be dropped by the harness-level [[releaseAll]]. NOT drained by
    * [[release]]: a truncated checkpoint cannot recompute after
    * unpersisting, so dropping it there would break a library caller that
    * re-consumes the returned frame — whereas [[release]]'s persisted
    * frames just recompute. */
  private[llm] def trackCheckpoint(df: DataFrame): DataFrame = {
    trackedCkpt.add(df)
    df
  }

  /** Unpersist every internal frame cached since the last release. Safe to
    * call any time after the consuming action; a no-op when nothing is
    * tracked. */
  def release(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = tracked.poll()
    }
  }

  /** Unpersist the RDD pinned by a `localCheckpoint()`ed frame.
    * `Dataset.unpersist` cannot reach it — the checkpoint's storage lives
    * on the RDD inside the frame's LogicalRDD leaf, not in the
    * CacheManager — so iterative/streaming code that checkpoints per
    * round/batch must release through this or the blocks accumulate
    * until the driver GCs the frame reference.
    *
    * Acts ONLY when the frame's whole analyzed plan IS the checkpoint
    * leaf (the shape `localCheckpoint()` returns). An iterative loop's
    * round-1 state is typically a projection OVER caller-provided frames;
    * collecting every LogicalRDD in such a plan would also unpersist a
    * checkpoint-backed frame the CALLER passed in — storage a truncated
    * lineage can never recompute. Those composite frames are skipped:
    * nothing in them is storage this call site created. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Harness variant ([[graft.Bench]], [[graft.Verify]] and
    * [[graft.StageProbe]] call this between queries): [[release]] plus the
    * tier's TRACKED localCheckpoint storage (e.g. the final labels frame
    * that truncates `dedupClusters`' iteration lineage, which belongs to
    * the already consumed and discarded result plan). Scoped to frames
    * this registry tracked — a host application's own persists are never
    * touched, so a registered query that legitimately caches its own frame
    * across two actions keeps it. Callers should treat the consumed result
    * frame as dead afterwards (its checkpoint cannot recompute). */
  def releaseAll(spark: SparkSession): Unit = {
    release()
    var df = trackedCkpt.poll()
    while (df != null) {
      unpersistCheckpoint(df)
      df = trackedCkpt.poll()
    }
  }
}
