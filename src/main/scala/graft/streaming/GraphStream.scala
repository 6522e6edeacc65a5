package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.llm.{Caches, GraphOps}

/** Streaming twin of the lake-backed graph tier (`lg8`/`lg9`): near-dup
  * EDGE drops (undirected (d1, d2) pairs, e.g. an upstream MinHash+LSH
  * pass's output) fold into an accumulating bucketed edge lake, and after
  * every trigger the sink holds the CURRENT graph verdicts — label-
  * propagation communities and multi-source BFS hops over EVERYTHING
  * ingested so far — re-run through the SAME code objects as the batch
  * operators ([[GraphOps.labelPropagation]] / [[GraphOps.bfsHops]]), so
  * stream and batch labels cannot drift.
  *
  * Lake maintenance is append + bucket-aware compaction, never
  * rebuild-per-trigger:
  *  - A plain-parquet EDGE JOURNAL (one owned `batch_id` partition per
  *    trigger, [[StreamGuards.writeOwned]] — a replayed trigger replaces
  *    itself) is the durable source of truth.
  *  - The kernel-facing table is bucket-sorted on `src`
  *    ([[graft.sources.LlmLake.writeEdges]]'s layout — the iterative
  *    kernels re-join it once per round, so the corpus-dominant edge side
  *    must never re-exchange). Each trigger APPENDS only the drop's
  *    genuinely new edges: symmetrize, dedup in-drop, then anti-join the
  *    existing table — so the table holds each (src, dst) exactly once,
  *    which is the contract LPA's vote counts require (a duplicated edge
  *    would double a neighbor's vote). The anti-join is also what makes a
  *    REPLAYED trigger a no-op: its edges are already present, the append
  *    adds zero rows. Appends grow files-per-bucket, so every
  *    `compactEvery` triggers the table is rewritten FROM THE JOURNAL
  *    (never from itself — Spark refuses an overwrite that reads its own
  *    table) back to the one-file-per-bucket sorted layout.
  *  - A fresh session (restart in a new JVM) finds the on-disk journal but
  *    an empty catalog: the table is rebuilt from the journal before the
  *    first trigger touches it.
  *
  * Stream == batch contract: after any trigger, the sink's newest
  * batch_id partition equals one BATCH run of the same kernels over the
  * distinct symmetrized union of all drops so far (spec-pinned, including
  * across a restart and with duplicate pairs re-arriving). The kernels'
  * outputs are layout-independent (the lg6/lg8/lg9 adjudication: bucketing
  * moves rows, never what the integer arithmetic produces), so no new
  * oracle is needed — lg8/lg9's stands.
  *
  * Scale shape: per trigger one drop-sized symmetrize + one anti-join
  * against the bucketed table (the bucketed side never exchanges), the
  * bounded append, and the kernels' per-round cost. In the default mode
  * the kernels re-label the ACCUMULATED graph — honest but O(graph) per
  * trigger forever. `incremental = true` bounds that: a BFS closure from
  * the drop's endpoints discovers the touched components, the kernels run
  * on that subgraph only, and the result splices over the previous
  * trigger's verdicts — label-identical to the full re-label (both
  * kernels decompose per component; spec-pinned), with per-trigger kernel
  * cost O(affected subgraph). The closure itself still joins the frontier
  * against the (bucketed, exchange-free) edge table once per hop, so the
  * per-trigger floor is scan-bound, not shuffle-bound. */
object GraphStream {

  /** Landing schema: undirected near-dup pair drops. */
  val pairSchema: StructType = StructType(Seq(
    StructField("d1", LongType),
    StructField("d2", LongType)))

  /** One full re-label of the accumulated graph — (communities, hops). */
  private def fullLabels(edges: DataFrame, lpaIters: Int, bfsRounds: Int,
      srcMod: Int): (DataFrame, DataFrame) = {
    val communities = GraphOps.labelPropagation(edges, iters = lpaIters)
      .select(col("id").as("doc_id"), col("community"), col("converged"))
    val sources = edges.select(col("src").as("id")).distinct()
      .filter(col("id") % srcMod === 0)
    val hops = GraphOps.bfsHops(edges, sources, rounds = bfsRounds)
      .select(col("id").as("doc_id"), col("dist").as("hops"), col("converged"))
    (communities, hops)
  }

  /** `batch_id=` partition ids under `dir` that are `<= upTo`. */
  private def batchesIn(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      upTo: Long): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch_id=").toLong).toOption)
      .filter(_ <= upTo).toSet
  }

  /** The CURRENT graph verdicts materialized from the sink as
    * (communities, hops): the newest COMPLETE snapshot partition `<= upTo`
    * (both snapshot stores must carry it — a crash between the two sink
    * writes leaves a half-written batch that must never be merge
    * material), overlaid by every delta partition after it (later batch
    * wins per doc — the delta-sink read contract; in snapshot mode there
    * are no delta stores and this degrades to "read the newest snapshot").
    * None when nothing has been sunk yet.
    *
    * Every partition is read via its EXPLICIT `batch_id=N` subpath, so a
    * plan built here never lists the sink ROOT among its input paths —
    * the in-trigger fold feeds a write job that dynamic-overwrites these
    * same roots, and a self-read-overwrite through the root is exactly
    * the pattern Spark rejects on the insertInto path (and that a
    * mid-commit crash could corrupt).
    *
    * Consumers: fold only up to the last CHECKPOINT-COMMITTED batch (the
    * in-stream caller always passes `upTo = batchId - 1`). The newest
    * in-flight batch may have one delta store written and the other not
    * yet — transiently inconsistent until the trigger commits or
    * replays. */
  def currentVerdicts(spark: SparkSession, outDir: String,
      upTo: Long = Long.MaxValue): Option[(DataFrame, DataFrame)] = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = batchesIn(fs, s"$outDir/communities", upTo) intersect
      batchesIn(fs, s"$outDir/hops", upTo)
    val snap = if (snaps.isEmpty) None else Some(snaps.max)
    val deltaBatches =
      (batchesIn(fs, s"$outDir/communities_delta", upTo) union
        batchesIn(fs, s"$outDir/hops_delta", upTo))
        .filter(b => snap.forall(_ < b)).toSeq.sorted
    def fold(name: String, deltaName: String, payload: Seq[String])
        : Option[DataFrame] = {
      val parts: Seq[(Long, String)] =
        snap.map(s => (s, s"$outDir/$name/batch_id=$s")).toSeq ++
          deltaBatches.flatMap { b =>
            val p = s"$outDir/$deltaName/batch_id=$b"
            if (fs.exists(new org.apache.hadoop.fs.Path(p))) Some((b, p)) else None
          }
      if (parts.isEmpty) None
      else {
        val unioned = parts.map { case (b, p) =>
          spark.read.parquet(p).withColumn("_b", lit(b)) }
          .reduce(_ unionByName _)
        Some(unioned.groupBy("doc_id")
          .agg(max(struct((col("_b") +: payload.map(col)): _*)).as("m"))
          .select(col("doc_id") +: payload.map(c => col(s"m.$c").as(c)): _*))
      }
    }
    for {
      comm <- fold("communities", "communities_delta", Seq("community", "converged"))
      hops <- fold("hops", "hops_delta", Seq("hops", "converged"))
    } yield (comm, hops)
  }

  /** Rows of `next` whose payload differs from `prior`'s row for the same
    * doc (or that have no prior row) — the delta-sink emission. */
  private def changedRows(next: DataFrame, prior: DataFrame,
      payload: Seq[String]): DataFrame = {
    val pr = prior.select(
      col("doc_id") +: payload.map(c => col(c).as(s"_p_$c")): _*)
    next.join(pr, Seq("doc_id"), "left")
      .filter(col(s"_p_${payload.head}").isNull ||
        payload.map(c => col(c) =!= col(s"_p_$c")).reduce(_ || _))
      .select(col("doc_id") +: payload.map(col): _*)
  }

  /** Incremental re-label: discover the components the drop touched (BFS
    * closure from its endpoints over the post-fold graph — early-stops at
    * fixpoint, so the budget is a guard rail) and run the kernels on that
    * subgraph only. Returns (affected docs, sub communities, sub hops),
    * or None when the closure blew its round budget — the affected set is
    * then unknown and the caller must fall back to a full re-label rather
    * than merge a possibly-incomplete subgraph. Label identity with the
    * full re-label holds because both kernels decompose per connected
    * component and the affected set is component-closed (the closure runs
    * on the symmetric edge table, so reachable-from-endpoints = the union
    * of the touched components; src ∈ affected ⟺ dst ∈ affected for
    * every edge). */
  private def incrementalSub(
      spark: SparkSession, edges: DataFrame, drop: DataFrame,
      lpaIters: Int, bfsRounds: Int, srcMod: Int, closureRounds: Int)
      : Option[(DataFrame, DataFrame, DataFrame)] = {
    val seeds = symmetrize(drop.select("d1", "d2"))
      .select(col("src").as("id")).distinct()
    val reach = GraphOps.bfsHops(edges, seeds, rounds = closureRounds)
    val settled = reach.select(col("converged")).head(1)
      .headOption.forall(_.getBoolean(0)) // empty drop = empty closure = settled
    if (!settled) None
    else {
      val affected = Caches.persist(reach.select(col("id")))
      val subEdges = edges.join(affected.withColumnRenamed("id", "src"),
        Seq("src"), "left_semi")
      val subComm = GraphOps.labelPropagation(subEdges, iters = lpaIters)
        .select(col("id").as("doc_id"), col("community"), col("converged"))
      val subSources = affected.filter(col("id") % srcMod === 0)
      val subHops = GraphOps.bfsHops(subEdges, subSources, rounds = bfsRounds)
        .select(col("id").as("doc_id"), col("dist").as("hops"), col("converged"))
      Some((affected, subComm, subHops))
    }
  }

  /** Splice sub-run results over the prior verdicts for everything
    * untouched — the incremental mode's full-frame materialization. */
  private def splice(prior: (DataFrame, DataFrame), affected: DataFrame,
      subComm: DataFrame, subHops: DataFrame): (DataFrame, DataFrame) = {
    val byDoc = affected.withColumnRenamed("id", "doc_id")
    (prior._1.join(byDoc, Seq("doc_id"), "left_anti").unionByName(subComm),
      prior._2.join(byDoc, Seq("doc_id"), "left_anti").unionByName(subHops))
  }

  /** Rows of the kernel-facing edge table: symmetrized, distinct. */
  private def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(col("d1").cast("long").as("src"), col("d2").cast("long").as("dst"))
      .unionByName(pairs.select(col("d2").cast("long").as("src"),
        col("d1").cast("long").as("dst")))
      .dropDuplicates("src", "dst")

  /** Test-only failure injection: set either conf to a batch id to make
    * that batch throw at the named boundary — BETWEEN the journal append
    * and the table fold ("afterJournal"), or between the fold and the
    * sink writes ("afterFold"). The restart-storm spec uses these to kill
    * a trigger at exactly the seams the journal design claims to survive
    * and then replay it. */
  private[streaming] val FailAfterJournalConf = "graft.test.gstream.failAfterJournalBatch"
  private[streaming] val FailAfterFoldConf = "graft.test.gstream.failAfterFoldBatch"

  private def failpoint(spark: SparkSession, conf: String, batchId: Long): Unit =
    if (spark.conf.getOption(conf).exists(_.toLong == batchId))
      throw new RuntimeException(s"injected failure: $conf=$batchId")

  /** @param incremental opt-in: re-label only the components TOUCHED by
    *   the trigger's new edges, merging with the previous trigger's sink
    *   partition for the rest — per-trigger kernel cost becomes
    *   O(affected subgraph), not O(accumulated graph). Labels are
    *   identical to a full re-label (spec-pinned): LPA and BFS both
    *   decompose per connected component, and the affected set is
    *   component-closed by construction (BFS closure from the drop's
    *   endpoints over the post-fold graph). The per-node `converged` flag
    *   reflects the run that last re-labeled that node's component. Falls
    *   back to a full re-label when there is no prior partition to merge
    *   with or the closure doesn't settle within `closureRounds`.
    * @param closureRounds BFS-closure round budget for the affected-set
    *   discovery (each round is one frontier join against the bucketed
    *   edge table; the kernel early-stops at fixpoint, so this is a guard
    *   rail, not a paid cost).
    * @param sink `"snapshot"` (default): every trigger writes the FULL
    *   current verdicts under its batch_id partition — O(lake) sink I/O
    *   per trigger, but any single partition is the complete answer.
    *   `"delta"`: every trigger writes only the CHANGED labels to
    *   `communities_delta`/`hops_delta` partitions — O(changed) sink I/O
    *   — plus, every `snapshotEvery` triggers, a compacting full snapshot
    *   into the snapshot stores. Read the delta sink through
    *   [[currentVerdicts]] (newest snapshot overlaid by later deltas,
    *   last writer per doc wins); docs never leave the graph, so there
    *   are no tombstones to fold. The two modes are
    *   verdict-equal after folding (spec-pinned).
    * @param snapshotEvery delta-mode compaction cadence: a trigger whose
    *   batch id is a multiple of this writes a full snapshot partition
    *   (batch 0 included, so the fold always has a base and a consumer
    *   reads at most `snapshotEvery - 1` delta partitions on top of one
    *   snapshot). Ignored in snapshot mode. */
  def start(
      spark: SparkSession, landingDir: String, outDir: String,
      checkpointDir: String, buckets: Int = 8, lpaIters: Int = 4,
      bfsRounds: Int = 4, srcMod: Int = 10, compactEvery: Int = 4,
      incremental: Boolean = false, closureRounds: Int = 32,
      sink: String = "snapshot", snapshotEvery: Int = 8)
      : StreamingQuery = {
    require(buckets >= 1 && compactEvery >= 1 && srcMod >= 1,
      s"start: buckets=$buckets compactEvery=$compactEvery srcMod=$srcMod must be positive")
    require(closureRounds >= 1, s"start: closureRounds=$closureRounds must be positive")
    require(sink == "snapshot" || sink == "delta",
      s"start: unknown sink mode '$sink' (snapshot|delta)")
    require(snapshotEvery >= 1, s"start: snapshotEvery=$snapshotEvery must be positive")
    val journalDir = outDir.stripSuffix("/") + "_journal"
    val lakeRoot = outDir.stripSuffix("/") + "_lake"
    // db name keyed by the lake location (the LlmLake.memoized discipline):
    // two GraphStreams in one JVM with different outDirs never collide
    val db = "graft_gstream_" +
      (scala.util.hashing.MurmurHash3.stringHash(lakeRoot) & 0x7fffffff)
    val table = s"$db.edges_acc"
    val fs = new org.apache.hadoop.fs.Path(journalDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def journalBatches(): Long = {
      val p = new org.apache.hadoop.fs.Path(journalDir)
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).count(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch_id=")).toLong
    }
    def rebuildFromJournal(): Unit =
      symmetrize(spark.read.parquet(journalDir).select("d1", "d2"))
        .write.mode("overwrite")
        .bucketBy(buckets, "src").sortBy("src")
        .saveAsTable(table)

    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$lakeRoot'")

    val drops = StreamGuards.landing(spark, pairSchema, "parquet", landingDir)
      // permissive landing rows carrying no endpoints are dropped, never a
      // crash loop (the NearDupStream edge rule); self-loops carry no
      // neighbor information for either kernel and are dropped with them
      .filter(col("d1").isNotNull && col("d2").isNotNull && col("d1") =!= col("d2"))

    // a foreign checkpoint would overwrite the old batch_id=0 journal
    // partition, and the next compaction rebuilds FROM the journal —
    // permanently dropping the lost edges with no error
    StreamGuards.drain(drops, OutputMode.Append(), checkpointDir,
        journalDir -> "GraphStream edge journal") { (batch, batchId) =>
      try {
        // 1. journal the drop — idempotent under replay
        StreamGuards.writeOwned(batch.select("d1", "d2"), batchId, journalDir)
        failpoint(spark, FailAfterJournalConf, batchId)
        // 2. fold into the bucketed table: fresh catalog (new session) or
        //    compaction cadence → rebuild from journal; otherwise append
        //    only the genuinely new edges (anti-join = replay no-op)
        if (!spark.catalog.tableExists(table) ||
            journalBatches() % compactEvery == 0) {
          rebuildFromJournal()
        } else {
          val newSym = symmetrize(batch.select("d1", "d2"))
          newSym.join(spark.table(table), Seq("src", "dst"), "left_anti")
            .write.mode("append")
            .bucketBy(buckets, "src").sortBy("src")
            .saveAsTable(table)
          // the append ran through the MICRO-BATCH's cloned session
          // (newSym derives from `batch`), which refreshes only the
          // clone's table cache — invalidate the outer session's cached
          // file index or step 3 labels the PRE-append file list
          spark.catalog.refreshTable(table)
        }
        failpoint(spark, FailAfterFoldConf, batchId)
        // 3. re-label through the BATCH kernels — the full accumulated
        //    graph, or (incremental mode) only the components the drop
        //    touched — and sink per the mode: full snapshots, or only
        //    the changed labels (+ compacting snapshots on cadence)
        val edges = spark.table(table)
        // fold only checkpoint-committed batches (< batchId): the
        // newest batch may be THIS one mid-replay, half-written
        val prior = currentVerdicts(spark, outDir, upTo = batchId - 1)
        val sub =
          if (incremental && prior.isDefined)
            incrementalSub(spark, edges, batch, lpaIters,
              bfsRounds, srcMod, closureRounds)
          else None
        if (sink == "snapshot") {
          val (communities, hops) = sub match {
            case Some((affected, subComm, subHops)) =>
              splice(prior.get, affected, subComm, subHops)
            case None => fullLabels(edges, lpaIters, bfsRounds, srcMod)
          }
          StreamGuards.writeOwned(communities, batchId, s"$outDir/communities")
          StreamGuards.writeOwned(hops, batchId, s"$outDir/hops")
        } else {
          // delta mode: the new labels cover the affected subgraph
          // (incremental) or everything (full fallback); either way the
          // emitted delta is the payload-diff against the prior fold —
          // unaffected docs are label-identical by the component
          // decomposition, so diffing the sub-run IS the full diff
          val (newComm, newHops) = sub match {
            case Some((_, subComm, subHops)) => (subComm, subHops)
            case None => fullLabels(edges, lpaIters, bfsRounds, srcMod)
          }
          val (dComm, dHops) = prior match {
            case Some((pc, ph)) =>
              (changedRows(newComm, pc, Seq("community", "converged")),
                changedRows(newHops, ph, Seq("hops", "converged")))
            case None => (newComm, newHops)
          }
          if (batchId % snapshotEvery == 0) {
            // compaction: materialize the full current verdicts so the
            // fold never reads more than snapshotEvery - 1 deltas
            val (sc, sh) = sub match {
              case Some((affected, subComm, subHops)) =>
                splice(prior.get, affected, subComm, subHops)
              case None => (newComm, newHops)
            }
            StreamGuards.writeOwned(sc, batchId, s"$outDir/communities")
            StreamGuards.writeOwned(sh, batchId, s"$outDir/hops")
          }
          StreamGuards.writeOwned(dComm, batchId, s"$outDir/communities_delta")
          StreamGuards.writeOwned(dHops, batchId, s"$outDir/hops_delta")
        }
      } finally Caches.releaseAll(spark) // the kernels persist their loop frames
    }
  }
}
