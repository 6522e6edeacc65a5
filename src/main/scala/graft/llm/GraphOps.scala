package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators beyond [[Dedup.dedupClusters]]' connected components.
  *
  * PageRank here is the curation use: authority scores over a document
  * similarity graph (or, at scale, a domain link graph) feed quality
  * weighting and survivor selection. The implementation is DETERMINISTIC
  * BY CONSTRUCTION — every quantity is a scaled integer and every division
  * is integral — so reduction order cannot change any output bit and a SQL
  * oracle replays the whole iteration exactly (floating-point PageRank can
  * never be hash-pinned across engines: per-node sums depend on partition
  * count and merge order).
  */
object GraphOps {

  /** Fixed-iteration integer PageRank with damping 0.85, over a DIRECTED
    * edge list (src, dst) — symmetrize first for an undirected graph.
    * Ranks live on the node set of the edge list (callers wanting isolated
    * nodes union them in with teleport-only mass).
    *
    * Arithmetic: ranks are integers scaled by `scale`;
    * r₀ = scale div N, and each iteration computes
    * `(15·scale) div (100·N) + (85 · Σ_{u→v} (r(u) div deg(u))) div 100` —
    * all integral divisions, both engines floor identically on
    * non-negative operands. Mass leaks a few units per division (floor),
    * which is the accepted price for bit-exact replayability.
    *
    * Scale shape: per iteration one join on src (edge list vs ranks —
    * co-partitionable; at 100 TB pre-bucket both by src) and one shuffle
    * on dst for the contribution sum; `iters` is fixed and small. For
    * graphs needing many iterations, add the per-round checkpoint
    * discipline [[Dedup.dedupClusters]] uses — at the default 5 rounds the
    * lineage stays shallow enough to skip it. */
  def pagerank(edges: DataFrame, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1000000L, s"scale too small for meaningful ranks: $scale")
    // The edge list is consumed 2·iters+2 times (node derivation, degrees,
    // and one join per iteration); deriving it from an expensive upstream
    // (here: the Jaccard shingle self-join) would recompute that upstream
    // once per consumer (the first action below, nodes.count, reads the
    // edge frame through BOTH union legs). Tracked in Caches, released by
    // the harness after the action.
    val e = Caches.persist(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")))
    val nodes = Caches.persist(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count()
    require(n > 0, "pagerank over an empty edge list")
    // deg/ranks both keyed by node id; the join is src-to-src
    val deg = Caches.persist(e.groupBy("src").agg(count(lit(1)).as("deg")))
    val base = (15L * scale) / (100L * n)
    var r = nodes.select(col("id"), lit(scale / n).as("pr"))
    // Convergence: the rank vector is a pure function of the previous
    // one, so next == prev is a fixpoint — every later round would be
    // identical, the loop stops, and the output (plus the `converged`
    // flag) matches the full-round run bit-for-bit. A graph that is
    // still moving when the budget runs out carries converged=false on
    // every row: a bounded 100 TB run can never PASS for a finished one.
    // The compare rides a LongAccumulator through the round's own eager
    // checkpoint materialization (the dedupClusters discipline) — the
    // round joins the PREVIOUS rank frame anyway, so carrying prev costs
    // one column and the fixpoint check is free EVERY round (the r13
    // spelling paid a separate node-keyed join, so it only checked every
    // 4th round and ran unchanged rounds in between).
    val spark = edges.sparkSession
    import spark.implicits._
    var converged = false
    var i = 0
    while (i < iters && !converged) {
      val changed = spark.sparkContext.longAccumulator(s"pr_changed_$i")
      // eager lineage truncation per round (the dedupClusters pattern):
      // without it, round i's plan nests all prior rounds, and analysis/
      // AQE planning cost grows with the square of the iteration count
      val next = pagerankRound(e, deg, r, base)
        .as[(Long, Long, Long)]
        .map { case (id, prev, pr) =>
          if (pr != prev) changed.add(1L)
          (id, pr)
        }
        .toDF("id", "pr")
        .localCheckpoint()
      Caches.trackCheckpoint(next)
      converged = changed.value == 0L
      // no-op on the initial (non-checkpointed) rank frame
      Caches.unpersistCheckpoint(r)
      r = next
      i += 1
    }
    r.withColumn("converged", lit(converged))
  }

  /** One PageRank iteration's plan, exposed so the bucketed-layout spec
    * can assert on the EXACT per-round shape [[pagerank]] executes: join
    * ranks onto edges by src, integral-divide out the degrees, transpose
    * to dst with a summing aggregate, and left-join back onto the full
    * node set (a node with no in-edges keeps its teleport mass instead of
    * vanishing; dangling nodes' outbound mass is dropped — the standard
    * simplification, deterministic either way).
    *
    * Scale shape: when `e` scans a table bucket-sorted on src
    * ([[graft.sources.LlmLake.writeEdges]]) the edge side of the rank
    * join never exchanges, the degree aggregate reuses the bucket
    * partitioning, and the rank/node frames (each already id-keyed from
    * the previous round's aggregate, preserved through localCheckpoint)
    * co-partition for free — the round's ONLY shuffle is the inherent
    * dst-keyed transpose. Un-bucketed, the corpus-dominant edge table
    * re-exchanges every round. */
  private[graft] def pagerankRound(e: DataFrame, deg: DataFrame,
      r: DataFrame, base: Long): DataFrame = {
    val contrib = e.join(r, e("src") === r("id"))
      .join(deg, "src")
      .select(col("dst").as("id"), expr("pr div deg").as("c"))
    // The rank frame itself is the id universe (it was seeded from the
    // node set and every round preserves it), so the left side carries
    // the PREVIOUS rank through the round — the convergence accumulator
    // reads it for free during checkpoint materialization.
    r.select(col("id"), col("pr").as("prev"))
      .join(contrib.groupBy("id").agg(sum(col("c")).as("s")),
        Seq("id"), "left")
      .select(col("id"), col("prev"),
        (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
  }

  /** Orient each undirected canonical pair (a < b) from the LOWER to the
    * HIGHER endpoint in the (degree, id) total order, carrying the
    * destination's degree (`dd`) so downstream joins can compare that
    * order without a second degree lookup. Output: (src, dst, dd).
    * Exposed for [[triangleCount]]'s spec, which asserts the wedge
    * cardinality collapse this orientation buys on hub graphs. */
  private[graft] def orientByDegree(pairs: DataFrame): DataFrame = {
    val e0 = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    val deg = e0.select(col("a").as("id")).unionByName(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    e0.join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("dd")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.dd").as("dd"))
  }

  /** Per-node triangle counts over an UNDIRECTED simple graph given as
    * canonical unique pairs (a < b) — exactly the shape the near-dup pair
    * tables emit. Clustering-coefficient / community-density signal for
    * the curation tier (a doc in many near-dup triangles sits in a dense
    * template cluster, not a chance pairwise match).
    *
    * DEGREE-ORDERED edge-iterator (the hub-taming refinement): edges are
    * oriented low→high in the (degree, id) total order, wedges form as
    * PAIRS OF OUT-EDGES at their lowest-order corner, and a wedge closes
    * iff its (y, z) out-edge exists. Every triangle {x ≺ y ≺ z} is found
    * exactly once (at x). Out-degree under this orientation is bounded by
    * O(√E) — a classic result: a node keeps an out-edge only toward
    * HIGHER-degree neighbors, and there can be at most 2√E nodes of
    * degree ≥ √E — so wedge cardinality is Σ C(outdeg, 2) ≤ O(E·√E)
    * regardless of hubs, where raw-id orientation lets one mid-id hub of
    * degree d contribute ~d²/4 wedges alone (GraphOpsSpec pins the
    * collapse on a star fixture). Shape: two degree-lookup broadcasts +
    * two equi-joins on the oriented edge table + one count shuffle — no
    * neighborhood enumeration, no collect. Exact integer counts, so the
    * oracle replays the SIMPLER id-ordered formulation (identical output
    * by exactness — orientation changes where a triangle is counted,
    * never whether). */
  def triangleCount(pairs: DataFrame): DataFrame = {
    // Two caches, so the (expensive) pair pipeline runs exactly once:
    // orientByDegree alone reads its input through three leaf paths (edge
    // projection + the degree union's two legs), and the wedge build below
    // reads the oriented table through four (e1/e2/e3 + the node union).
    val p = Caches.persist(pairs.select(
      col("a").cast("long").as("a"), col("b").cast("long").as("b")))
    // pinned to src (the dedupClusters discipline): the wedge build reads
    // the oriented table twice on src and the closing-edge probe clusters
    // on (src, dst), which a src partitioning already satisfies — all
    // three join sides read the cache exchange-free
    val e = Caches.persist(orientByDegree(p)
      .repartition(
        pairs.sparkSession.sessionState.conf.numShufflePartitions,
        col("src")))
    // wedges at the low-order corner: out-edge pairs ordered by (deg, id),
    // compared via the carried dst degree — no extra lookup join
    val wedges = e.as("e1").join(e.as("e2"),
      col("e1.src") === col("e2.src") &&
        (col("e1.dd") < col("e2.dd") ||
          (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    // y ≺ z in the orientation order, so the closing edge is stored y→z
    val tris = wedges.join(e.as("e3"),
      col("y") === col("e3.src") && col("z") === col("e3.dst"))
      .select("x", "y", "z")
    val perCorner = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    nodes.join(perCorner, Seq("id"), "left")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** DETERMINISTIC label-propagation community detection (fixed-iteration,
    * synchronous, self-inclusive) over a SYMMETRIZED edge list (src, dst).
    *
    * Each round every node adopts the most frequent label among its
    * neighbors' current labels PLUS its own — argmax by (count DESC,
    * label ASC). The self-vote kills the two-node oscillation that makes
    * textbook synchronous LPA non-convergent, and the min-label tie-break
    * replaces the textbook's random choice (an order-dependent answer
    * cannot be hash-checked). Ties therefore lean toward smaller labels,
    * but only where no label holds a strict majority — dense regions
    * out-vote a bridge edge, which is the property that separates LPA
    * communities from plain connected components (ld6): two cliques
    * joined by one edge keep distinct communities here and collapse to
    * one component there.
    *
    * Shape per round: one dst-keyed join to fetch neighbor labels, one
    * (node, label) count shuffle with map-side combine, one node-keyed
    * window argmax — all bounded by E. `iters` is fixed and small so the
    * oracle can unroll the rounds as generated CTEs; per-round
    * localCheckpoint keeps the plan from nesting (the pagerank
    * discipline). Output: (id, community = converged-ish label). */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    // persisted for the same reason as pagerank: round 0's checkpoint
    // reads the edge frame through THREE leaf paths (the vote join plus
    // the node seed's two union legs).
    val e = Caches.persist(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")))
    // nodes has exactly ONE consumer (the l0 seed below — the self-votes
    // carry every node through later rounds), so unlike pagerank's
    // per-iteration node join there is nothing to persist here
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var lbl = nodes.select(col("id"), col("id").as("lbl"))
    // Fixpoint: labels are a pure function of the previous labels, so an
    // unchanged round ends the loop with output identical to the full
    // run; a still-moving graph at the budget carries converged=false.
    // The compare rides a LongAccumulator through the round's own eager
    // checkpoint (pagerank's discipline): the argmax window emits the
    // self-vote row's previous label anyway — carrying it costs one
    // column, and the fixpoint check is free EVERY round instead of the
    // r13 spelling's every-4th-round join.
    val spark = edges.sparkSession
    import spark.implicits._
    var converged = false
    var i = 0
    while (i < iters && !converged) {
      val changed = spark.sparkContext.longAccumulator(s"lpa_changed_$i")
      val next = labelPropRound(e, lbl)
        .as[(Long, Long, Long)]
        .map { case (id, prev, l) =>
          if (l != prev) changed.add(1L)
          (id, l)
        }
        .toDF("id", "lbl")
        .localCheckpoint()
      Caches.trackCheckpoint(next)
      converged = changed.value == 0L
      Caches.unpersistCheckpoint(lbl)
      lbl = next
      i += 1
    }
    lbl.select(col("id"), col("lbl").as("community"))
      .withColumn("converged", lit(converged))
  }

  /** One label-propagation round, exposed for the bucketed-layout spec.
    *
    * The neighbor-label fetch joins on SRC and reads the vote target off
    * DST — on a SYMMETRIZED edge list (labelPropagation's documented
    * contract) the (node, label) vote multiset is identical to the
    * dst-join/src-read spelling, but THIS orientation is the one a
    * src-bucketed edge table ([[graft.sources.LlmLake.writeEdges]])
    * rewards: the label frame exits each round id-keyed, so the fetch
    * join is exchange-free on both sides and the round's only shuffles
    * are the inherent (node, label) vote transpose plus the node-keyed
    * argmax re-key (plan-asserted in GraphLakeSpec on rounds 1 AND 2). */
  private[graft] def labelPropRound(e: DataFrame, lbl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = e.join(lbl, e("src") === lbl("id"))
      .select(e("dst").as("node"), col("lbl"), lit(0L).as("__self"))
      .unionByName(lbl.select(col("id").as("node"), col("lbl"),
        lit(1L).as("__self")))
    // The self-vote group (exactly one per node) carries the node's
    // PREVIOUS label out through a null-skipping max, so the convergence
    // accumulator reads it for free — no assumption on label sign.
    votes.groupBy("node", "lbl")
      .agg(count(lit(1)).as("c"),
        max(when(col("__self") === 1L, col("lbl"))).as("__sl"))
      .withColumn("__prev", max(col("__sl")).over(Window.partitionBy("node")))
      .withColumn("__rn", row_number().over(Window.partitionBy("node")
        .orderBy(col("c").desc, col("lbl"))))
      .filter(col("__rn") === 1)
      .select(col("node").as("id"), col("__prev").as("prev"), col("lbl"))
  }

  /** k-core peeling (fixed k, `rounds` synchronous peel rounds) over an
    * UNDIRECTED simple graph given as canonical unique pairs (a < b) —
    * the web-graph/near-dup-cluster pruning primitive: a node survives
    * the k-core iff it keeps >= k neighbors AMONG SURVIVORS, so pendant
    * chains and loosely-attached spam tendrils peel off while dense
    * template clusters remain (connected components keep both; triangle
    * counts score but don't prune).
    *
    * Each round recomputes degrees over the surviving edge set (one hash
    * aggregate — map-side combinable, hubs never hot-spot a window) and
    * drops edges with a sub-k endpoint (two semi-joins). A round removes
    * at least one node until the k-core is reached, so `rounds` bounds
    * the peel DEPTH (longest dependency chain), not the graph size; at
    * scale run until the survivor count stops changing — every quantity
    * is an exact integer, so a fixed-round prefix is oracle-replayable
    * (the bfsHops/pagerank unroll discipline). Per-round localCheckpoint
    * keeps the plan from nesting.
    *
    * Output: (id, core_deg) for nodes with >= k surviving neighbors
    * after `rounds` peels — i.e. the membership AND the within-core
    * degree (the density signal downstream weighting uses). */
  def kCore(pairs: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = Caches.persist(pairs.select(
      col("a").cast("long").as("a"), col("b").cast("long").as("b")))
    // Fixpoint witness: the peel only ever REMOVES edges, so an
    // unchanged edge COUNT means the semi-joins removed nothing — the
    // surviving set is the k-core and every later round is identical.
    // One count per round on the freshly-checkpointed edge table; a
    // graph still peeling at the budget carries converged=false.
    var prevCnt = e.count()
    var converged = false
    var i = 0
    while (i < rounds && !converged) {
      val deg = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val surv = deg.where(col("deg") >= k).select("id")
      val next = e
        .join(surv.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
        .join(surv.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint()
      Caches.trackCheckpoint(next)
      val cnt = next.count()
      if (cnt == prevCnt) converged = true
      prevCnt = cnt
      // no-op on the round-1 Caches-persisted edge frame (only bare
      // checkpoint leaves are unpersisted — the bfsHops discipline)
      Caches.unpersistCheckpoint(e)
      e = next
      i += 1
    }
    e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_deg"))
      .where(col("core_deg") >= k)
      .withColumn("converged", lit(converged))
  }

  /** [[kCore]] over a SYMMETRIZED edge list (src, dst) — every undirected
    * edge stored BOTH ways — the bucket-friendly formulation for the
    * 100 TB layout ([[graft.sources.LlmLake.writeEdges]]). Output is
    * identical to `kCore` on the same graph (GraphOpsSpec pins it): on a
    * symmetric list a node's out-degree, in-degree, and undirected degree
    * coincide, so degrees come from grouping EITHER endpoint column.
    *
    * That freedom is the scale win. `kCore` pays three edge-sized
    * exchanges per round (the degree union, then re-keying the pair table
    * for each endpoint's semi-join); here each round reads the edge
    * frame's CURRENT partitioning key (src on even rounds, dst on odd):
    * the degree aggregate and the same-key survivor semi-join reuse that
    * partitioning exchange-free, and only the other-endpoint semi-join
    * re-keys the edge frame — which is exactly the partitioning the NEXT
    * round needs, so the roles swap instead of shuffling back. The
    * survivor frame follows for free too: its rename maps the degree
    * aggregate's partitioning onto the other-endpoint join key. Steady
    * state: ONE exchange per round, total (plan-asserted in
    * GraphLakeSpec), entering for free on round 0 when the input scans a
    * src-bucketed table. Doubled storage (each edge twice) is the
    * explicit price — the standard adjacency-list trade. */
  def kCoreSym(edges: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = Caches.persist(edges.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst")))
    var prevCnt = e.count()
    var converged = false
    var i = 0
    while (i < rounds && !converged) {
      val key = if (i % 2 == 0) "src" else "dst"
      val next = kCoreSymRound(e, k, key).localCheckpoint()
      Caches.trackCheckpoint(next)
      val cnt = next.count()
      if (cnt == prevCnt) converged = true
      prevCnt = cnt
      Caches.unpersistCheckpoint(e)
      e = next
      i += 1
    }
    // the surviving frame exits partitioned on the LAST round's other
    // endpoint — group there so the closing degree count is exchange-free
    val finalKey = if ((i - 1) % 2 == 0) "dst" else "src"
    e.groupBy(col(finalKey).as("id")).agg(count(lit(1)).as("core_deg"))
      .where(col("core_deg") >= k)
      .withColumn("converged", lit(converged))
  }

  /** One [[kCoreSym]] peel round, exposed for the plan-shape spec: degree
    * + same-key semi-join on `key` (exchange-free when the edge frame is
    * `key`-partitioned), other-endpoint semi-join re-keys the frame for
    * the next round. Column order is normalized so rounds compose. */
  private[graft] def kCoreSymRound(e: DataFrame, k: Int, key: String): DataFrame = {
    val other = if (key == "src") "dst" else "src"
    val surv = e.groupBy(key).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= k).select(col(key))
    e.join(surv, Seq(key), "left_semi")
      .join(surv.withColumnRenamed(key, other), Seq(other), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** Multi-source BFS hop distance: every node's distance (in hops) to the
    * nearest source, out to `rounds` hops — the reachability/influence
    * radius primitive (contamination blast radius over a near-dup graph,
    * seed-set expansion). Per round ONE src-keyed join propagates the
    * frontier + ONE node-keyed min aggregate folds it in (map-side
    * combinable — hub nodes partial-aggregate in the map stage, no hot
    * window partitions). min() makes every round order-independent, so the
    * result is deterministic and an oracle replays rounds as CTEs.
    * Lineage truncated per round (the dedupClusters checkpoint pattern).
    * Nodes farther than `rounds` hops (or unreachable) emit no row. */
  def bfsHops(edges: DataFrame, sources: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Caches.persist(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")))
    var dist = sources.select(col("id").cast("long").as("id"),
      lit(0L).as("dist"))
    // Fixpoint witness: rows are only ever ADDED (the union keeps every
    // prior id) and per-id distances only ever DECREASE (min-fold), so
    // an unchanged (count, sum(dist)) pair means the exact multiset is
    // unchanged — the frontier is empty and every later round is
    // identical. One two-column aggregate per round; a graph with
    // unreached nodes at the budget carries converged=false.
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col("dist")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prevSig = sig(dist)
    var converged = false
    var i = 0
    while (i < rounds && !converged) {
      val next = bfsRound(e, dist).localCheckpoint()
      Caches.trackCheckpoint(next)
      val s = sig(next)
      if (s == prevSig) converged = true
      prevSig = s
      // safe on round 1: dist is then a Project over the caller's sources
      // frame, and unpersistCheckpoint only acts on bare checkpoint
      // leaves — caller-owned storage is never touched
      Caches.unpersistCheckpoint(dist)
      dist = next
      i += 1
    }
    dist.withColumn("converged", lit(converged))
  }

  /** One BFS round, exposed for the bucketed-layout spec: frontier
    * propagate (src-keyed join — exchange-free against a src-bucketed
    * edge table once `dist` is id-keyed, which every round's min-fold
    * output is) + the inherent id-keyed min-fold transpose. Round 1 pays
    * one extra exchange to key the caller's arbitrary sources frame;
    * rounds 2+ plan a single shuffle (plan-asserted in GraphLakeSpec). */
  private[graft] def bfsRound(e: DataFrame, dist: DataFrame): DataFrame = {
    val prop = e.join(dist, e("src") === dist("id"))
      .select(e("dst").as("id"), (col("dist") + 1L).as("dist"))
    dist.unionByName(prop)
      .groupBy("id").agg(min(col("dist")).as("dist"))
  }
}
