package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-curve tooling: derive a larger scale factor from the driver's
  * testdata by key-shifted replication, then time the heavy tier across
  * scale factors in one JVM (`graft.StageProbe <dir1,dir2,...> ...`). The
  * derived data is for WALL-TIME SLOPE measurement only — correctness
  * stays pinned at the testdata's own SFs by Verify/check_correctness.
  *
  * Replication preserves each workload's per-replica structure exactly:
  *  - `documents`: EVERY replica (r = 0 included) suffixes every
  *    whitespace token with `<U+0001>` + a FIXED-WIDTH 2-char base-36
  *    replica tag — a bijective token-space isomorphism, so in-replica
  *    shingle Jaccard (the near-dup/graph workloads' input structure) is
  *    IDENTICAL to the original while cross-replica shingle overlap is
  *    zero. Pair counts, component sizes and graph shape therefore scale
  *    exactly linearly with replicas, which is the regime a 10x corpus
  *    actually exhibits (new data is mostly new). The tag is fixed-width
  *    so CHARACTER volume also scales exactly linearly: the r9/r10
  *    sweeps' variable-width decimal tag inflated characters 1.52x at
  *    x100 (replica digits grow with r), skewing every per-character
  *    linearity ratio (ld16's false 1.40 superlinearity). Tagging
  *    replica 0 too is what makes chars/doc CONSTANT across replicas
  *    (spec-pinned) rather than merely asymptotically so.
  *  - `embeddings`/`events`/`part`: id keys shifted by r * (max+1);
  *    payloads unchanged (events keep their time span — series count
  *    grows, per-series length doesn't; part's md5-scattered DBSCAN
  *    geometry re-derives from the new keys at constant density by the
  *    sqrt-grid construction).
  *  - `orders`/`lineitem`: replicated on ONE shared o_orderkey shift with
  *    the lineitem→orders FK remapped onto it (join output exactly
  *    linear); dim FKs stay unshifted against base-size dims — the
  *    facts-grow-dims-don't shape of a real warehouse scale-up.
  * Remaining tables (region/nation/customer/supplier) are copied as-is
  * (dims don't drive the heavy tier).
  */
object ScaleGen {

  /** Separator between a base token and its replica tag. U+0001 is a
    * non-whitespace control char that natural-language corpora don't
    * contain — and `main` ASSERTS the base corpus is free of it, so the
    * rename is bijective BY CONSTRUCTION (a base token can never equal
    * another token's tagged form), not just on well-behaved data. A plain
    * `_r` suffix lacked that guarantee: a base token literally ending in
    * `_1` would collide with replica 1's rename of its prefix. */
  val ReplicaSep = "\u0001"

  /** Widest replica count the 2-char base-36 tag can name. */
  val MaxReplicas: Int = 36 * 36

  /** The fixed-width tag appended (after [[ReplicaSep]]) to every token of
    * replica `r` — 2-char base-36, so "00" for replica 0 through "zz" for
    * replica 1295. Fixed width is the whole point: chars/token is the same
    * in every replica, so character volume scales exactly linearly in the
    * replica count instead of drifting with the digit count of r. */
  def replicaTag(r: Int): String = {
    require(r >= 0 && r < MaxReplicas,
      s"scalegen: replica $r outside the 2-char base-36 tag range [0, $MaxReplicas)")
    val t = java.lang.Integer.toString(r, 36)
    if (t.length == 1) "0" + t else t
  }

  /** One documents replica: ids shifted by `r * shift`; EVERY replica's
    * whitespace tokens (r = 0 included) get a `<ReplicaSep><tag(r)>`
    * suffix — a bijective token rename, so in-replica shingle/Jaccard
    * structure is EXACTLY the original's while cross-replica shingle
    * overlap is zero, and the fixed-width tag keeps chars/doc CONSTANT
    * across replicas (both pinned by ScaleGenSpec). Whitespace runs are
    * normalized to single spaces and n_chars recomputed as length(text) —
    * identically in every replica, so per-character denominators stay
    * replica-invariant. */
  def documentsReplica(base: DataFrame, r: Int, shift: Long): DataFrame = {
    val text = array_join(
      transform(filter(split(col("text"), "\\s+"), x => x =!= ""),
        x => concat(x, lit(ReplicaSep + replicaTag(r)))), " ")
    base.select((col("doc_id") + lit(r * shift)).as("doc_id"), text.as("text"),
      col("lang"), col("source"), length(text).cast("long").as("n_chars"))
  }

  /** One embeddings replica: ids shifted; in `jitter` mode replica r > 0's
    * vectors pass through a deterministic signed coordinate PERMUTATION —
    * dimension i of the output takes source dimension π_r(i) (π_r = the
    * md5-sort of the index range, seeded by the replica) times a ±1 sign
    * drawn per (replica, dimension). Signed permutations are ORTHOGONAL,
    * so in-replica geometry is preserved exactly up to FP summation order
    * (the products are the same multiset; ScaleGenSpec pins cosines equal
    * to 1e-6), while cross-replica cosines lose their coordinate
    * alignment: a clone pair's dot becomes a random signed off-diagonal
    * pairing Σ ± a_{π1(i)}·a_{π2(i)}, which concentrates near 0 — the
    * permutation is what kills the all-positive diagonal Σ ± a_i² that
    * pure sign flips leave behind on coordinate-concentrated vectors.
    * ScaleGenSpec pins every cross-replica clone cosine < 0.45 on the
    * fixture. Verbatim mode (the default) keeps the r7 behavior: vectors
    * copied as-is, which forces any CORRECT near-dup operator to emit
    * Θ(replicas²) clone pairs — right for oracle-shape checks, wrong for
    * wall-time slope measurement (the ld5 ×100 instrument artifact the r9
    * sweep documented). */
  def embeddingsReplica(base: DataFrame, r: Int, shift: Long,
      jitter: Boolean): DataFrame = {
    val id = (col("vec_id") + lit(r * shift)).as("vec_id")
    if (!jitter || r == 0)
      base.select(id, col("embedding"), col("label"))
    else {
      val dims = sequence(lit(0), size(col("embedding")) - 1)
      // π_r: indices sorted by their (replica, dim) md5 — a deterministic
      // uniform permutation, constant per replica (and per row — Catalyst
      // folds it once the embedding width is fixed)
      val perm = transform(
        array_sort(transform(dims, i => struct(
          graft.llm.Dedup.md5Hash60(
            concat(lit(s"sgp:$r:"), i.cast("string"))).as("k"),
          i.as("i")))),
        s => s.getField("i"))
      val sign = (i: org.apache.spark.sql.Column) =>
        when(graft.llm.Dedup.md5Hash60(
          concat(lit(s"sgs:$r:"), i.cast("string"))) % 2 === 0, lit(1.0f))
          .otherwise(lit(-1.0f))
      val jittered = zip_with(perm, dims,
        (p, i) => element_at(col("embedding"), p + 1) * sign(i))
      base.select(id, jittered.as("embedding"), col("label"))
    }
  }

  /** Orders + lineitem replicas on ONE shared o_orderkey shift, with the
    * lineitem→orders FK remapped onto it: replica r's lineitem rows point
    * at replica r's orders, never across, so the fact join's output grows
    * exactly linearly in `replicas`. Dim FKs (o_custkey, l_partkey,
    * l_suppkey) are left unshifted against base-size dims. Pinned by
    * ScaleGenSpec (FK integrity + join cardinality at x3). */
  def factReplicas(ordersBase: DataFrame, liBase: DataFrame, replicas: Int)
      : (DataFrame, DataFrame) = {
    val oShiftRow = ordersBase.agg(max(col("o_orderkey").cast("long"))).head()
    require(!oShiftRow.isNullAt(0), "scalegen: orders is empty")
    val oShift = oShiftRow.getLong(0) + 1L
    val ordersAll = (0 until replicas).map { r =>
      ordersBase.select((col("o_orderkey") + lit(r * oShift)).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }.reduce(_ unionByName _)
    val liAll = (0 until replicas).map { r =>
      liBase.select((col("l_orderkey") + lit(r * oShift)).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ unionByName _)
    (ordersAll, liAll)
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val replicas = args(2).toInt
    // arg 4: embeddings replica mode — `verbatim` (default; exact clones,
    // oracle-shape) or `jitter` (sign-flip isomorphism, wall-time slope)
    val embedJitter = args.length > 3 && {
      require(args(3) == "verbatim" || args(3) == "jitter",
        s"scalegen: unknown embed mode '${args(3)}' (verbatim|jitter)")
      args(3) == "jitter"
    }
    val spark = GraftSession.fromEnv(logLevel = "WARN")
    new java.io.File(out).mkdirs()

    def replicate(t: String, key: String)(perReplica: (DataFrame, Int, Long) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val maxKey = base.agg(max(col(key).cast("long"))).head()
      require(!maxKey.isNullAt(0), s"scalegen: $t is empty or $key all-null")
      val shift = maxKey.getLong(0) + 1L
      val all = (0 until replicas).map(r => perReplica(base, r, shift)).reduce(_ unionByName _)
      all.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t x$replicas -> ${all.count()} rows")
    }

    // the bijectivity of the token rename (and with it the exactly-linear
    // pair-count premise) requires the base corpus to be separator-free
    val sepDocs = spark.read.parquet(s"$src/documents.parquet")
      .filter(col("text").contains(ReplicaSep)).count()
    require(sepDocs == 0L,
      s"scalegen: $sepDocs base documents contain U+0001 — replica token rename would not be bijective")
    replicate("documents", "doc_id")(documentsReplica)
    replicate("embeddings", "vec_id")(embeddingsReplica(_, _, _, embedJitter))
    replicate("events", "event_id") { (df, r, shift) =>
      // user_id shift rides on the event-id space: that keeps replicas'
      // user populations disjoint ONLY if every user_id is below the
      // event-id shift — assert it, the exactly-linear-scaling premise of
      // the user-keyed workloads rests on it
      if (r == 0) {
        val maxUser = df.agg(max(col("user_id").cast("long"))).head().getLong(0)
        require(maxUser < shift,
          s"scalegen: max(user_id)=$maxUser >= event shift $shift — replicas' users would overlap")
      }
      df.select((col("event_id") + lit(r * shift)).as("event_id"), col("ts"),
        (col("user_id") + lit(r * shift)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    replicate("part", "p_partkey") { (df, r, shift) =>
      df.select((col("p_partkey") + lit(r * shift)).as("p_partkey"), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }
    // FACT replication with FK remap: orders and lineitem share ONE key
    // shift (max o_orderkey + 1), so every replica's l_orderkey lands on
    // its own replica's orders — the lineitem⋈orders join output grows
    // exactly linearly, which is the regime a 10× warehouse load actually
    // exhibits (new facts reference new transactions). Dim FKs
    // (o_custkey, l_partkey, l_suppkey) stay UNSHIFTED: dims keep their
    // base size — the realistic 100 TB shape (facts grow, dims don't) —
    // and replica 0 of the replicated `part` retains the original keys,
    // so every edge dq4 audits stays orphan-free at every derived scale.
    val (ordersAll, liAll) = factReplicas(
      spark.read.parquet(s"$src/orders.parquet"),
      spark.read.parquet(s"$src/lineitem.parquet"), replicas)
    ordersAll.write.mode("overwrite").parquet(s"$out/orders.parquet")
    println(s"[scalegen] orders x$replicas -> ${ordersAll.count()} rows")
    liAll.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    println(s"[scalegen] lineitem x$replicas -> ${liAll.count()} rows")
    Seq("region", "nation", "customer", "supplier").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    spark.stop()
  }
}
