package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Three paths:
  *  - brute-force cosine top-k — the exact baseline, oracle-checkable;
  *  - multi-table sparse-sign-projection LSH — query batches broadcast
  *    against a reusable corpus index (one kernel pass computes all codes;
  *    persist it, or at 100 TB write it bucketed); only candidates sharing
  *    a bucket code are scored, and the corpus never shuffles;
  *  - IVF cell probing — the complementary DISTRIBUTED shape: both sides
  *    shuffle on the cell id (at 100 TB the corpus is written partitioned
  *    by cell once and only probed cells are read), so neither side needs
  *    to fit in memory.
  *
  * Determinism: cosine is computed over integer-quantized components
  * (round(x*1000)), so the dot product and norms are exact integer sums —
  * reduction order cannot change the result, and DuckDB reproduces it
  * bit-for-bit (IEEE sqrt + division of identical integers).
  */
/** Primitive-array kernels for quantized vectors (executor-side hot loops). */
object Qv {
  def dot(x: Array[Long], y: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < x.length) { s += x(i) * y(i); i += 1 }
    s
  }
}

/** Elementwise vector-sum `Aggregator` (SURVEY §2.11's reserved extension
  * tier: centroid aggregates). One buffer per group holding the running
  * component sums — a single-pass, map-side-combined vector aggregation,
  * versus the dims-many `sum(getItem(i))` columns the relational encoding
  * needs. Register with `functions.udaf(VecSumAgg)`. Exact (integer sums
  * over quantized components), so centroids are reduction-order-independent. */
object VecSumAgg extends org.apache.spark.sql.expressions.Aggregator[Array[Long], Array[Long], Array[Long]] {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

  override def zero: Array[Long] = Array.empty[Long]

  private def add(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      require(a.length == b.length,
        s"vector length mismatch: ${a.length} vs ${b.length}")
      val out = new Array[Long](a.length)
      var i = 0
      while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
      out
    }

  override def reduce(buf: Array[Long], in: Array[Long]): Array[Long] = add(buf, in)
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = add(a, b)
  override def finish(buf: Array[Long]): Array[Long] = buf
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

object Similarity {

  /** Row ceiling for the driver-collected broadcast sides (query side of
    * [[bruteForceTopK]], corpus of [[embeddingNearDups]]). 64-dim quantized
    * vectors are ~0.6 KB each on the heap, so 1M rows ≈ 0.6 GB — past that
    * the operator fails fast and directs callers to the LSH/IVF paths
    * instead of silently OOMing the driver. */
  private[llm] val MaxBroadcastRows = 1000000

  /** Integer quantization of a float-array embedding (scale 1000). */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * lit(1000.0)).cast("long"))

  /** Exact integer dot product of two quantized vectors (higher-order
    * function form — arbitrary dims, interpreted per element). */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Exact integer dot product for fixed-width vectors: an unrolled
    * getItem-product sum. Unlike the HOF form this is a flat expression
    * tree that stays inside whole-stage codegen — on an all-pairs join it
    * is the difference between interpreted and compiled inner loops. */
  def qdotFixed(a: Column, b: Column, dims: Int): Column =
    (0 until dims).map(i => a.getItem(i) * b.getItem(i)).reduce(_ + _)

  /** Cosine similarity from quantized vectors (double, deterministic). */
  def qcosine(a: Column, b: Column): Column =
    qdot(a, b).cast("double") /
      (sqrt(qdot(a, a).cast("double")) * sqrt(qdot(b, b).cast("double")))

  /** Brute-force cosine top-k: every query row (small side, broadcast) vs
    * the full corpus, ranked per query. The corpus side never shuffles for
    * the join; the only shuffle is the per-query window (key = query id). */
  /** Shared brute-force scoring kernel: (query_id, neighbor_id, cosine)
    * for every (query, corpus) pair. Query side (small by contract)
    * broadcasts as a plain array; scoring is the same raw-JVM kernel as
    * embeddingNearDups — exact integer dots and the oracle's
    * `dp / (sqrt(nn_q) * sqrt(nn_c))` IEEE sequence. The corpus streams
    * partition-wise (never shuffles for the scoring). */
  private def bfScores(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      dims: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])].limit(MaxBroadcastRows + 1).collect()
    require(qRows.length <= MaxBroadcastRows,
      s"bruteForceTopK query side exceeds $MaxBroadcastRows rows; " +
        "use lshTopK/ivfTopK (bucketed candidate generation) instead")
    val qArr = qRows.sortBy(_._1).map { case (id, e) =>
      require(e.length == dims, s"query vector length ${e.length} != dims $dims")
      (id, e, math.sqrt(Qv.dot(e, e).toDouble))
    }
    val bcast = spark.sparkContext.broadcast(qArr)
    corpus
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
      .mapPartitions { iter =>
        val qs = bcast.value
        iter.flatMap { case (cid, ce) =>
          require(ce.length == dims, s"corpus vector length ${ce.length} != dims $dims")
          val cn = math.sqrt(Qv.dot(ce, ce).toDouble)
          qs.iterator.filter(_._1 != cid).map { case (qid, qe, qn) =>
            (qid, cid, Qv.dot(qe, ce).toDouble / (qn * cn))
          }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
  }

  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, dims: Int = 64): DataFrame = {
    // the only shuffle is the per-query top-k window
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    bfScores(queries, corpus, idCol, embCol, dims)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining (contrastive-training data): per query the
    * top-k most similar corpus items whose cosine lies in [lo, hi) —
    * similar enough to be informative negatives, strictly below the
    * near-dup band (>= hi) that would poison training with false
    * negatives. The band filter runs in the scan stage BEFORE the
    * per-query top-k shuffle, so the exchange only carries in-band
    * pairs. */
  def hardNegativesTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, lo: Double, hi: Double, dims: Int = 64): DataFrame = {
    require(lo < hi, s"empty band [$lo, $hi)")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    bfScores(queries, corpus, idCol, embCol, dims)
      .filter(col("cosine") >= lo && col("cosine") < hi)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** SQ8 — per-dimension scalar quantization to int8 codes + compressed
    * exact scan + exact re-rank: the FLAT-index compression shape (FAISS
    * `SQ8`) complementing [[pqTopK]]'s codebook compression. Training is
    * one statistic per dimension (max |component|, clamped to >= 1), each
    * component encodes independently as round(x·127/max_d) ∈ [-127, 127]
    * (4× smaller than the quantized longs, 8× smaller than float64), and
    * candidate scoring is the integer dot in code space weighted by
    * max_d² — an exact-integer approximation of the true dot, so
    * reduction order cannot reorder candidates and a DuckDB oracle
    * replays training + encoding + scoring bit-for-bit. Rounding is
    * half-away-from-zero (matching both engines' SQL `round`); candidate
    * ties break on the smaller neighbor id; the top-`rerank` candidates
    * per query re-rank by exact quantized cosine.
    *
    * Scale shape: training collects exactly `dims` rows (a tree-reduced
    * per-dim max); the corpus streams through the compressed scan
    * partition-wise and never shuffles for scoring (the scan reads code
    * bytes, memory-bandwidth-bound — the point of SQ8 at 100 TB); the
    * re-rank attaches embeddings to Q×rerank candidate rows via a
    * broadcast-able join. The query batch broadcasts under the same
    * [[MaxBroadcastRows]] contract as [[bruteForceTopK]]; a batch past
    * the cap belongs on [[lshTopK]]/[[ivfLearnedTopK]]'s bucketed paths. */
  def sq8TopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, rerank: Int = 50, dims: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val corpusQ = corpus
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
    // train: per-dimension max |x| over the corpus — `dims` rows out of a
    // partially-aggregated groupBy, then a bounded collect. All-zero
    // dimensions clamp to scale 1 (codes stay 0; no division by zero).
    val mxRows = corpusQ
      .select(posexplode(col("e")).as(Seq("i", "x")))
      .groupBy("i").agg(max(abs(col("x"))).as("mx"))
      .as[(Int, Long)].collect()
    require(mxRows.nonEmpty, "SQ8 training corpus is empty")
    val scales = Array.fill(dims)(1L)
    mxRows.foreach { case (i, mx) =>
      require(i < dims, s"corpus vector has component $i >= dims $dims")
      scales(i) = math.max(mx, 1L)
    }
    val bsc = spark.sparkContext.broadcast(scales)
    // half-away-from-zero, the SQL round() both oracles apply to the same
    // IEEE double x·127/max — bit-identical codes by construction
    def enc(e: Array[Long], sc: Array[Long]): Array[Long] = {
      require(e.length == dims, s"vector length ${e.length} != dims $dims")
      Array.tabulate(dims) { i =>
        val v = e(i) * 127.0 / sc(i)
        (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
      }
    }
    val qRows = queries
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])].limit(MaxBroadcastRows + 1).collect()
    require(qRows.length <= MaxBroadcastRows,
      s"sq8TopK query side exceeds $MaxBroadcastRows rows; " +
        "use lshTopK/ivfLearnedTopK (bucketed candidate generation) instead")
    val qArr = qRows.sortBy(_._1).map { case (qid, qe) =>
      (qid, enc(qe, scales), qe, math.sqrt(Qv.dot(qe, qe).toDouble))
    }
    val bq = spark.sparkContext.broadcast(qArr)
    // compressed scan: weighted integer dot in code space (exact longs)
    val cand = corpusQ.as[(Long, Array[Long])]
      .mapPartitions { iter =>
        val sc = bsc.value
        val qs = bq.value
        iter.flatMap { case (cid, ce) =>
          val cc = enc(ce, sc)
          qs.iterator.filter(_._1 != cid).map { case (qid, qc, _, _) =>
            var s = 0L
            var i = 0
            while (i < dims) { s += qc(i) * cc(i) * sc(i) * sc(i); i += 1 }
            (qid, cid, s)
          }
        }
      }
      .toDF("query_id", "neighbor_id", "adc")
    val wc = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val top = cand.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= rerank)
      .select("query_id", "neighbor_id")
    val qDf = spark.createDataset(
        qArr.toIndexedSeq.map { case (qid, _, qe, qn) => (qid, qe, qn) })
      .toDF("query_id", "qe", "qn")
    val cPrep = corpusQ.as[(Long, Array[Long])]
      .map { case (id, e) => (id, e, math.sqrt(Qv.dot(e, e).toDouble)) }
      .toDF("neighbor_id", "ce", "cn")
    scorePairsTopK(top.join(broadcast(qDf), "query_id").join(cPrep, "neighbor_id"), k)
  }

  /** Matryoshka (MRL-style) ANN — candidate generation on a PREFIX of the
    * embedding dimensions, exact full-dimension re-rank: the adaptive-
    * retrieval shape for embeddings trained with matryoshka representation
    * learning, where the first `prefixDims` components carry most of the
    * signal. The candidate scan reads prefixDims/dims of the vector bytes
    * (e.g. 16/64 = 4× less memory traffic — the same bandwidth economics
    * as [[sq8TopK]], achieved by truncation instead of quantization, and
    * the two compose); scoring is the exact integer prefix dot, so
    * candidate sets are reduction-order-independent and a DuckDB oracle
    * replays them bit-for-bit (`i <= prefixDims` over the same quantized
    * component rows). Ties break on the smaller neighbor id; the
    * top-`rerank` candidates re-rank by exact full-dim quantized cosine.
    *
    * Scale shape: identical to [[bruteForceTopK]]'s — the corpus streams
    * partition-wise against a broadcast query batch (bounded by
    * [[MaxBroadcastRows]]), the only shuffles are the two per-query-key
    * windows; nothing else moves. Batches past the cap belong on the
    * bucketed paths ([[lshTopK]]/[[ivfLearnedTopK]]). */
  def matryoshkaTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, prefixDims: Int = 16, rerank: Int = 50, dims: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    require(prefixDims >= 1 && prefixDims <= dims,
      s"prefixDims must be in [1, dims], got prefixDims=$prefixDims dims=$dims")
    val corpusQ = corpus
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
    val qRows = queries
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])].limit(MaxBroadcastRows + 1).collect()
    require(qRows.length <= MaxBroadcastRows,
      s"matryoshkaTopK query side exceeds $MaxBroadcastRows rows; " +
        "use lshTopK/ivfLearnedTopK (bucketed candidate generation) instead")
    val qArr = qRows.sortBy(_._1).map { case (qid, qe) =>
      require(qe.length == dims, s"query vector length ${qe.length} != dims $dims")
      (qid, qe, math.sqrt(Qv.dot(qe, qe).toDouble))
    }
    val bq = spark.sparkContext.broadcast(qArr)
    val p = prefixDims
    val cand = corpusQ.as[(Long, Array[Long])]
      .mapPartitions { iter =>
        val qs = bq.value
        iter.flatMap { case (cid, ce) =>
          require(ce.length == dims, s"corpus vector length ${ce.length} != dims $dims")
          qs.iterator.filter(_._1 != cid).map { case (qid, qe, _) =>
            var s = 0L
            var i = 0
            while (i < p) { s += qe(i) * ce(i); i += 1 }
            (qid, cid, s)
          }
        }
      }
      .toDF("query_id", "neighbor_id", "pdot")
    val wc = Window.partitionBy("query_id")
      .orderBy(col("pdot").desc, col("neighbor_id"))
    val top = cand.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= rerank)
      .select("query_id", "neighbor_id")
    val qDf = spark.createDataset(qArr.toIndexedSeq)
      .toDF("query_id", "qe", "qn")
    val cPrep = corpusQ.as[(Long, Array[Long])]
      .map { case (id, e) => (id, e, math.sqrt(Qv.dot(e, e).toDouble)) }
      .toDF("neighbor_id", "ce", "cn")
    scorePairsTopK(top.join(broadcast(qDf), "query_id").join(cPrep, "neighbor_id"), k)
  }

  /** Deterministic ±1 hyperplane component for (table, plane, dim) — a
    * fixed integer mix, no RNG (workflows must be replayable). */
  private[llm] def planeSign(table: Int, plane: Int, dim: Int): Double = {
    var h = table * 0x9E3779B9L + plane * 0x85EBCA6BL + dim * 0xC2B2AE35L
    h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** Sparse-projection membership: dim `dim` participates in plane
    * (table, plane) iff this returns true; expected fraction of
    * participating dims is 1/invDensity (Li et al.'s very-sparse random
    * projections — cuts code-computation cost by the same factor while
    * preserving the sign-hash's locality sensitivity). Deterministic, and
    * independent of [[planeSign]] (different mix constants). */
  private[llm] def planeKeeps(table: Int, plane: Int, dim: Int, invDensity: Int): Boolean = {
    if (invDensity <= 1) return true
    var h = table * 0xC2B2AE35L + plane * 0x9E3779B9L + dim * 0x85EBCA6BL + 0x165667B1L
    h ^= (h >>> 33); h *= 0x9E3779B97F4A7C15L; h ^= (h >>> 29)
    java.lang.Long.remainderUnsigned(h, invDensity.toLong) == 0L
  }

  /** One-pass LSH prep kernel: quantized vector, L2 norm, and ALL `tables`
    * bucket codes per row in a single `mapPartitions` (tables × bits sign
    * projections; plane signs from [[planeSign]], summed in component order
    * so codes match the previous expression formulation bit-for-bit).
    *
    * A per-table HOF-expression formulation (`aggregate(zip_with(...))` per
    * plane) was the first implementation and was the bench's slowest query:
    * tables × bits interpreted array passes per row per side. The kernel
    * does the same tables × bits × dims multiply-adds in one tight JVM loop
    * — this is the legitimate `mapPartitions` case (amortized per-partition
    * setup, no per-element expression interpretation).
    *
    * Output columns: (`id`, `e` quantized, `nrm`, `codes` one int per table). */
  /** Per-plane participating (dim, sign) terms for the sparse projection
    * geometry, indexed plane-major (`tp = table * bits + plane`). The
    * single source of truth shared by the [[lshPrep]] kernel AND the
    * generated DuckDB oracle SQL (which embeds the same planes as literal
    * arithmetic, in the same dim order, so bucket codes agree bit-for-bit
    * across engines). */
  def planeTerms(
      tables: Int, bits: Int, dims: Int, invDensity: Int): IndexedSeq[IndexedSeq[(Int, Double)]] =
    (0 until tables * bits).map { tp =>
      (0 until dims)
        .filter(d => planeKeeps(tp / bits, tp % bits, d, invDensity))
        .map(d => d -> planeSign(tp / bits, tp % bits, d))
    }

  private def lshPrep(
      df: DataFrame, idCol: String, embCol: String,
      tables: Int, bits: Int, dims: Int, invDensity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val terms = planeTerms(tables, bits, dims, invDensity)
    val planeDims: Array[Array[Int]] = terms.map(_.map(_._1).toArray).toArray
    val planeSgns: Array[Array[Double]] = terms.map(_.map(_._2).toArray).toArray
    df.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
      .mapPartitions { iter =>
        iter.map { case (id, e) =>
          require(e.length == dims, s"vector length ${e.length} != dims $dims")
          val nrm = math.sqrt(Qv.dot(e, e).toDouble)
          val codes = new Array[Int](tables)
          var t = 0
          while (t < tables) {
            var code = 0
            var p = 0
            while (p < bits) {
              val ds = planeDims(t * bits + p)
              val ws = planeSgns(t * bits + p)
              var s = 0.0
              var j = 0
              while (j < ds.length) { s += e(ds(j)).toDouble * ws(j); j += 1 }
              if (s > 0) code |= 1 << p
              p += 1
            }
            codes(t) = code
            t += 1
          }
          (id, e, nrm, codes)
        }
      }
      .toDF("id", "e", "nrm", "codes")
  }

  /** Reusable LSH index over a corpus: one kernel pass producing
    * (id, e, nrm, codes). Callers running many query batches should
    * `persist()` this (or at 100 TB write it `bucketBy(id)` via the
    * `sources.Store` bucketed layout) so the corpus codes are paid once —
    * the index never needs recomputation until the corpus changes. */
  def lshIndex(
      corpus: DataFrame, idCol: String, embCol: String,
      tables: Int = 16, bits: Int = 4, dims: Int = 64,
      invDensity: Int = 8): DataFrame =
    lshPrep(corpus, idCol, embCol, tables, bits, dims, invDensity)

  /** Multi-table LSH ANN: candidates = corpus rows sharing any of
    * `tables` bucket codes with the query, then exact cosine top-k within
    * candidates. Recall is tunable by (tables, bits); the recall floor vs
    * brute force is pinned by SimilaritySpec.
    *
    * Scale shape: for query batches within `broadcastCap` (default
    * [[MaxBroadcastRows]]) the corpus index streams partition-wise and
    * NEVER shuffles — the batch is broadcast with its own codes, and each
    * corpus partition does candidate check (`tables` int compares per
    * pair) + exact cosine for matches in one tight loop; the only shuffle
    * is the per-query top-k window. A batch PAST the cap automatically
    * falls back to the fully distributed (tbl, code) equi-join tail
    * ([[lshTopKJoined]]) — same results, both sides shuffle, nothing needs
    * to fit in memory. A full self-join-shaped dedup workload belongs to
    * [[Dedup.minhashNearDups]] (symmetric banded-join path) instead. */
  def lshTopKOnIndex(
      queries: DataFrame, index: DataFrame, idCol: String, embCol: String,
      k: Int, tables: Int = 16, bits: Int = 4, dims: Int = 64,
      invDensity: Int = 8, broadcastCap: Int = MaxBroadcastRows): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qPrep = lshPrep(queries, idCol, embCol, tables, bits, dims, invDensity)
    val qRows = qPrep
      .as[(Long, Array[Long], Double, Array[Int])]
      .limit(broadcastCap + 1).collect()
    // Query batch past the broadcast cap: switch to the fully distributed
    // (tbl, code) equi-join shape (same as lshNearDups) instead of failing.
    // Identical results by construction — the same "shares >= 1 bucket
    // code" candidate predicate, the same exact-cosine scoring sequence,
    // the same top-k window — just with candidates generated by a
    // distributed join (ids only; embeddings re-attach by key) rather than
    // a per-partition inverted map over a broadcast batch.
    if (qRows.length > broadcastCap)
      return lshTopKJoined(qPrep, index, k)
    val bcast = spark.sparkContext.broadcast(qRows.sortBy(_._1))
    val scored = index.as[(Long, Array[Long], Double, Array[Int])]
      .mapPartitions { iter =>
        val qs = bcast.value
        // Per-table inverted index (code -> query positions), built once per
        // partition: each corpus row then does `tables` hash lookups instead
        // of a linear scan over every query's code array. A stamp array
        // dedups queries matched in several tables without per-row allocs.
        val inv: Array[java.util.HashMap[Int, Array[Int]]] =
          Array.tabulate(tables) { t =>
            val m = new java.util.HashMap[Int, Array[Int]]()
            qs.indices.groupBy(i => qs(i)._4(t)).foreach { case (code, idxs) =>
              m.put(code, idxs.toArray)
            }
            m
          }
        val stamp = new Array[Int](qs.length)
        var rowNo = 0
        iter.flatMap { case (nid, ce, cn, cc) =>
          rowNo += 1
          val out = Seq.newBuilder[(Long, Long, Double)]
          var t = 0
          while (t < cc.length) {
            val hits = inv(t).get(cc(t))
            if (hits != null) {
              var j = 0
              while (j < hits.length) {
                val qi = hits(j)
                if (stamp(qi) != rowNo) {
                  stamp(qi) = rowNo
                  val (qid, qe, qn, _) = qs(qi)
                  if (qid != nid)
                    out += ((qid, nid, Qv.dot(qe, ce).toDouble / (qn * cn)))
                }
                j += 1
              }
            }
            t += 1
          }
          out.result()
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Distributed large-batch LSH ANN tail: candidates from a (tbl, code)
    * equi-join of exploded bucket codes (ids only), embeddings re-attached
    * by key for exact-cosine scoring, per-query top-k window. Nothing
    * broadcasts or collects — both sides shuffle on (tbl, code) then id —
    * so neither the query batch nor the corpus needs to fit anywhere.
    * Same results as the broadcast path by construction (identical
    * candidate predicate, scoring sequence, and ranking); SimilaritySpec
    * pins the equivalence through a small-cap override. */
  /** Shared exact-scoring + ranking tail for the distributed candidate
    * paths: a (query_id, qe, qn, neighbor_id, ce, cn) pair table →
    * exact quantized cosine per pair (one JVM kernel pass) → per-query
    * top-k by (cosine DESC, neighbor_id). The IEEE sequence
    * `dot / (qn * cn)` and the tie-break are oracle-pinned — every
    * consumer MUST rank through here so a future tweak cannot diverge
    * one path from its DuckDB twin. */
  private def scorePairsTopK(pairs: DataFrame, k: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val scored = pairs
      .select("query_id", "qe", "qn", "neighbor_id", "ce", "cn")
      .as[(Long, Array[Long], Double, Long, Array[Long], Double)]
      .mapPartitions { iter =>
        iter.map { case (qid, qe, qn, nid, ce, cn) =>
          (qid, nid, Qv.dot(qe, ce).toDouble / (qn * cn))
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private def lshTopKJoined(qPrep: DataFrame, index: DataFrame, k: Int): DataFrame = {
    // both sides have two consumers (bucket explode + scoring re-attach)
    val qp = Caches.persist(qPrep)
    val ip = Caches.persist(index)
    def buckets(df: DataFrame, idAs: String) =
      df.select(col("id").as(idAs), posexplode(col("codes")).as(Seq("tbl", "code")))
    val cand = buckets(qp, "query_id")
      .join(buckets(ip, "neighbor_id"), Seq("tbl", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    scorePairsTopK(cand
      .join(qp.select(col("id").as("query_id"), col("e").as("qe"), col("nrm").as("qn")),
        "query_id")
      .join(ip.select(col("id").as("neighbor_id"), col("e").as("ce"), col("nrm").as("cn")),
        "neighbor_id"), k)
  }

  /** LSH ANN over a corpus without a prebuilt index (codes computed once,
    * in the same single pass that scores). See [[lshTopKOnIndex]]. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, tables: Int = 16, bits: Int = 4, dims: Int = 64,
      invDensity: Int = 8): DataFrame =
    lshTopKOnIndex(queries,
      lshIndex(corpus, idCol, embCol, tables, bits, dims, invDensity),
      idCol, embCol, k, tables, bits, dims, invDensity)

  /** Per-label centroids of quantized embeddings via the one-pass
    * [[VecSumAgg]] aggregator, emitted as exploded (label, dim, mean) rows
    * (component mean = exact integer sum / count — deterministic in any
    * reduction order). The training-data use: per-cluster/per-source
    * centroids feed IVF cell assignment and drift monitoring. */
  def labelCentroids(
      vecs: DataFrame, labelCol: String, embCol: String): DataFrame = {
    val vecsum = udaf(VecSumAgg)
    vecs
      .select(col(labelCol).as("label"), quantize(col(embCol)).as("q"))
      .groupBy("label")
      .agg(vecsum(col("q")).as("sums"), count(lit(1)).as("n"))
      .select(col("label"), col("n"),
        posexplode(col("sums")).as(Seq("dim", "s")))
      .select(col("label"), col("dim"),
        (col("s").cast("double") / col("n")).as("mean_q"))
  }

  /** Assign every vector to its nearest per-label centroid by cosine — the
    * cluster/domain-labeling step of a curation pipeline (and a 1-NN
    * classifier over label centroids). The centroid mean's /count cancels
    * inside cosine, so assignment works on the exact integer component
    * SUMS from [[VecSumAgg]] — no floating-point accumulation anywhere,
    * hence bit-deterministic and oracle-reproducible. Ties go to the
    * smallest label. Labels are few by contract (the centroid table is
    * collected + broadcast; the vector side streams partition-wise and
    * never shuffles). Output: vec_id, label, label_pred, cosine. */
  def centroidAssign(
      vecs: DataFrame, idCol: String, labelCol: String, embCol: String,
      dims: Int = 64): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val vecsum = udaf(VecSumAgg)
    val cents = vecs
      .select(col(labelCol).cast("int").as("label"), quantize(col(embCol)).as("q"))
      .groupBy("label").agg(vecsum(col("q")).as("s"))
      .as[(Int, Array[Long])].collect().sortBy(_._1)
      .map { case (l, s) => (l, s, math.sqrt(Qv.dot(s, s).toDouble)) }
    require(cents.length <= 100000, s"${cents.length} labels exceed broadcast contract")
    val bcast = spark.sparkContext.broadcast(cents)
    vecs
      .select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).cast("int").as("label"), quantize(col(embCol)).as("e"))
      .as[(Long, Int, Array[Long])]
      .mapPartitions { iter =>
        val cs = bcast.value
        iter.map { case (id, lbl, e) =>
          require(e.length == dims, s"vector length ${e.length} != dims $dims")
          val vn = math.sqrt(Qv.dot(e, e).toDouble)
          var bi = 0
          var best = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            val cos = Qv.dot(e, cs(i)._2).toDouble / (vn * cs(i)._3)
            if (cos > best) { best = cos; bi = i } // strict > = first/min label wins ties
            i += 1
          }
          (id, lbl, cs(bi)._1, best)
        }
      }
      .toDF("vec_id", "label", "label_pred", "cosine")
  }

  /** IVF-style ANN: a deterministic coarse quantizer assigns every vector to
    * one of 2^cellBits cells (cell id = packed signs of the first cellBits
    * components); queries probe their own cell plus all Hamming-1 neighbor
    * cells, and exact cosine runs only within probed cells. The corpus is
    * bucketed ONCE (at 100 TB: partitioned/persisted by cell), and each
    * query touches cellBits+1 of 2^cellBits cells — the inverted-file
    * trade-off, complementary to the multi-table LSH path (lshTopK).
    * Recall floor vs brute force is pinned by SimilaritySpec. */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, cellBits: Int = 4, dims: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // One kernel pass per side: quantized vector, norm, cell (packed signs
    // of the first cellBits components). Same reasoning as lshPrep — the
    // unrolled-expression formulation spent seconds in codegen for work a
    // tight loop does instantly; unlike lshTopK this path keeps the
    // DISTRIBUTED join shape (both sides shuffle on cell; at 100 TB the
    // corpus is written partitioned by cell once and only probed cells
    // are read), so neither side needs to fit anywhere.
    def prep(df: DataFrame) =
      df.select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
        .as[(Long, Array[Long])]
        .mapPartitions { iter =>
          iter.map { case (id, e) =>
            require(e.length == dims, s"vector length ${e.length} != dims $dims")
            var cell = 0
            var b = 0
            while (b < cellBits) {
              if (e(b) > 0) cell |= 1 << b
              b += 1
            }
            (id, e, math.sqrt(Qv.dot(e, e).toDouble), cell)
          }
        }
    val c = prep(corpus).toDF("neighbor_id", "c_emb", "c_nrm", "cell")
    val probes = (cell: Column) =>
      array(cell +: (0 until cellBits).map(b => cell.bitwiseXOR(lit(1 << b))): _*)
    val q = prep(queries).toDF("query_id", "q_emb", "q_nrm", "cell0")
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        explode(probes(col("cell0"))).as("cell"))
    scorePairsTopK(q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_emb").as("qe"), col("q_nrm").as("qn"),
        col("neighbor_id"), col("c_emb").as("ce"), col("c_nrm").as("cn")), k)
  }

  /** IVF with a LEARNED coarse quantizer — k-means-lite over the corpus
    * replacing [[ivfTopK]]'s fixed sign grid, keeping its fully distributed
    * cell-join shape. Training is deterministic so an oracle can replay it
    * bit-for-bit: seeds = the `kCells` smallest corpus ids (cell = rank),
    * one Lloyd round (assign every vector to its nearest seed by quantized
    * cosine, rebuild each cell's centroid as the EXACT integer component
    * sum via [[VecSumAgg]] — the mean's /n cancels inside cosine, so no
    * float accumulates anywhere), then final assignment against the learned
    * centroids. Queries probe their `nprobe` nearest centroids; exact
    * cosine runs only inside probed cells. Ties (equal cosine) go to the
    * smallest cell id on both engines.
    *
    * Scale shape: the centroid table is kCells rows (collect + broadcast —
    * bounded by construction, like [[centroidAssign]]'s label contract);
    * the corpus only ever streams or shuffles on `cell`. Training costs two
    * extra corpus passes; at 100 TB train on a deterministic sample
    * (e.g. `id % m = 0`) and assign the full corpus — the assignment pass
    * is the same either way. Recall floor vs brute force is pinned by
    * SimilaritySpec alongside the sign-grid path's. */
  /** (cell, sums, norm) for a centroid set; cosine vs a vector uses the
    * same IEEE sequence as the oracle: dp / (sqrt(nn_v) * sqrt(nn_c)) */
  private def withNorm(c: Int, s: Array[Long]): (Int, Array[Long], Double) =
    (c, s, math.sqrt(Qv.dot(s, s).toDouble))

  /** Top-`take` cells by (cosine desc, cell asc) — insertion selection
    * over <= kCells candidates; cents must be sorted by cell id so the
    * strict-> comparisons resolve ties to the smallest cell. */
  private def nearestCells(e: Array[Long], nrm: Double,
      cents: Array[(Int, Array[Long], Double)], take: Int): Array[Int] = {
    val n = math.min(take, cents.length)
    val bestC = new Array[Int](n)
    val bestS = new Array[Double](n)
    java.util.Arrays.fill(bestS, Double.NegativeInfinity)
    var i = 0
    while (i < cents.length) {
      val (c, s, sn) = cents(i)
      val cos = Qv.dot(e, s).toDouble / (nrm * sn)
      var j = n - 1
      if (cos > bestS(j)) {
        while (j > 0 && cos > bestS(j - 1)) {
          bestS(j) = bestS(j - 1); bestC(j) = bestC(j - 1); j -= 1
        }
        bestS(j) = cos; bestC(j) = c
      }
      i += 1
    }
    bestC.take(n)
  }

  /** The IVF cell-count operating point: kCells = min(⌊√N⌋, 65536) over
    * the TRAINING corpus — √N balances the per-query centroid scan
    * (kCells) against the candidate scan (nprobe·N/kCells), keeping
    * per-query work O(√N) instead of O(N); the cap bounds the broadcast
    * centroid table (65536 × 64 longs ≈ 34 MB) and only binds past
    * N ≈ 4.3e9 training vectors, where a trainMod sample is the operating
    * mode anyway. Exactness: N→double is exact below 2^53 and IEEE
    * sqrt/floor are correctly rounded, so a SQL oracle derives the
    * IDENTICAL count via least(floor(sqrt(count(*))), 65536). */
  private def deriveKCells(n: Long, nprobe: Int): Int = {
    val kc = math.min(65536L, math.floor(math.sqrt(n.toDouble)).toLong)
    require(kc >= nprobe,
      s"derived kCells=$kc < nprobe=$nprobe — training corpus too small " +
        "for auto-sizing, pass kCells explicitly")
    kc.toInt
  }

  /** Deterministic k-means-lite coarse-quantizer training (the shared core
    * of [[ivfLearnedTopK]] and [[ivfPqTopK]]): seeds = the `kCells`
    * smallest corpus ids (cell = rank), one Lloyd round (assign by
    * quantized cosine, rebuild each cell's centroid as the EXACT integer
    * component sum via [[VecSumAgg]] — the mean's /n cancels inside
    * cosine). Returns (cell, sums, norm) sorted by cell id. */
  private def trainCellCentroids(
      corpusQ: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      kCells: Int, dims: Int): Array[(Int, Array[Long], Double)] = {
    val spark = corpusQ.sparkSession
    import spark.implicits._
    // deterministic seeds: the kCells smallest corpus ids, cell = rank
    val seeds = corpusQ.orderBy(col("id")).limit(kCells).collect().sortBy(_._1)
      .zipWithIndex.map { case ((_, e), c) => withNorm(c, e) }
    val bseed = spark.sparkContext.broadcast(seeds)
    // one Lloyd round: assign to seeds, rebuild centroids as exact sums
    val vecsum = udaf(VecSumAgg)
    val assigned = corpusQ.mapPartitions { iter =>
      val cs = bseed.value
      iter.map { case (_, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        val nrm = math.sqrt(Qv.dot(e, e).toDouble)
        (nearestCells(e, nrm, cs, 1)(0), e)
      }
    }.toDF("cell", "q")
    assigned.groupBy("cell").agg(vecsum(col("q")).as("s"))
      .as[(Int, Array[Long])].collect().sortBy(_._1)
      .map { case (c, s) => withNorm(c, s) }
  }

  def ivfLearnedTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, kCells: Int = 0, nprobe: Int = 4, dims: Int = 64,
      trainMod: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(kCells >= 0 && nprobe >= 1 && (kCells == 0 || nprobe <= kCells),
      s"bad IVF geometry: kCells=$kCells nprobe=$nprobe")
    require(trainMod >= 1, s"trainMod must be >= 1, got $trainMod")

    def qz(df: DataFrame) = df
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
    // the 100 TB path the scaladoc names: train the coarse quantizer on a
    // deterministic id-sample (1/trainMod of the corpus — seeds AND the
    // Lloyd round), then assign the FULL corpus against the learned
    // centroids. Training passes cost 1/trainMod of the data; the
    // assignment pass is identical either way. Deterministic: the sample
    // is a pure id predicate, not random.
    val corpusQ = qz(if (trainMod == 1) corpus
      else corpus.filter(col(idCol).cast("long") % trainMod === 0))

    // kCells = 0 → auto-size to the √N operating point over the training
    // corpus; the count is one scan of the (sampled) id column
    val kc = if (kCells > 0) kCells else deriveKCells(corpusQ.count(), nprobe)
    val cents = trainCellCentroids(corpusQ, kc, dims)
    val bcent = spark.sparkContext.broadcast(cents)

    // final assignment (corpus: own cell; queries: nprobe nearest cells)
    def prep(df: DataFrame, take: Int) = qz(df).mapPartitions { iter =>
      val cs = bcent.value
      iter.map { case (id, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        val nrm = math.sqrt(Qv.dot(e, e).toDouble)
        (id, e, nrm, nearestCells(e, nrm, cs, take))
      }
    }
    val c = prep(corpus, 1)
      .map { case (id, e, nrm, cells) => (id, e, nrm, cells(0)) }
      .toDF("neighbor_id", "c_emb", "c_nrm", "cell")
    val q = prep(queries, nprobe).toDF("query_id", "q_emb", "q_nrm", "cells")
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        explode(col("cells")).as("cell"))
    scorePairsTopK(q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("q_emb").as("qe"), col("q_nrm").as("qn"),
        col("neighbor_id"), col("c_emb").as("ce"), col("c_nrm").as("cn")), k)
  }

  /** Product-quantization ANN (PQ/ADC) — the COMPRESSED-SCAN scale path,
    * complementary to [[lshTopK]] (bucketed candidates) and
    * [[ivfLearnedTopK]] (partitioned candidates): every corpus vector is
    * encoded as `m` small codebook indices (here 8 codes ≈ 8 bytes vs 256+
    * bytes of raw floats, a 32× scan-size reduction), queries score the
    * ENTIRE code table through a per-query lookup table (ADC — asymmetric
    * distance computation), and only the top-`rerank` candidates per query
    * are re-scored exactly. At 100 TB the code table is what an exhaustive
    * scan reads — memory-bandwidth-bound instead of capacity-bound — and
    * the same codes compose with IVF cells (IVFADC) by restricting the scan
    * to probed cells.
    *
    * Codebooks are trained per subspace with the same deterministic
    * k-means-lite as [[ivfLearnedTopK]] (seeds = the `ksub` smallest corpus
    * ids' subvectors, one Lloyd round) and then INTEGER-quantized
    * (`floor(sum/n + 0.5)`, empty cluster keeps its seed), so every
    * downstream quantity — subspace squared-L2 distances, ADC sums — is an
    * exact integer: reduction order cannot change candidates, and a DuckDB
    * oracle replays training, encoding, and ADC bit-for-bit. Candidate rank
    * ties break on the smaller neighbor id; the exact re-rank emits the
    * oracle-pinned quantized cosine through [[scorePairsTopK]].
    *
    * Scale shape: the codebook is `m × ksub` rows (collected + broadcast —
    * bounded by construction); the corpus streams through one encode pass
    * and its code table never shuffles for scoring. Query batches within
    * `broadcastCap` broadcast their LUTs and scan the code table
    * partition-wise (the PQ-native shape); a batch past the cap falls back
    * to the fully distributed (s, c) equi-join tail — identical integer ADC
    * sums, hence identical results, nothing collected (equivalence is
    * spec-pinned via a small-cap override, like [[lshTopKOnIndex]]). */
  /** Exact integer squared L2 between the subvector of `e` at `off` and
    * codeword `w` — the quantity the PQ oracles recompute relationally. */
  private def subDist(e: Array[Long], off: Int, w: Array[Long]): Long = {
    var d = 0L
    var j = 0
    while (j < w.length) { val t = e(off + j) - w(j); d += t * t; j += 1 }
    d
  }

  /** Nearest codeword by (d2 asc, code asc): strict < keeps the smallest
    * code. */
  private def nearestCode(e: Array[Long], off: Int, cb: Array[Array[Long]]): Int = {
    var bi = 0
    var best = Long.MaxValue
    var c = 0
    while (c < cb.length) {
      val d = subDist(e, off, cb(c))
      if (d < best) { best = d; bi = c }
      c += 1
    }
    bi
  }

  /** Deterministic per-subspace PQ codebook training (the shared core of
    * [[pqTopK]] and [[ivfPqTopK]]): seeds = subvectors of the `ksub`
    * smallest corpus ids, one Lloyd round by exact integer L2, codewords
    * rebuilt as INTEGER-rounded component means (`floor(sum/n + 0.5)`,
    * exact sums via [[VecSumAgg]]; empty clusters keep their seed). A
    * corpus smaller than ksub just gets a smaller codebook — every later
    * structure sizes off the returned inner length, so a tiny corpus
    * cannot index past the seed count. Returns cb(s)(c) = codeword. */
  private def trainPqCodebook(
      corpusQ: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      m: Int, ksub: Int, dims: Int): Array[Array[Array[Long]]] = {
    val spark = corpusQ.sparkSession
    import spark.implicits._
    val dsub = dims / m
    val seeds = corpusQ.orderBy(col("id")).limit(ksub).collect().sortBy(_._1)
    require(seeds.nonEmpty, "PQ training corpus is empty")
    seeds.foreach { case (_, e) =>
      require(e.length == dims, s"seed vector length ${e.length} != dims $dims")
    }
    val cb0: Array[Array[Array[Long]]] =
      Array.tabulate(m)(s => seeds.map { case (_, e) => e.slice(s * dsub, s * dsub + dsub) })
    val bcb0 = spark.sparkContext.broadcast(cb0)
    // one Lloyd round per subspace: assign every subvector to its nearest
    // seed codeword, rebuild codewords as integer-rounded component means
    // (m × ksub rows collect — bounded by construction)
    val vecsum = udaf(VecSumAgg)
    val subSums = corpusQ.mapPartitions { iter =>
      val cb = bcb0.value
      iter.flatMap { case (_, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        (0 until m).iterator.map { s =>
          (s, nearestCode(e, s * dsub, cb(s)), e.slice(s * dsub, s * dsub + dsub))
        }
      }
    }.toDF("s", "c", "v")
      .groupBy("s", "c")
      .agg(vecsum(col("v")).as("sums"), count(lit(1)).as("n"))
      .as[(Int, Int, Array[Long], Long)].collect()
    val cb1: Array[Array[Array[Long]]] = cb0.map(_.map(_.clone()))
    subSums.foreach { case (s, c, sx, n) =>
      cb1(s)(c) = sx.map(x => math.floor(x.toDouble / n + 0.5).toLong)
    }
    cb1
  }

  def pqTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, m: Int = 8, ksub: Int = 16, rerank: Int = 50, dims: Int = 64,
      broadcastCap: Int = MaxBroadcastRows): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(m >= 1 && dims % m == 0, s"dims=$dims not divisible into m=$m subspaces")
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val dsub = dims / m

    def qz(df: DataFrame) = df
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]

    val cb1 = trainPqCodebook(qz(corpus), m, ksub, dims)
    val kEff = cb1(0).length
    val bcb = spark.sparkContext.broadcast(cb1)

    // PQ-encode the corpus: one kernel pass -> (id, e, nrm, codes). Two
    // consumers (ADC scan + exact re-rank re-attach) -> tracked persist.
    val encoded = Caches.persist(qz(corpus).mapPartitions { iter =>
      val cb = bcb.value
      iter.map { case (id, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) { codes(s) = nearestCode(e, s * dsub, cb(s)); s += 1 }
        (id, e, math.sqrt(Qv.dot(e, e).toDouble), codes)
      }
    }.toDF("id", "e", "nrm", "codes"))

    val qRows = qz(queries).limit(broadcastCap + 1).collect()
    val distributed = qRows.length > broadcastCap
    val qNormRaw = qz(queries).mapPartitions { iter =>
      iter.map { case (id, e) =>
        require(e.length == dims, s"query vector length ${e.length} != dims $dims")
        (id, e, math.sqrt(Qv.dot(e, e).toDouble))
      }
    }.toDF("id", "e", "nrm")
    // distributed tail: two consumers (LUT emission + re-rank re-attach)
    val qNorm = if (distributed) Caches.persist(qNormRaw) else qNormRaw

    val approx: DataFrame =
      if (distributed) {
        // fully distributed ADC: per-query LUT rows equi-join the exploded
        // code table on (s, c); the m per-pair rows sum to the exact same
        // integer ADC distance as the broadcast kernel
        val lutDf = qNorm.as[(Long, Array[Long], Double)].mapPartitions { iter =>
          val cb = bcb.value
          iter.flatMap { case (id, e, _) =>
            for { s <- (0 until m).iterator; c <- (0 until kEff).iterator }
              yield (id, s, c, subDist(e, s * dsub, cb(s)(c)))
          }
        }.toDF("query_id", "s", "c", "d2")
        val codeRows = encoded.select(col("id").as("neighbor_id"),
          posexplode(col("codes")).as(Seq("s", "c")))
        lutDf.join(codeRows, Seq("s", "c"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .groupBy("query_id", "neighbor_id")
          .agg(sum("d2").as("approx_d2"))
      } else {
        // PQ-native shape: broadcast per-query LUTs, scan the code table
        // partition-wise — m array lookups + adds per (query, vector)
        val qArr = qRows.sortBy(_._1).map { case (id, e) =>
          require(e.length == dims, s"query vector length ${e.length} != dims $dims")
          (id, Array.tabulate(m, kEff)((s, c) => subDist(e, s * dsub, cb1(s)(c))))
        }
        val bq = spark.sparkContext.broadcast(qArr)
        encoded.select("id", "codes").as[(Long, Array[Int])].mapPartitions { iter =>
          val qs = bq.value
          iter.flatMap { case (nid, codes) =>
            qs.iterator.filter(_._1 != nid).map { case (qid, lut) =>
              var a = 0L
              var s = 0
              while (s < m) { a += lut(s)(codes(s)); s += 1 }
              (qid, nid, a)
            }
          }
        }.toDF("query_id", "neighbor_id", "approx_d2")
      }

    val wc = Window.partitionBy("query_id")
      .orderBy(col("approx_d2"), col("neighbor_id"))
    val cand = approx.withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= rerank)
      .select("query_id", "neighbor_id")
    scorePairsTopK(cand
      .join(qNorm.select(col("id").as("query_id"), col("e").as("qe"), col("nrm").as("qn")),
        "query_id")
      .join(encoded.select(col("id").as("neighbor_id"), col("e").as("ce"), col("nrm").as("cn")),
        "neighbor_id"), k)
  }

  /** IVFADC — the composition of [[ivfLearnedTopK]]'s learned cells and
    * [[pqTopK]]'s codes, and the shape production ANN engines run at
    * extreme scale: the coarse quantizer bounds WHICH vectors are touched
    * (each query reads only its `nprobe` probed cells) and PQ bounds WHAT
    * touching costs (each candidate is scored from `m` code bytes via the
    * query's lookup table, not from raw floats). Both quantizers train with
    * the shared deterministic k-means-lite helpers, every scored quantity
    * is an exact integer, and only the final re-rank cosine divides — so
    * the registered oracle replays BOTH trainings, both assignments, and
    * the cell-restricted ADC scan relationally, and the data-dependent
    * candidate sets hash-match.
    *
    * Scale shape: centroid table (kCells) and codebook (m × ksub) are
    * bounded-by-construction broadcasts; the corpus pays ONE encode pass
    * and its (cell, codes) table never shuffles for scoring (at 100 TB:
    * write it partitioned by cell once; a query batch reads only probed
    * cells' code blocks). The query batch broadcasts probes + LUTs within
    * `broadcastCap`; PAST the cap the method switches to the fully
    * distributed composition — the ls3-style cell equi-join for
    * candidates followed by pqTopK's (query, s, c) LUT equi-join for
    * scoring — which computes the identical integer ADC sums, so both
    * paths satisfy the one oracle (ls15 registers the distributed path
    * against ls7's oracle; SimilaritySpec pins path equality).
    *
    * Sizing: per-query scan cost is ~`nprobe/kCells` of the corpus, so
    * `kCells` must GROW with the corpus — the default (kCells = 0) now
    * auto-sizes to the √N operating point via [[deriveKCells]], and the
    * registered ls3/ls7 queries use it, with their oracles deriving the
    * IDENTICAL count relationally (least(floor(sqrt(count(*))), cap)),
    * so the auto-sizing itself is oracle-pinned and the scaling bench
    * measures the O(√N)-per-query regime, not a fixed-kCells one. */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, kCells: Int = 0, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      rerank: Int = 50, dims: Int = 64,
      broadcastCap: Int = MaxBroadcastRows): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(kCells >= 0 && nprobe >= 1 && (kCells == 0 || nprobe <= kCells),
      s"bad IVF geometry: kCells=$kCells nprobe=$nprobe")
    require(m >= 1 && dims % m == 0, s"dims=$dims not divisible into m=$m subspaces")
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val dsub = dims / m

    def qz(df: DataFrame) = df
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
    val corpusQ = qz(corpus)
    // kCells = 0 → auto-size to the √N operating point (see deriveKCells)
    val kc = if (kCells > 0) kCells else deriveKCells(corpusQ.count(), nprobe)
    val cents = trainCellCentroids(corpusQ, kc, dims)
    val bcent = spark.sparkContext.broadcast(cents)
    val cb = trainPqCodebook(corpusQ, m, ksub, dims)
    val kEff = cb(0).length
    val bcb = spark.sparkContext.broadcast(cb)

    // encode the corpus: ONE kernel pass -> (id, e, nrm, cell, codes); two
    // consumers (ADC scan + exact re-rank re-attach) -> tracked persist
    val encoded = Caches.persist(qz(corpus).mapPartitions { iter =>
      val cs = bcent.value
      val cbv = bcb.value
      iter.map { case (id, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        val nrm = math.sqrt(Qv.dot(e, e).toDouble)
        val cell = nearestCells(e, nrm, cs, 1)(0)
        val codes = new Array[Int](m)
        var s = 0
        while (s < m) { codes(s) = nearestCode(e, s * dsub, cbv(s)); s += 1 }
        (id, e, nrm, cell, codes)
      }
    }.toDF("id", "e", "nrm", "cell", "codes"))

    val qRows = qz(queries).limit(broadcastCap + 1).collect()
    val distributed = qRows.length > broadcastCap
    // one kernel pass per query: probed cells + norm; three consumers in
    // the distributed tail (probe explode, LUT emission, re-rank
    // re-attach) -> tracked persist there
    val qPrepRaw = qz(queries).mapPartitions { iter =>
      val cs = bcent.value
      iter.map { case (id, e) =>
        require(e.length == dims, s"query vector length ${e.length} != dims $dims")
        val nrm = math.sqrt(Qv.dot(e, e).toDouble)
        (id, e, nrm, nearestCells(e, nrm, cs, nprobe))
      }
    }.toDF("id", "e", "nrm", "cells")
    val qPrep = if (distributed) Caches.persist(qPrepRaw) else qPrepRaw

    val approx: DataFrame =
      if (distributed) {
        // fully distributed IVFADC — the composition the broadcast path's
        // scaladoc names: candidates from the ls3-style cell equi-join
        // (queries explode their nprobe probes, the corpus never leaves
        // its cell partitioning), scored by pqTopK's past-cap
        // (query, s, c) LUT equi-join — the m per-pair rows sum to the
        // exact same integer ADC distance as the broadcast kernel, so
        // both paths (and the one oracle) agree bit-for-bit
        val probes = qPrep.select(col("id").as("query_id"),
          explode(col("cells")).as("cell"))
        val cand0 = probes.join(
            encoded.select(col("id").as("neighbor_id"), col("cell"), col("codes")),
            Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            posexplode(col("codes")).as(Seq("s", "c")))
        val lutDf = qPrep.select("id", "e").as[(Long, Array[Long])]
          .mapPartitions { iter =>
            val cbv = bcb.value
            iter.flatMap { case (id, e) =>
              for { s <- (0 until m).iterator; c <- (0 until kEff).iterator }
                yield (id, s, c, subDist(e, s * dsub, cbv(s)(c)))
            }
          }.toDF("query_id", "s", "c", "d2")
        cand0.join(lutDf, Seq("query_id", "s", "c"))
          .groupBy("query_id", "neighbor_id")
          .agg(sum("d2").as("approx_d2"))
      } else {
        // per query: nprobe probed cells + the m × kEff integer ADC LUT
        val qArr = qRows.sortBy(_._1).map { case (id, e) =>
          require(e.length == dims, s"query vector length ${e.length} != dims $dims")
          val nrm = math.sqrt(Qv.dot(e, e).toDouble)
          (id, nearestCells(e, nrm, cents, nprobe),
            Array.tabulate(m, kEff)((s, c) => subDist(e, s * dsub, cb(s)(c))))
        }
        val bq = spark.sparkContext.broadcast(qArr)
        encoded.select("id", "cell", "codes")
          .as[(Long, Int, Array[Int])]
          .mapPartitions { iter =>
            val qs = bq.value
            // inverted probe map (cell -> query positions), built once per
            // partition; a corpus row is scored only by queries probing its
            // cell, and at most once per pair (each row has exactly one cell)
            val inv = new java.util.HashMap[Int, Array[Int]]()
            qs.indices.flatMap(i => qs(i)._2.map(c => (c, i))).groupBy(_._1)
              .foreach { case (c, xs) => inv.put(c, xs.map(_._2).toArray) }
            iter.flatMap { case (nid, cell, codes) =>
              val hits = inv.get(cell)
              if (hits == null) Iterator.empty
              else hits.iterator.filter(qi => qs(qi)._1 != nid).map { qi =>
                val lut = qs(qi)._3
                var a = 0L
                var s = 0
                while (s < m) { a += lut(s)(codes(s)); s += 1 }
                (qs(qi)._1, nid, a)
              }
            }
          }.toDF("query_id", "neighbor_id", "approx_d2")
      }

    val wc = Window.partitionBy("query_id")
      .orderBy(col("approx_d2"), col("neighbor_id"))
    val cand = approx.withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= rerank)
      .select("query_id", "neighbor_id")
    scorePairsTopK(cand
      .join(qPrep.select(col("id").as("query_id"), col("e").as("qe"), col("nrm").as("qn")),
        "query_id")
      .join(encoded.select(col("id").as("neighbor_id"), col("e").as("ce"), col("nrm").as("cn")),
        "neighbor_id"), k)
  }

  /** Sub-quadratic embedding near-dup — the scale path [[embeddingNearDups]]
    * documents: candidates are pairs sharing >= 1 LSH bucket code
    * (symmetric id-only bucket self-join, never all-pairs), then exact
    * quantized cosine confirms. Both sides of the self-join are the same
    * kernel-prepped index (one pass, persisted), candidate rows carry ids
    * only, and embeddings re-attach by key for scoring — the fully
    * distributed shape: nothing broadcasts, nothing collects, shuffles are
    * (tbl, code) then id. Recall follows the same 1-(1-p^bits)^tables
    * geometry as [[lshTopKOnIndex]].
    *
    * Size `bits` to the threshold: random-pair candidate rate is
    * ~1-(1-2^-bits)^tables. At near-dup-grade thresholds (cos >= ~0.8,
    * where per-plane agreement p >= ~0.8) use bits 8-16 — candidate rate
    * falls geometrically while true near-dups keep p^bits high; the
    * registered `ld7` query ships 16 tables × 10 bits (invDensity 4):
    * ~2% of random pairs admitted, planted cos≈0.97 twins recalled at
    * ~100% (both pinned by SimilaritySpec). The permissive 16×4 default
    * serves only BORDERLINE thresholds (cos barely above random, e.g.
    * 0.45 on a centered corpus) where no geometry is selective — there
    * the per-plane agreement gap vs random pairs (~0.65 vs 0.5) is too
    * small for any (bits, tables) to separate, and recall has to be
    * bought with candidate volume.
    * Output: d1 < d2, cosine >= minCos. */
  /** LSH bucket-count scale knob: bits = clamp(⌊log2(N/32)⌋, 4, 20), i.e.
    * one more bucket bit per corpus doubling so the EXPECTED BUCKET SIZE
    * stays ~32-64 regardless of N. With fixed bits, buckets grow linearly
    * with the corpus and within-bucket candidate pairs grow QUADRATICALLY
    * — the r7 ×100 run measured ld7 at 337×/decade exactly from this.
    * Derived-bits candidates stay ~tables·bucketSize·N/2, linear. Adding
    * bits never perturbs existing planes (a plane's geometry is keyed by
    * (table, plane), not by the total bit count), so the oracle derives
    * the identical count relationally and sums the first `bits` of a
    * fixed 20-plane family. Recall stays high for the near-dup regime:
    * per-table collision at cos≈0.97 is ~0.92^bits, so even at the
    * 20-bit cap a pair misses all 16 tables with prob < 1%. Floor-log2
    * spelled as 63 − nlz == length(bin(x)) − 1 on both engines. */
  private[graft] def deriveLshBits(n: Long): Int = {
    val x = math.max(n / 32L, 1L)
    val fl = 63 - java.lang.Long.numberOfLeadingZeros(x)
    math.min(20, math.max(4, fl))
  }

  def lshNearDups(
      vecs: DataFrame, idCol: String, embCol: String, minCos: Double,
      tables: Int = 16, bits: Int = 0, dims: Int = 64,
      invDensity: Int = 8): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(bits >= 0, s"bits must be >= 0 (0 = derive), got $bits")
    // bits = 0 → the log2(N/32) operating point (see deriveLshBits)
    val b = if (bits > 0) bits else deriveLshBits(vecs.count())
    // internal index, persisted for its two consumers (bucket explode +
    // scoring re-attach); released via Caches.release() after the
    // consuming action
    val prep = Caches.persist(
      lshPrep(vecs, idCol, embCol, tables, b, dims, invDensity))
    // (table, code) packed into one long bucket key — same group-local
    // confirm as the cell-blocking geometries: members ship once per
    // bucket (tables·N rows), only confirmed pairs ever shuffle
    val members = prep.select(col("id"), col("e"), col("nrm"),
        posexplode(col("codes")).as(Seq("tbl", "code")))
      .select(col("id"), col("e"), col("nrm"),
        (col("tbl").cast("long") * lit(4294967296L) + col("code")).as("cell"))
    groupLocalConfirm(members, minCos)
  }

  /** SemDeDup-style CELL-blocked embedding near-dup pairs: cluster the
    * corpus with the same deterministic k-means-lite coarse quantizer as
    * [[ivfLearnedTopK]], assign every vector its `nprobe` nearest cells
    * (probing >1 cell is the standard fix for twins split by a cell
    * boundary), and confirm exact cosine only within shared cells. The
    * third candidate-generation geometry beside [[lshNearDups]]' random
    * hyperplanes and [[embeddingNearDups]]' all-pairs: when an embedding
    * CLUSTERING already exists (or is wanted anyway for curation), cell
    * blocking reuses it and the candidate join inherits the cells'
    * balance. Scale shape: centroid table is O(kCells) (broadcast), the
    * candidate self-join shuffles on the cell key only, nothing is
    * collected. Output: d1 < d2, cosine >= minCos. */
  def cellBlockedNearDups(
      vecs: DataFrame, idCol: String, embCol: String, minCos: Double,
      kCells: Int = 0, nprobe: Int = 2, dims: Int = 64): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(kCells >= 0 && nprobe >= 1 && (kCells == 0 || nprobe <= kCells),
      s"bad cell geometry: kCells=$kCells nprobe=$nprobe")
    val corpusQ = vecs
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
    // kCells = 0 → the √N operating point. For PAIR blocking this is not
    // just a latency knob but the memory-safety one: with fixed kCells a
    // 100× corpus makes cells 100× larger and within-cell candidate pairs
    // 10,000× more numerous (the r7 ×100 run OOMed exactly here); with
    // kCells ≈ √N a cell holds ~√N vectors and total candidates stay
    // ~nprobe²·N — linear in the corpus.
    val kc = if (kCells > 0) kCells else deriveKCells(corpusQ.count(), nprobe)
    val bcent = spark.sparkContext.broadcast(
      trainCellCentroids(corpusQ, kc, dims))
    // persisted for its two consumers (cell explode + scoring re-attach),
    // released via Caches after the consuming action — same discipline as
    // lshNearDups' index
    val prep = Caches.persist(corpusQ.mapPartitions { iter =>
      val cs = bcent.value
      iter.map { case (id, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        val nrm = math.sqrt(Qv.dot(e, e).toDouble)
        (id, e, nrm, nearestCells(e, nrm, cs, nprobe))
      }
    }.toDF("id", "e", "nrm", "cells"))
    val members = prep
      .select(col("id"), col("e"), col("nrm"),
        explode(col("cells")).as("c"))
      .select(col("id"), col("e"), col("nrm"), col("c").cast("long").as("cell"))
    groupLocalConfirm(members, minCos)
  }

  /** SEMANTIC eval-set decontamination: eval vectors whose embedding sits
    * within `minCos` of ANY train vector — the embedding-space
    * complement of lt10's shingle contamination (a paraphrased eval item
    * shares no 3-grams with its training source, but its embedding stays
    * close; conversely exact duplicates can never cross a content-hash
    * split, so BOTH detectors target leaks the split cannot prevent).
    *
    * Blocking is [[cellBlockedNearDups]]' geometry verbatim — one √N
    * k-means-lite quantizer trained over the UNION of both splits (the
    * oracle replays it), nprobe cells per vector — but the within-cell
    * confirm loops eval × train only: no train-train or eval-eval dots,
    * and only CONFIRMED cross pairs ever shuffle (the group-local confirm
    * discipline). Rollup is one eval-keyed window over the confirmed-hit
    * table (tiny at a contamination threshold).
    *
    * `sideCol`: 0 = train, 1 = eval (rows with other values are dropped —
    * callers pass a held-out/val stratum as neither). Output: one row per
    * CONTAMINATED eval vector — (eval_id, n_hits, top_train, top_cos),
    * top = highest cosine, ties to the smallest train id. */
  def cellBlockedContamination(
      vecs: DataFrame, idCol: String, embCol: String, sideCol: String,
      minCos: Double, kCells: Int = 0, nprobe: Int = 2, dims: Int = 64): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(kCells >= 0 && nprobe >= 1 && (kCells == 0 || nprobe <= kCells),
      s"bad cell geometry: kCells=$kCells nprobe=$nprobe")
    // persisted for its three consumers (count, centroid training, member
    // explode); released via Caches after the consuming action
    val qdf = Caches.persist(vecs
      .select(col(idCol).cast("long").as("id"), col(sideCol).cast("int").as("side"),
        quantize(col(embCol)).as("e"))
      .where(col("side").isin(0, 1)))
    val corpusQ = qdf.as[(Long, Int, Array[Long])]
    val kc = if (kCells > 0) kCells
      else deriveKCells(corpusQ.count(), nprobe)
    val bcent = spark.sparkContext.broadcast(
      trainCellCentroids(qdf.select(col("id"), col("e")).as[(Long, Array[Long])], kc, dims))
    val members = corpusQ.mapPartitions { iter =>
      val cs = bcent.value
      iter.flatMap { case (id, side, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        val nrm = math.sqrt(Qv.dot(e, e).toDouble)
        nearestCells(e, nrm, cs, nprobe).map(c => (c.toLong, id, side, e, nrm))
      }
    }
    val hits = members
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val arr = it.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < arr.length) {
          val (_, evId, sideI, e1, n1) = arr(i)
          if (sideI == 1) {
            var j = 0
            while (j < arr.length) {
              val (_, trId, sideJ, e2, n2) = arr(j)
              if (sideJ == 0) {
                val cos = Qv.dot(e1, e2).toDouble / (n1 * n2)
                if (cos >= minCos) out += ((evId, trId, cos))
              }
              j += 1
            }
          }
          i += 1
        }
        out.iterator
      }
      .toDF("eval_id", "train_id", "cosine")
    contamRollup(hits)
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval mode where
    * MAGNITUDE matters (recommender scores, unnormalized rerankers,
    * learned importance embeddings): rank by q·x, not cos(q, x). Cosine
    * indexes cannot serve it directly, so this runs the classic
    * norm-augmentation reduction (Bachrach et al. 2014, FAISS's MIPS
    * mode): append one component sqrt(M² − ||x||²) to every CORPUS
    * vector (M = max corpus norm) — all augmented vectors then share
    * ~norm M, so nearest-by-angle ≈ largest-inner-product — and append 0
    * to queries (here: probe with the raw vector; a missing component
    * contributes nothing to any dot). The EXISTING deterministic IVF
    * machinery then blocks the search unchanged: √N cells trained on the
    * augmented corpus, nprobe cells per query, and the final ranking is
    * the EXACT INTEGER inner product of the original quantized vectors —
    * the output carries no float at all, so the oracle replays
    * augmentation, training, probing, and ranking bit-for-bit.
    *
    * The augmentation component is floor(sqrt(M² − nn)) — one IEEE sqrt
    * over exact integers then floor, identical cross-engine; the floor's
    * sub-unit norm slack only perturbs the candidate BLOCKING (which the
    * oracle replays anyway), never the exact re-rank.
    *
    * Output: (query_id, neighbor_id, dp, rank) — top `k` by (dp desc,
    * neighbor_id), self-pairs excluded. */
  def mipsTopK(
      queries: DataFrame, corpus: DataFrame, idCol: String, embCol: String,
      k: Int, kCells: Int = 0, nprobe: Int = 4, dims: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(kCells >= 0 && nprobe >= 1 && (kCells == 0 || nprobe <= kCells),
      s"bad IVF geometry: kCells=$kCells nprobe=$nprobe")
    // quantized corpus + integer squared norms (consumers: max-norm agg,
    // augmentation, count) — released by the harness after the action
    val cq = Caches.persist(corpus
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .withColumn("nn", qdot(col("e"), col("e"))))
    val m2 = cq.agg(max(col("nn")).as("m2"))
    val augDs = Caches.persist(cq.crossJoin(broadcast(m2))
      .select(col("id"), col("e"),
        concat(col("e"), array(
          floor(sqrt((col("m2") - col("nn")).cast("double"))).cast("long"))).as("qa")))
    val kc = if (kCells > 0) kCells else deriveKCells(cq.count(), nprobe)
    val cents = trainCellCentroids(
      augDs.select(col("id"), col("qa")).as[(Long, Array[Long])], kc, dims + 1)
    val bcent = spark.sparkContext.broadcast(cents)
    // corpus: own cell by the AUGMENTED vector; carry the original for
    // the exact re-rank
    val c = augDs.select(col("id"), col("e"), col("qa"))
      .as[(Long, Array[Long], Array[Long])]
      .mapPartitions { iter =>
        val cs = bcent.value
        iter.map { case (id, e, qa) =>
          val nrm = math.sqrt(Qv.dot(qa, qa).toDouble)
          (id, e, nearestCells(qa, nrm, cs, 1)(0))
        }
      }.toDF("neighbor_id", "ce", "cell")
    // queries probe with the ORIGINAL vector — Qv.dot iterates the probe's
    // length, so the centroids' augmentation component never contributes
    // (the append-0 query side of the reduction)
    val q = queries
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
      .mapPartitions { iter =>
        val cs = bcent.value
        iter.flatMap { case (id, e) =>
          require(e.length == dims, s"vector length ${e.length} != dims $dims")
          val nrm = math.sqrt(Qv.dot(e, e).toDouble)
          nearestCells(e, nrm, cs, nprobe).map(cell => (id, e, cell))
        }
      }.toDF("query_id", "qe", "cell")
    // a corpus vector lives in exactly ONE cell and a query's probe cells
    // are distinct, so no candidate pair duplicates
    val w = Window.partitionBy("query_id")
      .orderBy(col("dp").desc, col("neighbor_id"))
    q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        qdot(col("qe"), col("ce")).as("dp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Shared contamination verdict rollup: confirmed (eval_id, train_id,
    * cosine) pair hits → one row per contaminated eval vector with its
    * hit count and top hit (highest cosine, ties to the smallest train
    * id). Duplicate pair rows (a pair confirming in several shared cells)
    * collapse first — identical dots make them identical rows. Shared by
    * the batch operator and [[graft.streaming.ContamStream]]'s
    * per-trigger reduction, so stream and batch verdicts are the same
    * code object (the ChainStream discipline). */
  def contamRollup(hits: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("eval_id")
    hits.distinct()
      .withColumn("n_hits", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("cosine").desc, col("train_id"))))
      .where(col("rn") === 1)
      .select(col("eval_id"), col("n_hits"),
        col("train_id").as("top_train"), col("cosine").as("top_cos"))
  }

  /** Frozen decontamination index over a STATIC train corpus: the
    * deployment artifact an eval stream probes. `cents` is the trained
    * √N coarse quantizer (bounded: <= 65536 cells); `members` holds each
    * train vector in its `nprobe` nearest cells — (cell, train_id, te,
    * tn), persisted by the builder because every probe trigger joins it. */
  final case class ContamIndex(
      cents: Array[(Int, Array[Long], Double)], members: DataFrame,
      nprobe: Int, dims: Int)

  /** Build a [[ContamIndex]] from the train split — [[cellBlockedNearDups]]'
    * quantizer geometry (√N cells by default, same training pass), with
    * membership exploded to nprobe cells per vector exactly as the batch
    * contamination operator blocks. One-time batch cost. */
  def buildContamIndex(
      train: DataFrame, idCol: String, embCol: String,
      kCells: Int = 0, nprobe: Int = 2, dims: Int = 64): ContamIndex = {
    val spark = train.sparkSession
    import spark.implicits._
    require(kCells >= 0 && nprobe >= 1 && (kCells == 0 || nprobe <= kCells),
      s"bad cell geometry: kCells=$kCells nprobe=$nprobe")
    val tq = Caches.persist(train
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e")))
      .as[(Long, Array[Long])]
    val kc = if (kCells > 0) kCells else deriveKCells(tq.count(), nprobe)
    val cents = trainCellCentroids(tq, kc, dims)
    val bcent = spark.sparkContext.broadcast(cents)
    val members = Caches.persist(tq.mapPartitions { iter =>
      val cs = bcent.value
      iter.flatMap { case (id, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        val nrm = math.sqrt(Qv.dot(e, e).toDouble)
        nearestCells(e, nrm, cs, nprobe).map(c => (c, id, e, nrm))
      }
    }.toDF("cell", "train_id", "te", "tn"))
    ContamIndex(cents, members, nprobe, dims)
  }

  /** Probe a [[ContamIndex]] with eval vectors: confirmed cross-side
    * pair hits (eval_id, train_id, cosine >= minCos). Works identically
    * on a batch frame and a STREAMING frame — cell assignment is
    * per-row scalar work against the broadcast centroids, the members
    * lookup is a stream-static equi-join on cell (STATELESS — no
    * watermark, no state store; a restart just reprocesses pending
    * files), and the confirm is one scalar integer-dot expression per
    * candidate. The candidate join carries vector payloads, which is the
    * groupLocalConfirm trap in BATCH land — here the probe side is one
    * micro-batch, so payload volume is bounded by trigger size ×
    * cell occupancy, the streaming regime this operator serves. Callers
    * roll verdicts up per trigger via [[contamRollup]]. */
  def probeContamination(
      evals: DataFrame, idCol: String, embCol: String,
      idx: ContamIndex, minCos: Double): DataFrame = {
    val spark = evals.sparkSession
    import spark.implicits._
    val bcent = spark.sparkContext.broadcast(idx.cents)
    val nprobe = idx.nprobe
    val dims = idx.dims
    val probes = evals
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
      .mapPartitions { iter =>
        val cs = bcent.value
        iter.flatMap { case (id, e) =>
          require(e.length == dims, s"vector length ${e.length} != dims $dims")
          val nrm = math.sqrt(Qv.dot(e, e).toDouble)
          nearestCells(e, nrm, cs, nprobe).map(c => (c, id, e, nrm))
        }
      }
      .toDF("cell", "eval_id", "qe", "en")
    probes.join(idx.members, Seq("cell"))
      .withColumn("cosine", qdot(col("qe"), col("te")).cast("double") /
        (col("en") * col("tn")))
      .where(col("cosine") >= minCos)
      .select("eval_id", "train_id", "cosine")
  }

  /** Shared confirm tail of the cell-blocking operators: ship each cell's
    * members ONCE — (id, vector, norm, cell), 4·nprobe·N rows total — and
    * run the within-cell all-pairs cosine as a raw JVM loop per cell, so
    * only CONFIRMED pairs (a tiny set at a near-dup threshold) ever hit a
    * shuffle. The previous shape materialized the candidate PAIR table and
    * joined both vectors onto every pair — per-pair payload ≈ 1 KB, which
    * at 1M distinct vectors meant hundreds of GB of shuffle for ~5·10^8
    * candidates (measured to exhaust a single box's shuffle disk; on a
    * cluster it's the dominant network cost). Group-local confirm does the
    * identical dot products with per-CELL payload instead — a ~(cell
    * occupancy)× traffic cut. Memory per task = occupancy × ~530 B,
    * bounded by the blocking geometry (√N or tree cells), and a skewed
    * cell is one fat task of occ²/2 integer dots, not a shuffle blowup.
    * A pair sharing several probed cells confirms identically in each
    * (same integer dot, same IEEE division), so the final distinct
    * collapses exact duplicates. */
  private def groupLocalConfirm(
      members: DataFrame, minCos: Double): DataFrame = {
    val spark = members.sparkSession
    import spark.implicits._
    members.select(col("cell"), col("id"), col("e"), col("nrm"))
      .as[(Long, Long, Array[Long], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val arr = it.toArray
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < arr.length) {
          val (_, d1, e1, n1) = arr(i)
          var j = i + 1
          while (j < arr.length) {
            val (_, d2, e2, n2) = arr(j)
            val cos = Qv.dot(e1, e2).toDouble / (n1 * n2)
            if (cos >= minCos)
              out += (if (d1 < d2) (d1, d2, cos) else (d2, d1, cos))
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("d1", "d2", "cosine")
      .distinct()
  }

  /** The hierarchical branching factor: k = min(2^⌈(⌊log2 N⌋+1+2)/3⌉, 256)
    * — a power of two derived from N's bit length, so a SQL oracle spells
    * the IDENTICAL value as least(1 << ((length(bin(n)) + 2) // 3), 256)
    * with no float in sight. k ≈ N^(1/3) keeps the two-level grid at
    * k² ≈ N^(2/3) cells of ~N^(1/3) vectors each; the 256 cap bounds the
    * broadcast L2 table at 65536 centroids (the deriveKCells budget) and
    * binds only past N ≈ 4M vectors, where a third level is the
    * documented follow-up. */
  private def deriveTreeK(n: Long): Int = {
    require(n >= 1, "deriveTreeK: empty training corpus")
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(n)
    math.min(256, 1 << ((bits + 2) / 3))
  }

  /** Two-level hierarchical SemDeDup blocking — the refinement
    * [[cellBlockedNearDups]]' O(N^1.5) analysis names: one flat √N grid
    * balances training (N·√N) against within-cell pairs (N^1.5/2), so the
    * TOTAL is O(N^1.5) no matter how the single knob turns. Splitting the
    * quantizer into two levels of k ≈ N^(1/3) cells each drops BOTH
    * sides: training/assignment scans k + k centroids per vector
    * (O(N^(4/3)) total) and the k² ≈ N^(2/3) composite cells hold ~N^(1/3)
    * vectors each, putting within-cell pairs at O(N^(4/3)) too.
    *
    * Construction (every data-dependent choice replayed relationally by
    * the oracle, so the pair sets hash-match): L1 = the k-means-lite
    * quantizer ([[trainCellCentroids]]: k smallest ids seed, one Lloyd
    * round over exact integer sums); within each L1 cell, L2 seeds are
    * that cell's k smallest members and one more Lloyd round rebuilds
    * them; vectors probe their nprobe nearest L1 cells and, within each,
    * the nprobe nearest L2 centroids — nprobe² composite buckets per
    * vector, so boundary-split twins still meet. Candidates only within
    * shared (L1, L2) buckets; exact quantized cosine confirms.
    *
    * Scale shape: both centroid tables broadcast (≤ 65536 entries by the
    * k cap); the corpus never joins anything larger than its own bucket
    * explosion (nprobe² rows per vector), and the L2 seed election is one
    * window over the L1-keyed exchange. */
  def treeBlockedNearDups(
      vecs: DataFrame, idCol: String, embCol: String, minCos: Double,
      nprobe: Int = 2, dims: Int = 64, kTree: Int = 0): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(nprobe >= 1, s"treeBlockedNearDups: bad nprobe=$nprobe")
    val corpusQ = vecs
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
    val k = if (kTree > 0) kTree else deriveTreeK(corpusQ.count())
    val cents1 = trainCellCentroids(corpusQ, k, dims)
    val bc1 = spark.sparkContext.broadcast(cents1)
    // one pass attaches norm + home L1 cell; persisted for its four
    // consumers (L2 seed election, L2 training, final probing, scoring)
    val prep = Caches.persist(corpusQ.mapPartitions { iter =>
      val cs = bc1.value
      iter.map { case (id, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        val nrm = math.sqrt(Qv.dot(e, e).toDouble)
        (id, e, nrm, nearestCells(e, nrm, cs, 1)(0))
      }
    }.toDF("id", "e", "nrm", "c1"))
    // L2 seeds: each L1 cell's k smallest members (rank = sub-cell id) —
    // one window on the L1-keyed exchange, then a bounded collect
    // (≤ k² ≤ 65536 rows by the deriveTreeK cap)
    val seedRows = prep
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("c1").orderBy("id")))
      .filter(col("rn") <= k)
      .select(col("c1"), (col("rn") - 1).cast("int").as("c2"), col("e"))
      .as[(Int, Int, Array[Long])].collect()
    val seedMap = seedRows.groupBy(_._1).map { case (c1, rows) =>
      c1 -> rows.sortBy(_._2).map { case (_, c2, e) => withNorm(c2, e) }
    }
    val bseed2 = spark.sparkContext.broadcast(seedMap)
    // one L2 Lloyd round: assign within the HOME L1 cell, rebuild each
    // (c1, c2) centroid as the exact integer component sum
    val vecsum = udaf(VecSumAgg)
    val cents2 = prep.as[(Long, Array[Long], Double, Int)]
      .mapPartitions { iter =>
        val sm = bseed2.value
        iter.map { case (_, e, nrm, c1) =>
          (c1, nearestCells(e, nrm, sm(c1), 1)(0), e)
        }
      }.toDF("c1", "c2", "q")
      .groupBy("c1", "c2").agg(vecsum(col("q")).as("s"))
      .as[(Int, Int, Array[Long])].collect()
    val cents2Map = cents2.groupBy(_._1).map { case (c1, rows) =>
      c1 -> rows.sortBy(_._2).map { case (_, c2, s) => withNorm(c2, s) }
    }
    val bc2 = spark.sparkContext.broadcast(cents2Map)
    // final probing: nprobe L1 cells, nprobe L2 centroids within each —
    // composite bucket packed as one long (c2 < 65536 by the k cap)
    val buckets = prep.as[(Long, Array[Long], Double, Int)]
      .mapPartitions { iter =>
        val cs1 = bc1.value
        val cm2 = bc2.value
        iter.flatMap { case (id, e, nrm, _) =>
          nearestCells(e, nrm, cs1, nprobe).iterator.flatMap { c1p =>
            cm2.get(c1p) match {
              case Some(cs2) => nearestCells(e, nrm, cs2, nprobe).iterator
                .map(c2p => (id, e, nrm, c1p.toLong * 65536L + c2p))
              case None => Iterator.empty
            }
          }
        }
      }.toDF("id", "e", "nrm", "cell")
    groupLocalConfirm(buckets, minCos)
  }

  /** Exact all-pairs cosine near-dup (the confirm/baseline path; at scale
    * the candidate set comes from [[lshNearDups]]' bucketing instead of the
    * self-join). Output d1 < d2 with cosine >= minCos. */
  def embeddingNearDups(
      vecs: DataFrame, idCol: String, embCol: String, minCos: Double,
      dims: Int = 64): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // Exact all-pairs is inherently O(n^2) in pair count, so the operator's
    // scale contract is "one side fits in executor memory" (beyond that,
    // candidates must come from the LSH path). Under that contract the fast
    // shape is a broadcast of the quantized corpus + a raw-JVM inner loop
    // per partition: exact integer dot products (order-independent) and the
    // same `dp / (sqrt(nn1) * sqrt(nn2))` IEEE expression as the oracle —
    // versus a BroadcastNestedLoopJoin evaluating an interpreted
    // per-element expression for every pair.
    // Guarded driver collect: fail fast past MaxBroadcastRows instead of
    // OOMing (past the contract, candidates must come from lshTopK/minhash
    // LSH). The Broadcast itself is method-local, so the ContextCleaner
    // reclaims executor copies once the returned plan is dropped.
    val quantized = vecs
      .select(col(idCol).cast("long").as("id"), quantize(col(embCol)).as("e"))
      .as[(Long, Array[Long])]
    val rows = quantized.limit(MaxBroadcastRows + 1).collect()
    require(rows.length <= MaxBroadcastRows,
      s"embeddingNearDups corpus exceeds $MaxBroadcastRows rows; " +
        "generate candidates with lshTopK/minhashNearDups instead")
    val corpus = rows.sortBy(_._1)
      .map { case (id, e) =>
        require(e.length == dims, s"vector length ${e.length} != dims $dims")
        (id, e, math.sqrt(Qv.dot(e, e).toDouble))
      }
    val bcast = spark.sparkContext.broadcast(corpus)
    quantized.mapPartitions { iter =>
      val all = bcast.value
      iter.flatMap { case (id1, e1) =>
        val n1 = math.sqrt(Qv.dot(e1, e1).toDouble)
        all.iterator.filter(_._1 > id1).flatMap { case (id2, e2, n2) =>
          val cos = Qv.dot(e1, e2).toDouble / (n1 * n2)
          if (cos >= minCos) Some((id1, id2, cos)) else None
        }
      }
    }.toDF("d1", "d2", "cosine")
  }

  /** Reciprocal-rank fusion of N retrieval rankings — the hybrid-search
    * merge (dense ANN + lexical/BM25-style lists) every RAG stack runs.
    * Each input must carry (query_id, neighbor_id, rank); a candidate's
    * fused score is Σ over the lists that retrieved it of
    * 1e6 DIV (c + rank) — the standard RRF with the 1/(c+r) weights
    * scaled to EXACT integer ppm, so cross-engine float division cannot
    * reorder ties. Output: top-`k` per query by (rrf_ppm DESC,
    * neighbor_id), with the fused rank.
    *
    * Shape: one union (no recompute — inputs arrive already ranked), one
    * (query, neighbor) combine with map-side partial aggregation, one
    * query-keyed window for the final top-k. Nothing depends on list
    * sizes beyond the candidate union. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    // c >= 1, not >= 0: with c = 0 a (nonstandard but common) 0-based rank
    // would divide by zero, which non-ANSI Spark evaluates to NULL and
    // sum() then silently DROPS the list's best hit from the fused score
    require(k > 0 && c >= 1, s"rrfFuse: bad k=$k or c=$c (c must be >= 1)")
    import org.apache.spark.sql.expressions.Window
    // ranks are 1-based by contract; a 0-based list would silently shift
    // every weight, so fail loudly instead (scan-stage check, no extra pass)
    val rankChecked = when(col("rank") >= 1, col("rank").cast("long"))
      .otherwise(raise_error(concat(
        lit("rrfFuse: ranks must be >= 1 (1-based), got "),
        col("rank").cast("string"))))
    val all = rankings
      .map(_.select(col("query_id"), col("neighbor_id"),
        rankChecked.as("rank")))
      .reduce(_ unionByName _)
    all.groupBy("query_id", "neighbor_id")
      .agg(sum(expr(s"1000000 DIV ($c + rank)")).as("rrf_ppm"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf_ppm").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** BM25 "more-like-this" lexical retrieval: rank corpus documents against
    * each query document by the classic BM25 weighting (k1 = 1.2, b = 0.75)
    * over whitespace unigrams, every step in exact integer arithmetic so
    * the ranking replays bit-for-bit on any engine: idf is the floor-log2
    * surrogate length(bin(N)) - length(bin(df)) (the lt19 idiom — no
    * transcendental can diverge between engines), the tf saturation
    * tf·(k1+1)/(tf + k1·(1-b+b·len/avgdl)) is one integer-DIV sequence in
    * ppm units, and ties break by neighbor id. Query terms occurring in
    * more than a quarter of the corpus are dropped (df·4 > N) — the
    * stopword cut that both sharpens scores (near-ubiquitous terms carry
    * idf2 ≈ 0 anyway) and bounds every posting fan-out to N/4. This is the
    * idf/length-normalized upgrade of the raw shingle-overlap leg ls10
    * fuses (overlap counting has no notion of term rarity or document
    * length; BM25 is what the lexical seat of a RAG stack actually runs).
    *
    * Scale shape: the corpus side is ONE tokenize scan into ONE
    * (doc, term)-keyed aggregation (map-side combined — Zipf-hot terms are
    * aggregate keys, never window partitions), plus a one-row corpus
    * stats aggregate; every query-side table (terms, their document
    * frequencies, idf weights) derives from the constant query batch and
    * broadcasts, so postings are probed in the scan stage with no corpus
    * exchange keyed by term; the only other exchange is the per-(query,
    * neighbor) score rollup. Per-query-term candidates are df-bounded —
    * the inverted-index evaluation cost; impact-ordered posting truncation
    * (WAND-style) is the named refinement if sub-DF candidate generation
    * is ever needed. Integer headroom: tf·2.2e12 must fit a long, so a
    * single term repeated > ~4.1M times in one document fails LOUDLY under
    * ANSI arithmetic rather than wrapping (the ls11 convention). */
  def bm25MoreLikeThis(
      queries: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      k: Int, ngram: Int = 1): DataFrame = {
    require(k > 0, s"bm25MoreLikeThis: k must be positive, got $k")
    require(ngram >= 1, s"bm25MoreLikeThis: ngram must be >= 1, got $ngram")
    // `ngram > 1` indexes n-token windows (multiset) instead of unigrams —
    // the right unit when the unigram vocabulary is so small that every
    // word is a stopword (terms need enough surprise for idf to rank by)
    val termArr =
      if (ngram == 1) TextOps.tokens(col(textCol))
      else TextOps.ngramsAll(TextOps.tokens(col(textCol)), ngram)
    val toks = corpus.select(col(idCol).cast("long").as("doc_id"),
      termArr.as("t"))
    // postings: one row per (doc, term) with the doc's length carried
    // through the aggregate (len is functionally dependent on doc_id, so
    // it widens the key without changing the groups). Persisted: the
    // query-term extraction, the df pass, and the candidate probe all
    // consume it.
    // len must be LONG before it meets the ppm constants: size() is an
    // int, and 750000 * int wraps under ANSI before the widening can help
    val tf = Caches.persist(toks
      .select(col("doc_id"), size(col("t")).cast("long").as("len"),
        explode(col("t")).as("w"))
      .groupBy("doc_id", "len", "w").agg(count(lit(1)).as("tf")))
    // N and avgdl come from the toks scan, not the postings (a zero-token
    // document has no posting rows but still counts toward both).
    // Persisted: the one-row frame has two consumers (wq's idf floor and
    // the avgdl projection), and each would otherwise re-run the full
    // tokenize(+ngram) corpus scan that feeds the aggregate.
    val stats = Caches.persist(toks.agg(count(lit(1)).cast("long").as("n"),
      sum(size(col("t"))).cast("long").as("sumlen")))
    val qids = broadcast(queries.select(col(idCol).cast("long").as("query_id")))
    val qp = tf.join(qids, col("doc_id") === col("query_id"))
      .select(col("query_id"), col("w")).distinct()
    val dfq = tf.join(broadcast(qp.select("w").distinct()), Seq("w"))
      .groupBy("w").agg(count(lit(1)).as("df"))
    val wq = dfq.crossJoin(broadcast(stats))
      .filter(col("df") * 4 <= col("n"))
      .select(col("w"),
        (length(bin(col("n"))) - length(bin(col("df")))).cast("long").as("idf2"))
    val ap = stats.select(expr("(sumlen * 1000000) DIV n").as("avgdl_ppm"))
    val cand = tf.join(broadcast(qp.join(wq, Seq("w"))), Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(ap))
      .withColumn("contrib", expr(
        """idf2 * ((tf * 2200000 * 1000000) DIV
          |  (tf * 1000000 +
          |   (1200 * (250000 + (750000 * len * 1000000) DIV avgdl_ppm)) DIV 1000))"""
          .stripMargin))
    cand.groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(sum(col("contrib")).cast("long").as("score_scaled"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score_scaled").desc, col("neighbor_id"))).cast("int"))
      .filter(col("rank") <= k)
  }
}
