package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geodesic helpers. Haversine re-expressed from the reference
  * (`/root/reference/src/bike_analyzer/utils.py:12-19`, atan2 form) as the
  * equivalent asin form — pure built-in column composition, so it stays in
  * whole-stage codegen (no UDF).
  */
object GeoOps {
  val EarthRadiusMeters: Double = 6371000.0

  /** Great-circle distance in meters between (lat1,lon1) and (lat2,lon2),
    * inputs in degrees. */
  def haversineMeters(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2 * EarthRadiusMeters) * asin(sqrt(a))
  }

  /** Plain-Scala twin for per-group imperative code (OD matcher, §2.7). */
  def haversineMeters(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    2 * EarthRadiusMeters * math.asin(math.sqrt(a))
  }

  /** Distributed spatial SELF-JOIN: all pairs of points within `radiusM`
    * meters, via grid-cell blocking — the shape where NEITHER side fits a
    * broadcast (a billion points against themselves). Each point lands in
    * one (cellx, celly) home cell sized so that two points within the
    * radius can never be more than one cell apart; the left side explodes
    * its 3x3 cell neighborhood as probe keys, the join shuffles BOTH sides
    * on the cell key only (never all-pairs), and an exact haversine
    * confirm + `idL < idR` canonicalization finish the pairs. Each
    * qualifying pair is emitted exactly once (its cell offset is
    * determined by the two home cells).
    *
    * Cell sizing is conservative-by-construction: one degree of latitude
    * is >= 110,574 m everywhere, and one degree of longitude is
    * >= 110,574·cos(maxAbsLatDeg) m anywhere in the allowed band, so
    * radiusM/110000 degrees (and its /cos counterpart) strictly contain
    * the radius — the blocking is COMPLETE, which the oracle proves by
    * brute force. Points outside the declared |lat| <= maxAbsLatDeg band
    * would silently break that containment, so they raise_error loudly
    * instead (the IntervalJoin dirty-span lesson).
    *
    * Output: (idL, idR, dist_m) with dist_m the exact haversine meters. */
  def withinRadiusPairs(
      points: org.apache.spark.sql.DataFrame, idCol: String,
      latCol: String, lonCol: String, radiusM: Double,
      maxAbsLatDeg: Double): org.apache.spark.sql.DataFrame = {
    require(radiusM > 0, s"withinRadiusPairs: radius must be positive, got $radiusM")
    require(maxAbsLatDeg >= 0 && maxAbsLatDeg < 89,
      s"withinRadiusPairs: maxAbsLatDeg must be in [0, 89), got $maxAbsLatDeg")
    val dLat = radiusM / 110000.0
    val dLon = radiusM / (110000.0 * math.cos(math.toRadians(maxAbsLatDeg)))
    val latOk = abs(col(latCol)) <= lit(maxAbsLatDeg)
    val guardedLat = when(latOk, col(latCol)).otherwise(raise_error(concat(
      lit(s"withinRadiusPairs: |$latCol| exceeds declared band $maxAbsLatDeg: "),
      col(latCol).cast("string"))))
    val base = points.select(
      col(idCol).as("__id"), guardedLat.as("__lat"), col(lonCol).as("__lon"),
      floor(col(latCol) / dLat).cast("long").as("__cx"),
      floor(col(lonCol) / dLon).cast("long").as("__cy"))
    val probes = base.select(col("__id"), col("__lat"), col("__lon"),
        explode(sequence(col("__cx") - 1, col("__cx") + 1)).as("__px"), col("__cy"))
      .select(col("__id"), col("__lat"), col("__lon"), col("__px"),
        explode(sequence(col("__cy") - 1, col("__cy") + 1)).as("__py"))
    val right = base.select(col("__id").as("__idR"), col("__lat").as("__latR"),
      col("__lon").as("__lonR"), col("__cx"), col("__cy"))
    val dist = haversineMeters(col("__lat"), col("__lon"), col("__latR"), col("__lonR"))
    probes.join(right,
        col("__px") === col("__cx") && col("__py") === col("__cy") &&
          col("__id") < col("__idR"))
      .filter(dist <= radiusM)
      .select(col("__id").as("id_l"), col("__idR").as("id_r"),
        dist.as("dist_m"))
  }

  /** Distributed DBSCAN(epsM, minPts) over a point set, composed entirely
    * from bounded-radius primitives — no all-pairs stage anywhere:
    *
    *   1. neighbor pairs within epsM via [[withinRadiusPairs]] (grid-cell
    *      blocking: both sides shuffle on the cell key only);
    *   2. core points = |N_eps(p)| >= minPts, with N_eps counting the
    *      point itself (the standard DBSCAN definition) — one count
    *      aggregation over the symmetrized pair stream;
    *   3. clusters = connected components of the core-core subgraph
    *      (min-core-id label via [[graft.llm.Dedup.dedupClusters]]'s
    *      pointer-doubled label propagation, O(log diameter) rounds);
    *      cores with no core neighbor are their own singleton cluster;
    *   4. border points (non-core with a core neighbor) attach to their
    *      NEAREST core's cluster — distance rounded to mm then neighbor id,
    *      so the assignment is deterministic even when two cores from
    *      different clusters are equidistant (plain DBSCAN leaves that
    *      order-dependent; a scan-order-dependent answer cannot be
    *      hash-checked across engines);
    *   5. everything else is noise (cluster NULL).
    *
    * The symmetrized neighbor stream feeds three consumers (counts,
    * core-core edges, border assignment), so it is persisted through the
    * llm-tier cache registry; the harness releases it after the consuming
    * action. Scale shape: every stage is a keyed shuffle on point ids or
    * cell keys — cluster count, density, and component diameter bound the
    * work, never n². Output: (id, role core|border|noise, cluster = min
    * core id of the containing cluster, NULL for noise). */
  def dbscan(
      points: org.apache.spark.sql.DataFrame, idCol: String,
      latCol: String, lonCol: String, epsM: Double, minPts: Int,
      maxAbsLatDeg: Double): org.apache.spark.sql.DataFrame = {
    require(minPts >= 2, s"dbscan: minPts must be >= 2, got $minPts")
    require(points.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"dbscan: $idCol must be numeric (cluster labels are min core ids), " +
        s"got ${points.schema(idCol).dataType.simpleString}")
    import org.apache.spark.sql.expressions.Window
    // point cache: the point expression (here: a parquet scan + two
    // md5-derived coordinates per row) is read by the probe side, the
    // build side, and the final id-universe join — uncached, each consumer
    // re-ran the scan+hash pipeline as its own single-task stage
    // (measured on bgeo_dbscan at sf0.1: four sequential ~270 ms scans).
    val pts = graft.llm.Caches.persist(points.select(
      col(idCol).as("__pid"), col(latCol).as("__plat"), col(lonCol).as("__plon")))
    val pairs = withinRadiusPairs(pts, "__pid", "__plat", "__plon", epsM, maxAbsLatDeg)
    // Symmetrize via explode (one pass over the pair stream, not a
    // two-legged union that would run the cell join twice), then persist:
    // counts, the core-core edge build, and border assignment all read it.
    val sym = graft.llm.Caches.persist(pairs.select(explode(array(
        struct(col("id_l").as("id"), col("id_r").as("nbr"), col("dist_m")),
        struct(col("id_r").as("id"), col("id_l").as("nbr"), col("dist_m")))).as("e"))
      .select(col("e.id").as("id"), col("e.nbr").as("nbr"), col("e.dist_m").as("dist_m")))
    val core = sym.groupBy("id").agg(count(lit(1)).as("__nbrs"))
      .filter(col("__nbrs") + 1 >= minPts).select("id")
    // Core-core edges in canonical id < nbr form for the component labeler.
    val corePairs = sym.filter(col("id") < col("nbr"))
      .join(core, Seq("id"), "left_semi")
      .join(core.select(col("id").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("id").as("d1"), col("nbr").as("d2"))
    val linked = graft.llm.Dedup.dedupClusters(corePairs)
      .select(col("doc_id").as("id"), col("survivor_id").as("cluster"))
    // Cores whose neighborhood holds no other core form singleton clusters.
    val coreClusters = linked.unionByName(
      core.join(linked, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster")))
    val borderRanked = sym
      .join(core, Seq("id"), "left_anti")
      .join(coreClusters.select(col("id").as("nbr"), col("cluster")), Seq("nbr"))
      .withColumn("__rk", row_number().over(Window.partitionBy("id")
        .orderBy(round(col("dist_m"), 3), col("nbr"))))
      .filter(col("__rk") === 1)
      .select(col("id"), col("cluster"))
    val labeled = coreClusters.select(col("id"), lit("core").as("role"), col("cluster"))
      .unionByName(borderRanked.select(col("id"), lit("border").as("role"), col("cluster")))
    pts.select(col("__pid").as("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("role"), lit("noise")).as("role"),
        col("cluster"))
  }

}
