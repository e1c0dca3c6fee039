package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.functions.GeomConstructors._

/** The engine's flagship operators: cell-partitioned spatial joins.
  *
  * Generalizes the reference's single-geometry STRtree probe
  * (overturemaestro/data_downloader.py:1026-1041) to a distributed
  * points-vs-polygons join:
  *
  *   pages --cell_encode--> (cell, page)            [narrow, codegen]
  *   polys --cover_cells/explode--> (cell, poly)    [narrow, small side]
  *   equi-join on cell  (broadcast if polys small, else shuffle+AQE)
  *   exact ray-cast refine                          [narrow, codegen]
  *
  * Scale design (100 TB / 10^12 pages):
  *  - the points side is NEVER shuffled when the polygon side broadcasts —
  *    the whole join is map-side;
  *  - with a large polygon side, both sides hash-partition by cell; skew
  *    from megacity cells is handled by `salt` (replicate polygon cells
  *    `salt`× and split page cells by a uniform hash) plus AQE skew-join;
  *  - each point encodes to exactly ONE cell, and a polygon's cover cells
  *    are distinct, so the equi-join emits no duplicate (point, polygon)
  *    pairs — no post-dedup shuffle needed.
  */
object SpatialJoin {

  /** Inner join: rows of `points` inside rows of `polys` (exact, ray-cast).
    *
    * @param points must carry `latCol`/`lngCol`
    * @param polys  must carry a WKB areal geometry in `geomCol`
    * @param res    cell resolution of the join key (coarser = fewer cover
    *               cells per polygon, finer = fewer refine false-positives)
    * @param broadcastPolys hint the polygon side as broadcast (dimension-
    *               sized polygon sets: always do this — map-side join)
    * @param salt   >1 replicates each polygon-cell `salt` times and splits
    *               points uniformly across replicas — for skewed cells in
    *               shuffle-join mode (no-op semantically)
    */
  def pointsInPolygons(points: DataFrame, polys: DataFrame, res: Int,
                       latCol: String = "lat", lngCol: String = "lng",
                       geomCol: String = "geometry",
                       broadcastPolys: Boolean = true,
                       salt: Int = 1): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    val pts = points.withColumn("_cell", cell_encode(col(latCol), col(lngCol), res))
    val pcRaw = polys.withColumn("_cell", explode(cover_cells(col(geomCol), res)))
    val (lhs, rhs, keys) =
      if (salt == 1) (pts, pcRaw, Seq("_cell"))
      else {
        val saltedPolys = pcRaw.withColumn("_salt",
          explode(array((0 until salt).map(lit): _*)))
        val saltedPts = pts.withColumn("_salt",
          pmod(xxhash64(col(latCol), col(lngCol)), lit(salt)).cast("int"))
        (saltedPts, saltedPolys, Seq("_cell", "_salt"))
      }
    val joined = lhs.join(if (broadcastPolys) broadcast(rhs) else rhs, keys)
    joined
      .where(ray_cast_contains(col(geomCol), col(lngCol), col(latCol)))
      .drop("_cell", "_salt")
  }

  /** Adaptive cell-splitting join (north rule: "salted repartitioning AND
    * adaptive cell-splitting"): cells whose point count exceeds
    * `hotThreshold` (megacity cells) are re-encoded `splitLevels` finer, so
    * a hot coarse cell's rows spread across 4^splitLevels join keys while
    * the polygon side only replicates its cover INSIDE hot cells. Results
    * are identical to the plain join (proven in SpatialJoinSpec); the win
    * is shuffle-partition balance when the polygon side is too big to
    * broadcast. Cost: one extra aggregate over the points (at 100 TB this
    * statistic comes from the cell index, not a fresh scan — pass
    * `cellCounts` to reuse it), and on the polygon side one coarse cover
    * plus, per (polygon, hot cell) pair, a test of at most the hot cell's
    * 4^splitLevels children (`cover_cells_within`) — proportional to the
    * replicated hot region, never to a polygon's whole fine cover. */
  def pointsInPolygonsAdaptive(points: DataFrame, polys: DataFrame, res: Int,
                               hotThreshold: Long, splitLevels: Int = 2,
                               latCol: String = "lat", lngCol: String = "lng",
                               geomCol: String = "geometry",
                               broadcastPolys: Boolean = false,
                               cellCounts: Option[DataFrame] = None): DataFrame = {
    val fineRes = res + splitLevels
    val pts = points.withColumn("_cell", cell_encode(col(latCol), col(lngCol), res))
    // cellCounts accepts the CellIndex.build schema (cell, n_rows, …) as
    // well as the internal (_cell, _n) shape. CellIndex.build stamps its
    // res as column metadata — a mismatched-res index would silently make
    // the hot-cell set garbage (results stay correct, the split does
    // nothing), so assert instead of trusting the caller.
    val counts = cellCounts.map { cc =>
      if (cc.columns.contains("_cell")) cc
      else {
        val m = cc.schema("cell").metadata
        if (m.contains(CellIndex.ResMetaKey))
          require(m.getLong(CellIndex.ResMetaKey) == res.toLong,
            s"cellCounts index was built at res ${m.getLong(CellIndex.ResMetaKey)} " +
              s"but the adaptive join runs at res $res — rebuild the index at $res")
        cc.select(col("cell").as("_cell"), col("n_rows").as("_n"))
      }
    }.getOrElse(pts.groupBy(col("_cell")).agg(count(lit(1)).as("_n")))
    val hot = counts.where(col("_n") > hotThreshold).select(col("_cell"))
    // split the points: hot cells re-encode at fineRes, cold stay at res
    val flagged = pts.join(broadcast(hot.withColumn("_hot", lit(true))), Seq("_cell"), "left")
      .withColumn("_jcell",
        when(col("_hot").isNotNull, cell_encode(col(latCol), col(lngCol), fineRes))
          .otherwise(col("_cell")))
      .drop("_hot")
    // polygon side, one pass: a cold coarse cell is its own join key; a hot
    // one is replaced by the polygon's fine cells inside it
    val polyCells = polys
      .withColumn("_cell", explode(cover_cells(col(geomCol), res)))
      .join(broadcast(hot.withColumn("_hot", lit(true))), Seq("_cell"), "left")
      .withColumn("_jcell", explode(
        when(col("_hot").isNull, array(col("_cell")))
          .otherwise(cover_cells_within(col(geomCol), col("_cell"), fineRes))))
      .drop("_hot", "_cell")
    val rhs = if (broadcastPolys) broadcast(polyCells) else polyCells
    flagged.join(rhs, Seq("_jcell"))
      .where(ray_cast_contains(col(geomCol), col(lngCol), col(latCol)))
      .drop("_jcell", "_cell")
  }

  /** Distance (range) join: pairs (query, point) with haversine distance
    * <= radiusM. Query side is expected dimension-sized (broadcast).
    * Plan: per query, cover the radius-expanded bbox with cells at `res`,
    * explode, equi-join on the points' cell, exact haversine refine. */
  def distanceJoin(queries: DataFrame, points: DataFrame, radiusM: Double, res: Int,
                   qLatCol: String = "qlat", qLngCol: String = "qlng",
                   latCol: String = "lat", lngCol: String = "lng"): DataFrame = {
    // Degree windows must OVER-cover (the haversine refine is exact, so
    // extra candidate cells only cost work; a too-narrow window silently
    // drops true pairs). 110574 m/deg UNDER-estimates the sphere's
    // π·R/180 = 111195 m/deg by ~0.56%, inflating both windows past the
    // exact value — margin that also absorbs the second-order poleward
    // bulge of near-boundary geodesics. (111320 m/deg here would be
    // ~0.11% too LARGE a divisor: at res ≥ 6 the lost fraction of a
    // degree crosses a cell boundary and boundary-distance pairs vanish.)
    val mPerDeg = 110574.0
    val dLat = radiusM / mPerDeg
    // MINIMUM |cos(lat)| within the query's lat band = worst-case (largest)
    // longitude expansion. |cos| over [lo, hi] attains its minimum at an
    // edge (it's unimodal with max at the equator), so take the lesser of
    // the two clamped edges; a band touching a pole yields ~0 → the 1e-6
    // guard blows dLng up to full-longitude cover.
    val bandLo = greatest(col(qLatCol) - lit(dLat), lit(-90.0))
    val bandHi = least(col(qLatCol) + lit(dLat), lit(90.0))
    val qc = queries.withColumn("_coslat",
      least(abs(cos(radians(bandLo))), abs(cos(radians(bandHi)))))
    val dLngCol = lit(radiusM) / (lit(mPerDeg) *
      when(col("_coslat") < lit(1e-6), lit(1e-6)).otherwise(col("_coslat")))
    // antimeridian wrap: a radius bbox crossing ±180 splits into two covers
    // (disjoint lng ranges, so no duplicate (query, point) candidates);
    // dLng >= 180 degenerates to the full longitude range. A band that
    // REACHES a pole also needs the full range regardless of radius: every
    // longitude is reachable over the pole (a tiny-radius query 5 m from
    // the pole has neighbors at the opposite longitude).
    val lo = col(qLngCol) - dLngCol
    val hi = col(qLngCol) + dLngCol
    val full = dLngCol >= lit(180.0) ||
      bandHi >= lit(90.0) || bandLo <= lit(-90.0)
    val y0 = bandLo
    val y1 = bandHi
    val primary = cover_cells(box_wkb(
      when(full || lo < lit(-180.0), lit(-180.0)).otherwise(lo), y0,
      when(full || hi > lit(180.0), lit(180.0)).otherwise(hi), y1), res)
    val secondary =
      when(!full && lo < lit(-180.0), cover_cells(box_wkb(lo + lit(360.0), y0, lit(180.0), y1), res))
        .when(!full && hi > lit(180.0), cover_cells(box_wkb(lit(-180.0), y0, hi - lit(360.0), y1), res))
        .otherwise(array().cast("array<bigint>"))
    // array_distinct: the two covers can share a boundary cell when
    // 360 - 2*dLng is under one cell width — dedupe before the join so a
    // candidate pair is emitted once
    val qCells = qc
      .withColumn("_cell", explode(array_distinct(concat(primary, secondary))))
      .drop("_coslat")
    val pts = points.withColumn("_cell", cell_encode(col(latCol), col(lngCol), res))
    pts.join(broadcast(qCells), Seq("_cell"))
      .where(haversine_m(col(qLatCol), col(qLngCol), col(latCol), col(lngCol)) <= lit(radiusM))
      .drop("_cell")
  }

  /** kNN join via expanding k-ring search (SURVEY.md §2.3 J-row "kNN") —
    * FULLY DISTRIBUTED: the query side is never collected. Every
    * unresolved query carries its ring window `[_r0, _r1]` as data, so the
    * rounds differ in their inputs only: from the second round on each
    * runs the same plan and reuses its generated code. Each round:
    *   1. unresolved queries generate the cells at Chebyshev distance
    *      `_r0.._r1` with the `CellKRing` generator expression (narrow);
    *   2. ONE equi-join against the cell-encoded points (probe side
    *      broadcast while small, shuffle join when the probe explodes);
    *   3. ONE window pass over the accumulated and the new candidates
    *      ranks each query's candidates (`knn_rank`) and trims to the top
    *      k; the result is checkpointed, truncating the lineage;
    *   4. resolution test, ONE left join of the unresolved queries with
    *      their rank-k rows: a query resolves when its k-th distance ≤ the
    *      minimum possible distance of anything beyond ring `_r1`
    *      (latitude/longitude separation bound, evaluated as expressions);
    *      the rest move their window out (×4 wider) and are checkpointed.
    * Driver synchronization per round: the candidates' eager checkpoint
    * and the one job that both materializes the unresolved queries'
    * checkpoint and counts them (log-many rounds — ring batches grow ×4).
    * Each superseded checkpoint is released as soon as its successor is
    * materialized, and the points' checkpoint once the result is, so only
    * the result's checkpoint outlives the call.
    * Falls back to a full scan for queries unresolved after `maxRings`
    * (correct everywhere incl. poles).
    *
    * Output: query columns + point columns + `dist_m` + `knn_rank` (1..k),
    * ties broken by `tieCol` ascending for determinism. */
  def knnJoin(queries: DataFrame, points: DataFrame, k: Int, res: Int,
              qKeyCol: String, tieCol: String,
              qLatCol: String = "qlat", qLngCol: String = "qlng",
              latCol: String = "lat", lngCol: String = "lng",
              maxRings: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cellLatDeg = 180.0 / (1L << res).toDouble
    val cellLngDeg = 360.0 / (1L << res).toDouble
    val minCellLatMeters = cellLatDeg * 110574.0 // underestimates m/deg ⇒ conservative

    val pts = points.withColumn("_cell", cell_encode(col(latCol), col(lngCol), res))
      .localCheckpoint(eager = false) // re-probed every round; at scale the cell-indexed table
    // Ring batches grow geometrically, 2, 8, 32, … rings per round (×4
    // growth: each driver round costs a fixed ~0.5 s of job overhead, so
    // fewer-but-wider rounds win; over-probing is bounded by the top-k
    // trim). Round 1 covers rings 0-1 — at any realistic density the k
    // nearest sit within one ring of the query cell, so most queries
    // resolve one full round earlier than a ring-0-only start.
    var unresolved = queries.select(
        col(qKeyCol).cast("long").as("_qid"),
        col(qLatCol).cast("double").as("_qlat"),
        col(qLngCol).cast("double").as("_qlng"))
      .withColumn("_qcell", cell_encode(col("_qlat"), col("_qlng"), res))
      .withColumn("_r0", lit(0))
      .withColumn("_r1", lit(math.min(1, maxRings)))
      .localCheckpoint(eager = false)
    var remaining = countCheckpoint(unresolved)
    val distC = haversine_m(col("_qlat"), col("_qlng"), col(latCol), col(lngCol))
    val w = Window.partitionBy(col("_qid")).orderBy(col("_dist").asc, col(tieCol).asc)
    def topK(df: DataFrame): DataFrame =
      df.withColumn("knn_rank", row_number().over(w)).where(col("knn_rank") <= k)

    // schema-stable empty seed (an empty query side legally yields an
    // empty result — S9 semantics — instead of throwing)
    var acc: DataFrame = topK(pts.limit(0)
      .join(unresolved.limit(0)
        .select(col("_qid"), col("_qlat"), col("_qlng"), col("_qcell").as("_cell")),
        Seq("_cell"))
      .withColumn("_dist", distC))
    // the driver's mirror of the window every unresolved row carries
    var r = 0
    var batchRings = 2
    while (remaining > 0 && r <= maxRings) {
      val rEnd = math.min(r + batchRings - 1, maxRings)
      // cells at Chebyshev distance in [_r0, _r1], disjoint from prior
      // rounds (the k-ring of -1 is empty)
      val ringCells = array_except(cell_kring(col("_qcell"), col("_r1")),
        cell_kring(col("_qcell"), col("_r0") - 1))
      val probe = unresolved
        .withColumn("_cell", explode(ringCells))
        .select(col("_qid"), col("_qlat"), col("_qlng"), col("_cell"))
      // broadcast while the probe is dimension-sized; a late-round probe of
      // many unresolved queries × a wide ring goes through the shuffle join
      val ringCellBound = (2L * rEnd + 1) * (2L * rEnd + 1)
      val small = remaining * ringCellBound <= 2000000L
      val rhs = if (small) broadcast(probe) else probe
      val cand = pts.join(rhs, Seq("_cell")).withColumn("_dist", distC)
      val superseded = acc
      acc = topK(acc.drop("knn_rank").unionByName(cand)).localCheckpoint(eager = true)
      release(superseded)
      // a point outside rings ≤ _r1 is ≥ _r1 cell-widths away in lat OR lng
      // grid coordinates (its cell is at Chebyshev distance ≥ _r1+1; worst
      // case facing cell edges)
      val r1 = col("_r1")
      val latBand = least(lit(90.0), abs(col("_qlat")) + (r1 + 1) * cellLatDeg)
      val lngMeters = r1 * cellLngDeg * 110574.0 * greatest(cos(radians(latBand)), lit(0.0))
      val bound = least(r1 * minCellLatMeters, lngMeters)
      // at most one row per unresolved query: smaller than the probe
      val kth = acc.where(col("knn_rank") === k).select(col("_qid"), col("_dist").as("_kth"))
      val answered = unresolved
      unresolved = unresolved
        .join(if (small) broadcast(kth) else kth, Seq("_qid"), "left")
        .where(!coalesce(col("_kth") <= bound, lit(false)))
        .select(col("_qid"), col("_qlat"), col("_qlng"), col("_qcell"), (r1 + 1).as("_r0"),
          least(r1 + (r1 - col("_r0") + 1) * 4, lit(maxRings)).as("_r1"))
        .localCheckpoint(eager = false)
      remaining = countCheckpoint(unresolved)
      release(answered)
      r = rEnd + 1
      batchRings *= 4
    }
    if (remaining > 0) {
      // exact fallback: full scan for the stragglers (poles/antimeridian).
      // Their ring-probed partial candidates are dropped first — the full
      // scan re-covers them (otherwise they'd appear twice). Trimmed to
      // top-k and materialized so the expensive cross join runs once.
      val cand = topK(pts
        .crossJoin(broadcast(unresolved.select(col("_qid"), col("_qlat"), col("_qlng"))))
        .withColumn("_dist", distC))
      val superseded = acc
      acc = acc.join(unresolved.select(col("_qid")), Seq("_qid"), "left_anti")
        .unionByName(cand.select(acc.columns.map(col): _*))
        .localCheckpoint(eager = true)
      release(superseded)
    }
    release(unresolved)
    release(pts) // acc is materialized: the probe side can go
    acc.withColumnRenamed("_qid", qKeyCol)
      .withColumnRenamed("_dist", "dist_m")
      .drop("_cell", "_qlat", "_qlng")
  }

  /** Row count of a DataFrame made by `localCheckpoint(eager = false)`,
    * from one job over the checkpoint's RDD, which also materializes it. */
  private def countCheckpoint(cp: DataFrame): Long =
    cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.count()

  /** Drops the blocks of a DataFrame made by `localCheckpoint` (whose plan
    * is the LogicalRDD over the checkpointed RDD); anything else is left
    * alone. Only for checkpoints no live plan still reads. */
  private def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }
}
