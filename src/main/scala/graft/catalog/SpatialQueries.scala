package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.operators._
import graft.sources.DerivedTables._

/** Spatial: bbox / PIP / tiles / cells / joins / kNN / range. */
object SpatialQueries {

  private[catalog] val P = pagesSql
  private val POLY = polygonsSql
  private val GQ = geoQueriesSql
  private val havSql = haversineSql("q.qlat", "q.qlng", "p.lat", "p.lng")

  /** The answer every points-in-polygons plan (broadcast, salted, adaptive)
    * must give: the polygons are axis-aligned rectangles off the point grid,
    * so the exact refine is the strict bounds test. */
  private val rectJoinSql: String =
    s"""WITH $P, $POLY
       |SELECT y.poly_id, p.page_id FROM pages p
       |JOIN polys y ON p.lng > y.xmin AND p.lng < y.xmax AND p.lat > y.ymin AND p.lat < y.ymax
       |ORDER BY y.poly_id, p.page_id""".stripMargin

  // a convex pentagon with off-grid vertices (no page point can sit on an edge)
  private val PentagonWkt: String =
    "POLYGON ((-20.000033 -10.000057, 15.000041 -25.000013, 40.000029 5.000071, 10.000037 35.000023, -30.000049 15.000011, -20.000033 -10.000057))"
  private[catalog] val PentagonWkb: Array[Byte] = graft.geo.Wkt.parse(PentagonWkt)

  /** Half-plane conjunction for the pentagon (convex, CCW): strict interior. */
  private[catalog] val pentagonInteriorSql: String = {
    val vs = Seq(
      (-20.000033, -10.000057), (15.000041, -25.000013), (40.000029, 5.000071),
      (10.000037, 35.000023), (-30.000049, 15.000011))
    vs.indices.map { i =>
      val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.length)
      s"(($x2 - $x1) * (lat - $y1) - ($y2 - $y1) * (lng - $x1)) > 0"
    }.mkString("(", " AND ", ")")
  }

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("s_bbox_filter", (s, d) => {
      // P1 strict-inequality bbox predicate over the page points
      pages(s, d)
        .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
          col("lng").as("xmax"), col("lat").as("ymax")))
        .where(Pipeline.bboxOverlapPredicate(col("bbox"), 10.00005, 20.00005, 30.00005, 40.00005))
        .select(col("page_id"), col("lat"), col("lng"), col("lang"))
        .orderBy(col("page_id"))
    },
      s"""WITH $P
         |SELECT p.page_id, p.lat, p.lng,
         |  ['en','de','pl','fr','ja'][CAST(p.page_id % 5 AS INT) + 1] AS lang
         |FROM pages p
         |WHERE p.lng < 30.00005 AND p.lng > 10.00005 AND p.lat < 40.00005 AND p.lat > 20.00005
         |ORDER BY p.page_id""".stripMargin),

    CatalogEntry("s_pip_convex", (s, d) => {
      // exact ray-cast refine against a convex pentagon (non-rectangular →
      // P5 short-circuit does NOT fire; P3 refine runs)
      pages(s, d)
        .where(ray_cast_contains(lit(PentagonWkb), col("lng"), col("lat")))
        .select(col("page_id"), col("lat"), col("lng"))
        .orderBy(col("page_id"))
    },
      s"""WITH $P
         |SELECT page_id, lat, lng FROM pages
         |WHERE $pentagonInteriorSql
         |ORDER BY page_id""".stripMargin),

    CatalogEntry("s_tile_assign", (s, d) => {
      pages(s, d)
        .withColumn("tile_x", tile_x(col("lng"), 8))
        .withColumn("tile_y", tile_y(col("lat"), 8))
        .select(col("page_id"), col("tile_x"), col("tile_y"))
        .orderBy(col("page_id"))
    },
      s"""WITH $P
         |SELECT page_id,
         |  CAST(least(greatest(floor((lng + 180.0) / 360.0 * 256), 0), 255) AS BIGINT) AS tile_x,
         |  CAST(least(greatest(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 256), 0), 255) AS BIGINT) AS tile_y
         |FROM pages ORDER BY page_id""".stripMargin),

    CatalogEntry("s_tile_raster", (s, d) => {
      // raster grid materialization: per-tile counts at z=5
      pages(s, d)
        .groupBy(tile_x(col("lng"), 5).as("tile_x"), tile_y(col("lat"), 5).as("tile_y"))
        .agg(count(lit(1)).as("n_pages"))
        .orderBy(col("tile_x"), col("tile_y"))
    },
      s"""WITH $P
         |SELECT CAST(least(greatest(floor((lng + 180.0) / 360.0 * 32), 0), 31) AS BIGINT) AS tile_x,
         |  CAST(least(greatest(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 32), 0), 31) AS BIGINT) AS tile_y,
         |  count(*) AS n_pages
         |FROM pages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    CatalogEntry("s_tile_vectorize", (s, d) => {
      // raster→vector: classify the z=5 tile raster by density, then
      // RLE-merge x-adjacent same-class tiles into vector rectangles with
      // EXACT integer web-mercator lng bounds (360e6/2^5 = 11_250_000
      // µdeg per tile — integral, so both engines agree bit-for-bit)
      val raster = pages(s, d)
        .groupBy(tile_x(col("lng"), 5).as("tile_x"), tile_y(col("lat"), 5).as("tile_y"))
        .agg(count(lit(1)).as("n_pages"))
        .withColumn("density",
          when(col("n_pages") >= 200, "dense")
            .when(col("n_pages") >= 50, "mid").otherwise(lit("sparse")))
      RasterVector.vectorizeRuns(raster, "tile_x", "tile_y", "density", "n_pages")
        .withColumn("lng_w_e6", col("x_min") * 11250000L - 180000000L)
        .withColumn("lng_e_e6", (col("x_max") + 1L) * 11250000L - 180000000L)
        .orderBy(col("tile_y"), col("x_min"))
    },
      s"""WITH $P, raster AS (
         |  SELECT CAST(least(greatest(floor((lng + 180.0) / 360.0 * 32), 0), 31) AS BIGINT) AS tile_x,
         |    CAST(least(greatest(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 32), 0), 31) AS BIGINT) AS tile_y,
         |    count(*) AS n_pages
         |  FROM pages GROUP BY 1, 2
         |), classed AS (
         |  SELECT tile_x, tile_y, n_pages,
         |    CASE WHEN n_pages >= 200 THEN 'dense' WHEN n_pages >= 50 THEN 'mid' ELSE 'sparse' END AS density
         |  FROM raster
         |), flagged AS (
         |  SELECT tile_x, tile_y, n_pages, density,
         |    CASE WHEN lag(tile_x) OVER w IS NULL OR tile_x != lag(tile_x) OVER w + 1
         |         OR density != lag(density) OVER w THEN 1 ELSE 0 END AS new_run
         |  FROM classed WINDOW w AS (PARTITION BY tile_y ORDER BY tile_x)
         |), runs AS (
         |  SELECT *, sum(new_run) OVER (PARTITION BY tile_y ORDER BY tile_x ROWS UNBOUNDED PRECEDING) AS run_id
         |  FROM flagged
         |)
         |SELECT tile_y, density, min(tile_x) AS x_min, max(tile_x) AS x_max,
         |  count(*) AS n_tiles, CAST(sum(n_pages) AS BIGINT) AS value_sum,
         |  min(tile_x) * 11250000 - 180000000 AS lng_w_e6,
         |  (max(tile_x) + 1) * 11250000 - 180000000 AS lng_e_e6
         |FROM runs GROUP BY tile_y, run_id, density
         |ORDER BY tile_y, x_min""".stripMargin),

    CatalogEntry("s_cell_agg", (s, d) => {
      // cell-encode (batched Expression) → grid x/y → counts, res 6
      val c = cell_encode(col("lat"), col("lng"), 6)
      pages(s, d)
        .groupBy(cell_x(c).as("cell_gx"), cell_y(c).as("cell_gy"))
        .agg(count(lit(1)).as("n_pages"))
        .orderBy(col("cell_gx"), col("cell_gy"))
    },
      s"""WITH $P
         |SELECT CAST(least(greatest(floor((lng + 180.0) / 360.0 * 64), 0), 63) AS BIGINT) AS cell_gx,
         |  CAST(least(greatest(floor((lat + 90.0) / 180.0 * 64), 0), 63) AS BIGINT) AS cell_gy,
         |  count(*) AS n_pages
         |FROM pages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    CatalogEntry("s_tile_pyramid", (s, d) => {
      // tile pyramid from ONE fact scan: the finest level (z7) aggregates
      // pages; every coarser level reaggregates the PREVIOUS level's tiny
      // output (slippy tile coords halve exactly — floor division
      // composes), never the fact table. log-many rollups at 100 TB; the
      // oracle computes each level INDEPENDENTLY from lat/lng, so the
      // shift derivation is certified exact, not assumed
      val z7 = pages(s, d)
        .groupBy(tile_x(col("lng"), 7).as("tile_x"),
          tile_y(col("lat"), 7).as("tile_y"))
        .agg(count(lit(1)).as("n_pages"))
      def coarsen(df: DataFrame) = df
        .groupBy(shiftright(col("tile_x"), 2).as("tile_x"),
          shiftright(col("tile_y"), 2).as("tile_y"))
        .agg(sum(col("n_pages")).as("n_pages"))
      val z5 = coarsen(z7)
      val z3 = coarsen(z5)
      z7.withColumn("zoom", lit(7L))
        .unionByName(z5.withColumn("zoom", lit(5L)))
        .unionByName(z3.withColumn("zoom", lit(3L)))
        .select(col("zoom"), col("tile_x").cast("long").as("tile_x"),
          col("tile_y").cast("long").as("tile_y"), col("n_pages"))
        .orderBy(col("zoom"), col("tile_x"), col("tile_y"))
    },
      // every zoom computed INDEPENDENTLY from lat/lng — certifies the
      // engine's shift-derived pyramid levels exactly
      {
        def level(zoom: Int): String = {
          val n = 1 << zoom
          s"""SELECT CAST($zoom AS BIGINT) AS zoom,
             |  CAST(least(greatest(floor((lng + 180.0) / 360.0 * $n), 0), ${n - 1}) AS BIGINT) AS tile_x,
             |  CAST(least(greatest(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * $n), 0), ${n - 1}) AS BIGINT) AS tile_y,
             |  count(*) AS n_pages
             |FROM pages GROUP BY 1, 2, 3""".stripMargin
        }
        s"""WITH $P
           |${level(7)}
           |UNION ALL
           |${level(5)}
           |UNION ALL
           |${level(3)}
           |ORDER BY zoom, tile_x, tile_y""".stripMargin
      }),

    CatalogEntry("s_index_bounds", (s, d) => {
      // cell-prefix index build (S4/A1 analog): exact bounds per cell
      CellIndex.build(pages(s, d), res = 4)
        .select(cell_x(col("cell")).as("cell_gx"), cell_y(col("cell")).as("cell_gy"),
          col("n_rows"), col("xmin"), col("ymin"), col("xmax"), col("ymax"))
        .orderBy(col("cell_gx"), col("cell_gy"))
    },
      s"""WITH $P
         |SELECT CAST(least(greatest(floor((lng + 180.0) / 360.0 * 16), 0), 15) AS BIGINT) AS cell_gx,
         |  CAST(least(greatest(floor((lat + 90.0) / 180.0 * 16), 0), 15) AS BIGINT) AS cell_gy,
         |  count(*) AS n_rows, min(lng) AS xmin, min(lat) AS ymin, max(lng) AS xmax, max(lat) AS ymax
         |FROM pages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    CatalogEntry("s_join_rect", (s, d) => {
      // the flagship join: cell cover + equi-join + exact refine (broadcast)
      SpatialJoin.pointsInPolygons(pages(s, d), polygons(s, d), res = 5)
        .select(col("poly_id"), col("page_id"))
        .orderBy(col("poly_id"), col("page_id"))
    },
      rectJoinSql),

    CatalogEntry("s_join_rect_salted", (s, d) => {
      // same semantics through the skew path: salted shuffle join (salt=8)
      SpatialJoin.pointsInPolygons(pages(s, d), polygons(s, d), res = 5,
        broadcastPolys = false, salt = 8)
        .select(col("poly_id"), col("page_id"))
        .orderBy(col("poly_id"), col("page_id"))
    },
      rectJoinSql),

    CatalogEntry("s_join_rect_adaptive", (s, d) => {
      // adaptive cell-splitting path (megacity-cell skew handling)
      SpatialJoin.pointsInPolygonsAdaptive(pages(s, d), polygons(s, d), res = 4,
        hotThreshold = 2000, splitLevels = 2)
        .select(col("poly_id"), col("page_id"))
        .orderBy(col("poly_id"), col("page_id"))
    },
      rectJoinSql),

    CatalogEntry("s_index_prune", (s, d) => {
      // index-driven pruning e2e (J1/S4 analog): build index, prune by a
      // polygon filter's cell cover, exact refine
      val pts = pages(s, d)
      val idx = CellIndex.build(pts, res = 4)
      CellIndex.filterPoints(pts, idx, PentagonWkb, res = 4)
        .select(col("page_id"), col("lat"), col("lng"))
        .orderBy(col("page_id"))
    },
      s"""WITH $P
         |SELECT page_id, lat, lng FROM pages
         |WHERE $pentagonInteriorSql
         |ORDER BY page_id""".stripMargin),

    CatalogEntry("s_knn", (s, d) => {
      SpatialJoin.knnJoin(geoQueries(s, d), pages(s, d), k = 5, res = 7,
        qKeyCol = "q_id", tieCol = "page_id")
        .select(col("q_id"), col("knn_rank"), col("page_id"))
        .orderBy(col("q_id"), col("knn_rank"))
    },
      s"""WITH $P, $GQ
         |SELECT q_id, knn_rank, page_id FROM (
         |  SELECT q.q_id, p.page_id,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY $havSql ASC, p.page_id ASC) AS knn_rank
         |  FROM geoq q CROSS JOIN pages p)
         |WHERE knn_rank <= 5 ORDER BY q_id, knn_rank""".stripMargin),

    CatalogEntry("s_range_join", (s, d) => {
      SpatialJoin.distanceJoin(geoQueries(s, d), pages(s, d), radiusM = 500000.0, res = 6)
        .select(col("q_id"), col("page_id"))
        .orderBy(col("q_id"), col("page_id"))
    },
      s"""WITH $P, $GQ
         |SELECT q.q_id, p.page_id FROM geoq q JOIN pages p
         |ON $havSql <= 500000.0
         |ORDER BY q.q_id, p.page_id""".stripMargin),

    CatalogEntry("s_convert_pipeline", (s, d) => {
      // reference convert_geometry parity surface: P1 ∧ P3 ∧ P2 + P4
      val feats = pages(s, d)
        .withColumn("id", col("page_id").cast("string"))
        .withColumn("geometry", to_binary(lit("01"), lit("hex"))) // placeholder geometry payload
        .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
          col("lng").as("xmax"), col("lat").as("ymax")))
      Pipeline.convertGeometry(feats, PentagonWkt,
        predicate = Some(Seq(Seq(("lang", "==", "en")), Seq(("lang", "==", "de")))),
        columns = Some(Seq("lat", "lng", "lang")))
        .drop("geometry") // binary col excluded from oracle compare
        .orderBy(col("id"))
    },
      s"""WITH $P
         |SELECT CAST(page_id AS VARCHAR) AS id, lat, lng,
         |  ['en','de','pl','fr','ja'][CAST(page_id % 5 AS INT) + 1] AS lang
         |FROM pages
         |WHERE $pentagonInteriorSql
         |  AND ['en','de','pl','fr','ja'][CAST(page_id % 5 AS INT) + 1] IN ('en', 'de')
         |ORDER BY id""".stripMargin),

    CatalogEntry("s_hilbert_order", (s, d) => {
      // Hilbert clustering key (S8/O1 analog) — no portable SQL; rows-only
      pages(s, d)
        .withColumn("h", hilbert_index(col("lat"), col("lng"), -180, -60, 180, 60, 16))
        .select(col("page_id"), col("h"))
        .orderBy(col("h"), col("page_id"))
    },
      // Hilbert index oracle: the classic xy2d loop unrolled as a recursive
      // CTE (16 steps, s = 32768 → 1), identical to geo.Hilbert.xy2d.
      s"""WITH RECURSIVE $P, grid AS (
         |  SELECT page_id,
         |    CAST(least(greatest(floor((lng + 180.0) / 360.0 * 65536), 0), 65535) AS BIGINT) AS x,
         |    CAST(least(greatest(floor((lat + 60.0) / 120.0 * 65536), 0), 65535) AS BIGINT) AS y
         |  FROM pages
         |), hil AS (
         |  SELECT page_id, x, y, CAST(0 AS BIGINT) AS d, CAST(32768 AS BIGINT) AS s FROM grid
         |  UNION ALL
         |  SELECT page_id,
         |    CASE WHEN (y & s) = 0 THEN (CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END) ELSE x END,
         |    CASE WHEN (y & s) = 0 THEN (CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END) ELSE y END,
         |    d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
         |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
         |    s // 2
         |  FROM hil WHERE s >= 1
         |)
         |SELECT page_id, d AS h FROM hil WHERE s = 0 ORDER BY h, page_id""".stripMargin))
}
