package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SC}
import org.scalacheck.rng.Seed
import graft.geo._

/** Property-based coverage of the pure geo kernels (no Spark session):
  * randomized inputs catch the boundary cases fixed vectors miss, and the
  * seed is pinned so failures reproduce. Properties mirror invariants the
  * engine RELIES on (cell prefix pruning, kRing probes, canonical-hash
  * stability, filter-union OR semantics). */
class GeoPropertySpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 300): Unit = {
    val params = SC.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(Seed(20260817L))
    val res = SC.check(params, p)
    assert(res.passed, res.status.toString)
  }

  private val genLat = Gen.chooseNum(-89.99, 89.99)
  private val genLng = Gen.chooseNum(-179.99, 179.99)
  private val genRes = Gen.chooseNum(1, 16)

  /** Convex closed ring: points at sorted angles on an ellipse. Convexity
    * gives an unambiguous interior for containment cross-checks. */
  private val genRing: Gen[Array[Double]] = for {
    cx <- Gen.chooseNum(-170.0, 170.0)
    cy <- Gen.chooseNum(-80.0, 80.0)
    rx <- Gen.chooseNum(0.5, 8.0)
    ry <- Gen.chooseNum(0.5, 8.0)
    k <- Gen.chooseNum(3, 12)
    phases <- Gen.listOfN(k, Gen.chooseNum(0.0, 2 * math.Pi))
  } yield {
    val angles = phases.distinct.sorted
    val pts = (if (angles.size >= 3) angles else Seq(0.1, 2.1, 4.1))
      .flatMap(a => Seq(cx + rx * math.cos(a), cy + ry * math.sin(a)))
    (pts ++ pts.take(2)).toArray // close the ring
  }

  test("cell prefix property: parent(encode(res2), res1) == encode(res1)") {
    check(Prop.forAll(genLat, genLng, genRes, genRes) { (lat, lng, r1, r2) =>
      val lo = math.min(r1, r2); val hi = math.max(r1, r2)
      Cell.parent(Cell.encode(lat, lng, hi), lo) == Cell.encode(lat, lng, lo)
    })
  }

  test("cell boundary contains its defining point") {
    check(Prop.forAll(genLat, genLng, genRes) { (lat, lng, res) =>
      Wkb.containsPoint(Cell.boundaryWkb(Cell.encode(lat, lng, res)), lng, lat)
    })
  }

  test("kRing: contains the center, same resolution, bounded size") {
    check(Prop.forAll(genLat, genLng, Gen.chooseNum(2, 12), Gen.chooseNum(0, 3)) {
      (lat, lng, res, k) =>
        val c = Cell.encode(lat, lng, res)
        val ring = Cell.kRing(c, k)
        ring.contains(c) &&
          ring.forall(Cell.resolution(_) == res) &&
          ring.length <= (2 * k + 1) * (2 * k + 1) &&
          ring.distinct.length == ring.length
    })
  }

  /** coverGeometryWithin(g, p, fine) must be coverGeometry(g, fine) cut to
    * p's descendants, in the same order, for every parent p (all parents
    * at one resolution). */
  private def withinMatches(wkb: Array[Byte], parents: Iterable[Long], fine: Int): Boolean = {
    val res = Cell.resolution(parents.head)
    val byParent = Cell.coverGeometry(wkb, fine).toSeq.groupBy(Cell.parent(_, res))
    parents.forall { p =>
      Cell.coverGeometryWithin(wkb, p, fine).toSeq == byParent.getOrElse(p, Seq.empty)
    }
  }

  test("coverGeometryWithin = coverGeometry filtered to the parent, on generated polygons") {
    check(Prop.forAll(genRing, Gen.chooseNum(2, 8), Gen.chooseNum(0, 3)) { (ring, res, split) =>
      val wkb = Wkb.writePolygon(Array(ring))
      // every coarse cell the polygon's cover touches, and their neighbours
      val parents = Cell.coverGeometry(wkb, res).flatMap(Cell.kRing(_, 1)).distinct
      withinMatches(wkb, parents, res + split)
    }, n = 200)
  }

  test("coverGeometryWithin: envelopes on fine-cell edges, points, disjoint parents") {
    // boxes whose four edges lie exactly on fine-grid lines
    check(Prop.forAll(Gen.chooseNum(3, 7), Gen.chooseNum(1, 3), Gen.chooseNum(0L, 1L << 20),
      Gen.chooseNum(0L, 1L << 20), Gen.chooseNum(1, 4), Gen.chooseNum(1, 4)) {
      (res, split, xr, yr, w, h) =>
        val fine = res + split
        val n = 1L << fine
        val x0 = xr % (n - w); val y0 = yr % (n - h)
        def lng(x: Long) = x * 360.0 / n - 180.0
        def lat(y: Long) = y * 180.0 / n - 90.0
        val wkb = Wkb.box(lng(x0), lat(y0), lng(x0 + w), lat(y0 + h))
        val parents = Cell.coverBBox(lng(x0), lat(y0), lng(x0 + w), lat(y0 + h), res)
          .flatMap(Cell.kRing(_, 1)).distinct
        withinMatches(wkb, parents, fine)
    })
    check(Prop.forAll(genLat, genLng, Gen.chooseNum(1, 12), Gen.chooseNum(0, 4)) {
      (lat, lng, res, split) =>
        val wkb = Wkb.writePoint(lng, lat)
        withinMatches(wkb, Cell.kRing(Cell.encode(lat, lng, res), 1), res + split)
    })
    // a parent disjoint from the envelope yields nothing
    check(Prop.forAll(genRing, Gen.chooseNum(2, 8), Gen.chooseNum(0, 3), genLat, genLng) {
      (ring, res, split, lat, lng) =>
        val wkb = Wkb.writePolygon(Array(ring))
        val (xmin, ymin, xmax, ymax) = Wkb.envelope(wkb)
        val p = Cell.encode(lat, lng, res)
        val (pxmin, pymin, pxmax, pymax) = Cell.boundsOf(p)
        val disjoint = pxmax < xmin || pxmin > xmax || pymax < ymin || pymin > ymax
        !disjoint || Cell.coverGeometryWithin(wkb, p, res + split).isEmpty
    })
  }

  test("hilbert xy2d: bijective on the full order-5 grid, in range for random cells") {
    val order = 5
    val n = 1 << order
    val all = for { x <- 0 until n; y <- 0 until n } yield Hilbert.xy2d(order, x, y)
    assert(all.distinct.size == n * n)
    assert(all.min == 0 && all.max == n * n - 1)
    check(Prop.forAll(Gen.chooseNum(1, 20), Gen.chooseNum(0L, Long.MaxValue),
      Gen.chooseNum(0L, Long.MaxValue)) { (o, xr, yr) =>
      val m = 1L << o
      val d = Hilbert.xy2d(o, xr % m, yr % m)
      d >= 0 && d < m * m
    })
  }

  test("geohash: encode/decode consistency and prefix nesting") {
    check(Prop.forAll(genLat, genLng, Gen.chooseNum(1, 9)) { (lat, lng, p) =>
      val gh = Geohash.encode(lat, lng, p)
      val (lngMin, latMin, lngMax, latMax) = Geohash.decodeBBox(gh)
      val contains = lng >= lngMin && lng < lngMax && lat >= latMin && lat < latMax
      val nested = p == 1 || {
        val (plngMin, platMin, plngMax, platMax) = Geohash.decodeBBox(gh.dropRight(1))
        lngMin >= plngMin && lngMax <= plngMax && latMin >= platMin && latMax <= platMax
      }
      contains && nested
    })
  }

  test("WKT round-trip is exact for arbitrary polygons (Double.toString shortest-repr)") {
    check(Prop.forAll(genRing) { ring =>
      val rings = Array(ring)
      val back = Wkb.readPolygons(Wkt.parse(Wkt.emitPolygon(rings)))
      back.length == 1 && back(0).length == 1 && back(0)(0).sameElements(ring)
    })
    check(Prop.forAll(genRing, genRing) { (a, b) =>
      val polys = Array(Array(a), Array(b))
      val back = Wkb.readPolygons(Wkt.parse(Wkt.emitMultiPolygon(polys)))
      back.length == 2 && back(0)(0).sameElements(a) && back(1)(0).sameElements(b)
    })
  }

  test("unionWkb has OR containment semantics (incl. overlapping members)") {
    check(Prop.forAll(genRing, genRing, Gen.chooseNum(-9.0, 9.0), Gen.chooseNum(-9.0, 9.0)) {
      (a, b, dx, dy) =>
        val wa = Wkb.writePolygon(Array(a))
        val wb = Wkb.writePolygon(Array(b))
        val u = FilterInputs.unionWkb(Seq(wa, wb))
        // probe near polygon a (high hit rate — random global points would
        // make the property vacuously false==false almost always)
        val px = a(0) + dx; val py = a(1) + dy
        Wkb.containsPoint(u, px, py) ==
          (Wkb.containsPoint(wa, px, py) || Wkb.containsPoint(wb, px, py))
    })
  }

  test("canonical geometry hash: invariant under ring rotation and orientation") {
    check(Prop.forAll(genRing, Gen.chooseNum(1, 10)) { (ring, rot) =>
      val nPts = ring.length / 2 - 1 // distinct points (last == first)
      val k = rot % nPts
      // rotate the starting vertex by k, re-close
      val open = ring.dropRight(2)
      val rotated = (open.drop(2 * k) ++ open.take(2 * k))
      val closedRot = rotated ++ rotated.take(2)
      // reverse orientation, re-close
      val rev = open.grouped(2).toArray.reverse.flatten
      val closedRev = rev ++ rev.take(2)
      val h0 = Canonical.geometryHash(Wkb.writePolygon(Array(ring)))
      h0 == Canonical.geometryHash(Wkb.writePolygon(Array(closedRot))) &&
        h0 == Canonical.geometryHash(Wkb.writePolygon(Array(closedRev)))
    })
  }

  test("haversine: exact symmetry, zero at identity, bounded by half circumference") {
    check(Prop.forAll(genLat, genLng, genLat, genLng) { (a1, o1, a2, o2) =>
      val d = Geo.haversineM(a1, o1, a2, o2)
      d == Geo.haversineM(a2, o2, a1, o1) &&
        d >= 0 && d <= math.Pi * 6371008.8 + 1e-6 &&
        Geo.haversineM(a1, o1, a1, o1) == 0.0
    })
  }
}
