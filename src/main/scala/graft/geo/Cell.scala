package graft.geo

import scala.collection.mutable.ArrayBuffer

/** Hierarchical spatial cell index — the engine's H3/S2-equivalent.
  *
  * The reference consumes H3 and S2 cells only as *filter inputs* decoded to
  * polygons (overturemaestro/cli.py:210-280); its own spatial pruning is a
  * bbox row-group index (overturemaestro/_generate_bbox_index.py:75-105).
  * Our engine's core join key is a cell id; per SURVEY.md §7.4 we implement an
  * S2-style quadtree cell scheme with the H3 API shape (encode / parent /
  * k-ring / boundary / cover) — pure bit math, fully deterministic, no
  * external geo library (offline build).
  *
  * Cell id layout (64-bit long, always non-negative):
  *   bits [63..60) reserved 0 | morton(x,y) << 5 | resolution (5 bits)
  * where x = floor((lng+180)/360 * 2^res), y = floor((lat+90)/180 * 2^res),
  * each clamped to [0, 2^res-1], and morton interleaves x (even bits) and
  * y (odd bits). Max resolution 29 (58 morton bits + 5 res bits = 63).
  *
  * Properties relied on by the join planner:
  *  - parent(encode(p, r2), r1) == encode(p, r1) for r1 <= r2  (prefix rule)
  *  - cells at one resolution tile the lat/lng rectangle exactly
  *  - k-ring is the (2k+1)^2 square neighborhood in (x, y) grid space.
  */
object Cell {
  final val MaxRes = 29

  /** Spread the low 29 bits of v onto even bit positions. */
  private[geo] def spread(v: Long): Long = {
    var x = v & 0x1fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  private[geo] def unspread(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >> 16)) & 0x00000000ffffffffL
    x
  }

  def xy(lat: Double, lng: Double, res: Int): (Long, Long) =
    (lngToX(lng, res), latToY(lat, res))

  def lngToX(lng: Double, res: Int): Long = {
    val n = 1L << res
    val x = math.floor((lng + 180.0) / 360.0 * n).toLong
    math.min(math.max(x, 0L), n - 1)
  }

  def latToY(lat: Double, res: Int): Long = {
    val n = 1L << res
    val y = math.floor((lat + 90.0) / 180.0 * n).toLong
    math.min(math.max(y, 0L), n - 1)
  }

  def fromXY(x: Long, y: Long, res: Int): Long =
    ((spread(x) | (spread(y) << 1)) << 5) | res.toLong

  /** Encode a lat/lng to a cell id at `res`. */
  def encode(lat: Double, lng: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"resolution $res out of [0,$MaxRes]")
    val (x, y) = xy(lat, lng, res)
    fromXY(x, y, res)
  }

  def resolution(cell: Long): Int = (cell & 0x1fL).toInt

  def cellX(cell: Long): Long = unspread(cell >>> 5)
  def cellY(cell: Long): Long = unspread(cell >>> 6)

  /** Coarser ancestor of a cell — drops morton bits (prefix rule). */
  def parent(cell: Long, parentRes: Int): Long = {
    val res = resolution(cell)
    require(parentRes <= res, s"parentRes $parentRes > cell res $res")
    val morton = cell >>> 5
    ((morton >>> (2 * (res - parentRes))) << 5) | parentRes.toLong
  }

  /** Square k-ring: all valid cells within Chebyshev distance k in grid
    * space (the engine's kNN expanding-search primitive; H3's kRing analog).
    * Longitude wraps; latitude clamps at the poles. */
  def kRing(cell: Long, k: Int): Array[Long] = {
    val res = resolution(cell)
    val n = 1L << res
    val cx = cellX(cell); val cy = cellY(cell)
    val out = new ArrayBuffer[Long]((2 * k + 1) * (2 * k + 1))
    var dy = -k
    while (dy <= k) {
      val y = cy + dy
      if (y >= 0 && y < n) {
        var dx = -k
        while (dx <= k) {
          val x = ((cx + dx) % n + n) % n // wrap antimeridian
          out += fromXY(x, y, res)
          dx += 1
        }
      }
      dy += 1
    }
    out.distinct.toArray
  }

  /** Just the ring at exactly distance k (hollow ring) — used by the
    * expanding kNN search to avoid re-probing inner cells. */
  def ring(cell: Long, k: Int): Array[Long] =
    if (k == 0) Array(cell)
    else {
      val inner = kRing(cell, k - 1).toSet
      kRing(cell, k).filterNot(inner.contains)
    }

  /** Cell bounds (lngMin, latMin, lngMax, latMax). */
  def boundsOf(cell: Long): (Double, Double, Double, Double) = {
    val res = resolution(cell)
    val n = (1L << res).toDouble
    val x = cellX(cell).toDouble; val y = cellY(cell).toDouble
    (x / n * 360.0 - 180.0, y / n * 180.0 - 90.0,
      (x + 1) / n * 360.0 - 180.0, (y + 1) / n * 180.0 - 90.0)
  }

  /** Cell boundary as a closed polygon WKB — H3 cellToBoundary analog
    * (reference overturemaestro/cli.py:210-244). */
  def boundaryWkb(cell: Long): Array[Byte] = {
    val (xmin, ymin, xmax, ymax) = boundsOf(cell)
    Wkb.box(xmin, ymin, xmax, ymax)
  }

  /** Cells at `res` whose bounds overlap the given bbox (inclusive cover).
    * This is the planner's "compute the filter's cell cover" step
    * (SURVEY.md §4 partition pruning). */
  def coverBBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double, res: Int): Array[Long] = {
    val x0 = lngToX(xmin, res); val x1 = lngToX(math.nextDown(xmax), res)
    val y0 = latToY(ymin, res); val y1 = latToY(math.nextDown(ymax), res)
    val out = new ArrayBuffer[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var y = y0
    while (y <= y1) {
      var x = x0
      while (x <= x1) { out += fromXY(x, y, res); x += 1 }
      y += 1
    }
    out.toArray
  }

  /** Cells at `res` that actually intersect the areal WKB geometry:
    * bbox cover, then drop cells whose rectangle is fully outside the
    * polygon (cheap center+corner test then exact rect/poly overlap via
    * sampled containment + edge bbox test). Conservative (never drops a
    * truly intersecting cell — may keep false positives; the exact
    * per-row refine catches those). */
  def coverGeometry(wkb: Array[Byte], res: Int): Array[Long] = {
    if (Wkb.geomType(wkb) == Wkb.Point) {
      val (x, y) = Wkb.readPoint(wkb)
      return Array(encode(y, x, res))
    }
    val n = 1L << res
    coverWithin(wkb, res, 0L, n - 1, 0L, n - 1)
  }

  /** Exactly the cells of `coverGeometry(wkb, fineRes)` whose ancestor is
    * `parent` (same cells, same order), found without the full fine cover:
    * only the parent's 4^(fineRes - res(parent)) children that meet the
    * geometry's envelope are tested, in integer grid space. The adaptive
    * join uses it to cover a polygon inside each hot cell once. */
  def coverGeometryWithin(wkb: Array[Byte], parent: Long, fineRes: Int): Array[Long] = {
    val shift = fineRes - resolution(parent)
    require(shift >= 0, s"fineRes $fineRes < parent res ${resolution(parent)}")
    if (Wkb.geomType(wkb) == Wkb.Point) {
      val (x, y) = Wkb.readPoint(wkb)
      val c = encode(y, x, fineRes)
      return if (Cell.parent(c, resolution(parent)) == parent) Array(c) else Array.emptyLongArray
    }
    val x0 = cellX(parent) << shift; val y0 = cellY(parent) << shift
    val side = 1L << shift
    coverWithin(wkb, fineRes, x0, x0 + side - 1, y0, y0 + side - 1)
  }

  /** The geometry's bbox cover at `res`, clipped to grid columns
    * [xlo, xhi] and rows [ylo, yhi], minus the cells that cannot meet it. */
  private def coverWithin(wkb: Array[Byte], res: Int,
                          xlo: Long, xhi: Long, ylo: Long, yhi: Long): Array[Long] = {
    val (xmin, ymin, xmax, ymax) = Wkb.envelope(wkb)
    val x0 = math.max(lngToX(xmin, res), xlo); val x1 = math.min(lngToX(math.nextDown(xmax), res), xhi)
    val y0 = math.max(latToY(ymin, res), ylo); val y1 = math.min(latToY(math.nextDown(ymax), res), yhi)
    if (x0 > x1 || y0 > y1) return Array.emptyLongArray
    val polys = Wkb.readPolygons(wkb)
    val out = new ArrayBuffer[Long]()
    var y = y0
    while (y <= y1) {
      var x = x0
      while (x <= x1) {
        val c = fromXY(x, y, res)
        val (cxmin, cymin, cxmax, cymax) = boundsOf(c)
        if (cellMayIntersect(polys, cxmin, cymin, cxmax, cymax)) out += c
        x += 1
      }
      y += 1
    }
    out.toArray
  }

  /** Conservative cell-rect vs polygon intersection: true if any polygon
    * vertex lies in the rect, any rect corner/center lies in the polygon,
    * or any polygon edge's bbox overlaps the rect (edge may cross). */
  private def cellMayIntersect(polys: Array[Array[Array[Double]]],
                               rxmin: Double, rymin: Double, rxmax: Double, rymax: Double): Boolean = {
    // rect corners or center inside polygon?
    val cx = (rxmin + rxmax) / 2; val cy = (rymin + rymax) / 2
    val probePts = Array((cx, cy), (rxmin, rymin), (rxmax, rymin), (rxmax, rymax), (rxmin, rymax))
    polys.foreach { rings =>
      probePts.foreach { case (px, py) =>
        var inside = false
        rings.foreach { r => if (Geo.rayCastRing(r, r.length / 2, px, py)) inside = !inside }
        if (inside) return true
      }
      // polygon vertex inside rect, or edge actually crossing the rect
      rings.foreach { r =>
        var i = 0
        val n = r.length / 2
        while (i < n) {
          val x1 = r(2 * i); val y1 = r(2 * i + 1)
          val j = (i + 1) % n
          val x2 = r(2 * j); val y2 = r(2 * j + 1)
          if (segmentIntersectsRect(x1, y1, x2, y2, rxmin, rymin, rxmax, rymax))
            return true
          i += 1
        }
      }
    }
    false
  }

  /** Exact segment vs axis-aligned-rect intersection (slab clipping). */
  private def segmentIntersectsRect(x1: Double, y1: Double, x2: Double, y2: Double,
                                    rxmin: Double, rymin: Double, rxmax: Double, rymax: Double): Boolean = {
    // endpoint inside?
    if ((x1 >= rxmin && x1 <= rxmax && y1 >= rymin && y1 <= rymax) ||
        (x2 >= rxmin && x2 <= rxmax && y2 >= rymin && y2 <= rymax)) return true
    // Liang–Barsky clip
    val dx = x2 - x1; val dy = y2 - y1
    var t0 = 0.0; var t1 = 1.0
    def clip(p: Double, q: Double): Boolean = {
      if (p == 0.0) q >= 0
      else {
        val t = q / p
        if (p < 0) { if (t > t1) return false; if (t > t0) t0 = t }
        else { if (t < t0) return false; if (t < t1) t1 = t }
        true
      }
    }
    clip(-dx, x1 - rxmin) && clip(dx, rxmax - x1) &&
      clip(-dy, y1 - rymin) && clip(dy, rymax - y1) && t0 <= t1
  }
}

/** Hilbert curve index — the sorted-sink clustering key
  * (reference S8/O1: sort_geoparquet_file_by_geometry, Hilbert order within
  * sort_extent; overturemaestro/data_downloader.py:235-245). */
object Hilbert {
  /** (x, y) in [0, 2^order) → distance along the Hilbert curve. */
  def xy2d(order: Int, xIn: Long, yIn: Long): Long = {
    var rx = 0L; var ry = 0L
    var d = 0L
    var x = xIn; var y = yIn
    var s = 1L << (order - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Hilbert index of a lat/lng within an extent, at `order` bits/axis. */
  def index(lat: Double, lng: Double, extXmin: Double, extYmin: Double,
            extXmax: Double, extYmax: Double, order: Int): Long = {
    val n = (1L << order).toDouble
    val fx = if (extXmax > extXmin) (lng - extXmin) / (extXmax - extXmin) else 0.0
    val fy = if (extYmax > extYmin) (lat - extYmin) / (extYmax - extYmin) else 0.0
    val x = math.min(math.max(math.floor(fx * n).toLong, 0L), (1L << order) - 1)
    val y = math.min(math.max(math.floor(fy * n).toLong, 0L), (1L << order) - 1)
    xy2d(order, x, y)
  }
}

/** Web-Mercator tile math — the raster↔vector tile primitive (fixed zoom
  * tile assignment per BASELINE.json north_star; standard OSM/slippy
  * formulas, floor-based, matching the SQL oracle exactly). */
object Tile {
  def tileX(lng: Double, zoom: Int): Long = {
    val n = 1L << zoom
    val x = math.floor((lng + 180.0) / 360.0 * n).toLong
    math.min(math.max(x, 0L), n - 1)
  }

  def tileY(lat: Double, zoom: Int): Long = {
    val n = 1L << zoom
    val latR = math.toRadians(lat)
    val y = math.floor((1.0 - math.log(math.tan(latR) + 1.0 / math.cos(latR)) / math.Pi) / 2.0 * n).toLong
    math.min(math.max(y, 0L), n - 1)
  }

  /** Inverse: tile → (lngMin, latMin, lngMax, latMax). */
  def tileBBox(x: Long, y: Long, zoom: Int): (Double, Double, Double, Double) = {
    val n = (1L << zoom).toDouble
    def lngOf(tx: Double) = tx / n * 360.0 - 180.0
    def latOf(ty: Double) = math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2 * ty / n))))
    (lngOf(x.toDouble), latOf((y + 1).toDouble), lngOf((x + 1).toDouble), latOf(y.toDouble))
  }
}

/** Geohash decode — port of the reference's parser semantics
  * (overturemaestro/_geohash_parser.py:28-58): base32 bit-interleave,
  * even bits = longitude, odd = latitude; returns (lngMin, latMin,
  * lngMax, latMax). */
object Geohash {
  private val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  def decodeBBox(gh: String): (Double, Double, Double, Double) = {
    var latMin = -90.0; var latMax = 90.0
    var lngMin = -180.0; var lngMax = 180.0
    var isLng = true
    gh.toLowerCase.foreach { c =>
      val idx = Base32.indexOf(c)
      require(idx >= 0, s"invalid geohash char '$c'")
      var bit = 4
      while (bit >= 0) {
        val b = (idx >> bit) & 1
        if (isLng) {
          val mid = (lngMin + lngMax) / 2
          if (b == 1) lngMin = mid else lngMax = mid
        } else {
          val mid = (latMin + latMax) / 2
          if (b == 1) latMin = mid else latMax = mid
        }
        isLng = !isLng
        bit -= 1
      }
    }
    (lngMin, latMin, lngMax, latMax)
  }

  def encode(lat: Double, lng: Double, precision: Int): String = {
    var latMin = -90.0; var latMax = 90.0
    var lngMin = -180.0; var lngMax = 180.0
    var isLng = true
    val sb = new StringBuilder
    var bits = 0; var ch = 0
    while (sb.length < precision) {
      if (isLng) {
        val mid = (lngMin + lngMax) / 2
        if (lng >= mid) { ch = (ch << 1) | 1; lngMin = mid }
        else { ch = ch << 1; lngMax = mid }
      } else {
        val mid = (latMin + latMax) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latMin = mid }
        else { ch = ch << 1; latMax = mid }
      }
      isLng = !isLng
      bits += 1
      if (bits == 5) { sb.append(Base32.charAt(ch)); bits = 0; ch = 0 }
    }
    sb.toString
  }
}
