package graft

import org.apache.spark.sql.functions._
import graft.geo._
import graft.operators.{CachePaths, Multimodal, SortedSink}
import java.nio.file.{Files, Paths}

/** F6/F7/F8/F9/F12 + S7/S8 parity pieces. */
class ParityExtrasSpec extends SparkTestBase {
  import spark.implicits._

  // ---- F6 canonical geometry hash ----
  test("canonical hash invariant to ring orientation, start rotation, part order") {
    val a = Wkt.parse("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))") // CCW from (0,0)
    val b = Wkt.parse("POLYGON ((4 4, 4 0, 0 0, 0 4, 4 4))") // CW, rotated start
    assert(Canonical.geometryHash(a) == Canonical.geometryHash(b))
    val m1 = Wkt.parse("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
    val m2 = Wkt.parse("MULTIPOLYGON (((5 5, 6 5, 6 6, 5 6, 5 5)), ((0 0, 1 0, 1 1, 0 1, 0 0)))")
    assert(Canonical.geometryHash(m1) == Canonical.geometryHash(m2))
    // different geometry → different hash
    val c = Wkt.parse("POLYGON ((0 0, 4 0, 4 4.0000002, 0 4, 0 0))")
    assert(Canonical.geometryHash(a) != Canonical.geometryHash(c))
    // rounding to 7 decimals: below-resolution jitter hashes equal
    val d = Wkt.parse("POLYGON ((0 0, 4.00000001 0, 4 4, 0 4, 0 0))")
    assert(Canonical.geometryHash(a) == Canonical.geometryHash(d))
    // EXACT-binary rounding (Python round() semantics): the literal
    // 1.5e-7 is binarily 1.4999…e-7 → rounds DOWN to 1e-7 (shortest-repr
    // BigDecimal saw "1.5e-7" and HALF_EVENed the wrong tie to 2e-7)
    val t1 = Wkt.parse("POLYGON ((0 0, 4 0, 4 4, 0 0.00000015, 0 0))")
    val t2 = Wkt.parse("POLYGON ((0 0, 4 0, 4 4, 0 0.0000001, 0 0))")
    assert(Canonical.geometryHash(t1) == Canonical.geometryHash(t2))
  }

  // ---- F12 cache paths ----
  test("cache path: deterministic, pair-order-independent multi hash") {
    val g = Wkb.box(0, 0, 1, 1)
    val p1 = CachePaths.resultPath("/c", "r1", "buildings", "building", g,
      Some("confidence>0.75"), Some(Seq("b", "a")), sorted = true)
    val p2 = CachePaths.resultPath("/c", "r1", "buildings", "building", g,
      Some("confidence>0.75"), Some(Seq("a", "b")), sorted = true)
    assert(p1 == p2) // column order irrelevant (sorted before hashing)
    assert(p1.endsWith("_sorted.parquet"))
    assert(CachePaths.multiPairHash(Seq("a" -> "x", "b" -> "y")) ==
      CachePaths.multiPairHash(Seq("b" -> "y", "a" -> "x")))
    assert(CachePaths.multiPairHash(Seq("a" -> "x")) !=
      CachePaths.multiPairHash(Seq("a" -> "y")))
    // mismatched per-pair params must fail loudly, not zip-truncate into
    // a colliding cache key
    intercept[IllegalArgumentException] {
      CachePaths.multiPairHash(Seq("a" -> "x", "b" -> "y", "c" -> "z"), Seq("p1", "p2"))
    }
  }

  // ---- F7/F8/F9/F10 filter inputs ----
  test("filter inputs: bbox string, geohash, native cell token, GeoJSON") {
    val bb = FilterInputs.fromBboxString("7.41, 43.73, 7.42, 43.74")
    assert(Wkb.envelope(bb) == ((7.41, 43.73, 7.42, 43.74)))
    val gh = FilterInputs.fromGeohash("u")
    assert(Wkb.envelope(gh) == ((0.0, 45.0, 45.0, 90.0)))
    val cellTok = java.lang.Long.toHexString(Cell.encode(43.73, 7.42, 10))
    val cb = FilterInputs.fromCellToken(cellTok)
    assert(Wkb.containsPoint(cb, 7.42, 43.73))
    val gj = FilterInputs.fromGeoJson(
      """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]],[[1,1],[2,1],[2,2],[1,2],[1,1]]]}}""")
    assert(Wkb.containsPoint(gj, 3, 3) && !Wkb.containsPoint(gj, 1.5, 1.5))
    val gjm = FilterInputs.fromGeoJson(
      """{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]],[[[9,9],[10,9],[10,10],[9,9]]]]}""")
    assert(Wkb.readPolygons(gjm).length == 2)
  }

  test("S2 cell polygon across the antimeridian: contains its center, not its antipode") {
    // a cell at lng 179.99 straddles ±180: the naive ring over raw atan2
    // longitudes described the COMPLEMENT band (excluded its own center,
    // contained lng 0)
    for ((lat, lng, lvl) <- Seq((-0.009, 179.99, 12), (0.013, -179.995, 10), (5.0, 180.0, 8))) {
      val id = S2Like.latLngToId(lat, lng, lvl)
      val wkb = S2Like.tokenToPolygonWkb(S2Like.idToToken(id))
      // the QUAD center (mean of the cell's own corners in shifted-lng
      // space) is guaranteed interior — the encoded query point can land
      // exactly on a cell edge/seam, which is ray-cast-ambiguous
      val vs = S2Like.cellVertices(id)
      val cLat = vs.map(_._1).sum / 4
      val sLngs = vs.map(v => if (v._2 < 0) v._2 + 360 else v._2)
      val cS = sLngs.sum / 4
      val cLng = if (cS > 180) cS - 360 else cS
      assert(Wkb.containsPoint(wkb, cLng, cLat), s"cell at ($lat,$lng,$lvl) must contain its center")
      assert(!Wkb.containsPoint(wkb, 0.0, cLat), s"cell at ($lat,$lng,$lvl) must not contain lng 0")
      val (xmin, _, xmax, _) = Wkb.envelope(wkb)
      assert(xmin >= -180.0 && xmax <= 180.0, "emitted lngs stay in [-180, 180]")
    }
    // seam-free cells unchanged: a plain polygon containing its center
    val wkb = S2Like.tokenToPolygonWkb(S2Like.idToToken(S2Like.latLngToId(43.73, 7.42, 14)))
    assert(Wkb.containsPoint(wkb, 7.42, 43.73))
  }

  test("S2-style tokens: encode/decode self-consistency at several levels") {
    val pts = Seq((43.73, 7.42), (-33.86, 151.2), (51.5, -0.1), (0.01, 0.01), (-80.0, 170.0))
    for ((lat, lng) <- pts; lvl <- Seq(4, 10, 16)) {
      val id = S2Like.latLngToId(lat, lng, lvl)
      assert(S2Like.level(id) == lvl)
      val token = S2Like.idToToken(id)
      assert(S2Like.tokenToId(token) == id) // token roundtrip
      // the cell quadrilateral contains the point (gnomonic cells are
      // near-planar at lvl>=4 away from face edges — ray-cast in lat/lng ok)
      val poly = S2Like.tokenToPolygonWkb(token)
      assert(Wkb.containsPoint(poly, lng, lat), s"($lat,$lng) lvl=$lvl token=$token")
      // re-encoding any interior sample at the same level gives the same id
      val (xmin, ymin, xmax, ymax) = Wkb.envelope(poly)
      assert(xmin < lng && lng < xmax && ymin < lat && lat < ymax)
    }
  }

  // ---- multimodal plumbing ----
  test("multimodal decode: typed dataset, deterministic stub features") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    val feats = Multimodal.decodeFeatures(media).cache()
    assert(feats.count() == docs.count())
    val f = feats.filter(_.id == 0L).head()
    assert(f.kind == "text/utf-8" && f.n_bytes > 0 && f.features.length == Multimodal.FeatureDim)
    // deterministic: same payload → same features on recompute
    val f2 = Multimodal.decodeFeatures(media).filter(_.id == 0L).head()
    assert(f.features.toSeq == f2.features.toSeq && f.width == f2.width)
    // schema carries typed metadata
    assert(feats.schema.fieldNames.toSeq ==
      Seq("id", "kind", "n_bytes", "width", "height", "pixel_sum", "features"))
    // NULL text decodes as an empty payload instead of NPE-ing the task
    val withNull = spark.createDataFrame(Seq((99L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val nf = Multimodal.decodeFeatures(Multimodal.mediaFromDocuments(withNull)).head()
    assert(nf.n_bytes == 0 && nf.features.length == Multimodal.FeatureDim)
  }

  test("multimodal resize + frame-sample stubs: shapes and determinism") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val media = Multimodal.mediaFromDocuments(docs)
    val resized = Multimodal.resize(media, targetBytes = 32).cache()
    assert(resized.count() == 50)
    resized.collect().foreach { r =>
      assert(r.payload.length <= 64, s"resize overshoot: ${r.payload.length}")
      assert(r.payload.nonEmpty)
    }
    val frames = Multimodal.sampleFrames(media, everyBytes = 40, frameLen = 16).cache()
    // one input row fans out to ceil(len/40) frames
    val byId = frames.collect().groupBy(_.id)
    val lens = media.collect().map(m => m.id -> m.payload.length).toMap
    byId.foreach { case (id, fs) =>
      assert(fs.length == math.max((lens(id) + 39) / 40, 1))
      assert(fs.forall(_.payload.length <= 16))
      assert(fs.map(_.frame_no).sorted.toSeq == (0 until fs.length))
    }
  }

  test("S2 deep-level anchors: the reference's real Monaco S2 tokens decode onto Monaco") {
    // tests/base/test_cli.py:429-442 filters Monaco with REAL S2 tokens
    // 12cdc28bc (level 15) and 12cdc28f (level 14). If the bit layout,
    // Hilbert orientation, or quadratic ST<->UV transform were wrong, these
    // tokens would decode to a different place on Earth entirely — landing
    // on the ~300 m Monaco cells is a deep-level fidelity check against
    // production S2, not mere self-consistency.
    val monaco = (7.416486, 43.731087, 7.421931, 43.733707) // conftest bbox (r6)
    val id15 = S2Like.tokenToId("12cdc28bc")
    assert(S2Like.level(id15) == 15)
    val (x0, y0, x1, y1) = Wkb.envelope(S2Like.tokenToPolygonWkb("12cdc28bc"))
    // the level-15 cell sits in central Monaco (sub-degree tolerance is
    // already diagnostic; assert the tight box it actually occupies)
    assert(x0 > 7.41 && x1 < 7.43 && y0 > 43.72 && y1 < 43.75,
      s"12cdc28bc decoded to ($x0,$y0,$x1,$y1)")
    val id14 = S2Like.tokenToId("12cdc28f")
    assert(S2Like.level(id14) == 14)
    val (a0, b0, a1, b1) = Wkb.envelope(S2Like.tokenToPolygonWkb("12cdc28f"))
    // overlaps the Monaco conftest bbox
    assert(a0 < monaco._3 && a1 > monaco._1 && b0 < monaco._4 && b1 > monaco._2,
      s"12cdc28f decoded to ($a0,$b0,$a1,$b1)")
    // encoding Monaco's center reproduces the same cell lineage
    assert(S2Like.idToToken(S2Like.latLngToId(43.7375, 7.4205, 15)) == "12cdc28bc")
  }

  test("S2 level-0 face cells match the documented S2 token anchors") {
    // in real S2, the six level-0 face cells have tokens 1,3,5,7,9,b and
    // contain the face-center directions
    val anchors = Seq(
      (0.0, 0.0, "1"), (0.0, 90.0, "3"), (89.9, 0.0, "5"),
      (0.0, 180.0, "7"), (0.0, -90.0, "9"), (-89.9, 0.0, "b"))
    anchors.foreach { case (lat, lng, token) =>
      assert(S2Like.idToToken(S2Like.latLngToId(lat, lng, 0)) == token,
        s"face cell for ($lat,$lng)")
    }
  }

  // ---- S8 sorted sink invariants ----
  test("hilbert-sorted sink: schema + row count preserved, file strictly smaller") {
    val pts = sources.DerivedTables.pages(spark, sfDir).select("page_id", "lat", "lng")
    val base = tmpPath("sink_test")
    // unsorted baseline in random-ish (hash) order to make clustering matter
    SortedSink.writeCompact(pts.repartition(4, col("page_id")), s"$base/plain")
    SortedSink.writeHilbertSorted(pts, s"$base/sorted", "lat", "lng",
      extent = (-180, -60, 180, 60), numFiles = 4)
    val plain = spark.read.parquet(s"$base/plain")
    val sorted = spark.read.parquet(s"$base/sorted")
    assert(sorted.schema == plain.schema)
    assert(sorted.count() == plain.count())
    def bytes(p: String): Long = Files.list(Paths.get(p)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    assert(bytes(s"$base/sorted") < bytes(s"$base/plain"),
      s"sorted=${bytes(s"$base/sorted")} plain=${bytes(s"$base/plain")}")
  }

  test("GeoParquet 1.1 covering: metadata paths, leaf pushdown, clustered spans") {
    import graft.operators.GeoParquetMeta
    val pts = sources.DerivedTables.pages(spark, sfDir)
      .select(col("page_id"), col("lat"), col("lng"))
    val dir = tmpPath("covering_test/pts")
    SortedSink.writeHilbertSortedCovering(pts, dir, "lat", "lng",
      extent = (-180, -60, 180, 60), numFiles = 4,
      primaryColumn = "bbox_only_demo", geometryTypes = Seq("Point"))
    // 1. spec-shaped covering metadata: ["bbox","xmin"] … paths present
    val geo = GeoParquetMeta.readGeo(spark, dir).get
    assert(geo.contains("\"covering\""), geo)
    Seq("xmin", "ymin", "xmax", "ymax").foreach { f =>
      assert(geo.contains(s""""$f":["bbox","$f"]"""), s"missing $f path in $geo")
    }
    // 2. a predicate on the covering LEAVES reaches the parquet scan as a
    // pushed filter — that is what row-group stats prune on
    val q = spark.read.parquet(dir).where(col("bbox.xmin") >= 90.0)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("bbox.xmin"),
      s"bbox leaf filter not pushed:\n$scan")
    // 3. correctness: leaf predicate ≡ the raw lng predicate
    val expected = pts.where(col("lng") >= 90.0).count()
    assert(q.count() == expected && expected > 0)
    // 4. the Hilbert layout makes the covering stats WORTH pruning on:
    // per-file x-spans are a strict fraction of the global extent
    import org.apache.spark.sql.functions.{input_file_name, max => smax, min => smin}
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((smax(col("bbox.xmax")) - smin(col("bbox.xmin"))).as("span"))
      .collect().map(_.getDouble(1))
    assert(spans.length == 4)
    val avgSpan = spans.sum / spans.length
    assert(avgSpan < 0.75 * 360.0,
      s"files not spatially clustered: spans=${spans.toSeq}")
  }

  test("GeoParquet footer stamp: geo metadata present, rows byte-identical, spark-readable") {
    import graft.operators.GeoParquetMeta
    val pts = sources.DerivedTables.pages(spark, sfDir)
      .select(col("page_id"), col("lat"), col("lng"),
        graft.functions.GeomConstructors.box_wkb(
          col("lng"), col("lat"), col("lng"), col("lat")).as("geometry"))
    val dir = tmpPath("geoparquet_test")
    SortedSink.writeCompact(pts.repartition(3), dir)
    def digest(): (Long, String) = {
      val d = spark.read.parquet(dir)
      val h = d.select(md5(concat_ws("|", col("page_id"),
        format_number(col("lat"), 7), format_number(col("lng"), 7),
        hex(col("geometry")))).as("h"))
        .agg(sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)")))
        .head().getDecimal(0).toString
      (d.count(), h)
    }
    val before = digest()
    // page-index state of the first part file pre-stamp (Spark writes
    // ColumnIndex/OffsetIndex by default; the stamp must preserve them)
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    def firstPart = Files.list(Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).map(_.toString).sorted.head
    def indexState(p: String): Seq[(String, Boolean, Boolean, Long)] = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.toSeq.flatMap(b =>
          b.getColumns.asScala.toSeq.map(c => (c.getPath.toDotString,
            r.readColumnIndex(c) != null, r.readOffsetIndex(c) != null,
            b.getRowCount)))
      } finally r.close()
    }
    val idxBefore = indexState(firstPart)
    assert(idxBefore.exists(_._2), "precondition: spark wrote column indexes")
    val bbox = GeoParquetMeta.bboxOfPoints(pts, "lat", "lng")
      .getOrElse(fail("bbox of non-empty input"))
    assert(GeoParquetMeta.bboxOfGeometry(pts) == Some(bbox)) // WKB envelope agrees
    assert(GeoParquetMeta.bboxOfPoints(pts.limit(0), "lat", "lng").isEmpty)
    val stamped = GeoParquetMeta.stampDirectory(spark, dir,
      geometryTypes = Seq("Polygon"), bbox = Some(bbox))
    assert(stamped == 3)
    // stamp preserved every row and value (order-independent digest)
    assert(digest() == before)
    // ... and the page indexes (ColumnIndex/OffsetIndex per chunk)
    assert(indexState(firstPart) == idxBefore)
    // geo entry parses to the spec shape
    val geo = GeoParquetMeta.readGeo(spark, dir).getOrElse(fail("no geo key"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(geo)
    assert(node.get("version").asText == GeoParquetMeta.SpecVersion)
    assert(node.get("primary_column").asText == "geometry")
    val gcol = node.get("columns").get("geometry")
    assert(gcol.get("encoding").asText == "WKB")
    assert(gcol.get("geometry_types").get(0).asText == "Polygon")
    assert(gcol.get("bbox").size == 4)
    assert(gcol.get("bbox").get(0).asDouble == bbox._1)
    // re-stamping is idempotent (replaces the geo key, keeps data)
    assert(GeoParquetMeta.stampDirectory(spark, dir) == 3)
    assert(digest() == before)
    // crash recovery: simulate a crash inside the non-atomic fallback
    // window (a part file left only as its .geo.bak, plus a stray
    // half-written .geo.tmp) — the next directory stamp must restore the
    // original under its real name, drop the orphan tmp, and stamp all 3
    val part = Paths.get(firstPart)
    val bak = part.getParent.resolve(s".${part.getFileName}.geo.bak")
    Files.move(part, bak)
    Files.deleteIfExists(part.getParent.resolve(s".${part.getFileName}.crc"))
    val strayTmp = part.getParent.resolve(s".${part.getFileName}.geo.tmp")
    Files.write(strayTmp, Array[Byte](1, 2, 3)) // truncated rewrite junk
    assert(GeoParquetMeta.stampDirectory(spark, dir) == 3)
    assert(Files.exists(part) && !Files.exists(bak) && !Files.exists(strayTmp))
    assert(digest() == before)
  }

  test("zstd compression level surface: level 22 output strictly smaller than level 3") {
    // reference parameterizes zstd 3..22 and pins zstd22 < zstd3
    // (tests/base/test_internals.py:56-83)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val base = tmpPath("zstd_test")
    SortedSink.writeCompact(docs.coalesce(1), s"$base/l3", compressionLevel = Some(3))
    SortedSink.writeCompact(docs.coalesce(1), s"$base/l22", compressionLevel = Some(22))
    def bytes(p: String): Long = Files.list(Paths.get(p)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    assert(bytes(s"$base/l22") < bytes(s"$base/l3"),
      s"l22=${bytes(s"$base/l22")} l3=${bytes(s"$base/l3")}")
    assert(spark.read.parquet(s"$base/l22").count() == docs.count())
  }
}
