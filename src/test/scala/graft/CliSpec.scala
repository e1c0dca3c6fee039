package graft


/** CLI argument surface (§3.3 parity: mutual exclusion, AND-folded filters,
  * projection, geometry formats). */
class CliSpec extends SparkTestBase {
  import spark.implicits._

  private def pagesPath: String = {
    val p = tmpPath("cli_pages")
    if (!new java.io.File(s"$p/_SUCCESS").exists())
      sources.DerivedTables.pages(spark, sfDir).write.mode("overwrite").parquet(p)
    p
  }

  test("mutually exclusive geometry filters rejected") {
    val e = intercept[IllegalArgumentException] {
      Cli.parseArgs(Array("--input", "x", "--output", "y",
        "--geom-filter-bbox", "0,0,1,1", "--geom-filter-geohash", "u"))
    }
    assert(e.getMessage.contains("Provided more than one geometry for filtering"))
  }

  test("unknown argument rejected; filter parsing types values") {
    intercept[IllegalArgumentException] {
      Cli.parseArgs(Array("--nope"))
    }
    val a = Cli.parseArgs(Array("--input", "i", "--output", "o",
      "--filter", "lang,==,en", "--filter", "page_id,>,1000"))
    assert(a.filters == Seq(("lang", "==", "en"), ("page_id", ">", 1000L)))
  }

  test("bbox + filters + columns end-to-end equals the direct pipeline") {
    val a = Cli.parseArgs(Array(
      "--input", pagesPath, "--output", "unused",
      "--geom-filter-bbox", "10.00005,20.00005,30.00005,40.00005",
      "--filter", "lang,==,en",
      "--columns", "lat,lng,lang"))
    val got = Cli.run(spark, a)
    // bbox path short-circuits refine (P5): plain strict bbox + predicate
    val exp = sources.DerivedTables.pages(spark, sfDir)
      .where($"lng" > 10.00005 && $"lng" < 30.00005 && $"lat" > 20.00005 && $"lat" < 40.00005)
      .where($"lang" === "en")
    assert(got.count() == exp.count())
    assert(exp.count() > 0)
    // projection auto-added id + geometry
    assert(got.columns.contains("id") && got.columns.contains("geometry"))
    assert(got.columns.toSet.intersect(Set("lat", "lng", "lang")) == Set("lat", "lng", "lang"))
  }

  test("geohash and s2 geometry formats run end-to-end") {
    for (geomArgs <- Seq(
      Array("--geom-filter-geohash", "6"), // lng [-135,-90], lat [0,45] — overlaps pages extent
      Array("--geom-filter-s2", graft.geo.S2Like.idToToken(
        graft.geo.S2Like.latLngToId(30.0, -100.0, 4))))) {
      val a = Cli.parseArgs(Array("--input", pagesPath, "--output", "unused") ++ geomArgs)
      val n = Cli.run(spark, a).count()
      assert(n > 0, s"${geomArgs(0)} produced no rows")
    }
  }

  test("--geom-filter-file: GeoJSON FeatureCollection unions features; composes with --filter/--columns") {
    // two disjoint boxes as a FeatureCollection (one feature geometry null)
    val f = java.nio.file.Files.createTempFile("geofilter", ".geojson")
    java.nio.file.Files.writeString(f,
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{},"geometry":{"type":"Polygon","coordinates":[[[10.00005,20.00005],[30.00005,20.00005],[30.00005,40.00005],[10.00005,40.00005],[10.00005,20.00005]]]}},
        |{"type":"Feature","properties":{"note":"no geom"},"geometry":null},
        |{"type":"Feature","properties":{},"geometry":{"type":"Polygon","coordinates":[[[-60.00005,-40.00005],[-40.00005,-40.00005],[-40.00005,-20.00005],[-60.00005,-20.00005],[-60.00005,-40.00005]]]}}
        |]}""".stripMargin)
    val a = Cli.parseArgs(Array("--input", pagesPath, "--output", "unused",
      "--geom-filter-file", f.toString,
      "--filter", "lang,==,en", "--columns", "lat,lng,lang"))
    val got = Cli.run(spark, a)
    val base = sources.DerivedTables.pages(spark, sfDir).where($"lang" === "en")
    val inBox1 = base.where($"lng" > 10.00005 && $"lng" < 30.00005 &&
      $"lat" > 20.00005 && $"lat" < 40.00005).count()
    val inBox2 = base.where($"lng" > -60.00005 && $"lng" < -40.00005 &&
      $"lat" > -40.00005 && $"lat" < -20.00005).count()
    assert(inBox1 > 0 && inBox2 > 0, "fixture boxes must both hit data")
    assert(got.count() == inBox1 + inBox2)
    assert(got.columns.contains("id") && got.columns.contains("geometry"))
    // WKT file variant: one geometry per line, unioned the same way
    val w = java.nio.file.Files.createTempFile("geofilter", ".wkt")
    java.nio.file.Files.writeString(w,
      "POLYGON ((10.00005 20.00005, 30.00005 20.00005, 30.00005 40.00005, 10.00005 40.00005, 10.00005 20.00005))\n" +
        "POLYGON ((-60.00005 -40.00005, -40.00005 -40.00005, -40.00005 -20.00005, -60.00005 -20.00005, -60.00005 -40.00005))\n")
    val aw = Cli.parseArgs(Array("--input", pagesPath, "--output", "unused",
      "--geom-filter-file", w.toString, "--filter", "lang,==,en"))
    assert(Cli.run(spark, aw).count() == inBox1 + inBox2)
    // mutual exclusion holds for the file form too
    val e = intercept[IllegalArgumentException] {
      Cli.parseArgs(Array("--input", "x", "--output", "y",
        "--geom-filter-file", f.toString, "--geom-filter-bbox", "0,0,1,1"))
    }
    assert(e.getMessage.contains("Provided more than one geometry for filtering"))
    // unreadable content fails with the reference's wording
    val bad = java.nio.file.Files.createTempFile("geofilter", ".txt")
    java.nio.file.Files.writeString(bad, "not a geometry")
    assert(intercept[IllegalArgumentException] {
      graft.geo.FilterInputs.fromFile(bad.toString)
    }.getMessage.contains("Cannot parse provided geo file"))
  }

  test("reference mode: positional theme/type, default sorted cache path, --no-sort, cache reuse") {
    import graft.operators.CachePaths
    import graft.geo.Wkb
    // theme/type positionals + geometry → reference mode; output defaults
    // to the byte-parity cache path and sorting defaults ON
    val base = Array("buildings", "building", "--input", pagesPath,
      "--geom-filter-bbox", "10.00005,20.00005,30.00005,40.00005",
      "--release", "2024-08-20.0", "--working-directory", tmpPath("cli_refmode"))
    val a = Cli.parseArgs(base)
    assert(a.referenceMode && a.sort && a.output == null)
    val expected = CachePaths.resultPath(
      tmpPath("cli_refmode"), "2024-08-20.0", "buildings", "building",
      Wkb.box(10.00005, 20.00005, 30.00005, 40.00005), None, None, sorted = true)
    assert(a.resolvedOutput == expected)
    assert(expected.endsWith("_nofilter_sorted.parquet") &&
      expected.contains("/2024-08-20.0/theme=buildings/type=building/"))
    // --no-sort flips the suffix; a filter changes the filename hash part
    val ns = Cli.parseArgs(base ++ Array("--no-sort", "--filter", "lang,==,en"))
    assert(!ns.sort && ns.resolvedOutput.endsWith(".parquet") &&
      !ns.resolvedOutput.contains("_sorted") && !ns.resolvedOutput.contains("nofilter"))
    // end-to-end: write lands at the cache path; re-run with cache reuses
    val out = Cli.run(spark, a)
    Cli.write(spark, out, a)
    assert(new java.io.File(s"$expected/_SUCCESS").exists())
    assert(spark.read.parquet(expected).count() == out.count() && out.count() > 0)
    // theme/type positionals prune a partition-columned features input
    val featsPath = tmpPath("cli_feats")
    if (!new java.io.File(s"$featsPath/_SUCCESS").exists())
      sources.DerivedTables.polygons(spark, sfDir).write.mode("overwrite").parquet(featsPath)
    val af = Cli.parseArgs(Array("buildings", "building", "--input", featsPath,
      "--geom-filter-bbox", "-179.0,-89.0,179.0,89.0",
      "--release", "2024-08-20.0", "--working-directory", tmpPath("cli_refmode2")))
    val rf = Cli.run(spark, af)
    import org.apache.spark.sql.functions.col
    assert(rf.where(col("theme") =!= "buildings" || col("type") =!= "building").count() == 0)
    val expRows = sources.DerivedTables.polygons(spark, sfDir)
      .where(col("theme") === "buildings" && col("type") === "building").count()
    assert(rf.count() == expRows && expRows > 0)
    // missing geometry in reference mode → the reference's UsageError text
    val e = intercept[IllegalArgumentException] {
      Cli.parseArgs(Array("base", "water", "--input", "x"))
    }
    assert(e.getMessage.startsWith(
      "OvertureMaestro requires theme, type and a geometry filter"))
    // unsupported release rejected up front
    intercept[graft.sources.Releases.ReleaseVersionNotSupportedError] {
      Cli.parseArgs(Array("buildings", "building", "--input", "x",
        "--geom-filter-bbox", "0,0,1,1", "--release", "2024-03-12-alpha.0"))
    }
  }

  test("release gate + --show-theme-type-pairs (reference parity)") {
    import graft.sources.Releases
    // _check_release_version cases (test_release_indexes.py:20-32)
    val e = intercept[Releases.ReleaseVersionNotSupportedError] {
      Releases.checkReleaseVersion("2024-03-12-alpha.0")
    }
    assert(e.getMessage ==
      "Release version 2024-03-12-alpha.0 is not supported." +
        " Minimal supported version is 2024-04-16-beta.0.")
    Releases.checkReleaseVersion(Releases.MinimalSupported) // no raise
    Releases.checkReleaseVersion("2024-08-20.0") // no raise
    // pair catalog follows the release's classification (land_cover only
    // from 2024-05-16-beta.0 on)
    assert(Releases.availableThemeTypePairs().contains(("base", "land_cover")))
    assert(!Releases.availableThemeTypePairs("2024-04-16-beta.0")
      .contains(("base", "land_cover")))
    // the registry rejects unsupported releases up front
    intercept[Releases.ReleaseVersionNotSupportedError] {
      graft.operators.WideFormRegistry.forRelease("2024-03-12-alpha.0")
    }
    // CLI listing: no --input/--output required, pairs printed per release
    val a = Cli.parseArgs(Array("--show-theme-type-pairs", "2024-08-20.0"))
    assert(a.showPairs.contains("2024-08-20.0"))
    val out = Cli.showThemeTypePairs("2024-08-20.0")
    assert(out.startsWith("2024-08-20.0 release"))
    assert(out.contains("transportation segment") && out.contains("places place"))
    // bare flag defaults to the newest known release
    assert(Cli.parseArgs(Array("--show-theme-type-pairs"))
      .showPairs.contains(Releases.NewestKnown))
  }

  test("--geoparquet stamps the output with a bbox bounding the stored geometries") {
    import graft.operators.GeoParquetMeta
    val outDir = tmpPath("cli_geoparquet")
    val a = Cli.parseArgs(Array("--input", pagesPath, "--output", outDir,
      "--geom-filter-bbox", "10.00005,20.00005,30.00005,40.00005", "--geoparquet"))
    val out = Cli.run(spark, a)
    Cli.write(spark, out, a)
    val geo = GeoParquetMeta.readGeo(spark, outDir).getOrElse(fail("no geo key"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(geo)
    assert(node.get("primary_column").asText == "geometry")
    // the stamped bbox bounds the OUTPUT geometries (== computed from them)
    val b = node.get("columns").get("geometry").get("bbox")
    val expected = GeoParquetMeta.bboxOfGeometry(spark.read.parquet(outDir)).get
    assert((b.get(0).asDouble, b.get(1).asDouble, b.get(2).asDouble, b.get(3).asDouble)
      == expected)
    assert(spark.read.parquet(outDir).count() == out.count())
  }
}
