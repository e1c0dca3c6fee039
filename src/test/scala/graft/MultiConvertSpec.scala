package graft

import org.apache.spark.sql.functions._
import graft.operators.{MultiConvert, WideForm, WideFormVocabulary}
import graft.geo.Wkb

/** Multi-(theme,type) orchestration + release-stable vocabulary index. */
class MultiConvertSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val feats = {
    // two "types" of features over a lat/lng grid with a category hierarchy
    (0L until 2000L).map { i =>
      val lat = -10.0 + (i % 40) * 0.5
      val lng = -10.0 + (i / 40) * 0.5
      val tpe = if (i % 2 == 0) "building" else "place"
      val cat = Seq("food", "retail", "park")((i % 3).toInt)
      val sub = if (i % 5 == 0) null else s"sub${i % 4}"
      (i, lat, lng, tpe, cat, sub)
    }.toDF("id", "lat", "lng", "ftype", "cat", "sub")
      .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
        col("lng").as("xmax"), col("lat").as("ymax")))
      .withColumn("geometry", to_binary(lit("01"), lit("hex")))
      .cache()
  }

  private val box = Wkb.box(-5.25, -5.25, 5.25, 5.25)

  test("convertMultiple: per-pair filters/columns, outputs in input order") {
    val outs = MultiConvert.convertMultiple(
      Seq("base" -> "building", "base" -> "place"),
      source = (_, tpe) => feats.where(col("ftype") === tpe),
      filterWkb = box,
      pyarrowFilters = Some(Seq(Some(Seq(Seq(("cat", "==", "food")))), None)),
      columns = Some(Seq(Some(Seq("lat", "lng", "cat")), None)))
    assert(outs.length == 2)
    val a = outs(0).collect()
    assert(a.nonEmpty)
    assert(outs(0).columns.toSeq.contains("id")) // auto-added key
    // pair 0: only 'food', only buildings, inside the box
    assert(outs(0).select("cat").distinct().as[String].collect().toSeq == Seq("food"))
    val b = outs(1)
    assert(b.where(col("ftype") =!= "place").count() == 0)
    assert(b.where(col("lng") < -5.25 || col("lng") > 5.25).count() == 0)
  }

  test("convertMultiple validates per-pair list lengths (reference error text)") {
    val e1 = intercept[IllegalArgumentException] {
      MultiConvert.convertMultiple(Seq("a" -> "b", "c" -> "d"),
        (_, _) => feats, box, pyarrowFilters = Some(Seq(None)))
    }
    assert(e1.getMessage == "Pyarrow filters length doesn't match length of theme type pairs.")
    val e2 = intercept[IllegalArgumentException] {
      MultiConvert.convertMultiple(Seq("a" -> "b"),
        (_, _) => feats, box, columns = Some(Seq(None, None)))
    }
    assert(e2.getMessage == "Columns to download length doesn't match length of theme type pairs.")
    val e3 = intercept[IllegalArgumentException] {
      MultiConvert.convertMultipleWide(Seq("a" -> "b"), (_, _) => feats, box,
        Seq("id"), (_, _) => Seq("cat"), (_, _) => feats,
        hierarchyDepths = Some(Seq(None, None)))
    }
    assert(e3.getMessage == "Hierarchy depth list length doesn't match length of theme type pairs.")
  }

  test("vocabulary index: persist/load roundtrip + content hashes") {
    val vb = WideFormVocabulary.build(feats.where(col("ftype") === "building"), Seq("cat", "sub"))
    val vp = WideFormVocabulary.build(feats.where(col("ftype") === "place"), Seq("cat", "sub"))
    val idx = WideFormVocabulary.persist(tmpPath("vocab_test"), "r1",
      Seq(("base", "building", vb), ("base", "place", vp)))
    val json = java.nio.file.Files.readString(idx)
    assert(json.contains("\"theme\":\"base\"") && json.contains("\"sha\":\""))
    val loaded = WideFormVocabulary.load(spark, tmpPath("vocab_test"), "r1", "base", "building")
    assert(loaded.collect().toSet == vb.collect().toSet)
    assert(WideFormVocabulary.contentSha(loaded) == WideFormVocabulary.contentSha(vb))
  }

  test("wide pivot with global vocabulary is column-stable across disjoint regions") {
    val vocab = WideFormVocabulary.build(feats, Seq("cat", "sub"))
    val (useCols, combos) = WideFormVocabulary.combos(vocab, Seq("cat", "sub"), "base", "building")
    def regionCols(xmin: Double, xmax: Double): Seq[String] =
      WideForm.pivotHierarchy(
        feats.where(col("lng") >= xmin && col("lng") < xmax),
        Seq("id"), Seq("base", "building"), useCols, Some(combos)).columns.toSeq
    val west = regionCols(-10, -5)
    val east = regionCols(5, 10)
    assert(west == east)
    assert(west.length > 3)
    // without a vocabulary, a region missing a combo yields different columns
    val westObs = WideForm.pivotHierarchy(
      feats.where(col("lng") >= -10 && col("lng") < -9.9),
      Seq("id"), Seq("base", "building"), Seq("cat", "sub"), None).columns.toSeq
    assert(westObs.length <= west.length)
  }

  test("convertMultipleWide: e2e combine matches per-pair pivots + false-fill") {
    val vocab = WideFormVocabulary.build(feats, Seq("cat"))
    val wide = MultiConvert.convertMultipleWide(
      Seq("base" -> "building", "base" -> "place"),
      source = (_, tpe) => feats.where(col("ftype") === tpe),
      filterWkb = box,
      keyCols = Seq("id"),
      hierarchyColsOf = (_, _) => Seq("cat"),
      vocabOf = (_, _) => vocab,
      hierarchyDepths = Some(Seq(None, Some(0))))
    // building gets cat columns; place clipped to depth 0 → presence column
    val cols = wide.columns.toSet
    assert(cols.contains("base|building|food") && cols.contains("base|place"))
    // false-fill: a building row has base|place = false
    val r = wide.where(col("base|building|food")).limit(1).collect()(0)
    assert(!r.getAs[Boolean]("base|place"))
    // row count = union of both pairs inside the box
    val inBox = feats.where(col("lng") > -5.25 && col("lng") < 5.25 &&
      col("lat") > -5.25 && col("lat") < 5.25).count()
    assert(wide.count() == inBox)
  }

  test("convertMultipleWideDefs routes each pair through its WideFormDefinition") {
    import graft.operators.{HierarchyWideForm, PoiWideForm}
    val poiFeats = feats.where(col("ftype") === "place")
      .withColumn("confidence", when(col("id") % 7 === 0, 0.2).otherwise(0.9))
      .withColumn("categories",
        struct(col("cat").as("primary"), array().cast("array<string>").as("alternate")))
    val wide = MultiConvert.convertMultipleWideDefs(
      Seq(HierarchyWideForm("base", "building", Seq("cat")),
        PoiWideForm(categories = Seq("food", "park", "retail"))),
      source = (_, tpe) =>
        if (tpe == "building") feats.where(col("ftype") === "building") else poiFeats,
      filterWkb = box, keyCols = Seq("id"))
    val cols = wide.columns.toSet
    assert(cols.contains("base|building|food") && cols.contains("places|place|park"))
    // PoiWideForm's quality predicate participated: low-confidence places dropped
    val inBox = (df: org.apache.spark.sql.DataFrame) =>
      df.where(col("lng") > -5.25 && col("lng") < 5.25 &&
        col("lat") > -5.25 && col("lat") < 5.25).count()
    val expected = inBox(feats.where(col("ftype") === "building")) +
      inBox(poiFeats.where(col("confidence") >= 0.75))
    assert(wide.count() == expected)
  }

  test("release registry: the three reference override cases (wide_form.py:603-616)") {
    import graft.operators.WideFormRegistry
    // transportation gained `subclass` in 2024-08-20.0
    assert(WideFormRegistry.definition("transportation", "segment", "2024-09-18.0")
      .hierarchyColumns == Seq("subtype", "class", "subclass"))
    assert(WideFormRegistry.definition("transportation", "segment", "2024-07-22.0")
      .hierarchyColumns == Seq("subtype", "class"))
    // buildings was class-only before 2024-05-16-beta.0
    assert(WideFormRegistry.definition("buildings", "building", "2024-04-16-beta.0")
      .hierarchyColumns == Seq("class"))
    assert(WideFormRegistry.definition("buildings", "building", "2024-05-16-beta.0")
      .hierarchyColumns == Seq("subtype", "class"))
    // base/land_cover didn't exist before 2024-05-16-beta.0
    assert(intercept[NoSuchElementException] {
      WideFormRegistry.definition("base", "land_cover", "2024-04-16-beta.0")
    }.getMessage.contains("land_cover"))
    assert(WideFormRegistry.forRelease("2024-05-16-beta.0").contains(("base", "land_cover")))
    // the boundary releases themselves get the NEW definitions (strict <)
    assert(WideFormRegistry.definition("transportation", "segment", "2024-08-20.0")
      .hierarchyColumns == Seq("subtype", "class", "subclass"))
  }

  test("convertMultipleWideForRelease pivots with the release's hierarchy columns") {
    val segs = (0L until 200L).map { i =>
      val lat = -2.0 + (i % 20) * 0.2
      val lng = -2.0 + (i / 20) * 0.2
      (i, lat, lng, Seq("road", "rail")((i % 2).toInt), s"c${i % 3}", s"sc${i % 2}")
    }.toDF("id", "lat", "lng", "subtype", "class", "subclass")
      .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
        col("lng").as("xmax"), col("lat").as("ymax")))
      .withColumn("geometry", to_binary(lit("01"), lit("hex")))
    def depths(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.columns.filter(_.startsWith("transportation|")).map(_.count(_ == '|')).toSet
    val recent = MultiConvert.convertMultipleWideForRelease(
      Seq("transportation" -> "segment"), "2024-09-18.0",
      (_, _) => segs, box, Seq("id"))
    val old = MultiConvert.convertMultipleWideForRelease(
      Seq("transportation" -> "segment"), "2024-07-22.0",
      (_, _) => segs, box, Seq("id"))
    // recent release: finest combos carry 3 hierarchy levels (4 separators);
    // pre-2024-08-20.0: subclass never appears (max 3 separators)
    assert(depths(recent).max == 4 && recent.columns.contains("transportation|segment|road|c0|sc0"))
    assert(depths(old).max == 3 && old.columns.contains("transportation|segment|road|c0"))
    assert(old.columns.forall(!_.contains("|sc")))
    // unknown-for-release pair fails before any Spark job
    intercept[NoSuchElementException] {
      MultiConvert.convertMultipleWideForRelease(
        Seq("base" -> "land_cover"), "2024-04-16-beta.0", (_, _) => segs, box, Seq("id"))
    }
  }
}
