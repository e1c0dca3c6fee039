package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.geofunctions._
import graft.functions.GeomConstructors._
import graft.operators._
import graft.sources.DerivedTables._

/** Driver contract (see the build brief): `queries` = one entry per
  * implemented operator (SURVEY.md §2 + training-data ops), `oracleSql` =
  * DuckDB-portable ANSI SQL producing identical rows (identical column
  * names, deterministic ORDER BY) for every SQL-expressible query.
  *
  * Oracle-portability rules used throughout (see sources/DerivedTables):
  * integer arithmetic + IEEE doubles with identical expression shape on
  * both sides; money sums as exact integer cents; boundaries offset off
  * the coordinate grid so strict/closed predicate differences can't bite.
  */
object SparkEntry {

  /** The flagship smoke dataset — shared with Smoke's invariant probes so
    * the byte-identity check always reads the same data as the pipeline. */
  final val EntrySfDir = "/root/testdata/sf0.001"

  /** Flagship on sf0.001: geotagged pages → cell-partitioned spatial join
    * vs theme polygons → exact ray-cast refine → tile assignment (z12). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = EntrySfDir
    val joined = SpatialJoin.pointsInPolygons(
      pages(spark, dir), polygons(spark, dir), res = 5)
    joined
      .withColumn("tile_x", tile_x(col("lng"), 12))
      .withColumn("tile_y", tile_y(col("lat"), 12))
      .select("url", "warc_ts", "text", "lang", "poly_id", "theme", "tile_x", "tile_y")
  }

  // ---------------------------------------------------------------- helpers

  private def li(s: SparkSession, d: String) = lineitem(s, d)
  /** exact money-cents: round(x*100) as long — same on both engines */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** `df` in the deterministic total order of `keys`: the same rows in the
    * same order as `orderBy(keys)`, which the oracle compares against.
    *
    *  - A plain `orderBy` makes the range partitioner SAMPLE its child, so
    *    the child runs once for the sampling pass and again for the output
    *    pass, for an order that exists only for determinism. The lazy local
    *    checkpoint lets both passes read the same blocks, so the child (an
    *    exact-verify join, a codec, a label join) runs once.
    *  - The partition count is pinned (`defaultParallelism`) because AQE
    *    coalesces a small range shuffle to ONE partition, and a projection
    *    kept above this helper would then run single-threaded (measured on
    *    d_c4_filter: 5.8 s coalesced vs ~1 s wide). AQE honours explicit
    *    repartition counts. So an expensive per-row projection goes ABOVE
    *    the helper and runs once, in parallel, over sorted narrow rows.
    *
    * Range partitions come out in key order and rows are sorted within
    * each, so the global order equals `orderBy(keys)` only when the keys
    * are unique, as every catalog sort key is. Under AQE the checkpoint
    * runs the child's shuffle stages when the query is built. Its blocks
    * are not in the `CacheManager`; the ContextCleaner frees them once the
    * result is unreachable. */
  private def sortedResult(df: DataFrame, keys: Column*): DataFrame =
    df.localCheckpoint(eager = false)
      .repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
      .sortWithinPartitions(keys: _*)

  private val havSql = graft.sources.DerivedTables.haversineSql(
    "q.qlat", "q.qlng", "p.lat", "p.lng")

  /** Deterministic messy-URL synthesis from (doc_id, source): the
    * documents fixture has no URL column, so both the Spark queries and
    * the DuckDB oracle build the SAME raw string (mixed-case scheme/host,
    * www + deeper subdomains, default and non-default ports, trailing
    * slash, unsorted query with a utm_ tracker, fragment) and
    * canonicalize it independently. */
  private def messyUrl: Column = concat(
    when(col("doc_id") % 3 === 0, lit("HTTPS://"))
      .when(col("doc_id") % 3 === 1, lit("http://"))
      .otherwise(lit("https://")),
    when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), lit(".Example"),
    when(col("doc_id") % 5 === 0, lit(".CO.UK")).otherwise(lit(".COM")),
    when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
    lit("/Docs/"), col("doc_id").cast("string"),
    when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"), lit("&a=1"),
    when(col("doc_id") % 2 === 1, lit("#sec2")).otherwise(lit("")))

  /** DuckDB twin of [[messyUrl]]. Interpolated into stripMargin oracle
    * strings, so NO line may start with `|` (a leading `||` would lose
    * its first pipe to the margin stripper) — concatenation operators sit
    * at end-of-line. */
  private val messyUrlSql: String =
    """CASE doc_id % 3 WHEN 0 THEN 'HTTPS://' WHEN 1 THEN 'http://' ELSE 'https://' END ||
      |CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END ||
      |source || '.Example' ||
      |CASE WHEN doc_id % 5 = 0 THEN '.CO.UK' ELSE '.COM' END ||
      |CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
      |'/Docs/' || CAST(doc_id AS VARCHAR) ||
      |CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
      |'?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1' ||
      |CASE WHEN doc_id % 2 = 1 THEN '#sec2' ELSE '' END""".stripMargin

  /** DuckDB re-implementation of the UrlOps canonicalization recipe (CTE
    * body over a `raw(doc_id, url)` relation) — regexes are ANCHORED so
    * DuckDB's replace-first and Spark's replace-all semantics coincide. */
  private val urlPartsSql: String =
    """parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS sch,
      |    regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\-]*://', ''), '#.*$', '') AS nf
      |  FROM raw
      |), parts2 AS (
      |  SELECT *, regexp_replace(regexp_extract(nf, '^([^/?]*)', 1), '^.*@', '') AS hp,
      |            regexp_replace(nf, '^[^/?]*', '') AS pathq
      |  FROM parts
      |), parts3 AS (
      |  SELECT *,
      |    regexp_replace(lower(regexp_replace(hp, ':[0-9]+$', '')), '\.$', '') AS host,
      |    regexp_extract(hp, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(regexp_replace(pathq, '\?.*$', ''), '/+$', '') AS path,
      |    regexp_extract(nf, '\?(.*)$', 1) AS q
      |  FROM parts2
      |), parts4 AS (
      |  SELECT *,
      |    array_to_string(list_sort(list_filter(string_split(q, '&'),
      |      p -> len(p) > 0 AND NOT (starts_with(lower(p), 'utm_')
      |        OR starts_with(lower(p), 'fbclid') OR starts_with(lower(p), 'gclid')))), '&') AS cq,
      |    CASE WHEN port <> '' AND NOT ((sch = 'http' AND port = '80')
      |      OR (sch = 'https' AND port = '443')) THEN ':' || port ELSE '' END AS cport,
      |    string_split(regexp_replace(lower(regexp_replace(hp, ':[0-9]+$', '')), '\.$', ''), '.') AS hl
      |  FROM parts3
      |), canon AS (
      |  SELECT doc_id,
      |    sch || '://' || host || cport || path ||
      |      CASE WHEN len(cq) > 0 THEN '?' || cq ELSE '' END AS url_canon,
      |    CASE WHEN len(hl) >= 3 AND (hl[-2] || '.' || hl[-1]) IN
      |           ('co.uk', 'org.uk', 'gov.uk', 'ac.uk', 'co.jp', 'com.au', 'com.br')
      |         THEN hl[-3] || '.' || hl[-2] || '.' || hl[-1]
      |         WHEN len(hl) >= 2 THEN hl[-2] || '.' || hl[-1]
      |         ELSE host END AS domain
      |  FROM parts4
      |)""".stripMargin

  // ------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ===== TPC-H-style relational core (scan/filter/agg/join/window/set) =====
    "q1_agg" -> ((s, d) => {
      li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q3_topk" -> ((s, d) => {
      val o = orders(s, d); val c = customer(s, d)
      li(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c.where(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    "q5_multijoin" -> ((s, d) => {
      li(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    "q_semi_join" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d).where(col("o_totalprice") > 100000)
          .select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_anti_join" -> ((s, d) => {
      customer(s, d)
        .join(orders(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders(s, d)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2 && col("o_custkey") % 100 === 0)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    "q_distinct_hier" -> ((s, d) => {
      part(s, d).select(col("p_brand"), col("p_type")).distinct()
        .orderBy(col("p_brand"), col("p_type"))
    }),

    "q_union" -> ((s, d) => {
      customer(s, d).select(col("c_nationkey").cast("long").as("nationkey"))
        .union(supplier(s, d).select(col("s_nationkey").cast("long").as("nationkey")))
        .distinct().orderBy(col("nationkey"))
    }),

    "q_wide_pivot" -> ((s, d) => {
      // wide-form boolean pivot (reference F2 semantics) on p_brand ∈ 5 brands
      val brands = Seq("Brand#1", "Brand#2", "Brand#3", "Brand#4", "Brand#5")
      val pivots = brands.map(b =>
        coalesce(col("p_brand") === lit(b), lit(false)).as(s"part|${b.toLowerCase}"))
      part(s, d).select((col("p_partkey") +: pivots): _*).orderBy(col("p_partkey"))
    }),

    "q_percentile" -> ((s, d) => {
      // continuous percentiles (linear interpolation) over exact cents
      orders(s, d).join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)").as("p50"),
          expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.9)").as("p90"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_rollup" -> ((s, d) => {
      // grouping sets (rollup) over the 2-level region/nation hierarchy
      supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"), sum(cents(col("s_acctbal"))).as("acctbal_cents"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    "q_intersect" -> ((s, d) => {
      customer(s, d).select(col("c_nationkey").cast("long").as("nationkey"))
        .intersect(supplier(s, d).select(col("s_nationkey").cast("long").as("nationkey")))
        .orderBy(col("nationkey"))
    }),

    "q_except" -> ((s, d) => {
      // nations with customers but no suppliers
      customer(s, d).select(col("c_nationkey").cast("long").as("nationkey"))
        .except(supplier(s, d).select(col("s_nationkey").cast("long").as("nationkey")))
        .orderBy(col("nationkey"))
    }),

    "q_wide_combine" -> ((s, d) => {
      // U2 parity e2e: two per-"type" wide frames → unionByName + fill(false)
      val p = part(s, d)
      val a = WideForm.pivotHierarchy(p.where(col("p_size") <= 25), Seq("p_partkey"),
        Seq("small"), Seq("p_type"), vocabulary = Some(Seq(Seq(Some("ECONOMY")), Seq(Some("STANDARD")))))
      val b = WideForm.pivotHierarchy(p.where(col("p_size") > 25), Seq("p_partkey"),
        Seq("large"), Seq("p_type"), vocabulary = Some(Seq(Seq(Some("ECONOMY")), Seq(Some("PROMO")))))
      WideForm.combineWide(Seq(a, b), nonBoolCols = Set("p_partkey"))
        .orderBy(col("p_partkey"))
    }),

    "q_wide_vocab" -> ((s, d) => {
      // release-stable wide columns: vocabulary = GLOBAL distinct hierarchy
      // combos (the whole table), pivot applied to a REGION subset — the
      // oracle's literal column list proves region-independence of schema
      val all = part(s, d)
      val vocab = WideFormVocabulary.build(all, Seq("p_type"))
      val (useCols, combos) = WideFormVocabulary.combos(vocab, Seq("p_type"), "part", "type")
      WideForm.pivotHierarchy(all.where(col("p_size") <= 10), Seq("p_partkey"),
        Seq("part", "type"), useCols, vocabulary = Some(combos))
        .orderBy(col("p_partkey"))
    }),

    "q_wide_release" -> ((s, d) => {
      // release-versioned wide-form registry end-to-end (reference
      // wide_form.py:603-616): the SAME source converted under a recent
      // release (3-level transportation hierarchy) and a pre-2024-08-20.0
      // release (2-level) yields different wide columns; combineWide
      // unions the two with missing booleans coalesced to false
      val segs = pages(s, d).select(
          col("page_id").as("id"), col("lat"), col("lng"),
          element_at(array(lit("road"), lit("rail")),
            (col("page_id") % 2).cast("int") + 1).as("subtype"),
          concat(lit("c"), (col("page_id") % 3).cast("string")).as("class"),
          concat(lit("sc"), (col("page_id") % 5).cast("string")).as("subclass"))
        .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
          col("lng").as("xmax"), col("lat").as("ymax")))
        .withColumn("geometry", to_binary(lit("01"), lit("hex")))
      val box = graft.geo.Wkb.box(10.00005, 20.00005, 30.00005, 40.00005)
      val recent = MultiConvert.convertMultipleWideForRelease(
        Seq("transportation" -> "segment"), "2024-09-18.0", (_, _) => segs, box, Seq("id"))
      val old = MultiConvert.convertMultipleWideForRelease(
        Seq("transportation" -> "segment"), "2024-07-22.0", (_, _) => segs, box, Seq("id"))
      WideForm.combineWide(Seq(
          recent.withColumn("release", lit("new")),
          old.withColumn("release", lit("old"))), Set("id", "release"))
        .orderBy(col("release"), col("id"))
    }),

    "q_wide_poi" -> ((s, d) => {
      // POI wide-form release parity e2e (reference wide_form.py:248-252,
      // 297-311, 412-436): the SAME synthetic places source converted
      // under a recent release (categories.primary, depth-1 → categories
      // grouped into hierarchy-prefix columns) and a pre-2024-07-22.0
      // release (categories.main, depth-2 → leaf columns), combined with
      // missing booleans coalesced to false
      val p = part(s, d)
      def src(primField: String) = p.select(
        col("p_partkey").cast("long").as("id"),
        when(col("p_partkey") % 11 === 0, lit(null))
          .otherwise(struct(
            concat(lit("cat"), (col("p_partkey") % 7).cast("string")).as(primField),
            array(concat(lit("cat"), ((col("p_partkey") * 3 + 1) % 7).cast("string")))
              .as("alternate")))
          .as("categories"),
        ((col("p_partkey") % 100) / lit(100.0)).as("confidence"))
      val newDef = WideFormRegistry.definition("places", "place", "2024-09-18.0")
        .asInstanceOf[PoiWideForm].copy(hierarchy = PoiFixtureHierarchy)
      val oldDef = WideFormRegistry.definition("places", "place", "2024-06-13-beta.0")
        .asInstanceOf[PoiWideForm].copy(hierarchy = PoiFixtureHierarchy)
      val a = newDef.pivot(src(newDef.primaryField), Seq("id"), Some(1))
        .withColumn("release", lit("new"))
      val b = oldDef.pivot(src(oldDef.primaryField), Seq("id"), Some(2))
        .withColumn("release", lit("old"))
      WideForm.combineWide(Seq(a, b), Set("id", "release"))
        .orderBy(col("release"), col("id"))
    }),

    "q_multi_convert" -> ((s, d) => {
      // multi-(theme,type) orchestration e2e: two pairs, per-pair predicate
      // and projection, pentagon geometry filter, combined in input order
      val feats = pages(s, d)
        .withColumn("id", col("page_id").cast("string"))
        .withColumn("geometry", to_binary(lit("01"), lit("hex")))
        .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
          col("lng").as("xmax"), col("lat").as("ymax")))
      val outs = MultiConvert.convertMultiple(
        Seq("web" -> "en", "web" -> "de"),
        source = (_, tpe) => feats.where(col("lang") === tpe),
        filterWkb = PentagonWkb,
        pyarrowFilters = Some(Seq(Some(Seq(Seq(("page_id", ">", 1000L)))), None)),
        columns = Some(Seq(Some(Seq("lat", "lng", "lang")), Some(Seq("lat", "lng", "lang")))))
      outs.zip(Seq("en", "de")).map { case (df, t) =>
        df.drop("geometry").withColumn("pair_type", lit(t))
      }.reduce(_.unionByName(_))
        .orderBy(col("pair_type"), col("id"))
    }),

    "q_nullstop_concat" -> ((s, d) => {
      // F1 stop-at-first-NULL fold (nulls manufactured via nullif)
      part(s, d).select(col("p_partkey"),
        WideForm.nullStopConcat("|", Seq(
          col("p_brand"),
          nullif(col("p_type"), lit("ECONOMY")),
          col("p_name"))).as("wide_name"))
        .orderBy(col("p_partkey"))
    }),

    // ===== spatial: bbox / PIP / tiles / cells / joins / kNN / range =====
    "s_bbox_filter" -> ((s, d) => {
      // P1 strict-inequality bbox predicate over the page points
      pages(s, d)
        .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
          col("lng").as("xmax"), col("lat").as("ymax")))
        .where(Pipeline.bboxOverlapPredicate(col("bbox"), 10.00005, 20.00005, 30.00005, 40.00005))
        .select(col("page_id"), col("lat"), col("lng"), col("lang"))
        .orderBy(col("page_id"))
    }),

    "s_pip_convex" -> ((s, d) => {
      // exact ray-cast refine against a convex pentagon (non-rectangular →
      // P5 short-circuit does NOT fire; P3 refine runs)
      pages(s, d)
        .where(ray_cast_contains(lit(PentagonWkb), col("lng"), col("lat")))
        .select(col("page_id"), col("lat"), col("lng"))
        .orderBy(col("page_id"))
    }),

    "s_tile_assign" -> ((s, d) => {
      pages(s, d)
        .withColumn("tile_x", tile_x(col("lng"), 8))
        .withColumn("tile_y", tile_y(col("lat"), 8))
        .select(col("page_id"), col("tile_x"), col("tile_y"))
        .orderBy(col("page_id"))
    }),

    "s_tile_raster" -> ((s, d) => {
      // raster grid materialization: per-tile counts at z=5
      pages(s, d)
        .groupBy(tile_x(col("lng"), 5).as("tile_x"), tile_y(col("lat"), 5).as("tile_y"))
        .agg(count(lit(1)).as("n_pages"))
        .orderBy(col("tile_x"), col("tile_y"))
    }),

    "s_tile_vectorize" -> ((s, d) => {
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
    }),

    "s_cell_agg" -> ((s, d) => {
      // cell-encode (batched Expression) → grid x/y → counts, res 6
      val c = cell_encode(col("lat"), col("lng"), 6)
      pages(s, d)
        .groupBy(cell_x(c).as("cell_gx"), cell_y(c).as("cell_gy"))
        .agg(count(lit(1)).as("n_pages"))
        .orderBy(col("cell_gx"), col("cell_gy"))
    }),

    "s_tile_pyramid" -> ((s, d) => {
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
    }),

    "s_index_bounds" -> ((s, d) => {
      // cell-prefix index build (S4/A1 analog): exact bounds per cell
      CellIndex.build(pages(s, d), res = 4)
        .select(cell_x(col("cell")).as("cell_gx"), cell_y(col("cell")).as("cell_gy"),
          col("n_rows"), col("xmin"), col("ymin"), col("xmax"), col("ymax"))
        .orderBy(col("cell_gx"), col("cell_gy"))
    }),

    "s_join_rect" -> ((s, d) => {
      // the flagship join: cell cover + equi-join + exact refine (broadcast)
      SpatialJoin.pointsInPolygons(pages(s, d), polygons(s, d), res = 5)
        .select(col("poly_id"), col("page_id"))
        .orderBy(col("poly_id"), col("page_id"))
    }),

    "s_join_rect_salted" -> ((s, d) => {
      // same semantics through the skew path: salted shuffle join (salt=8)
      SpatialJoin.pointsInPolygons(pages(s, d), polygons(s, d), res = 5,
        broadcastPolys = false, salt = 8)
        .select(col("poly_id"), col("page_id"))
        .orderBy(col("poly_id"), col("page_id"))
    }),

    "s_join_rect_adaptive" -> ((s, d) => {
      // adaptive cell-splitting path (megacity-cell skew handling)
      SpatialJoin.pointsInPolygonsAdaptive(pages(s, d), polygons(s, d), res = 4,
        hotThreshold = 2000, splitLevels = 2)
        .select(col("poly_id"), col("page_id"))
        .orderBy(col("poly_id"), col("page_id"))
    }),

    "s_index_prune" -> ((s, d) => {
      // index-driven pruning e2e (J1/S4 analog): build index, prune by a
      // polygon filter's cell cover, exact refine
      val pts = pages(s, d)
      val idx = CellIndex.build(pts, res = 4)
      CellIndex.filterPoints(pts, idx, PentagonWkb, res = 4)
        .select(col("page_id"), col("lat"), col("lng"))
        .orderBy(col("page_id"))
    }),

    "m_multimodal_decode" -> ((s, d) => {
      // typed-Dataset batched decode (stub codec; rows-only check +
      // determinism spec in ParityExtrasSpec)
      Multimodal.decodeFeatures(
        Multimodal.mediaFromDocuments(documents(s, d)))
        .toDF()
        .select(col("id"), col("n_bytes"), col("width"), col("height"))
        .orderBy(col("id"))
    }),

    "m_png_decode" -> ((s, d) => {
      // REAL codec roundtrip through the decodeFeatures seam: payloads
      // are genuine PNGs (zlib-deflated IDAT, scanline filter cycling
      // all five types) built from arithmetic the oracle reproduces;
      // width/height come out of the decoded IHDR and pixel_sum from the
      // unfiltered reconstructed pixels — a codec bug cannot cancel out
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val w = (4 + id % 9).toInt
        val h = (4 + (id * 3) % 9).toInt
        Multimodal.MediaRow(id, "image/png",
          Png.encodeGray(w, h, (x, y) => ((id * 31 + 7 * x + 13 * y) % 256).toInt))
      }
      Multimodal.decodeFeatures(media).toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum"))
        .orderBy(col("doc_id"))
    }),

    "d_html_extract" -> ((s, d) => {
      // input_hint closure: html:binary → extracted text (the reference
      // pipeline's text column is DERIVED from html; byte-identical text
      // per url is the per-row invariant). Two surfaces in one query:
      // the full recipe (script/style drop, tag strip, entity decode with
      // the &amp;-last ordering, whitespace collapse) over a synthesized
      // rich document the oracle rebuilds + extracts independently, and
      // the roundtrip invariant extract(pages.html) == pages.text as a
      // computed column over the REAL binary html
      val rich = concat(
        lit("<html><head><title>T</title><style>p{c:1}</style>"),
        lit("<script>if (1 < 2) { x(); }</script></head><body><p class=\"a\">"),
        col("text"),
        lit("</p><br/>&amp;lt; stays &lt;b&gt; &#39;q&#39;&nbsp;end</body></html>"))
      // extraction above the sort: the exchange carries raw pages
      sortedResult(pages(s, d)
        .select(col("page_id"), col("text"), col("html")), col("page_id"))
        .select(col("page_id"),
          Html.extractText(rich).as("extracted"),
          (Html.extractText(col("html").cast("string")) === col("text")).as("roundtrip"))
    }),

    "m_jpeg_decode" -> ((s, d) => {
      // REAL pure-JDK JPEG codec (javax.imageio) through the same seam:
      // grayscale fixtures whose every 8×8 DCT block is constant, encoded
      // at quality 1.0 — DC-only blocks + unit Q100 quantization + no
      // chroma path make the roundtrip bit-exact (JpegSpec proves it),
      // so pixel_sum is pure (doc_id, block) arithmetic the oracle
      // reproduces WITHOUT a codec, while the value still traverses the
      // full Huffman/DCT pipeline
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val w = 8 * (1 + id % 3).toInt
        val h = 8 * (1 + (id * 3) % 3).toInt
        Multimodal.MediaRow(id, "image/jpeg",
          Jpeg.encodeGray(w, h,
            (x, y) => ((id * 31 + 7 * (x / 8) + 13 * (y / 8)) % 256).toInt))
      }
      // the codec, not the 5000-row sort, is the cost: it runs once below
      // the sort's checkpoint
      sortedResult(Multimodal.decodeFeatures(media).toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum")), col("doc_id"))
    }),

    "m_resize" -> ((s, d) => {
      // REAL image resize (round 5 — the resize seam is no longer a stub
      // for image kinds): the m_jpeg_decode fixtures go decode → exact
      // box-average downscale ×2 → raw raster. Every 8×8 constant block
      // averages to itself, so the resized pixel_sum is pure arithmetic
      // (16·blockvalue per block) the oracle reproduces codec-free while
      // the Spark side runs the full decode+resize path
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val w = 8 * (1 + id % 3).toInt
        val h = 8 * (1 + (id * 3) % 3).toInt
        Multimodal.MediaRow(id, "image/jpeg",
          Jpeg.encodeGray(w, h,
            (x, y) => ((id * 31 + 7 * (x / 8) + 13 * (y / 8)) % 256).toInt))
      }
      sortedResult(Multimodal.resizeImages(media, factor = 2)
        .map(r => (r.id, r.width.toLong, r.height.toLong,
          r.payload.map(b => (b & 0xff).toLong).sum))
        .toDF("doc_id", "width", "height", "pixel_sum"), col("doc_id"))
    }),

    "m_wav_decode" -> ((s, d) => {
      // REAL audio codec (from-scratch RIFF/PCM walk, operators/Wav)
      // through the same seam: 16-bit PCM is LOSSLESS, so any synthesized
      // sample sequence roundtrips bit-exactly and the oracle is pure
      // (doc_id, i) arithmetic — sample i = ((id*31 + i*7) % 65536) −
      // 32768, folded back to unsigned for the sum
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val channels = (1 + id % 2).toInt
        val frames = (8 + id % 9).toInt
        val samples = Array.tabulate[Short](frames * channels)(i =>
          (((id * 31 + i * 7) % 65536) - 32768).toShort)
        Multimodal.MediaRow(id, "audio/wav", Wav.encodePcm16(8000, channels, samples))
      }
      Multimodal.decodeFeatures(media).toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("n_frames"),
          col("height").cast("long").as("channels"), col("pixel_sum").as("sample_sum"))
        .orderBy(col("doc_id"))
    }),

    "m_wav_features" -> ((s, d) => {
      // feature extraction PAST bare decode: per (channel, 5-frame
      // window) exact-integer energy Σ|sample| + zero-crossing count,
      // through the real RIFF/PCM codec; same synthesized fixture as
      // m_wav_decode so the oracle is pure (doc_id, i) arithmetic
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val channels = (1 + id % 2).toInt
        val frames = (8 + id % 9).toInt
        val samples = Array.tabulate[Short](frames * channels)(i =>
          (((id * 31 + i * 7) % 65536) - 32768).toShort)
        Multimodal.MediaRow(id, "audio/wav", Wav.encodePcm16(8000, channels, samples))
      }
      Multimodal.audioFeatures(media, windowFrames = 5).toDF()
        .select(col("id").as("doc_id"),
          col("channel").cast("long").as("channel"),
          col("window").cast("long").as("win"),
          col("n_frames"), col("abs_sum"), col("zero_crossings"))
        .orderBy(col("doc_id"), col("channel"), col("win"))
    }),

    "m_audio_resample" -> ((s, d) => {
      // 2:1 audio downsampling THROUGH the codec (decode → frame
      // decimation → re-encode → decode): the decoded stats of the
      // resampled payload are pure arithmetic over the even frames of
      // the synthesized fixture — the container round-trip is load-bearing
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val channels = (1 + id % 2).toInt
        val frames = (8 + id % 9).toInt
        val samples = Array.tabulate[Short](frames * channels)(i =>
          (((id * 31 + i * 7) % 65536) - 32768).toShort)
        Multimodal.MediaRow(id, "audio/wav", Wav.encodePcm16(8000, channels, samples))
      }
      Multimodal.decodeFeatures(Multimodal.decimateAudio(media, stride = 2))
        .toDF()
        .select(col("id").as("doc_id"), col("width").cast("long").as("n_frames"),
          col("height").cast("long").as("channels"), col("pixel_sum").as("sample_sum"))
        .orderBy(col("doc_id"))
    }),

    "m_frame_sample" -> ((s, d) => {
      // REAL frame sampling (round 5): concatenated-PNG stream split
      // STRUCTURALLY (Png.frameEnd chunk walk), every 2nd frame decoded
      // through the real codec; frame f of doc id is (4+(id+f)%5) ×
      // (4+(id*3+f)%5) with pixel (x,y) = (id*31 + f*17 + 7x + 13y) % 256
      // — the oracle reproduces the sampled frames' sums codec-free
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = (1 + id % 4).toInt
        val bytes = (0 until n).map { f =>
          val w = (4 + (id + f) % 5).toInt
          val h = (4 + (id * 3 + f) % 5).toInt
          Png.encodeGray(w, h, (x, y) => ((id * 31 + f * 17 + 7 * x + 13 * y) % 256).toInt)
        }.reduce(_ ++ _)
        Multimodal.MediaRow(id, "video/png-stream", bytes)
      }
      Multimodal.sampleFramesPng(media, every = 2).toDF()
        .select(col("id").as("doc_id"), col("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("pixel_sum"))
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    "d_pii_redact" -> ((s, d) => {
      // PII redaction with sequential count-then-replace semantics
      // (emails → IPs → phones, each counted on the previous step's
      // output); deterministic PII is injected into the fixture text so
      // every pattern fires, and the oracle replays the identical
      // RE2-subset regex chain. Narrow per-row compute — a pure map at
      // 100 TB, nothing to shuffle.
      val withPii = documents(s, d).withColumn("_t", concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or call 555-123-4567 ext "), (col("doc_id") % 10).cast("string"),
        lit(".")))
      sortedResult(withPii.select(col("doc_id"), col("_t")), col("doc_id"))
        .select(col("doc_id"), Curation.redactPii(col("_t")).as("_p"))
        .select(col("doc_id"), col("_p.redacted").as("redacted"),
          col("_p.n_email").cast("long").as("n_email"),
          col("_p.n_ip").cast("long").as("n_ip"),
          col("_p.n_phone").cast("long").as("n_phone"))
    }),

    "d_c4_filter" -> ((s, d) => {
      // C4-style line filtering + document drops (Raffel et al. 2020
      // §2.2): line structure is synthesized deterministically (3-token
      // chunks, terminator cycling '.', '', '!') because the fixture text
      // is single-line, and docs id%37==0 / id%41==0 get a brace / lorem
      // line appended so both document-drop rules fire. Same recipe in
      // the oracle; narrow per-row compute throughout.
      // token array let-bound (the Dedup.shingles O(tokens²) lesson): the
      // unbound tree re-tokenized once per synthesized line
      val txt = graft.functions.ExprUtils.bind(Dedup.tokens(col("text"))) { toks =>
        val n = ((size(toks) + lit(2)) / lit(3)).cast("int")
        val lines = transform(sequence(lit(1), n), i => concat(
          concat_ws(" ", slice(toks, (i - lit(1)) * lit(3) + lit(1), lit(3))),
          when(pmod(i - lit(1), lit(3)) === 0, lit("."))
            .when(pmod(i - lit(1), lit(3)) === 1, lit(""))
            .otherwise(lit("!"))))
        val base = when(size(toks) > 0, array_join(lines, "\n")).otherwise(lit(""))
        when(col("doc_id") % 37 === 0, concat(base, lit("\ncode { x }")))
          .when(col("doc_id") % 41 === 0, concat(base, lit("\nLorem Ipsum dolor sit amet.")))
          .otherwise(base)
      }
      // the synthetic line build + C4 rules run above the sort. The raw
      // table, not `documents`: the range exchange spreads the rows, and
      // the checkpoint would keep documents' round-robin shuffle, which
      // the optimizer merges into the range one when nothing is between
      sortedResult(graft.sources.TableSource.table(s, d, "documents")
        .select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), Curation.c4Clean(txt, minWords = 3, minSentences = 2).as("_c"))
        .select(col("doc_id"), col("_c.clean_text").as("clean_text"),
          col("_c.n_kept").cast("long").as("n_kept"),
          col("_c.n_total").cast("long").as("n_total"),
          col("_c.keep_doc").as("keep_doc"))
    }),

    "d_para_dedup" -> ((s, d) => {
      // corpus-wide paragraph-level exact dedup (RefinedWeb/MassiveText
      // repeat-paragraph removal): keep the globally FIRST occurrence of
      // every unit (8-token chunks here — the synthetic paragraph for the
      // newline-free fixture), reassemble documents from their surviving
      // units. One shuffle on the unit md5; survivor pick is a
      // map-side-combining min aggregate, never a window.
      Dedup.paraDedup(documents(s, d), "text", "doc_id",
          t => TextAnalysis.tokenChunks(Dedup.tokens(t), 8))
        .select(col("doc_id"), col("clean_text"), col("n_kept"), col("n_total"))
        .orderBy(col("doc_id"))
    }),

    "d_gopher_quality" -> ((s, d) => {
      // the remaining Gopher Table A1 document rules beyond d_repetition:
      // mean word length (×100), alpha-word fraction, bullet-/ellipsis-
      // line fractions (permyriad), and the composite keep flag. Line
      // structure synthesized (4-token chunks; '• ' prefix when
      // (doc_id+i)%7==0, '...' suffix when (doc_id+i)%11==0) because the
      // fixture text is single-line; all exact integers, pure per-row map.
      val base = sortedResult(documents(s, d).select(col("doc_id"),
        Dedup.tokens(col("text")).as("_toks")), col("doc_id"))
      val n = ((size(col("_toks")) + lit(3)) / lit(4)).cast("int")
      val lines = when(size(col("_toks")) > 0,
        transform(sequence(lit(1), n), i => concat(
          when(pmod(col("doc_id") + i - 1, lit(7)) === 0, lit("• ")).otherwise(lit("")),
          concat_ws(" ", slice(col("_toks"), (i - lit(1)) * lit(4) + lit(1), lit(4))),
          when(pmod(col("doc_id") + i - 1, lit(11)) === 0, lit("...")).otherwise(lit("")))))
        .otherwise(array().cast("array<string>"))
      base.select(col("doc_id"),
          size(col("_toks")).cast("long").as("n_tokens"),
          TextAnalysis.meanWordLenE2(col("_toks")).as("mean_word_len_e2"),
          TextAnalysis.alphaWordFracE4(col("_toks")).as("alpha_word_e4"),
          TextAnalysis.bulletLineFracE4(lines).as("bullet_line_e4"),
          TextAnalysis.ellipsisLineFracE4(lines).as("ellipsis_line_e4"))
        .withColumn("gopher_keep",
          col("n_tokens").between(5, 100000) &&
            col("mean_word_len_e2").between(150, 1000) &&
            col("alpha_word_e4") >= 5000 &&
            col("bullet_line_e4") <= 9000 && col("ellipsis_line_e4") <= 3000)
    }),

    "d_curate_e2e" -> ((s, d) => {
      // the curation pipeline COMPOSED end-to-end in one plan: quality
      // gate (≥ 5 tokens) → corpus-wide paragraph dedup over the
      // survivors (so dedup outcomes depend on the gate) → drop
      // fully-boilerplate docs → per-registered-domain cap (the 500→2
      // domain fold makes it the hot-domain skew case) → deterministic
      // split assignment. Every stage is an already-oracled operator;
      // this query gates that they compose.
      val docs = documents(s, d)
        .withColumn("domain", UrlOps.registeredDomain(messyUrl))
      val kept = docs.where(size(Dedup.tokens(col("text"))) >= 5)
      val deduped = Dedup.paraDedup(kept, "text", "doc_id",
          t => TextAnalysis.tokenChunks(Dedup.tokens(t), 8))
        .where(col("n_kept") > 0)
      val capped = Sampling.perKeyCap(
        deduped.join(docs.select(col("doc_id"), col("domain")), "doc_id"),
        "domain", Dedup.hash60(col("doc_id").cast("string")), "doc_id",
        k = 50, salt = 8)
      sortedResult(capped.select(col("doc_id"), col("domain"), col("n_kept"),
        Sampling.hashSplit(col("doc_id"), 1000, 50).as("split")), col("doc_id"))
    }),

    "s_knn" -> ((s, d) => {
      SpatialJoin.knnJoin(geoQueries(s, d), pages(s, d), k = 5, res = 7,
        qKeyCol = "q_id", tieCol = "page_id")
        .select(col("q_id"), col("knn_rank"), col("page_id"))
        .orderBy(col("q_id"), col("knn_rank"))
    }),

    "s_range_join" -> ((s, d) => {
      SpatialJoin.distanceJoin(geoQueries(s, d), pages(s, d), radiusM = 500000.0, res = 6)
        .select(col("q_id"), col("page_id"))
        .orderBy(col("q_id"), col("page_id"))
    }),

    "s_convert_pipeline" -> ((s, d) => {
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
    }),

    "s_hilbert_order" -> ((s, d) => {
      // Hilbert clustering key (S8/O1 analog) — no portable SQL; rows-only
      pages(s, d)
        .withColumn("h", hilbert_index(col("lat"), col("lng"), -180, -60, 180, 60, 16))
        .select(col("page_id"), col("h"))
        .orderBy(col("h"), col("page_id"))
    }),

    // ===== training-data ops: dedup / text / similarity =====
    "d_dedup_exact" -> ((s, d) => {
      Dedup.exactDedupByHash(documents(s, d), "text", "doc_id")
        .orderBy(col("text_md5"))
    }),

    "d_dedup_incremental" -> ((s, d) => {
      // the daily-crawl delta: docs < 400 are yesterday's state, docs
      // >= 400 today's batch; the (min, sum) monoid merge must equal the
      // full recompute — the oracle IS the full-corpus dedup SQL
      val docs = documents(s, d)
      val state = Dedup.exactDedupByHash(
        docs.where(col("doc_id") < 400), "text", "doc_id")
      Dedup.exactDedupIncrement(state,
          docs.where(col("doc_id") >= 400), "text", "doc_id")
        .orderBy(col("text_md5"))
    }),

    "d_token_count" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    "d_quality" -> ((s, d) => {
      // one tokenization pass: raw stats materialized behind the sort's
      // checkpoint, the three outputs derived from them above it
      // (CollapseProject would otherwise re-run the regex splits per
      // output column)
      val stats = documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.stopwordRatio(col("text"), TextAnalysis.EnglishStopwords).as("_sraw"),
        TextAnalysis.punctRatio(col("text")).as("_praw"))
      sortedResult(stats, col("doc_id")).select(col("doc_id"), col("n_tokens"),
        round(col("_sraw") * 1000).cast("long").as("stop_permille"),
        TextAnalysis.qualityScoreFromStats(col("n_tokens"), col("_praw"), col("_sraw")).as("quality"))
    }),

    "d_lang_guess" -> ((s, d) => {
      // tokenize once behind a barrier; 5 marker intersections read the array
      val toks = sortedResult(documents(s, d)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("_toks")), col("doc_id"))
      toks.select(col("doc_id"),
          TextAnalysis.langGuessFromTokens(col("_toks")).as("lang_guess"))
    }),

    "d_jaccard_pairs" -> ((s, d) => {
      // t = 0.4 dispatches to the Bayardo prefix-filter plan — the
      // dedup-typical, scale-representative path (the inverted-index
      // low-threshold corner is exercised separately by d_jaccard_lowt)
      sortedResult(Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
          shingleLen = 3, threshold = 0.4, maxShingleFreq = 10000)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4")),
        col("id_a"), col("id_b"))
    }),

    "d_jaccard_lowt" -> ((s, d) => {
      // the low-threshold corner, now on its real scale path: banded
      // MinHash candidates (r=1, b=64 — miss probability (1-J)^64 ≤
      // 2.8e-4 at J=t) + EXACT per-pair Jaccard verify. The oracle below
      // is the full exact join — a recall miss would fail the hash gate,
      // so the green result certifies the banding caught every pair
      sortedResult(Dedup.ngramJaccardPairs(documents(s, d), "text", "doc_id",
          shingleLen = 3, threshold = 0.12, maxShingleFreq = 10000)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard") * 10000).cast("long").as("jaccard_e4")),
        col("id_a"), col("id_b"))
    }),

    "d_vocab" -> ((s, d) => {
      // A3 analog: DISTINCT over an unnested (exploded) collection
      documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("token"))
    }),

    "d_minhash_pairs" -> ((s, d) => {
      // MinHash+LSH near-dup candidates with the PORTABLE lane hash —
      // the DuckDB oracle reproduces signatures, banding, and the
      // est-jaccard verify bit-for-bit (statistical recall vs brute force
      // is separately proven in DedupSpec with the fast engine hash)
      sortedResult(Dedup.minhashLshPairs(documents(s, d), "text", "doc_id",
          shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1,
          signature = Dedup.minhashSignaturePortable)
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard") * 10000).cast("long").as("est_e4")),
        col("id_a"), col("id_b"))
    }),

    "d_simhash_pairs" -> ((s, d) => {
      // 4 bands of 15 bits ⇒ complete recall for Hamming <= 3 (pigeonhole)
      Dedup.simhashPairs(documents(s, d), "text", "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "d_fingerprint" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprintChain(col("text")).as("fp_hex"))
        .orderBy(col("doc_id"))
    }),

    "d_dup_clusters" -> ((s, d) => {
      // the step AFTER pair generation in a real dedup pipeline: collapse
      // the near-dup pair graph (same params as d_minhash_pairs) into
      // duplicate clusters via large-star/small-star connected components;
      // component == min doc_id, so `doc_id = component` marks the
      // representative a keep-one pass would retain
      val docs = documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
        shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1,
        signature = Dedup.minhashSignaturePortable)
      sortedResult(Components.labelNodes(docs, "doc_id", pairs, "id_a", "id_b"),
        col("doc_id"))
    }),

    "d_dedup_keep_best" -> ((s, d) => {
      // representative selection — the pipeline's final step: pairs →
      // clusters → keep ONE doc per cluster (longest, tie = lowest id).
      // One row_number window partitioned by component; the pair graph
      // and labels are the same plan as d_dup_clusters
      val docs = documents(s, d)
      val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
        shingleLen = 2, numHashes = 32, bands = 16, threshold = 0.1,
        signature = Dedup.minhashSignaturePortable)
      val labels = Components.labelNodes(docs, "doc_id", pairs, "id_a", "id_b")
      val withLen = docs
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .join(labels, "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component"))
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      sortedResult(withLen.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select(col("component"), col("doc_id").as("keep_id"), col("n_tokens")),
        col("component"))
    }),

    "d_decontaminate" -> ((s, d) => {
      // benchmark decontamination: docs with doc_id % 50 == 0 play the
      // held-out benchmark; every train doc sharing a 4-token shingle
      // with it is flagged with its distinct shared-shingle count. The
      // eval shingle-hash set is benchmark-sized → broadcast; the train
      // side is never shuffled before the per-doc aggregation
      val docs = documents(s, d)
      val evalDocs = docs.where(col("doc_id") % 50 === 0)
      val trainDocs = docs.where(col("doc_id") % 50 =!= 0)
      CorpusOps.flagOverlap(trainDocs, evalDocs, "text", "doc_id", n = 4)
        .orderBy(col("doc_id"))
    }),

    "d_decontaminate_bloom" -> ((s, d) => {
      // the SAME sweep on its large-benchmark scale path: eval hashes
      // folded into Spark's own distributed BloomFilterAggregate, train
      // side prefiltered by a narrow codegen'd might_contain (still never
      // shuffled), exact join only over the surviving sliver. Bloom has
      // no false negatives and the exact join removes false positives, so
      // the oracle is IDENTICAL to d_decontaminate's
      val docs = documents(s, d)
      val evalDocs = docs.where(col("doc_id") % 50 === 0)
      val trainDocs = docs.where(col("doc_id") % 50 =!= 0)
      CorpusOps.flagOverlapBloom(trainDocs, evalDocs, "text", "doc_id",
          n = 4, expectedItems = 100000L, fpp = 0.01)
        .orderBy(col("doc_id"))
    }),

    "d_lm_score" -> ((s, d) => {
      // perplexity-filter signal in exact integers: corpus bigram MLE
      // (prefix-count denominator), floor-averaged per doc — no float
      // log-likelihood to drift; model joins unhinted (AQE decides)
      CorpusOps.lmScore(documents(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    "d_heavy_hitters" -> ((s, d) => {
      // exact heavy hitters WITHOUT aggregating the unbounded term
      // domain: one Misra-Gries pass (k=256 counters, typed Aggregator)
      // proposes a guaranteed superset of terms with freq >= total/50,
      // one exact count restricted to the <= k candidates removes the
      // overshoot — sketch-then-verify, exact result
      import s.implicits._
      val terms = documents(s, d)
        .select(explode(Dedup.tokens(col("text"))).as("term"))
        .as[String]
      Sketches.heavyHitters(terms, denom = 50)
        .orderBy(col("term"))
    }),

    "d_top_terms" -> ((s, d) => {
      // distinctive-term extraction: tf-idf ranking in exact integer
      // arithmetic — (tf desc, df asc, term asc), top 3 per doc
      CorpusOps.topTerms(documents(s, d), "text", "doc_id", k = 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("rank").as("term_rank"))
        .orderBy(col("doc_id"), col("term_rank"))
    }),

    "d_repetition" -> ((s, d) => {
      // Gopher-style repetition quality signals (Rae et al. 2021 Table A1):
      // duplicate-line / duplicate-paragraph fractions, duplicate-line
      // CHARACTER fraction, top-2/3/4-gram character fractions, and the
      // symbol-to-word ratio — all exact permyriad integers. The fixture
      // text is single-line, so "lines" are synthesized deterministically
      // as 2-token chunks and "paragraphs" as 3-token chunks (the operator
      // API itself takes any unit array — textLines/textParagraphs for
      // real newline-structured corpora, spec-covered). One tokenization
      // behind the sort's checkpoint; the seven signal aggregates are
      // narrow per-row compute above it — the 100 TB plan is a pure map
      // plus the output sort.
      val base = sortedResult(documents(s, d).select(
        col("doc_id"), col("text"), length(col("text")).cast("long").as("_len"),
        Dedup.tokens(col("text")).as("_toks")), col("doc_id"))
      val lines = TextAnalysis.tokenChunks(col("_toks"), 2)
      val paras = TextAnalysis.tokenChunks(col("_toks"), 3)
      base.select(col("doc_id"),
          TextAnalysis.dupUnitFracE4(lines).as("dup_line_e4"),
          TextAnalysis.dupUnitCharFracE4(lines).as("dup_line_char_e4"),
          TextAnalysis.dupUnitFracE4(paras).as("dup_para_e4"),
          TextAnalysis.topNgramCharFracE4(col("_toks"), 2, col("_len")).as("top2_char_e4"),
          TextAnalysis.topNgramCharFracE4(col("_toks"), 3, col("_len")).as("top3_char_e4"),
          TextAnalysis.topNgramCharFracE4(col("_toks"), 4, col("_len")).as("top4_char_e4"),
          TextAnalysis.symbolWordRatioE4(col("text"), size(col("_toks")).cast("long")).as("sym_word_e4"))
    }),

    "d_dup_spans" -> ((s, d) => {
      // corpus-level duplicated-span fraction — the exact-substring-dedup
      // signal (Lee et al. 2021 proxy): every rolling 8-token window
      // hashed, duplicated = its hash occurs >= 2 times corpus-wide
      // (cross-doc or within-doc). Occurrences reduce to (doc, hash, m)
      // map-side before any corpus-wide exchange; the hash (8 bytes)
      // stands in for the span end-to-end
      CorpusOps.dupSpans(documents(s, d), "text", "doc_id", n = 8)
        .orderBy(col("doc_id"))
    }),

    "d_chunk_pack" -> ((s, d) => {
      // concat-and-chunk sequence packing (the GPT-style pretraining
      // layout): global token offsets via the two-phase distributed
      // prefix sum — deterministic id-range buckets, per-bucket totals
      // collected (dimension data) and prefix-summed, per-bucket window
      // cumsum shifted by the bucket offset. Nothing sorts globally.
      CorpusOps.packChunks(documents(s, d), "text", "doc_id",
          chunkTokens = 512, buckets = 32)
        .orderBy(col("doc_id"))
    }),

    "d_pack_segments" -> ((s, d) => {
      // the loader-facing packing view: one row per (chunk, doc) overlap
      // with in-chunk / in-doc offsets; a doc spanning a boundary splits.
      // Bounded fan-out explode after the prefix sum — no new exchange
      CorpusOps.packSegments(documents(s, d), "text", "doc_id",
          chunkTokens = 512, buckets = 32)
        .orderBy(col("chunk_id"), col("doc_id"))
    }),

    "d_token_bpe" -> ((s, d) => {
      // portable BPE-ish subword estimate: whitespace tokens + case/digit
      // boundary count (non-overlapping 2-char matches — identical scan
      // semantics in Java regex and RE2). The fixture text is lowercase,
      // so a camelCase+digit suffix is synthesized deterministically per
      // doc to exercise every boundary class
      documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" Doc"), col("doc_id"), lit("Xy")).as("_t"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("_t")).cast("long").as("n_tokens"),
          TextAnalysis.subwordCountPortable(col("_t")).as("subword_est"))
        .orderBy(col("doc_id"))
    }),

    "d_curate_full" -> ((s, d) => {
      // the COMPLETE modern pretraining recipe as ONE composed plan:
      // dup-span quality gate (train-corpus-wide counts) → benchmark
      // decontamination (anti-join of flagged docs) → stratified
      // per-language budget sampling → concat-and-chunk packing. Each
      // stage is individually exact-oracled elsewhere; this query gates
      // that they COMPOSE (stage order visible in the offsets: rates are
      // computed over the post-filter corpus, offsets over the sample)
      val docs = documents(s, d)
      val evalDocs = docs.where(col("doc_id") % 50 === 0)
      val train = docs.where(col("doc_id") % 50 =!= 0)
      val kept = train.join(
        CorpusOps.dupSpans(train, "text", "doc_id", n = 8)
          .where(col("dup_frac_e4") < 3000).select("doc_id"), "doc_id")
      val clean = kept.join(
        CorpusOps.flagOverlap(kept, evalDocs, "text", "doc_id", n = 4)
          .select("doc_id"), Seq("doc_id"), "left_anti")
      // barrier: `sampled` is consumed TWICE (packChunks input + the lang
      // re-join) and its upstream is the entire gate → anti-join → sample
      // chain — without it the whole pipeline ran once per consumer
      val sampled = Sampling.stratifiedSample(clean, "lang", "doc_id",
        perKeyBudget = 25)
        .select(col("doc_id"), col("lang"), col("text")).localCheckpoint(eager = false)
      sortedResult(CorpusOps.packChunks(sampled, "text", "doc_id", chunkTokens = 512,
          buckets = 32)
        .join(sampled.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("tok_start"), col("chunk_first"), col("chunk_last")), col("doc_id"))
    }),

    "d_sample_hash" -> ((s, d) => {
      // reproducible train/holdout assignment: hash the id, never rand()
      documents(s, d).select(col("doc_id"),
          Sampling.hashBucket(col("doc_id"), 1000).as("bucket"),
          Sampling.hashSplit(col("doc_id"), 1000, 50).as("split"))
        .orderBy(col("doc_id"))
    }),

    "d_sample_stratified" -> ((s, d) => {
      // per-language budget rebalancing: keep-rate = min(1, budget/count)
      // in exact permyriad, survivor iff deterministic hash bucket < rate.
      // The fact side is never shuffled — counts are one map-side agg,
      // the filter is narrow after a keyed (unhinted) join with rates
      Sampling.stratifiedSample(documents(s, d), "lang", "doc_id",
          perKeyBudget = 30)
        .select(col("doc_id"), col("lang"), col("rate_e4"))
        .orderBy(col("doc_id"))
    }),

    "d_source_cap" -> ((s, d) => {
      // per-source document quota (web-corpus domain balancing): at most
      // 10 docs per source, chosen by the deterministic hash order; the
      // salted two-phase plan is proven identical to the plain window in
      // SamplingSpec — the oracle is the plain window
      Sampling.perKeyCap(documents(s, d), "source",
          Dedup.hash60(col("doc_id").cast("string")), "doc_id", k = 10, salt = 8)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    "d_url_canonical" -> ((s, d) => {
      // canonical-URL dedup key + registered domain — the fixture has no
      // URL column, so a messy URL is synthesized deterministically from
      // (doc_id, source) in BOTH engines and canonicalized independently
      // (the oracle re-implements the full recipe in DuckDB SQL). Narrow
      // builtin string expressions only: at 100 TB this is a pure map.
      documents(s, d)
        .withColumn("_url", messyUrl)
        .select(col("doc_id"),
          UrlOps.canonicalUrl(col("_url")).as("url_canon"),
          UrlOps.registeredDomain(col("_url")).as("domain"))
        .orderBy(col("doc_id"))
    }),

    "d_domain_cap" -> ((s, d) => {
      // per-REGISTERED-DOMAIN quota — d_source_cap rekeyed through real
      // URL machinery: every www.srcN.example.com subdomain folds into
      // example.com (and the %5 residue into example.co.uk), so 500 docs
      // collapse onto 2 domains — exactly the hot-domain skew the salted
      // two-phase cap exists for
      Sampling.perKeyCap(
          documents(s, d).withColumn("domain", UrlOps.registeredDomain(messyUrl)),
          "domain", Dedup.hash60(col("doc_id").cast("string")), "doc_id",
          k = 10, salt = 8)
        .select(col("doc_id"), col("domain"))
        .orderBy(col("doc_id"))
    }),

    "m_binary_meta" -> ((s, d) => {
      // multimodal plumbing: opaque binary column + typed metadata
      documents(s, d)
        .withColumn("payload", to_binary(col("text"), lit("utf-8")))
        .select(col("doc_id"), octet_length(col("payload")).as("n_bytes"),
          sha2(col("payload"), 256).as("sha"))
        .orderBy(col("doc_id"))
    }),

    "e_cosine_topk" -> ((s, d) => {
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopK(emb.where(col("vec_id") >= 5), qs, k = 3)
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    }),

    "e_ivf_pq" -> ((s, d) => {
      // the full production ANN shape (FAISS-style IVFADC): IVF cells
      // prune the pair count (equi-join on cell — no cross join), PQ
      // compresses the per-pair cost (8 integer lookups). Same refined
      // centroids as e_ann_ivf; same codebook as e_pq_adc; integer ADC
      // ranking so the oracle is exact end-to-end.
      val emb = embeddings(s, d)
      val seed = Similarity.sampleCentroids(emb, "vec_id", "embedding", stride = 50)
      val cents = Similarity.refineCentroids(emb, "vec_id", "embedding", seed,
        stride = 10, iters = 2)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfPqTopK(emb.where(col("vec_id") >= 5), qs, cents,
          k = 3, nProbe = 3)
        .orderBy(col("q_id"), col("pq_rank"))
    }),

    "e_pq_adc" -> ((s, d) => {
      // product-quantization ADC top-k (the embedding MEMORY-compression
      // scale path, complementing LSH/IVF's candidate pruning): fact side
      // encoded once to 8 codes by a narrow codegen'd expression, queries
      // broadcast their integer asymmetric-distance tables, approximate
      // distance = 8 table lookups. Deterministic formula codebook +
      // ⌊·1000⌉ quantization ⇒ the oracle replays every distance exactly.
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.pqAdcTopK(emb.where(col("vec_id") >= 5), qs, k = 3)
        .orderBy(col("q_id"), col("pq_rank"))
    }),

    "e_ann_lsh" -> ((s, d) => {
      // quantized-integer hyperplane signatures against the literal plane
      // matrix → the DuckDB oracle reproduces buckets and ranks exactly
      val emb = embeddings(s, d)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.annTopK(emb.where(col("vec_id") >= 5), qs, k = 3,
        nPlanes = 16, bands = 8,
        signature = Similarity.lshSignatureQuantized(_, AnnPlanes))
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    }),

    "e_ann_ivf" -> ((s, d) => {
      // IVF ANN: Voronoi cells around a deterministic centroid sample
      // (every 50th id) REFINED by two spherical-k-means Lloyd iterations
      // over a denser sample (every 10th id) — the refinement path is
      // driver-gated, not just spec-gated. Data assigned by a narrow
      // argmax expression, queries probe their 3 nearest cells,
      // candidates equi-join on cell.
      val emb = embeddings(s, d)
      val seed = Similarity.sampleCentroids(emb, "vec_id", "embedding", stride = 50)
      val cents = Similarity.refineCentroids(emb, "vec_id", "embedding", seed,
        stride = 10, iters = 2)
      val qs = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfTopK(emb.where(col("vec_id") >= 5), qs, cents, k = 3, nProbe = 3)
        .select(col("q_id"), col("sim_rank"), col("vec_id"))
        .orderBy(col("q_id"), col("sim_rank"))
    }),

    "d_embed_neardup" -> ((s, d) => {
      // embedding-cosine near-dup pairs: banded-LSH candidates + EXACT
      // integer threshold verify (cos >= 0.4 ⟺ dot>0 ∧ 25·dot² ≥ 4·‖a‖²‖b‖²
      // on the 10^-6-quantized vectors — bit-reproducible in DuckDB HUGEINT)
      sortedResult(Dedup.embeddingNearDupPairs(embeddings(s, d), "embedding", "vec_id",
        t2n = 4, t2d = 25, planes = AnnPlanes, bands = 8), col("id_a"), col("id_b"))
    }),

    // ===== events: time-window aggregation + sessionization =====
    "ev_window" -> ((s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(unix_timestamp(col("window.start")).as("bucket"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("bucket"), col("event_type"))
    }),

    "ev_funnel" -> ((s, d) => {
      // first-touch ordered funnel (view → click → purchase): each step's
      // time is the user's first qualifying event STRICTLY AFTER the
      // previous step. Each stage is one map-side-combined agg producing
      // a users-sized (dimension) table; the step joins are keyed on
      // user_id and AQE-broadcastable — the events fact side is scanned
      // per stage but never shuffled beyond the per-user aggs
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      val t1 = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1_us"))
      val t2 = ev.where(col("event_type") === "click")
        .join(t1, "user_id").where(col("us") > col("t1_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2_us"))
      val t3 = ev.where(col("event_type") === "purchase")
        .join(t2, "user_id").where(col("us") > col("t2_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3_us"))
      t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1L) + when(col("t2_us").isNotNull, 1L).otherwise(0L)
            + when(col("t3_us").isNotNull, 1L).otherwise(0L)).as("stage_reached"),
          col("t1_us"), col("t2_us"), col("t3_us"))
        .orderBy(col("user_id"))
    }),

    "ev_retention" -> ((s, d) => {
      // weekly cohort retention: cohort = week index (fixed 1970 epoch,
      // no corpus-wide min needed) of the user's FIRST event; one row per
      // (cohort_week, week_offset) with the distinct active-user count.
      // Two map-side-combined aggs + one users-sized keyed join
      val week = lit(7L * 86400L * 1000000L)
      val us = unix_micros(col("ts").cast("timestamp"))
      // exact integer floor division (us >= 0): never a double quotient
      val ev = events(s, d).select(col("user_id"),
        ((us - pmod(us, week)) / week).cast("long").as("wk"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
      ev.distinct().join(cohort, "user_id")
        .withColumn("week_offset", col("wk") - col("cohort_week"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    "ev_asof" -> ((s, d) => {
      // as-of join: each purchase matched to the user's latest prior-or-
      // equal signup (microsecond precision; union-and-carry plan)
      val ev = events(s, d).withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val signups = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts_us").as("signup_us"), col("event_id").as("signup_id"))
      AsOfJoin.asof(purchases, signups, Seq("user_id"),
        leftTime = "ts_us", rightTime = "signup_us", valueCols = Seq("signup_id"))
        .select(col("event_id"), col("user_id"), col("asof_time").as("signup_us"),
          col("asof_signup_id").as("signup_id"))
        .orderBy(col("event_id"))
    }),

    "ev_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts").cast("timestamp")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
        .orderBy(col("user_id"), col("session_id"))
    }))

  /** Literal ±1 hyperplane matrix shared verbatim by the e_ann_lsh plan
    * and its DuckDB oracle (16 planes × 64 dims, md5-derived constants). */
  final val AnnPlanes: Array[Array[Int]] = Similarity.planeMatrix(16, 64)

  // a convex pentagon with off-grid vertices (no page point can sit on an edge)
  final val PentagonWkt: String =
    "POLYGON ((-20.000033 -10.000057, 15.000041 -25.000013, 40.000029 5.000071, 10.000037 35.000023, -30.000049 15.000011, -20.000033 -10.000057))"
  final val PentagonWkb: Array[Byte] = graft.geo.Wkt.parse(PentagonWkt)

  // --------------------------------------------------------------- oracles

  private val P = graft.sources.DerivedTables.pagesSql
  private val POLY = graft.sources.DerivedTables.polygonsSql
  private val GQ = graft.sources.DerivedTables.geoQueriesSql

  /** q_wide_release oracle: the full cross-product vocabulary is known at
    * SQL-build time (moduli 2/3/5 are coprime and the box holds 555 rows
    * at sf0.01 — every combo occurs), so the CASE pivot is generated for
    * both releases' column sets; missing columns are FALSE, mirroring
    * combineWide's coalesce. */
  private val wideReleaseSql: String = {
    val subs = Seq("road", "rail")
    val cls = (0 to 2).map("c" + _)
    val scs = (0 to 4).map("sc" + _)
    val three = for { su <- subs; c <- cls; sc <- scs } yield
      (s"transportation|segment|$su|$c|$sc",
        s"""(subtype = '$su' AND "class" = '$c' AND subclass = '$sc')""")
    val two = for { su <- subs; c <- cls } yield
      (s"transportation|segment|$su|$c",
        s"""(subtype = '$su' AND "class" = '$c')""")
    // both UNION ALL branches must emit the SAME column order (DuckDB
    // matches union columns by position): one canonical order, live
    // columns pivoted, the other release's columns FALSE
    def sel(live: Set[String]): String =
      (three ++ two).map { case (n, e) =>
        if (live(n)) s"""$e AS "$n"""" else s"""FALSE AS "$n""""
      }.mkString(", ")
    s"""WITH $P, segs AS (
       |  SELECT page_id AS id,
       |    CASE WHEN page_id % 2 = 0 THEN 'road' ELSE 'rail' END AS subtype,
       |    'c' || CAST(page_id % 3 AS VARCHAR) AS "class",
       |    'sc' || CAST(page_id % 5 AS VARCHAR) AS subclass
       |  FROM pages
       |  WHERE lng > 10.00005 AND lng < 30.00005 AND lat > 20.00005 AND lat < 40.00005
       |)
       |SELECT id, 'new' AS release, ${sel(three.map(_._1).toSet)} FROM segs
       |UNION ALL
       |SELECT id, 'old' AS release, ${sel(two.map(_._1).toSet)} FROM segs
       |ORDER BY release, id""".stripMargin
  }

  /** q_wide_poi category-hierarchy fixture (the Overture places category
    * CSV analog, local and deterministic): cat0–cat3 classify under two
    * depth-2 groups; cat4–cat6 are leaf-only (categories absent from the
    * CSV become their own level-1 entry, wide_form.py:433-435). */
  final val PoiFixtureHierarchy: Map[String, Seq[String]] = Map(
    "cat0" -> Seq("grp0", "cat0"), "cat1" -> Seq("grp1", "cat1"),
    "cat2" -> Seq("grp0", "cat2"), "cat3" -> Seq("grp1", "cat3"))

  /** q_wide_poi oracle: the observed vocabulary is all 7 categories (every
    * residue mod 7 survives the quality filter at sf ≥ 0.001), so both
    * releases' column sets are known at SQL-build time; missing columns
    * are FALSE, mirroring combineWide's coalesce. */
  private val widePoiSql: String = {
    val cats = (0 to 6).map("cat" + _)
    def cond(c: String) = s"(prim = '$c' OR alt = '$c')"
    // depth-1 (new release): grouped prefix columns; depth-2 (old): leaves
    val newCols = Seq(
      "places|place|cat4" -> cond("cat4"),
      "places|place|cat5" -> cond("cat5"),
      "places|place|cat6" -> cond("cat6"),
      "places|place|grp0" -> s"(${cond("cat0")} OR ${cond("cat2")})",
      "places|place|grp1" -> s"(${cond("cat1")} OR ${cond("cat3")})")
    val oldCols = Seq(
      "places|place|cat4" -> cond("cat4"),
      "places|place|cat5" -> cond("cat5"),
      "places|place|cat6" -> cond("cat6"),
      "places|place|grp0|cat0" -> cond("cat0"),
      "places|place|grp0|cat2" -> cond("cat2"),
      "places|place|grp1|cat1" -> cond("cat1"),
      "places|place|grp1|cat3" -> cond("cat3"))
    // one canonical column order across the UNION ALL branches (DuckDB
    // unions by position); the other release's columns are FALSE
    val allNames = (newCols ++ oldCols).map(_._1).distinct.sorted
    def sel(live: Map[String, String]): String =
      allNames.map(n => live.get(n).map(e => s"""$e AS "$n"""")
        .getOrElse(s"""FALSE AS "$n"""")).mkString(", ")
    s"""WITH src AS (
       |  SELECT p_partkey::BIGINT AS id,
       |         'cat' || CAST(p_partkey % 7 AS VARCHAR) AS prim,
       |         'cat' || CAST((p_partkey * 3 + 1) % 7 AS VARCHAR) AS alt
       |  FROM part
       |  WHERE p_partkey % 11 <> 0 AND (p_partkey % 100) / 100.0 >= 0.75
       |)
       |SELECT id, 'new' AS release, ${sel(newCols.toMap)} FROM src
       |UNION ALL
       |SELECT id, 'old' AS release, ${sel(oldCols.toMap)} FROM src
       |ORDER BY release, id""".stripMargin
  }

  /** Half-plane conjunction for the pentagon (convex, CCW): strict interior. */
  private val pentagonInteriorSql: String = {
    val vs = Seq(
      (-20.000033, -10.000057), (15.000041, -25.000013), (40.000029, 5.000071),
      (10.000037, 35.000023), (-30.000049, 15.000011))
    vs.indices.map { i =>
      val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.length)
      s"(($x2 - $x1) * (lat - $y1) - ($y2 - $y1) * (lng - $x1)) > 0"
    }.mkString("(", " AND ", ")")
  }

  /** Language-ID oracle: max marker hits, ties → lexicographically smallest
    * language, zero hits → 'und' (mirrors TextAnalysis.langGuess). */
  private val langGuessSql: String = {
    val markers = TextAnalysis.LangMarkers.sortBy(_._1) // lex order = tie preference
    val hits = markers.map { case (lang, ms) =>
      val arr = ms.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_intersect(list_distinct(toks), $arr)) AS hits_$lang"
    }.mkString(", ")
    val langs = markers.map(_._1)
    val caseChain = langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"hits_$l >= hits_$o").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString(" ")
    val anyPos = langs.map(l => s"hits_$l > 0").mkString(" OR ")
    s"""WITH toksd AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS toks
       |  FROM documents
       |), scored AS (
       |  SELECT doc_id, $hits FROM toksd
       |)
       |SELECT doc_id, CASE WHEN NOT ($anyPos) THEN 'und' $caseChain END AS lang_guess
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** DuckDB fold of 15 md5 hex chars (from 1-based `start`) into a BIGINT. */
  private def hexFoldSql(expr: String, start: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
      s"regexp_extract_all(substr(md5($expr), $start, 15), '.'), " +
      s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), (acc, v) -> acc * 16 + v)"

  /** DuckDB twin of Dedup.hash60: fold of the first 15 md5 hex chars. */
  private def hash60Sql(expr: String): String = hexFoldSql(expr, 1)

  /** Shared tokenization CTE body (DuckDB twin of Dedup.tokens on the
    * ASCII-only documents fixture). */
  private val toksCte: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS tk
      |  FROM documents
      |)""".stripMargin

  /** Full MinHash+LSH oracle: Kirsch–Mitzenmacher lane family (one md5 →
    * two 60-bit halves → 32 lanes) → 16 band buckets → distinct candidate
    * pairs → est-jaccard verify. Mirrors
    * Dedup.minhashLshPairs(laneHashes = portableLaneHashes(32)) exactly. */
  private val minhashCtes: String = {
    val h1 = hexFoldSql("s", 1)
    val h2 = hexFoldSql("s", 17)
    s"""$toksCte, sh AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 2
       |    THEN list_distinct(list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')))
       |    ELSE [] END AS sh
       |  FROM toks
       |), hp AS (
       |  SELECT doc_id, list_transform(sh, s -> [$h1, $h2 >> 5]) AS hp
       |  FROM sh WHERE len(sh) > 0
       |), sig AS (
       |  SELECT doc_id, list_transform(range(0, 32), i ->
       |    coalesce(list_min(list_transform(hp, p -> (p[1] + i * p[2]) & 1152921504606846975)), 9223372036854775807)) AS sig
       |  FROM hp
       |), banded AS (
       |  SELECT doc_id, sig, b, array_to_string(sig[b*2+1:b*2+2], ',') AS h
       |  FROM sig, unnest(range(0, 16)) AS t(b)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM banded a JOIN banded b ON a.b = b.b AND a.h = b.h AND a.doc_id < b.doc_id
       |), est AS (
       |  SELECT id_a, id_b,
       |    CAST(list_sum(list_transform(range(1, 33), i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS agree
       |  FROM cand
       |)""".stripMargin
  }

  /** Shared by d_decontaminate and d_decontaminate_bloom: the bloom
    * prefilter has no false negatives and its exact verify join removes
    * false positives, so both plans must produce THIS exact result. */
  private val decontaminateOracleSql: String =
    s"""WITH $toksCte, sh AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 4
       |    THEN list_distinct(list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')))
       |    ELSE [] END AS sh
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), evh AS (
       |  SELECT DISTINCT ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 = 0
       |), trh AS (
       |  SELECT doc_id, ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 <> 0
       |)
       |SELECT t.doc_id, count(DISTINCT t.h) AS n_shared
       |FROM trh t JOIN evh e ON t.h = e.h
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  private val minhashOracleSql: String =
    s"""WITH $minhashCtes
       |SELECT id_a, id_b, CAST(round(agree * 10000.0 / 32) AS BIGINT) AS est_e4
       |FROM est WHERE agree / 32.0 >= 0.1 ORDER BY id_a, id_b""".stripMargin

  /** Duplicate-cluster oracle: the minhash pair pipeline above, then the
    * transitive closure as a recursive CTE (UNION dedup terminates it) and
    * min-reachable-id labels; singletons fall out of the LEFT JOIN. */
  private val dupLabelCtes: String =
    s"""$minhashCtes, pairs AS (
       |  SELECT id_a, id_b FROM est WHERE agree / 32.0 >= 0.1
       |), sym AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |), reach(n, m) AS (
       |  SELECT u, v FROM sym
       |  UNION SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m
       |), labels AS (
       |  SELECT n, least(n, min(m)) AS comp FROM reach GROUP BY n
       |)""".stripMargin

  private val dupClustersOracleSql: String =
    s"""WITH RECURSIVE $dupLabelCtes
       |SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component
       |FROM documents d LEFT JOIN labels l ON l.n = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Keep-best oracle: cluster labels as above, then one representative
    * per cluster by (n_tokens desc, doc_id asc). */
  private val dedupKeepBestOracleSql: String =
    s"""WITH RECURSIVE $dupLabelCtes, comp AS (
       |  SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS component,
       |    len(list_filter(string_split_regex(d.text, '\\s+'), x -> len(x) > 0)) AS n_tokens
       |  FROM documents d LEFT JOIN labels l ON l.n = d.doc_id
       |), ranked AS (
       |  SELECT component, doc_id AS keep_id, n_tokens, row_number() OVER (
       |    PARTITION BY component ORDER BY n_tokens DESC, doc_id ASC) AS rn
       |  FROM comp
       |)
       |SELECT component, keep_id, n_tokens FROM ranked WHERE rn = 1
       |ORDER BY component""".stripMargin

  /** Full SimHash oracle: portable token hashes → 60-bit sign-vote
    * fingerprint → 4×15-bit band buckets → exact Hamming <= 3 verify.
    * Mirrors Dedup.simhashPairs exactly. */
  private val simhashOracleSql: String = {
    val th = hash60Sql("t")
    s"""WITH $toksCte, th AS (
       |  SELECT doc_id, list_transform(tk, t -> $th) AS th FROM toks
       |), fp AS (
       |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), i ->
       |    CASE WHEN coalesce(list_sum(list_transform(th, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
       |    THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
       |  FROM th WHERE len(th) > 0
       |), banded AS (
       |  SELECT doc_id, fp, q, (fp >> CAST(q * 15 AS INT)) & 32767 AS v
       |  FROM fp, unnest(range(0, 4)) AS t(q)
       |)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |FROM banded a JOIN banded b ON a.q = b.q AND a.v = b.v AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Hilbert index oracle: the classic xy2d loop unrolled as a recursive
    * CTE (16 steps, s = 32768 → 1), identical to geo.Hilbert.xy2d. */
  private val hilbertOracleSql: String =
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
       |SELECT page_id, d AS h FROM hil WHERE s = 0 ORDER BY h, page_id""".stripMargin

  /** SQL rendering of the 16-bit quantized hyperplane signature against the
    * literal AnnPlanes matrix (expects a `qv` BIGINT[] column in scope) —
    * shared verbatim by the e_ann_lsh and d_embed_neardup oracles. */
  private lazy val annSigTermsSql: String =
    AnnPlanes.zipWithIndex.map { case (row, p) =>
      val lits = row.mkString("[", ",", "]")
      s"CASE WHEN list_sum(list_transform(range(1, 65), j -> qv[j] * ($lits)[j])) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")

  /** e_ann_lsh oracle: quantize → integer dot vs the literal plane matrix →
    * 16-bit signature → 8×2-bit band buckets → distinct candidates →
    * cosine rank. Mirrors Similarity.annTopK(lshSignatureQuantized). */
  private val annOracleSql: String = {
    val sigTerms = annSigTermsSql
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), sigs AS (
       |  SELECT vec_id, v, CAST($sigTerms AS BIGINT) AS sig FROM base
       |), banded AS (
       |  SELECT vec_id, v, sig, b, (sig >> CAST(b * 2 AS INT)) & 3 AS bv
       |  FROM sigs, unnest(range(0, 8)) AS t(b)
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, d.vec_id AS vec_id
       |  FROM banded d JOIN banded q ON d.b = q.b AND d.bv = q.bv
       |  WHERE d.vec_id >= 5 AND q.vec_id < 5
       |)
       |SELECT q_id, sim_rank, vec_id FROM (
       |  SELECT c.q_id, c.vec_id,
       |    row_number() OVER (PARTITION BY c.q_id
       |      ORDER BY list_cosine_similarity(d.v, q.v) DESC, c.vec_id ASC) AS sim_rank
       |  FROM cand c
       |  JOIN sigs d ON d.vec_id = c.vec_id
       |  JOIN sigs q ON q.vec_id = c.q_id)
       |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin
  }

  /** d_embed_neardup oracle: the identical banded-LSH candidate generation,
    * then the EXACT integer cosine-threshold test in HUGEINT (mirrors the
    * engine's DECIMAL(38,0) arithmetic bit-for-bit): cos ≥ 0.4 ⟺
    * dot > 0 ∧ 25·dot² ≥ 4·‖a‖²·‖b‖² on round(x·10^6) vectors. */
  private val embedNearDupOracleSql: String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), sigs AS (
       |  SELECT vec_id, qv, CAST($annSigTermsSql AS BIGINT) AS sig,
       |    list_sum(list_transform(range(1, 65), j -> CAST(qv[j] AS HUGEINT) * qv[j])) AS n2
       |  FROM base
       |), banded AS (
       |  SELECT vec_id, b, (sig >> CAST(b * 2 AS INT)) & 3 AS bv
       |  FROM sigs, unnest(range(0, 8)) AS t(b)
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM banded a JOIN banded b ON a.b = b.b AND a.bv = b.bv AND a.vec_id < b.vec_id
       |), scored AS (
       |  SELECT c.id_a, c.id_b,
       |    list_sum(list_transform(range(1, 65), j -> CAST(x.qv[j] AS HUGEINT) * y.qv[j])) AS dot,
       |    x.n2 AS na, y.n2 AS nb
       |  FROM cand c JOIN sigs x ON x.vec_id = c.id_a JOIN sigs y ON y.vec_id = c.id_b
       |)
       |SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot_q FROM scored
       |WHERE dot > 0 AND 25 * dot * dot >= 4 * na * nb
       |ORDER BY id_a, id_b""".stripMargin

  /** e_ann_ivf oracle: same deterministic centroid rule (every 50th id)
    * plus the SAME two spherical-k-means Lloyd iterations over the
    * every-10th-id sample (assignment = cosine argmax, ties → lower
    * centroid id; update = per-(cell, dim) mean; empty cells keep their
    * centroid), then nearest-centroid assignment, 3-cell probes,
    * candidates joined on the cell, exact cosine rank. Mirrors
    * Similarity.refineCentroids + ivfTopK. Output columns are integers;
    * double-vs-double summation-order ulps can only matter at exact
    * argmax ties, which the synthetic embeddings don't produce. */
  /** Shared IVF oracle prelude: doubles view, every-50th seed centroids,
    * every-10th Lloyd sample, two spherical-k-means iterations → `cents`,
    * plus the data cell `assign` and 3-probe `probes` CTEs. Reused by the
    * plain IVF oracle and the IVF×PQ composition oracle. */
  private val ivfCentsCtes: String = {
    def lloyd(centsIn: String, assignCte: String, meansCte: String, centsOut: String): String =
      s"""$assignCte AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT s.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY list_cosine_similarity(s.dv, c.cv) DESC, c.cid ASC) AS rn
         |    FROM samp s, $centsIn c) WHERE rn = 1
         |), $meansCte AS (
         |  SELECT cid, list(m ORDER BY j) AS mv FROM (
         |    SELECT a.cid AS cid, t.j AS j, AVG(s.dv[t.j]) AS m
         |    FROM samp s JOIN $assignCte a ON a.vec_id = s.vec_id,
         |         unnest(range(1, 65)) AS t(j)
         |    GROUP BY a.cid, t.j)
         |  GROUP BY cid
         |), $centsOut AS (
         |  SELECT c.cid, COALESCE(m.mv, c.cv) AS cv
         |  FROM $centsIn c LEFT JOIN $meansCte m ON m.cid = c.cid
         |)""".stripMargin
    s"""WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
      |), cents0 AS (
      |  SELECT vec_id AS cid, dv AS cv FROM v WHERE vec_id % 50 = 0
      |), samp AS (
      |  SELECT vec_id, dv FROM v WHERE vec_id % 10 = 0
      |), ${lloyd("cents0", "lassign1", "lmeans1", "cents1")},
      |${lloyd("cents1", "lassign2", "lmeans2", "cents")},
      |assign AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT d.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY list_cosine_similarity(d.dv, c.cv) DESC, c.cid ASC) AS rn
      |    FROM v d, cents c WHERE d.vec_id >= 5)
      |  WHERE rn = 1
      |), probes AS (
      |  SELECT vec_id AS q_id, cid FROM (
      |    SELECT q.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.dv, c.cv) DESC, c.cid ASC) AS rn
      |    FROM v q, cents c WHERE q.vec_id < 5)
      |  WHERE rn <= 3
      |)""".stripMargin
  }

  private val ivfOracleSql: String =
    s"""$ivfCentsCtes
      |SELECT q_id, sim_rank, vec_id FROM (
      |  SELECT p.q_id, a.vec_id,
      |    row_number() OVER (PARTITION BY p.q_id
      |      ORDER BY list_cosine_similarity(d.dv, q.dv) DESC, a.vec_id ASC) AS sim_rank
      |  FROM probes p JOIN assign a ON a.cid = p.cid
      |  JOIN v d ON d.vec_id = a.vec_id JOIN v q ON q.vec_id = p.q_id)
      |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin

  /** IVF×PQ oracle: the shared IVF cell/probe CTEs select the PAIRS; the
    * ranking itself is the integer PQ ADC distance (codes = per-subspace
    * integer argmin vs the formula codebook; adc = Σ_s dtable[s][code_s]). */
  private val ivfPqOracleSql: String =
    s"""$ivfCentsCtes, ei AS (
      |  SELECT vec_id, list_transform(dv, x -> CAST(round(x * 1000) AS BIGINT)) AS e
      |  FROM v
      |), sc AS (
      |  SELECT s.s, c.c
      |  FROM (SELECT unnest(range(0, 8)) AS s) s, (SELECT unnest(range(0, 8)) AS c) c
      |), dd AS (
      |  SELECT d.vec_id, sc.s, sc.c,
      |    CAST(list_sum(list_transform(range(0, 8), j ->
      |      (d.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
      |      * (d.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
      |      AS BIGINT) AS dist
      |  FROM ei d CROSS JOIN sc WHERE d.vec_id >= 5
      |), codes AS (
      |  SELECT vec_id, s, c AS code FROM (
      |    SELECT vec_id, s, c, row_number() OVER (
      |      PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
      |    FROM dd
      |  ) WHERE rn = 1
      |), qd AS (
      |  SELECT q.vec_id AS q_id, sc.s, sc.c,
      |    CAST(list_sum(list_transform(range(0, 8), j ->
      |      (q.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
      |      * (q.e[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
      |      AS BIGINT) AS dist
      |  FROM ei q CROSS JOIN sc WHERE q.vec_id < 5
      |), adc AS (
      |  SELECT p.q_id, a.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
      |  FROM probes p JOIN assign a ON a.cid = p.cid
      |  JOIN codes cd ON cd.vec_id = a.vec_id
      |  JOIN qd ON qd.q_id = p.q_id AND qd.s = cd.s AND qd.c = cd.code
      |  GROUP BY p.q_id, a.vec_id
      |), ranked AS (
      |  SELECT q_id, vec_id, adc_dist, row_number() OVER (
      |    PARTITION BY q_id ORDER BY adc_dist ASC, vec_id ASC) AS pq_rank
      |  FROM adc
      |)
      |SELECT q_id, pq_rank, vec_id, adc_dist
      |FROM ranked WHERE pq_rank <= 3 ORDER BY q_id, pq_rank""".stripMargin

  /** m_multimodal_decode oracle: the deterministic stub codec's 64-bit
    * wraparound byte fold, reproduced with HUGEINT mod-2^64 arithmetic
    * (documents are ASCII, so char ordinals == UTF-8 bytes). */
  private val multimodalOracleSql: String =
    """WITH ch AS (
      |  SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |    list_transform(range(1, len(text) + 1), i -> CAST(ord(substr(text, i, 1)) AS HUGEINT)) AS bs
      |  FROM documents
      |), hh AS (
      |  SELECT doc_id, n_bytes,
      |    list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT), bs),
      |      (acc, b) -> (acc * 31 + b) % CAST('18446744073709551616' AS HUGEINT)) AS u
      |  FROM ch
      |), sh AS (
      |  SELECT doc_id, n_bytes,
      |    u - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
      |             THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS h,
      |    (u // 256) - CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
      |             THEN CAST(72057594037927936 AS HUGEINT) ELSE 0 END AS hs
      |  FROM hh
      |)
      |SELECT CAST(doc_id AS BIGINT) AS id, n_bytes,
      |  CAST(16 + ((h % 240) + 240) % 240 AS INT) AS width,
      |  CAST(16 + ((hs % 240) + 240) % 240 AS INT) AS height
      |FROM sh ORDER BY id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "d_minhash_pairs" -> minhashOracleSql,
    "d_dup_clusters" -> dupClustersOracleSql,
    "d_dedup_keep_best" -> dedupKeepBestOracleSql,

    // same tokenize → 4-shingle → 60-bit md5 hash → eval-set semi machinery
    "d_decontaminate" -> decontaminateOracleSql,
    // bloom prefilter + exact verify ≡ the exact broadcast sweep (no false
    // negatives; false positives removed) — the oracle IS d_decontaminate's
    "d_decontaminate_bloom" -> decontaminateOracleSql,

    // bigram MLE replayed: same 2-shingles, prefix-count denominator,
    // floor division at both the probability and the per-doc average
    "d_lm_score" ->
      s"""WITH $toksCte, bgx AS (
         |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
         |    THEN list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' '))
         |    ELSE [] END) AS bg
         |  FROM toks
         |), occ AS (
         |  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bgx
         |), c2 AS (
         |  SELECT w1, bg, count(*) AS c2 FROM occ GROUP BY 1, 2
         |), c1 AS (
         |  SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1
         |), p AS (
         |  SELECT bg, (c2 * 1000000) // c1 AS p_e6 FROM c2 JOIN c1 USING (w1)
         |), pd AS (
         |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(p_e6) // count(*) AS BIGINT) AS avg_p_e6
         |  FROM occ o JOIN p USING (bg) GROUP BY 1
         |)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |  coalesce(avg_p_e6, 0) AS avg_p_e6
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // the sketch is invisible in the answer: exact threshold count
    "d_heavy_hitters" ->
      s"""WITH $toksCte, tok AS (
         |  SELECT unnest(tk) AS term FROM toks
         |)
         |SELECT term, CAST(count(*) AS BIGINT) AS n
         |FROM tok GROUP BY term
         |HAVING count(*) * 50 >= (SELECT count(*) FROM tok)
         |ORDER BY term""".stripMargin,

    "d_top_terms" ->
      s"""WITH $toksCte, tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(tk) AS term FROM toks
         |  ) GROUP BY doc_id, term
         |), dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), ranked AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, row_number() OVER (
         |    PARTITION BY tf.doc_id ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS term_rank
         |  FROM tf JOIN dfreq USING (term)
         |)
         |SELECT doc_id, term, tf, df, term_rank FROM ranked WHERE term_rank <= 3
         |ORDER BY doc_id, term_rank""".stripMargin,

    // Gopher repetition signals: same tokenize → chunk → count machinery,
    // permyriad = (10000*num) // den (floor division, exact integers)
    "d_repetition" ->
      s"""WITH $toksCte, base AS (
         |  SELECT d.doc_id, d.text, len(d.text)::BIGINT AS tl, t.tk,
         |    list_transform(range(1, CAST(ceil(len(t.tk)/2.0) AS BIGINT) + 1),
         |      i -> array_to_string(t.tk[(i-1)*2+1:i*2], ' ')) AS lines,
         |    list_transform(range(1, CAST(ceil(len(t.tk)/3.0) AS BIGINT) + 1),
         |      i -> array_to_string(t.tk[(i-1)*3+1:i*3], ' ')) AS paras
         |  FROM documents d JOIN toks t USING (doc_id)
         |), uf AS (
         |  SELECT doc_id,
         |    len(lines)::BIGINT AS nl, len(list_distinct(lines))::BIGINT AS ndl,
         |    coalesce(list_sum(list_transform(lines, x -> len(x))), 0)::BIGINT AS lc,
         |    coalesce(list_sum(list_transform(list_distinct(lines), x -> len(x))), 0)::BIGINT AS ldc,
         |    len(paras)::BIGINT AS np, len(list_distinct(paras))::BIGINT AS ndp
         |  FROM base
         |), tops AS (
         |  SELECT n, doc_id, c, g FROM (
         |    SELECT n, doc_id, c, g, row_number() OVER (
         |      PARTITION BY n, doc_id ORDER BY c DESC, g ASC) AS rn
         |    FROM (
         |      SELECT n, doc_id, g, count(*)::BIGINT AS c FROM (
         |        SELECT ns.n, b.doc_id,
         |          unnest(CASE WHEN len(b.tk) >= ns.n
         |            THEN list_transform(range(1, len(b.tk) - ns.n + 2),
         |                                i -> array_to_string(b.tk[i:i+ns.n-1], ' '))
         |            ELSE [] END) AS g
         |        FROM base b CROSS JOIN (SELECT unnest([2, 3, 4]) AS n) ns
         |      ) GROUP BY n, doc_id, g
         |    )
         |  ) WHERE rn = 1
         |), sym AS (
         |  SELECT doc_id,
         |    (len(text) - len(replace(text, '#', '')))::BIGINT
         |    + (len(text) - len(replace(text, '…', '')))::BIGINT
         |    + ((len(text) - len(replace(text, '...', ''))) // 3)::BIGINT AS nsym,
         |    len(tk)::BIGINT AS ntok
         |  FROM base
         |)
         |SELECT b.doc_id,
         |  CASE WHEN uf.nl > 0 THEN (10000 * (uf.nl - uf.ndl)) // uf.nl ELSE 0 END AS dup_line_e4,
         |  CASE WHEN uf.lc > 0 THEN (10000 * (uf.lc - uf.ldc)) // uf.lc ELSE 0 END AS dup_line_char_e4,
         |  CASE WHEN uf.np > 0 THEN (10000 * (uf.np - uf.ndp)) // uf.np ELSE 0 END AS dup_para_e4,
         |  coalesce(CASE WHEN b.tl > 0 THEN (10000 * t2.c * len(t2.g)) // b.tl END, 0) AS top2_char_e4,
         |  coalesce(CASE WHEN b.tl > 0 THEN (10000 * t3.c * len(t3.g)) // b.tl END, 0) AS top3_char_e4,
         |  coalesce(CASE WHEN b.tl > 0 THEN (10000 * t4.c * len(t4.g)) // b.tl END, 0) AS top4_char_e4,
         |  CASE WHEN sym.ntok > 0 THEN (10000 * sym.nsym) // sym.ntok ELSE 0 END AS sym_word_e4
         |FROM base b
         |JOIN uf USING (doc_id) JOIN sym USING (doc_id)
         |LEFT JOIN (SELECT * FROM tops WHERE n = 2) t2 USING (doc_id)
         |LEFT JOIN (SELECT * FROM tops WHERE n = 3) t3 USING (doc_id)
         |LEFT JOIN (SELECT * FROM tops WHERE n = 4) t4 USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // DuckDB twin of Sampling.hashBucket/hashSplit: same 60-bit md5 fold
    "d_sample_hash" ->
      s"""SELECT doc_id,
         |  ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
         |  CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 1000 < 50
         |       THEN 'holdout' ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // packSegments replayed: the same sequential cumsum, then one row per
    // chunk in [chunk_first, chunk_last] with clamped segment arithmetic
    "d_pack_segments" ->
      s"""WITH $toksCte, t AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM t
         |), e AS (
         |  SELECT doc_id, n_tokens, tok_start,
         |    unnest(range(tok_start // 512, (tok_start + n_tokens - 1) // 512 + 1)) AS chunk_id
         |  FROM c WHERE n_tokens > 0
         |)
         |SELECT chunk_id, doc_id,
         |  greatest(tok_start, chunk_id * 512) - chunk_id * 512 AS chunk_off,
         |  greatest(tok_start, chunk_id * 512) - tok_start AS doc_off,
         |  least(tok_start + n_tokens, (chunk_id + 1) * 512)
         |    - greatest(tok_start, chunk_id * 512) AS seg_len
         |FROM e ORDER BY chunk_id, doc_id""".stripMargin,

    // subwordCountPortable replayed: same whitespace token count + the
    // same non-overlapping boundary patterns via regexp_extract_all
    "d_token_bpe" ->
      """WITH t AS (
        |  SELECT doc_id, text || ' Doc' || doc_id || 'Xy' AS t2 FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(t2, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split_regex(t2, '\s+'), x -> len(x) > 0))
        |    + len(regexp_extract_all(t2, '[a-z][A-Z]|[A-Za-z][0-9]|[0-9][A-Za-z]')) AS BIGINT) AS subword_est
        |FROM t ORDER BY doc_id""".stripMargin,

    // the full pretraining recipe, each stage's oracle CTE chained in
    // composition order: train-corpus dup-span gate (< 3000 e4) →
    // 4-shingle decontamination anti-join → per-lang rates over the
    // CLEAN corpus → hash sampling → sequential cumsum + chunking
    "d_curate_full" ->
      s"""WITH $toksCte, w AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 8
         |    THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))
         |    ELSE [] END AS ws
         |  FROM toks WHERE doc_id % 50 <> 0
         |), occ AS (
         |  SELECT doc_id, ${hash60Sql("s")} AS h
         |  FROM (SELECT doc_id, unnest(ws) AS s FROM w)
         |), dm AS (
         |  SELECT doc_id, h, count(*) AS m FROM occ GROUP BY 1, 2
         |), hc AS (
         |  SELECT h, sum(m) AS c FROM dm GROUP BY 1
         |), pd AS (
         |  SELECT doc_id, CASE WHEN sum(m) > 0
         |    THEN (10000 * sum(CASE WHEN c >= 2 THEN m ELSE 0 END)) // sum(m)
         |    ELSE 0 END AS dup_frac_e4
         |  FROM dm JOIN hc USING (h) GROUP BY doc_id
         |), kept AS (
         |  SELECT d.doc_id, d.lang FROM documents d LEFT JOIN pd USING (doc_id)
         |  WHERE d.doc_id % 50 <> 0 AND coalesce(pd.dup_frac_e4, 0) < 3000
         |), sh4 AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 4
         |    THEN list_distinct(list_transform(range(1, len(tk) - 2), i -> array_to_string(tk[i:i+3], ' ')))
         |    ELSE [] END AS sh
         |  FROM toks
         |), ex AS (
         |  SELECT doc_id, unnest(sh) AS s FROM sh4
         |), evh AS (
         |  SELECT DISTINCT ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 = 0
         |), trh AS (
         |  SELECT doc_id, ${hash60Sql("s")} AS h FROM ex WHERE doc_id % 50 <> 0
         |), flagged AS (
         |  SELECT DISTINCT t.doc_id FROM trh t JOIN evh e ON t.h = e.h
         |), clean AS (
         |  SELECT k.doc_id, k.lang FROM kept k
         |  WHERE k.doc_id NOT IN (SELECT doc_id FROM flagged)
         |), nl AS (
         |  SELECT lang, count(*) AS n FROM clean GROUP BY 1
         |), r AS (
         |  SELECT lang, least(10000, (10000 * 25) // n) AS rate_e4 FROM nl
         |), samp AS (
         |  SELECT c2.doc_id, c2.lang FROM clean c2 JOIN r USING (lang)
         |  WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 < rate_e4
         |), tt AS (
         |  SELECT s2.doc_id, s2.lang, CAST(len(t2.tk) AS BIGINT) AS n_tokens
         |  FROM samp s2 JOIN toks t2 USING (doc_id)
         |), cc AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM tt
         |)
         |SELECT doc_id, lang, n_tokens, tok_start,
         |  tok_start // 512 AS chunk_first,
         |  CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
         |    ELSE tok_start // 512 END AS chunk_last
         |FROM cc ORDER BY doc_id""".stripMargin,

    // stratifiedSample replayed: exact permyriad rates from group counts,
    // the same md5-fold bucket, floor division throughout
    "d_sample_stratified" ->
      s"""WITH n AS (
         |  SELECT lang, count(*) AS n FROM documents GROUP BY 1
         |), r AS (
         |  SELECT lang, least(10000, (10000 * 30) // n) AS rate_e4 FROM n
         |)
         |SELECT doc_id, lang, rate_e4
         |FROM documents JOIN r USING (lang)
         |WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 < rate_e4
         |ORDER BY doc_id""".stripMargin,

    // the salted two-phase cap is proven identical to the plain window in
    // SamplingSpec, so the oracle IS the plain window
    "d_source_cap" ->
      s"""WITH ranked AS (
         |  SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rn
         |  FROM documents
         |)
         |SELECT doc_id, source FROM ranked WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    // full canonicalization recipe re-implemented in DuckDB over the same
    // synthesized messy URL
    "d_url_canonical" ->
      s"""WITH raw AS (
         |  SELECT doc_id, $messyUrlSql AS url FROM documents
         |), $urlPartsSql
         |SELECT doc_id, url_canon, domain FROM canon ORDER BY doc_id""".stripMargin,

    // registered-domain quota: the salted two-phase cap ≡ plain window
    // (proven in SamplingSpec), so the oracle is the window over the
    // DuckDB-computed domain
    "d_domain_cap" ->
      s"""WITH raw AS (
         |  SELECT doc_id, $messyUrlSql AS url FROM documents
         |), $urlPartsSql, ranked AS (
         |  SELECT doc_id, domain, row_number() OVER (
         |    PARTITION BY domain
         |    ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rn
         |  FROM canon
         |)
         |SELECT doc_id, domain FROM ranked WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "d_simhash_pairs" -> simhashOracleSql,
    "s_hilbert_order" -> hilbertOracleSql,
    "e_ann_lsh" -> annOracleSql,
    "e_ann_ivf" -> ivfOracleSql,
    "e_ivf_pq" -> ivfPqOracleSql,

    // PQ codebook formula + integer quantization replayed verbatim:
    // codes = per-subspace argmin of integer squared L2, ADC = Σ_s
    // dtable[s][code_s] — all BIGINT, order-free
    "e_pq_adc" ->
      """WITH data AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ei
        |  FROM embeddings WHERE vec_id >= 5
        |), qs AS (
        |  SELECT vec_id AS q_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qi
        |  FROM embeddings WHERE vec_id < 5
        |), sc AS (
        |  SELECT s.s, c.c
        |  FROM (SELECT unnest(range(0, 8)) AS s) s, (SELECT unnest(range(0, 8)) AS c) c
        |), dd AS (
        |  SELECT d.vec_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (d.ei[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (d.ei[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM data d CROSS JOIN sc
        |), codes AS (
        |  SELECT vec_id, s, c AS code FROM (
        |    SELECT vec_id, s, c, row_number() OVER (
        |      PARTITION BY vec_id, s ORDER BY dist ASC, c ASC) AS rn
        |    FROM dd
        |  ) WHERE rn = 1
        |), qd AS (
        |  SELECT q.q_id, sc.s, sc.c,
        |    CAST(list_sum(list_transform(range(0, 8), j ->
        |      (q.qi[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))
        |      * (q.qi[sc.s*8 + j + 1] - (((sc.s*131 + sc.c*37 + j*17) % 41 - 20) * 10))))
        |      AS BIGINT) AS dist
        |  FROM qs q CROSS JOIN sc
        |), adc AS (
        |  SELECT qd.q_id, cd.vec_id, CAST(SUM(qd.dist) AS BIGINT) AS adc_dist
        |  FROM codes cd JOIN qd ON qd.s = cd.s AND qd.c = cd.code
        |  GROUP BY qd.q_id, cd.vec_id
        |), ranked AS (
        |  SELECT q_id, vec_id, adc_dist, row_number() OVER (
        |    PARTITION BY q_id ORDER BY adc_dist ASC, vec_id ASC) AS pq_rank
        |  FROM adc
        |)
        |SELECT q_id, pq_rank, vec_id, adc_dist
        |FROM ranked WHERE pq_rank <= 3 ORDER BY q_id, pq_rank""".stripMargin,
    "d_embed_neardup" -> embedNearDupOracleSql,
    "m_multimodal_decode" -> multimodalOracleSql,

    // the PNG payload is built from (doc_id, x, y) arithmetic, so the
    // oracle reproduces IHDR dims + the unfiltered pixel sum without a
    // codec: a decoder bug (filters, inflate, CRC) breaks the match
    "m_png_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, 4 + doc_id % 9 AS width, 4 + (doc_id * 3) % 9 AS height
        |  FROM documents
        |), px AS (
        |  SELECT d.doc_id, d.width, d.height, gx.x, gy.y
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 12)) AS x) gx ON gx.x < d.width
        |  JOIN (SELECT unnest(range(0, 12)) AS y) gy ON gy.y < d.height
        |)
        |SELECT doc_id, width, height,
        |       SUM((doc_id * 31 + 7 * x + 13 * y) % 256)::BIGINT AS pixel_sum
        |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin,

    // independent DuckDB re-extraction of the same synthesized rich html;
    // roundtrip is the Spark-side byte-identity invariant (a FALSE would
    // hash-mismatch the constant-TRUE oracle column)
    "d_html_extract" ->
      s"""WITH pg AS (
         |  SELECT (l_orderkey * 8 + l_linenumber)::BIGINT AS page_id,
         |         'page body ' || CAST((l_orderkey * 8 + l_linenumber)::BIGINT AS VARCHAR)
         |           || ' marker ' || CAST((l_orderkey * 8 + l_linenumber)::BIGINT % 97 AS VARCHAR)
         |           || ' éè' AS text
         |  FROM lineitem
         |), rich AS (
         |  SELECT page_id,
         |    '<html><head><title>T</title><style>p{c:1}</style><script>if (1 < 2) { x(); }</script></head><body><p class="a">'
         |      || text ||
         |    '</p><br/>&amp;lt; stays &lt;b&gt; &#39;q&#39;&nbsp;end</body></html>' AS rh
         |  FROM pg
         |)
         |SELECT page_id, ${graft.operators.Html.extractTextSql("rh")} AS extracted,
         |       TRUE AS roundtrip
         |FROM rich ORDER BY page_id""".stripMargin,

    // every 8×8 block constant ⇒ pixel_sum = Σ_blocks 64·blockvalue —
    // pure arithmetic (see the m_jpeg_decode comment for why the JDK
    // codec reproduces it bit-exactly at quality 1.0)
    "m_jpeg_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 * (1 + doc_id % 3) AS width, 8 * (1 + (doc_id * 3) % 3) AS height
        |  FROM documents
        |), blocks AS (
        |  SELECT d.doc_id, d.width, d.height, bx.x AS bx, by.y AS by
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 3)) AS x) bx ON bx.x < d.width // 8
        |  JOIN (SELECT unnest(range(0, 3)) AS y) by ON by.y < d.height // 8
        |)
        |SELECT doc_id, width, height,
        |       SUM(64 * ((doc_id * 31 + 7 * bx + 13 * by) % 256))::BIGINT AS pixel_sum
        |FROM blocks GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin,

    // decode → ×2 box-average: each 8×8 constant block becomes a 4×4
    // constant region, so pixel_sum = Σ_blocks 16·blockvalue
    "m_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id * 3) % 3) AS h
        |  FROM documents
        |), blocks AS (
        |  SELECT d.doc_id, d.w, d.h, bx.x AS bx, by.y AS by
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 3)) AS x) bx ON bx.x < d.w // 8
        |  JOIN (SELECT unnest(range(0, 3)) AS y) by ON by.y < d.h // 8
        |)
        |SELECT doc_id, (w // 2)::BIGINT AS width, (h // 2)::BIGINT AS height,
        |       SUM(16 * ((doc_id * 31 + 7 * bx + 13 * by) % 256))::BIGINT AS pixel_sum
        |FROM blocks GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // PCM16 is lossless ⇒ the decoded unsigned sample sum is pure
    // (doc_id, i) arithmetic: sample i of doc id = (id*31 + i*7) % 65536
    // unsigned (the codec sees it biased to signed, the sum folds back)
    "m_wav_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS channels, 8 + doc_id % 9 AS frames
        |  FROM documents
        |), samples AS (
        |  SELECT d.doc_id, d.channels, d.frames, i.i
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 32)) AS i) i ON i.i < d.frames * d.channels
        |)
        |SELECT doc_id, frames::BIGINT AS n_frames, channels::BIGINT AS channels,
        |       SUM((doc_id * 31 + i * 7) % 65536)::BIGINT AS sample_sum
        |FROM samples GROUP BY doc_id, frames, channels ORDER BY doc_id""".stripMargin,

    // decimation replayed: output index j maps to original interleaved
    // index (j // ch)·2·ch + (j % ch); unsigned fold as in m_wav_decode
    "m_audio_resample" ->
      """WITH dims AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS channels, 8 + doc_id % 9 AS frames
        |  FROM documents
        |), sel AS (
        |  SELECT d.doc_id, d.channels, (d.frames + 1) // 2 AS out_frames, j.j,
        |    (j.j // d.channels) * 2 * d.channels + (j.j % d.channels) AS i
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 32)) AS j) j
        |    ON j.j < ((d.frames + 1) // 2) * d.channels
        |)
        |SELECT doc_id, out_frames::BIGINT AS n_frames, channels::BIGINT AS channels,
        |  SUM((doc_id * 31 + i * 7) % 65536)::BIGINT AS sample_sum
        |FROM sel GROUP BY doc_id, out_frames, channels ORDER BY doc_id""".stripMargin,

    // audioFeatures replayed: interleaved index i → (frame i // ch,
    // channel i % ch); Σ|x| per 5-frame window + sign-flip count with
    // both ends inside the window (frame % 5 <> 0 excludes the boundary)
    "m_wav_features" ->
      """WITH dims AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS channels, 8 + doc_id % 9 AS frames
        |  FROM documents
        |), sam AS (
        |  SELECT d.doc_id, CAST(i.i % d.channels AS BIGINT) AS channel,
        |    i.i // d.channels AS frame,
        |    ((d.doc_id * 31 + i.i * 7) % 65536) - 32768 AS x
        |  FROM dims d
        |  JOIN (SELECT unnest(range(0, 32)) AS i) i ON i.i < d.frames * d.channels
        |), w AS (
        |  SELECT doc_id, channel, frame, frame // 5 AS win, x,
        |    lag(x) OVER (PARTITION BY doc_id, channel ORDER BY frame) AS px
        |  FROM sam
        |)
        |SELECT doc_id, channel, win,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(abs(x)) AS BIGINT) AS abs_sum,
        |  CAST(sum(CASE WHEN frame % 5 <> 0 AND ((px < 0) <> (x < 0))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM w GROUP BY 1, 2, 3 ORDER BY doc_id, channel, win""".stripMargin,

    // the sampled (even-numbered) frames' dims and pixel sums are pure
    // (doc_id, frame, x, y) arithmetic — the Spark side must reproduce
    // them THROUGH the container split + real PNG decode
    "m_frame_sample" ->
      """WITH frames AS (
        |  SELECT d.doc_id, f.f AS frame_no,
        |         4 + (d.doc_id + f.f) % 5 AS w, 4 + (d.doc_id * 3 + f.f) % 5 AS h
        |  FROM documents d
        |  JOIN (SELECT unnest(range(0, 4)) AS f) f
        |    ON f.f < 1 + d.doc_id % 4 AND f.f % 2 = 0
        |), px AS (
        |  SELECT fr.doc_id, fr.frame_no, fr.w, fr.h, x.x AS x, y.y AS y
        |  FROM frames fr
        |  JOIN (SELECT unnest(range(0, 9)) AS x) x ON x.x < fr.w
        |  JOIN (SELECT unnest(range(0, 9)) AS y) y ON y.y < fr.h
        |)
        |SELECT doc_id, frame_no::INT AS frame_no, w::BIGINT AS width,
        |       h::BIGINT AS height,
        |       SUM((doc_id * 31 + frame_no * 17 + 7 * x + 13 * y) % 256)::BIGINT AS pixel_sum
        |FROM px GROUP BY doc_id, frame_no, w, h
        |ORDER BY doc_id, frame_no""".stripMargin,

    // identical RE2-subset regex chain, identical sequential semantics:
    // count emails on the raw text, replace; count IPs on the
    // email-redacted text, replace; count phones on the IP-redacted text
    "d_pii_redact" ->
      s"""WITH raw AS (
         |  SELECT doc_id, text || ' contact user' || doc_id || '@example.com from 10.0.'
         |    || (doc_id % 256) || '.7 or call 555-123-4567 ext ' || (doc_id % 10) || '.' AS t
         |  FROM documents
         |), s1 AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(t, '${Curation.EmailRe}'))::BIGINT AS n_email,
         |    regexp_replace(t, '${Curation.EmailRe}', '<EMAIL>', 'g') AS t1
         |  FROM raw
         |), s2 AS (
         |  SELECT doc_id, n_email,
         |    len(regexp_extract_all(t1, '${Curation.Ipv4Re}'))::BIGINT AS n_ip,
         |    regexp_replace(t1, '${Curation.Ipv4Re}', '<IP>', 'g') AS t2
         |  FROM s1
         |), s3 AS (
         |  SELECT doc_id, n_email, n_ip,
         |    len(regexp_extract_all(t2, '${Curation.PhoneRe}'))::BIGINT AS n_phone,
         |    regexp_replace(t2, '${Curation.PhoneRe}', '<PHONE>', 'g') AS redacted
         |  FROM s2
         |)
         |SELECT doc_id, redacted, n_email, n_ip, n_phone
         |FROM s3 ORDER BY doc_id""".stripMargin,

    // same synthesized line structure (3-token chunks, '.'/''/'!' cycling
    // terminators, brace/lorem lines appended for id%37 / id%41), same
    // C4 rules: keep lines ending in terminal punct with >= 3 words;
    // keep docs with >= 2 terminal marks in the CLEANED text and no
    // '{' / 'lorem ipsum' in the ORIGINAL
    "d_c4_filter" ->
      s"""WITH $toksCte, nl AS (
         |  SELECT d.doc_id,
         |    CASE WHEN len(t.tk) > 0 THEN
         |      array_to_string(list_transform(range(1, CAST(ceil(len(t.tk)/3.0) AS BIGINT) + 1),
         |        i -> array_to_string(t.tk[(i-1)*3+1:i*3], ' ') ||
         |             CASE ((i-1) % 3) WHEN 0 THEN '.' WHEN 1 THEN '' ELSE '!' END), chr(10))
         |    ELSE '' END AS base_text
         |  FROM documents d JOIN toks t USING (doc_id)
         |), txt AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 37 = 0 THEN base_text || chr(10) || 'code { x }'
         |         WHEN doc_id % 41 = 0 THEN base_text || chr(10) || 'Lorem Ipsum dolor sit amet.'
         |         ELSE base_text END AS t
         |  FROM nl
         |), lined AS (
         |  SELECT doc_id, t,
         |    list_filter(string_split(t, chr(10)), l -> len(l) > 0) AS all_lines
         |  FROM txt
         |), cleaned AS (
         |  SELECT doc_id, t, all_lines,
         |    array_to_string(list_filter(all_lines,
         |      l -> regexp_matches(l, '[.!?"]$$')
         |           AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> len(w) > 0)) >= 3),
         |      chr(10)) AS clean_text,
         |    len(list_filter(all_lines,
         |      l -> regexp_matches(l, '[.!?"]$$')
         |           AND len(list_filter(regexp_split_to_array(l, '\\s+'), w -> len(w) > 0)) >= 3))::BIGINT AS n_kept
         |  FROM lined
         |)
         |SELECT doc_id, clean_text, n_kept, len(all_lines)::BIGINT AS n_total,
         |  (len(clean_text) - len(regexp_replace(clean_text, '[.!?]', '', 'g')) >= 2
         |   AND t NOT LIKE '%{%' AND NOT contains(lower(t), 'lorem ipsum')) AS keep_doc
         |FROM cleaned ORDER BY doc_id""".stripMargin,

    // global first-occurrence keep over 8-token chunks: the (doc_id, pos)
    // min is a total order, so the window-rank oracle and the engine's
    // min-struct aggregate agree exactly
    "d_para_dedup" ->
      s"""WITH $toksCte, units AS (
         |  SELECT doc_id,
         |    unnest(range(1, CAST(ceil(len(tk)/8.0) AS BIGINT) + 1)) AS i, tk
         |  FROM toks WHERE len(tk) > 0
         |), u2 AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[(i-1)*8+1:i*8], ' ') AS unit
         |  FROM units
         |), marked AS (
         |  SELECT doc_id, pos, unit,
         |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
         |  FROM u2
         |)
         |SELECT doc_id,
         |  coalesce(array_to_string(list(unit ORDER BY pos) FILTER (WHERE rn = 1), ' '), '') AS clean_text,
         |  count(*) FILTER (WHERE rn = 1)::BIGINT AS n_kept,
         |  count(*)::BIGINT AS n_total
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same synthesized line structure (4-token chunks, bullet/ellipsis
    // markers on the %7 / %11 residues), same exact-integer rules
    "d_gopher_quality" ->
      s"""WITH $toksCte, lined AS (
         |  SELECT d.doc_id, t.tk,
         |    CASE WHEN len(t.tk) > 0 THEN
         |      list_transform(range(1, CAST(ceil(len(t.tk)/4.0) AS BIGINT) + 1),
         |        i -> (CASE WHEN (d.doc_id + i - 1) % 7 = 0 THEN '• ' ELSE '' END)
         |             || array_to_string(t.tk[(i-1)*4+1:i*4], ' ')
         |             || (CASE WHEN (d.doc_id + i - 1) % 11 = 0 THEN '...' ELSE '' END))
         |    ELSE [] END AS ln
         |  FROM documents d JOIN toks t USING (doc_id)
         |), stats AS (
         |  SELECT doc_id, len(tk)::BIGINT AS n_tokens,
         |    CASE WHEN len(tk) > 0 THEN
         |      (100 * coalesce(list_sum(list_transform(tk, x -> len(x))), 0)) // len(tk)
         |    ELSE 0 END::BIGINT AS mean_word_len_e2,
         |    CASE WHEN len(tk) > 0 THEN
         |      (10000 * len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))) // len(tk)
         |    ELSE 0 END::BIGINT AS alpha_word_e4,
         |    CASE WHEN len(ln) > 0 THEN
         |      (10000 * len(list_filter(ln, x -> regexp_matches(x, '^(•|- )')))) // len(ln)
         |    ELSE 0 END::BIGINT AS bullet_line_e4,
         |    CASE WHEN len(ln) > 0 THEN
         |      (10000 * len(list_filter(ln, x -> regexp_matches(x, '(…|\\.\\.\\.)$$')))) // len(ln)
         |    ELSE 0 END::BIGINT AS ellipsis_line_e4
         |  FROM lined
         |)
         |SELECT doc_id, n_tokens, mean_word_len_e2, alpha_word_e4,
         |  bullet_line_e4, ellipsis_line_e4,
         |  (n_tokens BETWEEN 5 AND 100000 AND mean_word_len_e2 BETWEEN 150 AND 1000
         |   AND alpha_word_e4 >= 5000 AND bullet_line_e4 <= 9000
         |   AND ellipsis_line_e4 <= 3000) AS gopher_keep
         |FROM stats ORDER BY doc_id""".stripMargin,

    // the composed pipeline: each stage's oracle CTE chained in the same
    // order — gate, paragraph dedup over survivors, boilerplate drop,
    // per-domain cap (plain-window twin of the salted cap), hash split
    "d_curate_e2e" ->
      s"""WITH $toksCte, raw AS (
         |  SELECT doc_id, $messyUrlSql AS url FROM documents
         |), $urlPartsSql, quality AS (
         |  SELECT doc_id, tk FROM toks WHERE len(tk) >= 5
         |), units AS (
         |  SELECT doc_id,
         |    unnest(range(1, CAST(ceil(len(tk)/8.0) AS BIGINT) + 1)) AS i, tk
         |  FROM quality WHERE len(tk) > 0
         |), u2 AS (
         |  SELECT doc_id, i - 1 AS pos, array_to_string(tk[(i-1)*8+1:i*8], ' ') AS unit
         |  FROM units
         |), marked AS (
         |  SELECT doc_id, pos, unit,
         |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
         |  FROM u2
         |), dd AS (
         |  SELECT doc_id, count(*) FILTER (WHERE rn = 1)::BIGINT AS n_kept
         |  FROM marked GROUP BY doc_id
         |  HAVING count(*) FILTER (WHERE rn = 1) > 0
         |), ranked AS (
         |  SELECT dd.doc_id, c.domain, dd.n_kept, row_number() OVER (
         |    PARTITION BY c.domain
         |    ORDER BY ${hash60Sql("CAST(dd.doc_id AS VARCHAR)")} ASC, dd.doc_id ASC) AS rn2
         |  FROM dd JOIN canon c USING (doc_id)
         |)
         |SELECT doc_id, domain, n_kept,
         |  CASE WHEN ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 1000 < 50
         |       THEN 'holdout' ELSE 'train' END AS split
         |FROM ranked WHERE rn2 <= 50 ORDER BY doc_id""".stripMargin,

    "d_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend('graft', list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)),
        |    (acc, t) -> md5(acc || '|' || t)) AS fp_hex
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_topk" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, rk, o_orderkey, price_cents FROM (
        |  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 2 AND o_custkey % 100 = 0 ORDER BY o_custkey, rk""".stripMargin,

    "q_distinct_hier" ->
      "SELECT DISTINCT p_brand, p_type FROM part ORDER BY 1, 2",

    "q_union" ->
      """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |UNION SELECT CAST(s_nationkey AS BIGINT) FROM supplier ORDER BY 1""".stripMargin,

    "q_wide_pivot" ->
      """SELECT p_partkey,
        |  coalesce(p_brand = 'Brand#1', false) AS "part|brand#1",
        |  coalesce(p_brand = 'Brand#2', false) AS "part|brand#2",
        |  coalesce(p_brand = 'Brand#3', false) AS "part|brand#3",
        |  coalesce(p_brand = 'Brand#4', false) AS "part|brand#4",
        |  coalesce(p_brand = 'Brand#5', false) AS "part|brand#5"
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_percentile" ->
      """SELECT c_mktsegment,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) AS p50,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.9) AS p90
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_intersect" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier ORDER BY 1""".stripMargin,

    "q_except" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier ORDER BY 1""".stripMargin,

    "q_wide_combine" ->
      """SELECT p_partkey,
        |  coalesce("small|ECONOMY", false) AS "small|ECONOMY",
        |  coalesce("small|STANDARD", false) AS "small|STANDARD",
        |  coalesce("large|ECONOMY", false) AS "large|ECONOMY",
        |  coalesce("large|PROMO", false) AS "large|PROMO"
        |FROM (
        |  SELECT p_partkey,
        |    coalesce(p_type = 'ECONOMY', false) AS "small|ECONOMY",
        |    coalesce(p_type = 'STANDARD', false) AS "small|STANDARD"
        |  FROM part WHERE p_size <= 25
        |  UNION ALL BY NAME
        |  SELECT p_partkey,
        |    coalesce(p_type = 'ECONOMY', false) AS "large|ECONOMY",
        |    coalesce(p_type = 'PROMO', false) AS "large|PROMO"
        |  FROM part WHERE p_size > 25)
        |ORDER BY p_partkey""".stripMargin,

    "q_wide_vocab" ->
      """SELECT p_partkey,
        |  coalesce(p_type = 'ECONOMY', false) AS "part|type|ECONOMY",
        |  coalesce(p_type = 'LARGE', false) AS "part|type|LARGE",
        |  coalesce(p_type = 'MEDIUM', false) AS "part|type|MEDIUM",
        |  coalesce(p_type = 'PROMO', false) AS "part|type|PROMO",
        |  coalesce(p_type = 'SMALL', false) AS "part|type|SMALL",
        |  coalesce(p_type = 'STANDARD', false) AS "part|type|STANDARD"
        |FROM part WHERE p_size <= 10 ORDER BY p_partkey""".stripMargin,

    "q_wide_release" -> wideReleaseSql,

    "q_wide_poi" -> widePoiSql,

    "q_multi_convert" ->
      s"""WITH $P, feats AS (
         |  SELECT page_id, CAST(page_id AS VARCHAR) AS id, lat, lng,
         |    ['en','de','pl','fr','ja'][CAST(page_id % 5 AS INT) + 1] AS lang
         |  FROM pages
         |)
         |SELECT lat, lng, lang, id, pair_type FROM (
         |  SELECT lat, lng, lang, id, 'en' AS pair_type FROM feats
         |  WHERE lang = 'en' AND $pentagonInteriorSql AND page_id > 1000
         |  UNION ALL
         |  SELECT lat, lng, lang, id, 'de' AS pair_type FROM feats
         |  WHERE lang = 'de' AND $pentagonInteriorSql
         |) ORDER BY pair_type, id""".stripMargin,

    "q_nullstop_concat" ->
      """SELECT p_partkey,
        |  p_brand || CASE WHEN p_type = 'ECONOMY' THEN ''
        |                  ELSE '|' || p_type || '|' || p_name END AS wide_name
        |FROM part ORDER BY p_partkey""".stripMargin,

    "s_join_rect_adaptive" ->
      s"""WITH $P, $POLY
         |SELECT y.poly_id, p.page_id FROM pages p
         |JOIN polys y ON p.lng > y.xmin AND p.lng < y.xmax AND p.lat > y.ymin AND p.lat < y.ymax
         |ORDER BY y.poly_id, p.page_id""".stripMargin,

    "s_index_prune" ->
      s"""WITH $P
         |SELECT page_id, lat, lng FROM pages
         |WHERE $pentagonInteriorSql
         |ORDER BY page_id""".stripMargin,

    "s_bbox_filter" ->
      s"""WITH $P
         |SELECT p.page_id, p.lat, p.lng,
         |  ['en','de','pl','fr','ja'][CAST(p.page_id % 5 AS INT) + 1] AS lang
         |FROM pages p
         |WHERE p.lng < 30.00005 AND p.lng > 10.00005 AND p.lat < 40.00005 AND p.lat > 20.00005
         |ORDER BY p.page_id""".stripMargin,

    "s_pip_convex" ->
      s"""WITH $P
         |SELECT page_id, lat, lng FROM pages
         |WHERE $pentagonInteriorSql
         |ORDER BY page_id""".stripMargin,

    "s_tile_assign" ->
      s"""WITH $P
         |SELECT page_id,
         |  CAST(least(greatest(floor((lng + 180.0) / 360.0 * 256), 0), 255) AS BIGINT) AS tile_x,
         |  CAST(least(greatest(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 256), 0), 255) AS BIGINT) AS tile_y
         |FROM pages ORDER BY page_id""".stripMargin,

    "s_tile_raster" ->
      s"""WITH $P
         |SELECT CAST(least(greatest(floor((lng + 180.0) / 360.0 * 32), 0), 31) AS BIGINT) AS tile_x,
         |  CAST(least(greatest(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 32), 0), 31) AS BIGINT) AS tile_y,
         |  count(*) AS n_pages
         |FROM pages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // every zoom computed INDEPENDENTLY from lat/lng — certifies the
    // engine's shift-derived pyramid levels exactly
    "s_tile_pyramid" -> {
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
    },

    "s_tile_vectorize" ->
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
         |ORDER BY tile_y, x_min""".stripMargin,

    "s_cell_agg" ->
      s"""WITH $P
         |SELECT CAST(least(greatest(floor((lng + 180.0) / 360.0 * 64), 0), 63) AS BIGINT) AS cell_gx,
         |  CAST(least(greatest(floor((lat + 90.0) / 180.0 * 64), 0), 63) AS BIGINT) AS cell_gy,
         |  count(*) AS n_pages
         |FROM pages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s_index_bounds" ->
      s"""WITH $P
         |SELECT CAST(least(greatest(floor((lng + 180.0) / 360.0 * 16), 0), 15) AS BIGINT) AS cell_gx,
         |  CAST(least(greatest(floor((lat + 90.0) / 180.0 * 16), 0), 15) AS BIGINT) AS cell_gy,
         |  count(*) AS n_rows, min(lng) AS xmin, min(lat) AS ymin, max(lng) AS xmax, max(lat) AS ymax
         |FROM pages GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s_join_rect" ->
      s"""WITH $P, $POLY
         |SELECT y.poly_id, p.page_id FROM pages p
         |JOIN polys y ON p.lng > y.xmin AND p.lng < y.xmax AND p.lat > y.ymin AND p.lat < y.ymax
         |ORDER BY y.poly_id, p.page_id""".stripMargin,

    "s_join_rect_salted" ->
      s"""WITH $P, $POLY
         |SELECT y.poly_id, p.page_id FROM pages p
         |JOIN polys y ON p.lng > y.xmin AND p.lng < y.xmax AND p.lat > y.ymin AND p.lat < y.ymax
         |ORDER BY y.poly_id, p.page_id""".stripMargin,

    "s_knn" ->
      s"""WITH $P, $GQ
         |SELECT q_id, knn_rank, page_id FROM (
         |  SELECT q.q_id, p.page_id,
         |    row_number() OVER (PARTITION BY q.q_id ORDER BY $havSql ASC, p.page_id ASC) AS knn_rank
         |  FROM geoq q CROSS JOIN pages p)
         |WHERE knn_rank <= 5 ORDER BY q_id, knn_rank""".stripMargin,

    "s_range_join" ->
      s"""WITH $P, $GQ
         |SELECT q.q_id, p.page_id FROM geoq q JOIN pages p
         |ON $havSql <= 500000.0
         |ORDER BY q.q_id, p.page_id""".stripMargin,

    "s_convert_pipeline" ->
      s"""WITH $P
         |SELECT CAST(page_id AS VARCHAR) AS id, lat, lng,
         |  ['en','de','pl','fr','ja'][CAST(page_id % 5 AS INT) + 1] AS lang
         |FROM pages
         |WHERE $pentagonInteriorSql
         |  AND ['en','de','pl','fr','ja'][CAST(page_id % 5 AS INT) + 1] IN ('en', 'de')
         |ORDER BY id""".stripMargin,

    "d_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS survivor_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // the incremental merge must EQUAL the full recompute — same SQL
    "d_dedup_incremental" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS survivor_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "d_token_count" ->
      """SELECT doc_id, len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // dupSpans replayed: rolling (non-distinct) 8-token windows, the same
    // 60-bit md5 fold standing in for the span, duplicated = corpus
    // occurrence count >= 2; permyriad = floor division, exact integers
    "d_dup_spans" ->
      s"""WITH $toksCte, w AS (
         |  SELECT doc_id, CASE WHEN len(tk) >= 8
         |    THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))
         |    ELSE [] END AS ws
         |  FROM toks
         |), occ AS (
         |  SELECT doc_id, ${hash60Sql("s")} AS h
         |  FROM (SELECT doc_id, unnest(ws) AS s FROM w)
         |), dm AS (
         |  SELECT doc_id, h, count(*) AS m FROM occ GROUP BY 1, 2
         |), hc AS (
         |  SELECT h, sum(m) AS c FROM dm GROUP BY 1
         |), pd AS (
         |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_windows,
         |    CAST(sum(CASE WHEN c >= 2 THEN m ELSE 0 END) AS BIGINT) AS dup_windows
         |  FROM dm JOIN hc USING (h) GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(n_windows, 0) AS n_windows,
         |  coalesce(dup_windows, 0) AS dup_windows,
         |  CASE WHEN coalesce(n_windows, 0) > 0
         |    THEN (10000 * dup_windows) // n_windows ELSE 0 END AS dup_frac_e4
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // packChunks replayed as the SEQUENTIAL layout the distributed
    // prefix sum must equal: one ordered window cumsum over doc_id
    "d_chunk_pack" ->
      s"""WITH $toksCte, t AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, tok_start,
         |  tok_start // 512 AS chunk_first,
         |  CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
         |    ELSE tok_start // 512 END AS chunk_last
         |FROM c ORDER BY doc_id""".stripMargin,

    "d_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS n_tokens,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks,
        |    (len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g'))) * 1.0 / greatest(len(text), 1) AS praw
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with'], x))) * 1.0 / len(toks) ELSE 0.0 END AS sraw,
        |    praw FROM t
        |)
        |SELECT doc_id, n_tokens,
        |  CAST(round(sraw * 1000) AS BIGINT) AS stop_permille,
        |  round((CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END) +
        |        (CASE WHEN praw <= 0.2 THEN 0.3 ELSE 0.0 END) +
        |        (CASE WHEN sraw >= 0.05 THEN 0.3 ELSE 0.0 END), 1) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,

    "d_lang_guess" -> langGuessSql,

    "d_vocab" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)) AS token
        |  FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "d_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
        |      THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
        |      ELSE [] END) AS sh
        |    FROM toks)
        |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(round((i * 1.0 / (sa.n + sb.n - i)) * 10000.0) AS BIGINT) AS jaccard_e4
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "d_jaccard_lowt" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS tk
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
        |      THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
        |      ELSE [] END) AS sh
        |    FROM toks)
        |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(round((i * 1.0 / (sa.n + sb.n - i)) * 10000.0) AS BIGINT) AS jaccard_e4
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.12
        |ORDER BY id_a, id_b""".stripMargin,

    "m_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes, sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin,

    "e_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5
        |), datav AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings WHERE vec_id >= 5
        |)
        |SELECT q_id, sim_rank, vec_id FROM (
        |  SELECT q.q_id, d.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(d.dv, q.qv) DESC, d.vec_id ASC) AS sim_rank
        |  FROM q CROSS JOIN datav d)
        |WHERE sim_rank <= 3 ORDER BY q_id, sim_rank""".stripMargin,

    "ev_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket, event_type,
        |  count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // first-touch funnel replayed: each step's min is taken strictly
    // after the previous step's time, stage = 1 + reached flags
    "ev_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), t1 AS (
        |  SELECT user_id, min(us) AS t1_us FROM e WHERE event_type = 'view' GROUP BY 1
        |), t2 AS (
        |  SELECT e.user_id, min(us) AS t2_us FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND us > t1_us GROUP BY 1
        |), t3 AS (
        |  SELECT e.user_id, min(us) AS t3_us FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2_us GROUP BY 1
        |)
        |SELECT t1.user_id,
        |  CAST(1 + (t2_us IS NOT NULL)::INT + (t3_us IS NOT NULL)::INT AS BIGINT) AS stage_reached,
        |  t1_us, t2_us, t3_us
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // weekly cohort retention replayed: fixed-epoch week index, cohort =
    // min week per user, distinct active users per (cohort, offset)
    "ev_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
        |), c AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, wk FROM e
        |)
        |SELECT cohort_week, wk - cohort_week AS week_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "ev_asof" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'
        |), s AS (
        |  SELECT user_id, epoch_us(ts) AS signup_us, event_id AS signup_id FROM events WHERE event_type = 'signup'
        |)
        |SELECT p.event_id, p.user_id, s.signup_us, s.signup_id
        |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_us >= s.signup_us
        |ORDER BY p.event_id""".stripMargin,

    "ev_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, value,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
