package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GeomConstructors._

/** Deterministic derived tables over the driver-provided parquet
  * (TESTDATA.md). The engine's fact table is `pages` (Common-Crawl-style
  * web pages per BASELINE.json input_hint) derived arithmetically from
  * `lineitem` so that the DuckDB oracle can reproduce the exact same rows
  * with portable integer/IEEE-double SQL — every constant below appears in
  * BOTH the Spark plan and the oracle SQL of each graft.catalog entry that
  * reads the table.
  *
  * Determinism notes:
  *  - page_id = l_orderkey*8 + l_linenumber is unique (l_linenumber ≤ 7);
  *  - lat/lng land on a 1e-4-degree grid; all polygon/filter boundaries are
  *    offset to the 5e-5 half-grid so NO point ever sits exactly on a
  *    boundary (strict-vs-closed predicate parity is then exact);
  *  - int64 `%` on non-negative operands and BIGINT/DOUBLE division are
  *    bit-identical between Spark and DuckDB (both IEEE-754).
  */
object DerivedTables {

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "part")
  /** The corpus tables are read as stored: the scan's own splits set the
    * parallelism, as they do for a real corpus of many row groups. A
    * fixture kept as one small row group (`documents` at sf0.1 holds 5000
    * rows in one) therefore scans as one task, and the first keyed
    * exchange above it spreads the work; a round-robin repartition here
    * would cost every read an extra shuffle of the full text, an extra
    * adaptive query stage and its job. */
  def documents(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "embeddings")
  def events(spark: SparkSession, dir: String): DataFrame =
    TableSource.table(spark, dir, "events")

  // ---- pages: the geotagged web-page fact table ----

  /** Spark side. Columns: page_id, url, warc_ts, html, text, lang, lat, lng. */
  def pages(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
    val pid = (col("l_orderkey") * 8 + col("l_linenumber")).cast("long")
    li.select(
      pid.as("page_id"),
      concat(lit("https://host"), (pid % 1000).cast("string"),
        lit(".example/p/"), pid.cast("string")).as("url"),
      // 1735689600 = 2025-01-01T00:00:00Z; long→timestamp cast = epoch seconds
      (lit(1735689600L) + (pid * 137) % 10000000).cast("timestamp").as("warc_ts"),
      pageLat(pid).as("lat"),
      pageLng(pid).as("lng"),
      concat(lit("page body "), pid.cast("string"), lit(" marker "),
        (pid % 97).cast("string"), lit(" éè")).as("text"),
      element_at(array(lit("en"), lit("de"), lit("pl"), lit("fr"), lit("ja")),
        (pid % 5).cast("int") + 1).as("lang"))
      .withColumn("html", to_binary(concat(lit("<html>"), col("text"), lit("</html>")), lit("utf-8")))
  }

  def pageLat(pid: Column): Column =
    lit(-60.0) + ((pid * 9973 + 12345) % 1200000) / lit(10000.0)
  def pageLng(pid: Column): Column =
    lit(-180.0) + ((pid * 6151 + 7919) % 3600000) / lit(10000.0)

  /** DuckDB-side CTE for the minimal pages projection (page_id, lat, lng). */
  val pagesSql: String =
    """pages AS (
      |  SELECT (l_orderkey * 8 + l_linenumber)::BIGINT AS page_id,
      |         -60.0 + (((l_orderkey * 8 + l_linenumber)::BIGINT * 9973 + 12345) % 1200000) / 10000.0 AS lat,
      |         -180.0 + (((l_orderkey * 8 + l_linenumber)::BIGINT * 6151 + 7919) % 3600000) / 10000.0 AS lng
      |  FROM lineitem
      |)""".stripMargin

  // ---- polygons: Overture-style theme rectangles from nation ----

  /** Spark side: poly_id, theme, type, geometry(WKB), plus the bbox struct
    * (strict-inequality P1 parity needs it). */
  def polygons(spark: SparkSession, dir: String): DataFrame = {
    val nk = col("n_nationkey").cast("long")
    nation(spark, dir).select(
      nk.as("poly_id"),
      element_at(array(lit("buildings"), lit("places"), lit("divisions"), lit("base")),
        (nk % 4).cast("int") + 1).as("theme"),
      element_at(array(lit("building"), lit("place"), lit("division"), lit("water")),
        (nk % 4).cast("int") + 1).as("type"),
      polyXmin(nk).as("xmin"), polyYmin(nk).as("ymin"),
      polyXmax(nk).as("xmax"), polyYmax(nk).as("ymax"))
      .withColumn("geometry", box_wkb(col("xmin"), col("ymin"), col("xmax"), col("ymax")))
      .withColumn("bbox", struct(col("xmin"), col("ymin"), col("xmax"), col("ymax")))
  }

  // center ± half-extent, all offset by 5e-5 so edges never hit the 1e-4 point grid
  def polyCx(nk: Column): Column = lit(-55.0) + ((nk * 401 + 13) % 1100) / lit(10.0)
  def polyCy(nk: Column): Column = lit(-40.0) + ((nk * 257 + 7) % 800) / lit(10.0)
  def polyW(nk: Column): Column = lit(3.0) + (nk % 5).cast("double")
  def polyH(nk: Column): Column = lit(2.0) + (nk % 4).cast("double")
  def polyXmin(nk: Column): Column = polyCx(nk) - polyW(nk) + lit(0.00005)
  def polyXmax(nk: Column): Column = polyCx(nk) + polyW(nk) + lit(0.00005)
  def polyYmin(nk: Column): Column = polyCy(nk) - polyH(nk) + lit(0.00005)
  def polyYmax(nk: Column): Column = polyCy(nk) + polyH(nk) + lit(0.00005)

  /** DuckDB-side CTE: the same rectangles as plain bounds columns. */
  val polygonsSql: String =
    """polys AS (
      |  SELECT n_nationkey::BIGINT AS poly_id,
      |         (-55.0 + ((n_nationkey::BIGINT * 401 + 13) % 1100) / 10.0) - (3.0 + (n_nationkey::BIGINT % 5)) + 0.00005 AS xmin,
      |         (-55.0 + ((n_nationkey::BIGINT * 401 + 13) % 1100) / 10.0) + (3.0 + (n_nationkey::BIGINT % 5)) + 0.00005 AS xmax,
      |         (-40.0 + ((n_nationkey::BIGINT * 257 + 7) % 800) / 10.0) - (2.0 + (n_nationkey::BIGINT % 4)) + 0.00005 AS ymin,
      |         (-40.0 + ((n_nationkey::BIGINT * 257 + 7) % 800) / 10.0) + (2.0 + (n_nationkey::BIGINT % 4)) + 0.00005 AS ymax
      |  FROM nation
      |)""".stripMargin

  // ---- geo query points (kNN / distance-join probes) from region ----

  def geoQueries(spark: SparkSession, dir: String): DataFrame = {
    val rk = col("r_regionkey").cast("long")
    region(spark, dir).select(
      rk.as("q_id"),
      (lit(-35.00005) + (rk * 83) % 70).as("qlat"),
      (lit(-150.00005) + (rk * 211) % 300).as("qlng"))
  }

  val geoQueriesSql: String =
    """geoq AS (
      |  SELECT r_regionkey::BIGINT AS q_id,
      |         -35.00005 + (r_regionkey::BIGINT * 83) % 70 AS qlat,
      |         -150.00005 + (r_regionkey::BIGINT * 211) % 300 AS qlng
      |  FROM region
      |)""".stripMargin

  /** Portable haversine SQL (DuckDB) — identical formula to
    * graft.geo.Geo.haversineM (same constant, same operation order). */
  def haversineSql(lat1: String, lng1: String, lat2: String, lng2: String): String =
    s"""2.0 * 6371008.8 * asin(least(1.0, sqrt(
       |  sin(radians(($lat2) - ($lat1)) / 2) * sin(radians(($lat2) - ($lat1)) / 2) +
       |  cos(radians($lat1)) * cos(radians($lat2)) *
       |  sin(radians(($lng2) - ($lng1)) / 2) * sin(radians(($lng2) - ($lng1)) / 2))))""".stripMargin
}
