package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.operators._
import graft.sources.DerivedTables._
import graft.catalog.Catalog

/** Driver contract (see the build brief): `queries` = one entry per
  * implemented operator (SURVEY.md §2 + training-data ops), `oracleSql` =
  * DuckDB-portable ANSI SQL producing identical rows (identical column
  * names, deterministic ORDER BY) for every SQL-expressible query. Both are
  * views of the one catalog (`graft.catalog`), where each query is
  * registered once, together with its oracle.
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

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.entries.map(e => e.name -> e.build).toMap

  lazy val oracleSql: Map[String, String] =
    Catalog.entries.map(e => e.name -> e.oracleSql).toMap
}
