package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.geo.Cell

/** Cell-prefix spatial index — the engine's analog of the reference's
  * per-row-group bbox index (overturemaestro/_generate_bbox_index.py:75-105,
  * release_index.py:546-561): one row per coarse cell with exact recomputed
  * bounds + row count. Built with a single partial+final hash aggregate
  * (the Spark-native replacement for footer-stat scraping: min/max per
  * group are computed map-side, shuffle carries one row per cell).
  *
  * At 100 TB the index is tiny (res 6 ⇒ ≤ 2^12·2^12 cells worldwide,
  * in practice far fewer) and is used two ways:
  *  - driver-side pruning: a filter geometry's cell cover semi-joins the
  *    index to decide which cells contain any data at all (J1 analog);
  *  - file layout: writing the fact table partitioned/sorted by cell prefix
  *    makes the Parquet min/max stats on (lat, lng) align with cells, so
  *    the P1-style pushdown prunes row groups natively.
  */
object CellIndex {

  /** Column-metadata key recording the resolution an index was built at;
    * consumers that require a matching res (the adaptive join) assert on
    * it instead of trusting the caller. */
  final val ResMetaKey = "graft.cell.res"

  /** Build the index: (cell, n_rows, xmin, ymin, xmax, ymax). The `cell`
    * column carries `ResMetaKey` metadata = `res`. */
  def build(points: DataFrame, res: Int,
            latCol: String = "lat", lngCol: String = "lng"): DataFrame = {
    val resMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ResMetaKey, res.toLong).build()
    points
      .withColumn("cell", cell_encode(col(latCol), col(lngCol), res))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(lngCol)).as("xmin"),
        min(col(latCol)).as("ymin"),
        max(col(lngCol)).as("xmax"),
        max(col(latCol)).as("ymax"))
      .select(col("cell").as("cell", resMeta), col("n_rows"),
              col("xmin"), col("ymin"), col("xmax"), col("ymax"))
  }

  /** Prune a point table by a filter geometry using the index: the filter's
    * cell cover ∩ index cells that contain rows → IN-list pushed into the
    * scan (deterministic driver-side planning, SURVEY.md §4 — preferred
    * over an optimizer rule). */
  def prunedCells(index: DataFrame, filterWkb: Array[Byte], res: Int): Array[Long] = {
    val cover = Cell.coverGeometry(filterWkb, res)
    index.select("cell").where(col("cell").isin(cover.map(Long.box): _*))
      .collect().map(_.getLong(0))
  }

  /** Apply: scan restricted to covered cells (cell IN (...) folds to a
    * range-partition-prunable predicate when the table is cell-partitioned),
    * then exact refine. */
  def filterPoints(points: DataFrame, index: DataFrame, filterWkb: Array[Byte], res: Int,
                   latCol: String = "lat", lngCol: String = "lng"): DataFrame = {
    val cells = prunedCells(index, filterWkb, res)
    points
      .withColumn("_cell", cell_encode(col(latCol), col(lngCol), res))
      .where(col("_cell").isin(cells.map(Long.box): _*))
      .where(ray_cast_contains(lit(filterWkb), col(lngCol), col(latCol)))
      .drop("_cell")
  }
}
