package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.geofunctions._

/** S8/O1 parity: the Hilbert-sorted GeoParquet sink.
  *
  * Reference: sort_geoparquet_file_by_geometry clusters rows in Hilbert
  * order within a sort extent before the final write, preserving schema +
  * row count while strictly shrinking the file
  * (overturemaestro/data_downloader.py:235-245, 445-466;
  * tests/base/test_internals.py:84-111).
  *
  * Spark-native form: repartitionByRange on the Hilbert index (total order
  * across output files — range partitioning IS Spark's distributed sort)
  * + sortWithinPartitions, zstd parquet. At 100 TB this is the layout
  * writer: spatial locality per file ⇒ row-group min/max stats on lat/lng
  * become selective ⇒ the P1-style pushdown prunes row groups natively.
  */
object SortedSink {

  private def writer(df: DataFrame, compression: String, level: Option[Int]) = {
    val w = df.write.mode("overwrite").option("compression", compression)
    // parquet-java reads the zstd level from this conf key; Spark forwards
    // writer options into the write job's Hadoop configuration
    level.map(l => w.option("parquet.compression.codec.zstd.level", l.toString))
      .getOrElse(w)
  }

  def writeHilbertSorted(df: DataFrame, path: String,
                         latCol: String, lngCol: String,
                         extent: (Double, Double, Double, Double),
                         order: Int = 16, numFiles: Int = 0,
                         compression: String = "zstd",
                         compressionLevel: Option[Int] = None): Unit = {
    val (xmin, ymin, xmax, ymax) = extent
    val withKey = df.withColumn("_hilbert",
      hilbert_index(col(latCol), col(lngCol), xmin, ymin, xmax, ymax, order))
    val parts = if (numFiles > 0) numFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    writer(withKey
      .repartitionByRange(parts, col("_hilbert"))
      .sortWithinPartitions(col("_hilbert"))
      .drop("_hilbert"), compression, compressionLevel)
      .parquet(path)
  }

  /** Per-row bbox struct column for GeoParquet 1.1 `covering` (spec
    * §covering, public): for point rows the box degenerates to the point.
    * The payoff is at READ time and needs no GeoParquet-aware reader:
    * the struct's leaf min/max land in ordinary parquet row-group
    * statistics, so with Hilbert-clustered writes a bbox predicate on
    * the leaves prunes row groups in ANY parquet engine. Narrow
    * projection — no shuffle. */
  def withPointBbox(df: DataFrame, latCol: String, lngCol: String,
                    bboxCol: String = "bbox"): DataFrame =
    df.withColumn(bboxCol, struct(
      col(lngCol).cast("double").as("xmin"),
      col(latCol).cast("double").as("ymin"),
      col(lngCol).cast("double").as("xmax"),
      col(latCol).cast("double").as("ymax")))

  /** Hilbert-sorted GeoParquet 1.1 write: [[writeHilbertSorted]] plus the
    * per-row `bbox` covering column and the `covering` footer metadata —
    * the spec's spatial row-group pruning layout. */
  def writeHilbertSortedCovering(df: DataFrame, path: String,
                                 latCol: String, lngCol: String,
                                 extent: (Double, Double, Double, Double),
                                 order: Int = 16, numFiles: Int = 0,
                                 primaryColumn: String = "geometry",
                                 geometryTypes: Seq[String] = Seq("Point")): Unit = {
    writeHilbertSorted(withPointBbox(df, latCol, lngCol), path,
      latCol, lngCol, extent, order, numFiles)
    GeoParquetMeta.stampDirectory(df.sparkSession, path,
      primaryColumn = primaryColumn, geometryTypes = geometryTypes,
      bbox = Some(extent), coveringColumn = Some("bbox"))
  }

  /** Plain compressed sink (the reference's non-sorted path, S7). */
  def writeCompact(df: DataFrame, path: String, compression: String = "zstd",
                   compressionLevel: Option[Int] = None): Unit =
    writer(df, compression, compressionLevel).parquet(path)
}
