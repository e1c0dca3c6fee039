package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The physical-source seam: every library-surface table read goes through
  * [[read]], dispatched on one session conf. The reference's production
  * input is an Iceberg table of Common-Crawl-style web pages
  * (BASELINE.json input_hint); this sandbox has no Iceberg jars offline
  * (verified in COVERAGE.md), so the parquet path is the one exercised
  * here — but a cluster that has the Iceberg runtime on the classpath and
  * a catalog configured flips EVERY read site with
  * `spark.conf.set("spark.graft.source.format", "iceberg")`, no code
  * changes. Downstream operators are format-agnostic by construction
  * (they take plain DataFrames); this seam removes the last hard-coded
  * `spark.read.parquet` from the table-resolution layer too.
  */
object TableSource {

  /** Session conf key: "parquet" (default) or "iceberg". */
  final val FormatKey = "spark.graft.source.format"

  def format(spark: SparkSession): String =
    spark.conf.get(FormatKey, "parquet")

  /** Read one table. `location` is a path for parquet, a catalog table
    * identifier (or metadata location) for Iceberg — use [[resolve]] to
    * build it from a (base, name) pair uniformly. */
  def read(spark: SparkSession, location: String): DataFrame =
    format(spark) match {
      case "parquet" =>
        footerSchema(spark, location)
          .fold(spark.read.parquet(location))(spark.read.schema(_).parquet(location))
      case "iceberg" => spark.read.format("iceberg").load(location)
      case other => throw new IllegalArgumentException(
        s"$FormatKey must be parquet or iceberg, got '$other'")
    }

  /** A parquet table's schema from the footer of its first data file
    * (a single file, or the first by name in a directory of files), read
    * on the driver, so building the DataFrame runs no schema-inference
    * job. None when that is not the schema Spark would infer — schema
    * merging on, or partition subdirectories — or there is no data file:
    * `spark.read.parquet` then infers the schema or reports the error. */
  private def footerSchema(spark: SparkSession, location: String): Option[StructType] = {
    val path = new Path(location)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
    if (merge || !fs.exists(path)) None
    else {
      val top = fs.getFileStatus(path)
      val entries = if (top.isFile) Seq(top) else fs.listStatus(path).toSeq
      val data = entries.filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      if (data.exists(_.isDirectory)) None
      else data.sortBy(_.getPath.getName).headOption
        .map(org.apache.spark.sql.graftbridge.parquetFooterSchema(spark, _))
    }
  }

  /** Map a (base, table-name) pair to the format's location convention:
    * `base/name.parquet` for parquet files, `base.name` (catalog
    * namespace) for Iceberg. */
  def resolve(spark: SparkSession, base: String, name: String): String =
    format(spark) match {
      case "iceberg" => s"$base.$name"
      case _ => s"$base/$name.parquet"
    }

  /** Read a named table under a base dir/namespace. */
  def table(spark: SparkSession, base: String, name: String): DataFrame =
    read(spark, resolve(spark, base, name))
}
