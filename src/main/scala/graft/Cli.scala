package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{FilterInputs, Wkb}
import graft.operators.{Pipeline, SortedSink}

/** spark-submit CLI — the reference's argument surface (§3.3,
  * overturemaestro/cli.py:340-713) over the engine pipeline:
  *
  * Reference shape (positional theme/type; output defaults to the F12
  * byte-parity cache path, results sorted unless --no-sort, cache reused
  * unless --ignore-cache, result path printed last — cli.py:340-713):
  *
  *   spark-submit --class graft.Cli engine.jar \
  *     buildings building --input /path/features.parquet \
  *     --geom-filter-bbox x1,y1,x2,y2 [--release R] \
  *     [--working-directory files] [--no-sort] [--ignore-cache]
  *
  * Generic engine shape:
  *
  *   spark-submit --class graft.Cli engine.jar \
  *     --input /path/pages.parquet \
  *     [--geom-filter-bbox x1,y1,x2,y2 | --geom-filter-wkt WKT |
  *      --geom-filter-geojson JSON | --geom-filter-geohash gh |
  *      --geom-filter-cell hex | --geom-filter-s2 token |
  *      --geom-filter-file path.{geojson,wkt}]                  (≤ 1)
  *     [--filter "col,op,value"]...      (AND-folded, cli.py:691-695)
  *     [--columns a,b,c]                 (auto-adds id+geometry, P4)
  *     [--sort]                          (Hilbert-sorted sink, S8)
  *     --output /path/out.parquet
  *
  * Mutually-exclusive geometry options reproduce the reference's check
  * (cli.py:628-655); multiple --filter flags AND-fold like repeated
  * pyarrow filters.
  */
object Cli {

  case class Args(input: String = null, output: String = null,
                  geom: Option[(String, Array[Byte])] = None,
                  filters: Seq[(String, String, Any)] = Nil,
                  columns: Option[Seq[String]] = None,
                  sortFlag: Option[Boolean] = None,
                  geoparquet: Boolean = false,
                  latCol: String = "lat", lngCol: String = "lng",
                  compression: String = "zstd",
                  compressionLevel: Option[Int] = None,
                  showPairs: Option[String] = None,
                  theme: Option[String] = None, tpe: Option[String] = None,
                  release: String = sources.Releases.NewestKnown,
                  workingDirectory: String = "files",
                  ignoreCache: Boolean = false) {
    /** Reference mode = theme/type positionals given (the reference CLI's
      * shape: `overturemaestro <theme> <type> --geom-filter-… [-o …]`). */
    def referenceMode: Boolean = theme.isDefined || tpe.isDefined
    /** The reference sorts results BY DEFAULT (`_sorted` cache suffix,
      * `--no-sort` opts out, cli.py/test_cli.py "Explicit sort"/"No sort");
      * the generic mode keeps opt-in `--sort`. */
    def sort: Boolean = sortFlag.getOrElse(referenceMode)
    /** Default output = the reference's deterministic cache path (F12
      * byte-parity) when none given in reference mode. */
    def resolvedOutput: String =
      if (output != null) output
      else operators.CachePaths.resultPath(
        workingDirectory, release, theme.get, tpe.get, geom.get._2,
        operators.CachePaths.pyarrowFilterRepr(filters),
        columns, sorted = sort)
  }

  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    def setGeom(kind: String, wkb: Array[Byte]): Unit = {
      a.geom.foreach { case (k, _) =>
        // reference BadParameter text (cli.py:655)
        throw new IllegalArgumentException(
          s"Provided more than one geometry for filtering ($k and $kind)")
      }
      a = a.copy(geom = Some(kind -> wkb))
    }
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--input" => a = a.copy(input = argv(i + 1)); i += 2
        case "--output" => a = a.copy(output = argv(i + 1)); i += 2
        case "--geom-filter-bbox" => setGeom("bbox", FilterInputs.fromBboxString(argv(i + 1))); i += 2
        case "--geom-filter-wkt" => setGeom("wkt", FilterInputs.fromWkt(argv(i + 1))); i += 2
        case "--geom-filter-geojson" => setGeom("geojson", FilterInputs.fromGeoJson(argv(i + 1))); i += 2
        case "--geom-filter-geohash" => setGeom("geohash", FilterInputs.fromGeohash(argv(i + 1))); i += 2
        case "--geom-filter-cell" => setGeom("cell", FilterInputs.fromCellToken(argv(i + 1))); i += 2
        case "--geom-filter-s2" => setGeom("s2", FilterInputs.fromS2Token(argv(i + 1))); i += 2
        case "--geom-filter-file" => setGeom("file", FilterInputs.fromFile(argv(i + 1))); i += 2
        case "--filter" =>
          val parts = argv(i + 1).split(",", 3)
          require(parts.length == 3, s"--filter needs col,op,value: '${argv(i + 1)}'")
          val value: Any = parts(2) match {
            case v if v.matches("[-+]?\\d+") => v.toLong
            case v if v.matches("[-+]?\\d*\\.\\d+") => v.toDouble
            case v => v
          }
          a = a.copy(filters = a.filters :+ ((parts(0), parts(1), value))); i += 2
        case "--columns" => a = a.copy(columns = Some(argv(i + 1).split(",").toSeq)); i += 2
        case "--sort" => a = a.copy(sortFlag = Some(true)); i += 1
        case "--no-sort" => a = a.copy(sortFlag = Some(false)); i += 1
        case "--release" => a = a.copy(release = argv(i + 1)); i += 2
        case "--working-directory" => a = a.copy(workingDirectory = argv(i + 1)); i += 2
        case "--ignore-cache" | "--no-cache" => a = a.copy(ignoreCache = true); i += 1
        case "--geoparquet" => a = a.copy(geoparquet = true); i += 1
        case "--lat-col" => a = a.copy(latCol = argv(i + 1)); i += 2
        case "--lng-col" => a = a.copy(lngCol = argv(i + 1)); i += 2
        case "--compression" => a = a.copy(compression = argv(i + 1)); i += 2
        case "--compression-level" =>
          a = a.copy(compressionLevel = Some(argv(i + 1).toInt)); i += 2
        case "--show-theme-type-pairs" =>
          // optional release operand (reference cli.py:50-71: defaults to
          // the newest release when not given)
          val rel =
            if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) { i += 2; argv(i - 1) }
            else { i += 1; sources.Releases.NewestKnown }
          a = a.copy(showPairs = Some(rel))
        case positional if !positional.startsWith("--") =>
          // reference shape: `<theme> <type>` positionals (cli.py:344-352)
          if (a.theme.isEmpty) a = a.copy(theme = Some(positional))
          else if (a.tpe.isEmpty) a = a.copy(tpe = Some(positional))
          else throw new IllegalArgumentException(s"unexpected argument '$positional'")
          i += 1
        case other => throw new IllegalArgumentException(s"unknown argument '$other'")
      }
    }
    if (a.showPairs.isEmpty) {
      if (a.referenceMode) {
        // reference requirement + error text (test_cli.py:54-62)
        if (a.theme.isEmpty || a.tpe.isEmpty || a.geom.isEmpty)
          // reference UsageError text (cli.py:644-652), minus the two
          // network-bound formats this engine doesn't take (geocode)
          throw new IllegalArgumentException(
            "OvertureMaestro requires theme, type and a geometry filter" +
              " (one of --geom-filter-bbox --geom-filter-file," +
              " --geom-filter-geojson, --geom-filter-index-geohash," +
              " --geom-filter-index-h3, --geom-filter-index-s2," +
              " --geom-filter-wkt) to download the data.")
        sources.Releases.checkReleaseVersion(a.release)
        require(a.input != null, "--input is required")
      } else {
        require(a.input != null, "--input is required")
        require(a.output != null, "--output is required")
      }
    }
    a
  }

  /** `--show-theme-type-pairs` output (reference's
    * `_display_theme_type_pairs_callback`, cli.py:50-71): one
    * "theme type" row per available pair for the release, then exit —
    * no Spark session needed. */
  def showThemeTypePairs(release: String): String =
    (s"$release release" +:
      sources.Releases.availableThemeTypePairs(release)
        .map { case (t, ty) => s"$t $ty" }).mkString("\n")

  /** Builds the conversion DataFrame (separated from main for testability). */
  def run(spark: SparkSession, a: Args): DataFrame = {
    var df = sources.TableSource.read(spark, a.input)
    // reference mode selects the dataset by (theme, type); when the input
    // table carries those partition columns (the Overture layout), the
    // positional pair prunes to that partition — the faithful analog of
    // the reference downloading only theme=…/type=… (partition pruning
    // makes this a scan-level filter, not a post-hoc one)
    if (a.referenceMode && df.columns.contains("theme") && df.columns.contains("type"))
      df = df.where(col("theme") === a.theme.get && col("type") === a.tpe.get)
    // ensure id/geometry/bbox exist (pages tables carry points; features
    // tables carry their own geometry + bbox struct)
    if (!df.columns.contains("id"))
      df = df.withColumn("id", col(df.columns.head).cast("string"))
    if (!df.columns.contains("geometry"))
      df = df.withColumn("geometry",
        graft.functions.GeomConstructors.box_wkb(
          col(a.lngCol), col(a.latCol), col(a.lngCol), col(a.latCol)))
    if (!df.columns.contains("bbox"))
      df = df.withColumn("bbox", struct(
        col(a.lngCol).as("xmin"), col(a.latCol).as("ymin"),
        col(a.lngCol).as("xmax"), col(a.latCol).as("ymax")))
    val filtered = a.geom match {
      case Some((_, wkb)) =>
        Pipeline.convertGeometryWkb(df, wkb,
          predicate = if (a.filters.nonEmpty) Some(Seq(a.filters)) else None,
          columns = a.columns, latCol = a.latCol, lngCol = a.lngCol)
      case None =>
        var out = df
        if (a.filters.nonEmpty) out = out.where(Pipeline.compileFilter(Seq(a.filters)))
        a.columns.map(cs => Pipeline.projectWithAutoKeys(out, cs)).getOrElse(out)
    }
    filtered
  }

  /** Sink phase (separated from main for testability): sorted or compact
    * write, plus the optional GeoParquet footer stamp. */
  def write(spark: SparkSession, out: DataFrame, a: Args): Unit = {
    val dest = a.resolvedOutput
    if (a.sort) {
      val env = a.geom.map { case (_, w) => Wkb.envelope(w) }.getOrElse((-180.0, -90.0, 180.0, 90.0))
      SortedSink.writeHilbertSorted(out, dest, a.latCol, a.lngCol, env,
        compression = a.compression, compressionLevel = a.compressionLevel)
    } else SortedSink.writeCompact(out, dest,
      compression = a.compression, compressionLevel = a.compressionLevel)
    if (a.geoparquet) {
      // spec-compliant `geo` footer entry so geopandas/pyarrow readers
      // (the reference's consumers, geopandas_io.py:12-28) see GeoParquet.
      // The column bbox must bound the STORED geometries — which can
      // extend past the filter envelope (bbox-overlap keeps any feature
      // touching the filter) — so it is computed from the rows the sink
      // actually persisted (read back from a.output), NOT by re-running
      // the upstream plan: that would double the job cost and could
      // disagree with the written data under a non-deterministic source.
      val bbox = operators.GeoParquetMeta.bboxOfGeometry(spark.read.parquet(dest))
      operators.GeoParquetMeta.stampDirectory(spark, dest, bbox = bbox)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    if (a.showPairs.isDefined) { println(showThemeTypePairs(a.showPairs.get)); return }
    val builder = LocalSession.builder("graft-cli", LocalSession.cores())
      .withExtensions(new graft.plans.GraftExtensions)
    sys.env.get("SPARK_MASTER").foreach(builder.master) // replaces local[cores]
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dest = a.resolvedOutput
    // reference cache behavior: an existing result file is reused unless
    // --ignore-cache (data_downloader result cache; test_cli "Ignore
    // cache"); the result path is the last stdout line either way
    // probe through the Hadoop FileSystem, not java.io.File: a
    // --working-directory on HDFS/S3 must still get cache hits
    val cached = a.referenceMode && !a.ignoreCache && {
      val p = new org.apache.hadoop.fs.Path(dest, "_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!cached) write(spark, run(spark, a), a)
    println(s"wrote ${spark.read.parquet(dest).count()} rows")
    println(dest)
    spark.stop()
  }
}
