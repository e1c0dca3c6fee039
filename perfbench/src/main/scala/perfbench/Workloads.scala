package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.geofunctions._
import graft.functions.GeomConstructors.cover_cells
import graft.operators.{SortedSink, SpatialJoin}
import graft.sources.DerivedTables

/** flagship: the BASELINE job over replicated pages. */
final class Flagship(spark: SparkSession, c: Main.Conf) extends Workload {
  private val res = 5
  private val zoom = 12
  private val rep = 8
  private val files = 16
  private val pagesPath = Paths.get(c.work, "pages").toString
  private var nPages = 0L
  private def pages = spark.read.parquet(pagesPath)
  private def polys = DerivedTables.polygons(spark, c.data).select("poly_id", "geometry")

  private def job(s: SparkSession = spark): DataFrame =
    SpatialJoin.pointsInPolygons(s.read.parquet(pagesPath), DerivedTables.polygons(s, c.data), res)
      .withColumn("tile_x", tile_x(col("lng"), zoom))
      .withColumn("tile_y", tile_y(col("lat"), zoom))
      .select("page_id", "poly_id", "tile_x", "tile_y")

  def setup(): Double = {
    // the input write is the repeatable part of set-up: median of three
    val gens = Seq.fill(3)(Main.time {
      nPages = Inputs.flagshipPages(spark, c.data, pagesPath, rep, files) })
    // passes speed up for several seconds after the first (JIT): warm up
    // with a fixed number of them
    val warm = Main.time((1 to 10).foreach(_ => Main.noop(job())))
    Main.recordSetup(gens, warm)
  }

  def ops: Seq[Op] = Seq(Op("flagship", () => Main.noop(job())))

  def shape: Map[String, Any] = Map("pages" -> nPages, "polygons" -> 25, "res" -> res,
    "vertices_per_polygon" -> 5, "input_files" -> files)

  /** The reference tiles are the Web-Mercator floor formula written out
    * here, not the engine's tile code. */
  def check(): Seq[(String, Boolean, String)] = {
    val n = (1L << zoom).toDouble
    val clamp = (t: Double) => math.min(math.max(math.floor(t), 0.0), n - 1).toLong
    val tx = udf((lng: Double) => clamp((lng + 180.0) / 360.0 * n))
    val ty = udf((lat: Double) => {
      val r = lat * (math.Pi / 180.0)
      clamp((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * n)
    })
    val cols = Seq("page_id", "poly_id", "tile_x", "tile_y")
    val got = Inputs.digest(job(), cols)
    val exp = Inputs.digest(Inputs.referencePip(pages, polys)
      .withColumn("tile_x", tx(col("lng"))).withColumn("tile_y", ty(col("lat"))), cols)
    Seq(("flagship_rows_hash", got == exp, s"got=$got expected=$exp"))
  }

  def layers(tracer: Tracer, tr: Trace): Map[String, (Double, String)] = {
    val out = mutable.Map[String, (Double, String)]()
    val pts = pages.withColumn("_cell", cell_encode(col("lat"), col("lng"), res))
    val cover = DerivedTables.polygons(spark, c.data)
      .withColumn("_cell", explode(cover_cells(col("geometry"), res)))
    out ++= Layers.scan(tracer, tr, 3)(pages.select("page_id", "lat", "lng"))
    val scan = out("sources.scan_s")._1
    val enc = Layers.prefix(tracer, "functions.encode", 3)(pts)
    tr.resetPlans()
    val joinOnly = Layers.prefix(tracer, "spatialjoin.join", 1)(pts.join(broadcast(cover), "_cell"))
    val candidates = Layers.joinRows(tr.planNodes())
    tr.resetPlans()
    val refine = Layers.prefix(tracer, "spatialjoin.refine", 3)(
      SpatialJoin.pointsInPolygons(pages, DerivedTables.polygons(spark, c.data), res))
    val nodes = tr.planNodes().take(1000)
    val matches = Layers.refineRows(nodes).getOrElse(Layers.joinRows(nodes)) / 3
    val full = Layers.prefix(tracer, "functions.tile", 3)(job())
    out("functions.encode_s") = (enc - scan, "s")
    out("spatialjoin.s") = (refine - enc, "s")
    out("functions.tile_s") = (full - refine, "s")
    out("spatialjoin.candidates") = (candidates.toDouble, "count")
    out("spatialjoin.matches") = (matches.toDouble, "count")
    out("spatialjoin.refine_keep") = (matches.toDouble / math.max(1L, candidates), "ratio")
    out("pages_per_s") = (nPages / full, "1/s")
    Main.recordInfo("join_only_s", joinOnly)
    val polyWkb = polys.collect().map(_.getAs[Array[Byte]]("geometry")).toSeq
    out ++= Layers.geo(Layers.samplePoints(pages, 200000), polyWkb, res)
    // N -> 4N: the same job on one core, in a fresh one-core session
    spark.stop()
    val one = Main.session(1, c.work, aqe = false)
    val t1 = tracer.span("layer", "local1") {
      Main.noop(job(one)); Main.median(Seq.fill(2)(Main.time(Main.noop(job(one))))) }
    one.stop()
    out("scaling_eff_1to4") = (t1 / (c.cores * full), "ratio")
    Main.recordInfo("t_local1_s", t1)
    out.toMap
  }
}

/** spatial_dense: many-vertex overlapping polygons in hot regions, joined
  * four ways against clustered pages. */
final class SpatialDense(spark: SparkSession, c: Main.Conf) extends Workload {
  private val res = 10
  private val nPolys = 1000
  private val hotThreshold = 40L
  private val k = 8
  private val nQueries = 32
  private val hot = Inputs.hotCentres(c.seed, 5)
  private val polysPath = Paths.get(c.work, "polys").toString
  private val pointsPath = Paths.get(c.work, "points").toString
  private val sinkPath = Paths.get(c.work, "sink").toString
  private var shapeInfo = Map[String, Any]()
  private var nPoints = 0L
  private var hotCells = 0L
  private def points = spark.read.parquet(pointsPath)
  private def polys = spark.read.parquet(polysPath)
  private val queriesPath = Paths.get(c.work, "queries").toString
  private def queries = spark.read.parquet(queriesPath)
  private val (bx0, by0) = (hot.head._2 - 1.0, hot.head._1 - 1.0)
  private val (bx1, by1) = (hot.head._2 + 1.0, hot.head._1 + 1.0)

  private def broadcastJoin() = SpatialJoin.pointsInPolygons(points, polys, res)
  private def adaptiveJoin() =
    SpatialJoin.pointsInPolygonsAdaptive(points, polys, res, hotThreshold, splitLevels = 2)
  private def knn() = SpatialJoin.knnJoin(queries, points, k, res, "q_id", "page_id")
  private def sinkWrite(): Unit =
    SortedSink.writeHilbertSortedCovering(broadcastJoin().select("page_id", "poly_id", "lat", "lng"),
      sinkPath, "lat", "lng", (-180.0, -90.0, 180.0, 90.0), numFiles = c.cores)
  private def readBack(): DataFrame = spark.read.parquet(sinkPath)
    .where(col("bbox.xmin") > bx0 && col("bbox.xmax") < bx1 &&
      col("bbox.ymin") > by0 && col("bbox.ymax") < by1)

  def setup(): Double = {
    val gens = Seq.fill(3)(Main.time {
      val ps = Inputs.densePolygons(spark, c.data, polysPath, c.seed, nPolys, hot)
      nPoints = Inputs.densePoints(spark, c.data, pointsPath, c.seed, hot, 0.6, c.cores)
      shapeInfo = Map("polygons" -> ps.n, "vertices_min" -> ps.verticesMin,
        "vertices_median" -> ps.verticesMedian, "vertices_max" -> ps.verticesMax,
        "vertices_mean" -> ps.verticesMean)
    })
    Inputs.knnQueries(spark, c.seed, nQueries, hot).repartition(1)
      .write.mode("overwrite").parquet(queriesPath)
    // one round with every leg on its own thread (a first run is mostly
    // compilation, which they share), then one plain round
    val warm = Main.time { Main.concurrently(ops)(_.run()); ops.foreach(_.run()) }
    Main.recordSetup(gens, warm)
  }

  /** Every output of every operation, for the checks. The warm-up runs
    * the legs from several threads at once, hence the lock. */
  private val seen = mutable.Map[String, mutable.Set[(Long, Long)]]()
  private def keep(name: String, d: (Long, Long)): Unit =
    seen.synchronized { seen.getOrElseUpdate(name, mutable.Set()) += d }
  private val pairCols = Seq("page_id", "poly_id")
  private val knnCols = Seq("q_id", "page_id", "knn_rank")

  /** Each join's output is reduced to its digest, which is the checked
    * result; the sink's output is the files and the rows read back. */
  def ops: Seq[Op] = Seq(
    Op("broadcast", () => keep("broadcast", Inputs.digest(broadcastJoin(), pairCols))),
    Op("adaptive", () => keep("adaptive", Inputs.digest(adaptiveJoin(), pairCols))),
    Op("knn", () => keep("knn", Inputs.digest(knn(), knnCols))),
    Op("sink", () => {
      sinkWrite()
      keep("sink", (spark.read.parquet(sinkPath).count(), readBack().count()))
    }))

  def shape: Map[String, Any] = {
    val g = polys.collect().map(_.getAs[Array[Byte]]("geometry")).toSeq
    val (cellsPerPoly, interior) = Inputs.coverStats(g, res)
    val counts = points.groupBy(cell_encode(col("lat"), col("lng"), res).as("c")).count()
    val hotRows = counts.where(col("count") > hotThreshold)
      .agg(count(lit(1)), coalesce(sum("count"), lit(0L))).head()
    hotCells = hotRows.getLong(0)
    shapeInfo ++ Map("pages" -> nPoints, "res" -> res, "cover_cells_per_poly" -> cellsPerPoly,
      "cover_interior_share" -> interior, "hot_threshold" -> hotThreshold,
      "hot_cells" -> hotRows.getLong(0), "points_in_hot_cells_share" -> hotRows.getLong(1).toDouble / nPoints,
      "knn_queries" -> nQueries, "knn_k" -> k, "hot_regions" -> hot.size)
  }

  /** Every digest seen in the timed passes against the independent paths. */
  def check(): Seq[(String, Boolean, String)] = {
    val ref = Inputs.referencePip(points, polys).cache()
    val exp = Inputs.digest(ref, pairCols)
    val backExp = ref.where(col("lng") > bx0 && col("lng") < bx1 &&
      col("lat") > by0 && col("lat") < by1).count()
    ref.unpersist()
    val kExp = Inputs.digest(Inputs.referenceKnn(spark, points, queries, k), knnCols)
    def one(name: String, want: (Long, Long)) = {
      val got = seen.getOrElse(name, mutable.Set()).toSet
      (s"${name}_output", got == Set(want), s"got=${got.mkString(";")} expected=$want")
    }
    Seq(one("broadcast", exp), one("adaptive", exp), one("knn", kExp),
      one("sink", (exp._1, backExp)))
  }

  def layers(tracer: Tracer, tr: Trace): Map[String, (Double, String)] = {
    val out = mutable.Map[String, (Double, String)]()
    val pts = points.withColumn("_cell", cell_encode(col("lat"), col("lng"), res))
    val cover = polys.withColumn("_cell", explode(cover_cells(col("geometry"), res)))
    out ++= Layers.scan(tracer, tr, 3)(points.select("page_id", "lat", "lng"))
    val scan = out("sources.scan_s")._1
    val enc = Layers.prefix(tracer, "functions.encode", 3)(pts)
    val cov = Layers.prefix(tracer, "geo.cover", 3)(cover)
    tr.resetPlans()
    Layers.prefix(tracer, "spatialjoin.join", 1)(pts.join(broadcast(cover), "_cell"))
    val candidates = Layers.joinRows(tr.planNodes())
    tr.resetPlans()
    val bj = Layers.prefix(tracer, "spatialjoin.refine", 3)(broadcastJoin())
    val nodes = tr.planNodes()
    val matches = Layers.refineRows(nodes).getOrElse(Layers.joinRows(nodes)) / 3
    val ad = Layers.prefix(tracer, "spatialjoin.adaptive", 1)(adaptiveJoin())
    tr.take()
    val kn = tracer.span("layer", "spatialjoin.knn") { Main.time(Main.noop(knn())) }
    val kKnn = tr.take()
    val w = tracer.span("layer", "sink.write") { Main.time(sinkWrite()) }
    val rb = tracer.span("layer", "sink.readback") { Main.time(readBack().count()) }
    val sink = Sink.stats(spark, sinkPath, bx0, by0, bx1, by1)
    out("functions.encode_s") = (enc - scan, "s")
    out("spatialjoin.s") = (bj, "s")
    out("spatialjoin.candidates") = (candidates.toDouble, "count")
    out("spatialjoin.matches") = (matches.toDouble, "count")
    out("spatialjoin.refine_keep") = (matches.toDouble / math.max(1L, candidates), "ratio")
    out("spatialjoin.adaptive_s") = (ad, "s")
    out("spatialjoin.hot_cells") = (hotCells.toDouble, "count")
    out("spatialjoin.knn_s") = (kn, "s")
    out("spatialjoin.knn_jobs") = (kKnn.jobs.toDouble, "count")
    out("sink.write_s") = (w, "s")
    out("sink.readback_s") = (rb, "s")
    out("sink.files") = (sink.files.toDouble, "count")
    out("sink.row_groups") = (sink.rowGroups.toDouble, "count")
    out("sink.rowgroups_read_frac") = (sink.readFrac, "ratio")
    out("sink_bytes_per_row") = (sink.bytes.toDouble / math.max(1L, sink.rows), "B")
    out("pages_per_s") = (nPoints / (bj + ad + kn), "1/s")
    Main.recordInfo("cover_s", cov)
    val g = polys.collect().map(_.getAs[Array[Byte]]("geometry")).toSeq
    out ++= Layers.geo(Layers.samplePoints(points, 200000), g, res)
    out.toMap
  }
}

/** Sink file statistics from the parquet footers. */
object Sink {
  final case class Stats(files: Int, rowGroups: Int, readFrac: Double, bytes: Long, rows: Long)

  def stats(spark: SparkSession, path: String, x0: Double, y0: Double, x1: Double, y1: Double): Stats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    var groups = 0; var overlap = 0; var rows = 0L
    fs.foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try {
        r.getFooter.getBlocks.forEach { b =>
          groups += 1; rows += b.getRowCount
          def mm(leaf: String): (Double, Double) = {
            val cm = b.getColumns.stream().filter(_.getPath.toDotString == s"bbox.$leaf").findFirst()
            if (!cm.isPresent || cm.get.getStatistics == null || !cm.get.getStatistics.hasNonNullValue)
              (Double.NegativeInfinity, Double.PositiveInfinity)
            else (cm.get.getStatistics.genericGetMin.asInstanceOf[Double],
              cm.get.getStatistics.genericGetMax.asInstanceOf[Double])
          }
          val (xminLo, _) = mm("xmin"); val (_, xmaxHi) = mm("xmax")
          val (yminLo, _) = mm("ymin"); val (_, ymaxHi) = mm("ymax")
          if (xmaxHi > x0 && xminLo < x1 && ymaxHi > y0 && yminLo < y1) overlap += 1
        }
      } finally r.close()
    }
    Stats(fs.length, groups, overlap.toDouble / math.max(1, groups), fs.map(_.length).sum, rows)
  }
}

/** curation: the costliest dedup and curation catalog queries. */
final class Curation(spark: SparkSession, c: Main.Conf) extends Workload {
  private val outDir = Paths.get(c.work, "out").toString

  /** The warm-up pass writes every query's result for the oracle check.
    * It runs the queries from several driver threads at once: the cost of
    * a first run is mostly one-time compilation, which they share. */
  def setup(): Double = Main.time {
    Main.concurrently(Curation.Queries) { q =>
      SparkEntry.queries(q)(spark, c.data).write.mode("overwrite").parquet(s"$outDir/$q")
    }
  }

  def ops: Seq[Op] = Curation.Queries.map(q => Op(q, () => Main.noop(SparkEntry.queries(q)(spark, c.data))))

  def shape: Map[String, Any] = {
    val docs = DerivedTables.documents(spark, c.data)
    val r = docs.agg(count(lit(1)), avg(length(col("text")))).head()
    Map("documents" -> r.getLong(0), "mean_doc_chars" -> r.getDouble(1),
      "embeddings" -> DerivedTables.embeddings(spark, c.data).count(), "queries" -> Curation.Queries.size)
  }

  /** The oracle comparison runs in run.py against DuckDB; here the query
    * results and their SQL are only written out. */
  def check(): Seq[(String, Boolean, String)] = {
    val sql = Curation.Queries.map(q => s"${Main.jsonStr(q)}: ${Main.jsonStr(SparkEntry.oracleSql(q))}")
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), sql.mkString("{", ",", "}"))
    Nil
  }

  def layers(tracer: Tracer, tr: Trace): Map[String, (Double, String)] = {
    val out = mutable.Map[String, (Double, String)]()
    out ++= Layers.scan(tracer, tr, 3)(graft.sources.TableSource.table(spark, c.data, "documents"))
    Curation.Queries.foreach { q =>
      val t = tracer.span("query", q) {
        Main.time(Main.noop(SparkEntry.queries(q)(spark, c.data))) }
      Main.freeAll(spark)
      out(s"query.${q}_s") = (t, "s")
    }
    out.toMap
  }
}

object Curation {
  /** Four of the costliest dedup and curation queries: the Jaccard
    * exchange (jaccard_pairs), MinHash pairs and connected components
    * (dup_clusters) and the operator caches (heavy_hitters, chunk_pack).
    * DESIGN.md says why the other five named ones are left out. */
  final val Queries = Seq("d_jaccard_pairs", "d_dup_clusters", "d_heavy_hitters", "d_chunk_pack")
}
