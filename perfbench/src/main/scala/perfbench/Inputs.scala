package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.{Cell, Wkb}
import graft.sources.DerivedTables

/** The inputs of the spatial workloads, made from the generated fixture
  * tables and the seed. Each writer returns what the run records about
  * the input's shape. */
object Inputs {

  /** Flagship pages: the engine's `pages` table replicated `rep` times with
    * a 1e-7 degree jitter per copy, written as `files` zstd parquet files. */
  def flagshipPages(spark: SparkSession, dataDir: String, out: String,
                    rep: Int, files: Int): Long = {
    DerivedTables.pages(spark, dataDir)
      .select("page_id", "lat", "lng")
      .repartition(files)
      .withColumn("rep", explode(sequence(lit(0), lit(rep - 1))))
      .withColumn("page_id", col("page_id") * rep + col("rep"))
      .withColumn("lat", col("lat") + col("rep") * lit(1e-7))
      .withColumn("lng", col("lng") - col("rep") * lit(1e-7))
      .drop("rep")
      .write.mode("overwrite").option("compression", "zstd").parquet(out)
    spark.read.parquet(out).count()
  }

  /** Centres of the hot regions that the dense polygons and most points
    * cluster in. */
  def hotCentres(seed: Long, n: Int): Seq[(Double, Double)] = {
    val r = new Random(seed * 7919 + 17)
    Seq.fill(n)((-45.0 + 90.0 * r.nextDouble(), -160.0 + 320.0 * r.nextDouble()))
  }

  final case class PolyShape(n: Int, verticesMin: Int, verticesMedian: Int,
                             verticesMax: Int, verticesMean: Double)

  /** Many-vertex star-shaped polygons, one per `part` row: the vertex
    * count follows p_size, the radius p_retailprice; centres are drawn
    * around the hot centres, so polygons overlap there. */
  def densePolygons(spark: SparkSession, dataDir: String, out: String, seed: Long,
                    n: Int, hot: Seq[(Double, Double)]): PolyShape = {
    import spark.implicits._
    val parts = DerivedTables.part(spark, dataDir)
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .orderBy("p_partkey").limit(n).collect()
    val r = new Random(seed)
    val rows = parts.map { p =>
      val id = p.getLong(0)
      val verts = 12 + p.getInt(1) * 2 // 14..112
      val radius = 0.08 + (p.getDouble(2) - 900.0) / 100.0 * 0.5
      val (cy, cx) = hot(r.nextInt(hot.size))
      val lat = cy + r.nextGaussian() * 2.0
      val lng = cx + r.nextGaussian() * 2.0
      val ring = new Array[Double](2 * verts + 2)
      var i = 0
      while (i < verts) {
        val a = 2 * math.Pi * (i + 0.8 * r.nextDouble()) / verts
        val rr = radius * (0.55 + 0.45 * r.nextDouble())
        ring(2 * i) = lng + rr * math.cos(a)
        ring(2 * i + 1) = lat + rr * math.sin(a)
        i += 1
      }
      ring(2 * verts) = ring(0); ring(2 * verts + 1) = ring(1)
      (id, Wkb.writePolygon(Array(ring)), verts)
    }
    rows.map(t => (t._1, t._2)).toSeq.toDF("poly_id", "geometry")
      .repartition(1).write.mode("overwrite").parquet(out)
    val vs = rows.map(_._3).sorted
    PolyShape(vs.length, vs.head, vs(vs.length / 2), vs.last, vs.sum.toDouble / vs.length)
  }

  /** Points: the engine's `pages` table, with `hotShare` of the pages moved
    * into the hot regions (a seeded, hash-derived offset of up to ~3
    * degrees), so some join cells hold many points. */
  def densePoints(spark: SparkSession, dataDir: String, out: String, seed: Long,
                  hot: Seq[(Double, Double)], hotShare: Double, files: Int): Long = {
    def u(k: Int) = (pmod(xxhash64(col("page_id"), lit(seed), lit(k)), lit(1000000L)) / lit(1e6))
    val which = (u(1) * lit(hot.size)).cast("int")
    val hotLat = hot.zipWithIndex.foldLeft(lit(0.0)) { case (acc, ((la, _), i)) =>
      when(which === i, lit(la)).otherwise(acc) }
    val hotLng = hot.zipWithIndex.foldLeft(lit(0.0)) { case (acc, ((_, lo), i)) =>
      when(which === i, lit(lo)).otherwise(acc) }
    // sum of three uniforms: a bell-shaped offset within +-3 degrees
    val dy = (u(2) + u(3) + u(4) - lit(1.5)) * lit(2.0)
    val dx = (u(5) + u(6) + u(7) - lit(1.5)) * lit(2.0)
    val isHot = u(0) < lit(hotShare)
    DerivedTables.pages(spark, dataDir)
      .select(col("page_id"),
        when(isHot, hotLat + dy).otherwise(col("lat")).as("lat"),
        when(isHot, hotLng + dx).otherwise(col("lng")).as("lng"))
      .repartition(files)
      .write.mode("overwrite").option("compression", "zstd").parquet(out)
    spark.read.parquet(out).count()
  }

  /** kNN query points: seeded, near the hot centres. */
  def knnQueries(spark: SparkSession, seed: Long, n: Int,
                 hot: Seq[(Double, Double)]): DataFrame = {
    import spark.implicits._
    val r = new Random(seed * 31 + 5)
    (0 until n).map { i =>
      val (la, lo) = hot(i % hot.size)
      (i.toLong, la + r.nextGaussian() * 1.5, lo + r.nextGaussian() * 1.5)
    }.toDF("q_id", "qlat", "qlng")
  }

  /** Order-independent digest of a result: row count and the sum of a
    * 32-bit row hash (the sum cannot overflow a long). */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).bitwiseAND(lit(0xffffffffL))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Independent point-in-polygon join for the output checks: 1-degree
    * grid buckets from the polygon envelopes (no engine cell code), an
    * envelope prefilter, then `Wkb.containsPoint`. Returns
    * (page_id, poly_id, lat, lng). */
  def referencePip(points: DataFrame, polys: DataFrame): DataFrame = {
    val env = udf((g: Array[Byte]) => {
      val (x0, y0, x1, y1) = Wkb.envelope(g); Seq(x0, y0, x1, y1) })
    val contains = udf((g: Array[Byte], x: Double, y: Double) => Wkb.containsPoint(g, x, y))
    val boxed = polys.select(col("poly_id"), col("geometry"), env(col("geometry")).as("e"))
    val buckets = boxed
      .withColumn("by", explode(sequence(floor(col("e")(1)), floor(col("e")(3)))))
      .withColumn("bx", explode(sequence(floor(col("e")(0)), floor(col("e")(2)))))
    points.withColumn("by", floor(col("lat"))).withColumn("bx", floor(col("lng")))
      .join(broadcast(buckets), Seq("by", "bx"))
      .where(col("lng") >= col("e")(0) && col("lng") <= col("e")(2) &&
        col("lat") >= col("e")(1) && col("lat") <= col("e")(3))
      .where(contains(col("geometry"), col("lng"), col("lat")))
      .select("page_id", "poly_id", "lat", "lng")
  }

  /** Brute-force kNN for the output checks, on the driver and without
    * Spark: every point against every query by `Geo.haversineM`, ranked by
    * (distance, page_id). Returns (q_id, page_id, knn_rank). */
  def referenceKnn(spark: SparkSession, points: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val pts = points.select("page_id", "lat", "lng").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    queries.select("q_id", "qlat", "qlng").collect().toSeq.flatMap { q =>
      val (qid, qlat, qlng) = (q.getLong(0), q.getDouble(1), q.getDouble(2))
      val best = Array.fill(k)((Double.PositiveInfinity, Long.MaxValue))
      def before(a: (Double, Long), b: (Double, Long)) = a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
      pts.foreach { case (pid, lat, lng) =>
        val c = (graft.geo.Geo.haversineM(qlat, qlng, lat, lng), pid)
        if (before(c, best(k - 1))) {
          var i = k - 1
          while (i > 0 && before(c, best(i - 1))) { best(i) = best(i - 1); i -= 1 }
          best(i) = c
        }
      }
      best.toSeq.filter(_._1.isFinite).zipWithIndex.map { case ((_, pid), i) => (qid, pid, i + 1) }
    }.toDF("q_id", "page_id", "knn_rank")
  }

  /** Cells per polygon cover, and the share of covered cells whose four
    * corners and centre lie inside their polygon: an estimate of the
    * interior cells, which need no refine. */
  def coverStats(polys: Seq[Array[Byte]], res: Int): (Double, Double) = {
    var cells = 0L; var interior = 0L
    polys.foreach { g =>
      val cs = Cell.coverGeometry(g, res)
      cells += cs.length
      cs.foreach { c =>
        val (x0, y0, x1, y1) = Cell.boundsOf(c)
        if (Wkb.containsPoint(g, x0, y0) && Wkb.containsPoint(g, x1, y0) &&
          Wkb.containsPoint(g, x0, y1) && Wkb.containsPoint(g, x1, y1) &&
          Wkb.containsPoint(g, (x0 + x1) / 2, (y0 + y1) / 2)) interior += 1
      }
    }
    (cells.toDouble / math.max(1, polys.size), interior.toDouble / math.max(1L, cells))
  }
}
