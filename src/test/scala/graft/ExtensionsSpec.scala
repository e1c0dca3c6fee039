package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge
import org.scalacheck.{Gen, Prop, Test => SC}
import org.scalacheck.rng.Seed
import graft.functions.geofunctions._
import graft.functions.GeomConstructors.box_wkb
import graft.geo.Wkb
import graft.plans.{GraftExtensions, GraftFunctions, RectangleRefineShortCircuit}

/** The optimizer rule rewrites constant-rectangle ray-casts into plain
  * comparisons (pushdown-able), without changing results. The rule is
  * applied to analyzed plans on the shared session: a session built here
  * with the extensions would be the one every later suite in the JVM
  * gets back from getOrCreate. */
class ExtensionsSpec extends SparkTestBase {

  /** `df` with the rule applied to its analyzed plan. */
  private def rewritten(df: DataFrame): DataFrame =
    graftbridge.ofRows(spark, RectangleRefineShortCircuit(df.queryExecution.analyzed))

  private def folded(df: DataFrame): Boolean =
    !rewritten(df).queryExecution.analyzed.toString.toLowerCase.contains("raycast")

  test("rectangle ray-cast folds to comparisons; non-rectangle stays") {
    import spark.implicits._
    val rect = Wkb.box(0.1, 0.1, 1.3, 1.3)
    val df = Seq((0.5, 0.5), (2.0, 2.0)).toDF("lng", "lat")
      .where(ray_cast_contains(lit(rect), col("lng"), col("lat")))
    val plan = rewritten(df).queryExecution.analyzed.toString
    assert(!plan.toLowerCase.contains("raycast") && plan.contains(">=") && plan.contains("<"), plan)
    assert(rewritten(df).collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq == Seq((0.5, 0.5)))
    // non-rectangular geometry is left intact
    val tri = graft.geo.Wkt.parse("POLYGON ((0 0, 1 0, 0 1, 0 0))")
    val df2 = Seq((0.2, 0.2)).toDF("lng", "lat")
      .where(ray_cast_contains(lit(tri), col("lng"), col("lat")))
    assert(!folded(df2))
  }

  test("rectangle rewrite equals ray_cast_contains on edges, corners, inside and outside") {
    import spark.implicits._
    // ray-cast on a rectangle is half-open (xmin <= lng < xmax, ymin <= lat
    // < ymax): the lower and left edges are in, the upper and right ones out
    val genCase = for {
      xmin <- Gen.chooseNum(-170.0, 160.0)
      ymin <- Gen.chooseNum(-80.0, 70.0)
      w <- Gen.chooseNum(1e-3, 10.0)
      h <- Gen.chooseNum(1e-3, 10.0)
      along <- Gen.listOfN(4, Gen.chooseNum(0.0, 1.0))
      free <- Gen.listOfN(8, Gen.zip(Gen.chooseNum(-0.5, 1.5), Gen.chooseNum(-0.5, 1.5)))
    } yield {
      val (xmax, ymax) = (xmin + w, ymin + h)
      val corners = Seq((xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax))
      val edges = Seq((xmin + along(0) * w, ymin), (xmax, ymin + along(1) * h),
        (xmin + along(2) * w, ymax), (xmin, ymin + along(3) * h))
      // points at fractions of the box: inside for (0, 1), outside past it
      val others = ((0.5, 0.5) +: free).map { case (u, v) => (xmin + u * w, ymin + v * h) }
      (Wkb.box(xmin, ymin, xmax, ymax), corners ++ edges ++ others)
    }
    val res = SC.check(SC.Parameters.default.withInitialSeed(Seed(20260817L)),
      Prop.forAll(genCase) { case (rect, pts) =>
        val df = pts.toDF("lng", "lat").select($"lng", $"lat",
          ray_cast_contains(lit(rect), $"lng", $"lat").as("inside"))
        folded(df) && rewritten(df).collect().toSeq == df.collect().toSeq
      })
    assert(res.passed, res.status.toString)
  }

  test("GraftExtensions injects the rectangle rule and every SQL function") {
    val rules = mutable.Buffer.empty[Rule[LogicalPlan]]
    val functions = mutable.Buffer.empty[String]
    val ext = new SparkSessionExtensions {
      override def injectOptimizerRule(builder: SparkSession => Rule[LogicalPlan]): Unit =
        rules += builder(spark)
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit =
        functions += f._1.funcName
    }
    new GraftExtensions()(ext)
    assert(rules.toSeq == Seq(RectangleRefineShortCircuit))
    assert(functions.toSeq == GraftFunctions.all.map(_._1))
  }

  test("SQL function registry: spark.sql path builds the same codegen expressions") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    Seq((40.7, -74.0), (51.5, -0.1), (-33.9, 151.2))
      .toDF("lat", "lng").createOrReplaceTempView("pts")
    val viaSql = spark.sql(
      """SELECT cell_encode(lat, lng, 6) AS c,
        |       cell_x(cell_encode(lat, lng, 6)) AS gx,
        |       tile_x(lng, 8) AS tx, tile_y(lat, 8) AS ty,
        |       haversine_m(lat, lng, 0.0, 0.0) AS dist,
        |       ray_cast_contains(box_wkb(-180.0, -90.0, 180.0, 90.0), lng, lat) AS inside,
        |       hilbert_index(lat, lng, -180.0, -90.0, 180.0, 90.0, 10) AS h
        |FROM pts ORDER BY lat""".stripMargin).collect()
    val viaCols = spark.table("pts")
      .select(cell_encode($"lat", $"lng", 6).as("c"),
        cell_x(cell_encode($"lat", $"lng", 6)).as("gx"),
        tile_x($"lng", 8).as("tx"), tile_y($"lat", 8).as("ty"),
        haversine_m($"lat", $"lng", lit(0.0), lit(0.0)).as("dist"),
        ray_cast_contains(box_wkb(lit(-180.0), lit(-90.0), lit(180.0), lit(90.0)), $"lng", $"lat").as("inside"),
        hilbert_index($"lat", $"lng", -180.0, -90.0, 180.0, 90.0, 10).as("h"))
      .orderBy($"lat" /* same order as SQL */)
      .collect()
    assert(viaSql.toSeq == viaCols.toSeq)
    assert(viaSql.forall(_.getBoolean(5)), "every point is inside the world box")
    // cover_cells + cell_kring return arrays through SQL too
    val arr = spark.sql(
      "SELECT size(cover_cells(box_wkb(0.0, 0.0, 2.0, 2.0), 6)) AS nc, size(cell_kring(cell_encode(1.0, 1.0, 6), 1)) AS nk")
      .head()
    assert(arr.getInt(0) > 0 && arr.getInt(1) >= 4)
  }
}
