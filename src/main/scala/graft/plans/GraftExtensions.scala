package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.GeoExpressions.RayCastContains
import graft.geo.Wkb
import graft.operators.Pipeline

/** Catalyst plan rules for the engine (SURVEY.md §4 "custom Catalyst
  * inventory" — the optional Rule layer; everything else is deliberately
  * builder-constructed).
  *
  * RectangleRefineShortCircuit — the plan-level form of the reference's
  * envelope short-circuit (P5, overturemaestro/data_downloader.py:649):
  * an exact ray-cast refinement against a CONSTANT rectangular geometry is
  * equivalent to two half-open interval checks, which Parquet/Iceberg can
  * push to row-group stats — the Expression itself cannot be pushed.
  * Ray-cast semantics on an axis-aligned rectangle (the crossing rule of
  * `Wkb.polygonContains`): only the two vertical edges can cross the ray,
  * and (yi > py) != (yj > py) holds for them iff ymin <= py < ymax; each
  * then counts iff px < its x, so the count is odd iff xmin <= px < xmax.
  * A point is inside iff xmin <= lng < xmax and ymin <= lat < ymax, edges
  * and corners included — the form emitted here. */
object RectangleRefineShortCircuit extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case rc @ RayCastContains(Literal(wkb: Array[Byte], org.apache.spark.sql.types.BinaryType), lng, lat)
        if Pipeline.isRectangle(wkb) =>
      val (xmin, ymin, xmax, ymax) = Wkb.envelope(wkb)
      And(
        And(GreaterThanOrEqual(lng, Literal(xmin)), LessThan(lng, Literal(xmax))),
        And(GreaterThanOrEqual(lat, Literal(ymin)), LessThan(lat, Literal(ymax))))
  }
}

/** SQL surface for the engine's custom expressions: the same Catalyst
  * expressions the Column API builds, registered as SQL functions so
  * `spark.sql("SELECT cell_encode(lat, lng, 6) …")` (and spark-sql / JDBC
  * users) get the identical codegen'd plan — no UDF tier. Argument types
  * are normalized with the same casts the Column builders apply. */
object GraftFunctions {
  import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
  import graft.functions.GeoExpressions._
  import graft.functions.GeomConstructors.{BoxWkb, CoverCells, GeomEnvelope}

  private def d(e: Expression): Expression = Cast(e, DoubleType)
  private def i(e: Expression): Expression = Cast(e, IntegerType)
  private def l(e: Expression): Expression = Cast(e, LongType)
  /** Plan-time scalar from a foldable argument (e.g. Hilbert bounds). */
  private def constDouble(e: Expression, fn: String): Double = {
    require(e.foldable, s"$fn expects a literal here, got $e")
    e.eval() match {
      case n: Number => n.doubleValue()
      // SQL numeric literals like `-180.0` analyze as DECIMAL
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case x => throw new IllegalArgumentException(s"$fn: non-numeric literal $x")
    }
  }
  private def constInt(e: Expression, fn: String): Int =
    constDouble(e, fn).toInt

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cell_encode" -> (a => CellEncode(d(a(0)), d(a(1)), i(a(2)))),
    "cell_parent" -> (a => CellParent(l(a(0)), i(a(1)))),
    "cell_kring" -> (a => CellKRing(l(a(0)), i(a(1)))),
    "cell_x" -> (a => CellXExpr(l(a(0)))),
    "cell_y" -> (a => CellYExpr(l(a(0)))),
    "ray_cast_contains" -> (a => RayCastContains(a(0), d(a(1)), d(a(2)))),
    "haversine_m" -> (a => HaversineM(d(a(0)), d(a(1)), d(a(2)), d(a(3)))),
    "tile_x" -> (a => TileXExpr(d(a(0)), i(a(1)))),
    "tile_y" -> (a => TileYExpr(d(a(0)), i(a(1)))),
    "box_wkb" -> (a => BoxWkb(d(a(0)), d(a(1)), d(a(2)), d(a(3)))),
    "cover_cells" -> (a => CoverCells(a(0), i(a(1)))),
    "geom_envelope" -> (a => GeomEnvelope(a(0))),
    "hilbert_index" -> (a => HilbertIndexExpr(d(a(0)), d(a(1)),
      constDouble(a(2), "hilbert_index"), constDouble(a(3), "hilbert_index"),
      constDouble(a(4), "hilbert_index"), constDouble(a(5), "hilbert_index"),
      constInt(a(6), "hilbert_index"))))

  /** Register every function on an already-built session (tests,
    * notebooks); spark-submit users get the same set via
    * `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.registerFunction(spark, name, builder)
    }
}

/** Session extension entry point:
  * `withExtensions(new GraftExtensions)` on a session builder (as `Cli` does) or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RectangleRefineShortCircuit)
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
  }
}
