package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

/** Geometry constructors / decomposers as Catalyst expressions. */
object GeomConstructors {

  /** box_wkb(xmin, ymin, xmax, ymax) → Polygon WKB — the reference's
    * `box()` constructor (overturemaestro/functions.py:865-868 uses
    * shapely.box to turn bbox filters into polygons). */
  case class BoxWkb(xmin: Expression, ymin: Expression, xmax: Expression, ymax: Expression)
      extends QuaternaryExpression {
    override def first: Expression = xmin
    override def second: Expression = ymin
    override def third: Expression = xmax
    override def fourth: Expression = ymax
    override def dataType: DataType = BinaryType
    override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
      graft.geo.Wkb.box(a.asInstanceOf[Double], b.asInstanceOf[Double],
        c.asInstanceOf[Double], d.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.geo.Wkb.box($a, $b, $c, $d)")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression, d: Expression) =
      copy(xmin = a, ymin = b, xmax = c, ymax = d)
  }

  /** cover_cells(wkbGeometry, res) → array<long> of cells intersecting the
    * geometry — the planner's cell-cover primitive (SURVEY.md §4,
    * replaces the reference's row-group bbox semi-join J1). Conservative:
    * may include cells that only touch the bbox; the exact ray-cast refine
    * (P3) drops false positives after the equi-join. */
  case class CoverCells(geom: Expression, res: Expression)
      extends BinaryExpression {
    override def left: Expression = geom
    override def right: Expression = res
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(g: Any, r: Any): Any =
      new GenericArrayData(graft.geo.Cell.coverGeometry(
        g.asInstanceOf[Array[Byte]], r.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (g, r) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.geo.Cell.coverGeometry($g, $r))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(geom = l, res = r)
  }

  /** cover_cells_within(wkbGeometry, parent, fineRes) → array<long>: the
    * cells of cover_cells(geometry, fineRes) that lie inside the coarser
    * cell `parent` (Cell.coverGeometryWithin). */
  case class CoverCellsWithin(geom: Expression, parent: Expression, fineRes: Expression)
      extends TernaryExpression {
    override def first: Expression = geom
    override def second: Expression = parent
    override def third: Expression = fineRes
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(g: Any, p: Any, r: Any): Any =
      new GenericArrayData(graft.geo.Cell.coverGeometryWithin(
        g.asInstanceOf[Array[Byte]], p.asInstanceOf[Long], r.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (g, p, r) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.geo.Cell.coverGeometryWithin($g, $p, $r))")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression) =
      copy(geom = a, parent = b, fineRes = c)
  }

  /** geom_envelope(wkb) → struct<xmin,ymin,xmax,ymax> — the bbox struct the
    * reference stamps on every feature (overturemaestro/_generate_bbox_index
    * .py:108-110); used to materialize min/max-prunable bbox columns. */
  case class GeomEnvelope(geom: Expression) extends UnaryExpression {
    override def child: Expression = geom
    override def dataType: DataType = StructType(Seq(
      StructField("xmin", DoubleType, nullable = false),
      StructField("ymin", DoubleType, nullable = false),
      StructField("xmax", DoubleType, nullable = false),
      StructField("ymax", DoubleType, nullable = false)))
    override def nullSafeEval(g: Any): Any = {
      val (a, b, c, d) = graft.geo.Wkb.envelope(g.asInstanceOf[Array[Byte]])
      org.apache.spark.sql.catalyst.InternalRow(a, b, c, d)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, g => s"graft.functions.GeomConstructors.envelopeRow($g)")
    override protected def withNewChildInternal(c: Expression) = copy(geom = c)
  }

  /** static helper for GeomEnvelope codegen */
  def envelopeRow(wkb: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val (a, b, c, d) = graft.geo.Wkb.envelope(wkb)
    org.apache.spark.sql.catalyst.InternalRow(a, b, c, d)
  }

  def box_wkb(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column = {
    def d(c: Column) = toExpression(c.cast(DoubleType))
    toColumn(BoxWkb(d(xmin), d(ymin), d(xmax), d(ymax)))
  }
  def cover_cells(geomWkb: Column, res: Int): Column = {
    import org.apache.spark.sql.functions.lit
    toColumn(CoverCells(toExpression(geomWkb), toExpression(lit(res))))
  }
  def cover_cells_within(geomWkb: Column, parent: Column, fineRes: Int): Column = {
    import org.apache.spark.sql.functions.lit
    toColumn(CoverCellsWithin(toExpression(geomWkb), toExpression(parent.cast(LongType)),
      toExpression(lit(fineRes))))
  }
  def geom_envelope(geomWkb: Column): Column = toColumn(GeomEnvelope(toExpression(geomWkb)))
}
