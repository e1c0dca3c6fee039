package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

/** Native Catalyst expressions for the engine's geo primitives.
  *
  * These replace the reference's vectorized C kernels (shapely/GEOS STRtree
  * probe at overturemaestro/data_downloader.py:1026-1041; DuckDB H3 calls at
  * overturemaestro/cli.py:210-244) with whole-stage-codegen-able scalar
  * expressions: each `doGenCode` emits a static call into `graft.geo`, so the
  * hot path (cell encode, tile assign, ray-cast refine) stays inside the
  * generated loop — no UDF serialization, no boxing beyond Spark's own.
  */
object GeoExpressions {

  /** cell_encode(lat, lng, res) → LongType cell id (batched encoder UDF of
    * the north star — implemented as an Expression, the stronger form). */
  case class CellEncode(lat: Expression, lng: Expression, res: Expression)
      extends TernaryExpression {
    override def first: Expression = lat
    override def second: Expression = lng
    override def third: Expression = res
    override def dataType: DataType = LongType
    override def nullSafeEval(la: Any, ln: Any, r: Any): Any =
      graft.geo.Cell.encode(la.asInstanceOf[Double], ln.asInstanceOf[Double], r.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (la, ln, r) => s"graft.geo.Cell.encode($la, $ln, $r)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
      copy(lat = f, lng = s, res = t)
  }

  /** cell_parent(cell, parentRes) → LongType ancestor cell. */
  case class CellParent(cell: Expression, parentRes: Expression)
      extends BinaryExpression {
    override def left: Expression = cell
    override def right: Expression = parentRes
    override def dataType: DataType = LongType
    override def nullSafeEval(c: Any, r: Any): Any =
      graft.geo.Cell.parent(c.asInstanceOf[Long], r.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (c, r) => s"graft.geo.Cell.parent($c, $r)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(cell = l, parentRes = r)
  }

  /** cell_kring(cell, k) → ArrayType(LongType) — the kNN expansion generator
    * input; H3 kRing analog. */
  case class CellKRing(cell: Expression, k: Expression)
      extends BinaryExpression {
    override def left: Expression = cell
    override def right: Expression = k
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(c: Any, kk: Any): Any =
      new GenericArrayData(graft.geo.Cell.kRing(c.asInstanceOf[Long], kk.asInstanceOf[Int]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (c, kk) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.geo.Cell.kRing($c, $kk))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(cell = l, k = r)
  }

  /** ray_cast_contains(wkbGeometry, lng, lat) → Boolean exact refine —
    * the P3 analog (reference STRtree intersects probe,
    * overturemaestro/data_downloader.py:1026-1041) specialized to
    * point-in-areal via exact ray casting. */
  case class RayCastContains(geom: Expression, lng: Expression, lat: Expression)
      extends TernaryExpression {
    override def first: Expression = geom
    override def second: Expression = lng
    override def third: Expression = lat
    override def dataType: DataType = BooleanType
    override def nullSafeEval(g: Any, x: Any, y: Any): Any =
      graft.geo.Wkb.containsPoint(g.asInstanceOf[Array[Byte]],
        x.asInstanceOf[Double], y.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (g, x, y) => s"graft.geo.Wkb.containsPoint($g, $x, $y)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
      copy(geom = f, lng = s, lat = t)
  }

  /** haversine_m(lat1, lng1, lat2, lng2) → meters. */
  case class HaversineM(lat1: Expression, lng1: Expression, lat2: Expression, lng2: Expression)
      extends QuaternaryExpression {
    override def first: Expression = lat1
    override def second: Expression = lng1
    override def third: Expression = lat2
    override def fourth: Expression = lng2
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
      graft.geo.Geo.haversineM(a.asInstanceOf[Double], b.asInstanceOf[Double],
        c.asInstanceOf[Double], d.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b, c, d) => s"graft.geo.Geo.haversineM($a, $b, $c, $d)")
    override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression, d: Expression) =
      copy(lat1 = a, lng1 = b, lat2 = c, lng2 = d)
  }

  /** tile_x(lng, zoom), tile_y(lat, zoom) → slippy-map tile coords. */
  case class TileXExpr(lng: Expression, zoom: Expression)
      extends BinaryExpression {
    override def left: Expression = lng
    override def right: Expression = zoom
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, z: Any): Any =
      graft.geo.Tile.tileX(l.asInstanceOf[Double], z.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (l, z) => s"graft.geo.Tile.tileX($l, $z)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(lng = l, zoom = r)
  }

  case class TileYExpr(lat: Expression, zoom: Expression)
      extends BinaryExpression {
    override def left: Expression = lat
    override def right: Expression = zoom
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, z: Any): Any =
      graft.geo.Tile.tileY(l.asInstanceOf[Double], z.asInstanceOf[Int])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (l, z) => s"graft.geo.Tile.tileY($l, $z)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(lat = l, zoom = r)
  }

  /** cell_x / cell_y — grid coordinates of a cell (de-interleaved morton
    * halves). Exported so oracle SQL can reproduce cells as plain
    * floor((lng+180)/360·2^res) arithmetic. */
  case class CellXExpr(cell: Expression) extends UnaryExpression {
    override def child: Expression = cell
    override def dataType: DataType = LongType
    override def nullSafeEval(c: Any): Any = graft.geo.Cell.cellX(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.geo.Cell.cellX($c)")
    override protected def withNewChildInternal(c: Expression) = copy(cell = c)
  }

  case class CellYExpr(cell: Expression) extends UnaryExpression {
    override def child: Expression = cell
    override def dataType: DataType = LongType
    override def nullSafeEval(c: Any): Any = graft.geo.Cell.cellY(c.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.geo.Cell.cellY($c)")
    override protected def withNewChildInternal(c: Expression) = copy(cell = c)
  }

  /** hilbert_index(lat, lng) within a fixed extent at `order` bits/axis —
    * the sorted-sink clustering key (reference S8 Hilbert sort,
    * overturemaestro/data_downloader.py:235-245). Extent and order are
    * construction-time constants (the sort_extent of the job), so they are
    * plain fields: codegen emits them as Java literals. */
  case class HilbertIndexExpr(lat: Expression, lng: Expression,
                              xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                              order: Int)
      extends BinaryExpression {
    override def left: Expression = lat
    override def right: Expression = lng
    override def dataType: DataType = LongType
    override def nullSafeEval(la: Any, ln: Any): Any =
      graft.geo.Hilbert.index(la.asInstanceOf[Double], ln.asInstanceOf[Double],
        xmin, ymin, xmax, ymax, order)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (la, ln) =>
        s"graft.geo.Hilbert.index($la, $ln, $xmin, $ymin, $xmax, $ymax, $order)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(lat = l, lng = r)
  }
}

/** Column-level API (the engine's `functions._` equivalent).
  *
  * Input types are normalized with explicit casts here (the expressions
  * themselves assume exact Double/Long/Int/Binary inputs — we control every
  * construction site through these builders). */
object geofunctions {
  import GeoExpressions._
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

  private def d(c: Column): Expression = toExpression(c.cast(DoubleType))
  private def i(c: Column): Expression = toExpression(c.cast(IntegerType))
  private def l(c: Column): Expression = toExpression(c.cast(LongType))

  def cell_encode(lat: Column, lng: Column, res: Int): Column =
    toColumn(CellEncode(d(lat), d(lng), i(lit(res))))
  def cell_parent(cell: Column, parentRes: Int): Column =
    toColumn(CellParent(l(cell), i(lit(parentRes))))
  def cell_kring(cell: Column, k: Int): Column = cell_kring(cell, lit(k))
  def cell_kring(cell: Column, k: Column): Column =
    toColumn(CellKRing(l(cell), i(k)))
  def cell_x(cell: Column): Column = toColumn(CellXExpr(l(cell)))
  def cell_y(cell: Column): Column = toColumn(CellYExpr(l(cell)))
  def ray_cast_contains(geomWkb: Column, lng: Column, lat: Column): Column =
    toColumn(RayCastContains(toExpression(geomWkb), d(lng), d(lat)))
  def haversine_m(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column =
    toColumn(HaversineM(d(lat1), d(lng1), d(lat2), d(lng2)))
  def tile_x(lng: Column, zoom: Int): Column = toColumn(TileXExpr(d(lng), i(lit(zoom))))
  def tile_y(lat: Column, zoom: Int): Column = toColumn(TileYExpr(d(lat), i(lit(zoom))))
  def hilbert_index(lat: Column, lng: Column,
                    xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                    order: Int): Column =
    toColumn(HilbertIndexExpr(d(lat), d(lng), xmin, ymin, xmax, ymax, order))
}
