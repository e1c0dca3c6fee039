package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.geo.{Wkb, Wkt}

/** The reference's read→filter→convert parity surface
  * (overturemaestro/functions.py convert_* family / data_downloader.py).
  *
  * Semantics reproduced exactly (SURVEY.md §2.2, §7.4):
  *  - P1 bbox predicate with STRICT inequalities on the bbox struct
  *    (data_downloader.py:831-837) — pushdown-friendly: Catalyst pushes the
  *    struct-field comparisons to the Parquet row-group stats;
  *  - P2 `pyarrow_filter` predicate triples compiled to Columns
  *    (data_downloader.py:31-32, 397-400);
  *  - P3 exact geometry refinement — ray-cast containment of the feature's
  *    representative point; SKIPPED when the filter equals its envelope
  *    (P5 rectangle short-circuit, data_downloader.py:649);
  *  - P4 projection with auto-added key/geometry columns and
  *    MissingColumnError on unknown names (data_downloader.py:862-889);
  *  - S9 empty results keep the full projected schema
  *    (data_downloader.py:696-711).
  */
object Pipeline {
  final val IndexColumn = "id"        // reference _constants.py:10
  final val GeometryColumn = "geometry" // reference _constants.py:3-8

  class MissingColumnError(cols: Seq[String])
    extends IllegalArgumentException(s"Unknown columns: ${cols.mkString(", ")}")

  /** P1: strict-inequality bbox-overlap predicate on a bbox struct column. */
  def bboxOverlapPredicate(bboxCol: Column,
                           xmin: Double, ymin: Double, xmax: Double, ymax: Double): Column =
    bboxCol("xmin") < lit(xmax) && bboxCol("xmax") > lit(xmin) &&
      bboxCol("ymin") < lit(ymax) && bboxCol("ymax") > lit(ymin)

  /** P2: compile pyarrow-style predicate triples into a Column.
    * Input is DNF: OR of AND-groups of (column, op, value); nested columns
    * use dotted paths (e.g. "categories.primary"). */
  def compileFilter(dnf: Seq[Seq[(String, String, Any)]]): Column = {
    def one(t: (String, String, Any)): Column = {
      val (name, op, value) = t
      val c = col(name)
      op match {
        case "==" | "=" => c === lit(value)
        case "!=" => c =!= lit(value)
        case ">" => c > lit(value)
        case ">=" => c >= lit(value)
        case "<" => c < lit(value)
        case "<=" => c <= lit(value)
        case "in" => c.isin(value.asInstanceOf[Seq[Any]]: _*)
        case "not in" => !c.isin(value.asInstanceOf[Seq[Any]]: _*)
        case other => throw new IllegalArgumentException(s"unsupported op '$other'")
      }
    }
    dnf.map(_.map(one).reduce(_ && _)).reduce(_ || _)
  }

  /** P4: validated projection with auto-added key and geometry columns,
    * reordered to the table's schema order (data_downloader.py:862-889). */
  def projectWithAutoKeys(df: DataFrame, requested: Seq[String],
                          keyCol: String = IndexColumn,
                          geomCol: String = GeometryColumn): DataFrame = {
    val schemaCols = df.schema.fieldNames.toSeq
    val unknown = requested.filterNot(schemaCols.contains)
    if (unknown.nonEmpty) throw new MissingColumnError(unknown)
    val wanted = (requested ++ Seq(keyCol, geomCol)).distinct
    val ordered = schemaCols.filter(wanted.contains)
    df.select(ordered.map(col): _*)
  }

  /** Is the filter geometry exactly its own envelope (a rectangle)?
    * Drives the P5 refine short-circuit (data_downloader.py:649). */
  def isRectangle(filterWkb: Array[Byte]): Boolean = {
    if (Wkb.geomType(filterWkb) != Wkb.Polygon) return false
    val rings = Wkb.readPolygons(filterWkb)(0)
    if (rings.length != 1) return false
    val r = rings(0)
    val n = r.length / 2
    if (n != 5 && n != 4) return false
    val (xmin, ymin, xmax, ymax) = Wkb.envelope(filterWkb)
    val m = if (r(0) == r(2 * (n - 1)) && r(1) == r(2 * (n - 1) + 1)) n - 1 else n
    if (m != 4) return false
    val pts = (0 until m).map(i => (r(2 * i), r(2 * i + 1)))
    // vertex SET equality alone admits a bowtie (same four corners, edges
    // crossing) — also require each edge to be axis-parallel (consecutive
    // corners share exactly one coordinate), which forces true perimeter
    // traversal order
    pts.toSet == Set((xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)) &&
      (0 until 4).forall { i =>
        val (x1, y1) = pts(i); val (x2, y2) = pts((i + 1) % 4)
        (x1 == x2) != (y1 == y2)
      }
  }

  /** The flagship conversion: filter a feature table (with `bbox` struct,
    * WKB `geometry`, point coordinates latCol/lngCol) by a geometry filter +
    * optional predicate + projection, reproducing the reference's composed
    * semantics: P1 strict bbox prefilter ∧ (P3 exact refine unless P5).
    *
    * Empty results keep the projected schema (S9) for free: Spark plans
    * carry schema independent of data. */
  def convertGeometry(features: DataFrame, filterWkt: String,
                      predicate: Option[Seq[Seq[(String, String, Any)]]] = None,
                      columns: Option[Seq[String]] = None,
                      latCol: String = "lat", lngCol: String = "lng"): DataFrame =
    convertGeometryWkb(features, Wkt.parse(filterWkt), predicate, columns, latCol, lngCol)

  def convertGeometryWkb(features: DataFrame, fWkb: Array[Byte],
                         predicate: Option[Seq[Seq[(String, String, Any)]]] = None,
                         columns: Option[Seq[String]] = None,
                         latCol: String = "lat", lngCol: String = "lng"): DataFrame = {
    val (xmin, ymin, xmax, ymax) = Wkb.envelope(fWkb)
    var out = features.where(bboxOverlapPredicate(col("bbox"), xmin, ymin, xmax, ymax))
    if (!isRectangle(fWkb))
      out = out.where(ray_cast_contains(lit(fWkb), col(lngCol), col(latCol)))
    predicate.foreach(p => out = out.where(compileFilter(p)))
    columns.map(cs => projectWithAutoKeys(out, cs)).getOrElse(out)
  }
}
