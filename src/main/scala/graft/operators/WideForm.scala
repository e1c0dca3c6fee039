package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Wide-form boolean pivot — reference advanced_functions/wide_form.py.
  *
  * The reference pivots hierarchy columns into per-combination boolean
  * columns with generated CASE SQL run in DuckDB
  * (wide_form.py:128-143 for hierarchies, :297-311 for POI categories) and
  * combines per-(theme,type) outputs with UNION ALL BY NAME + COALESCE
  * (wide_form.py:1309-1367). In Spark this is a generated `Column` list —
  * row-local, NO shuffle (this is *not* groupBy().pivot()).
  */
object WideForm {

  /** F1 parity: the reference's `_combine_columns` STOPS at the first NULL
    * hierarchy level (wide_form.py:464-471) — unlike Spark's `concat_ws`,
    * which skips interior nulls. Fold: take levels while non-null. */
  def nullStopConcat(sep: String, cols: Seq[Column]): Column = {
    // build right-to-left: name_i = col_i is null ? "" : col_i + sep + rest
    cols.foldRight(lit("")) { (c, rest) =>
      when(c.isNull, lit("")).otherwise(
        concat(lit(sep), c, rest))
    }.substr(lit(sep.length + 1), lit(Int.MaxValue)) // drop leading sep
  }

  /** The raw (un-aliased, un-coalesced) combination predicate — F2 parity:
    * `(h1 = 'v1' AND h2 = 'v2')`, NULL levels compared with IS NULL
    * (wide_form.py:128-143); callers coalesce it to false. */
  private def hierarchyPivotCond(levels: Seq[(String, Option[String])]): Column =
    // depth-0 clip: the single `theme|type` presence column (always true
    // for rows of that pair — reference wide_form.py:446-448)
    if (levels.isEmpty) lit(true)
    else levels.map {
      case (c, Some(v)) => col(c) === lit(v)
      case (c, None)    => col(c).isNull
    }.reduce(_ && _)

  /** Pivot a feature table on hierarchy columns: output keyCols + one
    * boolean column per vocabulary entry named `theme|type|v1|v2…`
    * (null-stop naming). `vocabulary`: the combinations to emit —
    * release-stable when supplied (wide_form.py:438-461), or observed
    * (distinct) when not. */
  def pivotHierarchy(df: DataFrame, keyCols: Seq[String], prefix: Seq[String],
                     hierarchyCols: Seq[String],
                     vocabulary: Option[Seq[Seq[Option[String]]]] = None): DataFrame = {
    val vocab: Seq[Seq[Option[String]]] = vocabulary.getOrElse {
      df.select(hierarchyCols.map(col): _*).distinct().collect().toSeq
        .map(r => hierarchyCols.indices.map(i => Option(r.get(i)).map(_.toString)))
        .sortBy(_.map(_.getOrElse("")).mkString("|"))
    }
    // null-stop naming can alias combos (e.g. (a, NULL, x) and
    // (a, NULL, NULL) both name to `…|a`): combos sharing a name merge
    // into ONE column by OR-ing their predicates — duplicate column names
    // would poison every downstream by-name resolution (unionByName,
    // na.fill → AMBIGUOUS_REFERENCE)
    val named = vocab.map { combo =>
      // null-stop naming: drop levels at and after the first None
      val visible = combo.takeWhile(_.isDefined).flatten
      ((prefix ++ visible).mkString("|"), combo)
    }
    val byName = named.groupBy(_._1)
    val pivotCols = named.map(_._1).distinct.map { name =>
      coalesce(byName(name).map { case (_, combo) =>
        hierarchyPivotCond(hierarchyCols.zip(combo))
      }.reduce(_ || _), lit(false)).as(name)
    }
    df.select(keyCols.map(col) ++ pivotCols: _*)
  }

  /** POI category pivot column — F3 parity: one column per hierarchy
    * prefix, true when any member category is the primary OR (unless
    * primaryOnly) in the alternate array; wide_form.py:297-311 builds
    * exactly this OR-joined condition list per column_name. */
  def categoryGroupPivotCol(members: Seq[String], colName: String, primaryOnly: Boolean,
                            primaryCol: Column, alternateCol: Column): Column =
    coalesce(members.map { c =>
      if (primaryOnly) primaryCol === lit(c)
      else primaryCol === lit(c) || array_contains(alternateCol, c)
    }.reduce(_ || _), lit(false)).as(colName)

  /** P6 parity: POI quality predicate — categories present AND confidence
    * at/above threshold (reference wide_form.py:208-228; default 0.75 at
    * advanced_functions/functions.py:135). */
  final val DefaultMinimalConfidence = 0.75
  def poiQualityPredicate(minimalConfidence: Double = DefaultMinimalConfidence): Column =
    col("categories").isNotNull && col("confidence") >= lit(minimalConfidence)

  /** F4 parity: wide-boolean bitset compression — bool columns → a compact
    * int-list (indexes of set bits) before an expensive sort, and back
    * (reference wide_form.py:1698-1756; the reference does this to shrink
    * DuckDB's sort payload — cheap to keep for output-size experiments). */
  def compressBools(boolCols: Seq[String]): Column =
    array_compact(array(boolCols.zipWithIndex.map { case (c, i) =>
      when(col(c), lit(i)).otherwise(lit(null).cast("int"))
    }: _*)).as("column_indexes")

  def decompressBools(indexesCol: Column, boolCols: Seq[String]): Seq[Column] =
    boolCols.zipWithIndex.map { case (c, i) =>
      array_contains(indexesCol, i).as(c)
    }

  class NegativeHierarchyDepthError(msg: String) extends IllegalArgumentException(msg)

  /** Depth check/clip parity (reference wide_form.py:63-82): None → max
    * depth; negative → error; above max → clip (the reference warns; we
    * log). */
  def checkDepth(theme: String, tpe: String, hierarchyColumns: Seq[String],
                 depth: Option[Int]): Int = {
    val d = depth.getOrElse(hierarchyColumns.length)
    if (d < 0)
      throw new NegativeHierarchyDepthError("Hierarchy depth cannot be negative")
    else if (d > hierarchyColumns.length) {
      System.err.println(
        s"[wide-form] Provided hierarchy depth is out of bounds (valid for " +
          s"$theme/$tpe: 0 - ${hierarchyColumns.length}). Value will be clipped " +
          s"to ${hierarchyColumns.length}.")
      hierarchyColumns.length
    } else d
  }

  /** U2 parity: UNION ALL BY NAME over per-type wide frames with missing
    * boolean columns coalesced to false (wide_form.py:1309-1367). */
  def combineWide(frames: Seq[DataFrame], nonBoolCols: Set[String]): DataFrame = {
    val combined = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    val boolCols = combined.schema.fields
      .filter(f => !nonBoolCols.contains(f.name)).map(_.name)
    combined.na.fill(false, boolCols)
  }
}
