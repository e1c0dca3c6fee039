package graft.operators

import org.apache.spark.sql.DataFrame

/** Multi-(theme, type) orchestration — the reference's most-used entry
  * points (`convert_*_for_multiple_types`, functions.py:235-366, backed by
  * data_downloader.download_data_for_multiple_types:485-540 and the wide
  * form's per-pair validation, wide_form.py:763-767).
  *
  * Contract mirrored exactly:
  *  - per-pair option lists must match the pair list length (ValueError
  *    messages verbatim);
  *  - outputs come back in the INPUT pair order;
  *  - the wide variant combines per-pair pivots with UNION ALL BY NAME +
  *    COALESCE(false) against release-stable vocabularies.
  */
object MultiConvert {

  private def requireSameLength(optList: Option[Seq[_]], n: Int, what: String): Unit =
    optList.foreach { l =>
      if (l.length != n)
        throw new IllegalArgumentException(s"$what length doesn't match length of theme type pairs.")
    }

  /** Run the convertGeometry pipeline for several (theme, type) pairs.
    *
    * @param pairs          (theme, type) pairs, output order preserved
    * @param source         feature table per pair (the Iceberg/parquet scan
    *                       at deployment; `theme`/`type` partition pruning
    *                       happens inside)
    * @param filterWkb      shared geometry filter
    * @param pyarrowFilters optional per-pair DNF predicate (None entries ok)
    * @param columns        optional per-pair projection (None entries ok)
    */
  def convertMultiple(pairs: Seq[(String, String)],
                      source: (String, String) => DataFrame,
                      filterWkb: Array[Byte],
                      pyarrowFilters: Option[Seq[Option[Seq[Seq[(String, String, Any)]]]]] = None,
                      columns: Option[Seq[Option[Seq[String]]]] = None): Seq[DataFrame] = {
    require(pairs.nonEmpty, "theme type pairs must not be empty")
    requireSameLength(pyarrowFilters, pairs.length, "Pyarrow filters")
    requireSameLength(columns, pairs.length, "Columns to download")
    pairs.zipWithIndex.map { case ((theme, tpe), i) =>
      Pipeline.convertGeometryWkb(
        source(theme, tpe), filterWkb,
        predicate = pyarrowFilters.flatMap(_(i)),
        columns = columns.flatMap(_(i)))
    }
  }

  /** Wide-form multi-pair conversion: per-pair geometry pipeline → pivot
    * against the pair's release-stable vocabulary (depth-clipped) → combine
    * UNION ALL BY NAME with missing booleans coalesced to false. */
  def convertMultipleWide(pairs: Seq[(String, String)],
                          source: (String, String) => DataFrame,
                          filterWkb: Array[Byte],
                          keyCols: Seq[String],
                          hierarchyColsOf: (String, String) => Seq[String],
                          vocabOf: (String, String) => DataFrame,
                          hierarchyDepths: Option[Seq[Option[Int]]] = None): DataFrame = {
    require(pairs.nonEmpty, "theme type pairs must not be empty")
    requireSameLength(hierarchyDepths, pairs.length, "Hierarchy depth list")
    val frames = pairs.zipWithIndex.map { case ((theme, tpe), i) =>
      val feats = Pipeline.convertGeometryWkb(source(theme, tpe), filterWkb)
      val hcols = hierarchyColsOf(theme, tpe)
      val (useCols, cs) = WideFormVocabulary.combos(
        vocabOf(theme, tpe), hcols, theme, tpe, hierarchyDepths.flatMap(_(i)))
      WideForm.pivotHierarchy(feats, keyCols, Seq(theme, tpe), useCols, Some(cs))
    }
    WideForm.combineWide(frames, keyCols.toSet)
  }

  /** Definition-driven wide multi-pair conversion: routes each pair
    * through its [[WideFormDefinition]] — projection (`downloadColumns`),
    * quality predicate, and pivot all participate, so e.g. `PoiWideForm`'s
    * confidence filter and category pivot work in the multi-pair path
    * (the vocab-driven overload above covers hierarchy pivots against
    * release-stable vocabularies). */
  def convertMultipleWideDefs(defs: Seq[WideFormDefinition],
                              source: (String, String) => DataFrame,
                              filterWkb: Array[Byte],
                              keyCols: Seq[String],
                              hierarchyDepths: Option[Seq[Option[Int]]] = None): DataFrame = {
    require(defs.nonEmpty, "theme type pairs must not be empty")
    requireSameLength(hierarchyDepths, defs.length, "Hierarchy depth list")
    val frames = defs.zipWithIndex.map { case (d, i) =>
      val feats = Pipeline.convertGeometryWkb(source(d.theme, d.tpe), filterWkb)
      d.pivot(feats, keyCols, hierarchyDepths.flatMap(_(i)))
    }
    WideForm.combineWide(frames, keyCols.toSet)
  }

  /** Release-aware wide multi-pair conversion: each pair's definition is
    * resolved through [[WideFormRegistry.forRelease]], so converting an
    * older release automatically uses that release's hierarchy columns
    * (transportation 2-col before 2024-08-20.0, buildings class-only and
    * no base/land_cover before 2024-05-16-beta.0 — wide_form.py:603-616).
    * Unknown pairs for the release fail loudly before any job runs. */
  def convertMultipleWideForRelease(pairs: Seq[(String, String)],
                                    release: String,
                                    source: (String, String) => DataFrame,
                                    filterWkb: Array[Byte],
                                    keyCols: Seq[String],
                                    hierarchyDepths: Option[Seq[Option[Int]]] = None): DataFrame = {
    require(pairs.nonEmpty, "theme type pairs must not be empty")
    val defs = pairs.map { case (t, ty) => WideFormRegistry.definition(t, ty, release) }
    convertMultipleWideDefs(defs, source, filterWkb, keyCols, hierarchyDepths)
  }
}
