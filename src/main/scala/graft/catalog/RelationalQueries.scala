package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.DerivedTables._
import Results.cents
import SpatialQueries.{P, PentagonWkb, pentagonInteriorSql}

/** TPC-H-style relational core (scan/filter/agg/join/window/set), the
  * wide-form pivots and the multi-(theme, type) conversion. */
object RelationalQueries {

  private def li(s: SparkSession, d: String) = lineitem(s, d)

  /** q_wide_poi category-hierarchy fixture (the Overture places category
    * CSV analog, local and deterministic): cat0–cat3 classify under two
    * depth-2 groups; cat4–cat6 are leaf-only (categories absent from the
    * CSV become their own level-1 entry, wide_form.py:433-435). */
  private val PoiFixtureHierarchy: Map[String, Seq[String]] = Map(
    "cat0" -> Seq("grp0", "cat0"), "cat1" -> Seq("grp1", "cat1"),
    "cat2" -> Seq("grp0", "cat2"), "cat3" -> Seq("grp1", "cat3"))

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q1_agg", (s, d) => {
      li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    CatalogEntry("q3_topk", (s, d) => {
      val o = orders(s, d); val c = customer(s, d)
      li(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c.where(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
        .limit(10)
    },
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10""".stripMargin),

    CatalogEntry("q5_multijoin", (s, d) => {
      li(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    CatalogEntry("q_semi_join", (s, d) => {
      customer(s, d)
        .join(orders(s, d).where(col("o_totalprice") > 100000)
          .select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    CatalogEntry("q_anti_join", (s, d) => {
      customer(s, d)
        .join(orders(s, d).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    CatalogEntry("q_window_rank", (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders(s, d)
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2 && col("o_custkey") % 100 === 0)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"),
          cents(col("o_totalprice")).as("price_cents"))
        .orderBy(col("o_custkey"), col("rk"))
    },
      """SELECT o_custkey, rk, o_orderkey, price_cents FROM (
        |  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 2 AND o_custkey % 100 = 0 ORDER BY o_custkey, rk""".stripMargin),

    CatalogEntry("q_distinct_hier", (s, d) => {
      part(s, d).select(col("p_brand"), col("p_type")).distinct()
        .orderBy(col("p_brand"), col("p_type"))
    },
      "SELECT DISTINCT p_brand, p_type FROM part ORDER BY 1, 2"),

    CatalogEntry("q_union", (s, d) => {
      customer(s, d).select(col("c_nationkey").cast("long").as("nationkey"))
        .union(supplier(s, d).select(col("s_nationkey").cast("long").as("nationkey")))
        .distinct().orderBy(col("nationkey"))
    },
      """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |UNION SELECT CAST(s_nationkey AS BIGINT) FROM supplier ORDER BY 1""".stripMargin),

    CatalogEntry("q_wide_pivot", (s, d) => {
      // wide-form boolean pivot (reference F2 semantics) on p_brand ∈ 5 brands
      val brands = Seq("Brand#1", "Brand#2", "Brand#3", "Brand#4", "Brand#5")
      val pivots = brands.map(b =>
        coalesce(col("p_brand") === lit(b), lit(false)).as(s"part|${b.toLowerCase}"))
      part(s, d).select((col("p_partkey") +: pivots): _*).orderBy(col("p_partkey"))
    },
      """SELECT p_partkey,
        |  coalesce(p_brand = 'Brand#1', false) AS "part|brand#1",
        |  coalesce(p_brand = 'Brand#2', false) AS "part|brand#2",
        |  coalesce(p_brand = 'Brand#3', false) AS "part|brand#3",
        |  coalesce(p_brand = 'Brand#4', false) AS "part|brand#4",
        |  coalesce(p_brand = 'Brand#5', false) AS "part|brand#5"
        |FROM part ORDER BY p_partkey""".stripMargin),

    CatalogEntry("q_percentile", (s, d) => {
      // continuous percentiles (linear interpolation) over exact cents
      orders(s, d).join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)").as("p50"),
          expr("percentile(CAST(round(o_totalprice * 100) AS BIGINT), 0.9)").as("p90"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) AS p50,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.9) AS p90
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    CatalogEntry("q_rollup", (s, d) => {
      // grouping sets (rollup) over the 2-level region/nation hierarchy
      supplier(s, d)
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"), sum(cents(col("s_acctbal"))).as("acctbal_cents"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    },
      """SELECT r_name, n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin),

    CatalogEntry("q_intersect", (s, d) => {
      customer(s, d).select(col("c_nationkey").cast("long").as("nationkey"))
        .intersect(supplier(s, d).select(col("s_nationkey").cast("long").as("nationkey")))
        .orderBy(col("nationkey"))
    },
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier ORDER BY 1""".stripMargin),

    CatalogEntry("q_except", (s, d) => {
      // nations with customers but no suppliers
      customer(s, d).select(col("c_nationkey").cast("long").as("nationkey"))
        .except(supplier(s, d).select(col("s_nationkey").cast("long").as("nationkey")))
        .orderBy(col("nationkey"))
    },
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier ORDER BY 1""".stripMargin),

    CatalogEntry("q_wide_combine", (s, d) => {
      // U2 parity e2e: two per-"type" wide frames → unionByName + fill(false)
      val p = part(s, d)
      val a = WideForm.pivotHierarchy(p.where(col("p_size") <= 25), Seq("p_partkey"),
        Seq("small"), Seq("p_type"), vocabulary = Some(Seq(Seq(Some("ECONOMY")), Seq(Some("STANDARD")))))
      val b = WideForm.pivotHierarchy(p.where(col("p_size") > 25), Seq("p_partkey"),
        Seq("large"), Seq("p_type"), vocabulary = Some(Seq(Seq(Some("ECONOMY")), Seq(Some("PROMO")))))
      WideForm.combineWide(Seq(a, b), nonBoolCols = Set("p_partkey"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey,
        |  coalesce("small|ECONOMY", false) AS "small|ECONOMY",
        |  coalesce("small|STANDARD", false) AS "small|STANDARD",
        |  coalesce("large|ECONOMY", false) AS "large|ECONOMY",
        |  coalesce("large|PROMO", false) AS "large|PROMO"
        |FROM (
        |  SELECT p_partkey,
        |    coalesce(p_type = 'ECONOMY', false) AS "small|ECONOMY",
        |    coalesce(p_type = 'STANDARD', false) AS "small|STANDARD"
        |  FROM part WHERE p_size <= 25
        |  UNION ALL BY NAME
        |  SELECT p_partkey,
        |    coalesce(p_type = 'ECONOMY', false) AS "large|ECONOMY",
        |    coalesce(p_type = 'PROMO', false) AS "large|PROMO"
        |  FROM part WHERE p_size > 25)
        |ORDER BY p_partkey""".stripMargin),

    CatalogEntry("q_wide_vocab", (s, d) => {
      // release-stable wide columns: vocabulary = GLOBAL distinct hierarchy
      // combos (the whole table), pivot applied to a REGION subset — the
      // oracle's literal column list proves region-independence of schema
      val all = part(s, d)
      val vocab = WideFormVocabulary.build(all, Seq("p_type"))
      val (useCols, combos) = WideFormVocabulary.combos(vocab, Seq("p_type"), "part", "type")
      WideForm.pivotHierarchy(all.where(col("p_size") <= 10), Seq("p_partkey"),
        Seq("part", "type"), useCols, vocabulary = Some(combos))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey,
        |  coalesce(p_type = 'ECONOMY', false) AS "part|type|ECONOMY",
        |  coalesce(p_type = 'LARGE', false) AS "part|type|LARGE",
        |  coalesce(p_type = 'MEDIUM', false) AS "part|type|MEDIUM",
        |  coalesce(p_type = 'PROMO', false) AS "part|type|PROMO",
        |  coalesce(p_type = 'SMALL', false) AS "part|type|SMALL",
        |  coalesce(p_type = 'STANDARD', false) AS "part|type|STANDARD"
        |FROM part WHERE p_size <= 10 ORDER BY p_partkey""".stripMargin),

    CatalogEntry("q_wide_release", (s, d) => {
      // release-versioned wide-form registry end-to-end (reference
      // wide_form.py:603-616): the SAME source converted under a recent
      // release (3-level transportation hierarchy) and a pre-2024-08-20.0
      // release (2-level) yields different wide columns; combineWide
      // unions the two with missing booleans coalesced to false
      val segs = pages(s, d).select(
          col("page_id").as("id"), col("lat"), col("lng"),
          element_at(array(lit("road"), lit("rail")),
            (col("page_id") % 2).cast("int") + 1).as("subtype"),
          concat(lit("c"), (col("page_id") % 3).cast("string")).as("class"),
          concat(lit("sc"), (col("page_id") % 5).cast("string")).as("subclass"))
        .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
          col("lng").as("xmax"), col("lat").as("ymax")))
        .withColumn("geometry", to_binary(lit("01"), lit("hex")))
      val box = graft.geo.Wkb.box(10.00005, 20.00005, 30.00005, 40.00005)
      val recent = MultiConvert.convertMultipleWideForRelease(
        Seq("transportation" -> "segment"), "2024-09-18.0", (_, _) => segs, box, Seq("id"))
      val old = MultiConvert.convertMultipleWideForRelease(
        Seq("transportation" -> "segment"), "2024-07-22.0", (_, _) => segs, box, Seq("id"))
      WideForm.combineWide(Seq(
          recent.withColumn("release", lit("new")),
          old.withColumn("release", lit("old"))), Set("id", "release"))
        .orderBy(col("release"), col("id"))
    },
      // the full cross-product vocabulary is known at
      // SQL-build time (moduli 2/3/5 are coprime and the box holds 555 rows
      // at sf0.01 — every combo occurs), so the CASE pivot is generated for
      // both releases' column sets; missing columns are FALSE, mirroring
      // combineWide's coalesce.
      {
        val subs = Seq("road", "rail")
        val cls = (0 to 2).map("c" + _)
        val scs = (0 to 4).map("sc" + _)
        val three = for { su <- subs; c <- cls; sc <- scs } yield
          (s"transportation|segment|$su|$c|$sc",
            s"""(subtype = '$su' AND "class" = '$c' AND subclass = '$sc')""")
        val two = for { su <- subs; c <- cls } yield
          (s"transportation|segment|$su|$c",
            s"""(subtype = '$su' AND "class" = '$c')""")
        // both UNION ALL branches must emit the SAME column order (DuckDB
        // matches union columns by position): one canonical order, live
        // columns pivoted, the other release's columns FALSE
        def sel(live: Set[String]): String =
          (three ++ two).map { case (n, e) =>
            if (live(n)) s"""$e AS "$n"""" else s"""FALSE AS "$n""""
          }.mkString(", ")
        s"""WITH $P, segs AS (
           |  SELECT page_id AS id,
           |    CASE WHEN page_id % 2 = 0 THEN 'road' ELSE 'rail' END AS subtype,
           |    'c' || CAST(page_id % 3 AS VARCHAR) AS "class",
           |    'sc' || CAST(page_id % 5 AS VARCHAR) AS subclass
           |  FROM pages
           |  WHERE lng > 10.00005 AND lng < 30.00005 AND lat > 20.00005 AND lat < 40.00005
           |)
           |SELECT id, 'new' AS release, ${sel(three.map(_._1).toSet)} FROM segs
           |UNION ALL
           |SELECT id, 'old' AS release, ${sel(two.map(_._1).toSet)} FROM segs
           |ORDER BY release, id""".stripMargin
      }),

    CatalogEntry("q_wide_poi", (s, d) => {
      // POI wide-form release parity e2e (reference wide_form.py:248-252,
      // 297-311, 412-436): the SAME synthetic places source converted
      // under a recent release (categories.primary, depth-1 → categories
      // grouped into hierarchy-prefix columns) and a pre-2024-07-22.0
      // release (categories.main, depth-2 → leaf columns), combined with
      // missing booleans coalesced to false
      val p = part(s, d)
      def src(primField: String) = p.select(
        col("p_partkey").cast("long").as("id"),
        when(col("p_partkey") % 11 === 0, lit(null))
          .otherwise(struct(
            concat(lit("cat"), (col("p_partkey") % 7).cast("string")).as(primField),
            array(concat(lit("cat"), ((col("p_partkey") * 3 + 1) % 7).cast("string")))
              .as("alternate")))
          .as("categories"),
        ((col("p_partkey") % 100) / lit(100.0)).as("confidence"))
      val newDef = WideFormRegistry.definition("places", "place", "2024-09-18.0")
        .asInstanceOf[PoiWideForm].copy(hierarchy = PoiFixtureHierarchy)
      val oldDef = WideFormRegistry.definition("places", "place", "2024-06-13-beta.0")
        .asInstanceOf[PoiWideForm].copy(hierarchy = PoiFixtureHierarchy)
      val a = newDef.pivot(src(newDef.primaryField), Seq("id"), Some(1))
        .withColumn("release", lit("new"))
      val b = oldDef.pivot(src(oldDef.primaryField), Seq("id"), Some(2))
        .withColumn("release", lit("old"))
      WideForm.combineWide(Seq(a, b), Set("id", "release"))
        .orderBy(col("release"), col("id"))
    },
      // the observed vocabulary is all 7 categories (every
      // residue mod 7 survives the quality filter at sf ≥ 0.001), so both
      // releases' column sets are known at SQL-build time; missing columns
      // are FALSE, mirroring combineWide's coalesce.
      {
        def cond(c: String) = s"(prim = '$c' OR alt = '$c')"
        // depth-1 (new release): grouped prefix columns; depth-2 (old): leaves
        val newCols = Seq(
          "places|place|cat4" -> cond("cat4"),
          "places|place|cat5" -> cond("cat5"),
          "places|place|cat6" -> cond("cat6"),
          "places|place|grp0" -> s"(${cond("cat0")} OR ${cond("cat2")})",
          "places|place|grp1" -> s"(${cond("cat1")} OR ${cond("cat3")})")
        val oldCols = Seq(
          "places|place|cat4" -> cond("cat4"),
          "places|place|cat5" -> cond("cat5"),
          "places|place|cat6" -> cond("cat6"),
          "places|place|grp0|cat0" -> cond("cat0"),
          "places|place|grp0|cat2" -> cond("cat2"),
          "places|place|grp1|cat1" -> cond("cat1"),
          "places|place|grp1|cat3" -> cond("cat3"))
        // one canonical column order across the UNION ALL branches (DuckDB
        // unions by position); the other release's columns are FALSE
        val allNames = (newCols ++ oldCols).map(_._1).distinct.sorted
        def sel(live: Map[String, String]): String =
          allNames.map(n => live.get(n).map(e => s"""$e AS "$n"""")
            .getOrElse(s"""FALSE AS "$n"""")).mkString(", ")
        s"""WITH src AS (
           |  SELECT p_partkey::BIGINT AS id,
           |         'cat' || CAST(p_partkey % 7 AS VARCHAR) AS prim,
           |         'cat' || CAST((p_partkey * 3 + 1) % 7 AS VARCHAR) AS alt
           |  FROM part
           |  WHERE p_partkey % 11 <> 0 AND (p_partkey % 100) / 100.0 >= 0.75
           |)
           |SELECT id, 'new' AS release, ${sel(newCols.toMap)} FROM src
           |UNION ALL
           |SELECT id, 'old' AS release, ${sel(oldCols.toMap)} FROM src
           |ORDER BY release, id""".stripMargin
      }),

    CatalogEntry("q_multi_convert", (s, d) => {
      // multi-(theme,type) orchestration e2e: two pairs, per-pair predicate
      // and projection, pentagon geometry filter, combined in input order
      val feats = pages(s, d)
        .withColumn("id", col("page_id").cast("string"))
        .withColumn("geometry", to_binary(lit("01"), lit("hex")))
        .withColumn("bbox", struct(col("lng").as("xmin"), col("lat").as("ymin"),
          col("lng").as("xmax"), col("lat").as("ymax")))
      val outs = MultiConvert.convertMultiple(
        Seq("web" -> "en", "web" -> "de"),
        source = (_, tpe) => feats.where(col("lang") === tpe),
        filterWkb = PentagonWkb,
        pyarrowFilters = Some(Seq(Some(Seq(Seq(("page_id", ">", 1000L)))), None)),
        columns = Some(Seq(Some(Seq("lat", "lng", "lang")), Some(Seq("lat", "lng", "lang")))))
      outs.zip(Seq("en", "de")).map { case (df, t) =>
        df.drop("geometry").withColumn("pair_type", lit(t))
      }.reduce(_.unionByName(_))
        .orderBy(col("pair_type"), col("id"))
    },
      s"""WITH $P, feats AS (
         |  SELECT page_id, CAST(page_id AS VARCHAR) AS id, lat, lng,
         |    ['en','de','pl','fr','ja'][CAST(page_id % 5 AS INT) + 1] AS lang
         |  FROM pages
         |)
         |SELECT lat, lng, lang, id, pair_type FROM (
         |  SELECT lat, lng, lang, id, 'en' AS pair_type FROM feats
         |  WHERE lang = 'en' AND $pentagonInteriorSql AND page_id > 1000
         |  UNION ALL
         |  SELECT lat, lng, lang, id, 'de' AS pair_type FROM feats
         |  WHERE lang = 'de' AND $pentagonInteriorSql
         |) ORDER BY pair_type, id""".stripMargin),

    CatalogEntry("q_nullstop_concat", (s, d) => {
      // F1 stop-at-first-NULL fold (nulls manufactured via nullif)
      part(s, d).select(col("p_partkey"),
        WideForm.nullStopConcat("|", Seq(
          col("p_brand"),
          nullif(col("p_type"), lit("ECONOMY")),
          col("p_name"))).as("wide_name"))
        .orderBy(col("p_partkey"))
    },
      """SELECT p_partkey,
        |  p_brand || CASE WHEN p_type = 'ECONOMY' THEN ''
        |                  ELSE '|' || p_type || '|' || p_name END AS wide_name
        |FROM part ORDER BY p_partkey""".stripMargin))
}
