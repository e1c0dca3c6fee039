package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One catalog query: its name, the Spark plan that answers it over a
  * scale-factor directory, and the DuckDB-portable ANSI SQL that must give
  * identical rows (identical column names, deterministic ORDER BY). The type
  * is the registration point: no query can exist without its oracle.
  *
  * Oracle-portability rules used throughout (see sources/DerivedTables):
  * integer arithmetic + IEEE doubles with identical expression shape on
  * both sides; money sums as exact integer cents; boundaries offset off
  * the coordinate grid so strict/closed predicate differences can't bite.
  */
final case class CatalogEntry(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Every family's entries, in family order. A family object declares its
  * helper vals above its `entries` val: one declared below is still null
  * when the entries are built, and an oracle interpolating it reads "null".
  * No family refers to `graft.SparkEntry`, whose views are built from here. */
object Catalog {
  val entries: Seq[CatalogEntry] =
    RelationalQueries.entries ++ SpatialQueries.entries ++ MediaQueries.entries ++
      CorpusQueries.entries ++ EmbeddingQueries.entries ++ EventQueries.entries
}

/** Result helpers that more than one query family uses. */
private[catalog] object Results {

  /** exact money-cents: round(x*100) as long — same on both engines */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** `df` in the deterministic total order of `keys`: the same rows in the
    * same order as `orderBy(keys)`, which the oracle compares against.
    *
    *  - A plain `orderBy` makes the range partitioner SAMPLE its child, so
    *    the child runs once for the sampling pass and again for the output
    *    pass, for an order that exists only for determinism. The lazy local
    *    checkpoint lets both passes read the same blocks, so the child (an
    *    exact-verify join, a codec, a label join) runs once.
    *  - The partition count is pinned (`defaultParallelism`) because AQE
    *    coalesces a small range shuffle to ONE partition, and a projection
    *    kept above this helper would then run single-threaded (measured on
    *    d_c4_filter: 5.8 s coalesced vs ~1 s wide). AQE honours explicit
    *    repartition counts. So an expensive per-row projection goes ABOVE
    *    the helper and runs once, in parallel, over sorted narrow rows.
    *
    * Range partitions come out in key order and rows are sorted within
    * each, so the global order equals `orderBy(keys)` only when the keys
    * are unique, as every catalog sort key is. Under AQE the checkpoint
    * runs the child's shuffle stages when the query is built. Its blocks
    * are not in the `CacheManager`; the ContextCleaner frees them once the
    * result is unreachable. */
  def sortedResult(df: DataFrame, keys: Column*): DataFrame =
    df.localCheckpoint(eager = false)
      .repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
      .sortWithinPartitions(keys: _*)
}
