package graft

import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.geo.Cell

/** The 100 TB file-layout story made concrete: pages stored hive-
  * partitioned by coarse cell prefix (the layout `SortedSink` +
  * `Checkpoint.stageByPartition` produce) let Catalyst prune PARTITIONS —
  * not just row groups — for any filter expressed on the prefix, so a
  * spatial query reads only the covered slice of a 10^12-row table. */
class LayoutPruningSpec extends SparkTestBase {
  import spark.implicits._

  test("cell-prefix partitioned layout: spatial filter prunes partitions in the plan") {
    val base = tmpPath("layout_pages")
    if (!new java.io.File(s"$base/_SUCCESS").exists()) {
      sources.DerivedTables.pages(spark, sfDir)
        .select($"page_id", $"lat", $"lng")
        .withColumn("prefix", cell_parent(cell_encode($"lat", $"lng", 8), 2))
        .write.mode("overwrite").partitionBy("prefix").parquet(base)
    }
    val table = spark.read.parquet(base)
    val nPartitions = table.select($"prefix").distinct().count()
    assert(nPartitions >= 4)

    // a bbox filter → driver-side cell cover at the layout's prefix res →
    // partition-pruning IN predicate (SURVEY §4: explicit in the builder)
    val cover = Cell.coverBBox(10.0, 20.0, 30.0, 40.0, 2)
    val pruned = table.where($"prefix".isin(cover.map(Long.box): _*))
      .where($"lng" > 10.0 && $"lng" < 30.0 && $"lat" > 20.0 && $"lat" < 40.0)

    val plan = pruned.queryExecution.executedPlan.toString
    // the prefix predicate must land in PartitionFilters (pruning at the
    // file-listing level), NOT as a post-scan filter
    assert(plan.contains("PartitionFilters: [") && plan.contains("prefix"), plan.take(2000))
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(scanned.contains("prefix"), scanned)

    // and correctness: identical rows to the unpartitioned filter
    val expected = sources.DerivedTables.pages(spark, sfDir)
      .where($"lng" > 10.0 && $"lng" < 30.0 && $"lat" > 20.0 && $"lat" < 40.0)
      .select($"page_id").as[Long].collect().toSet
    val got = pruned.select($"page_id").as[Long].collect().toSet
    assert(got == expected)
    assert(expected.nonEmpty)
  }
}
