package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.sources.{DerivedTables, TableSource}

/** The parquet|iceberg source seam: one session conf flips every
  * table-resolution site. The Iceberg runtime is absent offline, so its
  * path is asserted up to the classpath boundary (the dispatch happens,
  * then Spark reports the missing data source — proving the read would
  * go through Iceberg on a cluster that has the jars). */
class TableSourceSpec extends SparkTestBase {

  test("default format is parquet and resolves base/name.parquet") {
    assert(TableSource.format(spark) == "parquet")
    assert(TableSource.resolve(spark, "/x", "lineitem") == "/x/lineitem.parquet")
    assert(DerivedTables.lineitem(spark, sfDir).count() > 0)
  }

  test("iceberg format dispatches to the iceberg data source (and resolves catalog names)") {
    spark.conf.set(TableSource.FormatKey, "iceberg")
    try {
      assert(TableSource.resolve(spark, "warehouse.cc", "pages") == "warehouse.cc.pages")
      // no Iceberg jars offline: the dispatch must reach Spark's source
      // lookup and fail THERE (not fall back to parquet silently)
      val e = intercept[Exception] { DerivedTables.lineitem(spark, sfDir).count() }
      val msg = (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")).toLowerCase
      assert(msg.contains("iceberg"), s"expected an iceberg source-lookup failure, got: $msg")
    } finally spark.conf.set(TableSource.FormatKey, "parquet")
  }

  test("unknown format fails loudly") {
    spark.conf.set(TableSource.FormatKey, "orc")
    try {
      val e = intercept[IllegalArgumentException] {
        TableSource.read(spark, "/x")
      }
      assert(e.getMessage.contains("parquet or iceberg"))
    } finally spark.conf.set(TableSource.FormatKey, "parquet")
  }

  test("a parquet table's schema comes from its footer: Spark's schema, and no job") {
    val tables = new java.io.File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    assert(tables.length >= 10, tables.mkString(", "))
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try tables.foreach { t =>
      GraftListenerBus.drain(spark.sparkContext)
      jobs.set(0)
      val schema = TableSource.table(spark, sfDir, t).schema
      GraftListenerBus.drain(spark.sparkContext)
      assert(jobs.get == 0, s"building $t submitted ${jobs.get} job(s)")
      assert(schema == spark.read.parquet(s"$sfDir/$t.parquet").schema, t)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
