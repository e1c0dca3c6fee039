package graft

import org.apache.spark.sql.functions._

/** CLI smoke surface: runs the flagship `SparkEntry.entry` pipeline and the
  * engine's own invariant probes (byte-identical text per url, projection
  * validation, empty-region schema stability) — the same checks the round
  * driver performs, runnable standalone via `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder("graft-smoke", LocalSession.cores()).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val e = SparkEntry.entry(spark).cache()
    println(s"ENTRY_ROWS=${e.count()}")
    e.show(3, false)

    // byte-identity invariant: sha256(text) per url unchanged through the join
    val in = sources.DerivedTables.pages(spark, SparkEntry.EntrySfDir)
      .select($"url", sha2($"text", 256).as("h_in"))
    val out = e.select($"url", sha2($"text", 256).as("h_out")).distinct()
    println("TEXT_HASH_MISMATCHES=" +
      out.join(in, "url").where($"h_in" =!= $"h_out").count())

    // projection validation error path (P4)
    val feats = sources.DerivedTables.pages(spark, SparkEntry.EntrySfDir)
      .withColumn("id", $"page_id".cast("string"))
      .withColumn("geometry", lit(Array[Byte](1)))
      .withColumn("bbox", struct($"lng".as("xmin"), $"lat".as("ymin"),
        $"lng".as("xmax"), $"lat".as("ymax")))
    try {
      operators.Pipeline.projectWithAutoKeys(feats, Seq("nonexistent_column"))
      println("PROBE_MISSING_COLUMN=NO_ERROR(BAD)")
    } catch {
      case ex: operators.Pipeline.MissingColumnError =>
        println(s"PROBE_MISSING_COLUMN=MissingColumnError: ${ex.getMessage}")
    }

    // empty-region schema stability (S9)
    val empty = operators.Pipeline.convertGeometry(feats,
      "POLYGON ((170.1 80.1, 170.2 80.1, 170.2 80.2, 170.1 80.2, 170.1 80.1))",
      columns = Some(Seq("lat", "lng", "lang")))
    println(s"EMPTY_ROWS=${empty.count()} SCHEMA=${empty.columns.mkString(",")}")

    // the flagship physical plan, for shuffle/pushdown review
    println("=== entry plan ===")
    println(e.queryExecution.executedPlan.toString.take(4000))
    spark.stop()
  }
}
