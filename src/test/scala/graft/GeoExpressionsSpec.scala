package graft

import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.geo.{Cell, Geo, Hilbert, Tile, Wkt}

class GeoExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("cell_encode matches scalar impl across random points (codegen path)") {
    val pts = (1 to 2000).map { i =>
      val lat = -89.0 + (i * 7919 % 17800) / 100.0
      val lng = -179.0 + (i * 104729 % 35800) / 100.0
      (lat, lng)
    }
    val df = pts.toDF("lat", "lng")
      .withColumn("cell", cell_encode($"lat", $"lng", 12))
      .withColumn("parent", cell_parent($"cell", 5))
    val rows = df.collect()
    rows.zip(pts).foreach { case (r, (lat, lng)) =>
      assert(r.getLong(2) == Cell.encode(lat, lng, 12))
      assert(r.getLong(3) == Cell.encode(lat, lng, 5))
    }
  }

  test("ray_cast_contains over WKB column") {
    val tri = Wkt.parse("POLYGON ((0 0, 10 0, 5 8, 0 0))")
    val df = Seq((5.0, 2.0), (9.0, 7.0), (0.1, 0.05)).toDF("x", "y")
      .withColumn("geom", lit(tri))
      .withColumn("inside", ray_cast_contains($"geom", $"x", $"y"))
    val got = df.select("inside").as[Boolean].collect().toSeq
    assert(got == Seq(true, false, true))
  }

  test("tile_x/tile_y and haversine_m agree with scalar impls") {
    val df = Seq((51.5, -0.1), (43.73, 7.42), (-33.86, 151.2)).toDF("lat", "lng")
      .withColumn("tx", tile_x($"lng", 10))
      .withColumn("ty", tile_y($"lat", 10))
      .withColumn("d", haversine_m($"lat", $"lng", lit(0.0), lit(0.0)))
    df.collect().foreach { r =>
      val lat = r.getDouble(0); val lng = r.getDouble(1)
      assert(r.getLong(2) == Tile.tileX(lng, 10))
      assert(r.getLong(3) == Tile.tileY(lat, 10))
      assert(r.getDouble(4) == Geo.haversineM(lat, lng, 0.0, 0.0))
    }
  }

  test("cell_kring explodes to the scalar k-ring") {
    val df = Seq((43.73, 7.42)).toDF("lat", "lng")
      .withColumn("cell", cell_encode($"lat", $"lng", 10))
      .select(explode(cell_kring($"cell", 1)).as("n"))
    val got = df.as[Long].collect().toSet
    assert(got == Cell.kRing(Cell.encode(43.73, 7.42, 10), 1).toSet)
  }

  test("hilbert_index is consistent and plan stays in whole-stage codegen") {
    val df = Seq((43.731, 7.417), (43.732, 7.418)).toDF("lat", "lng")
      .withColumn("h", hilbert_index($"lat", $"lng", 7.0, 43.0, 8.0, 44.0, 16))
    df.collect().foreach { r =>
      assert(r.getLong(2) == Hilbert.index(r.getDouble(0), r.getDouble(1), 7.0, 43.0, 8.0, 44.0, 16))
    }
    // all geo expressions must stay inside WholeStageCodegen (no fallback)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(($"l_quantity" / 100.0).as("lat"), ($"l_discount" * 100.0).as("lng"))
    val plan = li
      .withColumn("c", cell_encode($"lat", $"lng", 10))
      .withColumn("t", tile_x($"lng", 8))
      .withColumn("h", hilbert_index($"lat", $"lng", 0, 0, 1, 1, 8))
      .queryExecution.executedPlan.toString
    // "*(1)" prefix = operators fused into WholeStageCodegen stage 1
    assert(plan.contains("*(1) Project"), plan)
    assert(!plan.contains("Fallback"), plan)
  }
}
