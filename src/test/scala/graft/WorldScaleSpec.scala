package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Gazetteer, Pipeline, Reverse}
import graft.fixtures.{Synth, World}
import graft.geo.Geo
import graft.model.ReverseParams

/** World-polygon-scale reverse path: multi-ring (holed) and concave
  * geometries through the ray-caster, and the cell-bucketed zero-exchange
  * SMJ flagship variant, asserted equal to the broadcast path. */
class WorldScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- ray-cast geometry: holes and concavity --------------------------------

  test("rayCast: donut hole is outside, annulus is inside (even-odd)") {
    // outer [0,4]^2, hole [1,3]^2
    val offsets = Array(0, 4, 8)
    val lons = Array(0.0, 4.0, 4.0, 0.0, 1.0, 3.0, 3.0, 1.0)
    val lats = Array(0.0, 0.0, 4.0, 4.0, 1.0, 1.0, 3.0, 3.0)
    assert(!Geo.rayCast(2.0, 2.0, offsets, lons, lats))  // hole center
    assert(Geo.rayCast(0.5, 2.0, offsets, lons, lats))   // annulus W
    assert(Geo.rayCast(3.5, 3.5, offsets, lons, lats))   // annulus NE
    assert(!Geo.rayCast(5.0, 2.0, offsets, lons, lats))  // outside
    assert(!Geo.rayCast(2.0, 2.9, offsets, lons, lats))  // still in hole
    assert(Geo.rayCast(2.0, 3.5, offsets, lons, lats))   // annulus N
  }

  test("rayCast: concave L-shape — notch is outside, both arms inside") {
    // L: (0,0)-(2,0)-(2,1)-(1,1)-(1,2)-(0,2), CCW
    val offsets = Array(0, 6)
    val lons = Array(0.0, 2.0, 2.0, 1.0, 1.0, 0.0)
    val lats = Array(0.0, 0.0, 1.0, 1.0, 2.0, 2.0)
    assert(Geo.rayCast(1.5, 0.5, offsets, lons, lats))   // horizontal arm
    assert(Geo.rayCast(0.5, 1.5, offsets, lons, lats))   // vertical arm
    assert(Geo.rayCast(0.5, 0.5, offsets, lons, lats))   // corner block
    assert(!Geo.rayCast(1.5, 1.5, offsets, lons, lats))  // the notch
    assert(!Geo.rayCast(2.5, 0.5, offsets, lons, lats))  // outside E
  }

  test("reverse resolves a hole point to the enclosing polygon, not the donut") {
    val donut = World.ringsPoly(9001, "Donutland", 8, "es", Seq(
      (Seq(2.0, 2.4, 2.4, 2.0), Seq(41.0, 41.0, 41.4, 41.4)),
      (Seq(2.15, 2.25, 2.25, 2.15), Seq(41.15, 41.15, 41.25, 41.25))),
      city = "Donut", country = "Spain")
    val region = World.ringsPoly(9002, "Bigregion", 4, "es", Seq(
      (Seq(1.5, 3.0, 3.0, 1.5), Seq(40.5, 42.0, 42.0, 40.5).sorted match {
        case s => Seq(40.5, 40.5, 42.0, 42.0) })),
      city = "Region", country = "Spain")
    val polys = Gazetteer.polygonsDF(spark, Seq(donut, region))
    val cells = Gazetteer.polygonCellIndex(polys)
    val pts = Seq(
      (1L, 2.2, 41.2),   // in the hole -> Bigregion only
      (2L, 2.05, 41.2),  // annulus -> Donutland (more specific)
      (3L, 2.9, 41.9))   // region only
      .toDF("query_id", "lon", "lat")
    val r = Reverse.reverse(pts, polys, cells, ReverseParams())
      .select("query_id", "name").as[(Long, String)].collect().toMap
    assert(r(1L) === "Bigregion")
    assert(r(2L) === "Donutland")
    assert(r(3L) === "Bigregion")
  }

  // ---- flagship world-scale variant -------------------------------------------

  test("geocodeWorldScale: zero-exchange bucketed SMJ, equal to broadcast path") {
    val wh = Files.createTempDirectory("graft-ws").toString
    val gazRows = World.gazetteer()
    val idx = Gazetteer.nameIndex(Gazetteer.gazetteerDF(spark, gazRows))
    val polys = Gazetteer.polygonsDF(spark, World.polygons(filler = 60))
    val cells = Gazetteer.polygonCellIndex(polys)
    val scanner = Gazetteer.scanner(gazRows)
    val pages = Synth.pages(spark, 2000, 8).toDF()

    val base = Pipeline.geocode(spark, pages, idx, polys, cells, scanner)
    val world = Pipeline.geocodeWorldScale(spark, pages, idx, polys, cells,
      scanner, wh, buckets = 8)

    val plan = world.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(4000))
    // the reverse join key must never shuffle — the bucketed layout is the
    // exchange; the only Exchange allowed is the tiny broadcast-side top-1
    // name-index build (keyed by gaz_key)
    assert(!plan.contains("Exchange hashpartitioning(cell"),
      s"world-scale reverse join must not shuffle on cell:\n${plan.take(4000)}")
    assert(plan.contains("Bucketed: true"), plan.take(4000))

    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "surface", "verb", "ref_id", "tile_x", "tile_y")
        .collect().map(_.toString).sorted.toSeq
    assert(key(world) === key(base))
    assert(world.count() > 0)

    spark.sql("DROP TABLE IF EXISTS graft_mentions_bucketed_run")
    spark.sql("DROP TABLE IF EXISTS graft_polycells_bucketed_run")
  }

  test("geocodePrepared (steady-state indexes) equals geocode exactly") {
    val gazRows = World.gazetteer()
    val idx = Gazetteer.nameIndex(Gazetteer.gazetteerDF(spark, gazRows))
    val polys = Gazetteer.polygonsDF(spark)
    val cells = Gazetteer.polygonCellIndex(polys)
    val scanner = Gazetteer.scanner(gazRows)
    val pages = Synth.pages(spark, 1500, 4).toDF()
    val prep = Pipeline.prepare(idx, polys, cells)
    val a = Pipeline.geocode(spark, pages, idx, polys, cells, scanner)
      .collect().map(_.toString).sorted.toSeq
    val b = Pipeline.geocodePrepared(spark, pages, prep, scanner)
      .collect().map(_.toString).sorted.toSeq
    assert(a === b)
    assert(a.nonEmpty)
    prep.release()
  }

  test("reverseBucketed equals broadcast reverse on holed filler polygons") {
    val wh = Files.createTempDirectory("graft-rb").toString
    val polys = Gazetteer.polygonsDF(spark, World.polygons(filler = 30))
    val cells = Gazetteer.polygonCellIndex(polys)
    // points scattered over filler territory, including donut holes
    val pts = spark.range(0, 3000).select(col("id").as("query_id"),
      ((col("id") * 37 % 320) - 160 + (col("id") % 100) / lit(100.0)).as("lon"),
      ((col("id") * 23 % 140) - 70 + (col("id") % 77) / lit(77.0)).as("lat"))
    val base = Reverse.reverse(pts, polys, cells, ReverseParams())
      .select("query_id", "polygon_id", "geocode_status")
    Reverse.writePackedBucketed(spark, polys, cells,
      "graft_rb_packed", s"$wh/packed", 8)
    spark.sql("DROP TABLE IF EXISTS graft_rb_points")
    pts.withColumn("cell", graft.functions.GeoFunctions.cellId(col("lon"), col("lat"),
        lit(graft.geo.CellIndex.FineLevel)))
      .write.bucketBy(8, "cell").sortBy("cell")
      .option("path", s"$wh/points").mode("overwrite").saveAsTable("graft_rb_points")
    val bucketed = Reverse.reverseBucketed(spark, "graft_rb_points", "graft_rb_packed")
      .select("query_id", "polygon_id", "geocode_status")
    assert(bucketed.collect().map(_.toString).sorted.toSeq ===
      base.collect().map(_.toString).sorted.toSeq)
    spark.sql("DROP TABLE IF EXISTS graft_rb_points")
    spark.sql("DROP TABLE IF EXISTS graft_rb_packed")
  }
}
