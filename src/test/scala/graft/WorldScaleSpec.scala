package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Gazetteer, Pipeline, Reverse}
import graft.fixtures.{Synth, World}
import graft.geo.Geo
import graft.model.{Page, ReverseParams}

/** World-polygon-scale reverse path: multi-ring (holed) and concave
  * geometries through the ray-caster, and the cell-bucketed zero-exchange
  * SMJ flagship path, asserted equal to the broadcast path. */
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

  test("worldScaleLayout + geocodeWorldScaleRead == geocodePrepared, full rows") {
    val wh = Files.createTempDirectory("graft-ws").toString
    val gazRows = World.gazetteer()
    val idx = Gazetteer.nameIndex(Gazetteer.gazetteerDF(spark, gazRows))
    val polys = Gazetteer.polygonsDF(spark, World.polygons(filler = 60))
    val cells = Gazetteer.polygonCellIndex(polys)
    val scanner = Gazetteer.scanner(gazRows)
    // coordinate literals in the donut holes of fillers 2 and 5, on their
    // annuli, and outside every indexed cell
    val ts = new Timestamp(1767225600000L)
    val holed = Seq(
      "hole -23.500, -85.500 annulus -23.500, -85.300 nowhere 89.500, 179.500.",
      "hole 45.500, 25.500 annulus 45.650, 25.500 near Barcelona.")
      .zipWithIndex.map { case (t, i) =>
        Page(s"https://example.org/holed/$i", ts, Array.emptyByteArray, t, "en")
      }
    val pages = Synth.pages(spark, 2000, 8).toDF().unionByName(holed.toDS().toDF())
    val (mentionsTable, packedTable) = Pipeline.worldScaleLayout(spark, pages,
      polys, cells, scanner, wh, buckets = 8)

    def rows(df: DataFrame) =
      df.select("url", "text_sha256", "surface", "verb", "name", "ref_id", "lon", "lat",
        "formatted", "tile_z", "tile_x", "tile_y").collect().map(_.toString).sorted.toSeq

    Seq(Pipeline.Config(), Pipeline.Config(revParams = ReverseParams(language = Some("de"))))
      .foreach { cfg =>
        val world = Pipeline.geocodeWorldScaleRead(spark, mentionsTable, packedTable,
          idx, polys, cells, cfg)
        val plan = world.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(4000))
        // the reverse join key must never shuffle — the bucketed layout is the
        // exchange; the only Exchange allowed is the tiny broadcast-side top-1
        // name-index build (keyed by gaz_key)
        assert(!plan.contains("Exchange hashpartitioning(cell"),
          s"world-scale reverse join must not shuffle on cell:\n${plan.take(4000)}")
        assert(plan.contains("Bucketed: true"), plan.take(4000))

        val prep = Pipeline.prepare(idx, polys, cells, cfg)
        try assert(rows(world) === rows(Pipeline.geocodePrepared(spark, pages, prep, scanner, cfg)))
        finally prep.release()

        val holedHits = world.filter(col("url").startsWith("https://example.org/holed/") &&
            col("verb") === "reverse")
          .select("surface", "name").as[(String, String)].collect().toMap
        assert(holedHits === Map(
          "-23.500, -85.300" -> "Fillerland 2", "45.650, 25.500" -> "Fillerland 5"), cfg)
        assert(world.filter(col("verb") === "forward").count() > 0)
      }

    spark.sql(s"DROP TABLE IF EXISTS $mentionsTable")
    spark.sql(s"DROP TABLE IF EXISTS $packedTable")
  }
}
