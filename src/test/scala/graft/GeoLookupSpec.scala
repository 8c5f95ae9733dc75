package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Checkpoint, Forward, Gazetteer, GeoLookup, Pipeline, Reverse, Tiler}
import graft.etl.Extract
import graft.fixtures.{Synth, World}
import graft.functions.GeoFunctions
import graft.geo.CellIndex
import graft.model.{AdminPolygon, Bounds, ForwardParams, Page, ReverseParams}

/** The broadcast lookups of `Pipeline.prepare` against the join form they
  * replace: `Reverse.bestPolygon` over `Reverse.packedCellIndex`, the top-1
  * broadcast join, and the unfused `Forward.geocodeMentions` +
  * `Reverse.reverse` verbs. */
class GeoLookupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def square(id: Long, name: String, level: Int,
                     lon0: Double, lat0: Double, d: Double): AdminPolygon =
    World.ringsPoly(id, name, level, "it",
      Seq((Seq(lon0, lon0 + d, lon0 + d, lon0), Seq(lat0, lat0, lat0 + d, lat0 + d))),
      city = name, country = "Italy")

  // two overlapping squares that tie on admin_level (the lower id must win
  // where they overlap; listed high id first so input order cannot decide),
  // and a more specific square over both
  private val ties = Seq(
    square(9102, "TieHigh", 4, 10.25, 45.25, 0.5),
    square(9101, "TieLow", 4, 10.0, 45.0, 0.5),
    square(9103, "Core", 6, 10.375, 45.375, 0.25))

  private val polyRows = World.polygons(filler = 30) ++ ties
  lazy val polys = Gazetteer.polygonsDF(spark, polyRows).cache()
  lazy val cells = Gazetteer.polygonCellIndex(polys).cache()
  lazy val gazRows = World.gazetteer()
  lazy val idx = Gazetteer.nameIndex(Gazetteer.gazetteerDF(spark, gazRows)).cache()
  lazy val scanner = Gazetteer.scanner(gazRows)

  /** Every ring vertex and edge midpoint of every polygon. */
  private lazy val boundaryPoints: Seq[(Double, Double)] = polyRows.flatMap { p =>
    val offs = p.ring_offsets
    offs.indices.dropRight(1).flatMap { r =>
      (offs(r) until offs(r + 1)).flatMap { i =>
        val j = if (i + 1 == offs(r + 1)) offs(r) else i + 1
        Seq((p.ring_lons(i), p.ring_lats(i)),
          ((p.ring_lons(i) + p.ring_lons(j)) / 2, (p.ring_lats(i) + p.ring_lats(j)) / 2))
      }
    }
  }

  /** polygon_id the join form picks for each (query_id, lon, lat). */
  private def joinBest(pts: DataFrame): Map[Long, Option[Long]] =
    pts.withColumn("cell", GeoFunctions.cellId(col("lon"), col("lat"), lit(CellIndex.FineLevel)))
      .join(broadcast(Reverse.packedCellIndex(polys, cells)), Seq("cell"), "left")
      .select(col("query_id"),
        Reverse.bestPolygon(col("cands"), col("lon"), col("lat")).getField("polygon_id"))
      .as[(Long, Option[Long])].collect().toMap

  private def lookupBest(lookup: GeoLookup, pts: Seq[(Long, java.lang.Double, java.lang.Double)]) =
    pts.map { case (q, lon, lat) => q -> Option(lookup.reverse(lon, lat)).map(_.polygon_id) }.toMap

  test("reverse lookup equals bestPolygon on holes, ring vertices and edges, ties, misses, nulls") {
    val lookup = Pipeline.prepare(idx, polys, cells).lookup.value
    val scatter = (0 until 3000).map { i =>
      (-160.0 + (i * 37 % 320) + (i % 100) / 100.0, -70.0 + (i * 23 % 140) + (i % 77) / 77.0)
    }
    val tieGrid = for (a <- 0 to 24; b <- 0 to 24) yield (9.95 + a * 0.0375, 44.95 + b * 0.0375)
    val outside = Seq((179.5, 89.5), (0.0, 0.0), (-10.0, -80.0))
    val pts: Seq[(Long, java.lang.Double, java.lang.Double)] =
      (scatter ++ boundaryPoints ++ tieGrid ++ outside).zipWithIndex.map {
        case ((lon, lat), i) => (i.toLong, Double.box(lon), Double.box(lat))
      } ++ Seq((-1L, null, Double.box(45.3)), (-2L, Double.box(10.3), null), (-3L, null, null))
    val want = joinBest(pts.toDF("query_id", "lon", "lat"))
    val got = lookupBest(lookup, pts)
    assert(got === want)
    // the cases are really exercised
    val hits = want.values.flatten.toSet
    assert(Set(9101L, 9102L, 9103L).subsetOf(hits), hits)
    assert(want.count(_._2.isEmpty) > 100)
    assert(want(-1L).isEmpty && want(-3L).isEmpty)
    // a donut hole: filler 2 is centred at (-85.5, -23.5) with a 0.1 x 0.07 hole
    assert(lookup.reverse(-85.5, -23.5) === null)
    assert(lookup.reverse(-85.3, -23.5).polygon_id === 6002L)
    assert(lookup.reverse(10.3, 45.3).polygon_id === 9101L)
    assert(lookup.reverse(10.5, 45.5).polygon_id === 9103L)
  }

  test("property: the lookup's best polygon equals bestPolygon on random points") {
    val lookup = Pipeline.prepare(idx, polys, cells).lookup.value
    val near = for {
      p <- Gen.oneOf(polyRows)
      u <- Gen.choose(-0.1, 1.1)
      v <- Gen.choose(-0.1, 1.1)
    } yield (p.min_lon + u * (p.max_lon - p.min_lon), p.min_lat + v * (p.max_lat - p.min_lat))
    val gen = Gen.frequency(
      6 -> near,
      2 -> Gen.oneOf(boundaryPoints),
      1 -> Gen.zip(Gen.choose(-179.9, 179.9), Gen.choose(-84.9, 84.9)))
    val pts = (0 until 500).map { i =>
      val (lon, lat) = gen(Gen.Parameters.default, Seed(7L + i)).getOrElse(fail(s"gen failed at $i"))
      (i.toLong, Double.box(lon), Double.box(lat))
    }
    val want = joinBest(pts.toDF("query_id", "lon", "lat"))
    assert(lookupBest(lookup, pts) === want)
    assert(want.values.count(_.isDefined) > 100)
  }

  test("forward and reverse UDFs equal the join form on null norm/lon/lat") {
    val prep = Pipeline.prepare(idx, polys, cells)
    val m = Seq[(Long, String, java.lang.Double, java.lang.Double)](
      (1L, "barcelona", null, null), (2L, "schwabing", null, null),
      (3L, "nowhereville", null, null), (4L, null, null, null),
      (5L, null, 10.3, 45.3), (6L, null, null, 45.3), (7L, null, 10.3, null),
      (8L, null, 179.5, 89.5))
      .toDF("id", "norm", "lon", "lat")
    val viaUdf = m.select(col("id"),
        GeoLookup.forwardUdf(prep.lookup)(col("norm")).getField("g_place_id"),
        GeoLookup.reverseUdf(prep.lookup)(col("lon"), col("lat")).getField("polygon_id"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    val viaJoin = m.join(broadcast(prep.top1), m("norm") === prep.top1("gaz_key"), "left")
      .withColumn("cell", GeoFunctions.cellId(col("lon"), col("lat"), lit(CellIndex.FineLevel)))
      .join(broadcast(prep.packed), Seq("cell"), "left")
      .select(col("id"), col("g_place_id"),
        Reverse.bestPolygon(col("cands"), col("lon"), col("lat")).getField("polygon_id"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    assert(viaUdf === viaJoin)
    assert(viaUdf.map(_._2).flatten.size === 2)
    assert(viaUdf.map(_._3).flatten === Seq(9101L))
  }

  // ---- full output rows ------------------------------------------------------

  /** Synth pages plus pages whose coordinate literals sit on tie-polygon
    * vertices and edges, inside a donut hole, and outside every indexed
    * cell, and whose names miss the gazetteer. */
  private lazy val pages: DataFrame = {
    val ts = new Timestamp(1767225600000L)
    val texts = Seq(
      "vertex 45.500, 10.500 and edge 45.250, 10.000 and corner 45.000, 10.000.",
      "overlap 45.400, 10.300 core 45.500, 10.450 edge 45.750, 10.500 top 45.750, 10.750.",
      "hole -23.500, -85.500 annulus -23.500, -85.300 nowhere 89.500, 179.500.",
      "near Nowhereville, then Schwabing, München and 45.625, 10.125 in Barcelona.")
    val extra = texts.zipWithIndex.map { case (t, i) =>
      Page(s"https://example.org/edge/$i", ts, Array.emptyByteArray, t, "en")
    }
    Synth.pages(spark, 400, 4).toDF().unionByName(extra.toDS().toDF())
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("url", "warc_ts", "lang", "text_sha256", "surface", "verb", "name",
      "ref_id", "lon", "lat", "formatted", "tile_z", "tile_x", "tile_y")
      .collect().map(_.toString).sorted.toSeq

  /** The unfused verb path over the same pages, in the fused row shape. */
  private def unfused(cfg: Pipeline.Config): DataFrame = {
    val m = Extract.mentions(spark, pages, scanner)
    val cols = Seq("url", "warc_ts", "lang", "text_sha256", "surface", "verb", "name",
      "ref_id", "lon", "lat", "formatted")
    val fwd = Forward.geocodeMentions(m.filter(col("kind") === "name"), idx, cfg.fwdParams)
      .withColumn("verb", lit("forward")).withColumn("ref_id", col("place_id"))
      .select(cols.map(col): _*)
    val pts = m.filter(col("kind") === "coord")
      .withColumn("query_id", xxhash64(col("url"), col("surface")))
    val rev = Reverse.reverse(pts, polys, cells, cfg.revParams)
      .filter(col("polygon_id").isNotNull)
      .withColumn("verb", lit("reverse")).withColumn("ref_id", col("polygon_id"))
      .select(cols.map(col): _*)
    Tiler.assign(fwd.unionByName(rev), cfg.tileZ)
  }

  /** Two fused runs — plain, and checkpointed (cold, then resumed from the
    * checkpoint) — against each other and against the unfused verbs. */
  private def checkConfig(cfg: Pipeline.Config): Seq[String] = {
    val prep = Pipeline.prepare(idx, polys, cells, cfg)
    try {
      val prepared = Pipeline.geocodePrepared(spark, pages, prep, scanner, cfg)
      val a = rows(prepared)
      val dir = Files.createTempDirectory("graft-lookup-ckpt").toString
      Seq("cold", "resume").foreach { runId =>
        val ckpt = cfg.copy(ckptDir = Some(dir), runId = runId)
        assert(a === rows(Pipeline.geocodePrepared(spark, pages, prep, scanner, ckpt)), runId)
      }
      assert(Checkpoint.metrics(spark, dir).select("stage", "run_id", "resumed").distinct()
        .as[(String, String, Boolean)].collect().toSet === (for {
          stage <- Set("mentions", "hits"); (runId, resumed) <- Set(("cold", false), ("resume", true))
        } yield (stage, runId, resumed)))
      assert(a === rows(unfused(cfg)))
      assert(a.nonEmpty)
      a
    } finally prep.release()
  }

  test("geocodePrepared == geocode == unfused verbs, full rows, default config") {
    val a = checkConfig(Pipeline.Config())
    Seq("TieLow", "Core", "Fillerland 2", "Carrer de Calatrava 64").foreach { n =>
      assert(a.exists(_.contains(s",reverse,$n,")), n)
    }
    // the donut hole and the unindexed point resolve to nothing
    assert(!a.exists(r => r.contains(",-85.5,-23.5,") || r.contains(",179.5,89.5,")))
  }

  test("geocodePrepared == geocode == unfused verbs with countrycode + viewbox filters") {
    val cfg = Pipeline.Config(fwdParams = ForwardParams(limit = Some(1),
      countrycode = Some("de"), viewbox = Some(Bounds(5.0, 45.0, 15.0, 55.0))))
    val a = checkConfig(cfg)
    val forward = a.filter(_.contains(",forward,"))
    assert(forward.nonEmpty)
    assert(forward.forall(r => r.contains("Schwabing") || r.contains("Moabit")), forward.take(5))
  }

  test("geocodePrepared == geocode == unfused verbs with revParams.language = de") {
    val a = checkConfig(Pipeline.Config(revParams = ReverseParams(language = Some("de"))))
    assert(a.exists(r => r.contains(",reverse,") && r.contains("München")))
    // forward rows format in fwdParams.language, which is unset here
    assert(!a.exists(r => r.contains(",forward,") && r.contains("Deutschland")))
  }

  test("geocodePrepared == geocode == unfused verbs with fwdParams and revParams language = de") {
    val a = checkConfig(Pipeline.Config(
      fwdParams = ForwardParams(limit = Some(1), language = Some("de")),
      revParams = ReverseParams(language = Some("de"))))
    assert(a.exists(r => r.contains(",forward,") && r.contains("Deutschland")))
    assert(a.exists(r => r.contains(",reverse,") && r.contains("München")))
  }

  test("release destroys the broadcast: a later batch fails loudly") {
    val prep = Pipeline.prepare(idx, polys, cells)
    val df = Pipeline.geocodePrepared(spark, pages, prep, scanner)
    assert(df.count() > 0)
    // prepare caches nothing: the broadcast is all there is to release
    assert(prep.top1.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    prep.release()
    intercept[Exception](Pipeline.geocodePrepared(spark, pages, prep, scanner).count())
  }

  test("a batch is one map stage: no join and no broadcast exchange") {
    val prep = Pipeline.prepare(idx, polys, cells)
    try {
      val plan = Pipeline.geocodePrepared(spark, pages, prep, scanner)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), plan)
      assert(!plan.contains("BroadcastExchange"), plan)
      assert(!plan.contains("Exchange"), plan)
    } finally prep.release()
  }
}
