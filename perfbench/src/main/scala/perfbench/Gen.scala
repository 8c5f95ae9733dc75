package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fixtures.{Synth, World}
import graft.model.Page

/**
 * The benchmark's seeded input generator. A page is a pure function of
 * (shape, seed, row id), so the same seed gives the same table whatever the
 * partitioning. The 13 reference fixture pages (`Synth.fixtureTexts`) are
 * part of every table, so every batch can be checked against the committed
 * golden rows.
 *
 * Pages are shaped like `Synth.pageFor`: sentence blocks of 12-25 filler
 * words, some ending in a place-name mention or a coordinate literal.
 *  - text length: `minBlocks`..`maxBlocks` blocks (4-11: 0.5-1.5 KB);
 *  - `nameRate` / `coordRate`: share of blocks with a name / a coordinate;
 *  - `missNameShare`: names not in the gazetteer; 5% are fixture names, the
 *    rest filler gazetteer names;
 *  - `hotShare`: coordinates on five hot fixture anchors (skew);
 *  - `outsideShare`: coordinates on the integer lon/lat grid, outside every
 *    polygon (filler quads are centred on half-degrees, half-widths
 *    0.3 x 0.2); the rest fall inside a filler polygon, where donut holes
 *    give real reverse misses.
 */
final case class Shape(
    pages: Int,
    files: Int,
    minBlocks: Int = 4,
    maxBlocks: Int = 11,
    nameRate: Double = 0.25,
    coordRate: Double = 0.125,
    missNameShare: Double = 0.1,
    hotShare: Double = 0.3,
    outsideShare: Double = 0.3,
    gazFiller: Int = 10000,
    polygons: Int = 25) {
  def describe: String =
    s"$pages pages of $minBlocks-$maxBlocks blocks, name rate $nameRate (misses $missNameShare), " +
      s"coord rate $coordRate (hot $hotShare, outside $outsideShare), " +
      s"$gazFiller filler names, $polygons filler polygons"
}

object Gen {
  /** Bumped whenever the generated content changes, so cached tables of an
    * older generator are never read. */
  private val Version = "gen-v2"

  private val Anchors = Array((2.12870, 41.40139), (7.451352119445801, 46.92793655395508),
    (11.5884858, 48.1700887), (13.34, 52.53), (-0.1361, 51.5215))

  private val FixtureNames = Array("Schwabing, München", "Moabit, Berlin",
    "Barcelona", "Carrer de Calatrava 64, Barcelona",
    "Seftigenstrasse 264, 3084 Wabern", "UCL Centre for Advanced Spatial Analysis")

  private val Langs = Array("de", "es", "en", "fr", "it")

  private val Words = Array("the", "quick", "analysis", "page", "crawl", "web",
    "data", "spatial", "join", "index", "cell", "tile", "batch", "report",
    "street", "city", "map", "river", "route", "survey")

  def fingerprint(shape: Shape): String =
    java.lang.Long.toHexString(graft.text.TextCore.fnv64(
      Version + "|" + shape + "|" + Synth.fixtureTexts.mkString("\n")))

  /** splitmix64 over (seed, row, draw). */
  private def mix(seed: Long, id: Long, k: Long): Long = {
    var z = seed * 0xD1B54A32D192ED03L + id * 0x9E3779B97F4A7C15L + k * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(seed: Long, id: Long, k: Long): Double =
    (mix(seed, id, k) >>> 11) * (1.0 / (1L << 53))

  private def below(seed: Long, id: Long, k: Long, n: Int): Int =
    (unit(seed, id, k) * n).toInt

  private def fmt5(sb: java.lang.StringBuilder, v: Double): Unit = {
    val scaled = math.round(math.abs(v) * 100000.0)
    if (v < 0 && scaled != 0) sb.append('-')
    sb.append(scaled / 100000L).append('.')
    val fp = (scaled % 100000L).toString
    var pad = 5 - fp.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(fp)
  }

  /** Polygon centres of World.fillerPolygons, read off their bounding boxes. */
  def polygonCentres(n: Int): Array[(Double, Double)] =
    World.fillerPolygons(n).map(p =>
      ((p.min_lon + p.max_lon) / 2, (p.min_lat + p.max_lat) / 2)).toArray

  private def pageText(s: Shape, seed: Long, id: Long,
                       centres: Array[(Double, Double)]): String = {
    val sb = new java.lang.StringBuilder(1600)
    val blocks = s.minBlocks + below(seed, id, 1, s.maxBlocks - s.minBlocks + 1)
    var b = 0
    while (b < blocks) {
      val k = 10L + b * 100
      val nWords = 12 + below(seed, id, k, 14)
      var w = 0
      while (w < nWords) {
        sb.append(Words(below(seed, id, k + 10 + w, Words.length))).append(' ')
        w += 1
      }
      val r = unit(seed, id, k + 1)
      if (r < s.nameRate) {
        val u = unit(seed, id, k + 2)
        sb.append("near ")
        if (u < s.missNameShare) sb.append("Nowhere ").append(below(seed, id, k + 3, 100000))
        else if (u < s.missNameShare + 0.05)
          sb.append(FixtureNames(below(seed, id, k + 3, FixtureNames.length)))
        else sb.append("Fillerton ").append(below(seed, id, k + 3, s.gazFiller))
      } else if (r < s.nameRate + s.coordRate) {
        val u = unit(seed, id, k + 2)
        val jx = unit(seed, id, k + 4) * 2 - 1
        val jy = unit(seed, id, k + 5) * 2 - 1
        val (lon, lat) =
          if (u < s.hotShare) {
            val (alon, alat) = Anchors(below(seed, id, k + 3, Anchors.length))
            (alon + jx * 0.002, alat + jy * 0.002)
          } else if (u < s.hotShare + s.outsideShare)
            ((below(seed, id, k + 3, 341) - 170) + jx * 0.15,
              (below(seed, id, k + 6, 161) - 80) + jy * 0.1)
          else {
            val (clon, clat) = centres(below(seed, id, k + 3, centres.length))
            (clon + jx * 0.28, clat + jy * 0.18)
          }
        sb.append("at ")
        fmt5(sb, lat); sb.append(", "); fmt5(sb, lon)
        sb.append(" exactly")
      }
      sb.append(". ")
      b += 1
    }
    sb.append("end.")
    sb.toString
  }

  private def page(url: String, id: Long, text: String): Page = {
    val html = ("<html><body>" + text + "</body></html>")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Page(url, new Timestamp(1767225600000L + (id % 100000000L) * 1000L), html, text,
      Langs((id % Langs.length).toInt))
  }

  /** The workload's pages table: generated once per (workload, seed,
    * generator fingerprint) under `dataDir` and read back from parquet. */
  def pagesTable(spark: SparkSession, dataDir: String, workload: String,
                 shape: Shape, seed: Long): (String, Boolean) = {
    val dir = s"$dataDir/${workload}_s${seed}_${fingerprint(shape)}"
    val fresh = !new File(s"$dir/_SUCCESS").exists()
    if (fresh) {
      import spark.implicits._
      val centres = polygonCentres(shape.polygons)
      val s = shape
      // seed-shifted id range keeps every seed's pages (and urls) distinct
      val base = 1000L + seed * 10000000L
      val generated = spark.range(0, s.pages, 1, s.files).map { j =>
        val id = base + j
        page(s"https://bench.example.org/p/$id", id, pageText(s, seed, id, centres))
      }
      val fixtures = spark.createDataset(
        Synth.fixtureTexts.indices.map(i => Synth.pageFor(i.toLong))).coalesce(1)
      generated.union(fixtures).toDF().repartition(s.files)
        .write.mode("overwrite").parquet(dir)
    }
    (dir, fresh)
  }

  /** api_verbs inputs: `sets` query batches of `n` (query_id, query) rows
    * and as many point batches of (query_id, lon, lat) rows, over the
    * default fixture world the provider facades use. Fixture queries and
    * points sit at fixed ids 1..5 so their answers can be checked against
    * golden/. */
  def apiInputs(seed: Long, sets: Int, n: Int): (Seq[Seq[(Long, String)]], Seq[Seq[(Long, Double, Double)]]) = {
    val fixtureQueries = Seq("Schwabing, München", "Moabit, Berlin, Germany",
      "UCL Centre for Advanced Spatial Analysis", "Seftigenstrasse 264, 3084 Wabern",
      "Barcelona")
    val fixturePoints = Seq((2.12870, 41.40139), (7.451352119445801, 46.92793655395508))
    val centres = polygonCentres(6)
    val filler = World.fillerPlaces(44)
    val queries = (0 until sets).map { b =>
      fixtureQueries.zipWithIndex.map { case (q, i) => (i + 1L, q) } ++
        (fixtureQueries.size until n).map { i =>
          val id = b * 100000L + i
          val u = unit(seed, id, 1)
          val q =
            if (u < 0.3) s"Nowhere ${below(seed, id, 2, 100000)}"
            else filler(below(seed, id, 2, filler.size)).name
          (i + 1L, q)
        }
    }
    val points = (0 until sets).map { b =>
      fixturePoints.zipWithIndex.map { case ((lon, lat), i) => (i + 1L, lon, lat) } ++
        (fixturePoints.size until n).map { i =>
          val id = b * 100000L + i + 50000L
          val u = unit(seed, id, 1)
          val jx = unit(seed, id, 3) * 2 - 1
          val jy = unit(seed, id, 4) * 2 - 1
          val (lon, lat) =
            if (u < 0.3)
              ((below(seed, id, 2, 341) - 170) + jx * 0.15, (below(seed, id, 5, 161) - 80) + jy * 0.1)
            else if (u < 0.5) {
              val p = filler(below(seed, id, 2, filler.size))
              (p.lon + jx * 0.0002, p.lat + jy * 0.0002)
            } else {
              val (clon, clat) = centres(below(seed, id, 2, centres.length))
              (clon + jx * 0.28, clat + jy * 0.18)
            }
          (i + 1L, lon, lat)
        }
    }
    (queries, points)
  }
}
