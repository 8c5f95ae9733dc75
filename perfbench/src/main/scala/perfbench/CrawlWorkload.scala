package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.engine.{Forward, Gazetteer, Pipeline, Reverse, Tiler}
import graft.etl.{DictScanner, Extract}
import graft.fixtures.World
import graft.functions.GeoFunctions
import graft.geo.CellIndex
import graft.model.{ForwardParams, ReverseParams}
import graft.sources.ParquetPageSource

/**
 * crawl_extract: one op is one batch over the whole generated pages table,
 * `Pipeline.geocodePrepared` over the indexes built in set-up plus the
 * `Pipeline.tiles` rollup, written through the `noop` sink (a `count()`
 * would let Catalyst prune the `name` and `formatted` projections). Only
 * set-up-built indexes stay cached between ops; every op reads the pages
 * from parquet.
 *
 * The traced run also times the world-scale path over the same pages:
 * `worldScaleLayout` (packed layout, fingerprint, bucketed mentions write)
 * and `geocodeWorldScaleRead`, whose answer must equal the broadcast one.
 */
final class CrawlWorkload(val name: String, shape: Shape, ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val TileZ = 12
  private val Buckets = 4

  // input generation: not timed
  private val gazRows = World.gazetteer(filler = shape.gazFiller)
  private val polyRows = World.polygons(filler = shape.polygons)
  private val (pagesDir, generated) = Gen.pagesTable(spark, s"${ctx.work}/data", name, shape, ctx.seed)
  private val expectations = Checks.pageExpectations(ctx.golden)

  private val cfg = Pipeline.Config(runId = "bench")
  private val wsDir = s"${ctx.work}/ws/$name"
  private val packedPath = s"$wsDir/polycells_bucketed_${cfg.runId}"

  private var scanner: DictScanner = _
  private var idx: DataFrame = _
  private var polys: DataFrame = _
  private var cells: DataFrame = _
  private var prep: Pipeline.Prepared = _

  private val digests = mutable.ArrayBuffer.empty[(String, Digest)]

  def cycle: Int = 1

  def warmOps: Int = 8

  def blockingLayers: Seq[String] =
    Seq("sources.scan_s", "etl.extract_s", "forward.probe_s", "reverse.probe_s",
      "tiler.assign_s", "tiler.rollup_s")

  private def pages(): DataFrame = ParquetPageSource(pagesDir).load(spark)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def deleteDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  private def layout(input: DataFrame): (String, String) =
    Pipeline.worldScaleLayout(spark, input, polys, cells, scanner, wsDir,
      buckets = Buckets, cfg = cfg, reusePacked = true)

  /** Scanner + broadcast of it, the name and polygon indexes and the
    * prepared top-1 and packed-cell broadcast sides. Earlier set-ups' cached
    * tables are dropped first, so each rep builds afresh. */
  def setup(steps: Steps): Unit = {
    spark.catalog.clearCache()
    scanner = steps("gazetteer.scanner_build") {
      val s = Gazetteer.scanner(gazRows)
      Extract.mentions(spark, pages().limit(0), s) // broadcasts the scanner
      s
    }
    steps("gazetteer.index_build") {
      idx = Gazetteer.nameIndex(Gazetteer.gazetteerDF(spark, gazRows)).cache()
      polys = Gazetteer.polygonsDF(spark, polyRows).cache()
      cells = Gazetteer.polygonCellIndex(polys).cache()
      idx.count(); cells.count()
    }
    prep = Pipeline.prepare(idx, polys, cells)
    steps("forward.top1_build")(prep.top1.count())
    steps("reverse.packed_build")(prep.packed.count())
  }

  private def hits(input: DataFrame): DataFrame =
    Pipeline.geocodePrepared(spark, input, prep, scanner, cfg)

  def op(i: Int): Op = {
    val obs = new Observation(s"batch$i")
    noop(Pipeline.tiles(Checks.observed(hits(pages()), obs, expectations)))
    val (d, missing) = Checks.read(obs, expectations.size)
    digests += s"batch $i" -> d
    Op(shape.pages + 13L,
      if (missing.isEmpty) None
      else Some(s"fixture pages miss golden expectations ${missing.mkString(",")}"))
  }

  /** The unfused verb path over the same pages: Forward.geocodeMentions for
    * names, Reverse.reverse for coordinates. Every batch digest (and the
    * world-scale read's) must equal it. */
  def referenceDigest(): Digest = {
    val m = Extract.mentions(spark, pages(), scanner)
    val fwd = Forward.geocodeMentions(m.filter(col("kind") === "name"), idx,
        ForwardParams(limit = Some(1)))
      .select(col("url"), col("surface"), lit("forward").as("verb"),
        col("place_id").as("ref_id"), col("lon"), col("lat"), col("name"), col("formatted"))
    val pts = m.filter(col("kind") === "coord")
      .withColumn("query_id", xxhash64(col("url"), col("surface")))
    val rev = Reverse.reverse(pts, polys.drop("cells"), cells, ReverseParams())
      .filter(col("polygon_id").isNotNull)
      .select(col("url"), col("surface"), lit("reverse").as("verb"),
        col("polygon_id").as("ref_id"), col("lon"), col("lat"), col("name"), col("formatted"))
    Checks.digest(Tiler.assign(fwd.unionByName(rev), TileZ))
  }

  def finalChecks(): Seq[String] = {
    val ref = referenceDigest()
    digests.toSeq.collect { case (what, d) if d != ref => s"$what digest $d != unfused path $ref" }
  }

  def driverIndexBytes: Long = org.apache.spark.util.SizeEstimator.estimate(scanner)

  private def dirBytes(path: String): Double = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length
    size(new java.io.File(path)).toDouble
  }

  def extraSummary: Seq[(String, String)] =
    Seq("shape" -> s"'${shape.describe}'", "generated_now" -> generated.toString)

  def layers(tr: Tracing): Map[String, Double] = {
    val reps = 3
    val cols = Seq("url", "warc_ts", "lang", "text").map(col)
    tr.reps("sources.scan", reps)(noop(pages().select(cols: _*)))
    val pagesMat = pages().select(cols: _*).localCheckpoint(eager = true)
    val nPages = pagesMat.count().toDouble
    val textKb = pagesMat.agg(sum(length(col("text")))).head().getLong(0) / 1024.0

    tr.reps("etl.extract", reps)(noop(Extract.mentions(spark, pagesMat, scanner)))
    val mentions = Extract.mentions(spark, pagesMat, scanner)
      .withColumn("cell", when(col("kind") === "coord",
        GeoFunctions.cellId(col("lon"), col("lat"), lit(CellIndex.FineLevel))))
      .localCheckpoint(eager = true)
    val names = mentions.filter(col("kind") === "name")
    val coords = mentions.filter(col("kind") === "coord")
    val nNames = names.count().toDouble
    val nCoords = coords.count().toDouble

    tr.reps("forward.probe", reps)(noop(Forward.candidates(names, prep.top1, ForwardParams())))
    val resolved = Forward.candidates(names, prep.top1, ForwardParams()).count().toDouble

    // reverse: broadcast packed-cell probe + ray cast
    def probe = coords.join(broadcast(prep.packed), Seq("cell"), "left")
      .withColumn("best", Reverse.bestPolygon(col("cands"), col("lon"), col("lat")))
    tr.reps("reverse.probe", reps)(noop(probe.drop("cands")))
    val r = probe.agg(sum(coalesce(size(col("cands")), lit(0))), count(col("best"))).head()
    val (nCands, nHits) = (r.getLong(0).toDouble, r.getLong(1).toDouble)

    // tiler: assignment and rollup over materialized hits
    val plainHits = hits(pages()).drop("tile_z", "tile_x", "tile_y").localCheckpoint(eager = true)
    tr.reps("tiler.assign", reps)(noop(Tiler.assign(plainHits, TileZ)))
    val assigned = Tiler.assign(plainHits, TileZ).localCheckpoint(eager = true)
    tr.reps("tiler.rollup", reps)(noop(Pipeline.tiles(assigned)))
    val tilesOut = Pipeline.tiles(assigned).count().toDouble

    // what the noop sink costs over count(): the pruned projections
    tr.reps("sink.noop", reps)(noop(hits(pages())))
    tr.reps("sink.count", reps)(hits(pages()).count())

    // the world-scale path over the same pages: packed layout written once;
    // a layout call over zero pages is the fingerprint probe alone, over the
    // pages it adds the bucketed mentions write (scan and extraction inside)
    deleteDir(packedPath)
    var ws = tr("pipeline.ws_packed_write")(layout(pages().limit(0)))
    tr.reps("pipeline.ws_fingerprint", reps)(layout(pages().limit(0)))
    tr.reps("pipeline.ws_layout", reps) { ws = layout(pages()) }
    def wsHits = Pipeline.geocodeWorldScaleRead(spark, ws._1, ws._2, idx, polys, cells, cfg)
    tr.reps("pipeline.ws_read", reps)(noop(wsHits))
    digests += "world-scale read" -> Checks.digest(wsHits)
    val wsBytes = tr.stat("pipeline.ws_layout")(_.outputBytes.toDouble)

    def perUnit(s: Double, n: Double) = if (n > 0) s * 1e9 / n else 0.0
    Map(
      "sources.scan_s" -> tr.self("sources.scan"),
      "sources.input_mb" -> dirBytes(pagesDir) / 1e6,
      "sources.tasks" -> tr.stat("sources.scan")(_.tasks),
      "etl.extract_s" -> tr.self("etl.extract"),
      "etl.extract_task_s" -> tr.stat("etl.extract")(_.taskNs / 1e9),
      "etl.ns_per_kb" -> perUnit(tr.stat("etl.extract")(_.taskNs / 1e9), textKb),
      "etl.mentions_per_page" -> (nNames + nCoords) / nPages,
      "etl.gc_s" -> tr.stat("etl.extract")(_.gcMs / 1e3),
      "gazetteer.scanner_build_s" -> tr.self("gazetteer.scanner_build"),
      "gazetteer.scanner_keys" -> gazRows.flatMap(_.norm_keys).distinct.size.toDouble,
      "gazetteer.index_build_s" -> tr.self("gazetteer.index_build"),
      "forward.top1_build_s" -> tr.self("forward.top1_build"),
      "forward.top1_rows" -> prep.top1.count().toDouble,
      "reverse.packed_build_s" -> tr.self("reverse.packed_build"),
      "reverse.packed_rows" -> prep.packed.count().toDouble,
      "forward.probe_s" -> tr.self("forward.probe"),
      "forward.probes" -> nNames,
      "forward.resolved_ratio" -> (if (nNames > 0) resolved / nNames else 0.0),
      "forward.ns_per_probe" -> perUnit(tr.stat("forward.probe")(_.taskNs / 1e9), nNames),
      "forward.broadcast_mb" -> tr.stat("forward.probe")(_.broadcastBytes / 1e6),
      "forward.broadcast_build_s" -> tr.stat("forward.probe")(_.broadcastBuildMs / 1e3),
      "reverse.probe_s" -> tr.self("reverse.probe"),
      "reverse.points" -> nCoords,
      "reverse.cands_per_point" -> (if (nCoords > 0) nCands / nCoords else 0.0),
      "reverse.hit_ratio" -> (if (nCoords > 0) nHits / nCoords else 0.0),
      "reverse.ns_per_point" -> perUnit(tr.stat("reverse.probe")(_.taskNs / 1e9), nCoords),
      "reverse.broadcast_mb" -> tr.stat("reverse.probe")(_.broadcastBytes / 1e6),
      "reverse.broadcast_build_s" -> tr.stat("reverse.probe")(_.broadcastBuildMs / 1e3),
      "pipeline.ws_packed_write_s" -> tr.self("pipeline.ws_packed_write"),
      "pipeline.ws_fingerprint_s" -> tr.self("pipeline.ws_fingerprint"),
      "pipeline.ws_mentions_write_s" -> math.max(0.0, tr.self("pipeline.ws_layout") - tr.self("pipeline.ws_fingerprint")),
      "pipeline.ws_read_s" -> tr.self("pipeline.ws_read"),
      "pipeline.ws_bytes_written_mb" -> wsBytes / 1e6,
      "pipeline.ws_write_bytes_per_page" -> wsBytes / nPages,
      "tiler.assign_s" -> tr.self("tiler.assign"),
      "tiler.rollup_s" -> tr.self("tiler.rollup"),
      "tiler.shuffle_mb" -> tr.stat("tiler.rollup")(_.shuffleBytes / 1e6),
      "tiler.tiles_out" -> tilesOut,
      "sink.noop_s" -> tr.self("sink.noop"),
      "sink.count_s" -> (tr.self("sink.count")))
  }
}
