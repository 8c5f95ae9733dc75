package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{DictScanner, Extract}
import graft.model.{ForwardParams, ReverseParams}

/**
 * The flagship end-to-end job (north_star): pages -> mention/coordinate
 * extraction -> forward geocode (name mentions -> gazetteer top-1 place) +
 * reverse geocode (coordinate literals -> polygon PIP) -> web-mercator tile
 * assignment. Every output row carries text_sha256 (byte-identity
 * invariant). There is one path per index layout:
 *
 *  - broadcast (`prepare` + `geocodePrepared`): the forward and reverse
 *    lookups are built on the driver at set-up and broadcast once; a batch
 *    is a single map stage (scan -> extract -> probe -> tile) plus the tile
 *    rollup, its only shuffle. Stage boundaries can checkpoint (E10) via
 *    cfg.ckptDir — each stage then resumes idempotently from Parquet +
 *    lineage.
 *  - bucketed (`worldScaleLayout` + `geocodeWorldScaleRead`): for admin
 *    polygons past the broadcast budget, the packed cell index and the
 *    mentions are written as cell-bucketed tables and the reverse side is a
 *    zero-exchange sort-merge join.
 */
object Pipeline {

  case class Config(
      tileZ: Int = 12,
      ckptDir: Option[String] = None,
      runId: String = "run",
      fwdParams: ForwardParams = ForwardParams(limit = Some(1)),
      revParams: ReverseParams = ReverseParams(),
      // stage name -> identity columns for PORTABLE lineage checksums
      // (sha60 over a string projection an external engine can recompute
      // from the stage parquet); empty = fast xxhash64 over all columns
      lineageKeys: Map[String, Seq[String]] = Map.empty)

  private def maybeStage(spark: SparkSession, cfg: Config, name: String,
                         fingerprint: String)
                        (build: => DataFrame): DataFrame =
    cfg.ckptDir match {
      case Some(dir) =>
        Checkpoint.stage(spark, dir, name, cfg.runId, fingerprint,
          cfg.lineageKeys.getOrElse(name, Nil))(build)
      case None => build
    }

  /** Stage fingerprint: input schema + job params. A resume against the same
    * ckptDir with a different input shape or different Config recomputes
    * instead of returning stale output (Checkpoint.stage validates). */
  private def fingerprintOf(pages: DataFrame, cfg: Config): String = {
    val s = pages.schema.json + "|" + cfg.tileZ + "|" + cfg.fwdParams + "|" + cfg.revParams
    java.lang.Long.toHexString(graft.text.TextCore.fnv64(s))
  }

  /** The prepared indexes of the broadcast path. `lookup` is what batches
    * probe; `top1` (gaz_key + g_* columns) and `packed` (the packed cell
    * index) are the same indexes as DataFrames, for callers that time or
    * join them. */
  case class Prepared(top1: DataFrame, packed: DataFrame, lookup: Broadcast[GeoLookup]) {
    /** Destroys the lookup broadcast. Batches over this Prepared fail
      * afterwards. */
    def release(): Unit = lookup.destroy()
  }

  /** Builds the forward and reverse lookups on the driver and broadcasts
    * them once (see GeoLookup). In production the gazetteer/polygon indexes
    * amortize over the whole crawl — prepare again only if the gazetteer
    * changed. Nothing is cached: the lookup build reads `top1` once, and
    * `top1` and `packed` stay lazy, as no batch reads them. A long-lived
    * driver that swaps indexes calls `release()` on the old Prepared to free
    * the broadcast. */
  def prepare(nameIndex: DataFrame, polygons: DataFrame, polyCells: DataFrame,
              cfg: Config = Config()): Prepared = {
    val top1 = top1Index(nameIndex, cfg)
    val lookup = GeoLookup.build(top1, polygons, polyCells)
    Prepared(top1, Reverse.packedCellIndex(polygons, polyCells),
      nameIndex.sparkSession.sparkContext.broadcast(lookup))
  }

  private def top1Index(nameIndex: DataFrame, cfg: Config): DataFrame =
    Forward.top1Index(nameIndex, cfg.fwdParams)
      .select(col("gaz_key"), col("place_id").as("g_place_id"),
        col("name").as("g_name"), col("lon").as("g_lon"), col("lat").as("g_lat"),
        Forward.formatted(cfg.fwdParams.language).as("g_formatted"))

  /** Geocoded hits, one row per resolved (url, mention): verb='forward'
    * rows resolve name mentions to gazetteer places, verb='reverse' rows
    * resolve coordinate literals to admin polygons.
    *
    * Steady-state batch geocode over PRE-BUILT indexes (see prepare): the
    * shape of a production crawl loop. The lookups were broadcast at
    * set-up, so a batch runs no broadcast job: it is one map stage (scan ->
    * extract -> forward and reverse probes of the broadcast lookups ->
    * conditional projection -> tile) plus whatever the caller adds. The big
    * side never shuffles, never aggregates, and is scanned exactly once;
    * skew needs no salting because there is no shuffle key at all — hot
    * cells cost only probe time.
    *
    * With cfg.ckptDir set, the `mentions` and `hits` stages checkpoint
    * (Checkpoint.stage) under a fingerprint of the page schema and the job
    * params, so a rerun resumes each stage instead of recomputing it. */
  def geocodePrepared(spark: SparkSession, pages: DataFrame, prep: Prepared,
                      scanner: DictScanner, cfg: Config = Config()): DataFrame = {
    val fp = fingerprintOf(pages, cfg)
    val mentions = maybeStage(spark, cfg, "mentions", fp) {
      Extract.mentions(spark, pages, scanner)
    }
    maybeStage(spark, cfg, "hits", fp) {
      val fwd = GeoLookup.forwardUdf(prep.lookup)
      val rev = GeoLookup.reverseUdf(prep.lookup)
      fuseHits(mentions
        .withColumn("__fwd", fwd(col("norm")))
        .select(col("*"), col("__fwd.*")).drop("__fwd")
        .withColumn("__rev", rev(col("lon"), col("lat"))), cfg)
    }
  }

  /** The write half of the world-scale path (the flagship shape when admin
    * polygons outgrow the broadcast budget): materialize the cell-bucketed
    * mentions + packed-polygon tables, so that `geocodeWorldScaleRead` joins
    * them with a ZERO-EXCHANGE sort-merge join. The bucketed mentions write
    * is the only price vs the broadcast path — one a checkpointing pipeline
    * pays anyway (E10 stages materialize). Table names carry cfg.runId so
    * concurrent jobs sharing a metastore never clobber each other; a runId
    * that is not a plain identifier (letters, digits, `_`) fails loudly with
    * an IllegalArgumentException before anything is written, as it could not
    * name a table. When `reusePacked` and a packed table with a matching
    * fingerprint already exists (Checkpoint-style probe on its path), its
    * write is SKIPPED — the packed index amortizes over every batch in
    * production, so a steady-state crawl pays it once, not per invocation. */
  def worldScaleLayout(spark: SparkSession, pages: DataFrame,
                       polygons: DataFrame, polyCells: DataFrame, scanner: DictScanner,
                       warehouseDir: String, buckets: Int = 32,
                       cfg: Config = Config(),
                       reusePacked: Boolean = true): (String, String) = {
    require(cfg.runId.matches("[A-Za-z0-9_]+"),
      "worldScaleLayout names tables after cfg.runId, so it must be a plain " +
        s"identifier of letters, digits and '_': '${cfg.runId}'")
    val mentionsTable = s"graft_mentions_bucketed_${cfg.runId}"
    val packedTable = s"graft_polycells_bucketed_${cfg.runId}"
    val packedPath = s"$warehouseDir/polycells_bucketed_${cfg.runId}"
    // fingerprint = polygon schema + bucket count + a CONTENT digest of both
    // index inputs (count + order-insensitive bit_xor of row hashes over the
    // identity-bearing columns), so refreshing polygon content under the same
    // schema/runId rewrites the packed index instead of silently reusing a
    // stale one. The digest scan costs one pass over the polygon tables —
    // negligible next to the pages side they amortize against.
    val packedFp = java.lang.Long.toHexString(
      graft.text.TextCore.fnv64(polygons.schema.json + "|" + buckets + "|" +
        contentDigest(polygons.select(col("polygon_id"), col("name"),
          col("admin_level"), col("ring_offsets"), col("ring_lons"),
          col("ring_lats"))) + "|" +
        contentDigest(polyCells.select(col("cell"), col("polygon_id")))))
    val reusable = reusePacked &&
      Checkpoint.exists(spark, packedPath) &&
      Checkpoint.pathFingerprint(spark, packedPath).contains(packedFp)
    if (reusable && !spark.catalog.tableExists(packedTable)) {
      // the files exist (e.g. written by a previous job/session) but this
      // session's catalog doesn't know them: re-register the EXTERNAL table
      // with its bucket spec instead of rewriting — the packed world index
      // is built once and amortizes over every batch job that reads it
      val ddl = Reverse.packedCellIndex(polygons, polyCells).schema.toDDL
      spark.sql(s"CREATE TABLE $packedTable ($ddl) USING PARQUET " +
        s"CLUSTERED BY (cell) SORTED BY (cell) INTO $buckets BUCKETS " +
        s"LOCATION '$packedPath'")
    }
    if (!reusable) {
      Reverse.writePackedBucketed(spark, polygons, polyCells,
        packedTable, packedPath, buckets)
      Checkpoint.writePathFingerprint(spark, packedPath, packedFp)
    }
    val mentions = withCoordCell(Extract.mentions(spark, pages, scanner))
    spark.sql(s"DROP TABLE IF EXISTS $mentionsTable")
    mentions.write.bucketBy(buckets, "cell").sortBy("cell")
      .option("path", s"$warehouseDir/mentions_bucketed_${cfg.runId}")
      .mode("overwrite").saveAsTable(mentionsTable)
    (mentionsTable, packedTable)
  }

  /** The read half of the world-scale path over pre-written bucketed tables
    * (see worldScaleLayout): zero-exchange SMJ reverse + broadcast forward
    * (the top-1 name index is always small) — the steady-state cost a crawl
    * pays per batch once the layout exists. */
  def geocodeWorldScaleRead(spark: SparkSession, mentionsTable: String,
                            packedTable: String, nameIndex: DataFrame,
                            polygons: DataFrame, polyCells: DataFrame,
                            cfg: Config = Config()): DataFrame = {
    val top1 = top1Index(nameIndex, cfg)
    val mentions = spark.table(mentionsTable)
    val joined = mentions.join(broadcast(top1), mentions("norm") === top1("gaz_key"), "left")
      .hint("merge").join(spark.table(packedTable), Seq("cell"), "left")
    fuseHits(joined.withColumn("__rev",
      Reverse.bestPolygon(col("cands"), col("lon"), col("lat"))).drop("cands"), cfg)
  }

  /** Cheap order-insensitive content digest: row count + bit_xor of
    * per-row xxhash64 over the given (hashable) columns. */
  private def contentDigest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(count(lit(1)).as("n"), coalesce(expr("bit_xor(__h)"), lit(0L)).as("x"))
      .head()
    r.getLong(0) + ":" + java.lang.Long.toHexString(r.getLong(1))
  }

  private def withCoordCell(mentions: DataFrame): DataFrame =
    mentions.withColumn("cell", when(col("kind") === "coord",
      graft.functions.GeoFunctions.cellId(col("lon"), col("lat"),
        lit(graft.geo.CellIndex.FineLevel))))

  /** The fused single-pass projection shared by the broadcast and bucketed
    * paths, over mentions that carry their forward top-1 place as `g_*`
    * columns (`g_formatted` formatted once per place, in
    * `cfg.fwdParams.language`, when the top-1 index is built) and their best
    * polygon as the `__rev` struct. */
  private def fuseHits(joined: DataFrame, cfg: Config): DataFrame = {
      val lang = cfg.revParams.language.map(_.toLowerCase(java.util.Locale.ROOT))

      def rv(f: String) = col("__rev").getField(f)
      val revCity = lang.map(l => coalesce(element_at(rv("loc_city"), l), rv("fmt_city")))
        .getOrElse(rv("fmt_city"))
      val revCountry = lang.map(l => coalesce(element_at(rv("loc_country"), l), rv("fmt_country")))
        .getOrElse(rv("fmt_country"))

      val hits = joined
        .withColumn("verb",
          when(col("kind") === "name" && col("g_place_id").isNotNull, "forward")
            .when(col("kind") === "coord" && rv("polygon_id").isNotNull, "reverse"))
        .filter(col("verb").isNotNull)
        .withColumn("name", when(col("verb") === "forward", col("g_name"))
          .otherwise(rv("name")))
        .withColumn("ref_id", when(col("verb") === "forward", col("g_place_id"))
          .otherwise(rv("polygon_id")))
        .withColumn("lon", when(col("verb") === "forward", col("g_lon"))
          .otherwise(col("lon")))
        .withColumn("lat", when(col("verb") === "forward", col("g_lat"))
          .otherwise(col("lat")))
        .withColumn("formatted", when(col("verb") === "forward", col("g_formatted"))
          .otherwise(
            when(rv("fmt_road").isNotNull, concat_ws(", ",
              rv("fmt_road"), rv("fmt_house"),
              concat_ws(" ", rv("fmt_postcode"), revCity), revCountry))
              .otherwise(concat_ws(", ", rv("name"), revCity, revCountry))))
        .select("url", "warc_ts", "lang", "text_sha256", "surface", "verb",
          "name", "ref_id", "lon", "lat", "formatted")

      Tiler.assign(hits, cfg.tileZ)
  }

  /** Per-tile rollup of the geocoded hits (E7 aggregation). */
  def tiles(hits: DataFrame): DataFrame =
    hits.groupBy("tile_z", "tile_x", "tile_y")
      .agg(count(lit(1)).as("n_hits"),
        approx_count_distinct(col("url")).as("approx_pages"))
}
