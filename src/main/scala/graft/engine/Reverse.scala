package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.model.ReverseParams

/**
 * Reverse geocoding (R1-R5): point -> enclosing admin polygon -> formatted
 * address. Cell-bucketed spatial join: points are encoded to level-13 cells
 * (E3), equi-joined to the exploded cell->polygon covering index, then
 * refined by exact even-odd ray casting on packed ring arrays (E5). The
 * non-equi spatial predicate therefore never sees a cross product — only
 * same-cell candidates.
 *
 * Scale shape: points (big) stay unshuffled because the cell index
 * broadcasts. At world polygon scale the packed index is written as a
 * cell-bucketed table instead (writePackedBucketed) and read by
 * Pipeline.geocodeWorldScaleRead with a zero-exchange sort-merge join.
 *
 * Reference semantics preserved:
 *  - single result per point, most-specific polygon
 *    ("reverse geocoding only returns a single result",
 *    /root/reference/src/opencage.rs:192)
 *  - empty -> null formatted (GeoAdmin returns None,
 *    /root/reference/src/geoadmin.rs:295-304; we do NOT replicate the OSM/OC
 *    index-out-of-bounds panic, SURVEY.md §7.4) with geocode_status='no_result'
 *  - GeoAdmin reverse = nearest building within toleranceM (50 m identify
 *    radius, /root/reference/src/geoadmin.rs:271-281), formatted as
 *    "{strname_deinr}, {dplz4} {dplzname}" (geoadmin.rs:297-300)
 */
object Reverse {

  /** Fields carried per candidate polygon in the packed cell index. */
  private val packedFields = Seq("polygon_id", "name", "admin_level",
    "country_code", "ring_offsets", "ring_lons", "ring_lats",
    "fmt_house", "fmt_road", "fmt_suburb", "fmt_city", "fmt_county",
    "fmt_state", "fmt_region", "fmt_postcode", "fmt_country",
    "loc_city", "loc_country")

  /** Packed cell index: one row per covering cell, all candidate polygons as
    * an array. Built once per job on the broadcast side. */
  def packedCellIndex(polygons: DataFrame, cellIndex: DataFrame): DataFrame =
    cellIndex.join(polygons, Seq("polygon_id"))
      .groupBy(col("cell"))
      .agg(collect_list(struct(packedFields.map(col): _*)).as("cands"))

  /** Ray-cast refinement + most-specific selection as pure array expressions
    * over the packed candidates — no shuffle, no window, no aggregation on
    * the big side. array_sort with an explicit (admin_level desc,
    * polygon_id asc) comparator because structs holding MapType columns are
    * not natively orderable; get(_, 0) is the null-safe head under ANSI. */
  def bestPolygon(cands: Column, lon: Column, lat: Column): Column = {
    val hits = filter(cands, p => rayCast(lon, lat,
      p.getField("ring_offsets"), p.getField("ring_lons"), p.getField("ring_lats")))
    val sorted = array_sort(hits, (l, r) =>
      when(l.getField("admin_level") > r.getField("admin_level"), -1)
        .when(l.getField("admin_level") < r.getField("admin_level"), 1)
        .when(l.getField("polygon_id") < r.getField("polygon_id"), -1)
        .when(l.getField("polygon_id") > r.getField("polygon_id"), 1)
        .otherwise(0))
    get(sorted, lit(0))
  }

  /**
   * R1-R4 — PIP reverse. `points`: (query_id, lon, lat, ...).
   * Output: one row per input point, formatted + components,
   * geocode_status in {ok, no_result}.
   *
   * MAP-ONLY: broadcast hash join on the level-13 cell against the packed
   * cell index, then ray-cast + best-pick as array expressions. The points
   * side never shuffles and never aggregates — reverse geocoding 10^12
   * points is a single map stage.
   */
  def reverse(points: DataFrame, polygons: DataFrame, cellIndex: DataFrame,
              params: ReverseParams = ReverseParams(),
              tzByCell: Map[Long, String] = Map.empty): DataFrame = {
    val pts = points.withColumn("cell", cellId(col("lon"), col("lat"),
      lit(graft.geo.CellIndex.FineLevel)))
    val packed = packedCellIndex(polygons, cellIndex)
    finish(bestFromPacked(pts.join(broadcast(packed), Seq("cell"), "left")),
      points, params, tzByCell)
  }

  /** Ray-cast + best-pick over a (points LEFT JOIN packed-index) frame —
    * shared by `reverse` and `reverseCompact`. */
  private def bestFromPacked(joined: DataFrame): DataFrame =
    joined
      .withColumn("__best", bestPolygon(col("cands"), col("lon"), col("lat")))
      .drop("cands")
      .select(col("*") +: packedFields.map(c => col(s"__best.$c").as(c)): _*)
      .drop("__best")

  /**
   * PIP reverse against a COMPACT (mixed-level) covering index — the layout
   * that keeps a large polygon's index proportional to its boundary instead
   * of its area (CellIndex.compact: a country at pure level 13 is millions
   * of index rows; compacted it is tens of thousands). A point can no longer
   * probe one key: its enclosing compact cell sits at SOME ancestor level,
   * so the plan probes once per level PRESENT in the index (a handful — the
   * distinct-levels set is a driver decision read off the index with one
   * tiny aggregation) and concatenates the candidate arrays. Each probe is
   * a broadcast hash join on `parent(cell13, lv)` — the points side stays
   * MAP-ONLY with zero exchanges, same as `reverse`; ray-cast refinement
   * and most-specific selection are unchanged array expressions.
   */
  def reverseCompact(points: DataFrame, polygons: DataFrame,
                     compactCellIndex: DataFrame,
                     params: ReverseParams = ReverseParams(),
                     tzByCell: Map[Long, String] = Map.empty): DataFrame = {
    import graft.functions.GeoFunctions.{cellLevel, cellParent}
    val packed = packedCellIndex(polygons, compactCellIndex)
    val levels = packed.select(cellLevel(col("cell")).as("lv"))
      .distinct().collect().map(_.getInt(0)).sorted
    require(levels.nonEmpty, "compact cell index is empty")
    val candsType = packed.schema("cands").dataType
    var cur = points.withColumn("cell", cellId(col("lon"), col("lat"),
      lit(graft.geo.CellIndex.FineLevel)))
    levels.foreach { lv =>
      val pk = packed.filter(cellLevel(col("cell")) === lv)
        .select(col("cell").as(s"__cell_$lv"), col("cands").as(s"__cands_$lv"))
      cur = cur.join(broadcast(pk),
        cellParent(col("cell"), lit(lv)) === col(s"__cell_$lv"), "left")
        .drop(s"__cell_$lv")
    }
    val merged = concat(levels.map(lv =>
      coalesce(col(s"__cands_$lv"), array().cast(candsType))): _*)
    val joined = cur.withColumn("cands", merged)
      .drop(levels.map(lv => s"__cands_$lv"): _*)
    finish(bestFromPacked(joined), points, params, tzByCell)
  }

  /** Materialize the packed cell->candidates index as a cell-bucketed table
    * (the world-scale layout, see Pipeline.worldScaleLayout). One shuffle at
    * build time; zero at query time. */
  def writePackedBucketed(spark: org.apache.spark.sql.SparkSession,
                          polygons: DataFrame, cellIndex: DataFrame,
                          table: String, path: String, buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    packedCellIndex(polygons, cellIndex).write
      .bucketBy(buckets, "cell").sortBy("cell")
      .option("path", path).mode("overwrite").saveAsTable(table)
  }

  private def finish(best: DataFrame, points: DataFrame,
                     params: ReverseParams,
                     tzByCell: Map[Long, String] = Map.empty): DataFrame = {
    val lang = params.language.map(_.toLowerCase(java.util.Locale.ROOT))
    val city = lang.map(l => coalesce(element_at(col("loc_city"), l), col("fmt_city")))
      .getOrElse(col("fmt_city"))
    val country = lang.map(l => coalesce(element_at(col("loc_country"), l), col("fmt_country")))
      .getOrElse(col("fmt_country"))

    var res = best
      .withColumn("display_name", when(col("polygon_id").isNotNull,
        Format.osmDisplayName(col("fmt_road"),
          col("fmt_house"), lit(null).cast("string"), col("fmt_suburb"), city,
          col("fmt_county"), col("fmt_state"), col("fmt_region"),
          col("fmt_postcode"), country)))
      .withColumn("formatted", when(col("polygon_id").isNotNull,
        when(col("fmt_road").isNotNull, concat_ws(", ",
          col("fmt_road"), col("fmt_house"),
          concat_ws(" ", col("fmt_postcode"), city), country))
          .otherwise(concat_ws(", ", col("name"), city, country))))
      // OpenCage `components` (opencage.rs:571; fr test indexes
      // components("road"), opencage.rs:800) — built before fmt_* are dropped
      .withColumn("components", when(col("polygon_id").isNotNull, map_filter(map(
        lit("road"), col("fmt_road"), lit("house_number"), col("fmt_house"),
        lit("suburb"), col("fmt_suburb"), lit("city"), city,
        lit("county"), col("fmt_county"), lit("state"), col("fmt_state"),
        lit("postcode"), col("fmt_postcode"), lit("country"), country,
        lit("country_code"), col("country_code")), (_, v) => v.isNotNull)))
    res =
      if (params.annotations)
        Annotate.withAnnotations(res, col("lon"), col("lat"), col("country_code"),
          ts = if (points.columns.contains("warc_ts")) Some(col("warc_ts")) else None,
          tzByCell = tzByCell)
      else res

    // status taxonomy (GeocodingError, lib.rs:54-66, mapped to per-row
    // statuses): invalid_input for out-of-domain coordinates, else ok /
    // no_result; parse errors never reach here (extraction simply does not
    // produce a coord mention for malformed literals)
    res.withColumn("geocode_status",
        when(col("lon").isNull || col("lat").isNull ||
          abs(col("lon")) > 180.0 || abs(col("lat")) > 90.0, "invalid_input")
        .when(col("formatted").isNotNull, "ok").otherwise("no_result"))
      .drop("ring_offsets", "ring_lons", "ring_lats", "fmt_house", "fmt_road",
        "fmt_suburb", "fmt_city", "fmt_county", "fmt_state", "fmt_region",
        "fmt_postcode", "fmt_country", "loc_city", "loc_country", "cell")
  }

  /**
   * R5 — GeoAdmin reverse: nearest address-register entry within toleranceM,
   * via k-ring candidate expansion (level-13 cells are ~1.2 km across, so
   * ring 1 always covers a 50 m radius) + haversine refinement.
   */
  def reverseGeoAdmin(points: DataFrame, gazetteer: DataFrame,
                      params: ReverseParams = ReverseParams()): DataFrame = {
    val pts = points
      .withColumn("cell", cellId(col("lon"), col("lat"),
        lit(graft.geo.CellIndex.FineLevel)))
      .withColumn("cand_cell", explode(kRing(col("cell"), lit(1))))

    val addr = broadcast(
      gazetteer.filter(col("feature_class") === "address")
        .select(col("cell13"), col("place_id"), col("road"), col("house_number"),
          col("postcode"), col("city"),
          col("lon").as("g_lon"), col("lat").as("g_lat")))

    val cand = pts.join(addr, pts("cand_cell") === addr("cell13"), "inner")
      .withColumn("dist_m", haversineM(col("lon"), col("lat"), col("g_lon"), col("g_lat")))
      .filter(col("dist_m") <= params.toleranceM)

    // nearest address = single-row max_by aggregation (min dist, then min id)
    val best = cand.groupBy(col("query_id"))
      .agg(max_by(struct(col("place_id"), col("dist_m"), col("road"),
        col("house_number"), col("postcode"), col("city")),
        struct(-col("dist_m"), -col("place_id"))).as("__b"))
      .select(col("query_id"), col("__b.place_id").as("place_id"),
        col("__b.dist_m").as("dist_m"),
        Format.geoAdminReverse(
          concat_ws(" ", col("__b.road"), col("__b.house_number")),
          col("__b.postcode").cast("int"), col("__b.city")).as("formatted"))

    points.join(best, Seq("query_id"), "left")
      .withColumn("geocode_status",
        when(col("formatted").isNotNull, "ok").otherwise("no_result"))
  }
}
