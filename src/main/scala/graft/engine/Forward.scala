package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Norm
import graft.functions.GeoFunctions._
import graft.model.ForwardParams

/**
 * Forward geocoding (F1-F7): free-text place query -> ranked coordinates +
 * structured result, as a broadcast hash join of normalized name keys against
 * the gazetteer name index.
 *
 * Spark-first shape: `queries ⨝ broadcast(nameIndex)` — the big side (queries
 * or page mentions, ~10^12 rows at target scale) never shuffles; the small
 * side (narrow name index) broadcasts. Per-query top-k is a window over
 * query_id — this *does* shuffle by query_id, but only the joined candidate
 * rows (<< input when most pages have few mentions). Filters (viewbox,
 * countrycode, origins) apply to the broadcast side BEFORE the join, shrinking
 * both broadcast payload and join output.
 *
 * Semantics replicated from the reference:
 *  - result order by provider rank (importance/weight,
 *    /root/reference/src/openstreetmap.rs:316, geoadmin.rs:379-380)
 *  - lon-lat output order (/root/reference/src/lib.rs:12-16)
 *  - GeoAdmin sr axis swap: sr in {2056, 21781} emits (easting, northing)
 *    (/root/reference/src/geoadmin.rs:245-255)
 *  - forward_full bbox reprojection WGS84->LV03 for sr in {4326, 3857}
 *    (/root/reference/src/geoadmin.rs:178-187): our filter runs in WGS84,
 *    which is equivalent (the reference projects the *box* only because its
 *    server stores LV03)
 *  - `limit` per query, not global (/root/reference/src/geoadmin.rs:72,237)
 */
object Forward {

  val normalizeUdf = udf((s: String) => if (s == null) null else Norm.normalize(s))

  /** Params-driven pre-filters applied to the (broadcast-sized) name index
    * BEFORE any join — shrinks both broadcast payload and join output. */
  def filterIndex(nameIndex: DataFrame, params: ForwardParams): DataFrame = {
    var gaz = nameIndex
    params.viewbox.foreach { b =>
      gaz = gaz.filter(col("lon").between(b.minLon, b.maxLon) &&
        col("lat").between(b.minLat, b.maxLat))
    }
    params.countrycode.foreach(cc => gaz = gaz.filter(col("country_code") === lc(cc)))
    params.origins.foreach(o => gaz = gaz.filter(col("feature_class").isin(o: _*)))
    gaz
  }

  /** Candidate join: rows with `norm` column joined to the gazetteer name
    * index with params-driven pre-filters on the broadcast side. Public for
    * the streaming surface, which replaces the batch top-k with a
    * watermarked windowed aggregation. */
  def candidates(withNorm: DataFrame, nameIndex: DataFrame,
                 params: ForwardParams): DataFrame = {
    val gaz = filterIndex(nameIndex, params)
    withNorm.join(broadcast(gaz), withNorm("norm") === gaz("gaz_key"), "inner")
  }

  /** limit=1 scale path: the per-key best place is resolved ON THE BROADCAST
    * SIDE (a tiny aggregation over the name index), so the big-side join is
    * 1:<=1 and the query plan needs NO shuffle at all for top-1 forward
    * geocoding — the whole verb is a map over the input. */
  def top1Index(nameIndex: DataFrame, params: ForwardParams): DataFrame = {
    val gaz = filterIndex(nameIndex, params)
    val payload = gaz.columns.filterNot(_ == "gaz_key")
    gaz.groupBy(col("gaz_key"))
      .agg(max_by(struct(payload.map(col): _*),
        struct(col("weight"), col("importance"), -col("place_id"))).as("__b"))
      .select(col("gaz_key") +: payload.map(c => col(s"__b.$c").as(c)): _*)
  }

  private def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  /** Per-query ranked top-k (L1-L3). limit=1 (the reverse-cardinality and
    * GeoAdmin-forward case, and the page-pipeline default) avoids the
    * sort-window shuffle entirely: groupBy + max_by aggregates with map-side
    * combine, so the exchange carries ~1 row per query instead of every
    * candidate — the dominant shuffle saving at crawl scale (candidates for
    * one query are always co-partitioned, having been exploded from a single
    * input row against a broadcast side). */
  private def topK(joined: DataFrame, keyCols: Seq[String], limit: Option[Int]): DataFrame = {
    if (limit.contains(1)) {
      val payload = joined.columns.filterNot(keyCols.contains)
      val ord = struct(col("weight"), col("importance"), -col("place_id"))
      joined.groupBy(keyCols.map(col): _*)
        .agg(max_by(struct(payload.map(col): _*), ord).as("__best"))
        .select(keyCols.map(col) ++ payload.map(c => col(s"__best.$c").as(c)): _*)
        .withColumn("result_rank", lit(1))
    } else {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("weight").desc, col("importance").desc, col("place_id"))
      val ranked = joined.withColumn("result_rank", row_number().over(w))
      limit.map(k => ranked.filter(col("result_rank") <= k)).getOrElse(ranked)
    }
  }

  /** CRS-projected output coordinates with GeoAdmin's axis swap (C3/C4):
    * returns (x, y) columns. */
  def projectCrs(lon: Column, lat: Column, sr: String): (Column, Column) = sr match {
    case "2056" => (lv03E(lon, lat) + lit(2000000.0), lv03N(lon, lat) + lit(1000000.0))
    case "21781" => (lv03E(lon, lat), lv03N(lon, lat))
    case "3857" => (mercatorX(lon), mercatorY(lat))
    case _ => (lon, lat)
  }

  /** A gazetteer row's place name and country name in `lang` (lower case),
    * falling back to the default names. */
  private def localized(lang: Option[String]): (Column, Column) = (
    lang.map(l => coalesce(element_at(col("altnames"), l), col("name")))
      .getOrElse(col("name")),
    Format.countryNameCol(col("country_code"), lang))

  /** OpenCage's `formatted` string of a gazetteer row, with the place and
    * country named in `language` when given. Shared by `project` and the
    * pipeline's forward top-1 index, so fused and verb rows format alike. */
  def formatted(language: Option[String]): Column = {
    val (locName, country) = localized(language.map(lc))
    Format.opencageFormatted(locName, col("house_number"), col("road"),
      col("postcode"), col("city"), country)
  }

  /** Full result projection shared by the query-verb, page-pipeline and
    * streaming paths. `tzByCell` feeds the timezone annotation when the
    * caller's gazetteer carries per-place zones (empty = country-level). */
  def project(df: DataFrame, params: ForwardParams,
              tzByCell: Map[Long, String] = Map.empty): DataFrame = {
    val (locName, country) = localized(params.language.map(lc))
    val (x, y) = projectCrs(col("lon"), col("lat"), params.sr)
    var out = df
      .withColumn("display_name", Format.osmDisplayName(locName, col("house_number"),
        col("road"), col("suburb"), col("city"), col("admin2"), col("admin1"),
        lit(null), col("postcode"), country))
      .withColumn("formatted", formatted(params.language))
      .withColumn("label", Format.geoAdminLabel(locName, col("postcode"), col("city")))
      // OpenCage's open-world `components` map (opencage.rs:571; the tests
      // index it by key, opencage.rs:800) — every result carries it
      .withColumn("components", map_filter(map(
        lit("_type"), col("feature_class"),
        lit("road"), col("road"), lit("house_number"), col("house_number"),
        lit("suburb"), col("suburb"), lit("city"), col("city"),
        lit("county"), col("admin2"), lit("state"), col("admin1"),
        lit("postcode"), col("postcode"), lit("country"), country,
        lit("country_code"), col("country_code")), (_, v) => v.isNotNull))
      .withColumn("x", x).withColumn("y", y)
      .withColumn("confidence",
        (lit(10) - least(lit(9), floor(col("place_rank") / lit(4)))).cast("int"))
    out =
      if (params.addressDetails)
        out.withColumn("address", struct(
          col("house_number"), col("road"), col("suburb"), col("city"),
          col("admin2").as("county"), col("admin1").as("state"),
          col("postcode"), country.as("country"), col("country_code")))
      else out
    if (params.annotations)
      Annotate.withAnnotations(out, col("lon"), col("lat"), col("country_code"),
        ts = if (df.columns.contains("warc_ts")) Some(col("warc_ts")) else None,
        tzByCell = tzByCell)
    else out
  }

  /**
   * F1/F5-F7 — the query-verb surface: df(query_id, query) -> ranked results.
   * Matches `Forward::forward` (/root/reference/src/lib.rs:126-134) with the
   * full-result schema of the `*_full` variants.
   */
  def forward(queries: DataFrame, nameIndex: DataFrame,
              params: ForwardParams = ForwardParams(),
              tzByCell: Map[Long, String] = Map.empty): DataFrame = {
    val withNorm = queries.withColumn("norm", normalizeUdf(col("query")))
    val joined = candidates(withNorm, nameIndex, params)
    project(topK(joined, Seq("query_id"), params.limit), params, tzByCell)
      .drop("gaz_key", "norm")
  }

  /** E2+E4 — forward-join pre-extracted mentions (`Extract.mentions`): the
    * page-scale verb path. Every output row carries url + text_sha256
    * (byte-identity invariant). Name mentions (kind='name') resolve
    * against the gazetteer index — limit=1 uses the shuffle-free top1Index
    * join; general k ranks per (url, mention). Coordinate-literal mentions
    * (kind='coord') pass through with their parsed (lon, lat) and null
    * gazetteer fields, in the SAME single-pass plan (a left broadcast join —
    * coord rows have null `norm`, so they never match; no second scan of the
    * mentions/extraction subtree). */
  def geocodeMentions(mentions: DataFrame, nameIndex: DataFrame,
                      params: ForwardParams = ForwardParams()): DataFrame = {
    val idx0 = if (params.limit.contains(1)) top1Index(nameIndex, params)
               else filterIndex(nameIndex, params)
    // gazetteer lon/lat must not clobber the coord mentions' parsed lon/lat
    val idx = idx0.withColumnRenamed("lon", "__g_lon").withColumnRenamed("lat", "__g_lat")
    val joined = mentions
      .join(broadcast(idx), mentions("norm") === idx("gaz_key"), "left")
      .filter(col("kind") === "coord" || col("gaz_key").isNotNull)
      .withColumn("lon", when(col("kind") === "name", col("__g_lon")).otherwise(col("lon")))
      .withColumn("lat", when(col("kind") === "name", col("__g_lat")).otherwise(col("lat")))
      .drop("__g_lon", "__g_lat", "gaz_key")
    val ranked =
      if (params.limit.contains(1)) joined.withColumn("result_rank", lit(1))
      // rank per (url, mention) — one page can mention several places; coord
      // rows are singletons per (url, surface) and rank 1 by construction
      else topK(joined, Seq("url", "surface"), params.limit)
    val out = project(ranked, params)
    // provider-style formatted strings are meaningless for raw coordinate
    // literals (they format on reverse paths instead) — null them out
    Seq("display_name", "formatted", "label").foldLeft(out) { (d, c) =>
      d.withColumn(c, when(col("kind") === "name", col(c)))
    }
  }
}
