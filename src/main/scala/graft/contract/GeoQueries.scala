package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.contract.ContractFixtures._
import graft.engine._
import graft.fixtures.Synth
import graft.functions.GeoFunctions
import graft.geo.Mgrs
import graft.model.ReverseParams

/** Geo contract queries (`geo_*`, plus `ops_lineage`): the flagship
  * extract -> forward/reverse -> tiles pipeline over materialized inputs,
  * the geocoder verbs, spatial joins and indexes, and their streaming forms,
  * each next to its DuckDB oracle. */
private[contract] object GeoQueries {

  /** DOUBLE-cast literal for DuckDB oracle SQL (bare float literals parse
    * as DECIMAL there and overflow/diverge in float math). */
  private def D(x: Double): String = s"CAST($x AS DOUBLE)"

  /** cos(90.833°) — the official-zenith constant, same op order as
    * geo/Geo.SunZenithCos so the interpolated literal is bit-identical. */
  private val SunZenithCos: Double = math.cos(90.833 * (math.Pi / 180.0))

  /** Shared truncation radius for the geo_knn contract row: the ring cap's
    * guaranteed coverage distance (cap * minEdge at the fine level). Both the
    * Spark side and the DuckDB brute-force oracle filter at exactly this
    * radius, which is what makes the k-ring path provably equal to brute
    * force (see the geo_knn query comment). */
  private val KnnCutoffM: Double =
    64 * graft.geo.CellIndex.minEdgeMeters(graft.geo.CellIndex.FineLevel)

  /** Deterministic point set with REAL spatial structure (for clustering /
    * layout queries where uniform scatter is degenerate): 80% of orders keys
    * land in one of 8 dense ~2.0 x 1.6 degree blobs, 20% scatter uniformly.
    * Every arithmetic step is integer-exact until a single double division,
    * in a fixed left-to-right order, so the DuckDB oracle reproduces the
    * coordinates bit-for-bit (see `clusteredPtsCte`). */
  private def clusteredPts(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/orders.parquet").select(col("o_orderkey"),
      when(col("o_orderkey") % 5 === 0,
        (col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0)
        .otherwise((col("o_orderkey") % 8).cast("double") * 43.0 - 160.0 +
          (col("o_orderkey") * 271 % 2000) / lit(1000.0) - 1.0).as("lon"),
      when(col("o_orderkey") % 5 === 0,
        (col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0)
        .otherwise((col("o_orderkey") % 8 * 29 % 100).cast("double") - 49.5 +
          (col("o_orderkey") * 523 % 1600) / lit(1000.0) - 0.8).as("lat"))

  // ---- oracle SQL fragments for the materialized-input pipeline queries ---
  // DuckDB re-derives the whole extraction independently:
  //  - decimal coord literals: the SAME regex the engine's byte scanner
  //    replicates (etl/Extract.scala CoordRe) via regexp_extract_all groups
  //  - DMS literals: the DmsRe groups, degrees + min/60 + sec/3600 in the
  //    same left-associative order
  //  - name mentions: the dictionary trie's longest-match non-overlapping
  //    scan == RE2 regexp_extract_all over the normalized text with a
  //    \b-bounded alternation ordered longest-first (leftmost scan resumes
  //    after each match in both engines; at equal start the longer
  //    alternative wins, exactly the trie's best-terminal rule)
  private val CoordReSql = "(-?\\d{1,2}\\.\\d{3,}),\\s*(-?\\d{1,3}\\.\\d{3,})"

  private val DmsReSql =
    ("(\\d{1,2})°\\s*(\\d{1,2})'\\s*(\\d{1,2}(?:\\.\\d+)?)''\\s*([NS])[,;\\s]+" +
     "(\\d{1,3})°\\s*(\\d{1,2})'\\s*(\\d{1,2}(?:\\.\\d+)?)''\\s*([EW])")
      .replace("'", "''")

  private val NamesReSql = graft.fixtures.World.gazetteer()
    .flatMap(_.norm_keys).distinct
    .sortBy(k => (-k.length, k))
    .mkString("\\b(?:", "|", ")\\b")

  /** Shared CTEs: materialized inputs + mention extraction (names, decimal
    * coords, DMS coords). */
  private def extractCtes: String =
    s"""pages AS (SELECT url, text FROM read_parquet('$OracleDir/pages/*.parquet')),
       |gaz AS (SELECT * FROM read_parquet('$OracleDir/gaz/*.parquet')),
       |polys AS (SELECT * FROM read_parquet('$OracleDir/polys/*.parquet')),
       |normd AS (SELECT url,
       |  regexp_replace(strip_accents(lower(text)), '[^a-z0-9]+', ' ', 'g') AS nt
       |  FROM pages),
       |names AS (SELECT url, unnest(regexp_extract_all(nt, '$NamesReSql')) AS surface
       |  FROM normd),
       |cd AS (SELECT url,
       |    unnest(regexp_extract_all(text, '$CoordReSql', 0)) AS surface,
       |    unnest(regexp_extract_all(text, '$CoordReSql', 1)) AS lat_s,
       |    unnest(regexp_extract_all(text, '$CoordReSql', 2)) AS lon_s
       |  FROM pages),
       |dm0 AS (SELECT url,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 0)) AS surface,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 1)) AS g1,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 2)) AS g2,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 3)) AS g3,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 4)) AS g4,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 5)) AS g5,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 6)) AS g6,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 7)) AS g7,
       |    unnest(regexp_extract_all(text, '$DmsReSql', 8)) AS g8
       |  FROM pages),
       |dm AS (SELECT url, surface, lon, lat FROM (SELECT url, surface,
       |    (CAST(g5 AS DOUBLE) + CAST(g6 AS DOUBLE) / 60 + CAST(g7 AS DOUBLE) / 3600)
       |      * (CASE WHEN g8 = 'W' THEN CAST(-1.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END) AS lon,
       |    (CAST(g1 AS DOUBLE) + CAST(g2 AS DOUBLE) / 60 + CAST(g3 AS DOUBLE) / 3600)
       |      * (CASE WHEN g4 = 'S' THEN CAST(-1.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END) AS lat
       |  FROM dm0) WHERE abs(lat) <= 90 AND abs(lon) <= 180),
       |coords AS (
       |  SELECT url, surface, CAST(lon_s AS DOUBLE) AS lon, CAST(lat_s AS DOUBLE) AS lat
       |  FROM cd WHERE abs(CAST(lat_s AS DOUBLE)) <= 90 AND abs(CAST(lon_s AS DOUBLE)) <= 180
       |  UNION ALL SELECT url, surface, lon, lat FROM dm)""".stripMargin

  /** Shared CTEs: even-odd ray-cast PIP over the packed rings (the EXACT
    * edge rule of geo/Geo.scala rayCast, same arithmetic order) + the
    * most-specific pick. Requires extractCtes. */
  private def pipCtes: String =
    """pe0 AS (SELECT polygon_id, admin_level, ring_offsets, ring_lons, ring_lats,
      |    unnest(range(len(ring_lons))) AS v FROM polys),
      |pe2 AS (SELECT polygon_id,
      |    ring_lons[v+1] AS xi, ring_lats[v+1] AS yi,
      |    ring_lons[(CASE WHEN v = ring_offsets[rc] THEN ring_offsets[rc+1] - 1 ELSE v - 1 END) + 1] AS xj,
      |    ring_lats[(CASE WHEN v = ring_offsets[rc] THEN ring_offsets[rc+1] - 1 ELSE v - 1 END) + 1] AS yj
      |  FROM (SELECT *, len(list_filter(ring_offsets, o -> o <= v)) AS rc FROM pe0)),
      |dpts AS (SELECT DISTINCT url || '|' || surface AS query_id, lon, lat FROM coords),
      |pipc AS (SELECT query_id, polygon_id,
      |    sum(CASE WHEN (yi > lat) <> (yj > lat)
      |         AND lon < (xj - xi) * (lat - yi) / (yj - yi) + xi THEN 1 ELSE 0 END) AS cr
      |  FROM dpts, pe2 GROUP BY 1, 2),
      |inside AS (SELECT query_id, polygon_id FROM pipc WHERE cr % 2 = 1)""".stripMargin

  /** Country-metadata lookup as a SQL CASE over the SAME Format.countries map
    * the engine folds into its plan — built programmatically so the oracle
    * can never drift from the engine's table. */
  private def ccCase(on: String, f: graft.engine.Format.CountryMeta => String): String =
    "CASE " + on + graft.engine.Format.countries.toSeq.sortBy(_._1)
      .map { case (k, m) => s" WHEN '$k' THEN '${f(m)}'" }.mkString + " END"

  /** Synthetic rect-polygon world shared by geo_reverse_bbox (flat level-13
    * cover) and geo_reverse_compact (compact mixed-level cover):
    * (points, polygons, cellIndex). */
  private def bboxWorld(s: SparkSession, dir: String, compact: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val nullS = (n: String) => lit(null).cast("string").as(n)
    val nullM = (n: String) => lit(null).cast("map<string,string>").as(n)
    val base = s.read.parquet(s"$dir/nation.parquet").select(
      col("n_nationkey").as("polygon_id"),
      ((col("n_nationkey") * 7 % 40) / lit(4.0) - 2.0).as("c_lon"),
      (lit(41.0) + (col("n_nationkey") * 11 % 12) / lit(4.0)).as("c_lat"),
      ((col("n_nationkey") % 5) / lit(10.0) + 0.3005).as("d_lon"),
      ((col("n_nationkey") % 3) / lit(10.0) + 0.2505).as("d_lat"),
      (lit(4) + col("n_nationkey") % 6).cast("int").as("admin_level"))
    val polys = base.select(col("polygon_id"),
      concat(lit("R"), col("polygon_id")).as("name"),
      col("admin_level"), lit("xx").as("country_code"),
      array(lit(0), lit(4)).as("ring_offsets"),
      array(col("c_lon") - col("d_lon"), col("c_lon") + col("d_lon"),
        col("c_lon") + col("d_lon"), col("c_lon") - col("d_lon")).as("ring_lons"),
      array(col("c_lat") - col("d_lat"), col("c_lat") - col("d_lat"),
        col("c_lat") + col("d_lat"), col("c_lat") + col("d_lat")).as("ring_lats"),
      nullS("fmt_house"), nullS("fmt_road"), nullS("fmt_suburb"), nullS("fmt_city"),
      nullS("fmt_county"), nullS("fmt_state"), nullS("fmt_region"),
      nullS("fmt_postcode"), nullS("fmt_country"), nullM("loc_city"), nullM("loc_country"))
    val coverExpr = GeoFunctions.coverBbox(
      col("c_lon") - col("d_lon"), col("c_lat") - col("d_lat"),
      col("c_lon") + col("d_lon"), col("c_lat") + col("d_lat"),
      lit(graft.geo.CellIndex.FineLevel))
    val cells = base.select(col("polygon_id"),
      explode(if (compact) GeoFunctions.compactCells(coverExpr, lit(7))
              else coverExpr).as("cell"))
    val pts = s.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("query_id"),
        ((col("o_orderkey") * 7919 % 10000) / lit(1000.0) - 4.0).as("lon"),
        (lit(40.5) + (col("o_orderkey") * 104729 % 4000) / lit(1000.0)).as("lat"))
    (pts, polys, cells)
  }

  /** Shared by geo_reverse_bbox AND geo_reverse_compact: both run the same
    * PIP question through different index layouts (flat level-13 vs compact
    * mixed-level), so one independent bbox re-derivation oracles both. */
  private val reverseBboxSql =
    """WITH polys AS (SELECT n_nationkey AS polygon_id,
      |  (n_nationkey * 7 % 40) / CAST(4.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) AS c_lon,
      |  CAST(41.0 AS DOUBLE) + (n_nationkey * 11 % 12) / CAST(4.0 AS DOUBLE) AS c_lat,
      |  (n_nationkey % 5) / CAST(10.0 AS DOUBLE) + CAST(0.3005 AS DOUBLE) AS d_lon,
      |  (n_nationkey % 3) / CAST(10.0 AS DOUBLE) + CAST(0.2505 AS DOUBLE) AS d_lat,
      |  4 + n_nationkey % 6 AS admin_level FROM nation),
      |pts AS (SELECT o_orderkey AS query_id,
      |  (o_orderkey * 7919 % 10000) / CAST(1000.0 AS DOUBLE) - CAST(4.0 AS DOUBLE) AS lon,
      |  CAST(40.5 AS DOUBLE) + (o_orderkey * 104729 % 4000) / CAST(1000.0 AS DOUBLE) AS lat
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |hit AS (SELECT query_id, polygon_id,
      |  row_number() OVER (PARTITION BY query_id ORDER BY admin_level DESC, polygon_id) AS rn
      |  FROM pts JOIN polys ON lon > c_lon - d_lon AND lon < c_lon + d_lon
      |    AND lat > c_lat - d_lat AND lat < c_lat + d_lat)
      |SELECT p.query_id, h.polygon_id,
      |  CASE WHEN h.polygon_id IS NULL THEN 'no_result' ELSE 'ok' END AS geocode_status
      |FROM pts p LEFT JOIN (SELECT query_id, polygon_id FROM hit WHERE rn = 1) h
      |  ON p.query_id = h.query_id""".stripMargin

  /** DuckDB replay of the ENTIRE Douglas-Peucker recursion for
    * geo_simplify: same ring construction, same farthest-anchor split,
    * per-segment argmax over the identical perpendicular-distance IEEE
    * chain (ties to lowest index via lexicographic [d, -m] list max), and
    * the subdivision itself as a recursive CTE emitting two children per
    * split. Kept vertices = distinct endpoints of all segments. */
  private val simplifyOracleSql: String = {
    val jit = "CAST((t * 7919 + CAST(polygon_id AS BIGINT) * 104729) % 7 AS DOUBLE) / CAST(200.0 AS DOUBLE)"
    val u = "CAST(t % 10 AS DOUBLE) / CAST(10.0 AS DOUBLE)"
    val x1 = "lons[i + 1]"; val y1 = "lats[i + 1]"
    val x2 = "(CASE WHEN j = 40 THEN lons[1] ELSE lons[j + 1] END)"
    val y2 = "(CASE WHEN j = 40 THEN lats[1] ELSE lats[j + 1] END)"
    val x0 = "lons[m + 1]"; val y0 = "lats[m + 1]"
    val dx = s"($x2 - $x1)"; val dy = s"($y2 - $y1)"
    val den = s"sqrt($dx * $dx + $dy * $dy)"
    val perp =
      s"""(CASE WHEN $den = CAST(0.0 AS DOUBLE)
         |  THEN sqrt(($x0 - $x1) * ($x0 - $x1) + ($y0 - $y1) * ($y0 - $y1))
         |  ELSE abs($dx * ($y1 - $y0) - ($x1 - $x0) * $dy) / $den END)""".stripMargin
    s"""WITH RECURSIVE polys AS (
       |  SELECT n_nationkey AS polygon_id,
       |    list_transform(range(0, 40), t -> CASE t // 10
       |      WHEN 0 THEN $u
       |      WHEN 1 THEN CAST(1.0 AS DOUBLE) + $jit
       |      WHEN 2 THEN CAST(1.0 AS DOUBLE) - $u
       |      ELSE CAST(0.0 AS DOUBLE) - $jit END) AS lons,
       |    list_transform(range(0, 40), t -> CASE t // 10
       |      WHEN 0 THEN CAST(0.0 AS DOUBLE) + $jit
       |      WHEN 1 THEN $u
       |      WHEN 2 THEN CAST(1.0 AS DOUBLE) + $jit
       |      ELSE CAST(1.0 AS DOUBLE) - $u END) AS lats
       |  FROM nation),
       |anch AS (
       |  SELECT polygon_id, lons, lats,
       |    CAST(-(list_max(list_transform(range(1, 40), i -> [
       |      sqrt((lons[i + 1] - lons[1]) * (lons[i + 1] - lons[1])
       |         + (lats[i + 1] - lats[1]) * (lats[i + 1] - lats[1])),
       |      CAST(-i AS DOUBLE)]))[2]) AS BIGINT) AS k
       |  FROM polys),
       |seg AS (
       |  SELECT polygon_id, lons, lats, u.ii AS i, u.jj AS j
       |  FROM anch, unnest([struct_pack(ii := CAST(0 AS BIGINT), jj := k),
       |                     struct_pack(ii := k, jj := CAST(40 AS BIGINT))]) AS t(u)
       |  UNION ALL
       |  SELECT s.polygon_id, s.lons, s.lats, u.ii, u.jj
       |  FROM (
       |    SELECT polygon_id, lons, lats, i, j,
       |      list_max(list_transform(range(i + 1, j), m ->
       |        [$perp, CAST(-m AS DOUBLE)])) AS best
       |    FROM seg WHERE j - i >= 2) s,
       |    unnest([struct_pack(ii := s.i, jj := CAST(-(s.best[2]) AS BIGINT)),
       |            struct_pack(ii := CAST(-(s.best[2]) AS BIGINT), jj := s.j)]) AS t(u)
       |  WHERE s.best[1] > CAST(0.02 AS DOUBLE)),
       |kept AS (
       |  SELECT DISTINCT polygon_id,
       |    CASE WHEN v = 40 THEN 0 ELSE v END AS vidx
       |  FROM (SELECT polygon_id, unnest([i, j]) AS v FROM seg))
       |SELECT k.polygon_id,
       |  CAST(row_number() OVER (PARTITION BY k.polygon_id ORDER BY vidx) - 1 AS INT) AS pos,
       |  CAST(vidx AS INT) AS vidx, p.lons[vidx + 1] AS x, p.lats[vidx + 1] AS y
       |FROM kept k JOIN polys p USING (polygon_id)""".stripMargin
  }

  /** DuckDB twin of [[clusteredPts]] — identical operation order, so the
    * doubles are bit-equal. */
  private val clusteredPtsCte: String =
    """cpts AS (SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 5 = 0
      |    THEN (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE)
      |    ELSE CAST(o_orderkey % 8 AS DOUBLE) * CAST(43.0 AS DOUBLE) - CAST(160.0 AS DOUBLE)
      |      + (o_orderkey * 271 % 2000) / CAST(1000.0 AS DOUBLE) - CAST(1.0 AS DOUBLE) END AS lon,
      |  CASE WHEN o_orderkey % 5 = 0
      |    THEN (o_orderkey * 104729 % 170000) / CAST(1000.0 AS DOUBLE) - CAST(85.0 AS DOUBLE)
      |    ELSE CAST(o_orderkey % 8 * 29 % 100 AS DOUBLE) - CAST(49.5 AS DOUBLE)
      |      + (o_orderkey * 523 % 1600) / CAST(1000.0 AS DOUBLE) - CAST(0.8 AS DOUBLE) END AS lat
      |  FROM orders)""".stripMargin

  /** `cpts` snapped to zoom-10 slippy tiles (point domain stays inside the
    * grid, so no clamp terms — same as the other tile oracles). */
  private val clusteredTilesCte: String =
    s"""$clusteredPtsCte,
      |ctiles AS (SELECT o_orderkey,
      |  CAST(floor((lon + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * 1024) AS BIGINT) AS tile_x,
      |  CAST(floor((CAST(1.0 AS DOUBLE) - ln(tan(radians(lat)) + CAST(1.0 AS DOUBLE) / cos(radians(lat))) / pi())
      |    / CAST(2.0 AS DOUBLE) * 1024) AS BIGINT) AS tile_y
      |  FROM cpts)""".stripMargin

  /** Morton interleave as an explicit per-bit shift sum — a DIFFERENT
    * construction than the engine's magic-mask spread, agreeing bit-for-bit. */
  private def mortonSql(tx: String, ty: String, zoom: Int): String =
    ((0 until zoom).map(i => s"((($tx >> $i) & 1) << ${2 * i})") ++
      (0 until zoom).map(i => s"((($ty >> $i) & 1) << ${2 * i + 1})"))
      .mkString(" + ")

  /** Geohash oracle: replay the engine's interval-bisection bit chain as a
    * list_reduce fold (every midpoint (mn+mx)/2 from ±180/±90 is an exact
    * dyadic double, so DuckDB's IEEE decisions match the JVM's bit for
    * bit), Morton-interleave the 23 lon + 22 lat decision bits, then map
    * each 5-bit group through the base32 alphabet. */
  private def geohashSql: String = {
    def fold(v: String, lo: String, steps: Int): String =
      s"""list_reduce(list_prepend(
         |      {mn: CAST(-$lo AS DOUBLE), mx: CAST($lo AS DOUBLE),
         |       acc: CAST(0 AS BIGINT)},
         |      list_transform(range($steps), i ->
         |        {mn: CAST(0.0 AS DOUBLE), mx: CAST(0.0 AS DOUBLE),
         |         acc: CAST(0 AS BIGINT)})),
         |      (s, x) -> CASE
         |        WHEN $v >= (s.mn + s.mx) / CAST(2.0 AS DOUBLE)
         |        THEN {mn: (s.mn + s.mx) / CAST(2.0 AS DOUBLE), mx: s.mx,
         |              acc: s.acc * 2 + 1}
         |        ELSE {mn: s.mn, mx: (s.mn + s.mx) / CAST(2.0 AS DOUBLE),
         |              acc: s.acc * 2} END).acc""".stripMargin
    val morton =
      ((0 until 23).map(i => s"(((ilon >> $i) & 1) << ${2 * i})") ++
        (0 until 22).map(j => s"(((ilat >> $j) & 1) << ${2 * j + 1})"))
        .mkString(" + ")
    val chars = (0 until 9).map(c =>
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
        s"CAST(((z >> ${40 - 5 * c}) & 31) + 1 AS INT), 1)").mkString(", ")
    s"""WITH pts AS (SELECT o_orderkey,
       |    (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE)
       |      - CAST(180.0 AS DOUBLE) AS lon,
       |    (o_orderkey * 104729 % 163800) / CAST(1000.0 AS DOUBLE)
       |      - CAST(79.9 AS DOUBLE) AS lat
       |  FROM orders),
       |b AS (SELECT o_orderkey, lon, lat,
       |    ${fold("lon", "180.0", 23)} AS ilon,
       |    ${fold("lat", "90.0", 22)} AS ilat
       |  FROM pts),
       |zc AS (SELECT o_orderkey, lon, lat, $morton AS z FROM b)
       |SELECT o_orderkey, lon, lat, concat($chars) AS geohash,
       |  substr(concat($chars), 1, 5) AS geohash5
       |FROM zc""".stripMargin
  }

  private val DegToRadSql = "(pi() / CAST(180.0 AS DOUBLE))"

  /** Geo.bearingDeg's exact chain: atan2 azimuth in degrees normalized to
    * [0, 360) via the same fmod round-trip. Single line (embedded inside
    * stripMargin templates). */
  private def bearingSql(lon1: String, lat1: String,
                         lon2: String, lat2: String): String =
    s"fmod(fmod(atan2(sin(($lon2 - $lon1) * $DegToRadSql) * cos($lat2 * $DegToRadSql), " +
      s"cos($lat1 * $DegToRadSql) * sin($lat2 * $DegToRadSql) - sin($lat1 * $DegToRadSql) " +
      s"* cos($lat2 * $DegToRadSql) * cos(($lon2 - $lon1) * $DegToRadSql)) / $DegToRadSql, " +
      "CAST(360.0 AS DOUBLE)) + CAST(360.0 AS DOUBLE), CAST(360.0 AS DOUBLE))"

  val all: Seq[Query] = Seq(

    // ---- spatial math with pure-SQL oracles ------------------------------
    Query("geo_tile_agg", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0).as("lon"),
          ((col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0).as("lat"))
        .select(GeoFunctions.tileX(col("lon"), lit(8)).as("tile_x"),
          GeoFunctions.tileY(col("lat"), lit(8)).as("tile_y"))
        .groupBy("tile_x", "tile_y").agg(count(lit(1)).as("n"))
    },
      // NOTE: all float literals are CAST to DOUBLE — DuckDB otherwise parses
      // them as DECIMAL, which changes (or overflows) the arithmetic vs Spark's
      // IEEE-double evaluation.
      Sql("""WITH pts AS (SELECT
        |  (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
        |  (o_orderkey * 104729 % 170000) / CAST(1000.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS lat
        |  FROM orders)
        |SELECT CAST(floor((lon + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * 256) AS BIGINT) AS tile_x,
        |  CAST(floor((CAST(1.0 AS DOUBLE) - ln(tan(radians(lat)) + CAST(1.0 AS DOUBLE) / cos(radians(lat))) / pi())
        |    / CAST(2.0 AS DOUBLE) * 256) AS BIGINT) AS tile_y,
        |  count(*) AS n
        |FROM pts GROUP BY 1, 2""".stripMargin)),
    Query("geo_lv03", (s, dir) => {
      s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          (lit(7.0) + col("n_nationkey") * 0.05).as("lon"),
          (lit(46.2) + col("n_nationkey") * 0.04).as("lat"))
        .select(col("n_nationkey"),
          GeoFunctions.lv03E(col("lon"), col("lat")).as("lv03_e"),
          GeoFunctions.lv03N(col("lon"), col("lat")).as("lv03_n"))
    },
      Sql("""WITH pts AS (SELECT n_nationkey,
        |  CAST(7.0 AS DOUBLE) + n_nationkey * CAST(0.05 AS DOUBLE) AS lon,
        |  CAST(46.2 AS DOUBLE) + n_nationkey * CAST(0.04 AS DOUBLE) AS lat FROM nation),
        |lp AS (SELECT n_nationkey,
        |  (lon * CAST(3600.0 AS DOUBLE) - CAST(26782.5 AS DOUBLE)) / CAST(10000.0 AS DOUBLE) AS lambda,
        |  (lat * CAST(3600.0 AS DOUBLE) - CAST(169028.66 AS DOUBLE)) / CAST(10000.0 AS DOUBLE) AS phi FROM pts)
        |SELECT n_nationkey,
        |  CAST(2600072.37 AS DOUBLE) + CAST(211455.93 AS DOUBLE) * lambda
        |    - CAST(10938.51 AS DOUBLE) * lambda * phi
        |    - CAST(0.36 AS DOUBLE) * lambda * phi * phi
        |    - CAST(44.54 AS DOUBLE) * lambda * lambda * lambda
        |    - CAST(2000000.0 AS DOUBLE) AS lv03_e,
        |  CAST(1200147.07 AS DOUBLE) + CAST(308807.95 AS DOUBLE) * phi
        |    + CAST(3745.25 AS DOUBLE) * lambda * lambda
        |    + CAST(76.63 AS DOUBLE) * phi * phi
        |    - CAST(194.56 AS DOUBLE) * lambda * lambda * phi
        |    + CAST(119.79 AS DOUBLE) * phi * phi * phi
        |    - CAST(1000000.0 AS DOUBLE) AS lv03_n
        |FROM lp""".stripMargin)),
    Query("geo_mercator", (s, dir) => {
      s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          ((col("n_nationkey") * 13 % 360) - 180 + 0.25).as("lon"))
        .select(col("n_nationkey"), GeoFunctions.mercatorX(col("lon")).as("merc_x"))
    },
      Sql("""SELECT n_nationkey, ((n_nationkey * 13 % 360) - 180 + CAST(0.25 AS DOUBLE))
        |  * CAST(20037508.342789244 AS DOUBLE) / CAST(180.0 AS DOUBLE) AS merc_x
        |FROM nation""".stripMargin)),

    // ---- geocoding engine over materialized synth pages (oracle-backed:
    // DuckDB re-derives extraction/PIP/ranking from the same parquet) -------
    Query("geo_forward_pages", (s, dir) => {
      val (_, idx, _, _, scanner) = world(s)
      oracleWorldTables(s)
      Forward.geocodeMentions(graft.etl.Extract.mentions(s, oraclePages(s, dir), scanner), idx)
        .select("url", "surface", "name", "place_id", "lon", "lat", "result_rank")
    },
      Sql(s"""WITH $extractCtes,
         |nc AS (SELECT n.url, n.surface, g.place_id, g.name, g.lon, g.lat,
         |    g.weight, g.importance
         |  FROM names n JOIN gaz g ON n.surface = g.gaz_key),
         |nr AS (SELECT url, surface, name, place_id, lon, lat,
         |    CAST(row_number() OVER (PARTITION BY url, surface
         |      ORDER BY weight DESC, importance DESC, place_id) AS INT) AS result_rank
         |  FROM nc),
         |cr AS (SELECT url, surface, CAST(NULL AS VARCHAR) AS name,
         |    CAST(NULL AS BIGINT) AS place_id, lon, lat,
         |    CAST(row_number() OVER (PARTITION BY url, surface ORDER BY lon) AS INT)
         |      AS result_rank
         |  FROM coords)
         |SELECT url, surface, name, place_id, lon, lat, result_rank FROM nr
         |UNION ALL
         |SELECT url, surface, name, place_id, lon, lat, result_rank FROM cr""".stripMargin)),
    // F5/F7/R4 — the *_full result surface as its own contract row: the
    // query-verb Forward.forward with addressdetails (openstreetmap.rs:410-437
    // semantics), a viewbox pre-filter (P1), per-query limit 3, OpenCage's
    // full `formatted` (opencage.rs:803-905), GeoAdmin's label
    // (geoadmin.rs:563-618), and the country-keyed annotations
    // (currency/callingcode/timezone/flag, opencage.rs:580-599). DuckDB
    // recomputes the whole projection from the materialized gaz world table.
    Query("geo_forward_full", (s, dir) => {
      val (_, idx, _, _, _) = world(s)
      oracleWorldTables(s)
      val qs = idx.select(col("gaz_key").as("query_id"), col("gaz_key").as("query"))
        .distinct()
      val params = graft.model.ForwardParams(addressDetails = true,
        annotations = true, limit = Some(3),
        viewbox = Some(graft.model.Bounds(-20.0, 35.0, 25.0, 60.0)))
      Forward.forward(qs, idx, params)
        .select(col("query_id"), col("result_rank"), col("place_id"), col("name"),
          col("display_name"), col("formatted"), col("label"), col("confidence"),
          col("x"), col("y"),
          col("address.house_number").as("addr_house"),
          col("address.road").as("addr_road"),
          col("address.suburb").as("addr_suburb"),
          col("address.city").as("addr_city"),
          col("address.county").as("addr_county"),
          col("address.state").as("addr_state"),
          col("address.postcode").as("addr_postcode"),
          col("address.country").as("addr_country"),
          col("address.country_code").as("addr_cc"),
          col("annotations.currency").as("ann_currency"),
          col("annotations.callingcode").as("ann_callingcode"),
          col("annotations.timezone").as("ann_timezone"),
          col("annotations.flag").as("ann_flag"))
    },
      Sql(s"""WITH gaz AS (SELECT * FROM read_parquet('$OracleDir/gaz/*.parquet')),
         |fg AS (SELECT * FROM gaz
         |  WHERE lon BETWEEN CAST(-20.0 AS DOUBLE) AND CAST(25.0 AS DOUBLE)
         |    AND lat BETWEEN CAST(35.0 AS DOUBLE) AND CAST(60.0 AS DOUBLE)),
         |q AS (SELECT DISTINCT gaz_key AS query_id FROM gaz),
         |j AS (SELECT q.query_id, g.*, row_number() OVER (
         |    PARTITION BY q.query_id
         |    ORDER BY g.weight DESC, g.importance DESC, g.place_id) AS rr
         |  FROM q JOIN fg g ON g.gaz_key = q.query_id),
         |cn AS (SELECT *, ${ccCase("country_code", _.nameEn)} AS country
         |  FROM j WHERE rr <= 3)
         |SELECT query_id, CAST(rr AS INT) AS result_rank, place_id, name,
         |  concat_ws(', ', name, house_number, road, suburb, city, admin2,
         |    admin1, postcode, country) AS display_name,
         |  CASE WHEN road IS NOT NULL THEN concat_ws(', ',
         |      CASE WHEN name = concat_ws(' ', road, house_number) THEN NULL
         |        ELSE name END,
         |      road, house_number,
         |      CASE WHEN postcode IS NOT NULL THEN concat_ws(' ', postcode, city)
         |        ELSE city END,
         |      country)
         |    ELSE concat_ws(', ', name,
         |      CASE WHEN city IS NULL OR city = name THEN NULL ELSE city END,
         |      country) END AS formatted,
         |  name || ' <b>' || postcode || ' ' || city || '</b>' AS label,
         |  CAST(10 - least(9, CAST(floor(place_rank / CAST(4.0 AS DOUBLE)) AS BIGINT))
         |    AS INT) AS confidence,
         |  lon AS x, lat AS y,
         |  house_number AS addr_house, road AS addr_road, suburb AS addr_suburb,
         |  city AS addr_city, admin2 AS addr_county, admin1 AS addr_state,
         |  postcode AS addr_postcode, country AS addr_country,
         |  country_code AS addr_cc,
         |  ${ccCase("country_code", _.currency)} AS ann_currency,
         |  CAST(${ccCase("country_code", _.callingCode.toString)} AS INT)
         |    AS ann_callingcode,
         |  ${ccCase("country_code", _.timezone)} AS ann_timezone,
         |  ${ccCase("country_code", _.flag)} AS ann_flag
         |FROM cn""".stripMargin)),
    Query("geo_reverse_points", (s, dir) => {
      val (_, _, polys, cells, scanner) = world(s)
      oracleWorldTables(s)
      val mentions = graft.etl.Extract.mentions(s, oraclePages(s, dir), scanner)
      val coords = mentions.filter(col("kind") === "coord")
        .select(concat_ws("|", col("url"), col("surface")).as("query_id"),
          col("lon"), col("lat"))
      Reverse.reverse(coords, polys, cells, ReverseParams())
        .select("query_id", "polygon_id", "name", "formatted", "geocode_status")
    },
      Sql(s"""WITH $extractCtes,
         |$pipCtes,
         |pts AS (SELECT url || '|' || surface AS query_id FROM coords),
         |best AS (SELECT query_id, polygon_id FROM (
         |    SELECT i.query_id, i.polygon_id,
         |      row_number() OVER (PARTITION BY i.query_id
         |        ORDER BY p.admin_level DESC, i.polygon_id) AS rn
         |    FROM inside i JOIN polys p USING (polygon_id)) WHERE rn = 1),
         |hit AS (SELECT b.query_id, p.polygon_id, p.name,
         |    CASE WHEN p.fmt_road IS NOT NULL THEN concat_ws(', ', p.fmt_road,
         |      p.fmt_house, concat_ws(' ', p.fmt_postcode, p.fmt_city), p.fmt_country)
         |    ELSE concat_ws(', ', p.name, p.fmt_city, p.fmt_country) END AS formatted
         |  FROM best b JOIN polys p USING (polygon_id))
         |SELECT pt.query_id, h.polygon_id, h.name, h.formatted,
         |  CASE WHEN h.formatted IS NOT NULL THEN 'ok' ELSE 'no_result' END
         |    AS geocode_status
         |FROM pts pt LEFT JOIN hit h USING (query_id)""".stripMargin)),
    Query("geo_reverse_geoadmin", (s, dir) => {
      val (gaz, _, _, _, _) = world(s)
      oracleWorldTables(s)
      val pts = s.range(0, 50).select(col("id").as("query_id"),
        (lit(7.4513) + col("id") / lit(100000.0)).as("lon"),
        (lit(46.9279) + col("id") / lit(200000.0)).as("lat"))
      // oracle-backed: nearest-address-within-tolerance is cell-pruning-free
      // semantics (ring 1 provably covers the 50 m radius), so DuckDB
      // recomputes it as brute-force haversine + min-dist pick
      Reverse.reverseGeoAdmin(pts, gaz)
        .select(col("query_id"), col("formatted"), col("geocode_status"),
          round(col("dist_m"), 3).as("dist_m"))
    },
      Sql(s"""WITH pts AS (SELECT CAST(range AS BIGINT) AS query_id,
         |    CAST(7.4513 AS DOUBLE) + range / CAST(100000.0 AS DOUBLE) AS lon,
         |    CAST(46.9279 AS DOUBLE) + range / CAST(200000.0 AS DOUBLE) AS lat
         |  FROM range(50)),
         |addr AS (SELECT place_id, road, house_number, postcode, city,
         |    lon AS g_lon, lat AS g_lat
         |  FROM read_parquet('$OracleDir/places/*.parquet')
         |  WHERE feature_class = 'address'),
         |d0 AS (SELECT query_id, place_id, road, house_number, postcode, city,
         |    sin((g_lat - lat) * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS slat,
         |    sin((g_lon - lon) * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS slon,
         |    cos(lat * (pi() / CAST(180.0 AS DOUBLE))) AS c1,
         |    cos(g_lat * (pi() / CAST(180.0 AS DOUBLE))) AS c2
         |  FROM pts, addr),
         |d AS (SELECT query_id, place_id, road, house_number, postcode, city,
         |    CAST(2.0 AS DOUBLE) * CAST(6371008.8 AS DOUBLE)
         |      * asin(least(CAST(1.0 AS DOUBLE), sqrt(slat * slat + c1 * c2 * slon * slon)))
         |      AS dist_m
         |  FROM d0),
         |best AS (SELECT query_id, dist_m, road, house_number, postcode, city FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY dist_m, place_id) AS rn
         |    FROM d WHERE dist_m <= CAST(50.0 AS DOUBLE)) WHERE rn = 1),
         |fm AS (SELECT query_id, round(dist_m, 3) AS dist_m,
         |    CASE WHEN postcode IS NULL OR city IS NULL THEN NULL
         |      ELSE concat_ws(' ', road, house_number) || ', '
         |        || CAST(CAST(postcode AS INT) AS VARCHAR) || ' ' || city END AS formatted
         |  FROM best)
         |SELECT p.query_id, f.formatted,
         |  CASE WHEN f.formatted IS NOT NULL THEN 'ok' ELSE 'no_result' END
         |    AS geocode_status,
         |  f.dist_m
         |FROM pts p LEFT JOIN fm f USING (query_id)""".stripMargin)),
    Query("geo_knn", (s, dir) => {
      val (gaz, _, _, _, _) = world(s)
      oracleWorldTables(s)
      val pts = s.range(0, 100).select(col("id").as("query_id"),
        (lit(2.10) + col("id") / lit(1000.0)).as("lon"),
        (lit(41.38) + col("id") / lit(2000.0)).as("lat"))
      // Direct oracle (r4 ask #8): the coverage-guaranteed complete variant,
      // truncated at the shared radius R = cap * minEdge(FineLevel), is
      // provably equal to DuckDB's brute-force haversine top-k within R — a
      // satisfied query's k-th distance is <= its ring's coverage <= R, every
      // place within R is inside ring `cap` by the coverage guarantee, and
      // ranking by exact distance makes the within-R rows a rank prefix, so
      // the two sides must agree row-for-row.
      Knn.knnComplete(pts, gaz, k = 3, startRing = 0, maxRingCap = 64)
        .filter(col("dist_m") <= lit(KnnCutoffM))
        .select(col("query_id"), col("knn_rank"), col("place_id"), col("name"),
          round(col("dist_m"), 0).cast("long").as("dist_m_round"))
    },
      Sql(s"""WITH q AS (SELECT CAST(range AS BIGINT) AS query_id,
        |  CAST(2.10 AS DOUBLE) + range / CAST(1000.0 AS DOUBLE) AS qlon,
        |  CAST(41.38 AS DOUBLE) + range / CAST(2000.0 AS DOUBLE) AS qlat
        |  FROM range(100)),
        |p AS (SELECT place_id, name, lon AS plon, lat AS plat
        |  FROM read_parquet('$OracleDir/places/*.parquet')),
        |d0 AS (SELECT query_id, place_id, name,
        |  sin((plat - qlat) * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS slat,
        |  sin((plon - qlon) * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS slon,
        |  cos(qlat * (pi() / CAST(180.0 AS DOUBLE))) AS c1,
        |  cos(plat * (pi() / CAST(180.0 AS DOUBLE))) AS c2 FROM q, p),
        |d AS (SELECT query_id, place_id, name, CAST(2.0 AS DOUBLE) * CAST(6371008.8 AS DOUBLE)
        |  * asin(least(CAST(1.0 AS DOUBLE), sqrt(slat * slat + c1 * c2 * slon * slon))) AS dist_m
        |  FROM d0),
        |r AS (SELECT query_id, place_id, name, dist_m,
        |  row_number() OVER (PARTITION BY query_id ORDER BY dist_m, place_id) AS rn
        |  FROM d WHERE dist_m <= ${D(KnnCutoffM)})
        |SELECT query_id, CAST(rn AS INT) AS knn_rank, place_id, name,
        |  CAST(round(dist_m, 0) AS BIGINT) AS dist_m_round FROM r WHERE rn <= 3""".stripMargin)),
    Query("geo_pipeline_tiles", (s, dir) => {
      val (_, idx, polys, cells, scanner) = world(s)
      oracleWorldTables(s)
      val hits = Pipeline.geocodePrepared(s, oraclePages(s, dir),
        Pipeline.prepare(idx, polys, cells), scanner)
      // approx_pages (HLL sketch) stays an engine output but is excluded from
      // the contract selection — a sketch is not oracle-comparable
      Pipeline.tiles(hits).select("tile_z", "tile_x", "tile_y", "n_hits")
    },
      Sql(s"""WITH $extractCtes,
         |$pipCtes,
         |top1 AS (SELECT gaz_key, lon, lat FROM (SELECT gaz_key, lon, lat,
         |    row_number() OVER (PARTITION BY gaz_key
         |      ORDER BY weight DESC, importance DESC, place_id) AS rn
         |  FROM gaz) WHERE rn = 1),
         |fh AS (SELECT g.lon, g.lat FROM names n JOIN top1 g ON n.surface = g.gaz_key),
         |insq AS (SELECT DISTINCT query_id FROM inside),
         |rh AS (SELECT pt.lon, pt.lat FROM
         |    (SELECT url || '|' || surface AS query_id, lon, lat FROM coords) pt
         |  JOIN insq USING (query_id)),
         |hits AS (SELECT * FROM fh UNION ALL SELECT * FROM rh),
         |tl AS (SELECT
         |    CAST(floor((lon + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * 4096)
         |      AS BIGINT) AS tx,
         |    CAST(floor((CAST(1.0 AS DOUBLE)
         |      - ln(tan(radians(latc)) + CAST(1.0 AS DOUBLE) / cos(radians(latc))) / pi())
         |      / CAST(2.0 AS DOUBLE) * 4096) AS BIGINT) AS ty
         |  FROM (SELECT lon, least(greatest(lat, CAST(-85.05112878 AS DOUBLE)),
         |    CAST(85.05112878 AS DOUBLE)) AS latc FROM hits))
         |SELECT 12 AS tile_z, least(greatest(tx, 0), 4095) AS tile_x,
         |  least(greatest(ty, 0), 4095) AS tile_y, count(*) AS n_hits
         |FROM tl GROUP BY 1, 2, 3""".stripMargin)),

    // STREAMING under the driver contract: the SAME StreamGeocode.geocodeStream
    // operator the streaming surface exposes (watermarked 5-min windows,
    // per-(window,url,mention) max_by top-1, tile assignment), run as a real
    // Structured Streaming query (readStream parquet source -> append-mode
    // parquet sink, Trigger.AvailableNow) over the materialized pages. The
    // oracle recomputes the batch-equivalent SQL INCLUDING append-mode's
    // watermark finalization rule: only windows whose end <= watermark at
    // end-of-stream are emitted, where the watermark advances from the max
    // event time of the CANDIDATE rows (the stream withWatermark is applied
    // to, post-filter/join — pages whose mentions all miss the gazetteer
    // never advance it) minus the 10-minute delay.
    Query("geo_stream_forward", (s, dir) => {
      val (_, idx, _, _, scanner) = world(s)
      oracleWorldTables(s)
      oraclePages(s, dir)
      val schema = s.read.parquet(s"$OracleDir/pages").schema
      val src = s.readStream.schema(schema).parquet(s"$OracleDir/pages")
      val out = graft.streaming.StreamGeocode.geocodeStream(s, src, idx, scanner)
        .select(unix_micros(col("window.start")).as("win_us"),
          col("url"), col("surface"), col("place_id"), col("name"),
          col("lon"), col("lat"), col("text_sha256"),
          col("tile_x"), col("tile_y"))
      drainStream(s, out, "stream", stateSizedBy = Some(s"$OracleDir/pages"))
    },
      Sql(s"""WITH $extractCtes,
         |pw AS (SELECT url, warc_ts, sha256(text) AS text_sha256
         |  FROM read_parquet('$OracleDir/pages/*.parquet')),
         |nc AS (SELECT n.url, n.surface, p.warc_ts, p.text_sha256,
         |    g.place_id, g.name, g.lon, g.lat, g.weight, g.importance
         |  FROM names n JOIN gaz g ON n.surface = g.gaz_key
         |  JOIN pw p ON p.url = n.url),
         |mx AS (SELECT max(warc_ts) AS mt FROM nc),
         |wb AS (SELECT *, time_bucket(INTERVAL '5 minutes', warc_ts) AS wstart
         |  FROM nc),
         |best AS (SELECT * FROM (SELECT *, row_number() OVER (
         |      PARTITION BY wstart, url, surface
         |      ORDER BY weight DESC, importance DESC, place_id) AS rn
         |    FROM wb) WHERE rn = 1),
         |fin AS (SELECT b.* FROM best b, mx
         |  WHERE b.wstart + INTERVAL '5 minutes' <= mx.mt - INTERVAL '10 minutes'),
         |tl AS (SELECT *, least(greatest(lat, CAST(-85.05112878 AS DOUBLE)),
         |    CAST(85.05112878 AS DOUBLE)) AS latc FROM fin)
         |SELECT epoch_us(wstart) AS win_us, url, surface, place_id, name,
         |  lon, lat, text_sha256,
         |  least(greatest(CAST(floor((lon + CAST(180.0 AS DOUBLE))
         |    / CAST(360.0 AS DOUBLE) * 4096) AS BIGINT), 0), 4095) AS tile_x,
         |  least(greatest(CAST(floor((CAST(1.0 AS DOUBLE)
         |    - ln(tan(radians(latc)) + CAST(1.0 AS DOUBLE) / cos(radians(latc))) / pi())
         |    / CAST(2.0 AS DOUBLE) * 4096) AS BIGINT), 0), 4095) AS tile_y
         |FROM tl""".stripMargin)),
    // the STATELESS streaming shape under the contract, next to
    // geo_stream_forward's stateful (watermark + windowed max_by) one:
    // StreamGeocode.reverseStream is a stream-static broadcast join + map-side
    // ray-cast/best-pick, so append mode needs no watermark and EVERY input
    // row emits — the oracle is exactly the batch PIP re-derivation (same
    // packed rings, same even-odd edge rule, same most-specific pick) with
    // no finalization clause.
    Query("geo_stream_reverse", (s, dir) => {
      val (_, _, polys, cells, scanner) = world(s)
      oracleWorldTables(s)
      oraclePages(s, dir)
      val schema = s.read.parquet(s"$OracleDir/pages").schema
      val src = s.readStream.schema(schema).parquet(s"$OracleDir/pages")
      val out = graft.streaming.StreamGeocode.reverseStream(s, src, polys, cells, scanner)
        .select(col("url"), col("surface"), col("lon"), col("lat"),
          col("polygon_id"), col("name"),
          col("admin_level").cast("int").as("admin_level"), col("geocode_status"))
      drainStream(s, out, "stream_rev")
    },
      Sql(s"""WITH $extractCtes,
         |$pipCtes,
         |best AS (SELECT query_id, polygon_id FROM (
         |    SELECT i.query_id, i.polygon_id,
         |      row_number() OVER (PARTITION BY i.query_id
         |        ORDER BY p.admin_level DESC, i.polygon_id) AS rn
         |    FROM inside i JOIN polys p USING (polygon_id)) WHERE rn = 1),
         |pts AS (SELECT url, surface, url || '|' || surface AS query_id, lon, lat
         |  FROM coords)
         |SELECT pt.url, pt.surface, pt.lon, pt.lat, b.polygon_id, p.name,
         |  CAST(p.admin_level AS INT) AS admin_level,
         |  CASE WHEN b.polygon_id IS NOT NULL THEN 'ok' ELSE 'no_result' END
         |    AS geocode_status
         |FROM pts pt LEFT JOIN best b USING (query_id)
         |LEFT JOIN polys p ON p.polygon_id = b.polygon_id""".stripMargin)),

    // STREAMING WINDOWED AGGREGATION over tiles (the last streaming operator
    // without a direct contract row): coordinate mentions extracted from the
    // pages stream, assigned to z12 web-mercator tiles (map-only), counted
    // per (5-min window, tile) under a 10-min watermark — the same
    // append-mode finalization rule as geo_stream_forward (only windows
    // whose end <= final watermark emit), recomputed by the oracle from the
    // same raw page bytes
    Query("geo_stream_tiles", (s, dir) => {
      val (_, _, _, _, scanner) = world(s)
      oracleWorldTables(s)
      oraclePages(s, dir)
      val schema = s.read.parquet(s"$OracleDir/pages").schema
      val src = s.readStream.schema(schema).parquet(s"$OracleDir/pages")
      val coords = graft.etl.Extract.mentions(s, src, scanner)
        .filter(col("kind") === "coord")
      val out = graft.streaming.StreamGeocode.tileCounts(coords)
        .select(unix_micros(col("window.start")).as("win_us"),
          col("tile_z"), col("tile_x"), col("tile_y"), col("n_hits"))
      drainStream(s, out, "stream_tiles", stateSizedBy = Some(s"$OracleDir/pages"))
    },
      // streaming windowed tile counts: coord mentions re-derived from the
      // same page bytes, z12 tile math, 5-min windows, and the append-mode
      // finalization rule (window end <= max event time - 10-min delay)
      Sql(s"""WITH $extractCtes,
         |pw AS (SELECT url, warc_ts FROM read_parquet('$OracleDir/pages/*.parquet')),
         |h AS (SELECT c.lon, c.lat, p.warc_ts FROM coords c JOIN pw p USING (url)),
         |mx AS (SELECT max(warc_ts) AS mt FROM h),
         |tl AS (SELECT warc_ts, lon,
         |    least(greatest(lat, CAST(-85.05112878 AS DOUBLE)),
         |      CAST(85.05112878 AS DOUBLE)) AS latc,
         |    time_bucket(INTERVAL '5 minutes', warc_ts) AS wstart
         |  FROM h),
         |agg AS (SELECT wstart,
         |    least(greatest(CAST(floor((lon + CAST(180.0 AS DOUBLE))
         |      / CAST(360.0 AS DOUBLE) * 4096) AS BIGINT), 0), 4095) AS tile_x,
         |    least(greatest(CAST(floor((CAST(1.0 AS DOUBLE)
         |      - ln(tan(radians(latc)) + CAST(1.0 AS DOUBLE) / cos(radians(latc))) / pi())
         |      / CAST(2.0 AS DOUBLE) * 4096) AS BIGINT), 0), 4095) AS tile_y,
         |    count(*) AS n_hits
         |  FROM tl GROUP BY 1, 2, 3)
         |SELECT epoch_us(wstart) AS win_us, CAST(12 AS INT) AS tile_z,
         |  tile_x, tile_y, n_hits
         |FROM agg, mx
         |WHERE wstart + INTERVAL '5 minutes' <= mx.mt - INTERVAL '10 minutes'""".stripMargin)),

    // D4/S4/S5/S6/S7 — typed provider-JSON decode as a direct contract row:
    // all four response families parsed through the ProviderJson from_json
    // schemas into one normalized projection; the oracle re-extracts the same
    // fields with DuckDB's JSON functions from the same materialized bodies.
    // Exercised coercions: string-or-int components values (S4), created_unix
    // -> timestamp -> epoch round trip (S5), camelCase featureId + strname
    // string arrays (S6), rate.remaining int (S7), empty-results responses
    // (R2's no-panic case — rows vanish in both engines).
    Query("geo_provider_json", (s, dir) => {
      val raw = providerJsonTable(s)
      val keep = Seq("provider", "resp_id", "result_rank", "ref_id", "label",
        "lon", "lat", "meta").map(col)
      val nom = graft.sources.ProviderJson
        .parseNominatim(raw.filter(col("provider") === "nominatim"), col("body"))
        .withColumn("result_rank", col("result_rank").cast("int"))
        .withColumn("ref_id", col("place_id").cast("string"))
        .withColumn("label", col("display_name"))
        .withColumn("meta",
          concat_ws(";", col("address.city"), col("address.postcode")))
        .select(keep: _*)
      val oc = graft.sources.ProviderJson
        .parseOpencage(raw.filter(col("provider") === "opencage"), col("body"))
        .withColumn("result_rank", col("result_rank").cast("int"))
        .withColumn("ref_id", col("confidence").cast("string"))
        .withColumn("label", col("formatted"))
        .withColumn("meta", concat_ws(";",
          col("remaining_calls").cast("string"),
          unix_timestamp(col("created_ts")).cast("string"),
          element_at(col("components"), "postcode")))
        .select(keep: _*)
      val gaf = graft.sources.ProviderJson
        .parseGeoAdminForward(raw.filter(col("provider") === "geoadmin_fwd"), col("body"))
        .withColumn("result_rank", col("result_rank").cast("int"))
        .withColumn("ref_id", col("result_id").cast("string"))
        .withColumn("meta", concat_ws(";", col("origin"),
          col("rank").cast("string"), col("num").cast("string")))
        .select(keep: _*)
      val gar = graft.sources.ProviderJson
        .parseGeoAdminReverse(raw.filter(col("provider") === "geoadmin_rev"), col("body"))
        .withColumn("result_rank", col("result_rank").cast("int"))
        .withColumn("ref_id", col("featureId"))
        .withColumn("label", col("formatted"))
        .withColumn("lon", lit(null).cast("double"))
        .withColumn("lat", lit(null).cast("double"))
        .withColumn("meta", concat_ws("|", col("strname")))
        .select(keep: _*)
      nom.unionByName(oc).unionByName(gaf).unionByName(gar)
    },
      Sql(s"""WITH src AS (SELECT provider, resp_id, body
         |  FROM read_parquet('$OracleDir/provider_json/*.parquet')),
         |nom0 AS (SELECT provider, resp_id,
         |    unnest(CAST(json_extract(body, '$$.features') AS JSON[])) AS f,
         |    generate_subscripts(CAST(json_extract(body, '$$.features') AS JSON[]), 1) AS rr
         |  FROM src WHERE provider = 'nominatim'),
         |nom AS (SELECT provider, resp_id, CAST(rr AS INT) AS result_rank,
         |    json_extract_string(f, '$$.properties.place_id') AS ref_id,
         |    json_extract_string(f, '$$.properties.display_name') AS label,
         |    CAST(json_extract(f, '$$.geometry.coordinates[0]') AS DOUBLE) AS lon,
         |    CAST(json_extract(f, '$$.geometry.coordinates[1]') AS DOUBLE) AS lat,
         |    concat_ws(';', json_extract_string(f, '$$.properties.address.city'),
         |      json_extract_string(f, '$$.properties.address.postcode')) AS meta
         |  FROM nom0),
         |oc0 AS (SELECT provider, resp_id, body,
         |    unnest(CAST(json_extract(body, '$$.results') AS JSON[])) AS r,
         |    generate_subscripts(CAST(json_extract(body, '$$.results') AS JSON[]), 1) AS rr
         |  FROM src WHERE provider = 'opencage'),
         |oc AS (SELECT provider, resp_id, CAST(rr AS INT) AS result_rank,
         |    json_extract_string(r, '$$.confidence') AS ref_id,
         |    json_extract_string(r, '$$.formatted') AS label,
         |    CAST(json_extract(r, '$$.geometry.lng') AS DOUBLE) AS lon,
         |    CAST(json_extract(r, '$$.geometry.lat') AS DOUBLE) AS lat,
         |    concat_ws(';', json_extract_string(body, '$$.rate.remaining'),
         |      json_extract_string(body, '$$.timestamp.created_unix'),
         |      json_extract_string(r, '$$.components.postcode')) AS meta
         |  FROM oc0),
         |gf0 AS (SELECT provider, resp_id,
         |    unnest(CAST(json_extract(body, '$$.results') AS JSON[])) AS r,
         |    generate_subscripts(CAST(json_extract(body, '$$.results') AS JSON[]), 1) AS rr
         |  FROM src WHERE provider = 'geoadmin_fwd'),
         |gf AS (SELECT provider, resp_id, CAST(rr AS INT) AS result_rank,
         |    json_extract_string(r, '$$.id') AS ref_id,
         |    json_extract_string(r, '$$.attrs.label') AS label,
         |    CAST(json_extract(r, '$$.attrs.lon') AS DOUBLE) AS lon,
         |    CAST(json_extract(r, '$$.attrs.lat') AS DOUBLE) AS lat,
         |    concat_ws(';', json_extract_string(r, '$$.attrs.origin'),
         |      json_extract_string(r, '$$.attrs.rank'),
         |      json_extract_string(r, '$$.attrs.num')) AS meta
         |  FROM gf0),
         |gr0 AS (SELECT provider, resp_id,
         |    unnest(CAST(json_extract(body, '$$.results') AS JSON[])) AS r,
         |    generate_subscripts(CAST(json_extract(body, '$$.results') AS JSON[]), 1) AS rr
         |  FROM src WHERE provider = 'geoadmin_rev'),
         |gr AS (SELECT provider, resp_id, CAST(rr AS INT) AS result_rank,
         |    json_extract_string(r, '$$.featureId') AS ref_id,
         |    json_extract_string(r, '$$.properties.strname_deinr') || ', ' ||
         |      json_extract_string(r, '$$.properties.dplz4') || ' ' ||
         |      json_extract_string(r, '$$.properties.dplzname') AS label,
         |    CAST(NULL AS DOUBLE) AS lon, CAST(NULL AS DOUBLE) AS lat,
         |    array_to_string(CAST(json_extract(r, '$$.properties.strname')
         |      AS VARCHAR[]), '|') AS meta
         |  FROM gr0)
         |SELECT * FROM nom UNION ALL SELECT * FROM oc
         |UNION ALL SELECT * FROM gf UNION ALL SELECT * FROM gr""".stripMargin)),

    // E10 — lineage/resume under the driver's ORACLE check: a two-stage
    // checkpointed pipeline run COLD then RESUMED against a fresh ckpt dir;
    // output = per-stage lineage rolled up partition-independently (sum rows,
    // bit_xor checksums), excluding wall times. Checksums use the PORTABLE
    // sha60 row hash over each stage's identity columns, so DuckDB
    // independently recomputes rows AND checksums from the materialized
    // stage parquet — resumability is oracle-proven, not just deterministic
    // (the resumed run must reproduce the cold run's lineage exactly, and
    // both must match what is actually on disk).
    Query("ops_lineage", (s, dir) => {
      val ck = s"$OracleDir/ckpt_contract"
      deletePaths(s, ck)
      val (_, idx, polys, cells, scanner) = world(s)
      val pages = Synth.pages(s, 1000, 8).toDF()
      val cfg = Pipeline.Config(ckptDir = Some(ck), runId = "cold",
        lineageKeys = Map(
          "mentions" -> Seq("url", "surface", "kind", "text_sha256"),
          "hits" -> Seq("url", "surface", "verb", "ref_id", "tile_x", "tile_y",
            "text_sha256")))
      val prep = Pipeline.prepare(idx, polys, cells, cfg)
      Pipeline.geocodePrepared(s, pages, prep, scanner, cfg).count()
      Pipeline.geocodePrepared(s, pages, prep, scanner, cfg.copy(runId = "resume")).count()
      Checkpoint.metrics(s, ck)
        .groupBy("stage", "run_id", "resumed")
        .agg(sum("rows").as("rows"), expr("bit_xor(checksum)").as("checksum"))
    },
      // E10 oracle: DuckDB recomputes each stage's lineage (row count +
      // bit_xor of portable sha60 row checksums over the identity columns)
      // DIRECTLY from the materialized checkpoint parquet, and asserts the
      // cold and resumed runs both reported exactly those values.
      Sql(s"""WITH m AS (SELECT count(*) AS n, bit_xor(${sha60Sql(
             "concat_ws('|', url, surface, kind, text_sha256)")}) AS checksum
         |  FROM read_parquet('$OracleDir/ckpt_contract/mentions/*.parquet')),
         |h AS (SELECT count(*) AS n, bit_xor(${sha60Sql(
             "concat_ws('|', url, surface, verb, CAST(ref_id AS VARCHAR), " +
             "CAST(tile_x AS VARCHAR), CAST(tile_y AS VARCHAR), text_sha256)")})
         |    AS checksum
         |  FROM read_parquet('$OracleDir/ckpt_contract/hits/*.parquet'))
         |SELECT 'mentions' AS stage, 'cold' AS run_id, false AS resumed,
         |  n AS "rows", checksum FROM m
         |UNION ALL SELECT 'mentions', 'resume', true, n, checksum FROM m
         |UNION ALL SELECT 'hits', 'cold', false, n, checksum FROM h
         |UNION ALL SELECT 'hits', 'resume', true, n, checksum FROM h""".stripMargin)),

    // ---- oracle-backed ENGINE-VERB queries over arithmetic-derived worlds:
    // the geocoding verbs run through the real engine operators (knnComplete
    // ring expansion, Reverse cell-join + ray-cast, Forward normalize + join
    // + rank, projectCrs) while DuckDB independently recomputes the same
    // world with ANSI SQL — the hard correctness signal for E4/E5/E6/C3-C5.
    Query("geo_knn_oracle", (s, dir) => {
      val q = s.read.parquet(s"$dir/nation.parquet").select(
        col("n_nationkey").as("query_id"),
        (lit(2.0) + col("n_nationkey") * 0.03).as("lon"),
        (lit(41.0) + col("n_nationkey") * 0.02).as("lat"))
      val gaz = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 29 === 0)
        .select(col("o_orderkey").as("place_id"),
          concat(lit("P"), col("o_orderkey")).as("name"),
          lit("gazetteer").as("feature_class"), lit("xx").as("country_code"),
          ((col("o_orderkey") * 7919 % 1000) / lit(1000.0) + 2.0).as("lon"),
          ((col("o_orderkey") * 104729 % 1000) / lit(1000.0) + 41.0).as("lat"))
        .withColumn("cell13", GeoFunctions.cellId(col("lon"), col("lat"),
          lit(graft.geo.CellIndex.FineLevel)))
        // knnComplete's iterative loop re-actions the gazetteer per ring;
        // cache so each pass probes memory, not the orders scan
        .cache()
      // the REAL iterative-ring operator; its coverage guarantee makes it
      // provably equal to the DuckDB brute-force haversine top-k.
      // startRing=0 = density-derived initial radius (one gazetteer agg),
      // so the typical query resolves in 1-2 rounds instead of 3-4
      Knn.knnComplete(q, gaz, k = 5, startRing = 0, maxRingCap = 64)
        .select(col("query_id"), col("knn_rank"), col("place_id"),
          round(col("dist_m"), 0).cast("long").as("dist_m_round"))
    },
      Sql("""WITH q AS (SELECT n_nationkey AS query_id,
        |  CAST(2.0 AS DOUBLE) + n_nationkey * CAST(0.03 AS DOUBLE) AS qlon,
        |  CAST(41.0 AS DOUBLE) + n_nationkey * CAST(0.02 AS DOUBLE) AS qlat FROM nation),
        |p AS (SELECT o_orderkey AS place_id,
        |  (o_orderkey * 7919 % 1000) / CAST(1000.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) AS plon,
        |  (o_orderkey * 104729 % 1000) / CAST(1000.0 AS DOUBLE) + CAST(41.0 AS DOUBLE) AS plat
        |  FROM orders WHERE o_orderkey % 29 = 0),
        |d0 AS (SELECT query_id, place_id,
        |  sin((plat - qlat) * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS slat,
        |  sin((plon - qlon) * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS slon,
        |  cos(qlat * (pi() / CAST(180.0 AS DOUBLE))) AS c1,
        |  cos(plat * (pi() / CAST(180.0 AS DOUBLE))) AS c2 FROM q, p),
        |d AS (SELECT query_id, place_id, CAST(2.0 AS DOUBLE) * CAST(6371008.8 AS DOUBLE)
        |  * asin(least(CAST(1.0 AS DOUBLE), sqrt(slat * slat + c1 * c2 * slon * slon))) AS dist_m
        |  FROM d0),
        |r AS (SELECT query_id, place_id, dist_m,
        |  row_number() OVER (PARTITION BY query_id ORDER BY dist_m, place_id) AS rn FROM d)
        |SELECT query_id, CAST(rn AS INT) AS knn_rank, place_id,
        |  CAST(round(dist_m, 0) AS BIGINT) AS dist_m_round FROM r WHERE rn <= 5""".stripMargin)),
    // Within-distance spatial join (DistanceJoin): every (query, place) pair
    // within 15 km, k-ring cell cover at an auto-chosen level + exact
    // haversine. The coverage guarantee makes it provably equal to the DuckDB
    // brute-force haversine filter.
    Query("geo_distance_join", (s, dir) => {
      val q = s.read.parquet(s"$dir/nation.parquet").select(
        col("n_nationkey").as("query_id"),
        (lit(2.0) + col("n_nationkey") * 0.03).as("lon"),
        (lit(41.0) + col("n_nationkey") * 0.02).as("lat"))
      val plc = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 29 === 0)
        .select(col("o_orderkey").as("place_id"),
          concat(lit("P"), col("o_orderkey")).as("name"),
          ((col("o_orderkey") * 7919 % 1000) / lit(1000.0) + 2.0).as("lon"),
          ((col("o_orderkey") * 104729 % 1000) / lit(1000.0) + 41.0).as("lat"))
      DistanceJoin.withinRadius(q, plc, radiusM = 15000.0)
        .select(col("query_id"), col("place_id"),
          round(col("dist_m"), 0).cast("long").as("dist_m_round"))
    },
      Sql("""WITH q AS (SELECT n_nationkey AS query_id,
        |  CAST(2.0 AS DOUBLE) + n_nationkey * CAST(0.03 AS DOUBLE) AS qlon,
        |  CAST(41.0 AS DOUBLE) + n_nationkey * CAST(0.02 AS DOUBLE) AS qlat FROM nation),
        |p AS (SELECT o_orderkey AS place_id,
        |  (o_orderkey * 7919 % 1000) / CAST(1000.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) AS plon,
        |  (o_orderkey * 104729 % 1000) / CAST(1000.0 AS DOUBLE) + CAST(41.0 AS DOUBLE) AS plat
        |  FROM orders WHERE o_orderkey % 29 = 0),
        |d0 AS (SELECT query_id, place_id,
        |  sin((plat - qlat) * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS slat,
        |  sin((plon - qlon) * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS slon,
        |  cos(qlat * (pi() / CAST(180.0 AS DOUBLE))) AS c1,
        |  cos(plat * (pi() / CAST(180.0 AS DOUBLE))) AS c2 FROM q, p),
        |d AS (SELECT query_id, place_id, CAST(2.0 AS DOUBLE) * CAST(6371008.8 AS DOUBLE)
        |  * asin(least(CAST(1.0 AS DOUBLE), sqrt(slat * slat + c1 * c2 * slon * slon))) AS dist_m
        |  FROM d0)
        |SELECT query_id, place_id, CAST(round(dist_m, 0) AS BIGINT) AS dist_m_round
        |FROM d WHERE dist_m <= CAST(15000.0 AS DOUBLE)""".stripMargin)),
    // bbox-overlap spatial join (PBSM grid + reference-point dedup): page
    // viewport boxes (orders-derived, 0.25-degree lattice so every bound and
    // overlap corner is an exact double) against admin-extent boxes
    // (nation-derived); the oracle is a plain inequality join — a different
    // algorithm that must agree pair-for-pair AND corner-for-corner
    Query("geo_bbox_join", (s, dir) => {
      val k = col("o_orderkey")
      val a = s.read.parquet(s"$dir/orders.parquet")
        .filter(k % 37 === 0)
        .select(k.as("a_id"),
          (lit(-20.0) + (k * 7 % 16) * 2.5).as("a_min_lon"),
          (lit(-10.0) + (k * 11 % 12) * 2.25).as("a_min_lat"),
          ((k % 3) * 0.75).as("__w"))
        .withColumn("a_max_lon", col("a_min_lon") + lit(2.0) + col("__w"))
        .withColumn("a_max_lat", col("a_min_lat") + lit(2.5))
        .drop("__w")
      val n = col("n_nationkey").cast("long")
      val b = s.read.parquet(s"$dir/nation.parquet")
        .select(n.as("b_id"),
          (lit(-18.5) + (n % 6) * 6.5).as("b_min_lon"),
          (lit(-8.25) + floor(n / 6).cast("long") * 5.5).as("b_min_lat"))
        .withColumn("b_max_lon", col("b_min_lon") + lit(5.75))
        .withColumn("b_max_lat", col("b_min_lat") + lit(4.5))
      BboxJoin.overlapJoin(a, b, gridDeg = 3.0)
    },
      // plain inequality join (no grid, no reference point) — a DIFFERENT
      // algorithm from the engine's PBSM cover join; every bound is a multiple
      // of 0.25 so the overlap corners are exact doubles in both engines
      Sql("""WITH a AS (SELECT o_orderkey AS a_id,
        |    CAST(-20.0 AS DOUBLE) + (o_orderkey * 7 % 16) * CAST(2.5 AS DOUBLE) AS a_min_lon,
        |    CAST(-10.0 AS DOUBLE) + (o_orderkey * 11 % 12) * CAST(2.25 AS DOUBLE) AS a_min_lat,
        |    (o_orderkey % 3) * CAST(0.75 AS DOUBLE) AS w
        |  FROM orders WHERE o_orderkey % 37 = 0),
        |ab AS (SELECT a_id, a_min_lon, a_min_lat,
        |    a_min_lon + CAST(2.0 AS DOUBLE) + w AS a_max_lon,
        |    a_min_lat + CAST(2.5 AS DOUBLE) AS a_max_lat FROM a),
        |b AS (SELECT CAST(n_nationkey AS BIGINT) AS b_id,
        |    CAST(-18.5 AS DOUBLE) + (n_nationkey % 6) * CAST(6.5 AS DOUBLE) AS b_min_lon,
        |    CAST(-8.25 AS DOUBLE) + (n_nationkey // 6) * CAST(5.5 AS DOUBLE) AS b_min_lat
        |  FROM nation),
        |bb AS (SELECT b_id, b_min_lon, b_min_lat,
        |    b_min_lon + CAST(5.75 AS DOUBLE) AS b_max_lon,
        |    b_min_lat + CAST(4.5 AS DOUBLE) AS b_max_lat FROM b)
        |SELECT a_id, b_id,
        |  greatest(a_min_lon, b_min_lon) AS ov_min_lon,
        |  greatest(a_min_lat, b_min_lat) AS ov_min_lat,
        |  least(a_max_lon, b_max_lon) AS ov_max_lon,
        |  least(a_max_lat, b_max_lat) AS ov_max_lat
        |FROM ab JOIN bb ON a_min_lon <= b_max_lon AND b_min_lon <= a_max_lon
        |  AND a_min_lat <= b_max_lat AND b_min_lat <= a_max_lat""".stripMargin)),
    // GeoIP-style interval-dictionary lookup (RangeJoin.broadcastLookup):
    // each document's synthetic server IP (portable sha60 -> 32-bit) maps to
    // a nation-derived disjoint IPv4 range table, left-outer so unassigned
    // address space survives; the oracle joins by plain BETWEEN
    Query("geo_ip_lookup", (s, dir) => {
      val probes = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          pmod(graft.functions.TextFunctions.sha60(
            concat(lit("ip:"), col("doc_id").cast("string"))),
            lit(4294967296L)).as("ip"))
      val n = col("n_nationkey").cast("long")
      val ranges = s.read.parquet(s"$dir/nation.parquet").select(
        (n * 134217728L).as("ip_lo"),
        (n * 134217728L + 99999999L).as("ip_hi"),
        col("n_name").as("country"))
      RangeJoin.broadcastLookup(probes, ranges, "ip", "ip_lo", "ip_hi",
          bandSize = 16777216L)
        .select(col("doc_id"), col("ip"),
          coalesce(col("country"), lit("unassigned")).as("country"))
    },
      // plain BETWEEN left join — the engine's banded broadcast probe must
      // agree row-for-row including the unassigned (NULL-payload) space
      Sql(s"""WITH p AS (SELECT doc_id,
         |    ${sha60Sql("'ip:' || CAST(doc_id AS VARCHAR)")} % 4294967296 AS ip
         |  FROM documents),
         |r AS (SELECT CAST(n_nationkey AS BIGINT) * 134217728 AS lo,
         |    CAST(n_nationkey AS BIGINT) * 134217728 + 99999999 AS hi,
         |    n_name FROM nation)
         |SELECT p.doc_id, CAST(p.ip AS BIGINT) AS ip,
         |  coalesce(r.n_name, 'unassigned') AS country
         |FROM p LEFT JOIN r ON p.ip >= r.lo AND p.ip <= r.hi""".stripMargin)),
    Query("geo_reverse_bbox", (s, dir) => {
      val (pts, polys, cells) = bboxWorld(s, dir, compact = false)
      Reverse.reverse(pts, polys, cells, ReverseParams())
        .select("query_id", "polygon_id", "geocode_status")
    },
      Sql(reverseBboxSql)),
    // the SAME rect-polygon PIP question through the COMPACT mixed-level
    // index (CellIndex.compact cell-union normalization) and the
    // multi-level-probe reverse path — identical results, index rows
    // proportional to boundary instead of area; oracled by the same
    // independent bbox re-derivation as geo_reverse_bbox
    Query("geo_reverse_compact", (s, dir) => {
      val (pts, polys, cells) = bboxWorld(s, dir, compact = true)
      Reverse.reverseCompact(pts, polys, cells, ReverseParams())
        .select("query_id", "polygon_id", "geocode_status")
    },
      // the compact-index path answers the SAME question -> same oracle; a
      // disagreement would mean the mixed-level cover broke coverage
      Sql(reverseBboxSql)),
    // Ramer-Douglas-Peucker ring simplification (geo/Simplify via the
    // codegen shim): one deterministic 40-vertex jittered-square ring per
    // polygon, eps 0.02 deg. DuckDB replays the ENTIRE recursive algorithm
    // — farthest-anchor split, per-segment argmax of the identical
    // perpendicular-distance IEEE chain, recursive subdivision — via a
    // recursive CTE, and must reproduce every kept vertex.
    Query("geo_simplify", (s, dir) => {
      val jit = "cast((t * 7919 + cast(polygon_id as bigint) * 104729) % 7 as double) / 200.0D"
      val u = "cast(t % 10 as double) / 10.0D"
      val polys = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").as("polygon_id"))
        .withColumn("ring_lons", expr(
          s"""transform(sequence(0, 39), t -> CASE t div 10
             |  WHEN 0 THEN $u
             |  WHEN 1 THEN 1.0D + $jit
             |  WHEN 2 THEN 1.0D - $u
             |  ELSE 0.0D - $jit END)""".stripMargin))
        .withColumn("ring_lats", expr(
          s"""transform(sequence(0, 39), t -> CASE t div 10
             |  WHEN 0 THEN 0.0D + $jit
             |  WHEN 1 THEN $u
             |  WHEN 2 THEN 1.0D + $jit
             |  ELSE 1.0D - $u END)""".stripMargin))
      polys
        .withColumn("keep", GeoFunctions.simplifyPackedIdx(
          expr("array(0, 40)"), col("ring_lons"), col("ring_lats"), lit(0.02)))
        .select(col("polygon_id"), col("ring_lons"), col("ring_lats"),
          posexplode(col("keep")).as(Seq("pos", "vidx")))
        .select(col("polygon_id"), col("pos").cast("int").as("pos"),
          col("vidx"),
          element_at(col("ring_lons"), col("vidx") + 1).as("x"),
          element_at(col("ring_lats"), col("vidx") + 1).as("y"))
    },
      Sql(simplifyOracleSql)),
    Query("geo_forward_names", (s, dir) => {
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"), col("n_name"))
      val nullS = (n: String) => lit(null).cast("string").as(n)
      def gazHalf(idOff: Int, wMul: Int) = nat.select(
        Forward.normalizeUdf(col("n_name")).as("gaz_key"),
        (col("n_nationkey") + idOff).as("place_id"), col("n_name").as("name"),
        lit(null).cast("map<string,string>").as("altnames"),
        (col("n_nationkey") * 2.0 - 20.0 + idOff).as("lon"),
        (col("n_nationkey") * 1.5 - 10.0 + idOff).as("lat"),
        lit("gazetteer").as("feature_class"), lit("xx").as("country_code"),
        nullS("admin1"), nullS("admin2"), nullS("city"), nullS("suburb"),
        nullS("road"), nullS("house_number"), nullS("postcode"),
        lit(20).as("place_rank"), lit(0.5).as("importance"),
        ((col("n_nationkey") * wMul) % 50 + 1).cast("int").as("weight"))
      val idx = gazHalf(0, 13).unionByName(gazHalf(100, 29))
      val q = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey").as("query_id"), (col("o_orderkey") % 25).as("nk"))
        .join(broadcast(nat), col("nk") === col("n_nationkey"))
        .select(col("query_id"), concat(lit("  "),
          when(col("query_id") % 2 === 0, lower(col("n_name"))).otherwise(col("n_name")),
          lit("?!")).as("query"))
      Forward.forward(q, idx, graft.model.ForwardParams())
        .select("query_id", "result_rank", "place_id", "name", "x", "y")
    },
      Sql("""WITH gaz AS (
        |  SELECT trim(regexp_replace(lower(n_name), '[^a-z0-9]+', ' ', 'g')) AS gaz_key,
        |    n_nationkey AS place_id, n_name AS name,
        |    n_nationkey * CAST(2.0 AS DOUBLE) - CAST(20.0 AS DOUBLE) + 0 AS lon,
        |    n_nationkey * CAST(1.5 AS DOUBLE) - CAST(10.0 AS DOUBLE) + 0 AS lat,
        |    (n_nationkey * 13) % 50 + 1 AS weight FROM nation
        |  UNION ALL
        |  SELECT trim(regexp_replace(lower(n_name), '[^a-z0-9]+', ' ', 'g')),
        |    n_nationkey + 100, n_name,
        |    n_nationkey * CAST(2.0 AS DOUBLE) - CAST(20.0 AS DOUBLE) + 100,
        |    n_nationkey * CAST(1.5 AS DOUBLE) - CAST(10.0 AS DOUBLE) + 100,
        |    (n_nationkey * 29) % 50 + 1 FROM nation),
        |q AS (SELECT o_orderkey AS query_id,
        |    '  ' || CASE WHEN o_orderkey % 2 = 0 THEN lower(n_name) ELSE n_name END
        |    || '?!' AS query
        |  FROM orders JOIN nation ON n_nationkey = o_orderkey % 25
        |  WHERE o_orderkey % 13 = 0),
        |j AS (SELECT query_id, place_id, name, lon, lat, weight FROM q JOIN gaz
        |  ON trim(regexp_replace(lower(query), '[^a-z0-9]+', ' ', 'g')) = gaz_key)
        |SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY weight DESC, place_id) AS INT) AS result_rank,
        |  place_id, name, lon AS x, lat AS y FROM j""".stripMargin)),
    Query("geo_axis_swap", (s, dir) => {
      val pts = s.read.parquet(s"$dir/nation.parquet").select(
        col("n_nationkey"),
        (lit(7.0) + col("n_nationkey") * 0.02).as("lon"),
        (lit(46.2) + col("n_nationkey") * 0.015).as("lat"))
      Seq("4326", "21781", "2056", "3857").map { sr =>
        val (x, y) = Forward.projectCrs(col("lon"), col("lat"), sr)
        pts.select(col("n_nationkey"), lit(sr).as("sr"),
          round(x, 4).as("x"), round(y, 4).as("y"))
      }.reduce(_.unionByName(_))
    },
      Sql("""WITH pts AS (SELECT n_nationkey,
        |  CAST(7.0 AS DOUBLE) + n_nationkey * CAST(0.02 AS DOUBLE) AS lon,
        |  CAST(46.2 AS DOUBLE) + n_nationkey * CAST(0.015 AS DOUBLE) AS lat FROM nation),
        |lp AS (SELECT n_nationkey, lon, lat,
        |  (lon * CAST(3600.0 AS DOUBLE) - CAST(26782.5 AS DOUBLE)) / CAST(10000.0 AS DOUBLE) AS l,
        |  (lat * CAST(3600.0 AS DOUBLE) - CAST(169028.66 AS DOUBLE)) / CAST(10000.0 AS DOUBLE) AS p FROM pts),
        |lv AS (SELECT n_nationkey, lon, lat,
        |  CAST(2600072.37 AS DOUBLE) + CAST(211455.93 AS DOUBLE) * l
        |    - CAST(10938.51 AS DOUBLE) * l * p - CAST(0.36 AS DOUBLE) * l * p * p
        |    - CAST(44.54 AS DOUBLE) * l * l * l - CAST(2000000.0 AS DOUBLE) AS e03,
        |  CAST(1200147.07 AS DOUBLE) + CAST(308807.95 AS DOUBLE) * p
        |    + CAST(3745.25 AS DOUBLE) * l * l + CAST(76.63 AS DOUBLE) * p * p
        |    - CAST(194.56 AS DOUBLE) * l * l * p + CAST(119.79 AS DOUBLE) * p * p * p
        |    - CAST(1000000.0 AS DOUBLE) AS n03 FROM lp)
        |SELECT n_nationkey, '4326' AS sr, round(lon, 4) AS x, round(lat, 4) AS y FROM lv
        |UNION ALL SELECT n_nationkey, '21781', round(e03, 4), round(n03, 4) FROM lv
        |UNION ALL SELECT n_nationkey, '2056',
        |  round(e03 + CAST(2000000.0 AS DOUBLE), 4), round(n03 + CAST(1000000.0 AS DOUBLE), 4) FROM lv
        |UNION ALL SELECT n_nationkey, '3857',
        |  round(lon * CAST(20037508.342789244 AS DOUBLE) / CAST(180.0 AS DOUBLE), 4),
        |  round(ln(tan((CAST(90.0 AS DOUBLE) + lat) * pi() / CAST(360.0 AS DOUBLE)))
        |    / pi() * CAST(20037508.342789244 AS DOUBLE), 4) FROM lv""".stripMargin)),
    Query("geo_bounds_wire", (s, dir) =>
      // S1 — InputBounds wire strings (lib.rs:168-182) on a .25 grid so the
      // double->string render is the exact shortest form in both engines
      s.read.parquet(s"$dir/nation.parquet").select(col("n_nationkey"),
        concat_ws(",",
          (col("n_nationkey") * 0.5 - 10.25).cast("string"),
          (col("n_nationkey") * 0.25 - 3.25).cast("string"),
          (col("n_nationkey") * 0.5 - 7.75).cast("string"),
          (col("n_nationkey") * 0.25 - 1.5).cast("string")).as("wire")),
      Sql("""SELECT n_nationkey, concat_ws(',',
        |  CAST(n_nationkey * CAST(0.5 AS DOUBLE) - CAST(10.25 AS DOUBLE) AS VARCHAR),
        |  CAST(n_nationkey * CAST(0.25 AS DOUBLE) - CAST(3.25 AS DOUBLE) AS VARCHAR),
        |  CAST(n_nationkey * CAST(0.5 AS DOUBLE) - CAST(7.75 AS DOUBLE) AS VARCHAR),
        |  CAST(n_nationkey * CAST(0.25 AS DOUBLE) - CAST(1.5 AS DOUBLE) AS VARCHAR)) AS wire
        |FROM nation""".stripMargin)),
    Query("geo_dms", (s, dir) =>
      s.read.parquet(s"$dir/nation.parquet").select(col("n_nationkey"),
        GeoFunctions.dms(col("n_nationkey") * 0.025 - 0.2, lit(false)).as("dms_lon"),
        GeoFunctions.dms(col("n_nationkey") * 0.015 - 0.06, lit(true)).as("dms_lat")),
      Sql("""WITH pts AS (SELECT n_nationkey,
        |  n_nationkey * CAST(0.025 AS DOUBLE) - CAST(0.2 AS DOUBLE) AS lon,
        |  n_nationkey * CAST(0.015 AS DOUBLE) - CAST(0.06 AS DOUBLE) AS lat FROM nation),
        |g AS (SELECT n_nationkey, lon, lat,
        |  CAST(trunc(abs(lon)) AS INT) AS dlon,
        |  (abs(lon) - trunc(abs(lon))) * CAST(60.0 AS DOUBLE) AS mflon,
        |  CAST(trunc(abs(lat)) AS INT) AS dlat,
        |  (abs(lat) - trunc(abs(lat))) * CAST(60.0 AS DOUBLE) AS mflat FROM pts),
        |h AS (SELECT n_nationkey, lon, lat, dlon, dlat,
        |  CAST(trunc(mflon) AS INT) AS mlon, (mflon - trunc(mflon)) * CAST(60.0 AS DOUBLE) AS slon,
        |  CAST(trunc(mflat) AS INT) AS mlat, (mflat - trunc(mflat)) * CAST(60.0 AS DOUBLE) AS slat
        |  FROM g)
        |SELECT n_nationkey,
        |  dlon || '° ' || mlon || ''' ' || rtrim(rtrim(printf('%.5f', slon), '0'), '.')
        |    || ''''' ' || CASE WHEN lon >= 0 THEN 'E' ELSE 'W' END AS dms_lon,
        |  dlat || '° ' || mlat || ''' ' || rtrim(rtrim(printf('%.5f', slat), '0'), '.')
        |    || ''''' ' || CASE WHEN lat >= 0 THEN 'N' ELSE 'S' END AS dms_lat
        |FROM h""".stripMargin)),
    Query("geo_tile_bounds", (s, dir) => {
      // E7 inverse: tile -> lon/lat bounds; pure web-mercator math both sides
      val t = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          (col("n_nationkey") * 97 % 4096).as("tile_x"),
          (col("n_nationkey") * 61 % 4096).as("tile_y"),
          lit(12).as("tile_z"))
      Tiler.tileBounds(t)
        .select(col("n_nationkey"), col("tile_x"), col("tile_y"),
          round(col("min_lon"), 6).as("min_lon"), round(col("max_lon"), 6).as("max_lon"),
          round(col("min_lat"), 6).as("min_lat"), round(col("max_lat"), 6).as("max_lat"))
    },
      Sql("""WITH t AS (SELECT n_nationkey,
        |  n_nationkey * 97 % 4096 AS tile_x, n_nationkey * 61 % 4096 AS tile_y,
        |  CAST(4096.0 AS DOUBLE) AS n FROM nation)
        |SELECT n_nationkey, tile_x, tile_y,
        |  round(tile_x / n * CAST(360.0 AS DOUBLE) - CAST(180.0 AS DOUBLE), 6) AS min_lon,
        |  round((tile_x + 1) / n * CAST(360.0 AS DOUBLE) - CAST(180.0 AS DOUBLE), 6) AS max_lon,
        |  round(degrees(atan((exp(pi() * (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * (tile_y + 1) / n))
        |    - exp(-(pi() * (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * (tile_y + 1) / n))))
        |    / CAST(2.0 AS DOUBLE))), 6) AS min_lat,
        |  round(degrees(atan((exp(pi() * (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * tile_y / n))
        |    - exp(-(pi() * (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * tile_y / n))))
        |    / CAST(2.0 AS DOUBLE))), 6) AS max_lat
        |FROM t""".stripMargin)),
    // tile pyramid: base zoom pays the only hit-level shuffle, coarser
    // zooms roll up the previous level by exact integer halving; the oracle
    // recomputes every level DIRECTLY from the points (a different
    // algorithm) and must agree bit-for-bit
    Query("geo_tile_pyramid", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .select(((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0)
            .as("lon"),
          ((col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0)
            .as("lat"))
      graft.engine.Tiler.pyramid(pts, zMin = 4, zMax = 8)
    },
      Sql("""WITH pts AS (SELECT
        |  (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
        |  (o_orderkey * 104729 % 170000) / CAST(1000.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS lat
        |  FROM orders),
        |z AS (SELECT unnest(generate_series(4, 8)) AS zz),
        |a AS (SELECT zz,
        |  CAST(floor((lon + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * (1 << zz)) AS BIGINT) AS tile_x,
        |  CAST(floor((CAST(1.0 AS DOUBLE) - ln(tan(radians(lat)) + CAST(1.0 AS DOUBLE) / cos(radians(lat))) / pi())
        |    / CAST(2.0 AS DOUBLE) * (1 << zz)) AS BIGINT) AS tile_y
        |  FROM pts CROSS JOIN z)
        |SELECT CAST(zz AS INT) AS tile_z, tile_x, tile_y, count(*) AS n_hits
        |FROM a GROUP BY 1, 2, 3""".stripMargin)),
    // kernel-smoothed density raster: integer binomial 3x3 kernel per hit
    // (4/2/1), x wrapped at the antimeridian — integer weights keep the
    // rollup exact and order-insensitive; oracle replays the explode+sum
    Query("geo_heatmap", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .select(((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0)
            .as("lon"),
          ((col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0)
            .as("lat"))
      graft.engine.Tiler.heatmap(pts, z = 8)
    },
      // integer binomial kernel replayed as an explicit stencil cross join;
      // integer weights make the sum order-insensitive across engines
      Sql("""WITH pts AS (SELECT
        |  (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
        |  (o_orderkey * 104729 % 170000) / CAST(1000.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS lat
        |  FROM orders),
        |t AS (SELECT
        |  CAST(floor((lon + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * 256) AS BIGINT) AS tx,
        |  CAST(floor((CAST(1.0 AS DOUBLE) - ln(tan(radians(lat)) + CAST(1.0 AS DOUBLE) / cos(radians(lat))) / pi())
        |    / CAST(2.0 AS DOUBLE) * 256) AS BIGINT) AS ty
        |  FROM pts),
        |k AS (SELECT a.dx, b.dy, CAST(4 AS BIGINT) >> (abs(a.dx) + abs(b.dy)) AS w
        |  FROM range(-1, 2) a(dx), range(-1, 2) b(dy)),
        |e AS (SELECT (t.tx + k.dx + 256) % 256 AS tile_x, t.ty + k.dy AS tile_y, k.w
        |  FROM t CROSS JOIN k WHERE t.ty + k.dy >= 0 AND t.ty + k.dy < 256)
        |SELECT tile_x, tile_y, CAST(sum(w) AS BIGINT) AS heat
        |FROM e GROUP BY 1, 2""".stripMargin)),
    // RASTER -> VECTOR: marching-squares iso-contours of the geo_heatmap
    // density raster at its mean heat (16*n/65536, integer div — scale-
    // factor-independent by construction). The single driver-side count is
    // the bounded threshold-statistic collect (the BPE-argmax role); DuckDB
    // replays corner-bit contributions, case indices, the 16-case segment
    // table, and every half-unit endpoint.
    Query("geo_contours", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .select(((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0)
            .as("lon"),
          ((col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0)
            .as("lat"))
      val threshold = 16L * pts.count() / 65536L
      graft.engine.Tiler.contours(
        graft.engine.Tiler.heatmap(pts, z = 8), threshold)
    },
      // marching squares replayed from scratch: the heatmap chain, the mean
      // threshold, corner-bit contributions to the four touching blocks, the
      // 4-bit case index, and the fixed 16-case segment table (saddles 5/10
      // emit the standard pair) — exact integer half-unit endpoints
      Sql("""WITH pts AS (SELECT
        |  (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
        |  (o_orderkey * 104729 % 170000) / CAST(1000.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS lat
        |  FROM orders),
        |t AS (SELECT
        |  CAST(floor((lon + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * 256) AS BIGINT) AS tx,
        |  CAST(floor((CAST(1.0 AS DOUBLE) - ln(tan(radians(lat)) + CAST(1.0 AS DOUBLE) / cos(radians(lat))) / pi())
        |    / CAST(2.0 AS DOUBLE) * 256) AS BIGINT) AS ty
        |  FROM pts),
        |k AS (SELECT a.dx, b.dy, CAST(4 AS BIGINT) >> (abs(a.dx) + abs(b.dy)) AS w
        |  FROM range(-1, 2) a(dx), range(-1, 2) b(dy)),
        |e AS (SELECT (t.tx + k.dx + 256) % 256 AS tile_x, t.ty + k.dy AS tile_y, k.w
        |  FROM t CROSS JOIN k WHERE t.ty + k.dy >= 0 AND t.ty + k.dy < 256),
        |h AS (SELECT tile_x, tile_y, CAST(sum(w) AS BIGINT) AS heat
        |  FROM e GROUP BY 1, 2),
        |np AS (SELECT count(*) AS n FROM pts),
        |d AS (SELECT tile_x AS x, tile_y AS y FROM h, np
        |  WHERE heat >= (16 * np.n) // 65536),
        |cb AS (SELECT d.x + c.dxb AS bx, d.y + c.dyb AS by, c.bit
        |  FROM d CROSS JOIN (VALUES (0, 0, 1), (-1, 0, 2), (-1, -1, 4),
        |    (0, -1, 8)) c(dxb, dyb, bit)),
        |cs AS (SELECT bx, by, CAST(sum(bit) AS BIGINT) AS case_idx
        |  FROM cb GROUP BY 1, 2),
        |sg AS (SELECT * FROM (VALUES (1,0,0,1,1,0), (2,0,1,0,2,1),
        |    (3,0,0,1,2,1), (4,0,2,1,1,2), (5,0,0,1,1,0), (5,1,2,1,1,2),
        |    (6,0,1,0,1,2), (7,0,0,1,1,2), (8,0,1,2,0,1), (9,0,1,0,1,2),
        |    (10,0,1,0,2,1), (10,1,1,2,0,1), (11,0,2,1,1,2), (12,0,2,1,0,1),
        |    (13,0,1,0,2,1), (14,0,0,1,1,0))
        |    v(case_idx, seg_idx, d1x, d1y, d2x, d2y))
        |SELECT cs.bx, cs.by, cs.case_idx, CAST(sg.seg_idx AS INT) AS seg_idx,
        |  CAST(cs.bx * 2 + sg.d1x AS BIGINT) AS x1h,
        |  CAST(cs.by * 2 + sg.d1y AS BIGINT) AS y1h,
        |  CAST(cs.bx * 2 + sg.d2x AS BIGINT) AS x2h,
        |  CAST(cs.by * 2 + sg.d2y AS BIGINT) AS y2h
        |FROM cs JOIN sg ON sg.case_idx = cs.case_idx
        |WHERE cs.case_idx < 15""".stripMargin)),
    // Morton/Z-order locality codes over the clustered synthetic point set:
    // the layout key for engine.ZOrder; DuckDB recomputes the interleave as
    // an explicit per-bit shift sum (a different construction than the
    // engine's magic-mask spread) and must agree bit-for-bit
    Query("geo_zorder", (s, dir) =>
      graft.engine.ZOrder.withZ(clusteredPts(s, dir), col("lon"), col("lat"),
          zoom = 10)
        .select("o_orderkey", "tile_x", "tile_y", "z"),
      Sql(s"""WITH $clusteredTilesCte
        |SELECT o_orderkey, tile_x, tile_y,
        |  ${mortonSql("tile_x", "tile_y", 10)} AS z
        |FROM ctiles""".stripMargin)),
    // bbox scan THROUGH the z-range pruning path (aligned-quad decomposition
    // into contiguous Morton intervals + exact tile refilter): semantically
    // a plain bbox predicate, which is exactly what the oracle runs — the
    // cross-engine proof that pruning never drops a row
    Query("geo_zscan", (s, dir) =>
      graft.engine.ZOrder.scanBbox(
          // CollapseProject would inline the whole morton(tileX(...),
          // tileY(...)) derivation into every one of the z-range
          // disjunction's ~80 comparisons — a ~4000-node filter tree that
          // costs ~1 s of optimizer time per run (the documented Catalyst
          // perf trap). The lazy localCheckpoint pins z as a concrete
          // column, mirroring the production shape where the scan reads a
          // STORED z-ordered layout and the disjunction prunes on stats.
          graft.engine.ZOrder.withZ(clusteredPts(s, dir), col("lon"),
            col("lat"), zoom = 10)
            .select("o_orderkey", "tile_x", "tile_y", "z")
            .localCheckpoint(false),
          minTx = 415, minTy = 390, maxTx = 432, maxTy = 402, zoom = 10)
        .select("o_orderkey", "tile_x", "tile_y", "z"),
      // the oracle is the PLAIN bbox predicate — the engine's z-range-pruned
      // scan must return exactly the same rows or pruning dropped/added one
      Sql(s"""WITH $clusteredTilesCte
        |SELECT o_orderkey, tile_x, tile_y,
        |  ${mortonSql("tile_x", "tile_y", 10)} AS z
        |FROM ctiles
        |WHERE tile_x BETWEEN 415 AND 432 AND tile_y BETWEEN 390 AND 402""".stripMargin)),
    // grid-DBSCAN hotspot clustering: per-tile counts -> dense cells ->
    // 8-neighbor adjacency (x wraps) -> connected components; the oracle
    // re-derives the dense grid and labels components by recursive-CTE
    // reachability (min key), including singleton dense cells
    Query("geo_hotspots", (s, dir) =>
      graft.engine.Hotspots.cluster(clusteredPts(s, dir).select("lon", "lat"),
        zoom = 10, minPts = 10),
      // grid-DBSCAN replayed: dense grid -> 8-neighbor adjacency (x wraps mod
      // 1024) -> recursive-CTE reachability seeded from EVERY dense cell (so
      // singletons label themselves), component id = min tile key
      Sql(s"""WITH RECURSIVE $clusteredTilesCte,
        |cells AS (SELECT tile_x, tile_y, count(*) AS n_points
        |  FROM ctiles GROUP BY 1, 2),
        |dense AS (SELECT tile_x, tile_y, n_points, tile_x * 1024 + tile_y AS key
        |  FROM cells WHERE n_points >= 10),
        |und AS (SELECT a.key AS src, b.key AS dst FROM dense a JOIN dense b
        |  ON ((a.tile_x - b.tile_x + 1024) % 1024) IN (0, 1, 1023)
        |  AND abs(a.tile_y - b.tile_y) <= 1
        |  AND NOT (a.tile_x = b.tile_x AND a.tile_y = b.tile_y)),
        |reach(id, r) AS (SELECT key, key FROM dense
        |  UNION SELECT u.dst, re.r FROM reach re JOIN und u ON u.src = re.id),
        |cc AS (SELECT id AS key, min(r) AS cluster_id FROM reach GROUP BY id),
        |stats AS (SELECT cluster_id, count(*) AS cluster_size,
        |    CAST(sum(n_points) AS BIGINT) AS cluster_points
        |  FROM dense d JOIN cc USING (key) GROUP BY 1)
        |SELECT d.tile_x, d.tile_y, d.n_points, c.cluster_id,
        |  s.cluster_size, s.cluster_points
        |FROM dense d JOIN cc c USING (key) JOIN stats s USING (cluster_id)""".stripMargin)),
    // vector-side polygon analytics over the SAME packed-ring parquet the
    // reverse-geocode PIP scans: shoelace area + area-weighted centroid as
    // one ordered per-row fold (bit-deterministic), bbox, ring/vertex counts
    Query("geo_polygon_stats", (s, dir) => {
      oracleWorldTables(s)
      graft.engine.PolyStats.stats(s.read.parquet(s"$OracleDir/polys"))
    },
      Sql(s"""WITH polys AS (SELECT * FROM read_parquet('$OracleDir/polys/*.parquet')),
         |px AS (SELECT polygon_id, ring_offsets, ring_lons, ring_lats,
         |    CAST(len(ring_lons) AS INT) AS nv FROM polys),
         |pr AS (SELECT *, list_transform(range(nv), i -> CASE
         |      WHEN i + 1 < nv AND NOT list_contains(ring_offsets, i + 1)
         |        THEN i + 1
         |      ELSE list_max(list_filter(ring_offsets, o -> o <= i)) END)
         |    AS nexts FROM px),
         |f AS (SELECT polygon_id, ring_offsets, ring_lons, ring_lats, nv,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(nv), i ->
         |        ring_lons[i+1] * ring_lats[nexts[i+1]+1]
         |          - ring_lons[nexts[i+1]+1] * ring_lats[i+1])),
         |      (a, b) -> a + b) AS a2,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(nv), i ->
         |        (ring_lons[i+1] + ring_lons[nexts[i+1]+1])
         |          * (ring_lons[i+1] * ring_lats[nexts[i+1]+1]
         |             - ring_lons[nexts[i+1]+1] * ring_lats[i+1]))),
         |      (a, b) -> a + b) AS cx6,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(nv), i ->
         |        (ring_lats[i+1] + ring_lats[nexts[i+1]+1])
         |          * (ring_lons[i+1] * ring_lats[nexts[i+1]+1]
         |             - ring_lons[nexts[i+1]+1] * ring_lats[i+1]))),
         |      (a, b) -> a + b) AS cy6
         |  FROM pr)
         |SELECT polygon_id, CAST(len(ring_offsets) AS INT) AS n_rings,
         |  nv AS n_vertices, a2 / CAST(2.0 AS DOUBLE) AS area_deg2,
         |  CASE WHEN a2 <> CAST(0.0 AS DOUBLE)
         |       THEN cx6 / (CAST(3.0 AS DOUBLE) * a2) END AS centroid_lon,
         |  CASE WHEN a2 <> CAST(0.0 AS DOUBLE)
         |       THEN cy6 / (CAST(3.0 AS DOUBLE) * a2) END AS centroid_lat,
         |  list_min(ring_lons) AS min_lon, list_max(ring_lons) AS max_lon,
         |  list_min(ring_lats) AS min_lat, list_max(ring_lats) AS max_lat
         |FROM f""".stripMargin)),
    // geodesic ring length in METERS (rounded to mm): the ordered haversine
    // fold next to stats' planar quantities; DuckDB replays the same chain
    Query("geo_polygon_perimeter", (s, dir) => {
      oracleWorldTables(s)
      graft.engine.PolyStats.perimeter(s.read.parquet(s"$OracleDir/polys"))
        .select(col("polygon_id"), col("n_vertices"),
          round(col("perimeter_m"), 3).as("perimeter_m"))
    },
      Sql(s"""WITH polys AS (SELECT * FROM read_parquet('$OracleDir/polys/*.parquet')),
         |px AS (SELECT polygon_id, ring_offsets, ring_lons, ring_lats,
         |    CAST(len(ring_lons) AS INT) AS nv FROM polys),
         |pr AS (SELECT *, list_transform(range(nv), i -> CASE
         |      WHEN i + 1 < nv AND NOT list_contains(ring_offsets, i + 1)
         |        THEN i + 1
         |      ELSE list_max(list_filter(ring_offsets, o -> o <= i)) END)
         |    AS nexts FROM px),
         |f AS (SELECT polygon_id, nv,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(nv), i ->
         |        CAST(2.0 AS DOUBLE) * CAST(6371008.8 AS DOUBLE) * asin(least(CAST(1.0 AS DOUBLE), sqrt(
         |          sin((ring_lats[nexts[i+1]+1] - ring_lats[i+1])
         |              * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE))
         |          * sin((ring_lats[nexts[i+1]+1] - ring_lats[i+1])
         |              * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE))
         |          + cos(ring_lats[i+1] * (pi() / CAST(180.0 AS DOUBLE)))
         |            * cos(ring_lats[nexts[i+1]+1] * (pi() / CAST(180.0 AS DOUBLE)))
         |            * sin((ring_lons[nexts[i+1]+1] - ring_lons[i+1])
         |                * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE))
         |            * sin((ring_lons[nexts[i+1]+1] - ring_lons[i+1])
         |                * (pi() / CAST(180.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE))))))),
         |      (a, b) -> a + b) AS per
         |  FROM pr)
         |SELECT polygon_id, nv AS n_vertices, round(per, 3) AS perimeter_m
         |FROM f""".stripMargin)),
    // MGRS annotation (closes the opencage.rs:582 schema slot): Krüger UTM
    // with hyperbolics expanded through exp/ln in a fixed operation order,
    // so DuckDB replays the identical IEEE sequence — zone exceptions
    // (Norway/Svalbard) and both hemispheres exercised by the point domain
    Query("geo_mgrs", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          ((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0).as("lon"),
          ((col("o_orderkey") * 104729 % 163800) / lit(1000.0) - 79.9).as("lat"))
        .select(col("o_orderkey"), col("lon"), col("lat"),
          GeoFunctions.mgrs(col("lon"), col("lat")).as("mgrs"))
    },
      Sql(s"""WITH pts AS (SELECT o_orderkey,
         |    (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
         |    (o_orderkey * 104729 % 163800) / CAST(1000.0 AS DOUBLE) - CAST(79.9 AS DOUBLE) AS lat
         |  FROM orders),
         |z AS (SELECT *, CASE
         |    WHEN lat >= 72.0 AND lat < 84.0 AND lon >= 0.0 AND lon < 9.0 THEN 31
         |    WHEN lat >= 72.0 AND lat < 84.0 AND lon >= 9.0 AND lon < 21.0 THEN 33
         |    WHEN lat >= 72.0 AND lat < 84.0 AND lon >= 21.0 AND lon < 33.0 THEN 35
         |    WHEN lat >= 72.0 AND lat < 84.0 AND lon >= 33.0 AND lon < 42.0 THEN 37
         |    WHEN lat >= 56.0 AND lat < 64.0 AND lon >= 3.0 AND lon < 12.0 THEN 32
         |    ELSE CAST(floor((lon + 180.0) / 6.0) AS INT) % 60 + 1 END AS zone
         |  FROM pts),
         |t1 AS (SELECT *, lat * CAST(${Mgrs.DegToRad} AS DOUBLE) AS phi,
         |    (lon - ((zone - 1) * 6.0 - 180.0 + 3.0)) * CAST(${Mgrs.DegToRad} AS DOUBLE) AS lam
         |  FROM z),
         |t2 AS (SELECT *, sin(phi) AS sphi FROM t1),
         |t3 AS (SELECT *, exp(
         |    0.5 * ln((1.0 + sphi) / (1.0 - sphi)) -
         |    CAST(${Mgrs.Cc} AS DOUBLE) * (0.5 * ln((1.0 + CAST(${Mgrs.Cc} AS DOUBLE) * sphi)
         |      / (1.0 - CAST(${Mgrs.Cc} AS DOUBLE) * sphi)))) AS eu FROM t2),
         |t4 AS (SELECT *, (eu - 1.0 / eu) / 2.0 AS t FROM t3),
         |t5 AS (SELECT *, atan(t / cos(lam)) AS xip,
         |    sin(lam) / sqrt(1.0 + t * t) AS w FROM t4),
         |t6 AS (SELECT *, 0.5 * ln((1.0 + w) / (1.0 - w)) AS etap FROM t5),
         |t7 AS (SELECT *, exp(2.0 * etap) AS x2, exp(4.0 * etap) AS x4,
         |    exp(6.0 * etap) AS x6 FROM t6),
         |t8 AS (SELECT *,
         |    xip + CAST(${Mgrs.Al1} AS DOUBLE) * sin(2.0 * xip) * ((x2 + 1.0 / x2) / 2.0)
         |        + CAST(${Mgrs.Al2} AS DOUBLE) * sin(4.0 * xip) * ((x4 + 1.0 / x4) / 2.0)
         |        + CAST(${Mgrs.Al3} AS DOUBLE) * sin(6.0 * xip) * ((x6 + 1.0 / x6) / 2.0) AS xi,
         |    etap + CAST(${Mgrs.Al1} AS DOUBLE) * cos(2.0 * xip) * ((x2 - 1.0 / x2) / 2.0)
         |         + CAST(${Mgrs.Al2} AS DOUBLE) * cos(4.0 * xip) * ((x4 - 1.0 / x4) / 2.0)
         |         + CAST(${Mgrs.Al3} AS DOUBLE) * cos(6.0 * xip) * ((x6 - 1.0 / x6) / 2.0) AS eta
         |  FROM t7),
         |t9 AS (SELECT o_orderkey, lon, lat, zone,
         |    500000.0 + CAST(${Mgrs.K0} AS DOUBLE) * CAST(${Mgrs.AA} AS DOUBLE) * eta AS ee,
         |    CAST(${Mgrs.K0} AS DOUBLE) * CAST(${Mgrs.AA} AS DOUBLE) * xi +
         |      CASE WHEN lat < 0.0 THEN 10000000.0 ELSE 0.0 END AS nn
         |  FROM t8),
         |m AS (SELECT *,
         |    substr('CDEFGHJKLMNPQRSTUVWX',
         |      least(CAST(floor((lat + 80.0) / 8.0) AS INT), 19) + 1, 1) AS band,
         |    CAST(floor(ee / 100000.0) AS INT) AS col_idx,
         |    CAST((CAST(floor(nn / 100000.0) AS BIGINT) % 20 +
         |      CASE WHEN zone % 2 = 0 THEN 5 ELSE 0 END) % 20 AS INT) AS row_idx
         |  FROM t9)
         |SELECT o_orderkey, lon, lat,
         |  lpad(CAST(zone AS VARCHAR), 2, '0') || band ||
         |  substr('ABCDEFGHJKLMNPQRSTUVWXYZ', ((zone - 1) % 3) * 8 + col_idx, 1) ||
         |  substr('ABCDEFGHJKLMNPQRSTUV', row_idx + 1, 1) ||
         |  lpad(CAST(CAST(floor(ee) AS BIGINT) % 100000 AS VARCHAR), 5, '0') ||
         |  lpad(CAST(CAST(floor(nn) AS BIGINT) % 100000 AS VARCHAR), 5, '0')
         |    AS mgrs
         |FROM m""".stripMargin)),
    // geohash annotation (opencage.rs:474 schema slot): the engine's
    // interval-bisection encoder vs DuckDB's list_reduce replay of the
    // SAME bisection (all midpoints are exact dyadic doubles, so the two
    // IEEE chains are identical) + Morton interleave + base32 lookup; the
    // precision-5 column is computed by an INDEPENDENT engine call but the
    // oracle derives it as the 9-char prefix — the prefix-refinement
    // property proven cross-engine
    Query("geo_geohash", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          ((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0).as("lon"),
          ((col("o_orderkey") * 104729 % 163800) / lit(1000.0) - 79.9).as("lat"))
        .select(col("o_orderkey"), col("lon"), col("lat"),
          GeoFunctions.geohash(col("lon"), col("lat"), lit(9)).as("geohash"),
          GeoFunctions.geohash(col("lon"), col("lat"), lit(5)).as("geohash5"))
    },
      Sql(geohashSql)),
    // qibla bearing + Maidenhead locator (E8 annotations, opencage.rs:583/
    // 594) — pure spherical-trig / grid arithmetic DuckDB re-derives with
    // the same operation order (incl. Spark's pmod-on-double semantics)
    Query("geo_qibla_maidenhead", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          ((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0).as("lon"),
          ((col("o_orderkey") * 104729 % 163800) / lit(1000.0) - 79.9).as("lat"))
        .select(col("o_orderkey"),
          // micro-degree truncation: JVM and DuckDB libm sin/atan2 differ in
          // the last ulp (~1e-13 deg), so the contract quantity is the
          // integer µdeg — boundary-flip probability ~1e-7/row, and the
          // fixed input set makes a green run deterministic forever
          floor(graft.engine.Annotate.qibla(col("lon"), col("lat"))
            * lit(1000000.0)).as("qibla_udeg"),
          graft.engine.Annotate.maidenhead(col("lon"), col("lat"))
            .as("maidenhead"))
    },
      Sql("""WITH pts AS (SELECT o_orderkey,
        |    (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
        |    (o_orderkey * 104729 % 163800) / CAST(1000.0 AS DOUBLE) - CAST(79.9 AS DOUBLE) AS lat
        |  FROM orders),
        |q1 AS (SELECT *,
        |    (CAST(39.8262 AS DOUBLE) / CAST(180.0 AS DOUBLE)) * pi()
        |      - (lon / CAST(180.0 AS DOUBLE)) * pi() AS dlon,
        |    (lat / CAST(180.0 AS DOUBLE)) * pi() AS la,
        |    (CAST(21.4225 AS DOUBLE) / CAST(180.0 AS DOUBLE)) * pi() AS mlat
        |  FROM pts),
        |q2 AS (SELECT *, sin(dlon) * cos(mlat) AS y,
        |    cos(la) * sin(mlat) - sin(la) * cos(mlat) * cos(dlon) AS x
        |  FROM q1),
        |q3 AS (SELECT *,
        |    atan2(y, x) * CAST(180.0 AS DOUBLE) / pi() AS deg FROM q2)
        |SELECT o_orderkey,
        |  CAST(floor((CASE WHEN fmod(deg, CAST(360.0 AS DOUBLE)) < 0
        |       THEN fmod(deg, CAST(360.0 AS DOUBLE)) + CAST(360.0 AS DOUBLE)
        |       ELSE fmod(deg, CAST(360.0 AS DOUBLE)) END)
        |    * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS qibla_udeg,
        |  chr(65 + CAST(floor((lon + CAST(180.0 AS DOUBLE))
        |    / CAST(20.0 AS DOUBLE)) AS INT)) ||
        |  chr(65 + CAST(floor((lat + CAST(90.0 AS DOUBLE))
        |    / CAST(10.0 AS DOUBLE)) AS INT)) ||
        |  CAST(CAST(floor(fmod(lon + CAST(180.0 AS DOUBLE),
        |    CAST(20.0 AS DOUBLE)) / CAST(2.0 AS DOUBLE)) AS INT) AS VARCHAR) ||
        |  CAST(CAST(floor(fmod(lat + CAST(90.0 AS DOUBLE),
        |    CAST(10.0 AS DOUBLE))) AS INT) AS VARCHAR) ||
        |  chr(97 + CAST(floor(fmod(lon + CAST(180.0 AS DOUBLE),
        |    CAST(2.0 AS DOUBLE)) * CAST(12.0 AS DOUBLE)) AS INT)) ||
        |  chr(97 + CAST(floor(fmod(lat + CAST(90.0 AS DOUBLE),
        |    CAST(1.0 AS DOUBLE)) * CAST(24.0 AS DOUBLE)) AS INT))
        |    AS maidenhead
        |FROM q3""".stripMargin)),
    // sunrise/sunset annotation (opencage.rs:592-598): the classic USNO
    // almanac algorithm, date keyed by the row's timestamp — DuckDB replays
    // the identical op order incl. Java's %-based angle normalization and
    // Math.round (floor(x+0.5)); polar day/night rows stay NULL in both
    Query("geo_sun", (s, dir) => {
      val ts = (col("epoch_day") * 86400L + 43200L).cast("timestamp")
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          ((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0).as("lon"),
          ((col("o_orderkey") * 104729 % 163800) / lit(1000.0) - 79.9).as("lat"),
          (lit(20500L) + col("o_orderkey") % 365).as("epoch_day"))
        .select(col("o_orderkey"), col("lon"), col("lat"), col("epoch_day"),
          GeoFunctions.sunrise(col("lon"), col("lat"), ts).cast("long")
            .as("sunrise_epoch"),
          GeoFunctions.sunset(col("lon"), col("lat"), ts).cast("long")
            .as("sunset_epoch"))
    },
      Sql(s"""WITH pts AS (SELECT o_orderkey,
         |    (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
         |    (o_orderkey * 104729 % 163800) / CAST(1000.0 AS DOUBLE) - CAST(79.9 AS DOUBLE) AS lat,
         |    20500 + o_orderkey % 365 AS epoch_day
         |  FROM orders),
         |e AS (SELECT p.*, r.rise FROM pts p
         |  CROSS JOIN (SELECT unnest([true, false]) AS rise) r),
         |c1 AS (SELECT *,
         |    CAST(dayofyear(DATE '1970-01-01' + CAST(epoch_day AS INT))
         |      AS DOUBLE) AS doy,
         |    lon / CAST(15.0 AS DOUBLE) AS lngh FROM e),
         |c2 AS (SELECT *, doy + (((CASE WHEN rise THEN CAST(6.0 AS DOUBLE)
         |      ELSE CAST(18.0 AS DOUBLE) END) - lngh) / CAST(24.0 AS DOUBLE))
         |    AS t FROM c1),
         |c3 AS (SELECT *, CAST(0.9856 AS DOUBLE) * t - CAST(3.289 AS DOUBLE)
         |    AS m FROM c2),
         |c4 AS (SELECT *, fmod(fmod(
         |    m + CAST(1.916 AS DOUBLE) * sin(m * ${D(Mgrs.DegToRad)})
         |      + CAST(0.020 AS DOUBLE) * sin(CAST(2.0 AS DOUBLE) * m
         |        * ${D(Mgrs.DegToRad)}) + CAST(282.634 AS DOUBLE),
         |    CAST(360.0 AS DOUBLE)) + CAST(360.0 AS DOUBLE),
         |    CAST(360.0 AS DOUBLE)) AS l FROM c3),
         |c5 AS (SELECT *, fmod(fmod(
         |    atan(CAST(0.91764 AS DOUBLE) * tan(l * ${D(Mgrs.DegToRad)}))
         |      / ${D(Mgrs.DegToRad)},
         |    CAST(360.0 AS DOUBLE)) + CAST(360.0 AS DOUBLE),
         |    CAST(360.0 AS DOUBLE)) AS ra0 FROM c4),
         |c6 AS (SELECT *, (ra0 + (floor(l / CAST(90.0 AS DOUBLE))
         |      * CAST(90.0 AS DOUBLE)) - (floor(ra0 / CAST(90.0 AS DOUBLE))
         |      * CAST(90.0 AS DOUBLE))) / CAST(15.0 AS DOUBLE) AS ra,
         |    CAST(0.39782 AS DOUBLE) * sin(l * ${D(Mgrs.DegToRad)}) AS sindec
         |  FROM c5),
         |c7 AS (SELECT *, (${D(SunZenithCos)} - sindec
         |      * sin(lat * ${D(Mgrs.DegToRad)}))
         |    / (cos(asin(sindec)) * cos(lat * ${D(Mgrs.DegToRad)})) AS cosh
         |  FROM c6),
         |c8 AS (SELECT *, CASE
         |    WHEN cosh > CAST(1.0 AS DOUBLE) OR cosh < CAST(-1.0 AS DOUBLE)
         |      THEN NULL
         |    ELSE (CASE WHEN rise THEN CAST(360.0 AS DOUBLE)
         |        - acos(cosh) / ${D(Mgrs.DegToRad)}
         |      ELSE acos(cosh) / ${D(Mgrs.DegToRad)} END) / CAST(15.0 AS DOUBLE)
         |    END AS h FROM c7),
         |c9 AS (SELECT *, fmod(fmod(
         |    (h + ra - CAST(0.06571 AS DOUBLE) * t - CAST(6.622 AS DOUBLE))
         |      - lngh,
         |    CAST(24.0 AS DOUBLE)) + CAST(24.0 AS DOUBLE),
         |    CAST(24.0 AS DOUBLE)) AS ut FROM c8),
         |s AS (SELECT o_orderkey, lon, lat, epoch_day, rise,
         |    CASE WHEN ut IS NULL THEN NULL
         |      ELSE epoch_day * 86400 + CAST(floor(ut * CAST(3600.0 AS DOUBLE)
         |        + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS secs FROM c9)
         |SELECT o_orderkey, lon, lat, epoch_day,
         |  max(CASE WHEN rise THEN secs END) AS sunrise_epoch,
         |  max(CASE WHEN NOT rise THEN secs END) AS sunset_epoch
         |FROM s GROUP BY 1, 2, 3, 4""".stripMargin)),
    // great-circle navigation annotations per gazetteer point against the
    // fixed track (2,41)->(3,42): initial bearing from track start, signed
    // cross-track offset from the track — map-only row-local trig chains,
    // integral contract columns (micro-degrees / millimeters)
    Query("geo_track", (s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 29 === 0)
        .select(col("o_orderkey").as("place_id"),
          ((col("o_orderkey") * 7919 % 1000) / lit(1000.0) + 2.0).as("lon"),
          ((col("o_orderkey") * 104729 % 1000) / lit(1000.0) + 41.0).as("lat"))
      pts.select(col("place_id"),
        round(GeoFunctions.bearingDeg(lit(2.0), lit(41.0),
          col("lon"), col("lat")) * 1000000.0, 0).cast("long")
          .as("bearing_udeg"),
        round(GeoFunctions.crossTrackM(lit(2.0), lit(41.0), lit(3.0),
          lit(42.0), col("lon"), col("lat")) * 1000.0, 0).cast("long")
          .as("cross_track_mm"))
    },
      // identical IEEE trig chain (the knn-oracle haversine precedent):
      // bearing = atan2(sin dλ cos φ2, cos φ1 sin φ2 − sin φ1 cos φ2 cos dλ)
      // normalized via the same fmod round-trip, cross-track through the
      // bearing in RADIANS after that normalization — integral contract
      // columns (micro-degrees, millimeters)
      Sql(s"""WITH p AS (SELECT o_orderkey AS place_id,
         |  (o_orderkey * 7919 % 1000) / CAST(1000.0 AS DOUBLE) + CAST(2.0 AS DOUBLE) AS plon,
         |  (o_orderkey * 104729 % 1000) / CAST(1000.0 AS DOUBLE) + CAST(41.0 AS DOUBLE) AS plat
         |  FROM orders WHERE o_orderkey % 29 = 0),
         |b AS (SELECT place_id, plon, plat,
         |  ${bearingSql("CAST(2.0 AS DOUBLE)", "CAST(41.0 AS DOUBLE)", "plon", "plat")} AS b13,
         |  ${bearingSql("CAST(2.0 AS DOUBLE)", "CAST(41.0 AS DOUBLE)",
             "CAST(3.0 AS DOUBLE)", "CAST(42.0 AS DOUBLE)")} AS b12,
         |  (CAST(2.0 AS DOUBLE) * CAST(6371008.8 AS DOUBLE) * asin(least(CAST(1.0 AS DOUBLE),
         |    sqrt(sin((plat - CAST(41.0 AS DOUBLE)) * $DegToRadSql / CAST(2.0 AS DOUBLE))
         |       * sin((plat - CAST(41.0 AS DOUBLE)) * $DegToRadSql / CAST(2.0 AS DOUBLE))
         |       + cos(CAST(41.0 AS DOUBLE) * $DegToRadSql) * cos(plat * $DegToRadSql)
         |       * sin((plon - CAST(2.0 AS DOUBLE)) * $DegToRadSql / CAST(2.0 AS DOUBLE))
         |       * sin((plon - CAST(2.0 AS DOUBLE)) * $DegToRadSql / CAST(2.0 AS DOUBLE)))))
         |  ) / CAST(6371008.8 AS DOUBLE) AS d13 FROM p)
         |SELECT place_id,
         |  CAST(round(b13 * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS bearing_udeg,
         |  CAST(round(asin(sin(d13) * sin(b13 * $DegToRadSql - b12 * $DegToRadSql))
         |    * CAST(6371008.8 AS DOUBLE) * CAST(1000.0 AS DOUBLE), 0) AS BIGINT)
         |    AS cross_track_mm
         |FROM b""".stripMargin))
  )
}
