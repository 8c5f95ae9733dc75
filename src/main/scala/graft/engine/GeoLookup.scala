package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.geo.{CellIndex, Geo}

/** The forward top-1 place of a gazetteer key: the `g_*` columns of the
  * fused pipeline projection. */
case class ForwardHit(g_place_id: java.lang.Long, g_name: String,
                      g_lon: java.lang.Double, g_lat: java.lang.Double,
                      g_formatted: String)

/** The polygon a point resolves to: the fields the fused pipeline formats. */
case class ReverseHit(polygon_id: Long, name: String,
                      fmt_house: String, fmt_road: String, fmt_postcode: String,
                      fmt_city: String, fmt_country: String,
                      loc_city: Map[String, String], loc_country: Map[String, String])

/**
 * Driver-built probe structures of the broadcast geocode path, shipped once
 * in a `Broadcast` and probed by UDFs inside the extraction map stage:
 *  - forward: gazetteer key -> its top-1 place (a hash map);
 *  - reverse: level-13 cell -> candidate polygon slots, as a sorted cell
 *    array with CSR offsets into one slot array. Each polygon's rings are
 *    stored once, as primitive arrays, however many cells cover it (the
 *    packed cell index copies them into every covering cell).
 *
 * Slots are numbered in `Reverse.bestPolygon` order (admin_level
 * descending, then polygon_id ascending) and every cell lists its slots in
 * that order, so the first polygon whose rings contain the point is the
 * best one.
 */
final class GeoLookup private (
    names: java.util.HashMap[String, ForwardHit],
    cells: Array[Long],
    cellStart: Array[Int],
    slots: Array[Int],
    ringOffsets: Array[Array[Int]],
    ringLons: Array[Array[Double]],
    ringLats: Array[Array[Double]],
    payload: Array[ReverseHit]) extends Serializable {

  /** Top-1 place of a normalized name key, or null. */
  def forward(key: String): ForwardHit = if (key == null) null else names.get(key)

  /** Most specific polygon containing (lon, lat), or null. */
  def reverse(lon: java.lang.Double, lat: java.lang.Double): ReverseHit = {
    if (lon == null || lat == null) return null
    val i = java.util.Arrays.binarySearch(cells,
      CellIndex.encode(lon, lat, CellIndex.FineLevel))
    if (i < 0) return null
    var k = cellStart(i)
    while (k < cellStart(i + 1)) {
      val s = slots(k)
      if (ringOffsets(s) != null && ringLons(s) != null && ringLats(s) != null &&
          Geo.rayCast(lon, lat, ringOffsets(s), ringLons(s), ringLats(s)))
        return payload(s)
      k += 1
    }
    null
  }
}

/** A polygon as the lookup build collects it. */
private[engine] case class LookupPolygon(
    polygon_id: java.lang.Long, admin_level: java.lang.Integer,
    ring_offsets: Array[Int], ring_lons: Array[Double], ring_lats: Array[Double],
    hit: ReverseHit)

object GeoLookup {

  /** Collects `top1` (Pipeline's `gaz_key` + `g_*` frame), the polygons and
    * their covering cells to the driver and builds the lookup. Polygon ids
    * must be unique and admin levels non-null: the probe order depends on
    * both. */
  def build(top1: DataFrame, polygons: DataFrame, polyCells: DataFrame): GeoLookup = {
    val names = new java.util.HashMap[String, ForwardHit]()
    top1.filter(col("gaz_key").isNotNull)
      .select(col("gaz_key"), struct(col("g_place_id").cast("long").as("g_place_id"),
        col("g_name"), col("g_lon").cast("double").as("g_lon"),
        col("g_lat").cast("double").as("g_lat"), col("g_formatted")))
      .as(Encoders.tuple(Encoders.STRING, Encoders.product[ForwardHit]))
      .collect().foreach { case (k, h) => names.put(k, h) }

    val id = col("polygon_id").cast("long").as("polygon_id")
    val polys = polygons
      .select(id, col("admin_level").cast("int").as("admin_level"),
        col("ring_offsets"), col("ring_lons"), col("ring_lats"),
        struct(id, col("name"), col("fmt_house"),
          col("fmt_road"), col("fmt_postcode"), col("fmt_city"), col("fmt_country"),
          col("loc_city"), col("loc_country")).as("hit"))
      .as(Encoders.product[LookupPolygon]).collect()
    polys.foreach(p => require(p.polygon_id != null && p.admin_level != null,
      s"polygon lookup needs a polygon_id and an admin_level on every polygon: $p"))
    val sorted = polys.sortBy(p => (-p.admin_level.intValue, p.polygon_id.longValue))
    val slotOf = sorted.iterator.map(_.polygon_id.longValue).zipWithIndex.toMap
    require(slotOf.size == sorted.length, "polygon lookup needs unique polygon ids")

    // covering cells of each slot
    val cellsOf = Array.fill(sorted.length)(new scala.collection.mutable.ArrayBuilder.ofLong)
    polyCells.filter(col("polygon_id").isNotNull && col("cell").isNotNull)
      .select(col("polygon_id").cast("long"), col("cell").cast("long"))
      .as(Encoders.product[(Long, Long)])
      .collect().foreach { case (pid, c) => slotOf.get(pid).foreach(s => cellsOf(s) += c) }
    val slotCells = cellsOf.map(_.result())

    // distinct cells, then per-cell slot lists filled in slot order
    val all = slotCells.flatten
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val cells = java.util.Arrays.copyOf(all, n)
    val cellStart = new Array[Int](n + 1)
    slotCells.foreach(_.foreach(c => cellStart(java.util.Arrays.binarySearch(cells, c) + 1) += 1))
    i = 0
    while (i < n) { cellStart(i + 1) += cellStart(i); i += 1 }
    val fill = cellStart.clone()
    val slots = new Array[Int](cellStart(n))
    slotCells.indices.foreach { s =>
      slotCells(s).foreach { c =>
        val j = java.util.Arrays.binarySearch(cells, c)
        slots(fill(j)) = s
        fill(j) += 1
      }
    }
    new GeoLookup(names, cells, cellStart, slots,
      sorted.map(_.ring_offsets), sorted.map(_.ring_lons), sorted.map(_.ring_lats),
      sorted.map(_.hit))
  }

  // Both UDFs are marked nondeterministic although they are pure: that keeps
  // the optimizer from pushing the pipeline's hit filter below them, which
  // inlines a second copy of each probe (and its ray casts) into the filter.

  /** norm -> the `g_*` struct of its top-1 place (null when unresolved). */
  def forwardUdf(bc: Broadcast[GeoLookup]): UserDefinedFunction =
    udf((key: String) => bc.value.forward(key)).asNondeterministic()

  /** (lon, lat) -> the best enclosing polygon's struct (null on a miss). */
  def reverseUdf(bc: Broadcast[GeoLookup]): UserDefinedFunction =
    udf((lon: java.lang.Double, lat: java.lang.Double) => bc.value.reverse(lon, lat))
      .asNondeterministic()
}
