package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.{CellIndex, Geo, Simplify}

/**
 * Spark-internal shims over the pure-Scala geo core. Each method takes/returns
 * Catalyst *internal* types (UTF8String, ArrayData) so `StaticInvoke` can call
 * it from whole-stage-generated code with zero SerDe — this is the
 * "Catalyst-friendly codegen UDFs (no RDDs)" requirement of the north_star,
 * implemented as native expressions rather than opaque Scala UDFs so Catalyst
 * keeps null-propagation, constant-folding and pushdown.
 */
object GeoInternal {
  def kRing(cell: Long, r: Int): ArrayData =
    new GenericArrayData(CellIndex.kRing(cell, r))

  def ringAt(cell: Long, r: Int): ArrayData =
    new GenericArrayData(CellIndex.ring(cell, r))

  def rayCast(lon: Double, lat: Double, offsets: ArrayData,
              lons: ArrayData, lats: ArrayData): Boolean =
    Geo.rayCast(lon, lat, offsets.toIntArray(), lons.toDoubleArray(), lats.toDoubleArray())

  def coverBbox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                level: Int): ArrayData =
    new GenericArrayData(CellIndex.coverBbox(minLon, minLat, maxLon, maxLat, level))

  def compactCells(cells: ArrayData, minLevel: Int): ArrayData =
    new GenericArrayData(CellIndex.compact(cells.toLongArray(), minLevel))

  def simplifyPacked(offsets: ArrayData, lons: ArrayData, lats: ArrayData,
                     epsDeg: Double): ArrayData =
    new GenericArrayData(Simplify.simplifyPacked(offsets.toIntArray(),
      lons.toDoubleArray(), lats.toDoubleArray(), epsDeg))

  def geohash(lon: Double, lat: Double, precision: Int): UTF8String =
    UTF8String.fromString(Geo.geohash(lon, lat, precision))

  def dms(value: Double, isLat: Boolean): UTF8String =
    UTF8String.fromString(Geo.dms(value, isLat))

  def sha256Hex(s: UTF8String): UTF8String =
    UTF8String.fromString(Geo.sha256Hex(s.toString))

  def mgrs1m(lon: Double, lat: Double): UTF8String = {
    val s = graft.geo.Mgrs.mgrs(lon, lat)
    if (s == null) null else UTF8String.fromString(s)
  }

  /** Sunrise/sunset for the UTC day of `tsMicros`, as timestamp micros
    * (null = polar day/night). */
  def sunEventMicros(lon: Double, lat: Double, tsMicros: Long, rise: Boolean): java.lang.Long = {
    val epochDay = Math.floorDiv(tsMicros, 86400000000L)
    val s = Geo.sunEventEpoch(lon, lat, epochDay, rise)
    if (s == null) null else java.lang.Long.valueOf(s.longValue() * 1000000L)
  }
}

/**
 * Column-level API for the engine's scalar spatial functions.
 *
 * All functions are deterministic codegen-capable Catalyst expressions
 * (`StaticInvoke` of static forwarders on [[graft.geo.CellIndex]] /
 * [[graft.geo.Geo]] / [[GeoInternal]]), so they fold on literals, stay inside
 * WholeStageCodegen spans, and never leave the internal row format.
 */
object GeoFunctions {
  import org.apache.spark.sql.functions.lit

  private def col(e: Expression): Column = org.apache.spark.sql.GraftBridge.column(e)
  private def ex(c: Column): Expression = org.apache.spark.sql.GraftBridge.expression(c)

  private def invoke(clazz: Class[_], dt: DataType, name: String, args: Column*): Column =
    col(StaticInvoke(clazz, dt, name, args.map(ex), returnNullable = false))

  private def invokeNullable(clazz: Class[_], dt: DataType, name: String, args: Column*): Column =
    col(StaticInvoke(clazz, dt, name, args.map(ex), returnNullable = true))

  private val cellCls = CellIndex.getClass
  private val geoCls = Geo.getClass
  private val internCls = GeoInternal.getClass

  /** Cell id of (lon, lat) at `level` — E3 in SURVEY.md §2.7. */
  def cellId(lon: Column, lat: Column, level: Column): Column =
    invoke(cellCls, LongType, "encode", lon, lat, level)

  def cellParent(cell: Column, parentLevel: Column): Column =
    invoke(cellCls, LongType, "parent", cell, parentLevel)

  def cellLevel(cell: Column): Column = invoke(cellCls, IntegerType, "level", cell)

  /** Compact a covering-cell array to canonical mixed levels (cell-union
    * normalization; see CellIndex.compact). */
  def compactCells(cells: Column, minLevel: Column): Column =
    invoke(internCls, ArrayType(LongType, containsNull = false),
      "compactCells", cells, minLevel)

  /** Kept flat vertex indices after per-ring Douglas-Peucker simplification
    * of a packed polygon (geo.Simplify). */
  def simplifyPackedIdx(offsets: Column, lons: Column, lats: Column,
                        epsDeg: Column): Column =
    invoke(internCls, ArrayType(IntegerType, containsNull = false),
      "simplifyPacked", offsets, lons, lats, epsDeg)

  /** All cells within Chebyshev radius r (for kNN ring expansion, E6). */
  def kRing(cell: Column, r: Column): Column =
    invoke(internCls, ArrayType(LongType, containsNull = false), "kRing", cell, r)

  /** Hollow ring at exactly radius r. */
  def ringAt(cell: Column, r: Column): Column =
    invoke(internCls, ArrayType(LongType, containsNull = false), "ringAt", cell, r)

  /** Great-circle meters. */
  def haversineM(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    invoke(geoCls, DoubleType, "haversineM", lon1, lat1, lon2, lat2)

  /** Initial great-circle bearing 1→2, degrees in [0, 360). */
  def bearingDeg(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    invoke(geoCls, DoubleType, "bearingDeg", lon1, lat1, lon2, lat2)

  /** Signed cross-track meters of point 3 from the great circle 1→2. */
  def crossTrackM(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                  lon3: Column, lat3: Column): Column =
    invoke(geoCls, DoubleType, "crossTrackM", lon1, lat1, lon2, lat2, lon3, lat3)

  /** Even-odd ray-cast PIP on packed ring arrays — E5. */
  def rayCast(lon: Column, lat: Column, ringOffsets: Column,
              ringLons: Column, ringLats: Column): Column =
    invoke(internCls, BooleanType, "rayCast", lon, lat, ringOffsets, ringLons, ringLats)

  /** Level-`level` covering cells of a bbox (polygon index construction). */
  def coverBbox(minLon: Column, minLat: Column, maxLon: Column, maxLat: Column,
                level: Column): Column =
    invoke(internCls, ArrayType(LongType, containsNull = false), "coverBbox",
      minLon, minLat, maxLon, maxLat, level)

  /** Web-mercator slippy tile coordinates — E7. */
  def tileX(lon: Column, z: Column): Column = invoke(geoCls, LongType, "tileX", lon, z)
  def tileY(lat: Column, z: Column): Column = invoke(geoCls, LongType, "tileY", lat, z)

  /** Morton / Z-order interleave of tile coordinates (locality layout key). */
  def morton(x: Column, y: Column): Column = invoke(geoCls, LongType, "morton", x, y)
  def mortonX(z: Column): Column = invoke(geoCls, LongType, "mortonX", z)
  def mortonY(z: Column): Column = invoke(geoCls, LongType, "mortonY", z)

  /** EPSG:3857 meters (OpenCage Mercator annotation — E8). */
  def mercatorX(lon: Column): Column = invoke(geoCls, DoubleType, "mercatorX", lon)
  def mercatorY(lat: Column): Column = invoke(geoCls, DoubleType, "mercatorY", lat)

  /** Swiss LV03 projection (reference /root/reference/src/geoadmin.rs:311-328). */
  def lv03E(lon: Column, lat: Column): Column = invoke(geoCls, DoubleType, "wgs84ToLv03E", lon, lat)
  def lv03N(lon: Column, lat: Column): Column = invoke(geoCls, DoubleType, "wgs84ToLv03N", lon, lat)

  def geohash(lon: Column, lat: Column, precision: Column): Column =
    invoke(internCls, StringType, "geohash", lon, lat, precision)

  def dms(value: Column, isLat: Column): Column =
    invoke(internCls, StringType, "dms", value, isLat)

  /** MGRS 1 m reference (OpenCage annotation); null outside lat [-80, 84]. */
  def mgrs(lon: Column, lat: Column): Column =
    invokeNullable(internCls, StringType, "mgrs1m", lon, lat)

  /** SHA-256 hex of a string column (byte-identity invariant). */
  def sha256Hex(s: Column): Column = invoke(internCls, StringType, "sha256Hex", s)

  /** Apparent sunrise/sunset timestamps for the UTC day of `ts` (OpenCage
    * Sun annotation, opencage.rs:592-598); null at polar day/night. */
  def sunrise(lon: Column, lat: Column, ts: Column): Column =
    invokeNullable(internCls, TimestampType, "sunEventMicros", lon, lat, ts, lit(true))
  def sunset(lon: Column, lat: Column, ts: Column): Column =
    invokeNullable(internCls, TimestampType, "sunEventMicros", lon, lat, ts, lit(false))
}
