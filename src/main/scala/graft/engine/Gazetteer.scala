package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.DictScanner
import graft.fixtures.World
import graft.functions.GeoFunctions._
import graft.model.{AdminPolygon, GazetteerRow}

/**
 * Gazetteer + polygon table construction and the broadcastable join indexes
 * (E4: "broadcast cell index + hash join"). At sandbox scale these come from
 * the deterministic fixture world; the loaders are plain DataFrames so a real
 * GeoNames/OSM-extract Parquet (or Iceberg) table slots in unchanged.
 *
 * Scale notes (100 TB design): the gazetteer (~12M GeoNames rows, ~1 GB
 * columnar) broadcasts comfortably; the *name index* is what we broadcast —
 * only (gaz_key, place_id, rank columns, lon/lat), not altnames/addresses.
 * Full rows are joined back by place_id after top-k, so the broadcast payload
 * stays minimal. Polygon rings can exceed broadcast budget at world scale:
 * the cell->polygon index is therefore a separate table, which the bucketed
 * layout (Pipeline.worldScaleLayout + geocodeWorldScaleRead) joins on `cell`
 * without broadcasting it.
 */
object Gazetteer {

  def gazetteerDF(spark: SparkSession, rows: Seq[GazetteerRow] = World.gazetteer()): DataFrame = {
    import spark.implicits._
    rows.toDF()
      .withColumn("cell13", cellId($"lon", $"lat", lit(graft.geo.CellIndex.FineLevel)))
      .withColumn("cell7", cellParent($"cell13", lit(graft.geo.CellIndex.CoarseLevel)))
  }

  /** Exploded name-key join index: one row per (norm key, place). Keep narrow —
    * this is the broadcast side of the forward join. */
  def nameIndex(gazetteer: DataFrame): DataFrame =
    gazetteer.select(
      explode(col("norm_keys")).as("gaz_key"),
      col("place_id"), col("name"), col("altnames"), col("lon"), col("lat"),
      col("feature_class"), col("country_code"),
      col("admin1"), col("admin2"), col("city"), col("suburb"),
      col("road"), col("house_number"), col("postcode"),
      col("place_rank"), col("importance"), col("weight"),
      col("cell13"), col("cell7"))

  def polygonsDF(spark: SparkSession, polys: Seq[AdminPolygon] = World.polygons()): DataFrame = {
    import spark.implicits._
    polys.toDF()
  }

  /** Exploded covering-cell index: one row per (cell, polygon). The reverse
    * join key. Narrow on purpose; ring arrays are joined back by polygon_id. */
  def polygonCellIndex(polygons: DataFrame): DataFrame =
    polygons.select(explode(col("cells")).as("cell"), col("polygon_id"))

  /** Dictionary scanner over every gazetteer name key (driver-built, then
    * broadcast by Extract.mentions). */
  def scanner(rows: Seq[GazetteerRow] = World.gazetteer()): DictScanner =
    new DictScanner(rows.flatMap(_.norm_keys).distinct.toArray)
}
