package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One committed golden row (golden/, written by graft.GoldenMain). */
final case class GoldenRow(id: String, verb: String, x: Double, y: Double,
                           name: String, formatted: String,
                           tileX: Long, tileY: Long, sha: String)

/** Order-insensitive digest: row count + bit_xor of per-row xxhash64. */
final case class Digest(rows: Long, xor: Long) {
  override def toString: String = s"$rows:${java.lang.Long.toHexString(xor)}"
}

/**
 * Output checks. Every batch observes, inside its own job, a digest of its
 * hits plus one counter per golden expectation on the fixture pages; the
 * digest is compared afterwards with the digest of the unfused verb path
 * over the same pages.
 */
object Checks {
  /** Columns the batch digest covers. */
  val DigestCols: Seq[String] = Seq("url", "surface", "verb", "ref_id", "lon", "lat",
    "tile_x", "tile_y", "name", "formatted")

  def golden(spark: SparkSession, dir: String): Seq[GoldenRow] =
    spark.read.parquet(dir).collect().toSeq.map { r =>
      GoldenRow(r.getAs[String]("fixture_id"), r.getAs[String]("verb"),
        r.getAs[Double]("x"), r.getAs[Double]("y"), r.getAs[String]("name"),
        r.getAs[String]("formatted"), r.getAs[Number]("tile_x").longValue,
        r.getAs[Number]("tile_y").longValue, r.getAs[String]("text_sha256"))
    }

  /** What the fused pipeline must emit for the fixture pages: one hit per
    * golden row at the golden point and tile. Skipped: the LV95 row (its x/y
    * are not lon/lat). The GeoAdmin reverse row names the address-register
    * entry, not the polygon, so its name is not compared. */
  def pageExpectations(golden: Seq[GoldenRow]): Seq[Column] =
    golden.filter(_.id != "ga_forward_lv95")
      .map(g => (g.sha, g.verb, g.x, g.y, g.tileX, g.tileY,
        if (g.id == "ga_reverse") None else Some(g.name)))
      .distinct
      .map { case (sha, verb, x, y, tx, ty, name) =>
        val c = col("text_sha256") === sha && col("verb") === verb &&
          col("lon") === x && col("lat") === y &&
          col("tile_x") === tx && col("tile_y") === ty
        name.map(n => c && col("name") === n).getOrElse(c)
      }

  private def rowHash: Column = xxhash64(DigestCols.map(col): _*)

  def observed(hits: DataFrame, obs: Observation, expectations: Seq[Column]): DataFrame =
    hits.observe(obs, count(lit(1)).as("n"),
      (coalesce(bit_xor(rowHash), lit(0L)).as("x") +:
        expectations.zipWithIndex.map { case (c, i) =>
          sum(when(c, 1L).otherwise(0L)).as(s"g$i")
        }): _*)

  /** Digest and golden failures read back from a batch's observation. */
  def read(obs: Observation, expectations: Int): (Digest, Seq[Int]) = {
    val m = obs.get
    val d = Digest(m("n").asInstanceOf[Long], m("x").asInstanceOf[Long])
    val missing = (0 until expectations).filter(i =>
      Option(m(s"g$i")).forall(_.asInstanceOf[Long] < 1L))
    (d, missing)
  }

  def digest(hits: DataFrame): Digest = {
    val r = hits.agg(count(lit(1)), coalesce(bit_xor(rowHash), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }
}
