package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * E1 — pages source: the input_hint table (url, warc_ts, html, text, lang)
 * as plain Parquet (the sandbox has no Iceberg runtime jar). An
 * Iceberg/Delta catalog table is read the same way with
 * `spark.read.table(...)`; the engine code downstream is unchanged.
 */
final case class ParquetPageSource(path: String) {
  def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
}
