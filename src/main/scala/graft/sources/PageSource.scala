package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fixtures.Synth

/**
 * E1 — pages source abstraction. The engine reads the input_hint table
 * (url, warc_ts, html, text, lang) through this trait so the storage format
 * is a deployment concern: plain Parquet here (the sandbox has no Iceberg
 * runtime jar); an Iceberg/Delta catalog table slots in as another
 * implementation with identical engine code (`spark.read.table(...)`).
 */
trait PageSource {
  def load(spark: SparkSession): DataFrame
}

/** Parquet-backed pages (the Iceberg-shaped table at sandbox scale). */
final case class ParquetPageSource(path: String) extends PageSource {
  def load(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

/** Catalog-table pages (Iceberg/Delta when the runtime jar is present). */
final case class TablePageSource(table: String) extends PageSource {
  def load(spark: SparkSession): DataFrame = spark.read.table(table)
}

/** Deterministic synthesized pages (tests, benchmarks). */
final case class SynthPageSource(n: Long, parts: Int = 32) extends PageSource {
  def load(spark: SparkSession): DataFrame = Synth.pages(spark, n, parts).toDF()
}
