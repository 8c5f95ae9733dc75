package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.contract.{Contract, ContractFixtures, Query, Sql}
import graft.engine.Pipeline
import graft.fixtures.Synth

/**
 * Driver contract (see repo README + SURVEY.md §7): `queries` maps operator
 * names to DataFrame builders over a testdata sf directory; `oracleSql` gives
 * DuckDB-equivalent SQL for every SQL-expressible query (same column names,
 * deterministic values). Engine-native spatial/sketch ops register without an
 * oracle (rows-only check) but are still fully deterministic.
 *
 * Both maps are views of [[graft.contract.Contract.all]], where each query
 * is written once, next to its oracle, in the file of its family.
 */
object SparkEntry {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Contract.all.map { case (name, q) => name -> q.build }

  def oracleSql: Map[String, String] =
    Contract.all.collect { case (name, Query(_, _, Sql(text))) => name -> text }

  /** Pre-materialize every oracle input table (pages for `dir`'s scale +
    * fixture world). Bench calls this OUTSIDE query timing: the writes are
    * input-table preparation, not operator work. */
  def prepareOracleInputs(s: SparkSession, dir: String): Unit = {
    ContractFixtures.oracleWorldTables(s)
    ContractFixtures.oraclePages(s, dir)
    ContractFixtures.providerJsonTable(s)
  }

  /** Flagship: full geocode pipeline (extract -> forward + reverse -> tiles)
    * on synthesized pages at sf0.001 scale. */
  def entry(spark: SparkSession): DataFrame = {
    val (_, idx, polys, cells, scanner) = ContractFixtures.world(spark)
    val pages = Synth.pagesDF(spark, "/root/testdata/sf0.001")
    Pipeline.geocodePrepared(spark, pages, Pipeline.prepare(idx, polys, cells), scanner)
  }
}
