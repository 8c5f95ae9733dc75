package graft.contract

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The contract registry, checked without a Spark session: building a query
  * list evaluates every oracle SQL string but runs no builder. */
class ContractSpec extends AnyFunSuite {

  private val families = Seq(
    "q" -> RelationalQueries.all, "geo_" -> GeoQueries.all, "doc_" -> DocQueries.all,
    "web_" -> WebQueries.all, "emb_|sim_|mm_" -> VectorQueries.all)

  test("187 unique names across the families, each in the family of its prefix") {
    val names = families.flatMap(_._2.map(_.name))
    assert(names.size === 187)
    assert(names.distinct.size === 187)
    assert(Contract.all.keySet === names.toSet)
    assert(families.map(_._2.size) === Seq(27, 39, 62, 32, 27))
    families.foreach { case (prefix, qs) =>
      qs.foreach(q => assert(q.name.matches(s"($prefix).*") ||
        (prefix == "geo_" && q.name == "ops_lineage"), q.name))
    }
    assert(GeoQueries.all.exists(_.name == "ops_lineage"))
  }

  test("oracleSql keys are a subset of queries keys, every oracle non-empty") {
    val sql = SparkEntry.oracleSql
    assert(sql.size === 180)
    assert(sql.keySet.subsetOf(SparkEntry.queries.keySet))
    sql.foreach { case (name, text) => assert(text != null && text.trim.nonEmpty, name) }
  }

  test("the rows-only queries are exactly the seven non-ANSI sketch and stub rows") {
    val rowsOnly = Contract.all.values.collect { case Query(n, _, RowsOnly) => n }.toSet
    assert(rowsOnly === Set("doc_fingerprints", "doc_minhash_pairs", "doc_ngram_lsh_verified",
      "doc_simhash_pairs", "emb_knn_lsh", "emb_neardup_cosine", "mm_features"))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet === rowsOnly)
  }

  test("the registry builder fails loudly on a name given twice") {
    val q = RelationalQueries.all.head
    val other = GeoQueries.all.head
    val e = intercept[IllegalArgumentException](
      Contract.registry(Seq(q, other, q.copy(oracle = RowsOnly))))
    assert(e.getMessage.contains(q.name))
    assert(Contract.registry(Seq(q, other)).size === 2)
  }
}
