package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a contract query's rows are checked. */
sealed trait Oracle

/** DuckDB re-derives the rows from the same inputs with `text` (same column
  * names, deterministic values). */
final case class Sql(text: String) extends Oracle

/** No SQL oracle: the rows are dumped and must stay deterministic. Used for
  * the non-ANSI sketches (xxhash64/minhash/simhash signatures, the LSH
  * candidate chains, LSH ANN) and the multimodal feature stub. Each has an
  * oracle-backed twin over the same operator: doc_ngram_jaccard (the exact
  * verify stage), sim_band_join (the LSH band candidate plan),
  * emb_knn_brute (exact cosine top-k). */
case object RowsOnly extends Oracle

/** One contract query: its name, its DataFrame builder over a testdata
  * sf directory, and its oracle. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracle: Oracle)

object Contract {

  /** name -> query. Fails loudly on a name given more than once (a `Map`
    * literal would silently keep only the last). */
  def registry(queries: Seq[Query]): Map[String, Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"contract query names given more than once: ${dups.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }

  /** Every contract query, one family file per name prefix. */
  lazy val all: Map[String, Query] = registry(
    RelationalQueries.all ++ GeoQueries.all ++ DocQueries.all ++
      WebQueries.all ++ VectorQueries.all)
}
