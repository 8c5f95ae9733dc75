package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.engine._
import graft.fixtures.Synth
import graft.functions.GeoFunctions
import graft.geo.Mgrs
import graft.model.ReverseParams
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextAnalysis

/**
 * Driver contract (see repo README + SURVEY.md §7): `queries` maps operator
 * names to DataFrame builders over a testdata sf directory; `oracleSql` gives
 * DuckDB-equivalent SQL for every SQL-expressible query (same column names,
 * deterministic values). Engine-native spatial/sketch ops register without an
 * oracle (rows-only check) but are still fully deterministic.
 */
object SparkEntry {

  // ---- shared fixture world (tiny, driver-side) ---------------------------
  private def world(spark: SparkSession) = {
    val gaz = Gazetteer.gazetteerDF(spark)
    val idx = Gazetteer.nameIndex(gaz)
    val polys = Gazetteer.polygonsDF(spark)
    val cells = Gazetteer.polygonCellIndex(polys)
    (gaz, idx, polys, cells, Gazetteer.scanner())
  }

  // ---- oracle input materialization ---------------------------------------
  // The flagship pipeline consumes engine-synthesized pages and the fixture
  // world. To oracle it END TO END (not just via operator twins), those
  // inputs are written once as parquet BOTH engines read: Spark runs the real
  // pipeline over them, DuckDB independently re-derives mentions (regex +
  // longest-match name alternation), PIP (even-odd ray cast on the same
  // packed rings), ranking, formatting, and tiling from the same raw bytes.
  private val OracleDir = sys.env.getOrElse("GRAFT_ORACLE_DIR", "/tmp/graft_oracle")

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

  /** Synthesized pages for `dir`'s scale factor, materialized to parquet
    * (content-fingerprinted marker; rewritten when sf or synthesis change). */
  private def oraclePages(s: SparkSession, dir: String): DataFrame = synchronized {
    val n = Synth.pagesForSf(dir)
    val fp = java.lang.Long.toHexString(
      graft.text.TextCore.fnv64(Synth.fixtureTexts.mkString(" ") + s"|pages|$n"))
    val path = s"$OracleDir/pages"
    val marker = new java.io.File(s"$path/_GRAFT_READY_$fp")
    if (!marker.exists()) {
      Synth.pages(s, n, 32).toDF().write.mode("overwrite").parquet(path)
      marker.createNewFile()
    }
    s.read.parquet(path)
  }

  /** Fixture gazetteer name index + polygons as parquet for the oracle side
    * (static; written once). The engine reads the same rows from memory —
    * parquet round-trips doubles exactly, so both sides see identical bits. */
  private def oracleWorldTables(s: SparkSession): Unit = synchronized {
    val marker = new java.io.File(s"$OracleDir/_GRAFT_WORLD_READY_v3")
    if (!marker.exists()) {
      new java.io.File(OracleDir).mkdirs()
      Gazetteer.nameIndex(Gazetteer.gazetteerDF(s))
        .select("gaz_key", "place_id", "name", "lon", "lat", "weight", "importance",
          "feature_class", "country_code", "admin1", "admin2", "city", "suburb",
          "road", "house_number", "postcode", "place_rank")
        .coalesce(1).write.mode("overwrite").parquet(s"$OracleDir/gaz")
      Gazetteer.gazetteerDF(s)
        .select("place_id", "name", "feature_class", "road", "house_number",
          "postcode", "city", "lon", "lat")
        .coalesce(1).write.mode("overwrite").parquet(s"$OracleDir/places")
      Gazetteer.polygonsDF(s)
        .select("polygon_id", "name", "admin_level", "ring_offsets", "ring_lons",
          "ring_lats", "fmt_house", "fmt_road", "fmt_city", "fmt_postcode", "fmt_country")
        .coalesce(1).write.mode("overwrite").parquet(s"$OracleDir/polys")
      marker.createNewFile()
    }
  }

  /** Provider-shaped JSON response bodies (ProviderFixtures) materialized as
    * (provider, resp_id, body) parquet both engines read — the D4 typed-
    * decode contract input. */
  private def providerJsonTable(s: SparkSession): DataFrame = synchronized {
    import s.implicits._
    val path = s"$OracleDir/provider_json"
    val marker = new java.io.File(s"$path/_GRAFT_READY_v1")
    if (!marker.exists()) {
      graft.sources.ProviderFixtures.rows.toDF("provider", "resp_id", "body")
        .coalesce(1).write.mode("overwrite").parquet(path)
      marker.createNewFile()
    }
    s.read.parquet(path)
  }

  /** `dir`'s events table copied under OracleDir as a DIRECTORY (the
    * streaming file source wants a dir, the testdata table is a bare file);
    * returns the path. Rewritten when `dir` changes. */
  private def oracleEvents(s: SparkSession, dir: String): String = synchronized {
    val fp = java.lang.Long.toHexString(graft.text.TextCore.fnv64(dir))
    // Path scoped by the source-dir hash (ADVICE r4): each sf dir gets its
    // own IMMUTABLE copy, so two drivers sharing OracleDir never interleave
    // a rewrite with the other's ready marker. Publication is write-to-temp
    // + atomic rename, so a concurrent process either sees the complete copy
    // or writes its own and loses the rename race harmlessly.
    val path = s"$OracleDir/events_stream_$fp"
    val pathF = new java.io.File(path)
    if (!new java.io.File(pathF, "_GRAFT_READY").exists()) {
      val tmp = s"${path}_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
      s.read.parquet(s"$dir/events.parquet")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp, "_GRAFT_READY").createNewFile()
      if (!new java.io.File(tmp).renameTo(pathF)) {
        val fs = org.apache.hadoop.fs.FileSystem
          .get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
    }
    path
  }

  /** `dir`'s documents table as a streaming-source DIRECTORY under
    * OracleDir — same immutable scoped-path + atomic-rename publication as
    * [[oracleEvents]]. */
  private def oracleDocuments(s: SparkSession, dir: String): String = synchronized {
    val fp = java.lang.Long.toHexString(graft.text.TextCore.fnv64(dir))
    val path = s"$OracleDir/documents_stream_$fp"
    val pathF = new java.io.File(path)
    if (!new java.io.File(pathF, "_GRAFT_READY").exists()) {
      val tmp = s"${path}_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
      s.read.parquet(s"$dir/documents.parquet")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp, "_GRAFT_READY").createNewFile()
      if (!new java.io.File(tmp).renameTo(pathF)) {
        val fs = org.apache.hadoop.fs.FileSystem
          .get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
    }
    path
  }

  /** Pre-materialize every oracle input table (pages for `dir`'s scale +
    * fixture world). Bench calls this OUTSIDE query timing: the writes are
    * input-table preparation, not operator work. */
  def prepareOracleInputs(s: SparkSession, dir: String): Unit = {
    oracleWorldTables(s)
    oraclePages(s, dir)
    providerJsonTable(s)
  }

  /** Flagship: full geocode pipeline (extract -> forward + reverse -> tiles)
    * on synthesized pages at sf0.001 scale. */
  def entry(spark: SparkSession): DataFrame = {
    val (_, idx, polys, cells, scanner) = world(spark)
    val pages = Synth.pagesDF(spark, "/root/testdata/sf0.001")
    Pipeline.geocodePrepared(spark, pages, Pipeline.prepare(idx, polys, cells), scanner)
  }

  private def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")

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
  private def embs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Documents with planted near-duplicates (deterministic) so pair-producing
    * dedup ops have non-trivial output at every sf. */
  private def docsWithNearDups(s: SparkSession, dir: String) = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate tail")).as("text")))
  }

  /** A deterministic "next crawl" snapshot over the base corpus: exact
    * re-crawls (doc_id%3==0, identical bytes), near-duplicate re-crawls
    * (doc_id%5==0 among the rest, an appended tail), and genuinely new
    * pages (doc_id%7==1, synthetic fresh bodies). */
  private def newSnapshot(s: SparkSession, dir: String) = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("text"))
      .unionByName(base.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          concat(col("text"), lit(" fresh crawl tail")).as("text")))
      .unionByName(base.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 40000000L).as("doc_id"),
          concat(lit("entirely new page body number "), col("doc_id").cast("string"),
            lit(" with unrelated words qwx zvy")).as("text")))
  }

  /** Query terms for the BM25 contract row — drawn from the synthetic corpus
    * vocabulary so df spans common ("table") to rarer ("vector") terms. */
  private val Bm25QueryTerms = Seq("spark", "vector", "merge", "customer")
  /** Count-Min sketch dimensions for the heavy-hitter contract row: 4 rows
    * of 512 cells — small enough for DuckDB to rebuild every cell, wide
    * enough that top-gram estimates stay near-exact. */
  private val CmDepth = 4
  private val CmWidth = 512
  /** Bloom filter dimensions for the blocklist contract row: 3 hashes over
    * 1024 bits — small enough for DuckDB to rebuild every set bit, sized so
    * a ~1% false-positive tail is actually exercised. */
  private val BloomK = 3
  private val BloomM = 1024

  // ---- shared oracle-SQL fragments ----------------------------------------
  /** Planted near-dup corpus + tokenization + distinct-3-gram shingles —
    * the DuckDB re-derivation of [[Dedup.shingleCol]] over
    * [[docsWithNearDups]]. */
  /** Planted messy-URL corpus (deterministic from doc_id): both engines build
    * the IDENTICAL raw strings — scheme/host case noise, www., default and
    * non-default ports, trailing slashes, shuffled + tracking query params,
    * fragments — then each canonicalizes independently (Spark via
    * etl/UrlOps expressions, DuckDB via its own regexp/list functions). */
  private def docsWithUrls(s: SparkSession, dir: String) = {
    val d = col("doc_id")
    docs(s, dir).select(d,
      concat(
        when(pmod(d, lit(2L)) === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
        when(pmod(d, lit(4L)) === 0, lit("WWW.")).otherwise(lit("")),
        lit("Host"), pmod(d, lit(5L)).cast("string"),
        lit(".Example"), pmod(d, lit(4L)).cast("string"), lit(".COM"),
        when(pmod(d, lit(8L)) === 0, lit(":80"))
          .when(pmod(d, lit(8L)) === 1, lit(":8080")).otherwise(lit("")),
        lit("/Dir/p"), pmod(d, lit(7L)).cast("string"),
        when(pmod(d, lit(9L)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(d, lit(16L)) < 8,
          concat(lit("?b=2&id="), pmod(d, lit(3L)).cast("string"),
            lit("&utm_source=feed")))
          .otherwise(concat(lit("?id="), pmod(d, lit(3L)).cast("string"),
            lit("&utm_source=feed&b=2"))),
        when(pmod(d, lit(8L)) === 2, lit("&fbclid=XyZ123")).otherwise(lit("")),
        when(pmod(d, lit(6L)) === 0, lit("#Section-2")).otherwise(lit(""))
      ).as("url"))
  }

  /** DuckDB twin of docsWithUrls + an independent re-derivation of the
    * UrlOps canonicalization rules (fragment, case, www., default ports,
    * trailing slashes, tracking-param filter + bytewise param sort). */
  private val urlCanonCtes: String =
    """u AS (SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
      |    (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) ||
      |    'Host' || CAST(doc_id % 5 AS VARCHAR) ||
      |    '.Example' || CAST(doc_id % 4 AS VARCHAR) || '.COM' ||
      |    (CASE WHEN doc_id % 8 = 0 THEN ':80'
      |          WHEN doc_id % 8 = 1 THEN ':8080' ELSE '' END) ||
      |    '/Dir/p' || CAST(doc_id % 7 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 9 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 16 < 8
      |          THEN '?b=2&id=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_source=feed'
      |          ELSE '?id=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_source=feed&b=2' END) ||
      |    (CASE WHEN doc_id % 8 = 2 THEN '&fbclid=XyZ123' ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#Section-2' ELSE '' END) AS url
      |  FROM documents),
      |p1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
      |p2 AS (SELECT doc_id, url,
      |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_replace(nf, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM p1),
      |p3 AS (SELECT *, lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
      |    regexp_replace(rest, '^[^/?]*', '') AS pq FROM p2),
      |p4 AS (SELECT *,
      |    regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '^www\.', '')
      |      AS host,
      |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port0,
      |    regexp_replace(regexp_extract(pq, '^([^?]*)', 1), '/+$', '') AS path,
      |    CASE WHEN contains(pq, '?')
      |         THEN regexp_replace(pq, '^[^?]*\?', '') ELSE '' END AS q0
      |  FROM p3),
      |p5 AS (SELECT *,
      |    CASE WHEN port0 = '' THEN ''
      |         WHEN scheme = 'http' AND port0 = '80' THEN ''
      |         WHEN scheme = 'https' AND port0 = '443' THEN ''
      |         ELSE ':' || port0 END AS port,
      |    array_to_string(list_sort(list_filter(string_split(q0, '&'),
      |      x -> x <> '' AND NOT regexp_matches(x,
      |        '^(utm_[^=&]*|fbclid|gclid|ref)(=.*)?$'))), '&') AS q
      |  FROM p4),
      |c AS (SELECT doc_id, url, scheme, host, port, path, q,
      |    scheme || '://' || host || port || path ||
      |    (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon_url FROM p5)""".stripMargin

  private val nearDupShingleCtes: String =
    """all_docs AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000000 AS doc_id,
      |    text || ' near duplicate tail' AS text FROM documents WHERE doc_id % 50 = 0),
      |tok AS (SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
      |    x -> length(x) > 0) AS toks FROM all_docs),
      |sh AS (SELECT doc_id, CASE
      |    WHEN len(toks) = 0 THEN []
      |    WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |    ELSE list_distinct(list_transform(range(len(toks) - 2),
      |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) END AS sh
      |  FROM tok)""".stripMargin

  /** [[nearDupShingleCtes]] + the deterministic candidate set + exact shingle
    * Jaccard per pair — shared by the verify-stage and clustering oracles. */
  private val nearDupJaccardCtes: String =
    s"""$nearDupShingleCtes,
      |cand AS (SELECT doc_id AS doc_a, doc_id + 10000000 AS doc_b
      |    FROM documents WHERE doc_id % 50 = 0
      |  UNION ALL SELECT doc_id AS doc_a, doc_id + 1 AS doc_b
      |    FROM documents WHERE doc_id % 7 = 0),
      |jj AS (SELECT c.doc_a, c.doc_b,
      |    CASE WHEN len(a.sh) = 0 OR len(b.sh) = 0 THEN CAST(0.0 AS DOUBLE)
      |    ELSE len(list_filter(a.sh, x -> list_contains(b.sh, x)))
      |      / CAST(len(a.sh) + len(b.sh)
      |        - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
      |    END AS jaccard
      |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b)"""
      .stripMargin

  // PII regex literals for the oracle: the runtime values of the TextAnalysis
  // patterns carry single backslashes, which DuckDB string literals pass to
  // RE2 unprocessed — same bytes both engines.
  private def EmailSqlRe = TextAnalysis.EmailRe
  private def Ipv4SqlRe = TextAnalysis.Ipv4Re
  private def PhoneSqlRe = TextAnalysis.PhoneRe

  /** Quality-metric CTEs (t, m) over `src(doc_id, text)` — the DuckDB
    * re-derivation of TextAnalysis.withQuality, shared by doc_quality and
    * the end-to-end cleaning pipeline. */
  private def qualityCtes(src: String): String =
    s"""t AS (SELECT doc_id, text, length(text) AS len,
      |  list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
      |    x -> length(x) > 0) AS toks FROM $src),
      |m AS (SELECT doc_id, text, len(toks) AS n_tokens,
      |  length(regexp_replace(text, '\\s+', '', 'g'))
      |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_token_len,
      |  (len - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
      |    / CAST(greatest(len, 1) AS DOUBLE) AS punct_ratio,
      |  (len - length(regexp_replace(text, '[0-9]', '', 'g')))
      |    / CAST(greatest(len, 1) AS DOUBLE) AS digit_ratio,
      |  len(list_filter(toks, x -> x IN
      |    ('the','and','of','to','in','is','that','it','was','for')))
      |    / CAST(greatest(len(toks), 1) AS DOUBLE) AS stop_ratio FROM t),
      |q AS (SELECT doc_id, text, n_tokens, mean_token_len,
      |  round(greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE),
      |    least(n_tokens / CAST(20.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
      |    + (CASE WHEN mean_token_len BETWEEN CAST(3.0 AS DOUBLE) AND CAST(10.0 AS DOUBLE)
      |       THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
      |    + (CAST(1.0 AS DOUBLE) - least(punct_ratio * CAST(5.0 AS DOUBLE),
      |       CAST(1.0 AS DOUBLE))) * CAST(0.2 AS DOUBLE)
      |    + (CAST(1.0 AS DOUBLE) - least(digit_ratio * CAST(5.0 AS DOUBLE),
      |       CAST(1.0 AS DOUBLE))) * CAST(0.1 AS DOUBLE)
      |    + least(stop_ratio * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
      |      * CAST(0.1 AS DOUBLE))), 6) AS quality_score FROM m)""".stripMargin

  /** Scale-out for a single-small-file scan feeding compute-heavy map work
    * (opt guide §2): keyed N-way repartition at the session's shuffle
    * parallelism — without it the whole downstream token/regex fan-out runs
    * inside the one scan task the small file produces. The shuffle moves
    * only the small table once; at crawl scale the same expression is a
    * no-op-sized rebalance. */
  private def spread(df: DataFrame, key: Column): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, key)

  /** Deterministic near-dup candidate set over [[docsWithNearDups]]: the
    * planted (base, tail-appended) pairs plus adjacent-id negatives. */
  private def nearDupCand(d: DataFrame): DataFrame = {
    val ids = d.select(col("doc_id"))
    ids.filter(col("doc_id") >= 10000000L)
      .select((col("doc_id") - 10000000L).as("doc_a"), col("doc_id").as("doc_b"))
      .unionByName(ids.filter(col("doc_id") % 7 === 0 && col("doc_id") < 10000000L)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core over TPC-H-ish tables (oracle-backed) ----------
    // Revenue sums go through DECIMAL(30,6): the per-row double product is
    // bit-identical in Spark and DuckDB, and the decimal SUM is exact and
    // order-insensitive — immune to partial-agg summation-order drift that
    // can exceed the 4dp rounding grain on ~1e10 sums.
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(org.apache.spark.sql.types.DecimalType(30, 6))), 4)
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
    }),
    // backward as-of join: each purchase matched to the user's latest view at
    // or before it — tagged-union + single window pass (one shuffle, no range
    // theta join); oracle = DuckDB's NATIVE ASOF LEFT JOIN, a different
    // algorithm producing the same rows
    "q13_asof" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("view_eid"),
          max("value").as("view_val"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      AsOf.asofJoin(purchases, views, Seq("user_id"), "ts")
    }),
    // exact interpolated percentiles (both engines: linear interpolation at
    // rank (n-1)*p) + a distribution sketch check via exact median
    "q16_percentile" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.5)").as("price_p50"))),
    // pivot: wide per-return-flag sums (explicit value list so the plan is a
    // single pass — no distinct-values pre-query); oracle = conditional aggs
    "q15_pivot" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum("l_quantity"))),
    // point-in-interval range join: clicks matched to 2h post-signup windows
    // via banded equi-join + residual BETWEEN (never a theta join); oracle =
    // DuckDB's native inequality join, a different algorithm
    "q14_range" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      // exact microseconds both engines (epoch seconds would truncate in
      // Spark but stay fractional in DuckDB's epoch())
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_eid"),
          unix_micros(col("ts").cast("timestamp")).as("lo"),
          (unix_micros(col("ts").cast("timestamp")) + 7200000000L).as("hi"))
      RangeJoin.rangeJoin(clicks, windows, Seq("user_id"),
          "ts_us", "lo", "hi", bandSize = 3600000000L)
        .select("user_id", "event_id", "ts_us", "signup_eid", "lo")
    }),
    // grouping-sets family: ROLLUP with grouping() markers (subtotal rows'
    // NULLs disambiguated from data NULLs) — single pass, partial agg per set
    "q12_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
          grouping("l_returnflag").as("g_rf"), grouping("l_linestatus").as("g_ls"))),
    // value-based (RANGE) window frame: per-supplier trailing-30-day
    // quantity — the frame is defined by ORDER-BY VALUE distance, not row
    // position, so ties (same ship day) are peers and the frame width varies
    // per row; completes §2.8's frame-spec coverage next to q9's ROWS frame
    "q17_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
        .rangeBetween(-30, 0)
      s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("d",
          datediff(col("l_shipdate").cast("date"), lit("1995-01-01").cast("date")))
        .withColumn("qty_30d", sum(col("l_quantity")).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "d", "qty_30d")
    }),
    // unpivot/melt — the inverse of q15's pivot, via the native Dataset
    // .unpivot operator (wide flag columns back to (flag, value) rows);
    // nulls dropped explicitly to pin both engines to the same semantics
    "q18_unpivot" -> ((s, dir) => {
      val wide = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_linestatus").pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum("l_quantity"))
      wide.unpivot(Array(col("l_linestatus")),
          Array(col("A"), col("N"), col("R")), "flag", "sum_qty")
        .filter(col("sum_qty").isNotNull)
    }),
    // generator/UDTF surface as its own row: lateral posexplode of the
    // tokenization (one row per token with its position) — the explode
    // runs inside the scan stage (no shuffle), and the oracle re-derives
    // the token lists and zip-aligns positions via parallel unnest
    "q19_explode" -> ((s, dir) => {
      val toks = filter(split(lower(col("text")), "[^\\p{L}\\p{Nd}]+"),
        t => length(t) > 0)
      docs(s, dir).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    }),
    // CUBE completes the grouping-sets family next to q12's ROLLUP: all four
    // grouping sets in one pass, subtotal NULLs disambiguated by grouping()
    "q20_cube" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
          grouping("l_returnflag").as("g_rf"), grouping("l_linestatus").as("g_ls"))),
    // INTERSECT completes the set-op family next to q6's EXCEPT
    "q21_intersect" -> ((s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet").select(col("p_partkey").as("k"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_quantity") > 45).select(col("l_partkey").as("k"))
      p.intersect(l)
    }),
    // corpus-composition report — the per-source/language mix table every
    // training-data pipeline publishes before sampling: counts, volume, and
    // each cell's share of the whole corpus via a window over the aggregate
    // (an unpartitioned window over grouped rows — cheap because it runs
    // over the AGGREGATE, never the raw docs)
    "doc_corpus_mix" -> ((s, dir) => {
      val agg = docs(s, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      val w = Window.partitionBy()
      agg.withColumn("doc_share",
          round(col("n_docs") / sum(col("n_docs")).over(w), 6))
        .withColumn("char_share",
          round(col("total_chars") / sum(col("total_chars")).over(w), 6))
    }),
    // deterministic train/val/test split — every doc's assignment is a pure
    // function of (salt, doc_id) via the portable sha60, so splits are
    // replayable across reruns and engines; map-only, no shuffle at any scale
    "doc_split" -> ((s, dir) =>
      graft.text.Corpus.withSplit(docs(s, dir), col("doc_id"))
        .select("doc_id", "split_bucket", "split")),
    // stratified deterministic sampling to a target language mixture: rates
    // folded into the plan as a CASE literal, survival decided per-row by the
    // portable hash — changing one stratum's rate never perturbs another's
    "doc_sample_stratified" -> ((s, dir) =>
      graft.text.Corpus.sampleStratified(docs(s, dir), col("lang"),
          col("doc_id"), Map("en" -> 0.3, "zh" -> 0.8), defaultRate = 0.6)
        .select("doc_id", "lang")),
    // fixed-window document chunking with overlap (size 200, stride 150) —
    // the context-window preparation step; a map-side generator that streams
    // inside the scan stage (same shape as q19's lateral explode)
    "doc_chunks" -> ((s, dir) =>
      graft.text.Corpus.chunk(
          docs(s, dir).filter(col("doc_id") % 10 === 0).select("doc_id", "text"),
          col("text"), size = 200, stride = 150)
        .select("doc_id", "chunk_id", "chunk_off", "chunk_text", "chunk_chars")),
    // top-k vocabulary with deterministic tie-break: partial map-side agg →
    // one shuffle over distinct tokens → TakeOrdered top-k → rank window
    // over ≤ k rows (never a global sort of the vocabulary)
    "doc_vocab" -> ((s, dir) =>
      graft.text.Corpus.vocabTopK(docs(s, dir), col("text"), k = 100)),
    // BPE tokenizer TRAINING (merge learning): 6 rounds of pair-stats ->
    // argmax -> literal double-replace rewrite over the word-type table;
    // DuckDB replays every round exactly (see bpeOracleSql)
    "doc_bpe_train" -> ((s, dir) =>
      graft.text.BpeTrain.learnMerges(docs(s, dir), col("text"), rounds = 6)),
    // checkpoint-resumed BPE training — the pipeline's one inherently
    // SEQUENTIAL critical path made incremental: a rounds=4 run leaves
    // blocks bpe_i0..bpe_i4 on disk; the rounds=6 rerun serves all five
    // from checkpoint (resumed_stages=5, oracle-gated) and trains only the
    // two new merges — the "extend the vocabulary without redoing 30k
    // rounds" shape. Final merge table is the bit-exact 6-round replay
    "doc_bpe_train_resume" -> ((s, dir) => {
      val ck = s"$OracleDir/ckpt_bpe"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ck), true)
      val d = docs(s, dir)
      val fp = s"docs|$dir"
      graft.text.BpeTrain.learnMergesResumable(s, ck, fp, d, col("text"),
        rounds = 4).count()
      val out = graft.text.BpeTrain.learnMergesResumable(s, ck, fp, d,
        col("text"), rounds = 6)
      val resumed = Checkpoint.metrics(s, ck)
        .filter(col("resumed") === true)
        .agg(countDistinct("stage").as("resumed_stages"))
      out.crossJoin(broadcast(resumed))
    }),
    // the ENCODE half: corpus size in learned-BPE tokens (train 6 merges,
    // then a map-only per-occurrence apply + one per-doc sum)
    "doc_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.BpeTrain.learnMerges(d, col("text"), rounds = 6)
      graft.text.BpeTrain.applyMerges(d, col("doc_id"), col("text"), merges)
    }),
    // adjacent-token PMI collocations: two combinable aggs (bigram counts
    // via the codegen window-ngram call, unigram counts) + a join over only
    // the >= 5-count pairs; the single float step is one fixed-order
    // multiply/divide chain into ln, rounded to 6, and the top-50 cut
    // orders by (pmi6, tok_a, tok_b) so DuckDB ties identically
    "doc_pmi" -> ((s, dir) =>
      graft.text.Cooccur.pmiTopK(docs(s, dir), col("text"),
        minPairCount = 5, k = 50)),
    // mergeable base-2 log-histogram quantile sketch (4 sub-buckets per
    // octave) of document char lengths per source — pure integer bit math
    // end-to-end; DuckDB rebuilds every cell and threshold
    "doc_quantile_sketch" -> ((s, dir) =>
      graft.sketch.QuantileHist.sketch(docs(s, dir), col("source"),
          length(col("text")).cast("long"), Seq(50, 90, 99))
        .withColumnRenamed("key", "source")),
    // frozen-weight logistic quality filter: the model ships as plan
    // literals, scoring is map-only, and the keep decision gates on the
    // 6dp-rounded probability so the boundary is engine-independent
    "doc_quality_logit" -> ((s, dir) =>
      graft.text.TextAnalysis.withLogitQuality(docs(s, dir))
        .select(col("doc_id"), round(col("logit"), 6).as("logit6"),
          round(col("p_keep"), 6).as("p_keep6"),
          (round(col("p_keep"), 6) >= 0.5).as("keep"))),
    // TRAINING the quality filter (the step that produces frozen weights):
    // full-batch logistic GD, label = curated-source slice; each round is
    // ONE combinable decimal-sum aggregation, weights ride as plan literals
    "doc_logit_train" -> ((s, dir) =>
      graft.text.LogitTrain.trainQuality(s, docs(s, dir),
        col("source").isin("src0", "src1"), rounds = 3, lr = 0.5)),
    // sketch-driven gating: the per-source p90 length from the mergeable
    // histogram broadcast back onto the corpus — the two-pass shape a
    // crawl-scale tail-trim actually runs (sketch pass + map-only gate)
    "doc_length_gate" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len"))
      val p90 = graft.sketch.QuantileHist.sketch(d, col("source"), col("len"),
          Seq(90))
        .select(col("key").as("source"), col("est_value").as("p90_est"))
      d.join(broadcast(p90), "source")
        .select(col("doc_id"), col("source"), col("len"), col("p90_est"),
          (col("len") <= col("p90_est")).as("keep"))
    }),
    // mergeability proof: shard the corpus 3 ways, sketch each shard, union
    // + cell-sum merge, THEN estimate — the oracle recomputes directly from
    // all values, so a hash match proves merge == one-shot
    "doc_quantile_merge" -> ((s, dir) => {
      val d = docs(s, dir).select(col("source"),
        length(col("text")).cast("long").as("v"),
        pmod(col("doc_id"), lit(3L)).as("shard"))
      val shards = (0 until 3).map(i =>
        graft.sketch.QuantileHist.cells(d.filter(col("shard") === i),
          col("source"), col("v")))
      graft.sketch.QuantileHist.quantiles(
          graft.sketch.QuantileHist.merge(shards.reduce(_ unionByName _)),
          Seq(50, 90, 99))
        .withColumnRenamed("key", "source")
    }),
    // exact duplicated-substring spans (the suffix-array-style substring
    // dedup step, window-granular): 8-token windows repeated corpus-wide,
    // merged gaps-and-islands per doc — one combinable count on the window
    // text + a per-doc bounded window, never a global sort
    "doc_substring_dedup" -> ((s, dir) =>
      graft.dedup.SubstringDedup.duplicatedSpans(
        spread(docsWithNearDups(s, dir), col("doc_id")),
        col("doc_id"), col("text"), k = 8)),
    // cross-snapshot incremental dedup: classify a new crawl against the
    // base corpus — digest semi join for exact, capped portable-band recall
    // + exact shingle-Jaccard verify for near; delta-sized work throughout
    "doc_incremental_dedup" -> ((s, dir) =>
      graft.dedup.Dedup.incrementalStatus(
        newSnapshot(s, dir), docs(s, dir).select(col("doc_id"), col("text")),
        threshold = 0.5, perms = 16, bands = 4, maxBucket = 256)),
    // temperature-scaled source mixing: one tiny integer mass agg + a
    // window over the AGGREGATE + a broadcast rate join; the sha60 coin
    // keeps the kept-set replayable at any cluster size
    "doc_source_mix" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        graft.text.TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
      graft.text.Corpus.temperatureMix(d, col("source"), col("doc_id"),
          col("n_tok"), alpha = 0.5, budgetFraction = 0.5)
        .select(col("doc_id"), col("source"), col("rate_ppm"))
    }),
    // unigram-LM quality score (the CCNet perplexity-gate analog): vocab is
    // ONE combinable count, scoring a hash join + per-doc decimal sum
    "doc_lm_score" -> ((s, dir) =>
      graft.text.TextAnalysis.lmScore(docs(s, dir), col("doc_id"), col("text"))),
    // interpolated BIGRAM-LM (one order up): first token scores p_uni,
    // every later position ln(0.7*c_ab/c_a + (1-0.7)*c_b/N); bigram stream
    // is one codegen windowNgrams call, model = two combinable counts
    "doc_lm_bigram" -> ((s, dir) =>
      graft.text.TextAnalysis.bigramLmScore(docs(s, dir), col("doc_id"),
        col("text"), lam = 0.7)),
    // interpolated KNESER-NEY bigram LM (the KenLM/CCNet smoothing family):
    // discounted bigram MLE backed off to the CONTINUATION distribution
    // N1+(.b)/T — all model quantities are combinable counts over bigram
    // types, scoring the same hash-join + per-doc decimal-sum shape
    "doc_lm_kn" -> ((s, dir) =>
      graft.text.TextAnalysis.knBigramLmScore(docs(s, dir), col("doc_id"),
        col("text"), d = 0.75)),
    // CCNet head/middle/tail perplexity bucketing: corpus-derived thresholds
    // from the MERGEABLE quantile sketch (never a global sort/ntile), bucket
    // membership an exact integer compare on per-token NLL in 1e-7 nats
    "doc_ccnet_buckets" -> ((s, dir) =>
      graft.text.Corpus.ccnetBuckets(docs(s, dir), col("doc_id"),
        col("text"), lam = 0.7)),
    // Unicode NFC normalization (UAX #15 canonical compose) as a codegen
    // StaticInvoke — the cleanup pass every multilingual corpus needs before
    // hashing/dedup (decomposed accents hash differently); a deterministic
    // combining-mark suffix on every 3rd doc makes the changed flag real
    "doc_unicode_norm" -> ((s, dir) => {
      val suffix = when(col("doc_id") % 3 === 0,
        lit(" cafe\u0301 A\u030A n\u0303o")).otherwise(lit(""))
      docs(s, dir)
        .withColumn("raw", concat(col("text"), suffix))
        .select(col("doc_id"),
          graft.functions.TextFunctions.nfcNorm(col("raw")).as("norm_text"),
          (graft.functions.TextFunctions.nfcNorm(col("raw")) =!= col("raw"))
            .as("changed"),
          length(col("raw")).cast("int").as("n_chars_raw"),
          length(graft.functions.TextFunctions.nfcNorm(col("raw")))
            .cast("int").as("n_chars_norm"))
    }),
    // one-pass corpus profiler (the data-quality audit before any training
    // run): row/null/distinct counts and exact length stats in ONE
    // aggregation job; the ppm mean is integral so the row hashes portably
    "doc_profile" -> ((s, dir) =>
      docs(s, dir).agg(
        count(lit(1)).as("n_rows"),
        count(col("text")).as("n_text_nonnull"),
        countDistinct(col("doc_id")).as("n_distinct_ids"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        min(length(col("text"))).cast("int").as("min_len"),
        max(length(col("text"))).cast("int").as("max_len"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        expr("(sum(CAST(length(text) AS BIGINT)) * 1000000) div count(1)")
          .as("avg_len_ppm"))),
    // Bloom-filter blocklist membership: the filter is <= m rows no matter
    // how large the blocklist, broadcast to the probe — candidates never
    // shuffle; misses exact, false positives bounded and audited here
    // HTML -> text extraction over the input_hint html:binary shape: the
    // crawl-pipeline step that DERIVES the text column. Deterministic html
    // synthesized from the documents table in BOTH engines (script/style/
    // comment blocks, mixed-case tags, the &amp;lt; double-decode trap);
    // DuckDB replays the identical fixed rule chain byte-for-byte.
    "web_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<HTML><head><SCRIPT type=\"a\">var x = 1 < 2 && y > 0;</script>"),
        lit("<style media=\"all\">.c { color: red }</STYLE></head><body>"),
        lit("<!-- header\n comment --><h1>Doc &#39;"),
        col("doc_id").cast("string"), lit("&#39;</h1>\n<p>"),
        col("text"),
        lit("</p>\t<div class=\"f\">&amp;lt; &nbsp; &quot;q&quot; &gt;</div></body></html>"))
      docs(s, dir).select(col("doc_id"),
          graft.functions.TextFunctions.htmlText(html.cast("binary")).as("clean_text"))
        .withColumn("n_chars", length(col("clean_text")).cast("int"))
    }),
    // HTML outlink extraction + RFC 3986 resolution — the pages -> edges
    // feeder of the link graph. Extraction is Spark's NATIVE codegen
    // regexp_extract_all (no custom expression); only dot-segment
    // resolution is a shim (Links.resolveUrl). One href of every form per
    // doc: absolute, protocol-relative, root-relative, dot-relative,
    // plain relative + query, fragment-only.
    "web_extract_links" -> ((s, dir) => {
      val d = col("doc_id")
      val base = concat(lit("https://host"), pmod(d, lit(5L)).cast("string"),
        lit(".example/a/b/p"), pmod(d, lit(7L)).cast("string"), lit(".html"))
      val html = concat(
        lit("<html><body><a href=\"http://ext"), pmod(d, lit(7L)).cast("string"),
        lit(".example/abs\">Abs Link</a> <a href=\"//cdn"), pmod(d, lit(3L)).cast("string"),
        lit(".example/x\">Cdn</a><p><a href=\"/r/"), pmod(d, lit(5L)).cast("string"),
        lit("\">Root</a></p><a href=\"../q"), pmod(d, lit(3L)).cast("string"),
        lit(".html\">Up One</a><a href=\"c"), pmod(d, lit(2L)).cast("string"),
        lit(".html?z=1\">Rel</a><a href=\"#top\">Frag</a></body></html>"))
      docs(s, dir).select(d, base.as("base_url"), html.as("html"))
        .select(col("doc_id"), col("base_url"), posexplode(arrays_zip(
          regexp_extract_all(col("html"),
            lit("<a href=\"([^\"]*)\">"), lit(1)).as("href"),
          regexp_extract_all(col("html"),
            lit("<a href=\"[^\"]*\">([^<]*)</a>"), lit(1)).as("anchor"))))
        .select(col("doc_id"), col("pos").cast("int").as("link_pos"),
          col("col.href").as("href"), col("col.anchor").as("anchor"),
          graft.functions.TextFunctions.resolveUrl(
            col("base_url"), col("col.href")).as("resolved_url"))
    }),
    // rel=canonical collapse — the URL-level dedup signal pages declare
    // about THEMSELVES: extract the canonical link (absent on some docs ->
    // self-canonical), resolve it, and group docs under their canonical
    // target with a deterministic representative (min doc_id)
    "web_rel_canonical" -> ((s, dir) => {
      val d = col("doc_id")
      val base = concat(lit("https://host"), pmod(d, lit(5L)).cast("string"),
        lit(".example/a/b/p"), pmod(d, lit(7L)).cast("string"), lit(".html"))
      val href = when(pmod(d, lit(3L)) === 0,
          concat(lit("https://canon.example/c"), pmod(d, lit(11L)).cast("string")))
        .otherwise(concat(lit("/canon/p"), pmod(d, lit(11L)).cast("string")))
      val html = when(pmod(d, lit(5L)) === 4, lit("<html><head></head></html>"))
        .otherwise(concat(lit("<html><head><link rel=\"canonical\" href=\""),
          href, lit("\"></head></html>")))
      val t = docs(s, dir).select(d, base.as("base_url"), html.as("html"))
        .withColumn("c_href", regexp_extract(col("html"),
          "<link rel=\"canonical\" href=\"([^\"]*)\">", 1))
        .withColumn("canonical_url",
          when(col("c_href") === "", col("base_url"))
            .otherwise(graft.functions.TextFunctions.resolveUrl(
              col("base_url"), col("c_href"))))
      val w = Window.partitionBy(col("canonical_url"))
      t.select(col("doc_id"), col("canonical_url"),
        (col("doc_id") === min(col("doc_id")).over(w)).as("is_rep"),
        count(lit(1)).over(w).as("n_in_group"))
    }),
    "web_bloom" -> ((s, dir) => {
      val canon = docsWithUrls(s, dir)
        .select(col("doc_id"), graft.etl.UrlOps.canonicalUrl(col("url")).as("canon_url"))
      val urls = canon.select("canon_url").distinct()
      val block = canon.filter(col("doc_id") % 7 === 0)
        .select("canon_url").distinct()
      val bf = graft.sketch.Bloom.build(block, col("canon_url"), BloomK, BloomM)
      graft.sketch.Bloom.mightContain(bf, urls, col("canon_url"), BloomK, BloomM)
        .join(block.withColumn("in_blocklist", lit(true)),
          col("item") === col("canon_url"), "left")
        .select(col("item").as("canon_url"), col("bloom_hit"),
          coalesce(col("in_blocklist"), lit(false)).as("in_blocklist"))
    }),
    // the substring-dedup REWRITER: duplicated spans removed from the token
    // stream — one bounded span-fold aggregate + a hash join back to docs
    "doc_substring_strip" -> ((s, dir) =>
      graft.dedup.SubstringDedup.stripSpans(
        docsWithNearDups(s, dir), col("doc_id"), col("text"), k = 8)),
    // BM25 ranked retrieval: query-term filter BEFORE the postings
    // exchange, 1-row stats + query-sized df broadcast, TakeOrdered top-k
    "doc_bm25" -> ((s, dir) =>
      graft.text.Search.bm25(spread(docs(s, dir), col("doc_id")),
        col("doc_id"), col("text"),
        queryTerms = Bm25QueryTerms, topK = 20)),
    // TF-IDF keyword extraction: top-3 characteristic terms per doc with
    // the smooth sklearn idf, 7dp-DECIMAL scores (the bm25 determinism
    // contract), ties by term asc; DuckDB replays the identical ln chain
    "doc_tfidf" -> ((s, dir) =>
      graft.text.Search.tfIdfTopK(docs(s, dir), col("doc_id"), col("text"),
          k = 3)
        .withColumnRenamed("doc_key", "doc_id")),
    // heavy hitters: exact top-20 3-grams (tie-break gram asc) checked
    // against the portable Count-Min sketch (4x512, sha60 family) — the
    // sketch is bounded cells regardless of stream size and broadcast to
    // the estimate join; cm_est >= n_true by construction
    "doc_heavy_hitters" -> ((s, dir) => {
      val grams = graft.dedup.SubstringDedup.tokenWindows(
          docs(s, dir), col("doc_id"), col("text"), k = 3)
        .select(col("win_text").as("gram"))
      val top = grams.groupBy("gram").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("gram")).limit(20)
      val sk = graft.sketch.CountMin.sketch(grams, col("gram"),
        depth = CmDepth, width = CmWidth)
      graft.sketch.CountMin.estimate(sk, top, col("gram"), CmDepth, CmWidth)
        .join(top, col("item") === col("gram"))
        .select(col("gram"), col("n_true"), col("cm_est"))
    }),
    // sketch MERGEABILITY under the contract: per-shard Count-Min sketches
    // (doc_id parity) merged by cell sum, then estimated — the oracle
    // recomputes the WHOLE-stream sketch, so the hash match proves
    // merge(sketch(A), sketch(B)) == sketch(A ++ B)
    "doc_sketch_merge" -> ((s, dir) => {
      val d = docs(s, dir)
      def grams(part: DataFrame) = graft.dedup.SubstringDedup.tokenWindows(
        part, col("doc_id"), col("text"), k = 3).select(col("win_text").as("gram"))
      val all = grams(d)
      val top = all.groupBy("gram").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("gram")).limit(20)
      val sk = graft.sketch.CountMin.merge(
        graft.sketch.CountMin.sketch(grams(d.filter(col("doc_id") % 2 === 0)),
          col("gram"), CmDepth, CmWidth),
        graft.sketch.CountMin.sketch(grams(d.filter(col("doc_id") % 2 === 1)),
          col("gram"), CmDepth, CmWidth))
      graft.sketch.CountMin.estimate(sk, top, col("gram"), CmDepth, CmWidth)
        .join(top, col("item") === col("gram"))
        .select(col("gram"), col("n_true"), col("cm_est"))
    }),
    // corpus-wide segment-level exact dedup (the CCNet/RefinedWeb line-dedup
    // step) over the planted-dup corpus: 20-char windows as segments, first
    // occurrence wins via a COMBINABLE min(struct) — the hot-segment shuffle
    // collapses map-side, never through one window task
    "doc_line_dedup" -> ((s, dir) => {
      val segs = graft.text.Corpus.chunk(docsWithNearDups(s, dir),
        col("text"), size = 20, stride = 20)
      graft.text.Corpus.dedupSegments(segs, col("doc_id"), col("chunk_id"),
        col("chunk_text"))
    }),
    // C4-style boilerplate segment rules, each flag exposed for audit;
    // map-only over the same 30-char segmentation
    "doc_boilerplate" -> ((s, dir) =>
      graft.text.Corpus.segmentFlags(
          graft.text.Corpus.chunk(docs(s, dir).select("doc_id", "text"),
            col("text"), size = 30, stride = 30),
          col("chunk_text"), minWords = 3,
          blacklist = Seq("javascript", "lorem"))
        .select("doc_id", "chunk_id", "flag_too_short", "flag_blacklist",
          "flag_brace", "seg_keep")),
    // benchmark decontamination: every training doc sharing a 6-gram with
    // the (broadcast) eval subset is flagged with its collision count
    "doc_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.text.Corpus.decontaminate(d.select("doc_id", "text"),
          col("doc_id"), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 6)
        .select("doc_id", "n_contaminated_grams", "contaminated")
    }),
    // GPT-style sequence packing: concat-and-cut at 64 tokens within 4
    // shards, exploded to per-(doc, sequence) slice rows — pure integer
    // window math, bit-replayable by any engine
    "doc_pack_sequences" -> ((s, dir) => {
      val packed = graft.text.Corpus.packSequences(
        docs(s, dir).select(col("doc_id"), col("text")),
        pmod(col("doc_id"), lit(4L)), col("doc_id"),
        graft.text.TextAnalysis.tokenCountWs(col("text")), seqLen = 64)
      graft.text.Corpus.packExplode(packed, seqLen = 64)
        .select("doc_id", "shard", "seq_id", "doc_tok_off", "seq_tok_off",
          "n_toks")
    }),
    // per-source quality gate: drop docs under their source's p25 quality —
    // thresholds are one broadcast row per source; scores rounded to 6
    // digits before BOTH the percentile and the comparison (bit-stable gate)
    "doc_quality_gate" -> ((s, dir) =>
      graft.text.Corpus.qualityGate(spread(docs(s, dir), col("doc_id")),
          col("source"), pct = 0.25)
        .select("doc_id", "source", "quality_score", "quality_thr")),
    // per-source cap (host-level cap): keep the 10 best-quality docs per
    // source, doc_id breaking ties — one hash shuffle + a bounded window
    "doc_domain_cap" -> ((s, dir) => {
      val scored = TextAnalysis.withQuality(docs(s, dir))
        .withColumn("quality_score", round(col("quality_score"), 6))
      graft.text.Corpus.capPerStratum(scored, col("source"), col("doc_id"),
          col("quality_score"), n = 10)
        .select("doc_id", "source", "quality_score", "strat_rank")
    }),
    // correlated scalar subquery (per-brand max) — exercises Catalyst's
    // subquery decorrelation into an aggregate + join; max is order-exact so
    // the double comparison is bit-stable in both engines
    "q22_corr_scalar" -> ((s, dir) => {
      s.read.parquet(s"$dir/part.parquet").createOrReplaceTempView("graft_part")
      s.sql("""SELECT p_partkey, p_brand, p_retailprice FROM graft_part p
               WHERE p_retailprice = (SELECT max(p2.p_retailprice)
                 FROM graft_part p2 WHERE p2.p_brand = p.p_brand)""")
    }),
    // correlated NOT EXISTS with an extra non-equi predicate — decorrelates
    // to a left-anti join with a compound condition (q5 covers the plain
    // anti-join; this is the subquery-surface route to it)
    "q23_not_exists" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("graft_orders")
      s.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("graft_lineitem")
      s.sql("""SELECT o_orderkey, o_totalprice FROM graft_orders o
               WHERE o_totalprice > 100000 AND NOT EXISTS (
                 SELECT 1 FROM graft_lineitem l
                 WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)""")
    }),
    // analytic-function family: lag/lead/ntile/first_value over a unique
    // (date, key) ordering so every engine agrees on ties
    "q24_analytic" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"),
          first(col("o_orderkey")).over(w).as("first_key"))
    }),
    // higher-order array functions (transform/filter/aggregate/exists) over
    // the shared tokenizer — DuckDB recomputes them with its list lambdas
    "q25_higher_order" -> ((s, dir) => {
      val toks = graft.text.TextAnalysis.tokens(col("text"))
      docs(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          size(filter(toks, t => length(t) > 3)).as("n_long"),
          aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
            .as("total_len"),
          coalesce(array_max(transform(toks, t => length(t))), lit(0))
            .as("max_len"),
          exists(toks, t => t === "the").as("has_the"))
    }),
    "q2_join_topk" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet").filter(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey")
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(org.apache.spark.sql.types.DecimalType(30, 6))), 4)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    }),
    "q3_window" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    }),
    "q4_semijoin" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet").filter(col("l_quantity") > 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    }),
    "q5_antijoin" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 450000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
    }),
    "q6_setop" -> ((s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet").select(col("p_partkey").as("k"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_quantity") > 45).select(col("l_partkey").as("k"))
      p.except(l)
    }),
    "q7_events_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    "q8_scalar_fns" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head10"),
        length(col("text")).as("len"),
        (col("n_chars") % 7).as("mod7"),
        concat_ws("-", col("lang"), col("source")).as("tag"))
    }),

    // ---- spatial math with pure-SQL oracles ------------------------------
    "geo_tile_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0).as("lon"),
          ((col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0).as("lat"))
        .select(GeoFunctions.tileX(col("lon"), lit(8)).as("tile_x"),
          GeoFunctions.tileY(col("lat"), lit(8)).as("tile_y"))
        .groupBy("tile_x", "tile_y").agg(count(lit(1)).as("n"))
    }),
    "geo_lv03" -> ((s, dir) => {
      s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          (lit(7.0) + col("n_nationkey") * 0.05).as("lon"),
          (lit(46.2) + col("n_nationkey") * 0.04).as("lat"))
        .select(col("n_nationkey"),
          GeoFunctions.lv03E(col("lon"), col("lat")).as("lv03_e"),
          GeoFunctions.lv03N(col("lon"), col("lat")).as("lv03_n"))
    }),
    "geo_mercator" -> ((s, dir) => {
      s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey"),
          ((col("n_nationkey") * 13 % 360) - 180 + 0.25).as("lon"))
        .select(col("n_nationkey"), GeoFunctions.mercatorX(col("lon")).as("merc_x"))
    }),

    // ---- geocoding engine over materialized synth pages (oracle-backed:
    // DuckDB re-derives extraction/PIP/ranking from the same parquet) -------
    "geo_forward_pages" -> ((s, dir) => {
      val (_, idx, _, _, scanner) = world(s)
      oracleWorldTables(s)
      Forward.geocodeMentions(graft.etl.Extract.mentions(s, oraclePages(s, dir), scanner), idx)
        .select("url", "surface", "name", "place_id", "lon", "lat", "result_rank")
    }),
    // F5/F7/R4 — the *_full result surface as its own contract row: the
    // query-verb Forward.forward with addressdetails (openstreetmap.rs:410-437
    // semantics), a viewbox pre-filter (P1), per-query limit 3, OpenCage's
    // full `formatted` (opencage.rs:803-905), GeoAdmin's label
    // (geoadmin.rs:563-618), and the country-keyed annotations
    // (currency/callingcode/timezone/flag, opencage.rs:580-599). DuckDB
    // recomputes the whole projection from the materialized gaz world table.
    "geo_forward_full" -> ((s, dir) => {
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
    }),
    "geo_reverse_points" -> ((s, dir) => {
      val (_, _, polys, cells, scanner) = world(s)
      oracleWorldTables(s)
      val mentions = graft.etl.Extract.mentions(s, oraclePages(s, dir), scanner)
      val coords = mentions.filter(col("kind") === "coord")
        .select(concat_ws("|", col("url"), col("surface")).as("query_id"),
          col("lon"), col("lat"))
      Reverse.reverse(coords, polys, cells, ReverseParams())
        .select("query_id", "polygon_id", "name", "formatted", "geocode_status")
    }),
    "geo_reverse_geoadmin" -> ((s, dir) => {
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
    }),
    "geo_knn" -> ((s, dir) => {
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
    }),
    "geo_pipeline_tiles" -> ((s, dir) => {
      val (_, idx, polys, cells, scanner) = world(s)
      oracleWorldTables(s)
      val hits = Pipeline.geocodePrepared(s, oraclePages(s, dir),
        Pipeline.prepare(idx, polys, cells), scanner)
      // approx_pages (HLL sketch) stays an engine output but is excluded from
      // the contract selection — a sketch is not oracle-comparable
      Pipeline.tiles(hits).select("tile_z", "tile_x", "tile_y", "n_hits")
    }),

    // ---- training-data ops: dedup / similarity / text / multimodal -------
    "doc_dedup_exact" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val withDups = base.unionByName(base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      Dedup.exact(withDups).select("keep_id", "dup_count")
    }),
    "doc_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(docsWithNearDups(s, dir), threshold = 0.5)
        .withColumn("jaccard_est", round(col("jaccard_est"), 6))),
    // the exact shingle-Jaccard VERIFY stage over a deterministic candidate
    // set (planted near-dups + adjacent-id negatives) — oracle-checkable via
    // DuckDB list math; the minhash RECALL stage that normally feeds it stays
    // covered by doc_minhash_pairs + the sim_band_join oracle
    "doc_ngram_jaccard" -> ((s, dir) => {
      val d = docsWithNearDups(s, dir)
      Dedup.jaccardVerify(nearDupCand(d), d, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
    }),
    // asymmetric shingle containment over the same deterministic candidate
    // set: the quote/boilerplate-inclusion signal Jaccard misses when the
    // pair differs in size — a base doc fully contained in its
    // tail-appended near-dup scores containment_ab = 1.0 exactly; both
    // directions emitted, pair kept when either clears the gate
    "doc_containment" -> ((s, dir) => {
      val d = docsWithNearDups(s, dir)
      Dedup.containmentVerify(nearDupCand(d), d, threshold = 0.9)
        .withColumn("containment_ab", round(col("containment_ab"), 6))
        .withColumn("containment_ba", round(col("containment_ba"), 6))
    }),
    // duplicate-pair CLUSTERING: verified near-dup pairs -> connected
    // components (min-label propagation with pointer shortcut) -> per-cluster
    // canonical pick; oracle = DuckDB recursive-CTE reachability over the
    // identically re-derived edge set
    "doc_dup_clusters" -> ((s, dir) => {
      val d = docsWithNearDups(s, dir)
      val edges = Dedup.jaccardVerify(nearDupCand(d), d, threshold = 0.5)
        .select("doc_a", "doc_b")
      Dedup.dupClusters(edges)
    }),
    // checkpoint-resumable duplicate clustering (the Iterate.resumable
    // integration on the CC family, next to web_pagerank_resume): a rounds=2
    // run completes blocks i0..i2, then the rounds=3 run RESUMES — all three
    // finished blocks must be served from checkpoint (resumed=true lineage,
    // counted in-result) and only i3 computes; the final labels are gated
    // against the same recursive-CTE reachability oracle as doc_dup_clusters
    "doc_dup_clusters_resume" -> ((s, dir) => {
      val ck = s"$OracleDir/ckpt_cc"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ck), true)
      val d = docsWithNearDups(s, dir)
      val edges = Dedup.jaccardVerify(nearDupCand(d), d, threshold = 0.5)
        .select("doc_a", "doc_b")
      val fp = s"neardup|$dir"
      Dedup.connectedComponentsResumable(s, edges, ck, fp, rounds = 2).count()
      val out = Dedup.connectedComponentsResumable(s, edges, ck, fp, rounds = 3)
      val resumed = Checkpoint.metrics(s, ck)
        .filter(col("resumed") === true)
        .agg(countDistinct("stage").as("resumed_stages"))
      out.crossJoin(broadcast(resumed))
    }),
    // MinHash LSH with the PORTABLE sha256-derived hash family: the whole
    // sketch plan (shingle -> signature -> band key -> bucket join -> estimate)
    // is recomputed bit-for-bit by the oracle — the cross-engine proof that
    // the production xxh64 sketch's PLAN is right, not just its row counts
    "doc_minhash_portable" -> ((s, dir) =>
      Dedup.portableMinhashLshPairs(docsWithNearDups(s, dir), threshold = 0.5)
        .withColumn("jaccard_est", round(col("jaccard_est"), 6))),
    // END-TO-END training-data cleaning flagship: the dedup/cluster/quality/
    // redact stages composed into one job, oracle-verified as a whole
    "doc_clean_pipeline" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = base
        .unionByName(base.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(col("text"), lit(" near duplicate tail")).as("text")))
        .unionByName(base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      val s1 = Dedup.exactSurvivors(corpus)
      val d = docsWithNearDups(s, dir)
      val edges = Dedup.jaccardVerify(nearDupCand(d), d, threshold = 0.5)
        .select("doc_a", "doc_b")
      val nonCanon = Dedup.dupClusters(edges)
        .filter(!col("is_canonical")).select("doc_id")
      val s2 = s1.join(nonCanon, Seq("doc_id"), "left_anti")
      TextAnalysis.withQuality(s2)
        .withColumn("quality_score", round(col("quality_score"), 6))
        .filter(col("quality_score") >= 0.5)
        .select(col("doc_id"), col("n_tokens"), col("quality_score"),
          length(TextAnalysis.redactPii(col("text"))).as("clean_len"))
    }),
    // the full two-phase near-dup chain (LSH recall -> exact verify); the
    // recall stage's minhash signatures are non-ANSI, so rows-only
    "doc_ngram_lsh_verified" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))),
    "doc_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docsWithNearDups(s, dir), maxDist = 3)),
    // SimHash with the portable sha256 hash family — signatures, segment
    // blocking, and hamming verify all recomputed bit-for-bit by the oracle
    "doc_simhash_portable" -> ((s, dir) =>
      Dedup.portableSimhashPairs(docsWithNearDups(s, dir), maxDist = 3)),
    "doc_fingerprints" -> ((s, dir) =>
      TextAnalysis.withFingerprints(docs(s, dir))
        .select("doc_id", "xxh64", "winnow_fp", "simhash")),
    // winnowing with the portable sha256 k-gram family — per-gram hashes,
    // non-overlapping window mins, and the xor fold all recomputed by DuckDB
    "doc_winnow_portable" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.TextFunctions.portableWinnow(col("text"), lit(8), lit(16))
          .as("winnow_fp"))),
    "doc_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),
    "doc_readability" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        round(TextAnalysis.fleschScore(col("text")), 6).as("flesch"))),
    // cross-snapshot n-gram NOVELTY audit (the recrawl-budget metric):
    // candidates = planted tail-modified + unchanged copies; ref window set
    // is ONE combinable distinct over sha60-hashed windows (narrow longs)
    "doc_novelty" -> ((s, dir) => {
      val d = docs(s, dir)
      val newDocs = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"),
            lit(" entirely novel trailing sentence for the audit")).as("text"))
        .unionByName(d.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      graft.dedup.SubstringDedup.windowNovelty(newDocs, col("doc_id"),
        col("text"), d, col("text"), n = 8)
    }),
    // DSIR importance resampling (hashed unigram+bigram LLR vs a target
    // slice, top-k selection): model = ONE combinable 64-bucket count pass,
    // scoring = broadcast ratio join + per-doc decimal sum, selection =
    // TakeOrdered threshold broadcast back — never a global sort
    "doc_dsir" -> ((s, dir) =>
      graft.text.Dsir.dsirSelect(docs(s, dir), col("doc_id"), col("text"),
        col("source").isin("src0", "src1"), k = 50)),
    // Efraimidis-Spirakis weighted sampling without replacement: priority
    // ln(u)/w with hash-derived u, 7dp grain, DSIR's kth-threshold
    // selection (two TakeOrdered jobs, no global sort) — the oracle
    // replays the hash, the log chain, and the exact top-k cut
    "doc_weighted_sample" -> ((s, dir) =>
      graft.text.Corpus.weightedSample(docs(s, dir), col("doc_id"),
        col("n_chars"), k = 100)),
    // corpus-overlap scalar between the base crawl and the deterministic
    // next snapshot from ONE shared KMV sketch (Broder resemblance): the k
    // smallest union hashes are a uniform union sample, the both-sides
    // fraction estimates J(A,B) — all integer-derived, replayed exactly
    "web_snapshot_overlap" -> ((s, dir) =>
      graft.sketch.Kmv.kmvJaccard(docs(s, dir), newSnapshot(s, dir),
        col("text"), k = 256)),
    "doc_quality" -> ((s, dir) =>
      TextAnalysis.withQuality(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_token_len"), 6).as("mean_token_len"),
          round(col("quality_score"), 6).as("quality_score"))),
    "doc_token_stats" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        length(col("text")).as("len"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
          .as("n_tokens_ws"))),
    "doc_token_bpe" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe"))),
    // Gopher-style intra-doc repetition filters (map-only ratios + an
    // explode/two-level-agg n-gram mode — never a per-row quadratic scan)
    "doc_repetition" -> ((s, dir) =>
      TextAnalysis.withRepetitionSignals(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          round(col("type_token_ratio"), 6).as("type_token_ratio"),
          round(col("dup_trigram_ratio"), 6).as("dup_trigram_ratio"),
          round(col("frac_top_bigram"), 6).as("frac_top_bigram"),
          round(col("frac_top_trigram"), 6).as("frac_top_trigram"))),
    // PII scrub over text augmented with deterministic synthetic PII (the
    // corpus itself is clean words — the augmentation, reconstructed
    // identically by the oracle, is what makes the redaction non-trivial)
    "doc_redact" -> ((s, dir) =>
      TextAnalysis.withRedaction(
        docs(s, dir).withColumn("text", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 250).cast("string"),
          lit(".7 or +41 79 "), (lit(100) + col("doc_id") % 900).cast("string"),
          lit(" "), (lit(1000) + col("doc_id") % 9000).cast("string"))))
        .select("doc_id", "n_emails", "n_ips", "n_phones", "clean_text")),
    "q9_running_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    }),
    "emb_neardup_cosine" -> ((s, dir) => {
      val base = embs(s, dir).select(col("vec_id"), col("embedding"))
      val withDups = base.unionByName(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDupPairs(withDups, threshold = 0.999)
        .withColumn("cos", round(col("cos"), 6))
    }),
    // embedding near-dup with the PORTABLE sha256-derived Rademacher planes:
    // plane matrix, projections, bucket keys, and cosine verify all
    // re-derived by the oracle — the sketch plan itself is oracle-proven
    "emb_neardup_portable" -> ((s, dir) => {
      val base = embs(s, dir).select(col("vec_id"), col("embedding"))
      val withDups = base.unionByName(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
      Dedup.portableEmbeddingNearDupPairs(withDups, threshold = 0.999)
        .withColumn("cos", round(col("cos"), 6))
    }),
    "emb_knn_brute" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceKnn(e.filter(col("vec_id") < 8), e, k = 5)
        .withColumn("cos", round(col("cos"), 6))
    }),
    // MMR diversified top-4 over the brute top-10 shortlist (Carbonell &
    // Goldstein 1998): relevance and pairwise sims enter as ppm BIGINTs
    // (one round() from the validated cosine chain), every greedy pick is
    // exact integer argmax with min-id ties; shortlist + pair tables
    // persisted — they are read once per round. DuckDB unrolls all four
    // greedy rounds as CTEs.
    "emb_mmr" -> ((s, dir) => {
      val e = embs(s, dir)
      val cand = Similarity.bruteForceKnn(e.filter(col("vec_id") < 4), e, k = 10)
        .select(col("query_id"), col("item_id"),
          round(col("cos") * 1000000).cast("long").as("rel_ppm"))
        .persist()
      val cvec = e.select(col("vec_id").as("item_id"), col("embedding").as("v"))
      val cw = cand.select("query_id", "item_id").join(cvec, "item_id")
      val pairs = cw
        .select(col("query_id"), col("item_id").as("a_id"), col("v").as("av"))
        .join(cw.select(col("query_id"), col("item_id").as("b_id"),
          col("v").as("bv")), "query_id")
        .filter(col("a_id") =!= col("b_id"))
        .select(col("query_id"), col("a_id"), col("b_id"),
          round(graft.functions.TextFunctions.cosine(col("av"), col("bv"))
            * 1000000).cast("long").as("sim_ppm"))
        .persist()
      graft.sim.Mmr.mmrSelect(cand, pairs, k = 4)
    }),
    "emb_knn_lsh" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshKnn(e.filter(col("vec_id") < 8), e, k = 5, bits = 12, tables = 6)
        .withColumn("cos", round(col("cos"), 6))
    }),
    // int8 scalar-quantized ANN (SQ8): per-vector symmetric codes, exact
    // integer dots, one double descale per pair — the 4x memory-bandwidth
    // lever for the corpus scan at 10^12 vectors. Everything past
    // quantization is exact integer math, so DuckDB re-derives codes, dots,
    // scores, and ranks bit-for-bit from the same floats
    "emb_knn_int8" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.sim.Quantize.int8Knn(e.filter(col("vec_id") < 8), e, k = 5)
        .withColumn("score", round(col("score"), 6))
    }),
    // two-phase SQ8: int8 shortlist (20) then exact float-cosine re-rank to
    // top-5 — the full-precision table is read only shortlist-deep per
    // query; the oracle replays both phases
    "emb_knn_int8_rerank" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.sim.Quantize.int8RerankKnn(e.filter(col("vec_id") < 8), e,
          k = 5, shortlist = 20)
        .withColumn("cos", round(col("cos"), 6))
    }),
    // product quantization with ADC: the corpus scans as 4-byte PQ codes
    // (1/64th of float32 at dim=64), queries carry precomputed integer
    // lookup tables, scoring is an m-length gather-and-add. Codebooks are
    // seed-sampled (ks lowest-id vectors at the global int8 scale) so the
    // WHOLE chain — scale, codes, assignments, estimates, ranks — is exact
    // integer math DuckDB re-derives from the raw floats
    "emb_knn_pq" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.sim.Quantize.pqKnn(e.filter(col("vec_id") < 8), e, k = 5, m = 4, ks = 16)
        .withColumn("score", round(col("score"), 6))
    }),
    // IVF + PQ composed (the FAISS IVFADC shape): coarse routing into
    // posting lists + PQ-code scoring. nprobe = nlist here so routing is
    // EXHAUSTIVE and the composed plan provably reproduces the flat PQ-ADC
    // oracle bit-for-bit; nprobe < nlist is the sub-linear deployment shape
    // (recall spec-tested), with the codes persisted list-bucketed at world
    // scale (writeIvfBucketed's layout)
    "emb_knn_ivfpq" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.sim.Quantize.ivfPqKnn(e.filter(col("vec_id") < 8), e, k = 5,
          nlist = 8, nprobe = 8, m = 4, ks = 16)
        .withColumn("score", round(col("score"), 6))
    }),
    // IVF scale path: nprobe = nlist here so the posting-list plan is
    // EXHAUSTIVE and provably equals the brute-force oracle — the same
    // operator at nprobe < nlist is the sub-linear deployment shape
    // (recall asserted on planted clusters in TrainingOpsSpec)
    "emb_knn_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      // iters=1: the exhaustive probe's RESULT is centroid-independent (all
      // lists scored), so one Lloyd pass suffices to exercise the train +
      // assign + posting-list-join plan without paying extra driver rounds
      Similarity.ivfKnn(e.filter(col("vec_id") < 8), e, k = 5,
          nlist = 16, nprobe = 16, iters = 1)
        .withColumn("cos", round(col("cos"), 6))
    }),
    // LSH-kNN with the PORTABLE sha256 hyperplane family: corpus bucket
    // keys, query multi-probe (key + all 1-bit flips), candidate set, exact
    // cosine, and rank are ALL recomputed by the oracle — the oracle-backed
    // sibling of emb_knn_lsh (identical plan shape, portable hashes)
    "emb_knn_lsh_portable" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.portableLshKnn(e.filter(col("vec_id") < 8), e, k = 5,
          dim = 64, bits = 8, tables = 4)
        .withColumn("cos", round(col("cos"), 6))
    }),
    // recall@5 audit of the portable-LSH path against exact brute force —
    // the "no silent caps" observability row: a banded/bucketed ANN path
    // must REPORT its recall, never imply completeness. Integral ppm so the
    // figure is engine-independent; left joins so a query whose LSH probe
    // found nothing still reports recall 0.
    "emb_ann_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val brute = Similarity.bruteForceKnn(e.filter(col("vec_id") < 8), e, k = 5)
        .select(col("query_id"), col("item_id")).persist()
      val lsh = Similarity.portableLshKnn(e.filter(col("vec_id") < 8), e,
          k = 5, dim = 64, bits = 8, tables = 4)
        .select(col("query_id"), col("item_id")).persist()
      val hits = brute.join(lsh, Seq("query_id", "item_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      val nl = lsh.groupBy("query_id").agg(count(lit(1)).as("n_lsh"))
      brute.groupBy("query_id").agg(count(lit(1)).as("n_brute"))
        .join(nl, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_brute"),
          coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_ppm",
          expr("(n_hits * 1000000) div n_brute"))
    }),
    // the world-scale IVF layout under the contract: posting lists persisted
    // as a list-bucketed table (write amortizes like the packed polygon
    // index), queries bucket-prune the scan via a driver-resolved IN filter;
    // exhaustive probe (nprobe = nlist) makes it provably equal to the
    // brute-force oracle, while the plan is the zero-corpus-exchange
    // deployment shape (plan-asserted in ScaleFixesSpec)
    "emb_knn_ivf_bucketed" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = Similarity.trainIvfCentroids(e, nlist = 16, iters = 1)
      Similarity.writeIvfBucketed(s, e, cents, "graft_ivf_contract",
        s"$OracleDir/ivf_bucketed", buckets = 8)
      Similarity.ivfKnnBucketed(s, "graft_ivf_contract",
          e.filter(col("vec_id") < 8), k = 5, nprobe = 16, cents)
        .withColumn("cos", round(col("cos"), 6))
    }),
    // the PERSISTED world-scale IVF+PQ layout under the contract: coarse
    // lists + PQ codes written once as a list-bucketed table (the
    // m-bytes-per-vector product), probe lists pushed as an IN filter so the
    // scan bucket-prunes with zero codes-side exchange (plan-asserted in
    // QuantizeSpec); exhaustive probing (nprobe = nlist) makes it provably
    // reproduce the flat PQ-ADC oracle
    "emb_knn_ivfpq_bucketed" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = Similarity.trainIvfCentroids(e, nlist = 8, iters = 1)
      val (scale, books) = graft.sim.Quantize.pqTrainBooks(e, ks = 16)
      graft.sim.Quantize.writeIvfPqBucketed(s, e, cents, scale, books,
        "graft_ivfpq_contract", s"$OracleDir/ivfpq_bucketed", buckets = 4)
      graft.sim.Quantize.ivfPqKnnBucketed(s, "graft_ivfpq_contract",
          e.filter(col("vec_id") < 8), k = 5, nprobe = 8, cents, scale, books)
        .withColumn("score", round(col("score"), 6))
    }),
    // margin-based bitext mining (the Artetxe & Schwenk ratio-margin shape):
    // best-margin target per source vector over two brute-kNN directions,
    // 7dp-DECIMAL neighborhood sums, one fixed-order margin division, a
    // 6dp-rounded gate, and the two-way mutuality flag — the WHOLE chain is
    // re-derived by the oracle. The kNN stage is pluggable (IVF/LSH at
    // world scale); brute here makes the contract row exact
    "emb_bitext_mine" -> ((s, dir) => {
      // the embeddings table is one small parquet file, so both brute-kNN
      // corpus scans (the ~n_src x n_tgt cosine work) ran in ONE task; the
      // keyed N-way repartition spreads them across the session's
      // parallelism (guide §2 — measured 2.2 task-seconds serialized)
      val e = embs(s, dir)
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("vec_id"))
      graft.sim.BitextMine.mine(
          e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
          k = 3, minMargin = 1.02)
        .select(col("src_id"), col("tgt_id"), round(col("cos"), 6).as("cos"),
          round(col("margin"), 6).as("margin"), col("mutual"))
    }),
    "mm_binary_meta" -> ((s, dir) =>
      Multimodal.withBinaryMeta(oraclePages(s, dir))
        .select("url", "bin_len", "mime", "content_hash")),
    "mm_features" -> ((s, dir) =>
      Multimodal.withFeatures(Synth.pagesDF(s, dir).limit(1000), dim = 16)
        .select(col("url"), round(graft.functions.TextFunctions.vnorm(col("features")), 6)
          .as("feat_norm"))),
    // feature plumbing with sha256-derived pseudo-features — vector values
    // and the ordered-fold norm recomputed bit-for-bit by the oracle; input
    // subset by the deterministic url index (17 sha256 per row adds up at
    // larger sf — the full-corpus shape is covered by mm_binary_meta)
    // frame-sampling plumbing: N evenly spaced byte-range slices per payload
    // (the video-frame partition/batch shape with the codec swapped for
    // substring slicing); offsets, slice lengths, and full-slice content
    // (as a sha60 over the hex) all re-derived by the oracle from its own
    // hex() of the same bytes — UTF-8-safe (no byte slice is ever decoded)
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(oraclePages(s, dir), frames = 4)
        .select(col("url"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          graft.functions.TextFunctions.sha60(hex(col("frame")))
            .as("frame_sha60"))),
    "mm_features_portable" -> ((s, dir) =>
      Multimodal.withPortableFeatures(
        oraclePages(s, dir)
          .filter(regexp_extract(col("url"), "([0-9]+)$", 1).cast("int") % 10 === 0),
        dim = 16)
        .select(col("url"), round(col("feat_norm"), 6).as("feat_norm"))),

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
    "geo_stream_forward" -> ((s, dir) => {
      val (_, idx, _, _, scanner) = world(s)
      oracleWorldTables(s)
      oraclePages(s, dir)
      val sink = s"$OracleDir/stream_sink"
      val ckpt = s"$OracleDir/stream_ckpt"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(sink), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      val schema = s.read.parquet(s"$OracleDir/pages").schema
      val src = s.readStream.schema(schema).parquet(s"$OracleDir/pages")
      val out = graft.streaming.StreamGeocode.geocodeStream(s, src, idx, scanner)
        .select(unix_micros(col("window.start")).as("win_us"),
          col("url"), col("surface"), col("place_id"), col("name"),
          col("lon"), col("lat"), col("text_sha256"),
          col("tile_x"), col("tile_y"))
      // state partitions derived from source size, not the session constant
      // (guide §2 scale-adaptive partitioning; see streaming.Adaptive)
      graft.streaming.Adaptive.withStatePartitions(s,
        graft.streaming.Adaptive.statePartitions(s, s"$OracleDir/pages")) {
        val q = out.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      // explicit schema: a run in which no window finalizes leaves a sink
      // with only _spark_metadata, and schema inference would throw where
      // the correct answer is an empty result (matching the oracle's 0 rows)
      s.read.schema(out.schema).parquet(sink)
    }),
    // the STATELESS streaming shape under the contract, next to
    // geo_stream_forward's stateful (watermark + windowed max_by) one:
    // StreamGeocode.reverseStream is a stream-static broadcast join + map-side
    // ray-cast/best-pick, so append mode needs no watermark and EVERY input
    // row emits — the oracle is exactly the batch PIP re-derivation (same
    // packed rings, same even-odd edge rule, same most-specific pick) with
    // no finalization clause.
    "geo_stream_reverse" -> ((s, dir) => {
      val (_, _, polys, cells, scanner) = world(s)
      oracleWorldTables(s)
      oraclePages(s, dir)
      val sink = s"$OracleDir/stream_rev_sink"
      val ckpt = s"$OracleDir/stream_rev_ckpt"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(sink), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      val schema = s.read.parquet(s"$OracleDir/pages").schema
      val src = s.readStream.schema(schema).parquet(s"$OracleDir/pages")
      val out = graft.streaming.StreamGeocode.reverseStream(s, src, polys, cells, scanner)
        .select(col("url"), col("surface"), col("lon"), col("lat"),
          col("polygon_id"), col("name"),
          col("admin_level").cast("int").as("admin_level"), col("geocode_status"))
      val q = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.schema(out.schema).parquet(sink)
    }),
    // STREAM-STREAM interval join under the contract (the third streaming
    // shape next to stateful-agg forward and stateless reverse): views and
    // clicks of the events table as two watermarked streams, inner-joined on
    // user within a 10-minute event-time horizon, run for real under
    // Trigger.AvailableNow. Inner joins emit on match (no finalization
    // clause), and the watermark is set wider than the table's span so no
    // state evicts mid-replay — the oracle is exactly the batch interval
    // join. (Bounded-watermark eviction semantics are covered by
    // StreamingSpec's multi-micro-batch test.)
    "q22_stream_join" -> ((s, dir) => {
      val evPath = oracleEvents(s, dir)
      val sink = s"$OracleDir/stream_join_sink"
      val ckpt = s"$OracleDir/stream_join_ckpt"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(sink), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      val evBatch = s.read.parquet(evPath)
      val schema = evBatch.schema
      // Watermark derived from the table's ACTUAL event-time span plus a
      // margin (ADVICE r4), not a hardcoded constant: regenerated testdata
      // with a wider span can therefore never silently evict state
      // mid-replay and drift from the batch oracle. Bounded-watermark
      // eviction semantics are covered separately by StreamingSpec.
      val spanDays = {
        // cast: some sf dirs carry ts as TIMESTAMP_NTZ, which unix_micros
        // rejects; the session tz is pinned UTC so the span is unaffected
        val tsc = (c: Column) => unix_micros(c.cast("timestamp"))
        val r = evBatch.agg(
          (tsc(max(col("ts"))) - tsc(min(col("ts")))).as("span_us")).head()
        if (r.isNullAt(0)) 1L else r.getLong(0) / 86400000000L + 2L
      }
      val src = s.readStream.schema(schema).parquet(evPath)
      val out = graft.streaming.StreamGeocode.attributionJoin(
          src.filter(col("event_type") === "view"),
          src.filter(col("event_type") === "click"),
          horizonMinutes = 10, watermark = s"$spanDays days")
        .select(col("user_id"), col("view_id"), col("click_id"),
          unix_micros(col("view_ts")).as("view_us"),
          unix_micros(col("click_ts")).as("click_us"))
      graft.streaming.Adaptive.withStatePartitions(s,
        graft.streaming.Adaptive.statePartitions(s, evPath)) {
        val q = out.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.schema(out.schema).parquet(sink)
    }),
    // STREAMING EXACT DEDUP under the contract (the fourth streaming shape
    // next to stateful-agg, stateless, and stream-stream join: KEYED dedup
    // state via dropDuplicatesWithinWatermark): the documents table as a
    // continuous-ingest stream with a deterministic event time derived from
    // doc_id; the first arrival of each content digest passes, replays are
    // dropped, and state is bounded by the watermark (the crawl-scale
    // contract — StreamGeocode.dedupStream). WHICH duplicate row survives is
    // arrival-order-dependent under a parallel source, so the contract
    // projects the digest column: the surviving SET is exactly one row per
    // distinct digest — the oracle is DISTINCT sha256(text).
    "doc_stream_dedup" -> ((s, dir) => {
      val docPath = oracleDocuments(s, dir)
      val sink = s"$OracleDir/stream_dedup_sink"
      val ckpt = s"$OracleDir/stream_dedup_ckpt"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(sink), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      val batch = s.read.parquet(docPath)
      // watermark derived from the table's actual id span plus margin (the
      // q22 lesson): regenerated testdata can never silently evict state
      // mid-replay; bounded-watermark eviction is covered by StreamingSpec
      val spanDays = {
        val r = batch.agg(max(col("doc_id")).as("m")).head()
        if (r.isNullAt(0)) 1L else r.getLong(0) / 86400L + 2L
      }
      val src = s.readStream.schema(batch.schema).parquet(docPath)
        // deterministic synthetic ingest time: 2026-01-01T00:00:00Z + doc_id
        // seconds (the documents table carries no timestamp column)
        .withColumn("warc_ts", timestamp_seconds(lit(1767225600L) + col("doc_id")))
      val out = graft.streaming.StreamGeocode
        .dedupStream(src, "warc_ts", "text", s"$spanDays days")
        .select(col("text_sha"))
      graft.streaming.Adaptive.withStatePartitions(s,
        graft.streaming.Adaptive.statePartitions(s, docPath)) {
        val q = out.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.schema(out.schema).parquet(sink)
    }),

    // STREAMING WINDOWED AGGREGATION over tiles (the last streaming operator
    // without a direct contract row): coordinate mentions extracted from the
    // pages stream, assigned to z12 web-mercator tiles (map-only), counted
    // per (5-min window, tile) under a 10-min watermark — the same
    // append-mode finalization rule as geo_stream_forward (only windows
    // whose end <= final watermark emit), recomputed by the oracle from the
    // same raw page bytes
    "geo_stream_tiles" -> ((s, dir) => {
      val (_, _, _, _, scanner) = world(s)
      oracleWorldTables(s)
      oraclePages(s, dir)
      val sink = s"$OracleDir/stream_tiles_sink"
      val ckpt = s"$OracleDir/stream_tiles_ckpt"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(sink), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      val schema = s.read.parquet(s"$OracleDir/pages").schema
      val src = s.readStream.schema(schema).parquet(s"$OracleDir/pages")
      val coords = graft.etl.Extract.mentions(s, src, scanner)
        .filter(col("kind") === "coord")
      val out = graft.streaming.StreamGeocode.tileCounts(coords)
        .select(unix_micros(col("window.start")).as("win_us"),
          col("tile_z"), col("tile_x"), col("tile_y"), col("n_hits"))
      graft.streaming.Adaptive.withStatePartitions(s,
        graft.streaming.Adaptive.statePartitions(s, s"$OracleDir/pages")) {
        val q = out.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.schema(out.schema).parquet(sink)
    }),

    // STATEFUL CUSTOM-STATE streaming under the contract (the fifth
    // streaming shape): per-user sessionization via flatMapGroupsWithState
    // with an event-time timeout — data-dependent session length is the
    // semantics built-in windowed aggregations can't express. Run for real
    // under Trigger.AvailableNow over the materialized events table. The
    // parquet source picks up the whole dir in ONE data micro-batch (no
    // maxFilesPerTrigger set), so the per-user fold sees every event sorted
    // by event time and emits every gap-closed session exactly as the batch
    // q11_sessionize rollup does; each user's final OPEN session then emits
    // via the event-time timeout in the trailing no-data batch iff its gap
    // deadline lies strictly below the final watermark (delay 0 -> watermark
    // = max event time, ms-truncated). The oracle replays gaps-and-islands
    // sessionization PLUS that exact finalization predicate — at sf0.01 the
    // rule is load-bearing: 9542 of 9549 sessions emit, 7 stay open.
    "q11_stream_sessionize" -> ((s, dir) => {
      val evPath = oracleEvents(s, dir)
      val sink = s"$OracleDir/stream_sess_sink"
      val ckpt = s"$OracleDir/stream_sess_ckpt"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(sink), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      val schema = s.read.parquet(evPath).schema
      val src = s.readStream.schema(schema).parquet(evPath)
      val out = graft.streaming.StreamGeocode
        .sessionizeStream(s, src, gapMinutes = 30, watermark = "0 seconds")
        .toDF()
        .select(col("user_id"), col("n_events"),
          unix_micros(col("sess_start")).as("sess_start_us"),
          unix_micros(col("sess_end")).as("sess_end_us"))
      graft.streaming.Adaptive.withStatePartitions(s,
        graft.streaming.Adaptive.statePartitions(s, evPath)) {
        val q = out.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.schema(out.schema).parquet(sink)
    }),

    // D4/S4/S5/S6/S7 — typed provider-JSON decode as a direct contract row:
    // all four response families parsed through the ProviderJson from_json
    // schemas into one normalized projection; the oracle re-extracts the same
    // fields with DuckDB's JSON functions from the same materialized bodies.
    // Exercised coercions: string-or-int components values (S4), created_unix
    // -> timestamp -> epoch round trip (S5), camelCase featureId + strname
    // string arrays (S6), rate.remaining int (S7), empty-results responses
    // (R2's no-panic case — rows vanish in both engines).
    "geo_provider_json" -> ((s, dir) => {
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
    }),

    // E10 — lineage/resume under the driver's ORACLE check: a two-stage
    // checkpointed pipeline run COLD then RESUMED against a fresh ckpt dir;
    // output = per-stage lineage rolled up partition-independently (sum rows,
    // bit_xor checksums), excluding wall times. Checksums use the PORTABLE
    // sha60 row hash over each stage's identity columns, so DuckDB
    // independently recomputes rows AND checksums from the materialized
    // stage parquet — resumability is oracle-proven, not just deterministic
    // (the resumed run must reproduce the cold run's lineage exactly, and
    // both must match what is actually on disk).
    "ops_lineage" -> ((s, dir) => {
      val ck = s"$OracleDir/ckpt_contract"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ck), true)
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
    }),

    // ---- oracle-backed ENGINE-VERB queries over arithmetic-derived worlds:
    // the geocoding verbs run through the real engine operators (knnComplete
    // ring expansion, Reverse cell-join + ray-cast, Forward normalize + join
    // + rank, projectCrs) while DuckDB independently recomputes the same
    // world with ANSI SQL — the hard correctness signal for E4/E5/E6/C3-C5.
    "geo_knn_oracle" -> ((s, dir) => {
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
    }),
    // Within-distance spatial join (DistanceJoin): every (query, place) pair
    // within 15 km, k-ring cell cover at an auto-chosen level + exact
    // haversine. The coverage guarantee makes it provably equal to the DuckDB
    // brute-force haversine filter.
    "geo_distance_join" -> ((s, dir) => {
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
    }),
    // bbox-overlap spatial join (PBSM grid + reference-point dedup): page
    // viewport boxes (orders-derived, 0.25-degree lattice so every bound and
    // overlap corner is an exact double) against admin-extent boxes
    // (nation-derived); the oracle is a plain inequality join — a different
    // algorithm that must agree pair-for-pair AND corner-for-corner
    "geo_bbox_join" -> ((s, dir) => {
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
    }),
    // GeoIP-style interval-dictionary lookup (RangeJoin.broadcastLookup):
    // each document's synthetic server IP (portable sha60 -> 32-bit) maps to
    // a nation-derived disjoint IPv4 range table, left-outer so unassigned
    // address space survives; the oracle joins by plain BETWEEN
    "geo_ip_lookup" -> ((s, dir) => {
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
    }),
    "geo_reverse_bbox" -> ((s, dir) => {
      val (pts, polys, cells) = bboxWorld(s, dir, compact = false)
      Reverse.reverse(pts, polys, cells, ReverseParams())
        .select("query_id", "polygon_id", "geocode_status")
    }),
    // the SAME rect-polygon PIP question through the COMPACT mixed-level
    // index (CellIndex.compact cell-union normalization) and the
    // multi-level-probe reverse path — identical results, index rows
    // proportional to boundary instead of area; oracled by the same
    // independent bbox re-derivation as geo_reverse_bbox
    "geo_reverse_compact" -> ((s, dir) => {
      val (pts, polys, cells) = bboxWorld(s, dir, compact = true)
      Reverse.reverseCompact(pts, polys, cells, ReverseParams())
        .select("query_id", "polygon_id", "geocode_status")
    }),
    // Ramer-Douglas-Peucker ring simplification (geo/Simplify via the
    // codegen shim): one deterministic 40-vertex jittered-square ring per
    // polygon, eps 0.02 deg. DuckDB replays the ENTIRE recursive algorithm
    // — farthest-anchor split, per-segment argmax of the identical
    // perpendicular-distance IEEE chain, recursive subdivision — via a
    // recursive CTE, and must reproduce every kept vertex.
    "geo_simplify" -> ((s, dir) => {
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
    }),
    "geo_forward_names" -> ((s, dir) => {
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
    }),
    "geo_axis_swap" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/nation.parquet").select(
        col("n_nationkey"),
        (lit(7.0) + col("n_nationkey") * 0.02).as("lon"),
        (lit(46.2) + col("n_nationkey") * 0.015).as("lat"))
      Seq("4326", "21781", "2056", "3857").map { sr =>
        val (x, y) = Forward.projectCrs(col("lon"), col("lat"), sr)
        pts.select(col("n_nationkey"), lit(sr).as("sr"),
          round(x, 4).as("x"), round(y, 4).as("y"))
      }.reduce(_.unionByName(_))
    }),
    "geo_bounds_wire" -> ((s, dir) =>
      // S1 — InputBounds wire strings (lib.rs:168-182) on a .25 grid so the
      // double->string render is the exact shortest form in both engines
      s.read.parquet(s"$dir/nation.parquet").select(col("n_nationkey"),
        concat_ws(",",
          (col("n_nationkey") * 0.5 - 10.25).cast("string"),
          (col("n_nationkey") * 0.25 - 3.25).cast("string"),
          (col("n_nationkey") * 0.5 - 7.75).cast("string"),
          (col("n_nationkey") * 0.25 - 1.5).cast("string")).as("wire"))),
    "geo_dms" -> ((s, dir) =>
      s.read.parquet(s"$dir/nation.parquet").select(col("n_nationkey"),
        GeoFunctions.dms(col("n_nationkey") * 0.025 - 0.2, lit(false)).as("dms_lon"),
        GeoFunctions.dms(col("n_nationkey") * 0.015 - 0.06, lit(true)).as("dms_lat"))),
    "q11_sessionize" -> ((s, dir) => {
      // classic event sessionization: a new session starts after a > 30 min
      // gap per user; session bounds + event counts. Lag + windowed running
      // sum — the stateful-analytics shape of §2.8's window row
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // ts is TIMESTAMP_NTZ; session TZ is pinned UTC, so the cast is the
      // identity instant and unix_micros compares exact microseconds
      val us = unix_micros(col("ts").cast("timestamp"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("new_sess",
          when(us - lag(us, 1).over(w) > 1800L * 1000000L, 1L).otherwise(lit(0L)))
        .withColumn("session_id", sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
    }),
    "geo_tile_bounds" -> ((s, dir) => {
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
    }),
    "q10_skew_salted" -> ((s, dir) => {
      // E9: skewed big side (half the rows share key 0) joined to a small
      // dim through the explicit two-path salted rewrite (hot keys fan out
      // over salt buckets, the tail joins plainly); the oracle is the plain
      // SQL join — proving the rewrite changes the plan, never the result
      val big = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          when(col("l_orderkey") % 4 < 2, 0L)
            .otherwise(col("l_orderkey") % 25).as("k"))
      val dim = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").as("k"), col("n_name"))
      Salt.skewAwareJoin(big, dim, "k", salts = 8,
          bigId = struct(col("l_orderkey"), col("l_linenumber")),
          hotThreshold = 10000L)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"))
    }),
    "sim_band_join" -> ((s, dir) => {
      // the LSH band-bucket candidate plan (band self-join + pair rollup)
      // over integer-derived signatures — the relational scaffolding of
      // Dedup.minhashLshPairs, oracle-checkable end to end.
      // Parallelism notes (opt guide §2): the docs table is a single small
      // file, so without the keyed repartition the ENTIRE pair fan-out
      // (~40x the input) ran inside one scan task; and the pair rollup's
      // exchange carries mostly-distinct (doc_a, doc_b) keys whose bytes
      // AQE would coalesce into one reducer — the explicit N-way
      // repartition on the EXACT group keys keeps the heavy aggregation
      // parallel and is reused by groupBy (no extra exchange). N follows
      // the session's shuffle-partition setting, not a local constant.
      val n = s.conf.get("spark.sql.shuffle.partitions").toInt
      val bands = docs(s, dir).select(col("doc_id"))
        .repartition(n, col("doc_id"))
        .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(15)),
          j => pmod(col("doc_id"), j.cast("long") + 20)))
          .as(Seq("band_idx", "band_hash")))
      val a = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
      val b = bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash"))
      a.join(b, Seq("band_idx", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .repartition(n, col("doc_a"), col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
        .filter(col("n_bands") >= 2)
    }),
    // canonical-URL projection over the planted messy-URL corpus — host/
    // domain/reverse-host/path-depth all map-only codegen'd expressions
    "web_url_canon" -> ((s, dir) => {
      val u = docsWithUrls(s, dir)
      val host = graft.etl.UrlOps.urlHost(col("url"))
      u.select(col("doc_id"), col("url"),
        graft.etl.UrlOps.canonicalUrl(col("url")).as("canon_url"),
        host.as("url_host"),
        graft.etl.UrlOps.registeredDomain(host).as("url_domain"),
        graft.etl.UrlOps.reverseHost(host).as("rev_host"),
        graft.etl.UrlOps.pathDepth(graft.etl.UrlOps.urlPath(col("url")))
          .as("path_depth"))
    }),
    // URL-level exact dedup: raw spelling variants (case/www/port/fragment/
    // tracking-param noise) collapse onto one canonical winner
    "web_url_dedup" -> ((s, dir) =>
      graft.etl.UrlOps.dedupByCanonical(docsWithUrls(s, dir), col("url"),
        col("doc_id"))),
    // per-registered-domain crawl stats (pages / canonical urls / hosts)
    "web_host_stats" -> ((s, dir) =>
      graft.etl.UrlOps.hostStats(docsWithUrls(s, dir), col("url"))),
    // page-graph -> host-graph rollup (the input to host-level centrality
    // and crawl-budget allocation): two page-id hash joins + ONE host-pair
    // aggregation; dst stays inside the 64-page block so every edge keys a
    // real page in both engines
    "web_hostgraph" -> ((s, dir) => {
      val pages = docsWithUrls(s, dir).select(col("doc_id").as("page_id"),
        graft.etl.UrlOps.urlHost(col("url")).as("host"))
      val edges = docs(s, dir).select(col("doc_id").as("src"),
        ((col("doc_id") - pmod(col("doc_id"), lit(64L))) +
          pmod(col("doc_id") * 17 + 29, lit(64L))).as("dst"))
      graft.web.LinkGraph.hostGraph(edges, pages)
    }),
    // mirror-host detection: hosts pairing through shared content digests
    // (2/3 of docs share block content, 1/3 unique so Jaccard < 1);
    // ubiquitous digests excluded up front by the per-digest host cap
    "web_mirrors" -> ((s, dir) => {
      val d = col("doc_id")
      val hosts = docsWithUrls(s, dir).select(
        graft.etl.UrlOps.urlHost(col("url")).as("host"),
        sha2(when(pmod(d, lit(3L)) === 0,
            concat(lit("u"), d.cast("string")))
          .otherwise(concat(lit("c"), pmod(d, lit(50L)).cast("string"))), 256)
          .as("digest"))
      graft.web.Mirrors.mirrorPairs(hosts, col("host"), col("digest"),
        minShared = 2, maxHostsPerDigest = 16)
    }),
    // redirect-chain resolution by pointer doubling (log L rounds, not L):
    // deterministic chains 8k+0->1->2->3 plus a seeded 62<->63 cycle and a
    // 61->cycle feeder; cycles surface as status=unresolved with NULLs,
    // never a silently bouncing target
    "web_redirects" -> ((s, dir) => {
      val nodes = docs(s, dir)
        .select(pmod(col("doc_id"), lit(64L)).as("n")).distinct()
      val chain = nodes.filter(pmod(col("n"), lit(8L)) < 3)
        .select(col("n").as("src"), (col("n") + 1).as("dst"))
      val extra = nodes.filter(col("n").isin(61L, 62L, 63L))
        .select(col("n").as("src"),
          when(col("n") === 61L, lit(62L))
            .when(col("n") === 62L, lit(63L)).otherwise(lit(62L)).as("dst"))
      graft.web.LinkGraph.resolveRedirects(chain.unionByName(extra),
        doublings = 4)
    }),
    // rule-based sentence segmentation (the decontamination/bitext
    // granularity): capture-group boundary mark + one split, two codegen
    // string passes, map-only — RE2-replayable by design (no lookbehind).
    // The synthetic corpus carries no punctuation, so deterministic
    // terminators are injected by literal replaces in BOTH engines first
    "doc_sentences" -> ((s, dir) => {
      val punct = replace(replace(replace(col("text"),
        lit("table "), lit("table. ")),
        lit("row "), lit("row! ")),
        lit("key "), lit("key? "))
      graft.text.Corpus.sentences(
        docs(s, dir).withColumn("text", punct), col("doc_id"), col("text"))
    }),
    // recrawl snapshot selection: latest capture per canonical URL, winner
    // via a combinable max(struct(ts, key)) — deterministic under ties
    "web_url_latest" -> ((s, dir) =>
      graft.etl.UrlOps.latestByCanonical(
        docsWithUrls(s, dir).withColumn("fetch_ts",
          lit(1700000000L) + pmod(col("doc_id"), lit(97L)) * lit(86400L)
            + col("doc_id")),
        col("url"), col("doc_id"), col("fetch_ts"))),
    // link-graph centrality: 3 synchronous PageRank iterations over a
    // deterministic doc-derived edge list, in FIXED-POINT arithmetic
    // (scaled longs + explicit integral division) so the distributed sum is
    // order-insensitive and the oracle replays every iteration bit-exactly
    // — the link-based quality signal of a crawl corpus
    "web_pagerank" -> ((s, dir) =>
      graft.web.LinkGraph.pageRank(
        docs(s, dir).select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst")),
        iters = 3)),
    // deterministic synchronous label-propagation communities (LPA with
    // ties to the smallest label — bit-reproducible, unlike classic
    // random-tie LPA): 3 rounds over the undirected doc graph; per round
    // one edge-label equi-join + two combinable aggs (count, then the
    // min(struct(-n, label)) argmax — no window, no sort)
    "web_communities" -> ((s, dir) =>
      graft.web.LinkGraph.labelPropagation(
        docs(s, dir).select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst")),
        iters = 3)),
    // co-citation similarity ("linked from the same page") over a 2-out
    // edge set plus a 64-out directory supernode that the maxOutdeg cap
    // EXCLUDES (the d^2 pair fan-out containment) — the oracle replays the
    // cap and the canonical a < b pair counts
    "web_cocitation" -> ((s, dir) => {
      val d = docs(s, dir)
      val e = d.select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst"))
        .unionByName(d.select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 29 + 17) % 64).as("dst")))
        .unionByName(d.select(lit(0L).as("src"), (col("doc_id") % 64).as("dst")))
      graft.web.LinkGraph.coCitation(e, maxOutdeg = 16)
    }),
    // TrustRank (the web-spam demotion signal): the same fixed-point
    // PageRank chain with teleport restricted to a trusted seed set (the
    // v % 8 = 0 nodes of the 64-node doc-derived graph) — every iteration
    // replayed bit-exactly by the oracle; seed-unreachable link farms get
    // exactly zero trust
    "web_trustrank" -> ((s, dir) =>
      graft.web.LinkGraph.trustRank(
        docs(s, dir).select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst")),
        s.range(0, 64, 8).toDF("node"), iters = 3)),
    // relative spam mass = (pagerank - trust) / pagerank in ppm fixed
    // point, clamped BEFORE the integral division so both engines stay on
    // the non-negative domain where div and // agree — the TrustRank
    // paper's detection metric, joining the two rank vectors
    "web_spam_mass" -> ((s, dir) => {
      val edges = docs(s, dir).select((col("doc_id") % 64).as("src"),
        ((col("doc_id") * 17 + 29) % 64).as("dst"))
      graft.web.LinkGraph.spamMass(
        graft.web.LinkGraph.pageRank(edges, iters = 3),
        graft.web.LinkGraph.trustRank(edges,
          s.range(0, 64, 8).toDF("node"), iters = 3))
    }),
    // checkpoint-resumed PageRank (E10 x iterative ops): a cold run killed
    // after iteration 2 leaves blocks i0..i2 on disk; the rerun serves all
    // three from checkpoint (lineage resumed=true) and computes only i3.
    // The oracle gates BOTH facts: the final ranks are the bit-exact DuckDB
    // replay (same fixed-point chain as web_pagerank) AND resumed_stages=3
    // (recomputing any block would make it fewer)
    "web_pagerank_resume" -> ((s, dir) => {
      val ck = s"$OracleDir/ckpt_pagerank"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ck), true)
      val edges = docs(s, dir).select((col("doc_id") % 64).as("src"),
        ((col("doc_id") * 17 + 29) % 64).as("dst"))
      val fp = s"docs|$dir"
      graft.web.LinkGraph.pageRankResumable(s, edges, iters = 2, ck, fp).count()
      val out = graft.web.LinkGraph.pageRankResumable(s, edges, iters = 3, ck, fp)
      val resumed = Checkpoint.metrics(s, ck)
        .filter(col("resumed") === true)
        .agg(countDistinct("stage").as("resumed_stages"))
      out.crossJoin(broadcast(resumed))
    }),
    // checkpoint-resumed HITS (the second value-propagation shape): kill
    // after iteration 2, rerun serves blocks i0..i2 from checkpoint
    // (resumed_stages=3 gated by the oracle) and computes only i3; final
    // hub/authority vectors are the bit-exact DuckDB replay of web_hits
    "web_hits_resume" -> ((s, dir) => {
      val ck = s"$OracleDir/ckpt_hits"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ck), true)
      val edges = docs(s, dir).select((col("doc_id") % 64).as("src"),
        ((col("doc_id") * 17 + 29) % 64).as("dst"))
      val fp = s"docs|$dir"
      graft.web.LinkGraph.hitsResumable(s, edges, iters = 2, ck, fp).count()
      val out = graft.web.LinkGraph.hitsResumable(s, edges, iters = 3, ck, fp)
      val resumed = Checkpoint.metrics(s, ck)
        .filter(col("resumed") === true)
        .agg(countDistinct("stage").as("resumed_stages"))
      out.crossJoin(broadcast(resumed))
    }),
    // crawl-frontier expansion: layered BFS from a 3-node seed list over a
    // deterministic out-degree-≤3 doc-derived link graph, min-hop labels,
    // budget 4 rounds. Third iterative-graph shape (reachability) next to
    // PageRank (value propagation) and CC (label convergence); the oracle
    // re-derives min-hop by a DIFFERENT algorithm — recursive path
    // enumeration + GROUP BY min — vs the engine's layered visited-set BFS
    "web_crawl_frontier" -> ((s, dir) => {
      val edges = docs(s, dir).selectExpr(
        "pmod(doc_id, 97) AS src",
        "pmod(pmod(doc_id, 97) * 17 + 29 + pmod(doc_id div 97, 3), 97) AS dst")
      val seeds = s.range(3).select(col("id").as("node"))
      graft.web.LinkGraph.crawlFrontier(edges, seeds, maxHops = 4)
    }),
    // cost-weighted link distance (Bellman-Ford, 4 relax rounds = exact
    // min-cost over walks of <= 4 edges): the weighted sibling of the
    // frontier BFS; the oracle enumerates bounded weighted walks via a
    // recursive CTE — a different algorithm that must agree on every node
    "web_linkdist" -> ((s, dir) => {
      val edges = docs(s, dir).selectExpr(
        "pmod(doc_id, 64) AS src",
        "pmod(pmod(doc_id, 64) * 17 + 29 + pmod(doc_id div 64, 3), 64) AS dst",
        "1 + pmod(doc_id, 5) AS w")
      val seeds = s.range(8).select(col("id").as("node"))
        .filter(col("node").isin(0L, 7L))
      graft.web.LinkGraph.linkDistance(edges, seeds, maxRounds = 4)
    }),
    // robots-exclusion politeness gate (RFC 9309 longest-match, Allow wins
    // ties): per-host rule arrays broadcast, URL side map-only — one
    // BroadcastHashJoin + codegen fold. Deterministic rules: every host
    // disallows /Dir but re-allows exactly one /Dir/p<k>. The oracle picks
    // the winning rule by a DIFFERENT algorithm (join + row_number window
    // ordered len DESC, allow DESC vs the engine's per-row fold)
    // per-host politeness scheduler over the events table as a fetch log:
    // lag-window inter-fetch gaps vs a deterministic per-host crawl delay;
    // one host-keyed exchange feeds both the window and the aggregate
    "web_crawl_schedule" -> ((s, dir) => {
      val hostNum = pmod(col("user_id"), lit(20L))
      graft.web.CrawlSchedule.schedule(
        s.read.parquet(s"$dir/events.parquet"),
        concat(lit("host"), hostNum.cast("string"), lit(".example.com")),
        unix_micros(col("ts").cast("timestamp")),
        col("event_id"),
        hostNum % 5 + 1)
    }),
    "web_robots_filter" -> ((s, dir) => {
      val rules = s.range(20).selectExpr(
          "concat('host', id % 5, '.example', id % 4, '.com') AS host",
          "'/Dir' AS prefix", "false AS allow")
        .unionByName(s.range(20).selectExpr(
          "concat('host', id % 5, '.example', id % 4, '.com') AS host",
          "concat('/Dir/p', id % 3) AS prefix", "true AS allow"))
      graft.web.Robots.robotsFilter(docsWithUrls(s, dir), col("url"), rules)
        .drop("url")
    }),
    // KMV distinct-count sketch per host over canonical URLs: the portable
    // (sha60) cardinality estimator whose k-th-minimum state and rounded
    // estimate the oracle recomputes exactly; n_exact rides along so the
    // sketch error is inspectable in-result
    "web_distinct_kmv" -> ((s, dir) => {
      val u = docsWithUrls(s, dir)
      graft.sketch.Kmv.kmvDistinct(u,
          graft.etl.UrlOps.urlHost(col("url")),
          graft.etl.UrlOps.canonicalUrl(col("url")), k = 16)
        .withColumnRenamed("key", "host")
    }),
    // HLL cardinality sketch per host: the register-mergeable sibling of
    // the KMV row — DuckDB rebuilds every register (bucket split, rho via
    // bin() length) and replays the exact-integer harmonic sum plus the
    // linear-counting branch bit-for-bit; n_exact rides along
    "web_distinct_hll" -> ((s, dir) => {
      val u = docsWithUrls(s, dir)
      graft.sketch.Hll.hllDistinct(u,
          graft.etl.UrlOps.urlHost(col("url")),
          graft.etl.UrlOps.canonicalUrl(col("url")))
        .withColumnRenamed("key", "host")
    }),
    // streaming sketch maintenance: an AvailableNow stream (4 micro-batches
    // via maxFilesPerTrigger=1 over a 4-file input) appends one PARTIAL
    // register table per batch; the estimate is the cell-max merge of the
    // sink — proving the batch HLL and the streaming partials converge to
    // the identical registers (the oracle recomputes from scratch)
    "web_stream_distinct" -> ((s, dir) => {
      val sink = s"$OracleDir/stream_hll_sink"
      val ckpt = s"$OracleDir/stream_hll_ckpt"
      val inDir = s"$OracleDir/stream_hll_in"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      Seq(sink, ckpt, inDir).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      docsWithUrls(s, dir).repartition(4).write.mode("overwrite").parquet(inDir)
      val schema = s.read.parquet(inDir).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      graft.streaming.Adaptive.withStatePartitions(s,
        graft.streaming.Adaptive.statePartitions(s, inDir)) {
        graft.streaming.StreamSketch.hllPartials(src,
          graft.etl.UrlOps.urlHost(col("url")),
          graft.etl.UrlOps.canonicalUrl(col("url")), sink, ckpt)
          .awaitTermination()
      }
      val partials = s.read.parquet(sink)
      graft.streaming.StreamSketch.estimateFromPartials(partials)
        .withColumnRenamed("key", "host")
        .crossJoin(broadcast(partials.agg(
          countDistinct(col("batch_id")).as("n_batches"))))
    }),
    // SemDeDup representative selection: scaled-integer centroid per label
    // (exact floored mean), exact long dots/norms, one fixed-order float
    // chain into the rounded cosine; rep = max cosine, ties to smallest id
    // Lloyd k-means over the embeddings (the IVF-coarse-quantizer trainer):
    // per round a MAP-ONLY literal-centroid assignment + ONE combinable
    // (cluster,pos) aggregation; exact scaled-integer math end to end
    "emb_kmeans" -> ((s, dir) =>
      graft.sim.KMeans.kmeans(embs(s, dir), col("vec_id"), col("embedding"),
        k = 8, rounds = 3)),
    // dominant principal direction by power iteration in exact fixed-point:
    // per-round map-only projection (direction = plan literal) + ONE
    // combinable per-dimension aggregation; infinity-norm renormalization
    // keeps every step in sign-split integer division
    "emb_pca_power" -> ((s, dir) =>
      graft.sim.Pca.powerIteration(embs(s, dir), col("vec_id"),
        col("embedding"), rounds = 3)),
    // PC1 removal (whitening) over the common denominator v.v — residuals
    // are exact rationals, orthogonal to the direction by INTEGER identity
    "emb_whiten" -> ((s, dir) =>
      graft.sim.Pca.removeDominant(embs(s, dir), col("vec_id"),
        col("embedding"), rounds = 3)),
    // signed random projection (JL transform, +-1 Achlioptas matrix derived
    // from the portable sha60 — never stored): 16 map-only literal-array
    // dots, zero shuffle; the oracle recomputes it explode-join-group
    "emb_srp" -> ((s, dir) =>
      graft.sim.RandomProjection.project(embs(s, dir), col("vec_id"),
        col("embedding"), outDims = 16)),
    // feature hashing ("the hashing trick"): fixed-width signed-count
    // embedding with NO vocabulary pass — bucket and sign from the portable
    // sha60, one explode + one combinable (doc, bucket) aggregation
    "doc_hash_embed" -> ((s, dir) =>
      graft.text.TextAnalysis.hashEmbed(docs(s, dir), col("doc_id"),
        col("text"), dims = 32)),
    // cluster-balanced diversity sampling: k-means assignment -> up to 16
    // members per cluster by a deterministic sha60 priority (the
    // capPerStratum bounded window) — the "sample evenly across semantic
    // clusters" step that follows k-means in a curation pipeline
    "emb_cluster_sample" -> ((s, dir) => {
      val asg = graft.sim.KMeans.kmeans(embs(s, dir), col("vec_id"),
        col("embedding"), k = 8, rounds = 3)
      val pri = graft.functions.TextFunctions.sha60(col("vec_id").cast("string"))
      graft.text.Corpus.capPerStratum(asg.withColumn("prio", pri),
          col("cluster"), col("vec_id"), col("prio"), n = 16)
        .select(col("vec_id"), col("cluster"), col("prio"), col("strat_rank"))
    }),
    // checkpoint-resumed k-means (fifth resumable iterative op): kill after
    // round 2, rerun serves blocks i0..i2 from checkpoint (resumed_stages=3
    // gated by the oracle) and trains only round 3; final assignment is the
    // bit-exact DuckDB replay of emb_kmeans
    "emb_kmeans_resume" -> ((s, dir) => {
      val ck = s"$OracleDir/ckpt_kmeans"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ck), true)
      val e = embs(s, dir)
      val fp = s"embs|$dir"
      graft.sim.KMeans.kmeansResumable(s, e, col("vec_id"), col("embedding"),
        k = 8, rounds = 2, ck, fp).count()
      val out = graft.sim.KMeans.kmeansResumable(s, e, col("vec_id"),
        col("embedding"), k = 8, rounds = 3, ck, fp)
      val resumed = Checkpoint.metrics(s, ck)
        .filter(col("resumed") === true)
        .agg(countDistinct("stage").as("resumed_stages"))
      out.crossJoin(broadcast(resumed))
    }),
    "emb_semantic_rep" -> ((s, dir) =>
      graft.sim.SemDedup.representatives(embs(s, dir),
        col("vec_id"), col("label"), col("embedding"), closeThreshold = 0.8)),
    // HITS hubs & authorities over the SAME deterministic edge list as
    // web_pagerank, 3 synchronous iterations in fixed-point arithmetic —
    // the oracle unrolls both half-steps of every iteration as CTEs
    "web_hits" -> ((s, dir) =>
      graft.web.LinkGraph.hits(
        docs(s, dir).select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst")),
        iters = 3)),
    // anchor-text consolidation per link target: inlink count, source-host
    // diversity, anchor vocabulary, deterministic top anchor (largest
    // count, ties lexicographic) — the oracle re-derives the top anchor by
    // a DIFFERENT algorithm (row_number window vs combinable min(struct))
    "web_anchor_stats" -> ((s, dir) => {
      val u = docsWithUrls(s, dir)
      val links = u.select(
        pmod(col("doc_id") * 31, lit(40L)).as("dst"),
        concat(lit("a"), pmod(col("doc_id"), lit(7L)).cast("string"))
          .as("anchor"),
        graft.etl.UrlOps.urlHost(col("url")).as("src_host"))
      graft.web.LinkGraph.anchorStats(links, col("dst"), col("anchor"),
          col("src_host"))
        .withColumn("anchors_cat", array_join(col("anchors"), "|"))
        .drop("anchors")
    }),
    // tile pyramid: base zoom pays the only hit-level shuffle, coarser
    // zooms roll up the previous level by exact integer halving; the oracle
    // recomputes every level DIRECTLY from the points (a different
    // algorithm) and must agree bit-for-bit
    "geo_tile_pyramid" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .select(((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0)
            .as("lon"),
          ((col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0)
            .as("lat"))
      graft.engine.Tiler.pyramid(pts, zMin = 4, zMax = 8)
    }),
    // kernel-smoothed density raster: integer binomial 3x3 kernel per hit
    // (4/2/1), x wrapped at the antimeridian — integer weights keep the
    // rollup exact and order-insensitive; oracle replays the explode+sum
    "geo_heatmap" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .select(((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0)
            .as("lon"),
          ((col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0)
            .as("lat"))
      graft.engine.Tiler.heatmap(pts, z = 8)
    }),
    // RASTER -> VECTOR: marching-squares iso-contours of the geo_heatmap
    // density raster at its mean heat (16*n/65536, integer div — scale-
    // factor-independent by construction). The single driver-side count is
    // the bounded threshold-statistic collect (the BPE-argmax role); DuckDB
    // replays corner-bit contributions, case indices, the 16-case segment
    // table, and every half-unit endpoint.
    "geo_contours" -> ((s, dir) => {
      val pts = s.read.parquet(s"$dir/orders.parquet")
        .select(((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0)
            .as("lon"),
          ((col("o_orderkey") * 104729 % 170000) / lit(1000.0) - 85.0)
            .as("lat"))
      val threshold = 16L * pts.count() / 65536L
      graft.engine.Tiler.contours(
        graft.engine.Tiler.heatmap(pts, z = 8), threshold)
    }),
    // Morton/Z-order locality codes over the clustered synthetic point set:
    // the layout key for engine.ZOrder; DuckDB recomputes the interleave as
    // an explicit per-bit shift sum (a different construction than the
    // engine's magic-mask spread) and must agree bit-for-bit
    "geo_zorder" -> ((s, dir) =>
      graft.engine.ZOrder.withZ(clusteredPts(s, dir), col("lon"), col("lat"),
          zoom = 10)
        .select("o_orderkey", "tile_x", "tile_y", "z")),
    // bbox scan THROUGH the z-range pruning path (aligned-quad decomposition
    // into contiguous Morton intervals + exact tile refilter): semantically
    // a plain bbox predicate, which is exactly what the oracle runs — the
    // cross-engine proof that pruning never drops a row
    "geo_zscan" -> ((s, dir) =>
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
        .select("o_orderkey", "tile_x", "tile_y", "z")),
    // grid-DBSCAN hotspot clustering: per-tile counts -> dense cells ->
    // 8-neighbor adjacency (x wraps) -> connected components; the oracle
    // re-derives the dense grid and labels components by recursive-CTE
    // reachability (min key), including singleton dense cells
    "geo_hotspots" -> ((s, dir) =>
      graft.engine.Hotspots.cluster(clusteredPts(s, dir).select("lon", "lat"),
        zoom = 10, minPts = 10)),
    // vector-side polygon analytics over the SAME packed-ring parquet the
    // reverse-geocode PIP scans: shoelace area + area-weighted centroid as
    // one ordered per-row fold (bit-deterministic), bbox, ring/vertex counts
    "geo_polygon_stats" -> ((s, dir) => {
      oracleWorldTables(s)
      graft.engine.PolyStats.stats(s.read.parquet(s"$OracleDir/polys"))
    }),
    // geodesic ring length in METERS (rounded to mm): the ordered haversine
    // fold next to stats' planar quantities; DuckDB replays the same chain
    "geo_polygon_perimeter" -> ((s, dir) => {
      oracleWorldTables(s)
      graft.engine.PolyStats.perimeter(s.read.parquet(s"$OracleDir/polys"))
        .select(col("polygon_id"), col("n_vertices"),
          round(col("perimeter_m"), 3).as("perimeter_m"))
    }),
    // MGRS annotation (closes the opencage.rs:582 schema slot): Krüger UTM
    // with hyperbolics expanded through exp/ln in a fixed operation order,
    // so DuckDB replays the identical IEEE sequence — zone exceptions
    // (Norway/Svalbard) and both hemispheres exercised by the point domain
    "geo_mgrs" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          ((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0).as("lon"),
          ((col("o_orderkey") * 104729 % 163800) / lit(1000.0) - 79.9).as("lat"))
        .select(col("o_orderkey"), col("lon"), col("lat"),
          GeoFunctions.mgrs(col("lon"), col("lat")).as("mgrs"))
    }),
    // geohash annotation (opencage.rs:474 schema slot): the engine's
    // interval-bisection encoder vs DuckDB's list_reduce replay of the
    // SAME bisection (all midpoints are exact dyadic doubles, so the two
    // IEEE chains are identical) + Morton interleave + base32 lookup; the
    // precision-5 column is computed by an INDEPENDENT engine call but the
    // oracle derives it as the 9-char prefix — the prefix-refinement
    // property proven cross-engine
    "geo_geohash" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"),
          ((col("o_orderkey") * 7919 % 360000) / lit(1000.0) - 180.0).as("lon"),
          ((col("o_orderkey") * 104729 % 163800) / lit(1000.0) - 79.9).as("lat"))
        .select(col("o_orderkey"), col("lon"), col("lat"),
          GeoFunctions.geohash(col("lon"), col("lat"), lit(9)).as("geohash"),
          GeoFunctions.geohash(col("lon"), col("lat"), lit(5)).as("geohash5"))
    }),
    // qibla bearing + Maidenhead locator (E8 annotations, opencage.rs:583/
    // 594) — pure spherical-trig / grid arithmetic DuckDB re-derives with
    // the same operation order (incl. Spark's pmod-on-double semantics)
    "geo_qibla_maidenhead" -> ((s, dir) => {
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
    }),
    // sunrise/sunset annotation (opencage.rs:592-598): the classic USNO
    // almanac algorithm, date keyed by the row's timestamp — DuckDB replays
    // the identical op order incl. Java's %-based angle normalization and
    // Math.round (floor(x+0.5)); polar day/night rows stay NULL in both
    "geo_sun" -> ((s, dir) => {
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
    }),
    // triangle count + local clustering coefficient per node over a DENSE
    // deterministic multigraph (src = id mod 48, dst = id div 48 mod 48 —
    // NOT the functional pagerank graph, which is triangle-starved by
    // construction). Engine: degree-ordered wedge enumeration (supernodes
    // never pair their neighbors); oracle: id-ordered 3-way self-join — two
    // different algorithms that must agree exactly, all-integer output
    "web_triangles" -> ((s, dir) =>
      graft.web.LinkGraph.triangles(
        docs(s, dir).select((col("doc_id") % 48).as("src"),
          expr("(doc_id div 48) % 48").as("dst")))),
    // log2-bucketed degree histogram with exact counts + integral ppm
    // shares — the power-law first look that sizes broadcast/salting
    // thresholds; bucket = bit-length(degree) - 1, pure integer both sides
    "web_degree_hist" -> ((s, dir) =>
      graft.web.LinkGraph.degreeHistogram(
        docs(s, dir).select((col("doc_id") % 48).as("src"),
          expr("(doc_id div 48) % 48").as("dst")))),
    // k-core decomposition by iterative peeling over a core+periphery+path
    // graph built to EXERCISE the loop (a power-law star fringe that dies
    // in two rounds, a dense 24-node core that survives, and an attached
    // 8-hop path that unravels one node per round — 10 peel rounds at
    // sf0.01 AND sf0.1, convergence proven in-operator); the oracle
    // replays every peel round as an unrolled CTE chain with margin
    "web_kcore" -> ((s, dir) => {
      val d = docs(s, dir)
      val e = d.select((col("doc_id") % 100).as("src"),
          expr("100 div (1 + ((doc_id * 17 + 5) % 100))").as("dst"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") % 24).as("src"),
            expr("(doc_id * 37 + (doc_id div 24) * 17 + 11) % 24").as("dst")))
        .unionByName(d.filter(col("doc_id") % 25 === 0)
          .select((lit(500L) + expr("(doc_id div 25) % 8")).as("src"),
            (lit(501L) + expr("(doc_id div 25) % 8")).as("dst")))
        .unionByName(d.filter(col("doc_id") % 500 === 0)
          .select(lit(0L).as("src"), lit(500L).as("dst")))
      graft.web.LinkGraph.kCore(e, k = 2)
    }),
    // great-circle navigation annotations per gazetteer point against the
    // fixed track (2,41)->(3,42): initial bearing from track start, signed
    // cross-track offset from the track — map-only row-local trig chains,
    // integral contract columns (micro-degrees / millimeters)
    "geo_track" -> ((s, dir) => {
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
    }),
    // character-distribution quality gate: exact integer Gini impurity of
    // the 38-class char distribution (the gating column — no IEEE in it),
    // class count, and a fixed-order Shannon-entropy chain rounded 6dp
    "doc_char_dist" -> ((s, dir) =>
      graft.text.TextAnalysis.withCharDistribution(docs(s, dir))
        .select(col("doc_id"), col("n_chars_cd").cast("long").as("n_chars"),
          col("n_char_classes").cast("long").as("n_char_classes"),
          col("char_gini_ppm"), col("char_entropy_b6"))),
    // Gopher rule gate (Rae et al. 2021 A1.1): the published crawl-filter
    // rule list as per-rule columns + the conjunctive keep flag, over a
    // derived corpus that exercises every rule — symbol-heavy (%9),
    // all-bullet-lines (%11) and ellipsis-end (%13) variants injected
    // deterministically next to the raw docs; map-only codegen string math
    "doc_gopher_rules" -> ((s, dir) => {
      val d = docs(s, dir)
      val txt = when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" # # # # # # # # # # # #")))
        .when(col("doc_id") % 11 === 0,
          concat(lit("- "),
            replace(col("text"), lit(" value "), lit("\n- value "))))
        .when(col("doc_id") % 13 === 0,
          concat(col("text"), lit("...\nto be continued...")))
        .when(col("doc_id") % 2 === 0,
          concat(col("text"),
            lit(" the deal is that we have to be of one mind and go with it")))
        .otherwise(col("text"))
      graft.text.TextAnalysis.withGopherRules(
          d.select(col("doc_id"), txt.as("text")))
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
          "bullet_ratio", "ellipsis_ratio", "alpha_ratio",
          "n_req_stopwords", "gopher_keep")
    }),
    // streaming heavy hitters: 4 REAL micro-batches each append a PARTIAL
    // Count-Min cell table; the cell-SUM merge of the partials equals the
    // whole-stream sketch EXACTLY, so the oracle's from-scratch
    // re-derivation over the full host stream is the mergeability proof —
    // the CM sibling of web_stream_distinct's max-merged HLL registers
    "web_stream_heavy" -> ((s, dir) => {
      val sink = s"$OracleDir/stream_cm_sink"
      val ckpt = s"$OracleDir/stream_cm_ckpt"
      val inDir = s"$OracleDir/stream_cm_in"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      Seq(sink, ckpt, inDir).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      docsWithUrls(s, dir).repartition(4).write.mode("overwrite").parquet(inDir)
      val schema = s.read.parquet(inDir).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      graft.streaming.Adaptive.withStatePartitions(s,
        graft.streaming.Adaptive.statePartitions(s, inDir)) {
        graft.streaming.StreamSketch.cmPartials(src,
          graft.etl.UrlOps.urlHost(col("url")), CmDepth, CmWidth, sink, ckpt)
          .awaitTermination()
      }
      val partials = s.read.parquet(sink)
      val merged = graft.sketch.CountMin.merge(
        partials.select("cm_row", "cm_col", "cm_cnt"))
      val hosts = docsWithUrls(s, dir)
        .select(graft.etl.UrlOps.urlHost(col("url")).as("host"))
      val top = hosts.groupBy("host").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("host")).limit(15)
      graft.sketch.CountMin.estimate(merged, top, col("host"),
          CmDepth, CmWidth)
        .join(top, col("item") === col("host"))
        .select(col("host"), col("n_true"), col("cm_est"))
        .crossJoin(broadcast(partials.agg(
          countDistinct(col("batch_id")).as("n_batches"))))
    })
  )

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

  /** PQ-ADC top-k oracle, shared by emb_knn_pq and the exhaustive-probe
    * emb_knn_ivfpq contract query: global int8 scale, clamped global-scale
    * codes, seed-sampled codebooks (ORDER BY vec_id LIMIT ks), integer-L2
    * subspace assignment with ties to the lowest centroid index, exact
    * integer ADC estimates (sum over subspaces of subvector-centroid dots ==
    * Spark's LUT gather), descaled scores, ranks — every step past the raw
    * float reads is exact integer math, so no IEEE-order caveats. */
  private val EmbKnnPqSql =
    """WITH g AS (SELECT max(list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))))) AS scale FROM embeddings),
        |cd AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(GREATEST(CAST(-127.0 AS DOUBLE),
        |      LEAST(CAST(127.0 AS DOUBLE), round(CAST(x AS DOUBLE)
        |        * CAST(127.0 AS DOUBLE) / g.scale))) AS BIGINT)) AS code
        |  FROM embeddings, g),
        |seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS t, code
        |  FROM (SELECT vec_id, code FROM cd ORDER BY vec_id LIMIT 16) s),
        |js AS (SELECT unnest(range(4)) AS j),
        |sub AS (SELECT vec_id, j, list_slice(code, j*16 + 1, j*16 + 16) AS sc
        |  FROM cd, js),
        |csub AS (SELECT t, j, list_slice(code, j*16 + 1, j*16 + 16) AS cc
        |  FROM seeds, js),
        |d AS (SELECT sub.vec_id, sub.j, csub.t,
        |    CAST(list_sum(list_transform(list_zip(sc, cc),
        |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
        |  FROM sub JOIN csub ON sub.j = csub.j),
        |a AS (SELECT vec_id, j, t FROM (
        |    SELECT vec_id, j, t,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, t) AS rn
        |    FROM d) x WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, j, sc AS qsc FROM sub WHERE vec_id < 8),
        |pe AS (SELECT qs.query_id, a.vec_id AS item_id,
        |    CAST(sum(CAST(list_sum(list_transform(list_zip(qs.qsc, csub.cc),
        |      z -> z[1] * z[2])) AS BIGINT)) AS BIGINT) AS est
        |  FROM qs
        |  JOIN a ON a.j = qs.j
        |  JOIN csub ON csub.j = a.j AND csub.t = a.t
        |  WHERE a.vec_id <> qs.query_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, item_id, est,
        |    (g.scale / CAST(127.0 AS DOUBLE)) * (g.scale / CAST(127.0 AS DOUBLE))
        |      * CAST(est AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY est DESC, item_id)
        |      AS rn
        |  FROM pe, g)
        |SELECT query_id, CAST(rn AS INT) AS knn_rank, item_id, est,
        |  round(score, 6) AS score
        |FROM r WHERE rn <= 5""".stripMargin

  /** Brute-force cosine top-k oracle, shared by emb_knn_brute and the
    * exhaustive-probe emb_knn_ivf contract query. */
  private val EmbKnnBruteSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS item_id, embedding AS cv FROM embeddings),
        |s AS (SELECT query_id, item_id,
        |  list_sum(list_transform(list_zip(qv, cv),
        |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM q, c WHERE item_id <> query_id),
        |r AS (SELECT query_id, item_id, cos,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, item_id) AS rn FROM s)
        |SELECT query_id, CAST(rn AS INT) AS knn_rank, item_id, round(cos, 6) AS cos
        |FROM r WHERE rn <= 5""".stripMargin

  /** Portable LSH-kNN oracle (named so emb_ann_recall can compose it with
    * the brute chain): sha256-derived hyperplanes, corpus/query bucket
    * keys, 1-bit multi-probe, candidate set, exact cosine, rank. */
  private val EmbKnnLshPortableSql =
    """WITH pl AS (SELECT t, j, list_transform(range(64), d -> CASE WHEN
        |    (list_reduce(list_transform(range(15), kk -> CAST(
        |      strpos('0123456789abcdef', substr(sha256(
        |        'hp:' || t || ':' || j || ':' || d), kk+1, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) & 1) = 0
        |    THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS p
        |  FROM range(4) tt(t), range(8) jj(j)),
        |c AS (SELECT vec_id AS item_id, embedding AS cv FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 8),
        |cd AS (SELECT item_id, t, j, list_sum(list_transform(range(64),
        |    d -> CAST(cv[CAST(d AS INT)+1] AS DOUBLE) * p[CAST(d AS INT)+1])) AS dot
        |  FROM c, pl),
        |ck AS (SELECT item_id, t, CAST(sum(CASE WHEN dot > 0
        |    THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS bk
        |  FROM cd GROUP BY 1, 2),
        |qd AS (SELECT query_id, t, j, list_sum(list_transform(range(64),
        |    d -> CAST(qv[CAST(d AS INT)+1] AS DOUBLE) * p[CAST(d AS INT)+1])) AS dot
        |  FROM q, pl),
        |qk AS (SELECT query_id, t, CAST(sum(CASE WHEN dot > 0
        |    THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS bk
        |  FROM qd GROUP BY 1, 2),
        |pr AS (SELECT query_id, t, CASE WHEN pp = 0 THEN bk
        |    ELSE xor(bk, (CAST(1 AS BIGINT) << CAST(pp - 1 AS INT))) END AS bucket
        |  FROM qk, range(9) zz(pp)),
        |cand AS (SELECT DISTINCT p2.query_id, k2.item_id
        |  FROM pr p2 JOIN ck k2 ON k2.t = p2.t AND k2.bk = p2.bucket
        |  WHERE k2.item_id <> p2.query_id),
        |cs AS (SELECT c2.query_id, c2.item_id,
        |  list_sum(list_transform(list_zip(q.qv, c.cv),
        |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM cand c2 JOIN q ON q.query_id = c2.query_id
        |    JOIN c ON c.item_id = c2.item_id),
        |r AS (SELECT query_id, item_id, cos, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cos DESC, item_id) AS rn FROM cs)
        |SELECT query_id, CAST(rn AS INT) AS knn_rank, item_id,
        |  round(cos, 6) AS cos
        |FROM r WHERE rn <= 5""".stripMargin

  /** MMR oracle: brute top-10 shortlist + candidate pair cosines (the
    * EmbKnnBruteSql IEEE chain) reduced to ppm BIGINTs, then all four
    * greedy rounds unrolled as CTEs — anti-join of picked, max-sim
    * penalty, 7*rel - 3*pen integer scores, argmax with min-id ties. */
  private def mmrSql(k: Int): String = {
    def cosChain(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 4),
         |c0 AS (SELECT vec_id AS item_id, embedding AS cv FROM embeddings),
         |s0 AS (SELECT query_id, item_id,
         |    ${cosChain("qv", "cv")} AS cos
         |  FROM q, c0 WHERE item_id <> query_id),
         |r0 AS (SELECT query_id, item_id, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, item_id) AS rn FROM s0),
         |cand AS (SELECT query_id, item_id,
         |    CAST(round(cos * 1000000) AS BIGINT) AS rel_ppm
         |  FROM r0 WHERE rn <= 10),
         |cvx AS (SELECT cand.query_id, cand.item_id, e.embedding AS v
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.item_id),
         |pr AS (SELECT x.query_id, x.item_id AS a_id, y.item_id AS b_id,
         |    CAST(round((${cosChain("x.v", "y.v")}) * 1000000) AS BIGINT)
         |      AS sim_ppm
         |  FROM cvx x JOIN cvx y
         |    ON x.query_id = y.query_id AND x.item_id <> y.item_id),
         |pk1 AS (SELECT query_id, item_id, 7 * rel_ppm AS score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY 7 * rel_ppm DESC, item_id) AS rn FROM cand),
         |s1 AS (SELECT query_id, item_id, score FROM pk1 WHERE rn = 1),
         |a1 AS (SELECT * FROM s1)""".stripMargin)
    for (r <- 2 to k) sb.append(
      s""",
         |c$r AS (SELECT cand.* FROM cand WHERE NOT EXISTS (
         |    SELECT 1 FROM a${r - 1} s WHERE s.query_id = cand.query_id
         |      AND s.item_id = cand.item_id)),
         |pen$r AS (SELECT pr.query_id, pr.a_id AS item_id,
         |    max(pr.sim_ppm) AS pen
         |  FROM pr JOIN a${r - 1} s
         |    ON s.query_id = pr.query_id AND s.item_id = pr.b_id
         |  GROUP BY 1, 2),
         |sc$r AS (SELECT c.query_id, c.item_id,
         |    7 * c.rel_ppm - 3 * COALESCE(p.pen, 0) AS score
         |  FROM c$r c LEFT JOIN pen$r p
         |    ON p.query_id = c.query_id AND p.item_id = c.item_id),
         |pk$r AS (SELECT query_id, item_id, score, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, item_id) AS rn
         |  FROM sc$r),
         |s$r AS (SELECT query_id, item_id, score FROM pk$r WHERE rn = 1),
         |a$r AS (SELECT * FROM a${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin)
    sb.append(
      s"""
         |SELECT query_id, CAST(rk AS INT) AS mmr_rank, item_id,
         |  score AS score_scaled
         |FROM (${(1 to k).map(r =>
             s"SELECT query_id, $r AS rk, item_id, score FROM s$r")
             .mkString(" UNION ALL ")})""".stripMargin)
    sb.toString
  }

  /** Bitext-mining oracle: both brute-kNN directions (k=3) over the
    * even/odd vec_id split, 7dp-DECIMAL neighborhood sums, the engine's
    * exact fixed-order margin chain, best-margin pick, 6dp gate at 1.02,
    * and the backward-top-k mutuality flag — replays BitextMine.mine
    * end-to-end. */
  private val EmbBitextSql =
    """WITH src AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
        |tgt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
        |pc AS (SELECT s.vec_id AS sid, t.vec_id AS tid,
        |  list_sum(list_transform(list_zip(s.embedding, t.embedding),
        |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(s.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM src s, tgt t),
        |fwd AS (SELECT sid AS query_id, tid AS item_id, cos,
        |  row_number() OVER (PARTITION BY sid ORDER BY cos DESC, tid) AS rn FROM pc),
        |fk AS (SELECT * FROM fwd WHERE rn <= 3),
        |bwd AS (SELECT tid AS query_id, sid AS item_id, cos,
        |  row_number() OVER (PARTITION BY tid ORDER BY cos DESC, sid) AS rn FROM pc),
        |bk AS (SELECT * FROM bwd WHERE rn <= 3),
        |sfd AS (SELECT query_id, sum(CAST(round(cos, 7) AS DECIMAL(20,7))) AS hood_sum,
        |  count(*) AS hood_n FROM fk GROUP BY 1),
        |sbd AS (SELECT query_id AS item_id, sum(CAST(round(cos, 7) AS DECIMAL(20,7))) AS hood_sum_b,
        |  count(*) AS hood_n_b FROM bk GROUP BY 1),
        |sc AS (SELECT fk.query_id, fk.item_id, fk.cos,
        |    fk.cos / ((CAST(sfd.hood_sum AS DOUBLE) / CAST(sfd.hood_n AS DOUBLE)
        |      + CAST(sbd.hood_sum_b AS DOUBLE) / CAST(sbd.hood_n_b AS DOUBLE))
        |      / CAST(2.0 AS DOUBLE)) AS margin
        |  FROM fk JOIN sfd ON sfd.query_id = fk.query_id
        |    JOIN sbd ON sbd.item_id = fk.item_id),
        |pk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY margin DESC, item_id) AS pick FROM sc)
        |SELECT pk.query_id AS src_id, pk.item_id AS tgt_id,
        |  round(pk.cos, 6) AS cos, round(pk.margin, 6) AS margin,
        |  (m.m_src IS NOT NULL) AS mutual
        |FROM pk LEFT JOIN (SELECT DISTINCT item_id AS m_src, query_id AS m_tgt FROM bk) m
        |  ON pk.query_id = m.m_src AND pk.item_id = m.m_tgt
        |WHERE pk.pick = 1 AND round(pk.margin, 6) >= CAST(1.02 AS DOUBLE)""".stripMargin

  /** Shared SQ8 CTE chain: per-vector maxAbs scale, ties-away int8 codes
    * (the CASE guards the all-zero vector exactly like VecCore.int8Pack),
    * and exact integer dots for the 8-query x corpus pair set — the DuckDB
    * replay of Quantize.quantizeCodes + int8Dot with pinned op order. */
  private val Int8Ctes =
    """z AS (SELECT vec_id, embedding AS v,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      |  FROM embeddings),
      |cd AS (SELECT vec_id, mx,
      |    CASE WHEN mx = CAST(0.0 AS DOUBLE)
      |      THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |      ELSE list_transform(v, x -> CAST(round(
      |        CAST(x AS DOUBLE) * CAST(127.0 AS DOUBLE) / mx) AS BIGINT))
      |    END AS code
      |  FROM z),
      |q AS (SELECT vec_id AS query_id, mx AS qmx, code AS qc
      |  FROM cd WHERE vec_id < 8),
      |c AS (SELECT vec_id AS item_id, mx AS cmx, code AS cc FROM cd),
      |s AS (SELECT query_id, item_id, qmx, cmx,
      |    CAST(list_sum(list_transform(list_zip(qc, cc), z -> z[1] * z[2]))
      |      AS BIGINT) AS idot
      |  FROM q, c WHERE item_id <> query_id)""".stripMargin

  /** DuckDB sha60: first 60 bits of sha256(x) as a BIGINT via a base-16 hex
    * fold — bit-identical to Spark's conv(substring(sha2(x,256),1,15),16,10)
    * (the validated portable-hash family used by every sketch oracle). */
  private def sha60Sql(x: String): String =
    s"list_reduce(list_transform(range(15), j -> CAST(strpos('0123456789abcdef', " +
    s"substr(sha256($x), j+1, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"

  /** DuckDB HLL register + estimate chain over canonical URLs per host
    * (assumes the `c` CTE from [[urlCanonCtes]] is in scope). Shared by the
    * batch sketch row and the streaming-partials row — the registers are
    * identical BY CONSTRUCTION (max-merge of per-batch maxima == the
    * one-shot max), so one from-scratch re-derivation oracles both. */
  private lazy val HllCtes: String =
    s"""hh AS (SELECT DISTINCT host, ${sha60Sql("canon_url")} AS h FROM c),
       |rg AS (SELECT host, CAST(h // 18014398509481984 AS INT) AS bucket,
       |    h % 18014398509481984 AS w FROM hh),
       |regs AS (SELECT host, bucket,
       |    max(CASE WHEN w = 0 THEN 55
       |        ELSE 55 - length(bin(w)) END) AS reg
       |  FROM rg GROUP BY 1, 2),
       |agg AS (SELECT host, count(*) AS nb,
       |    CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS sp
       |  FROM regs GROUP BY 1),
       |fl AS (SELECT host, CAST(64 - nb AS INT) AS v_zero,
       |    sp + (64 - nb) * (CAST(1 AS BIGINT) << 55) AS reg_sum FROM agg),
       |est AS (SELECT *, CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
       |    * CAST(36028797018963968.0 AS DOUBLE) / CAST(reg_sum AS DOUBLE)
       |    AS er FROM fl)""".stripMargin

  /** The HLL estimate projection (raw vs linear-counting branch) over the
    * `est` CTE columns. */
  private val HllEstSql: String =
    """CAST(CASE WHEN er <= CAST(160.0 AS DOUBLE) AND v_zero > 0
      |    THEN round(CAST(64.0 AS DOUBLE)
      |      * ln(CAST(64.0 AS DOUBLE) / CAST(v_zero AS DOUBLE)))
      |    ELSE round(er) END AS BIGINT)""".stripMargin

  /** The whole-stream Count-Min heavy-hitter re-derivation: DuckDB rebuilds
    * every cell from the full 3-gram stream and re-estimates the exact
    * top-20. Shared by `doc_heavy_hitters` (direct sketch) and
    * `doc_sketch_merge` (per-shard sketches merged by cell sum) — a hash
    * match on the latter is the mergeability proof. */
  private lazy val HeavyHittersSql: String =
    s"""WITH tok AS (SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
       |    x -> length(x) > 0) AS toks FROM documents),
       |g AS (SELECT unnest(list_transform(range(len(toks) - 2),
       |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
       |  FROM tok WHERE len(toks) >= 3),
       |top AS (SELECT gram, count(*) AS n_true FROM g GROUP BY 1
       |  ORDER BY n_true DESC, gram LIMIT 20),
       |cells AS (SELECT gram, unnest(range(4)) AS r FROM g),
       |sk AS (SELECT r,
       |    ${sha60Sql("'cm:' || CAST(r AS VARCHAR) || ':' || gram")} % 512 AS c,
       |    count(*) AS cm_cnt
       |  FROM cells GROUP BY 1, 2),
       |tc AS (SELECT gram, n_true, unnest(range(4)) AS r FROM top),
       |tcell AS (SELECT gram, n_true, r,
       |    ${sha60Sql("'cm:' || CAST(r AS VARCHAR) || ':' || gram")} % 512 AS c
       |  FROM tc)
       |SELECT t.gram, t.n_true,
       |  min(coalesce(sk.cm_cnt, CAST(0 AS BIGINT))) AS cm_est
       |FROM tcell t LEFT JOIN sk ON sk.r = t.r AND sk.c = t.c
       |GROUP BY 1, 2""".stripMargin

  /** Quantile-sketch oracle: DuckDB rebuilds every log-histogram cell
    * (bucket via bin()-length bit math, identical in both engines), the
    * cumulative walk, and the integer ceil-threshold pick. Shared by
    * `doc_quantile_sketch` (direct) and `doc_quantile_merge` (per-shard
    * cells unioned + cell-sum merged) — a hash match on the latter is the
    * mergeability proof, exactly like `doc_sketch_merge` for Count-Min. */
  private def quantileCtes(pcts: Seq[Int]): String =
    s"""vv AS (SELECT source AS key, CAST(length(text) AS BIGINT) AS v
       |  FROM documents),
       |b AS (SELECT key, CAST(CASE WHEN v < 4 THEN v
       |    ELSE (length(bin(v)) - 1) * 4 + ((v >> (length(bin(v)) - 3)) & 3)
       |    END AS INT) AS bucket FROM vv),
       |c AS (SELECT key, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
       |t AS (SELECT key, CAST(sum(cnt) AS BIGINT) AS n_total FROM c GROUP BY 1),
       |cm AS (SELECT key, bucket, CAST(sum(cnt) OVER (
       |    PARTITION BY key ORDER BY bucket) AS BIGINT) AS cum FROM c),
       |p AS (SELECT CAST(unnest([${pcts.mkString(", ")}]) AS INT) AS pct),
       |q AS (SELECT cm.key, p.pct, min(bucket) AS b
       |  FROM cm JOIN t USING (key) CROSS JOIN p
       |  WHERE cum >= (t.n_total * p.pct + 99) // 100 GROUP BY 1, 2)""".stripMargin

  /** The log-histogram bucket upper bound over the `q` CTE's `b` column. */
  private val QuantileUbSql: String =
    """CASE WHEN b < 4 THEN CAST(b AS BIGINT)
      |    ELSE (CAST(b % 4 + 5 AS BIGINT) << ((b // 4) - 2)) - 1 END""".stripMargin

  private lazy val QuantileSketchSql: String =
    s"""WITH ${quantileCtes(Seq(50, 90, 99))}
       |SELECT q.key AS source, q.pct, $QuantileUbSql AS est_value,
       |  t.n_total
       |FROM q JOIN t ON t.key = q.key""".stripMargin

  /** PageRank oracle: the iteration chain unrolled as CTEs, generated for
    * the same iteration count the engine runs — DuckDB's `//` (integral
    * floor division) matches Spark's `div` on the all-positive fixed-point
    * domain, so every iteration agrees bit-for-bit. */
  private def pageRankSql(iters: Int): String = {
    val base =
      """e0 AS (SELECT DISTINCT doc_id % 64 AS src,
        |    (doc_id * 17 + 29) % 64 AS dst FROM documents),
        |nodes AS (SELECT DISTINCT src AS v FROM e0
        |  UNION SELECT DISTINCT dst FROM e0),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src),
        |r0 AS (SELECT v, (1000000000000 // (SELECT n FROM nn)) AS r
        |  FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS v,
         |    CAST(sum((r.r * 85) // (od.outdeg * 100)) AS BIGINT) AS s
         |  FROM e0 e JOIN r${i - 1} r ON r.v = e.src
         |  JOIN od ON od.src = e.src GROUP BY e.dst),
         |r$i AS (SELECT nodes.v,
         |    CAST(((15 * 1000000000000) // (100 * (SELECT n FROM nn)))
         |      + COALESCE(c$i.s, CAST(0 AS BIGINT)) AS BIGINT) AS r
         |  FROM nodes LEFT JOIN c$i ON c$i.v = nodes.v)""".stripMargin
    }.mkString(",\n")
    s"WITH $base,\n$steps\nSELECT v AS node, r AS rank_scaled FROM r$iters"
  }

  /** TrustRank oracle: the pageRank fixed-point chain with teleportation
    * restricted to the seed CTE (v % 8 = 0 — exactly the engine's
    * range(0,64,8) seed set intersected with the node vector), every
    * iteration unrolled; `//` == Spark `div` on the all-non-negative
    * domain, every sum cast to BIGINT against HUGEINT widening. */
  private def trustRankSql(iters: Int): String = {
    val base =
      """e0 AS (SELECT DISTINCT doc_id % 64 AS src,
        |    (doc_id * 17 + 29) % 64 AS dst FROM documents),
        |nodes AS (SELECT DISTINCT src AS v FROM e0
        |  UNION SELECT DISTINCT dst FROM e0),
        |od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src),
        |sd AS (SELECT v FROM nodes WHERE v % 8 = 0),
        |nsd AS (SELECT count(*) AS ns FROM sd),
        |t0 AS (SELECT nodes.v, CASE WHEN sd.v IS NOT NULL
        |    THEN 1000000000000 // (SELECT ns FROM nsd)
        |    ELSE CAST(0 AS BIGINT) END AS r
        |  FROM nodes LEFT JOIN sd ON sd.v = nodes.v)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""tc$i AS (SELECT e.dst AS v,
         |    CAST(sum((r.r * 85) // (od.outdeg * 100)) AS BIGINT) AS s
         |  FROM e0 e JOIN t${i - 1} r ON r.v = e.src
         |  JOIN od ON od.src = e.src GROUP BY e.dst),
         |t$i AS (SELECT nodes.v,
         |    CAST(CASE WHEN sd.v IS NOT NULL
         |        THEN (15 * 1000000000000) // (100 * (SELECT ns FROM nsd))
         |        ELSE CAST(0 AS BIGINT) END
         |      + COALESCE(tc$i.s, CAST(0 AS BIGINT)) AS BIGINT) AS r
         |  FROM nodes LEFT JOIN sd ON sd.v = nodes.v
         |  LEFT JOIN tc$i ON tc$i.v = nodes.v)""".stripMargin
    }.mkString(",\n")
    s"WITH $base,\n$steps\nSELECT v AS node, r AS trust_scaled FROM t$iters"
  }

  /** Deterministic-LPA oracle: every synchronous round unrolled — the
    * (node, label) neighbour counts and the argmax with ties to the
    * smallest label (row_number ORDER BY n DESC, label == the engine's
    * min(struct(-n, label))). */
  /** Unrolled k-core peeling oracle: `rounds` CTE rounds of degree-filter-
    * restrict over the web_kcore graph (peeling is monotone, so unrolling
    * PAST the fixed point is a no-op — rounds is set with margin over the
    * measured 10-round convergence at sf0.01/sf0.1). */
  private def kcoreSql(k: Int, rounds: Int): String = {
    // MATERIALIZED is load-bearing: each round references the previous CTE
    // several times, and DuckDB inlines plain CTEs — 14 unrolled rounds
    // would expand exponentially (measured: fd exhaustion re-scanning the
    // parquet). Materializing keeps the chain linear, one pass per round.
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM k$i)
         |    AND v IN (SELECT node FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
       |  FROM (
       |    SELECT doc_id % 100 AS u,
       |        100 // (1 + ((doc_id * 17 + 5) % 100)) AS v
       |      FROM documents
       |    UNION ALL
       |    SELECT doc_id % 24,
       |        (doc_id * 37 + (doc_id // 24) * 17 + 11) % 24
       |      FROM documents WHERE doc_id % 5 = 0
       |    UNION ALL
       |    SELECT 500 + (doc_id // 25) % 8, 501 + (doc_id // 25) % 8
       |      FROM documents WHERE doc_id % 25 = 0
       |    UNION ALL
       |    SELECT 0, 500 FROM documents WHERE doc_id % 500 = 0)
       |  WHERE u <> v),
       |$steps
       |SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM (
       |  SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |GROUP BY 1""".stripMargin
  }

  private def lpaSql(iters: Int): String = {
    val base =
      """eu AS (SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 64 AS src, (doc_id * 17 + 29) % 64 AS dst
        |      FROM documents
        |    UNION ALL
        |    SELECT (doc_id * 17 + 29) % 64 AS src, doc_id % 64 AS dst
        |      FROM documents) u
        |  WHERE src <> dst),
        |l0 AS (SELECT DISTINCT src AS v, src AS label FROM eu)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""lc$i AS (SELECT e.src AS v, l.label, count(*) AS n
         |  FROM eu e JOIN l${i - 1} l ON l.v = e.dst GROUP BY 1, 2),
         |l$i AS (SELECT v, label FROM (SELECT v, label,
         |    row_number() OVER (PARTITION BY v ORDER BY n DESC, label) AS rn
         |  FROM lc$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"WITH $base,\n$steps\nSELECT v AS node, label FROM l$iters"
  }

  /** HITS oracle: both half-steps of every iteration unrolled as CTEs in
    * the same fixed-point arithmetic as the engine (`//` == Spark `div` on
    * the all-positive domain); L1 normalization divides by the sum over the
    * raw half-step, exactly as [[graft.web.LinkGraph.hits]] does. */
  private def hitsSql(iters: Int): String = {
    val base =
      """e0 AS (SELECT DISTINCT doc_id % 64 AS src,
        |    (doc_id * 17 + 29) % 64 AS dst FROM documents),
        |nodes AS (SELECT DISTINCT src AS v FROM e0
        |  UNION SELECT DISTINCT dst FROM e0),
        |h0 AS (SELECT v, CAST(1000000 AS BIGINT) AS h FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""ar$i AS (SELECT e.dst AS v, CAST(sum(h.h) AS BIGINT) AS s
         |  FROM e0 e JOIN h${i - 1} h ON h.v = e.src GROUP BY 1),
         |a$i AS (SELECT nodes.v,
         |    (COALESCE(ar$i.s, CAST(0 AS BIGINT)) * 1000000)
         |      // (SELECT CAST(sum(s) AS BIGINT) FROM ar$i) AS a
         |  FROM nodes LEFT JOIN ar$i ON ar$i.v = nodes.v),
         |hr$i AS (SELECT e.src AS v, CAST(sum(a.a) AS BIGINT) AS s
         |  FROM e0 e JOIN a$i a ON a.v = e.dst GROUP BY 1),
         |h$i AS (SELECT nodes.v,
         |    (COALESCE(hr$i.s, CAST(0 AS BIGINT)) * 1000000)
         |      // (SELECT CAST(sum(s) AS BIGINT) FROM hr$i) AS h
         |  FROM nodes LEFT JOIN hr$i ON hr$i.v = nodes.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,\n$steps
       |SELECT a$iters.v AS node, a$iters.a AS auth_scaled, h$iters.h AS hub_scaled
       |FROM a$iters JOIN h$iters ON h$iters.v = a$iters.v""".stripMargin
  }

  /** Unrolled logistic-GD replay for doc_logit_train: DuckDB refits the
    * quality classifier round by round — identical features (the qualityCtes
    * transforms), identical 7dp-DECIMAL gradient sums, identical fixed-order
    * weight updates — so every row of the weight history is bit-exact. */
  private def logitTrainSql(rounds: Int): String = {
    val zero = "CAST(0.0 AS DOUBLE)"
    val base =
      s"""${qualityCtes("documents")},
        |f AS (SELECT
        |    least(m.n_tokens / CAST(50.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) AS f1,
        |    m.mean_token_len AS f2, m.punct_ratio AS f3, m.digit_ratio AS f4,
        |    m.stop_ratio AS f5,
        |    CASE WHEN d.source IN ('src0', 'src1') THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM m JOIN documents d USING (doc_id)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
        |w0 AS (SELECT $zero AS b, $zero AS w1, $zero AS w2, $zero AS w3,
        |  $zero AS w4, $zero AS w5)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""p$i AS (SELECT f.*, CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
         |    + exp(-(w.b + f.f1 * w.w1 + f.f2 * w.w2 + f.f3 * w.w3
         |      + f.f4 * w.w4 + f.f5 * w.w5))) - f.y AS e
         |  FROM f CROSS JOIN w${i - 1} w),
         |g$i AS (SELECT sum(CAST(round(e, 7) AS DECIMAL(20,7))) AS s0,
         |    sum(CAST(round(e * f1, 7) AS DECIMAL(20,7))) AS s1,
         |    sum(CAST(round(e * f2, 7) AS DECIMAL(20,7))) AS s2,
         |    sum(CAST(round(e * f3, 7) AS DECIMAL(20,7))) AS s3,
         |    sum(CAST(round(e * f4, 7) AS DECIMAL(20,7))) AS s4,
         |    sum(CAST(round(e * f5, 7) AS DECIMAL(20,7))) AS s5 FROM p$i),
         |w$i AS (SELECT
         |    w.b  - CAST(0.5 AS DOUBLE) * (CAST(g.s0 AS DOUBLE) / nn.n) AS b,
         |    w.w1 - CAST(0.5 AS DOUBLE) * (CAST(g.s1 AS DOUBLE) / nn.n) AS w1,
         |    w.w2 - CAST(0.5 AS DOUBLE) * (CAST(g.s2 AS DOUBLE) / nn.n) AS w2,
         |    w.w3 - CAST(0.5 AS DOUBLE) * (CAST(g.s3 AS DOUBLE) / nn.n) AS w3,
         |    w.w4 - CAST(0.5 AS DOUBLE) * (CAST(g.s4 AS DOUBLE) / nn.n) AS w4,
         |    w.w5 - CAST(0.5 AS DOUBLE) * (CAST(g.s5 AS DOUBLE) / nn.n) AS w5
         |  FROM w${i - 1} w CROSS JOIN g$i g CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    val rows = (0 to rounds).map(i =>
      s"SELECT CAST($i AS INT) AS iter, b, w1 AS w_ntok, w2 AS w_mtl, " +
        s"w3 AS w_punct, w4 AS w_digit, w5 AS w_stop FROM w$i")
      .mkString("\nUNION ALL ")
    s"WITH $base,\n$steps\n$rows"
  }

  /** Unrolled Lloyd-k-means replay for emb_kmeans: DuckDB re-runs every
    * round — fixed-point conversion, argmin assignment (row_number, a
    * different algorithm than the engine's least-of-structs), exact floored
    * integer centroid means with empty-cluster carryover — bit-for-bit. */
  private def kmeansSql(k: Int, rounds: Int): String = {
    val base =
      s"""sv AS (SELECT vec_id AS id,
        |    CAST(unnest(range(len(embedding))) AS INT) AS pos,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS s
        |  FROM embeddings),
        |init AS (SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INT)
        |    AS kk
        |  FROM (SELECT DISTINCT id FROM sv ORDER BY id LIMIT $k)),
        |c0 AS (SELECT init.kk, sv.pos, sv.s AS c
        |  FROM init JOIN sv USING (id))""".stripMargin
    def assignStep(i: Int, prev: Int): String =
      s"""d$i AS (SELECT sv.id, c.kk,
         |    CAST(sum((sv.s - c.c) * (sv.s - c.c)) AS BIGINT) AS dist
         |  FROM sv JOIN c$prev c ON c.pos = sv.pos GROUP BY 1, 2),
         |a$i AS (SELECT id, kk, dist FROM (SELECT id, kk, dist,
         |    row_number() OVER (PARTITION BY id ORDER BY dist, kk) AS rn
         |  FROM d$i) WHERE rn = 1)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""${assignStep(i, i - 1)},
         |m$i AS (SELECT a.kk, sv.pos, CAST(sum(sv.s) AS BIGINT) AS ss,
         |    count(*) AS n
         |  FROM a$i a JOIN sv ON sv.id = a.id GROUP BY 1, 2),
         |c$i AS (SELECT p.kk, p.pos,
         |    COALESCE((m.ss - ((m.ss % m.n + m.n) % m.n)) // m.n, p.c) AS c
         |  FROM c${i - 1} p LEFT JOIN m$i m
         |    ON m.kk = p.kk AND m.pos = p.pos)""".stripMargin
    }.mkString(",\n")
    val fin = rounds + 1
    s"""WITH $base,\n$steps,\n${assignStep(fin, rounds)}
       |SELECT id AS vec_id, kk AS cluster, dist AS dist_scaled
       |FROM a$fin""".stripMargin
  }

  /** DuckDB replay of Pca.powerIteration: per round a per-vector exact dot
    * (HUGEINT products summed, cast BIGINT), the per-dimension matvec, the
    * sign-split 1e-12 compression, and the infinity-norm renormalization —
    * all integral, unrolled one CTE block per round like kmeansSql. */
  private def pcaCtes(rounds: Int): String = {
    val base =
      """e AS (SELECT vec_id,
        |    CAST(unnest(range(len(embedding))) AS INT) AS pos,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS x
        |  FROM embeddings),
        |v0 AS (SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS v FROM e)"""
        .stripMargin
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT e.vec_id,
         |    CAST(sum(CAST(e.x AS HUGEINT) * vv.v) AS BIGINT) AS dot
         |  FROM e JOIN v$p vv ON vv.pos = e.pos GROUP BY 1),
         |w$i AS (SELECT e.pos, sum(CAST(e.x AS HUGEINT) * d$i.dot) AS w
         |  FROM e JOIN d$i ON d$i.vec_id = e.vec_id GROUP BY 1),
         |u$i AS (SELECT pos, CASE WHEN w < 0 THEN -1 ELSE 1 END
         |    * CAST(abs(w) // 1000000000000 AS BIGINT) AS u FROM w$i),
         |m$i AS (SELECT max(abs(u)) AS m FROM u$i),
         |v$i AS (SELECT pos, CASE WHEN u < 0 THEN -1 ELSE 1 END
         |    * ((abs(u) * 1000000) // m) AS v FROM u$i CROSS JOIN m$i)"""
        .stripMargin
    }.mkString(",\n")
    s"$base,\n$steps"
  }

  private def pcaSql(rounds: Int): String =
    s"""WITH ${pcaCtes(rounds)}
       |SELECT e.vec_id,
       |  CAST(sum(CAST(e.x AS HUGEINT) * vv.v) AS BIGINT) AS pc1_scaled,
       |  CAST(m.m AS BIGINT) AS eig_u
       |FROM e JOIN v$rounds vv ON vv.pos = e.pos CROSS JOIN m$rounds m
       |GROUP BY 1, 3""".stripMargin

  /** PC1 removal over the common denominator den = v·v: the residual
    * numerator is pure HUGEINT arithmetic, cast to the same DECIMAL(38,0)
    * the engine's decimal chain emits. */
  private def whitenSql(rounds: Int): String =
    s"""WITH ${pcaCtes(rounds)},
       |dfin AS (SELECT e.vec_id,
       |    CAST(sum(CAST(e.x AS HUGEINT) * vv.v) AS BIGINT) AS dot
       |  FROM e JOIN v$rounds vv ON vv.pos = e.pos GROUP BY 1),
       |dn AS (SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS BIGINT) AS den
       |  FROM v$rounds)
       |SELECT e.vec_id, e.pos,
       |  CAST(CAST(e.x AS HUGEINT) * dn.den
       |    - CAST(vv.v AS HUGEINT) * d.dot AS DECIMAL(38,0)) AS resid_num,
       |  dn.den AS den
       |FROM e JOIN v$rounds vv ON vv.pos = e.pos
       |JOIN dfin d ON d.vec_id = e.vec_id CROSS JOIN dn""".stripMargin

  /** Country-metadata lookup as a SQL CASE over the SAME Format.countries map
    * the engine folds into its plan — built programmatically so the oracle
    * can never drift from the engine's table. */
  private def ccCase(on: String, f: graft.engine.Format.CountryMeta => String): String =
    "CASE " + on + graft.engine.Format.countries.toSeq.sortBy(_._1)
      .map { case (k, m) => s" WHEN '$k' THEN '${f(m)}'" }.mkString + " END"

  /** DuckDB replay of BpeTrain.learnMerges: one (pair-explode, weighted
    * argmax, double-replace rewrite) CTE block per merge round, unrolled —
    * the same technique as the web_hits iteration oracle. Pair positions are
    * recovered with unnest + generate_subscripts and paired by a
    * position+1 self-join (a different algorithm from the engine's
    * spacePairs call, agreeing bit-for-bit). */
  private def bpeOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt,
        |  ' ' || array_to_string(string_split(w, ''), ' ') || ' </w> ' AS seq
        |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0)) AS w FROM documents) t
        |  WHERE regexp_matches(w, '^[a-z0-9]+$')
        |  GROUP BY w)""".stripMargin)
    for (t <- 1 to rounds) {
      sb.append(s""",
e$t AS (SELECT w, cnt, unnest(string_split(trim(seq), ' ')) AS s,
  generate_subscripts(string_split(trim(seq), ' '), 1) AS i FROM w${t - 1}),
p$t AS (SELECT a.s || ' ' || b.s AS p, CAST(sum(a.cnt) AS BIGINT) AS pair_n
  FROM e$t a JOIN e$t b ON a.w = b.w AND b.i = a.i + 1 GROUP BY 1),
b$t AS (SELECT p, pair_n FROM p$t ORDER BY pair_n DESC, p LIMIT 1)""")
      if (t < rounds) sb.append(s""",
w$t AS (SELECT v.w, v.cnt,
  replace(replace(v.seq, ' ' || b.p || ' ', ' ' || replace(b.p, ' ', '') || ' '),
    ' ' || b.p || ' ', ' ' || replace(b.p, ' ', '') || ' ') AS seq
  FROM w${t - 1} v, b$t b)""")
    }
    sb.append("\n")
    sb.append((1 to rounds).map(t =>
      s"""SELECT $t AS merge_rank, string_split(p, ' ')[1] AS pair_left,
  string_split(p, ' ')[2] AS pair_right, replace(p, ' ', '') AS merged,
  pair_n FROM b$t""").mkString("\nUNION ALL\n"))
    sb.toString
  }

  /** DuckDB replay of BpeTrain train-then-ENCODE: re-derives the b1..bN
    * learned pairs (same CTE chain as bpeOracleSql), then applies the same
    * double-replace chain per token occurrence and sums symbols per doc. */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val train = bpeOracleSql(rounds)
    val prefix = train.substring(0, train.lastIndexOf("\nSELECT 1 AS merge_rank"))
    val chain = (1 to rounds).foldLeft("seq") { (acc, t) =>
      s"replace(replace($acc, ' ' || m$t.p || ' ', ' ' || replace(m$t.p, ' ', '') || ' ')," +
        s" ' ' || m$t.p || ' ', ' ' || replace(m$t.p, ' ', '') || ' ')"
    }
    val mJoins = (1 to rounds).map(t => s"b$t m$t").mkString(", ")
    prefix + s""",
enc0 AS (SELECT doc_id, w FROM (SELECT doc_id,
  unnest(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
    x -> length(x) > 0)) AS w FROM documents) t
  WHERE regexp_matches(w, '^[a-z0-9]+$$')),
seqs AS (SELECT doc_id,
  ' ' || array_to_string(string_split(w, ''), ' ') || ' </w> ' AS seq FROM enc0),
fin AS (SELECT doc_id, $chain AS seq2 FROM seqs, $mJoins)
SELECT doc_id, CAST(sum(len(string_split(trim(seq2), ' '))) AS BIGINT) AS n_bpe_tokens
FROM fin GROUP BY doc_id"""
  }

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

  /** Dense deterministic triangle-graph edges (canonical undirected) +
    * degree CTE, shared by the web_triangles / web_degree_hist oracles. */
  private val triEdgeCte: String =
    """raw AS (SELECT DISTINCT least(doc_id % 48, (doc_id // 48) % 48) AS u,
      |    greatest(doc_id % 48, (doc_id // 48) % 48) AS v
      |  FROM documents WHERE doc_id % 48 <> (doc_id // 48) % 48)""".stripMargin
  private val triDegCte: String =
    """deg AS (SELECT node, count(*) AS degree FROM (
      |    SELECT u AS node FROM raw UNION ALL SELECT v FROM raw) GROUP BY node)""".stripMargin

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

  /** doc_char_dist oracle: generated from the SAME alphabet constant the
    * engine uses ([[graft.text.TextAnalysis.CharClasses]]), every chain in
    * the same class order — counts via replace() length-diff, all-integer
    * Gini, fixed-order entropy sum. */
  private def charDistSql: String = {
    val cls = graft.text.TextAnalysis.CharClasses
    val cnts = cls.zipWithIndex.map { case (ch, i) =>
      val esc = if (ch == "'") "''" else ch
      s"n - length(replace(t, '$esc', '')) AS c$i"
    }.mkString(",\n  ")
    val names = cls.indices.map(i => s"c$i")
    val sumC = names.mkString(" + ")
    val allNames = names :+ s"c${cls.size}"
    val sumSq = allNames.map(c => s"$c * $c").reduce((a, b) => s"$a + $b")
    val nCls = allNames.map(c => s"(CASE WHEN $c > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val ent = allNames.map(c =>
      s"(CASE WHEN $c > 0 THEN -((CAST($c AS DOUBLE) / CAST(n AS DOUBLE)) " +
        s"* log2(CAST($c AS DOUBLE) / CAST(n AS DOUBLE))) " +
        "ELSE CAST(0.0 AS DOUBLE) END)").reduce((a, b) => s"$a + $b")
    s"""WITH lo AS (SELECT doc_id, lower(text) AS t,
       |    length(lower(text)) AS n FROM documents),
       |cnt AS (SELECT doc_id, n,
       |  $cnts FROM lo),
       |cnt2 AS (SELECT *, n - ($sumC) AS c${cls.size} FROM cnt)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       |  CAST($nCls AS BIGINT) AS n_char_classes,
       |  CASE WHEN n > 0 THEN 1000000 - (($sumSq) * 1000000) // (n * n)
       |    ELSE CAST(0 AS BIGINT) END AS char_gini_ppm,
       |  CASE WHEN n > 0 THEN round($ent, 6)
       |    ELSE CAST(0.0 AS DOUBLE) END AS char_entropy_b6
       |FROM cnt2""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // the same fixed HtmlText rule chain, replayed rule by rule: block
    // strips with (?is) lazy regexes, tag strip, the ordered entity chain
    // (&amp; LAST), whitespace collapse + trim
    // the oracle re-extracts with its own regex engine (RE2) and resolves
    // each href form by an explicit CASE + a single dot-segment collapse —
    // a different resolution algorithm that must agree on every form
    "web_extract_links" ->
      """WITH d AS (SELECT doc_id,
        |    'https://host' || CAST(doc_id % 5 AS VARCHAR) || '.example/a/b/p'
        |      || CAST(doc_id % 7 AS VARCHAR) || '.html' AS base_url,
        |    '<html><body><a href="http://ext' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example/abs">Abs Link</a> <a href="//cdn'
        |      || CAST(doc_id % 3 AS VARCHAR)
        |      || '.example/x">Cdn</a><p><a href="/r/'
        |      || CAST(doc_id % 5 AS VARCHAR)
        |      || '">Root</a></p><a href="../q' || CAST(doc_id % 3 AS VARCHAR)
        |      || '.html">Up One</a><a href="c' || CAST(doc_id % 2 AS VARCHAR)
        |      || '.html?z=1">Rel</a><a href="#top">Frag</a></body></html>'
        |      AS html
        |  FROM documents),
        |x AS (SELECT doc_id, base_url,
        |    unnest(regexp_extract_all(html, '<a href="([^"]*)">', 1)) AS href,
        |    unnest(regexp_extract_all(html,
        |      '<a href="[^"]*">([^<]*)</a>', 1)) AS anchor,
        |    unnest(generate_series(0,
        |      len(regexp_extract_all(html, '<a href="([^"]*)">', 1)) - 1))
        |      AS link_pos
        |  FROM d),
        |o AS (SELECT doc_id, base_url, href, anchor, link_pos,
        |    'https://host' || CAST(doc_id % 5 AS VARCHAR) || '.example'
        |      AS origin FROM x)
        |SELECT doc_id, CAST(link_pos AS INT) AS link_pos, href, anchor,
        |  CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN href
        |       WHEN href LIKE '//%' THEN 'https:' || href
        |       WHEN substr(href, 1, 1) = '/' THEN origin || href
        |       WHEN substr(href, 1, 1) = '#' THEN base_url || href
        |       ELSE origin
        |         || regexp_replace('/a/b/' || href, '/[^/]+/\.\./', '/')
        |  END AS resolved_url
        |FROM o""".stripMargin,
    // oracle recomputes the canonical target straight from the generator
    // CASE (no-tag -> self, absolute, root-relative resolved) and replays
    // the grouping — the engine must get there via regexp + resolveUrl
    "web_rel_canonical" ->
      """WITH d AS (SELECT doc_id,
        |    'https://host' || CAST(doc_id % 5 AS VARCHAR) || '.example/a/b/p'
        |      || CAST(doc_id % 7 AS VARCHAR) || '.html' AS base_url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 4 THEN base_url
        |         WHEN doc_id % 3 = 0
        |           THEN 'https://canon.example/c' || CAST(doc_id % 11 AS VARCHAR)
        |         ELSE 'https://host' || CAST(doc_id % 5 AS VARCHAR)
        |           || '.example/canon/p' || CAST(doc_id % 11 AS VARCHAR)
        |    END AS canonical_url FROM d)
        |SELECT doc_id, canonical_url,
        |  doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS is_rep,
        |  count(*) OVER (PARTITION BY canonical_url) AS n_in_group
        |FROM c""".stripMargin,
    "web_html_extract" ->
      """WITH h AS (SELECT doc_id,
        |  '<HTML><head><SCRIPT type="a">var x = 1 < 2 && y > 0;</script>'
        |  || '<style media="all">.c { color: red }</STYLE></head><body>'
        |  || '<!-- header
        | comment --><h1>Doc &#39;' || CAST(doc_id AS VARCHAR) || '&#39;</h1>
        |<p>' || text ||
        |  '</p>	<div class="f">&amp;lt; &nbsp; &quot;q&quot; &gt;</div></body></html>'
        |  AS html FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS s FROM h),
        |c2 AS (SELECT doc_id, regexp_replace(s,
        |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS s FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s FROM c2),
        |c4 AS (SELECT doc_id, regexp_replace(s, '<[^>]*>', ' ', 'g') AS s FROM c3),
        |e AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(s,
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&amp;', '&') AS s FROM c4),
        |f AS (SELECT doc_id,
        |  trim(regexp_replace(s, '[ \t\n\r]+', ' ', 'g')) AS clean_text FROM e)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_chars
        |FROM f""".stripMargin,
    "geo_simplify" -> simplifyOracleSql,
    "doc_bpe_train" -> bpeOracleSql(6),
    // same bit-exact 6-round replay; resumed_stages=5 gates that the
    // extension run served the rounds=4 checkpoint blocks (bpe_i0..bpe_i4)
    // instead of retraining them
    "doc_bpe_train_resume" ->
      s"""SELECT merge_rank, pair_left, pair_right, merged, pair_n,
         |  CAST(5 AS BIGINT) AS resumed_stages
         |FROM (${bpeOracleSql(6)})""".stripMargin,
    "doc_bpe_encode" -> bpeEncodeOracleSql(6),
    "geo_forward_full" ->
      s"""WITH gaz AS (SELECT * FROM read_parquet('$OracleDir/gaz/*.parquet')),
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
         |FROM cn""".stripMargin,
    "q22_stream_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  epoch_us(view_ts) AS view_us, epoch_us(click_ts) AS click_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND click_ts >= view_ts
        |  AND click_ts <= view_ts + INTERVAL '10 minutes'""".stripMargin,
    // streaming exact dedup: the surviving set is one row per distinct
    // content digest regardless of which arrival won the state race
    "doc_stream_dedup" ->
      "SELECT DISTINCT sha256(text) AS text_sha FROM documents",
    // streaming sessionization: batch gaps-and-islands (same 30-min gap as
    // q11_sessionize) + the AvailableNow finalization rule — every
    // gap-closed session emits in-batch; each user's LAST session emits iff
    // its event-time-timeout deadline, floor((end_us + gap_us)/1000) ms, is
    // STRICTLY below the final watermark floor(max_event_us/1000) ms
    // (delay 0; Spark fires a timeout only when the watermark passes it)
    "q11_stream_sessionize" ->
      """WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |s AS (SELECT user_id, us,
        |    sum(CASE WHEN prev IS NOT NULL AND us - prev > 1800000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM l),
        |g AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |    min(us) AS sess_start_us, max(us) AS sess_end_us
        |  FROM s GROUP BY 1, 2),
        |wm AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events),
        |f AS (SELECT g.*, row_number() OVER (PARTITION BY user_id
        |    ORDER BY sid DESC) AS rn FROM g)
        |SELECT user_id, n_events, sess_start_us, sess_end_us
        |FROM f, wm
        |WHERE rn > 1 OR (sess_end_us + 1800000000) // 1000 < wm_ms""".stripMargin,
    "geo_stream_forward" ->
      s"""WITH $extractCtes,
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
         |FROM tl""".stripMargin,
    // streaming windowed tile counts: coord mentions re-derived from the
    // same page bytes, z12 tile math, 5-min windows, and the append-mode
    // finalization rule (window end <= max event time - 10-min delay)
    "geo_stream_tiles" ->
      s"""WITH $extractCtes,
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
         |WHERE wstart + INTERVAL '5 minutes' <= mx.mt - INTERVAL '10 minutes'""".stripMargin,
    "geo_stream_reverse" ->
      s"""WITH $extractCtes,
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
         |LEFT JOIN polys p ON p.polygon_id = b.polygon_id""".stripMargin,
    // E10 oracle: DuckDB recomputes each stage's lineage (row count +
    // bit_xor of portable sha60 row checksums over the identity columns)
    // DIRECTLY from the materialized checkpoint parquet, and asserts the
    // cold and resumed runs both reported exactly those values.
    "ops_lineage" ->
      s"""WITH m AS (SELECT count(*) AS n, bit_xor(${sha60Sql(
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
         |UNION ALL SELECT 'hits', 'resume', true, n, checksum FROM h""".stripMargin,
    "geo_provider_json" ->
      s"""WITH src AS (SELECT provider, resp_id, body
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
         |UNION ALL SELECT * FROM gf UNION ALL SELECT * FROM gr""".stripMargin,
    "geo_forward_pages" ->
      s"""WITH $extractCtes,
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
         |SELECT url, surface, name, place_id, lon, lat, result_rank FROM cr""".stripMargin,
    "geo_reverse_points" ->
      s"""WITH $extractCtes,
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
         |FROM pts pt LEFT JOIN hit h USING (query_id)""".stripMargin,
    "geo_pipeline_tiles" ->
      s"""WITH $extractCtes,
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
         |FROM tl GROUP BY 1, 2, 3""".stripMargin,
    // mime sniff re-expressed as hex-prefix compares (this DuckDB build has no
    // BLOB slicing); sha256 over decode(html) hashes the same UTF-8 bytes the
    // engine's sha2(binary) hashes — the synth corpus is valid UTF-8, which is
    // an oracle-side-only constraint
    "mm_binary_meta" ->
      s"""SELECT url, CAST(octet_length(html) AS BIGINT) AS bin_len,
         |  CASE
         |    WHEN substr(hex(html), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
         |    WHEN substr(hex(html), 1, 8) = '89504E47' THEN 'image/png'
         |    WHEN substr(hex(html), 1, 6) = '474946' THEN 'image/gif'
         |    WHEN substr(hex(html), 1, 8) = '52494646' THEN 'audio/wav'
         |    WHEN substr(hex(html), 9, 8) = '66747970' THEN 'video/mp4'
         |    WHEN substr(hex(html), 1, 2) = '3C' THEN 'text/html'
         |    ELSE 'application/octet-stream' END AS mime,
         |  sha256(decode(html)) AS content_hash
         |FROM read_parquet('$OracleDir/pages/*.parquet')""".stripMargin,
    // frame slicing replayed over DuckDB's own hex(): byte offset off =
    // floor(idx*olen/4)+1 (both engines truncate the positive double), byte
    // slice [off, flen] = hex slice [(off-1)*2+1, flen*2], content checked
    // by the portable sha60 over the hex string
    "mm_frame_sample" ->
      s"""WITH p AS (SELECT url, hex(html) AS hx, octet_length(html) AS olen
         |  FROM read_parquet('$OracleDir/pages/*.parquet')),
         |f AS (SELECT url, unnest([0, 1, 2, 3]) AS frame_idx, hx, olen FROM p),
         |g AS (SELECT url, frame_idx, olen, hx,
         |    CAST(floor((frame_idx * olen) / 4.0) AS INT) + 1 AS off,
         |    greatest(olen // 4, 1) AS flen FROM f)
         |SELECT url, CAST(frame_idx AS INT) AS frame_idx,
         |  CAST(least(flen, greatest(olen - off + 1, 0)) AS BIGINT) AS frame_len,
         |  ${sha60Sql("substr(hx, (off - 1) * 2 + 1, flen * 2)")} AS frame_sha60
         |FROM g""".stripMargin,
    // portable multimodal features: base = sha256 hex of the payload (same
    // bytes both engines — mm_binary_meta's validated decode() equivalence);
    // f_i parsed from sha256(base ':' i); norm is an ordered left fold
    "mm_features_portable" ->
      s"""WITH b AS (SELECT url, sha256(decode(html)) AS base
        |  FROM read_parquet('$OracleDir/pages/*.parquet')
        |  WHERE CAST(regexp_extract(url, '([0-9]+)$$', 1) AS INT) % 10 = 0),
        |f AS (SELECT url, list_transform(range(16), i ->
        |    CAST(list_reduce(list_transform(range(15), j ->
        |      CAST(strpos('0123456789abcdef', substr(sha256(
        |        base || ':' || i), j+1, 1)) - 1 AS BIGINT)),
        |      (a, b2) -> b2 + a * 16) AS DOUBLE)
        |      / CAST(1152921504606846976.0 AS DOUBLE) - CAST(0.5 AS DOUBLE)) AS feats
        |  FROM b)
        |SELECT url, round(sqrt(list_sum(list_transform(feats, x -> x * x))), 6)
        |  AS feat_norm
        |FROM f""".stripMargin,
    "geo_reverse_geoadmin" ->
      s"""WITH pts AS (SELECT CAST(range AS BIGINT) AS query_id,
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
         |FROM pts p LEFT JOIN fm f USING (query_id)""".stripMargin,
    "doc_ngram_jaccard" ->
      s"""WITH $nearDupJaccardCtes
        |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM jj
        |WHERE jaccard >= CAST(0.5 AS DOUBLE)""".stripMargin,
    // asymmetric containment in both directions over the same shingle sets
    // and candidate pairs; single exact-integer-operand divisions, IEEE
    // identical to the engine's inter/|sa| chain
    "doc_containment" ->
      s"""WITH $nearDupShingleCtes,
        |cand AS (SELECT doc_id AS doc_a, doc_id + 10000000 AS doc_b
        |    FROM documents WHERE doc_id % 50 = 0
        |  UNION ALL SELECT doc_id AS doc_a, doc_id + 1 AS doc_b
        |    FROM documents WHERE doc_id % 7 = 0),
        |cc AS (SELECT c.doc_a, c.doc_b,
        |    CASE WHEN len(a.sh) = 0 OR len(b.sh) = 0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE len(list_filter(a.sh, x -> list_contains(b.sh, x)))
        |        / CAST(len(a.sh) AS DOUBLE) END AS c_ab,
        |    CASE WHEN len(a.sh) = 0 OR len(b.sh) = 0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE len(list_filter(b.sh, x -> list_contains(a.sh, x)))
        |        / CAST(len(b.sh) AS DOUBLE) END AS c_ba
        |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
        |    JOIN sh b ON b.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, round(c_ab, 6) AS containment_ab,
        |  round(c_ba, 6) AS containment_ba
        |FROM cc
        |WHERE c_ab >= CAST(0.9 AS DOUBLE) OR c_ba >= CAST(0.9 AS DOUBLE)""".stripMargin,
    // connected components as transitive-closure reachability: reach(n, m)
    // holds when m reaches n over the undirected verified-pair edges; the
    // component id is min(m) — identical to the engine's min-label fixpoint
    "doc_dup_clusters" ->
      s"""WITH RECURSIVE $nearDupJaccardCtes,
        |edges AS (SELECT doc_a, doc_b FROM jj WHERE jaccard >= CAST(0.5 AS DOUBLE)),
        |und AS (SELECT doc_a AS src, doc_b AS dst FROM edges
        |  UNION SELECT doc_b AS src, doc_a AS dst FROM edges),
        |reach(id, r) AS (SELECT src, src FROM und
        |  UNION SELECT u.dst, re.r FROM reach re JOIN und u ON u.src = re.id),
        |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
        |SELECT c.doc_id, c.cluster_id, s.cluster_size,
        |  c.doc_id = c.cluster_id AS is_canonical
        |FROM cc c JOIN sz s ON c.cluster_id = s.cluster_id""".stripMargin,
    // resumable CC: identical reachability labels; the rounds=2 run
    // completes blocks i0..i2, so the rounds=3 rerun serves exactly 3
    // stages from checkpoint
    "doc_dup_clusters_resume" ->
      s"""WITH RECURSIVE $nearDupJaccardCtes,
        |edges AS (SELECT doc_a, doc_b FROM jj WHERE jaccard >= CAST(0.5 AS DOUBLE)),
        |und AS (SELECT doc_a AS src, doc_b AS dst FROM edges
        |  UNION SELECT doc_b AS src, doc_a AS dst FROM edges),
        |reach(id, r) AS (SELECT src, src FROM und
        |  UNION SELECT u.dst, re.r FROM reach re JOIN und u ON u.src = re.id),
        |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id, cluster_id, CAST(3 AS BIGINT) AS resumed_stages
        |FROM cc""".stripMargin,
    // the full portable-MinHash LSH plan recomputed from raw text: sha256-hex
    // parsed to a 60-bit long (list_reduce base-16 fold), min per permutation,
    // band keys as joined signature slices, bucket self-join, zip-equality
    // Jaccard estimate — bit-for-bit the engine's portableMinhashLshPairs
    "doc_minhash_portable" ->
      s"""WITH $nearDupShingleCtes,
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
        |hx AS (SELECT doc_id, i, sha256(CAST(i AS VARCHAR) || ':' || s) AS h
        |  FROM shx, range(16) t(i)),
        |hv AS (SELECT doc_id, i, min(list_reduce(list_transform(range(15),
        |    j -> CAST(strpos('0123456789abcdef', substr(h, j+1, 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS mh
        |  FROM hx GROUP BY doc_id, i),
        |sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM hv GROUP BY doc_id),
        |bands AS (SELECT doc_id, b, array_to_string(sig[(b*4+1):(b*4+4)], ',') AS bk
        |  FROM sig, range(4) tb(b)),
        |bsz AS (SELECT b, bk, count(*) AS c FROM bands GROUP BY 1, 2),
        |pruned AS (SELECT n.doc_id, n.b, n.bk FROM bands n
        |  JOIN bsz z ON n.b = z.b AND n.bk = z.bk WHERE z.c <= 256),
        |cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        |  FROM pruned a JOIN pruned b2
        |    ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id),
        |est AS (SELECT c.doc_a, c.doc_b,
        |    len(list_filter(list_zip(sa.sig, sb.sig), p -> p[1] = p[2]))
        |      / CAST(16 AS DOUBLE) AS jaccard_est
        |  FROM cand2 c JOIN sig sa ON sa.doc_id = c.doc_a
        |    JOIN sig sb ON sb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, round(jaccard_est, 6) AS jaccard_est FROM est
        |WHERE jaccard_est >= CAST(0.5 AS DOUBLE)""".stripMargin,
    // portable winnowing: sha256 char-8-gram hashes, non-overlapping
    // 16-gram-window mins, xor fold; short-text and no-window cases fall
    // back to the whole-text hash exactly as the engine does
    "doc_winnow_portable" ->
      """WITH g AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |gr AS (SELECT doc_id, text, n, CASE WHEN n < 8 THEN []
        |    ELSE list_transform(range(n - 7), i ->
        |      list_reduce(list_transform(range(15), j ->
        |        CAST(strpos('0123456789abcdef', substr(sha256(
        |          'wn:' || substr(text, CAST(i AS INT)+1, 8)), j+1, 1)) - 1 AS BIGINT)),
        |        (a, b) -> a * 16 + b)) END AS gr
        |  FROM g),
        |mins AS (SELECT doc_id, text, CASE WHEN len(gr) >= 16
        |    THEN list_transform(range(len(gr) // 16),
        |      m -> list_min(gr[(m*16+1):(m*16+16)]))
        |    ELSE [] END AS mins
        |  FROM gr),
        |fp0 AS (SELECT doc_id, text, CASE WHEN len(mins) = 0 THEN 0
        |    ELSE list_reduce(mins, (a, b) -> xor(a, b)) END AS fp FROM mins)
        |SELECT doc_id, CASE WHEN fp = 0 THEN
        |    list_reduce(list_transform(range(15), j ->
        |      CAST(strpos('0123456789abcdef', substr(sha256('wn:' || text),
        |        j+1, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)
        |  ELSE fp END AS winnow_fp
        |FROM fp0""".stripMargin,
    // portable simhash: per-shingle sha60 -> 60 bit votes -> signature long
    // -> 4 x 15-bit pigeonhole segments (capped buckets) -> bit_count hamming.
    // NB DuckDB's ^ is exponentiation — xor() is the operator's function form.
    "doc_simhash_portable" ->
      s"""WITH $nearDupShingleCtes,
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE len(sh) > 0),
        |hx AS (SELECT doc_id, list_reduce(list_transform(range(15),
        |    j -> CAST(strpos('0123456789abcdef',
        |      substr(sha256('sim:' || s), j+1, 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h
        |  FROM shx),
        |votes AS (SELECT doc_id, j,
        |    sum(((h >> CAST(j AS INT)) & 1) * 2 - 1) AS v
        |  FROM hx, range(60) t(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, sum(CASE WHEN v > 0
        |    THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS sg
        |  FROM votes GROUP BY doc_id),
        |segr AS (SELECT doc_id, j AS seg_idx,
        |    (sg >> CAST(j * 15 AS INT)) & 32767 AS seg_val
        |  FROM sig, range(4) t(j)),
        |bsz AS (SELECT seg_idx, seg_val, count(*) AS c FROM segr GROUP BY 1, 2),
        |pruned AS (SELECT s.doc_id, s.seg_idx, s.seg_val FROM segr s
        |  JOIN bsz b USING (seg_idx, seg_val) WHERE b.c <= 256),
        |cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        |  FROM pruned a JOIN pruned b2
        |    ON a.seg_idx = b2.seg_idx AND a.seg_val = b2.seg_val
        |      AND a.doc_id < b2.doc_id),
        |hm AS (SELECT c.doc_a, c.doc_b,
        |    bit_count(xor(sa.sg, sb.sg)) AS hamming_dist
        |  FROM cand2 c JOIN sig sa ON sa.doc_id = c.doc_a
        |    JOIN sig sb ON sb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, hamming_dist FROM hm WHERE hamming_dist <= 3"""
        .stripMargin,
    "doc_repetition" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |tg AS (SELECT doc_id, toks, CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(len(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END AS tg
        |  FROM tok),
        |base AS (SELECT doc_id, len(toks) AS n_tokens,
        |    len(list_distinct(toks)) / CAST(greatest(len(toks), 1) AS DOUBLE) AS ttr,
        |    CASE WHEN len(tg) = 0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE CAST(1.0 AS DOUBLE) - len(list_distinct(tg)) / CAST(len(tg) AS DOUBLE)
        |    END AS dtr
        |  FROM tg),
        |grams AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(len(toks) - 1),
        |        i -> toks[i+1] || ' ' || toks[i+2]) END) AS g, 2 AS n FROM tok
        |  UNION ALL SELECT doc_id, unnest(tg) AS g, 3 AS n FROM tg),
        |cnt AS (SELECT doc_id, n, g, count(*) AS cnt FROM grams GROUP BY 1, 2, 3),
        |top AS (SELECT doc_id,
        |    max(CASE WHEN n = 2 THEN cnt END)
        |      / CAST(sum(CASE WHEN n = 2 THEN cnt END) AS DOUBLE) AS fb,
        |    max(CASE WHEN n = 3 THEN cnt END)
        |      / CAST(sum(CASE WHEN n = 3 THEN cnt END) AS DOUBLE) AS ft
        |  FROM cnt GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, round(b.ttr, 6) AS type_token_ratio,
        |  round(b.dtr, 6) AS dup_trigram_ratio,
        |  round(coalesce(t.fb, CAST(0.0 AS DOUBLE)), 6) AS frac_top_bigram,
        |  round(coalesce(t.ft, CAST(0.0 AS DOUBLE)), 6) AS frac_top_trigram
        |FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id""".stripMargin,
    "doc_redact" ->
      s"""WITH aug AS (SELECT doc_id, text || ' contact user'
        |    || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.'
        |    || CAST(doc_id % 250 AS VARCHAR) || '.7 or +41 79 '
        |    || CAST(100 + doc_id % 900 AS VARCHAR) || ' '
        |    || CAST(1000 + doc_id % 9000 AS VARCHAR) AS text FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '$EmailSqlRe')) AS n_emails,
        |  len(regexp_extract_all(text, '$Ipv4SqlRe')) AS n_ips,
        |  len(regexp_extract_all(text, '$PhoneSqlRe')) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '$EmailSqlRe', '<EMAIL>', 'g'),
        |    '$Ipv4SqlRe', '<IP>', 'g'),
        |    '$PhoneSqlRe', '<PHONE>', 'g') AS clean_text
        |FROM aug""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |CAST(round(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
        |  AS DECIMAL(30,6))), 4) AS DOUBLE) AS sum_disc_price,
        |count(*) AS n_rows FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q16_percentile" ->
      """SELECT l_returnflag,
        |quantile_cont(l_quantity, 0.25) AS p25,
        |quantile_cont(l_quantity, 0.5) AS p50,
        |quantile_cont(l_quantity, 0.9) AS p90,
        |quantile_cont(l_extendedprice, 0.5) AS price_p50
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q15_pivot" ->
      """SELECT l_linestatus,
        |sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
        |sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
        |sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "q14_range" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'click'),
        |w AS (SELECT user_id, event_id AS signup_eid, epoch_us(ts) AS lo,
        |    epoch_us(ts) + 7200000000 AS hi
        |  FROM events WHERE event_type = 'signup')
        |SELECT c.user_id, c.event_id, c.ts_us, w.signup_eid, w.lo
        |FROM c JOIN w ON c.user_id = w.user_id
        |  AND c.ts_us >= w.lo AND c.ts_us <= w.hi""".stripMargin,
    "q13_asof" ->
      """WITH v AS (SELECT user_id, ts, max(event_id) AS view_eid,
        |    max(value) AS view_val
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, p.ts, p.event_id, p.value,
        |  v.ts AS r_ts, v.view_eid AS r_view_eid, v.view_val AS r_view_val
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,
    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |count(*) AS n_rows,
        |CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q20_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |count(*) AS n_rows,
        |CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q21_intersect" ->
      """SELECT p_partkey AS k FROM part
        |INTERSECT SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 45""".stripMargin,
    "doc_corpus_mix" ->
      """WITH agg AS (SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, lang, n_docs, total_chars,
        |  round(n_docs / CAST(sum(n_docs) OVER () AS DOUBLE), 6) AS doc_share,
        |  round(total_chars / CAST(sum(total_chars) OVER () AS DOUBLE), 6)
        |    AS char_share
        |FROM agg""".stripMargin,
    "doc_split" ->
      s"""SELECT doc_id,
         |  CAST(${sha60Sql("'split:v1:' || CAST(doc_id AS VARCHAR)")} % 100
         |    AS INT) AS split_bucket,
         |  CASE WHEN ${sha60Sql("'split:v1:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
         |    THEN 'train'
         |  WHEN ${sha60Sql("'split:v1:' || CAST(doc_id AS VARCHAR)")} % 100 < 95
         |    THEN 'val' ELSE 'test' END AS split
         |FROM documents""".stripMargin,
    "doc_sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sha60Sql("'sample:v1:' || CAST(doc_id AS VARCHAR)")} % 1000000
         |  < CASE WHEN lang = 'en' THEN ${graft.text.Corpus.ppm(0.3)}
         |         WHEN lang = 'zh' THEN ${graft.text.Corpus.ppm(0.8)}
         |         ELSE ${graft.text.Corpus.ppm(0.6)} END""".stripMargin,
    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, text,
        |    generate_series(0, greatest(length(text) - 1, 0), 150) AS offs
        |  FROM documents WHERE doc_id % 10 = 0),
        |e AS (SELECT doc_id, text,
        |    CAST(generate_subscripts(offs, 1) - 1 AS INT) AS chunk_id,
        |    CAST(unnest(offs) AS INT) AS chunk_off
        |  FROM t)
        |SELECT doc_id, chunk_id, chunk_off,
        |  substr(text, chunk_off + 1, 200) AS chunk_text,
        |  CAST(length(substr(text, chunk_off + 1, 200)) AS INT) AS chunk_chars
        |FROM e""".stripMargin,
    "doc_vocab" ->
      """WITH tok AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0)) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY 1)
        |SELECT token, n_occurrences,
        |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) - 1
        |    AS INT) AS vocab_id
        |FROM c ORDER BY vocab_id LIMIT 100""".stripMargin,
    // DuckDB rebuilds the bigram stream with multiplicity, both count
    // tables, and the identical fixed-order double chain into ln
    "doc_pmi" ->
      """WITH tok AS (SELECT list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |uni AS (SELECT unnest(toks) AS t FROM tok),
        |un AS (SELECT t, count(*) AS n FROM uni GROUP BY 1),
        |nt AS (SELECT count(*) AS n FROM uni),
        |bg AS (SELECT unnest(list_transform(range(len(toks) - 1),
        |    i -> toks[i+1] || ' ' || toks[i+2])) AS g
        |  FROM tok WHERE len(toks) >= 2),
        |np AS (SELECT count(*) AS n FROM bg),
        |bc AS (SELECT g, count(*) AS n_ab FROM bg GROUP BY 1
        |  HAVING count(*) >= 5),
        |j AS (SELECT string_split(g, ' ')[1] AS tok_a,
        |    string_split(g, ' ')[2] AS tok_b, n_ab FROM bc),
        |sc AS (SELECT j.tok_a, j.tok_b, j.n_ab, ua.n AS n_a, ub.n AS n_b,
        |    round(ln((CAST(j.n_ab AS DOUBLE) * CAST((SELECT n FROM nt) AS DOUBLE)
        |        * CAST((SELECT n FROM nt) AS DOUBLE))
        |      / (CAST((SELECT n FROM np) AS DOUBLE) * CAST(ua.n AS DOUBLE)
        |        * CAST(ub.n AS DOUBLE))), 6) AS pmi6
        |  FROM j JOIN un ua ON ua.t = j.tok_a JOIN un ub ON ub.t = j.tok_b)
        |SELECT * FROM sc ORDER BY pmi6 DESC, tok_a, tok_b LIMIT 50""".stripMargin,
    "doc_quantile_sketch" -> QuantileSketchSql,
    "doc_quantile_merge" -> QuantileSketchSql,
    // DuckDB recomputes the features and replays the identical left-to-right
    // logit chain + sigmoid; the keep gate compares the ROUNDED probability
    "doc_quality_logit" ->
      s"""WITH ${qualityCtes("documents")},
         |z AS (SELECT doc_id, CAST(-1.5 AS DOUBLE)
         |    + least(n_tokens / CAST(50.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
         |      * CAST(2.0 AS DOUBLE)
         |    + mean_token_len * CAST(0.15 AS DOUBLE)
         |    + punct_ratio * CAST(-4.0 AS DOUBLE)
         |    + digit_ratio * CAST(-2.0 AS DOUBLE)
         |    + stop_ratio * CAST(6.0 AS DOUBLE) AS zz FROM m)
         |SELECT doc_id, round(zz, 6) AS logit6,
         |  round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-zz)), 6)
         |    AS p_keep6,
         |  round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-zz)), 6)
         |    >= CAST(0.5 AS DOUBLE) AS keep
         |FROM z""".stripMargin,
    // logistic-GD training replay: 3 unrolled rounds, see logitTrainSql
    "doc_logit_train" -> logitTrainSql(3),
    // the sketch chain for p90 only, joined back onto every document — the
    // gate itself is exact integer comparison
    "doc_length_gate" ->
      s"""WITH ${quantileCtes(Seq(90))},
         |e AS (SELECT q.key, $QuantileUbSql AS est_value FROM q)
         |SELECT d.doc_id, d.source, CAST(length(d.text) AS BIGINT) AS len,
         |  e.est_value AS p90_est,
         |  CAST(length(d.text) AS BIGINT) <= e.est_value AS keep
         |FROM documents d JOIN e ON e.key = d.source""".stripMargin,
    // independent re-derivation of the gaps-and-islands span merge: DuckDB
    // rebuilds the 8-token windows, the corpus-wide copy counts, and the
    // island sums from the same planted-dup corpus
    "doc_substring_dedup" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000000 AS doc_id,
        |    text || ' near duplicate tail' AS text FROM documents WHERE doc_id % 50 = 0),
        |tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM all_docs),
        |e AS (SELECT doc_id,
        |    CAST(unnest(range(len(toks) - 7)) AS INT) AS win_idx,
        |    unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS win_text
        |  FROM tok WHERE len(toks) >= 8),
        |dup AS (SELECT win_text, count(*) AS n_copies FROM e
        |  GROUP BY 1 HAVING count(*) >= 2),
        |d AS (SELECT e.doc_id, e.win_idx, dup.n_copies FROM e JOIN dup USING (win_text)),
        |m AS (SELECT doc_id, win_idx, n_copies,
        |    CASE WHEN win_idx - lag(win_idx) OVER
        |      (PARTITION BY doc_id ORDER BY win_idx) <= 8 THEN 0 ELSE 1 END AS brk
        |  FROM d),
        |isl AS (SELECT doc_id, win_idx, n_copies,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY win_idx) AS island FROM m),
        |sp AS (SELECT doc_id AS doc_key, island,
        |    min(win_idx) AS span_start, CAST(max(win_idx) + 8 AS INT) AS span_end,
        |    CAST(count(*) AS INT) AS n_windows, max(n_copies) AS max_copies
        |  FROM isl GROUP BY 1, 2)
        |SELECT doc_key,
        |  CAST(row_number() OVER (PARTITION BY doc_key ORDER BY span_start) AS INT)
        |    AS span_id,
        |  span_start, span_end, span_end - span_start AS span_tokens,
        |  n_windows, max_copies
        |FROM sp""".stripMargin,
    // DuckDB replays the ENTIRE incremental classification: the digest
    // join, the two-sided sha256 minhash signatures, band keys, the
    // base-side bucket cap (row_number <= 256 by id), and the exact
    // string-shingle Jaccard verify
    "doc_incremental_dedup" ->
      s"""WITH nd AS (
         |  SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id + 30000000 AS doc_id,
         |    text || ' fresh crawl tail' AS text
         |    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
         |  UNION ALL SELECT doc_id + 40000000 AS doc_id,
         |    'entirely new page body number ' || CAST(doc_id AS VARCHAR) ||
         |      ' with unrelated words qwx zvy' AS text
         |    FROM documents WHERE doc_id % 7 = 1),
         |ex AS (SELECT DISTINCT n.doc_id FROM nd n
         |  JOIN (SELECT DISTINCT sha256(text) AS dg FROM documents) b
         |    ON sha256(n.text) = b.dg),
         |ntok AS (SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
         |    x -> length(x) > 0) AS toks FROM nd),
         |nsh AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN []
         |    WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |    ELSE list_distinct(list_transform(range(len(toks) - 2),
         |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) END AS sh
         |  FROM ntok),
         |btok AS (SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
         |    x -> length(x) > 0) AS toks FROM documents),
         |bsh AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN []
         |    WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         |    ELSE list_distinct(list_transform(range(len(toks) - 2),
         |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) END AS sh
         |  FROM btok),
         |nhv AS (SELECT doc_id, i,
         |    min(${sha60Sql("CAST(i AS VARCHAR) || ':' || s")}) AS mh
         |  FROM (SELECT doc_id, unnest(sh) AS s FROM nsh WHERE len(sh) > 0),
         |    range(16) t(i) GROUP BY 1, 2),
         |nsig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM nhv GROUP BY 1),
         |bhv AS (SELECT doc_id, i,
         |    min(${sha60Sql("CAST(i AS VARCHAR) || ':' || s")}) AS mh
         |  FROM (SELECT doc_id, unnest(sh) AS s FROM bsh WHERE len(sh) > 0),
         |    range(16) t(i) GROUP BY 1, 2),
         |bsig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM bhv GROUP BY 1),
         |nbands AS (SELECT doc_id, b,
         |    array_to_string(sig[(b*4+1):(b*4+4)], ',') AS bk
         |  FROM nsig, range(4) tb(b)),
         |bbands AS (SELECT doc_id, b,
         |    array_to_string(sig[(b*4+1):(b*4+4)], ',') AS bk
         |  FROM bsig, range(4) tb(b)),
         |bcap AS (SELECT doc_id, b, bk FROM (SELECT doc_id, b, bk,
         |    row_number() OVER (PARTITION BY b, bk ORDER BY doc_id) AS rn
         |  FROM bbands) WHERE rn <= 256),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS base_id
         |  FROM nbands n JOIN bcap c ON n.b = c.b AND n.bk = c.bk),
         |ver AS (SELECT DISTINCT cand.new_id FROM cand
         |  JOIN nsh a ON a.doc_id = cand.new_id
         |  JOIN bsh b2 ON b2.doc_id = cand.base_id
         |  WHERE (CASE WHEN len(a.sh) = 0 OR len(b2.sh) = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE len(list_filter(a.sh, x -> list_contains(b2.sh, x)))
         |      / CAST(len(a.sh) + len(b2.sh)
         |        - len(list_filter(a.sh, x -> list_contains(b2.sh, x))) AS DOUBLE)
         |    END) >= CAST(0.5 AS DOUBLE))
         |SELECT nd.doc_id AS new_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN ver.new_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'new' END AS status
         |FROM nd LEFT JOIN ex ON ex.doc_id = nd.doc_id
         |LEFT JOIN ver ON ver.new_id = nd.doc_id""".stripMargin,
    // DuckDB re-derives the integer masses, replays the same pow/ratio
    // double arithmetic (operation order mirrored, literals cast to DOUBLE),
    // lands on the same integer ppm thresholds, and re-flips the sha60 coin
    "doc_source_mix" ->
      s"""WITH tok AS (SELECT doc_id, source,
         |    CAST(len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
         |      x -> length(x) > 0)) AS BIGINT) AS n_tok FROM documents),
         |m AS (SELECT source, sum(n_tok) AS mass FROM tok GROUP BY 1),
         |r AS (SELECT source, mass,
         |    pow(CAST(mass AS DOUBLE), CAST(0.5 AS DOUBLE)) AS w,
         |    sum(pow(CAST(mass AS DOUBLE), CAST(0.5 AS DOUBLE))) OVER () AS sumw,
         |    sum(mass) OVER () AS summass FROM m),
         |rp AS (SELECT source,
         |    CAST(round(least(CAST(1.0 AS DOUBLE), (w / sumw) *
         |      ((CAST(0.5 AS DOUBLE) * CAST(summass AS DOUBLE)) / CAST(mass AS DOUBLE)))
         |      * CAST(1000000.0 AS DOUBLE), 0) AS BIGINT) AS rate_ppm FROM r)
         |SELECT t.doc_id, t.source, rp.rate_ppm
         |FROM tok t JOIN rp USING (source)
         |WHERE ${sha60Sql("'mix:v1:' || CAST(t.doc_id AS VARCHAR)")} % 1000000
         |  < rp.rate_ppm""".stripMargin,
    // DuckDB retrains the unigram LM (one count over the vocab) and replays
    // the same ln + 7-dp decimal rounding per token occurrence
    "doc_lm_score" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM tok),
        |vocab AS (SELECT token, count(*) AS cnt FROM ex GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM ex),
        |sc AS (SELECT e.doc_id, e.dl,
        |    sum(CAST(round(ln(CAST(v.cnt AS DOUBLE) / t.total), 7)
        |      AS DECIMAL(20,7))) AS sdec
        |  FROM ex e JOIN vocab v USING (token) CROSS JOIN tot t
        |  GROUP BY 1, 2)
        |SELECT tok.doc_id AS doc_key, CAST(len(tok.toks) AS INT) AS n_tokens,
        |  CAST(sc.sdec AS DOUBLE) / sc.dl AS lm_logprob
        |FROM tok LEFT JOIN sc ON sc.doc_id = tok.doc_id""".stripMargin,
    // DuckDB rebuilds the bigram model from a POSITION SELF-JOIN (a
    // different pairing algorithm than the engine's windowNgrams call) and
    // replays the identical interpolation chain — note (1.0 - 0.7), not
    // 0.3: the engine computes the backoff weight as 1.0 - lam in IEEE
    "doc_lm_bigram" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |ex AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |uni AS (SELECT token, count(*) AS cnt FROM ex GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM ex),
        |ti AS (SELECT doc_id, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS i FROM tok),
        |pairs AS (SELECT x.doc_id, x.tok AS a, y.tok AS b
        |  FROM ti x JOIN ti y ON x.doc_id = y.doc_id AND y.i = x.i + 1),
        |bc AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
        |pterm AS (SELECT p.doc_id,
        |    CAST(round(ln(
        |      CAST(0.7 AS DOUBLE) * (CAST(bc.c_ab AS DOUBLE) / ua.cnt)
        |      + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
        |        * (CAST(ub.cnt AS DOUBLE) / t.total)), 7) AS DECIMAL(20,7)) AS t
        |  FROM pairs p JOIN bc ON bc.a = p.a AND bc.b = p.b
        |  JOIN uni ua ON ua.token = p.a JOIN uni ub ON ub.token = p.b
        |  CROSS JOIN tot t),
        |fterm AS (SELECT tok.doc_id,
        |    CAST(round(ln(CAST(u.cnt AS DOUBLE) / t.total), 7)
        |      AS DECIMAL(20,7)) AS t
        |  FROM tok JOIN uni u ON u.token = tok.toks[1] CROSS JOIN tot t
        |  WHERE len(tok.toks) >= 1),
        |sc AS (SELECT doc_id, sum(t) AS sdec
        |  FROM (SELECT * FROM fterm UNION ALL SELECT * FROM pterm)
        |  GROUP BY 1)
        |SELECT tok.doc_id AS doc_key, CAST(len(tok.toks) AS INT) AS n_tokens,
        |  CAST(sc.sdec AS DOUBLE) / len(tok.toks) AS lm2_logprob
        |FROM tok LEFT JOIN sc ON sc.doc_id = tok.doc_id""".stripMargin,
    // Kneser-Ney: DuckDB rebuilds prefix/fan-out/fan-in/type counts from the
    // position self-join's bigram table and replays the identical discount
    // chain (same operation order, every literal cast to DOUBLE)
    "doc_lm_kn" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |ex AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |uni AS (SELECT token, count(*) AS cnt FROM ex GROUP BY 1),
        |v AS (SELECT count(*) AS vocab FROM uni),
        |ti AS (SELECT doc_id, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS i FROM tok),
        |pairs AS (SELECT x.doc_id, x.tok AS a, y.tok AS b
        |  FROM ti x JOIN ti y ON x.doc_id = y.doc_id AND y.i = x.i + 1),
        |bc AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
        |pf AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a,
        |  count(*) AS n1p_fwd FROM bc GROUP BY 1),
        |sf AS (SELECT b, count(*) AS n1p_bwd FROM bc GROUP BY 1),
        |tt AS (SELECT count(*) AS t_types FROM bc),
        |pterm AS (SELECT p.doc_id,
        |    CAST(round(ln(
        |      (greatest(CAST(bc.c_ab AS DOUBLE) - CAST(0.75 AS DOUBLE),
        |         CAST(0 AS DOUBLE))
        |       + CAST(0.75 AS DOUBLE) * CAST(pf.n1p_fwd AS DOUBLE)
        |         * (CAST(sf.n1p_bwd AS DOUBLE) / CAST(tt.t_types AS DOUBLE)))
        |      / CAST(pf.c_a AS DOUBLE)), 7) AS DECIMAL(20,7)) AS t
        |  FROM pairs p JOIN bc ON bc.a = p.a AND bc.b = p.b
        |  JOIN pf ON pf.a = p.a JOIN sf ON sf.b = p.b CROSS JOIN tt),
        |fterm AS (SELECT tok.doc_id,
        |    CAST(round(ln(CAST(coalesce(sf.n1p_bwd, 0) + 1 AS DOUBLE)
        |      / CAST(tt.t_types + v.vocab AS DOUBLE)), 7)
        |      AS DECIMAL(20,7)) AS t
        |  FROM tok LEFT JOIN sf ON sf.b = tok.toks[1]
        |  CROSS JOIN tt CROSS JOIN v
        |  WHERE len(tok.toks) >= 1),
        |sc AS (SELECT doc_id, sum(t) AS sdec
        |  FROM (SELECT * FROM fterm UNION ALL SELECT * FROM pterm)
        |  GROUP BY 1)
        |SELECT tok.doc_id AS doc_key, CAST(len(tok.toks) AS INT) AS n_tokens,
        |  CAST(sc.sdec AS DOUBLE) / len(tok.toks) AS kn_logprob
        |FROM tok LEFT JOIN sc ON sc.doc_id = tok.doc_id""".stripMargin,
    // CCNet bucketing: the bigram-LM decimal sum becomes integral per-token
    // NLL (micro-nat floor division, both operands non-negative so // == div),
    // the log-histogram sketch is rebuilt cell by cell, and the head/middle
    // thresholds are the deterministic bucket upper bounds
    "doc_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |ex AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |uni AS (SELECT token, count(*) AS cnt FROM ex GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM ex),
        |ti AS (SELECT doc_id, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS i FROM tok),
        |pairs AS (SELECT x.doc_id, x.tok AS a, y.tok AS b
        |  FROM ti x JOIN ti y ON x.doc_id = y.doc_id AND y.i = x.i + 1),
        |bc AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
        |pterm AS (SELECT p.doc_id,
        |    CAST(round(ln(
        |      CAST(0.7 AS DOUBLE) * (CAST(bc.c_ab AS DOUBLE) / ua.cnt)
        |      + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
        |        * (CAST(ub.cnt AS DOUBLE) / t.total)), 7) AS DECIMAL(20,7)) AS t
        |  FROM pairs p JOIN bc ON bc.a = p.a AND bc.b = p.b
        |  JOIN uni ua ON ua.token = p.a JOIN uni ub ON ub.token = p.b
        |  CROSS JOIN tot t),
        |fterm AS (SELECT tok.doc_id,
        |    CAST(round(ln(CAST(u.cnt AS DOUBLE) / t.total), 7)
        |      AS DECIMAL(20,7)) AS t
        |  FROM tok JOIN uni u ON u.token = tok.toks[1] CROSS JOIN tot t
        |  WHERE len(tok.toks) >= 1),
        |sc AS (SELECT doc_id, sum(t) AS sdec
        |  FROM (SELECT * FROM fterm UNION ALL SELECT * FROM pterm)
        |  GROUP BY 1),
        |nll AS (SELECT tok.doc_id, CAST(len(tok.toks) AS INT) AS n_tokens,
        |    CAST((-sc.sdec) * 10000000 AS BIGINT)
        |      // CAST(len(tok.toks) AS BIGINT) AS nll_e7
        |  FROM tok JOIN sc ON sc.doc_id = tok.doc_id
        |  WHERE len(tok.toks) >= 1),
        |hb AS (SELECT CAST(CASE WHEN v < 4 THEN v
        |    ELSE (length(bin(v)) - 1) * 4 + ((v >> (length(bin(v)) - 3)) & 3)
        |    END AS INT) AS bucket FROM (SELECT nll_e7 AS v FROM nll)),
        |hc AS (SELECT bucket, count(*) AS cnt FROM hb GROUP BY 1),
        |ht AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM hc),
        |hm AS (SELECT bucket,
        |  CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum FROM hc),
        |pp AS (SELECT CAST(unnest([33, 66]) AS INT) AS pct),
        |q AS (SELECT pp.pct, min(bucket) AS b
        |  FROM hm CROSS JOIN ht CROSS JOIN pp
        |  WHERE cum >= (ht.n_total * pp.pct + 99) // 100 GROUP BY 1),
        |ub2 AS (SELECT pct, CASE WHEN b < 4 THEN CAST(b AS BIGINT)
        |    ELSE (CAST(b % 4 + 5 AS BIGINT) << ((b // 4) - 2)) - 1 END AS est
        |  FROM q),
        |th AS (SELECT max(CASE WHEN pct = 33 THEN est END) AS t33,
        |    max(CASE WHEN pct = 66 THEN est END) AS t66 FROM ub2)
        |SELECT nll.doc_id AS doc_key, nll.n_tokens, nll.nll_e7,
        |  th.t33, th.t66,
        |  CASE WHEN nll.nll_e7 <= th.t33 THEN 'head'
        |       WHEN nll.nll_e7 <= th.t66 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM nll CROSS JOIN th""".stripMargin,
    // NFC normalization: DuckDB's utf8proc nfc_normalize and the JDK's
    // Normalizer implement the same UAX #15 algorithm, so the composed
    // strings agree byte-for-byte; the suffix is built DECOMPOSED from
    // chr() codepoints in both engines
    "doc_unicode_norm" ->
      """WITH raw AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 3 = 0
        |    THEN ' cafe' || chr(769) || ' A' || chr(778)
        |      || ' n' || chr(771) || 'o'
        |    ELSE '' END AS raw FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm_text,
        |  nfc_normalize(raw) <> raw AS changed,
        |  CAST(length(raw) AS INT) AS n_chars_raw,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS n_chars_norm
        |FROM raw""".stripMargin,
    "doc_profile" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(text) AS BIGINT) AS n_text_nonnull,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(min(length(text)) AS INT) AS min_len,
        |  CAST(max(length(text)) AS INT) AS max_len,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  CAST((CAST(sum(length(text)) AS BIGINT) * 1000000) // count(*)
        |    AS BIGINT) AS avg_len_ppm
        |FROM documents""".stripMargin,
    // the rewriter re-derived relationally: DuckDB marks covered token
    // positions with a span range-join instead of Spark's per-row lambda
    "doc_substring_strip" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000000 AS doc_id,
        |    text || ' near duplicate tail' AS text FROM documents WHERE doc_id % 50 = 0),
        |tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM all_docs),
        |e AS (SELECT doc_id,
        |    CAST(unnest(range(len(toks) - 7)) AS INT) AS win_idx,
        |    unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS win_text
        |  FROM tok WHERE len(toks) >= 8),
        |dup AS (SELECT win_text, count(*) AS n_copies FROM e
        |  GROUP BY 1 HAVING count(*) >= 2),
        |d AS (SELECT e.doc_id, e.win_idx FROM e JOIN dup USING (win_text)),
        |m AS (SELECT doc_id, win_idx,
        |    CASE WHEN win_idx - lag(win_idx) OVER
        |      (PARTITION BY doc_id ORDER BY win_idx) <= 8 THEN 0 ELSE 1 END AS brk
        |  FROM d),
        |isl AS (SELECT doc_id, win_idx,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY win_idx) AS island FROM m),
        |sp AS (SELECT doc_id, island,
        |    min(win_idx) AS span_start, CAST(max(win_idx) + 8 AS INT) AS span_end
        |  FROM isl GROUP BY 1, 2),
        |ti AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS pos,
        |    unnest(toks) AS tok FROM tok),
        |cov AS (SELECT DISTINCT t.doc_id, t.pos FROM ti t JOIN sp
        |  ON sp.doc_id = t.doc_id
        |    AND t.pos >= sp.span_start AND t.pos < sp.span_end),
        |kept AS (SELECT ti.doc_id, ti.pos, ti.tok FROM ti LEFT JOIN cov
        |  ON cov.doc_id = ti.doc_id AND cov.pos = ti.pos
        |  WHERE cov.doc_id IS NULL),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    count(*) AS n_kept FROM kept GROUP BY 1)
        |SELECT tok.doc_id AS doc_key, coalesce(agg.clean_text, '') AS clean_text,
        |  CAST(len(tok.toks) - coalesce(agg.n_kept, 0) AS INT) AS n_removed_tokens
        |FROM tok LEFT JOIN agg USING (doc_id)""".stripMargin,
    // DuckDB replays the identical double arithmetic (same operation order,
    // literals cast to DOUBLE) and the same per-term 7-dp DECIMAL rounding,
    // so every score reproduces bit-for-bit
    "doc_bm25" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM tok),
        |ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM tok),
        |q AS (SELECT doc_id AS doc_key, dl, token, count(*) AS tf FROM ex
        |  WHERE token IN ('spark', 'vector', 'merge', 'customer')
        |  GROUP BY 1, 2, 3),
        |docfreq AS (SELECT token, count(*) AS df FROM q GROUP BY 1),
        |term AS (SELECT q.doc_key,
        |    CAST(round(
        |      ln(CAST(1.0 AS DOUBLE)
        |        + (s.n_docs - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)))
        |      * ((q.tf * CAST(2.2 AS DOUBLE))
        |        / (q.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * q.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))),
        |      7) AS DECIMAL(20,7)) AS term_score
        |  FROM q JOIN docfreq f USING (token) CROSS JOIN stats s),
        |scored AS (SELECT doc_key, CAST(count(*) AS INT) AS n_terms,
        |    CAST(sum(term_score) AS DOUBLE) AS bm25_score
        |  FROM term GROUP BY 1)
        |SELECT doc_key, n_terms, bm25_score,
        |  CAST(row_number() OVER (ORDER BY bm25_score DESC, doc_key) AS INT) AS rank
        |FROM scored ORDER BY bm25_score DESC, doc_key LIMIT 20""".stripMargin,
    // smooth-idf TF-IDF replayed with the identical op order (ln of the
    // (N+1)/(df+1) double quotient, +1, * tf, 7dp DECIMAL) and the same
    // (score desc, term asc) per-doc top-3 window
    "doc_tfidf" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |tf AS (SELECT doc_id, unnest(toks) AS term FROM tok),
        |tfa AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
        |dfa AS (SELECT term, count(*) AS df FROM tfa GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT t.doc_id, t.term, t.tf, f.df,
        |    CAST(round(
        |      (ln(CAST(s.n_docs + 1 AS DOUBLE) / CAST(f.df + 1 AS DOUBLE))
        |        + CAST(1.0 AS DOUBLE)) * CAST(t.tf AS DOUBLE), 7)
        |      AS DECIMAL(20,7)) AS tfidf7
        |  FROM tfa t JOIN dfa f USING (term) CROSS JOIN n s),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf7 DESC, term) AS INT) AS term_rank FROM sc)
        |SELECT doc_id, term, tf, df, tfidf7, term_rank
        |FROM rk WHERE term_rank <= 3""".stripMargin,
    // DuckDB rebuilds every Count-Min cell (sha60 family, pmod width) from
    // the full 3-gram stream and re-estimates the exact top-20 — proving
    // both the exact counts and the sketch plan
    "doc_heavy_hitters" -> HeavyHittersSql,
    // the MERGED shard sketches must equal this same whole-stream oracle —
    // the hash match is the mergeability proof
    "doc_sketch_merge" -> HeavyHittersSql,
    "doc_quality_gate" ->
      s"""WITH ${qualityCtes("documents")},
         |s AS (SELECT q.doc_id, d.source, q.quality_score
         |  FROM q JOIN documents d USING (doc_id)),
         |thr AS (SELECT source, quantile_cont(quality_score, 0.25)
         |    AS quality_thr FROM s GROUP BY 1)
         |SELECT s.doc_id, s.source, s.quality_score, thr.quality_thr
         |FROM s JOIN thr USING (source)
         |WHERE s.quality_score >= thr.quality_thr""".stripMargin,
    "doc_domain_cap" ->
      s"""WITH ${qualityCtes("documents")},
         |s AS (SELECT q.doc_id, d.source, q.quality_score
         |  FROM q JOIN documents d USING (doc_id)),
         |r AS (SELECT doc_id, source, quality_score,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY quality_score DESC, doc_id) AS INT) AS strat_rank FROM s)
         |SELECT doc_id, source, quality_score, strat_rank
         |FROM r WHERE strat_rank <= 10""".stripMargin,
    // independent re-derivation: DuckDB picks winners with a row_number
    // window (a different algorithm than Spark's min-struct aggregate)
    "doc_line_dedup" ->
      """WITH all_docs AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000000 AS doc_id,
        |    text || ' near duplicate tail' AS text FROM documents WHERE doc_id % 50 = 0),
        |t AS (SELECT doc_id, text,
        |    generate_series(0, greatest(length(text) - 1, 0), 20) AS offs
        |  FROM all_docs),
        |e AS (SELECT doc_id,
        |    CAST(generate_subscripts(offs, 1) - 1 AS INT) AS seg_idx,
        |    substr(text, CAST(unnest(offs) AS INT) + 1, 20) AS seg_text FROM t),
        |w AS (SELECT doc_id, seg_idx, seg_text,
        |    row_number() OVER (PARTITION BY seg_text ORDER BY doc_id, seg_idx)
        |      AS rn,
        |    count(*) OVER (PARTITION BY seg_text) AS n_copies FROM e)
        |SELECT doc_id AS doc_key, seg_idx, seg_text, n_copies
        |FROM w WHERE rn = 1""".stripMargin,
    "doc_boilerplate" ->
      """WITH t AS (SELECT doc_id, text,
        |    generate_series(0, greatest(length(text) - 1, 0), 30) AS offs
        |  FROM documents),
        |e AS (SELECT doc_id,
        |    CAST(generate_subscripts(offs, 1) - 1 AS INT) AS chunk_id,
        |    substr(text, CAST(unnest(offs) AS INT) + 1, 30) AS seg FROM t),
        |f AS (SELECT doc_id, chunk_id,
        |    len(list_filter(string_split_regex(lower(seg), '[^\p{L}\p{Nd}]+'),
        |      x -> length(x) > 0)) < 3 AS flag_too_short,
        |    (contains(lower(seg), 'javascript') OR contains(lower(seg), 'lorem'))
        |      AS flag_blacklist,
        |    (contains(seg, '{') OR contains(seg, '}')) AS flag_brace FROM e)
        |SELECT doc_id, chunk_id, flag_too_short, flag_blacklist, flag_brace,
        |  (NOT flag_too_short AND NOT flag_blacklist AND NOT flag_brace)
        |    AS seg_keep
        |FROM f""".stripMargin,
    "doc_decontaminate" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(len(toks) - 5), i -> toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |    toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6])))
        |    AS gram FROM tok WHERE len(toks) >= 6),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |hits AS (SELECT g.doc_id, count(*) AS n FROM g
        |  JOIN bg USING (gram) GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n, 0) AS n_contaminated_grams,
        |  coalesce(h.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,
    "doc_pack_sequences" ->
      """WITH tok AS (SELECT doc_id, doc_id % 4 AS shard,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |      x -> length(x) > 0)) AS BIGINT) AS cnt FROM documents),
        |w AS (SELECT doc_id, shard, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
        |      AS tok_end FROM tok),
        |c AS (SELECT doc_id, shard, tok_end, tok_end - cnt AS tok_start,
        |    (tok_end - cnt) // 64 AS seq_first, (tok_end - 1) // 64 AS seq_last
        |  FROM w WHERE cnt > 0),
        |e AS (SELECT doc_id, shard, tok_start, tok_end,
        |    unnest(generate_series(seq_first, seq_last)) AS seq_id FROM c)
        |SELECT doc_id, shard, seq_id,
        |  greatest(seq_id * 64 - tok_start, 0) AS doc_tok_off,
        |  greatest(tok_start - seq_id * 64, 0) AS seq_tok_off,
        |  least(tok_end, (seq_id + 1) * 64)
        |    - greatest(tok_start, seq_id * 64) AS n_toks
        |FROM e""".stripMargin,
    "q22_corr_scalar" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM part p
        |WHERE p_retailprice = (SELECT max(p2.p_retailprice)
        |  FROM part p2 WHERE p2.p_brand = p.p_brand)""".stripMargin,
    "q23_not_exists" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 100000 AND NOT EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)""".stripMargin,
    "q24_analytic" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(o_orderkey) OVER w AS first_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q25_higher_order" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> length(x) > 3)) AS INT) AS n_long,
        |  COALESCE(CAST(list_sum(list_transform(toks, x -> length(x))) AS INT), 0)
        |    AS total_len,
        |  COALESCE(CAST(list_max(list_transform(toks, x -> length(x))) AS INT), 0)
        |    AS max_len,
        |  len(list_filter(toks, x -> x = 'the')) > 0 AS has_the
        |FROM t""".stripMargin,
    "q19_explode" ->
      """WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents WHERE doc_id % 20 = 0)
        |SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos,
        |  unnest(toks) AS tok
        |FROM tok""".stripMargin,
    "q17_range_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, CAST(d AS INT) AS d,
        |sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY d
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS qty_30d
        |FROM (SELECT *, datediff('day', DATE '1995-01-01',
        |  CAST(l_shipdate AS DATE)) AS d FROM lineitem)""".stripMargin,
    "q18_unpivot" ->
      """WITH wide AS (SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
        |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        |  FROM lineitem GROUP BY l_linestatus)
        |SELECT l_linestatus, flag, sum_qty
        |FROM wide UNPIVOT (sum_qty FOR flag IN (A, N, R))""".stripMargin,
    "q2_join_topk" ->
      """SELECT l_orderkey, CAST(round(sum(CAST(l_extendedprice
        |  * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(30,6))), 4) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q3_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q4_semijoin" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY 1""".stripMargin,
    "q5_antijoin" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > CAST(450000.0 AS DOUBLE))
        |GROUP BY 1""".stripMargin,
    "q6_setop" ->
      """SELECT p_partkey AS k FROM part
        |EXCEPT SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 45""".stripMargin,
    "q7_events_agg" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n_events,
        |count(DISTINCT user_id) AS n_users FROM events GROUP BY 1, 2""".stripMargin,
    "q8_scalar_fns" ->
      """SELECT doc_id, upper(substr(text, 1, 10)) AS head10, length(text) AS len,
        |n_chars % 7 AS mod7, concat_ws('-', lang, source) AS tag FROM documents""".stripMargin,
    // NOTE: all float literals are CAST to DOUBLE — DuckDB otherwise parses
    // them as DECIMAL, which changes (or overflows) the arithmetic vs Spark's
    // IEEE-double evaluation.
    "geo_tile_agg" ->
      """WITH pts AS (SELECT
        |  (o_orderkey * 7919 % 360000) / CAST(1000.0 AS DOUBLE) - CAST(180.0 AS DOUBLE) AS lon,
        |  (o_orderkey * 104729 % 170000) / CAST(1000.0 AS DOUBLE) - CAST(85.0 AS DOUBLE) AS lat
        |  FROM orders)
        |SELECT CAST(floor((lon + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * 256) AS BIGINT) AS tile_x,
        |  CAST(floor((CAST(1.0 AS DOUBLE) - ln(tan(radians(lat)) + CAST(1.0 AS DOUBLE) / cos(radians(lat))) / pi())
        |    / CAST(2.0 AS DOUBLE) * 256) AS BIGINT) AS tile_y,
        |  count(*) AS n
        |FROM pts GROUP BY 1, 2""".stripMargin,
    "geo_lv03" ->
      """WITH pts AS (SELECT n_nationkey,
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
        |FROM lp""".stripMargin,
    "geo_mercator" ->
      """SELECT n_nationkey, ((n_nationkey * 13 % 360) - 180 + CAST(0.25 AS DOUBLE))
        |  * CAST(20037508.342789244 AS DOUBLE) / CAST(180.0 AS DOUBLE) AS merc_x
        |FROM nation""".stripMargin,
    "doc_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM all_docs GROUP BY text""".stripMargin,
    "doc_token_stats" ->
      """SELECT doc_id, length(text) AS len,
        |length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens_ws
        |FROM documents""".stripMargin,
    "q9_running_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |sum(l_quantity) OVER (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem""".stripMargin,
    "geo_knn" ->
      s"""WITH q AS (SELECT CAST(range AS BIGINT) AS query_id,
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
        |  CAST(round(dist_m, 0) AS BIGINT) AS dist_m_round FROM r WHERE rn <= 3""".stripMargin,
    "geo_knn_oracle" ->
      """WITH q AS (SELECT n_nationkey AS query_id,
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
        |  CAST(round(dist_m, 0) AS BIGINT) AS dist_m_round FROM r WHERE rn <= 5""".stripMargin,
    "geo_distance_join" ->
      """WITH q AS (SELECT n_nationkey AS query_id,
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
        |FROM d WHERE dist_m <= CAST(15000.0 AS DOUBLE)""".stripMargin,
    // plain inequality join (no grid, no reference point) — a DIFFERENT
    // algorithm from the engine's PBSM cover join; every bound is a multiple
    // of 0.25 so the overlap corners are exact doubles in both engines
    "geo_bbox_join" ->
      """WITH a AS (SELECT o_orderkey AS a_id,
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
        |  AND a_min_lat <= b_max_lat AND b_min_lat <= a_max_lat""".stripMargin,
    // plain BETWEEN left join — the engine's banded broadcast probe must
    // agree row-for-row including the unassigned (NULL-payload) space
    "geo_ip_lookup" ->
      s"""WITH p AS (SELECT doc_id,
         |    ${sha60Sql("'ip:' || CAST(doc_id AS VARCHAR)")} % 4294967296 AS ip
         |  FROM documents),
         |r AS (SELECT CAST(n_nationkey AS BIGINT) * 134217728 AS lo,
         |    CAST(n_nationkey AS BIGINT) * 134217728 + 99999999 AS hi,
         |    n_name FROM nation)
         |SELECT p.doc_id, CAST(p.ip AS BIGINT) AS ip,
         |  coalesce(r.n_name, 'unassigned') AS country
         |FROM p LEFT JOIN r ON p.ip >= r.lo AND p.ip <= r.hi""".stripMargin,
    "geo_reverse_bbox" -> reverseBboxSql,
    // the compact-index path answers the SAME question -> same oracle; a
    // disagreement would mean the mixed-level cover broke coverage
    "geo_reverse_compact" -> reverseBboxSql,
    "geo_forward_names" ->
      """WITH gaz AS (
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
        |  place_id, name, lon AS x, lat AS y FROM j""".stripMargin,
    "geo_axis_swap" ->
      """WITH pts AS (SELECT n_nationkey,
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
        |    / pi() * CAST(20037508.342789244 AS DOUBLE), 4) FROM lv""".stripMargin,
    "geo_bounds_wire" ->
      """SELECT n_nationkey, concat_ws(',',
        |  CAST(n_nationkey * CAST(0.5 AS DOUBLE) - CAST(10.25 AS DOUBLE) AS VARCHAR),
        |  CAST(n_nationkey * CAST(0.25 AS DOUBLE) - CAST(3.25 AS DOUBLE) AS VARCHAR),
        |  CAST(n_nationkey * CAST(0.5 AS DOUBLE) - CAST(7.75 AS DOUBLE) AS VARCHAR),
        |  CAST(n_nationkey * CAST(0.25 AS DOUBLE) - CAST(1.5 AS DOUBLE) AS VARCHAR)) AS wire
        |FROM nation""".stripMargin,
    "geo_dms" ->
      """WITH pts AS (SELECT n_nationkey,
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
        |FROM h""".stripMargin,
    // portable embedding LSH: planes re-derived from sha256 (hex fold to a
    // 60-bit long, parity -> +-1), projections as ordered list_sum folds
    // (bit-identical to the engine's left-fold aggregate), capped bucket
    // join, exact-cosine verify per the brute-force template
    "emb_neardup_portable" ->
      """WITH emb2 AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 10000000 AS vec_id, embedding
        |    FROM embeddings WHERE vec_id % 50 = 0),
        |pl AS (SELECT t, j, list_transform(range(64), d -> CASE WHEN
        |    (list_reduce(list_transform(range(15), k -> CAST(
        |      strpos('0123456789abcdef', substr(sha256(
        |        'hp:' || t || ':' || j || ':' || d), k+1, 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) & 1) = 0
        |    THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS p
        |  FROM range(6) tt(t), range(12) jj(j)),
        |dots AS (SELECT vec_id, t, j, list_sum(list_transform(range(64),
        |    d -> CAST(embedding[CAST(d AS INT)+1] AS DOUBLE) * p[CAST(d AS INT)+1]))
        |    AS dot
        |  FROM emb2, pl),
        |keys AS (SELECT vec_id, t, sum(CASE WHEN dot > 0
        |    THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS bk
        |  FROM dots GROUP BY vec_id, t),
        |bsz AS (SELECT t, bk, count(*) AS c FROM keys GROUP BY 1, 2),
        |pruned AS (SELECT k.vec_id, k.t, k.bk FROM keys k
        |  JOIN bsz b ON k.t = b.t AND k.bk = b.bk WHERE b.c <= 1024),
        |cand2 AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
        |  FROM pruned a JOIN pruned b2
        |    ON a.t = b2.t AND a.bk = b2.bk AND a.vec_id < b2.vec_id),
        |cs AS (SELECT c.id_a, c.id_b,
        |  list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
        |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(ea.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(eb.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM cand2 c JOIN emb2 ea ON ea.vec_id = c.id_a
        |    JOIN emb2 eb ON eb.vec_id = c.id_b)
        |SELECT id_a, id_b, round(cos, 6) AS cos FROM cs
        |WHERE cos >= CAST(0.999 AS DOUBLE)""".stripMargin,
    // exactness note: DuckDB list_sum over the CAST-to-DOUBLE elements
    // accumulates left-to-right like VecCore.dot, so the cosine is
    // bit-identical (validated empirically) and rank order matches exactly
    "emb_knn_brute" -> EmbKnnBruteSql,
    "emb_mmr" -> mmrSql(4),
    // SQ8 replay: codes (ties-away round of x*127/maxAbs), exact integer
    // dots, descaled scores, ranks — all re-derived from the raw floats
    "emb_knn_int8" ->
      s"""WITH $Int8Ctes,
        |sc AS (SELECT query_id, item_id, idot,
        |    (qmx / CAST(127.0 AS DOUBLE)) * (cmx / CAST(127.0 AS DOUBLE))
        |      * CAST(idot AS DOUBLE) AS score
        |  FROM s),
        |r AS (SELECT query_id, item_id, idot, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id)
        |      AS rn FROM sc)
        |SELECT query_id, CAST(rn AS INT) AS knn_rank, item_id, idot,
        |  round(score, 6) AS score
        |FROM r WHERE rn <= 5""".stripMargin,
    // both phases replayed: the int8 shortlist of 20, then the exact
    // float-cosine re-rank (same IEEE chain as EmbKnnBruteSql) to top-5
    "emb_knn_int8_rerank" ->
      s"""WITH $Int8Ctes,
        |sc AS (SELECT query_id, item_id,
        |    (qmx / CAST(127.0 AS DOUBLE)) * (cmx / CAST(127.0 AS DOUBLE))
        |      * CAST(idot AS DOUBLE) AS score
        |  FROM s),
        |r AS (SELECT query_id, item_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id)
        |      AS rn FROM sc),
        |cand AS (SELECT query_id, item_id FROM r WHERE rn <= 20),
        |x AS (SELECT cand.query_id, cand.item_id,
        |    list_sum(list_transform(list_zip(qe.embedding, ce.embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(qe.embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(ce.embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM cand
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |  JOIN embeddings ce ON ce.vec_id = cand.item_id),
        |rr AS (SELECT query_id, item_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, item_id)
        |      AS rn FROM x)
        |SELECT query_id, CAST(rn AS INT) AS knn_rank, item_id, round(cos, 6) AS cos
        |FROM rr WHERE rn <= 5""".stripMargin,
    // PQ-ADC replay: global scale, clamped global-scale codes, seed-sampled
    // codebooks (ORDER BY vec_id LIMIT ks), integer-L2 subspace assignment
    // (ties to the lowest centroid index), exact integer ADC estimates
    // (sum over subspaces of subvector-centroid dots == Spark's LUT gather),
    // descaled scores, ranks — every integer, so no IEEE-order caveats
    "emb_knn_pq" -> EmbKnnPqSql,
    // IVF+PQ probes ALL nlist lists in the contract query (exhaustive), so
    // coarse routing cannot drop any candidate and the composed plan must
    // reproduce the flat PQ-ADC result bit-for-bit — the same argument that
    // lets emb_knn_ivf share the brute-force oracle
    "emb_knn_ivfpq" -> EmbKnnPqSql,
    // the persisted list-bucketed IVF+PQ layout, probed exhaustively, must
    // also reproduce the flat PQ-ADC result bit-for-bit — same argument as
    // emb_knn_ivf_bucketed sharing the brute-force oracle
    "emb_knn_ivfpq_bucketed" -> EmbKnnPqSql,
    // the IVF contract query probes ALL nlist lists (exhaustive), so the
    // posting-list plan must reproduce the brute-force top-k bit-for-bit
    "emb_knn_ivf" -> EmbKnnBruteSql,
    // same exhaustive-probe argument for the BUCKETED-layout variant: the
    // persisted posting-list table + bucket-pruned scan must reproduce the
    // brute-force top-k exactly
    "emb_knn_ivf_bucketed" -> EmbKnnBruteSql,
    "emb_bitext_mine" -> EmbBitextSql,
    // the full portable LSH-kNN plan recomputed from raw vectors: sha256
    // Rademacher planes ('hp:t:j:d', the emb_neardup_portable family),
    // ordered-fold projections, per-table bucket keys, multi-probe = key
    // plus all 1-bit flips, distinct collision candidates, exact cosine,
    // rank — bit-for-bit the engine's portableLshKnn
    "emb_knn_lsh_portable" -> EmbKnnLshPortableSql,
    // recall@5 audit of the portable LSH path against exact brute force —
    // the "no silent caps" observability row: a capped/banded ANN path must
    // REPORT its recall, not imply completeness. Both sides are themselves
    // oracle-backed rows; the oracle recomputes both chains and the join.
    "emb_ann_recall" ->
      s"""WITH b AS (SELECT query_id, item_id FROM ($EmbKnnBruteSql) zb),
         |l AS (SELECT query_id, item_id FROM ($EmbKnnLshPortableSql) zl),
         |bc AS (SELECT query_id, count(*) AS n_brute FROM b GROUP BY 1),
         |lc AS (SELECT query_id, count(*) AS n_lsh FROM l GROUP BY 1),
         |h AS (SELECT b.query_id, count(*) AS n_hits
         |  FROM b JOIN l USING (query_id, item_id) GROUP BY 1)
         |SELECT bc.query_id, bc.n_brute,
         |  CAST(COALESCE(lc.n_lsh, 0) AS BIGINT) AS n_lsh,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  (CAST(COALESCE(h.n_hits, 0) AS BIGINT) * 1000000) // bc.n_brute
         |    AS recall_ppm
         |FROM bc LEFT JOIN lc ON lc.query_id = bc.query_id
         |LEFT JOIN h ON h.query_id = bc.query_id""".stripMargin,
    "q11_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
        |    THEN 1 ELSE 0 END AS new_sess FROM events),
        |s AS (SELECT user_id, ts,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM e)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS sess_start, max(ts) AS sess_end
        |FROM s GROUP BY 1, 2""".stripMargin,
    "geo_tile_bounds" ->
      """WITH t AS (SELECT n_nationkey,
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
        |FROM t""".stripMargin,
    "q10_skew_salted" ->
      """WITH big AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN l_orderkey % 4 < 2 THEN 0 ELSE l_orderkey % 25 END AS k
        |  FROM lineitem)
        |SELECT n_name, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM big JOIN nation ON k = n_nationkey GROUP BY 1""".stripMargin,
    "sim_band_join" ->
      """WITH bands AS (SELECT doc_id, j, doc_id % (j + 20) AS h
        |  FROM documents, range(16) t(j)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
        |  FROM bands a JOIN bands b ON a.j = b.j AND a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_bands FROM p WHERE n_bands >= 2""".stripMargin,
    "doc_readability" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(greatest(len(regexp_extract_all(lower(text), '[\p{L}]+')), 1) AS DOUBLE) AS w,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS y,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s
        |  FROM documents)
        |SELECT doc_id, round(CAST(206.835 AS DOUBLE)
        |  - CAST(1.015 AS DOUBLE) * (w / s)
        |  - CAST(84.6 AS DOUBLE) * (y / w), 6) AS flesch
        |FROM t""".stripMargin,
    "doc_quality" ->
      s"""WITH ${qualityCtes("documents")}
        |SELECT doc_id, n_tokens, round(mean_token_len, 6) AS mean_token_len,
        |  quality_score
        |FROM q""".stripMargin,
    // novelty audit: DuckDB rebuilds both window streams (list_transform
    // slices vs the engine's codegen windowNgrams), the sha60-hashed
    // distinct reference set, and the per-doc miss counts
    "doc_novelty" ->
      s"""WITH nd AS (SELECT doc_id + 1000000 AS doc_id,
        |    text || ' entirely novel trailing sentence for the audit' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 2000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 10 = 5),
        |rt AS (SELECT list_filter(
        |    string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |rw AS (SELECT DISTINCT ${sha60Sql("win_text")} AS wh FROM
        |  (SELECT unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS win_text
        |    FROM rt WHERE len(toks) >= 8)),
        |nt AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM nd),
        |ne AS (SELECT doc_id, ${sha60Sql("win_text")} AS wh FROM
        |  (SELECT doc_id, unnest(list_transform(range(len(toks) - 7),
        |      i -> array_to_string(toks[i+1:i+8], ' '))) AS win_text
        |    FROM nt WHERE len(toks) >= 8)),
        |per AS (SELECT ne.doc_id, count(*) AS n_windows,
        |    CAST(sum(CASE WHEN rw.wh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_novel
        |  FROM ne LEFT JOIN rw USING (wh) GROUP BY 1)
        |SELECT nd.doc_id AS doc_key,
        |  COALESCE(per.n_windows, 0) AS n_windows,
        |  COALESCE(per.n_novel, 0) AS n_novel,
        |  round(CAST(per.n_novel AS DOUBLE) / CAST(per.n_windows AS DOUBLE), 6)
        |    AS novelty_ratio
        |FROM nd LEFT JOIN per USING (doc_id)""".stripMargin,
    // A-ES weighted sampling: hash-derived u, ln(u)/w at 7dp, kth-threshold
    // cut with key tie-break — the whole chain replayed
    "doc_weighted_sample" ->
      s"""WITH ws AS (SELECT doc_id AS doc_key, CAST(n_chars AS BIGINT) AS w,
         |    CASE WHEN n_chars > 0 THEN
         |      round(ln(CAST(${sha60Sql("CAST(doc_id AS VARCHAR) || ':v1'")} + 1
         |        AS DOUBLE) / CAST(1152921504606846976.0 AS DOUBLE))
         |      / CAST(n_chars AS DOUBLE), 7) END AS priority
         |  FROM documents),
         |kth AS (SELECT priority AS kth_p, doc_key AS kth_key FROM (
         |    SELECT doc_key, priority FROM (
         |      SELECT doc_key, priority FROM ws WHERE w > 0
         |      ORDER BY priority DESC, doc_key ASC LIMIT 100) top_k
         |    ORDER BY priority ASC, doc_key DESC LIMIT 1) kth_row)
         |SELECT doc_key, w, priority,
         |  COALESCE(w > 0 AND (priority > kth.kth_p
         |    OR (priority = kth.kth_p AND doc_key <= kth.kth_key)), false)
         |    AS selected
         |FROM ws, kth""".stripMargin,
    // shared-KMV resemblance: union k-minima flagged by side membership
    "web_snapshot_overlap" ->
      s"""WITH nd AS (
         |  SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id + 30000000 AS doc_id,
         |    text || ' fresh crawl tail' AS text
         |    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
         |  UNION ALL SELECT doc_id + 40000000 AS doc_id,
         |    'entirely new page body number ' || CAST(doc_id AS VARCHAR) ||
         |      ' with unrelated words qwx zvy' AS text
         |    FROM documents WHERE doc_id % 7 = 1),
         |ka AS (SELECT DISTINCT ${sha60Sql("text")} AS h FROM documents),
         |kb AS (SELECT DISTINCT ${sha60Sql("text")} AS h FROM nd),
         |ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) t
         |  ORDER BY h ASC LIMIT 256),
         |fl AS (SELECT ku.h, ea.h IS NOT NULL AS ia, eb.h IS NOT NULL AS ib
         |  FROM ku LEFT JOIN ka ea ON ea.h = ku.h LEFT JOIN kb eb ON eb.h = ku.h)
         |SELECT CAST(count(*) AS BIGINT) AS k_used,
         |  CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  round(CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS jaccard_est
         |FROM fl""".stripMargin,
    // DSIR: DuckDB rebuilds the hashed-ngram model from scratch — bigrams
    // via a position self-join (vs the engine's windowNgrams call), buckets
    // via the portable sha60 fold, add-one smoothed LLR per bucket rounded
    // to 7dp DECIMAL, per-doc sums, and the same top-50 threshold rule
    "doc_dsir" ->
      s"""WITH tok AS (SELECT doc_id, source, list_filter(
        |    string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |ti AS (SELECT doc_id, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS i FROM tok),
        |feats AS (
        |  SELECT doc_id, tok AS g FROM ti
        |  UNION ALL
        |  SELECT x.doc_id, x.tok || ' ' || y.tok AS g
        |  FROM ti x JOIN ti y ON x.doc_id = y.doc_id AND y.i = x.i + 1),
        |ex AS (SELECT f.doc_id, ${sha60Sql("g")} % 64 AS b,
        |    (t.source IN ('src0', 'src1')) AS is_t
        |  FROM feats f JOIN tok t ON t.doc_id = f.doc_id),
        |cnt AS (SELECT b, count(*) AS cr,
        |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct FROM ex GROUP BY 1),
        |tot AS (SELECT sum(cr) AS r_tot, sum(ct) AS t_tot FROM cnt),
        |ratio AS (SELECT b, CAST(round(ln(
        |    (CAST(ct + 1 AS DOUBLE) / CAST(t_tot + 64 AS DOUBLE)) /
        |    (CAST(cr + 1 AS DOUBLE) / CAST(r_tot + 64 AS DOUBLE))), 7)
        |    AS DECIMAL(20,7)) AS llr
        |  FROM cnt CROSS JOIN tot),
        |sc AS (SELECT e.doc_id, sum(r.llr) AS wdec
        |  FROM ex e JOIN ratio r USING (b) GROUP BY 1),
        |w AS (SELECT tok.doc_id AS doc_key,
        |    CAST(len(tok.toks) + greatest(len(tok.toks) - 1, 0) AS INT)
        |      AS n_feats,
        |    CAST(sc.wdec AS DOUBLE) AS dsir_logw
        |  FROM tok LEFT JOIN sc ON sc.doc_id = tok.doc_id),
        |kth AS (SELECT dsir_logw AS kth_w, doc_key AS kth_key FROM
        |  (SELECT dsir_logw, doc_key FROM w WHERE dsir_logw IS NOT NULL
        |   ORDER BY dsir_logw DESC, doc_key ASC LIMIT 50)
        |  ORDER BY dsir_logw ASC, doc_key DESC LIMIT 1)
        |SELECT w.doc_key, w.n_feats, w.dsir_logw,
        |  COALESCE(w.dsir_logw > kth.kth_w
        |    OR (w.dsir_logw = kth.kth_w AND w.doc_key <= kth.kth_key),
        |    FALSE) AS selected
        |FROM w CROSS JOIN kth""".stripMargin,
    // END-TO-END training-data cleaning flagship: exact dedup survivors ->
    // near-dup cluster canonicals only (recursive-CTE components over the
    // verified-pair edges) -> quality gate on the 6dp-rounded score ->
    // redaction pass; one composed oracle over the whole chain
    "doc_clean_pipeline" ->
      s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000000 AS doc_id,
        |    text || ' near duplicate tail' AS text FROM documents WHERE doc_id % 50 = 0
        |  UNION ALL SELECT doc_id + 20000000 AS doc_id, text
        |    FROM documents WHERE doc_id % 25 = 0),
        |$nearDupJaccardCtes,
        |edges AS (SELECT doc_a, doc_b FROM jj WHERE jaccard >= CAST(0.5 AS DOUBLE)),
        |und AS (SELECT doc_a AS src, doc_b AS dst FROM edges
        |  UNION SELECT doc_b AS src, doc_a AS dst FROM edges),
        |reach(id, r) AS (SELECT src, src FROM und
        |  UNION SELECT u.dst, re.r FROM reach re JOIN und u ON u.src = re.id),
        |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |s1 AS (SELECT doc_id, text FROM (SELECT doc_id, text,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM corpus) WHERE rn = 1),
        |s2 AS (SELECT doc_id, text FROM s1 WHERE doc_id NOT IN
        |  (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)),
        |${qualityCtes("s2")}
        |SELECT doc_id, n_tokens, quality_score,
        |  length(regexp_replace(regexp_replace(regexp_replace(text,
        |    '$EmailSqlRe', '<EMAIL>', 'g'),
        |    '$Ipv4SqlRe', '<IP>', 'g'),
        |    '$PhoneSqlRe', '<PHONE>', 'g')) AS clean_len
        |FROM q WHERE quality_score >= CAST(0.5 AS DOUBLE)""".stripMargin,
    "doc_token_bpe" ->
      """SELECT doc_id, CAST(coalesce(list_sum(list_transform(
        |  regexp_extract_all(text, '[\p{L}]+|[0-9]|[^\p{L}0-9\s]'),
        |  x -> CASE WHEN regexp_full_match(x, '[\p{L}]+')
        |    THEN CAST(ceil(length(x) / CAST(4.0 AS DOUBLE)) AS BIGINT)
        |    ELSE 1 END)), 0) AS BIGINT) AS n_tokens_bpe
        |FROM documents""".stripMargin,
    "doc_lang_id" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks FROM documents),
        |s AS (SELECT doc_id, text, list_max([
        |  {'score': len(list_filter(toks, x -> x IN
        |     ('der','die','das','und','ist','nicht','ein','mit','auf','für')))
        |     / CAST(greatest(len(toks), 1) AS DOUBLE), 'lang': 'de'},
        |  {'score': len(list_filter(toks, x -> x IN
        |     ('the','and','of','to','in','is','that','it','was','for')))
        |     / CAST(greatest(len(toks), 1) AS DOUBLE), 'lang': 'en'},
        |  {'score': len(list_filter(toks, x -> x IN
        |     ('el','la','de','que','y','en','los','del','las','por')))
        |     / CAST(greatest(len(toks), 1) AS DOUBLE), 'lang': 'es'},
        |  {'score': len(list_filter(toks, x -> x IN
        |     ('le','la','et','les','des','est','dans','que','pour','une')))
        |     / CAST(greatest(len(toks), 1) AS DOUBLE), 'lang': 'fr'},
        |  {'score': len(list_filter(toks, x -> x IN
        |     ('il','la','di','che','e','per','con','del','una','sono')))
        |     / CAST(greatest(len(toks), 1) AS DOUBLE), 'lang': 'it'}]) AS best FROM t)
        |SELECT doc_id, CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |  WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred FROM s""".stripMargin,
    "web_url_canon" ->
      s"""WITH $urlCanonCtes
         |SELECT doc_id, url, canon_url, host AS url_host,
         |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS url_domain,
         |  array_to_string(list_reverse(string_split(host, '.')), '.')
         |    AS rev_host,
         |  CAST(len(list_filter(string_split(path, '/'), x -> x <> ''))
         |    AS INT) AS path_depth
         |FROM c""".stripMargin,
    "web_url_dedup" ->
      s"""WITH $urlCanonCtes
         |SELECT canon_url, min(doc_id) AS winner, count(*) AS n_copies,
         |  count(DISTINCT url) AS n_raw_variants
         |FROM c GROUP BY 1""".stripMargin,
    // DuckDB rebuilds every set Bloom bit from the blocklist and replays
    // every membership verdict (incl. the false-positive tail) bit-for-bit
    "web_bloom" ->
      s"""WITH $urlCanonCtes,
         |urls AS (SELECT DISTINCT canon_url FROM c),
         |block AS (SELECT DISTINCT canon_url FROM c WHERE doc_id % 7 = 0),
         |bbits AS (SELECT DISTINCT
         |    ${sha60Sql("'bf:' || r || ':' || canon_url")} % 1024 AS bf_bit
         |  FROM (SELECT canon_url, CAST(unnest(range(3)) AS VARCHAR) AS r
         |        FROM block)),
         |cand AS (SELECT canon_url,
         |    ${sha60Sql("'bf:' || r || ':' || canon_url")} % 1024 AS bf_bit
         |  FROM (SELECT canon_url, CAST(unnest(range(3)) AS VARCHAR) AS r
         |        FROM urls)),
         |hit AS (SELECT cand.canon_url, count(b.bf_bit) = 3 AS bloom_hit
         |  FROM cand LEFT JOIN bbits b USING (bf_bit) GROUP BY 1)
         |SELECT h.canon_url, h.bloom_hit,
         |  (bl.canon_url IS NOT NULL) AS in_blocklist
         |FROM hit h LEFT JOIN block bl USING (canon_url)""".stripMargin,
    "web_host_stats" ->
      s"""WITH $urlCanonCtes
         |SELECT regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
         |  count(*) AS n_pages, count(DISTINCT canon_url) AS n_canon_urls,
         |  count(DISTINCT host) AS n_hosts
         |FROM c GROUP BY 1""".stripMargin,
    "web_hostgraph" ->
      s"""WITH $urlCanonCtes,
         |pages AS (SELECT doc_id AS page_id, host FROM c),
         |edges AS (SELECT doc_id AS src,
         |    (doc_id - (doc_id % 64)) + ((doc_id * 17 + 29) % 64) AS dst
         |  FROM documents),
         |j AS (SELECT p1.host AS src_host, p2.host AS dst_host, e.src
         |  FROM edges e JOIN pages p1 ON p1.page_id = e.src
         |  JOIN pages p2 ON p2.page_id = e.dst)
         |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(count(DISTINCT src) AS BIGINT) AS n_src_pages,
         |  src_host = dst_host AS intra_host
         |FROM j GROUP BY 1, 2""".stripMargin,
    "web_mirrors" ->
      s"""WITH $urlCanonCtes,
         |hd AS (SELECT DISTINCT c.host,
         |    sha256(CASE WHEN doc_id % 3 = 0 THEN 'u' || CAST(doc_id AS VARCHAR)
         |                ELSE 'c' || CAST(doc_id % 50 AS VARCHAR) END) AS digest
         |  FROM c),
         |fan AS (SELECT digest FROM (SELECT digest, count(*) AS nh
         |    FROM hd GROUP BY 1) WHERE nh <= 16),
         |kept AS (SELECT hd.* FROM hd JOIN fan USING (digest)),
         |sizes AS (SELECT host, count(*) AS nd FROM kept GROUP BY 1),
         |p AS (SELECT x.host AS host_a, y.host AS host_b,
         |    count(*) AS n_shared
         |  FROM kept x JOIN kept y ON x.digest = y.digest AND x.host < y.host
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT p.host_a, p.host_b, CAST(p.n_shared AS BIGINT) AS n_shared,
         |  CAST(sa.nd AS BIGINT) AS na, CAST(sb.nd AS BIGINT) AS nb,
         |  (CAST(p.n_shared AS BIGINT) * 1000000)
         |    // (sa.nd + sb.nd - p.n_shared) AS jaccard_ppm
         |FROM p JOIN sizes sa ON sa.host = p.host_a
         |JOIN sizes sb ON sb.host = p.host_b""".stripMargin,
    // the oracle walks chains LINEARLY with a recursive CTE (a different
    // algorithm from the engine's pointer doubling); a src is resolved iff
    // its walk reaches a non-source node — cycles exhaust the hop guard
    "web_redirects" ->
      """WITH RECURSIVE
        |nodes AS (SELECT DISTINCT doc_id % 64 AS n FROM documents),
        |r AS (SELECT n AS src, n + 1 AS dst FROM nodes WHERE n % 8 < 3
        |  UNION ALL SELECT n AS src,
        |    CASE WHEN n = 61 THEN 62 WHEN n = 62 THEN 63 ELSE 62 END AS dst
        |  FROM nodes WHERE n IN (61, 62, 63)),
        |walk(src, cur, hops) AS (
        |  SELECT src, dst, CAST(1 AS BIGINT) FROM r
        |  UNION ALL
        |  SELECT w.src, r2.dst, w.hops + 1
        |  FROM walk w JOIN r r2 ON r2.src = w.cur
        |  WHERE w.hops < 70),
        |term AS (SELECT src, cur AS final_dst, hops FROM walk
        |  WHERE cur NOT IN (SELECT src FROM r))
        |SELECT r.src, t.final_dst, t.hops,
        |  CASE WHEN t.src IS NULL THEN 'unresolved'
        |       ELSE 'resolved' END AS status
        |FROM r LEFT JOIN term t ON t.src = r.src""".stripMargin,
    "doc_sentences" ->
      """WITH pu AS (SELECT doc_id,
        |    replace(replace(replace(text, 'table ', 'table. '),
        |      'row ', 'row! '), 'key ', 'key? ') AS text FROM documents),
        |m AS (SELECT doc_id,
        |    regexp_replace(text, '([.!?]) +', '\1' || chr(1), 'g') AS mk
        |  FROM pu),
        |e AS (SELECT doc_id,
        |    CAST(unnest(range(len(string_split(mk, chr(1))))) AS INT)
        |      AS sent_idx,
        |    unnest(string_split(mk, chr(1))) AS sentence FROM m)
        |SELECT doc_id AS doc_key, sent_idx, sentence,
        |  CAST(length(sentence) AS INT) AS n_chars
        |FROM e WHERE length(sentence) > 0""".stripMargin,
    "web_url_latest" ->
      s"""WITH $urlCanonCtes,
         |t AS (SELECT canon_url, doc_id,
         |    1700000000 + (doc_id % 97) * 86400 + doc_id AS fetch_ts FROM c)
         |SELECT canon_url, max(fetch_ts) AS latest_ts,
         |  arg_max(doc_id, fetch_ts) AS latest_doc, count(*) AS n_captures
         |FROM t GROUP BY 1""".stripMargin,
    "web_pagerank" -> pageRankSql(3),
    "web_trustrank" -> trustRankSql(3),
    "web_communities" -> lpaSql(3),
    // unrolled peel rounds with margin over the measured 10-round fixed
    // point — extra rounds are no-ops on a converged core
    "web_kcore" -> kcoreSql(2, 14),
    // co-citation: the outdeg cap excludes the supernode's edges up front,
    // then canonical a < b pair counts over the capped edge list
    "web_cocitation" ->
      """WITH e0 AS (SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 64 AS src, (doc_id * 17 + 29) % 64 AS dst
        |      FROM documents
        |    UNION ALL SELECT doc_id % 64, (doc_id * 29 + 17) % 64 FROM documents
        |    UNION ALL SELECT CAST(0 AS BIGINT), doc_id % 64 FROM documents) u),
        |od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY 1),
        |k AS (SELECT e0.src, e0.dst FROM e0 JOIN od ON od.src = e0.src
        |  WHERE od.outdeg <= 16)
        |SELECT x.dst AS a, y.dst AS b, count(*) AS cocite
        |FROM k x JOIN k y ON y.src = x.src AND x.dst < y.dst
        |GROUP BY 1, 2""".stripMargin,
    // spam mass joins the two independently-unrolled rank chains; the
    // deficit clamps to 0 BEFORE the integral division (non-negative
    // domain, where DuckDB // == Spark div)
    "web_spam_mass" ->
      s"""SELECT p.node, p.rank_scaled, t.trust_scaled,
         |  (greatest(CAST(0 AS BIGINT), p.rank_scaled - t.trust_scaled)
         |    * 1000000) // p.rank_scaled AS spam_mass_ppm
         |FROM (${pageRankSql(3)}) p
         |JOIN (${trustRankSql(3)}) t ON t.node = p.node""".stripMargin,
    // winning robots rule re-picked by join + row_number window (longest
    // prefix, Allow on ties, lexicographic last) vs the engine's fold
    "web_robots_filter" ->
      s"""WITH $urlCanonCtes,
         |hp AS (SELECT doc_id, host,
         |    CASE WHEN path = '' THEN '/' ELSE path END AS path FROM c),
         |r AS (SELECT 'host' || CAST(i % 5 AS VARCHAR) || '.example' ||
         |      CAST(i % 4 AS VARCHAR) || '.com' AS host,
         |      '/Dir' AS prefix, FALSE AS allow FROM range(20) t(i)
         |  UNION ALL
         |  SELECT 'host' || CAST(i % 5 AS VARCHAR) || '.example' ||
         |      CAST(i % 4 AS VARCHAR) || '.com',
         |      '/Dir/p' || CAST(i % 3 AS VARCHAR), TRUE FROM range(20) t(i)),
         |m AS (SELECT hp.doc_id, r.prefix, r.allow,
         |    row_number() OVER (PARTITION BY hp.doc_id
         |      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix)
         |      AS rn
         |  FROM hp JOIN r ON r.host = hp.host
         |    AND starts_with(hp.path, r.prefix)),
         |b AS (SELECT doc_id, prefix, allow FROM m WHERE rn = 1)
         |SELECT hp.doc_id, hp.host, hp.path,
         |  COALESCE(b.allow, TRUE) AS allowed,
         |  COALESCE(b.prefix, '') AS matched_prefix
         |FROM hp LEFT JOIN b ON hp.doc_id = b.doc_id""".stripMargin,
    "web_crawl_schedule" ->
      """WITH f AS (SELECT
        |    'host' || CAST(user_id % 20 AS VARCHAR) || '.example.com' AS host,
        |    user_id % 20 % 5 + 1 AS delay_s, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |g AS (SELECT host, delay_s, ts_us,
        |    ts_us - lag(ts_us) OVER (PARTITION BY host ORDER BY ts_us, event_id)
        |      AS gap_us
        |  FROM f)
        |SELECT host, CAST(delay_s AS BIGINT) AS delay_s,
        |  count(*) AS n_fetches,
        |  CAST(sum(CASE WHEN gap_us < delay_s * 1000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_violations,
        |  CAST(coalesce(min(gap_us), -1) AS BIGINT) AS min_gap_us,
        |  CAST(max(ts_us) AS BIGINT) AS last_fetch_us,
        |  CAST(max(ts_us) + delay_s * 1000000 AS BIGINT) AS next_allowed_us
        |FROM g GROUP BY host, delay_s""".stripMargin,
    // min-hop by recursive path enumeration (bounded by hop < 4) + GROUP BY
    // min — a different algorithm than the engine's layered visited-set BFS
    "web_crawl_frontier" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT DISTINCT doc_id % 97 AS src,
         |    ((doc_id % 97) * 17 + 29 + ((doc_id // 97) % 3)) % 97 AS dst
         |  FROM documents),
         |reach(node, hop) AS (
         |  SELECT CAST(v.node AS BIGINT) AS node, CAST(0 AS INT) AS hop
         |  FROM (VALUES (0), (1), (2)) v(node)
         |  UNION
         |  SELECT e.dst, CAST(r.hop + 1 AS INT)
         |  FROM reach r JOIN e ON e.src = r.node WHERE r.hop < 4)
         |SELECT node, CAST(min(hop) AS INT) AS hop FROM reach GROUP BY node""".stripMargin,
    // bounded weighted-walk enumeration: every walk of <= 4 edges from a
    // seed (hop guard terminates cycles; UNION dedups identical triples),
    // then min cost per node — must equal 4 Bellman-Ford relax rounds
    "web_linkdist" ->
      s"""WITH RECURSIVE e0 AS (
         |  SELECT doc_id % 64 AS src,
         |    ((doc_id % 64) * 17 + 29 + ((doc_id // 64) % 3)) % 64 AS dst,
         |    1 + doc_id % 5 AS w
         |  FROM documents),
         |e AS (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
         |  FROM e0 GROUP BY 1, 2),
         |walk(node, dist, hops) AS (
         |  SELECT CAST(v.node AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist,
         |    0 AS hops
         |  FROM (VALUES (0), (7)) v(node)
         |  UNION
         |  SELECT e.dst, w.dist + e.w, w.hops + 1
         |  FROM walk w JOIN e ON e.src = w.node WHERE w.hops < 4)
         |SELECT node, min(dist) AS dist FROM walk GROUP BY node""".stripMargin,
    // same bit-exact replay; resumed_stages gates that the rerun served
    // every previously-completed block (i0, i1, i2) from checkpoint
    "web_pagerank_resume" ->
      s"""SELECT node, rank_scaled, CAST(3 AS BIGINT) AS resumed_stages
         |FROM (${pageRankSql(3)})""".stripMargin,
    // same bit-exact HITS replay; resumed_stages=3 gates that the rerun
    // served blocks i0..i2 from checkpoint instead of recomputing them
    "web_hits_resume" ->
      s"""SELECT node, auth_scaled, hub_scaled,
         |  CAST(3 AS BIGINT) AS resumed_stages
         |FROM (${hitsSql(3)})""".stripMargin,
    "web_distinct_kmv" ->
      s"""WITH $urlCanonCtes,
         |hh AS (SELECT DISTINCT host, ${sha60Sql("canon_url")} AS h FROM c),
         |rk AS (SELECT host, h,
         |    row_number() OVER (PARTITION BY host ORDER BY h) AS rn FROM hh),
         |agg AS (SELECT host, count(*) AS n_in_k, max(h) AS h_k
         |  FROM rk WHERE rn <= 16 GROUP BY host),
         |ex AS (SELECT host, count(*) AS n_exact FROM hh GROUP BY host)
         |SELECT a.host, CAST(a.n_in_k AS INT) AS kmv_k, a.h_k,
         |  CASE WHEN a.n_in_k < 16 THEN CAST(a.n_in_k AS BIGINT)
         |    ELSE CAST(round((CAST(15 AS DOUBLE)
         |      * CAST(1152921504606846976 AS DOUBLE)) / a.h_k) AS BIGINT) END
         |    AS est_distinct,
         |  e.n_exact
         |FROM agg a JOIN ex e USING (host)""".stripMargin,
    // DuckDB rebuilds every HLL register (sha60 bucket split, rho from the
    // no-leading-zeros bin() length — identical semantics in both engines),
    // accumulates the harmonic denominator as the same EXACT integer, and
    // replays the fixed-order float chain + linear-counting branch
    "web_distinct_hll" ->
      s"""WITH $urlCanonCtes,
         |$HllCtes,
         |ex AS (SELECT host, count(*) AS n_exact FROM hh GROUP BY host)
         |SELECT e.host, e.v_zero, e.reg_sum, $HllEstSql AS est_distinct,
         |  x.n_exact
         |FROM est e JOIN ex x USING (host)""".stripMargin,
    // the streaming-partials sink max-merges to the IDENTICAL registers the
    // batch sketch builds, so the same from-scratch re-derivation oracles
    // both; n_batches pins that the stream really ran in 4 micro-batches
    "web_stream_distinct" ->
      s"""WITH $urlCanonCtes,
         |$HllCtes
         |SELECT host, v_zero, reg_sum, $HllEstSql AS est_distinct,
         |  CAST(4 AS BIGINT) AS n_batches
         |FROM est""".stripMargin,
    // DuckDB replays the scaled-integer centroid (exact floored mean), the
    // exact long dots/norms, and the one fixed-order float chain; the rep
    // pick is re-derived by a DIFFERENT algorithm (row_number window vs the
    // engine's combinable min(struct))
    // Lloyd k-means replay: 3 unrolled rounds + final assignment
    "emb_kmeans" -> kmeansSql(8, 3),
    "emb_pca_power" -> pcaSql(3),
    "emb_whiten" -> whitenSql(3),
    // the +-1 matrix re-derived from each (k, i) sha60 and applied the
    // OPPOSITE way (explode x sign-join x group vs the engine's map-only
    // literal dots) — two algorithms, one exact result
    "emb_srp" ->
      s"""WITH e AS (SELECT vec_id,
         |    CAST(unnest(range(len(embedding))) AS INT) AS pos,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
         |      AS BIGINT) AS x
         |  FROM embeddings),
         |ks AS (SELECT CAST(unnest(range(16)) AS INT) AS k),
         |ds AS (SELECT DISTINCT pos AS i FROM e),
         |signs AS (SELECT ks.k, ds.i, CASE WHEN ${sha60Sql(
            "'srp:' || CAST(ks.k AS VARCHAR) || ':' || CAST(ds.i AS VARCHAR)")}
         |      % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM ks CROSS JOIN ds)
         |SELECT e.vec_id, signs.k,
         |  CAST(sum(e.x * signs.s) AS BIGINT) AS y_scaled
         |FROM e JOIN signs ON signs.i = e.pos GROUP BY 1, 2""".stripMargin,
    "doc_hash_embed" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
         |    x -> length(x) > 0) AS toks FROM documents),
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM tok),
         |h AS (SELECT doc_id, ${sha60Sql("'fh:' || token")} AS h FROM ex),
         |t AS (SELECT doc_id, CAST(h % 32 AS INT) AS k,
         |    CASE WHEN ((h >> 1) & 1) = 0 THEN 1 ELSE -1 END AS s FROM h)
         |SELECT doc_id AS doc_key, k, CAST(sum(s) AS BIGINT) AS weight
         |FROM t GROUP BY 1, 2""".stripMargin,
    // cluster-balanced sampling: the kmeans replay + the same sha60
    // priority and per-cluster rank rule
    "emb_cluster_sample" ->
      s"""WITH km AS (${kmeansSql(8, 3)}),
         |p AS (SELECT vec_id, cluster,
         |    ${sha60Sql("CAST(vec_id AS VARCHAR)")} AS prio FROM km),
         |r AS (SELECT vec_id, cluster, prio,
         |    CAST(row_number() OVER (PARTITION BY cluster
         |      ORDER BY prio DESC, vec_id) AS INT) AS strat_rank FROM p)
         |SELECT vec_id, cluster, prio, strat_rank FROM r
         |WHERE strat_rank <= 16""".stripMargin,
    // same bit-exact replay; resumed_stages=3 gates that the rerun served
    // blocks i0..i2 from checkpoint instead of recomputing them
    "emb_kmeans_resume" ->
      s"""SELECT vec_id, cluster, dist_scaled,
         |  CAST(3 AS BIGINT) AS resumed_stages
         |FROM (${kmeansSql(8, 3)})""".stripMargin,
    "emb_semantic_rep" ->
      """WITH ex AS (SELECT vec_id AS id, label AS lab,
        |    CAST(unnest(range(len(embedding))) AS INT) AS pos,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS s
        |  FROM embeddings),
        |cent AS (SELECT lab, pos, CAST(sum(s) AS BIGINT) AS ss,
        |    count(*) AS n FROM ex GROUP BY 1, 2),
        |c2 AS (SELECT lab, pos,
        |    (ss - ((ss % n + n) % n)) // n AS cs FROM cent),
        |j AS (SELECT ex.lab, ex.id,
        |    CAST(sum(ex.s * c2.cs) AS BIGINT) AS dot,
        |    CAST(sum(ex.s * ex.s) AS BIGINT) AS na,
        |    CAST(sum(c2.cs * c2.cs) AS BIGINT) AS nc
        |  FROM ex JOIN c2 ON c2.lab = ex.lab AND c2.pos = ex.pos
        |  GROUP BY 1, 2),
        |cs AS (SELECT lab, id,
        |    CASE WHEN na = 0 OR nc = 0 THEN CAST(-2.0 AS DOUBLE)
        |      ELSE round(CAST(dot AS DOUBLE)
        |        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))), 6)
        |      END AS cos6 FROM j),
        |r AS (SELECT lab, id, cos6, row_number() OVER (
        |    PARTITION BY lab ORDER BY cos6 DESC, id) AS rn FROM cs),
        |g AS (SELECT lab, count(*) AS n_members,
        |    CAST(sum(CASE WHEN cos6 >= CAST(0.8 AS DOUBLE) THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_close FROM cs GROUP BY 1)
        |SELECT g.lab AS label, g.n_members, r.id AS rep_id,
        |  r.cos6 AS rep_cos6, g.n_close
        |FROM g JOIN r ON r.lab = g.lab AND r.rn = 1""".stripMargin,
    "web_hits" -> hitsSql(3),
    // the top anchor is re-derived by a DIFFERENT algorithm (row_number
    // window) than the engine's combinable min(struct(-n, anchor))
    "web_anchor_stats" ->
      s"""WITH $urlCanonCtes,
         |l AS (SELECT (doc_id * 31) % 40 AS dst,
         |    'a' || CAST(doc_id % 7 AS VARCHAR) AS anchor,
         |    host AS src_host FROM c),
         |pa AS (SELECT dst, anchor, count(*) AS n FROM l GROUP BY 1, 2),
         |r AS (SELECT dst, CAST(sum(n) AS BIGINT) AS n_inlinks,
         |    count(*) AS n_anchors,
         |    string_agg(anchor, '|' ORDER BY anchor) AS anchors_cat
         |  FROM pa GROUP BY 1),
         |t AS (SELECT dst, anchor, n, row_number() OVER (
         |    PARTITION BY dst ORDER BY n DESC, anchor) AS rn FROM pa),
         |h AS (SELECT dst, count(DISTINCT src_host) AS n_src_hosts FROM l
         |  GROUP BY 1)
         |SELECT r.dst, r.n_inlinks, h.n_src_hosts, r.n_anchors,
         |  t.anchor AS top_anchor, t.n AS top_anchor_n, r.anchors_cat
         |FROM r JOIN h USING (dst) JOIN t ON t.dst = r.dst AND t.rn = 1""".stripMargin,
    "geo_tile_pyramid" ->
      """WITH pts AS (SELECT
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
        |FROM a GROUP BY 1, 2, 3""".stripMargin,
    // integer binomial kernel replayed as an explicit stencil cross join;
    // integer weights make the sum order-insensitive across engines
    "geo_heatmap" ->
      """WITH pts AS (SELECT
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
        |FROM e GROUP BY 1, 2""".stripMargin,
    // marching squares replayed from scratch: the heatmap chain, the mean
    // threshold, corner-bit contributions to the four touching blocks, the
    // 4-bit case index, and the fixed 16-case segment table (saddles 5/10
    // emit the standard pair) — exact integer half-unit endpoints
    "geo_contours" ->
      """WITH pts AS (SELECT
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
        |WHERE cs.case_idx < 15""".stripMargin,
    "geo_zorder" ->
      s"""WITH $clusteredTilesCte
        |SELECT o_orderkey, tile_x, tile_y,
        |  ${mortonSql("tile_x", "tile_y", 10)} AS z
        |FROM ctiles""".stripMargin,
    // the oracle is the PLAIN bbox predicate — the engine's z-range-pruned
    // scan must return exactly the same rows or pruning dropped/added one
    "geo_zscan" ->
      s"""WITH $clusteredTilesCte
        |SELECT o_orderkey, tile_x, tile_y,
        |  ${mortonSql("tile_x", "tile_y", 10)} AS z
        |FROM ctiles
        |WHERE tile_x BETWEEN 415 AND 432 AND tile_y BETWEEN 390 AND 402""".stripMargin,
    // grid-DBSCAN replayed: dense grid -> 8-neighbor adjacency (x wraps mod
    // 1024) -> recursive-CTE reachability seeded from EVERY dense cell (so
    // singletons label themselves), component id = min tile key
    "geo_hotspots" ->
      s"""WITH RECURSIVE $clusteredTilesCte,
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
        |FROM dense d JOIN cc c USING (key) JOIN stats s USING (cluster_id)""".stripMargin,
    "geo_polygon_stats" ->
      s"""WITH polys AS (SELECT * FROM read_parquet('$OracleDir/polys/*.parquet')),
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
         |FROM f""".stripMargin,
    "geo_polygon_perimeter" ->
      s"""WITH polys AS (SELECT * FROM read_parquet('$OracleDir/polys/*.parquet')),
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
         |FROM f""".stripMargin,
    "geo_geohash" -> geohashSql,
    "geo_mgrs" ->
      s"""WITH pts AS (SELECT o_orderkey,
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
         |FROM m""".stripMargin,
    "geo_qibla_maidenhead" ->
      """WITH pts AS (SELECT o_orderkey,
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
        |FROM q3""".stripMargin,
    "geo_sun" ->
      s"""WITH pts AS (SELECT o_orderkey,
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
         |FROM s GROUP BY 1, 2, 3, 4""".stripMargin,
    // id-ordered 3-way self-join (a < b < c) — a DIFFERENT triangle
    // algorithm than the engine's degree-ordered wedge enumeration; exact
    // integer contract so they must agree bit-for-bit
    "web_triangles" ->
      s"""WITH $triEdgeCte,
         |$triDegCte,
         |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM raw e1 JOIN raw e2 ON e2.u = e1.v
         |  JOIN raw e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tc AS (SELECT node, count(*) AS t FROM (
         |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) GROUP BY node)
         |SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
         |  CAST(COALESCE(tc.t, 0) AS BIGINT) AS triangles,
         |  CASE WHEN d.degree > 1
         |    THEN (2 * CAST(COALESCE(tc.t, 0) AS BIGINT) * 1000000)
         |      // (CAST(d.degree AS BIGINT) * (CAST(d.degree AS BIGINT) - 1))
         |    ELSE CAST(0 AS BIGINT) END AS clustering_ppm
         |FROM deg d LEFT JOIN tc ON tc.node = d.node""".stripMargin,
    "web_degree_hist" ->
      s"""WITH $triEdgeCte,
         |$triDegCte,
         |tot AS (SELECT count(*) AS n_total FROM deg)
         |SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(min(degree) AS BIGINT) AS min_degree,
         |  CAST(max(degree) AS BIGINT) AS max_degree,
         |  (CAST(count(*) AS BIGINT) * 1000000)
         |    // (SELECT CAST(n_total AS BIGINT) FROM tot) AS share_ppm
         |FROM deg GROUP BY 1""".stripMargin,
    // identical IEEE trig chain (the knn-oracle haversine precedent):
    // bearing = atan2(sin dλ cos φ2, cos φ1 sin φ2 − sin φ1 cos φ2 cos dλ)
    // normalized via the same fmod round-trip, cross-track through the
    // bearing in RADIANS after that normalization — integral contract
    // columns (micro-degrees, millimeters)
    "geo_track" ->
      s"""WITH p AS (SELECT o_orderkey AS place_id,
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
         |FROM b""".stripMargin,
    // the engine's 38-class chains replayed class by class in the same
    // order: replace() length-diff counts, all-integer Gini, the
    // fixed-order entropy sum — generated from the SAME alphabet constant
    "doc_char_dist" -> charDistSql,
    // the Gopher rule chain replayed verbatim: same derived corpus, same
    // one-split tokenizations, length-diff symbol counts, 6dp-rounded
    // ratios BEFORE the rule comparisons, distinct-stopword intersect
    "doc_gopher_rules" ->
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 0 THEN text || ' # # # # # # # # # # # #'
         |      WHEN doc_id % 11 = 0
         |        THEN '- ' || replace(text, ' value ', chr(10) || '- value ')
         |      WHEN doc_id % 13 = 0
         |        THEN text || '...' || chr(10) || 'to be continued...'
         |      WHEN doc_id % 2 = 0 THEN text ||
         |        ' the deal is that we have to be of one mind and go with it'
         |      ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, text,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      x -> length(x) > 0) AS ws,
         |    list_filter(string_split(text, chr(10)),
         |      l -> length(trim(l)) > 0) AS ls,
         |    list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
         |      x -> length(x) > 0) AS toks
         |  FROM base),
         |m AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(greatest(len(ls), 1) AS BIGINT) AS n_lines,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
         |      AS word_chars,
         |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
         |      AS n_hash,
         |    CAST((length(text) - length(replace(text, '...', ''))) / 3
         |      AS BIGINT) AS n_dots,
         |    CAST(length(text) - length(replace(text, '…', '')) AS BIGINT)
         |      AS n_ell,
         |    CAST(len(list_filter(ls,
         |      l -> substr(trim(l), 1, 1) IN ('-', '*', '•'))) AS BIGINT)
         |      AS n_bullet,
         |    CAST(len(list_filter(ls, l -> ends_with(trim(l), '...')
         |      OR ends_with(trim(l), '…'))) AS BIGINT) AS n_ellend,
         |    CAST(len(list_filter(ws, w -> regexp_matches(w, '\\p{L}')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(list_intersect(list_distinct(toks),
         |      ['the','be','to','of','and','that','have','with'])) AS BIGINT)
         |      AS n_req_stopwords
         |  FROM t),
         |r AS (SELECT doc_id, n_words,
         |    round(CAST(word_chars AS DOUBLE)
         |      / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS mean_word_len,
         |    round(CAST(n_hash + n_dots + n_ell AS DOUBLE)
         |      / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS symbol_ratio,
         |    round(CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         |      AS bullet_ratio,
         |    round(CAST(n_ellend AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
         |      AS ellipsis_ratio,
         |    round(CAST(n_alpha AS DOUBLE)
         |      / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS alpha_ratio,
         |    n_req_stopwords
         |  FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         |  ellipsis_ratio, alpha_ratio, n_req_stopwords,
         |  (n_words BETWEEN 50 AND 100000
         |   AND mean_word_len BETWEEN CAST(3.0 AS DOUBLE)
         |     AND CAST(10.0 AS DOUBLE)
         |   AND symbol_ratio <= CAST(0.1 AS DOUBLE)
         |   AND bullet_ratio <= CAST(0.9 AS DOUBLE)
         |   AND ellipsis_ratio <= CAST(0.3 AS DOUBLE)
         |   AND alpha_ratio >= CAST(0.8 AS DOUBLE)
         |   AND n_req_stopwords >= 2) AS gopher_keep
         |FROM r""".stripMargin,
    // whole-stream Count-Min re-derivation over the host stream: because
    // the per-batch partials merge by cell SUM, merge(partials) ==
    // sketch(whole stream) cell-for-cell — a hash match here proves the
    // streaming maintenance path; batch count pinned by the 4-file input
    "web_stream_heavy" ->
      s"""WITH $urlCanonCtes,
         |top AS (SELECT host, count(*) AS n_true FROM c GROUP BY 1
         |  ORDER BY n_true DESC, host LIMIT 15),
         |cells AS (SELECT host, unnest(range($CmDepth)) AS r FROM c),
         |sk AS (SELECT r,
         |    ${sha60Sql("'cm:' || CAST(r AS VARCHAR) || ':' || host")} % $CmWidth AS cc,
         |    count(*) AS cm_cnt FROM cells GROUP BY 1, 2),
         |tc AS (SELECT host, n_true, unnest(range($CmDepth)) AS r FROM top),
         |tcell AS (SELECT host, n_true, r,
         |    ${sha60Sql("'cm:' || CAST(r AS VARCHAR) || ':' || host")} % $CmWidth AS cc
         |  FROM tc)
         |SELECT t.host, t.n_true,
         |  min(coalesce(sk.cm_cnt, CAST(0 AS BIGINT))) AS cm_est,
         |  CAST(4 AS BIGINT) AS n_batches
         |FROM tcell t LEFT JOIN sk ON sk.r = t.r AND sk.cc = t.cc
         |GROUP BY 1, 2""".stripMargin
  )
  // Remaining oracle-less queries (rows-only): the non-ANSI sketches
  // (minhash/simhash/xxhash64 signatures, LSH ANN, the multimodal feature
  // stub), the fixture-gazetteer verbs geo_knn / geo_reverse_geoadmin, the
  // full LSH->verify chain doc_ngram_lsh_verified, and ops_lineage (engine-
  // internal resume state). Each HAS an oracle-backed twin exercising the
  // same operator: geo_knn_oracle (knnComplete ring expansion vs SQL
  // haversine), geo_reverse_bbox (cell-join + ray-cast), sim_band_join (LSH
  // band candidate plan), doc_ngram_jaccard (the exact verify stage),
  // emb_knn_brute (exact cosine top-k). The flagship pipeline itself
  // (geo_forward_pages / geo_reverse_points / geo_pipeline_tiles /
  // mm_binary_meta) is oracle-backed END TO END over materialized inputs.
  // All stay deterministic.
}
