package graft.contract

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.contract.ContractFixtures._
import graft.dedup.Dedup
import graft.engine._

/** Web contract queries (`web_*`): link extraction, URL canonicalization,
  * link-graph ranking and community operators, crawl scheduling and the
  * streaming sketches, each next to its DuckDB oracle. */
private[contract] object WebQueries {

  /** Bloom filter dimensions for the blocklist contract row: 3 hashes over
    * 1024 bits — small enough for DuckDB to rebuild every set bit, sized so
    * a ~1% false-positive tail is actually exercised. */
  private val BloomK = 3

  private val BloomM = 1024

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

  /** Dense deterministic triangle-graph edges (canonical undirected) +
    * degree CTE, shared by the web_triangles / web_degree_hist oracles. */
  private val triEdgeCte: String =
    """raw AS (SELECT DISTINCT least(doc_id % 48, (doc_id // 48) % 48) AS u,
      |    greatest(doc_id % 48, (doc_id // 48) % 48) AS v
      |  FROM documents WHERE doc_id % 48 <> (doc_id // 48) % 48)""".stripMargin

  private val triDegCte: String =
    """deg AS (SELECT node, count(*) AS degree FROM (
      |    SELECT u AS node FROM raw UNION ALL SELECT v FROM raw) GROUP BY node)""".stripMargin

  val all: Seq[Query] = Seq(
    // Bloom-filter blocklist membership: the filter is <= m rows no matter
    // how large the blocklist, broadcast to the probe — candidates never
    // shuffle; misses exact, false positives bounded and audited here
    // HTML -> text extraction over the input_hint html:binary shape: the
    // crawl-pipeline step that DERIVES the text column. Deterministic html
    // synthesized from the documents table in BOTH engines (script/style/
    // comment blocks, mixed-case tags, the &amp;lt; double-decode trap);
    // DuckDB replays the identical fixed rule chain byte-for-byte.
    Query("web_html_extract", (s, dir) => {
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
    },
      Sql("""WITH h AS (SELECT doc_id,
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
        |FROM f""".stripMargin)),
    // HTML outlink extraction + RFC 3986 resolution — the pages -> edges
    // feeder of the link graph. Extraction is Spark's NATIVE codegen
    // regexp_extract_all (no custom expression); only dot-segment
    // resolution is a shim (Links.resolveUrl). One href of every form per
    // doc: absolute, protocol-relative, root-relative, dot-relative,
    // plain relative + query, fragment-only.
    Query("web_extract_links", (s, dir) => {
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
    },
      // the oracle re-extracts with its own regex engine (RE2) and resolves
      // each href form by an explicit CASE + a single dot-segment collapse —
      // a different resolution algorithm that must agree on every form
      Sql("""WITH d AS (SELECT doc_id,
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
        |FROM o""".stripMargin)),
    // rel=canonical collapse — the URL-level dedup signal pages declare
    // about THEMSELVES: extract the canonical link (absent on some docs ->
    // self-canonical), resolve it, and group docs under their canonical
    // target with a deterministic representative (min doc_id)
    Query("web_rel_canonical", (s, dir) => {
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
    },
      // oracle recomputes the canonical target straight from the generator
      // CASE (no-tag -> self, absolute, root-relative resolved) and replays
      // the grouping — the engine must get there via regexp + resolveUrl
      Sql("""WITH d AS (SELECT doc_id,
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
        |FROM c""".stripMargin)),
    Query("web_bloom", (s, dir) => {
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
    },
      // DuckDB rebuilds every set Bloom bit from the blocklist and replays
      // every membership verdict (incl. the false-positive tail) bit-for-bit
      Sql(s"""WITH $urlCanonCtes,
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
         |FROM hit h LEFT JOIN block bl USING (canon_url)""".stripMargin)),
    // corpus-overlap scalar between the base crawl and the deterministic
    // next snapshot from ONE shared KMV sketch (Broder resemblance): the k
    // smallest union hashes are a uniform union sample, the both-sides
    // fraction estimates J(A,B) — all integer-derived, replayed exactly
    Query("web_snapshot_overlap", (s, dir) =>
      graft.sketch.Kmv.kmvJaccard(docs(s, dir), newSnapshot(s, dir),
        col("text"), k = 256),
      // shared-KMV resemblance: union k-minima flagged by side membership
      Sql(s"""WITH nd AS (
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
         |FROM fl""".stripMargin)),
    // canonical-URL projection over the planted messy-URL corpus — host/
    // domain/reverse-host/path-depth all map-only codegen'd expressions
    Query("web_url_canon", (s, dir) => {
      val u = docsWithUrls(s, dir)
      val host = graft.etl.UrlOps.urlHost(col("url"))
      u.select(col("doc_id"), col("url"),
        graft.etl.UrlOps.canonicalUrl(col("url")).as("canon_url"),
        host.as("url_host"),
        graft.etl.UrlOps.registeredDomain(host).as("url_domain"),
        graft.etl.UrlOps.reverseHost(host).as("rev_host"),
        graft.etl.UrlOps.pathDepth(graft.etl.UrlOps.urlPath(col("url")))
          .as("path_depth"))
    },
      Sql(s"""WITH $urlCanonCtes
         |SELECT doc_id, url, canon_url, host AS url_host,
         |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS url_domain,
         |  array_to_string(list_reverse(string_split(host, '.')), '.')
         |    AS rev_host,
         |  CAST(len(list_filter(string_split(path, '/'), x -> x <> ''))
         |    AS INT) AS path_depth
         |FROM c""".stripMargin)),
    // URL-level exact dedup: raw spelling variants (case/www/port/fragment/
    // tracking-param noise) collapse onto one canonical winner
    Query("web_url_dedup", (s, dir) =>
      graft.etl.UrlOps.dedupByCanonical(docsWithUrls(s, dir), col("url"),
        col("doc_id")),
      Sql(s"""WITH $urlCanonCtes
         |SELECT canon_url, min(doc_id) AS winner, count(*) AS n_copies,
         |  count(DISTINCT url) AS n_raw_variants
         |FROM c GROUP BY 1""".stripMargin)),
    // per-registered-domain crawl stats (pages / canonical urls / hosts)
    Query("web_host_stats", (s, dir) =>
      graft.etl.UrlOps.hostStats(docsWithUrls(s, dir), col("url")),
      Sql(s"""WITH $urlCanonCtes
         |SELECT regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
         |  count(*) AS n_pages, count(DISTINCT canon_url) AS n_canon_urls,
         |  count(DISTINCT host) AS n_hosts
         |FROM c GROUP BY 1""".stripMargin)),
    // page-graph -> host-graph rollup (the input to host-level centrality
    // and crawl-budget allocation): two page-id hash joins + ONE host-pair
    // aggregation; dst stays inside the 64-page block so every edge keys a
    // real page in both engines
    Query("web_hostgraph", (s, dir) => {
      val pages = docsWithUrls(s, dir).select(col("doc_id").as("page_id"),
        graft.etl.UrlOps.urlHost(col("url")).as("host"))
      val edges = docs(s, dir).select(col("doc_id").as("src"),
        ((col("doc_id") - pmod(col("doc_id"), lit(64L))) +
          pmod(col("doc_id") * 17 + 29, lit(64L))).as("dst"))
      graft.web.LinkGraph.hostGraph(edges, pages)
    },
      Sql(s"""WITH $urlCanonCtes,
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
         |FROM j GROUP BY 1, 2""".stripMargin)),
    // mirror-host detection: hosts pairing through shared content digests
    // (2/3 of docs share block content, 1/3 unique so Jaccard < 1);
    // ubiquitous digests excluded up front by the per-digest host cap
    Query("web_mirrors", (s, dir) => {
      val d = col("doc_id")
      val hosts = docsWithUrls(s, dir).select(
        graft.etl.UrlOps.urlHost(col("url")).as("host"),
        sha2(when(pmod(d, lit(3L)) === 0,
            concat(lit("u"), d.cast("string")))
          .otherwise(concat(lit("c"), pmod(d, lit(50L)).cast("string"))), 256)
          .as("digest"))
      graft.web.Mirrors.mirrorPairs(hosts, col("host"), col("digest"),
        minShared = 2, maxHostsPerDigest = 16)
    },
      Sql(s"""WITH $urlCanonCtes,
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
         |JOIN sizes sb ON sb.host = p.host_b""".stripMargin)),
    // redirect-chain resolution by pointer doubling (log L rounds, not L):
    // deterministic chains 8k+0->1->2->3 plus a seeded 62<->63 cycle and a
    // 61->cycle feeder; cycles surface as status=unresolved with NULLs,
    // never a silently bouncing target
    Query("web_redirects", (s, dir) => {
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
    },
      // the oracle walks chains LINEARLY with a recursive CTE (a different
      // algorithm from the engine's pointer doubling); a src is resolved iff
      // its walk reaches a non-source node — cycles exhaust the hop guard
      Sql("""WITH RECURSIVE
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
        |FROM r LEFT JOIN term t ON t.src = r.src""".stripMargin)),
    // recrawl snapshot selection: latest capture per canonical URL, winner
    // via a combinable max(struct(ts, key)) — deterministic under ties
    Query("web_url_latest", (s, dir) =>
      graft.etl.UrlOps.latestByCanonical(
        docsWithUrls(s, dir).withColumn("fetch_ts",
          lit(1700000000L) + pmod(col("doc_id"), lit(97L)) * lit(86400L)
            + col("doc_id")),
        col("url"), col("doc_id"), col("fetch_ts")),
      Sql(s"""WITH $urlCanonCtes,
         |t AS (SELECT canon_url, doc_id,
         |    1700000000 + (doc_id % 97) * 86400 + doc_id AS fetch_ts FROM c)
         |SELECT canon_url, max(fetch_ts) AS latest_ts,
         |  arg_max(doc_id, fetch_ts) AS latest_doc, count(*) AS n_captures
         |FROM t GROUP BY 1""".stripMargin)),
    // link-graph centrality: 3 synchronous PageRank iterations over a
    // deterministic doc-derived edge list, in FIXED-POINT arithmetic
    // (scaled longs + explicit integral division) so the distributed sum is
    // order-insensitive and the oracle replays every iteration bit-exactly
    // — the link-based quality signal of a crawl corpus
    Query("web_pagerank", (s, dir) =>
      graft.web.LinkGraph.pageRank(
        docs(s, dir).select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst")),
        iters = 3),
      Sql(pageRankSql(3))),
    // deterministic synchronous label-propagation communities (LPA with
    // ties to the smallest label — bit-reproducible, unlike classic
    // random-tie LPA): 3 rounds over the undirected doc graph; per round
    // one edge-label equi-join + two combinable aggs (count, then the
    // min(struct(-n, label)) argmax — no window, no sort)
    Query("web_communities", (s, dir) =>
      graft.web.LinkGraph.labelPropagation(
        docs(s, dir).select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst")),
        iters = 3),
      Sql(lpaSql(3))),
    // co-citation similarity ("linked from the same page") over a 2-out
    // edge set plus a 64-out directory supernode that the maxOutdeg cap
    // EXCLUDES (the d^2 pair fan-out containment) — the oracle replays the
    // cap and the canonical a < b pair counts
    Query("web_cocitation", (s, dir) => {
      val d = docs(s, dir)
      val e = d.select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst"))
        .unionByName(d.select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 29 + 17) % 64).as("dst")))
        .unionByName(d.select(lit(0L).as("src"), (col("doc_id") % 64).as("dst")))
      graft.web.LinkGraph.coCitation(e, maxOutdeg = 16)
    },
      // co-citation: the outdeg cap excludes the supernode's edges up front,
      // then canonical a < b pair counts over the capped edge list
      Sql("""WITH e0 AS (SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 64 AS src, (doc_id * 17 + 29) % 64 AS dst
        |      FROM documents
        |    UNION ALL SELECT doc_id % 64, (doc_id * 29 + 17) % 64 FROM documents
        |    UNION ALL SELECT CAST(0 AS BIGINT), doc_id % 64 FROM documents) u),
        |od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY 1),
        |k AS (SELECT e0.src, e0.dst FROM e0 JOIN od ON od.src = e0.src
        |  WHERE od.outdeg <= 16)
        |SELECT x.dst AS a, y.dst AS b, count(*) AS cocite
        |FROM k x JOIN k y ON y.src = x.src AND x.dst < y.dst
        |GROUP BY 1, 2""".stripMargin)),
    // TrustRank (the web-spam demotion signal): the same fixed-point
    // PageRank chain with teleport restricted to a trusted seed set (the
    // v % 8 = 0 nodes of the 64-node doc-derived graph) — every iteration
    // replayed bit-exactly by the oracle; seed-unreachable link farms get
    // exactly zero trust
    Query("web_trustrank", (s, dir) =>
      graft.web.LinkGraph.trustRank(
        docs(s, dir).select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst")),
        s.range(0, 64, 8).toDF("node"), iters = 3),
      Sql(trustRankSql(3))),
    // relative spam mass = (pagerank - trust) / pagerank in ppm fixed
    // point, clamped BEFORE the integral division so both engines stay on
    // the non-negative domain where div and // agree — the TrustRank
    // paper's detection metric, joining the two rank vectors
    Query("web_spam_mass", (s, dir) => {
      val edges = docs(s, dir).select((col("doc_id") % 64).as("src"),
        ((col("doc_id") * 17 + 29) % 64).as("dst"))
      graft.web.LinkGraph.spamMass(
        graft.web.LinkGraph.pageRank(edges, iters = 3),
        graft.web.LinkGraph.trustRank(edges,
          s.range(0, 64, 8).toDF("node"), iters = 3))
    },
      // spam mass joins the two independently-unrolled rank chains; the
      // deficit clamps to 0 BEFORE the integral division (non-negative
      // domain, where DuckDB // == Spark div)
      Sql(s"""SELECT p.node, p.rank_scaled, t.trust_scaled,
         |  (greatest(CAST(0 AS BIGINT), p.rank_scaled - t.trust_scaled)
         |    * 1000000) // p.rank_scaled AS spam_mass_ppm
         |FROM (${pageRankSql(3)}) p
         |JOIN (${trustRankSql(3)}) t ON t.node = p.node""".stripMargin)),
    // checkpoint-resumed PageRank (E10 x iterative ops): a cold run killed
    // after iteration 2 leaves blocks i0..i2 on disk; the rerun serves all
    // three from checkpoint (lineage resumed=true) and computes only i3.
    // The oracle gates BOTH facts: the final ranks are the bit-exact DuckDB
    // replay (same fixed-point chain as web_pagerank) AND resumed_stages=3
    // (recomputing any block would make it fewer)
    Query("web_pagerank_resume", (s, dir) => {
      val edges = docs(s, dir).select((col("doc_id") % 64).as("src"),
        ((col("doc_id") * 17 + 29) % 64).as("dst"))
      val fp = s"docs|$dir"
      coldThenResume(s, "ckpt_pagerank", coldRounds = 2, rounds = 3)((ck, iters) =>
        graft.web.LinkGraph.pageRankResumable(s, edges, iters, ck, fp))
    },
      // same bit-exact replay; resumed_stages gates that the rerun served
      // every previously-completed block (i0, i1, i2) from checkpoint
      Sql(s"""SELECT node, rank_scaled, CAST(3 AS BIGINT) AS resumed_stages
         |FROM (${pageRankSql(3)})""".stripMargin)),
    // checkpoint-resumed HITS (the second value-propagation shape): kill
    // after iteration 2, rerun serves blocks i0..i2 from checkpoint
    // (resumed_stages=3 gated by the oracle) and computes only i3; final
    // hub/authority vectors are the bit-exact DuckDB replay of web_hits
    Query("web_hits_resume", (s, dir) => {
      val edges = docs(s, dir).select((col("doc_id") % 64).as("src"),
        ((col("doc_id") * 17 + 29) % 64).as("dst"))
      val fp = s"docs|$dir"
      coldThenResume(s, "ckpt_hits", coldRounds = 2, rounds = 3)((ck, iters) =>
        graft.web.LinkGraph.hitsResumable(s, edges, iters, ck, fp))
    },
      // same bit-exact HITS replay; resumed_stages=3 gates that the rerun
      // served blocks i0..i2 from checkpoint instead of recomputing them
      Sql(s"""SELECT node, auth_scaled, hub_scaled,
         |  CAST(3 AS BIGINT) AS resumed_stages
         |FROM (${hitsSql(3)})""".stripMargin)),
    // crawl-frontier expansion: layered BFS from a 3-node seed list over a
    // deterministic out-degree-≤3 doc-derived link graph, min-hop labels,
    // budget 4 rounds. Third iterative-graph shape (reachability) next to
    // PageRank (value propagation) and CC (label convergence); the oracle
    // re-derives min-hop by a DIFFERENT algorithm — recursive path
    // enumeration + GROUP BY min — vs the engine's layered visited-set BFS
    Query("web_crawl_frontier", (s, dir) => {
      val edges = docs(s, dir).selectExpr(
        "pmod(doc_id, 97) AS src",
        "pmod(pmod(doc_id, 97) * 17 + 29 + pmod(doc_id div 97, 3), 97) AS dst")
      val seeds = s.range(3).select(col("id").as("node"))
      graft.web.LinkGraph.crawlFrontier(edges, seeds, maxHops = 4)
    },
      // min-hop by recursive path enumeration (bounded by hop < 4) + GROUP BY
      // min — a different algorithm than the engine's layered visited-set BFS
      Sql(s"""WITH RECURSIVE e AS (
         |  SELECT DISTINCT doc_id % 97 AS src,
         |    ((doc_id % 97) * 17 + 29 + ((doc_id // 97) % 3)) % 97 AS dst
         |  FROM documents),
         |reach(node, hop) AS (
         |  SELECT CAST(v.node AS BIGINT) AS node, CAST(0 AS INT) AS hop
         |  FROM (VALUES (0), (1), (2)) v(node)
         |  UNION
         |  SELECT e.dst, CAST(r.hop + 1 AS INT)
         |  FROM reach r JOIN e ON e.src = r.node WHERE r.hop < 4)
         |SELECT node, CAST(min(hop) AS INT) AS hop FROM reach GROUP BY node""".stripMargin)),
    // cost-weighted link distance (Bellman-Ford, 4 relax rounds = exact
    // min-cost over walks of <= 4 edges): the weighted sibling of the
    // frontier BFS; the oracle enumerates bounded weighted walks via a
    // recursive CTE — a different algorithm that must agree on every node
    Query("web_linkdist", (s, dir) => {
      val edges = docs(s, dir).selectExpr(
        "pmod(doc_id, 64) AS src",
        "pmod(pmod(doc_id, 64) * 17 + 29 + pmod(doc_id div 64, 3), 64) AS dst",
        "1 + pmod(doc_id, 5) AS w")
      val seeds = s.range(8).select(col("id").as("node"))
        .filter(col("node").isin(0L, 7L))
      graft.web.LinkGraph.linkDistance(edges, seeds, maxRounds = 4)
    },
      // bounded weighted-walk enumeration: every walk of <= 4 edges from a
      // seed (hop guard terminates cycles; UNION dedups identical triples),
      // then min cost per node — must equal 4 Bellman-Ford relax rounds
      Sql(s"""WITH RECURSIVE e0 AS (
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
         |SELECT node, min(dist) AS dist FROM walk GROUP BY node""".stripMargin)),
    // robots-exclusion politeness gate (RFC 9309 longest-match, Allow wins
    // ties): per-host rule arrays broadcast, URL side map-only — one
    // BroadcastHashJoin + codegen fold. Deterministic rules: every host
    // disallows /Dir but re-allows exactly one /Dir/p<k>. The oracle picks
    // the winning rule by a DIFFERENT algorithm (join + row_number window
    // ordered len DESC, allow DESC vs the engine's per-row fold)
    // per-host politeness scheduler over the events table as a fetch log:
    // lag-window inter-fetch gaps vs a deterministic per-host crawl delay;
    // one host-keyed exchange feeds both the window and the aggregate
    Query("web_crawl_schedule", (s, dir) => {
      val hostNum = pmod(col("user_id"), lit(20L))
      graft.web.CrawlSchedule.schedule(
        s.read.parquet(s"$dir/events.parquet"),
        concat(lit("host"), hostNum.cast("string"), lit(".example.com")),
        unix_micros(col("ts").cast("timestamp")),
        col("event_id"),
        hostNum % 5 + 1)
    },
      Sql("""WITH f AS (SELECT
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
        |FROM g GROUP BY host, delay_s""".stripMargin)),
    Query("web_robots_filter", (s, dir) => {
      val rules = s.range(20).selectExpr(
          "concat('host', id % 5, '.example', id % 4, '.com') AS host",
          "'/Dir' AS prefix", "false AS allow")
        .unionByName(s.range(20).selectExpr(
          "concat('host', id % 5, '.example', id % 4, '.com') AS host",
          "concat('/Dir/p', id % 3) AS prefix", "true AS allow"))
      graft.web.Robots.robotsFilter(docsWithUrls(s, dir), col("url"), rules)
        .drop("url")
    },
      // winning robots rule re-picked by join + row_number window (longest
      // prefix, Allow on ties, lexicographic last) vs the engine's fold
      Sql(s"""WITH $urlCanonCtes,
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
         |FROM hp LEFT JOIN b ON hp.doc_id = b.doc_id""".stripMargin)),
    // KMV distinct-count sketch per host over canonical URLs: the portable
    // (sha60) cardinality estimator whose k-th-minimum state and rounded
    // estimate the oracle recomputes exactly; n_exact rides along so the
    // sketch error is inspectable in-result
    Query("web_distinct_kmv", (s, dir) => {
      val u = docsWithUrls(s, dir)
      graft.sketch.Kmv.kmvDistinct(u,
          graft.etl.UrlOps.urlHost(col("url")),
          graft.etl.UrlOps.canonicalUrl(col("url")), k = 16)
        .withColumnRenamed("key", "host")
    },
      Sql(s"""WITH $urlCanonCtes,
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
         |FROM agg a JOIN ex e USING (host)""".stripMargin)),
    // HLL cardinality sketch per host: the register-mergeable sibling of
    // the KMV row — DuckDB rebuilds every register (bucket split, rho via
    // bin() length) and replays the exact-integer harmonic sum plus the
    // linear-counting branch bit-for-bit; n_exact rides along
    Query("web_distinct_hll", (s, dir) => {
      val u = docsWithUrls(s, dir)
      graft.sketch.Hll.hllDistinct(u,
          graft.etl.UrlOps.urlHost(col("url")),
          graft.etl.UrlOps.canonicalUrl(col("url")))
        .withColumnRenamed("key", "host")
    },
      // DuckDB rebuilds every HLL register (sha60 bucket split, rho from the
      // no-leading-zeros bin() length — identical semantics in both engines),
      // accumulates the harmonic denominator as the same EXACT integer, and
      // replays the fixed-order float chain + linear-counting branch
      Sql(s"""WITH $urlCanonCtes,
         |$HllCtes,
         |ex AS (SELECT host, count(*) AS n_exact FROM hh GROUP BY host)
         |SELECT e.host, e.v_zero, e.reg_sum, $HllEstSql AS est_distinct,
         |  x.n_exact
         |FROM est e JOIN ex x USING (host)""".stripMargin)),
    // streaming sketch maintenance: an AvailableNow stream (4 micro-batches
    // via maxFilesPerTrigger=1 over a 4-file input) appends one PARTIAL
    // register table per batch; the estimate is the cell-max merge of the
    // sink — proving the batch HLL and the streaming partials converge to
    // the identical registers (the oracle recomputes from scratch)
    Query("web_stream_distinct", (s, dir) => {
      val sink = s"$OracleDir/stream_hll_sink"
      val ckpt = s"$OracleDir/stream_hll_ckpt"
      val inDir = s"$OracleDir/stream_hll_in"
      deletePaths(s, sink, ckpt, inDir)
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
    },
      // the streaming-partials sink max-merges to the IDENTICAL registers the
      // batch sketch builds, so the same from-scratch re-derivation oracles
      // both; n_batches pins that the stream really ran in 4 micro-batches
      Sql(s"""WITH $urlCanonCtes,
         |$HllCtes
         |SELECT host, v_zero, reg_sum, $HllEstSql AS est_distinct,
         |  CAST(4 AS BIGINT) AS n_batches
         |FROM est""".stripMargin)),
    // HITS hubs & authorities over the SAME deterministic edge list as
    // web_pagerank, 3 synchronous iterations in fixed-point arithmetic —
    // the oracle unrolls both half-steps of every iteration as CTEs
    Query("web_hits", (s, dir) =>
      graft.web.LinkGraph.hits(
        docs(s, dir).select((col("doc_id") % 64).as("src"),
          ((col("doc_id") * 17 + 29) % 64).as("dst")),
        iters = 3),
      Sql(hitsSql(3))),
    // anchor-text consolidation per link target: inlink count, source-host
    // diversity, anchor vocabulary, deterministic top anchor (largest
    // count, ties lexicographic) — the oracle re-derives the top anchor by
    // a DIFFERENT algorithm (row_number window vs combinable min(struct))
    Query("web_anchor_stats", (s, dir) => {
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
    },
      // the top anchor is re-derived by a DIFFERENT algorithm (row_number
      // window) than the engine's combinable min(struct(-n, anchor))
      Sql(s"""WITH $urlCanonCtes,
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
         |FROM r JOIN h USING (dst) JOIN t ON t.dst = r.dst AND t.rn = 1""".stripMargin)),
    // triangle count + local clustering coefficient per node over a DENSE
    // deterministic multigraph (src = id mod 48, dst = id div 48 mod 48 —
    // NOT the functional pagerank graph, which is triangle-starved by
    // construction). Engine: degree-ordered wedge enumeration (supernodes
    // never pair their neighbors); oracle: id-ordered 3-way self-join — two
    // different algorithms that must agree exactly, all-integer output
    Query("web_triangles", (s, dir) =>
      graft.web.LinkGraph.triangles(
        docs(s, dir).select((col("doc_id") % 48).as("src"),
          expr("(doc_id div 48) % 48").as("dst"))),
      // id-ordered 3-way self-join (a < b < c) — a DIFFERENT triangle
      // algorithm than the engine's degree-ordered wedge enumeration; exact
      // integer contract so they must agree bit-for-bit
      Sql(s"""WITH $triEdgeCte,
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
         |FROM deg d LEFT JOIN tc ON tc.node = d.node""".stripMargin)),
    // log2-bucketed degree histogram with exact counts + integral ppm
    // shares — the power-law first look that sizes broadcast/salting
    // thresholds; bucket = bit-length(degree) - 1, pure integer both sides
    Query("web_degree_hist", (s, dir) =>
      graft.web.LinkGraph.degreeHistogram(
        docs(s, dir).select((col("doc_id") % 48).as("src"),
          expr("(doc_id div 48) % 48").as("dst"))),
      Sql(s"""WITH $triEdgeCte,
         |$triDegCte,
         |tot AS (SELECT count(*) AS n_total FROM deg)
         |SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(min(degree) AS BIGINT) AS min_degree,
         |  CAST(max(degree) AS BIGINT) AS max_degree,
         |  (CAST(count(*) AS BIGINT) * 1000000)
         |    // (SELECT CAST(n_total AS BIGINT) FROM tot) AS share_ppm
         |FROM deg GROUP BY 1""".stripMargin)),
    // k-core decomposition by iterative peeling over a core+periphery+path
    // graph built to EXERCISE the loop (a power-law star fringe that dies
    // in two rounds, a dense 24-node core that survives, and an attached
    // 8-hop path that unravels one node per round — 10 peel rounds at
    // sf0.01 AND sf0.1, convergence proven in-operator); the oracle
    // replays every peel round as an unrolled CTE chain with margin
    Query("web_kcore", (s, dir) => {
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
    },
      // unrolled peel rounds with margin over the measured 10-round fixed
      // point — extra rounds are no-ops on a converged core
      Sql(kcoreSql(2, 14))),
    // streaming heavy hitters: 4 REAL micro-batches each append a PARTIAL
    // Count-Min cell table; the cell-SUM merge of the partials equals the
    // whole-stream sketch EXACTLY, so the oracle's from-scratch
    // re-derivation over the full host stream is the mergeability proof —
    // the CM sibling of web_stream_distinct's max-merged HLL registers
    Query("web_stream_heavy", (s, dir) => {
      val sink = s"$OracleDir/stream_cm_sink"
      val ckpt = s"$OracleDir/stream_cm_ckpt"
      val inDir = s"$OracleDir/stream_cm_in"
      deletePaths(s, sink, ckpt, inDir)
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
    },
      // whole-stream Count-Min re-derivation over the host stream: because
      // the per-batch partials merge by cell SUM, merge(partials) ==
      // sketch(whole stream) cell-for-cell — a hash match here proves the
      // streaming maintenance path; batch count pinned by the 4-file input
      Sql(s"""WITH $urlCanonCtes,
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
         |GROUP BY 1, 2""".stripMargin))
  )
}
