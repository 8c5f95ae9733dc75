package graft.contract

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.contract.ContractFixtures._
import graft.dedup.Dedup
import graft.engine._
import graft.text.TextAnalysis

/** Document contract queries (`doc_*`): text cleaning and analysis,
  * near-duplicate detection, corpus curation, sketches and tokenizer
  * training, each next to its DuckDB oracle or marked rows-only. */
private[contract] object DocQueries {

  /** Documents with planted near-duplicates (deterministic) so pair-producing
    * dedup ops have non-trivial output at every sf. */
  private def docsWithNearDups(s: SparkSession, dir: String) = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate tail")).as("text")))
  }

  /** Query terms for the BM25 contract row — drawn from the synthetic corpus
    * vocabulary so df spans common ("table") to rarer ("vector") terms. */
  private val Bm25QueryTerms = Seq("spark", "vector", "merge", "customer")

  /** Planted near-dup corpus + tokenization + distinct-3-gram shingles —
    * the DuckDB re-derivation of [[Dedup.shingleCol]] over
    * [[docsWithNearDups]]. */
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

  /** Deterministic near-dup candidate set over [[docsWithNearDups]]: the
    * planted (base, tail-appended) pairs plus adjacent-id negatives. */
  private def nearDupCand(d: DataFrame): DataFrame = {
    val ids = d.select(col("doc_id"))
    ids.filter(col("doc_id") >= 10000000L)
      .select((col("doc_id") - 10000000L).as("doc_a"), col("doc_id").as("doc_b"))
      .unionByName(ids.filter(col("doc_id") % 7 === 0 && col("doc_id") < 10000000L)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b")))
  }

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

  val all: Seq[Query] = Seq(
    // corpus-composition report — the per-source/language mix table every
    // training-data pipeline publishes before sampling: counts, volume, and
    // each cell's share of the whole corpus via a window over the aggregate
    // (an unpartitioned window over grouped rows — cheap because it runs
    // over the AGGREGATE, never the raw docs)
    Query("doc_corpus_mix", (s, dir) => {
      val agg = docs(s, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      val w = Window.partitionBy()
      agg.withColumn("doc_share",
          round(col("n_docs") / sum(col("n_docs")).over(w), 6))
        .withColumn("char_share",
          round(col("total_chars") / sum(col("total_chars")).over(w), 6))
    },
      Sql("""WITH agg AS (SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, lang, n_docs, total_chars,
        |  round(n_docs / CAST(sum(n_docs) OVER () AS DOUBLE), 6) AS doc_share,
        |  round(total_chars / CAST(sum(total_chars) OVER () AS DOUBLE), 6)
        |    AS char_share
        |FROM agg""".stripMargin)),
    // deterministic train/val/test split — every doc's assignment is a pure
    // function of (salt, doc_id) via the portable sha60, so splits are
    // replayable across reruns and engines; map-only, no shuffle at any scale
    Query("doc_split", (s, dir) =>
      graft.text.Corpus.withSplit(docs(s, dir), col("doc_id"))
        .select("doc_id", "split_bucket", "split"),
      Sql(s"""SELECT doc_id,
         |  CAST(${sha60Sql("'split:v1:' || CAST(doc_id AS VARCHAR)")} % 100
         |    AS INT) AS split_bucket,
         |  CASE WHEN ${sha60Sql("'split:v1:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
         |    THEN 'train'
         |  WHEN ${sha60Sql("'split:v1:' || CAST(doc_id AS VARCHAR)")} % 100 < 95
         |    THEN 'val' ELSE 'test' END AS split
         |FROM documents""".stripMargin)),
    // stratified deterministic sampling to a target language mixture: rates
    // folded into the plan as a CASE literal, survival decided per-row by the
    // portable hash — changing one stratum's rate never perturbs another's
    Query("doc_sample_stratified", (s, dir) =>
      graft.text.Corpus.sampleStratified(docs(s, dir), col("lang"),
          col("doc_id"), Map("en" -> 0.3, "zh" -> 0.8), defaultRate = 0.6)
        .select("doc_id", "lang"),
      Sql(s"""SELECT doc_id, lang FROM documents
         |WHERE ${sha60Sql("'sample:v1:' || CAST(doc_id AS VARCHAR)")} % 1000000
         |  < CASE WHEN lang = 'en' THEN ${graft.text.Corpus.ppm(0.3)}
         |         WHEN lang = 'zh' THEN ${graft.text.Corpus.ppm(0.8)}
         |         ELSE ${graft.text.Corpus.ppm(0.6)} END""".stripMargin)),
    // fixed-window document chunking with overlap (size 200, stride 150) —
    // the context-window preparation step; a map-side generator that streams
    // inside the scan stage (same shape as q19's lateral explode)
    Query("doc_chunks", (s, dir) =>
      graft.text.Corpus.chunk(
          docs(s, dir).filter(col("doc_id") % 10 === 0).select("doc_id", "text"),
          col("text"), size = 200, stride = 150)
        .select("doc_id", "chunk_id", "chunk_off", "chunk_text", "chunk_chars"),
      Sql("""WITH t AS (SELECT doc_id, text,
        |    generate_series(0, greatest(length(text) - 1, 0), 150) AS offs
        |  FROM documents WHERE doc_id % 10 = 0),
        |e AS (SELECT doc_id, text,
        |    CAST(generate_subscripts(offs, 1) - 1 AS INT) AS chunk_id,
        |    CAST(unnest(offs) AS INT) AS chunk_off
        |  FROM t)
        |SELECT doc_id, chunk_id, chunk_off,
        |  substr(text, chunk_off + 1, 200) AS chunk_text,
        |  CAST(length(substr(text, chunk_off + 1, 200)) AS INT) AS chunk_chars
        |FROM e""".stripMargin)),
    // top-k vocabulary with deterministic tie-break: partial map-side agg →
    // one shuffle over distinct tokens → TakeOrdered top-k → rank window
    // over ≤ k rows (never a global sort of the vocabulary)
    Query("doc_vocab", (s, dir) =>
      graft.text.Corpus.vocabTopK(docs(s, dir), col("text"), k = 100),
      Sql("""WITH tok AS (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0)) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY 1)
        |SELECT token, n_occurrences,
        |  CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) - 1
        |    AS INT) AS vocab_id
        |FROM c ORDER BY vocab_id LIMIT 100""".stripMargin)),
    // BPE tokenizer TRAINING (merge learning): 6 rounds of pair-stats ->
    // argmax -> literal double-replace rewrite over the word-type table;
    // DuckDB replays every round exactly (see bpeOracleSql)
    Query("doc_bpe_train", (s, dir) =>
      graft.text.BpeTrain.learnMerges(docs(s, dir), col("text"), rounds = 6),
      Sql(bpeOracleSql(6))),
    // checkpoint-resumed BPE training — the pipeline's one inherently
    // SEQUENTIAL critical path made incremental: a rounds=4 run leaves
    // blocks bpe_i0..bpe_i4 on disk; the rounds=6 rerun serves all five
    // from checkpoint (resumed_stages=5, oracle-gated) and trains only the
    // two new merges — the "extend the vocabulary without redoing 30k
    // rounds" shape. Final merge table is the bit-exact 6-round replay
    Query("doc_bpe_train_resume", (s, dir) => {
      val d = docs(s, dir)
      val fp = s"docs|$dir"
      coldThenResume(s, "ckpt_bpe", coldRounds = 4, rounds = 6)((ck, rounds) =>
        graft.text.BpeTrain.learnMergesResumable(s, ck, fp, d, col("text"), rounds))
    },
      // same bit-exact 6-round replay; resumed_stages=5 gates that the
      // extension run served the rounds=4 checkpoint blocks (bpe_i0..bpe_i4)
      // instead of retraining them
      Sql(s"""SELECT merge_rank, pair_left, pair_right, merged, pair_n,
         |  CAST(5 AS BIGINT) AS resumed_stages
         |FROM (${bpeOracleSql(6)})""".stripMargin)),
    // the ENCODE half: corpus size in learned-BPE tokens (train 6 merges,
    // then a map-only per-occurrence apply + one per-doc sum)
    Query("doc_bpe_encode", (s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.BpeTrain.learnMerges(d, col("text"), rounds = 6)
      graft.text.BpeTrain.applyMerges(d, col("doc_id"), col("text"), merges)
    },
      Sql(bpeEncodeOracleSql(6))),
    // adjacent-token PMI collocations: two combinable aggs (bigram counts
    // via the codegen window-ngram call, unigram counts) + a join over only
    // the >= 5-count pairs; the single float step is one fixed-order
    // multiply/divide chain into ln, rounded to 6, and the top-50 cut
    // orders by (pmi6, tok_a, tok_b) so DuckDB ties identically
    Query("doc_pmi", (s, dir) =>
      graft.text.Cooccur.pmiTopK(docs(s, dir), col("text"),
        minPairCount = 5, k = 50),
      // DuckDB rebuilds the bigram stream with multiplicity, both count
      // tables, and the identical fixed-order double chain into ln
      Sql("""WITH tok AS (SELECT list_filter(
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
        |SELECT * FROM sc ORDER BY pmi6 DESC, tok_a, tok_b LIMIT 50""".stripMargin)),
    // mergeable base-2 log-histogram quantile sketch (4 sub-buckets per
    // octave) of document char lengths per source — pure integer bit math
    // end-to-end; DuckDB rebuilds every cell and threshold
    Query("doc_quantile_sketch", (s, dir) =>
      graft.sketch.QuantileHist.sketch(docs(s, dir), col("source"),
          length(col("text")).cast("long"), Seq(50, 90, 99))
        .withColumnRenamed("key", "source"),
      Sql(QuantileSketchSql)),
    // frozen-weight logistic quality filter: the model ships as plan
    // literals, scoring is map-only, and the keep decision gates on the
    // 6dp-rounded probability so the boundary is engine-independent
    Query("doc_quality_logit", (s, dir) =>
      graft.text.TextAnalysis.withLogitQuality(docs(s, dir))
        .select(col("doc_id"), round(col("logit"), 6).as("logit6"),
          round(col("p_keep"), 6).as("p_keep6"),
          (round(col("p_keep"), 6) >= 0.5).as("keep")),
      // DuckDB recomputes the features and replays the identical left-to-right
      // logit chain + sigmoid; the keep gate compares the ROUNDED probability
      Sql(s"""WITH ${qualityCtes("documents")},
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
         |FROM z""".stripMargin)),
    // TRAINING the quality filter (the step that produces frozen weights):
    // full-batch logistic GD, label = curated-source slice; each round is
    // ONE combinable decimal-sum aggregation, weights ride as plan literals
    Query("doc_logit_train", (s, dir) =>
      graft.text.LogitTrain.trainQuality(s, docs(s, dir),
        col("source").isin("src0", "src1"), rounds = 3, lr = 0.5),
      // logistic-GD training replay: 3 unrolled rounds, see logitTrainSql
      Sql(logitTrainSql(3))),
    // sketch-driven gating: the per-source p90 length from the mergeable
    // histogram broadcast back onto the corpus — the two-pass shape a
    // crawl-scale tail-trim actually runs (sketch pass + map-only gate)
    Query("doc_length_gate", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len"))
      val p90 = graft.sketch.QuantileHist.sketch(d, col("source"), col("len"),
          Seq(90))
        .select(col("key").as("source"), col("est_value").as("p90_est"))
      d.join(broadcast(p90), "source")
        .select(col("doc_id"), col("source"), col("len"), col("p90_est"),
          (col("len") <= col("p90_est")).as("keep"))
    },
      // the sketch chain for p90 only, joined back onto every document — the
      // gate itself is exact integer comparison
      Sql(s"""WITH ${quantileCtes(Seq(90))},
         |e AS (SELECT q.key, $QuantileUbSql AS est_value FROM q)
         |SELECT d.doc_id, d.source, CAST(length(d.text) AS BIGINT) AS len,
         |  e.est_value AS p90_est,
         |  CAST(length(d.text) AS BIGINT) <= e.est_value AS keep
         |FROM documents d JOIN e ON e.key = d.source""".stripMargin)),
    // mergeability proof: shard the corpus 3 ways, sketch each shard, union
    // + cell-sum merge, THEN estimate — the oracle recomputes directly from
    // all values, so a hash match proves merge == one-shot
    Query("doc_quantile_merge", (s, dir) => {
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
    },
      Sql(QuantileSketchSql)),
    // exact duplicated-substring spans (the suffix-array-style substring
    // dedup step, window-granular): 8-token windows repeated corpus-wide,
    // merged gaps-and-islands per doc — one combinable count on the window
    // text + a per-doc bounded window, never a global sort
    Query("doc_substring_dedup", (s, dir) =>
      graft.dedup.SubstringDedup.duplicatedSpans(
        spread(docsWithNearDups(s, dir), col("doc_id")),
        col("doc_id"), col("text"), k = 8),
      // independent re-derivation of the gaps-and-islands span merge: DuckDB
      // rebuilds the 8-token windows, the corpus-wide copy counts, and the
      // island sums from the same planted-dup corpus
      Sql("""WITH all_docs AS (SELECT doc_id, text FROM documents
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
        |FROM sp""".stripMargin)),
    // cross-snapshot incremental dedup: classify a new crawl against the
    // base corpus — digest semi join for exact, capped portable-band recall
    // + exact shingle-Jaccard verify for near; delta-sized work throughout
    Query("doc_incremental_dedup", (s, dir) =>
      graft.dedup.Dedup.incrementalStatus(
        newSnapshot(s, dir), docs(s, dir).select(col("doc_id"), col("text")),
        threshold = 0.5, perms = 16, bands = 4, maxBucket = 256),
      // DuckDB replays the ENTIRE incremental classification: the digest
      // join, the two-sided sha256 minhash signatures, band keys, the
      // base-side bucket cap (row_number <= 256 by id), and the exact
      // string-shingle Jaccard verify
      Sql(s"""WITH nd AS (
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
         |LEFT JOIN ver ON ver.new_id = nd.doc_id""".stripMargin)),
    // temperature-scaled source mixing: one tiny integer mass agg + a
    // window over the AGGREGATE + a broadcast rate join; the sha60 coin
    // keeps the kept-set replayable at any cluster size
    Query("doc_source_mix", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        graft.text.TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
      graft.text.Corpus.temperatureMix(d, col("source"), col("doc_id"),
          col("n_tok"), alpha = 0.5, budgetFraction = 0.5)
        .select(col("doc_id"), col("source"), col("rate_ppm"))
    },
      // DuckDB re-derives the integer masses, replays the same pow/ratio
      // double arithmetic (operation order mirrored, literals cast to DOUBLE),
      // lands on the same integer ppm thresholds, and re-flips the sha60 coin
      Sql(s"""WITH tok AS (SELECT doc_id, source,
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
         |  < rp.rate_ppm""".stripMargin)),
    // unigram-LM quality score (the CCNet perplexity-gate analog): vocab is
    // ONE combinable count, scoring a hash join + per-doc decimal sum
    Query("doc_lm_score", (s, dir) =>
      graft.text.TextAnalysis.lmScore(docs(s, dir), col("doc_id"), col("text")),
      // DuckDB retrains the unigram LM (one count over the vocab) and replays
      // the same ln + 7-dp decimal rounding per token occurrence
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
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
        |FROM tok LEFT JOIN sc ON sc.doc_id = tok.doc_id""".stripMargin)),
    // interpolated BIGRAM-LM (one order up): first token scores p_uni,
    // every later position ln(0.7*c_ab/c_a + (1-0.7)*c_b/N); bigram stream
    // is one codegen windowNgrams call, model = two combinable counts
    Query("doc_lm_bigram", (s, dir) =>
      graft.text.TextAnalysis.bigramLmScore(docs(s, dir), col("doc_id"),
        col("text"), lam = 0.7),
      // DuckDB rebuilds the bigram model from a POSITION SELF-JOIN (a
      // different pairing algorithm than the engine's windowNgrams call) and
      // replays the identical interpolation chain — note (1.0 - 0.7), not
      // 0.3: the engine computes the backoff weight as 1.0 - lam in IEEE
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
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
        |FROM tok LEFT JOIN sc ON sc.doc_id = tok.doc_id""".stripMargin)),
    // interpolated KNESER-NEY bigram LM (the KenLM/CCNet smoothing family):
    // discounted bigram MLE backed off to the CONTINUATION distribution
    // N1+(.b)/T — all model quantities are combinable counts over bigram
    // types, scoring the same hash-join + per-doc decimal-sum shape
    Query("doc_lm_kn", (s, dir) =>
      graft.text.TextAnalysis.knBigramLmScore(docs(s, dir), col("doc_id"),
        col("text"), d = 0.75),
      // Kneser-Ney: DuckDB rebuilds prefix/fan-out/fan-in/type counts from the
      // position self-join's bigram table and replays the identical discount
      // chain (same operation order, every literal cast to DOUBLE)
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
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
        |FROM tok LEFT JOIN sc ON sc.doc_id = tok.doc_id""".stripMargin)),
    // CCNet head/middle/tail perplexity bucketing: corpus-derived thresholds
    // from the MERGEABLE quantile sketch (never a global sort/ntile), bucket
    // membership an exact integer compare on per-token NLL in 1e-7 nats
    Query("doc_ccnet_buckets", (s, dir) =>
      graft.text.Corpus.ccnetBuckets(docs(s, dir), col("doc_id"),
        col("text"), lam = 0.7),
      // CCNet bucketing: the bigram-LM decimal sum becomes integral per-token
      // NLL (micro-nat floor division, both operands non-negative so // == div),
      // the log-histogram sketch is rebuilt cell by cell, and the head/middle
      // thresholds are the deterministic bucket upper bounds
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
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
        |FROM nll CROSS JOIN th""".stripMargin)),
    // Unicode NFC normalization (UAX #15 canonical compose) as a codegen
    // StaticInvoke — the cleanup pass every multilingual corpus needs before
    // hashing/dedup (decomposed accents hash differently); a deterministic
    // combining-mark suffix on every 3rd doc makes the changed flag real
    Query("doc_unicode_norm", (s, dir) => {
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
    },
      // NFC normalization: DuckDB's utf8proc nfc_normalize and the JDK's
      // Normalizer implement the same UAX #15 algorithm, so the composed
      // strings agree byte-for-byte; the suffix is built DECOMPOSED from
      // chr() codepoints in both engines
      Sql("""WITH raw AS (SELECT doc_id,
        |  text || CASE WHEN doc_id % 3 = 0
        |    THEN ' cafe' || chr(769) || ' A' || chr(778)
        |      || ' n' || chr(771) || 'o'
        |    ELSE '' END AS raw FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm_text,
        |  nfc_normalize(raw) <> raw AS changed,
        |  CAST(length(raw) AS INT) AS n_chars_raw,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS n_chars_norm
        |FROM raw""".stripMargin)),
    // one-pass corpus profiler (the data-quality audit before any training
    // run): row/null/distinct counts and exact length stats in ONE
    // aggregation job; the ppm mean is integral so the row hashes portably
    Query("doc_profile", (s, dir) =>
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
          .as("avg_len_ppm")),
      Sql("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(text) AS BIGINT) AS n_text_nonnull,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(min(length(text)) AS INT) AS min_len,
        |  CAST(max(length(text)) AS INT) AS max_len,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  CAST((CAST(sum(length(text)) AS BIGINT) * 1000000) // count(*)
        |    AS BIGINT) AS avg_len_ppm
        |FROM documents""".stripMargin)),
    // the substring-dedup REWRITER: duplicated spans removed from the token
    // stream — one bounded span-fold aggregate + a hash join back to docs
    Query("doc_substring_strip", (s, dir) =>
      graft.dedup.SubstringDedup.stripSpans(
        docsWithNearDups(s, dir), col("doc_id"), col("text"), k = 8),
      // the rewriter re-derived relationally: DuckDB marks covered token
      // positions with a span range-join instead of Spark's per-row lambda
      Sql("""WITH all_docs AS (SELECT doc_id, text FROM documents
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
        |FROM tok LEFT JOIN agg USING (doc_id)""".stripMargin)),
    // BM25 ranked retrieval: query-term filter BEFORE the postings
    // exchange, 1-row stats + query-sized df broadcast, TakeOrdered top-k
    Query("doc_bm25", (s, dir) =>
      graft.text.Search.bm25(spread(docs(s, dir), col("doc_id")),
        col("doc_id"), col("text"),
        queryTerms = Bm25QueryTerms, topK = 20),
      // DuckDB replays the identical double arithmetic (same operation order,
      // literals cast to DOUBLE) and the same per-term 7-dp DECIMAL rounding,
      // so every score reproduces bit-for-bit
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
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
        |FROM scored ORDER BY bm25_score DESC, doc_key LIMIT 20""".stripMargin)),
    // TF-IDF keyword extraction: top-3 characteristic terms per doc with
    // the smooth sklearn idf, 7dp-DECIMAL scores (the bm25 determinism
    // contract), ties by term asc; DuckDB replays the identical ln chain
    Query("doc_tfidf", (s, dir) =>
      graft.text.Search.tfIdfTopK(docs(s, dir), col("doc_id"), col("text"),
          k = 3)
        .withColumnRenamed("doc_key", "doc_id"),
      // smooth-idf TF-IDF replayed with the identical op order (ln of the
      // (N+1)/(df+1) double quotient, +1, * tf, 7dp DECIMAL) and the same
      // (score desc, term asc) per-doc top-3 window
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
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
        |FROM rk WHERE term_rank <= 3""".stripMargin)),
    // heavy hitters: exact top-20 3-grams (tie-break gram asc) checked
    // against the portable Count-Min sketch (4x512, sha60 family) — the
    // sketch is bounded cells regardless of stream size and broadcast to
    // the estimate join; cm_est >= n_true by construction
    Query("doc_heavy_hitters", (s, dir) => {
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
    },
      // DuckDB rebuilds every Count-Min cell (sha60 family, pmod width) from
      // the full 3-gram stream and re-estimates the exact top-20 — proving
      // both the exact counts and the sketch plan
      Sql(HeavyHittersSql)),
    // sketch MERGEABILITY under the contract: per-shard Count-Min sketches
    // (doc_id parity) merged by cell sum, then estimated — the oracle
    // recomputes the WHOLE-stream sketch, so the hash match proves
    // merge(sketch(A), sketch(B)) == sketch(A ++ B)
    Query("doc_sketch_merge", (s, dir) => {
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
    },
      // the MERGED shard sketches must equal this same whole-stream oracle —
      // the hash match is the mergeability proof
      Sql(HeavyHittersSql)),
    // corpus-wide segment-level exact dedup (the CCNet/RefinedWeb line-dedup
    // step) over the planted-dup corpus: 20-char windows as segments, first
    // occurrence wins via a COMBINABLE min(struct) — the hot-segment shuffle
    // collapses map-side, never through one window task
    Query("doc_line_dedup", (s, dir) => {
      val segs = graft.text.Corpus.chunk(docsWithNearDups(s, dir),
        col("text"), size = 20, stride = 20)
      graft.text.Corpus.dedupSegments(segs, col("doc_id"), col("chunk_id"),
        col("chunk_text"))
    },
      // independent re-derivation: DuckDB picks winners with a row_number
      // window (a different algorithm than Spark's min-struct aggregate)
      Sql("""WITH all_docs AS (SELECT doc_id, text FROM documents
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
        |FROM w WHERE rn = 1""".stripMargin)),
    // C4-style boilerplate segment rules, each flag exposed for audit;
    // map-only over the same 30-char segmentation
    Query("doc_boilerplate", (s, dir) =>
      graft.text.Corpus.segmentFlags(
          graft.text.Corpus.chunk(docs(s, dir).select("doc_id", "text"),
            col("text"), size = 30, stride = 30),
          col("chunk_text"), minWords = 3,
          blacklist = Seq("javascript", "lorem"))
        .select("doc_id", "chunk_id", "flag_too_short", "flag_blacklist",
          "flag_brace", "seg_keep"),
      Sql("""WITH t AS (SELECT doc_id, text,
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
        |FROM f""".stripMargin)),
    // benchmark decontamination: every training doc sharing a 6-gram with
    // the (broadcast) eval subset is flagged with its collision count
    Query("doc_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      graft.text.Corpus.decontaminate(d.select("doc_id", "text"),
          col("doc_id"), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 6)
        .select("doc_id", "n_contaminated_grams", "contaminated")
    },
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
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
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin)),
    // GPT-style sequence packing: concat-and-cut at 64 tokens within 4
    // shards, exploded to per-(doc, sequence) slice rows — pure integer
    // window math, bit-replayable by any engine
    Query("doc_pack_sequences", (s, dir) => {
      val packed = graft.text.Corpus.packSequences(
        docs(s, dir).select(col("doc_id"), col("text")),
        pmod(col("doc_id"), lit(4L)), col("doc_id"),
        graft.text.TextAnalysis.tokenCountWs(col("text")), seqLen = 64)
      graft.text.Corpus.packExplode(packed, seqLen = 64)
        .select("doc_id", "shard", "seq_id", "doc_tok_off", "seq_tok_off",
          "n_toks")
    },
      Sql("""WITH tok AS (SELECT doc_id, doc_id % 4 AS shard,
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
        |FROM e""".stripMargin)),
    // per-source quality gate: drop docs under their source's p25 quality —
    // thresholds are one broadcast row per source; scores rounded to 6
    // digits before BOTH the percentile and the comparison (bit-stable gate)
    Query("doc_quality_gate", (s, dir) =>
      graft.text.Corpus.qualityGate(spread(docs(s, dir), col("doc_id")),
          col("source"), pct = 0.25)
        .select("doc_id", "source", "quality_score", "quality_thr"),
      Sql(s"""WITH ${qualityCtes("documents")},
         |s AS (SELECT q.doc_id, d.source, q.quality_score
         |  FROM q JOIN documents d USING (doc_id)),
         |thr AS (SELECT source, quantile_cont(quality_score, 0.25)
         |    AS quality_thr FROM s GROUP BY 1)
         |SELECT s.doc_id, s.source, s.quality_score, thr.quality_thr
         |FROM s JOIN thr USING (source)
         |WHERE s.quality_score >= thr.quality_thr""".stripMargin)),
    // per-source cap (host-level cap): keep the 10 best-quality docs per
    // source, doc_id breaking ties — one hash shuffle + a bounded window
    Query("doc_domain_cap", (s, dir) => {
      val scored = TextAnalysis.withQuality(docs(s, dir))
        .withColumn("quality_score", round(col("quality_score"), 6))
      graft.text.Corpus.capPerStratum(scored, col("source"), col("doc_id"),
          col("quality_score"), n = 10)
        .select("doc_id", "source", "quality_score", "strat_rank")
    },
      Sql(s"""WITH ${qualityCtes("documents")},
         |s AS (SELECT q.doc_id, d.source, q.quality_score
         |  FROM q JOIN documents d USING (doc_id)),
         |r AS (SELECT doc_id, source, quality_score,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY quality_score DESC, doc_id) AS INT) AS strat_rank FROM s)
         |SELECT doc_id, source, quality_score, strat_rank
         |FROM r WHERE strat_rank <= 10""".stripMargin)),

    // ---- training-data ops: dedup / similarity / text / multimodal -------
    Query("doc_dedup_exact", (s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val withDups = base.unionByName(base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      Dedup.exact(withDups).select("keep_id", "dup_count")
    },
      Sql("""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM all_docs GROUP BY text""".stripMargin)),
    Query("doc_minhash_pairs", (s, dir) =>
      Dedup.minhashLshPairs(docsWithNearDups(s, dir), threshold = 0.5)
        .withColumn("jaccard_est", round(col("jaccard_est"), 6)),
      RowsOnly),
    // the exact shingle-Jaccard VERIFY stage over a deterministic candidate
    // set (planted near-dups + adjacent-id negatives) — oracle-checkable via
    // DuckDB list math; the minhash RECALL stage that normally feeds it stays
    // covered by doc_minhash_pairs + the sim_band_join oracle
    Query("doc_ngram_jaccard", (s, dir) => {
      val d = docsWithNearDups(s, dir)
      Dedup.jaccardVerify(nearDupCand(d), d, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
    },
      Sql(s"""WITH $nearDupJaccardCtes
        |SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM jj
        |WHERE jaccard >= CAST(0.5 AS DOUBLE)""".stripMargin)),
    // asymmetric shingle containment over the same deterministic candidate
    // set: the quote/boilerplate-inclusion signal Jaccard misses when the
    // pair differs in size — a base doc fully contained in its
    // tail-appended near-dup scores containment_ab = 1.0 exactly; both
    // directions emitted, pair kept when either clears the gate
    Query("doc_containment", (s, dir) => {
      val d = docsWithNearDups(s, dir)
      Dedup.containmentVerify(nearDupCand(d), d, threshold = 0.9)
        .withColumn("containment_ab", round(col("containment_ab"), 6))
        .withColumn("containment_ba", round(col("containment_ba"), 6))
    },
      // asymmetric containment in both directions over the same shingle sets
      // and candidate pairs; single exact-integer-operand divisions, IEEE
      // identical to the engine's inter/|sa| chain
      Sql(s"""WITH $nearDupShingleCtes,
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
        |WHERE c_ab >= CAST(0.9 AS DOUBLE) OR c_ba >= CAST(0.9 AS DOUBLE)""".stripMargin)),
    // duplicate-pair CLUSTERING: verified near-dup pairs -> connected
    // components (min-label propagation with pointer shortcut) -> per-cluster
    // canonical pick; oracle = DuckDB recursive-CTE reachability over the
    // identically re-derived edge set
    Query("doc_dup_clusters", (s, dir) => {
      val d = docsWithNearDups(s, dir)
      val edges = Dedup.jaccardVerify(nearDupCand(d), d, threshold = 0.5)
        .select("doc_a", "doc_b")
      Dedup.dupClusters(edges)
    },
      // connected components as transitive-closure reachability: reach(n, m)
      // holds when m reaches n over the undirected verified-pair edges; the
      // component id is min(m) — identical to the engine's min-label fixpoint
      Sql(s"""WITH RECURSIVE $nearDupJaccardCtes,
        |edges AS (SELECT doc_a, doc_b FROM jj WHERE jaccard >= CAST(0.5 AS DOUBLE)),
        |und AS (SELECT doc_a AS src, doc_b AS dst FROM edges
        |  UNION SELECT doc_b AS src, doc_a AS dst FROM edges),
        |reach(id, r) AS (SELECT src, src FROM und
        |  UNION SELECT u.dst, re.r FROM reach re JOIN und u ON u.src = re.id),
        |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
        |SELECT c.doc_id, c.cluster_id, s.cluster_size,
        |  c.doc_id = c.cluster_id AS is_canonical
        |FROM cc c JOIN sz s ON c.cluster_id = s.cluster_id""".stripMargin)),
    // checkpoint-resumable duplicate clustering (the Iterate.resumable
    // integration on the CC family, next to web_pagerank_resume): a rounds=2
    // run completes blocks i0..i2, then the rounds=3 run RESUMES — all three
    // finished blocks must be served from checkpoint (resumed=true lineage,
    // counted in-result) and only i3 computes; the final labels are gated
    // against the same recursive-CTE reachability oracle as doc_dup_clusters
    Query("doc_dup_clusters_resume", (s, dir) => {
      val d = docsWithNearDups(s, dir)
      val edges = Dedup.jaccardVerify(nearDupCand(d), d, threshold = 0.5)
        .select("doc_a", "doc_b")
      val fp = s"neardup|$dir"
      coldThenResume(s, "ckpt_cc", coldRounds = 2, rounds = 3)((ck, rounds) =>
        Dedup.connectedComponentsResumable(s, edges, ck, fp, rounds))
    },
      // resumable CC: identical reachability labels; the rounds=2 run
      // completes blocks i0..i2, so the rounds=3 rerun serves exactly 3
      // stages from checkpoint
      Sql(s"""WITH RECURSIVE $nearDupJaccardCtes,
        |edges AS (SELECT doc_a, doc_b FROM jj WHERE jaccard >= CAST(0.5 AS DOUBLE)),
        |und AS (SELECT doc_a AS src, doc_b AS dst FROM edges
        |  UNION SELECT doc_b AS src, doc_a AS dst FROM edges),
        |reach(id, r) AS (SELECT src, src FROM und
        |  UNION SELECT u.dst, re.r FROM reach re JOIN und u ON u.src = re.id),
        |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id, cluster_id, CAST(3 AS BIGINT) AS resumed_stages
        |FROM cc""".stripMargin)),
    // MinHash LSH with the PORTABLE sha256-derived hash family: the whole
    // sketch plan (shingle -> signature -> band key -> bucket join -> estimate)
    // is recomputed bit-for-bit by the oracle — the cross-engine proof that
    // the production xxh64 sketch's PLAN is right, not just its row counts
    Query("doc_minhash_portable", (s, dir) =>
      Dedup.portableMinhashLshPairs(docsWithNearDups(s, dir), threshold = 0.5)
        .withColumn("jaccard_est", round(col("jaccard_est"), 6)),
      // the full portable-MinHash LSH plan recomputed from raw text: sha256-hex
      // parsed to a 60-bit long (list_reduce base-16 fold), min per permutation,
      // band keys as joined signature slices, bucket self-join, zip-equality
      // Jaccard estimate — bit-for-bit the engine's portableMinhashLshPairs
      Sql(s"""WITH $nearDupShingleCtes,
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
        |WHERE jaccard_est >= CAST(0.5 AS DOUBLE)""".stripMargin)),
    // END-TO-END training-data cleaning flagship: the dedup/cluster/quality/
    // redact stages composed into one job, oracle-verified as a whole
    Query("doc_clean_pipeline", (s, dir) => {
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
    },
      // END-TO-END training-data cleaning flagship: exact dedup survivors ->
      // near-dup cluster canonicals only (recursive-CTE components over the
      // verified-pair edges) -> quality gate on the 6dp-rounded score ->
      // redaction pass; one composed oracle over the whole chain
      Sql(s"""WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents
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
        |FROM q WHERE quality_score >= CAST(0.5 AS DOUBLE)""".stripMargin)),
    // the full two-phase near-dup chain (LSH recall -> exact verify); the
    // recall stage's minhash signatures are non-ANSI, so rows-only
    Query("doc_ngram_lsh_verified", (s, dir) =>
      Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6)),
      RowsOnly),
    Query("doc_simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(docsWithNearDups(s, dir), maxDist = 3),
      RowsOnly),
    // SimHash with the portable sha256 hash family — signatures, segment
    // blocking, and hamming verify all recomputed bit-for-bit by the oracle
    Query("doc_simhash_portable", (s, dir) =>
      Dedup.portableSimhashPairs(docsWithNearDups(s, dir), maxDist = 3),
      // portable simhash: per-shingle sha60 -> 60 bit votes -> signature long
      // -> 4 x 15-bit pigeonhole segments (capped buckets) -> bit_count hamming.
      // NB DuckDB's ^ is exponentiation — xor() is the operator's function form.
      Sql(s"""WITH $nearDupShingleCtes,
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
        .stripMargin)),
    Query("doc_fingerprints", (s, dir) =>
      TextAnalysis.withFingerprints(docs(s, dir))
        .select("doc_id", "xxh64", "winnow_fp", "simhash"),
      RowsOnly),
    // winnowing with the portable sha256 k-gram family — per-gram hashes,
    // non-overlapping window mins, and the xor fold all recomputed by DuckDB
    Query("doc_winnow_portable", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.TextFunctions.portableWinnow(col("text"), lit(8), lit(16))
          .as("winnow_fp")),
      // portable winnowing: sha256 char-8-gram hashes, non-overlapping
      // 16-gram-window mins, xor fold; short-text and no-window cases fall
      // back to the whole-text hash exactly as the engine does
      Sql("""WITH g AS (SELECT doc_id, text, length(text) AS n FROM documents),
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
        |FROM fp0""".stripMargin)),
    Query("doc_lang_id", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred")),
      Sql("""WITH t AS (SELECT doc_id, text,
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
        |  WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred FROM s""".stripMargin)),
    Query("doc_readability", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        round(TextAnalysis.fleschScore(col("text")), 6).as("flesch")),
      Sql("""WITH t AS (SELECT doc_id,
        |  CAST(greatest(len(regexp_extract_all(lower(text), '[\p{L}]+')), 1) AS DOUBLE) AS w,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS y,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s
        |  FROM documents)
        |SELECT doc_id, round(CAST(206.835 AS DOUBLE)
        |  - CAST(1.015 AS DOUBLE) * (w / s)
        |  - CAST(84.6 AS DOUBLE) * (y / w), 6) AS flesch
        |FROM t""".stripMargin)),
    // cross-snapshot n-gram NOVELTY audit (the recrawl-budget metric):
    // candidates = planted tail-modified + unchanged copies; ref window set
    // is ONE combinable distinct over sha60-hashed windows (narrow longs)
    Query("doc_novelty", (s, dir) => {
      val d = docs(s, dir)
      val newDocs = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"),
            lit(" entirely novel trailing sentence for the audit")).as("text"))
        .unionByName(d.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      graft.dedup.SubstringDedup.windowNovelty(newDocs, col("doc_id"),
        col("text"), d, col("text"), n = 8)
    },
      // novelty audit: DuckDB rebuilds both window streams (list_transform
      // slices vs the engine's codegen windowNgrams), the sha60-hashed
      // distinct reference set, and the per-doc miss counts
      Sql(s"""WITH nd AS (SELECT doc_id + 1000000 AS doc_id,
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
        |FROM nd LEFT JOIN per USING (doc_id)""".stripMargin)),
    // DSIR importance resampling (hashed unigram+bigram LLR vs a target
    // slice, top-k selection): model = ONE combinable 64-bucket count pass,
    // scoring = broadcast ratio join + per-doc decimal sum, selection =
    // TakeOrdered threshold broadcast back — never a global sort
    Query("doc_dsir", (s, dir) =>
      graft.text.Dsir.dsirSelect(docs(s, dir), col("doc_id"), col("text"),
        col("source").isin("src0", "src1"), k = 50),
      // DSIR: DuckDB rebuilds the hashed-ngram model from scratch — bigrams
      // via a position self-join (vs the engine's windowNgrams call), buckets
      // via the portable sha60 fold, add-one smoothed LLR per bucket rounded
      // to 7dp DECIMAL, per-doc sums, and the same top-50 threshold rule
      Sql(s"""WITH tok AS (SELECT doc_id, source, list_filter(
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
        |FROM w CROSS JOIN kth""".stripMargin)),
    // Efraimidis-Spirakis weighted sampling without replacement: priority
    // ln(u)/w with hash-derived u, 7dp grain, DSIR's kth-threshold
    // selection (two TakeOrdered jobs, no global sort) — the oracle
    // replays the hash, the log chain, and the exact top-k cut
    Query("doc_weighted_sample", (s, dir) =>
      graft.text.Corpus.weightedSample(docs(s, dir), col("doc_id"),
        col("n_chars"), k = 100),
      // A-ES weighted sampling: hash-derived u, ln(u)/w at 7dp, kth-threshold
      // cut with key tie-break — the whole chain replayed
      Sql(s"""WITH ws AS (SELECT doc_id AS doc_key, CAST(n_chars AS BIGINT) AS w,
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
         |FROM ws, kth""".stripMargin)),
    Query("doc_quality", (s, dir) =>
      TextAnalysis.withQuality(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_token_len"), 6).as("mean_token_len"),
          round(col("quality_score"), 6).as("quality_score")),
      Sql(s"""WITH ${qualityCtes("documents")}
        |SELECT doc_id, n_tokens, round(mean_token_len, 6) AS mean_token_len,
        |  quality_score
        |FROM q""".stripMargin)),
    Query("doc_token_stats", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        length(col("text")).as("len"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
          .as("n_tokens_ws")),
      Sql("""SELECT doc_id, length(text) AS len,
        |length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens_ws
        |FROM documents""".stripMargin)),
    Query("doc_token_bpe", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe")),
      Sql("""SELECT doc_id, CAST(coalesce(list_sum(list_transform(
        |  regexp_extract_all(text, '[\p{L}]+|[0-9]|[^\p{L}0-9\s]'),
        |  x -> CASE WHEN regexp_full_match(x, '[\p{L}]+')
        |    THEN CAST(ceil(length(x) / CAST(4.0 AS DOUBLE)) AS BIGINT)
        |    ELSE 1 END)), 0) AS BIGINT) AS n_tokens_bpe
        |FROM documents""".stripMargin)),
    // Gopher-style intra-doc repetition filters (map-only ratios + an
    // explode/two-level-agg n-gram mode — never a per-row quadratic scan)
    Query("doc_repetition", (s, dir) =>
      TextAnalysis.withRepetitionSignals(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          round(col("type_token_ratio"), 6).as("type_token_ratio"),
          round(col("dup_trigram_ratio"), 6).as("dup_trigram_ratio"),
          round(col("frac_top_bigram"), 6).as("frac_top_bigram"),
          round(col("frac_top_trigram"), 6).as("frac_top_trigram")),
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
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
        |FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id""".stripMargin)),
    // PII scrub over text augmented with deterministic synthetic PII (the
    // corpus itself is clean words — the augmentation, reconstructed
    // identically by the oracle, is what makes the redaction non-trivial)
    Query("doc_redact", (s, dir) =>
      TextAnalysis.withRedaction(
        docs(s, dir).withColumn("text", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 250).cast("string"),
          lit(".7 or +41 79 "), (lit(100) + col("doc_id") % 900).cast("string"),
          lit(" "), (lit(1000) + col("doc_id") % 9000).cast("string"))))
        .select("doc_id", "n_emails", "n_ips", "n_phones", "clean_text"),
      Sql(s"""WITH aug AS (SELECT doc_id, text || ' contact user'
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
        |FROM aug""".stripMargin)),
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
    Query("doc_stream_dedup", (s, dir) => {
      val docPath = oracleStreamDir(s, dir, "documents")
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
      drainStream(s, out, "stream_dedup", stateSizedBy = Some(docPath))
    },
      // streaming exact dedup: the surviving set is one row per distinct
      // content digest regardless of which arrival won the state race
      Sql("SELECT DISTINCT sha256(text) AS text_sha FROM documents")),
    // rule-based sentence segmentation (the decontamination/bitext
    // granularity): capture-group boundary mark + one split, two codegen
    // string passes, map-only — RE2-replayable by design (no lookbehind).
    // The synthetic corpus carries no punctuation, so deterministic
    // terminators are injected by literal replaces in BOTH engines first
    Query("doc_sentences", (s, dir) => {
      val punct = replace(replace(replace(col("text"),
        lit("table "), lit("table. ")),
        lit("row "), lit("row! ")),
        lit("key "), lit("key? "))
      graft.text.Corpus.sentences(
        docs(s, dir).withColumn("text", punct), col("doc_id"), col("text"))
    },
      Sql("""WITH pu AS (SELECT doc_id,
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
        |FROM e WHERE length(sentence) > 0""".stripMargin)),
    // feature hashing ("the hashing trick"): fixed-width signed-count
    // embedding with NO vocabulary pass — bucket and sign from the portable
    // sha60, one explode + one combinable (doc, bucket) aggregation
    Query("doc_hash_embed", (s, dir) =>
      graft.text.TextAnalysis.hashEmbed(docs(s, dir), col("doc_id"),
        col("text"), dims = 32),
      Sql(s"""WITH tok AS (SELECT doc_id, list_filter(
         |    string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'),
         |    x -> length(x) > 0) AS toks FROM documents),
         |ex AS (SELECT doc_id, unnest(toks) AS token FROM tok),
         |h AS (SELECT doc_id, ${sha60Sql("'fh:' || token")} AS h FROM ex),
         |t AS (SELECT doc_id, CAST(h % 32 AS INT) AS k,
         |    CASE WHEN ((h >> 1) & 1) = 0 THEN 1 ELSE -1 END AS s FROM h)
         |SELECT doc_id AS doc_key, k, CAST(sum(s) AS BIGINT) AS weight
         |FROM t GROUP BY 1, 2""".stripMargin)),
    // character-distribution quality gate: exact integer Gini impurity of
    // the 38-class char distribution (the gating column — no IEEE in it),
    // class count, and a fixed-order Shannon-entropy chain rounded 6dp
    Query("doc_char_dist", (s, dir) =>
      graft.text.TextAnalysis.withCharDistribution(docs(s, dir))
        .select(col("doc_id"), col("n_chars_cd").cast("long").as("n_chars"),
          col("n_char_classes").cast("long").as("n_char_classes"),
          col("char_gini_ppm"), col("char_entropy_b6")),
      // the engine's 38-class chains replayed class by class in the same
      // order: replace() length-diff counts, all-integer Gini, the
      // fixed-order entropy sum — generated from the SAME alphabet constant
      Sql(charDistSql)),
    // Gopher rule gate (Rae et al. 2021 A1.1): the published crawl-filter
    // rule list as per-rule columns + the conjunctive keep flag, over a
    // derived corpus that exercises every rule — symbol-heavy (%9),
    // all-bullet-lines (%11) and ellipsis-end (%13) variants injected
    // deterministically next to the raw docs; map-only codegen string math
    Query("doc_gopher_rules", (s, dir) => {
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
    },
      // the Gopher rule chain replayed verbatim: same derived corpus, same
      // one-split tokenizations, length-diff symbol counts, 6dp-rounded
      // ratios BEFORE the rule comparisons, distinct-stopword intersect
      Sql(s"""WITH base AS (SELECT doc_id,
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
         |FROM r""".stripMargin))
  )
}
