package graft.contract

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.contract.ContractFixtures._
import graft.dedup.Dedup
import graft.engine._
import graft.fixtures.Synth
import graft.multimodal.Multimodal
import graft.sim.Similarity

/** Vector contract queries (`emb_*`, `sim_*`, `mm_*`): kNN variants,
  * clustering, quantization, PCA, bitext mining, similarity joins and the
  * multimodal rows, each next to its DuckDB oracle or marked rows-only. */
private[contract] object VectorQueries {

  private def embs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")

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

  val all: Seq[Query] = Seq(
    Query("emb_neardup_cosine", (s, dir) => {
      val base = embs(s, dir).select(col("vec_id"), col("embedding"))
      val withDups = base.unionByName(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDupPairs(withDups, threshold = 0.999)
        .withColumn("cos", round(col("cos"), 6))
    },
      RowsOnly),
    // embedding near-dup with the PORTABLE sha256-derived Rademacher planes:
    // plane matrix, projections, bucket keys, and cosine verify all
    // re-derived by the oracle — the sketch plan itself is oracle-proven
    Query("emb_neardup_portable", (s, dir) => {
      val base = embs(s, dir).select(col("vec_id"), col("embedding"))
      val withDups = base.unionByName(base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")))
      Dedup.portableEmbeddingNearDupPairs(withDups, threshold = 0.999)
        .withColumn("cos", round(col("cos"), 6))
    },
      // portable embedding LSH: planes re-derived from sha256 (hex fold to a
      // 60-bit long, parity -> +-1), projections as ordered list_sum folds
      // (bit-identical to the engine's left-fold aggregate), capped bucket
      // join, exact-cosine verify per the brute-force template
      Sql("""WITH emb2 AS (SELECT vec_id, embedding FROM embeddings
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
        |WHERE cos >= CAST(0.999 AS DOUBLE)""".stripMargin)),
    Query("emb_knn_brute", (s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceKnn(e.filter(col("vec_id") < 8), e, k = 5)
        .withColumn("cos", round(col("cos"), 6))
    },
      // exactness note: DuckDB list_sum over the CAST-to-DOUBLE elements
      // accumulates left-to-right like VecCore.dot, so the cosine is
      // bit-identical (validated empirically) and rank order matches exactly
      Sql(EmbKnnBruteSql)),
    // MMR diversified top-4 over the brute top-10 shortlist (Carbonell &
    // Goldstein 1998): relevance and pairwise sims enter as ppm BIGINTs
    // (one round() from the validated cosine chain), every greedy pick is
    // exact integer argmax with min-id ties; shortlist + pair tables
    // persisted — they are read once per round. DuckDB unrolls all four
    // greedy rounds as CTEs.
    Query("emb_mmr", (s, dir) => {
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
    },
      Sql(mmrSql(4))),
    Query("emb_knn_lsh", (s, dir) => {
      val e = embs(s, dir)
      Similarity.lshKnn(e.filter(col("vec_id") < 8), e, k = 5, bits = 12, tables = 6)
        .withColumn("cos", round(col("cos"), 6))
    },
      RowsOnly),
    // int8 scalar-quantized ANN (SQ8): per-vector symmetric codes, exact
    // integer dots, one double descale per pair — the 4x memory-bandwidth
    // lever for the corpus scan at 10^12 vectors. Everything past
    // quantization is exact integer math, so DuckDB re-derives codes, dots,
    // scores, and ranks bit-for-bit from the same floats
    Query("emb_knn_int8", (s, dir) => {
      val e = embs(s, dir)
      graft.sim.Quantize.int8Knn(e.filter(col("vec_id") < 8), e, k = 5)
        .withColumn("score", round(col("score"), 6))
    },
      // SQ8 replay: codes (ties-away round of x*127/maxAbs), exact integer
      // dots, descaled scores, ranks — all re-derived from the raw floats
      Sql(s"""WITH $Int8Ctes,
        |sc AS (SELECT query_id, item_id, idot,
        |    (qmx / CAST(127.0 AS DOUBLE)) * (cmx / CAST(127.0 AS DOUBLE))
        |      * CAST(idot AS DOUBLE) AS score
        |  FROM s),
        |r AS (SELECT query_id, item_id, idot, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id)
        |      AS rn FROM sc)
        |SELECT query_id, CAST(rn AS INT) AS knn_rank, item_id, idot,
        |  round(score, 6) AS score
        |FROM r WHERE rn <= 5""".stripMargin)),
    // two-phase SQ8: int8 shortlist (20) then exact float-cosine re-rank to
    // top-5 — the full-precision table is read only shortlist-deep per
    // query; the oracle replays both phases
    Query("emb_knn_int8_rerank", (s, dir) => {
      val e = embs(s, dir)
      graft.sim.Quantize.int8RerankKnn(e.filter(col("vec_id") < 8), e,
          k = 5, shortlist = 20)
        .withColumn("cos", round(col("cos"), 6))
    },
      // both phases replayed: the int8 shortlist of 20, then the exact
      // float-cosine re-rank (same IEEE chain as EmbKnnBruteSql) to top-5
      Sql(s"""WITH $Int8Ctes,
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
        |FROM rr WHERE rn <= 5""".stripMargin)),
    // product quantization with ADC: the corpus scans as 4-byte PQ codes
    // (1/64th of float32 at dim=64), queries carry precomputed integer
    // lookup tables, scoring is an m-length gather-and-add. Codebooks are
    // seed-sampled (ks lowest-id vectors at the global int8 scale) so the
    // WHOLE chain — scale, codes, assignments, estimates, ranks — is exact
    // integer math DuckDB re-derives from the raw floats
    Query("emb_knn_pq", (s, dir) => {
      val e = embs(s, dir)
      graft.sim.Quantize.pqKnn(e.filter(col("vec_id") < 8), e, k = 5, m = 4, ks = 16)
        .withColumn("score", round(col("score"), 6))
    },
      // PQ-ADC replay: global scale, clamped global-scale codes, seed-sampled
      // codebooks (ORDER BY vec_id LIMIT ks), integer-L2 subspace assignment
      // (ties to the lowest centroid index), exact integer ADC estimates
      // (sum over subspaces of subvector-centroid dots == Spark's LUT gather),
      // descaled scores, ranks — every integer, so no IEEE-order caveats
      Sql(EmbKnnPqSql)),
    // IVF + PQ composed (the FAISS IVFADC shape): coarse routing into
    // posting lists + PQ-code scoring. nprobe = nlist here so routing is
    // EXHAUSTIVE and the composed plan provably reproduces the flat PQ-ADC
    // oracle bit-for-bit; nprobe < nlist is the sub-linear deployment shape
    // (recall spec-tested), with the codes persisted list-bucketed at world
    // scale (writeIvfBucketed's layout)
    Query("emb_knn_ivfpq", (s, dir) => {
      val e = embs(s, dir)
      graft.sim.Quantize.ivfPqKnn(e.filter(col("vec_id") < 8), e, k = 5,
          nlist = 8, nprobe = 8, m = 4, ks = 16)
        .withColumn("score", round(col("score"), 6))
    },
      // IVF+PQ probes ALL nlist lists in the contract query (exhaustive), so
      // coarse routing cannot drop any candidate and the composed plan must
      // reproduce the flat PQ-ADC result bit-for-bit — the same argument that
      // lets emb_knn_ivf share the brute-force oracle
      Sql(EmbKnnPqSql)),
    // IVF scale path: nprobe = nlist here so the posting-list plan is
    // EXHAUSTIVE and provably equals the brute-force oracle — the same
    // operator at nprobe < nlist is the sub-linear deployment shape
    // (recall asserted on planted clusters in TrainingOpsSpec)
    Query("emb_knn_ivf", (s, dir) => {
      val e = embs(s, dir)
      // iters=1: the exhaustive probe's RESULT is centroid-independent (all
      // lists scored), so one Lloyd pass suffices to exercise the train +
      // assign + posting-list-join plan without paying extra driver rounds
      Similarity.ivfKnn(e.filter(col("vec_id") < 8), e, k = 5,
          nlist = 16, nprobe = 16, iters = 1)
        .withColumn("cos", round(col("cos"), 6))
    },
      // the IVF contract query probes ALL nlist lists (exhaustive), so the
      // posting-list plan must reproduce the brute-force top-k bit-for-bit
      Sql(EmbKnnBruteSql)),
    // LSH-kNN with the PORTABLE sha256 hyperplane family: corpus bucket
    // keys, query multi-probe (key + all 1-bit flips), candidate set, exact
    // cosine, and rank are ALL recomputed by the oracle — the oracle-backed
    // sibling of emb_knn_lsh (identical plan shape, portable hashes)
    Query("emb_knn_lsh_portable", (s, dir) => {
      val e = embs(s, dir)
      Similarity.portableLshKnn(e.filter(col("vec_id") < 8), e, k = 5,
          dim = 64, bits = 8, tables = 4)
        .withColumn("cos", round(col("cos"), 6))
    },
      // the full portable LSH-kNN plan recomputed from raw vectors: sha256
      // Rademacher planes ('hp:t:j:d', the emb_neardup_portable family),
      // ordered-fold projections, per-table bucket keys, multi-probe = key
      // plus all 1-bit flips, distinct collision candidates, exact cosine,
      // rank — bit-for-bit the engine's portableLshKnn
      Sql(EmbKnnLshPortableSql)),
    // recall@5 audit of the portable-LSH path against exact brute force —
    // the "no silent caps" observability row: a banded/bucketed ANN path
    // must REPORT its recall, never imply completeness. Integral ppm so the
    // figure is engine-independent; left joins so a query whose LSH probe
    // found nothing still reports recall 0.
    Query("emb_ann_recall", (s, dir) => {
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
    },
      // recall@5 audit of the portable LSH path against exact brute force —
      // the "no silent caps" observability row: a capped/banded ANN path must
      // REPORT its recall, not imply completeness. Both sides are themselves
      // oracle-backed rows; the oracle recomputes both chains and the join.
      Sql(s"""WITH b AS (SELECT query_id, item_id FROM ($EmbKnnBruteSql) zb),
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
         |LEFT JOIN h ON h.query_id = bc.query_id""".stripMargin)),
    // the world-scale IVF layout under the contract: posting lists persisted
    // as a list-bucketed table (write amortizes like the packed polygon
    // index), queries bucket-prune the scan via a driver-resolved IN filter;
    // exhaustive probe (nprobe = nlist) makes it provably equal to the
    // brute-force oracle, while the plan is the zero-corpus-exchange
    // deployment shape (plan-asserted in ScaleFixesSpec)
    Query("emb_knn_ivf_bucketed", (s, dir) => {
      val e = embs(s, dir)
      val cents = Similarity.trainIvfCentroids(e, nlist = 16, iters = 1)
      Similarity.writeIvfBucketed(s, e, cents, "graft_ivf_contract",
        s"$OracleDir/ivf_bucketed", buckets = 8)
      Similarity.ivfKnnBucketed(s, "graft_ivf_contract",
          e.filter(col("vec_id") < 8), k = 5, nprobe = 16, cents)
        .withColumn("cos", round(col("cos"), 6))
    },
      // same exhaustive-probe argument for the BUCKETED-layout variant: the
      // persisted posting-list table + bucket-pruned scan must reproduce the
      // brute-force top-k exactly
      Sql(EmbKnnBruteSql)),
    // the PERSISTED world-scale IVF+PQ layout under the contract: coarse
    // lists + PQ codes written once as a list-bucketed table (the
    // m-bytes-per-vector product), probe lists pushed as an IN filter so the
    // scan bucket-prunes with zero codes-side exchange (plan-asserted in
    // QuantizeSpec); exhaustive probing (nprobe = nlist) makes it provably
    // reproduce the flat PQ-ADC oracle
    Query("emb_knn_ivfpq_bucketed", (s, dir) => {
      val e = embs(s, dir)
      val cents = Similarity.trainIvfCentroids(e, nlist = 8, iters = 1)
      val (scale, books) = graft.sim.Quantize.pqTrainBooks(e, ks = 16)
      graft.sim.Quantize.writeIvfPqBucketed(s, e, cents, scale, books,
        "graft_ivfpq_contract", s"$OracleDir/ivfpq_bucketed", buckets = 4)
      graft.sim.Quantize.ivfPqKnnBucketed(s, "graft_ivfpq_contract",
          e.filter(col("vec_id") < 8), k = 5, nprobe = 8, cents, scale, books)
        .withColumn("score", round(col("score"), 6))
    },
      // the persisted list-bucketed IVF+PQ layout, probed exhaustively, must
      // also reproduce the flat PQ-ADC result bit-for-bit — same argument as
      // emb_knn_ivf_bucketed sharing the brute-force oracle
      Sql(EmbKnnPqSql)),
    // margin-based bitext mining (the Artetxe & Schwenk ratio-margin shape):
    // best-margin target per source vector over two brute-kNN directions,
    // 7dp-DECIMAL neighborhood sums, one fixed-order margin division, a
    // 6dp-rounded gate, and the two-way mutuality flag — the WHOLE chain is
    // re-derived by the oracle. The kNN stage is pluggable (IVF/LSH at
    // world scale); brute here makes the contract row exact
    Query("emb_bitext_mine", (s, dir) => {
      // the embeddings table is one small parquet file, so both brute-kNN
      // corpus scans (the ~n_src x n_tgt cosine work) ran in ONE task; the
      // keyed N-way repartition spreads them across the session's
      // parallelism (guide §2 — measured 2.2 task-seconds serialized)
      val e = spread(embs(s, dir), col("vec_id"))
      graft.sim.BitextMine.mine(
          e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
          k = 3, minMargin = 1.02)
        .select(col("src_id"), col("tgt_id"), round(col("cos"), 6).as("cos"),
          round(col("margin"), 6).as("margin"), col("mutual"))
    },
      Sql(EmbBitextSql)),
    Query("mm_binary_meta", (s, dir) =>
      Multimodal.withBinaryMeta(oraclePages(s, dir))
        .select("url", "bin_len", "mime", "content_hash"),
      // mime sniff re-expressed as hex-prefix compares (this DuckDB build has no
      // BLOB slicing); sha256 over decode(html) hashes the same UTF-8 bytes the
      // engine's sha2(binary) hashes — the synth corpus is valid UTF-8, which is
      // an oracle-side-only constraint
      Sql(s"""SELECT url, CAST(octet_length(html) AS BIGINT) AS bin_len,
         |  CASE
         |    WHEN substr(hex(html), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
         |    WHEN substr(hex(html), 1, 8) = '89504E47' THEN 'image/png'
         |    WHEN substr(hex(html), 1, 6) = '474946' THEN 'image/gif'
         |    WHEN substr(hex(html), 1, 8) = '52494646' THEN 'audio/wav'
         |    WHEN substr(hex(html), 9, 8) = '66747970' THEN 'video/mp4'
         |    WHEN substr(hex(html), 1, 2) = '3C' THEN 'text/html'
         |    ELSE 'application/octet-stream' END AS mime,
         |  sha256(decode(html)) AS content_hash
         |FROM read_parquet('$OracleDir/pages/*.parquet')""".stripMargin)),
    Query("mm_features", (s, dir) =>
      Multimodal.withFeatures(Synth.pagesDF(s, dir).limit(1000), dim = 16)
        .select(col("url"), round(graft.functions.TextFunctions.vnorm(col("features")), 6)
          .as("feat_norm")),
      RowsOnly),
    // feature plumbing with sha256-derived pseudo-features — vector values
    // and the ordered-fold norm recomputed bit-for-bit by the oracle; input
    // subset by the deterministic url index (17 sha256 per row adds up at
    // larger sf — the full-corpus shape is covered by mm_binary_meta)
    // frame-sampling plumbing: N evenly spaced byte-range slices per payload
    // (the video-frame partition/batch shape with the codec swapped for
    // substring slicing); offsets, slice lengths, and full-slice content
    // (as a sha60 over the hex) all re-derived by the oracle from its own
    // hex() of the same bytes — UTF-8-safe (no byte slice is ever decoded)
    Query("mm_frame_sample", (s, dir) =>
      Multimodal.sampleFrames(oraclePages(s, dir), frames = 4)
        .select(col("url"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          graft.functions.TextFunctions.sha60(hex(col("frame")))
            .as("frame_sha60")),
      // frame slicing replayed over DuckDB's own hex(): byte offset off =
      // floor(idx*olen/4)+1 (both engines truncate the positive double), byte
      // slice [off, flen] = hex slice [(off-1)*2+1, flen*2], content checked
      // by the portable sha60 over the hex string
      Sql(s"""WITH p AS (SELECT url, hex(html) AS hx, octet_length(html) AS olen
         |  FROM read_parquet('$OracleDir/pages/*.parquet')),
         |f AS (SELECT url, unnest([0, 1, 2, 3]) AS frame_idx, hx, olen FROM p),
         |g AS (SELECT url, frame_idx, olen, hx,
         |    CAST(floor((frame_idx * olen) / 4.0) AS INT) + 1 AS off,
         |    greatest(olen // 4, 1) AS flen FROM f)
         |SELECT url, CAST(frame_idx AS INT) AS frame_idx,
         |  CAST(least(flen, greatest(olen - off + 1, 0)) AS BIGINT) AS frame_len,
         |  ${sha60Sql("substr(hx, (off - 1) * 2 + 1, flen * 2)")} AS frame_sha60
         |FROM g""".stripMargin)),
    Query("mm_features_portable", (s, dir) =>
      Multimodal.withPortableFeatures(
        oraclePages(s, dir)
          .filter(regexp_extract(col("url"), "([0-9]+)$", 1).cast("int") % 10 === 0),
        dim = 16)
        .select(col("url"), round(col("feat_norm"), 6).as("feat_norm")),
      // portable multimodal features: base = sha256 hex of the payload (same
      // bytes both engines — mm_binary_meta's validated decode() equivalence);
      // f_i parsed from sha256(base ':' i); norm is an ordered left fold
      Sql(s"""WITH b AS (SELECT url, sha256(decode(html)) AS base
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
        |FROM f""".stripMargin)),
    Query("sim_band_join", (s, dir) => {
      // the LSH band-bucket candidate plan (band self-join + pair rollup)
      // over integer-derived signatures — the relational scaffolding of
      // Dedup.minhashLshPairs, oracle-checkable end to end.
      // Parallelism notes (opt guide §2): the docs table is a single small
      // file, so without the keyed repartition the ENTIRE pair fan-out
      // (~40x the input) ran inside one scan task; and the pair rollup's
      // exchange carries mostly-distinct (doc_a, doc_b) keys whose bytes
      // AQE would coalesce into one reducer — the explicit N-way
      // repartition on the EXACT group keys keeps the heavy aggregation
      // parallel and is reused by groupBy (no extra exchange). Both are
      // `spread`: N follows the session's shuffle-partition setting.
      val bands = spread(docs(s, dir).select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(15)),
          j => pmod(col("doc_id"), j.cast("long") + 20)))
          .as(Seq("band_idx", "band_hash")))
      val a = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
      val b = bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash"))
      spread(a.join(b, Seq("band_idx", "band_hash"))
        .filter(col("doc_a") < col("doc_b")), col("doc_a"), col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
        .filter(col("n_bands") >= 2)
    },
      Sql("""WITH bands AS (SELECT doc_id, j, doc_id % (j + 20) AS h
        |  FROM documents, range(16) t(j)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
        |  FROM bands a JOIN bands b ON a.j = b.j AND a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_bands FROM p WHERE n_bands >= 2""".stripMargin)),
    // SemDeDup representative selection: scaled-integer centroid per label
    // (exact floored mean), exact long dots/norms, one fixed-order float
    // chain into the rounded cosine; rep = max cosine, ties to smallest id
    // Lloyd k-means over the embeddings (the IVF-coarse-quantizer trainer):
    // per round a MAP-ONLY literal-centroid assignment + ONE combinable
    // (cluster,pos) aggregation; exact scaled-integer math end to end
    Query("emb_kmeans", (s, dir) =>
      graft.sim.KMeans.kmeans(embs(s, dir), col("vec_id"), col("embedding"),
        k = 8, rounds = 3),
      // DuckDB replays the scaled-integer centroid (exact floored mean), the
      // exact long dots/norms, and the one fixed-order float chain; the rep
      // pick is re-derived by a DIFFERENT algorithm (row_number window vs the
      // engine's combinable min(struct))
      // Lloyd k-means replay: 3 unrolled rounds + final assignment
      Sql(kmeansSql(8, 3))),
    // dominant principal direction by power iteration in exact fixed-point:
    // per-round map-only projection (direction = plan literal) + ONE
    // combinable per-dimension aggregation; infinity-norm renormalization
    // keeps every step in sign-split integer division
    Query("emb_pca_power", (s, dir) =>
      graft.sim.Pca.powerIteration(embs(s, dir), col("vec_id"),
        col("embedding"), rounds = 3),
      Sql(pcaSql(3))),
    // PC1 removal (whitening) over the common denominator v.v — residuals
    // are exact rationals, orthogonal to the direction by INTEGER identity
    Query("emb_whiten", (s, dir) =>
      graft.sim.Pca.removeDominant(embs(s, dir), col("vec_id"),
        col("embedding"), rounds = 3),
      Sql(whitenSql(3))),
    // signed random projection (JL transform, +-1 Achlioptas matrix derived
    // from the portable sha60 — never stored): 16 map-only literal-array
    // dots, zero shuffle; the oracle recomputes it explode-join-group
    Query("emb_srp", (s, dir) =>
      graft.sim.RandomProjection.project(embs(s, dir), col("vec_id"),
        col("embedding"), outDims = 16),
      // the +-1 matrix re-derived from each (k, i) sha60 and applied the
      // OPPOSITE way (explode x sign-join x group vs the engine's map-only
      // literal dots) — two algorithms, one exact result
      Sql(s"""WITH e AS (SELECT vec_id,
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
         |FROM e JOIN signs ON signs.i = e.pos GROUP BY 1, 2""".stripMargin)),
    // cluster-balanced diversity sampling: k-means assignment -> up to 16
    // members per cluster by a deterministic sha60 priority (the
    // capPerStratum bounded window) — the "sample evenly across semantic
    // clusters" step that follows k-means in a curation pipeline
    Query("emb_cluster_sample", (s, dir) => {
      val asg = graft.sim.KMeans.kmeans(embs(s, dir), col("vec_id"),
        col("embedding"), k = 8, rounds = 3)
      val pri = graft.functions.TextFunctions.sha60(col("vec_id").cast("string"))
      graft.text.Corpus.capPerStratum(asg.withColumn("prio", pri),
          col("cluster"), col("vec_id"), col("prio"), n = 16)
        .select(col("vec_id"), col("cluster"), col("prio"), col("strat_rank"))
    },
      // cluster-balanced sampling: the kmeans replay + the same sha60
      // priority and per-cluster rank rule
      Sql(s"""WITH km AS (${kmeansSql(8, 3)}),
         |p AS (SELECT vec_id, cluster,
         |    ${sha60Sql("CAST(vec_id AS VARCHAR)")} AS prio FROM km),
         |r AS (SELECT vec_id, cluster, prio,
         |    CAST(row_number() OVER (PARTITION BY cluster
         |      ORDER BY prio DESC, vec_id) AS INT) AS strat_rank FROM p)
         |SELECT vec_id, cluster, prio, strat_rank FROM r
         |WHERE strat_rank <= 16""".stripMargin)),
    // checkpoint-resumed k-means (fifth resumable iterative op): kill after
    // round 2, rerun serves blocks i0..i2 from checkpoint (resumed_stages=3
    // gated by the oracle) and trains only round 3; final assignment is the
    // bit-exact DuckDB replay of emb_kmeans
    Query("emb_kmeans_resume", (s, dir) => {
      val e = embs(s, dir)
      val fp = s"embs|$dir"
      coldThenResume(s, "ckpt_kmeans", coldRounds = 2, rounds = 3)((ck, rounds) =>
        graft.sim.KMeans.kmeansResumable(s, e, col("vec_id"), col("embedding"),
          k = 8, rounds, ck, fp))
    },
      // same bit-exact replay; resumed_stages=3 gates that the rerun served
      // blocks i0..i2 from checkpoint instead of recomputing them
      Sql(s"""SELECT vec_id, cluster, dist_scaled,
         |  CAST(3 AS BIGINT) AS resumed_stages
         |FROM (${kmeansSql(8, 3)})""".stripMargin)),
    Query("emb_semantic_rep", (s, dir) =>
      graft.sim.SemDedup.representatives(embs(s, dir),
        col("vec_id"), col("label"), col("embedding"), closeThreshold = 0.8),
      Sql("""WITH ex AS (SELECT vec_id AS id, label AS lab,
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
        |FROM g JOIN r ON r.lab = g.lab AND r.rn = 1""".stripMargin))
  )
}
