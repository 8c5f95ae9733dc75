package graft.contract

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.contract.ContractFixtures._
import graft.engine._
import graft.text.TextAnalysis

/** Relational-core contract queries (`q*`) over the TPC-H-ish and events
  * tables: aggregation, as-of and range joins, windows, grouping sets, set
  * operations and the stream-join/sessionize twins, each next to its DuckDB
  * oracle. */
private[contract] object RelationalQueries {

  val all: Seq[Query] = Seq(
    // ---- relational core over TPC-H-ish tables (oracle-backed) ----------
    // Revenue sums go through DECIMAL(30,6): the per-row double product is
    // bit-identical in Spark and DuckDB, and the decimal SUM is exact and
    // order-insensitive — immune to partial-agg summation-order drift that
    // can exceed the 4dp rounding grain on ~1e10 sums.
    Query("q1_agg", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(org.apache.spark.sql.types.DecimalType(30, 6))), 4)
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
    },
      Sql("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |CAST(round(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
        |  AS DECIMAL(30,6))), 4) AS DOUBLE) AS sum_disc_price,
        |count(*) AS n_rows FROM lineitem GROUP BY 1, 2""".stripMargin)),
    // backward as-of join: each purchase matched to the user's latest view at
    // or before it — tagged-union + single window pass (one shuffle, no range
    // theta join); oracle = DuckDB's NATIVE ASOF LEFT JOIN, a different
    // algorithm producing the same rows
    Query("q13_asof", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(max("event_id").as("view_eid"),
          max("value").as("view_val"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      AsOf.asofJoin(purchases, views, Seq("user_id"), "ts")
    },
      Sql("""WITH v AS (SELECT user_id, ts, max(event_id) AS view_eid,
        |    max(value) AS view_val
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, p.ts, p.event_id, p.value,
        |  v.ts AS r_ts, v.view_eid AS r_view_eid, v.view_val AS r_view_val
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin)),
    // exact interpolated percentiles (both engines: linear interpolation at
    // rank (n-1)*p) + a distribution sketch check via exact median
    Query("q16_percentile", (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_extendedprice, 0.5)").as("price_p50")),
      Sql("""SELECT l_returnflag,
        |quantile_cont(l_quantity, 0.25) AS p25,
        |quantile_cont(l_quantity, 0.5) AS p50,
        |quantile_cont(l_quantity, 0.9) AS p90,
        |quantile_cont(l_extendedprice, 0.5) AS price_p50
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // pivot: wide per-return-flag sums (explicit value list so the plan is a
    // single pass — no distinct-values pre-query); oracle = conditional aggs
    Query("q15_pivot", (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum("l_quantity")),
      Sql("""SELECT l_linestatus,
        |sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
        |sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
        |sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        |FROM lineitem GROUP BY l_linestatus""".stripMargin)),
    // point-in-interval range join: clicks matched to 2h post-signup windows
    // via banded equi-join + residual BETWEEN (never a theta join); oracle =
    // DuckDB's native inequality join, a different algorithm
    Query("q14_range", (s, dir) => {
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
    },
      Sql("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'click'),
        |w AS (SELECT user_id, event_id AS signup_eid, epoch_us(ts) AS lo,
        |    epoch_us(ts) + 7200000000 AS hi
        |  FROM events WHERE event_type = 'signup')
        |SELECT c.user_id, c.event_id, c.ts_us, w.signup_eid, w.lo
        |FROM c JOIN w ON c.user_id = w.user_id
        |  AND c.ts_us >= w.lo AND c.ts_us <= w.hi""".stripMargin)),
    // grouping-sets family: ROLLUP with grouping() markers (subtotal rows'
    // NULLs disambiguated from data NULLs) — single pass, partial agg per set
    Query("q12_rollup", (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
          grouping("l_returnflag").as("g_rf"), grouping("l_linestatus").as("g_ls")),
      Sql("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |count(*) AS n_rows,
        |CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),
    // value-based (RANGE) window frame: per-supplier trailing-30-day
    // quantity — the frame is defined by ORDER-BY VALUE distance, not row
    // position, so ties (same ship day) are peers and the frame width varies
    // per row; completes §2.8's frame-spec coverage next to q9's ROWS frame
    Query("q17_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("d"))
        .rangeBetween(-30, 0)
      s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("d",
          datediff(col("l_shipdate").cast("date"), lit("1995-01-01").cast("date")))
        .withColumn("qty_30d", sum(col("l_quantity")).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "d", "qty_30d")
    },
      Sql("""SELECT l_suppkey, l_orderkey, l_linenumber, CAST(d AS INT) AS d,
        |sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY d
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS qty_30d
        |FROM (SELECT *, datediff('day', DATE '1995-01-01',
        |  CAST(l_shipdate AS DATE)) AS d FROM lineitem)""".stripMargin)),
    // unpivot/melt — the inverse of q15's pivot, via the native Dataset
    // .unpivot operator (wide flag columns back to (flag, value) rows);
    // nulls dropped explicitly to pin both engines to the same semantics
    Query("q18_unpivot", (s, dir) => {
      val wide = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_linestatus").pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum("l_quantity"))
      wide.unpivot(Array(col("l_linestatus")),
          Array(col("A"), col("N"), col("R")), "flag", "sum_qty")
        .filter(col("sum_qty").isNotNull)
    },
      Sql("""WITH wide AS (SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
        |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        |  FROM lineitem GROUP BY l_linestatus)
        |SELECT l_linestatus, flag, sum_qty
        |FROM wide UNPIVOT (sum_qty FOR flag IN (A, N, R))""".stripMargin)),
    // generator/UDTF surface as its own row: lateral posexplode of the
    // tokenization (one row per token with its position) — the explode
    // runs inside the scan stage (no shuffle), and the oracle re-derives
    // the token lists and zip-aligns positions via parallel unnest
    Query("q19_explode", (s, dir) => {
      val toks = filter(split(lower(col("text")), "[^\\p{L}\\p{Nd}]+"),
        t => length(t) > 0)
      docs(s, dir).filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    },
      Sql("""WITH tok AS (SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^\p{L}\p{Nd}]+'),
        |    x -> length(x) > 0) AS toks
        |  FROM documents WHERE doc_id % 20 = 0)
        |SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos,
        |  unnest(toks) AS tok
        |FROM tok""".stripMargin)),
    // CUBE completes the grouping-sets family next to q12's ROLLUP: all four
    // grouping sets in one pass, subtotal NULLs disambiguated by grouping()
    Query("q20_cube", (s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"),
          grouping("l_returnflag").as("g_rf"), grouping("l_linestatus").as("g_ls")),
      Sql("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |count(*) AS n_rows,
        |CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),
    // INTERSECT completes the set-op family next to q6's EXCEPT
    Query("q21_intersect", (s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet").select(col("p_partkey").as("k"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_quantity") > 45).select(col("l_partkey").as("k"))
      p.intersect(l)
    },
      Sql("""SELECT p_partkey AS k FROM part
        |INTERSECT SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 45""".stripMargin)),
    // correlated scalar subquery (per-brand max) — exercises Catalyst's
    // subquery decorrelation into an aggregate + join; max is order-exact so
    // the double comparison is bit-stable in both engines
    Query("q22_corr_scalar", (s, dir) => {
      s.read.parquet(s"$dir/part.parquet").createOrReplaceTempView("graft_part")
      s.sql("""SELECT p_partkey, p_brand, p_retailprice FROM graft_part p
               WHERE p_retailprice = (SELECT max(p2.p_retailprice)
                 FROM graft_part p2 WHERE p2.p_brand = p.p_brand)""")
    },
      Sql("""SELECT p_partkey, p_brand, p_retailprice FROM part p
        |WHERE p_retailprice = (SELECT max(p2.p_retailprice)
        |  FROM part p2 WHERE p2.p_brand = p.p_brand)""".stripMargin)),
    // correlated NOT EXISTS with an extra non-equi predicate — decorrelates
    // to a left-anti join with a compound condition (q5 covers the plain
    // anti-join; this is the subquery-surface route to it)
    Query("q23_not_exists", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("graft_orders")
      s.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("graft_lineitem")
      s.sql("""SELECT o_orderkey, o_totalprice FROM graft_orders o
               WHERE o_totalprice > 100000 AND NOT EXISTS (
                 SELECT 1 FROM graft_lineitem l
                 WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)""")
    },
      Sql("""SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 100000 AND NOT EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)""".stripMargin)),
    // analytic-function family: lag/lead/ntile/first_value over a unique
    // (date, key) ordering so every engine agrees on ties
    Query("q24_analytic", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"),
          first(col("o_orderkey")).over(w).as("first_key"))
    },
      Sql("""SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(o_orderkey) OVER w AS first_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),
    // higher-order array functions (transform/filter/aggregate/exists) over
    // the shared tokenizer — DuckDB recomputes them with its list lambdas
    Query("q25_higher_order", (s, dir) => {
      val toks = graft.text.TextAnalysis.tokens(col("text"))
      docs(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          size(filter(toks, t => length(t) > 3)).as("n_long"),
          aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
            .as("total_len"),
          coalesce(array_max(transform(toks, t => length(t))), lit(0))
            .as("max_len"),
          exists(toks, t => t === "the").as("has_the"))
    },
      Sql("""WITH t AS (SELECT doc_id, list_filter(
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
        |FROM t""".stripMargin)),
    Query("q2_join_topk", (s, dir) => {
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
    },
      Sql("""SELECT l_orderkey, CAST(round(sum(CAST(l_extendedprice
        |  * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(30,6))), 4) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Query("q3_window", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    },
      Sql("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin)),
    Query("q4_semijoin", (s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet").filter(col("l_quantity") > 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    },
      Sql("""SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY 1""".stripMargin)),
    Query("q5_antijoin", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 450000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
    },
      Sql("""SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > CAST(450000.0 AS DOUBLE))
        |GROUP BY 1""".stripMargin)),
    Query("q6_setop", (s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet").select(col("p_partkey").as("k"))
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .filter(col("l_quantity") > 45).select(col("l_partkey").as("k"))
      p.except(l)
    },
      Sql("""SELECT p_partkey AS k FROM part
        |EXCEPT SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 45""".stripMargin)),
    Query("q7_events_agg", (s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    },
      Sql("""SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n_events,
        |count(DISTINCT user_id) AS n_users FROM events GROUP BY 1, 2""".stripMargin)),
    Query("q8_scalar_fns", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head10"),
        length(col("text")).as("len"),
        (col("n_chars") % 7).as("mod7"),
        concat_ws("-", col("lang"), col("source")).as("tag"))
    },
      Sql("""SELECT doc_id, upper(substr(text, 1, 10)) AS head10, length(text) AS len,
        |n_chars % 7 AS mod7, concat_ws('-', lang, source) AS tag FROM documents""".stripMargin)),
    Query("q9_running_window", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    },
      Sql("""SELECT l_suppkey, l_orderkey, l_linenumber,
        |sum(l_quantity) OVER (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem""".stripMargin)),
    // STREAM-STREAM interval join under the contract (the third streaming
    // shape next to stateful-agg forward and stateless reverse): views and
    // clicks of the events table as two watermarked streams, inner-joined on
    // user within a 10-minute event-time horizon, run for real under
    // Trigger.AvailableNow. Inner joins emit on match (no finalization
    // clause), and the watermark is set wider than the table's span so no
    // state evicts mid-replay — the oracle is exactly the batch interval
    // join. (Bounded-watermark eviction semantics are covered by
    // StreamingSpec's multi-micro-batch test.)
    Query("q22_stream_join", (s, dir) => {
      val evPath = oracleStreamDir(s, dir, "events")
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
      drainStream(s, out, "stream_join", stateSizedBy = Some(evPath))
    },
      Sql("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  epoch_us(view_ts) AS view_us, epoch_us(click_ts) AS click_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND click_ts >= view_ts
        |  AND click_ts <= view_ts + INTERVAL '10 minutes'""".stripMargin)),

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
    Query("q11_stream_sessionize", (s, dir) => {
      val evPath = oracleStreamDir(s, dir, "events")
      val schema = s.read.parquet(evPath).schema
      val src = s.readStream.schema(schema).parquet(evPath)
      val out = graft.streaming.StreamGeocode
        .sessionizeStream(s, src, gapMinutes = 30, watermark = "0 seconds")
        .toDF()
        .select(col("user_id"), col("n_events"),
          unix_micros(col("sess_start")).as("sess_start_us"),
          unix_micros(col("sess_end")).as("sess_end_us"))
      drainStream(s, out, "stream_sess", stateSizedBy = Some(evPath))
    },
      // streaming sessionization: batch gaps-and-islands (same 30-min gap as
      // q11_sessionize) + the AvailableNow finalization rule — every
      // gap-closed session emits in-batch; each user's LAST session emits iff
      // its event-time-timeout deadline, floor((end_us + gap_us)/1000) ms, is
      // STRICTLY below the final watermark floor(max_event_us/1000) ms
      // (delay 0; Spark fires a timeout only when the watermark passes it)
      Sql("""WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us,
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
        |WHERE rn > 1 OR (sess_end_us + 1800000000) // 1000 < wm_ms""".stripMargin)),
    Query("q11_sessionize", (s, dir) => {
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
    },
      Sql("""WITH e AS (SELECT user_id, event_id, ts,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
        |    THEN 1 ELSE 0 END AS new_sess FROM events),
        |s AS (SELECT user_id, ts,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM e)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS sess_start, max(ts) AS sess_end
        |FROM s GROUP BY 1, 2""".stripMargin)),
    Query("q10_skew_salted", (s, dir) => {
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
    },
      Sql("""WITH big AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |  CASE WHEN l_orderkey % 4 < 2 THEN 0 ELSE l_orderkey % 25 END AS k
        |  FROM lineitem)
        |SELECT n_name, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM big JOIN nation ON k = n_nationkey GROUP BY 1""".stripMargin))
  )
}
