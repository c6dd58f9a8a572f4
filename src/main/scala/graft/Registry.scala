package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine._

/** Single source of truth binding each declared operator (SURVEY.md §2C/§2D)
  * to (a) its Spark implementation and (b) its DuckDB oracle SQL. The
  * driver runs both over the same parquet and hash-compares; column names
  * and value representations are kept identical by construction (exact
  * decimal arithmetic, bit-deterministic doubles — see Relational docs).
  */
object Registry {
  import Registry0.{Entry, e, eRawDims}

  val relational: Seq[(String, Entry)] = Seq(
    "q_scan_project" -> e(Relational.scanProject,
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(l_quantity AS DECIMAL(10,2)) AS DOUBLE) AS qty20,
        | CAST(CAST(l_extendedprice AS DECIMAL(10,2)) AS DOUBLE) AS price20
        |FROM lineitem ORDER BY 1, 2, 3, 4""".stripMargin),

    "q_filter" -> e(Relational.filterRange,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '2000-07-01 00:00:00'
        |  AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 25
        |ORDER BY 1, 2, 3, 4""".stripMargin),

    "q_delete_filter" -> e(Relational.deleteFilter,
      // NOT COALESCE(pred, FALSE): DELETE removes only IS-TRUE rows, so
      // NULL-predicate rows stay — mirrors Mutations.deleteWhere
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE NOT COALESCE(l_returnflag = 'A' AND l_quantity >= 30.0, FALSE)
        |ORDER BY 1, 2, 3, 4""".stripMargin),

    "q_join_inner" -> e(Relational.joinInner,
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F'
        |ORDER BY 1, 2, 3, 4, 5""".stripMargin),

    "q_join_multi" -> e(Relational.joinMulti,
      """SELECT r_name, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |          * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN orders   ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation   ON c_nationkey = n_nationkey
        | JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_join_partsupp" -> e(Relational.joinPartSupp,
      """SELECT p_brand, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |          * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN part     ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation   ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_join_left" -> e(Relational.joinLeft,
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1, 2 ORDER BY c_custkey""".stripMargin),

    "q_join_semi" -> e(Relational.joinSemi,
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey IN
        | (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin),

    "q_join_anti" -> e(Relational.joinAnti,
      // NOT EXISTS, not NOT IN: a NULL key on the subquery side empties
      // NOT IN (three-valued logic) while left_anti ignores it
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS
        | (SELECT 1 FROM orders
        |  WHERE o_orderstatus = 'P' AND o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    "q_agg_group" -> e(Relational.aggGroup,
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) AS sum_base,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |          * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS sum_disc,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |          * (1 - CAST(l_discount AS DECIMAL(10,2)))
        |          * (1 + CAST(l_tax AS DECIMAL(10,2)))) AS DOUBLE) AS sum_charge,
        | CAST(sum(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))) AS DOUBLE) / count(*) AS avg_price,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_agg_distinct" -> e(Relational.aggDistinct,
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
        | count(DISTINCT o_orderstatus) AS n_status, count(*) AS n_ord
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_agg_rollup" -> e(Relational.aggRollup,
      """SELECT COALESCE(r_name, 'ALL') AS region_name,
        | COALESCE(n_name, 'ALL') AS nation_name,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS total,
        | count(*) AS n,
        | CAST(grouping(r_name) AS INT) AS g_r, CAST(grouping(n_name) AS INT) AS g_n
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation   ON c_nationkey = n_nationkey
        | JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region_name, nation_name, g_r, g_n""".stripMargin),

    "q_window_rank" -> e(Relational.windowRank,
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        | FROM orders) x
        |WHERE rk <= 3 ORDER BY o_custkey, rk, o_orderkey""".stripMargin),

    "q_window_running" -> e(Relational.windowRunning,
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) OVER (
        |   PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey, o_totalprice
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS run_total
        |FROM orders
        |ORDER BY o_custkey, o_orderkey, run_total""".stripMargin),

    "q_sort_limit" -> e(Relational.sortLimit,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    "q_set_ops" -> e(Relational.setOps,
      """WITH a AS (SELECT o_custkey FROM orders WHERE o_totalprice > 430000.0),
        | b AS (SELECT o_custkey FROM orders
        |       WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 350000.0)
        |SELECT 'union' AS op, o_custkey FROM (SELECT DISTINCT o_custkey FROM
        |  (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b) u0) u
        |UNION ALL
        |SELECT 'intersect' AS op, o_custkey FROM (SELECT o_custkey FROM a
        |  INTERSECT SELECT o_custkey FROM b) i
        |UNION ALL
        |SELECT 'except' AS op, o_custkey FROM (SELECT o_custkey FROM a
        |  EXCEPT SELECT o_custkey FROM b) x
        |ORDER BY op, o_custkey""".stripMargin),

    "q_scalar_funcs" -> e(Relational.scalarFuncs,
      """SELECT o_orderkey,
        | upper(c_name) AS up_name,
        | substring(c_name, 1, 8) AS pre8,
        | c_mktsegment || '#' || c_name AS tagged,
        | CAST(length(c_name) AS BIGINT) AS name_len,
        | CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(month(o_orderdate) AS BIGINT) AS mon,
        | CAST(day(o_orderdate) AS BIGINT) AS dy,
        | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |   AS days_since,
        | CAST(abs(CAST(c_acctbal AS DECIMAL(10,2))) AS DOUBLE) AS abs_bal,
        | CAST(round(CAST(c_acctbal AS DECIMAL(10,2)), 1) AS DOUBLE) AS round1_bal,
        | CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign_bal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin),

    "q_update_join" -> e(Relational.updateJoin,
      """WITH t AS (SELECT c_custkey, c_name,
        |   CAST(c_acctbal AS DECIMAL(10,2)) AS c_acctbal, c_mktsegment
        |  FROM customer),
        | u AS (SELECT c_custkey, 'UPD_' || c_name AS c_name,
        |   c_acctbal + CAST(100.00 AS DECIMAL(10,2)) AS c_acctbal
        |  FROM t WHERE c_custkey % 7 = 0)
        |SELECT t.c_custkey, COALESCE(u.c_name, t.c_name) AS c_name,
        | CAST(COALESCE(u.c_acctbal, t.c_acctbal) AS DOUBLE) AS bal6,
        | t.c_mktsegment
        |FROM t LEFT JOIN u ON t.c_custkey = u.c_custkey
        |ORDER BY t.c_custkey""".stripMargin),

    "q_agg_cube" -> e(Relational.aggCube,
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        | COALESCE(o_orderpriority, 'ALL') AS priority,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS total,
        | count(*) AS n,
        | CAST(grouping(o_orderstatus) AS INT) AS g_s,
        | CAST(grouping(o_orderpriority) AS INT) AS g_p
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority, g_s, g_p""".stripMargin),

    "q_grouping_sets" -> e(Relational.aggGroupingSets,
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        | COALESCE(o_orderpriority, 'ALL') AS priority,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS total,
        | count(*) AS n,
        | CAST(grouping(o_orderstatus) AS INT) AS g_s,
        | CAST(grouping(o_orderpriority) AS INT) AS g_p
        |FROM orders GROUP BY GROUPING SETS (
        | (o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority, g_s, g_p""".stripMargin),

    "q_salted_agg" -> e(Relational.saltedAgg,
      """WITH p AS (SELECT l_returnflag, l_linestatus,
        |   l_orderkey % 16 AS salt,
        |   sum(CAST(l_quantity AS DECIMAL(10,2))) AS pq,
        |   sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |       * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS pr,
        |   count(*) AS pn
        |  FROM lineitem GROUP BY 1, 2, 3)
        |SELECT l_returnflag, l_linestatus,
        | CAST(sum(pq) AS DOUBLE) AS sum_qty,
        | CAST(sum(pr) AS DOUBLE) AS sum_disc,
        | CAST(sum(pn) AS BIGINT) AS n_rows,
        | count(DISTINCT salt) AS n_salts
        |FROM p GROUP BY 1, 2
        |ORDER BY l_returnflag, l_linestatus, sum_qty, sum_disc,
        | n_rows, n_salts""".stripMargin),

    "q_unpivot" -> e(Relational.unpivotMeasures,
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        | UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |            l_extendedprice, l_discount
        |          FROM lineitem WHERE l_orderkey % 499 = 0)
        | ON l_quantity, l_extendedprice, l_discount
        | INTO NAME measure VALUE value)
        |ORDER BY l_orderkey, l_linenumber, measure, value""".stripMargin),

    "q_lateral_top" -> e(Relational.lateralTop,
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t ON true
        |WHERE c.c_custkey % 25 = 0
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin),

    "q_regex_extract" -> e(Relational.regexExtract,
      // TRY_CAST: Spark's cast('' as long) is NULL on a non-matching row
      // where DuckDB's CAST('' AS BIGINT) hard-errors the whole query
      """SELECT event_type, count(*) AS n,
        | CAST(sum(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT))
        |   AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_stats_moments" -> e(Relational.statsMoments,
      """WITH m AS (
        | SELECT l_returnflag, count(*) AS n,
        |  sum(CAST(CAST(l_quantity AS DECIMAL(10,2))*100 AS DECIMAL(18,0))) AS sq,
        |  sum(CAST(CAST(l_quantity AS DECIMAL(10,2))*100 AS DECIMAL(18,0))
        |    * CAST(CAST(l_quantity AS DECIMAL(10,2))*100 AS DECIMAL(18,0))) AS sqq,
        |  sum(CAST(CAST(l_extendedprice AS DECIMAL(10,2))*100 AS DECIMAL(18,0))) AS sp,
        |  sum(CAST(CAST(l_extendedprice AS DECIMAL(10,2))*100 AS DECIMAL(18,0))
        |    * CAST(CAST(l_extendedprice AS DECIMAL(10,2))*100 AS DECIMAL(18,0))) AS spp,
        |  sum(CAST(CAST(l_quantity AS DECIMAL(10,2))*100 AS DECIMAL(18,0))
        |    * CAST(CAST(l_extendedprice AS DECIMAL(10,2))*100 AS DECIMAL(18,0))) AS spq
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        | CAST(sq AS DOUBLE) / n / 100.0 AS mean_qty,
        | sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/n)
        |   / (n - 1)) / 100.0 AS stddev_qty,
        | (CAST(spq AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sq AS DOUBLE)/n) /
        |   sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/n)
        |     * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)/n))
        |   AS corr_qp
        |FROM m ORDER BY l_returnflag""".stripMargin),

    "q_histogram" -> e(Relational.histogram,
      // the inner decimal cast is rewritten to the NaN-guarded try_cast
      // (portableCasts) — hostile money lands in the NULL bucket, as in
      // the Spark plan
      """SELECT CAST(floor(
        |   CAST(CAST(o_totalprice AS DECIMAL(10,2)) AS DOUBLE) / 50000.0)
        |   AS BIGINT) AS bin,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_percentiles" -> e(Relational.percentiles,
      // quantiles over the validated money domain (NULL-quarantined
      // hostile payloads are excluded by quantile_cont, matching Spark)
      """SELECT o_orderpriority,
        | round(quantile_cont(
        |   CAST(CAST(o_totalprice AS DECIMAL(10,2)) AS DOUBLE), 0.5), 4)
        |   AS med,
        | round(quantile_cont(
        |   CAST(CAST(o_totalprice AS DECIMAL(10,2)) AS DOUBLE), 0.9), 4)
        |   AS p90,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_window_range" -> e(Relational.windowRange,
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderdate,
        |   CAST(o_totalprice AS DECIMAL(10,2)) AS p,
        |   date_diff('day', DATE '1990-01-01',
        |     CAST(o_orderdate AS DATE)) AS dd
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderdate,
        | count(*) OVER w AS n_30d,
        | CAST(sum(p) OVER w AS DOUBLE) AS sum30
        |FROM t WINDOW w AS (PARTITION BY o_custkey ORDER BY dd
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey, o_custkey, o_orderdate, n_30d, sum30""".stripMargin),

    "q_skyline" -> e(Relational.skyline,
      """WITH b AS (SELECT o_orderpriority, o_orderkey,
        |   CAST(CAST(o_totalprice AS DECIMAL(10,2)) * 100 AS BIGINT)
        |     AS p_cents,
        |   date_diff('day', DATE '1990-01-01',
        |     CAST(o_orderdate AS DATE)) AS dd
        |  FROM orders),
        | w AS (SELECT o_orderpriority, o_orderkey, p_cents, dd,
        |   min(dd) OVER (PARTITION BY o_orderpriority ORDER BY p_cents
        |     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mc,
        |   min(dd) OVER (PARTITION BY o_orderpriority, p_cents) AS ms
        |  FROM b)
        |SELECT o_orderpriority, o_orderkey, p_cents, CAST(dd AS BIGINT) AS dd
        |FROM w WHERE (mc IS NULL OR mc > dd) AND dd = ms
        |ORDER BY o_orderpriority, p_cents, dd, o_orderkey""".stripMargin),

    "q_fuzzy_match" -> e(Relational.fuzzyMatch,
      """WITH n AS (SELECT p_name, count(*) AS n_rows,
        |    string_split(p_name, ' ')[2] AS noun
        |  FROM part GROUP BY 1),
        | p AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
        |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |    a.n_rows AS n_a, b.n_rows AS n_b
        |  FROM n a JOIN n b ON a.noun = b.noun AND a.p_name < b.p_name)
        |SELECT name_a, name_b, dist, n_a, n_b FROM p WHERE dist <= 2
        |ORDER BY name_a, name_b, dist, n_a, n_b""".stripMargin),

    "q_window_funcs" -> e(Relational.windowFuncs,
      """SELECT o_custkey, o_orderkey,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | first_value(o_totalprice) OVER wf AS first_price,
        | last_value(o_totalprice) OVER wf AS last_price,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd
        |FROM orders WHERE o_custkey % 50 = 0
        |WINDOW
        | w AS (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey, o_totalprice),
        | wf AS (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey, o_totalprice
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey, prev_price, next_price,
        | quartile, pr, cd""".stripMargin),

    "q_date_funcs" -> e(Relational.dateFuncs,
      """SELECT o_orderkey,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        | CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
        | CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
        |FROM orders WHERE o_orderkey % 101 = 0
        |ORDER BY o_orderkey""".stripMargin),

    "q_null_handling" -> e(Relational.nullHandling,
      """SELECT o_orderpriority,
        | count(nullif(o_orderstatus, 'P')) AS n_nonp,
        | min(nullif(o_orderstatus, 'P')) AS min_nonp,
        | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN NULL
        |   ELSE CAST(o_totalprice AS DECIMAL(10,2)) END) AS DOUBLE)
        |   AS sum_nonp,
        | COALESCE(min(CASE WHEN o_orderstatus = 'X' THEN o_orderstatus END),
        |   'none') AS fallback
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_exists_sql" -> e(Relational.existsSql,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 470000.0)
        |ORDER BY c_custkey""".stripMargin),

    "q_pivot_status" -> e(Relational.pivotStatus,
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_agg_strings" -> e(Relational.aggStrings,
      """WITH ds AS (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders)
        |SELECT o_orderpriority,
        | string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        | CAST(count(*) AS BIGINT) AS n_status
        |FROM ds GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_sample_hash" -> e(Relational.sampleHash,
      // concat_ws, not ||: both engines' concat_ws SKIPS null keys
      // (so a null-orderkey row still hashes on the remaining key),
      // while || null-poisons — the engines would disagree on exactly
      // the null-key rows
      s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         |WHERE ${graft.engine.PortableHash.duckH28(
               "concat_ws('_', l_orderkey, l_linenumber)")} % 100 < 5
         |ORDER BY 1, 2, 3""".stripMargin),

    "q_upsert_keys" -> e(Relational.upsertKeys,
      """WITH t AS (SELECT c_custkey, c_name,
        |   CAST(c_acctbal AS DECIMAL(10,2)) AS c_acctbal, c_mktsegment
        |  FROM customer),
        | mods AS (SELECT c_custkey, 'UPD_' || c_name AS c_name,
        |   c_acctbal + CAST(100.00 AS DECIMAL(10,2)) AS c_acctbal, c_mktsegment
        |  FROM t WHERE c_custkey % 7 = 0),
        | mx AS (SELECT max(c_custkey) + 1 AS m FROM t),
        | news AS (SELECT c_custkey + m AS c_custkey,
        |   'NEW_' || c_name AS c_name,
        |   CAST(0.00 AS DECIMAL(10,2)) AS c_acctbal, 'NEWSEG' AS c_mktsegment
        |  FROM t CROSS JOIN mx WHERE c_custkey % 13 = 0),
        | u AS (SELECT * FROM mods UNION ALL SELECT * FROM news)
        |SELECT c_custkey, c_name, CAST(bal AS DOUBLE) AS bal6, c_mktsegment
        |FROM (
        | SELECT t.c_custkey, COALESCE(u.c_name, t.c_name) AS c_name,
        |  COALESCE(u.c_acctbal, t.c_acctbal) AS bal, t.c_mktsegment
        | FROM t LEFT JOIN u ON t.c_custkey = u.c_custkey
        | UNION ALL
        | SELECT u.c_custkey, u.c_name, u.c_acctbal AS bal, u.c_mktsegment
        | FROM u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM t)) z
        |ORDER BY c_custkey""".stripMargin),

    "q_incr_agg" -> e(Relational.incrAgg,
      // the oracle is the FULL recompute — incremental state merge must
      // be indistinguishable from rescanning all of history
      // undated orders are EXCLUDED explicitly: a row with a null
      // period date belongs to no maintenance period, so the partials
      // can never see it — the recompute must define the maintained
      // table over dated orders or the law breaks on exactly that row
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE) AS sp6,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE)
        |   / count(*) AS avg6,
        | min(o_orderdate) AS first_od, max(o_orderdate) AS last_od
        |FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
        |ORDER BY o_orderpriority, o_orderstatus, n, sp6, avg6,
        | first_od, last_od""".stripMargin),

    "q_dq_checks" -> e(Relational.dqChecks,
      """WITH b AS (SELECT count(*) AS n_rows,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_custkey,
        |  sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_orderdate,
        |  count(DISTINCT o_orderkey) AS dist_orderkey,
        |  count(DISTINCT o_orderstatus) AS dist_status,
        |  sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS nonpos_price,
        |  sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01 00:00:00'
        |      THEN 1 ELSE 0 END) AS date_below_floor
        | FROM orders),
        | fk AS (SELECT count(*) AS v FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
        | m AS (
        |  SELECT 'n_rows' AS "check", CAST(n_rows AS BIGINT) AS value FROM b
        |  UNION ALL SELECT 'null_custkey', CAST(null_custkey AS BIGINT) FROM b
        |  UNION ALL SELECT 'null_orderdate', CAST(null_orderdate AS BIGINT) FROM b
        |  UNION ALL SELECT 'dup_orderkey',
        |    CAST(n_rows - dist_orderkey AS BIGINT) FROM b
        |  UNION ALL SELECT 'distinct_status', CAST(dist_status AS BIGINT) FROM b
        |  UNION ALL SELECT 'nonpos_price', CAST(nonpos_price AS BIGINT) FROM b
        |  UNION ALL SELECT 'date_below_floor',
        |    CAST(date_below_floor AS BIGINT) FROM b
        |  UNION ALL SELECT 'fk_orphans_custkey', CAST(v AS BIGINT) FROM fk)
        |SELECT "check", value FROM m ORDER BY "check", value""".stripMargin),

    "q_scd2_merge" -> e(Relational.scd2Merge,
      // mirrors Mutations.scd2Merge: full outer current×batch, generic
      // IS DISTINCT FROM change detection, history passthrough
      """WITH t AS (SELECT c_custkey, c_name,
        |   CAST(c_acctbal AS DECIMAL(10,2)) AS c_acctbal, c_mktsegment
        |  FROM customer),
        | cur AS (SELECT *, DATE '1995-01-01' AS valid_from,
        |   CAST(NULL AS DATE) AS valid_to, TRUE AS is_current FROM t),
        | hist AS (SELECT c_custkey, c_name,
        |   CAST(c_acctbal - 10.00 AS DECIMAL(10,2)) AS c_acctbal,
        |   'OLDSEG' AS c_mktsegment, DATE '1994-01-01' AS valid_from,
        |   DATE '1995-01-01' AS valid_to, FALSE AS is_current
        |  FROM t WHERE c_custkey % 11 = 0),
        | mx AS (SELECT max(c_custkey) + 1 AS m FROM t),
        | ch AS (
        |  SELECT c_custkey, c_name,
        |   CAST(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal
        |        ELSE c_acctbal + 25.00 END AS DECIMAL(10,2)) AS c_acctbal,
        |   CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment
        |        ELSE 'SCD_' || c_mktsegment END AS c_mktsegment
        |  FROM t WHERE c_custkey % 5 = 0
        |  UNION ALL
        |  SELECT c_custkey + m, 'NEW_' || c_name,
        |   CAST(0.00 AS DECIMAL(10,2)), 'NEWSEG'
        |  FROM t CROSS JOIN mx WHERE c_custkey % 13 = 0),
        | j AS (SELECT cur.c_custkey AS k_cur, cur.c_name, cur.c_acctbal,
        |   cur.c_mktsegment, cur.valid_from, cur.valid_to, cur.is_current,
        |   ch.c_custkey AS k_ch, ch.c_name AS u_name,
        |   ch.c_acctbal AS u_bal, ch.c_mktsegment AS u_seg
        |  FROM cur FULL JOIN ch ON cur.c_custkey = ch.c_custkey),
        | jd AS (SELECT *, COALESCE(k_cur, k_ch) AS c_custkey,
        |   (c_name IS DISTINCT FROM u_name
        |    OR c_acctbal IS DISTINCT FROM u_bal
        |    OR c_mktsegment IS DISTINCT FROM u_seg) AS differs
        |  FROM j),
        | merged AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |    valid_from, valid_to, is_current
        |  FROM jd WHERE k_cur IS NOT NULL AND (k_ch IS NULL OR NOT differs)
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |    valid_from, DATE '1996-06-01', FALSE
        |  FROM jd WHERE k_cur IS NOT NULL AND k_ch IS NOT NULL AND differs
        |  UNION ALL
        |  SELECT c_custkey, u_name, u_bal, u_seg,
        |    DATE '1996-06-01', CAST(NULL AS DATE), TRUE
        |  FROM jd WHERE (k_cur IS NOT NULL AND k_ch IS NOT NULL AND differs)
        |     OR k_cur IS NULL
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |    valid_from, valid_to, is_current FROM hist)
        |SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal6,
        | c_mktsegment, valid_from, valid_to, is_current
        |FROM merged
        |ORDER BY c_custkey, c_name, bal6, c_mktsegment,
        | valid_from, valid_to, is_current""".stripMargin),

    "q_rfm_segments" -> e(Relational.rfmSegments,
      s"""WITH o AS (SELECT o_custkey,
         |   date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
         |     AS dd,
         |   CAST(o_totalprice AS DECIMAL(10,2)) AS price
         |  FROM orders WHERE o_orderdate IS NOT NULL),
         | mx AS (SELECT max(dd) AS max_dd FROM o),
         | per AS (SELECT o_custkey, max_dd - max(dd) AS r_days,
         |    count(*) AS f, sum(price) AS m
         |  FROM o CROSS JOIN mx GROUP BY o_custkey, max_dd),
         | seg AS (SELECT *,
         |   CASE WHEN r_days <= ${Relational.RfmRecentDays}
         |          AND f >= ${Relational.RfmFrequentOrders} THEN 'champion'
         |        WHEN r_days <= ${Relational.RfmRecentDays}
         |          THEN 'recent_casual'
         |        WHEN f >= ${Relational.RfmFrequentOrders}
         |          THEN 'loyal_lapsed'
         |        ELSE 'dormant' END AS segment
         |  FROM per)
         |SELECT segment, count(*) AS n_cust,
         | CAST(sum(f) AS BIGINT) AS n_orders,
         | CAST(sum(m) AS DOUBLE) AS revenue,
         | CAST(min(r_days) AS BIGINT) AS min_r_days,
         | CAST(max(r_days) AS BIGINT) AS max_r_days
         |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_basket_pairs" -> e(Relational.basketPairs,
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        |FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, p1, p2 LIMIT 40""".stripMargin),

    "q_reorder_gaps" -> e(Relational.reorderGaps,
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |   date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |     AS dd
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        | l AS (SELECT o_custkey, dd, lag(dd) OVER (PARTITION BY o_custkey
        |    ORDER BY dd, o_orderkey) AS pdd FROM o),
        | g AS (SELECT o_custkey, (dd - pdd) // 7 AS gap_w FROM l
        |  WHERE pdd IS NOT NULL)
        |SELECT gap_w, count(*) AS n_gaps,
        | count(DISTINCT o_custkey) AS n_cust
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_ship_priority" -> e(Relational.shipPriority,
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |   * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey
        |LIMIT 20""".stripMargin),

    "q_cum_share" -> e(Relational.cumShare,
      """WITH per AS (SELECT o_custkey,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) * 100 AS BIGINT)
        |     AS cents
        |  FROM orders GROUP BY 1),
        | t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM per),
        | r AS (SELECT o_custkey, cents,
        |   CAST(ntile(10) OVER w AS BIGINT) AS decile,
        |   CAST(sum(cents) OVER wf AS BIGINT) AS cum_cents
        |  FROM per WINDOW
        |   w AS (ORDER BY cents DESC, o_custkey),
        |   wf AS (ORDER BY cents DESC, o_custkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT decile, count(*) AS n_cust,
        | CAST(max(cum_cents) AS BIGINT) AS cum_cents,
        |-- HUGEINT widening mirrors the Spark side's decimal(38,0):
        |-- cents·10⁶ overflows int64 at warehouse scale. The output CAST
        |-- back to BIGINT is load-bearing (driver hashes int128 as
        |-- float64).
        | CAST(CAST(max(cum_cents) AS HUGEINT) * 1000000 // total_cents
        |   AS BIGINT) AS cum_share_ppm
        |FROM r CROSS JOIN t GROUP BY decile, total_cents
        |ORDER BY decile""".stripMargin),

    "q_trade_matrix" -> e(Relational.tradeMatrix,
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        | year(l_shipdate) AS ship_year,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |   * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    "q_mkt_share" -> e(Relational.mktShare,
      s"""WITH ac AS (SELECT c_custkey FROM customer
         |   JOIN nation ON c_nationkey = n_nationkey
         |   JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'ASIA'),
         | sf AS (SELECT s_suppkey,
         |   n_name = '${Relational.ShareNation}' AS is_share
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         | l AS (SELECT l_orderkey, l_suppkey,
         |   CAST(CAST(l_extendedprice AS DECIMAL(10,2))
         |     * (1 - CAST(l_discount AS DECIMAL(10,2))) * 10000 AS BIGINT)
         |     AS units
         |  FROM lineitem)
         |SELECT year(o_orderdate) AS o_year,
         | CAST(sum(CASE WHEN is_share THEN units ELSE 0 END) AS BIGINT)
         |   AS nation_units,
         | CAST(sum(units) AS BIGINT) AS total_units,
         |-- HUGEINT widening mirrors the Spark decimal(38,0) product
         | CAST(CAST(sum(CASE WHEN is_share THEN units ELSE 0 END) AS HUGEINT)
         |   * 1000000 // CAST(sum(units) AS BIGINT) AS BIGINT) AS share_ppm
         |FROM l JOIN sf ON l_suppkey = s_suppkey
         | JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_custkey IN (SELECT c_custkey FROM ac)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_returned_rev" -> e(Relational.returnedRevenue,
      """SELECT c_custkey, c_name, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |   * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE)
        |   AS returned_rev,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3 ORDER BY returned_rev DESC, c_custkey
        |LIMIT 20""".stripMargin),

    "q_promo_share" -> e(Relational.promoShare,
      """WITH l AS (SELECT l_partkey,
        |   strftime(l_shipdate, '%Y-%m') AS ship_month,
        |   CAST(CAST(l_extendedprice AS DECIMAL(10,2))
        |     * (1 - CAST(l_discount AS DECIMAL(10,2))) * 10000 AS BIGINT)
        |     AS units
        |  FROM lineitem)
        |SELECT ship_month,
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN units ELSE 0 END)
        |   AS BIGINT) AS promo_units,
        | CAST(sum(units) AS BIGINT) AS total_units,
        |-- HUGEINT widening mirrors the Spark decimal(38,0) product
        | CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN units ELSE 0 END)
        |   AS HUGEINT) * 1000000 // CAST(sum(units) AS BIGINT) AS BIGINT)
        |   AS promo_ppm
        |FROM l JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_part_value_conc" -> e(Relational.partValueConc,
      """WITH per AS (SELECT l_partkey,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |     * (1 - CAST(l_discount AS DECIMAL(10,2)))) * 10000 AS BIGINT)
        |     AS units,
        |   count(*) AS n_items
        |  FROM lineitem GROUP BY 1),
        | t AS (SELECT CAST(sum(units) AS BIGINT) AS total_units FROM per)
        |-- HUGEINT widening (product and threshold cross-multiply)
        |-- mirrors the Spark decimal(38,0) forms
        |SELECT l_partkey, units, n_items,
        | CAST(CAST(units AS HUGEINT) * 1000000 // total_units AS BIGINT)
        |   AS share_ppm
        |FROM per CROSS JOIN t
        |WHERE CAST(units AS HUGEINT) * 2000 > total_units
        |ORDER BY units DESC, l_partkey""".stripMargin),

    "q_supp_rank" -> e(Relational.suppRank,
      """WITH per AS (SELECT l_suppkey,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |     * (1 - CAST(l_discount AS DECIMAL(10,2)))) * 10000 AS BIGINT)
        |     AS units
        |  FROM lineitem GROUP BY 1),
        | r AS (SELECT n_name,
        |   CAST(row_number() OVER (PARTITION BY n_name
        |     ORDER BY units DESC, s_suppkey) AS BIGINT) AS rk,
        |   s_suppkey, s_name, units
        |  FROM per JOIN supplier ON l_suppkey = s_suppkey
        |   JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, rk, s_suppkey, s_name, units FROM r
        |WHERE rk <= 3 ORDER BY n_name, rk""".stripMargin),

    "q_ewma_volume" -> e(Relational.ewmaVolume,
      """WITH daily AS (SELECT
        |   date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |     AS dd, count(*) AS cnt
        |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
        | sc AS (SELECT dd + j AS dd,
        |   cnt * (CAST(1 AS BIGINT) << (9 - j)) AS unit
        |  FROM daily, generate_series(0, 9) g(j)),
        | agg AS (SELECT dd, CAST(sum(unit) AS BIGINT) AS e
        |  FROM sc GROUP BY 1)
        |SELECT d.dd, d.cnt, CAST(a.e AS DOUBLE) / 512.0 AS ewma
        |FROM daily d JOIN agg a USING (dd) ORDER BY dd""".stripMargin),

    "q_cohort_ltv" -> e(Relational.cohortLtv,
      """WITH o AS (SELECT o_custkey,
        |   CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
        |     AS mo,
        |   CAST(CAST(o_totalprice AS DECIMAL(10,2)) * 100 AS BIGINT)
        |     AS cents
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        | f AS (SELECT o_custkey, min(mo) AS cohort_mo FROM o GROUP BY 1)
        |SELECT cohort_mo, mo - cohort_mo AS "offset",
        | count(DISTINCT o.o_custkey) AS n_cust,
        | CAST(sum(cents) AS BIGINT) AS cents
        |FROM o JOIN f USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_basket_rules" -> e(Relational.basketRules,
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        | nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lp),
        | pp AS (SELECT l_partkey, count(*) AS n_p FROM lp GROUP BY 1),
        | pr AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |   count(*) AS n_ab
        |  FROM lp a JOIN lp b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 ORDER BY n_ab DESC, p1, p2 LIMIT 40)
        |SELECT p1, p2, n_ab, pa.n_p AS n_a, pb.n_p AS n_b, n_baskets,
        | n_ab * 1000000 // pa.n_p AS conf_ab_ppm,
        | n_ab * 1000000 // pb.n_p AS conf_ba_ppm
        |FROM pr JOIN pp pa ON pr.p1 = pa.l_partkey
        | JOIN pp pb ON pr.p2 = pb.l_partkey
        | CROSS JOIN nb
        |ORDER BY n_ab DESC, p1, p2""".stripMargin),

    "q_local_supp" -> e(Relational.localSupp,
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |   * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE)
        |   AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE c_nationkey = s_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_discount_rev" -> e(Relational.discountRev,
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
        |   * CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS disc_rev,
        | count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin),

    "q_cust_order_dist" -> e(Relational.custOrderDist,
      """WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    "q_idle_rich" -> e(Relational.idleRich,
      """WITH wc AS (SELECT c_custkey, c_nationkey,
        |   CAST(CAST(c_acctbal AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        | pos AS (SELECT * FROM wc WHERE cents > 0),
        | st AS (SELECT count(*) AS n_pos,
        |   CAST(sum(cents) AS BIGINT) AS sum_cents FROM pos),
        | rich AS (SELECT c_custkey, c_nationkey, cents
        |  FROM pos CROSS JOIN st WHERE cents * n_pos > sum_cents),
        | noord AS (SELECT r.* FROM rich r WHERE NOT EXISTS
        |   (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'))
        |SELECT n_name, count(*) AS n_cust,
        | CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM noord JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_small_qty" -> e(Relational.smallQty,
      """WITH wu AS (SELECT l_partkey, l_extendedprice,
        |   CAST(CAST(l_quantity AS DECIMAL(10,2)) * 100 AS BIGINT)
        |     AS qty_u
        |  FROM lineitem),
        | per AS (SELECT l_partkey AS pk, count(*) AS n_l,
        |   CAST(sum(qty_u) AS BIGINT) AS sum_qu FROM wu GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)))
        |   AS DOUBLE) AS total_price,
        | count(*) AS n_items
        |FROM wu JOIN per ON l_partkey = pk
        |WHERE qty_u * 5 * n_l < sum_qu""".stripMargin),

    "q_large_orders" -> e(Relational.largeOrders,
      """WITH per AS (SELECT l_orderkey,
        |   sum(CAST(l_quantity AS DECIMAL(10,2))) AS sq
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(10,2))) > 300)
        |SELECT c_custkey, c_name, l_orderkey, o_orderdate, o_totalprice,
        | CAST(sq AS DOUBLE) AS sum_qty
        |FROM per JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, l_orderkey LIMIT 20""".stripMargin),

    "q_join_full" -> e(Relational.joinFull,
      """WITH co AS (SELECT o_custkey AS k, count(*) AS n_orders,
        |   CAST(sum(CAST(o_totalprice AS DECIMAL(10,2))) AS DOUBLE)
        |     AS spend
        |  FROM orders GROUP BY 1),
        | ev AS (SELECT user_id AS u, count(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT coalesce(k, u) AS cust,
        | coalesce(n_orders, 0) AS n_orders,
        | coalesce(n_events, 0) AS n_events, spend
        |FROM co FULL JOIN ev ON k = u
        |ORDER BY cust, n_orders, n_events, spend""".stripMargin),

    "q_autocorr" -> e(Relational.autocorr,
      s"""WITH daily AS (SELECT CAST(date_diff('day', DATE '1990-01-01',
        |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day, count(*) AS c
        |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
        | span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        | grid AS (SELECT g.day, coalesce(c, 0) AS c
        |   FROM (SELECT unnest(range(d0, d1 + 1)) AS day FROM span) g
        |   LEFT JOIN daily USING (day)),
        | lags AS (SELECT k, day - k AS day, c AS y FROM grid
        |   CROSS JOIN (SELECT CAST(unnest([1,2,3,4,5,6,7]) AS BIGINT)
        |     AS k)),
        | agg AS (SELECT k, count(*) AS m,
        |   CAST(sum(c) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(c*y) AS BIGINT) AS sxy,
        |   CAST(sum(c*c) AS BIGINT) AS sxx,
        |   CAST(sum(y*y) AS BIGINT) AS syy
        |  FROM grid JOIN lags USING (day) GROUP BY 1),
        | wd AS (SELECT *,
        |   m*CAST(sxx AS HUGEINT) - CAST(sx AS HUGEINT)*sx AS vx,
        |   m*CAST(syy AS HUGEINT) - CAST(sy AS HUGEINT)*sy AS vy,
        |   m*CAST(sxy AS HUGEINT) - CAST(sx AS HUGEINT)*sy AS cv
        |  FROM agg),
        |-- HUGEINT widening mirrors the Spark decimal(38,0)
        |-- differences; r_micro = ⌊cv·10⁶/(⌊√vx⌋·⌊√vy⌋)⌋ via
        |-- PortableMath's exact isqrt — no output rides the
        |-- HUGEINT→DOUBLE cast
        | es AS (SELECT *,
        |   ${graft.engine.PortableMath.isqrtEstimate("vx", "HUGEINT")} AS rx0,
        |   ${graft.engine.PortableMath.isqrtEstimate("vy", "HUGEINT")} AS ry0
        |  FROM wd),
        | rr AS (SELECT *,
        |   ${graft.engine.PortableMath.isqrtAdjust("rx0", "vx")} AS rx,
        |   ${graft.engine.PortableMath.isqrtAdjust("ry0", "vy")} AS ry
        |  FROM es)
        |SELECT k, m, sx, sy, sxy, sxx, syy,
        | CASE WHEN vx = 0 OR vy = 0 THEN NULL
        |  ELSE CAST((cv * 1000000) // (rx * ry) AS BIGINT)
        |  END AS r_micro
        |FROM rr ORDER BY k""".stripMargin),

    "q_dq_dims" -> eRawDims(Relational.dqDims, {
      def one(t: String, pk: String, fk: Option[String]) = {
        val nf = fk.map(f =>
          s"CAST(coalesce(sum(CASE WHEN $f IS NULL THEN 1 ELSE 0 END), 0)" +
            " AS BIGINT)")
          .getOrElse("CAST(0 AS BIGINT)")
        s"""SELECT '$t' AS table_name, count(*) AS n_rows,
           | count(*) - count($pk) AS n_null_pk,
           | count($pk) - count(DISTINCT $pk) AS n_dup_pk,
           | $nf AS n_null_fk
           |FROM $t""".stripMargin
      }
      Seq(one("customer", "c_custkey", Some("c_nationkey")),
        one("supplier", "s_suppkey", Some("s_nationkey")),
        one("part", "p_partkey", None),
        one("nation", "n_nationkey", Some("n_regionkey")),
        one("region", "r_regionkey", None))
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    }),
  )

  /** All declared queries, in a stable order. */
  def entries: Seq[(String, Entry)] =
    relational ++ EventsRegistry.entries ++ TextRegistry.entries ++
      SketchRegistry.entries ++ DiagRegistry.entries

  /** Raw entry names BEFORE map-collapse — the duplicate-name invariant
    * ContractSpec checks (a name collision across the per-module registries
    * would silently drop a query from the driver's inventory). */
  def entryNames: Seq[String] = entries.map(_._1)

  /** Ordered (ListMap) so runners execute queries in declaration order:
    * cheap relational queries warm the session first, and queries sharing
    * a subplan (minhash signature → ngram verification) run adjacently to
    * reuse compiled codegen classes. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
      entries.map { case (n, en) => n -> en.fn }: _*)

  def oracleSql: Map[String, String] =
    scala.collection.immutable.ListMap(
      entries.map { case (n, en) => n -> en.oracle }: _*)
}
