"""Relational queries: the shared-SQL registry (one ANSI string run by both
engines, so the string is also the oracle) and the DataFrame-native
queries that use only Spark built-ins over the tables (no operator from
``kafka_firehose_nozzle_spark``), each with a hand-written DuckDB oracle.

Sums go through DECIMAL(12,4)/DECIMAL(18,4) so the result is
order-independent and casts to the identical double in Spark and DuckDB."""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._base import (
    _avg_micro_expr,
    _pure_plan,
    _register_views,
    _t,
    memo,
    query,
    register,
)

# Inputs at DECIMAL(10,4) keep the triple product within 38 digits of
# precision in BOTH engines (Spark adds +1 digit per multiply and would
# otherwise round scale 12 -> 11 on sum_charge, diverging from DuckDB in
# the last double bit).
_REV = "CAST(l_extendedprice AS DECIMAL(10,4)) * (1 - CAST(l_discount AS DECIMAL(10,4)))"

SHARED_SQL: dict[str, str] = {
    # Ordered conversion funnel (view -> click -> purchase, strict
    # event-time ordering): each stage is a conditional MIN over the
    # previous stage's anchor — three partial-aggregated passes, never a
    # per-user sort. The product-analytics staple.
    "event_funnel": """
        WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
               FROM events e JOIN s1 ON e.user_id = s1.user_id
               WHERE e.event_type = 'click' AND e.ts > s1.t1
               GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
               FROM events e JOIN s2 ON e.user_id = s2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2
               GROUP BY e.user_id)
        SELECT 1 AS stage, 'view' AS step, COUNT(*) AS n_users FROM s1
        UNION ALL
        SELECT 2, 'click_after_view', COUNT(*) FROM s2
        UNION ALL
        SELECT 3, 'purchase_after_click', COUNT(*) FROM s3
    """,
    # (weekly_retention_cohorts lives OUTSIDE SHARED_SQL: DATE - DATE is
    # an INTERVAL in Spark but an INTEGER day count in DuckDB, so the
    # offset arithmetic cannot be one shared string — see
    # q_weekly_retention_cohorts + ORACLE_RETENTION.)
    # Temperature-weighted multilingual mix (alpha = 0.5, the
    # rebalancing exponent multilingual-corpus recipes apply so
    # low-resource languages are not drowned): weight = sqrt(count) —
    # sqrt is IEEE-correctly-rounded in both engines, the weight total
    # is an order-independent decimal sum, and the share emits through
    # one IEEE division + floor quantization.
    "temperature_lang_mix": """
        WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        w AS (SELECT lang, n,
                  CAST(SQRT(CAST(n AS DOUBLE)) AS DECIMAL(20,10)) AS wt
              FROM c),
        t AS (SELECT CAST(CAST(SUM(wt) AS VARCHAR(64)) AS DOUBLE)
                  AS total FROM w)
        SELECT lang, n,
            CAST(FLOOR(CAST(CAST(wt AS VARCHAR(64)) AS DOUBLE) / total
                 * 1000000.0 + 0.5) AS BIGINT) AS share_ppm
        FROM w CROSS JOIN t
    """,
    # TPC-H Q1 style pricing summary: groupBy + 8 aggregates.
    # Money emissions go decimal -> VARCHAR -> DOUBLE (the repo's
    # established cross-engine idiom, cf. temperature_lang_mix): the
    # decimal SUMs are exact and engine-identical, but a direct
    # decimal->double cast is not correctly rounded in every engine
    # (DuckDB converts int128/10^scale in two roundings) — the r8 sf1
    # sweep caught sum_charge one ulp apart on one group.  String ->
    # double is correctly rounded in both engines.
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
            CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
            CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sum_base_price,
            CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sum_disc_price,
            CAST(CAST(CAST(SUM({_REV} * (1 + CAST(l_tax AS DECIMAL(12,4)))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sum_charge,
            CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS avg_qty,
            CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS avg_price,
            CAST(CAST(CAST(SUM(CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) / COUNT(*) AS avg_disc,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    # TPC-H Q3 style: 3-way join + group + deterministic top-10
    "q3_shipping_priority": f"""
        SELECT l_orderkey,
            CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS revenue,
            o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    # TPC-H Q5 style: 6-table join, local-supplier revenue by nation
    "q5_local_supplier": f"""
        SELECT n_name, CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """,
    # window ranking: top-3 spenders per market segment
    "top_spenders_per_segment": """
        SELECT c_mktsegment, c_custkey, spend, rk FROM (
            SELECT c_mktsegment, c_custkey, spend,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY spend DESC, c_custkey) AS rk
            FROM (
                SELECT c_mktsegment, c_custkey,
                       CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS spend
                FROM customer JOIN orders ON c_custkey = o_custkey
                GROUP BY c_mktsegment, c_custkey
            ) agg
        ) ranked WHERE rk <= 3
    """,
    # running window aggregate over orders per customer
    "running_revenue_by_customer": """
        SELECT o_custkey, o_orderkey, o_orderdate,
            CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS running_spend
        FROM orders
    """,
    # grouping sets / rollup
    "revenue_rollup": """
        SELECT l_returnflag, l_linestatus,
            CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sum_qty,
            COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    # distinct aggregation
    "distinct_users_per_type": """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """,
    # event-time tumbling window (A2 analog: per-minute rates)
    "events_per_minute": """
        SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY date_trunc('minute', ts)
    """,
    # bit / boolean aggregate coverage (order-insensitive, exact ints)
    "flag_aggregates": """
        SELECT l_returnflag,
            BIT_OR(l_linenumber) AS ln_or,
            BIT_AND(l_linenumber) AS ln_and,
            BIT_XOR(l_orderkey) AS key_xor,
            BOOL_AND(l_quantity > 0) AS all_positive,
            BOOL_OR(l_discount > 0.09) AS any_high_disc
        FROM lineitem GROUP BY l_returnflag
    """,
    # semi + anti join via EXISTS / NOT EXISTS
    "urgent_only_customers": """
        SELECT c.c_custkey, c.c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
    """,
    # set operations
    "purchasers_with_errors": """
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'error'
    """,
    "purchasers_without_errors": """
        SELECT user_id FROM events WHERE event_type = 'purchase'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'error'
    """,
    # range join: lineitems shipped within 30 days of their order's date
    "order_shipment_window": """
        SELECT o_orderpriority, COUNT(*) AS n_shipments,
            COUNT(DISTINCT o_orderkey) AS n_orders
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_shipdate >= o_orderdate
          AND l_shipdate < o_orderdate + INTERVAL 30 DAY
        GROUP BY o_orderpriority
    """,
    # correlated scalar subquery (TPC-H Q17 style): small-quantity orders.
    # avg_yearly rides the VARCHAR round-trip (revenue_cube/q1 precedent):
    # the r11 sf100 sweep caught the direct DECIMAL->DOUBLE casts
    # diverging by 2 ulps (1.787029149528571[5|8]e11) once the exact
    # decimal sum outgrew double's 2^53 integer range — Spark's
    # BigDecimal cast is correctly rounded, DuckDB's int128 path double-
    # rounds; the decimal-digits-as-text parse is correctly rounded in
    # both engines.
    "q17_small_qty_revenue": """
        SELECT CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) / 7.0
               AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand LIKE 'Brand#1%'
          AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey)
    """,
    # CUBE with GROUPING() null-vs-rollup disambiguation.  sum_base
    # rides the VARCHAR round-trip (like q1's money columns): direct
    # DECIMAL->DOUBLE is correctly rounded in Spark (BigDecimal) but
    # double-rounded in DuckDB (int128, then /10^6 in float), and the
    # r8 sf10 sweep caught the two diverging by 1 ulp on the rollup
    # rows once sums outgrew double's exact integer range.
    "revenue_cube": """
        SELECT l_returnflag, l_linestatus,
            CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
            CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
            CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sum_base,
            COUNT(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    # full outer join: customers without orders + order coverage per custkey
    "customer_order_coverage": """
        SELECT COALESCE(c_custkey, o_custkey) AS custkey,
            COUNT(o_orderkey) AS n_orders,
            MAX(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS has_no_orders
        FROM customer FULL JOIN orders ON c_custkey = o_custkey
        GROUP BY COALESCE(c_custkey, o_custkey)
    """,
    # scalar string/math function coverage (exact-valued functions only)
    "scalar_string_math": """
        SELECT c_custkey,
            UPPER(c_name) AS name_upper,
            LOWER(c_mktsegment) AS seg_lower,
            LENGTH(c_name) AS name_len,
            SUBSTR(c_name, 1, 8) AS name_prefix,
            REVERSE(c_mktsegment) AS seg_rev,
            LPAD(CAST(c_custkey AS STRING), 10, '0') AS key_padded,
            ABS(c_acctbal) AS bal_abs,
            CAST(FLOOR(c_acctbal) AS BIGINT) AS bal_floor,
            CAST(CEIL(c_acctbal) AS BIGINT) AS bal_ceil,
            c_custkey % 7 AS key_mod7,
            GREATEST(c_nationkey, 12) AS nk_hi,
            LEAST(c_nationkey, 12) AS nk_lo
        FROM customer
    """,
    # date-part extraction coverage
    "order_date_parts": """
        SELECT o_orderkey,
            YEAR(o_orderdate) AS yr, QUARTER(o_orderdate) AS qtr,
            MONTH(o_orderdate) AS mon, DAY(o_orderdate) AS dom,
            DATE_TRUNC('month', o_orderdate) AS month_start
        FROM orders
    """,
    # analytic-function coverage: lag/lead/ntile/percent_rank/cume_dist/
    # first_value over per-customer order history
    "order_analytics": """
        SELECT o_custkey, o_orderkey,
            LAG(o_totalprice) OVER w AS prev_price,
            LEAD(o_totalprice) OVER w AS next_price,
            FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
            NTILE(4) OVER w AS qtile,
            PERCENT_RANK() OVER w AS pr,
            CUME_DIST() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    # min_by / max_by (deterministic: custkey is unique per segment)
    "segment_minmax_by": """
        SELECT c_mktsegment,
            MAX_BY(c_name, c_custkey) AS last_customer,
            MIN_BY(c_name, c_custkey) AS first_customer,
            MAX(c_acctbal) AS max_bal,
            MIN(c_acctbal) AS min_bal,
            COUNT(*) AS n
        FROM customer GROUP BY c_mktsegment
    """,
    # TPC-H Q4 style: orders with any late lineitem (EXISTS), per priority.
    # "Late" adapted to the reduced schema: shipped >60 days after order.
    "q4_priority_late": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    # TPC-H Q7 style: trade volume between two nations by ship year
    "q7_nation_trade": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            YEAR(l_shipdate) AS yr,
            CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS revenue
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
        GROUP BY n1.n_name, n2.n_name, YEAR(l_shipdate)
    """,
    # TPC-H Q8 style: one nation's market share inside a region per year
    "q8_market_share": f"""
        SELECT YEAR(o_orderdate) AS yr,
            CAST(CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_REV}
                               ELSE CAST(0 AS DECIMAL(10,4)) END)
                 AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE)
            / CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE)
                AS mkt_share
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY YEAR(o_orderdate)
    """,
    # TPC-H Q9 style: profit (revenue minus retail cost) by supplier
    # nation and year; partsupp is absent so p_retailprice stands in
    "q9_profit": f"""
        SELECT n_name, YEAR(o_orderdate) AS yr,
            CAST(CAST(CAST(SUM({_REV}
                - CAST(p_retailprice AS DECIMAL(10,4))
                  * CAST(l_quantity AS DECIMAL(10,4)))
                 AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS profit
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%gear%'
        GROUP BY n_name, YEAR(o_orderdate)
    """,
    # TPC-H Q10 style: top-20 customers by returned-lineitem revenue
    "q10_returned_revenue": f"""
        SELECT c_custkey, c_name, n_name,
            CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    # TPC-H Q12 style: priority-class shipment counts per ship year
    # (CASE aggregation; shipmode is absent so late/ontime classes split)
    "q12_priority_classes": """
        SELECT YEAR(l_shipdate) AS yr,
            CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
            CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY YEAR(l_shipdate)
    """,
    # TPC-H Q14 style: promo-part revenue share in one quarter
    "q14_promo_quarter": f"""
        SELECT CAST(100 AS DOUBLE)
            * CAST(CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV}
                                 ELSE CAST(0 AS DECIMAL(10,4)) END)
                   AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE)
            / CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE)
                AS promo_revenue_pct
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
    # TPC-H Q16 style: distinct supplier count per brand/size bucket
    "q16_supplier_variety": """
        SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM part JOIN lineitem ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO' AND p_size < 30
        GROUP BY p_brand, p_size
    """,
    # TPC-H Q7 style: volume shipping between two nations by year
    "q7_volume_shipping": f"""
        SELECT supp_nation, cust_nation, l_year,
            CAST(CAST(CAST(SUM(vol) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   YEAR(l_shipdate) AS l_year, {_REV} AS vol
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                 AND TIMESTAMP '1997-12-31 00:00:00'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
    """,
    # TPC-H Q10 style: returned-item revenue by customer, top 20
    "q10_returned_items": f"""
        SELECT c_custkey, c_name,
            CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS revenue,
            c_acctbal, n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    # TPC-H Q14 style: promo revenue share by ship year. Each decimal sum
    # goes to DOUBLE via the VARCHAR route before the division (the
    # documented int128->double trap), identically in both engines.
    "q14_promo_share": f"""
        SELECT YEAR(l_shipdate) AS l_year,
            CAST(COALESCE(CAST(CAST(SUM({_REV}) FILTER (WHERE p_type = 'PROMO')
                     AS DECIMAL(30,6)) AS VARCHAR(64)), '0') AS DOUBLE) * 100.0
            / CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64))
                   AS DOUBLE) AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY YEAR(l_shipdate)
    """,
    # (q18_big_orders moved to the DataFrame-native section in r11: the
    # IN-subquery form made Spark aggregate lineitem TWICE — Catalyst
    # pushes the semi-join down both sides of the orders/lineitem join,
    # duplicating the whole subquery agg subtree (24 Exchange nodes).
    # The Spark side now runs the single-aggregation formulation in
    # q_q18_big_orders; the original string stays as ORACLE_Q18.)
    # TPC-H Q19 style: OR-of-ANDs predicate (brand x size x quantity bands)
    "q19_banded_revenue": f"""
        SELECT CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 21)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
               AND l_quantity >= 10 AND l_quantity <= 30)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
               AND l_quantity >= 20 AND l_quantity <= 40)
    """,
    # TPC-H Q21 style: suppliers owning the last shipment of
    # multi-supplier orders (window-free formulation: max-shipdate join)
    "q21_last_shipper": """
        WITH last AS (
            SELECT l_orderkey, MAX(l_shipdate) AS max_shipdate,
                   COUNT(DISTINCT l_suppkey) AS n_suppliers
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l ON s_suppkey = l.l_suppkey
        JOIN last ON l.l_orderkey = last.l_orderkey
                 AND l.l_shipdate = last.max_shipdate
        WHERE last.n_suppliers > 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    # TPC-H Q22 style: idle rich customers by name-prefix code
    # (scalar avg subquery + anti join)
    "q22_idle_customers": """
        SELECT SUBSTR(c_name, 10, 2) AS code, COUNT(*) AS numcust,
            CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4)))
                 AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS total_bal
        FROM customer c
        WHERE c_acctbal > (
                SELECT CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,4)))
                       AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) / COUNT(*)
                FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY SUBSTR(c_name, 10, 2)
    """,
    # TPC-H Q2 style: min-cost supplier per part in a region (correlated
    # scalar subquery). The testdata has no partsupp table; the supply
    # relation is derived from lineitem as each (part, supplier)'s minimum
    # observed unit price. unit_cost stays DOUBLE throughout: IEEE divide
    # and MIN are order-independent and bit-identical across engines.
    "q2_min_cost_supplier": """
        WITH supply AS (
            SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                   MIN(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
        FROM part
        JOIN supply ON p_partkey = partkey
        JOIN supplier ON s_suppkey = suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
          AND unit_cost = (
              SELECT MIN(s2.unit_cost)
              FROM supply s2
              JOIN supplier sp ON sp.s_suppkey = s2.suppkey
              JOIN nation n2 ON sp.s_nationkey = n2.n_nationkey
              JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
              WHERE s2.partkey = p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
        LIMIT 100
    """,
    # TPC-H Q6 style: forecast revenue change (single-pass filtered sum)
    "q6_forecast_revenue": """
        SELECT CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,4))
                             * CAST(l_discount AS DECIMAL(10,4)))
                    AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    # TPC-H Q11 style: parts whose one-nation supply value exceeds 0.1% of
    # the total (scalar subquery over a reused CTE). partsupp-free: value =
    # lineitem revenue from NATION_3 suppliers. The threshold compare is
    # kept in exact decimal — val * 1000 > total — so no engine-specific
    # decimal-division rounding can flip a borderline row.
    "q11_important_parts": """
        WITH value_by_part AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS val
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY l_partkey
        )
        SELECT l_partkey, CAST(CAST(CAST(val AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS part_value
        FROM value_by_part
        WHERE val * 1000 > (SELECT SUM(val) FROM value_by_part)
    """,
    # TPC-H Q13 style: customer order-count distribution (left outer join
    # with a join-time filter, then a two-level aggregate)
    "q13_order_distribution": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey
             AND o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
    """,
    # TPC-H Q15 style: top supplier by quarterly revenue (CTE + MAX scalar
    # subquery; revenue fixed to double identically before the compare)
    "q15_top_supplier": f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                CAST(CAST(CAST(SUM({_REV}) AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    # TPC-H Q20 style: suppliers who moved significant volume of a part
    # family in a year (nested IN subqueries -> semi-join chain;
    # partsupp-free: volume threshold on lineitem instead of availqty)
    "q20_part_promotion": """
        SELECT s_name, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5' AND s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE 'red%')
              AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_suppkey, l_partkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 50
        )
    """,
    # bit / bool aggregate coverage (identical names in both engines)
    "bit_bool_aggs": """
        SELECT l_returnflag,
            BIT_AND(l_linenumber) AS lines_and,
            BIT_OR(l_linenumber) AS lines_or,
            BIT_XOR(l_linenumber) AS lines_xor,
            BOOL_AND(l_quantity > 1) AS all_multi,
            BOOL_OR(l_discount > 0.09) AS any_deep_discount,
            COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
    """,
    # sliding-frame moving average (ROWS BETWEEN), decimal-exact division
    "moving_avg_spend": """
        SELECT o_custkey, o_orderkey,
            CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
                 OVER w AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE)
            / COUNT(*) OVER w AS moving_avg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
    # range_frame_peers moved out of SHARED_SQL in round 4: the Spark side
    # is now a bucketed equi-join (q_range_frame_peers) because an
    # unpartitioned RANGE window moves the whole table to ONE task; the
    # original window SQL survives as its DuckDB oracle, so the hash
    # compare proves the join rewrite equivalent.
    # string-function coverage round 2: split_part/position/left/right/
    # translate/repeat/ascii/chr — exact string semantics in both engines
    "scalar_string_extra": """
        SELECT c_custkey,
            SPLIT_PART(c_name, '#', 2) AS cust_num,
            POSITION('#' IN c_name) AS hash_pos,
            LEFT(c_mktsegment, 3) AS seg3,
            RIGHT(c_name, 4) AS name_tail,
            TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS seg_xlat,
            REPEAT(LEFT(c_mktsegment, 1), 3) AS seg_echo,
            ASCII(c_mktsegment) AS seg_ascii,
            CHR(65 + CAST(c_custkey % 26 AS INT)) AS letter
        FROM customer
    """,
    # explicit GROUPING SETS (finer than ROLLUP/CUBE)
    "grouping_sets_flagstatus": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
            CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)))
                 AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
    """,
    # UNION ALL + global sort + LIMIT/OFFSET pagination
    "union_paginated": """
        SELECT * FROM (
            SELECT c_custkey AS key, 'customer' AS kind FROM customer
            UNION ALL
            SELECT s_suppkey AS key, 'supplier' AS kind FROM supplier
        ) u
        ORDER BY key, kind
        LIMIT 50 OFFSET 10
    """,
    # inline VALUES dimension joined against a fact table
    "values_dim_join": """
        SELECT pr.label, COUNT(*) AS n_orders,
            CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
                 AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS total
        FROM orders
        JOIN (VALUES ('1-URGENT', 'rush'), ('2-HIGH', 'rush'),
                     ('3-MEDIUM', 'normal'), ('4-NOT SPECIFIED', 'normal'),
                     ('5-LOW', 'lazy')) AS pr(priority, label)
          ON o_orderpriority = pr.priority
        GROUP BY pr.label
    """,
    # variance / stddev / correlation via exact decimal moments — the
    # built-in stddev/corr differ between engines in the last 1-2 ULPs
    # (different summation orders), so the moments are decimal-exact sums
    # and the final arithmetic is the identical IEEE expression in both.
    # Wide decimals (> 2^53 of scaled integer) go through VARCHAR before
    # DOUBLE: DuckDB's int128->double cast double-rounds, while string
    # parsing is correctly rounded in both engines.
    "dispersion_stats": """
        WITH m AS (
            SELECT l_returnflag,
                COUNT(*) AS n,
                CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)))
                     AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sx,
                CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(l_quantity AS DECIMAL(12,2)))
                     AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sxx,
                CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)))
                     AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sy,
                CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_extendedprice AS DECIMAL(12,2)))
                     AS DECIMAL(38,6)) AS VARCHAR(64)) AS DOUBLE) AS syy,
                CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(l_extendedprice AS DECIMAL(12,2)))
                     AS DECIMAL(38,6)) AS VARCHAR(64)) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
            (sxx - sx * sx / n) / (n - 1) AS var_qty,
            SQRT((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
            (sxy - sx * sy / n)
                / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n))
                AS corr_qty_price
        FROM m
    """,
    # REGR_* family (slope / intercept / R^2) from the same decimal-
    # exact moments as dispersion_stats — the built-in regr_slope/corr
    # fold doubles in shuffle order and differs across engines in the
    # last ULPs; here every moment is an exact decimal sum and the
    # closed-form arithmetic is the identical IEEE expression on both.
    "regression_price_qty": """
        WITH m AS (
            SELECT l_returnflag,
                COUNT(*) AS n,
                CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)))
                     AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sx,
                CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(l_quantity AS DECIMAL(12,2)))
                     AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sxx,
                CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)))
                     AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS sy,
                CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_extendedprice AS DECIMAL(12,2)))
                     AS DECIMAL(38,6)) AS VARCHAR(64)) AS DOUBLE) AS syy,
                CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                            * CAST(l_extendedprice AS DECIMAL(12,2)))
                     AS DECIMAL(38,6)) AS VARCHAR(64)) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
            (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
            (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                AS intercept,
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
        FROM m
    """,
    # interval self-join: for each error event, how many views the same
    # user made in the prior 10 minutes
    "error_prior_views": """
        SELECT e.user_id, e.event_id AS error_event_id,
            COUNT(v.event_id) AS prior_views
        FROM events e
        LEFT JOIN events v
          ON v.user_id = e.user_id
         AND v.event_type = 'view'
         AND v.ts >= e.ts - INTERVAL 10 MINUTE
         AND v.ts < e.ts
        WHERE e.event_type = 'error'
        GROUP BY e.user_id, e.event_id
    """,
    # calendar-function coverage round 2: last_day / weekofyear /
    # dayofyear / week truncation / interval month arithmetic.
    # DATE-typed outputs are cast to TIMESTAMP: Spark's DATE arrives in
    # pandas as object(datetime.date) while DuckDB's arrives as
    # datetime64, so the driver's canonicalizer stringifies them
    # differently; TIMESTAMP round-trips identically in both engines.
    "order_calendar": """
        SELECT o_orderkey,
            CAST(LAST_DAY(o_orderdate) AS TIMESTAMP) AS month_end,
            WEEKOFYEAR(o_orderdate) AS iso_week,
            DAYOFYEAR(o_orderdate) AS doy,
            CAST(DATE_TRUNC('week', o_orderdate) AS TIMESTAMP) AS week_start,
            o_orderdate + INTERVAL 1 MONTH AS next_month,
            GREATEST(o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS floored
        FROM orders
    """,
    # document length histogram: 100-char buckets (training-data profile)
    "doc_length_histogram": """
        SELECT CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket_100,
            COUNT(*) AS n_docs,
            MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents
        GROUP BY CAST(FLOOR(n_chars / 100) AS BIGINT)
    """,
    # correlated LATERAL subquery: per-customer top-2 orders by price.
    # Spark plans this as a rewritten window/join (DecorrelateInnerQuery);
    # DuckDB as a lateral dependent join — same rows either way.
    "lateral_top_orders": """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        WHERE c.c_custkey <= 500
    """,
    # ordered funnel: first view -> first later click -> first later
    # purchase per user; stage counts in one row (scalar subqueries)
    "funnel_conversion": """
        WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
              JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t1
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
              JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t2
              GROUP BY e.user_id)
        SELECT (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_view_click,
               (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
    # session entry/exit matrix + bounce share: which event types open
    # and close 30-min-gap sessions (the landing/exit-page analog), in
    # exact ppm of all sessions.  first/last via full-frame windows —
    # identical semantics on both engines; all windows user-partitioned.
    "session_entry_exit": """
        WITH d AS (
            SELECT user_id, event_id, ts, event_type,
                CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
            FROM events
        ), s AS (
            SELECT user_id, event_id, ts, event_type,
                SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sess_ix
            FROM d
        ), fe AS (
            SELECT user_id, sess_ix,
                FIRST_VALUE(event_type) OVER w AS entry_type,
                LAST_VALUE(event_type) OVER w AS exit_type,
                COUNT(*) OVER w AS n_events
            FROM s
            WINDOW w AS (PARTITION BY user_id, sess_ix
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)
        ), ses AS (
            SELECT user_id, sess_ix, entry_type, exit_type,
                MAX(n_events) AS n_ev
            FROM fe GROUP BY user_id, sess_ix, entry_type, exit_type
        ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ses)
        SELECT entry_type, exit_type,
            CAST(COUNT(*) AS BIGINT) AS n_sessions,
            CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bounce,
            CAST(FLOOR(CAST(COUNT(*) AS BIGINT) * 1000000.0
                / (SELECT n_total FROM tot)) AS BIGINT) AS share_ppm
        FROM ses GROUP BY entry_type, exit_type
        ORDER BY entry_type, exit_type
    """,
    # sessionization: 30-minute-gap sessions per user (lag + cumsum)
    "sessionize_events": """
        WITH d AS (
            SELECT user_id, event_id, ts,
                CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
            FROM events
        ), s AS (
            SELECT user_id,
                SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS sess_ix
            FROM d
        )
        SELECT user_id, COUNT(DISTINCT sess_ix) AS n_sessions, COUNT(*) AS n_events
        FROM s GROUP BY user_id
    """,
}


def _shared_query(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    # memoized per (session, sql, sf_dir): spark.sql() analyzes eagerly,
    # so the memoized DataFrame is already resolved against THIS sf_dir's
    # temp views — re-registering views for another sf_dir later cannot
    # retarget it (same guarantee the alternating-sf M1 test pins). The
    # cached object is an unexecuted plan; every action re-scans parquet.
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        def build() -> DataFrame:
            _register_views(spark, sf_dir)
            return spark.sql(sql)

        return memo(spark, (sql, sf_dir), build)

    return run


for _name, _sql in SHARED_SQL.items():
    register(_name, _shared_query(_sql), _sql)


ORACLE_RESAMPLE = """
    WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS h, value
                FROM events WHERE user_id < 10 AND event_type = 'view'),
    obs AS (SELECT user_id, h, MAX(value) AS v FROM ev GROUP BY 1, 2),
    bounds AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1
               FROM obs GROUP BY 1),
    grid AS (SELECT user_id,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
             FROM bounds)
    SELECT g.user_id, g.h,
        last_value(o.v IGNORE NULLS) OVER (PARTITION BY g.user_id
            ORDER BY g.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
"""


@query(ORACLE_RESAMPLE)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: per user (id < 10),
    'view' values resampled onto an hourly grid between the user's first
    and last observation, gaps carrying the last observed value. Grid
    generation is sequence+explode, the fill is last(ignorenulls) over a
    per-user window — partitioned, so the fill never needs a global
    sort and shards by user at any scale."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") < 10) & (F.col("event_type") == "view")
    )
    obs = (
        ev.select("user_id", F.date_trunc("hour", "ts").alias("h"), "value")
        .groupBy("user_id", "h")
        .agg(F.max("value").alias("v"))
    )
    grid = (
        obs.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(obs, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
    )


ORACLE_SPLIT = """
    WITH t AS (SELECT lang, n_chars,
        (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'),
               1, 15)) AS BIGINT) % 100) AS h
    FROM documents)
    SELECT lang,
        CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
             ELSE 'test' END AS split,
        COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM t GROUP BY 1, 2
"""


@query(ORACLE_SPLIT)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split report (80/10/10)
    per language: the assignment every training pipeline needs to be
    reproducible across runs, engines, and re-partitioning.  The split
    key is an md5-derived 60-bit hash of doc_id mod 100 — a pure map, so
    the split adds zero shuffles on top of the report's one partial
    aggregation; at 100 TB the same expression is the partition filter
    that materializes each split."""
    docs = _t(spark, sf_dir, "documents")
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit("#split"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    split = (
        F.when(h < 80, F.lit("train"))
        .when(h < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


ORACLE_PIVOT = "SELECT user_id, " + ", ".join(
    f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES
) + " FROM events GROUP BY user_id"


@query(ORACLE_PIVOT)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


# each event belongs to windows starting at its 5-min floor and the one
# before it (width 10 = 2 slides); Spark aligns slides to the epoch, and
# 5 minutes divides DuckDB's time_bucket origin offset exactly
ORACLE_SLIDING = """
    WITH w AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
        FROM events
    )
    SELECT w_start, w_start + INTERVAL '10 minutes' AS w_end,
           COUNT(*) AS n_events
    FROM w GROUP BY w_start
"""


@query(ORACLE_SLIDING)
def q_sliding_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10 min width, 5 min slide): every event
    lands in exactly two overlapping windows. The streaming path uses the
    identical F.window operator with a watermark."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("w_start"),
            F.col("window.end").alias("w_end"),
            "n_events",
        )
    )


ORACLE_SESSION_WINDOW = """
    WITH d AS (
        SELECT user_id, ts,
            CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk
        FROM events
    ), s AS (
        SELECT user_id, ts,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS sess_ix
        FROM d
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess_ix
"""


@query(ORACLE_SESSION_WINDOW)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native session windows (F.session_window, the same operator the
    streaming path uses with a watermark) in batch mode; the oracle derives
    identical sessions via lag + cumulative sum."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


ORACLE_PROPS_JSON = """
    WITH t AS (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events),
    g AS (SELECT event_type, COUNT(*) AS n, SUM(k) AS sum_k,
                 MIN(k) AS min_k, MAX(k) AS max_k
          FROM t GROUP BY event_type)
    SELECT event_type, n, CAST(sum_k AS BIGINT) AS sum_k,
        CAST((sum_k // n) * 1000000
             + ((sum_k % n) * 2000000 + n) // (2 * n) AS DOUBLE)
            / 1000000.0 AS avg_k,
        min_k, max_k
    FROM g
"""


@query(ORACLE_PROPS_JSON)
def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (from_json) over the events ``props`` column:
    per-event-type stats of the embedded ``k`` value."""
    events = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT").getField("k")
    g = (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )
    # The 6dp average is produced entirely in BIGINT half-up arithmetic —
    # no ROUND on DOUBLE anywhere (ROUND(double, 6) differs across DuckDB
    # builds and kept this query driver-red for three rounds).  With
    # s, n >= 0:  avg_micro = (s div n)*1e6 + ((s%n)*2e6 + n) div (2n)
    # is exact half-up rounding of s/n to 6dp; the remainder form keeps
    # every intermediate < 2^54 even at 1e10+ rows (r < n, r*2e6 bounded).
    # int64 -> double is exact below 2^53 and one IEEE division by 1e6 is
    # bit-deterministic on every engine.
    avg_micro = _avg_micro_expr("sum_k", "n")
    return g.select(
        "event_type",
        "n",
        "sum_k",
        (avg_micro.cast("double") / F.lit(1000000.0)).alias("avg_k"),
        "min_k",
        "max_k",
    )


# the original shared string, unchanged, as the DuckDB replay
ORACLE_Q18 = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)))
             AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 180
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
"""


@query(ORACLE_Q18)
@_pure_plan
def q_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 style, single-aggregation formulation (r11 optimization,
    guide §2.4: remove shuffles outright).

    The shared-SQL ``IN (SELECT l_orderkey ... HAVING SUM(qty) > 180)``
    form planned as TWO full lineitem aggregations: Catalyst rewrites the
    IN-subquery to a LeftSemi join and pushes it down BOTH sides of the
    orders=lineitem join, duplicating the agg subtree (measured: 24
    Exchange nodes, 3.1 s at sf0.1). But the outer GROUP BY
    (c_name, c_custkey, o_orderkey, o_orderdate) is keyed by the order
    primary key — each group IS one order, and its SUM(l_quantity) is
    exactly the per-order sum the subquery already computes. So compute
    the per-order sum ONCE, filter > 180, and join the surviving (tiny)
    order keys to orders + customer; lineitem is scanned and aggregated
    a single time and never re-shuffled. Equivalence holds because
    o_orderkey functionally determines (o_orderdate, o_custkey) ->
    (c_name, c_custkey); pinned by the unchanged ORACLE_Q18 (the
    original query text) across sf0.001/0.01/0.1 strict hash checks.

    At 100 TB this halves the dominant cost (two full scans + two
    shuffles of the fact table -> one of each) and turns the final join
    into broadcast-size work: orders past the >180 filter are a
    vanishing fraction of lineitem."""
    _register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH big AS (
            SELECT l_orderkey,
                   SUM(CAST(l_quantity AS DECIMAL(12,4))) AS qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 180
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
            CAST(CAST(CAST(qty AS DECIMAL(30,6)) AS VARCHAR(64)) AS DOUBLE)
                AS total_qty
        FROM big
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        """
    )


ORACLE_RANGE_FRAME = """
    SELECT o_orderkey, o_totalprice,
        COUNT(*) OVER (ORDER BY o_totalprice
                       RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
            AS n_similar_cheaper
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
"""


@query(ORACLE_RANGE_FRAME)
def q_range_frame_peers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-value-range window count, expressed scale-first.

    Semantics: for each order, how many orders have o_totalprice within
    [p - 100, p] — i.e. ``COUNT(*) OVER (ORDER BY o_totalprice RANGE
    BETWEEN 100 PRECEDING AND CURRENT ROW)``.  An unpartitioned RANGE
    window moves every row to ONE task (Spark warns exactly that), so
    here the frame is a **bucketed equi-join**: bucket width = the range
    width (100), the probe side joins its own bucket only, and the build
    side emits each row into its bucket and the one above — every
    qualifying pair lands in exactly one (probe-bucket, build-emission)
    slot, then an exact range filter trims the corners.  Shuffles by
    bucket (uniformly distributed), never a global sort; the oracle runs
    the textbook window SQL and the hash compare proves equivalence."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-06-01 00:00:00").cast("timestamp")
    )
    bucket = F.floor(F.col("o_totalprice") / 100).cast("long")
    probe = orders.select(
        "o_orderkey", "o_totalprice", bucket.alias("_b")
    )
    build = orders.select(
        F.col("o_totalprice").alias("_bp"),
        F.explode(F.array(bucket, bucket + 1)).alias("_b"),
    )
    return (
        probe.join(build, "_b")
        .filter(
            (F.col("_bp") >= F.col("o_totalprice") - 100)
            & (F.col("_bp") <= F.col("o_totalprice"))
        )
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("n_similar_cheaper"))
    )


ORACLE_SEGMENT_LISTAGG = """
    SELECT c_nationkey,
        string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
        COUNT(*) AS n_customers
    FROM customer GROUP BY c_nationkey
"""


@query(ORACLE_SEGMENT_LISTAGG)
def q_segment_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: per nation, the sorted distinct market
    segments joined with ','. collect_set + array_sort + array_join is the
    deterministic Spark form (listagg without a within-group sort is not)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.array_join(
            F.array_sort(F.collect_set("c_mktsegment")), ","
        ).alias("segments"),
        F.count(F.lit(1)).alias("n_customers"),
    )


ORACLE_UNPIVOT = """
    SELECT c_custkey, 'acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS value
    FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE)
    FROM customer
"""


@query(ORACLE_UNPIVOT)
def q_unpivot_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (stack): customer numeric columns to
    (metric, value) rows — the inverse of pivot_event_counts."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', CAST(c_acctbal AS DOUBLE),"
            " 'nationkey', CAST(c_nationkey AS DOUBLE))"
        ).alias("metric", "value"),
    )


ORACLE_EMB_HOF = """
    SELECT vec_id,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
            (acc, x) -> acc + x) AS sq_norm,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(len(embedding)), i ->
                CAST(embedding[i + 1] AS DOUBLE)
                * CAST(embedding[len(embedding) - i] AS DOUBLE))),
            (acc, x) -> acc + x) AS rev_dot,
        CAST(list_max(embedding) AS DOUBLE) AS max_component,
        len(embedding) AS n_dims
    FROM embeddings
"""


@query(ORACLE_EMB_HOF)
def q_embedding_hof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: left-fold
    sum of squares (AGGREGATE), reversed-self dot product (ZIP_WITH +
    AGGREGATE), max component. Left folds produce the identical IEEE
    result in both engines (same add order)."""
    emb = _t(spark, sf_dir, "embeddings")
    x2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    rev_dot = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.reverse(F.col("embedding")),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        x2.alias("sq_norm"),
        rev_dot.alias("rev_dot"),
        F.array_max("embedding").cast("double").alias("max_component"),
        F.size("embedding").alias("n_dims"),
    )


ORACLE_PERCENTILES = """
    SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS q25,
        quantile_cont(l_quantity, 0.5) AS q50,
        quantile_cont(l_quantity, 0.75) AS q75,
        quantile_cont(l_quantity, 0.9) AS q90
    FROM lineitem GROUP BY l_returnflag
"""


@query(ORACLE_PERCENTILES)
def q_percentile_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles of l_quantity per return flag. Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share the same linear
    interpolation; quantity values are small integers so the interpolated
    doubles are bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.5)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.expr("percentile(l_quantity, 0.9)").alias("q90"),
    )


ORACLE_LINENUMBER_SETS = """
    WITH g AS (SELECT l_orderkey, list_sort(array_agg(l_linenumber)) AS lns
               FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey,
        array_to_string(lns, ',') AS linenumbers,
        len(lns) AS n_lines,
        list_contains(lns, 4) AS has_line4,
        lns[1] AS first_line,
        lns[-1] AS last_line
    FROM g
"""


@query(ORACLE_LINENUMBER_SETS)
def q_order_linenumber_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction/inspection per order: sorted collect_list of
    line numbers rendered as a string (hash-safe), plus size and
    membership predicates."""
    li = _t(spark, sf_dir, "lineitem")
    lns = F.sort_array(F.collect_list("l_linenumber"))
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(",", lns).alias("linenumbers"),
        F.size(lns).alias("n_lines"),
        F.array_contains(lns, 4).alias("has_line4"),
        F.element_at(lns, 1).alias("first_line"),
        F.element_at(lns, -1).alias("last_line"),
    )


ORACLE_PROFILE = """
    WITH a AS (SELECT
        CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS q_nulls,
        COUNT(DISTINCT l_quantity) AS q_dist,
        CAST(MIN(l_quantity) AS DOUBLE) AS q_min,
        CAST(MAX(l_quantity) AS DOUBLE) AS q_max,
        CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS p_nulls,
        COUNT(DISTINCT l_extendedprice) AS p_dist,
        CAST(MIN(l_extendedprice) AS DOUBLE) AS p_min,
        CAST(MAX(l_extendedprice) AS DOUBLE) AS p_max,
        CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS d_nulls,
        COUNT(DISTINCT l_discount) AS d_dist,
        CAST(MIN(l_discount) AS DOUBLE) AS d_min,
        CAST(MAX(l_discount) AS DOUBLE) AS d_max,
        CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS s_nulls,
        COUNT(DISTINCT l_returnflag) AS s_dist,
        MIN(l_returnflag) AS s_min,
        MAX(l_returnflag) AS s_max
        FROM lineitem)
    SELECT 'l_quantity' AS "column", q_nulls AS n_nulls, q_dist AS n_distinct,
           q_min AS min_num, q_max AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM a
    UNION ALL
    SELECT 'l_extendedprice', p_nulls, p_dist, p_min, p_max,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
    UNION ALL
    SELECT 'l_discount', d_nulls, d_dist, d_min, d_max,
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a
    UNION ALL
    SELECT 'l_returnflag', s_nulls, s_dist,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), s_min, s_max FROM a
"""


@query(ORACLE_PROFILE)
def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler — the data-quality summary every
    ingestion pipeline runs before training: per column null count,
    distinct count, min/max.  Numeric extrema stay DOUBLE (bit-exact on
    both engines; stringifying floats is renderer-version-sensitive) and
    only genuinely-string columns report string extrema.  All aggregates
    fuse into a single scan + one partial-agg shuffle (count_distinct is
    exact here; at 100 TB swap in the KMV sketch the engine also
    provides).  Unpivoted to (column, metric rows) so adding columns
    never changes the schema."""
    li = _t(spark, sf_dir, "lineitem")
    num_cols = ["l_quantity", "l_extendedprice", "l_discount"]
    str_cols = ["l_returnflag"]
    cols = num_cols + str_cols
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).alias(f"{c}__min"),
            F.max(F.col(c)).alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    pieces = []
    for c in cols:
        is_num = c in num_cols
        pieces.append(
            one.select(
                F.lit(c).alias("column"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__distinct").cast("bigint").alias("n_distinct"),
                (
                    F.col(f"{c}__min").cast("double")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"{c}__max").cast("double")
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (
                    F.lit(None).cast("string")
                    if is_num
                    else F.col(f"{c}__min").cast("string")
                ).alias("min_str"),
                (
                    F.lit(None).cast("string")
                    if is_num
                    else F.col(f"{c}__max").cast("string")
                ).alias("max_str"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionAll(p)
    return out


ORACLE_COUNT_MIN = """
    WITH ev AS (SELECT user_id FROM events),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (SELECT r,
                  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cm'
                      || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) % 256
                      AS bucket,
                  COUNT(*) AS cell
              FROM ev CROSS JOIN rows_ GROUP BY 1, 2),
    top AS (SELECT user_id, COUNT(*) AS exact_cnt FROM ev GROUP BY 1
            ORDER BY exact_cnt DESC, user_id LIMIT 10),
    probes AS (SELECT user_id, exact_cnt, r,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#cm'
                       || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) % 256
                       AS bucket
               FROM top CROSS JOIN rows_)
    SELECT p.user_id, p.exact_cnt, MIN(c.cell) AS cm_est
    FROM probes p JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
    GROUP BY 1, 2
"""


@query(ORACLE_COUNT_MIN)
def q_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation: 4 hash rows x 256 buckets
    (md5-derived, engine-replayable), estimate = min over rows — checked
    against the exact counts of the 10 heaviest users.  The sketch is
    the heavy-hitter shape that survives 100 TB: the shuffle carries at
    most 1024 cells regardless of corpus size (partial-aggregated
    map-side), point estimates never rescan the corpus, and sketches
    merge by cell-wise addition across days/streams.  CM guarantees
    est >= exact; the test asserts the bound and the oracle replays the
    exact cell values."""
    ev = _t(spark, sf_dir, "events").select("user_id")
    rows = spark.createDataFrame([(0,), (1,), (2,), (3,)], "r int")
    sketch = (
        ev.crossJoin(F.broadcast(rows))
        .groupBy(
            F.col("r"),
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("user_id").cast("string"),
                                F.lit("#cm"),
                                F.col("r").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(256),
            ).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.col("user_id"))
        .limit(10)
    )
    probes = top.crossJoin(F.broadcast(rows)).select(
        "user_id",
        "exact_cnt",
        "r",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit("#cm"),
                            F.col("r").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(256),
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("cell").alias("cm_est"))
    )


ORACLE_REBALANCE = """
    WITH d AS (SELECT doc_id, lang FROM documents),
    counts AS (SELECT lang, COUNT(*) AS n_total FROM d GROUP BY lang),
    m AS (SELECT MIN(n_total) AS m FROM counts),
    kept AS (SELECT d.lang, COUNT(*) AS n_kept
             FROM d JOIN counts USING (lang) CROSS JOIN m
             WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                       || '#mix'), 1, 4)) AS BIGINT) * n_total
                   < 65536 * m
             GROUP BY d.lang)
    SELECT lang, n_total, COALESCE(n_kept, 0) AS n_kept
    FROM counts LEFT JOIN kept USING (lang)
"""


@query(ORACLE_REBALANCE)
def q_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalancing: downsample every language to ~the
    smallest language's share with a deterministic hash filter (keep
    doc iff bucket16(md5(id)) * lang_count < 65536 * min_count) — the
    same rows survive on any engine at any parallelism.  Per-lang
    counts ride in via one broadcast aggregate; the filter itself is a
    pure scan predicate.  Emits lang, n_total, n_kept."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    m = counts.agg(F.min("n_total").alias("m"))
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#mix"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    kept = (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(m))
        .filter(bucket * F.col("n_total") < F.lit(65536) * F.col("m"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return counts.join(kept, "lang", "left").select(
        "lang", "n_total", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


ORACLE_RETENTION = """
    WITH fw AS (SELECT user_id,
                    MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
                FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT e.user_id, fw.cohort_week,
                (CAST(date_trunc('week', e.ts) AS DATE) - fw.cohort_week)
                    // 7 AS week_offset
            FROM events e JOIN fw ON e.user_id = fw.user_id)
    SELECT CAST(cohort_week AS VARCHAR) AS cohort_week, week_offset,
           COUNT(*) AS n_users
    FROM act GROUP BY cohort_week, week_offset
"""


# Same growing-cell-count window bomb as ORACLE_SEMDEDUP (nc = n // 600
# makes the assignment cross product 66.6 M rows at sf10; windowed with
# two 64-dim double lists per row, DuckDB spilled past the machine —
# this one filled 76 GB of /tmp before dying): cosine into a scalar CTE
# first, MATERIALIZED reuse points, and scored (consumed by both the
# moment aggregate and the final filter) materialized at 200 k scalar
# rows.  A/B-pinned and strict-compared like the semdedup rewrite.
@query(ORACLE_RETENTION)


def q_weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: cohort = each user's first active
    week, cell = distinct users active k weeks later. Two hash
    aggregations (first-week, then cohort x offset distinct) — the
    growth-dashboard staple. DataFrame-native because Spark and DuckDB
    type DATE subtraction differently (interval vs day count); the
    cohort key emits as a string so both engines hash identically."""
    ev = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    fw = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    act = (
        ev.join(fw, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.expr(
                "datediff(cast(date_trunc('week', ts) as date), cohort_week)"
                " div 7"
            ).alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.col("cohort_week").cast("string").alias("cohort_week"),
        "week_offset",
        "n_users",
    )


ORACLE_SKEW = """
    WITH pu AS (SELECT event_type, user_id, COUNT(*) AS n
                FROM events GROUP BY event_type, user_id),
    pt AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_rows,
               COUNT(*) AS n_users, MAX(n) AS max_user_rows
           FROM pu GROUP BY event_type)
    SELECT event_type, n_rows, n_users, max_user_rows,
        (max_user_rows * 1000000) // n_rows AS top_user_share_ppm,
        (n_rows * 1000000) // n_users AS rows_per_user_ppm
    FROM pt
"""


@query(ORACLE_SKEW)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis for the events table — the report that decides
    whether a join/agg needs salting BEFORE the 100 TB run discovers it:
    per event_type, row count, distinct users, the heaviest user's exact
    share in ppm, and the mean rows-per-user in ppm. Two partial-agg
    passes (per-(type,user) counts, then per-type max/sum) — integer
    arithmetic end-to-end."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_type = per_user.groupBy("event_type").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_users"),
        F.max("n").alias("max_user_rows"),
    )
    return per_type.select(
        "event_type",
        "n_rows",
        "n_users",
        "max_user_rows",
        F.expr("max_user_rows * 1000000 div n_rows").alias(
            "top_user_share_ppm"
        ),
        F.expr("n_rows * 1000000 div n_users").alias("rows_per_user_ppm"),
    )


ORACLE_TRIMMED = """
    WITH ranked AS (SELECT event_type, value, event_id,
            ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events),
    kept AS (SELECT event_type,
            CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        FROM ranked WHERE rn > n // 20 AND rn <= n - n // 20),
    agg AS (SELECT event_type, SUM(vm) AS s, COUNT(*) AS k
            FROM kept GROUP BY event_type)
    SELECT event_type, k AS n_kept,
        CAST(CASE WHEN s >= 0
                  THEN (s // k) + ((s % k) * 2 + k) // (2 * k)
                  ELSE -(((-s) // k) + (((-s) % k) * 2 + k) // (2 * k))
             END AS DOUBLE)
            / 1000000.0 AS trimmed_mean
    FROM agg
"""


@query(ORACLE_TRIMMED)
def q_trimmed_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type statistics: the 5%-trimmed mean of event value
    (drop floor(n/20) rows from each tail, deterministic (value,
    event_id) tie-break). Each kept value converts to exact integer
    micro-units BEFORE summation, so the aggregate is order-independent
    and no double is ever rounded. Scale shape: one shuffle to rank
    within event_type; at 100 TB the per-type sort is the cost — for
    heavy keys you'd swap in an approx-quantile cut, traded here for
    exact-oracle checkability."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    kept = ranked.filter(
        (F.col("rn") > F.expr("n div 20"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 20"))
    )
    vmicro = F.floor(
        F.col("value") * F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    agg = kept.groupBy("event_type").agg(
        F.sum(vmicro).alias("s"),
        F.count(F.lit(1)).alias("k"),
    )
    # s is micro-units already: round-half-up s/k stays in BIGINT.
    # Sign-safe: the remainder form assumes s >= 0 (true for the
    # fixture, value >= 0.01), so negative sums take the mirrored
    # branch — half-away-from-zero on both engines, no reliance on
    # either engine's negative div/% convention.
    mean_micro = F.expr(
        "CASE WHEN s >= 0 THEN (s div k) + ((s % k) * 2 + k) div (2 * k)"
        " ELSE -(((-s) div k) + (((-s) % k) * 2 + k) div (2 * k)) END"
    )
    return agg.select(
        "event_type",
        F.col("k").alias("n_kept"),
        (mean_micro.cast("double") / F.lit(1000000.0)).alias(
            "trimmed_mean"
        ),
    )


ORACLE_SEASONALITY = """
    WITH h AS (SELECT event_type, EXTRACT(hour FROM ts) AS hour_of_day,
            CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        FROM events),
    hourly AS (SELECT event_type, hour_of_day, COUNT(*) AS n_events,
                      SUM(vm) AS s
               FROM h GROUP BY 1, 2),
    totals AS (SELECT event_type, SUM(n_events) AS n_tot, SUM(s) AS s_tot
               FROM hourly GROUP BY 1)
    SELECT hourly.event_type, CAST(hour_of_day AS INT) AS hour_of_day,
        n_events,
        CAST(CASE WHEN s >= 0
                  THEN (s // n_events)
                       + ((s % n_events) * 2 + n_events) // (2 * n_events)
                  ELSE -(((-s) // n_events)
                       + (((-s) % n_events) * 2 + n_events) // (2 * n_events))
             END AS DOUBLE) / 1000000.0 AS mean_value,
        CAST((CAST(s AS HUGEINT) * n_tot * 1000000)
             // (CAST(n_events AS HUGEINT) * s_tot) AS BIGINT)
            AS season_ppm
    FROM hourly JOIN totals ON hourly.event_type = totals.event_type
"""


@query(ORACLE_SEASONALITY)
def q_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: per (event_type, hour-of-day), event count,
    micro-unit mean value, and the seasonality index — this hour's mean
    over the type's all-hours mean, in ppm by EXACT integer arithmetic
    (sum_h * n_total * 1e6) div (n_h * sum_total), so no double forms
    anywhere: Spark holds the product in DECIMAL(38,0); the oracle must
    use HUGEINT because DuckDB silently widens an over-38-digit decimal
    product to DOUBLE, which floors one ulp low on ~half the rows
    (observed at sf0.01). One scan, two partial aggregations, a
    broadcast-size rejoin on event_type — the 100 TB shape of every
    diurnal-load report."""
    ev = _t(spark, sf_dir, "events")
    vm = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    hourly = (
        ev.select(
            "event_type",
            F.hour("ts").alias("hour_of_day"),
            vm.alias("vm"),
        )
        .groupBy("event_type", "hour_of_day")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("vm").alias("s"))
    )
    totals = hourly.groupBy("event_type").agg(
        F.sum("n_events").alias("n_tot"), F.sum("s").alias("s_tot")
    )
    # Sign-safe half-up (see trimmed_event_stats): mirrored branch for
    # negative sums so neither engine's negative div/% convention is
    # load-bearing; identical to the plain form on the non-negative
    # fixture values.
    mean_micro = F.expr(
        "CASE WHEN s >= 0 THEN (s div n_events)"
        " + ((s % n_events) * 2 + n_events) div (2 * n_events)"
        " ELSE -(((-s) div n_events)"
        " + (((-s) % n_events) * 2 + n_events) div (2 * n_events)) END"
    )
    # index_ppm = (s/n) / (s_tot/n_tot) * 1e6, exactly:
    #   (s * n_tot * 1e6) div (n_events * s_tot)   [all BIGINT-safe at
    #   micro-units <= 5e8 and group counts <= 1e9 via the decimal cast]
    idx = F.expr(
        "CAST((CAST(s AS DECIMAL(38,0)) * n_tot * 1000000)"
        " div (CAST(n_events AS DECIMAL(38,0)) * s_tot) AS BIGINT)"
    )
    return (
        hourly.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "hour_of_day",
            "n_events",
            (mean_micro.cast("double") / F.lit(1000000.0)).alias(
                "mean_value"
            ),
            idx.alias("season_ppm"),
        )
    )


ORACLE_SHUFFLE_SHARDS = """
    WITH h AS (SELECT doc_id,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shuf'), 1, 15))
            ::BIGINT AS h
    FROM documents)
    SELECT doc_id, h % 8 AS shard,
        ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
    FROM h
"""


@query(ORACLE_SHUFFLE_SHARDS)
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training order: every document
    gets a (shard, position) that is a pure function of its id — the
    reproducible global shuffle a data loader needs (re-running the
    pipeline, on any engine at any parallelism, yields byte-identical
    epoch order).  shard = 60-bit md5 hash mod 8; position =
    rank-by-hash within the shard.  Scale shape: the hash is a scan
    projection; the only shuffle is the per-shard repartition, and each
    shard's sort covers 1/n_shards of the corpus — with shards sized to
    executor count this is the standard distributed-shuffle shape (no
    global sort ever materializes a total order)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#shuf"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(8)))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).alias("pos"),
        )
    )


ORACLE_ROBUST_OUTLIERS = """
    WITH base AS (SELECT event_type, event_id,
            CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        FROM events),
    r AS (SELECT event_type, vm,
            ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY vm, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM base),
    med AS (SELECT event_type, vm AS med FROM r WHERE rn = (n + 1) // 2),
    dev AS (SELECT base.event_type, base.event_id, base.vm,
                   abs(base.vm - med.med) AS dv, med.med
            FROM base JOIN med ON base.event_type = med.event_type),
    rd AS (SELECT event_type, dv,
            ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY dv, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM dev),
    mad AS (SELECT event_type, dv AS mad FROM rd WHERE rn = (n + 1) // 2)
    SELECT dev.event_type, COUNT(*) AS n,
        CAST(MIN(dev.med) AS DOUBLE) / 1000000.0 AS median_value,
        CAST(MIN(mad.mad) AS DOUBLE) / 1000000.0 AS mad_value,
        COUNT(*) FILTER (WHERE dev.dv > 3 * mad.mad) AS n_outliers
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    GROUP BY dev.event_type
"""


@query(ORACLE_ROBUST_OUTLIERS)
def q_robust_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier report per event type — the
    loss-spike detector shape: median and median-absolute-deviation of
    event value in EXACT micro-unit integers (lower median at rank
    (n+1)/2 under a deterministic (value, event_id) order), then the
    count of values beyond 3 MADs.  No mean/stddev — one hot key with
    a fat tail cannot drag the threshold.  Scale: two per-type rank
    windows (same trade as trimmed_event_stats — swap in approx
    quantiles at 100 TB; exact here for oracle checkability) and one
    final partial agg."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    vm = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    base = ev.select("event_type", "event_id", vm.alias("vm"))
    w = Window.partitionBy("event_type").orderBy("vm", "event_id")
    wn = Window.partitionBy("event_type")
    med = (
        base.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("vm").alias("med"))
    )
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "dv", F.abs(F.col("vm") - F.col("med"))
    )
    wd = Window.partitionBy("event_type").orderBy("dv", "event_id")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("dv").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.first("med").cast("double") / F.lit(1000000.0)).alias(
                "median_value"
            ),
            (F.first("mad").cast("double") / F.lit(1000000.0)).alias(
                "mad_value"
            ),
            F.count_if(
                F.col("dv") > F.lit(3) * F.col("mad")
            ).alias("n_outliers"),
        )
    )


# the ONE Benford expectation table both the Spark query and the DuckDB
# oracle are generated from (round-half-up ppm of log10(1 + 1/d)) — a
# single source so the two sides cannot desynchronize
_BENFORD_PPM = [
    (d, int(math.floor(1e6 * math.log10(1 + 1 / d) + 0.5)))
    for d in range(1, 10)
]


_BENFORD_VALUES = ", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM)

ORACLE_BENFORD = f"""
    WITH obs AS (SELECT digit, COUNT(*) AS observed FROM (
            SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT)
                AS digit FROM orders) t
        WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
    e(digit, expected_ppm) AS (VALUES {_BENFORD_VALUES}),
    n AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs)
    SELECT obs.digit, observed, CAST(expected_ppm AS BIGINT) AS expected_ppm,
        ((observed * 1000000 // n.n) - expected_ppm)
        * ((observed * 1000000 // n.n) - expected_ppm)
        // expected_ppm AS chi_term_micro
    FROM obs JOIN e ON obs.digit = e.digit CROSS JOIN n
"""


@query(ORACLE_BENFORD)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the fraud/synthetic-
    data screen: observed first-digit counts of o_totalprice vs the
    Benford expectation, with the chi-square statistic in deterministic
    arithmetic on the ppm scale: expected_ppm = round-half-up of
    1e6*log10(1+1/d) as a LITERAL table (no runtime transcendental);
    observed_ppm = obs*1e6 div n; chi term = (obs_ppm - exp_ppm)^2 div
    exp_ppm — every intermediate <= 1e12, overflow-proof at any corpus
    size (the un-rescaled (obs*1e6 - n*exp)^2 form overflows int64 past
    ~140k rows).  First digit via the string head: both engines render
    doubles shortest-roundtrip and plain (not E-notation) for
    1e-3 <= x < 1e7, which bounds o_totalprice at every SF.  One scan,
    a 9-row aggregate, a broadcast literal join."""
    ev = _t(spark, sf_dir, "orders")
    d = F.substring(F.col("o_totalprice").cast("string"), 1, 1).cast("int")
    obs = (
        ev.select(d.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    exp_df = spark.createDataFrame(
        _BENFORD_PPM, "digit int, expected_ppm long"
    )
    tot = obs.agg(F.sum("observed").alias("n"))
    return (
        obs.join(F.broadcast(exp_df), "digit")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "observed",
            "expected_ppm",
            F.expr(
                "((observed * 1000000 div n) - expected_ppm)"
                " * ((observed * 1000000 div n) - expected_ppm)"
                " div expected_ppm"
            ).alias("chi_term_micro"),
        )
    )


ORACLE_PEAK_CONCURRENCY = """
    WITH spans AS (SELECT CAST(ts AS DATE) AS day, user_id,
                          MIN(ts) AS t0, MAX(ts) AS t1
                   FROM events GROUP BY 1, 2),
    deltas AS (SELECT day, user_id, t0 AS t, 1 AS d FROM spans
               UNION ALL
               SELECT day, user_id, t1 AS t, -1 AS d FROM spans),
    running AS (SELECT day, t,
            SUM(d) OVER (PARTITION BY day ORDER BY t, d DESC, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM deltas),
    peaks AS (SELECT day, t, c,
            MAX(c) OVER (PARTITION BY day) AS peak
        FROM running)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(MIN(peak) AS BIGINT) AS peak_concurrent,
           MIN(t) AS first_peak_at
    FROM peaks WHERE c = peak GROUP BY day
"""


@query(ORACLE_PEAK_CONCURRENCY)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: per day, the maximum number of
    simultaneously-active users (a user is active between their first
    and last event of the day) and when the peak is first reached —
    the capacity-planning query.  Mechanism: each interval becomes a
    +1 (start) / -1 (end-exclusive) delta, and the peak is the max of
    the running delta sum in event order — O(n log n) via one per-day
    window, never interval-pair joins (O(n^2)).  Partitioned by day:
    each day's sweep is independent; at 100 TB you'd range-partition
    time finer and carry boundary offsets between ranges (a 2-pass
    prefix-sum — same algebra, documented trade; per-day is the
    honest local shape).  Tie order (ts, delta desc, user) counts a
    user whose interval starts when another's ends as overlapping at
    that instant; the oracle replays the identical order."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    spans = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day", "user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    )
    deltas = spans.select(
        "day", "user_id", F.col("t0").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        spans.select(
            "day", "user_id", F.col("t1").alias("t"), F.lit(-1).alias("d")
        )
    )
    w = Window.partitionBy("day").orderBy(
        "t", F.desc("d"), "user_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = deltas.withColumn("c", F.sum("d").over(w))
    wd = Window.partitionBy("day")
    return (
        running.withColumn("peak", F.max("c").over(wd))
        .filter(F.col("c") == F.col("peak"))
        .groupBy("day")
        .agg(
            F.first("peak").alias("peak_concurrent"),
            F.min("t").alias("first_peak_at"),
        )
        .select(
            # dates emit as ISO strings: Spark DateType reaches pandas as
            # python objects while DuckDB DATE arrives datetime64 — the
            # one emission type the (int-width, datetime-unit) coercions
            # can't align; '2024-01-05' renders identically everywhere
            F.col("day").cast("string").alias("day"),
            F.col("peak_concurrent").cast("bigint").alias("peak_concurrent"),
            "first_peak_at",
        )
    )


ORACLE_MARKOV = """
    WITH seq AS (SELECT user_id, event_type AS src,
            LEAD(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS dst
        FROM events),
    pairs AS (SELECT src, dst, COUNT(*) AS n FROM seq
              WHERE dst IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_src
            FROM pairs GROUP BY src)
    SELECT pairs.src, dst, n, n * 1000000 // n_src AS p_ppm
    FROM pairs JOIN tot ON pairs.src = tot.src
"""


@query(ORACLE_MARKOV)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-sequence model: per (event_type -> next
    event_type within the same user), transition count and probability
    in exact integer ppm — the Markov matrix behind both
    next-action prediction and funnel-anomaly detection.  One lead
    window per user (the key shuffle), one bounded aggregation; ties
    in event time break on event_id, the repo's standard total
    order."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("src").agg(F.sum("n").alias("n_src"))
    return (
        pairs.join(F.broadcast(tot), "src")
        .select(
            "src",
            "dst",
            "n",
            F.expr("n * 1000000 div n_src").alias("p_ppm"),
        )
    )


ORACLE_THEIL_SEN = """
    WITH base AS (SELECT event_type,
            epoch_us(ts) // 86400000000 AS d,
            CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        FROM events),
    daily AS (SELECT event_type, d, CAST(SUM(vm) AS BIGINT) AS s,
                     COUNT(*) AS c
              FROM base GROUP BY 1, 2),
    m AS (SELECT event_type, d,
            (s // c) + ((s % c) * 2 + c) // (2 * c) AS mean_micro
          FROM daily),
    slopes AS (SELECT a.event_type,
            CASE WHEN b.mean_micro >= a.mean_micro THEN
                ((b.mean_micro - a.mean_micro) // (b.d - a.d))
                + (((b.mean_micro - a.mean_micro) % (b.d - a.d)) * 2
                   + (b.d - a.d)) // (2 * (b.d - a.d))
            ELSE
                -(((a.mean_micro - b.mean_micro) // (b.d - a.d))
                + (((a.mean_micro - b.mean_micro) % (b.d - a.d)) * 2
                   + (b.d - a.d)) // (2 * (b.d - a.d)))
            END AS slope_micro
        FROM m a JOIN m b ON a.event_type = b.event_type AND a.d < b.d),
    r AS (SELECT event_type, slope_micro,
            ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY slope_micro) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM slopes)
    SELECT event_type, n AS n_pairs,
        CAST(slope_micro AS DOUBLE) / 1000000.0 AS theil_sen_slope
    FROM r WHERE rn = (n + 1) // 2
"""


@query(ORACLE_THEIL_SEN)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend per event type: the Theil-Sen slope (median of all
    pairwise slopes) of daily mean value over the month — the
    outlier-immune alternative to OLS for drift monitoring (one wild
    day cannot drag the slope).  Exact arithmetic end-to-end: daily
    means in micro-units (half-up integer), each pairwise slope in
    micro-units/day (sign-safe half-up rational rounding), the median
    by rank.  Scale shape: the pairwise join runs on the DAILY
    AGGREGATE (<= 31 rows per type — pairs are bounded at 465/type no
    matter the corpus size), so the only corpus-sized stage is the
    first partial aggregation."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    vm = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    daily = (
        ev.select(
            "event_type",
            # ABSOLUTE day index: dayofmonth would wrap at month
            # boundaries and merge unrelated days
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("d"),
            vm.alias("vm"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("vm").alias("s"), F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            "d",
            # vm is ALREADY micro-units: the mean is plain half-up s/c —
            # routing it through _avg_micro_expr would scale by 1e6 a
            # second time and inflate the final slope a million-fold
            F.expr(
                "(s div c) + ((s % c) * 2 + c) div (2 * c)"
            ).alias("mean_micro"),
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.expr(
                "CASE WHEN `b`.`mean_micro` >= `a`.`mean_micro` THEN"
                " ((`b`.`mean_micro` - `a`.`mean_micro`) div (`b`.`d` - `a`.`d`))"
                " + (((`b`.`mean_micro` - `a`.`mean_micro`) % (`b`.`d` - `a`.`d`)) * 2"
                "    + (`b`.`d` - `a`.`d`)) div (2 * (`b`.`d` - `a`.`d`))"
                " ELSE"
                " -(((`a`.`mean_micro` - `b`.`mean_micro`) div (`b`.`d` - `a`.`d`))"
                " + (((`a`.`mean_micro` - `b`.`mean_micro`) % (`b`.`d` - `a`.`d`)) * 2"
                "    + (`b`.`d` - `a`.`d`)) div (2 * (`b`.`d` - `a`.`d`)))"
                " END"
            ).alias("slope_micro"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope_micro")
    wn = Window.partitionBy("event_type")
    med = (
        slopes.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
    )
    return med.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        (F.col("slope_micro").cast("double") / F.lit(1000000.0)).alias(
            "theil_sen_slope"
        ),
    )


ORACLE_GINI = """
    WITH spend AS (SELECT o_custkey,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                 AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey),
    pc AS (SELECT c_mktsegment, c_custkey,
            COALESCE(cents, 0) AS cents
        FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
    r AS (SELECT c_mktsegment, cents,
            ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                ORDER BY cents, c_custkey) AS rn
          FROM pc),
    agg AS (SELECT c_mktsegment, COUNT(*) AS n,
            CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s0,
            CAST(SUM(CAST(rn AS HUGEINT) * CAST(cents AS HUGEINT))
                 AS HUGEINT) AS s1
        FROM r GROUP BY c_mktsegment)
    SELECT c_mktsegment, n, CAST(s0 AS VARCHAR) AS total_cents,
        CAST((2 * s1 - (CAST(n AS HUGEINT) + 1) * s0) * 1000000
             // (CAST(n AS HUGEINT) * s0) AS BIGINT) AS gini_ppm
    FROM agg
"""


@query(ORACLE_GINI)
def q_gini_spend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-inequality report: exact Gini coefficient of customer
    lifetime spend per market segment, in integer ppm — the
    concentration metric behind both revenue-risk and data-diversity
    audits.  Formula over ascending spend x_1..x_n (rank i):
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)); every product runs
    in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — verified to agree
    bit-for-bit under integral division — so the arithmetic cannot
    overflow at ANY corpus scale, and ties order by (cents, custkey)
    deterministically.  Scale shape: spend aggregates at customer
    cardinality (one corpus-sized partial agg); the rank window sorts
    the CUSTOMER dimension per segment — the documented
    dimension-sized-sort trade, as in trimmed_event_stats."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(
        F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")
    spend = (
        orders.select("o_custkey", cents.alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    per_cust = cust.join(
        spend, cust["c_custkey"] == spend["o_custkey"], "left"
    ).select(
        "c_mktsegment",
        "c_custkey",
        F.coalesce("cents", F.lit(0)).alias("cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    ranked = per_cust.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s0"),
        F.sum(
            F.col("rn").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("s1"),
    )
    return agg.select(
        "c_mktsegment",
        "n",
        F.col("s0").cast("string").alias("total_cents"),
        F.expr(
            "(CAST(2 AS DECIMAL(38,0)) * s1"
            " - (CAST(n AS DECIMAL(38,0)) + 1) * s0)"
            " * CAST(1000000 AS DECIMAL(38,0))"
            " div (CAST(n AS DECIMAL(38,0)) * s0)"
        ).alias("gini_ppm"),
    )


ORACLE_LORENZ = """
    WITH spend0 AS (SELECT o_custkey,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                 AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey),
    spend AS (SELECT c_custkey AS o_custkey, COALESCE(cents, 0) AS cents
              FROM customer LEFT JOIN spend0 ON c_custkey = o_custkey),
    r AS (SELECT cents,
            ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn,
            COUNT(*) OVER () AS n
          FROM spend),
    d AS (SELECT CAST((10 * rn - 1) // n AS INT) + 1 AS decile,
                 COUNT(*) AS n_customers,
                 CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS dc
          FROM r GROUP BY 1),
    c AS (SELECT decile, n_customers,
            CAST(SUM(dc) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS HUGEINT) AS cum,
            CAST(SUM(dc) OVER () AS HUGEINT) AS t
          FROM d)
    SELECT decile, n_customers,
        CAST(cum * 1000000 // t AS BIGINT) AS cum_share_ppm
    FROM c
"""


@query(ORACLE_LORENZ)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend in deciles: cumulative share of
    total spend held by the bottom d/10 of customers, exact integer
    ppm — the curve the Gini summarizes, reported pointwise.  Decile
    assignment is row_number-based ((10*rn - 1) div n), deterministic
    under the (cents, custkey) order; cumulative sums run over the
    10-row decile aggregate, and the share divides in DECIMAL(38,0) /
    HUGEINT so no corpus size can overflow it.  Same scale shape as
    the Gini: corpus-sized partial agg to customer spend, then
    dimension-sized ranking."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(
        F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    spend0 = (
        orders.select("o_custkey", cents.alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    # LEFT join from customer: zero-order customers rank at the bottom
    # with zero spend, exactly as in the Gini this curve summarizes
    spend = cust.join(
        spend0, cust["c_custkey"] == spend0["o_custkey"], "left"
    ).select(
        F.col("c_custkey").alias("o_custkey"),
        F.coalesce("cents", F.lit(0)).alias("cents"),
    )
    w = Window.orderBy("cents", "o_custkey")
    wn = Window.partitionBy()
    ranked = spend.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    deciles = (
        ranked.withColumn(
            "decile", F.expr("(10 * rn - 1) div n").cast("int") + 1
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("dc"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = deciles.agg(
        F.sum("dc").cast("decimal(38,0)").alias("t")
    )
    return (
        deciles.withColumn("cum", F.sum("dc").over(wcum))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.expr(
                "CAST(cum AS DECIMAL(38,0))"
                " * CAST(1000000 AS DECIMAL(38,0))"
                " div CAST(t AS DECIMAL(38,0))"
            ).alias("cum_share_ppm"),
        )
    )


ORACLE_BOUNDED_FUNNEL = """
    WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    s1 AS (SELECT user_id, MIN(us) AS t1 FROM b
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT b.user_id, MIN(b.us) AS t2
           FROM b JOIN s1 ON b.user_id = s1.user_id
           WHERE b.event_type = 'click' AND b.us > s1.t1
             AND b.us <= s1.t1 + 86400000000
           GROUP BY b.user_id),
    s3 AS (SELECT b.user_id, MIN(b.us) AS t3
           FROM b JOIN s2 ON b.user_id = s2.user_id
           WHERE b.event_type = 'purchase' AND b.us > s2.t2
             AND b.us <= s2.t2 + 86400000000
           GROUP BY b.user_id)
    SELECT 1 AS stage, 'view' AS step, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT 2, 'click_within_24h', COUNT(*) FROM s2
    UNION ALL
    SELECT 3, 'purchase_within_24h', COUNT(*) FROM s3
"""


@query(ORACLE_BOUNDED_FUNNEL)
def q_bounded_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: users whose first view is
    followed by a click within 24h, then a purchase within 24h of that
    click — the windowed variant of event_funnel (unbounded funnels
    overcount: a purchase a month later is not a conversion).  Each
    stage is a conditional MIN over the prior stage's anchor with the
    bound as a join predicate — partial-aggregated passes, never a
    per-user sort."""
    ev = _t(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    base = ev.select("user_id", "event_type", us.alias("us"))
    s1 = (
        base.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        base.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("us") > F.col("t1"))
            & (F.col("us") <= F.col("t1") + F.lit(day_us))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        base.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("us") > F.col("t2"))
            & (F.col("us") <= F.col("t2") + F.lit(day_us))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    one = lambda df, stage, name: df.agg(
        F.lit(stage).alias("stage"),
        F.lit(name).alias("step"),
        F.count(F.lit(1)).alias("n_users"),
    )
    return (
        one(s1, 1, "view")
        .unionAll(one(s2, 2, "click_within_24h"))
        .unionAll(one(s3, 3, "purchase_within_24h"))
    )


ORACLE_TOP_TIES = """
    SELECT p_type, p_partkey, p_size, CAST(rk AS INT) AS rk FROM (
        SELECT p_type, p_partkey, p_size,
            DENSE_RANK() OVER (PARTITION BY p_type
                ORDER BY p_size DESC) AS rk
        FROM part) r
    WHERE rk <= 3
"""


@query(ORACLE_TOP_TIES)
def q_top_parts_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 part sizes per type WITH TIES (DENSE_RANK <= 3): every
    part whose size ranks in the three largest distinct sizes of its
    type — the 'WITH TIES' semantics ROW_NUMBER top-k silently breaks
    (equal values must not be dropped arbitrarily).  One key-partition
    window; output bounded by ties, not by an arbitrary cut."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_type").orderBy(F.desc("p_size"))
    return (
        part.withColumn("rk", F.dense_rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_type", "p_partkey", "p_size", F.col("rk").cast("int").alias("rk"))
    )


ORACLE_FANO = """
    WITH hourly AS (SELECT event_type,
            epoch_us(ts) // 3600000000 AS h, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
    b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
    t AS (SELECT DISTINCT event_type FROM hourly),
    dense AS (SELECT t.event_type, spine.h, COALESCE(c, 0) AS c
              FROM t CROSS JOIN spine
              LEFT JOIN hourly ON hourly.event_type = t.event_type
                              AND hourly.h = spine.h),
    agg AS (SELECT event_type, COUNT(*) AS n,
            CAST(SUM(c) AS BIGINT) AS s1,
            CAST(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT))
                 AS HUGEINT) AS s2
        FROM dense GROUP BY event_type)
    SELECT event_type, n AS n_hours, s1 AS n_events,
        CAST((CAST(n AS HUGEINT) * s2
              - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT)) * 1000000
             // ((CAST(n AS HUGEINT) - 1) * CAST(s1 AS HUGEINT))
             AS BIGINT) AS fano_ppm
    FROM agg
"""


@query(ORACLE_FANO)
def q_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal burstiness per event type: the Fano factor (variance /
    mean) of HOURLY event counts over a dense hour spine — Poisson
    traffic sits at 1, bursty traffic far above; the load-model check
    behind capacity planning and anomaly thresholds.  Exact integer
    ppm: F = (n*S2 - S1^2) / ((n-1)*S1) with all products in
    DECIMAL(38,0)/HUGEINT (n*S2*1e6 crosses int64 already at sf1).
    Missing hours count ZERO (they carry variance); one corpus partial
    agg, then spine-sized arithmetic."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
            ).alias("h"),
            "event_type",
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    ).head()
    h0, h1 = bounds["h0"], bounds["h1"]
    spine = spark.range(h0, h1 + 1).select(F.col("id").alias("h"))
    types = hourly.select("event_type").distinct()
    dense = (
        types.crossJoin(spine)
        .join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    agg = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        # DECIMAL accumulation: a BIGINT sum of c*c wraps silently once
        # hourly counts reach ~1e9 (the oracle's HUGEINT would not)
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * F.col("c").cast("decimal(38,0)")
        ).alias("s2"),
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("s1").alias("n_events"),
        F.expr(
            "(CAST(n AS DECIMAL(38,0)) * CAST(s2 AS DECIMAL(38,0))"
            " - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)))"
            " * CAST(1000000 AS DECIMAL(38,0))"
            " div ((CAST(n AS DECIMAL(38,0)) - 1)"
            "      * CAST(s1 AS DECIMAL(38,0)))"
        ).alias("fano_ppm"),
    )


ORACLE_ORDER_GAP = """
    WITH g AS (SELECT o_custkey, o_orderkey,
            epoch_us(o_orderdate) // 86400000000 AS day,
            LAG(epoch_us(o_orderdate) // 86400000000) OVER (
                PARTITION BY o_custkey
                ORDER BY epoch_us(o_orderdate), o_orderkey) AS prev_day
        FROM orders),
    gaps AS (SELECT o_custkey, day - prev_day AS gap_days, o_orderkey
             FROM g WHERE prev_day IS NOT NULL),
    j AS (SELECT c_mktsegment, gap_days, o_orderkey
          FROM gaps JOIN customer ON o_custkey = c_custkey),
    r AS (SELECT c_mktsegment, gap_days,
            ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                ORDER BY gap_days, o_orderkey) AS rn,
            COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
          FROM j)
    SELECT c_mktsegment, n AS n_gaps,
           CAST(gap_days AS BIGINT) AS median_gap_days
    FROM r WHERE rn = (n + 1) // 2
"""


@query(ORACLE_ORDER_GAP)
def q_order_gap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase cadence per market segment: the exact lower
    median of days between a customer's consecutive orders — the
    re-engagement interval marketing models against.  One lag window
    per customer (key shuffle), then a per-segment rank median over
    the GAP rows (order cardinality minus customers — the same
    dimension-sized-sort trade as trimmed_event_stats)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("us", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.expr(
                "unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            ).alias("us"),
        )
        .withColumn("day", F.expr("us div 86400000000"))
        .withColumn("prev_day", F.lag("day").over(w))
        .filter(F.col("prev_day").isNotNull())
        .select(
            "o_custkey",
            (F.col("day") - F.col("prev_day")).alias("gap_days"),
            "o_orderkey",
        )
    )
    j = gaps.join(
        F.broadcast(cust), gaps["o_custkey"] == cust["c_custkey"]
    )
    wm = Window.partitionBy("c_mktsegment").orderBy(
        "gap_days", "o_orderkey"
    )
    wn = Window.partitionBy("c_mktsegment")
    med = (
        j.withColumn("rn", F.row_number().over(wm))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
    )
    return med.select(
        "c_mktsegment",
        F.col("n").alias("n_gaps"),
        F.col("gap_days").cast("bigint").alias("median_gap_days"),
    )


ORACLE_BOUNCE = """
    WITH d AS (SELECT user_id, event_id, ts, event_type,
            CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000
                 THEN 1 ELSE 0 END AS brk
        FROM events),
    s AS (SELECT user_id, event_id, ts, event_type,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS sess_ix
          FROM d),
    w AS (SELECT user_id, sess_ix,
            FIRST_VALUE(event_type) OVER (PARTITION BY user_id, sess_ix
                ORDER BY ts, event_id) AS entry
          FROM s),
    per_sess AS (SELECT user_id, sess_ix,
            MIN(entry) AS entry, COUNT(*) AS n_ev
        FROM w GROUP BY 1, 2)
    SELECT entry, COUNT(*) AS n_sessions,
        CAST(COUNT(*) FILTER (WHERE n_ev = 1) AS BIGINT) AS n_bounces,
        CAST(COUNT(*) FILTER (WHERE n_ev = 1) AS BIGINT) * 1000000
            // COUNT(*) AS bounce_ppm
    FROM per_sess GROUP BY entry
"""


@query(ORACLE_BOUNCE)
def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type: of the 30-minute-gap sessions
    (same definition as sessionize_events), the fraction consisting of
    exactly one event, grouped by the session's FIRST event type — the
    landing-quality metric.  Lag + cumulative-sum sessionization (one
    user-key window), first_value for the entry type, exact ppm."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
            - F.lag(
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
            ).over(wu)
            > 1_800_000_000,  # micros, not seconds: a 1800.5 s gap
            1,  # must break on BOTH engines identically
        )
        .otherwise(0)
        .alias("brk"),
    )
    s = d.withColumn(
        "sess_ix",
        F.sum("brk").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sess_ix").orderBy(
        "ts", "event_id"
    )
    per_sess = (
        s.withColumn("entry", F.first("event_type").over(ws))
        .groupBy("user_id", "sess_ix")
        .agg(
            F.first("entry").alias("entry"),
            F.count(F.lit(1)).alias("n_ev"),
        )
    )
    return per_sess.groupBy("entry").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_if(F.col("n_ev") == 1).alias("n_bounces"),
        F.expr(
            "count_if(n_ev = 1) * 1000000 div count(*)"
        ).alias("bounce_ppm"),
    )


ORACLE_RFM = """
    WITH pc AS (SELECT o_custkey,
            MAX(datediff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE))) AS last_day,
            CAST(COUNT(*) AS BIGINT) AS n_orders,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey),
    s AS (SELECT o_custkey, cents,
            CAST(NTILE(5) OVER (ORDER BY last_day ASC, o_custkey ASC)
                AS INTEGER) AS r_score,
            CAST(NTILE(5) OVER (ORDER BY n_orders ASC, o_custkey ASC)
                AS INTEGER) AS f_score,
            CAST(NTILE(5) OVER (ORDER BY cents ASC, o_custkey ASC)
                AS INTEGER) AS m_score
          FROM pc)
    SELECT r_score, f_score, m_score,
        CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS VARCHAR)
            AS total_cents
    FROM s GROUP BY 1, 2, 3
"""


@query(ORACLE_RFM)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quintiles (ntile(5), ties broken by custkey so both engines assign
    identical tiles), rolled up to segment cells with customer counts
    and total lifetime cents.  Convention: 5 = most recent / most
    frequent / highest spend.  Money runs in exact cents; segment
    totals accumulate in DECIMAL(38,0)/HUGEINT and emit as strings
    (the gini idiom) so no scale overflows them.

    Scale shape: one fact-table partial agg to customer cardinality,
    then three ntile windows over the CUSTOMER dimension — the
    documented dimension-sized-sort trade (gini, trimmed_event_stats);
    the fact table is never globally sorted.  Final rollup is <= 125
    cells."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.select(
            "o_custkey",
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')"
            ).alias("day"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("day").alias("last_day"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
    )
    w_r = Window.orderBy(F.col("last_day").asc(), F.col("o_custkey").asc())
    w_f = Window.orderBy(F.col("n_orders").asc(), F.col("o_custkey").asc())
    w_m = Window.orderBy(F.col("cents").asc(), F.col("o_custkey").asc())
    scored = per_cust.select(
        "o_custkey",
        "cents",
        F.ntile(5).over(w_r).alias("r_score"),
        F.ntile(5).over(w_f).alias("f_score"),
        F.ntile(5).over(w_m).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .cast("string")
        .alias("total_cents"),
    )


ORACLE_CHANGEPOINT = """
    WITH daily AS (SELECT event_type,
            epoch_us(ts) // 86400000000 AS d, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
    b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    spine AS (SELECT unnest(generate_series(d0, d1)) AS d FROM b),
    t AS (SELECT DISTINCT event_type FROM daily),
    dense AS (SELECT t.event_type, spine.d, COALESCE(c, 0) AS c
              FROM t CROSS JOIN spine
              LEFT JOIN daily ON daily.event_type = t.event_type
                             AND daily.d = spine.d),
    pref AS (SELECT event_type, d,
            d - (SELECT d0 FROM b) + 1 AS i,
            CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS s_i
          FROM dense),
    tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(c) AS BIGINT) AS s_n
           FROM dense GROUP BY event_type),
    dev AS (SELECT pref.event_type, d, n,
            CAST(abs(CAST(n AS HUGEINT) * CAST(s_i AS HUGEINT)
                - CAST(i AS HUGEINT) * CAST(s_n AS HUGEINT))
                AS BIGINT) AS dev
          FROM pref JOIN tot ON pref.event_type = tot.event_type),
    best AS (SELECT event_type, d, n, dev,
            ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY dev DESC, d ASC) AS rk
          FROM dev)
    SELECT event_type, n AS n_days,
        CAST(DATE '1970-01-01' + CAST(d AS INTEGER) AS VARCHAR)
            AS change_date,
        dev
    FROM best WHERE rk = 1
"""


@query(ORACLE_CHANGEPOINT)
def q_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type: the day maximizing
    |n * S_i - i * S_n| over the DENSE daily count spine (prefix sum
    deviation from the linear ramp — the classic at-most-one-changepoint
    statistic), earliest day on ties.  Missing days count zero; they
    carry drift signal exactly as in burstiness_fano.  Products run in
    DECIMAL(38,0)/HUGEINT; the emitted dev fits BIGINT whenever
    n_days * total_events < 9.2e18 (a 10k-day corpus would need >9e14
    events/type to cross it).

    Scale shape: one corpus partial agg to (type, day) cardinality,
    a types x days dense spine (spine bounds are one scalar action),
    per-type prefix-sum windows partitioned by type, and a
    spine-sized argmax — the fact table is shuffled once, at
    (type, day) cardinality."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("d"),
            "event_type",
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1")).head()
    d0, d1 = bounds["d0"], bounds["d1"]
    spine = spark.range(d0, d1 + 1).select(F.col("id").alias("d"))
    types = daily.select("event_type").distinct()
    dense = (
        types.crossJoin(spine)
        .join(daily, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = dense.select(
        "event_type",
        "d",
        (F.col("d") - F.lit(d0) + F.lit(1)).alias("i"),
        F.sum("c").over(w_cum).alias("s_i"),
    )
    totals = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s_n")
    )
    dev = pref.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "d",
        "n",
        F.expr(
            "CAST(abs(CAST(n AS DECIMAL(38,0)) * CAST(s_i AS DECIMAL(38,0))"
            " - CAST(i AS DECIMAL(38,0)) * CAST(s_n AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("dev"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("dev").desc(), F.col("d").asc()
    )
    return (
        dev.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.expr(
                "CAST(date_add(DATE '1970-01-01', CAST(d AS INT)) AS STRING)"
            ).alias("change_date"),
            "dev",
        )
    )


ORACLE_SEASONAL_DECOMP = """
    WITH daily AS (SELECT event_type,
            epoch_us(ts) // 86400000000 AS d, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
    b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    spine AS (SELECT unnest(generate_series(d0, d1)) AS d FROM b),
    t AS (SELECT DISTINCT event_type FROM daily),
    dense AS (SELECT t.event_type, spine.d, COALESCE(c, 0) AS c
              FROM t CROSS JOIN spine
              LEFT JOIN daily ON daily.event_type = t.event_type
                             AND daily.d = spine.d),
    resid AS (SELECT event_type, d,
            c * 1000 - (CAST(SUM(c) OVER w7 AS BIGINT) * 1000)
                // CAST(COUNT(*) OVER w7 AS BIGINT) AS resid_milli
        FROM dense
        WINDOW w7 AS (PARTITION BY event_type ORDER BY d
            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    aggs AS (SELECT event_type,
            CAST(COUNT(*) AS BIGINT) AS n_days,
            CAST(SUM(ABS(resid_milli)) AS BIGINT) // COUNT(*)
                AS mean_abs_resid_milli
        FROM resid GROUP BY event_type),
    peak AS (SELECT event_type,
            CAST(DATE '1970-01-01' + CAST(d AS INTEGER) AS VARCHAR)
                AS peak_date,
            resid_milli AS peak_resid_milli,
            ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY ABS(resid_milli) DESC, d ASC) AS rk
        FROM resid)
    SELECT aggs.event_type, n_days, mean_abs_resid_milli,
        peak_date, peak_resid_milli
    FROM aggs JOIN peak ON aggs.event_type = peak.event_type
    WHERE rk = 1
"""


@query(ORACLE_SEASONAL_DECOMP)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend/residual decomposition of daily event counts per type: a
    centered 7-day moving-average trend over the DENSE day spine
    (missing days count zero — absence is signal, as in
    burstiness_fano), residual = count - trend, reporting the
    biggest-anomaly day and the mean absolute residual — the
    volume-anomaly screen changepoint_daily's single-changepoint
    statistic can't express.  All milli-count integers: trend_milli =
    (7-day sum x 1000) div frame_rows (edge frames truncate, so the
    divisor is COUNT over the same frame), residual exact by
    subtraction — no doubles anywhere.

    Scale shape: identical to changepoint_daily — one corpus partial
    agg to (type, day) cardinality, a types x days dense spine, and
    per-type ROWS-framed windows partitioned by type; the anomaly pick
    and mean-abs agg run at spine cardinality."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("d"),
            "event_type",
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bounds = daily.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    ).head()
    d0, d1 = bounds["d0"], bounds["d1"]
    spine = spark.range(d0, d1 + 1).select(F.col("id").alias("d"))
    types = daily.select("event_type").distinct()
    dense = (
        types.crossJoin(spine)
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    )
    resid = dense.select(
        "event_type",
        "d",
        "c",
        F.sum("c").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    ).select(
        "event_type",
        "d",
        F.expr("c * 1000 - (s7 * 1000) div n7").alias("resid_milli"),
    )
    aggs = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr(
            "sum(abs(resid_milli)) div count(*)"
        ).alias("mean_abs_resid_milli"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("resid_milli")).desc(), F.col("d").asc()
    )
    peak = (
        resid.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.expr(
                "CAST(date_add(DATE '1970-01-01', CAST(d AS INT))"
                " AS STRING)"
            ).alias("peak_date"),
            F.col("resid_milli").alias("peak_resid_milli"),
        )
    )
    return aggs.join(F.broadcast(peak), "event_type").select(
        "event_type",
        "n_days",
        "mean_abs_resid_milli",
        "peak_date",
        "peak_resid_milli",
    )


ORACLE_BASKET_LIFT = """
    WITH baskets AS (SELECT DISTINCT l_orderkey AS okey,
            p_brand AS brand
        FROM lineitem JOIN part ON l_partkey = p_partkey),
    tot AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM baskets GROUP BY brand),
    no AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders
        FROM baskets),
    p AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
            CAST(COUNT(*) AS BIGINT) AS pair_cnt
        FROM baskets a JOIN baskets b
          ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY 1, 2)
    SELECT brand_a, brand_b, pair_cnt,
        ta.cnt AS cnt_a, tb.cnt AS cnt_b, n_orders,
        pair_cnt * 1000000 // ta.cnt AS conf_ab_ppm,
        pair_cnt * 1000000 // tb.cnt AS conf_ba_ppm,
        CAST(CAST(pair_cnt AS HUGEINT) * n_orders * 1000000
            // (CAST(ta.cnt AS HUGEINT) * tb.cnt) AS BIGINT) AS lift_ppm
    FROM p JOIN tot ta ON ta.brand = brand_a
           JOIN tot tb ON tb.brand = brand_b
           CROSS JOIN no
"""


@query(ORACLE_BASKET_LIFT)
def q_basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining at brand granularity: support /
    confidence / lift for every brand pair co-occurring in an order —
    the co-occurrence statistic behind "docs that cite X also cite Y"
    curation rules.  Brand (25 values) is the right granularity: the
    per-order basket is a SET of <= ~7 brands, so the within-basket
    self-join fans out at most |basket|^2 per order — bounded by data
    shape, never all-pairs across orders.  Lift in exact integer ppm;
    the triple product pair*n_orders*1e6 runs in DECIMAL(38,0)/HUGEINT
    (at 1.5e10 orders the int64 product would wrap).

    Scale shape: one broadcast dim join (part), a distinct at
    (order, brand) cardinality, an equi-self-join on orderkey with
    per-order bounded fan-out, and a final agg at brand-pair
    cardinality (<= 300 rows); brand totals broadcast back.  The
    baskets subtree feeds four consumers (pair sides, totals,
    n_orders) — AQE's ReuseExchange dedupes them at runtime (final
    adaptive plan verified: 3 ReusedExchange nodes), so the fact
    table is not rescanned per consumer."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("p_brand").alias("brand"),
        )
        .distinct()
    )
    tot = baskets.groupBy("brand").agg(F.count(F.lit(1)).alias("cnt"))
    no = baskets.agg(
        F.count_distinct(F.col("okey")).alias("n_orders")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, F.col("a.okey") == F.col("b.okey"))
        .filter(F.col("a.brand") < F.col("b.brand"))
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    ta = tot.select(
        F.col("brand").alias("brand_a"), F.col("cnt").alias("cnt_a")
    )
    tb = tot.select(
        F.col("brand").alias("brand_b"), F.col("cnt").alias("cnt_b")
    )
    return (
        pairs.join(F.broadcast(ta), "brand_a")
        .join(F.broadcast(tb), "brand_b")
        .crossJoin(F.broadcast(no))
        .select(
            "brand_a",
            "brand_b",
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            "n_orders",
            F.expr("pair_cnt * 1000000 div cnt_a").alias("conf_ab_ppm"),
            F.expr("pair_cnt * 1000000 div cnt_b").alias("conf_ba_ppm"),
            F.expr(
                "CAST(CAST(pair_cnt AS DECIMAL(38,0)) * n_orders"
                " * 1000000 div (CAST(cnt_a AS DECIMAL(38,0)) * cnt_b)"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


ORACLE_KS_GRID = """
    WITH j AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // 1000
                AS bucket,
            c_mktsegment = 'BUILDING' AS is_a
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
    g AS (SELECT bucket,
            CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                AS ca,
            CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                AS cb
        FROM j GROUP BY bucket),
    cum AS (SELECT bucket,
            CAST(SUM(ca) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_a,
            CAST(SUM(cb) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_b
        FROM g),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
            CAST(SUM(cb) AS BIGINT) AS n_b FROM g),
    dev AS (SELECT bucket, n_a, n_b,
            abs(CAST(cum_a AS HUGEINT) * n_b
                - CAST(cum_b AS HUGEINT) * n_a) AS dev
        FROM cum CROSS JOIN tot),
    best AS (SELECT *, ROW_NUMBER() OVER
            (ORDER BY dev DESC, bucket ASC) AS rk
        FROM dev)
    SELECT n_a, n_b, bucket * 1000 AS ks_price_lo,
        CAST(dev * 1000000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
            AS ks_ppm
    FROM best WHERE rk = 1
"""


@query(ORACLE_KS_GRID)
def q_ks_grid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic on a fixed price
    grid: BUILDING vs MACHINERY order-total distributions, D = max
    |CDF_a - CDF_b| evaluated at 1000-unit price buckets.  Grid-KS is
    the scale-correct KS: the exact statistic needs a global ordered
    cumulative over every distinct value (a single-partition sort of
    the fact table), while the grid version aggregates to bucket
    cardinality first — the price domain is bounded (< 500 buckets),
    so the cumulative window is bounded by construction (the heaps /
    waterfill dimension-window class).  The D comparison runs in exact
    integers: |cum_a * n_b - cum_b * n_a| in DECIMAL(38,0)/HUGEINT
    (cum * n wraps int64 past ~3e9 rows/side), emitted as exact ppm.

    Scale shape: fact join + one partial agg to bucket cardinality;
    everything downstream is dimension-sized."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    g = (
        j.select(
            F.expr(
                "CAST(floor(o_totalprice) AS BIGINT) div 1000"
            ).alias("bucket"),
            (F.col("c_mktsegment") == F.lit("BUILDING")).alias("is_a"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("cb"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "bucket",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = g.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_a",
        "n_b",
        F.expr(
            "abs(CAST(cum_a AS DECIMAL(38,0)) * n_b"
            " - CAST(cum_b AS DECIMAL(38,0)) * n_a)"
        ).alias("dev"),
    )
    w_best = Window.orderBy(F.col("dev").desc(), F.col("bucket").asc())
    return (
        dev.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "n_a",
            "n_b",
            (F.col("bucket") * 1000).alias("ks_price_lo"),
            F.expr(
                "CAST(dev * 1000000 div (CAST(n_a AS DECIMAL(38,0))"
                " * n_b) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


ORACLE_TWAP = """
    WITH g AS (SELECT user_id,
            CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
            LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) - epoch_us(ts) AS gap_us
        FROM events),
    agg AS (SELECT user_id,
            CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(SUM(gap_us) AS BIGINT) AS span_us,
            SUM(CAST(v_micro AS HUGEINT) * gap_us) AS wsum
        FROM g GROUP BY user_id)
    SELECT user_id, n_events, span_us,
        CAST(wsum // span_us AS BIGINT) AS twap_micro
    FROM agg WHERE span_us > 0
"""


@query(ORACLE_TWAP)
def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the event value per user (step-function
    integral between consecutive events over the microsecond clock) —
    the metric that doesn't over-weight burst periods the way a plain
    AVG does.  Values quantize to exact micro-ints (floor(v*1e6+0.5)
    on the shared double — the jl/micro idiom), weights are exact
    microsecond gaps, and the weighted sum runs in DECIMAL(38,0)/
    HUGEINT (value_micro * gap_us reaches ~1e15 per term; the SUM
    would wrap int64 within a single heavy user at 100 TB).  Truncating
    div == flooring // because values are non-negative.  Users whose
    events all share one timestamp have zero total weight and are
    excluded (the NULLIF class, applied as a filter).

    Scale shape: one per-user window (lead) over the natural
    (user, ts) partitioning, then one agg to user cardinality."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        F.expr(
            "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("v_micro"),
        (
            F.lead(
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))"), 1
            ).over(w)
            - F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
        ).alias("gap_us"),
    )
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("gap_us").alias("span_us"),
        F.sum(
            F.expr("CAST(v_micro AS DECIMAL(38,0)) * gap_us")
        ).alias("wsum"),
    )
    return agg.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_events",
        "span_us",
        F.expr("CAST(wsum div span_us AS BIGINT)").alias("twap_micro"),
    )


ORACLE_SPLIT_LEAKAGE = """
    WITH s AS (SELECT user_id,
            CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
                 ELSE 'test' END AS split
        FROM (SELECT user_id,
                CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)
                    || '#esplit'), 1, 15)) AS BIGINT) % 100 AS h
              FROM events) q),
    pu AS (SELECT user_id,
            CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
            CAST(COUNT(*) AS BIGINT) AS n_ev
        FROM s GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(CASE WHEN n_splits >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS leaked_users,
        CAST(SUM(CASE WHEN n_splits >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000 // COUNT(*) AS leaked_ppm,
        CAST(SUM(n_ev) AS BIGINT) AS n_events
    FROM pu
"""


@query(ORACLE_SPLIT_LEAKAGE)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-leakage audit of an event-level train/val/test split: hash
    events 80/10/10 by event_id (the WRONG unit when examples from one
    user are correlated), then count users whose events straddle
    splits — the audit that catches inflated eval numbers before
    training does.  Exact integer ppm.

    Scale shape: the split label is a pure map; one partial agg to
    user cardinality (count + count-distinct-of-3-values), one
    single-row rollup."""
    ev = _t(spark, sf_dir, "events")
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"), F.lit("#esplit")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    split = (
        F.when(h < 80, F.lit("train"))
        .when(h < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    per_user = ev.select(
        "user_id", split.alias("split")
    ).groupBy("user_id").agg(
        F.count_distinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.expr("CASE WHEN n_splits >= 2 THEN 1 ELSE 0 END")
        ).alias("leaked_users"),
        F.sum("n_ev").alias("n_events"),
    ).select(
        "n_users",
        "leaked_users",
        F.expr("leaked_users * 1000000 div n_users").alias(
            "leaked_ppm"
        ),
        "n_events",
    )


ORACLE_ATTRIBUTION = """
    WITH t AS (SELECT event_type,
            COALESCE(LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                    THEN event_type END IGNORE NULLS)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                'none') AS touch
        FROM events),
    p AS (SELECT touch FROM t WHERE event_type = 'purchase'),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases FROM p)
    SELECT touch, CAST(COUNT(*) AS BIGINT) AS n, n_purchases,
        CAST(COUNT(*) AS BIGINT) * 1000000 // n_purchases AS share_ppm
    FROM p CROSS JOIN tot GROUP BY touch, n_purchases
"""


@query(ORACLE_ATTRIBUTION)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent preceding view/click by the same user (unbounded lookback;
    'none' when the purchase is the user's first touch) — the revenue-
    attribution rule every growth dashboard starts from.  One
    user-partitioned window (last_value IGNORE NULLS over rows
    unbounded-preceding .. 1-preceding — identical frame semantics on
    both engines), then a purchase-cardinality aggregation in exact
    ppm."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.select(
        "event_type",
        F.coalesce(
            F.last(
                F.when(
                    F.col("event_type").isin("view", "click"),
                    F.col("event_type"),
                ),
                ignorenulls=True,
            ).over(w),
            F.lit("none"),
        ).alias("touch"),
    )
    p = touched.filter(F.col("event_type") == "purchase")
    tot = p.groupBy().agg(F.count(F.lit(1)).alias("n_purchases"))
    return (
        p.groupBy("touch")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "touch",
            "n",
            "n_purchases",
            F.expr("n * 1000000 div n_purchases").alias("share_ppm"),
        )
    )


ORACLE_PATH_TRIGRAMS = """
    WITH d AS (SELECT user_id, event_id, ts, event_type,
            CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000
                 THEN 1 ELSE 0 END AS brk
        FROM events),
    s AS (SELECT user_id, event_id, ts, event_type,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS sess_ix
          FROM d),
    tri AS (SELECT event_type AS t0,
            LEAD(event_type, 1) OVER w AS t1,
            LEAD(event_type, 2) OVER w AS t2
        FROM s
        WINDOW w AS (PARTITION BY user_id, sess_ix
            ORDER BY ts, event_id)),
    p AS (SELECT t0 || '>' || t1 || '>' || t2 AS path,
            CAST(COUNT(*) AS BIGINT) AS n
        FROM tri WHERE t2 IS NOT NULL GROUP BY 1)
    SELECT path, n FROM p ORDER BY n DESC, path ASC LIMIT 20
"""


@query(ORACLE_PATH_TRIGRAMS)
def q_session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-event paths within 30-minute-gap sessions (the
    session definition shared with sessionize_events /
    session_bounce_rate, microsecond gap comparison): the funnel-mining
    view of behavior — which 3-step flows dominate.  Ties break on the
    path string so the top-20 cut is total-ordered on both engines.

    Scale shape: the session windows are the one user-key shuffle;
    the path space is bounded (|event types|³ ≈ 125 distinct rows), so
    the ranking runs on a dimension-sized table."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
            - F.lag(
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
            ).over(wu)
            > 1_800_000_000,
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    s = d.withColumn(
        "sess_ix",
        F.sum("brk").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sess_ix").orderBy(
        "ts", "event_id"
    )
    tri = (
        s.select(
            F.col("event_type").alias("t0"),
            F.lead("event_type", 1).over(ws).alias("t1"),
            F.lead("event_type", 2).over(ws).alias("t2"),
        )
        .filter(F.col("t2").isNotNull())
        .select(
            F.concat_ws(">", "t0", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        tri.orderBy(F.col("n").desc(), F.col("path").asc()).limit(20)
    )


ORACLE_NORM_QUANTILES = """
    WITH e AS (SELECT vec_id, label,
            CAST(list_sum(list_transform(embedding, x ->
                CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT)
                * CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT))) AS BIGINT) AS norm2
        FROM embeddings),
    r AS (SELECT vec_id, label, norm2,
            ROW_NUMBER() OVER (PARTITION BY label
                ORDER BY norm2, vec_id) AS rk,
            COUNT(*) OVER (PARTITION BY label) AS n_label
        FROM e)
    SELECT vec_id, label, norm2,
        CASE WHEN n_label = 1 THEN 0
             ELSE (rk - 1) * 1000000 // (n_label - 1) END AS pct_ppm
    FROM r
"""


@query(ORACLE_NORM_QUANTILES)
def q_norm_quantile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label quantile rank of each embedding's squared L2 norm —
    the normalization audit run before cosine vs dot-product decisions
    (a label whose norms spread wide will dominate unnormalized
    retrieval).  Norm² is EXACT int64 on micro-quantized components;
    rank is row_number over the total order (norm2, vec_id);
    pct_ppm = (rank-1) * 1e6 div (n-1) exact (single-member labels emit
    0).  One label-partitioned window at vector cardinality."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.aggregate(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(
                    x * F.lit(1000000.0) + F.lit(0.5)
                ).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v * v,
        ).alias("norm2"),
    )
    w = Window.partitionBy("label").orderBy("norm2", "vec_id")
    wn = Window.partitionBy("label")
    return emb.select(
        "vec_id",
        "label",
        "norm2",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n_label"),
    ).select(
        "vec_id",
        "label",
        "norm2",
        # row_number() is IntegerType: (rk-1) * 1e6 in int32 wraps once
        # a label group exceeds 2,148 rows — sf10 is the first scale
        # that crosses it (ANSI mode surfaced the wrap in the r8 sweep).
        F.expr(
            "CASE WHEN n_label = 1 THEN 0"
            " ELSE CAST(rk - 1 AS BIGINT) * 1000000 div (n_label - 1) END"
        ).alias("pct_ppm"),
    )


ORACLE_CONVERSION_LATENCY = """
    WITH pu AS (SELECT user_id,
            MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                AS t_view
        FROM events GROUP BY user_id),
    conv AS (SELECT e.user_id, pu.t_view,
            MIN(epoch_us(e.ts)) AS t_conv
        FROM events e JOIN pu ON e.user_id = pu.user_id
        WHERE pu.t_view IS NOT NULL
          AND e.event_type = 'purchase'
          AND epoch_us(e.ts) >= pu.t_view
        GROUP BY e.user_id, pu.t_view)
    SELECT LEAST((t_conv - t_view) // 3600000000, 48) AS hour_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_users
    FROM conv GROUP BY 1
"""


@query(ORACLE_CONVERSION_LATENCY)
def q_conversion_latency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per converting user, the time
    from FIRST view to the first purchase AFTER it, bucketed by hour
    (capped at 48) — the time-to-convert histogram behind attribution-
    window choices (how long a lookback does last-touch actually
    need?).  Exact microsecond arithmetic end-to-end.

    Scale shape: one conditional-MIN aggregate to user cardinality,
    a purchase rejoin (the first purchase AT/AFTER the first view is
    not expressible in the same pass), then a ≤49-row bucket
    rollup."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "view",
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))"),
            )
        ).alias("t_view"),
    )
    ev2 = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
    )
    conv = (
        per_user.filter(F.col("t_view").isNotNull())
        .join(ev2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("t_us") >= F.col("t_view"))
        )
        .groupBy("user_id", "t_view")
        .agg(F.min("t_us").alias("t_conv"))
    )
    return (
        conv.select(
            F.expr(
                "LEAST((t_conv - t_view) div 3600000000, 48)"
            ).alias("hour_bucket")
        )
        .groupBy("hour_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


ORACLE_EMB_DIM_STATS = """
    WITH ex AS (SELECT d.i AS dim,
            CAST(FLOOR(CAST(embedding[d.i + 1] AS DOUBLE) * 1000000.0
                + 0.5) AS BIGINT) AS xm
        FROM embeddings,
        unnest(generate_series(0, len(embedding) - 1)) AS d(i)),
    m AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(xm AS HUGEINT)) AS sx,
            SUM(CAST(xm AS HUGEINT) * xm) AS sxx
        FROM ex GROUP BY dim)
    SELECT dim, n,
        CAST(sx // n AS BIGINT) AS mean_micro,
        CAST((CAST(n AS HUGEINT) * sxx - sx * sx)
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_micro2
    FROM m
"""


@query(ORACLE_EMB_DIM_STATS)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment profile of the embedding space: exact
    truncated-integer micro mean and biased variance per dimension —
    the whitening/PCA-prep audit (dead dims, dominant dims, offset
    dims) at dimension cardinality.  var_micro2 = (n*sxx - sx²) div n²
    entirely in DECIMAL(38,0)/HUGEINT; no doubles anywhere.

    Scale shape: one posexplode + (dim)-cardinality partial agg — the
    shuffle carries dim rows of moment sums, never vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(
            F.col("embedding").cast("array<double>")
        ).alias("dim", "x")
    ).select(
        "dim",
        F.floor(F.col("x") * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("xm"),
    )
    dec = "DECIMAL(38,0)"
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(xm AS {dec}))").alias("sx"),
        F.expr(f"SUM(CAST(xm AS {dec}) * xm)").alias("sxx"),
    ).select(
        "dim",
        "n",
        F.expr("CAST(sx div n AS BIGINT)").alias("mean_micro"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("var_micro2"),
    )


ORACLE_K_ANONYMITY = """
    WITH cls AS (SELECT c_nationkey, c_mktsegment,
            CAST(FLOOR(c_acctbal) AS BIGINT) // 1000 AS bal_kb,
            CAST(COUNT(*) AS BIGINT) AS k
        FROM customer GROUP BY 1, 2, 3)
    SELECT CAST(SUM(k) AS BIGINT) AS n_rows,
        CAST(COUNT(*) AS BIGINT) AS n_classes,
        CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_singletons,
        CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
            AS rows_k_lt_5,
        CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
            * 1000000 // CAST(SUM(k) AS BIGINT) AS at_risk_ppm,
        CAST(MAX(k) AS BIGINT) AS max_class
    FROM cls
"""


@query(ORACLE_K_ANONYMITY)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers (nation,
    market segment, account-balance kilobucket): equivalence-class
    size distribution and the re-identification exposure — rows in
    classes smaller than k=5, singletons, largest class.  The
    data-governance gate run before releasing joined analytics
    extracts.  Exact integers / ppm.

    Scale shape: one partial agg to QI-class cardinality, one
    single-row rollup — the fact table is touched once."""
    c = _t(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "CAST(floor(c_acctbal) AS BIGINT) div 1000"
        ).alias("bal_kb"),
    ).agg(F.count(F.lit(1)).alias("k"))
    return cls.agg(
        F.sum("k").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.count_if(F.col("k") == 1).alias("n_singletons"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)).alias(
            "rows_k_lt_5"
        ),
        F.max("k").alias("max_class"),
    ).select(
        "n_rows",
        "n_classes",
        "n_singletons",
        "rows_k_lt_5",
        F.expr("rows_k_lt_5 * 1000000 div n_rows").alias(
            "at_risk_ppm"
        ),
        "max_class",
    )


def _gini_side_sql(n_, c1_):
    return (
        f"(CAST({n_} AS HUGEINT) * {n_}"
        f" - CAST({n_} - {c1_} AS HUGEINT) * ({n_} - {c1_})"
        f" - CAST({c1_} AS HUGEINT) * {c1_}) * 1000000 // {n_}"
    )


ORACLE_GINI_STUMP = f"""
    WITH pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
            CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                END) AS BIGINT) AS y
        FROM events GROUP BY user_id),
    g AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x,
            CAST(SUM(y) AS BIGINT) AS c1_x
        FROM pu GROUP BY x),
    tot AS (SELECT CAST(SUM(n_x) AS BIGINT) AS n,
            CAST(SUM(c1_x) AS BIGINT) AS c1 FROM g),
    cum AS (SELECT x AS threshold,
            CAST(SUM(n_x) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
            CAST(SUM(c1_x) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS c1l
        FROM g),
    scored AS (SELECT threshold, nl AS n_left, n - nl AS n_right,
            CAST(({_gini_side_sql('nl', 'c1l')}
                + {_gini_side_sql('(n - nl)', '(c1 - c1l)')})
                // n AS BIGINT) AS split_gini_ppm,
            CAST(({_gini_side_sql('n', 'c1')}) // n AS BIGINT)
                AS root_gini_ppm
        FROM cum CROSS JOIN tot WHERE nl < n)
    SELECT threshold, n_left, n_right, split_gini_ppm, root_gini_ppm
    FROM scored ORDER BY split_gini_ppm ASC, threshold ASC LIMIT 1
"""


@query(ORACLE_GINI_STUMP)
def q_gini_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature screen: the best single threshold on
    per-user event count for predicting conversion (did the user ever
    purchase), by weighted Gini impurity — "is activity volume even
    predictive?" answered with one exact relational pass, the screen
    run before training anything.  All arithmetic exact:
    side_micro = (n² - c0² - c1²)·1e6 // n (= n·gini·1e6) per side in
    DECIMAL(38,0)/HUGEINT, split ppm = (left + right) // n, argmin
    with threshold-ascending tiebreak.

    Scale shape: one user-cardinality agg; candidate thresholds are
    the DISTINCT per-user counts (a bounded small-int domain), so the
    cumulative windows run on that dimension-sized table (waterfill
    class)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.max(
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            )
        ).alias("y"),
    )
    g = pu.groupBy("x").agg(
        F.count(F.lit(1)).alias("n_x"),
        F.sum("y").alias("c1_x"),
    )
    w = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = g.agg(
        F.sum("n_x").alias("n"), F.sum("c1_x").alias("c1")
    )
    cum = g.select(
        F.col("x").alias("threshold"),
        F.sum("n_x").over(w).alias("nl"),
        F.sum("c1_x").over(w).alias("c1l"),
    ).crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("n"))
    dec = "DECIMAL(38,0)"
    side = (
        lambda n_, c1_: f"(CAST({n_} AS {dec}) * {n_}"  # noqa: E731
        f" - CAST({n_} - {c1_} AS {dec}) * ({n_} - {c1_})"
        f" - CAST({c1_} AS {dec}) * {c1_}) * 1000000 div {n_}"
    )
    scored = cum.select(
        "threshold",
        F.col("nl").alias("n_left"),
        (F.col("n") - F.col("nl")).alias("n_right"),
        F.expr(
            f"CAST(({side('nl', 'c1l')}"
            f" + {side('(n - nl)', '(c1 - c1l)')})"
            " div n AS BIGINT)"
        ).alias("split_gini_ppm"),
        F.expr(
            f"CAST(({side('n', 'c1')}) div n AS BIGINT)"
        ).alias("root_gini_ppm"),
    )
    w_best = Window.orderBy(
        F.col("split_gini_ppm").asc(), F.col("threshold").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


ORACLE_LOO_SOURCE = """
    WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS s_chars
        FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
            CAST(SUM(s_chars) AS BIGINT) AS s_all FROM per)
    SELECT source, n_docs,
        CAST(CAST(s_all AS HUGEINT) * 1000000 // n_all AS BIGINT)
            AS mean_full_micro,
        CAST(CAST(s_all - s_chars AS HUGEINT) * 1000000
            // (n_all - n_docs) AS BIGINT) AS mean_loo_micro,
        CAST(CAST(s_all - s_chars AS HUGEINT) * 1000000
            // (n_all - n_docs)
            - CAST(s_all AS HUGEINT) * 1000000 // n_all AS BIGINT)
            AS delta_micro
    FROM per CROSS JOIN tot
"""


@query(ORACLE_LOO_SOURCE)
def q_loo_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out data valuation at source granularity: for each
    source, the corpus mean document length WITHOUT it vs with it —
    the cheapest Shapley-flavored answer to "which feed is dragging
    the average".  Entirely exact: per-source sums, one broadcast
    total, truncated micro means in DECIMAL(38,0)/HUGEINT, integer
    delta.

    Scale shape: one partial agg to source cardinality; everything
    after is dimension-sized."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("s_chars"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("n_all"), F.sum("s_chars").alias("s_all")
    )
    dec = "DECIMAL(38,0)"
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(
            f"CAST(CAST(s_all AS {dec}) * 1000000 div n_all AS BIGINT)"
        ).alias("mean_full_micro"),
        F.expr(
            f"CAST(CAST(s_all - s_chars AS {dec}) * 1000000"
            " div (n_all - n_docs) AS BIGINT)"
        ).alias("mean_loo_micro"),
        F.expr(
            f"CAST(CAST(s_all - s_chars AS {dec}) * 1000000"
            " div (n_all - n_docs)"
            f" - CAST(s_all AS {dec}) * 1000000 div n_all AS BIGINT)"
        ).alias("delta_micro"),
    )


ORACLE_ACTIVITY_TRANSITION = """
    WITH days AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d
        FROM events),
    b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days),
    pu AS (SELECT user_id,
            CAST(MAX(CASE WHEN d < (d0 + d1 + 1) // 2 THEN 1 ELSE 0
                END) AS BIGINT) AS active_early,
            CAST(MAX(CASE WHEN d < (d0 + d1 + 1) // 2 THEN 0 ELSE 1
                END) AS BIGINT) AS active_late
        FROM days CROSS JOIN b GROUP BY user_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM pu)
    SELECT active_early, active_late, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(*) AS BIGINT) * 1000000 // n_users AS share_ppm
    FROM pu CROSS JOIN tot GROUP BY active_early, active_late, n_users
"""


@query(ORACLE_ACTIVITY_TRANSITION)
def q_activity_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal churn quadrant: split the observation window at its
    midpoint day and cross-tabulate users by (active in first half,
    active in second half) — the retained / churned / resurrected /
    new taxonomy that defines churn-model labels WITHOUT leaking the
    label window into the feature window (cf. split_leakage_audit).
    Exact integers; the midpoint is (d0 + d1 + 1) div 2 on epoch days.

    Scale shape: corpus bounds via one broadcast single-row agg, one
    user-cardinality agg, a 4-row rollup."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
        ).alias("d"),
    )
    bounds = days.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    pu = (
        days.crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (
                F.col("d") < F.expr("(d0 + d1 + 1) div 2")
            ).alias("is_early"),
        )
        .groupBy("user_id")
        .agg(
            F.max(F.expr("CASE WHEN is_early THEN 1 ELSE 0 END")).alias(
                "active_early"
            ),
            F.max(F.expr("CASE WHEN is_early THEN 0 ELSE 1 END")).alias(
                "active_late"
            ),
        )
    )
    tot = pu.agg(F.count(F.lit(1)).alias("n_users"))
    return (
        pu.groupBy("active_early", "active_late")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "active_early",
            "active_late",
            "n",
            F.expr("n * 1000000 div n_users").alias("share_ppm"),
        )
    )


ORACLE_DID = """
    WITH days AS (SELECT event_type,
            epoch_us(ts) // 86400000000 AS d,
            CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vm
        FROM events WHERE event_type IN ('click', 'view')),
    b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM days),
    cells AS (SELECT event_type = 'click' AS treat,
            d >= (d0 + d1 + 1) // 2 AS post,
            CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(vm AS HUGEINT)) AS s
        FROM days CROSS JOIN b GROUP BY 1, 2),
    m AS (SELECT
            MAX(CASE WHEN treat AND NOT post
                THEN CAST(s // n AS BIGINT) END) AS treat_pre_micro,
            MAX(CASE WHEN treat AND post
                THEN CAST(s // n AS BIGINT) END) AS treat_post_micro,
            MAX(CASE WHEN NOT treat AND NOT post
                THEN CAST(s // n AS BIGINT) END) AS ctrl_pre_micro,
            MAX(CASE WHEN NOT treat AND post
                THEN CAST(s // n AS BIGINT) END) AS ctrl_post_micro
        FROM cells)
    SELECT treat_pre_micro, treat_post_micro, ctrl_pre_micro,
        ctrl_post_micro,
        (treat_post_micro - treat_pre_micro)
            - (ctrl_post_micro - ctrl_pre_micro) AS did_micro
    FROM m
"""


@query(ORACLE_DID)
def q_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate around the window midpoint:
    treatment series = 'click' event values, control = 'view', DiD =
    (treat_post - treat_pre) - (ctrl_post - ctrl_pre) on truncated
    exact micro means — the causal-inference template (parallel-trends
    differencing) reduced to one grouped aggregation.  All four cell
    means are DECIMAL(38,0) div BIGINT; the estimate is exact integer
    subtraction of truncated means.

    Scale shape: one corpus partial agg to 4 cells, one-row finish."""
    ev = _t(spark, sf_dir, "events")
    days = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
        ).alias("d"),
        F.expr(
            "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("vm"),
    )
    bounds = days.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cells = (
        days.crossJoin(F.broadcast(bounds))
        .select(
            (F.col("event_type") == F.lit("click")).alias("treat"),
            (F.col("d") >= F.expr("(d0 + d1 + 1) div 2")).alias("post"),
            "vm",
        )
        .groupBy("treat", "post")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # DECIMAL accumulation: vm*rows wraps int64 past ~1e18
            F.sum(F.expr("CAST(vm AS DECIMAL(38,0))")).alias("s"),
        )
    )
    m = cells.agg(
        *[
            F.max(
                F.expr(
                    f"CASE WHEN treat = {t} AND post = {p}"
                    " THEN CAST(s div n AS BIGINT)"
                    " END"
                )
            ).alias(name)
            for name, t, p in [
                ("treat_pre_micro", "true", "false"),
                ("treat_post_micro", "true", "true"),
                ("ctrl_pre_micro", "false", "false"),
                ("ctrl_post_micro", "false", "true"),
            ]
        ]
    )
    return m.select(
        "treat_pre_micro",
        "treat_post_micro",
        "ctrl_pre_micro",
        "ctrl_post_micro",
        F.expr(
            "(treat_post_micro - treat_pre_micro)"
            " - (ctrl_post_micro - ctrl_pre_micro)"
        ).alias("did_micro"),
    )


ORACLE_BACKLOG = """
    WITH o AS (SELECT o_orderkey,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                AS BIGINT) AS m_open
        FROM orders),
    li AS (SELECT l_orderkey,
            CAST(MAX(year(l_shipdate) * 12 + month(l_shipdate) - 1)
                AS BIGINT) AS m_ship
        FROM lineitem GROUP BY l_orderkey),
    placed AS (SELECT m_open AS m, CAST(COUNT(*) AS BIGINT) AS n_placed
        FROM o GROUP BY 1),
    shipped AS (SELECT m_ship AS m, CAST(COUNT(*) AS BIGINT)
            AS n_shipped
        FROM li GROUP BY 1),
    b AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM
        (SELECT m FROM placed UNION ALL SELECT m FROM shipped) u),
    spine AS (SELECT unnest(generate_series(m0, m1)) AS m FROM b),
    j AS (SELECT spine.m,
            COALESCE(n_placed, 0) AS n_placed,
            COALESCE(n_shipped, 0) AS n_shipped
        FROM spine LEFT JOIN placed ON placed.m = spine.m
                   LEFT JOIN shipped ON shipped.m = spine.m)
    SELECT CAST(m // 12 AS BIGINT) * 100 + m % 12 + 1 AS yyyymm,
        n_placed, n_shipped,
        CAST(SUM(n_placed) OVER w - SUM(n_shipped) OVER w AS BIGINT)
            AS backlog
    FROM j
    WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW)
"""


@query(ORACLE_BACKLOG)
def q_order_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog curve: per month, orders placed, orders fully
    shipped (last lineitem shipdate), and the running backlog =
    cumulative placed - cumulative shipped — the event-sourcing
    balance-over-time view (same state math as an inventory or queue
    depth curve).  Monthly grain keeps the spine bounded by the DATE
    DOMAIN (~84 rows for 7 years), corpus-size-independent, so the
    cumulative windows are dimension-sized (dense-spine class).

    Scale shape: one order-cardinality agg for ship dates, two
    month-cardinality rollups, a bounded spine with cumulative
    windows."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "year(o_orderdate) * 12 + month(o_orderdate) - 1"
        ).alias("m_open"),
    )
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.expr(
            "MAX(year(l_shipdate) * 12 + month(l_shipdate) - 1)"
        ).alias("m_ship")
    )
    placed = o.groupBy(F.col("m_open").alias("m")).agg(
        F.count(F.lit(1)).alias("n_placed")
    )
    shipped = li.groupBy(F.col("m_ship").alias("m")).agg(
        F.count(F.lit(1)).alias("n_shipped")
    )
    months = (
        placed.select("m")
        .unionAll(shipped.select("m"))
        .agg(F.min("m").alias("m0"), F.max("m").alias("m1"))
        .head()
    )
    spine = spark.range(months["m0"], months["m1"] + 1).select(
        F.col("id").alias("m")
    )
    j = (
        spine.join(placed, "m", "left")
        .join(shipped, "m", "left")
        .select(
            "m",
            F.coalesce("n_placed", F.lit(0)).alias("n_placed"),
            F.coalesce("n_shipped", F.lit(0)).alias("n_shipped"),
        )
    )
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        F.expr(
            "CAST(m div 12 AS BIGINT) * 100 + m % 12 + 1"
        ).alias("yyyymm"),
        "n_placed",
        "n_shipped",
        (
            F.sum("n_placed").over(w) - F.sum("n_shipped").over(w)
        ).alias("backlog"),
    )


# Poisson(1) CDF in exact ppm (floor), the deterministic-bootstrap draw
# table shared by the Spark query and the DuckDB oracle: a 60-bit md5
# draw mod 1e6 inverted through this ladder gives each (doc, replicate)
# its resample multiplicity.  Tail capped at 8 (P(>8) < 1.2e-6).
_POISSON1_CDF_PPM = (367879, 735758, 919698, 981011, 996340, 999405,
                     999916, 999989)

_PB_REPLICATES = 32


def _poisson_weight_case(u_col: str) -> str:
    branches = " ".join(
        f"WHEN {u_col} < {t} THEN {k}"
        for k, t in enumerate(_POISSON1_CDF_PPM)
    )
    return f"CASE {branches} ELSE 8 END"


ORACLE_POISSON_BOOTSTRAP = f"""
    WITH ex AS (SELECT doc_id, n_chars, r.b AS b
        FROM documents,
             unnest(generate_series(0, {_PB_REPLICATES - 1})) AS r(b)),
    d AS (SELECT b, n_chars,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#pb'
                || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1000000 AS u_ppm
        FROM ex),
    wtab AS (SELECT b, n_chars,
            {_poisson_weight_case('u_ppm')} AS w
        FROM d)
    SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
        CAST(SUM(w * n_chars) AS BIGINT) * 1000000
            // CAST(SUM(w) AS BIGINT) AS mean_micro
    FROM wtab GROUP BY b ORDER BY b
"""


@query(ORACLE_POISSON_BOOTSTRAP)
def q_poisson_bootstrap_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of mean document length — THE bootstrap that
    works at 100 TB: classic resampling needs n draws with replacement
    (a global shuffle per replicate), the Poisson(1) approximation
    gives every row an independent multiplicity, so all B replicates
    ride ONE scan as a replicate-spine explode + grouped weighted sum
    (Chamandy et al., "Estimating uncertainty for massive data
    streams", public Google TR).  Draws are md5-deterministic, the
    multiplicity ladder is the shared exact-ppm CDF table, and each
    replicate mean is an exact integer micro-division — the 32-row
    output IS the sampling distribution (sort it for CI bounds).

    Scale shape: 32x row blowup in one projection (token-volume
    class), partial-aggregated per replicate; no shuffle wider than
    32 groups."""
    docs = _t(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.sequence(F.lit(0), F.lit(_PB_REPLICATES - 1))
        ).alias("b"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("#pb"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = F.expr(_poisson_weight_case("u_ppm"))
    return (
        ex.withColumn("u_ppm", h % F.lit(1000000))
        .withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum("w").alias("n_eff"),
            F.sum(F.col("w") * F.col("n_chars")).alias("wsum"),
        )
        .select(
            "b",
            "n_eff",
            F.expr("wsum * 1000000 div n_eff").alias("mean_micro"),
        )
        .orderBy("b")
    )


ORACLE_CONFORMAL = """
    WITH cal AS (SELECT source, doc_id, n_chars FROM documents
        WHERE doc_id % 2 = 0),
    tst AS (SELECT source, doc_id, n_chars FROM documents
        WHERE doc_id % 2 = 1),
    stats AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cal,
            CAST(SUM(n_chars) AS BIGINT) * 1000000 // COUNT(*)
                AS pred_micro
        FROM cal GROUP BY source),
    res AS (SELECT cal.source, cal.doc_id, s.n_cal,
            ABS(cal.n_chars * 1000000 - s.pred_micro) AS r,
            ROW_NUMBER() OVER (PARTITION BY cal.source
                ORDER BY ABS(cal.n_chars * 1000000 - s.pred_micro),
                    cal.doc_id) AS rn
        FROM cal JOIN stats s ON cal.source = s.source),
    qhat AS (SELECT source, n_cal, r AS q_hat_micro FROM res
        WHERE rn = LEAST(n_cal, ((n_cal + 1) * 9 + 9) // 10)),
    cov AS (SELECT t.source, q.n_cal, q.q_hat_micro,
            CAST(COUNT(*) AS BIGINT) AS n_test,
            CAST(SUM(CASE WHEN ABS(t.n_chars * 1000000 - s.pred_micro)
                    <= q.q_hat_micro THEN 1 ELSE 0 END) AS BIGINT)
                AS n_covered
        FROM tst t JOIN stats s ON t.source = s.source
             JOIN qhat q ON t.source = q.source
        GROUP BY t.source, q.n_cal, q.q_hat_micro)
    SELECT source, n_cal, n_test, q_hat_micro,
        n_covered * 1000000 // n_test AS coverage_ppm
    FROM cov ORDER BY source
"""


@query(ORACLE_CONFORMAL)
def q_conformal_length_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of a per-source length predictor:
    even doc_ids calibrate, odd doc_ids test.  The predictor is the
    calibration mean length per source (exact integer micro);
    nonconformity is |length - prediction|; q_hat is the
    ceil((n_cal+1)*0.9)-th smallest calibration residual (the standard
    split-conformal order statistic, Vovk/Angelopoulos, public), and
    the test half reports achieved coverage in exact ppm — the
    distribution-free ~90% guarantee, audited.

    Scale shape: residual ranking is a PARTITIONED window (by source),
    never a global sort; everything else is two grouped aggregates
    and a broadcast-size per-source stat join."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    cal = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    stats = cal.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_cal"),
        F.expr("sum(n_chars) * 1000000 div count(*)").alias("pred_micro"),
    )
    from pyspark.sql import Window

    res = cal.join(F.broadcast(stats), "source").select(
        "source",
        "doc_id",
        "n_cal",
        F.abs(
            F.col("n_chars") * F.lit(1000000) - F.col("pred_micro")
        ).alias("r"),
    )
    wnd = Window.partitionBy("source").orderBy("r", "doc_id")
    ranked = res.withColumn("rn", F.row_number().over(wnd))
    qhat = ranked.filter(
        F.col("rn")
        == F.least(
            F.col("n_cal"), F.expr("((n_cal + 1) * 9 + 9) div 10")
        )
    ).select("source", "n_cal", F.col("r").alias("q_hat_micro"))
    cov = (
        test.join(F.broadcast(stats.select("source", "pred_micro")), "source")
        .join(F.broadcast(qhat), "source")
        .groupBy("source", "n_cal", "q_hat_micro")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(
                    F.abs(
                        F.col("n_chars") * F.lit(1000000)
                        - F.col("pred_micro")
                    )
                    <= F.col("q_hat_micro"),
                    1,
                ).otherwise(0)
            ).alias("n_covered"),
        )
    )
    return cov.select(
        "source",
        "n_cal",
        "n_test",
        "q_hat_micro",
        F.expr("n_covered * 1000000 div n_test").alias("coverage_ppm"),
    ).orderBy("source")


ORACLE_SELECTION_PARITY = """
    WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents),
    per AS (SELECT source, n_total,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(CASE WHEN n_chars * n_total > total_chars
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sel
        FROM documents CROSS JOIN tot
        GROUP BY source, n_total, total_chars),
    wa AS (SELECT source, n_docs, n_sel, n_total,
            CAST(SUM(n_sel) OVER () AS BIGINT) AS overall_sel
        FROM per)
    SELECT source, n_docs, n_sel,
        n_sel * 1000000 // n_docs AS rate_ppm,
        n_sel * 1000000 // n_docs
            - overall_sel * 1000000 // n_total AS gap_ppm,
        (n_sel * 1000000 // n_docs) * 1000000
            // (overall_sel * 1000000 // n_total) AS impact_ratio_ppm
    FROM wa ORDER BY source
"""


@query(ORACLE_SELECTION_PARITY)
def q_selection_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fairness audit of the length-based selection filter (demographic
    parity across sources): selected = doc longer than the corpus mean
    (exact cross-multiplication — n_chars * n_total > total_chars, no
    float mean ever forms); per source, the selection rate, its signed
    gap to the overall rate, and the disparate-impact ratio vs the
    overall rate, all exact ppm.  The governance screen a curation
    filter needs before it silently drops a feed.

    Scale shape: one corpus aggregate broadcast back (two scalars),
    one grouped count — two scans, no shuffle wider than source
    cardinality."""
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    tot = docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("n_chars").alias("total_chars"),
    )
    per = (
        docs.join(F.broadcast(tot))
        .groupBy("source", "n_total", "total_chars")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_chars") * F.col("n_total")
                    > F.col("total_chars"),
                    1,
                ).otherwise(0)
            ).alias("n_sel"),
        )
    )
    from pyspark.sql import Window

    # the empty-frame window runs over the per-SOURCE aggregate (a
    # handful of rows — source is a bounded dim attribute), never the
    # corpus; this is the bounded-spine exception to the no-global-
    # window rule, same as the other source-cardinality rollups here
    withall = per.withColumn(
        "overall_sel", F.sum("n_sel").over(Window.partitionBy())
    )
    return withall.select(
        "source",
        "n_docs",
        "n_sel",
        F.expr("n_sel * 1000000 div n_docs").alias("rate_ppm"),
        F.expr(
            "n_sel * 1000000 div n_docs"
            " - overall_sel * 1000000 div n_total"
        ).alias("gap_ppm"),
        F.expr(
            "(n_sel * 1000000 div n_docs) * 1000000"
            " div (overall_sel * 1000000 div n_total)"
        ).alias("impact_ratio_ppm"),
    ).orderBy("source")


ORACLE_KFOLD = """
    WITH d AS (SELECT lang,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#cv'),
                1, 15)) AS BIGINT) % 5 AS fold
        FROM documents),
    fl AS (SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS o
        FROM d GROUP BY fold, lang),
    f AS (SELECT fold, CAST(SUM(o) AS BIGINT) AS nf FROM fl
        GROUP BY fold),
    lg AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS nl FROM fl
        GROUP BY lang),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM fl),
    terms AS (SELECT fl.fold, f.nf,
            CAST((CAST(o AS HUGEINT) * nn - CAST(nf AS HUGEINT) * nl)
                * (CAST(o AS HUGEINT) * nn - CAST(nf AS HUGEINT) * nl)
                * 1000000 // (CAST(nf AS HUGEINT) * nl * nn) AS BIGINT)
                AS term
        FROM fl JOIN f ON fl.fold = f.fold
             JOIN lg ON fl.lang = lg.lang
             CROSS JOIN tot)
    SELECT fold, nf AS n_docs, CAST(SUM(term) AS BIGINT) AS chi2_micro
    FROM terms GROUP BY fold, nf ORDER BY fold
"""


@query(ORACLE_KFOLD)
def q_kfold_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation hygiene: md5-deterministic 5-fold assignment
    over documents, then a per-fold chi-square statistic against the
    corpus language distribution — the stratification check that
    catches an unlucky fold before it skews eval.  Chi-square in
    exact integer micro via cross-multiplication:
    term = (o*N - nf*nl)^2 * 1e6 // (nf*nl*N), per-term floor in
    DECIMAL(38,0)/HUGEINT (order-independent integer sum, overflow-
    proof at any corpus size).

    Scale shape: one corpus scan to (fold, lang) cardinality; every
    later join is over <= folds x langs rows."""
    docs = _t(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit("#cv"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    fl = (
        docs.select(fold.alias("fold"), "lang")
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    f = fl.groupBy("fold").agg(F.sum("o").alias("nf"))
    lang = fl.groupBy("lang").agg(F.sum("o").alias("nl"))
    tot = fl.agg(F.sum("o").alias("nn"))
    dec = "DECIMAL(38,0)"
    terms = (
        fl.join(F.broadcast(f), "fold")
        .join(F.broadcast(lang), "lang")
        .join(F.broadcast(tot))
        .select(
            "fold",
            "nf",
            F.expr(
                f"CAST((CAST(o AS {dec}) * nn - CAST(nf AS {dec}) * nl)"
                f" * (CAST(o AS {dec}) * nn - CAST(nf AS {dec}) * nl)"
                f" * 1000000 div (CAST(nf AS {dec}) * nl * nn) AS BIGINT)"
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("fold", "nf")
        .agg(F.sum("term").alias("chi2_micro"))
        .select(
            "fold", F.col("nf").alias("n_docs"), "chi2_micro"
        )
        .orderBy("fold")
    )


ORACLE_TIME_DECAY = """
    WITH ev AS (SELECT user_id, ts,
            CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT) AS v4
        FROM events WHERE event_type = 'purchase'),
    mx AS (SELECT MAX(ts) AS mx FROM ev),
    scored AS (SELECT user_id, v4,
            LEAST(date_diff('day', CAST(ts AS DATE),
                CAST((SELECT mx FROM mx) AS DATE)) // 30, 20) AS k
        FROM ev)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        CAST(SUM(v4 // (CAST(1 AS BIGINT) << CAST(k AS INT)))
            AS BIGINT) AS decayed_value4
    FROM scored GROUP BY user_id
    ORDER BY decayed_value4 DESC, user_id LIMIT 20
"""


@query(ORACLE_TIME_DECAY)
def q_time_decay_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay purchase scoring (the feature-store
    recency feature): each purchase's value is halved per 30 days of
    age relative to the corpus max timestamp — decay applied as an
    EXACT integer shift (v4 div 2^k, k = age_days div 30, capped) so
    every engine agrees bit-for-bit; top 20 users by decayed value.

    Scale shape: the max-ts scalar is one aggregate broadcast back;
    the scoring is a narrow projection; per-user sum partial-
    combines; TakeOrdered finish."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    mx = ev.agg(F.max("ts").alias("mx"))
    scored = ev.join(F.broadcast(mx)).select(
        "user_id",
        F.expr(
            "CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT)"
        ).alias("v4"),
        F.expr(
            "LEAST(datediff(CAST(mx AS DATE), CAST(ts AS DATE))"
            " div 30, 20)"
        ).alias("k"),
    )
    return (
        scored.select(
            "user_id",
            F.expr("v4 div shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))").alias(
                "dv4"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("dv4").alias("decayed_value4"),
        )
        .orderBy(F.desc("decayed_value4"), "user_id")
        .limit(20)
    )


ORACLE_MIXTURE_INTERLEAVE = """
    WITH ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
        FROM documents GROUP BY source),
    ranked AS (SELECT d.source, d.doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY d.source
                ORDER BY d.doc_id) AS BIGINT) AS rank,
            ns.n_src
        FROM documents d JOIN ns ON d.source = ns.source)
    SELECT source, doc_id, rank,
        (2 * rank - 1) * 1000000000000 // (2 * n_src) AS position_p12
    FROM ranked
    ORDER BY position_p12, source, doc_id LIMIT 50
"""


@query(ORACLE_MIXTURE_INTERLEAVE)
def q_mixture_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing interleave: every source's documents
    are spread evenly over the global training order by the
    low-discrepancy position (2*rank - 1) / (2*n_src) — the exact
    round-robin-proportional schedule a mixture loader replays on any
    worker without coordination.  Positions in exact 1e12 fixed point
    (integer cross-multiplication, no float compare); first 50 slots.

    Scale shape: per-source ranks come from a SOURCE-PARTITIONED
    window; the global order is a TakeOrdered(50), never a global
    sort."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    ns = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    wnd = Window.partitionBy("source").orderBy("doc_id")
    ranked = (
        docs.join(F.broadcast(ns), "source")
        .withColumn("rank", F.row_number().over(wnd))
        .select(
            "source",
            "doc_id",
            "rank",
            F.expr(
                "(2 * CAST(rank AS BIGINT) - 1) * 1000000000000"
                " div (2 * n_src)"
            ).alias("position_p12"),
        )
    )
    return ranked.orderBy("position_p12", "source", "doc_id").limit(50)


ORACLE_REVENUE_DRAWDOWN = """
    WITH daily AS (SELECT c_mktsegment AS seg,
            CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                 AS HUGEINT) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    spine AS (SELECT seg, d.day
        FROM (SELECT DISTINCT seg FROM daily) s
        CROSS JOIN (SELECT UNNEST(generate_series(lo, hi,
            INTERVAL 1 DAY))::DATE AS day FROM bounds) d),
    dense AS (SELECT sp.seg, sp.day, COALESCE(rev, 0) AS rev
        FROM spine sp LEFT JOIN daily
            ON daily.seg = sp.seg AND daily.day = sp.day),
    cum AS (SELECT seg, day,
            CAST(SUM(rev) OVER w AS HUGEINT) AS s,
            CAST(ROW_NUMBER() OVER w AS HUGEINT) AS i,
            CAST(SUM(rev) OVER (PARTITION BY seg) AS HUGEINT) AS sn,
            CAST(COUNT(*) OVER (PARTITION BY seg) AS HUGEINT) AS n
        FROM dense
        WINDOW w AS (PARTITION BY seg ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    dev AS (SELECT seg, day, n, n * s - i * sn AS dev FROM cum),
    dd AS (SELECT seg, day, n, dev,
            MAX(dev) OVER wp AS peak,
            MAX(dev) OVER wp - dev AS dd
        FROM dev
        WINDOW wp AS (PARTITION BY seg ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    trough AS (SELECT seg, day AS trough_day, n, peak AS peakval,
            dd AS ddmax,
            ROW_NUMBER() OVER (PARTITION BY seg
                ORDER BY dd DESC, day) AS rn
        FROM dd)
    SELECT t.seg AS c_mktsegment, CAST(t.n AS BIGINT) AS n_days,
        CAST(MIN(p.day) AS TIMESTAMP) AS peak_day,
        CAST(t.trough_day AS TIMESTAMP) AS trough_day,
        CAST(t.ddmax // t.n AS BIGINT) AS drawdown_cents
    FROM (SELECT * FROM trough WHERE rn = 1) t
    JOIN dd p ON p.seg = t.seg AND p.day <= t.trough_day
        AND p.dev = t.peakval
    GROUP BY t.seg, t.n, t.trough_day, t.ddmax
"""


# ---------------------------------------------------------------- wave 6x
@query(ORACLE_REVENUE_DRAWDOWN)


def q_revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst below-trend revenue stretch per market segment: build the
    detrended cumulative series D_i = n*S_i - i*S_n over the DENSE
    daily spine (the CUSUM series of changepoint_daily), then the
    classic max-drawdown scan — running peak minus current, maximized,
    earliest trough on ties, and the peak day that stretch fell from.
    Where changepoint_daily finds the single break, this measures the
    DEPTH of the worst sustained slump (peak-to-trough, in cents below
    trend: dd div n).  All arithmetic is exact DECIMAL(38,0)/HUGEINT;
    missing days count zero revenue, exactly as in burstiness_fano.

    Scale shape: fact join + agg to (segment, day) cardinality, a
    calendar-bounded dense spine (segments x days — thousands of rows
    at ANY corpus size), per-segment prefix windows, and a 5-row
    trough join.  Spine bounds are one scalar action (the
    changepoint-bounds idiom)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_mktsegment",
            F.col("o_orderdate").cast("date").alias("day"),
            # o_totalprice is parquet DOUBLE: bare CAST(x*100 AS BIGINT)
            # truncates in Spark but rounds in DuckDB — quantize with
            # the shared IEEE floor(x*100+0.5) instead
            F.expr(
                "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("c_mktsegment", "day")
        .agg(
            F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("rev")
        )
    )
    b = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).head()
    spine = spark.sql(
        f"SELECT explode(sequence(DATE'{b['lo']}', DATE'{b['hi']}',"
        " interval 1 day)) AS day"
    )
    dense = (
        daily.select("c_mktsegment")
        .distinct()
        .crossJoin(F.broadcast(spine))
        .join(daily, ["c_mktsegment", "day"], "left")
        .select(
            "c_mktsegment",
            "day",
            F.coalesce(F.col("rev"), F.lit(0).cast("decimal(38,0)")).alias(
                "rev"
            ),
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("day")
    wall = Window.partitionBy("c_mktsegment")
    cum = dense.select(
        "c_mktsegment",
        "day",
        F.sum("rev")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("s"),
        F.row_number().over(w).alias("i"),
        F.sum("rev").over(wall).alias("sn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    dev = cum.select(
        "c_mktsegment",
        "day",
        "n",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s - CAST(i AS DECIMAL(38,0)) * sn"
        ).alias("dev"),
    )
    dd = dev.select(
        "c_mktsegment",
        "day",
        "n",
        "dev",
        (
            F.max("dev").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("dev")
        ).alias("dd"),
        F.max("dev")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("peak"),
    )
    trough = (
        dd.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("c_mktsegment").orderBy(
                    F.desc("dd"), "day"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("day").alias("trough_day"),
            "n",
            F.col("peak").alias("peakval"),
            F.col("dd").alias("ddmax"),
        )
    )
    j = dd.select("c_mktsegment", "day", "dev").join(
        F.broadcast(trough), "c_mktsegment"
    )
    return (
        j.filter(
            (F.col("day") <= F.col("trough_day"))
            & (F.col("dev") == F.col("peakval"))
        )
        .groupBy("c_mktsegment", "n", "trough_day", "ddmax")
        .agg(F.min("day").alias("peak_day"))
        .select(
            "c_mktsegment",
            F.col("n").cast("bigint").alias("n_days"),
            # TIMESTAMP emission (the order_calendar idiom): Spark DATE
            # lands in pandas as object, DuckDB's as datetime64 — the
            # value hash can't see they're the same day
            F.col("peak_day").cast("timestamp").alias("peak_day"),
            F.col("trough_day").cast("timestamp").alias("trough_day"),
            F.expr("CAST(ddmax div n AS BIGINT)").alias("drawdown_cents"),
        )
    )


ORACLE_HUBER = """
    WITH x AS (SELECT
            CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS BIGINT) AS x
        FROM lineitem),
    a0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx FROM x),
    s0 AS (SELECT n, CAST(sx // n AS BIGINT) AS m0 FROM a0),
    a1 AS (SELECT n, m0,
            CAST(((SUM(CAST(ABS(x - m0) AS HUGEINT)) // n) * 1345)
                 // 1000 AS BIGINT) AS c
        FROM x CROSS JOIN s0 GROUP BY n, m0),
    w1 AS (SELECT n, m0, c,
            CASE WHEN x = m0 THEN CAST(1000000 AS HUGEINT)
                 ELSE LEAST(CAST(1000000 AS HUGEINT),
                     CAST(c AS HUGEINT) * 1000000 // ABS(x - m0)) END
                AS w, x
        FROM x CROSS JOIN a1),
    it1 AS (SELECT n, m0, c,
            CAST(SUM(w * x) // SUM(w) AS BIGINT) AS m
        FROM w1 GROUP BY n, m0, c),
    w2 AS (SELECT n, m0, c, m,
            CASE WHEN x = m THEN CAST(1000000 AS HUGEINT)
                 ELSE LEAST(CAST(1000000 AS HUGEINT),
                     CAST(c AS HUGEINT) * 1000000 // ABS(x - m)) END
                AS w, x
        FROM x CROSS JOIN it1),
    it2 AS (SELECT n, m0, c,
            CAST(SUM(w * x) // SUM(w) AS BIGINT) AS m
        FROM w2 GROUP BY n, m0, c),
    w3 AS (SELECT n, m0, c, m,
            CASE WHEN x = m THEN CAST(1000000 AS HUGEINT)
                 ELSE LEAST(CAST(1000000 AS HUGEINT),
                     CAST(c AS HUGEINT) * 1000000 // ABS(x - m)) END
                AS w, x
        FROM x CROSS JOIN it2),
    it3 AS (SELECT n, m0, c,
            CAST(SUM(w * x) // SUM(w) AS BIGINT) AS m,
            CAST(SUM(w) AS HUGEINT) AS sw
        FROM w3 GROUP BY n, m0, c)
    SELECT n, m0 AS mean_micro, c AS c_micro, m AS huber_micro,
        CAST(sw // n AS BIGINT) AS eff_weight_ppm
    FROM it3
"""


@query(ORACLE_HUBER)
def q_huber_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of mean extended price via 3 fixed IRLS
    rounds — the outlier-resistant location estimate (a handful of
    corrupt billion-unit rows would drag the plain mean arbitrarily;
    Huber caps their influence at the threshold c).  Fully exact
    integer pipeline so DuckDB replays it term for term: micro-unit
    prices; c = 1.345 * mean-absolute-deviation (the textbook 95%%-
    efficiency constant, scaled on an exact integer dispersion);
    weights w = min(1, c/|x - m|) quantized to ppm integers BEFORE the
    weighted sums, which run in DECIMAL(38,0) (w*x <= 1e17/row — safe
    past 1e20 rows).  Every div is positive-over-positive, so Spark's
    truncation and DuckDB's floor agree.

    Scale shape: 5 sequential whole-table aggregates (n+mean, MAD, 3
    IRLS rounds), each a partial-combined single-row agg chained by
    1-row broadcast crossJoins — the plan is one lazy DAG, the driver
    never sees data, and iteration count is FIXED (not data-dependent)
    so the job graph is static."""
    li = _t(spark, sf_dir, "lineitem").select(
        # parquet DOUBLE: micro-quantize on the shared IEEE expression,
        # never bare CAST (Spark truncates, DuckDB rounds)
        F.expr(
            "CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("x")
    )
    a0 = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
    )
    s0 = a0.select("n", F.expr("CAST(sx div n AS BIGINT)").alias("m0"))
    a1 = (
        li.crossJoin(F.broadcast(s0))
        .agg(
            F.max("n").alias("n"),
            F.max("m0").alias("m0"),
            F.sum(F.expr("CAST(abs(x - m0) AS DECIMAL(38,0))")).alias(
                "sad"
            ),
        )
        .select(
            "n",
            "m0",
            F.expr(
                "CAST(((sad div n) * 1345) div 1000 AS BIGINT)"
            ).alias("c"),
        )
    )
    prev = a1.withColumn("m", F.col("m0"))
    w_expr = (
        "CASE WHEN x = m THEN CAST(1000000 AS DECIMAL(38,0))"
        " ELSE LEAST(CAST(1000000 AS DECIMAL(38,0)),"
        " CAST(c AS DECIMAL(38,0)) * 1000000 div abs(x - m)) END"
    )
    for _ in range(3):
        prev = (
            li.crossJoin(F.broadcast(prev))
            .select("x", "n", "m0", "c", F.expr(w_expr).alias("w"))
            .agg(
                F.max("n").alias("n"),
                F.max("m0").alias("m0"),
                F.max("c").alias("c"),
                F.expr(
                    "CAST(SUM(w * x) div SUM(w) AS BIGINT)"
                ).alias("m"),
                F.sum("w").alias("sw"),
            )
        )
    return prev.select(
        "n",
        F.col("m0").alias("mean_micro"),
        F.col("c").alias("c_micro"),
        F.col("m").alias("huber_micro"),
        F.expr("CAST(sw div n AS BIGINT)").alias("eff_weight_ppm"),
    )


ORACLE_PROPENSITY_ATT = """
    WITH o AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1),
    base AS (SELECT
            CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
                AS treated,
            (CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) + 100000)
                // 100000 AS stratum,
            CAST(COALESCE(n_orders, 0) AS BIGINT) AS y
        FROM customer LEFT JOIN o ON c_custkey = o_custkey
        WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
    g AS (SELECT stratum,
            CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_t,
            CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_c,
            CAST(SUM(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
                AS sy_t,
            CAST(SUM(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
                AS sy_c
        FROM base GROUP BY 1),
    used AS (SELECT n_t, n_c,
            n_t * ((sy_t * 1000000) // n_t - (sy_c * 1000000) // n_c)
                AS contrib
        FROM g WHERE n_t > 0 AND n_c > 0),
    r AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_treated,
            CAST(SUM(n_c) AS BIGINT) AS n_control,
            CAST(COUNT(*) AS BIGINT) AS n_strata,
            CAST(SUM(contrib) AS BIGINT) AS s
        FROM used)
    SELECT n_treated, n_control, n_strata,
        CAST(CASE WHEN s >= 0 THEN s // n_treated
             ELSE -((-s) // n_treated) END AS BIGINT) AS att_micro
    FROM r
"""


@query(ORACLE_PROPENSITY_ATT)
def q_propensity_strata_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-stratified treatment-effect estimate (ATT): treated =
    AUTOMOBILE-segment customers, control = BUILDING, stratified on
    account balance (fixed $1000 strata — data-independent bucket
    edges, so no scalar action and no quantile job), outcome = order
    count.  Within each stratum that has BOTH groups, the mean-outcome
    difference is weighted by the stratum's treated share — the
    subclassification estimator (Rosenbaum & Rubin 1984), the
    scale-correct alternative to 1:1 nearest matching (whose global
    score sort does not distribute).  Per-stratum means are exact
    positive integer micro-divisions; the final weighted sum can be
    negative, so the closing division uses the sign-safe mirrored
    idiom (neither engine's negative-div convention is load-bearing).

    Scale shape: one customer-cardinality outcome join (orders agg to
    customer first), one (stratum, group) agg — dozens of rows — and
    a single-row rollup."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    base = (
        cust.join(
            orders, cust["c_custkey"] == orders["o_custkey"], "left"
        )
        .select(
            (F.col("c_mktsegment") == "AUTOMOBILE")
            .cast("int")
            .alias("treated"),
            F.expr(
                "(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)"
                " + 100000) div 100000"
            ).alias("stratum"),
            F.coalesce(F.col("n_orders"), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    g = base.groupBy("stratum").agg(
        F.sum(F.expr("CASE WHEN treated = 1 THEN 1 ELSE 0 END")).alias(
            "n_t"
        ),
        F.sum(F.expr("CASE WHEN treated = 0 THEN 1 ELSE 0 END")).alias(
            "n_c"
        ),
        F.sum(F.expr("CASE WHEN treated = 1 THEN y ELSE 0 END")).alias(
            "sy_t"
        ),
        F.sum(F.expr("CASE WHEN treated = 0 THEN y ELSE 0 END")).alias(
            "sy_c"
        ),
    )
    used = g.filter((F.col("n_t") > 0) & (F.col("n_c") > 0)).select(
        "n_t",
        "n_c",
        F.expr(
            "n_t * ((sy_t * 1000000) div n_t - (sy_c * 1000000) div n_c)"
        ).alias("contrib"),
    )
    r = used.agg(
        F.sum("n_t").alias("n_treated"),
        F.sum("n_c").alias("n_control"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("contrib").alias("s"),
    )
    return r.select(
        "n_treated",
        "n_control",
        "n_strata",
        F.expr(
            "CASE WHEN s >= 0 THEN s div n_treated"
            " ELSE -((-s) div n_treated) END"
        ).alias("att_micro"),
    )


ORACLE_SIGMA_BANDS = """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                 AS HUGEINT) AS x
        FROM orders GROUP BY 1),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
            CAST(SUM(x) AS HUGEINT) AS s,
            CAST(SUM(x * x) AS HUGEINT) AS q
        FROM daily),
    banded AS (SELECT
            CASE WHEN (n*x - s)*(n*x - s) <= (n*q - s*s) THEN 0
                 WHEN (n*x - s)*(n*x - s) <= 4*(n*q - s*s) THEN 1
                 WHEN (n*x - s)*(n*x - s) <= 9*(n*q - s*s) THEN 2
                 ELSE 3 END AS band, n
        FROM daily CROSS JOIN m)
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(COUNT(*) * 1000000 // MAX(n) AS BIGINT) AS share_ppm
    FROM banded GROUP BY band ORDER BY band
"""


@query(ORACLE_SIGMA_BANDS)
def q_sigma_band_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control-chart audit of daily revenue: classify every day into
    sigma bands (<=1, 1-2, 2-3, >3 sigma from the all-days mean) with
    EXACT integer comparisons — (n*x - S)^2 vs k^2*(n*Q - S^2)
    multiplies the empirical rule out to a common n^2 denominator, so
    no sqrt, no double, no boundary ambiguity.  Revenue at integer-
    dollar resolution keeps every square inside DECIMAL(38)/HUGEINT
    past TPC-H sf 1e5.  The 68/95/99.7 sanity check a monitoring
    pipeline runs before alerting on 'anomalous' days.

    Scale shape: fact agg to day cardinality, one 3-moment single-row
    agg broadcast back, a 4-row band rollup."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.expr(
                "CAST(floor(o_totalprice + 0.5) AS BIGINT)"
            ).alias("usd"),
        )
        .groupBy("day")
        .agg(F.sum(F.expr("CAST(usd AS DECIMAL(38,0))")).alias("x"))
    )
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr("x * x")).alias("q"),
    )
    banded = daily.crossJoin(F.broadcast(m)).select(
        F.expr(
            "CASE WHEN (n*x - s)*(n*x - s) <= (n*q - s*s) THEN 0"
            " WHEN (n*x - s)*(n*x - s) <= 4*(n*q - s*s) THEN 1"
            " WHEN (n*x - s)*(n*x - s) <= 9*(n*q - s*s) THEN 2"
            " ELSE 3 END"
        ).alias("band"),
        "n",
    )
    return (
        banded.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_days"), F.max("n").alias("n"))
        .select(
            "band",
            "n_days",
            F.expr(
                "CAST(n_days * 1000000 div n AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("band")
    )


ORACLE_SEASONAL_NAIVE = """
    WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    spine AS (SELECT event_type, d.day
        FROM (SELECT DISTINCT event_type FROM daily) s
        CROSS JOIN (SELECT UNNEST(generate_series(lo, hi,
            INTERVAL 1 DAY))::DATE AS day FROM bounds) d),
    dense AS (SELECT sp.event_type, sp.day,
            CAST(COALESCE(y, 0) AS BIGINT) AS y
        FROM spine sp LEFT JOIN daily
            ON daily.event_type = sp.event_type
            AND daily.day = sp.day),
    scored AS (SELECT event_type, y,
            LAG(y, 7) OVER (PARTITION BY event_type ORDER BY day)
                AS yhat
        FROM dense),
    g AS (SELECT event_type,
            CAST(COUNT(*) AS BIGINT) AS n_days_eval,
            CAST(SUM(ABS(y - yhat)) AS BIGINT) AS sae,
            CAST(SUM(y) AS BIGINT) AS sy,
            CAST(SUM(y - yhat) AS BIGINT) AS bias_events
        FROM scored WHERE yhat IS NOT NULL GROUP BY 1)
    SELECT event_type, n_days_eval,
        sae * 1000 // n_days_eval AS mae_milli,
        sae * 1000000 // sy AS wape_ppm,
        bias_events
    FROM g WHERE sy > 0
"""


@query(ORACLE_SEASONAL_NAIVE)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest per event type: the seasonal-naive baseline
    (predict today = same weekday last week) over the DENSE daily
    spine, scored with exact integer error metrics — MAE in milli-
    events, WAPE in ppm (the division-safe MAPE replacement: zero-
    count days are legal on a dense spine), and signed bias.  Any
    fancier forecaster has to beat THIS row before it ships; the
    spine's missing-days-are-zeros convention matches
    changepoint_daily/burstiness_fano.

    Scale shape: fact agg to (type, day), calendar-bounded spine,
    per-type lag-7 window, one rollup to type cardinality."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    b = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).head()
    spine = spark.sql(
        f"SELECT explode(sequence(DATE'{b['lo']}', DATE'{b['hi']}',"
        " interval 1 day)) AS day"
    )
    dense = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = (
        dense.withColumn("yhat", F.lag("y", 7).over(w))
        .filter(F.col("yhat").isNotNull())
        .select(
            "event_type",
            "y",
            "yhat",
            F.abs(F.col("y") - F.col("yhat")).alias("ae"),
        )
    )
    g = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_eval"),
        F.sum("ae").alias("sae"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") - F.col("yhat")).alias("bias_events"),
    )
    return g.filter(F.col("sy") > 0).select(
        "event_type",
        "n_days_eval",
        F.expr("sae * 1000 div n_days_eval").alias("mae_milli"),
        F.expr("sae * 1000000 div sy").alias("wape_ppm"),
        "bias_events",
    )


ORACLE_L_DIVERSITY = """
    WITH rows_ AS (SELECT c_mktsegment, c_nationkey, o_orderpriority
        FROM orders JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT c_mktsegment, c_nationkey,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l
        FROM rows_ GROUP BY 1, 2)
    SELECT l, CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        CAST(MIN(n_rows) AS BIGINT) AS min_group_rows
    FROM g GROUP BY l ORDER BY l
"""


@query(ORACLE_L_DIVERSITY)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion k_anonymity_audit doesn't
    cover: a quasi-identifier group can be k-anonymous yet leak its
    sensitive attribute if every member shares one value.  Quasi-ID =
    (market segment, nation), sensitive = order priority; per
    diversity level l (distinct priorities seen in the group), report
    group count, row coverage, and the smallest group — the l=1 row
    IS the disclosure list.

    Scale shape: one order->customer equi-join, one agg to quasi-group
    cardinality, one <=5-row rollup."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    rows = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select("c_mktsegment", "c_nationkey", "o_orderpriority")
    g = rows.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderpriority").alias("l"),
    )
    return (
        g.groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_rows").alias("n_rows"),
            F.min("n_rows").alias("min_group_rows"),
        )
        .orderBy("l")
    )


ORACLE_SHRUNK_RATES = """
    WITH per AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
                AS x
        FROM lineitem GROUP BY 1),
    rated AS (SELECT l_partkey, n, x,
            x * 1000000 // n AS r_micro FROM per),
    prior AS (SELECT CAST(COUNT(*) AS BIGINT) AS p_cnt,
            CAST(SUM(r_micro) AS BIGINT) AS sr,
            CAST(SUM(CAST(r_micro AS HUGEINT) * r_micro) AS HUGEINT)
                AS srr
        FROM rated),
    pm AS (SELECT p_cnt, sr // p_cnt AS m_micro,
            GREATEST(CAST(srr // p_cnt
                 - (sr // p_cnt) * (sr // p_cnt) AS BIGINT),
                 CAST(1 AS BIGINT)) AS v_micro2
        FROM prior),
    kk AS (SELECT m_micro, v_micro2,
            GREATEST(CAST(CAST(m_micro AS HUGEINT)
                * (1000000 - m_micro) * 1000 // v_micro2
                - 1000 AS BIGINT), CAST(1 AS BIGINT)) AS k_milli
        FROM pm),
    ka AS (SELECT m_micro, v_micro2, k_milli,
            k_milli * m_micro // 1000000 AS alpha_milli FROM kk)
    SELECT l_partkey, n, x, r_micro,
        CAST((CAST(x AS HUGEINT) * 1000 + alpha_milli) * 1000000
             // (CAST(n AS HUGEINT) * 1000 + k_milli) AS BIGINT)
            AS shrunk_micro,
        ABS(CAST((CAST(x AS HUGEINT) * 1000 + alpha_milli) * 1000000
             // (CAST(n AS HUGEINT) * 1000 + k_milli) AS BIGINT)
            - r_micro) AS gap_micro
    FROM rated CROSS JOIN ka
    ORDER BY gap_micro DESC, l_partkey LIMIT 20
"""


@query(ORACLE_SHRUNK_RATES)
def q_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-part return
    rates: raw x/n for a 3-observation part is noise; shrinking toward
    the corpus prior with method-of-moments strength K = m(1-m)/v - 1
    gives the rate you'd actually rank parts by.  Everything is exact
    integer arithmetic: per-part micro rates, the prior mean and
    between-part variance as micro(-squared) integers, K clamped to
    >= 1 milli (overdispersion would make it negative — then shrinkage
    is ill-posed and the clamp degrades gracefully toward raw rates),
    shrunk rate = (1000x + alpha_milli) / (1000n + K_milli) in exact
    micro.  Top 20 parts by how far shrinkage moved them — the rows a
    raw ranking gets most wrong.

    Scale shape: one fact agg to part cardinality, one 1-row moment
    agg broadcast back, TakeOrdered(20)."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("l_returnflag") == "R").alias("x"),
    )
    rated = per.select(
        "l_partkey",
        "n",
        "x",
        F.expr("x * 1000000 div n").alias("r_micro"),
    )
    prior = rated.agg(
        F.count(F.lit(1)).alias("p_cnt"),
        F.sum("r_micro").alias("sr"),
        F.sum(
            F.expr("CAST(r_micro AS DECIMAL(38,0)) * r_micro")
        ).alias("srr"),
    ).select(
        "p_cnt",
        F.expr("sr div p_cnt").alias("m_micro"),
        # between-part variance in micro^2: E[r^2] - (E[r])^2, exact;
        # clamped >= 1 so a degenerate all-equal-rates corpus yields
        # maximal K (full shrinkage) instead of Spark-null/DuckDB-error
        F.expr(
            "greatest(CAST(srr div p_cnt"
            " - (sr div p_cnt) * (sr div p_cnt) AS BIGINT),"
            " CAST(1 AS BIGINT))"
        ).alias("v_micro2"),
    )
    k = prior.select(
        "m_micro",
        "v_micro2",
        F.expr(
            "greatest(CAST(CAST(m_micro AS DECIMAL(38,0))"
            " * (1000000 - m_micro) * 1000 div v_micro2"
            " - 1000 AS BIGINT), CAST(1 AS BIGINT))"
        ).alias("k_milli"),
    ).select(
        "m_micro",
        "v_micro2",
        "k_milli",
        F.expr("k_milli * m_micro div 1000000").alias("alpha_milli"),
    )
    j = rated.crossJoin(F.broadcast(k))
    return (
        j.select(
            "l_partkey",
            "n",
            "x",
            "r_micro",
            F.expr(
                "CAST((CAST(x AS DECIMAL(38,0)) * 1000 + alpha_milli)"
                " * 1000000 div (CAST(n AS DECIMAL(38,0)) * 1000"
                " + k_milli) AS BIGINT)"
            ).alias("shrunk_micro"),
        )
        .withColumn(
            "gap_micro", F.abs(F.col("shrunk_micro") - F.col("r_micro"))
        )
        .orderBy(F.desc("gap_micro"), "l_partkey")
        .limit(20)
    )


ORACLE_T_CLOSENESS = """
    WITH rows_ AS (SELECT c_mktsegment, c_nationkey, o_orderpriority
        FROM orders JOIN customer ON o_custkey = c_custkey),
    gp AS (SELECT c_mktsegment, c_nationkey, o_orderpriority,
            CAST(COUNT(*) AS BIGINT) AS c
        FROM rows_ GROUP BY 1, 2, 3),
    pri AS (SELECT DISTINCT o_orderpriority FROM rows_),
    groups_ AS (SELECT DISTINCT c_mktsegment, c_nationkey FROM gp),
    dense AS (SELECT g.c_mktsegment, g.c_nationkey, p.o_orderpriority,
            CAST(COALESCE(gp.c, 0) AS BIGINT) AS c
        FROM groups_ g CROSS JOIN pri p
        LEFT JOIN gp ON gp.c_mktsegment = g.c_mktsegment
            AND gp.c_nationkey = g.c_nationkey
            AND gp.o_orderpriority = p.o_orderpriority),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM rows_),
    gcum AS (SELECT o_orderpriority,
            CAST(SUM(CAST(COUNT(*) AS BIGINT)) OVER (
                ORDER BY o_orderpriority
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_all
        FROM rows_ GROUP BY 1),
    cum AS (SELECT d.c_mktsegment, d.c_nationkey, d.o_orderpriority,
            CAST(SUM(c) OVER (PARTITION BY d.c_mktsegment, d.c_nationkey
                ORDER BY d.o_orderpriority
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_g,
            CAST(SUM(c) OVER (PARTITION BY d.c_mktsegment,
                d.c_nationkey) AS BIGINT) AS n_g,
            g.cum_all
        FROM dense d JOIN gcum g
            ON d.o_orderpriority = g.o_orderpriority),
    per AS (SELECT c_mktsegment, c_nationkey,
            MAX(n_g) AS n_rows,
            CAST(SUM(ABS(CAST(cum_g AS HUGEINT) * (SELECT n_all FROM tot)
                - CAST(cum_all AS HUGEINT) * n_g)) AS HUGEINT) AS s,
            CAST(COUNT(*) AS BIGINT) AS n_ranks
        FROM cum GROUP BY 1, 2)
    SELECT c_mktsegment, c_nationkey, n_rows,
        CAST(s * 1000000 // (CAST(n_ranks AS HUGEINT) * n_rows
            * (SELECT n_all FROM tot)) AS BIGINT) AS t_ppm
    FROM per
    ORDER BY t_ppm DESC, c_mktsegment, c_nationkey LIMIT 10
"""


# ---------------------------------------------------------------- wave 7e
@query(ORACLE_T_CLOSENESS)


def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness — the third rung of the anonymization ladder
    (k_anonymity_audit: group size; l_diversity_audit: value variety;
    THIS: value DISTRIBUTION): per quasi-group (segment, nation), the
    Earth Mover's Distance between the group's order-priority
    distribution and the corpus-wide one.  Priorities are ordered
    (1-URGENT..5-LOW), so EMD = mean |cumulative-share difference| —
    exact ppm integers: per rank, |cum_g * n_all - cum_all * n_g|
    accumulates in DECIMAL(38,0) and one closing division normalizes.
    Top 10 most-skewed groups — each is a quasi-identifier whose
    order-mix leaks.

    Scale shape: one agg to (group, priority) — group cardinality x 5
    — dense 5-rank spine per group, broadcast global distribution,
    cumulative windows partitioned by group, TakeOrdered(10)."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    rows = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select(
        "c_mktsegment", "c_nationkey", "o_orderpriority"
    )
    gp = rows.groupBy(
        "c_mktsegment", "c_nationkey", "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("c"))
    # dense 5-priority spine per group so missing ranks carry zeros
    pri = rows.select("o_orderpriority").distinct()
    groups = gp.select("c_mktsegment", "c_nationkey").distinct()
    dense = (
        groups.crossJoin(F.broadcast(pri))
        .join(
            gp, ["c_mktsegment", "c_nationkey", "o_orderpriority"], "left"
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "o_orderpriority",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    glob = rows.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("ca")
    )
    tot = rows.agg(F.count(F.lit(1)).alias("n_all")).head()["n_all"]
    wg = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy(
        "o_orderpriority"
    )
    wa = Window.orderBy("o_orderpriority").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    glob_cum = glob.select(
        "o_orderpriority", F.sum("ca").over(wa).alias("cum_all")
    )
    j = (
        dense.withColumn(
            "cum_g",
            F.sum("c").over(
                wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "n_g",
            F.sum("c").over(
                Window.partitionBy("c_mktsegment", "c_nationkey")
            ),
        )
        .join(F.broadcast(glob_cum), "o_orderpriority")
    )
    per = j.groupBy("c_mktsegment", "c_nationkey").agg(
        F.max("n_g").alias("n_rows"),
        F.sum(
            F.expr(
                f"abs(CAST(cum_g AS DECIMAL(38,0)) * {tot}"
                " - CAST(cum_all AS DECIMAL(38,0)) * n_g)"
            )
        ).alias("s"),
        F.count(F.lit(1)).alias("n_ranks"),
    )
    return (
        per.select(
            "c_mktsegment",
            "c_nationkey",
            "n_rows",
            F.expr(
                "CAST(s * 1000000 div (CAST(n_ranks AS DECIMAL(38,0))"
                f" * n_rows * {tot}) AS BIGINT)"
            ).alias("t_ppm"),
        )
        .orderBy(F.desc("t_ppm"), "c_mktsegment", "c_nationkey")
        .limit(10)
    )


ORACLE_SIMPSONS = """
    WITH g AS (SELECT l_returnflag,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(CAST(FLOOR(l_discount * 1000000.0 + 0.5)
                AS BIGINT) AS HUGEINT)) AS HUGEINT) AS sx,
            CAST(SUM(CAST(CAST(FLOOR(l_quantity * 1000000.0 + 0.5)
                AS BIGINT) AS HUGEINT)) AS HUGEINT) AS sy,
            CAST(SUM(CAST(CAST(FLOOR(l_discount * 1000000.0 + 0.5)
                AS BIGINT) AS HUGEINT)
                * CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT))
                AS HUGEINT) AS sxy
        FROM lineitem GROUP BY 1),
    pooled AS (SELECT CAST(SIGN(CAST(SUM(n) AS HUGEINT) * SUM(sxy)
            - SUM(sx) * SUM(sy)) AS BIGINT) AS pooled_sign
        FROM g)
    SELECT l_returnflag, n,
        CAST(SIGN(CAST(n AS HUGEINT) * sxy - sx * sy) AS BIGINT)
            AS group_sign,
        pooled_sign,
        CAST(CASE WHEN SIGN(CAST(n AS HUGEINT) * sxy - sx * sy)
                * pooled_sign < 0 THEN 1 ELSE 0 END AS INT)
            AS disagrees
    FROM g CROSS JOIN pooled ORDER BY l_returnflag
"""


@query(ORACLE_SIMPSONS)
def q_simpsons_paradox_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen on the discount->quantity relation:
    exact-integer regression-slope NUMERATORS (n*Sxy - Sx*Sy, the
    sign-carrying part — denominators are positive and can't flip a
    sign) per returnflag group AND pooled; a group whose sign
    disagrees with the pooled sign is a confounding alarm — the
    aggregate trend would mislead anyone acting per group.  Micro-
    quantized values, DECIMAL(38,0) moments, zero doubles.

    Scale shape: ONE fact pass aggregating per-group moments (pooled
    moments are the group sums — no second scan), all comparisons on
    a groups-cardinality frame."""
    li = _t(spark, sf_dir, "lineitem")
    x = "CAST(floor(l_discount * 1000000.0 + 0.5) AS BIGINT)"
    y = "CAST(floor(l_quantity * 1000000.0 + 0.5) AS BIGINT)"
    dec = "DECIMAL(38,0)"
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST({x} AS {dec}))").alias("sx"),
        F.expr(f"SUM(CAST({y} AS {dec}))").alias("sy"),
        F.expr(f"SUM(CAST({x} AS {dec}) * {y})").alias("sxy"),
    )
    # pooled moments are window sums OVER the groups-cardinality frame
    # (3 rows) — reusing `g` in a crossJoin branch would re-scan the
    # fact table; the unpartitioned window here is groups-sized, not
    # corpus-sized (plan-guarded: exactly one parquet scan)
    from pyspark.sql import Window

    wall = Window.partitionBy()
    pooled = g.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        "sxy",
        F.sum("n").over(wall).alias("pn"),
        F.sum("sx").over(wall).alias("psx"),
        F.sum("sy").over(wall).alias("psy"),
        F.sum("sxy").over(wall).alias("psxy"),
    )
    return (
        pooled.select(
            "l_returnflag",
            "n",
            F.expr(
                "CAST(sign(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy)"
                " AS BIGINT)"
            ).alias("group_sign"),
            F.expr(
                "CAST(sign(CAST(pn AS DECIMAL(38,0)) * psxy - psx * psy)"
                " AS BIGINT)"
            ).alias("pooled_sign"),
        )
        .withColumn(
            "disagrees",
            (F.col("group_sign") * F.col("pooled_sign") < 0).cast(
                "int"
            ),
        )
        .orderBy("l_returnflag")
    )


ORACLE_NEYMAN = """
    WITH rows_ AS (SELECT c_mktsegment,
            CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_h,
            CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
            CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        FROM rows_ GROUP BY 1),
    w AS (SELECT c_mktsegment, n_h,
            CAST(FLOOR(SQRT(CAST(CAST(CAST(n_h AS HUGEINT) * q - s * s
                AS VARCHAR) AS DOUBLE)) * 0.001 + 0.5) AS BIGINT) AS w_h
        FROM g),
    quota AS (SELECT c_mktsegment, n_h, w_h,
            CAST(SUM(w_h) OVER () AS BIGINT) AS w_tot
        FROM w),
    split AS (SELECT c_mktsegment, n_h, w_h,
            (10000 * w_h) // w_tot AS base,
            (10000 * w_h) % w_tot AS rem
        FROM quota),
    rk AS (SELECT *,
            ROW_NUMBER() OVER (ORDER BY rem DESC, c_mktsegment)
                AS rrank,
            CAST(SUM(base) OVER () AS BIGINT) AS base_tot
        FROM split)
    SELECT c_mktsegment, n_h, w_h AS nh_sigma_milli,
        CAST(base + CASE WHEN rrank <= 10000 - base_tot
            THEN 1 ELSE 0 END AS BIGINT) AS alloc_n
    FROM rk ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------- wave 7g
@query(ORACLE_NEYMAN)


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sample allocation: split a 10,000-row sampling
    budget across market segments proportional to n_h * sigma_h (high-
    variance strata earn more samples — the design that minimizes the
    stratified estimator's variance for fixed budget).  n_h*sigma_h =
    sqrt(n_h*Q_h - S_h^2) from exact integer moments (bridged once to
    double for the sqrt, milli-quantized); the integer split uses the
    LARGEST-REMAINDER method so allocations are exact integers that
    sum to the budget on both engines — no float apportionment.

    Scale shape: one fact agg to stratum cardinality; everything
    after runs on 5 rows."""
    from pyspark.sql import Window

    budget = 10000
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = _t(spark, sf_dir, "orders")
    rows = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).select(
        "c_mktsegment",
        F.expr(
            "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("x"),
    )
    dec = "DECIMAL(38,0)"
    g = rows.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.expr(f"SUM(CAST(x AS {dec}))").alias("s"),
        F.expr(f"SUM(CAST(x AS {dec}) * x)").alias("q"),
    )
    w = g.select(
        "c_mktsegment",
        "n_h",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(CAST(CAST(n_h AS DECIMAL(38,0)) * q"
            " - s * s AS STRING) AS DOUBLE)) * 0.001 + 0.5) AS BIGINT)"
        ).alias("w_h"),
    )
    wall = Window.partitionBy()
    quota = w.select(
        "c_mktsegment",
        "n_h",
        "w_h",
        F.sum("w_h").over(wall).alias("w_tot"),
    ).select(
        "c_mktsegment",
        "n_h",
        "w_h",
        F.expr(f"({budget} * w_h) div w_tot").alias("base"),
        F.expr(f"({budget} * w_h) % w_tot").alias("rem"),
        "w_tot",
    )
    wr = Window.orderBy(F.desc("rem"), "c_mktsegment")
    return (
        quota.select(
            "c_mktsegment",
            "n_h",
            F.col("w_h").alias("nh_sigma_milli"),
            "base",
            F.row_number().over(wr).alias("rrank"),
            F.sum("base").over(wall).alias("base_tot"),
        )
        .select(
            "c_mktsegment",
            "n_h",
            "nh_sigma_milli",
            F.expr(
                f"base + CASE WHEN rrank <= {budget} - base_tot"
                " THEN 1 ELSE 0 END"
            ).alias("alloc_n"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_RATIO_CI = """
    WITH per_cust AS (SELECT o_custkey,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                AS BIGINT)) AS BIGINT) AS x,
            CAST(COUNT(*) AS BIGINT) AS y
        FROM orders GROUP BY 1),
    rows_ AS (SELECT c_mktsegment, x, y
        FROM per_cust JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
            CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
            CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
            CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
            CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM rows_ GROUP BY 1),
    b AS (SELECT c_mktsegment, n, CAST(n AS DOUBLE) AS dn,
            CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx,
            CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
            CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
            CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy,
            CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy
        FROM g)
    SELECT c_mktsegment, n,
        (FLOOR((dx / dy) * 1000000.0 + 0.5) / 1000000.0)
            AS rev_per_order_cents,
        (FLOOR(1.96 * SQRT(
            ((dxx - dx * dx / dn) / (dn - 1.0)
             + (dx / dy) * (dx / dy) * ((dyy - dy * dy / dn) / (dn - 1.0))
             - 2.0 * (dx / dy) * ((dxy - dx * dy / dn) / (dn - 1.0)))
            / (dn * (dy / dn) * (dy / dn))) * 1000000.0 + 0.5)
         / 1000000.0) AS ci_halfwidth_cents
    FROM b ORDER BY c_mktsegment
"""


@query(ORACLE_RATIO_CI)
def q_ratio_metric_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for a RATIO metric — revenue per order by
    segment, where both numerator and denominator vary per customer
    (conversion_wilson_ci handles proportions; real product metrics
    are ratios of sums, and naive per-row CIs are wrong because the
    unit of randomization is the customer).  Var(R) ~ (sxx + R^2*syy
    - 2R*sxy) / (n * ybar^2) on customer-level (spend, order-count)
    pairs; all five moments are exact DECIMAL(38,0) sums bridged via
    VARCHAR, and the closed form runs as the identical IEEE
    expression, det_round(6) on micro units; half-width uses the
    1.96 normal literal.

    Scale shape: orders agg to customer, one agg to segment
    cardinality, per-row closed form on 5 rows."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "SUM(CAST(floor(o_totalprice * 100.0 + 0.5)"
                " AS BIGINT))"
            ).alias("x"),
            F.count(F.lit(1)).alias("y"),
        )
    )
    rows = per_cust.join(
        cust, per_cust["o_custkey"] == cust["c_custkey"]
    )
    dec = "DECIMAL(38,0)"
    g = rows.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(x AS {dec}))").alias("sx"),
        F.expr(f"SUM(CAST(y AS {dec}))").alias("sy"),
        F.expr(f"SUM(CAST(x AS {dec}) * x)").alias("sxx"),
        F.expr(f"SUM(CAST(y AS {dec}) * y)").alias("syy"),
        F.expr(f"SUM(CAST(x AS {dec}) * y)").alias("sxy"),
    )
    br = lambda c: f"CAST(CAST({c} AS STRING) AS DOUBLE)"  # noqa: E731
    dn = "CAST(n AS DOUBLE)"
    dx, dy = br("sx"), br("sy")
    dxx, dyy, dxy = br("sxx"), br("syy"), br("sxy")
    r = f"({dx} / {dy})"
    ybar = f"({dy} / {dn})"
    sxx_c = f"(({dxx}) - ({dx}) * ({dx}) / {dn}) / ({dn} - 1.0)"
    syy_c = f"(({dyy}) - ({dy}) * ({dy}) / {dn}) / ({dn} - 1.0)"
    sxy_c = f"(({dxy}) - ({dx}) * ({dy}) / {dn}) / ({dn} - 1.0)"
    var_r = (
        f"(({sxx_c}) + ({r}) * ({r}) * ({syy_c})"
        f" - 2.0 * ({r}) * ({sxy_c})) / ({dn} * ({ybar}) * ({ybar}))"
    )
    return g.select(
        "c_mktsegment",
        "n",
        F.expr(
            f"(CAST(FLOOR({r} * 1000000.0 + 0.5) AS DOUBLE)"
            " / CAST(1000000.0 AS DOUBLE))"
        ).alias("rev_per_order_cents"),
        F.expr(
            f"(CAST(FLOOR(1.96 * SQRT({var_r}) * 1000000.0 + 0.5)"
            " AS DOUBLE) / CAST(1000000.0 AS DOUBLE))"
        ).alias("ci_halfwidth_cents"),
    ).orderBy("c_mktsegment")


def _g3_sql(table: str, a: str, b: str, name: str) -> str:
    return f"""
    (SELECT '{name}' AS fd,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS n_rows,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(((SELECT CAST(COUNT(*) AS BIGINT) FROM {table})
              - SUM(mc)) * 1000000
             // (SELECT CAST(COUNT(*) AS BIGINT) FROM {table})
             AS BIGINT) AS g3_ppm
     FROM (SELECT {a}, CAST(MAX(c) AS BIGINT) AS mc
           FROM (SELECT {a}, {b}, CAST(COUNT(*) AS BIGINT) AS c
                 FROM {table} GROUP BY 1, 2)
           GROUP BY 1))"""


ORACLE_FD_G3 = f"""
    SELECT * FROM (
        {_g3_sql("events", "user_id", "event_type", "user_to_type")}
        UNION ALL
        {_g3_sql("events", "event_type", "user_id", "type_to_user")}
        UNION ALL
        {_g3_sql("orders", "o_custkey", "o_orderpriority",
                 "cust_to_priority")}
        UNION ALL
        {_g3_sql("orders", "o_orderpriority", "o_orderstatus",
                 "priority_to_status")}
    ) ORDER BY fd
"""


@query(ORACLE_FD_G3)
def q_fd_g3_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency mining (TANE's g3 error): for
    each candidate A -> B, the fraction of rows that must be removed
    for the FD to hold exactly — 1 - sum_a max_b count(a,b) / n, in
    exact ppm.  Four candidates spanning clean and dirty cases: a
    profiling pass that DISCOVERS near-keys and near-determinants the
    schema doesn't declare (constraint_audit checks declared
    invariants; this hunts undeclared ones).

    Scale shape: per candidate, one agg to (A, B) cardinality, a max
    per A, one 1-row rollup; candidates union at report size."""

    def g3(df, a, b, name):
        ab = df.groupBy(a, b).agg(F.count(F.lit(1)).alias("c"))
        mx = ab.groupBy(a).agg(F.max("c").alias("mc"))
        tot = df.agg(F.count(F.lit(1)).alias("n"))
        return (
            mx.agg(
                F.sum("mc").alias("keep"),
                F.count(F.lit(1)).alias("n_groups"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(name).alias("fd"),
                F.col("n").alias("n_rows"),
                "n_groups",
                F.expr(
                    "CAST((n - keep) * 1000000 div n AS BIGINT)"
                ).alias("g3_ppm"),
            )
        )

    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    return (
        g3(ev, "user_id", "event_type", "user_to_type")
        .unionByName(g3(ev, "event_type", "user_id", "type_to_user"))
        .unionByName(
            g3(orders, "o_custkey", "o_orderpriority", "cust_to_priority")
        )
        .unionByName(
            g3(orders, "o_orderpriority", "o_orderstatus",
               "priority_to_status")
        )
        .orderBy("fd")
    )


ORACLE_MARKOV_TOP1 = """
    WITH seq AS (SELECT user_id, event_type AS src,
            LEAD(event_type) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS dst
        FROM events),
    train AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE dst IS NOT NULL AND user_id % 2 = 0
        GROUP BY 1, 2),
    pred AS (SELECT src, dst AS predicted FROM (
            SELECT src, dst,
                ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY c DESC, dst) AS rn
            FROM train) WHERE rn = 1),
    test AS (SELECT src, dst FROM seq
        WHERE dst IS NOT NULL AND user_id % 2 = 1),
    scored AS (SELECT test.src,
            CASE WHEN test.dst = pred.predicted THEN 1 ELSE 0 END
                AS hit
        FROM test LEFT JOIN pred ON test.src = pred.src)
    SELECT src, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(hit) AS BIGINT) AS n_hits,
        CAST(SUM(hit) AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT)
            AS top1_acc_ppm
    FROM scored GROUP BY 1 ORDER BY src
"""


@query(ORACLE_MARKOV_TOP1)
def q_markov_top1_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout accuracy of the Markov next-event predictor: train
    transition counts on EVEN user_ids, predict each ODD user's next
    event as the argmax transition from the current state (ties to
    the lexicographically first destination — deterministic), and
    report top-1 accuracy per source state in exact ppm.  The eval
    that turns markov_transitions from a description into a model —
    and the holdout discipline (train/test by user hash) matches
    lm_holdout_compare.

    Scale shape: train agg at state-pair cardinality, argmax via a
    src-partitioned rank window (state cardinality), test pairs join
    the 1-per-state prediction table broadcast."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def pairs_of(pred):
        return (
            ev.filter(pred)
            .select(
                "user_id",
                "ts",
                "event_id",
                F.col("event_type").alias("src"),
                F.lead("event_type").over(w).alias("dst"),
            )
            .filter(F.col("dst").isNotNull())
        )

    train = (
        pairs_of(F.col("user_id") % 2 == 0)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("src").orderBy(F.desc("c"), "dst")
    pred = (
        train.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("src", F.col("dst").alias("predicted"))
    )
    test = pairs_of(F.col("user_id") % 2 == 1).select("src", "dst")
    scored = test.join(F.broadcast(pred), "src", "left").select(
        "src",
        (F.col("dst") == F.col("predicted")).cast("bigint").alias(
            "hit"
        ),
    )
    return (
        scored.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("hit").alias("n_hits"),
        )
        .select(
            "src",
            "n_events",
            "n_hits",
            F.expr("n_hits * 1000000 div n_events").alias(
                "top1_acc_ppm"
            ),
        )
        .orderBy("src")
    )


ORACLE_MDE = """
    WITH rows_ AS (SELECT c_mktsegment,
            CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS x
        FROM orders JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
            CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        FROM rows_ GROUP BY 1),
    b AS (SELECT c_mktsegment, n, CAST(n AS DOUBLE) AS dn,
            CAST(CAST(s AS VARCHAR) AS DOUBLE) AS ds,
            CAST(CAST(q AS VARCHAR) AS DOUBLE) AS dq
        FROM g)
    SELECT c_mktsegment, n,
        (FLOOR((2.8 * SQRT(2.0 * ((dq - ds * ds / dn) / (dn - 1.0))
            / (dn / 2.0))) * 1000000.0 + 0.5) / 1000000.0) AS mde_cents,
        CAST(FLOOR((2.8 * SQRT(2.0 * ((dq - ds * ds / dn) / (dn - 1.0))
            / (dn / 2.0))) * dn / ds * 1000000.0 + 0.5) AS BIGINT)
            AS mde_ppm_of_mean
    FROM b ORDER BY c_mktsegment
"""


@query(ORACLE_MDE)
def q_mde_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect per market segment: the A/B-test
    planning number — with this segment's order-value variance and
    size, the smallest revenue-per-order lift (in cents, and in ppm
    of the mean) a 50/50 split can detect at alpha=0.05 two-sided,
    power=0.80: MDE = (1.96 + 0.84) * sqrt(2 * s^2 / (n/2)).
    Variance comes from exact DECIMAL moments bridged via VARCHAR;
    the closed form is the identical IEEE expression, half-up
    micro-quantized.  Run BEFORE an experiment; conversion_wilson_ci
    and ratio_metric_ci grade it after.

    Scale shape: one fact agg to segment cardinality, per-row closed
    form on 5 rows."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rows = (
        _t(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.expr(
                "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("x"),
        )
    )
    dec = "DECIMAL(38,0)"
    g = rows.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(x AS {dec}))").alias("s"),
        F.expr(f"SUM(CAST(x AS {dec}) * x)").alias("q"),
    )
    br = lambda c: f"CAST(CAST({c} AS STRING) AS DOUBLE)"  # noqa: E731
    dn = "CAST(n AS DOUBLE)"
    var = (
        f"(({br('q')}) - ({br('s')}) * ({br('s')}) / {dn})"
        f" / ({dn} - 1.0)"
    )
    mde = f"(2.8 * SQRT(2.0 * ({var}) / ({dn} / 2.0)))"
    return g.select(
        "c_mktsegment",
        "n",
        F.expr(
            f"(CAST(FLOOR({mde} * 1000000.0 + 0.5) AS DOUBLE)"
            " / CAST(1000000.0 AS DOUBLE))"
        ).alias("mde_cents"),
        F.expr(
            f"CAST(FLOOR({mde} * {dn} / ({br('s')}) * 1000000.0 + 0.5)"
            " AS BIGINT)"
        ).alias("mde_ppm_of_mean"),
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------- wave 7j

_MEDREG_GRID = list(range(80000, 122000, 2000))  # cents per unit


def _medreg_oracle() -> str:
    sums = ",\n            ".join(
        f"CAST(SUM(CAST(ABS(y - {b} * x) AS HUGEINT)) AS HUGEINT)"
        f" AS l_{b}"
        for b in _MEDREG_GRID
    )
    rows = "\n        UNION ALL ".join(
        f"SELECT CAST({b} AS BIGINT) AS slope_cents,"
        f" CAST(l_{b} // n AS BIGINT) AS mean_abs_err_cents,"
        f" l_{b} AS loss FROM g"
        for b in _MEDREG_GRID
    )
    return f"""
    WITH li AS (SELECT
            CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y,
            CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x
        FROM lineitem),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            {sums}
        FROM li),
    u AS ({rows})
    SELECT slope_cents, mean_abs_err_cents,
        CAST(ROW_NUMBER() OVER (ORDER BY loss, slope_cents) AS BIGINT)
            AS rank
    FROM u ORDER BY slope_cents
"""


ORACLE_MEDIAN_REGRESSION = _medreg_oracle()


@query(ORACLE_MEDIAN_REGRESSION)
def q_median_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (L1) regression of extended price on quantity through the
    origin, by exhaustive grid: for 21 candidate slopes (cents/unit)
    evaluate the absolute-loss sum EXACTLY in DECIMAL(38,0) and rank —
    the outlier-robust price-per-unit estimate (theil_sen_trend is the
    pairwise-slope flavor; this is the loss-minimization flavor, and
    the full loss curve it emits shows HOW flat the optimum is).  All
    21 losses accumulate in ONE scan as conditional aggregate
    expressions — no grid crossJoin, no 21x row fan-out.

    Scale shape: single partial-combined 21-expression aggregate, then
    21-row unpivot + rank."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("y"),
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("x"),
    )
    aggs = [
        F.expr(
            f"SUM(CAST(abs(y - {b} * x) AS DECIMAL(38,0)))"
        ).alias(f"l_{b}")
        for b in _MEDREG_GRID
    ]
    g = li.agg(F.count(F.lit(1)).alias("n"), *aggs)
    stack = ", ".join(
        f"CAST({b} AS BIGINT), l_{b}" for b in _MEDREG_GRID
    )
    unp = g.select(
        "n",
        F.expr(
            f"stack({len(_MEDREG_GRID)}, {stack})"
            " AS (slope_cents, loss)"
        ),
    )
    from pyspark.sql import Window

    w = Window.orderBy("loss", "slope_cents")
    return unp.select(
        "slope_cents",
        F.expr("CAST(loss div n AS BIGINT)").alias("mean_abs_err_cents"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    ).orderBy("slope_cents")


ORACLE_ETA_SQUARED = """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                AS BIGINT) AS x
        FROM orders GROUP BY 1),
    base AS (SELECT x, dayofweek(day) + 1 AS dow, month(day) AS mon,
            CAST(COUNT(*) OVER () AS BIGINT) AS n,
            CAST(SUM(x) OVER () AS BIGINT) AS s
        FROM daily),
    sst AS (SELECT MAX(n) AS n,
            CAST(SUM((CAST(n AS HUGEINT) * x - s)
                * (CAST(n AS HUGEINT) * x - s)
                // (CAST(n AS HUGEINT) * n * 1000000)) AS HUGEINT)
                AS ss_tot
        FROM base),
    dowg AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_g,
            CAST(SUM(x) AS BIGINT) AS s_g,
            MAX(n) AS n, MAX(s) AS s
        FROM base GROUP BY 1),
    mong AS (SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_g,
            CAST(SUM(x) AS BIGINT) AS s_g,
            MAX(n) AS n, MAX(s) AS s
        FROM base GROUP BY 1),
    u AS (SELECT 'day_of_week' AS factor,
            CAST(COUNT(*) AS BIGINT) AS n_groups,
            CAST(SUM((CAST(s_g AS HUGEINT) * n - CAST(s AS HUGEINT)
                * n_g) * (CAST(s_g AS HUGEINT) * n
                - CAST(s AS HUGEINT) * n_g)
                // (CAST(n_g AS HUGEINT) * n * n * 1000000))
                AS HUGEINT) AS ss_between
        FROM dowg
        UNION ALL
        SELECT 'month', CAST(COUNT(*) AS BIGINT),
            CAST(SUM((CAST(s_g AS HUGEINT) * n - CAST(s AS HUGEINT)
                * n_g) * (CAST(s_g AS HUGEINT) * n
                - CAST(s AS HUGEINT) * n_g)
                // (CAST(n_g AS HUGEINT) * n * n * 1000000))
                AS HUGEINT)
        FROM mong)
    SELECT factor, n_groups,
        CAST(ss_between AS BIGINT) AS ss_between_musd2,
        CAST(ss_tot AS BIGINT) AS ss_total_musd2,
        CAST(ss_between * 1000000 // ss_tot AS BIGINT) AS eta2_ppm
    FROM u CROSS JOIN sst ORDER BY factor
"""


@query(ORACLE_ETA_SQUARED)
def q_eta_squared_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance explained (eta-squared) by calendar factors on daily
    revenue: one-way between-group sum of squares for day-of-week and
    for month, each against the same total SS — the screen that says
    whether weekday seasonality or monthly seasonality is worth
    modeling at all (seasonal_decompose_daily then extracts it).
    Exact integers: SS_total as sum of (N*x - S)^2 / N^2-scaled terms
    and each group's (S_g*N - S*n_g)^2 term divided by its FULL
    divisor (n_g * N * N * 10^6) in ONE `div` — the r8 sf1 sweep
    caught the two-step form wrapping silently: Spark's IntegralDivide
    on decimals returns LONG and the inner quotient reached 1.15e19 >
    int64 even though the final value fits (ANSI does NOT trap this
    wrap).  floor(floor(x/m)/n) = floor(x/(m*n)) for positive
    integers, so the one-step value is bit-identical to the oracle's
    HUGEINT form.  Units are musd^2 (usd^2 div 10^6, folded into each
    term's single divisor): the r8 sf10 sweep hit the documented usd^2
    ceiling for real — raw SS crossed int64 (~1.3e20) and the LONG sum
    of per-term quotients threw under ANSI — so the predicted rescale
    path shipped.  Per-term quotients stay <=~1e14 through sf100 and
    the DECIMAL(38,0) numerators peak ~6.6e33, leaving 4 decades of
    headroom.

    Scale shape: fact agg to day cardinality (bounded by calendar),
    two tiny factor rollups, 2 rows out."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.expr(
                "CAST(floor(o_totalprice + 0.5) AS BIGINT)"
            ).alias("usd"),
        )
        .groupBy("day")
        .agg(F.sum("usd").alias("x"))
        .select(
            "day",
            "x",
            F.dayofweek("day").alias("dow"),
            F.month("day").alias("mon"),
        )
    )
    dec = "DECIMAL(38,0)"
    from pyspark.sql import Window

    wall = Window.partitionBy()
    base = daily.select(
        "x",
        "dow",
        "mon",
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x").over(wall).alias("s"),
    )
    # SS_total * N^2 — exact; term (N*x - S)^2 <= (2500 * 1e15)^2 at
    # 100 TB: a single div with the 10^6 micro-unit scale folded into
    # the divisor (n*n*10^6) keeps the quotient inside DECIMAL(38)
    sst = base.select(
        F.expr(
            f"((CAST(n AS {dec}) * x - s) * (CAST(n AS {dec}) * x - s)"
            f" div (CAST(n AS {dec}) * n * 1000000)) "
        ).alias("t"),
        "n",
    ).agg(F.max("n").alias("n"), F.sum("t").alias("ss_tot"))

    def ss_between(col, label):
        grp = base.groupBy(col).agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("x").alias("s_g"),
            F.max("n").alias("n"),
            F.max("s").alias("s"),
        )
        per = grp.select(
            # one div with the combined divisor — see the docstring:
            # the two-step form's inner quotient wraps int64 at sf1
            F.expr(
                f"((CAST(s_g AS {dec}) * n - CAST(s AS {dec}) * n_g)"
                f" * (CAST(s_g AS {dec}) * n - CAST(s AS {dec}) * n_g))"
                f" div (CAST(n_g AS {dec}) * n * n * 1000000)"
            ).alias("t")
        )
        return per.agg(
            F.lit(label).alias("factor"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("t").alias("ss_between"),
        )

    both = ss_between("dow", "day_of_week").unionByName(
        ss_between("mon", "month")
    )
    return (
        both.crossJoin(F.broadcast(sst))
        .select(
            "factor",
            "n_groups",
            F.expr("CAST(ss_between AS BIGINT)").alias("ss_between_musd2"),
            F.expr("CAST(ss_tot AS BIGINT)").alias("ss_total_musd2"),
            # Spark `div` returns LONG, so rescale through DECIMAL —
            # ss * 1e6 passes int64 already at sf0.1
            F.expr(
                "CAST(CAST(ss_between AS DECIMAL(38,0)) * 1000000"
                " div ss_tot AS BIGINT)"
            ).alias("eta2_ppm"),
        )
        .orderBy("factor")
    )


# ---------------------------------------------------------------- wave 7l

_RIDGE_LAMBDA_PCTS = [0, 1, 2, 5, 10, 25]


def _ridge_oracle() -> str:
    lams = ", ".join(f"({p})" for p in _RIDGE_LAMBDA_PCTS)
    return f"""
    WITH li AS (SELECT
            CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y,
            CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
            ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#'
                || CAST(l_linenumber AS VARCHAR) || '#ridge'), 1, 15))
                ::BIGINT % 5 AS fold_id
        FROM lineitem),
    folds AS (SELECT fold_id, CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(x AS HUGEINT) * x) AS sxx,
            SUM(CAST(x AS HUGEINT) * y) AS sxy,
            SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM li GROUP BY fold_id),
    tot AS (SELECT SUM(sxx) AS txx, SUM(sxy) AS txy FROM folds),
    grid AS (SELECT * FROM (VALUES {lams}) AS g(lam_pct)),
    cells AS (SELECT g.lam_pct, f.fold_id, f.n, f.sxx, f.sxy, f.syy,
            CAST((t.txy - f.sxy) * 1000000 // ((t.txx - f.sxx)
                + ((t.txx - f.sxx) * g.lam_pct // 100)) AS BIGINT)
                AS slope_ppm
        FROM folds f CROSS JOIN tot t CROSS JOIN grid g)
    SELECT lam_pct, fold_id, n AS n_val, slope_ppm,
        CAST((syy * 1000000000000
            - CAST(2000000 AS HUGEINT) * slope_ppm * sxy
            + CAST(slope_ppm AS HUGEINT) * slope_ppm * sxx)
            // (CAST(n AS HUGEINT) * 1000000000000) AS BIGINT)
            AS val_mse_cents2
    FROM cells ORDER BY lam_pct, fold_id
"""


ORACLE_RIDGE_CV = _ridge_oracle()


@query(ORACLE_RIDGE_CV)
def q_ridge_lambda_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter sweep as pure aggregation: 5-fold cross-validated
    ridge regression (through the origin) of extended price on
    quantity, for 6 shrinkage levels — 30 train/validate cells from
    ONE corpus scan, because both the ridge slope and the validation
    MSE are closed forms over per-fold sufficient statistics
    (n, Sxx, Sxy, Syy): slope = Sxy/(Sxx + lambda) on the
    leave-fold-out sums, SSE = Syy - 2b*Sxy + b^2*Sxx on the held-out
    fold.  No model object, no per-row scoring pass, no second scan.
    Folds are the md5 60-bit deterministic assignment (ab_test /
    train_val_test precedent), lambda is expressed as a PERCENT of the
    training Sxx so the grid is scale-invariant (the same sweep means
    the same thing at sf0.001 and at 100 TB).  slope_ppm is an exact
    integer floor division; the MSE identity runs in DECIMAL(38,0)
    (terms bounded ~5e37 at 100 TB — inside both DECIMAL(38) and
    HUGEINT; documented margin) and lands as exact cents^2.

    Scale shape: one partial-combined 5-row fold aggregate; everything
    after is arithmetic on 5 rows exploded x6 — the 100 TB shape of a
    hyperparameter sweep."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr(
            "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("y"),
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("x"),
        F.expr(
            "pmod(CAST(conv(substring(md5(concat("
            "CAST(l_orderkey AS STRING), '#',"
            " CAST(l_linenumber AS STRING), '#ridge')), 1, 15), 16, 10)"
            " AS BIGINT), 5)"
        ).alias("fold_id"),
    )
    dec = "DECIMAL(38,0)"
    folds = li.groupBy("fold_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(x AS {dec}) * x)").alias("sxx"),
        F.expr(f"SUM(CAST(x AS {dec}) * y)").alias("sxy"),
        F.expr(f"SUM(CAST(y AS {dec}) * y)").alias("syy"),
    )
    tot = folds.agg(
        F.expr("SUM(sxx)").alias("txx"), F.expr("SUM(sxy)").alias("txy")
    )
    lam = ", ".join(str(p) for p in _RIDGE_LAMBDA_PCTS)
    cells = (
        folds.crossJoin(F.broadcast(tot))
        .select(
            "fold_id",
            "n",
            "sxx",
            "sxy",
            "syy",
            F.expr("txx - sxx").alias("trxx"),
            F.expr("txy - sxy").alias("trxy"),
            F.explode(F.expr(f"array({lam})")).alias("lam_pct"),
        )
        .select(
            "lam_pct",
            "fold_id",
            F.expr("CAST(n AS BIGINT)").alias("n_val"),
            F.expr(
                "CAST(trxy * 1000000 div"
                " (trxx + (trxx * lam_pct div 100)) AS BIGINT)"
            ).alias("slope_ppm"),
            "sxx",
            "sxy",
            "syy",
            "n",
        )
    )
    sse = (
        "CAST(syy * 1000000000000"
        f" - CAST(2000000 AS {dec}) * slope_ppm * sxy"
        f" + CAST(slope_ppm AS {dec}) * slope_ppm * sxx AS {dec})"
    )
    return cells.select(
        "lam_pct",
        "fold_id",
        "n_val",
        "slope_ppm",
        F.expr(
            f"CAST({sse} div (CAST(n AS {dec}) * 1000000000000)"
            " AS BIGINT)"
        ).alias("val_mse_cents2"),
    ).orderBy("lam_pct", "fold_id")


ORACLE_SHANNON_CODE = """
    WITH toks AS (SELECT w FROM (SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS w FROM documents)),
    vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vocab),
    coded AS (SELECT c,
            CASE WHEN (n + c - 1) // c - 1 = 0 THEN 0
                 ELSE length(bin((n + c - 1) // c - 1)) END AS code_len
        FROM vocab CROSS JOIN tot)
    SELECT CAST(code_len AS BIGINT) AS code_len,
        CAST(COUNT(*) AS BIGINT) AS n_types,
        CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(SUM(c) * code_len AS BIGINT) AS coded_bits
    FROM coded GROUP BY code_len ORDER BY code_len
"""


@query(ORACLE_SHANNON_CODE)
def q_shannon_code_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal-code-length audit of the corpus vocabulary: each word
    type's Shannon code length l = ceil(log2(n/c)) computed EXACTLY in
    integers (smallest l with c*2^l >= n, via l = bit_length(
    ceil(n/c) - 1) = length(bin(.)) — no float log anywhere), then the
    per-length profile: how many types / tokens / coded bits sit at
    each code length.  This is the storage-cost / compressibility
    readout (total coded bits is the entropy-coding size bound within
    one bit per token) and, by Kraft, sum over types of 2^-l is
    guaranteed <= 1 — the emitted per-length rows let the oracle
    verify the whole distribution, not just a summary.

    Scale shape: token explode -> ONE vocab-cardinality aggregate
    (partial-combined); the per-length profile is a second tiny
    rollup at <= 64 rows; bit_length is string-length-of-bin, a
    codegen expression on both engines."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+")
        ).alias("w")
    ).filter(F.col("w") != "")
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    coded = vocab.crossJoin(F.broadcast(tot)).select(
        "c",
        F.expr(
            "CASE WHEN (n + c - 1) div c - 1 = 0 THEN 0"
            " ELSE length(bin((n + c - 1) div c - 1)) END"
        ).alias("code_len"),
    )
    return (
        coded.groupBy("code_len")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("c").alias("n_tokens"),
        )
        .select(
            F.expr("CAST(code_len AS BIGINT)").alias("code_len"),
            F.expr("CAST(n_types AS BIGINT)").alias("n_types"),
            F.expr("CAST(n_tokens AS BIGINT)").alias("n_tokens"),
            F.expr(
                "CAST(n_tokens * code_len AS BIGINT)"
            ).alias("coded_bits"),
        )
        .orderBy("code_len")
    )


# ---------------------------------------------------------------- wave 7m

_HRW_SHARDS = 16


ORACLE_HRW_BALANCE = f"""
    WITH a AS (SELECT
            list_transform(range(0, {_HRW_SHARDS}), s ->
                md5(CAST(doc_id AS VARCHAR) || ':' || s)) AS l16,
            list_transform(range(0, {_HRW_SHARDS + 1}), s ->
                md5(CAST(doc_id AS VARCHAR) || ':' || s)) AS l17
        FROM documents),
    s AS (SELECT
            list_position(l16, list_aggregate(l16, 'max')) - 1 AS shard,
            list_position(l17, list_aggregate(l17, 'max')) - 1
                AS shard_plus1
        FROM a)
    SELECT CAST(shard AS BIGINT) AS shard,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(CASE WHEN shard_plus1 = {_HRW_SHARDS} THEN 1 END)
             AS BIGINT) AS n_moved_to_new,
        CAST(COUNT(CASE WHEN shard_plus1 <> shard
                        AND shard_plus1 <> {_HRW_SHARDS} THEN 1 END)
             AS BIGINT) AS n_moved_elsewhere
    FROM s GROUP BY 1 ORDER BY 1
"""


@query(ORACLE_HRW_BALANCE)
def q_hrw_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding audit: every doc is
    assigned to argmax over shards of md5(doc_id ':' shard) — the
    consistent-placement scheme whose selling point is MINIMAL
    MOVEMENT: adding shard 16 must move exactly the docs whose new
    17-way winner IS the new shard, and nothing else.  The query
    emits, per original shard: doc count (balance), docs that move to
    the new shard on expansion, and docs that move anywhere else —
    the last column is the protocol invariant and must be ZERO, so
    the oracle re-proves the minimal-movement theorem on every run.
    (shuffle_shards covers mod-N sharding, where expansion remaps
    ~15/16 of all keys; this is the scheme that doesn't.)

    Scale shape: per-row argmax over 16/17 md5 expressions (pure
    codegen, no shuffle, no explode), ONE doc-cardinality aggregate
    to 16 rows."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def arr(n):
        return "array({})".format(
            ", ".join(
                f"md5(concat(CAST(doc_id AS STRING), ':', '{s}'))"
                for s in range(n)
            )
        )

    a16, a17 = arr(_HRW_SHARDS), arr(_HRW_SHARDS + 1)
    assigned = docs.select(
        F.expr(
            f"array_position({a16}, array_max({a16})) - 1"
        ).alias("shard"),
        F.expr(
            f"array_position({a17}, array_max({a17})) - 1"
        ).alias("shard_plus1"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(
                F.col("shard_plus1") == _HRW_SHARDS
            ).alias("n_moved_to_new"),
            F.count_if(
                (F.col("shard_plus1") != F.col("shard"))
                & (F.col("shard_plus1") != _HRW_SHARDS)
            ).alias("n_moved_elsewhere"),
        )
        .orderBy("shard")
    )


ORACLE_APRIORI_TRIPLES = """
    WITH pp AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS p
        FROM lineitem),
    sup AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS s
        FROM pp GROUP BY 1),
    freq AS (SELECT p, s FROM sup WHERE s >= 2),
    fpp AS (SELECT g, pp.p FROM pp JOIN freq ON pp.p = freq.p),
    n AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS n_orders FROM pp),
    tri AS (SELECT a.p AS p1, b.p AS p2, c.p AS p3,
            CAST(COUNT(*) AS BIGINT) AS support
        FROM fpp a JOIN fpp b ON a.g = b.g AND a.p < b.p
        -- equality anchored on the ADJACENT relation (b.g, not a.g):
        -- with a.g the optimizer may reorder to a b x c inequality-only
        -- join (observed: 52 GB / hung at sf0.01 before this fix)
        JOIN fpp c ON b.g = c.g AND b.p < c.p
        GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
    SELECT p1, p2, p3, support,
        CAST(CAST(support AS HUGEINT) * n_orders * n_orders * 1000000
             // (CAST(f1.s AS HUGEINT) * f2.s * f3.s) AS BIGINT)
            AS lift_ppm
    FROM tri CROSS JOIN n
    JOIN freq f1 ON tri.p1 = f1.p
    JOIN freq f2 ON tri.p2 = f2.p
    JOIN freq f3 ON tri.p3 = f3.p
    ORDER BY support DESC, lift_ppm DESC, p1, p2, p3 LIMIT 20
"""


@query(ORACLE_APRIORI_TRIPLES)
def q_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets by the A-priori principle: prune to items
    whose order-support >= 2 FIRST (lossless — a triple seen twice
    needs every member seen twice; support is anti-monotone), then
    enumerate p1<p2<p3 co-order triples via two self-equi-joins on
    the order key, keep support >= 2, and score each surviving triple
    with lift vs item independence (support * N^2 / (s1*s2*s3), exact
    ppm in DECIMAL(38,0)).  Extends basket_lift_pairs one lattice
    level up — the step where naive enumeration dies and pruning is
    the whole algorithm.

    Scale shape: triple fan-out is C(k,3) per order, bounded by the
    per-order basket size (~7 in this schema), so volume stays linear
    in orders at any SF; joins are hash equi-joins on the order key;
    item supports ride a broadcast; TakeOrdered(20)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("p")
    )
    pp = li.distinct()
    sup = pp.groupBy("p").agg(F.count(F.lit(1)).alias("s"))
    freq = sup.filter(F.col("s") >= 2)
    fpp = pp.join(F.broadcast(freq.select("p")), "p", "left_semi")
    a = fpp.select("g", F.col("p").alias("p1"))
    b = fpp.select("g", F.col("p").alias("p2"))
    c = fpp.select("g", F.col("p").alias("p3"))
    triples = (
        a.join(b, "g")
        .filter(F.col("p1") < F.col("p2"))
        .join(c, "g")
        .filter(F.col("p2") < F.col("p3"))
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    n_orders = pp.select("g").distinct().count()
    dec = "DECIMAL(38,0)"
    scored = (
        triples.join(
            F.broadcast(freq.select(F.col("p").alias("p1"),
                                    F.col("s").alias("s1"))), "p1"
        )
        .join(
            F.broadcast(freq.select(F.col("p").alias("p2"),
                                    F.col("s").alias("s2"))), "p2"
        )
        .join(
            F.broadcast(freq.select(F.col("p").alias("p3"),
                                    F.col("s").alias("s3"))), "p3"
        )
        .select(
            "p1",
            "p2",
            "p3",
            "support",
            F.expr(
                f"CAST(CAST(support AS {dec}) * {n_orders}"
                f" * {n_orders} * 1000000"
                f" div (CAST(s1 AS {dec}) * s2 * s3) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("support"), F.desc("lift_ppm"), "p1", "p2", "p3"
    ).limit(20)


ORACLE_CUSUM_MONITOR = """
    WITH o AS (SELECT
            date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) AS day,
            CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS usd
        FROM orders),
    daily AS (SELECT day, CAST(SUM(usd) AS BIGINT) AS x
        FROM o GROUP BY day),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
            CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        FROM daily),
    m AS (SELECT n, CAST(s // n AS BIGINT) AS mu,
            CAST(FLOOR(0.5 * SQRT(CAST(CAST(CAST(n AS HUGEINT) * q
                - s * s AS VARCHAR) AS DOUBLE)) / CAST(n AS DOUBLE))
                AS BIGINT) AS k_usd,
            CAST(FLOOR(4.0 * SQRT(CAST(CAST(CAST(n AS HUGEINT) * q
                - s * s AS VARCHAR) AS DOUBLE)) / CAST(n AS DOUBLE))
                AS BIGINT) AS h_usd
        FROM mm),
    pre AS (SELECT day, n, mu, k_usd, h_usd,
            CAST(SUM(x - mu - k_usd) OVER (ORDER BY day ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
        FROM daily CROSS JOIN m),
    stat AS (SELECT day, n, mu, k_usd, h_usd,
            p - LEAST(MIN(p) OVER (ORDER BY day ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cusum
        FROM pre)
    SELECT n AS n_days, mu AS mu_usd, k_usd, h_usd,
        CAST(COUNT(CASE WHEN cusum > h_usd THEN 1 END) AS BIGINT)
            AS n_alarm_days,
        CAST(MAX(cusum) AS BIGINT) AS max_cusum_usd,
        CAST(MIN(CASE WHEN cusum > h_usd THEN day END) AS BIGINT)
            AS first_alarm_day
    FROM stat GROUP BY n, mu, k_usd, h_usd
"""


# ---------------------------------------------------------------- wave 7o
@query(ORACLE_CUSUM_MONITOR)


def q_cusum_monitor_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM monitor on daily revenue — the ONLINE drift
    detector (changepoint_daily is the offline at-most-one-changepoint
    scan; this is the control-chart recursion a monitoring pipeline
    evaluates every day): S_i = max(0, S_{i-1} + x_i - mu - k), alarm
    when S_i > h, with the standard k = 0.5 sigma slack and h = 4 sigma
    threshold.  The recursion LOOKS sequential but has the exact
    prefix-sum identity S_i = P_i - min(0, min_{j<=i} P_j), so it runs
    as two windows — no iteration, no UDF.  mu is the exact integer
    mean; sigma enters once through the shared IEEE sqrt, floored to
    integer dollars (det) so the recursion itself is pure integer.

    Scale shape: one corpus agg to the ~2.4k-row calendar-bounded
    daily series; two single-partition windows over it (day-bounded,
    the acf precedent); one row out."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        F.expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").alias("usd"),
    )
    daily = o.groupBy("day").agg(F.sum("usd").alias("x")).localCheckpoint()
    dec = "DECIMAL(38,0)"
    m = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(x AS {dec}))").alias("s"),
        F.expr(f"SUM(CAST(x AS {dec}) * x)").alias("q"),
    ).select(
        "n",
        F.expr("CAST(s div n AS BIGINT)").alias("mu"),
        F.expr(
            "CAST(FLOOR(0.5 * SQRT(CAST(CAST(CAST(n AS DECIMAL(38,0))"
            " * q - s * s AS STRING) AS DOUBLE)) / CAST(n AS DOUBLE))"
            " AS BIGINT)"
        ).alias("k_usd"),
        F.expr(
            "CAST(FLOOR(4.0 * SQRT(CAST(CAST(CAST(n AS DECIMAL(38,0))"
            " * q - s * s AS STRING) AS DOUBLE)) / CAST(n AS DOUBLE))"
            " AS BIGINT)"
        ).alias("h_usd"),
    )
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stat = (
        daily.crossJoin(F.broadcast(m))
        .select(
            "day",
            "n",
            "mu",
            "k_usd",
            "h_usd",
            F.sum(F.expr("x - mu - k_usd")).over(wp).alias("p"),
        )
        .select(
            "day",
            "n",
            "mu",
            "k_usd",
            "h_usd",
            F.expr("p - least(min(p) OVER (ORDER BY day ROWS BETWEEN"
                   " UNBOUNDED PRECEDING AND CURRENT ROW), 0)"
                   ).alias("cusum"),
        )
    )
    return stat.groupBy("n", "mu", "k_usd", "h_usd").agg(
        F.count_if(F.col("cusum") > F.col("h_usd")).alias("n_alarm_days"),
        F.max("cusum").alias("max_cusum_usd"),
        F.min(
            F.when(F.col("cusum") > F.col("h_usd"), F.col("day"))
        ).cast("bigint").alias("first_alarm_day"),
    ).select(
        F.col("n").alias("n_days"),
        F.col("mu").alias("mu_usd"),
        "k_usd",
        "h_usd",
        "n_alarm_days",
        "max_cusum_usd",
        "first_alarm_day",
    )


ORACLE_TARGET_ENCODING = """
    WITH rows_ AS (SELECT p_brand,
            CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
            ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#'
                || CAST(l_linenumber AS VARCHAR) || '#tenc'), 1, 15))
                ::BIGINT % 5 AS fold_id
        FROM lineitem JOIN part ON l_partkey = p_partkey),
    bf AS (SELECT p_brand, fold_id, CAST(COUNT(*) AS BIGINT) AS n_bf,
            CAST(SUM(y) AS BIGINT) AS s_bf
        FROM rows_ GROUP BY 1, 2),
    t AS (SELECT p_brand, fold_id, n_bf, s_bf,
            CAST(SUM(n_bf) OVER (PARTITION BY p_brand) AS BIGINT) AS n_b,
            CAST(SUM(s_bf) OVER (PARTITION BY p_brand) AS BIGINT) AS s_b,
            CAST(SUM(n_bf) OVER () AS BIGINT) AS n_all,
            CAST(SUM(s_bf) OVER () AS BIGINT) AS s_all
        FROM bf)
    SELECT p_brand, fold_id, n_b - n_bf AS n_train,
        CAST(((CAST(s_b AS HUGEINT) - s_bf) * 1000000
            + 100 * (CAST(s_all AS HUGEINT) * 1000000 // n_all))
            // (CAST(n_b AS HUGEINT) - n_bf + 100) AS BIGINT)
            AS enc_micro
    FROM t ORDER BY p_brand, fold_id
"""


@query(ORACLE_TARGET_ENCODING)
def q_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of part brand against return rate —
    the feature-engineering staple done WITHOUT leakage: each fold's
    encoding uses only the OTHER folds' rows (train/serve symmetry),
    smoothed toward the global prior with m = 100 pseudo-observations
    so rare brands don't memorize their own labels.  Folds are the
    shared md5 60-bit deterministic split; the encoding is exact:
    enc = ((s_b - s_bf) * 1e6 + m * prior_micro) div (n_b - n_bf + m),
    with brand totals and the global prior coming from windows over
    the 125-row (brand x fold) aggregate — sufficient statistics, the
    ridge_lambda_cv playbook applied to categorical features.

    Scale shape: ONE fact scan (lineitem |x| broadcast part) to a
    (brand, fold) aggregate; windows over 125 rows; 125 rows out."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    rows = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    ).select(
        "p_brand",
        "y",
        F.expr(
            "pmod(CAST(conv(substring(md5(concat("
            "CAST(l_orderkey AS STRING), '#',"
            " CAST(l_linenumber AS STRING), '#tenc')), 1, 15), 16, 10)"
            " AS BIGINT), 5)"
        ).alias("fold_id"),
    )
    bf = rows.groupBy("p_brand", "fold_id").agg(
        F.count(F.lit(1)).alias("n_bf"), F.sum("y").alias("s_bf")
    )
    wb = Window.partitionBy("p_brand")
    wall = Window.partitionBy()
    t = bf.select(
        "p_brand",
        "fold_id",
        "n_bf",
        "s_bf",
        F.sum("n_bf").over(wb).alias("n_b"),
        F.sum("s_bf").over(wb).alias("s_b"),
        F.sum("n_bf").over(wall).alias("n_all"),
        F.sum("s_bf").over(wall).alias("s_all"),
    )
    return t.select(
        "p_brand",
        "fold_id",
        F.expr("CAST(n_b - n_bf AS BIGINT)").alias("n_train"),
        F.expr(
            "CAST(((CAST(s_b AS DECIMAL(38,0)) - s_bf) * 1000000"
            " + 100 * (CAST(s_all AS DECIMAL(38,0)) * 1000000"
            " div n_all))"
            " div (CAST(n_b AS DECIMAL(38,0)) - n_bf + 100) AS BIGINT)"
        ).alias("enc_micro"),
    ).orderBy("p_brand", "fold_id")


ORACLE_CHAO1 = """
    WITH samp AS (SELECT user_id FROM events
        WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)
            || '#chao'), 1, 4))::BIGINT * 100 < 65536 * 20),
    per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM samp GROUP BY 1),
    hist AS (SELECT CAST(COUNT(*) AS BIGINT) AS d,
            CAST(COUNT(CASE WHEN k = 1 THEN 1 END) AS BIGINT) AS f1,
            CAST(COUNT(CASE WHEN k = 2 THEN 1 END) AS BIGINT) AS f2
        FROM per),
    t AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_d
        FROM events),
    r AS (SELECT d, f1, f2, true_d,
            CAST(CASE WHEN f2 > 0
                THEN d * 1000 + f1 * f1 * 1000 // (2 * f2)
                ELSE d * 1000 + f1 * (f1 - 1) * 1000 // 2 END
                AS BIGINT) AS chao1_milli
        FROM hist CROSS JOIN t)
    SELECT d, f1, f2, true_d, chao1_milli,
        CAST(ABS(d * 1000 - true_d * 1000) * 1000 // true_d AS BIGINT)
            AS naive_err_ppm,
        CAST(ABS(chao1_milli - true_d * 1000) * 1000 // true_d
            AS BIGINT) AS chao1_err_ppm
    FROM r
"""


# ---------------------------------------------------------------- wave 7q
@query(ORACLE_CHAO1)


def q_chao1_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimation from a 20% sample, audited
    against the exact answer: take the deterministic md5 20% of EVENT
    ROWS (so per-user abundances shrink — the regime where naive
    sample-distinct undercounts), form the abundance histogram's f1
    (singletons) and f2 (doubletons), and correct: Chao1 = d + f1^2 /
    (2 f2) (bias-corrected form when f2 = 0).  Emits the naive sample
    distinct, the Chao1 estimate (exact milli — single floor
    division), the true distinct, and both errors in ppm — the audit
    that says whether count-distinct-from-a-sample is safe on this
    distribution (kmv/hll audits grade SKETCHES; this grades the
    much cheaper sample-and-correct path).

    Scale shape: the sample filter evaluates in the scan; one agg to
    sampled-user cardinality; the abundance rollup is 1 row; exact
    distinct is one more user-cardinality agg."""
    # sample on a row-content hash (event_id is unique and stable);
    # a row-number-based sample would be partitioning-dependent and
    # not engine-replayable
    ev2 = _t(spark, sf_dir, "events").select("user_id", "event_id")
    samp = ev2.filter(
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(event_id AS STRING),"
            " '#chao')), 1, 4), 16, 10) AS BIGINT) * 100 < 65536 * 20"
        )
    )
    per = samp.groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
    hist = per.agg(
        F.count(F.lit(1)).alias("d"),
        F.count_if(F.col("k") == 1).alias("f1"),
        F.count_if(F.col("k") == 2).alias("f2"),
    )
    true = ev2.agg(F.count_distinct("user_id").alias("true_d"))
    r = hist.crossJoin(F.broadcast(true))
    est = (
        "CASE WHEN f2 > 0 THEN d * 1000 + f1 * f1 * 1000 div (2 * f2)"
        " ELSE d * 1000 + f1 * (f1 - 1) * 1000 div 2 END"
    )
    return r.select(
        "d",
        "f1",
        "f2",
        "true_d",
        F.expr(f"CAST({est} AS BIGINT)").alias("chao1_milli"),
        F.expr(
            "CAST(abs(d * 1000 - true_d * 1000) * 1000 div true_d"
            " AS BIGINT)"
        ).alias("naive_err_ppm"),
        F.expr(
            f"CAST(abs(({est}) - true_d * 1000) * 1000 div true_d"
            " AS BIGINT)"
        ).alias("chao1_err_ppm"),
    )


ORACLE_CAPTURE_RECAPTURE = """
    WITH ev AS (SELECT user_id,
            date_diff('day', TIMESTAMP '1970-01-01',
                CAST(ts AS TIMESTAMP)) % 2 AS par
        FROM events),
    per AS (SELECT user_id,
            MAX(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS in1,
            MAX(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS in2
        FROM ev GROUP BY 1),
    r AS (SELECT CAST(SUM(in1) AS BIGINT) AS n1,
            CAST(SUM(in2) AS BIGINT) AS n2,
            CAST(COUNT(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 END)
                AS BIGINT) AS m,
            CAST(COUNT(*) AS BIGINT) AS true_d
        FROM per)
    SELECT n1, n2, m, true_d,
        CAST((n1 + 1) * (n2 + 1) * 1000 // (m + 1) - 1000 AS BIGINT)
            AS chapman_milli,
        CAST(ABS((n1 + 1) * (n2 + 1) * 1000 // (m + 1) - 1000
            - true_d * 1000) * 1000 // true_d AS BIGINT) AS err_ppm
    FROM r
"""


@query(ORACLE_CAPTURE_RECAPTURE)
def q_capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman's Lincoln-Petersen) population
    estimate: treat even-day activity as the first capture, odd-day as
    the recapture, and estimate total users from the overlap —
    N_hat = (n1+1)(n2+1)/(m+1) - 1, exact milli.  The ecology
    estimator is ALSO the standard data-quality trick for estimating
    how many entities two incomplete extracts are missing jointly;
    the audit column compares against the true distinct count the
    estimator never saw.

    Scale shape: one agg to user cardinality (two boolean maxes per
    user), one 1-row rollup."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP))"
            " div 86400000000 AS BIGINT) % 2"
        ).alias("par"),
    )
    per = ev.groupBy("user_id").agg(
        F.max(F.expr("CAST(par = 0 AS INT)")).alias("in1"),
        F.max(F.expr("CAST(par = 1 AS INT)")).alias("in2"),
    )
    r = per.agg(
        F.sum("in1").alias("n1"),
        F.sum("in2").alias("n2"),
        F.count_if((F.col("in1") == 1) & (F.col("in2") == 1)).alias("m"),
        F.count(F.lit(1)).alias("true_d"),
    )
    est = "((n1 + 1) * (n2 + 1) * 1000 div (m + 1) - 1000)"
    return r.select(
        "n1",
        "n2",
        "m",
        "true_d",
        F.expr(f"CAST({est} AS BIGINT)").alias("chapman_milli"),
        F.expr(
            f"CAST(abs(({est}) - true_d * 1000) * 1000 div true_d"
            " AS BIGINT)"
        ).alias("err_ppm"),
    )


def _gumbel_oracle() -> str:
    br = lambda c: f"CAST(CAST({c} AS VARCHAR) AS DOUBLE)"  # noqa: E731
    dn = "CAST(n AS DOUBLE)"
    xbar = f"({br('s')} / {dn})"
    sd = (
        f"SQRT(({br('q')} - {br('s')} * {br('s')} / {dn})"
        f" / ({dn} - 1.0))"
    )
    beta = f"({sd} * 0.7796968012336093)"
    mu = f"({xbar} - 0.5772156649015329 * {beta})"
    rl = f"({mu} - {beta} * LN(-LN(1.0 - 0.01)))"
    return f"""
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                AS BIGINT) AS x
        FROM orders GROUP BY 1),
    monthly AS (SELECT year(day) * 12 + month(day) AS m,
            CAST(MAX(x) AS BIGINT) AS mx
        FROM daily GROUP BY 1),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(mx AS HUGEINT)) AS HUGEINT) AS s,
            CAST(SUM(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS q
        FROM monthly)
    SELECT n AS n_months,
        CAST(FLOOR({xbar} * 1000.0 + 0.5) AS BIGINT) AS mean_max_milli,
        CAST(FLOOR({beta} * 1000.0 + 0.5) AS BIGINT) AS beta_milli,
        CAST(FLOOR({mu} * 1000.0 + 0.5) AS BIGINT) AS mu_milli,
        CAST(FLOOR({rl} + 0.5) AS BIGINT) AS return_level_100_usd
    FROM g
"""


ORACLE_GUMBEL = _gumbel_oracle()


# ---------------------------------------------------------------- wave 7r
@query(ORACLE_GUMBEL)


def q_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis by block maxima: monthly maxima of daily
    revenue, fitted to a Gumbel distribution by method of moments
    (beta = s sqrt(6)/pi, mu = xbar - gamma beta), and the 100-period
    return level mu - beta ln(-ln(1 - 1/100)) — 'the biggest revenue
    day a century of months would see', the capacity-planning number.
    hill_tail_index grades the tail of ONE distribution; block maxima
    is the other canonical EVT route and needs only calendar-bounded
    state.  Moments are exact DECIMAL integers; the fit is the shared
    IEEE closed form with literal constants, det_round to milli-USD.

    Scale shape: corpus agg to day cardinality, max-rollup to ~84
    months, one 1-row moment agg."""
    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(o_orderdate AS DATE)").alias("day"),
        F.expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").alias("usd"),
    )
    daily = o.groupBy("day").agg(F.sum("usd").alias("x"))
    monthly = (
        daily.select(
            F.expr("year(day) * 12 + month(day)").alias("m"), "x"
        )
        .groupBy("m")
        .agg(F.max("x").alias("mx"))
    )
    dec = "DECIMAL(38,0)"
    g = monthly.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"SUM(CAST(mx AS {dec}))").alias("s"),
        F.expr(f"SUM(CAST(mx AS {dec}) * mx)").alias("q"),
    )
    br = lambda c: f"CAST(CAST({c} AS STRING) AS DOUBLE)"  # noqa: E731
    dn = "CAST(n AS DOUBLE)"
    xbar = f"({br('s')} / {dn})"
    sd = (
        f"SQRT(({br('q')} - {br('s')} * {br('s')} / {dn})"
        f" / ({dn} - 1.0))"
    )
    beta = f"({sd} * 0.7796968012336093)"  # sqrt(6)/pi
    mu = f"({xbar} - 0.5772156649015329 * {beta})"
    rl = f"({mu} - {beta} * LN(-LN(1.0 - 0.01)))"
    return g.select(
        F.col("n").alias("n_months"),
        F.expr(
            f"CAST(FLOOR({xbar} * 1000.0 + 0.5) AS BIGINT)"
        ).alias("mean_max_milli"),
        F.expr(
            f"CAST(FLOOR({beta} * 1000.0 + 0.5) AS BIGINT)"
        ).alias("beta_milli"),
        F.expr(
            f"CAST(FLOOR({mu} * 1000.0 + 0.5) AS BIGINT)"
        ).alias("mu_milli"),
        F.expr(f"CAST(FLOOR({rl} + 0.5) AS BIGINT)").alias(
            "return_level_100_usd"
        ),
    )


ORACLE_UTF8_HEALTH = r"""
    WITH per AS (SELECT source,
            length(text) AS n_chars,
            length(text) - length(regexp_replace(text,
                '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_ctrl,
            length(text) - length(regexp_replace(text,
                '\x{FFFD}', '', 'g')) AS n_repl,
            length(text) - length(regexp_replace(text,
                '[^\x00-\x7F]', '', 'g')) AS n_nonascii
        FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        CAST(SUM(n_ctrl) AS BIGINT) AS ctrl_chars,
        CAST(COUNT(CASE WHEN n_ctrl > 0 THEN 1 END) AS BIGINT)
            AS docs_with_ctrl,
        CAST(SUM(n_repl) AS BIGINT) AS repl_chars,
        CAST(SUM(n_nonascii) * 1000000 // SUM(n_chars) AS BIGINT)
            AS nonascii_ppm
    FROM per GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------- wave 7s
@query(ORACLE_UTF8_HEALTH)


def q_utf8_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte/text health audit per source — the mojibake screen every
    ingestion pipeline runs before tokenization: control characters
    (the C0 set minus tab/newline/CR), U+FFFD replacement characters
    (the fingerprint of a double-decode), and the non-ASCII character
    ratio (exact ppm of characters).  A source whose repl count jumps
    was re-encoded somewhere upstream; this corpus is clean by
    construction, so like constraint_audit the report doubles as a
    fixture regression guard.  Counts come from length-minus-stripped
    (regex classes chosen inside the Java-regex/RE2 common subset).

    Scale shape: per-row codegen expressions, one agg to source
    cardinality."""
    docs = _t(spark, sf_dir, "documents")
    ctrl = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
    nonascii = r"[^\x00-\x7F]"
    per = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", ctrl, ""))
        ).alias("n_ctrl"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "�", ""))
        ).alias("n_repl"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", nonascii, ""))
        ).alias("n_nonascii"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_ctrl").alias("ctrl_chars"),
            F.count_if(F.col("n_ctrl") > 0).alias("docs_with_ctrl"),
            F.sum("n_repl").alias("repl_chars"),
            F.sum("n_nonascii").alias("nonascii_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_chars",
            "ctrl_chars",
            "docs_with_ctrl",
            "repl_chars",
            F.expr(
                "CAST(nonascii_chars * 1000000 div n_chars AS BIGINT)"
            ).alias("nonascii_ppm"),
        )
        .orderBy("source")
    )


ORACLE_NELSON_AALEN = """
    WITH pu AS (SELECT user_id,
            MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                AS t0,
            MAX(epoch_us(ts)) AS t_last
        FROM events GROUP BY user_id),
    pv AS (SELECT * FROM pu WHERE t0 IS NOT NULL),
    de AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_death
        FROM events e JOIN pv ON e.user_id = pv.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= pv.t0
        GROUP BY e.user_id),
    u AS (SELECT CASE WHEN t_death IS NOT NULL
                 THEN (t_death - t0) // 86400000000
                 ELSE (t_last - t0) // 86400000000 END AS end_day,
            t_death IS NOT NULL AS is_death
        FROM pv LEFT JOIN de ON pv.user_id = de.user_id),
    g AS (SELECT end_day,
            CAST(SUM(CASE WHEN is_death THEN 1 ELSE 0 END) AS BIGINT)
                AS n_deaths,
            CAST(SUM(CASE WHEN is_death THEN 0 ELSE 1 END) AS BIGINT)
                AS n_censored
        FROM u GROUP BY end_day),
    tot AS (SELECT CAST(SUM(n_deaths + n_censored) AS BIGINT)
            AS n_total FROM g),
    risk AS (SELECT end_day, n_deaths,
            n_total - COALESCE(CAST(SUM(n_deaths + n_censored)
                OVER (ORDER BY end_day ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                AS n_risk
        FROM g CROSS JOIN tot),
    steps AS (SELECT end_day, n_risk, n_deaths,
            n_deaths * 1000000000 // n_risk AS hazard_step_nano
        FROM risk WHERE n_deaths > 0)
    SELECT end_day AS day, n_risk, n_deaths, hazard_step_nano,
        CAST(SUM(hazard_step_nano) OVER (ORDER BY day ROWS BETWEEN
            UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_hazard_nano
    FROM steps ORDER BY day
"""


@query(ORACLE_NELSON_AALEN)
def q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard for time-to-conversion — the
    estimator-side twin of km_survival_daily (same risk sets, same
    censoring), but H(t) = sum d_s/n_s needs NO logarithm: each step's
    hazard is one exact integer division (nano units), so the running
    sum — unlike KM's product — is exact end-to-end with zero float
    ops.  Where KM answers 'what fraction survives to t', NA's slope
    IS the instantaneous conversion intensity; flat spots are dead
    zones in the funnel.

    Scale shape: identical to km_survival_daily — two user-cardinality
    aggs, a day-step table, bounded windows over it."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "view",
                F.expr("unix_micros(CAST(ts AS TIMESTAMP))"),
            )
        ).alias("t0"),
        F.max(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
        ).alias("t_last"),
    ).filter(F.col("t0").isNotNull())
    ev2 = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t_us"),
    )
    deaths = (
        per_user.join(ev2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("t_us") >= F.col("t0"))
        )
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_death"))
    )
    u = per_user.join(deaths, "user_id", "left").select(
        F.expr(
            "CASE WHEN t_death IS NOT NULL"
            " THEN (t_death - t0) div 86400000000"
            " ELSE (t_last - t0) div 86400000000 END"
        ).alias("end_day"),
        F.col("t_death").isNotNull().alias("is_death"),
    )
    g = u.groupBy("end_day").agg(
        F.count_if(F.col("is_death")).alias("n_deaths"),
        F.count_if(~F.col("is_death")).alias("n_censored"),
    )
    w_prev = Window.orderBy("end_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("end_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = g.agg(
        F.sum(F.expr("n_deaths + n_censored")).alias("n_total")
    )
    risk = g.crossJoin(F.broadcast(tot)).select(
        "end_day",
        "n_deaths",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.expr("n_deaths + n_censored")).over(w_prev),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    steps = risk.filter(F.col("n_deaths") > 0).select(
        "end_day",
        "n_risk",
        "n_deaths",
        F.expr(
            "n_deaths * 1000000000 div n_risk"
        ).alias("hazard_step_nano"),
    )
    return steps.select(
        F.col("end_day").alias("day"),
        "n_risk",
        "n_deaths",
        "hazard_step_nano",
        F.sum("hazard_step_nano").over(w_cum).alias("cum_hazard_nano"),
    ).orderBy("day")


ORACLE_COHORT_LTV = """
    WITH ev AS (SELECT user_id,
            epoch_us(ts) // 604800000000 AS wk,
            event_type,
            CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events),
    first_ AS (SELECT user_id, CAST(MIN(wk) AS BIGINT) AS cohort_wk
        FROM ev GROUP BY 1),
    sized AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT)
            AS cohort_users
        FROM first_ GROUP BY 1),
    buys AS (SELECT f.cohort_wk, ev.wk - f.cohort_wk AS k,
            CAST(SUM(cents) AS BIGINT) AS rev_cents
        FROM ev JOIN first_ f ON ev.user_id = f.user_id
        WHERE ev.event_type = 'purchase' AND ev.wk - f.cohort_wk <= 8
        GROUP BY 1, 2),
    cum AS (SELECT cohort_wk, k, rev_cents,
            CAST(SUM(rev_cents) OVER (PARTITION BY cohort_wk ORDER BY k
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rev_cents
        FROM buys)
    SELECT cum.cohort_wk AS cohort_wk, k, cohort_users, rev_cents,
        cum_rev_cents,
        CAST(cum_rev_cents * 1000 // cohort_users AS BIGINT)
            AS ltv_per_user_milli
    FROM cum JOIN sized ON cum.cohort_wk = sized.cohort_wk
    ORDER BY cum.cohort_wk, k
"""


# ---------------------------------------------------------------- wave 7t
@query(ORACLE_COHORT_LTV)


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-activity
    week, cumulative purchase value tracked across weeks-since-signup
    0..8 — the payback-period readout (weekly_retention_cohorts counts
    WHO comes back; this weighs what they're WORTH, which is what
    acquisition spend is justified against).  Exact integer cents and
    an exact per-user milli-cents column; the cumulative axis is a
    per-cohort window over the (cohort, week) aggregate.

    Scale shape: one user-cardinality first-week agg, one fact join
    back (equi, user key), one (cohort x 9)-cardinality agg, cum
    window partitioned by cohort; bounded rows out."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP))"
            " div 604800000000 AS BIGINT)"
        ).alias("wk"),
        F.col("event_type"),
        F.expr(
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT)"
        ).alias("cents"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sized = first.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .select(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("k"),
            "cents",
        )
        .filter(F.col("k") <= 8)
        .groupBy("cohort_wk", "k")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    wc = Window.partitionBy("cohort_wk").orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = buys.select(
        "cohort_wk",
        "k",
        "rev_cents",
        F.sum("rev_cents").over(wc).alias("cum_rev_cents"),
    ).join(F.broadcast(sized), "cohort_wk")
    return cum.select(
        "cohort_wk",
        "k",
        "cohort_users",
        "rev_cents",
        "cum_rev_cents",
        F.expr(
            "CAST(cum_rev_cents * 1000 div cohort_users AS BIGINT)"
        ).alias("ltv_per_user_milli"),
    ).orderBy("cohort_wk", "k")


ORACLE_HHI = """
    WITH per_cust AS (SELECT o_custkey,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    rows_ AS (SELECT c_nationkey, cents
        FROM per_cust JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust,
            CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
            CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT)
                AS ssq,
            CAST(MAX(cents) AS BIGINT) AS mx
        FROM rows_ GROUP BY 1)
    SELECT c_nationkey, n_cust,
        CAST(s AS BIGINT) AS total_cents,
        CAST(ssq * 1000000 // (s * s) AS BIGINT) AS hhi_ppm,
        CAST(CAST(mx AS HUGEINT) * 1000000 // s AS BIGINT)
            AS top1_share_ppm,
        CAST(s * s // ssq AS BIGINT) AS effective_n_cust
    FROM g ORDER BY c_nationkey
"""


@query(ORACLE_HHI)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue concentration per nation: the sum
    of squared customer market shares — the antitrust-grade answer to
    'is this market one whale or a crowd' that gini_spend_by_segment's
    inequality lens doesn't give (HHI is what merger review uses, and
    it's defined on SQUARED shares so a single exact division suffices:
    HHI_ppm = (sum s_c^2) * 1e6 div S^2 — no per-customer share
    quantization, no bias).  Also emits the top-1 share and the
    effective number of customers (1e12 div hhi_ppm rescaled — the
    'numbers equivalent' economists quote).

    Scale shape: one orders->customer equi-join, one agg to customer
    cardinality, one agg to nation cardinality (max + sum of squares
    in DECIMAL(38,0)); exact to the last ppm."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))"
            ).alias("cents")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    dec = "DECIMAL(38,0)"
    g = per_cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.expr(f"SUM(CAST(cents AS {dec}))").alias("s"),
        F.expr(f"SUM(CAST(cents AS {dec}) * cents)").alias("ssq"),
        F.max("cents").alias("mx"),
    )
    return g.select(
        "c_nationkey",
        "n_cust",
        F.expr("CAST(s AS BIGINT)").alias("total_cents"),
        F.expr(
            "CAST(ssq * 1000000 div (s * s) AS BIGINT)"
        ).alias("hhi_ppm"),
        F.expr(
            "CAST(CAST(mx AS DECIMAL(38,0)) * 1000000 div s AS BIGINT)"
        ).alias("top1_share_ppm"),
        F.expr(
            "CAST(CAST(s AS DECIMAL(38,0)) * s div ssq AS BIGINT)"
        ).alias("effective_n_cust"),
    ).orderBy("c_nationkey")


# ---------------------------------------------------------------- wave 7u


def _late_order_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation 2x2 cells for exposure = URGENT priority, outcome =
    order has a lineitem shipped more than 90 days after the order
    date (this schema carries l_shipdate only — the q4-style lateness
    signal available here).  One orders|x|lineitem equi-join rolled to
    order cardinality, one customer equi-join, one nation agg."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o0 = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias(
            "urgent"
        ),
    )
    late = (
        o0.join(li, o0["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.max(
                F.expr(
                    "CAST(CAST(l_shipdate AS DATE)"
                    " > CAST(o_orderdate AS DATE) + INTERVAL 90 DAYS"
                    " AS INT)"
                )
            ).alias("late"),
            F.max("urgent").alias("urgent"),
            F.max("o_custkey").alias("cust"),
        )
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    o = late.join(cust, F.col("cust") == F.col("c_custkey"))
    return o.groupBy("c_nationkey").agg(
        F.count_if(
            (F.col("urgent") == 1) & (F.col("late") == 1)
        ).alias("a"),
        F.count_if(
            (F.col("urgent") == 1) & (F.col("late") == 0)
        ).alias("b"),
        F.count_if(
            (F.col("urgent") == 0) & (F.col("late") == 1)
        ).alias("c"),
        F.count_if(
            (F.col("urgent") == 0) & (F.col("late") == 0)
        ).alias("d"),
    )


_CELLS_SQL = """
    late AS (SELECT o_orderkey,
            MAX(CASE WHEN CAST(l_shipdate AS DATE)
                > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
                THEN 1 ELSE 0 END) AS late,
            MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
                END) AS urgent,
            MAX(o_custkey) AS cust
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1),
    o AS (SELECT c_nationkey, urgent, late
        FROM late JOIN customer ON cust = c_custkey),
    cells AS (SELECT c_nationkey,
            CAST(COUNT(CASE WHEN urgent = 1 AND late = 1 THEN 1 END)
                AS BIGINT) AS a,
            CAST(COUNT(CASE WHEN urgent = 1 AND late = 0 THEN 1 END)
                AS BIGINT) AS b,
            CAST(COUNT(CASE WHEN urgent = 0 AND late = 1 THEN 1 END)
                AS BIGINT) AS c,
            CAST(COUNT(CASE WHEN urgent = 0 AND late = 0 THEN 1 END)
                AS BIGINT) AS d
        FROM o GROUP BY 1)
"""


ORACLE_OR_FOREST = f"""
    WITH {_CELLS_SQL}
    SELECT c_nationkey, a, b, c, d,
        CAST(CAST(a AS HUGEINT) * d * 1000000
            // (CAST(b AS HUGEINT) * c) AS BIGINT) AS or_micro,
        CAST(FLOOR(EXP((LN(CAST(a AS DOUBLE)) + LN(CAST(d AS DOUBLE))
            - LN(CAST(b AS DOUBLE)) - LN(CAST(c AS DOUBLE)))
            - 1.96 * SQRT(1.0 / CAST(a AS DOUBLE)
            + 1.0 / CAST(b AS DOUBLE) + 1.0 / CAST(c AS DOUBLE)
            + 1.0 / CAST(d AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
            AS or_lo_micro,
        CAST(FLOOR(EXP((LN(CAST(a AS DOUBLE)) + LN(CAST(d AS DOUBLE))
            - LN(CAST(b AS DOUBLE)) - LN(CAST(c AS DOUBLE)))
            + 1.96 * SQRT(1.0 / CAST(a AS DOUBLE)
            + 1.0 / CAST(b AS DOUBLE) + 1.0 / CAST(c AS DOUBLE)
            + 1.0 / CAST(d AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
            AS or_hi_micro
    FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0
    ORDER BY c_nationkey
"""


@query(ORACLE_OR_FOREST)
def q_odds_ratio_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forest-plot table of per-nation odds ratios: does URGENT
    priority associate with late delivery, stratum by stratum — the
    epidemiology effect-measure family (chi2 screens association
    strength; the OR is the direction-and-magnitude estimate people
    act on).  OR in exact micro (a*d*1e6 div (b*c)); the Woolf CI is
    the shared IEEE closed form exp(ln OR +- 1.96 sqrt(1/a+1/b+1/c+
    1/d)), micro-quantized.  Read with cmh_pooled_odds: strata whose
    CI excludes the pooled value are the heterogeneity alarms.

    Scale shape: lineitem semi-aggregate + two equi-joins, one
    nation-cardinality agg, per-row closed form on 25 rows."""
    cells = _late_order_cells(spark, sf_dir).filter(
        (F.col("a") > 0) & (F.col("b") > 0)
        & (F.col("c") > 0) & (F.col("d") > 0)
    )
    lnor = (
        "(ln(CAST(a AS DOUBLE)) + ln(CAST(d AS DOUBLE))"
        " - ln(CAST(b AS DOUBLE)) - ln(CAST(c AS DOUBLE)))"
    )
    se = (
        "SQRT(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)"
        " + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))"
    )
    return cells.select(
        "c_nationkey",
        "a",
        "b",
        "c",
        "d",
        F.expr(
            "CAST(CAST(a AS DECIMAL(38,0)) * d * 1000000"
            " div (CAST(b AS DECIMAL(38,0)) * c) AS BIGINT)"
        ).alias("or_micro"),
        F.expr(
            f"CAST(FLOOR(EXP({lnor} - 1.96 * {se}) * 1000000.0 + 0.5)"
            " AS BIGINT)"
        ).alias("or_lo_micro"),
        F.expr(
            f"CAST(FLOOR(EXP({lnor} + 1.96 * {se}) * 1000000.0 + 0.5)"
            " AS BIGINT)"
        ).alias("or_hi_micro"),
    ).orderBy("c_nationkey")


ORACLE_CMH = f"""
    WITH {_CELLS_SQL},
    terms AS (SELECT a, b, c, d,
            CAST(a AS HUGEINT) * d * 1000000000 // (a + b + c + d)
                AS t_num,
            CAST(b AS HUGEINT) * c * 1000000000 // (a + b + c + d)
                AS t_den
        FROM cells),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
            CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
            CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(d) AS BIGINT) AS sd,
            CAST(SUM(t_num) AS HUGEINT) AS s_num,
            CAST(SUM(t_den) AS HUGEINT) AS s_den
        FROM terms)
    SELECT n_strata,
        CAST(s_num * 1000000 // s_den AS BIGINT) AS cmh_or_micro,
        CAST(CAST(sa AS HUGEINT) * sd * 1000000
            // (CAST(sb AS HUGEINT) * sc) AS BIGINT) AS crude_or_micro
    FROM g
"""


@query(ORACLE_CMH)
def q_cmh_pooled_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel pooled odds ratio across nation strata,
    next to the CRUDE (collapsed) odds ratio — the pairing that
    detects confounding-by-stratum: if pooling the 2x2s changes the
    OR materially, nation mix was distorting the crude association
    (the 2x2 cousin of simpsons_paradox_screen's slope version).
    OR_MH = sum(a d / n) / sum(b c / n) with each stratum term
    quantized to exact nano BEFORE the sum (integer fold, engine-
    exact), one closing division.

    Scale shape: the same nation-cardinality cell table; two 1-row
    rollups."""
    cells = _late_order_cells(spark, sf_dir)
    dec = "DECIMAL(38,0)"
    terms = cells.select(
        "a",
        "b",
        "c",
        "d",
        F.expr(
            f"CAST(a AS {dec}) * d * 1000000000 div (a + b + c + d)"
        ).alias("t_num"),
        F.expr(
            f"CAST(b AS {dec}) * c * 1000000000 div (a + b + c + d)"
        ).alias("t_den"),
    )
    g = terms.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum("c").alias("sc"),
        F.sum("d").alias("sd"),
        # the nano-quantized stratum terms are BIGINT (Spark `div`),
        # but their SUM x 1e6 passes int64 already at sf1 (caught by
        # the sf1 run: ARITHMETIC_OVERFLOW) — accumulate and divide
        # in DECIMAL(38,0), the oracle's HUGEINT twin
        F.expr(f"SUM(CAST(t_num AS {dec}))").alias("s_num"),
        F.expr(f"SUM(CAST(t_den AS {dec}))").alias("s_den"),
    )
    return g.select(
        "n_strata",
        F.expr(
            "CAST(s_num * 1000000 div s_den AS BIGINT)"
        ).alias("cmh_or_micro"),
        F.expr(
            "CAST(CAST(sa AS DECIMAL(38,0)) * sd * 1000000"
            " div (CAST(sb AS DECIMAL(38,0)) * sc) AS BIGINT)"
        ).alias("crude_or_micro"),
    )


ORACLE_PRICE_INDEX = """
    WITH li AS (SELECT l_partkey AS pk,
            year(CAST(l_shipdate AS DATE)) AS yr,
            CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                AS cents,
            CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
        FROM lineitem),
    py AS (SELECT pk, yr, CAST(SUM(qty) AS BIGINT) AS sq,
            CAST(SUM(cents) AS BIGINT) * 1000
                // CAST(SUM(qty) AS BIGINT) AS p_milli
        FROM li GROUP BY 1, 2),
    base AS (SELECT pk, sq AS q0, p_milli AS p0_milli
        FROM py WHERE yr = 1992),
    j AS (SELECT py.yr, py.sq, py.p_milli, base.q0, base.p0_milli
        FROM py JOIN base ON py.pk = base.pk WHERE py.yr <> 1992),
    g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts,
            CAST(SUM(CAST(p_milli AS HUGEINT) * q0) AS HUGEINT) AS ltq,
            CAST(SUM(CAST(p0_milli AS HUGEINT) * q0) AS HUGEINT)
                AS lbq,
            CAST(SUM(CAST(p_milli AS HUGEINT) * sq) AS HUGEINT) AS ptq,
            CAST(SUM(CAST(p0_milli AS HUGEINT) * sq) AS HUGEINT)
                AS pbq
        FROM j GROUP BY 1)
    SELECT yr, n_parts,
        CAST(ltq * 1000000 // lbq AS BIGINT) AS laspeyres_ppm,
        CAST(ptq * 1000000 // pbq AS BIGINT) AS paasche_ppm,
        CAST(FLOOR(SQRT((CAST(CAST(ltq AS VARCHAR) AS DOUBLE)
            / CAST(CAST(lbq AS VARCHAR) AS DOUBLE))
            * (CAST(CAST(ptq AS VARCHAR) AS DOUBLE)
            / CAST(CAST(pbq AS VARCHAR) AS DOUBLE))) * 1000000.0
            + 0.5) AS BIGINT) AS fisher_ppm
    FROM g ORDER BY yr
"""


@query(ORACLE_PRICE_INDEX)
def q_price_index_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices by ship year against
    the 1992 base — the index-number machinery behind every 'revenue
    grew 8%, but how much was PRICE?' decomposition.  Unit prices are
    exact milli-cents (sum-of-extendedprice over sum-of-quantity per
    part-year); Laspeyres weights by BASE-year quantities, Paasche by
    the CURRENT year's, Fisher is the geometric mean (the one sqrt,
    det-floored to ppm).  Basket = parts present in both the base and
    comparison year.

    Scale shape: one fact agg to (part, year); base-year slice joins
    back on the part key; one rollup to year cardinality; all index
    arithmetic in DECIMAL(38,0)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.expr("year(CAST(l_shipdate AS DATE))").alias("yr"),
        F.expr(
            "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("cents"),
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("qty"),
    )
    py = li.groupBy("pk", "yr").agg(
        F.sum("cents").alias("sp"), F.sum("qty").alias("sq")
    ).select(
        "pk",
        "yr",
        "sq",
        F.expr("sp * 1000 div sq").alias("p_milli"),
    )
    base = py.filter(F.col("yr") == 1992).select(
        "pk",
        F.col("sq").alias("q0"),
        F.col("p_milli").alias("p0_milli"),
    )
    j = py.filter(F.col("yr") != 1992).join(base, "pk")
    dec = "DECIMAL(38,0)"
    g = j.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.expr(f"SUM(CAST(p_milli AS {dec}) * q0)").alias("ltq"),
        F.expr(f"SUM(CAST(p0_milli AS {dec}) * q0)").alias("lbq"),
        F.expr(f"SUM(CAST(p_milli AS {dec}) * sq)").alias("ptq"),
        F.expr(f"SUM(CAST(p0_milli AS {dec}) * sq)").alias("pbq"),
    )
    br = lambda c: f"CAST(CAST({c} AS STRING) AS DOUBLE)"  # noqa: E731
    fisher = (
        f"SQRT(({br('ltq')} / {br('lbq')})"
        f" * ({br('ptq')} / {br('pbq')}))"
    )
    return g.select(
        "yr",
        "n_parts",
        F.expr("CAST(ltq * 1000000 div lbq AS BIGINT)").alias(
            "laspeyres_ppm"
        ),
        F.expr("CAST(ptq * 1000000 div pbq AS BIGINT)").alias(
            "paasche_ppm"
        ),
        F.expr(
            f"CAST(FLOOR({fisher} * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("fisher_ppm"),
    ).orderBy("yr")


ORACLE_SPRT = """
    WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS k
        FROM events),
    daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(k) AS BIGINT) AS k
        FROM ev GROUP BY 1),
    walk AS (SELECT day,
            CAST(SUM(k * 100083459 + (n - k) * (-25001302))
                OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS llr
        FROM daily),
    b AS (SELECT CAST(2944438979 AS BIGINT) AS bound),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
            CAST(MAX(llr) AS BIGINT) AS max_llr_nano,
            CAST(MIN(llr) AS BIGINT) AS min_llr_nano,
            CAST(MAX(CASE WHEN rn = 1 THEN llr END) AS BIGINT)
                AS final_llr_nano,
            CAST(MIN(CASE WHEN llr >= bound OR llr <= -bound
                THEN day END) AS BIGINT) AS first_cross_day,
            MAX(bound) AS bound
        FROM (SELECT day, llr,
                ROW_NUMBER() OVER (ORDER BY day DESC) AS rn
              FROM walk) CROSS JOIN b)
    SELECT n_days, max_llr_nano, min_llr_nano, final_llr_nano,
        first_cross_day,
        CASE WHEN final_llr_nano >= bound THEN 'accept_h1'
             WHEN final_llr_nano <= -bound THEN 'accept_h0'
             ELSE 'undecided' END AS verdict
    FROM g
"""


# ---------------------------------------------------------------- wave 7x
@query(ORACLE_SPRT)


def q_sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT replayed over the daily conversion stream: H0
    p=0.19 vs H1 p=0.21 (bracketing the design rate), alpha = beta =
    0.05 — the SEQUENTIAL test that examines evidence day by day and
    stops at the ln(19) boundaries, the statistical core of every
    always-on experiment monitor (mde_power_analysis plans the fixed-
    horizon test; SPRT is what you run when you won't wait for the
    horizon).  The two per-observation log-likelihood increments are
    CONSTANTS, det-quantized to nano ONCE — so each day's increment is
    k*c1 + (n-k)*c2 in pure integers and the cumulative walk is exact;
    first boundary crossing is a windowed min.

    Scale shape: one corpus agg to the daily (trials, successes)
    series; windows over the calendar-bounded walk; one row out."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP))"
            " div 86400000000 AS BIGINT)"
        ).alias("day"),
        (F.col("event_type") == "purchase").cast("long").alias("k"),
    )
    daily = ev.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"), F.sum("k").alias("k")
    )
    # pre-quantized nano constants (ln(0.21/0.19), ln(0.79/0.81),
    # ln(19)): engine-side LN differs in the last ulp between JVM and
    # DuckDB libm, and at NANO resolution that flips the floor — so the
    # hyperparameters ship as integer literals, identical in both
    # engines (caught by the sf0.001 oracle run: 1313099084 vs
    # 1312900868 on max_llr before this change)
    c1 = "100083459"
    c2 = "-25001302"
    bound = "2944438979"
    wc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = daily.select(
        "day",
        F.expr(f"k * ({c1}) + (n - k) * ({c2})").alias("inc"),
    ).select("day", F.sum("inc").over(wc).alias("llr"))
    return walk.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("llr").alias("max_llr_nano"),
        F.min("llr").alias("min_llr_nano"),
        # F.last over an unordered aggregate is partitioning-dependent;
        # max_by pins "the last day's walk value" deterministically
        F.expr("max_by(llr, day)").alias("final_llr_nano"),
        F.min(
            F.when(F.expr(f"llr >= {bound} OR llr <= -({bound})"),
                   F.col("day"))
        ).alias("first_cross_day"),
    ).select(
        "n_days",
        "max_llr_nano",
        "min_llr_nano",
        "final_llr_nano",
        "first_cross_day",
        F.expr(
            f"CASE WHEN final_llr_nano >= {bound} THEN 'accept_h1'"
            f" WHEN final_llr_nano <= -({bound}) THEN 'accept_h0'"
            " ELSE 'undecided' END"
        ).alias("verdict"),
    )


# ---------------------------------------------------------------- wave 7z

_RAND_PERMS = 60


def _randomization_oracle() -> str:
    perm_sums = ",\n            ".join(
        f"CAST(SUM(x * ((h // {2 ** b}) % 2)) AS BIGINT) AS sx_{b},"
        f" CAST(SUM((h // {2 ** b}) % 2) AS BIGINT) AS n_{b}"
        for b in range(_RAND_PERMS)
    )
    obs = (
        "ABS(CAST(sx1 AS HUGEINT) * 1000 // n1"
        " - (CAST(sx AS HUGEINT) - sx1) * 1000 // (n - n1))"
    )
    flags = " + ".join(
        f"CAST(ABS(CAST(sx_{b} AS HUGEINT) * 1000 // n_{b}"
        f" - (CAST(sx AS HUGEINT) - sx_{b}) * 1000 // (n - n_{b}))"
        f" >= {obs} AS INT)"
        for b in range(_RAND_PERMS)
    )
    return f"""
    WITH rows_ AS (SELECT
            CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
            CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS x,
            ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                || '#rand'), 1, 15))::BIGINT AS h
        FROM orders JOIN customer ON o_custkey = c_custkey),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(x) AS BIGINT) AS sx,
            CAST(SUM(x * g) AS BIGINT) AS sx1,
            CAST(SUM(g) AS BIGINT) AS n1,
            {perm_sums}
        FROM rows_)
    SELECT n AS n_orders, n1 AS n_building,
        CAST(CAST(sx1 AS HUGEINT) * 1000 // n1
            - (CAST(sx AS HUGEINT) - sx1) * 1000 // (n - n1)
            AS BIGINT) AS obs_gap_milli_cents,
        CAST({_RAND_PERMS} AS BIGINT) AS n_perms,
        CAST({flags} AS BIGINT) AS n_extreme,
        CAST(({flags}) * 1000 // {_RAND_PERMS} AS BIGINT) AS p_milli
    FROM g
"""


ORACLE_RANDOMIZATION = _randomization_oracle()


@query(ORACLE_RANDOMIZATION)
def q_randomization_test_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate randomization test for the BUILDING-vs-rest gap in
    mean order value: 60 pseudo-random relabelings, each the b-th BIT
    of ONE md5 per order (60 independent fair coin splits from a
    single hash — no per-permutation hashing, no RNG), evaluated as 60
    conditional aggregates in a single scan (the median_regression_
    grid trick).  p = fraction of relabelings whose |mean gap| meets
    or beats the observed one — distribution-free significance where
    ab_test_zscores assumes normality.  Gap comparison cross-
    multiplies to integers (|d1*n0a*n0b| vs |d0*nba*nbb| over common
    denominators) — EXACT, no division at all.

    Scale shape: ONE corpus scan with 121 conditional integer sums,
    one 1-row finish; nothing else."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rows = (
        _t(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            (F.col("c_mktsegment") == "BUILDING").cast("long").alias(
                "g"
            ),
            F.expr(
                "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(o_orderkey"
                " AS STRING), '#rand')), 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
    )
    perm_aggs = []
    for b in range(_RAND_PERMS):
        bit = f"((h div {2 ** b}) % 2)"
        perm_aggs.append(
            F.expr(f"SUM(x * {bit})").alias(f"sx_{b}")
        )
        perm_aggs.append(
            F.expr(f"SUM({bit})").alias(f"n_{b}")
        )
    g = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("SUM(x)").alias("sx"),
        F.expr("SUM(x * g)").alias("sx1"),
        F.expr("SUM(g)").alias("n1"),
        *perm_aggs,
    )
    # gaps compared at exact MILLI-cent resolution (each side is a
    # difference of two positive floor divisions — no division of a
    # negative, no cross-multiplied product that could pass
    # DECIMAL(38) at extreme corpus sizes)
    dec = "DECIMAL(38,0)"
    obs = (
        f"abs(CAST(sx1 AS {dec}) * 1000 div n1"
        f" - (CAST(sx AS {dec}) - sx1) * 1000 div (n - n1))"
    )
    flags = []
    for b in range(_RAND_PERMS):
        gb = (
            f"abs(CAST(sx_{b} AS {dec}) * 1000 div n_{b}"
            f" - (CAST(sx AS {dec}) - sx_{b}) * 1000 div (n - n_{b}))"
        )
        flags.append(f"CAST({gb} >= {obs} AS INT)")
    n_extreme = " + ".join(flags)
    return g.select(
        F.expr("CAST(n AS BIGINT)").alias("n_orders"),
        F.expr("CAST(n1 AS BIGINT)").alias("n_building"),
        F.expr(
            "CAST(CAST(sx1 AS DECIMAL(38,0)) * 1000 div n1"
            " - (CAST(sx AS DECIMAL(38,0)) - sx1) * 1000 div (n - n1)"
            " AS BIGINT)"
        ).alias("obs_gap_milli_cents"),
        F.lit(_RAND_PERMS).cast("bigint").alias("n_perms"),
        F.expr(f"CAST({n_extreme} AS BIGINT)").alias("n_extreme"),
        F.expr(
            f"CAST(({n_extreme}) * 1000 div {_RAND_PERMS} AS BIGINT)"
        ).alias("p_milli"),
    )


ORACLE_JACKKNIFE = """
    WITH g AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_g,
            CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
                AS BIGINT)) AS BIGINT) AS s_g
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1),
    loo AS (SELECT c_nationkey,
            CAST(COUNT(*) OVER () AS BIGINT) AS k,
            CAST((SUM(s_g) OVER () - s_g) * 1000000
                // (SUM(n_g) OVER () - n_g) AS BIGINT) AS theta_micro
        FROM g),
    m AS (SELECT k, theta_micro,
            CAST(SUM(theta_micro) OVER () AS BIGINT) AS st,
            CAST(SUM(CAST(theta_micro AS HUGEINT) * theta_micro)
                OVER () AS HUGEINT) AS qt
        FROM loo)
    SELECT k AS n_groups,
        CAST(st // k AS BIGINT) AS theta_bar_micro,
        CAST(MIN(theta_micro) AS BIGINT) AS theta_min_micro,
        CAST(MAX(theta_micro) AS BIGINT) AS theta_max_micro,
        CAST(FLOOR(SQRT(CAST(CAST(
            (CAST(MAX(qt) AS HUGEINT) * k - CAST(MAX(st) AS HUGEINT)
            * MAX(st)) * (k - 1) AS VARCHAR) AS DOUBLE)
            / (CAST(k AS DOUBLE) * k * k))) AS BIGINT)
            AS jack_se_micro
    FROM m GROUP BY k, st, qt
"""


@query(ORACLE_JACKKNIFE)
def q_jackknife_nation_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife for the mean order value, groups =
    customer nations: 25 leave-one-nation-out means computed purely
    from per-nation sufficient statistics (no resampled scans), then
    the jackknife variance (g-1)/g * sum (theta_i - theta_bar)^2 —
    the clustered-uncertainty answer when observations within a
    nation correlate and the iid bootstrap (poisson_bootstrap_mean)
    understates the error.  Leave-one-out means are exact micro
    integers; the variance accumulates their squared deviations in
    DECIMAL(38,0), one closing division.

    Scale shape: one fact agg to nation cardinality; everything after
    is arithmetic on 25 rows."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    g = (
        _t(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.expr(
                "SUM(CAST(floor(o_totalprice * 100.0 + 0.5)"
                " AS BIGINT))"
            ).alias("s_g"),
        )
    )
    wall = Window.partitionBy()
    loo = g.select(
        "c_nationkey",
        F.count(F.lit(1)).over(wall).alias("k"),
        # corpus-total cents x 1e6 passes int64 at sf1 (ANSI overflow,
        # caught by the sf1 timing gate) — scale in DECIMAL(38,0)
        F.expr(
            "(CAST(SUM(s_g) OVER () AS DECIMAL(38,0)) - s_g) * 1000000"
            " div (SUM(n_g) OVER () - n_g)"
        ).alias("theta_micro"),
    )
    dec = "DECIMAL(38,0)"
    m = loo.select(
        "k",
        "theta_micro",
        F.expr("SUM(theta_micro) OVER ()").alias("st"),
        F.expr(
            f"SUM(CAST(theta_micro AS {dec}) * theta_micro) OVER ()"
        ).alias("qt"),
    )
    return m.groupBy("k", "st", "qt").agg(
        F.min("theta_micro").alias("theta_min_micro"),
        F.max("theta_micro").alias("theta_max_micro"),
    ).select(
        F.col("k").alias("n_groups"),
        F.expr("CAST(st div k AS BIGINT)").alias("theta_bar_micro"),
        "theta_min_micro",
        "theta_max_micro",
        # var = (k-1)/k * sum (theta_i - bar)^2 = (k-1)(qt - st^2/k)/k;
        # micro^2 variance passes int64 (caught at sf0.001: 4.98e21),
        # so emit the STANDARD ERROR in micro-cents — exact integer
        # numerator bridged once to double for the single sqrt
        F.expr(
            "CAST(FLOOR(SQRT(CAST(CAST("
            f"(CAST(qt AS {dec}) * k - CAST(st AS {dec}) * st)"
            f" * (k - 1) AS STRING) AS DOUBLE)"
            " / (CAST(k AS DOUBLE) * k * k))) AS BIGINT)"
        ).alias("jack_se_micro"),
    )


ORACLE_NEWSVENDOR = """
    WITH li AS (SELECT
            date_diff('day', DATE '1992-01-01',
                CAST(l_shipdate AS DATE)) AS day,
            CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q
        FROM lineitem),
    daily AS (SELECT day, CAST(SUM(q) AS BIGINT) AS d
        FROM li GROUP BY day),
    ranked AS (SELECT d,
            ROW_NUMBER() OVER (ORDER BY d, day) AS rn,
            CAST(COUNT(*) OVER () AS BIGINT) AS n,
            CAST(SUM(d) OVER () AS BIGINT) AS sd
        FROM daily),
    qs AS (SELECT d AS q_star, n, sd // n AS q_mean
        FROM ranked WHERE rn = (4 * n + 4) // 5)
    SELECT MAX(n) AS n_days,
        CAST(MAX(q_star) AS BIGINT) AS q_star,
        CAST(MAX(q_mean) AS BIGINT) AS q_mean,
        CAST(SUM(GREATEST(q_star - d, 0)
            + 4 * GREATEST(d - q_star, 0)) AS BIGINT) AS cost_at_qstar,
        CAST(SUM(GREATEST(q_mean - d, 0)
            + 4 * GREATEST(d - q_mean, 0)) AS BIGINT) AS cost_at_mean,
        CAST(SUM(GREATEST(q_star - d, 0) + 4 * GREATEST(d - q_star, 0))
            <= SUM(GREATEST(q_mean - d, 0)
                + 4 * GREATEST(d - q_mean, 0)) AS BOOLEAN)
            AS quantile_wins
    FROM daily CROSS JOIN qs
"""


# ---------------------------------------------------------------- wave 8b
@query(ORACLE_NEWSVENDOR)


def q_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level from the daily demand distribution:
    with underage cost 4x overage, the optimal order-up-to level is
    the 80th-percentile demand day (critical ratio cu/(cu+co)) — and
    the query PROVES it on the data by pricing both that level and the
    naive mean-demand level with the exact piecewise-linear cost
    sum(co*max(Q-d,0) + cu*max(d-Q,0)): the quantile's cost column
    must come out <= the mean's.  Demand = daily shipped quantity;
    every quantity is an exact integer (rank by row_number on the
    day-bounded series, costs as integer sums).

    Scale shape: one fact agg to the ~2.4k-day series (checkpointed);
    rank window + two cost aggregates over it; one row out."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("q"),
    )
    daily = li.groupBy("day").agg(F.sum("q").alias("d")).localCheckpoint()
    w = Window.orderBy("d", "day")
    wall = Window.partitionBy()
    ranked = daily.select(
        "d",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("d").over(wall).alias("sd"),
    )
    qstar = ranked.filter(
        F.col("rn") == F.expr("(4 * n + 4) div 5")
    ).select(
        F.col("d").alias("q_star"),
        "n",
        F.expr("sd div n").alias("q_mean"),
    )
    costed = daily.crossJoin(F.broadcast(qstar)).agg(
        F.max("n").alias("n_days"),
        F.max("q_star").alias("q_star"),
        F.max("q_mean").alias("q_mean"),
        F.sum(
            F.expr(
                "greatest(q_star - d, CAST(0 AS BIGINT))"
                " + 4 * greatest(d - q_star, CAST(0 AS BIGINT))"
            )
        ).alias("cost_at_qstar"),
        F.sum(
            F.expr(
                "greatest(q_mean - d, CAST(0 AS BIGINT))"
                " + 4 * greatest(d - q_mean, CAST(0 AS BIGINT))"
            )
        ).alias("cost_at_mean"),
    )
    return costed.select(
        "n_days",
        "q_star",
        "q_mean",
        "cost_at_qstar",
        "cost_at_mean",
        (F.col("cost_at_qstar") <= F.col("cost_at_mean")).alias(
            "quantile_wins"
        ),
    )


ORACLE_COLD_START = """
    WITH rows_ AS (SELECT
            CAST(o_orderdate AS DATE) < DATE '1996-01-01' AS is_train,
            l_partkey, o_custkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    tp AS (SELECT DISTINCT l_partkey FROM rows_ WHERE is_train),
    tc AS (SELECT DISTINCT o_custkey FROM rows_ WHERE is_train),
    test AS (SELECT r.l_partkey, r.o_custkey,
            tp.l_partkey IS NOT NULL AS seen_p,
            tc.o_custkey IS NOT NULL AS seen_c
        FROM rows_ r
        LEFT JOIN tp ON r.l_partkey = tp.l_partkey
        LEFT JOIN tc ON r.o_custkey = tc.o_custkey
        WHERE NOT r.is_train)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_rows,
        CAST(COUNT(CASE WHEN NOT seen_p THEN 1 END) AS BIGINT)
            AS cold_part_rows,
        CAST(COUNT(CASE WHEN NOT seen_p THEN 1 END) * 1000000
            // COUNT(*) AS BIGINT) AS cold_part_ppm,
        CAST(COUNT(CASE WHEN NOT seen_c THEN 1 END) AS BIGINT)
            AS cold_cust_rows,
        CAST(COUNT(CASE WHEN NOT seen_c THEN 1 END) * 1000000
            // COUNT(*) AS BIGINT) AS cold_cust_ppm
    FROM test
"""


@query(ORACLE_COLD_START)
def q_cold_start_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start audit for a temporal train/test split (train =
    orders before 1996-01-01, test = from then on): what share of
    test-period lineitems reference a part or a customer the training
    period never saw — the number that bounds any recommender or
    demand model trained on history (split_leakage_audit checks the
    split doesn't LEAK; this checks the split doesn't leave the model
    blind).  Exact ppm counts via anti-join semantics expressed as
    left joins on distinct key sets.

    Scale shape: two distinct-key builds at part/customer cardinality
    (broadcast), one pass over test lineitems, one row out."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(o_orderdate AS DATE) < DATE'1996-01-01'"
        ).alias("is_train"),
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    rows = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select("is_train", "l_partkey", "o_custkey")
    train_parts = (
        rows.filter("is_train").select("l_partkey").distinct()
        .withColumn("seen_p", F.lit(1))
    )
    train_custs = (
        rows.filter("is_train").select("o_custkey").distinct()
        .withColumn("seen_c", F.lit(1))
    )
    test = (
        rows.filter(~F.col("is_train"))
        .join(F.broadcast(train_parts), "l_partkey", "left")
        .join(F.broadcast(train_custs), "o_custkey", "left")
    )
    return test.agg(
        F.count(F.lit(1)).alias("n_test_rows"),
        F.count_if(F.col("seen_p").isNull()).alias("cold_part_rows"),
        F.count_if(F.col("seen_c").isNull()).alias("cold_cust_rows"),
    ).select(
        "n_test_rows",
        "cold_part_rows",
        F.expr(
            "CAST(cold_part_rows * 1000000 div n_test_rows AS BIGINT)"
        ).alias("cold_part_ppm"),
        "cold_cust_rows",
        F.expr(
            "CAST(cold_cust_rows * 1000000 div n_test_rows AS BIGINT)"
        ).alias("cold_cust_ppm"),
    )


ORACLE_REVENUE_BRIDGE = """
    WITH o AS (SELECT year(CAST(o_orderdate AS DATE)) AS yr,
            CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    g AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(cents) AS BIGINT) AS r
        FROM o GROUP BY 1),
    j AS (SELECT yr, n, r,
            CAST(r AS HUGEINT) * 1000000 // n AS aov_micro,
            LAG(n) OVER (ORDER BY yr) AS n_prev,
            LAG(r) OVER (ORDER BY yr) AS r_prev,
            LAG(CAST(r AS HUGEINT) * 1000000 // n)
                OVER (ORDER BY yr) AS aov_prev_micro
        FROM g)
    SELECT yr, n,
        CAST(r - r_prev AS BIGINT) AS delta_cents,
        CAST((CAST(n AS HUGEINT) - n_prev) * aov_prev_micro // 1000000
            AS BIGINT) AS volume_effect_cents,
        CAST(CAST(n AS HUGEINT) * (aov_micro - aov_prev_micro)
            // 1000000 AS BIGINT) AS price_mix_effect_cents,
        CAST(r - r_prev
            - CAST((CAST(n AS HUGEINT) - n_prev) * aov_prev_micro
                // 1000000 AS BIGINT)
            - CAST(CAST(n AS HUGEINT) * (aov_micro - aov_prev_micro)
                // 1000000 AS BIGINT) AS BIGINT) AS residual_cents
    FROM j WHERE n_prev IS NOT NULL ORDER BY yr
"""


# ---------------------------------------------------------------- wave 8c
@query(ORACLE_REVENUE_BRIDGE)


def q_revenue_bridge_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue BRIDGE: the delta decomposed into a
    volume effect ((n_t - n_prev) * AOV_prev) and a price/mix effect
    (n_t * (AOV_t - AOV_prev)) — the metric-tree arithmetic every
    revenue review runs, done with exact integer accounting: AOV is
    exact micro-cents, both effects land back in cents by one floor
    division each, and the emitted RESIDUAL column equals delta minus
    the two effects EXACTLY (it absorbs only the micro-quantization,
    so the bridge provably adds up — no silent rounding leak).

    Scale shape: one fact agg to year cardinality; lag window +
    arithmetic over ~7 rows."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        F.expr("year(CAST(o_orderdate AS DATE))").alias("yr"),
        F.expr(
            "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("cents"),
    )
    g = o.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("r")
    )
    w = Window.orderBy("yr")
    dec = "DECIMAL(38,0)"
    j = g.select(
        "yr",
        "n",
        "r",
        F.expr(f"CAST(r AS {dec}) * 1000000 div n").alias("aov_micro"),
        F.lag("n").over(w).alias("n_prev"),
        F.lag("r").over(w).alias("r_prev"),
        F.lag(
            F.expr(f"CAST(r AS {dec}) * 1000000 div n")
        ).over(w).alias("aov_prev_micro"),
    ).filter(F.col("n_prev").isNotNull())
    return j.select(
        "yr",
        "n",
        F.expr("r - r_prev").alias("delta_cents"),
        F.expr(
            f"CAST((CAST(n AS {dec}) - n_prev) * aov_prev_micro"
            " div 1000000 AS BIGINT)"
        ).alias("volume_effect_cents"),
        F.expr(
            f"CAST(CAST(n AS {dec})"
            " * (aov_micro - aov_prev_micro) div 1000000 AS BIGINT)"
        ).alias("price_mix_effect_cents"),
        F.expr(
            "r - r_prev"
            f" - CAST((CAST(n AS {dec}) - n_prev) * aov_prev_micro"
            " div 1000000 AS BIGINT)"
            f" - CAST(CAST(n AS {dec})"
            " * (aov_micro - aov_prev_micro) div 1000000 AS BIGINT)"
        ).alias("residual_cents"),
    ).orderBy("yr")


_DP_EPS_MILLI = [100, 500, 1000, 2000]


def _dp_oracle() -> str:
    eps = ", ".join(f"({e})" for e in _DP_EPS_MILLI)
    return f"""
    WITH g AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust
        FROM customer GROUP BY 1),
    e AS (SELECT * FROM (VALUES {eps}) AS t(eps_milli))
    SELECT c_nationkey, n_cust,
        CAST(eps_milli AS BIGINT) AS eps_milli,
        CAST(CAST(1000000000 AS BIGINT) // eps_milli AS BIGINT)
            AS laplace_b_micro,
        CAST((CAST(1000000000 AS BIGINT) // eps_milli)
            * CAST(1000000 AS HUGEINT)
            // (CAST(n_cust AS HUGEINT) * 1000000) AS BIGINT)
            AS exp_rel_err_ppm
    FROM g CROSS JOIN e ORDER BY c_nationkey, eps_milli
"""


ORACLE_DP_PLAN = _dp_oracle()


@query(ORACLE_DP_PLAN)
def q_dp_noise_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy budget planner for per-nation customer
    counts: for each epsilon in the grid, the Laplace scale b = 1/eps
    a count release (sensitivity 1) would add, and the EXPECTED
    relative error b/n in exact ppm per nation — the table that says
    which epsilon makes which cohort unusable BEFORE any noisy release
    ships (the planning companion to the k-anonymity/l-diversity/
    t-closeness audit ladder; no noise is sampled — planning is
    deterministic).  All integer: eps in milli, b in micro,
    rel err = b_micro * 1e6 div (n * 1e6).

    Scale shape: one agg to nation cardinality, explode x4 epsilons,
    100 rows out."""
    cust = _t(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    eps = ", ".join(str(e) for e in _DP_EPS_MILLI)
    return (
        g.select(
            "c_nationkey",
            "n_cust",
            F.explode(F.expr(f"array({eps})")).alias("eps_milli"),
        )
        .select(
            "c_nationkey",
            "n_cust",
            F.col("eps_milli").cast("bigint").alias("eps_milli"),
            F.expr("1000000000 div eps_milli").alias(
                "laplace_b_micro"
            ),
            F.expr(
                "CAST((1000000000 div eps_milli) * 1000000"
                " div (CAST(n_cust AS DECIMAL(38,0)) * 1000000)"
                " AS BIGINT)"
            ).alias("exp_rel_err_ppm"),
        )
        .orderBy("c_nationkey", "eps_milli")
    )


ORACLE_LITTLES_LAW = """
    WITH spans AS (SELECT o_orderkey,
            MAX(date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE))) AS a,
            MAX(date_diff('day', DATE '1992-01-01',
                CAST(l_shipdate AS DATE))) AS d
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1),
    direct AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
            CAST(SUM(d - a + 1) AS BIGINT) AS sum_dur,
            MIN(a) AS t0, MAX(d) AS t1
        FROM spans),
    deltas AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS nd
        FROM (SELECT a AS day, 1 AS delta FROM spans
              UNION ALL SELECT d + 1, -1 FROM spans)
        GROUP BY 1),
    sweep AS (SELECT CAST(SUM(inflight
                * (COALESCE(nxt, day + 1) - day)) AS BIGINT) AS area
        FROM (SELECT day,
                SUM(nd) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS inflight,
                LEAD(day) OVER (ORDER BY day) AS nxt
              FROM deltas))
    SELECT n_orders,
        CAST(t1 - t0 + 1 AS BIGINT) AS n_obs_days,
        CAST(n_orders * 1000 // (t1 - t0 + 1) AS BIGINT)
            AS lambda_milli,
        CAST(sum_dur * 1000 // n_orders AS BIGINT) AS w_milli,
        CAST(sum_dur * 1000 // (t1 - t0 + 1) AS BIGINT)
            AS l_littles_milli,
        CAST(area * 1000 // (t1 - t0 + 1) AS BIGINT) AS l_sweep_milli,
        CAST(area - sum_dur AS BIGINT) AS identity_gap_order_days
    FROM direct CROSS JOIN sweep
"""


# ---------------------------------------------------------------- wave 8d
@query(ORACLE_LITTLES_LAW)


def q_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law cross-check on the order pipeline: L = lambda * W,
    with the three quantities measured by TWO INDEPENDENT computation
    paths — W from per-order durations (orderdate to last shipment,
    inclusive), L from a +1/-1 interval sweep with piecewise-constant
    gap weighting (the peak_concurrency machinery).  Because both
    paths ultimately integrate the same order-day area, the audit's
    identity gap must be EXACTLY zero — any nonzero value means the
    sweep (the reusable concurrency operator) and the direct sum
    disagree, i.e. an off-by-one in interval closure.  Queueing-theory
    sanity made a regression test.

    Scale shape: one orders|x|lineitem rollup to order cardinality,
    a delta-day aggregate + prefix-sum window at day cardinality,
    1-row finish."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE'1992-01-01')"
        ).alias("sday"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("aday"),
    )
    spans = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.max("aday").alias("a"), F.max("sday").alias("d"))
    ).localCheckpoint()
    direct = spans.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("d - a + 1")).alias("sum_dur"),
        F.min("a").alias("t0"),
        F.max("d").alias("t1"),
    )
    deltas = (
        spans.select(F.col("a").alias("day"), F.lit(1).alias("delta"))
        .unionByName(
            spans.select(
                (F.col("d") + 1).alias("day"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("day")
        .agg(F.sum("delta").alias("nd"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.orderBy("day")
    sweep = deltas.select(
        "day",
        F.sum("nd").over(w).alias("inflight"),
        F.lead("day").over(wl).alias("nxt"),
    ).agg(
        F.sum(
            F.expr(
                "CAST(inflight AS BIGINT)"
                " * (coalesce(nxt, day + 1) - day)"
            )
        ).alias("area")
    )
    return direct.crossJoin(F.broadcast(sweep)).select(
        "n_orders",
        F.expr("t1 - t0 + 1").alias("n_obs_days"),
        F.expr(
            "n_orders * 1000 div (t1 - t0 + 1)"
        ).alias("lambda_milli"),
        F.expr("sum_dur * 1000 div n_orders").alias("w_milli"),
        F.expr(
            "sum_dur * 1000 div (t1 - t0 + 1)"
        ).alias("l_littles_milli"),
        F.expr(
            "area * 1000 div (t1 - t0 + 1)"
        ).alias("l_sweep_milli"),
        F.expr("area - sum_dur").alias("identity_gap_order_days"),
    )


ORACLE_BOOTSTRAP_MEDIAN = f"""
    WITH daily AS (SELECT
            date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) AS day,
            CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
                AS BIGINT) AS x
        FROM orders GROUP BY 1),
    ex AS (SELECT day, x, r.b AS b FROM daily,
            unnest(generate_series(0, {_PB_REPLICATES - 1})) AS r(b)),
    wtd AS (SELECT b, day, x,
            ('0x' || substr(md5(CAST(day AS VARCHAR) || '#bmed'
                || CAST(b AS VARCHAR)), 1, 15))::BIGINT % 1000000
                AS u_ppm
        FROM ex),
    ww AS (SELECT b, day, x,
            {_poisson_weight_case('u_ppm')} AS w
        FROM wtd),
    c AS (SELECT b, x,
            SUM(w) OVER (PARTITION BY b ORDER BY x, day ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
            SUM(w) OVER (PARTITION BY b) AS totw
        FROM ww)
    SELECT CAST(b AS BIGINT) AS replicate,
        CAST(MAX(totw) AS BIGINT) AS total_weight,
        CAST(MIN(x) AS BIGINT) AS median_usd
    FROM c WHERE cumw >= (totw + 1) // 2
    GROUP BY b ORDER BY replicate
"""


@query(ORACLE_BOOTSTRAP_MEDIAN)
def q_bootstrap_median_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap sampling distribution of the MEDIAN daily
    revenue: 32 deterministic Poisson(1)-weighted replicates of the
    day series, each replicate's weighted median found by cumulative-
    weight threshold (smallest value whose cum weight reaches
    ceil(total/2)) — extends poisson_bootstrap_mean to a rank
    statistic the sufficient-statistics trick can't reach.  The 32
    rows ARE the sampling distribution; sort for CI bounds.  Same
    md5 multiplicity ladder, windows ride the day-bounded series.

    Scale shape: one corpus agg to days (checkpointed), 32x bounded
    explode, per-replicate cum-weight windows over <=2.4k rows."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        F.expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").alias("usd"),
    )
    daily = o.groupBy("day").agg(F.sum("usd").alias("x")).localCheckpoint()
    ex = daily.select(
        "day",
        "x",
        F.explode(
            F.sequence(F.lit(0), F.lit(_PB_REPLICATES - 1))
        ).alias("b"),
    )
    h = F.expr(
        "CAST(conv(substring(md5(concat(CAST(day AS STRING), '#bmed',"
        " CAST(b AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    wtd = ex.withColumn("u_ppm", h % F.lit(1000000)).withColumn(
        "w", F.expr(_poisson_weight_case("u_ppm"))
    )
    wcum = Window.partitionBy("b").orderBy("x", "day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("b")
    c = wtd.select(
        "b",
        "x",
        F.sum("w").over(wcum).alias("cumw"),
        F.sum("w").over(wall).alias("totw"),
    )
    return (
        c.filter(F.expr("cumw >= (totw + 1) div 2"))
        .groupBy("b")
        .agg(F.min("x").alias("median_usd"), F.max("totw").alias("totw"))
        .select(
            F.col("b").cast("bigint").alias("replicate"),
            F.col("totw").alias("total_weight"),
            "median_usd",
        )
        .orderBy("replicate")
    )


ORACLE_INSPECTION = """
    WITH o AS (SELECT o_custkey,
            date_diff('day', DATE '1992-01-01',
                CAST(o_orderdate AS DATE)) AS day,
            o_orderkey
        FROM orders),
    gaps AS (SELECT day - LAG(day) OVER (PARTITION BY o_custkey
                ORDER BY day, o_orderkey) AS g
        FROM o),
    r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
            CAST(SUM(CAST(g AS HUGEINT)) AS HUGEINT) AS sg,
            CAST(SUM(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sgg
        FROM gaps WHERE g IS NOT NULL)
    SELECT n_gaps,
        CAST(sg * 1000 // n_gaps AS BIGINT) AS mean_gap_milli_days,
        CAST(sgg * 1000 // sg AS BIGINT)
            AS size_biased_mean_milli_days,
        CAST(sgg * 1000000 * n_gaps // (sg * sg) AS BIGINT)
            AS inflation_ppm
    FROM r
"""


# ---------------------------------------------------------------- wave 8g
@query(ORACLE_INSPECTION)


def q_inspection_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inspection (length-biased sampling) paradox on customer order
    gaps: the plain mean inter-order gap vs the SIZE-BIASED mean
    (sum g^2 / sum g) — the gap a randomly-timed probe actually lands
    in.  The ratio is the correction factor for every 'average wait'
    metric measured by sampling at random instants instead of at
    arrivals (latency dashboards systematically over-sample long
    gaps by exactly this factor).  Exact integer day gaps, DECIMAL
    second moment, two floor divisions.

    Scale shape: one per-customer lag window at order-key cardinality
    (the order_gap_median shuffle), one 1-row moment agg."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')"
        ).alias("day"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = o.select(
        (F.col("day") - F.lag("day").over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    dec = "DECIMAL(38,0)"
    r = gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr(f"SUM(CAST(g AS {dec}))").alias("sg"),
        F.expr(f"SUM(CAST(g AS {dec}) * g)").alias("sgg"),
    )
    return r.select(
        "n_gaps",
        F.expr(
            "CAST(sg * 1000 div n_gaps AS BIGINT)"
        ).alias("mean_gap_milli_days"),
        F.expr(
            "CAST(sgg * 1000 div sg AS BIGINT)"
        ).alias("size_biased_mean_milli_days"),
        F.expr(
            "CAST(sgg * 1000000 * n_gaps div (sg * sg) AS BIGINT)"
        ).alias("inflation_ppm"),
    )


ORACLE_BIRTHDAY = f"""
    WITH u AS (
        SELECT 'doc_id' AS population,
            CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents
        UNION ALL SELECT 'user_id',
            CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
        UNION ALL SELECT 'o_orderkey',
            CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
        UNION ALL SELECT 'lineitem_rows',
            CAST(COUNT(*) AS BIGINT) FROM lineitem)
    SELECT population, n AS n_keys,
        CAST(CAST(n AS HUGEINT) * (n - 1) * 1000000
            // {2 ** 61} AS BIGINT) AS expected_collisions_micro
    FROM u ORDER BY population
"""


@query(ORACLE_BIRTHDAY)
def q_birthday_collision_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Birthday-bound audit of the repo's OWN fingerprint space: the
    md5-prefix 60-bit integers every dedup/sampling/split operator
    keys on collide with expected count ~ n(n-1)/2^61 — this query
    prices that risk for each keyed population (documents, users,
    orders, lineitems) in exact micro-collisions, the table that says
    when 60 bits stops being enough (at 1e9 keys: ~0.4 expected
    collisions; at 1e12: ~430k — switch to the full 128 bits).  Exact
    integer arithmetic: n(n-1)*1e6 div 2^61.

    Scale shape: four count/count-distinct aggregates, 4 rows out."""
    docs = _t(spark, sf_dir, "documents").agg(
        F.count_distinct("doc_id").alias("n")
    ).select(F.lit("doc_id").alias("population"), "n")
    users = _t(spark, sf_dir, "events").agg(
        F.count_distinct("user_id").alias("n")
    ).select(F.lit("user_id").alias("population"), "n")
    orders = _t(spark, sf_dir, "orders").agg(
        F.count_distinct("o_orderkey").alias("n")
    ).select(F.lit("o_orderkey").alias("population"), "n")
    li = _t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("lineitem_rows").alias("population"), "n")
    u = docs.unionByName(users).unionByName(orders).unionByName(li)
    dec = "DECIMAL(38,0)"
    return u.select(
        "population",
        F.col("n").cast("bigint").alias("n_keys"),
        F.expr(
            f"CAST(CAST(n AS {dec}) * (n - 1) * 1000000"
            f" div {2 ** 61} AS BIGINT)"
        ).alias("expected_collisions_micro"),
    ).orderBy("population")
