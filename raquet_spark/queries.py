"""Driver-facing query registry: every operator from SURVEY.md §2 that is
oracle-checkable is declared here ONCE as a dialect-parameterized SQL
template (Spark rendering executed via ``spark.sql`` → full Catalyst
plan; DuckDB rendering returned by ``oracle_sql()``).

Determinism contract (see functions/dialect.py): decimal-exact sums,
rounded transcendentals, deterministic ranking tiebreaks — so the
driver's order-insensitive value-hash matches bit-for-bit.

Raster queries run the real binary pipeline on the Spark side
(synthetic raster → encode → stats) while the oracle regenerates the
same pixels in pure SQL — this cross-checks the whole binary path
against an independent relational formulation.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from raquet_spark.functions import dialect as dl
from raquet_spark.functions import quadbin as qb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, normalizing nanosecond timestamps.

    The driver testdata stores some columns as parquet TIMESTAMP(NANOS),
    which Spark refuses by default. We read nanos as BIGINT
    (``nanosAsLong``) and truncate to microseconds — exactly what DuckDB
    does when it coerces TIMESTAMP_NS to TIMESTAMP, keeping the oracle
    comparison bit-identical.

    The reader gets the schema from the parquet footer pyarrow already
    reads (naive timestamps as TIMESTAMP_NTZ, nanos as the BIGINT
    ``nanosAsLong`` yields — what Spark's own inference gives), so a
    load launches no schema-inference job."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import LongType, StructField, StructType

    path = f"{sf_dir}/{name}.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    pq_schema = pq.read_schema(path)
    nanos = [f.name for f in pq_schema if str(f.type) == "timestamp[ns]"]
    schema = StructType([
        StructField(f.name, LongType(), f.nullable) if f.name in nanos else f
        for f in from_arrow_schema(pq_schema, prefer_timestamp_ntz=True).fields
    ])
    df = spark.read.schema(schema).parquet(path)
    for col in nanos:
        df = df.withColumn(
            col, F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS BIGINT))")
        )
    return df


_REGISTERED: set[tuple[str, str]] = set()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _REGISTERED:
        return
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    _REGISTERED.add(key)


def _sql_query(sql_fn: Callable[[str], str]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql_fn("spark"))

    return run


# ---------------------------------------------------------------------------
# D. Analytics core (TPC-H-ish)
# ---------------------------------------------------------------------------

def q1_pricing_summary(d: str) -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       {dl.dsum('l_quantity', d)} AS sum_qty,
       {dl.dsum('l_extendedprice', d)} AS sum_base_price,
       {dl.dsum('l_extendedprice * (1 - l_discount)', d)} AS sum_disc_price,
       {dl.dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', d)} AS sum_charge,
       {dl.davg('l_quantity', d)} AS avg_qty,
       {dl.davg('l_extendedprice', d)} AS avg_price,
       {dl.davg('l_discount', d)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(d: str) -> str:
    return f"""
SELECT o_orderkey,
       {dl.dsum('l_extendedprice * (1 - l_discount)', d)} AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_supplier_volume(d: str) -> str:
    return f"""
SELECT n_name,
       {dl.dsum('l_extendedprice * (1 - l_discount)', d)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
"""


def q6_forecast(d: str) -> str:
    return f"""
SELECT {dl.dsum('l_extendedprice * l_discount', d)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q4_order_priority(d: str) -> str:
    """EXISTS semi-join: orders with at least one line shipped after the
    order date, counted per priority (Catalyst plans a LeftSemi hash
    join — no duplication of the probe side)."""
    return """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q7_nation_volume(d: str) -> str:
    """Two-nation shipping flows: supplier nation → customer nation per
    year. Both nation joins broadcast; the fact-side join is the only
    shuffle."""
    return f"""
SELECT supp_nation, cust_nation, l_year,
       {dl.dsum('volume', d)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(YEAR FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_3', 'NATION_7')
    AND n2.n_name IN ('NATION_3', 'NATION_7')
    AND n1.n_name <> n2.n_name
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q9_profit_by_nation(d: str) -> str:
    """Product-type profit by supplier nation and year (no partsupp in
    the reduced schema, so cost = retail price scaled)."""
    return f"""
SELECT nation, o_year, {dl.dsum('amount', d)} AS sum_profit
FROM (
  SELECT n_name AS nation,
         EXTRACT(YEAR FROM o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) - 0.4 * p_retailprice * l_quantity
           AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_type = 'PROMO'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year
"""


def q10_returned_items(d: str) -> str:
    """Top 20 customers by revenue lost to returns in a quarter."""
    return f"""
SELECT c_custkey, c_name,
       {dl.dsum('l_extendedprice * (1 - l_discount)', d)} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q13_order_count_distribution(d: str) -> str:
    """Distribution of orders-per-customer including zero-order
    customers (left outer join + double aggregation)."""
    return """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_share(d: str) -> str:
    """Promo revenue share in a month — conditional aggregation; the
    ratio is exact-decimal on both engines before the final round."""
    num = dl.dsum(
        "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)"
        " ELSE 0 END", d)
    den = dl.dsum("l_extendedprice * (1 - l_discount)", d)
    return f"""
SELECT ROUND(100.0 * ({num}) / ({den}), 6) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
"""


def q15_top_supplier(d: str) -> str:
    """Supplier(s) with the maximum quarterly revenue — CTE reused by
    the aggregate and the scalar-max subquery. Revenue stays exact
    DECIMAL through the equality comparison."""
    return """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28, 6)))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_qty_revenue(d: str) -> str:
    """Average yearly revenue from small-quantity orders of one brand:
    correlated scalar subquery, decorrelated by Catalyst into an
    aggregate-then-join (no per-row subquery execution)."""
    return f"""
SELECT CAST({dl.dsum('l_extendedprice', d)} / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
    SELECT 0.5 * AVG(l_quantity) FROM lineitem li2
    WHERE li2.l_partkey = p_partkey
  )
"""


def q18_large_orders(d: str) -> str:
    """Orders whose total quantity exceeds a threshold (GROUP BY +
    HAVING semi-filter, then enrich with customer)."""
    return f"""
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS DATE) AS orderdate, o_totalprice,
       {dl.dsum('l_quantity', d)} AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 230
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q19_disjunctive(d: str) -> str:
    """Disjunction of conjunctive brand/size/quantity predicates — the
    equi-join key stays `p_partkey` so Catalyst keeps a hash join and
    pushes the OR into the join filter (no nested-loop)."""
    return f"""
SELECT {dl.dsum('l_extendedprice * (1 - l_discount)', d)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#25' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#7' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""


def q22_idle_customers(d: str) -> str:
    """Above-average-balance customers with no recent orders:
    scalar-subquery filter + anti-join (Catalyst LeftAnti), grouped by
    nation. (Every customer in the synthetic data has *some* order, so
    the idle test is scoped to the trailing year to stay non-vacuous.)"""
    return f"""
SELECT n_name,
       COUNT(*) AS numcust,
       {dl.dsum('c_acctbal', d)} AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-08-01 00:00:00'
  )
GROUP BY n_name
ORDER BY n_name
"""


def q2_min_cost_supplier(d: str) -> str:
    """q2 shape (ref has no partsupp table in the driver schema, so the
    offer list is derived from lineitem): for each qualifying part, the
    supplier(s) offering the minimum average unit price in the target
    region. The correlated MIN subquery is decorrelated by Catalyst into
    an aggregate + join — no per-row re-execution. Unit price is a ratio
    of two exact-decimal sums (volume-weighted), so the double equality
    compare is bit-identical on both engines."""
    return f"""
WITH offers AS (
  SELECT l_partkey, l_suppkey,
         {dl.dsum('l_extendedprice', d)} / {dl.dsum('l_quantity', d)} AS unit_price
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_brand,
       o.unit_price AS unit_price
FROM part
JOIN offers o ON p_partkey = o.l_partkey
JOIN supplier ON s_suppkey = o.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size <= 10 AND p_type = 'LARGE' AND r_name = 'EUROPE'
  AND o.unit_price = (
    SELECT MIN(o2.unit_price)
    FROM offers o2
    JOIN supplier s2 ON s2.s_suppkey = o2.l_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE o2.l_partkey = p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q8_market_share(d: str) -> str:
    """q8 shape: one nation's share of regional import volume per year —
    conditional aggregation over a 6-way join, exact-decimal numerator
    and denominator so the double ratio is bit-identical."""
    num = dl.dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END", d)
    den = dl.dsum("volume", d)
    return f"""
WITH volumes AS (
  SELECT YEAR(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
)
SELECT o_year,
       ROUND({num} / {den}, 9) AS mkt_share,
       COUNT(*) AS n_lines
FROM volumes
GROUP BY o_year
ORDER BY o_year
"""


def q11_important_parts(d: str) -> str:
    """q11 shape: per-part inventory value for one nation's suppliers,
    kept only where it exceeds a fraction of the global total — a
    HAVING-style filter against an uncorrelated scalar subquery over the
    same CTE (computed once, broadcast as a literal by both engines)."""
    return f"""
WITH part_value AS (
  SELECT l_partkey,
         {dl.dsum('l_extendedprice * (1 - l_discount)', d)} AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY l_partkey
)
SELECT l_partkey, value
FROM part_value
WHERE value > (
  SELECT CAST(SUM(CAST(value AS DECIMAL(28, 6))) AS DOUBLE) * 2.0 / COUNT(*)
  FROM part_value
)
ORDER BY value DESC, l_partkey
"""


def q12_ship_delay(d: str) -> str:
    """q12 shape (driver schema has no shipmode/commitdate, so the class
    key is the order→ship delay bucket): per delay bucket, how many
    lines belong to urgent/high- vs lower-priority orders — CASE
    aggregation over a fact join."""
    delay = dl.days_between("l_shipdate", "o_orderdate", d)
    return f"""
SELECT CASE WHEN {delay} <= 30 THEN 'FAST'
            WHEN {delay} <= 90 THEN 'MEDIUM'
            ELSE 'SLOW' END AS delay_bucket,
       {dl.isum("CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END", d)} AS high_line_count,
       {dl.isum("CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END", d)} AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate
  AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
GROUP BY 1
ORDER BY delay_bucket
"""


def q16_supplier_part_counts(d: str) -> str:
    """q16 shape: distinct supplier count per (brand, size) over the
    observed part-supplier pairs, excluding one brand and the suppliers
    in a NOT-IN blocklist subquery (null-safe: acctbal is never NULL).
    Catalyst plans the blocklist as a LeftAnti join; the pair dedup is a
    pre-aggregation before the count-distinct."""
    return """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


def q20_part_suppliers(d: str) -> str:
    """q20 shape: suppliers in one region who moved a significant volume
    of a name-matched part family — nested IN subqueries (part filter
    feeding a grouped HAVING on shipped quantity), both planned as
    semi-joins."""
    return f"""
SELECT s_name, ROUND(s_acctbal, 2) AS s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'AFRICA'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING {dl.dsum('l_quantity', d)} > 50.0
  )
ORDER BY s_name
"""


def q21_exclusive_returns(d: str) -> str:
    """q21 shape (driver schema has no commit/receipt dates, so 'late'
    is proxied by l_returnflag = 'R'): suppliers who were the ONLY
    supplier with a returned line in a finished multi-supplier order —
    correlated EXISTS + NOT EXISTS, planned as LeftSemi + LeftAnti hash
    joins on l_orderkey."""
    return """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 25
"""


def orders_priority_rollup(d: str) -> str:
    """ROLLUP grouping-set aggregation: per (status, priority), per
    status, and grand total in one pass (partial aggregation reused
    across grouping sets)."""
    return f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {dl.dsum('o_totalprice', d)} AS total_price,
       GROUPING(o_orderstatus) AS g_status,
       GROUPING(o_orderpriority) AS g_priority
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""


def topk_parts_per_brand(d: str) -> str:
    return """
SELECT p_brand, p_partkey, p_retailprice, rn
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) t
WHERE rn <= 3
"""


def events_daily(d: str) -> str:
    return f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {dl.dsum('value', d)} AS total_value
FROM events
GROUP BY 1, 2
"""


def events_funnel(d: str) -> str:
    """Ordered conversion funnel (view → click-after-view →
    purchase-after-click) cohorted by the user's first-view day — the
    classic product-analytics query. Each stage is a groupBy + one
    equi-join on user_id carrying a strictly-later timestamp predicate
    (never a cross product); stage tables shrink monotonically so the
    joins broadcast at scale."""
    return """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click'
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_buy
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
)
SELECT CAST(date_trunc('day', v.t_view) AS DATE) AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS viewed,
       CAST(COUNT(c.user_id) AS BIGINT) AS clicked,
       CAST(COUNT(p.user_id) AS BIGINT) AS purchased
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
GROUP BY 1
"""


def retention_cohorts(d: str) -> str:
    """Day-offset retention triangle: users grouped by first-seen day,
    counted on each later active day — two groupBys and one broadcast
    join on user_id (the cohort table is one row per user)."""
    diff = (
        "datediff(day, cohort_day, day)"
        if d == "spark"
        else "date_diff('day', cohort_day, day)"
    )
    return f"""
WITH firstseen AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
)
SELECT cohort_day,
       CAST({diff} AS BIGINT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM active JOIN firstseen ON active.user_id = firstseen.user_id
GROUP BY 1, 2
"""


def events_sessionize(d: str) -> str:
    """Session = gap > 30 min per user; classic streaming-shaped windowed
    op expressed relationally (lag + cumulative sum over event time)."""
    ep = dl.epoch_seconds("ts", d)
    ep_lag = dl.epoch_seconds(
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)", d
    )
    return f"""
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start
FROM (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN 1
                WHEN {ep} - {ep_lag} > 1800
                     THEN 1 ELSE 0 END AS is_new
    FROM events
  ) a
) b
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# A. Quadbin queries (synthetic lon/lat derived from integer keys — exact)
# ---------------------------------------------------------------------------

_LON = "(CAST(c_custkey % 720 AS DOUBLE) / 2.0 - 179.75)"
_LAT = "(CAST((c_custkey * 7) % 340 AS DOUBLE) / 2.0 - 84.75)"


def events_moving_avg(d: str) -> str:
    """Per-user 7-row moving average and running total over event time —
    frame-based windows (ROWS BETWEEN), the time-series smoothing shape.
    Window partitioned by user: shuffles once on user_id, then both
    windows share the same sort."""
    return """
SELECT user_id, event_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
         AS moving_avg_7,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 6) AS running_total,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
FROM events
WHERE user_id % 100 = 0
"""


def customer_balance_deciles(d: str) -> str:
    """NTILE decile assignment + per-decile aggregates (two-level:
    window then groupBy — the distribution-analysis shape)."""
    return f"""
SELECT decile,
       COUNT(*) AS n_customers,
       {dl.dsum('c_acctbal', d)} AS total_balance,
       CAST(MIN(c_acctbal) AS DOUBLE) AS min_balance,
       CAST(MAX(c_acctbal) AS DOUBLE) AS max_balance
FROM (
  SELECT c_acctbal,
         NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer
) t
GROUP BY decile
ORDER BY decile
"""


def nation_revenue_share(d: str) -> str:
    """Each nation's share of total revenue and rank — window over an
    aggregate (the post-agg window is driver-cheap: 25 rows)."""
    rev = dl.dsum("l_extendedprice * (1 - l_discount)", d)
    return f"""
WITH nat_rev AS (
  SELECT n_name, {rev} AS revenue
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, revenue,
       ROUND(revenue / SUM(revenue) OVER (), 9) AS revenue_share,
       RANK() OVER (ORDER BY revenue DESC) AS revenue_rank
FROM nat_rev
ORDER BY revenue_rank, n_name
"""


def qb_point_cells(d: str) -> str:
    src = qb.staged_point_to_cell_query(
        _LON, _LAT, 8, "customer", carry=["c_acctbal"], dialect=d
    )
    return f"""
SELECT cell, COUNT(*) AS n_customers, {dl.dsum('c_acctbal', d)} AS total_bal
FROM {src} t
GROUP BY cell
"""


def qb_parent_rollup(d: str) -> str:
    lon = "(CAST(user_id % 3600 AS DOUBLE) / 10.0 - 179.95)"
    lat = "(CAST((user_id * 13) % 1600 AS DOUBLE) / 10.0 - 79.95)"
    src = qb.staged_point_to_cell_query(lon, lat, 10, "events", carry=[], dialect=d)
    parent = qb.cell_to_parent_sql("cell", 4, d)
    return f"""
SELECT parent, COUNT(*) AS n_events, COUNT(DISTINCT cell) AS n_cells
FROM (SELECT {parent} AS parent, cell FROM {src} c) p
GROUP BY parent
"""


def qb_tile_roundtrip(d: str) -> str:
    cell = qb.tile_to_cell_sql("x", "y", 10, d)
    return f"""
SELECT p_partkey, cell,
       {qb.cell_to_x_sql('cell', d)} AS rx,
       {qb.cell_to_y_sql('cell', d)} AS ry,
       {qb.cell_to_zoom_sql('cell', d)} AS rz,
       CAST({qb.is_valid_cell_sql('cell', d)} AS INT) AS ok
FROM (SELECT p_partkey, {cell} AS cell, x, y
      FROM (SELECT p_partkey, p_partkey % 1024 AS x, (p_partkey * 7) % 1024 AS y
            FROM part) t0) t1
"""


def qb_cell_bounds(d: str) -> str:
    x, y, z = "(n_nationkey * 13) % 32", "(n_nationkey * 5) % 32", "5"
    b = qb.bounds_from_tile_sql("x", "y", "z", d)
    c = qb.center_from_tile_sql("x", "y", "z", d)
    return f"""
SELECT n_nationkey, cell,
       round(b.west, 9) AS west, round(b.south, 9) AS south,
       round(b.east, 9) AS east, round(b.north, 9) AS north,
       round(c.lon, 9) AS clon, round(c.lat, 9) AS clat
FROM (SELECT n_nationkey, {qb.tile_to_cell_sql('x', 'y', 'z', d)} AS cell,
             {b} AS b, {c} AS c
      FROM (SELECT n_nationkey, {x} AS x, {y} AS y, {z} AS z FROM nation) t0) t1
"""


def qb_children(d: str) -> str:
    ch = qb.children_from_tile_sql("x", "y", "z", d)
    return f"""
SELECT s_suppkey, {dl.explode('children', 'child', d)}
FROM (SELECT s_suppkey, {ch} AS children
      FROM (SELECT s_suppkey, (s_suppkey * 3) % 64 AS x, (s_suppkey * 11) % 64 AS y,
                   6 AS z FROM supplier) t0) t1
"""


def qb_kring(d: str) -> str:
    kr = qb.kring_from_tile_sql("x", "y", "z", 1, d)
    return f"""
SELECT s_suppkey, {dl.arr_size('kr', d)} AS ring_size,
       {dl.explode('kr', 'neighbor', d)}
FROM (SELECT s_suppkey, {kr} AS kr
      FROM (SELECT s_suppkey, (s_suppkey * 3) % 64 AS x, s_suppkey % 3 AS y,
                   6 AS z FROM supplier) t0) t1
"""


def qb_kring_distances(d: str) -> str:
    """CARTO QUADBIN_KRING_DISTANCES parity: neighbors annotated with
    Chebyshev distance, exploded to rows."""
    kr = qb.kring_distances_from_tile_sql("x", "y", "z", 2, d)
    return f"""
SELECT s_suppkey, p.cell AS neighbor, p.dist AS dist
FROM (SELECT s_suppkey, {dl.explode(kr, 'p', d)}
      FROM (SELECT s_suppkey, (s_suppkey * 3) % 64 AS x, s_suppkey % 3 AS y,
                   6 AS z FROM supplier) t0) t1
"""


def qb_distance(d: str) -> str:
    """CARTO QUADBIN_DISTANCE parity: Chebyshev distance between cell
    pairs derived from adjacent supplier keys."""
    ca = qb.tile_to_cell_sql("(s_suppkey * 3) % 64", "s_suppkey % 48", 6, d)
    cb = qb.tile_to_cell_sql("(s_suppkey * 7) % 64", "(s_suppkey + 11) % 48", 6, d)
    return f"""
SELECT s_suppkey, {qb.distance_sql('cell_a', 'cell_b', d)} AS dist
FROM (SELECT s_suppkey, {ca} AS cell_a, {cb} AS cell_b FROM supplier) t
"""


def qb_validity(d: str) -> str:
    cell = qb.tile_to_cell_sql("o_orderkey % 256", "(o_orderkey * 3) % 256", 8, d)
    return f"""
SELECT o_orderkey % 10 AS grp,
       {dl.isum(f"CAST({qb.is_valid_cell_sql('cell', d)} AS INT)", d)} AS n_valid,
       {dl.isum(f"CAST({qb.is_valid_cell_sql('(cell - 1)', d)} AS INT)", d)} AS n_corrupt_valid
FROM (SELECT o_orderkey, {cell} AS cell FROM orders) t
GROUP BY o_orderkey % 10
"""


def qb_bbox_polyfill(d: str) -> str:
    """Bbox → covering cells at zoom 9 (quadbin polyfill for rectangular
    extents): the tile x/y ranges come from driver-side Mercator math,
    the cell enumeration is a relational cross-unnest — the generator
    side of every spatial prune in the engine."""
    import math as _math

    west, south, east, north = -10.3, 35.2, 4.7, 44.9
    z = 9
    m = 1 << z

    def _tx(lon: float) -> int:
        return min(max(int((lon / 360.0 + 0.5) * m), 0), m - 1)

    def _ty(lat: float) -> int:
        s = _math.sin(_math.radians(lat))
        yf = 0.5 - 0.25 * _math.log((1.0 + s) / (1.0 - s)) / _math.pi
        return min(max(int(yf * m), 0), m - 1)

    x0, x1 = _tx(west), _tx(east)
    y0, y1 = _ty(north), _ty(south)
    cell = qb.tile_to_cell_sql("x", "y", z, d)
    return f"""
WITH xs AS (SELECT {dl.explode(dl.seq(x0, x1, d), 'x', d)}),
     ys AS (SELECT {dl.explode(dl.seq(y0, y1, d), 'y', d)})
SELECT {cell} AS cell, x AS tile_x, y AS tile_y
FROM xs CROSS JOIN ys
"""


# ---------------------------------------------------------------------------
# C. Raster queries — Spark runs the real binary pipeline; DuckDB oracle
# regenerates the same pixels relationally (see testing.synthetic_tile_array)
# ---------------------------------------------------------------------------

_R = dict(zoom=6, tx=16, ty=20, nx=4, ny=4, bs=32, seed=42, modulo=251,
          nodata=-1.0, nodata_every=7)


def _duck_pixels(cell_sql: str | None = None) -> str:
    """DuckDB CTE producing (block, val) for every valid pixel of the
    synthetic raster used by the Spark side. ``cell_sql`` overrides the
    pixel→block mapping (e.g. child tiles for re-gridding oracles)."""
    r = _R
    cell = cell_sql or qb.tile_to_cell_sql("tx", "ty", r["zoom"], "duckdb")
    return f"""
WITH grid AS (
  SELECT {r['tx']} + i % {r['nx']} AS tx, {r['ty']} + i // {r['nx']} AS ty
  FROM (SELECT unnest(range(0, {r['nx'] * r['ny']})) AS i)
), px AS (
  SELECT tx, ty, tx * {r['bs']} + x AS gx, ty * {r['bs']} + y AS gy
  FROM grid,
       (SELECT unnest(range(0, {r['bs']})) AS x),
       (SELECT unnest(range(0, {r['bs']})) AS y)
), vals AS (
  SELECT {cell} AS block, gx, gy,
         CASE WHEN (gx + gy) % {r['nodata_every']} = 0 THEN NULL
              ELSE CAST((gx * 31 + gy * 17 + {r['seed']}) % {r['modulo']} AS DOUBLE)
         END AS val
  FROM px
)
"""


def _raster_stats_select(where: str = "") -> str:
    return f"""
SELECT block,
       COUNT(val) AS band_1_count,
       CAST(MIN(val) AS DOUBLE) AS band_1_min,
       CAST(MAX(val) AS DOUBLE) AS band_1_max,
       CAST(SUM(val) AS DOUBLE) AS band_1_sum,
       round(AVG(val), 6) AS band_1_mean,
       round(stddev_pop(val), 6) AS band_1_stddev
FROM vals {where}
GROUP BY block
"""


def tile_stats_agg_oracle() -> str:
    return _duck_pixels() + _raster_stats_select()


_RASTER_CACHE: dict[tuple, tuple] = {}


def _cached_raquet(spark: SparkSession, tag: str, build):
    """Synthetic-raster fixtures are written ONCE per Spark app as real
    RaQuet parquet files and re-read from disk thereafter — so every
    raster query below runs against a parquet scan (Morton block-range
    predicate pushdown, column pruning), the same plan shape it would
    have at 100 TB, instead of re-encoding the raster per query."""
    key = (spark.sparkContext.applicationId, tag)
    hit = _RASTER_CACHE.get(key)
    if hit is not None:
        return hit
    import tempfile

    from raquet_spark.sources.raquet import read_raquet, write_raquet

    tiles, meta = build()
    path = tempfile.mkdtemp(prefix=f"raquet_q_{tag}_") + "/raster.parquet"
    write_raquet(tiles, path, meta)
    out = (read_raquet(spark, path), meta)
    _RASTER_CACHE[key] = out
    return out


def _make_raster(spark: SparkSession):
    from raquet_spark.testing import make_synthetic_raster

    r = _R

    def build():
        return make_synthetic_raster(
            spark, zoom=r["zoom"], tiles_x=r["nx"], tiles_y=r["ny"],
            origin_x=r["tx"], origin_y=r["ty"], block_size=r["bs"],
            num_bands=1, dtype="float32", seed=r["seed"], nodata=r["nodata"],
            nodata_every=r["nodata_every"],
        )

    return _cached_raquet(spark, "main", build)


def _make_raster_stats(spark: SparkSession):
    """The deployment-shape stats fixture: per-tile stats computed ONCE
    at write time (the reference writes stats columns at convert,
    raster2raquet ``--stats``) and scanned thereafter — so the region/
    zonal/suitability queries measure the stats-COMBINE plan their
    operators document (interior tiles never decode), not a per-query
    stats recomputation. ``tile_stats_agg`` keeps measuring the stats
    computation itself against the stats-less fixture."""
    from raquet_spark.operators.tile_stats import with_tile_stats

    def build():
        tiles, meta = _make_raster(spark)
        return with_tile_stats(tiles, meta), meta

    return _cached_raquet(spark, "main_stats", build)


def tile_stats_agg_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats

    tiles, meta = _make_raster(spark)
    stats = with_tile_stats(tiles, meta)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def _fake_remote_transport(url: str, params: dict) -> bytes:
    """Deterministic tile server for the remote-ingest oracle query:
    serves raw float32 blobs whose pixels follow the SAME function the
    synthetic-raster oracle regenerates relationally (_duck_pixels), so
    a driver CORRECTNESS row covers the full fetch→decode→encode→stats
    path."""
    import numpy as np

    r = _R
    z, x, y = (int(p) for p in url.split("://")[1].split("/"))
    bs = r["bs"]
    gx = x * bs + np.arange(bs, dtype=np.int64)[None, :]
    gy = y * bs + np.arange(bs, dtype=np.int64)[:, None]
    vals = ((gx * 31 + gy * 17 + r["seed"]) % r["modulo"]).astype("<f4")
    vals[(gx + gy) % r["nodata_every"] == 0] = r["nodata"]
    return vals.tobytes()


def remote_fetch_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remote tile ingestion end-to-end: a cell work queue is fetched
    through sources.remote.fetch_tiles (mapInPandas HTTP with retries,
    faked transport), decoded, re-encoded as RaQuet blobs, and reduced
    to per-tile stats — oracle is the relational pixel regeneration."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.sources.remote import fetch_tiles, raw_decoder, xyz_request

    r = _R
    _, meta = _make_raster(spark)
    cells = spark.sql(
        f"""
        SELECT {qb.tile_to_cell_sql(f"{r['tx']} + id % {r['nx']}",
                                    f"{r['ty']} + id DIV {r['nx']}",
                                    r['zoom'], 'spark')} AS block
        FROM range({r['nx'] * r['ny']})
        """
    )
    fetched = fetch_tiles(
        cells,
        meta,
        xyz_request("fake://{z}/{x}/{y}"),
        transport=_fake_remote_transport,
        decoder=raw_decoder("float32", 1, r["bs"]),
        retry_delay=0.0,
    )
    stats = with_tile_stats(fetched, meta)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def _cached_export_tif(spark: SparkSession, compression: str | None = None) -> str:
    """The synthetic raster exported once per Spark app as a striped
    GeoTIFF (optionally LZW/deflate-compressed) — shared fixture for the
    export-roundtrip / LZW-import / resampled-warp driver queries."""
    import os
    import tempfile

    from raquet_spark.sources.geotiff import write_geotiff

    key = (spark.sparkContext.applicationId, f"geotiff_rt_{compression}")
    path = _RASTER_CACHE.get(key)
    if path is None:
        tiles, meta = _make_raster(spark)
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_gtiff_"), f"rt_{compression}.tif"
        )
        write_geotiff(tiles, meta, path, compression=compression)
        _RASTER_CACHE[key] = path
    return path


def _fake_imageserver_service(url: str, params: dict) -> bytes:
    """Transport faking an ArcGIS ImageServer whose raster is the
    synthetic oracle raster: `f=json` serves service metadata (extent =
    _R's tile grid, web-mercator wkid 102100), exportImage serves raw
    float32 blobs following the oracle pixel function."""
    import json
    import math

    r = _R
    O = math.pi * 6378137.0
    tile_m = 2 * O / (1 << r["zoom"])
    if params.get("f") == "json":
        xmin = -O + r["tx"] * tile_m
        ymax = O - r["ty"] * tile_m
        return json.dumps({
            "name": "oracle_raster",
            "extent": {
                "xmin": xmin, "ymin": ymax - r["ny"] * tile_m,
                "xmax": xmin + r["nx"] * tile_m, "ymax": ymax,
            },
            "spatialReference": {"wkid": 102100},
            "pixelType": "F32",
            "bandCount": 1,
            "noDataValues": [r["nodata"]],
            "pixelSizeX": tile_m / r["bs"], "pixelSizeY": tile_m / r["bs"],
            "rows": r["ny"] * r["bs"], "columns": r["nx"] * r["bs"],
        }).encode()
    bx = [float(v) for v in params["bbox"].split(",")]
    x = round((bx[0] + O) / tile_m)
    y = round((O - bx[3]) / tile_m)
    return _fake_remote_transport(f"fake://{r['zoom']}/{x}/{y}", {})


def imageserver_auto_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ImageServer ingestion with FULL metadata negotiation — no
    caller-supplied zoom, bounds, dtype or nodata: the service JSON
    (faked transport) drives everything (reference
    imageserver.py:131 get_imageserver_metadata, :268 auto resolution).
    The negotiated zoom must come out at the oracle grid's zoom for the
    per-tile stats to hash-match the closed-form pixel regeneration."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.remote import imageserver_to_raquet, raw_decoder

    r = _R
    tiles, _meta = imageserver_to_raquet(
        spark,
        "fake://svc/ImageServer",
        block_size=r["bs"],
        transport=_fake_imageserver_service,
        decoder=raw_decoder("float32", 1, r["bs"]),
        retry_delay=0.0,
        compression=None,
    )
    return tiles.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def geotiff_roundtrip_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF export round trip as a driver-checked query: tiles →
    distributed strip assembly → .tif on disk → independent IFD parse →
    pixel table → re-tile (from_pixel_table) → per-tile stats. Any byte
    defect in the TIFF writer/parser or the re-tiling shuffle breaks
    the value hash against the relational pixel oracle."""
    import os
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.operators.tiling import from_pixel_table
    from raquet_spark.sources.geotiff import read_geotiff, write_geotiff

    r = _R
    tiles, meta = _make_raster(spark)
    path = _cached_export_tif(spark)
    arr, _ = read_geotiff(path)
    h, w, _n = arr.shape
    gys, gxs = np.mgrid[0:h, 0:w]
    import pandas as pd

    x0, y0 = r["tx"] * r["bs"], r["ty"] * r["bs"]
    pix = spark.createDataFrame(
        pd.DataFrame({
            "gx": gxs.ravel() + x0,
            "gy": gys.ravel() + y0,
            "band_1": arr[:, :, 0].ravel().astype("f8"),
        })
    )
    retiled = from_pixel_table(pix, meta)
    stats = with_tile_stats(retiled, meta)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def geotiff_import_lzw_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZW GeoTIFF ingest end-to-end: synthetic tiles → LZW-compressed
    striped GeoTIFF on disk (strip payloads lzw_encode'd executor-side)
    → the full distributed import (tiff_reader segment decode with
    lzw_decode, identity EPSG:3857 warp, re-tiling shuffle) → per-tile
    stats. The import zoom/grid matches the export grid exactly, so the
    oracle is the same closed-form pixel regeneration as
    tile_stats_agg. Reference reads LZW via GDAL
    (raster2raquet.py:872)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.sources.tiff_reader import geotiff_to_raquet

    r = _R
    path = _cached_export_tif(spark, compression="lzw")
    tiles, meta = geotiff_to_raquet(
        spark, path, zoom=r["zoom"], block_size=r["bs"], dense=False, stats=False
    )
    stats = with_tile_stats(tiles, meta)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def warp_bilinear_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear import warp (reference: --resampling, cli.py:457) made
    hash-exact: the synthetic z tiles are exported to GeoTIFF, then
    re-imported one zoom DOWN with resampling='bilinear'. On an aligned
    3857 grid every target center sits exactly between a 2×2 source
    window (offsets ±0.5 → equal 0.25 weights), so the nodata-
    renormalized bilinear blend equals the plain average of the valid
    window pixels — which the oracle computes in closed form. Per-pixel
    round(…, 3) absorbs the ~1e-9 fp noise of the generic inverse-
    mapping math; sums aggregate as exact DECIMAL."""
    from pyspark.sql import functions as F

    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.sources.tiff_reader import geotiff_to_raquet

    r = _R
    path = _cached_export_tif(spark)
    tiles, _meta = geotiff_to_raquet(
        spark,
        path,
        zoom=r["zoom"] - 1,
        block_size=r["bs"],
        resampling="bilinear",
        dense=False,
        stats=False,
        compression=None,
    )
    px = band_pixels(tiles, "band_1", "float32").selectExpr("block", "round(v, 3) AS v")
    return px.groupBy("block").agg(
        F.expr("COUNT(v)").alias("band_1_count"),
        F.expr("CAST(MIN(v) AS DOUBLE)").alias("band_1_min"),
        F.expr("CAST(MAX(v) AS DOUBLE)").alias("band_1_max"),
        F.expr("CAST(SUM(CAST(v AS DECIMAL(28, 6))) AS DOUBLE)").alias("band_1_sum"),
        F.expr(
            "round(CAST(SUM(CAST(v AS DECIMAL(28, 6))) AS DOUBLE) / COUNT(v), 6)"
        ).alias("band_1_mean"),
    )


def warp_bilinear_stats_oracle() -> str:
    r = _R
    cell = qb.tile_to_cell_sql(
        f"g2x // {r['bs']}", f"g2y // {r['bs']}", r["zoom"] - 1, "duckdb"
    )
    return _duck_pixels() + f"""
, tgt AS (
  -- AVG ignores NULL: equal-weight bilinear with nodata renormalization
  SELECT gx // 2 AS g2x, gy // 2 AS g2y, round(AVG(val), 3) AS v
  FROM vals GROUP BY 1, 2
)
SELECT {cell} AS block,
       COUNT(v) AS band_1_count,
       CAST(MIN(v) AS DOUBLE) AS band_1_min,
       CAST(MAX(v) AS DOUBLE) AS band_1_max,
       CAST(SUM(CAST(v AS DECIMAL(28, 6))) AS DOUBLE) AS band_1_sum,
       round(CAST(SUM(CAST(v AS DECIMAL(28, 6))) AS DOUBLE) / COUNT(v), 6) AS band_1_mean
FROM tgt
GROUP BY 1
"""


def geotiff_sharded_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded GeoTIFF export round trip: synthetic tiles → one
    deflate-compressed GeoTIFF per pair of tile rows, written
    EXECUTOR-side (driver does zero pixel IO — the scale fix for the
    single-file export funnel flagged in round 3) → every shard
    re-ingested through the full distributed import → per-tile stats vs
    the closed-form pixel oracle."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.sources.geotiff import write_geotiff_sharded
    from raquet_spark.sources.tiff_reader import geotiff_to_raquet

    r = _R
    key = (spark.sparkContext.applicationId, "geotiff_shards")
    shards = _RASTER_CACHE.get(key)
    if shards is None:
        tiles, meta = _make_raster(spark)
        out = os.path.join(tempfile.mkdtemp(prefix="raquet_q_shard_"), "parts")
        info = write_geotiff_sharded(
            tiles, meta, out, compression="deflate", rows_per_shard=2
        )
        shards = [s["path"] for s in info["shards"]]
        _RASTER_CACHE[key] = shards
    parts = [
        geotiff_to_raquet(
            spark, p, zoom=r["zoom"], block_size=r["bs"], dense=False, stats=False
        )
        for p in shards
    ]
    tiles_all = parts[0][0]
    for t, _m in parts[1:]:
        tiles_all = tiles_all.unionByName(t)
    stats = with_tile_stats(tiles_all, parts[0][1])
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def geotiff_overview_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoTIFF overview export round trip: pyramid level z-1 is written
    as a chained reduced-resolution IFD (include_overviews, reference
    raquet2geotiff.py:363), read back through the independent IFD-chain
    parser, re-tiled, and stats-checked against the closed-form 2×2
    nodata-aware float32 mean — the same oracle as pyramid_pixel_stats,
    so any defect in overview IFD layout, strip placement, or level
    georeferencing breaks the hash."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from raquet_spark.operators.pyramid import build_level
    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.operators.tiling import from_pixel_table
    from raquet_spark.sources.geotiff import read_geotiff, write_geotiff

    r = _R
    key = (spark.sparkContext.applicationId, "geotiff_ovr")
    path = _RASTER_CACHE.get(key)
    tiles, meta = _make_raster(spark)
    if path is None:
        base = tiles.select("block", "band_1")  # drop the raquet metadata row cols
        levels = build_level(base, meta, r["zoom"], "average")
        path = os.path.join(tempfile.mkdtemp(prefix="raquet_q_ovr_"), "ovr.tif")
        write_geotiff(
            base.unionByName(levels), meta, path,
            compression="lzw", include_overviews=True,
        )
        _RASTER_CACHE[key] = path
    arr, _geo = read_geotiff(path, ifd_index=1)  # the z-1 overview level
    h, w, _n = arr.shape
    gys, gxs = np.mgrid[0:h, 0:w]
    x0, y0 = (r["tx"] >> 1) * r["bs"], (r["ty"] >> 1) * r["bs"]
    pix = spark.createDataFrame(
        pd.DataFrame({
            "gx": gxs.ravel() + x0,
            "gy": gys.ravel() + y0,
            "band_1": arr[:, :, 0].ravel().astype("f8"),
        })
    )
    import copy

    meta1 = copy.deepcopy(meta)
    meta1["tiling"]["max_zoom"] = r["zoom"] - 1
    retiled = from_pixel_table(pix, meta1)
    stats = with_tile_stats(retiled, meta1)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        F.round("band_1_sum", 4).alias("band_1_sum"),
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def geotiff_cog_roundtrip_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cloud-Optimized GeoTIFF round trip: tiles → COG export (map-only
    per-tile payload encode, IFD chain at the file head) → full
    distributed re-ingest through the tiled reader path → per-tile
    stats vs the closed-form pixel oracle."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.sources.geotiff import write_geotiff_cog
    from raquet_spark.sources.tiff_reader import geotiff_to_raquet

    r = _R
    key = (spark.sparkContext.applicationId, "geotiff_cog")
    path = _RASTER_CACHE.get(key)
    if path is None:
        tiles, meta = _make_raster(spark)
        path = os.path.join(tempfile.mkdtemp(prefix="raquet_q_cog_"), "c.tif")
        write_geotiff_cog(
            tiles, meta, path, compression="deflate", include_overviews=False
        )
        _RASTER_CACHE[key] = path
    tiles2, meta2 = geotiff_to_raquet(
        spark, path, zoom=r["zoom"], block_size=r["bs"], dense=False, stats=False
    )
    stats = with_tile_stats(tiles2, meta2)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


_JP = dict(zoom=6, tx=16, ty=20, n=2, bs=32, modulo=251)


def lossy_jpeg_blocky_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy JPEG layout round trip made hash-exact: a raster whose
    every 8×8 block is constant has DC-only DCT coefficients, which the
    baseline JPEG codec (functions/jpeg.py; PIL when present) encodes
    and decodes EXACTLY at quality 100 — so sequential → interleaved
    JPEG tiles → sequential → per-tile stats matches the closed-form
    oracle bit-for-bit, covering the whole lossy pipeline (encode,
    JFIF bitstream, decode, layout shuffles) with a hard hash."""
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.operators.layout import to_interleaved, to_sequential
    from raquet_spark.operators.tiling import from_pixel_table

    c = _JP
    npx = c["n"] * c["bs"]
    gx0, gy0 = c["tx"] * c["bs"], c["ty"] * c["bs"]
    pix = spark.range(npx * npx).selectExpr(
        f"{gx0} + id % {npx} AS gx",
        f"{gy0} + id DIV {npx} AS gy",
        f"CAST(((id % {npx}) DIV 8 * 7 + (id DIV {npx}) DIV 8 * 13"
        f" + (id % {npx}) DIV 8 * ((id DIV {npx}) DIV 8)) % {c['modulo']}"
        " AS DOUBLE) AS band_1",
    )
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type="uint8")],
        bounds=(0, 0, 0, 0), width=npx, height=npx,
        block_width=c["bs"], block_height=c["bs"],
        min_zoom=c["zoom"], max_zoom=c["zoom"], compression=None,
    )
    tiles = from_pixel_table(pix, meta, compression=None)
    meta_q = dict(meta, compression_quality=100)
    inter, meta_i = to_interleaved(tiles, meta_q, compression="jpeg")
    back, _meta_s = to_sequential(inter, meta_i, compression=None)
    px = band_pixels(back, "band_1", "uint8")
    return px.groupBy("block").agg(
        F.expr("COUNT(v)").alias("band_1_count"),
        F.expr("CAST(MIN(v) AS DOUBLE)").alias("band_1_min"),
        F.expr("CAST(MAX(v) AS DOUBLE)").alias("band_1_max"),
        F.expr("CAST(SUM(v) AS DOUBLE)").alias("band_1_sum"),
        F.expr("round(AVG(v), 6)").alias("band_1_mean"),
    )


def lossy_jpeg_blocky_stats_oracle() -> str:
    c = _JP
    npx = c["n"] * c["bs"]
    cell = qb.tile_to_cell_sql(
        f"{c['tx']} + (gx - {c['tx'] * c['bs']}) // {c['bs']}",
        f"{c['ty']} + (gy - {c['ty'] * c['bs']}) // {c['bs']}",
        c["zoom"], "duckdb",
    )
    return f"""
WITH px AS (
  SELECT {c['tx'] * c['bs']} + i % {npx} AS gx,
         {c['ty'] * c['bs']} + i // {npx} AS gy,
         CAST(((i % {npx}) // 8 * 7 + (i // {npx}) // 8 * 13
               + (i % {npx}) // 8 * ((i // {npx}) // 8)) % {c['modulo']}
              AS DOUBLE) AS v
  FROM (SELECT unnest(range(0, {npx * npx})) AS i)
)
SELECT {cell} AS block,
       COUNT(v) AS band_1_count,
       CAST(MIN(v) AS DOUBLE) AS band_1_min,
       CAST(MAX(v) AS DOUBLE) AS band_1_max,
       CAST(SUM(v) AS DOUBLE) AS band_1_sum,
       round(AVG(v), 6) AS band_1_mean
FROM px
GROUP BY 1
"""


def rasterize_polygon_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster burn through the real rasterizer: the polygon is a
    pixel-aligned Mercator box (corners computed from the same tile
    math both dialects share), so each covered tile's burned-pixel
    count is pure range arithmetic for the oracle while the Spark side
    runs the full bbox-cover → vectorized even-odd point-in-polygon →
    encode pipeline. Pixel centers sit half a pixel from every box
    edge, so float rounding in the lon/lat round-trip cannot flip a
    membership."""
    from pyspark.sql import functions as F

    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.functions.geom import inv_merc_fraction
    from raquet_spark.operators.tiling import rasterize_polygon

    c = _RZ
    zoom, bs = c["zoom"], c["bs"]
    npix = (1 << zoom) * bs

    ax, bx, ay, by = c["ax"], c["bx"], c["ay"], c["by"]  # global pixel box
    poly = [
        inv_merc_fraction(ax / npix, ay / npix),
        inv_merc_fraction(bx / npix, ay / npix),
        inv_merc_fraction(bx / npix, by / npix),
        inv_merc_fraction(ax / npix, by / npix),
    ]
    tiles, _meta = rasterize_polygon(
        spark, poly, zoom=zoom, block_size=bs, burn_value=1.0, nodata=0.0,
        band_type="uint8", compression=None,
    )
    px = band_pixels(tiles, "band_1", "uint8")
    return px.groupBy("block").agg(
        F.expr("CAST(SUM(CAST(v AS BIGINT)) AS BIGINT)").alias("n_burn"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pixels"),
    )


def rasterize_polygon_stats_oracle() -> str:
    c = _RZ
    zoom, bs = c["zoom"], c["bs"]
    ax, bx, ay, by = c["ax"], c["bx"], c["ay"], c["by"]
    tx0, tx1 = ax // bs, (bx - 1) // bs
    ty0, ty1 = ay // bs, (by - 1) // bs
    ntx = tx1 - tx0 + 1
    cell = qb.tile_to_cell_sql("tx", "ty", zoom, "duckdb")
    return f"""
WITH t AS (
  SELECT {tx0} + i % {ntx} AS tx, {ty0} + i // {ntx} AS ty
  FROM (SELECT unnest(range(0, {ntx * (ty1 - ty0 + 1)})) AS i)
), counted AS (
  SELECT tx, ty,
         greatest(0, least({bx}, (tx + 1) * {bs}) - greatest({ax}, tx * {bs}))
         * greatest(0, least({by}, (ty + 1) * {bs}) - greatest({ay}, ty * {bs}))
           AS n_burn
  FROM t
)
SELECT {cell} AS block,
       CAST(n_burn AS BIGINT) AS n_burn,
       CAST({bs * bs} AS BIGINT) AS n_pixels
FROM counted
WHERE n_burn > 0
"""


def rasterize_features_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed vector-table rasterization with painter's-order
    overlap: two pixel-aligned Mercator boxes (values 3 then 7, the
    second overlapping the first) burn through the real per-feature
    tile-cover → shuffle-on-block → vectorized burn pipeline; per-tile
    counts of each value reduce to rectangle-intersection arithmetic
    for the oracle, including the strip where 7 paints over 3."""
    import pandas as pd
    from pyspark.sql import functions as F

    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.functions.geom import inv_merc_fraction
    from raquet_spark.operators.tiling import rasterize_features

    c = _RZ
    zoom, bs = c["zoom"], c["bs"]
    npix = (1 << zoom) * bs

    def box(ax, bx, ay, by):
        corners = [
            inv_merc_fraction(ax / npix, ay / npix),
            inv_merc_fraction(bx / npix, ay / npix),
            inv_merc_fraction(bx / npix, by / npix),
            inv_merc_fraction(ax / npix, by / npix),
        ]
        return [{"lon": lo, "lat": la} for lo, la in corners]

    a = (c["ax"], c["bx"], c["ay"], c["by"])
    b = (c["ax2"], c["bx2"], c["ay2"], c["by2"])
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "feature_id": [1, 2],
                "polygon": [box(*a), box(*b)],
                "value": [3.0, 7.0],
            }
        )
    )
    tiles, _meta = rasterize_features(
        feats, zoom=zoom, block_size=bs, band_type="uint8", nodata=0.0,
        compression=None,
    )
    px = band_pixels(tiles, "band_1", "uint8")
    return px.groupBy("block").agg(
        F.expr("CAST(SUM(CASE WHEN v = 3 THEN 1 ELSE 0 END) AS BIGINT)").alias("n3"),
        F.expr("CAST(SUM(CASE WHEN v = 7 THEN 1 ELSE 0 END) AS BIGINT)").alias("n7"),
    )


def rasterize_wkt_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rasterize_features pipeline fed from WKT: the same two
    pixel-aligned boxes arrive as ``POLYGON ((...))`` strings and parse
    through the Column-expression ring parser (functions/geom.
    wkt_ring_expr — no UDF, stays in codegen), then burn through the
    identical cover→shuffle→paint path. Same closed-form oracle as
    rasterize_features_stats: the WKT round trip must change nothing."""
    from pyspark.sql import functions as F

    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.functions.geom import inv_merc_fraction, wkt_ring_expr
    from raquet_spark.operators.tiling import rasterize_features

    c = _RZ
    zoom, bs = c["zoom"], c["bs"]
    npix = (1 << zoom) * bs

    def wkt_box(ax, bx, ay, by):
        corners = [
            inv_merc_fraction(ax / npix, ay / npix),
            inv_merc_fraction(bx / npix, ay / npix),
            inv_merc_fraction(bx / npix, by / npix),
            inv_merc_fraction(ax / npix, by / npix),
        ]
        corners.append(corners[0])  # WKT rings close explicitly
        pts = ", ".join(f"{lo!r} {la!r}" for lo, la in corners)
        return f"POLYGON (({pts}))"

    a = (c["ax"], c["bx"], c["ay"], c["by"])
    b = (c["ax2"], c["bx2"], c["ay2"], c["by2"])
    wkts = spark.createDataFrame(
        pa.table({
            "feature_id": [1, 2],
            "wkt": [wkt_box(*a), wkt_box(*b)],
            "value": [3.0, 7.0],
        }),
        "feature_id long, wkt string, value double",
    )
    feats = wkts.select(
        "feature_id", F.expr(wkt_ring_expr("wkt")).alias("polygon"), "value"
    )
    # perf note: the parse sits before the tile explode and evaluates
    # once per feature (verified in the physical plan); the 2-row input
    # is a LocalRelation, so the only work beyond the struct twin is
    # codegen of the regexp parse.
    tiles, _meta = rasterize_features(
        feats, zoom=zoom, block_size=bs, band_type="uint8", nodata=0.0,
        compression=None,
    )
    px = band_pixels(tiles, "band_1", "uint8")
    return px.groupBy("block").agg(
        F.expr("CAST(SUM(CASE WHEN v = 3 THEN 1 ELSE 0 END) AS BIGINT)").alias("n3"),
        F.expr("CAST(SUM(CASE WHEN v = 7 THEN 1 ELSE 0 END) AS BIGINT)").alias("n7"),
    )


def rasterize_features_stats_oracle() -> str:
    c = _RZ
    zoom, bs = c["zoom"], c["bs"]
    ax, bx, ay, by = c["ax"], c["bx"], c["ay"], c["by"]
    ax2, bx2, ay2, by2 = c["ax2"], c["bx2"], c["ay2"], c["by2"]
    # overall tile cover = union of both boxes' covers
    tx0 = min(ax, ax2) // bs
    tx1 = (max(bx, bx2) - 1) // bs
    ty0 = min(ay, ay2) // bs
    ty1 = (max(by, by2) - 1) // bs
    ntx = tx1 - tx0 + 1
    cell = qb.tile_to_cell_sql("tx", "ty", zoom, "duckdb")

    def overlap(lo1, hi1, lo2, hi2):
        return f"greatest(0, least({hi1}, {hi2}) - greatest({lo1}, {lo2}))"

    in_a = (
        f"{overlap(ax, bx, 'tx * ' + str(bs), '(tx + 1) * ' + str(bs))}"
        f" * {overlap(ay, by, 'ty * ' + str(bs), '(ty + 1) * ' + str(bs))}"
    )
    in_b = (
        f"{overlap(ax2, bx2, 'tx * ' + str(bs), '(tx + 1) * ' + str(bs))}"
        f" * {overlap(ay2, by2, 'ty * ' + str(bs), '(ty + 1) * ' + str(bs))}"
    )
    in_ab = (
        f"{overlap(max(ax, ax2), min(bx, bx2), 'tx * ' + str(bs), '(tx + 1) * ' + str(bs))}"
        f" * {overlap(max(ay, ay2), min(by, by2), 'ty * ' + str(bs), '(ty + 1) * ' + str(bs))}"
    )
    return f"""
WITH t AS (
  SELECT {tx0} + i % {ntx} AS tx, {ty0} + i // {ntx} AS ty
  FROM (SELECT unnest(range(0, {ntx * (ty1 - ty0 + 1)})) AS i)
), counted AS (
  SELECT tx, ty,
         {in_a} - {in_ab} AS n3,
         {in_b} AS n7
  FROM t
)
SELECT {cell} AS block,
       CAST(n3 AS BIGINT) AS n3,
       CAST(n7 AS BIGINT) AS n7
FROM counted
WHERE n3 + n7 > 0
"""


def vector_zonal_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-exact zonal stats against vector zones, end to end: a
    deterministic raster + the two overlapping _RZ boxes as the zone
    table (7 paints over 3) → rasterize → block join → per-zone
    aggregation. Every pixel's zone and value are closed-form (integer
    ranges + the value formula), so counts, sums and extrema hash
    exactly; sums of integer-valued doubles are order-independent."""
    import pandas as pd
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.functions.geom import inv_merc_fraction
    from raquet_spark.operators.region_stats import vector_zonal_stats
    from raquet_spark.operators.tiling import from_pixel_table

    c = _RZ
    zoom, bs = c["zoom"], c["bs"]
    npix_g = (1 << zoom) * bs
    tx0, ty0, ntx, nty = 16, 20, 5, 4
    gx0, gy0 = tx0 * bs, ty0 * bs
    w, h = ntx * bs, nty * bs
    pix = spark.range(w * h).selectExpr(
        f"{gx0} + id % {w} AS gx",
        f"{gy0} + id DIV {w} AS gy",
        f"CAST((({gx0} + id % {w}) * 3 + ({gy0} + id DIV {w}) * 5) % 250"
        " AS DOUBLE) AS band_1",
    )
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type="float64")],
        bounds=(0, 0, 0, 0), width=w, height=h,
        block_width=bs, block_height=bs, min_zoom=zoom, max_zoom=zoom,
        compression=None,
    )
    tiles = from_pixel_table(pix, meta, compression=None)

    def box(ax, bx, ay, by):
        corners = [
            inv_merc_fraction(ax / npix_g, ay / npix_g),
            inv_merc_fraction(bx / npix_g, ay / npix_g),
            inv_merc_fraction(bx / npix_g, by / npix_g),
            inv_merc_fraction(ax / npix_g, by / npix_g),
        ]
        return [{"lon": lo, "lat": la} for lo, la in corners]

    zones = spark.createDataFrame(
        pd.DataFrame(
            {
                "feature_id": [1, 2],
                "polygon": [
                    box(c["ax"], c["bx"], c["ay"], c["by"]),
                    box(c["ax2"], c["bx2"], c["ay2"], c["by2"]),
                ],
                "value": [3.0, 7.0],
            }
        )
    )
    out = vector_zonal_stats(tiles, meta, zones)
    return out.select(
        F.expr("CAST(zone AS BIGINT)").alias("zone"),
        "n_pixels",
        F.expr("CAST(value_sum AS DOUBLE)").alias("value_sum"),
        "value_min",
        "value_max",
    )


def vector_zonal_stats_oracle() -> str:
    c = _RZ
    bs = c["bs"]
    tx0, ty0, ntx, nty = 16, 20, 5, 4
    gx0, gy0 = tx0 * bs, ty0 * bs
    w, h = ntx * bs, nty * bs
    in_a = (
        f"(gx >= {c['ax']} AND gx < {c['bx']} AND gy >= {c['ay']} AND gy < {c['by']})"
    )
    in_b = (
        f"(gx >= {c['ax2']} AND gx < {c['bx2']} AND gy >= {c['ay2']} AND gy < {c['by2']})"
    )
    return f"""
WITH px AS (
  SELECT {gx0} + i % {w} AS gx, {gy0} + i // {w} AS gy,
         CAST((({gx0} + i % {w}) * 3 + ({gy0} + i // {w}) * 5) % 250
              AS DOUBLE) AS v
  FROM (SELECT unnest(range(0, {w * h})) AS i)
), zoned AS (
  SELECT v,
         CASE WHEN {in_b} THEN 7 WHEN {in_a} THEN 3 ELSE 0 END AS zone
  FROM px
)
SELECT CAST(zone AS BIGINT) AS zone,
       CAST(COUNT(*) AS BIGINT) AS n_pixels,
       CAST(SUM(v) AS DOUBLE) AS value_sum,
       MIN(v) AS value_min,
       MAX(v) AS value_max
FROM zoned
WHERE zone > 0
GROUP BY 1
"""


def dem_slope_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEM slope (Horn 3×3, gdaldem semantics) through the strip-based
    halo exchange: a linear ramp has EXACT Horn derivatives, so every
    pixel whose window stays inside the raster carries the constant
    degrees(atan(hypot(3, 4))) and window-clipped pixels are NaN — the
    per-tile valid counts and the constant are closed-form for the
    oracle. Covers strip routing across all interior tile borders (the
    distributed-vs-global equality is pytest-pinned on random data)."""
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.operators.focal import focal_map
    from raquet_spark.operators.tiling import from_pixel_table

    c = _JP
    npx = c["n"] * c["bs"]
    gx0, gy0 = c["tx"] * c["bs"], c["ty"] * c["bs"]
    pix = spark.range(npx * npx).selectExpr(
        f"{gx0} + id % {npx} AS gx",
        f"{gy0} + id DIV {npx} AS gy",
        f"CAST(3 * (id % {npx}) + 4 * (id DIV {npx}) AS DOUBLE) AS band_1",
    )
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type="float64")],
        bounds=(0, 0, 0, 0), width=npx, height=npx,
        block_width=c["bs"], block_height=c["bs"],
        min_zoom=c["zoom"], max_zoom=c["zoom"], compression=None,
    )
    tiles = from_pixel_table(pix, meta, compression=None)
    slope = focal_map(tiles, meta, "slope", cellsize=1.0)
    px = band_pixels(slope, "band_1", "float64").where(~F.isnan("v"))
    return px.groupBy("block").agg(
        F.expr("CAST(COUNT(v) AS BIGINT)").alias("n_valid"),
        F.expr("round(MIN(v), 6)").alias("slope_min"),
        F.expr("round(MAX(v), 6)").alias("slope_max"),
    )


def dem_slope_stats_oracle() -> str:
    c = _JP
    bs, npx = c["bs"], c["n"] * c["bs"]
    gx0, gy0 = c["tx"] * c["bs"], c["ty"] * c["bs"]
    cell = qb.tile_to_cell_sql(
        f"{c['tx']} + (gx - {gx0}) // {bs}",
        f"{c['ty']} + (gy - {gy0}) // {bs}",
        c["zoom"], "duckdb",
    )
    return f"""
WITH px AS (
  SELECT {gx0} + i % {npx} AS gx, {gy0} + i // {npx} AS gy
  FROM (SELECT unnest(range(0, {npx * npx})) AS i)
  WHERE i % {npx} BETWEEN 1 AND {npx - 2}
    AND i // {npx} BETWEEN 1 AND {npx - 2}
)
SELECT {cell} AS block,
       CAST(COUNT(*) AS BIGINT) AS n_valid,
       round(degrees(atan(5.0)), 6) AS slope_min,
       round(degrees(atan(5.0)), 6) AS slope_max
FROM px
GROUP BY 1
"""


def dem_multiband_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-band focal path (r07: n bands riding ONE halo
    exchange) at the driver gate: two linear ramps — 3x+4y and 6x+8y —
    have exact Horn slopes degrees(atan(5)) and degrees(atan(10)) on
    every interior-window pixel, NaN where the window clips, so both
    bands' per-tile valid counts and constants are closed-form. The
    byte-equality of multi-band vs sequential single-band runs is
    pytest-pinned (test_focal.py); this pins the fused path's VALUES
    against an independent oracle."""
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.functions.bands import band_decode
    from raquet_spark.operators.focal import focal_map
    from raquet_spark.operators.tiling import from_pixel_table

    c = _JP
    npx = c["n"] * c["bs"]
    gx0, gy0 = c["tx"] * c["bs"], c["ty"] * c["bs"]
    pix = spark.range(npx * npx).selectExpr(
        f"{gx0} + id % {npx} AS gx",
        f"{gy0} + id DIV {npx} AS gy",
        f"CAST(3 * (id % {npx}) + 4 * (id DIV {npx}) AS DOUBLE) AS band_1",
        f"CAST(6 * (id % {npx}) + 8 * (id DIV {npx}) AS DOUBLE) AS band_2",
    )
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type="float64"),
               BandMeta(name="band_2", type="float64")],
        bounds=(0, 0, 0, 0), width=npx, height=npx,
        block_width=c["bs"], block_height=c["bs"],
        min_zoom=c["zoom"], max_zoom=c["zoom"], compression=None,
    )
    tiles = from_pixel_table(pix, meta, compression=None)
    focal = focal_map(
        tiles, meta, "slope", band=["band_1", "band_2"], cellsize=1.0
    )
    px = (
        focal.select(
            "block",
            band_decode("band_1", "float64").alias("a1"),
            band_decode("band_2", "float64").alias("a2"),
        )
        .select("block", F.expr("explode(arrays_zip(a1, a2))").alias("z"))
        .select(
            "block",
            F.col("z.a1").alias("v1"),
            F.col("z.a2").alias("v2"),
        )
        # window-clipped pixels surface as NULL through arrays_zip
        # (isnan(NULL) is false, so guard both representations)
        .where(F.col("v1").isNotNull() & ~F.isnan("v1"))
    )
    return px.groupBy("block").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_valid"),
        F.expr("round(MIN(v1), 6)").alias("b1_slope_min"),
        F.expr("round(MAX(v1), 6)").alias("b1_slope_max"),
        F.expr("round(MIN(v2), 6)").alias("b2_slope_min"),
        F.expr("round(MAX(v2), 6)").alias("b2_slope_max"),
    )


def dem_multiband_stats_oracle() -> str:
    c = _JP
    bs, npx = c["bs"], c["n"] * c["bs"]
    gx0, gy0 = c["tx"] * c["bs"], c["ty"] * c["bs"]
    cell = qb.tile_to_cell_sql(
        f"{c['tx']} + (gx - {gx0}) // {bs}",
        f"{c['ty']} + (gy - {gy0}) // {bs}",
        c["zoom"], "duckdb",
    )
    return f"""
WITH px AS (
  SELECT {gx0} + i % {npx} AS gx, {gy0} + i // {npx} AS gy
  FROM (SELECT unnest(range(0, {npx * npx})) AS i)
  WHERE i % {npx} BETWEEN 1 AND {npx - 2}
    AND i // {npx} BETWEEN 1 AND {npx - 2}
)
SELECT {cell} AS block,
       CAST(COUNT(*) AS BIGINT) AS n_valid,
       round(degrees(atan(5.0)), 6) AS b1_slope_min,
       round(degrees(atan(5.0)), 6) AS b1_slope_max,
       round(degrees(atan(10.0)), 6) AS b2_slope_min,
       round(degrees(atan(10.0)), 6) AS b2_slope_max
FROM px
GROUP BY 1
"""


def dem_hillshade_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade through the halo machinery on an analytically flat
    surface: zero Horn derivatives everywhere the window is interior,
    so every valid pixel is exactly 255·cos(zenith) and per-tile counts
    and the rounded constant are closed-form for the oracle (same
    interior-window accounting as dem_slope_stats)."""
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.operators.focal import focal_map
    from raquet_spark.operators.tiling import from_pixel_table

    c = _JP
    npx = c["n"] * c["bs"]
    gx0, gy0 = c["tx"] * c["bs"], c["ty"] * c["bs"]
    pix = spark.range(npx * npx).selectExpr(
        f"{gx0} + id % {npx} AS gx",
        f"{gy0} + id DIV {npx} AS gy",
        "CAST(500 AS DOUBLE) AS band_1",
    )
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type="float64")],
        bounds=(0, 0, 0, 0), width=npx, height=npx,
        block_width=c["bs"], block_height=c["bs"],
        min_zoom=c["zoom"], max_zoom=c["zoom"], compression=None,
    )
    tiles = from_pixel_table(pix, meta, compression=None)
    shade = focal_map(tiles, meta, "hillshade", cellsize=1.0, altitude=60.0)
    px = band_pixels(shade, "band_1", "float64").where(~F.isnan("v"))
    return px.groupBy("block").agg(
        F.expr("CAST(COUNT(v) AS BIGINT)").alias("n_valid"),
        F.expr("round(MIN(v), 6)").alias("shade_min"),
        F.expr("round(MAX(v), 6)").alias("shade_max"),
    )


def dem_hillshade_stats_oracle() -> str:
    c = _JP
    bs, npx = c["bs"], c["n"] * c["bs"]
    gx0, gy0 = c["tx"] * c["bs"], c["ty"] * c["bs"]
    cell = qb.tile_to_cell_sql(
        f"{c['tx']} + (gx - {gx0}) // {bs}",
        f"{c['ty']} + (gy - {gy0}) // {bs}",
        c["zoom"], "duckdb",
    )
    return f"""
WITH px AS (
  SELECT {gx0} + i % {npx} AS gx, {gy0} + i // {npx} AS gy
  FROM (SELECT unnest(range(0, {npx * npx})) AS i)
  WHERE i % {npx} BETWEEN 1 AND {npx - 2}
    AND i // {npx} BETWEEN 1 AND {npx - 2}
)
SELECT {cell} AS block,
       CAST(COUNT(*) AS BIGINT) AS n_valid,
       round(255.0 * cos(radians(30.0)), 6) AS shade_min,
       round(255.0 * cos(radians(30.0)), 6) AS shade_max
FROM px
GROUP BY 1
"""


def bpe_segment_words_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train → apply, end to end: learn 12 merges from a fixed
    corpus with the batched distributed trainer, then segment a fixed
    word list (seen suffixes, unseen compounds, out-of-vocab letters)
    with the in-order apply pass. Corpus and words are literals, so the
    expected segmentation is closed-form — the oracle VALUES were
    computed with an independent pure-python Sennrich implementation
    (same one the pytest pins the trainer to), giving the whole
    train→segment chain a hard hash."""
    import pandas as pd
    from pyspark.sql import functions as F

    from raquet_spark.operators.textops import bpe_segment, bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
        "low new wide lower newer",
    ] * 3
    corpus = spark.createDataFrame(pd.DataFrame({"text": texts}))
    merges = bpe_train(corpus, n_merges=12)
    words = spark.createDataFrame(
        pd.DataFrame(
            {"word": ["lowest", "newest", "widest", "lowers", "newlow", "slow", "zq"]}
        )
    )
    return bpe_segment(words, merges).select(
        "word", F.array_join("tokens", " ").alias("tokens_str")
    )


def bpe_segment_words_oracle() -> str:
    # expected tokens from the independent pure-python reference
    # implementation (merges: ew, lo, low, new, er, id, wid, wide,
    # newer, st, est, lower)
    return """
SELECT * FROM (VALUES
  ('lowest', 'low est'),
  ('newest', 'new est'),
  ('widest', 'wide st'),
  ('lowers', 'lower s'),
  ('newlow', 'new low'),
  ('slow', 's low'),
  ('zq', 'z q')
) AS t(word, tokens_str)
"""


def lossy_webp_roundtrip_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP layout round trip, hash-exact by construction: webp tiles
    ride the VP8L LOSSLESS codec (functions/webp.py — pure-python here,
    Pillow lossless=True when PIL exists), so ANY uint8 content — this
    uses a per-pixel mix, not the 8×8-constant JPEG trick — survives
    sequential → interleaved webp → sequential bit-for-bit and the
    per-tile stats match the closed-form oracle. Covers the RIFF/VP8L
    bitstream, subtract-green transform, LZ77 runs and the huffman
    serialization end to end at the driver."""
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.operators.layout import to_interleaved, to_sequential
    from raquet_spark.operators.tiling import from_pixel_table

    c = _JP
    npx = c["n"] * c["bs"]
    gx0, gy0 = c["tx"] * c["bs"], c["ty"] * c["bs"]
    pix = spark.range(npx * npx).selectExpr(
        f"{gx0} + id % {npx} AS gx",
        f"{gy0} + id DIV {npx} AS gy",
        f"CAST((id % {npx} * 3 + id DIV {npx} * 5"
        f" + (id % {npx}) * (id DIV {npx})) % 256 AS DOUBLE) AS band_1",
    )
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type="uint8")],
        bounds=(0, 0, 0, 0), width=npx, height=npx,
        block_width=c["bs"], block_height=c["bs"],
        min_zoom=c["zoom"], max_zoom=c["zoom"], compression=None,
    )
    tiles = from_pixel_table(pix, meta, compression=None)
    inter, meta_i = to_interleaved(tiles, meta, compression="webp")
    back, _meta_s = to_sequential(inter, meta_i, compression=None)
    px = band_pixels(back, "band_1", "uint8")
    return px.groupBy("block").agg(
        F.expr("COUNT(v)").alias("band_1_count"),
        F.expr("CAST(MIN(v) AS DOUBLE)").alias("band_1_min"),
        F.expr("CAST(MAX(v) AS DOUBLE)").alias("band_1_max"),
        F.expr("CAST(SUM(v) AS DOUBLE)").alias("band_1_sum"),
        F.expr("round(AVG(v), 6)").alias("band_1_mean"),
    )


def lossy_webp_roundtrip_stats_oracle() -> str:
    c = _JP
    npx = c["n"] * c["bs"]
    cell = qb.tile_to_cell_sql(
        f"{c['tx']} + (gx - {c['tx'] * c['bs']}) // {c['bs']}",
        f"{c['ty']} + (gy - {c['ty'] * c['bs']}) // {c['bs']}",
        c["zoom"], "duckdb",
    )
    return f"""
WITH px AS (
  SELECT {c['tx'] * c['bs']} + i % {npx} AS gx,
         {c['ty'] * c['bs']} + i // {npx} AS gy,
         CAST((i % {npx} * 3 + i // {npx} * 5
               + (i % {npx}) * (i // {npx})) % 256 AS DOUBLE) AS v
  FROM (SELECT unnest(range(0, {npx * npx})) AS i)
)
SELECT {cell} AS block,
       COUNT(v) AS band_1_count,
       CAST(MIN(v) AS DOUBLE) AS band_1_min,
       CAST(MAX(v) AS DOUBLE) AS band_1_max,
       CAST(SUM(v) AS DOUBLE) AS band_1_sum,
       round(AVG(v), 6) AS band_1_mean
FROM px
GROUP BY 1
"""


def png_media_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The from-scratch PNG codec (functions/png.py — stdlib zlib +
    numpy row filters) at the driver gate, hash-exact by construction:
    ``make_media_table(codec='png')`` encodes deterministic pixels
    (pixel j of image i = (j*37 + i) % 251; dims 32+(i%4)*16 by
    32+((i*3)%4)*16, 3 channels) into real PNG bitstreams on the
    executors, this query decodes them back and aggregates, and the
    oracle computes the same sums closed-form in SQL — lossless codecs
    make the whole container/DEFLATE/filter stack value-checkable."""
    import numpy as np
    import pandas as pd

    from raquet_spark.operators.multimodal import CODECS, make_media_table
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    media = make_media_table(spark, n=48, codec="png")

    def agg(batches):
        dec = CODECS["png"]["decode"]
        for pdf in batches:
            out = {"media_id": [], "n_px": [], "sum_px": [], "min_px": [], "max_px": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = dec(bytes(payload)).astype(np.int64)
                out["media_id"].append(int(mid))
                out["n_px"].append(int(img.size))
                out["sum_px"].append(int(img.sum()))
                out["min_px"].append(int(img.min()))
                out["max_px"].append(int(img.max()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        agg,
        "media_id bigint, n_px bigint, sum_px bigint, min_px bigint, max_px bigint",
    )


def video_frame_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MJPEG/AVI video container (functions/avi.py) at the driver
    gate, hash-exact via the same trick as ``lossy_jpeg_blocky_stats``:
    8x8-constant grayscale frames at quality 100 decode bit-exact
    through the baseline JPEG codec, so per-frame stats of the decoded
    video match a closed-form SQL oracle. Block (x, y) of frame f in
    video i carries (x*7 + y*11 + f*31 + i*13) % 256; 12 videos x 4
    frames x 64x64 px."""
    import numpy as np
    import pandas as pd

    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)

    def gen(batches):
        from raquet_spark.functions.avi import mjpeg_encode

        for pdf in batches:
            payloads = []
            for i in pdf["id"].astype("int64"):
                i = int(i)
                frames = []
                for f in range(4):
                    x, y = np.meshgrid(np.arange(8), np.arange(8))
                    vals = ((x * 7 + y * 11 + f * 31 + i * 13) % 256).astype("u1")
                    frames.append(np.repeat(np.repeat(vals, 8, 0), 8, 1))
                payloads.append(
                    mjpeg_encode(np.stack(frames)[:, :, :, None], quality=100)
                )
            yield pd.DataFrame({"media_id": pdf["id"], "payload": payloads})

    media = spark.range(12, numPartitions=3).mapInPandas(
        gen, "media_id bigint, payload binary"
    )

    def agg(batches):
        from raquet_spark.functions.avi import mjpeg_decode

        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "n_px": [], "sum_px": [],
                   "min_px": [], "max_px": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = mjpeg_decode(bytes(payload)).astype(np.int64)
                for f, img in enumerate(frames):
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(f)
                    out["n_px"].append(int(img.size))
                    out["sum_px"].append(int(img.sum()))
                    out["min_px"].append(int(img.min()))
                    out["max_px"].append(int(img.max()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        agg,
        "media_id bigint, frame_idx bigint, n_px bigint, sum_px bigint, "
        "min_px bigint, max_px bigint",
    )


def video_frame_stats_oracle() -> str:
    return """
WITH vids AS (SELECT unnest(range(0, 12)) AS i),
fr AS (SELECT i, unnest(range(0, 4)) AS f FROM vids),
gx AS (SELECT i, f, unnest(range(0, 8)) AS x FROM fr),
bl AS (SELECT i, f, x, unnest(range(0, 8)) AS y FROM gx),
px AS (SELECT i, f, (x * 7 + y * 11 + f * 31 + i * 13) % 256 AS v FROM bl)
SELECT i AS media_id, f AS frame_idx,
       CAST(64 * COUNT(*) AS BIGINT) AS n_px,
       CAST(64 * SUM(v) AS BIGINT) AS sum_px,
       CAST(MIN(v) AS BIGINT) AS min_px,
       CAST(MAX(v) AS BIGINT) AS max_px
FROM px
GROUP BY 1, 2
"""


def png_media_stats_oracle() -> str:
    return """
WITH dims AS (
  SELECT i, 32 + (i % 4) * 16 AS w, 32 + ((i * 3) % 4) * 16 AS h
  FROM (SELECT unnest(range(0, 48)) AS i)
), px AS (
  SELECT i, (j * 37 + i) % 251 AS v
  FROM (SELECT i, unnest(range(0, w * h * 3)) AS j FROM dims)
)
SELECT i AS media_id,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(v) AS BIGINT) AS sum_px,
       CAST(MIN(v) AS BIGINT) AS min_px,
       CAST(MAX(v) AS BIGINT) AS max_px
FROM px
GROUP BY 1
"""


_RZ = dict(zoom=6, bs=32, ax=16 * 32 + 7, bx=19 * 32 + 21, ay=20 * 32 + 3, by=22 * 32 + 30,
           ax2=18 * 32 + 2, bx2=20 * 32 + 11, ay2=21 * 32 + 9, by2=23 * 32 + 5)

_NC = dict(nlat=40, nlon=60, nt=3, modulo=199, fill=-999, scale=0.5, offset=100.0)


def _cached_netcdf(spark: SparkSession) -> str:
    """Synthetic classic-format NetCDF fixture (record time dim, CF
    units, int16 + scale/offset + _FillValue) written once per app."""
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing import write_netcdf_classic

    key = (spark.sparkContext.applicationId, "netcdf_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _NC
        nlat, nlon, nt = c["nlat"], c["nlon"], c["nt"]
        lats = 37.9875 - 0.025 * np.arange(nlat)
        lons = -122.9875 + 0.025 * np.arange(nlon)
        gy, gx = np.mgrid[0:nlat, 0:nlon]
        data = np.stack(
            [((gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50) for t in range(nt)]
        ).astype("<i2")
        mask = (gx[None] + gy[None] + np.arange(nt)[:, None, None]) % 17 == 0
        data[mask] = c["fill"]
        path = os.path.join(tempfile.mkdtemp(prefix="raquet_q_nc_"), "fix.nc")
        write_netcdf_classic(
            path, lats, lons, data,
            times=np.arange(nt, dtype="f8"),
            time_units="days since 2020-01-01 00:00:00",
            nc_type=3, scale_factor=c["scale"], add_offset=c["offset"],
            fill_value=c["fill"], record_time=True,
        )
        _RASTER_CACHE[key] = path
    return path


def netcdf_ingest_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic-NetCDF ingestion (reference: cli.py:92 converts .nc via
    GDAL + CF time, raster2raquet.py:267): the driver check covers the
    DISTRIBUTED decode path — classic header parse, record-interleaved
    byte-range reads, scale/offset application, raw-space fill masking —
    aggregated per CF time step; the oracle regenerates the pixel
    function relationally. The warp/tiling/time_ts path is pytest-gated
    (tests/test_netcdf.py)."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.netcdf import netcdf_pixel_table, read_netcdf_structure

    c = _NC
    nodata = c["fill"] * c["scale"] + c["offset"]
    nc = read_netcdf_structure(_cached_netcdf(spark))
    px = netcdf_pixel_table(spark, nc, "value")
    return (
        px.where(F.col("band_1") != nodata)
        .groupBy("time_cf")
        .agg(
            F.expr("COUNT(band_1)").alias("n_px"),
            F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
            F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
            F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
            F.expr("round(AVG(band_1), 6)").alias("vmean"),
        )
    )


def netcdf_ingest_stats_oracle() -> str:
    c = _NC
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 17 = 0 THEN NULL
              ELSE ((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50)
                   * {c['scale']} + {c['offset']} END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nlat']})) AS gy),
       (SELECT unnest(range(0, {c['nlon']})) AS gx)
)
SELECT CAST(t AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


# NetCDF-4 fixture shape: chunks that do NOT divide the grid (edge
# cropping on the decode path) plus one never-written chunk whose
# cells read back as fill (HDF5 semantics), written in the heaviest
# container layout (superblock v2, OHDR, dense fractal-heap links and
# attributes, shuffle+deflate+fletcher32).
_NC4 = dict(cy=16, cx=24, skip=(1, 1, 1))


def _cached_netcdf4(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_hdf5 import write_netcdf4

    key = (spark.sparkContext.applicationId, "netcdf4_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _NC
        nlat, nlon, nt = c["nlat"], c["nlon"], c["nt"]
        lats = 37.9875 - 0.025 * np.arange(nlat)
        lons = -122.9875 + 0.025 * np.arange(nlon)
        gy, gx = np.mgrid[0:nlat, 0:nlon]
        data = np.stack(
            [((gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50) for t in range(nt)]
        ).astype("<i2")
        mask = (gx[None] + gy[None] + np.arange(nt)[:, None, None]) % 17 == 0
        data[mask] = c["fill"]
        path = os.path.join(tempfile.mkdtemp(prefix="raquet_q_nc4_"), "fix.nc")
        write_netcdf4(
            path, lats, lons, data,
            times=np.arange(nt, dtype="f8"),
            time_units="days since 2020-01-01 00:00:00",
            nc_type=3, scale_factor=c["scale"], add_offset=c["offset"],
            fill_value=c["fill"],
            chunks=(1, _NC4["cy"], _NC4["cx"]),
            skip_chunks={_NC4["skip"]},
            filters=(("shuffle",), ("deflate", 4), ("fletcher32",)),
            style="latest", dense_links=True, dense_attrs=True,
        )
        _RASTER_CACHE[key] = path
    return path


def netcdf4_ingest_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetCDF-4/HDF5 ingestion (reference: GDAL-based .nc convert,
    cli.py:283,438): drives the from-scratch HDF5 container parse
    (sources/hdf5.py — superblock v2, OHDR, DENSE fractal-heap
    links/attrs, DIMENSION_LIST through the global heap) and the
    DISTRIBUTED chunk decode: B-tree v1 chunk walk, per-chunk
    shuffle+deflate+fletcher32 defilter, edge-chunk cropping, fill
    semantics for a never-written chunk, scale/offset application.
    Aggregated per CF time step against the closed-form oracle; the
    warp/tiling path is pytest-gated (tests/test_hdf5.py)."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.netcdf import (
        netcdf_pixel_table,
        read_netcdf_structure,
    )

    c = _NC
    nodata = c["fill"] * c["scale"] + c["offset"]
    nc = read_netcdf_structure(_cached_netcdf4(spark))
    px = netcdf_pixel_table(spark, nc, "value")
    return (
        px.where(F.col("band_1") != nodata)
        .groupBy("time_cf")
        .agg(
            F.expr("COUNT(band_1)").alias("n_px"),
            F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
            F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
            F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
            F.expr("round(AVG(band_1), 6)").alias("vmean"),
        )
    )


def netcdf4_ingest_stats_oracle() -> str:
    c, c4 = _NC, _NC4
    st, sy, sx = c4["skip"]
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 17 = 0 THEN NULL
              WHEN t = {st} AND gy // {c4['cy']} = {sy}
                   AND gx // {c4['cx']} = {sx} THEN NULL
              ELSE ((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50)
                   * {c['scale']} + {c['offset']} END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nlat']})) AS gy),
       (SELECT unnest(range(0, {c['nlon']})) AS gx)
)
SELECT CAST(t AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


_NC4V = dict(cy=16, cx=24, skip=(0, 2, 1), dead=3, page=4)


def _cached_netcdf4_v4(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_hdf5 import write_netcdf4

    key = (spark.sparkContext.applicationId, "netcdf4_v4_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _NC
        nlat, nlon, nt = c["nlat"], c["nlon"], c["nt"]
        lats = 37.9875 - 0.025 * np.arange(nlat)
        lons = -122.9875 + 0.025 * np.arange(nlon)
        gy, gx = np.mgrid[0:nlat, 0:nlon]
        data = np.stack(
            [((gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50) for t in range(nt)]
        ).astype("<i2")
        mask = (gx[None] + gy[None] + np.arange(nt)[:, None, None]) % 17 == 0
        data[mask] = c["fill"]
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_nc4v4_"), "fix.nc"
        )
        write_netcdf4(
            path, lats, lons, data,
            times=np.arange(nt, dtype="f8"),
            time_units="days since 2020-01-01 00:00:00",
            nc_type=3, scale_factor=c["scale"], add_offset=c["offset"],
            fill_value=c["fill"],
            chunks=(1, _NC4V["cy"], _NC4V["cx"]),
            skip_chunks={_NC4V["skip"]},
            v4_index="fixed_array_paged", dead_pages={_NC4V["dead"]},
            filters=(("shuffle",), ("deflate", 4)),
        )
        _RASTER_CACHE[key] = path
    return path


def netcdf4_v4index_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDF5 1.10+ data-layout v4 ingestion: a PAGED fixed-array chunk
    index (FAHD/FADB, page_bits=2) with one uninitialized page (bitmap
    0 → four chunks fall to fill) plus one skipped chunk (UNDEF
    element address), shuffle+deflate chunks, distributed decode — the
    file shape HDF5 1.10+ writes without 1.8 compatibility (reference
    ingests it via GDAL, cli.py:283). Per-step stats vs the closed-form
    oracle."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.netcdf import (
        netcdf_pixel_table,
        read_netcdf_structure,
    )

    c = _NC
    nodata = c["fill"] * c["scale"] + c["offset"]
    nc = read_netcdf_structure(_cached_netcdf4_v4(spark))
    px = netcdf_pixel_table(spark, nc, "value")
    return (
        px.where(F.col("band_1") != nodata)
        .groupBy("time_cf")
        .agg(
            F.expr("COUNT(band_1)").alias("n_px"),
            F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
            F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
            F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
            F.expr("round(AVG(band_1), 6)").alias("vmean"),
        )
    )


def netcdf4_v4index_stats_oracle() -> str:
    c, v = _NC, _NC4V
    st, sy, sx = v["skip"]
    nxc = -(-c["nlon"] // v["cx"])  # chunks per row
    nyc = -(-c["nlat"] // v["cy"])
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 17 = 0 THEN NULL
              WHEN t = {st} AND gy // {v['cy']} = {sy}
                   AND gx // {v['cx']} = {sx} THEN NULL
              WHEN (t * {nyc * nxc} + (gy // {v['cy']}) * {nxc}
                    + gx // {v['cx']}) // {v['page']} = {v['dead']}
                   THEN NULL
              ELSE ((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50)
                   * {c['scale']} + {c['offset']} END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nlat']})) AS gy),
       (SELECT unnest(range(0, {c['nlon']})) AS gx)
)
SELECT CAST(t AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


_NC4EA = dict(nt=12, cy=16, cx=24, skip=(2, 1, 1), dead=(4, 0))


def _ea_dead_chunks() -> list[int]:
    """Linear chunk ordinals killed by the dead data-block page, from
    the same geometry helper the reader and fixture writer share."""
    from raquet_spark.sources.hdf5 import ea_geometry

    info, _fr, _nd, _ns, _os = ea_geometry(16, 1, 2, 2)
    g, pg = _NC4EA["dead"]
    page_nelmts = 1 << 2
    for ndblks, dblk_nelmts, start_idx, start_dblk in info:
        if start_dblk <= g < start_dblk + ndblks:
            goff = (
                1 + start_idx + (g - start_dblk) * dblk_nelmts
                + pg * page_nelmts
            )
            return list(range(goff, goff + page_nelmts))
    raise ValueError("dead block outside geometry")


def _cached_netcdf4_ea(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_hdf5 import write_netcdf4

    key = (spark.sparkContext.applicationId, "netcdf4_ea_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c, v = _NC, _NC4EA
        nlat, nlon, nt = c["nlat"], c["nlon"], v["nt"]
        lats = 37.9875 - 0.025 * np.arange(nlat)
        lons = -122.9875 + 0.025 * np.arange(nlon)
        gy, gx = np.mgrid[0:nlat, 0:nlon]
        data = np.stack(
            [((gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50) for t in range(nt)]
        ).astype("<i2")
        mask = (gx[None] + gy[None] + np.arange(nt)[:, None, None]) % 17 == 0
        data[mask] = c["fill"]
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_nc4ea_"), "fix.nc"
        )
        write_netcdf4(
            path, lats, lons, data,
            times=np.arange(nt, dtype="f8"),
            time_units="days since 2020-01-01 00:00:00",
            nc_type=3, scale_factor=c["scale"], add_offset=c["offset"],
            fill_value=c["fill"],
            chunks=(1, v["cy"], v["cx"]),
            skip_chunks={v["skip"]},
            v4_index="extensible_paged", dead_pages={v["dead"]},
            filters=(("shuffle",), ("deflate", 4)),
        )
        _RASTER_CACHE[key] = path
    return path


def netcdf4_eaindex_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDF5 1.10+ EXTENSIBLE-ARRAY chunk index ingestion (EAHD/EAIB/
    EASB/EADB) — the index netcdf-c writes for a dataset with an
    UNLIMITED time dimension (appended archives; the r09 #1 real-file
    ingest blocker, reference handles it via GDAL's HDF5 driver,
    cli.py:283 / raster2raquet.py:267). 12 appended time steps × a 3×3
    chunk grid = 108 linear chunks spanning inline index-block
    elements, direct data blocks, real super blocks, and PAGED data
    blocks — with one dead page (4 chunks → fill), one skipped chunk,
    shuffle+deflate, distributed decode. Per-step stats vs the
    closed-form oracle."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.netcdf import (
        netcdf_pixel_table,
        read_netcdf_structure,
    )

    c = _NC
    nodata = c["fill"] * c["scale"] + c["offset"]
    nc = read_netcdf_structure(_cached_netcdf4_ea(spark))
    px = netcdf_pixel_table(spark, nc, "value")
    return (
        px.where(F.col("band_1") != nodata)
        .groupBy("time_cf")
        .agg(
            F.expr("COUNT(band_1)").alias("n_px"),
            F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
            F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
            F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
            F.expr("round(AVG(band_1), 6)").alias("vmean"),
        )
    )


def netcdf4_eaindex_stats_oracle() -> str:
    c, v = _NC, _NC4EA
    st, sy, sx = v["skip"]
    nxc = -(-c["nlon"] // v["cx"])
    nyc = -(-c["nlat"] // v["cy"])
    dead = ", ".join(str(i) for i in _ea_dead_chunks())
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 17 = 0 THEN NULL
              WHEN t = {st} AND gy // {v['cy']} = {sy}
                   AND gx // {v['cx']} = {sx} THEN NULL
              WHEN (t * {nyc * nxc} + (gy // {v['cy']}) * {nxc}
                    + gx // {v['cx']}) IN ({dead}) THEN NULL
              ELSE ((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50)
                   * {c['scale']} + {c['offset']} END AS val
  FROM (SELECT unnest(range(0, {v['nt']})) AS t),
       (SELECT unnest(range(0, {c['nlat']})) AS gy),
       (SELECT unnest(range(0, {c['nlon']})) AS gx)
)
SELECT CAST(t AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


_NC4BT = dict(nt=12, cy=16, cx=24, skip=((2, 1, 1), (7, 0, 2)))


def _cached_netcdf4_bt2(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_hdf5 import write_netcdf4

    key = (spark.sparkContext.applicationId, "netcdf4_bt2_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c, v = _NC, _NC4BT
        nlat, nlon, nt = c["nlat"], c["nlon"], v["nt"]
        lats = 37.9875 - 0.025 * np.arange(nlat)
        lons = -122.9875 + 0.025 * np.arange(nlon)
        gy, gx = np.mgrid[0:nlat, 0:nlon]
        data = np.stack(
            [((gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50) for t in range(nt)]
        ).astype("<i2")
        mask = (gx[None] + gy[None] + np.arange(nt)[:, None, None]) % 17 == 0
        data[mask] = c["fill"]
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_nc4bt2_"), "fix.nc"
        )
        write_netcdf4(
            path, lats, lons, data,
            times=np.arange(nt, dtype="f8"),
            time_units="days since 2020-01-01 00:00:00",
            nc_type=3, scale_factor=c["scale"], add_offset=c["offset"],
            fill_value=c["fill"],
            chunks=(1, v["cy"], v["cx"]),
            skip_chunks=set(v["skip"]),
            v4_index="btree2_deep",
            filters=(("shuffle",), ("deflate", 4)),
        )
        _RASTER_CACHE[key] = path
    return path


def netcdf4_bt2index_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDF5 1.10+ v2-B-TREE chunk index ingestion (BTHD/BTIN/BTLF,
    record types 10/11) — the index written when MORE THAN ONE
    dimension is unlimited. node_size=256 forces a depth-1 tree (root
    internal node + several leaves + separator records) over 108
    filtered chunk records; two skipped chunks have no record and fall
    to fill. Distributed decode, per-step stats vs the closed-form
    oracle."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.netcdf import (
        netcdf_pixel_table,
        read_netcdf_structure,
    )

    c = _NC
    nodata = c["fill"] * c["scale"] + c["offset"]
    nc = read_netcdf_structure(_cached_netcdf4_bt2(spark))
    px = netcdf_pixel_table(spark, nc, "value")
    return (
        px.where(F.col("band_1") != nodata)
        .groupBy("time_cf")
        .agg(
            F.expr("COUNT(band_1)").alias("n_px"),
            F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
            F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
            F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
            F.expr("round(AVG(band_1), 6)").alias("vmean"),
        )
    )


def netcdf4_bt2index_stats_oracle() -> str:
    c, v = _NC, _NC4BT
    skip_pred = " OR ".join(
        f"(t = {st} AND gy // {v['cy']} = {sy} AND gx // {v['cx']} = {sx})"
        for st, sy, sx in v["skip"]
    )
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 17 = 0 THEN NULL
              WHEN {skip_pred} THEN NULL
              ELSE ((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50)
                   * {c['scale']} + {c['offset']} END AS val
  FROM (SELECT unnest(range(0, {v['nt']})) AS t),
       (SELECT unnest(range(0, {c['nlat']})) AS gy),
       (SELECT unnest(range(0, {c['nlon']})) AS gx)
)
SELECT CAST(t AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


_GRB = dict(nt=3, nj=40, ni=60, modulo=199)


def _cached_grib2(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib2

    key = (spark.sparkContext.applicationId, "grib2_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _GRB
        gy, gx = np.mgrid[0 : c["nj"], 0 : c["ni"]]
        fields = []
        # one step per representation template: simple 5.0, complex
        # 5.2, complex + 2nd-order spatial differencing 5.3 — identical
        # values through all three (exact integer packing), so ONE
        # closed-form oracle gates all of them
        packings = [
            {"packing": "simple"},
            {"packing": "complex", "group_len": 23},
            {"packing": "complex_diff", "sd_order": 2, "group_len": 17},
        ]
        for t in range(c["nt"]):
            data = (
                (gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50
            ).astype("f8")
            data[(gx + gy + t) % 17 == 0] = np.nan  # bitmap-missing
            fields.append(
                {"data": data, "forecast_time": t * 6, "param": (0, 0),
                 **packings[t % len(packings)]}
            )
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_grib2_"), "fix.grib2"
        )
        write_grib2(path, fields, lat1=49.0, lon1=0.0, di=0.25, dj=0.25)
        _RASTER_CACHE[key] = path
    return path


def grib2_ingest_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 ingestion (sources/grib2.py — WMO edition 2 from scratch,
    no GDAL/eccodes; the reference converts GRIB through GDAL's driver,
    cli.py:283): 3 forecast steps of a regular lat/lon grid, simple
    packing (5.0), ~1/17 of points bitmap-missing — distributed
    per-message decode, per-step stats vs the closed-form oracle
    (missing points carry NO value in GRIB, so they are absent rows,
    not fill)."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib2(spark))
    px = grib2_pixel_table(spark, g)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib2_ingest_stats_oracle() -> str:
    c = _GRB
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 17 = 0 THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50
                   AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nj']})) AS gy),
       (SELECT unnest(range(0, {c['ni']})) AS gx)
)
SELECT CAST(t * 6 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


def _cached_grib2_lambert(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib2

    key = (spark.sparkContext.applicationId, "grib2_lcc_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _GRB
        gy, gx = np.mgrid[0 : c["nj"], 0 : c["ni"]]
        fields = []
        for t in range(c["nt"]):
            data = (
                (gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50
            ).astype("f8") + 50.0  # non-negative for the PNG channels
            data[(gx + gy + t) % 17 == 0] = np.nan
            fields.append(
                {"data": data, "forecast_time": t * 6, "param": (0, 0),
                 "packing": "png"}
            )
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_grib2lcc_"), "fix.grib2"
        )
        write_grib2(
            path, fields, j_positive=True,
            grid={"type": "lambert", "la1": 35.2, "lo1": -102.1,
                  "dx": 3000.0, "dy": 3000.0, "lad": 38.5, "lov": -97.5,
                  "latin1": 38.5, "latin2": 38.5, "shape": 6},
        )
        _RASTER_CACHE[key] = path
    return path


def grib2_lambert_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 Lambert-conformal grid (template 3.30, the HRRR/NAM
    family) with PNG packing (template 5.41) and a bitmap: the decoded
    pixel table is grid-agnostic, so per-step stats reduce to the same
    closed form as the lat/lon gate — proving the 3.30 parse + 5.41
    decode + south→north scan normalization end-to-end."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib2_lambert(spark))
    px = grib2_pixel_table(spark, g)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib2_lambert_stats_oracle() -> str:
    c = _GRB
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 17 = 0 THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13) % {c['modulo']}
                   AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nj']})) AS gy),
       (SELECT unnest(range(0, {c['ni']})) AS gx)
)
SELECT CAST(t * 6 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


def _cached_grib2_prob(spark: SparkSession) -> str:
    """One GRIB2 exceedance archive: TWO probability thresholds (PDT
    4.9) per forecast step, distinct planted fields per threshold —
    the multi-threshold shape NBM/SREF files carry, which refuses to
    ingest without a threshold selector."""
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib2

    key = (spark.sparkContext.applicationId, "grib2_prob_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _GRB
        gy, gx = np.mgrid[0 : c["nj"], 0 : c["ni"]]
        fields = []
        for t in range(c["nt"]):
            for k, thr in enumerate((254, 508)):  # 25.4 / 50.8 mm
                data = (
                    (gx * 7 + gy * 11 + t * 13 + k * 17) % c["modulo"]
                    - 50
                ).astype("f8")
                data[(gx + 2 * gy + t + k) % 9 == 0] = np.nan
                fields.append({
                    "data": data, "forecast_time": t * 6,
                    "param": (1, 8), "pdt": 9, "prob_number": k,
                    "prob_total": 2, "prob_type": 1,
                    "prob_lower_scale": 1, "prob_lower": thr,
                })
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_grib2prob_"), "fix.grib2"
        )
        write_grib2(path, fields, lat1=49.0, lon1=0.0, di=0.25, dj=0.25)
        _RASTER_CACHE[key] = path
    return path


def grib2_prob_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-threshold SELECTION end-to-end (PDT 4.9, r12): the
    fixture carries TWO exceedance thresholds per step — unselected it
    raises the named collision — and ``threshold=50.8`` must pull
    exactly the k=1 fields (the scaled prob_lower decodes through its
    scale factor), whose stats reduce to the closed form. A wrong or
    ignored selection hash-mismatches because the two planted fields
    differ."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib2_prob(spark))
    px = grib2_pixel_table(spark, g, threshold=50.8)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib2_prob_stats_oracle() -> str:
    c = _GRB
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + 2 * gy + t + 1) % 9 = 0 THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13 + 17)
                   % {c['modulo']} - 50 AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nj']})) AS gy),
       (SELECT unnest(range(0, {c['ni']})) AS gx)
)
SELECT CAST(t * 6 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


def _cached_grib2_stagger8(spark: SparkSession) -> str:
    """One GRIB2 archive on an alternating-Ni staggered grid (flag
    table 3.4 bits 5+8: odd scan rows offset Di/2 and short by one
    point) — the Arakawa-staggered shape the r12/r13 verdicts carried
    as the last conformance-testable GRIB2 decode gap."""
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib2

    key = (spark.sparkContext.applicationId, "grib2_stagger8_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _GRB
        gy, gx = np.mgrid[0 : c["nj"], 0 : c["ni"]]
        fields = []
        for t in range(c["nt"]):
            data = (
                (gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50
            ).astype("f8")
            # default scan is north->south, so normalized row gy IS the
            # scan row: WMO 1-based odd rows = gy % 2 == 0 are offset
            # and carry Ni-1 points (NaN pad = not a point)
            data[::2, c["ni"] - 1] = np.nan
            fields.append({"data": data, "forecast_time": t * 6})
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_grib2st8_"), "fix.grib2"
        )
        write_grib2(path, fields, lat1=49.0, lon1=0.0, di=0.25,
                    dj=0.25, stagger=0x09)
        _RASTER_CACHE[key] = path
    return path


def grib2_stagger8_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternating-Ni decode end-to-end (scan-mode bit 8, r14): odd
    scan rows carry Ni-1 points at the parent spacing shifted Di/2 —
    the packed stream is RAGGED, so a reader that assumes Ni*Nj points
    mis-frames every row after the first and hash-mismatches. Stats
    are per forecast step over the pixel table (the ragged scatter);
    the half-cell geometry is pinned by the closed-form equivalences
    in tests/test_grib2.py::test_alternating_ni_rows."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib2_stagger8(spark))
    px = grib2_pixel_table(spark, g)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib2_stagger8_stats_oracle() -> str:
    c = _GRB
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN gy % 2 = 0 AND gx = {c['ni'] - 1} THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13)
                   % {c['modulo']} - 50 AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nj']})) AS gy),
       (SELECT unnest(range(0, {c['ni']})) AS gx)
)
SELECT CAST(t * 6 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


def _cached_grib2_mvm(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib2

    key = (spark.sparkContext.applicationId, "grib2_mvm_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _GRB
        gy, gx = np.mgrid[0 : c["nj"], 0 : c["ni"]]
        # one step per (packing, mvm) combination: 5.2 primary-only,
        # 5.3 primary-only, 5.3 primary+secondary — identical values
        # and missing sets through all three, so ONE closed-form
        # oracle gates them (secondary-vs-primary kind does not change
        # the output contract: both are absent rows)
        variants = [
            {"packing": "complex", "mvm": 1, "group_len": 23},
            {"packing": "complex_diff", "mvm": 1, "sd_order": 2,
             "group_len": 17},
            {"packing": "complex_diff", "mvm": 2, "sd_order": 1,
             "group_len": 16},
        ]
        fields = []
        for t in range(c["nt"]):
            data = (
                (gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50
            ).astype("f8")
            miss = ((gx + gy + t) % 13 == 0) | (gy == 5)  # + a full row
            data[miss] = np.nan
            f = {"data": data, "forecast_time": t * 6, "param": (0, 0),
                 **variants[t % len(variants)]}
            if f["mvm"] == 2:
                f["secondary"] = miss & ((gx + t) % 2 == 0)
            fields.append(f)
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_grib2mvm_"), "fix.grib2"
        )
        write_grib2(path, fields, lat1=49.0, lon1=0.0, di=0.25, dj=0.25)
        _RASTER_CACHE[key] = path
    return path


def _cached_grib2_grids(spark: SparkSession) -> str:
    """One fixture per exotic grid template: 3.1 rotated lat/lon
    (COSMO-like pole) and 3.40 regular Gaussian (regional slice,
    row0=7 of N=32) — same closed-form values/missing sets, written as
    TWO files keyed by tag."""
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib2

    key = (spark.sparkContext.applicationId, "grib2_grids_fix")
    paths = _RASTER_CACHE.get(key)
    if paths is None:
        c = _GRB
        gy, gx = np.mgrid[0 : c["nj"], 0 : c["ni"]]
        d = tempfile.mkdtemp(prefix="raquet_q_grib2grids_")

        def fields(packing_kwargs):
            out = []
            for t in range(c["nt"]):
                data = (
                    (gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50
                ).astype("f8")
                data[(gx + 2 * gy + t) % 11 == 0] = np.nan
                out.append({"data": data, "forecast_time": t * 6,
                            "param": (0, 0), **packing_kwargs})
            return out

        rot = os.path.join(d, "rot.grib2")
        write_grib2(
            rot, fields({"packing": "complex_diff", "sd_order": 2,
                         "group_len": 19}),
            lat1=6.5, lon1=-8.0, di=0.5, dj=0.5, j_positive=True,
            grid={"type": "rotated", "lat_sp": -40.0, "lon_sp": 10.0},
        )
        gau = os.path.join(d, "gau.grib2")
        write_grib2(
            gau, fields({"packing": "complex", "group_len": 21}),
            lon1=0.0, di=360.0 / c["ni"],
            grid={"type": "gauss", "n": 32, "row0": 7},
        )
        rotg = os.path.join(d, "rotg.grib2")
        write_grib2(
            rotg, fields({"packing": "complex_diff", "sd_order": 1,
                          "group_len": 17}),
            lat1=6.5, lon1=-8.0, di=0.5, dj=0.5, j_positive=True,
            grid={"type": "rotated", "lat_sp": -40.0, "lon_sp": 10.0,
                  "angle": 25.0},
        )
        paths = {"rot": rot, "gau": gau, "rotg": rotg}
        _RASTER_CACHE[key] = paths
    return paths


def _grib2_grid_stats(spark: SparkSession, tag: str) -> DataFrame:
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib2_grids(spark)[tag])
    px = grib2_pixel_table(spark, g)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib2_rotated_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 rotated lat/lon grid (template 3.1, the COSMO/HARMONIE
    family; rotation convention pinned against the public COSMO
    example in tests/test_grib2.py): south-pole octets parse, rotated
    scan normalization (j_positive file), 5.3 packing + bitmap ride
    along — per-step stats vs the closed form."""
    return _grib2_grid_stats(spark, "rot")


def grib2_rotangle_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 rotated lat/lon with a NONZERO angle of rotation
    (template 3.1 octets 73-76 — HARMONIE-style grids; the r11 typed
    gate is gone): polgam parses as the +gam rotated-longitude
    substitution of the published COSMO phirot2phi/rlarot2rla
    formulation, conversion equivalence (angle=g file == angle=0 file
    with shifted rotated longitudes, byte-identical tiles) is pinned
    in tests/test_grib2.py; 5.3(order 1) packing + bitmap ride along —
    per-step stats vs the closed form."""
    return _grib2_grid_stats(spark, "rotg")


def grib2_gaussian_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 regular Gaussian grid (template 3.40, ECMWF-native
    output): N parses from the Dj slot, la1/la2 locate the regional
    slice (rows 7..46 of N=32) among the 2N Legendre abscissae —
    a wrong slice or wrong nj is a typed error, so the hash gate
    proves the Gaussian-latitude selection; 5.2 packing + bitmap ride
    along."""
    return _grib2_grid_stats(spark, "gau")


def grib2_grid_stats_oracle() -> str:
    c = _GRB
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + 2 * gy + t) % 11 = 0 THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50
                   AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nj']})) AS gy),
       (SELECT unnest(range(0, {c['ni']})) AS gx)
)
SELECT CAST(t * 6 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


def grib2_mvm_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 complex-packing missing-value management (templates
    5.2/5.3 octet 23 — NCEP precipitation/radar fields embed missing
    points IN the packed groups instead of carrying a bitmap; the
    reference reads such files through GDAL's GRIB driver, cli.py:283):
    three steps covering 5.2+mvm1, 5.3(order 2)+mvm1 and 5.3(order 1)
    +mvm2 with secondary markers, whole-row missing runs (width-0
    all-ones group references) and scattered in-group markers. Missing
    points are ABSENT rows (same contract as the bitmap path), so the
    per-step stats reduce to the closed form."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib2_mvm(spark))
    px = grib2_pixel_table(spark, g)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib2_mvm_stats_oracle() -> str:
    c = _GRB
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 13 = 0 OR gy = 5 THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50
                   AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nj']})) AS gy),
       (SELECT unnest(range(0, {c['ni']})) AS gx)
)
SELECT CAST(t * 6 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


_GRB_RED = dict(n_par=12, modulo=199)  # nj = 24 ragged rows


def _grb_red_pl() -> list[int]:
    nj = 2 * _GRB_RED["n_par"]
    return [20 + 4 * min(j, nj - 1 - j) for j in range(nj)]


def _cached_grib2_reduced(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib2

    key = (spark.sparkContext.applicationId, "grib2_red_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _GRB_RED
        pl = _grb_red_pl()
        nj, ni = len(pl), max(pl)
        fields = []
        for t in range(3):
            rect = np.full((nj, ni), np.nan)
            for j in range(nj):
                k = np.arange(pl[j])
                vals = (k * 7 + j * 11 + t * 13) % c["modulo"] - 50
                vals = np.where((k + j + t) % 15 == 0, np.nan, vals)
                rect[j, : pl[j]] = vals
            fields.append(
                {"data": rect, "forecast_time": t * 6, "param": (0, 0),
                 "packing": ["simple", "complex",
                             "complex_diff"][t % 3],
                 "group_len": 19, "sd_order": 2}
            )
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_grib2red_"), "fix.grib2"
        )
        write_grib2(
            path, fields, lon1=0.0, di=360.0 / ni,
            grid={"type": "gauss_reduced", "n": c["n_par"], "pl": pl},
        )
        _RASTER_CACHE[key] = path
    return path


def grib2_reduced_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 REDUCED (quasi-regular) Gaussian grid (template 3.40 with
    the points-per-row list — the ECMWF operational O-grid family;
    the reference reads these via GDAL's GRIB driver, cli.py:283):
    24 ragged rows (20..64 points, octahedral-style), three steps
    cycling simple/complex/complex+diff packings, a bitmap over the
    concatenated point stream. The pl-sum and abscissa checks make a
    wrong slice a typed error, so the hash gate proves the ragged
    decode end-to-end."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib2_reduced(spark))
    px = grib2_pixel_table(spark, g)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib2_reduced_stats_oracle() -> str:
    c = _GRB_RED
    pl_rows = ", ".join(
        f"({j}, {n})" for j, n in enumerate(_grb_red_pl())
    )
    return f"""
WITH pl(gy, n) AS (VALUES {pl_rows}),
grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + gy + t) % 15 = 0 THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50
                   AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, 3)) AS t),
       pl, LATERAL (SELECT unnest(range(0, n)) AS gx) g
)
SELECT CAST(t * 6 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


def _cached_grib1(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib1

    key = (spark.sparkContext.applicationId, "grib1_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _GRB
        gy, gx = np.mgrid[0 : c["nj"], 0 : c["ni"]]
        fields = []
        for t in range(c["nt"]):
            data = (
                (gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50
            ).astype("f8")
            data[(2 * gx + gy + t) % 19 == 0] = np.nan  # BMS bitmap
            fields.append(
                {"data": data, "forecast_time": t * 6, "param": 11}
            )
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_grib1_"), "fix.grib1"
        )
        write_grib1(path, fields, lat1=49.0, lon1=0.0, di=0.25, dj=0.25)
        _RASTER_CACHE[key] = path
    return path


def _grb1_qll_pl() -> list[int]:
    # symmetric thinned rows, 9..37 points
    return [9 + 4 * min(j, 15 - j) for j in range(16)]


def _cached_grib1_qll(spark: SparkSession) -> str:
    import os
    import tempfile

    import numpy as np

    from raquet_spark.testing_grib2 import write_grib1

    key = (spark.sparkContext.applicationId, "grib1_qll_fix")
    path = _RASTER_CACHE.get(key)
    if path is None:
        c = _GRB
        pl = _grb1_qll_pl()
        nj, ni = len(pl), max(pl)
        gy, gx = np.mgrid[0:nj, 0:ni]
        fields = []
        for t in range(2):
            data = (
                (gx * 7 + gy * 11 + t * 13) % c["modulo"] - 50
            ).astype("f8")
            data[(gx + 2 * gy + t) % 13 == 0] = np.nan  # BMS bitmap
            for j in range(nj):  # ragged: pad past each row's pl
                data[j, pl[j]:] = np.nan
            fields.append(
                {"data": data, "forecast_time": t * 12, "param": 11}
            )
        path = os.path.join(
            tempfile.mkdtemp(prefix="raquet_q_grib1qll_"), "fix.grib1"
        )
        write_grib1(
            path, fields, lat1=50.0, lon1=-12.0,
            di=24.0 / (ni - 1), dj=0.5,
            grid={"type": "latlon_reduced", "pl": pl},
        )
        _RASTER_CACHE[key] = path
    return path


def grib1_qll_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB1 QUASI-REGULAR (thinned) lat/lon (the r11 typed gate —
    old ECMWF/DWD archives; the reference reads them via GDAL's GRIB
    driver, cli.py:283): 16 ragged rows (9..37 points spanning
    lon1..lon2 inclusive, affine latitudes), a BMS bitmap over the
    concatenated point stream, 2 forecast steps. The PL list rides
    after the GDS fixed part (NV-offset rules shared with the reduced
    Gaussian path); per-step stats reduce to the closed form."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib1_qll(spark))
    px = grib2_pixel_table(spark, g)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib1_qll_stats_oracle() -> str:
    c = _GRB
    pl_rows = ", ".join(
        f"({j}, {n})" for j, n in enumerate(_grb1_qll_pl())
    )
    return f"""
WITH pl(gy, n) AS (VALUES {pl_rows}),
grid AS (
  SELECT t, gy, gx,
         CASE WHEN (gx + 2 * gy + t) % 13 = 0 THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50
                   AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, 2)) AS t),
       pl, LATERAL (SELECT unnest(range(0, n)) AS gx) g
)
SELECT CAST(t * 12 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


def grib1_ingest_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB EDITION 1 (the legacy format ERA-40-era and national
    archives still carry; the reference reads it via GDAL's GRIB
    driver, cli.py:283): 3 forecast steps, IBM370-float reference
    value, 3-byte sign-magnitude millidegree coordinates, BMS bitmaps
    — parsed by the edition-1 walker and NORMALIZED into the same
    message dict the edition-2 pipeline consumes, so stats reduce to
    the closed form through the shared distributed decode."""
    from pyspark.sql import functions as F

    from raquet_spark.sources.grib2 import (
        grib2_pixel_table,
        read_grib2_structure,
    )

    g = read_grib2_structure(_cached_grib1(spark))
    px = grib2_pixel_table(spark, g)
    return px.groupBy("time_cf").agg(
        F.expr("COUNT(band_1)").alias("n_px"),
        F.expr("CAST(MIN(band_1) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(MAX(band_1) AS DOUBLE)").alias("vmax"),
        F.expr("CAST(SUM(band_1) AS DOUBLE)").alias("vsum"),
        F.expr("round(AVG(band_1), 6)").alias("vmean"),
    )


def grib1_ingest_stats_oracle() -> str:
    c = _GRB
    return f"""
WITH grid AS (
  SELECT t, gy, gx,
         CASE WHEN (2 * gx + gy + t) % 19 = 0 THEN NULL
              ELSE CAST((gx * 7 + gy * 11 + t * 13) % {c['modulo']} - 50
                   AS DOUBLE) END AS val
  FROM (SELECT unnest(range(0, {c['nt']})) AS t),
       (SELECT unnest(range(0, {c['nj']})) AS gy),
       (SELECT unnest(range(0, {c['ni']})) AS gx)
)
SELECT CAST(t * 6 AS DOUBLE) AS time_cf,
       COUNT(val) AS n_px,
       CAST(MIN(val) AS DOUBLE) AS vmin,
       CAST(MAX(val) AS DOUBLE) AS vmax,
       CAST(SUM(val) AS DOUBLE) AS vsum,
       round(AVG(val), 6) AS vmean
FROM grid
GROUP BY t
"""


_QCF_SENT = {"pos": "qsentinelgood", "neg": "qsentinelbad"}


def quality_classifier_filter_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the classifier-filter step of
    public LLM pipelines — a linear scorer over hashed bag-of-words, the
    fastText/DCLM/FineWeb-Edu recipe): TRAINS full-batch logistic
    regression (operators/textops — driver GD on one Arrow collect
    under ``LOCAL_FIT_BYTES``, distributed map-only GD above it) and
    SCORES map-only. The driver gate plants a mirror-pair corpus:
    every document gets a positive twin (quality-marker sentinel token
    appended) and a negative twin (junk-marker sentinel) — near-exact
    gradient symmetry makes GD provably separate the pair (the twins
    differ only in the two sentinel buckets), so predicted labels equal
    the planted labels and the per-source prediction counts are
    closed-form."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from raquet_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    # Featurize counts ONCE over the base corpus (xxhash64 buckets,
    # the label and the rollup key carried through the count agg):
    # both twins share the base text and differ from it by exactly six
    # occurrences of their sentinel token, so each twin's count vector
    # is the base row plus 6.0 in its sentinel's bucket — a
    # constant-folded term per column (+0.0 elsewhere; counts are never
    # -0.0), bit-identical to counting the twin text. keep_tokenless: a
    # twin always carries its sentinel tokens, so a base doc with zero
    # tokens still yields two twins.
    base = textops._hashed_counts(
        docs, dim=64, hash_fn="xxhash64", carry_cols=("source",),
        keep_tokenless=True,
    )

    def featurize(base: DataFrame) -> DataFrame:
        def twin(sentinel: str, y: float) -> DataFrame:
            cols = [
                f"c{i} + IF(pmod(xxhash64('{sentinel}'), 64) = {i},"
                f" 6.0D, 0.0D) AS c{i}"
                for i in range(64)
            ]
            return base.selectExpr(
                "doc_id", "source", f"CAST({y} AS DOUBLE) AS y", *cols,
            )

        counts = twin(_QCF_SENT["pos"], 1.0).unionByName(
            twin(_QCF_SENT["neg"], 0.0)
        )
        return textops._normalize_counts(counts, 64, carry_cols=("y", "source"))

    def tally(feats: DataFrame, w: list[float]) -> DataFrame:
        scored = textops.score_quality_classifier(feats, w, keep_cols=("source",))
        out = scored.groupBy("source", "label_pred").agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs")
        )
        # the (sources x 2)-row tally enters the returned plan as a JVM
        # LocalRelation, so nothing it reads must outlive this call
        return spark.createDataFrame(out.toArrow(), schema=out.schema)

    # n_iter 4: 3 iterations already classify every twin (min |margin|
    # 0.24 at sf0.1), 4 is the 2x-safety point (0.31)
    n_iter, lr = 4, 4.0
    # two twins per document: the row bound comes from the parquet
    # footer, with no Spark job
    n_max = 2 * pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    if n_max * 64 * 8 <= textops.LOCAL_FIT_BYTES:
        # one collect feeds both the fit and the scoring
        t = featurize(base).select("doc_id", "embedding", "y", "source").toArrow()
        X, y = textops._arrow_xy(t, "embedding", "y", 64)
        return tally(spark.createDataFrame(t), textops._fit_local(X, y, n_iter, lr))
    base = base.persist()
    try:
        feats = featurize(base)
        w = textops.train_quality_classifier(feats, None, dim=64, n_iter=n_iter, lr=lr)
        return tally(feats, w)
    finally:
        base.unpersist()


def quality_classifier_filter_oracle() -> str:
    return """
SELECT source, CAST(l AS INTEGER) AS label_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents CROSS JOIN (VALUES (0), (1)) AS t(l)
GROUP BY source, l
"""


def _region_cells() -> list[int]:
    r = _R
    return sorted(
        qb.py_tile_to_cell(r["tx"] + dx, r["ty"] + dy, r["zoom"])
        for dx in range(2) for dy in range(2)
    )


def region_stats_oracle() -> str:
    cells = ", ".join(str(c) for c in _region_cells())
    return _duck_pixels() + f"""
SELECT COUNT(val) AS count,
       CAST(MIN(val) AS DOUBLE) AS min, CAST(MAX(val) AS DOUBLE) AS max,
       CAST(SUM(val) AS DOUBLE) AS sum,
       round(AVG(val), 6) AS mean, round(stddev_pop(val), 6) AS stddev
FROM vals WHERE block IN ({cells})
"""


def region_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from raquet_spark.operators.region_stats import region_stats as rs

    stats, meta = _make_raster_stats(spark)
    r = _R
    w, s, _, _ = qb.py_cell_to_bounds(qb.py_tile_to_cell(r["tx"], r["ty"] + 1, r["zoom"]))
    _, _, e, n = qb.py_cell_to_bounds(qb.py_tile_to_cell(r["tx"] + 1, r["ty"], r["zoom"]))
    pad_x, pad_y = (e - w) * 0.05, (n - s) * 0.05
    bbox = (w + pad_x, s + pad_y, e - pad_x, n - pad_y)
    out = rs(stats, meta, bbox, band="band_1", resolution="max")
    return out.select(
        "count", "min", "max", "sum",
        F.round("mean", 6).alias("mean"), F.round("stddev", 6).alias("stddev"),
    )


def _tile_rect_bbox(dx: int, dy: int, w: int, h: int) -> tuple[float, float, float, float]:
    """WGS84 bbox covering the w×h tile rectangle at offset (dx, dy)
    inside the synthetic raster, padded inward 5% of a tile so
    edge-touching neighbor tiles are excluded from the cover."""
    r = _R
    ww, s, _, _ = qb.py_cell_to_bounds(
        qb.py_tile_to_cell(r["tx"] + dx, r["ty"] + dy + h - 1, r["zoom"])
    )
    _, _, e, n = qb.py_cell_to_bounds(
        qb.py_tile_to_cell(r["tx"] + dx + w - 1, r["ty"] + dy, r["zoom"])
    )
    pad_x, pad_y = (e - ww) / w * 0.05, (n - s) / h * 0.05
    return (ww + pad_x, s + pad_y, e - pad_x, n - pad_y)


_ZONES = [("nw", (0, 0)), ("ne", (2, 0)), ("sw", (0, 2)), ("se", (2, 2))]


def zonal_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from raquet_spark.operators.region_stats import zonal_stats

    stats, meta = _make_raster_stats(spark)
    zones = [(zid, _tile_rect_bbox(dx, dy, 2, 2)) for zid, (dx, dy) in _ZONES]
    out = zonal_stats(stats, meta, zones, band="band_1", resolution="max")
    return out.select(
        "zone_id", "count", "min", "max", "sum",
        F.round("mean", 6).alias("mean"), F.round("stddev", 6).alias("stddev"),
    )


def zonal_stats_oracle() -> str:
    r = _R
    cases = []
    for zid, (dx, dy) in _ZONES:
        cells = sorted(
            qb.py_tile_to_cell(r["tx"] + dx + i, r["ty"] + dy + j, r["zoom"])
            for i in range(2) for j in range(2)
        )
        cases.append(f"WHEN block IN ({', '.join(str(c) for c in cells)}) THEN '{zid}'")
    zone = "CASE " + " ".join(cases) + " END"
    return _duck_pixels() + f"""
SELECT zone_id, COUNT(val) AS count,
       CAST(MIN(val) AS DOUBLE) AS min, CAST(MAX(val) AS DOUBLE) AS max,
       CAST(SUM(val) AS DOUBLE) AS sum,
       round(AVG(val), 6) AS mean, round(stddev_pop(val), 6) AS stddev
FROM (SELECT {zone} AS zone_id, val FROM vals) z
WHERE zone_id IS NOT NULL
GROUP BY zone_id
"""


def _full_raster_bbox() -> tuple[float, float, float, float]:
    """Bbox covering every tile of the synthetic raster, padded inward
    5% of a tile so edge-touching neighbors are excluded."""
    r = _R
    w, s, _, _ = qb.py_cell_to_bounds(
        qb.py_tile_to_cell(r["tx"], r["ty"] + r["ny"] - 1, r["zoom"])
    )
    _, _, e, n = qb.py_cell_to_bounds(
        qb.py_tile_to_cell(r["tx"] + r["nx"] - 1, r["ty"], r["zoom"])
    )
    pad_x = (e - w) / r["nx"] * 0.05
    pad_y = (n - s) / r["ny"] * 0.05
    return (w + pad_x, s + pad_y, e - pad_x, n - pad_y)


_SUIT_THRESHOLD = 125.0


def _query_polygon() -> list[tuple[float, float]]:
    """Irregular pentagon inside the synthetic raster (vertices at
    non-grid-aligned offsets so no pixel center sits on an edge)."""
    w, s, e, n = _full_raster_bbox()
    dw, dh = e - w, n - s
    return [
        (w + 0.13 * dw, s + 0.21 * dh),
        (w + 0.83 * dw, s + 0.17 * dh),
        (w + 0.91 * dw, s + 0.63 * dh),
        (w + 0.47 * dw, s + 0.89 * dh),
        (w + 0.08 * dw, s + 0.55 * dh),
    ]


def region_stats_polygon_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference benchmark Query A: exact pixel-masked stats within a
    polygon (scripts/benchmark.py:114-131)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.region_stats import region_stats_polygon

    stats, meta = _make_raster_stats(spark)
    out = region_stats_polygon(
        stats, meta, _query_polygon(), band="band_1", resolution="max"
    )
    return out.select(
        "count", "min", "max", "sum",
        F.round("mean", 6).alias("mean"), F.round("stddev", 6).alias("stddev"),
    )


def region_stats_polygon_oracle() -> str:
    from raquet_spark.functions import geom

    r = _R
    n_px = float((1 << r["zoom"]) * r["bs"])
    verts = geom.poly_to_fractions(_query_polygon())
    inside = geom.point_in_poly_sql(
        f"((gx + 0.5) / {n_px!r})", f"((gy + 0.5) / {n_px!r})", verts
    )
    cell = qb.tile_to_cell_sql("tx", "ty", r["zoom"], "duckdb")
    return f"""
WITH grid AS (
  SELECT {r['tx']} + i % {r['nx']} AS tx, {r['ty']} + i // {r['nx']} AS ty
  FROM (SELECT unnest(range(0, {r['nx'] * r['ny']})) AS i)
), px AS (
  SELECT tx, ty, tx * {r['bs']} + x AS gx, ty * {r['bs']} + y AS gy
  FROM grid,
       (SELECT unnest(range(0, {r['bs']})) AS x),
       (SELECT unnest(range(0, {r['bs']})) AS y)
), vals AS (
  SELECT {cell} AS block,
         CASE WHEN (gx + gy) % {r['nodata_every']} = 0 THEN NULL
              ELSE CAST((gx * 31 + gy * 17 + {r['seed']}) % {r['modulo']} AS DOUBLE)
         END AS val
  FROM px WHERE {inside}
)
SELECT COUNT(val) AS count,
       CAST(MIN(val) AS DOUBLE) AS min, CAST(MAX(val) AS DOUBLE) AS max,
       CAST(SUM(val) AS DOUBLE) AS sum,
       round(AVG(val), 6) AS mean, round(stddev_pop(val), 6) AS stddev
FROM vals
"""


def suitable_cells_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference benchmark Query B: count cells whose per-tile mean is
    below a threshold within a search area (scripts/benchmark.py:158)."""
    from raquet_spark.operators.region_stats import suitable_cells

    stats, meta = _make_raster_stats(spark)
    return suitable_cells(
        stats, meta, _full_raster_bbox(), band="band_1",
        threshold=_SUIT_THRESHOLD, resolution="max",
    )


def suitable_cells_oracle() -> str:
    return _duck_pixels() + f"""
, per_tile AS (
  SELECT block, AVG(val) AS mean_val FROM vals GROUP BY block
)
SELECT COUNT(*) AS total_cells,
       COUNT(*) FILTER (WHERE mean_val < {_SUIT_THRESHOLD}) AS suitable_cells,
       round(COUNT(*) FILTER (WHERE mean_val < {_SUIT_THRESHOLD}) * 100.0
             / COUNT(*), 1) AS pct_suitable
FROM per_tile
"""


def suitable_cells_detail_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference benchmark Query B detail: top-N most suitable cells
    with stats (scripts/benchmark.py:205)."""
    from raquet_spark.operators.region_stats import suitable_cells_detail

    stats, meta = _make_raster_stats(spark)
    return suitable_cells_detail(
        stats, meta, _full_raster_bbox(), band="band_1",
        threshold=_SUIT_THRESHOLD, limit=5, resolution="max",
    )


def suitable_cells_detail_oracle() -> str:
    return _duck_pixels() + f"""
, per_tile AS (
  SELECT block,
         round(AVG(val), 6) AS mean_val,
         CAST(MAX(val) AS DOUBLE) AS max_val,
         COUNT(val) AS pixel_count
  FROM vals GROUP BY block
)
SELECT block, mean_val, max_val, pixel_count
FROM per_tile
WHERE mean_val < {_SUIT_THRESHOLD} AND pixel_count > 0
ORDER BY mean_val ASC, block ASC
LIMIT 5
"""


def raster_histogram_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-bucket global histogram — rows-only check (binary decode path)."""
    from pyspark.sql import functions as F

    from raquet_spark.functions.bands import band_decode

    tiles, meta = _make_raster(spark)
    decoded = tiles.select(band_decode("band_1", "float32").alias("vals"))
    exploded = decoded.select(F.explode("vals").alias("v")).where(F.col("v") != -1.0)
    lo, hi, buckets = 0.0, 251.0, 256
    return (
        exploded.withColumn(
            "bucket",
            F.least(F.floor((F.col("v") - lo) / (hi - lo) * buckets).cast("int"), F.lit(buckets - 1)),
        )
        .groupBy("bucket").agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


def pyramid_stats_rollup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style stats pyramid: per-tile stats rolled up to the
    zoom-5 ancestor with pure columnar aggregation — the decode-free way
    overview statistics are maintained at 100 TB (pixels are only
    touched by the separate mosaic path, operators/pyramid.py)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats

    tiles, meta = _make_raster(spark)
    stats = with_tile_stats(tiles, meta)
    parent = qb.cell_to_parent_sql("block", 5, "spark")
    return (
        stats.withColumn("parent", F.expr(parent))
        .groupBy("parent")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("band_1_count").alias("n_pixels"),
            F.min("band_1_min").alias("min_val"),
            F.max("band_1_max").alias("max_val"),
            F.sum("band_1_sum").alias("sum_val"),
        )
    )


def pyramid_stats_rollup_oracle() -> str:
    parent = qb.cell_to_parent_sql("block", 5, "duckdb")
    return _duck_pixels() + f"""
, per_tile AS (
  SELECT block, COUNT(val) AS cnt, MIN(val) AS mn, MAX(val) AS mx,
         SUM(val) AS sm
  FROM vals GROUP BY block
)
SELECT {parent} AS parent, COUNT(*) AS n_tiles, CAST(SUM(cnt) AS BIGINT) AS n_pixels,
       CAST(MIN(mn) AS DOUBLE) AS min_val, CAST(MAX(mx) AS DOUBLE) AS max_val,
       CAST(SUM(sm) AS DOUBLE) AS sum_val
FROM per_tile GROUP BY parent
"""


def tile_stats_interleaved_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile stats routed through the interleaved (BIP `pixels`)
    layout: sequential → interleaved → sequential → stats. The oracle is
    the plain stats oracle, so any byte-shuffling bug in the layout
    codecs (spec §Band Interleaved by Pixel) breaks the value hash."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.layout import to_interleaved, to_sequential
    from raquet_spark.operators.tile_stats import with_tile_stats

    tiles, meta = _make_raster(spark)
    inter, imeta = to_interleaved(tiles, meta)
    seq, smeta = to_sequential(inter, imeta)
    stats = with_tile_stats(seq, smeta)
    return stats.select(
        "block",
        "band_1_count", "band_1_min", "band_1_max", "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


_R8 = dict(_R, seed=99, modulo=199)


def tile_stats_uint8_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats over a uint8 raster with an integer nodata (spec: integer
    band types use exact nodata matching, no NaN semantics)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.testing import make_synthetic_raster

    r = _R8
    tiles, meta = _cached_raquet(
        spark, "u8",
        lambda: make_synthetic_raster(
            spark, zoom=r["zoom"], tiles_x=r["nx"], tiles_y=r["ny"],
            origin_x=r["tx"], origin_y=r["ty"], block_size=r["bs"],
            num_bands=1, dtype="uint8", seed=r["seed"], modulo=r["modulo"],
            nodata=7.0, nodata_every=r["nodata_every"],
        ),
    )
    stats = with_tile_stats(tiles, meta)
    return stats.select(
        "block",
        "band_1_count", "band_1_min", "band_1_max", "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def tile_stats_uint8_oracle() -> str:
    r = _R8
    cell = qb.tile_to_cell_sql("tx", "ty", r["zoom"], "duckdb")
    return f"""
WITH grid AS (
  SELECT {r['tx']} + i % {r['nx']} AS tx, {r['ty']} + i // {r['nx']} AS ty
  FROM (SELECT unnest(range(0, {r['nx'] * r['ny']})) AS i)
), px AS (
  SELECT tx, ty, tx * {r['bs']} + x AS gx, ty * {r['bs']} + y AS gy
  FROM grid,
       (SELECT unnest(range(0, {r['bs']})) AS x),
       (SELECT unnest(range(0, {r['bs']})) AS y)
), vals AS (
  SELECT {cell} AS block,
         CASE WHEN (gx + gy) % {r['nodata_every']} = 0 THEN NULL
              WHEN (gx * 31 + gy * 17 + {r['seed']}) % {r['modulo']} = 7 THEN NULL
              ELSE CAST((gx * 31 + gy * 17 + {r['seed']}) % {r['modulo']} AS DOUBLE)
         END AS val
  FROM px
)
SELECT block,
       COUNT(val) AS band_1_count,
       CAST(MIN(val) AS DOUBLE) AS band_1_min,
       CAST(MAX(val) AS DOUBLE) AS band_1_max,
       CAST(SUM(val) AS DOUBLE) AS band_1_sum,
       round(AVG(val), 6) AS band_1_mean,
       round(stddev_pop(val), 6) AS band_1_stddev
FROM vals GROUP BY block
"""


def band_algebra_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDVI-shaped two-band index: per-pixel (b1 - b2)/(b1 + b2) over a
    2-band raster, then global stats of the derived band — decode →
    vectorized numpy → encode in one Arrow pass (operators/algebra.py),
    stats via the usual columnar path."""
    from pyspark.sql import functions as F

    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.operators.algebra import normalized_difference
    from raquet_spark.testing import make_synthetic_raster

    r = _R
    tiles, meta = _cached_raquet(
        spark, "2band",
        lambda: make_synthetic_raster(
            spark, zoom=r["zoom"], tiles_x=r["nx"], tiles_y=r["ny"],
            origin_x=r["tx"], origin_y=r["ty"], block_size=r["bs"],
            num_bands=2, dtype="float32", seed=r["seed"],
        ),
    )
    nd = normalized_difference(tiles, meta, "band_1", "band_2")
    vals = band_pixels(nd, "ndiff", "float64", keep=())
    ok = vals.where(~F.isnan("v"))
    return ok.agg(
        F.count("v").alias("n_pixels"),
        F.round(F.min("v"), 6).alias("min_nd"),
        F.round(F.max("v"), 6).alias("max_nd"),
        F.round(F.avg("v"), 6).alias("mean_nd"),
    )


def band_algebra_oracle() -> str:
    r = _R
    cellfree_px = f"""
  SELECT tx * {r['bs']} + x AS gx, ty * {r['bs']} + y AS gy
  FROM (SELECT {r['tx']} + j % {r['nx']} AS tx, {r['ty']} + j // {r['nx']} AS ty
        FROM (SELECT unnest(range(0, {r['nx'] * r['ny']})) AS j)) g,
       (SELECT unnest(range(0, {r['bs']})) AS x),
       (SELECT unnest(range(0, {r['bs']})) AS y)
"""
    # band pixel = (gx*31 + gy*17 + seed + band_index*7) % modulo
    b1 = f"CAST((gx * 31 + gy * 17 + {r['seed']}) % {r['modulo']} AS DOUBLE)"
    b2 = f"CAST((gx * 31 + gy * 17 + {r['seed']} + 7) % {r['modulo']} AS DOUBLE)"
    return f"""
WITH px AS ({cellfree_px}),
nd AS (
  SELECT ({b1} - {b2}) / ({b1} + {b2}) AS v
  FROM px WHERE ({b1} + {b2}) <> 0
)
SELECT COUNT(v) AS n_pixels,
       round(MIN(v), 6) AS min_nd, round(MAX(v), 6) AS max_nd,
       round(AVG(v), 6) AS mean_nd
FROM nd
"""


def raster_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dataset raster join: two rasters equi-joined on the quadbin
    block, per-pixel difference, global stats — the co-located warehouse
    join the RaQuet layout exists for."""
    from pyspark.sql import functions as F

    from raquet_spark.functions.bands import band_pixels
    from raquet_spark.operators.algebra import join_rasters
    from raquet_spark.testing import make_synthetic_raster

    r = _R
    kw = dict(
        zoom=r["zoom"], tiles_x=r["nx"], tiles_y=r["ny"], origin_x=r["tx"],
        origin_y=r["ty"], block_size=r["bs"], num_bands=1, dtype="float32",
    )
    a, meta_a = _cached_raquet(
        spark, "join_a", lambda: make_synthetic_raster(spark, seed=r["seed"], **kw)
    )
    b, meta_b = _cached_raquet(
        spark, "join_b",
        lambda: make_synthetic_raster(spark, seed=r["seed"] + 5, **kw),
    )
    diff = join_rasters(a, b, meta_a, meta_b, lambda x: x["a"] - x["b"],
                        out_band="diff")
    vals = band_pixels(diff, "diff", "float64", keep=())
    return vals.agg(
        F.count("v").alias("n_pixels"),
        F.min("v").alias("min_diff"),
        F.max("v").alias("max_diff"),
        F.round(F.avg("v"), 6).alias("mean_diff"),
    )


def raster_join_oracle() -> str:
    r = _R
    va = f"CAST((gx * 31 + gy * 17 + {r['seed']}) % {r['modulo']} AS DOUBLE)"
    vb = f"CAST((gx * 31 + gy * 17 + {r['seed'] + 5}) % {r['modulo']} AS DOUBLE)"
    return f"""
WITH px AS (
  SELECT tx * {r['bs']} + x AS gx, ty * {r['bs']} + y AS gy
  FROM (SELECT {r['tx']} + j % {r['nx']} AS tx, {r['ty']} + j // {r['nx']} AS ty
        FROM (SELECT unnest(range(0, {r['nx'] * r['ny']})) AS j)) g,
       (SELECT unnest(range(0, {r['bs']})) AS x),
       (SELECT unnest(range(0, {r['bs']})) AS y)
), d AS (
  SELECT ({va} - {vb}) AS v FROM px
)
SELECT COUNT(v) AS n_pixels, MIN(v) AS min_diff, MAX(v) AS max_diff,
       round(AVG(v), 6) AS mean_diff
FROM d
"""


def timeseries_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal raster: two CF time steps (hours since 2020-01-01), per-
    step pooled stats — the spec's (block, time_cf) keyed table
    (format-specs/raquet.md:67-88) driven end-to-end: CF parse →
    time_ts derivation → per-tile stats → per-step columnar rollup."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.operators.time_dim import parse_cf_units, with_time_ts
    from raquet_spark.testing import make_synthetic_raster

    r = _R

    def build():
        steps = []
        meta = None
        for i, hours in enumerate((0.0, 24.0)):
            tiles, meta = make_synthetic_raster(
                spark, zoom=r["zoom"], tiles_x=r["nx"], tiles_y=r["ny"],
                origin_x=r["tx"], origin_y=r["ty"], block_size=r["bs"],
                num_bands=1, dtype="float32", seed=r["seed"] + i,
                nodata=r["nodata"], nodata_every=r["nodata_every"],
            )
            steps.append(tiles.withColumn("time_cf", F.lit(hours)))
        return steps[0].unionByName(steps[1]), meta

    df, meta = _cached_raquet(spark, "time", build)
    cf = parse_cf_units("hours since 2020-01-01", "standard")
    df = with_time_ts(df, cf)
    stats = with_tile_stats(df, meta)
    return (
        stats.groupBy("time_cf", "time_ts")
        .agg(
            F.sum("band_1_count").alias("n_pixels"),
            F.min("band_1_min").alias("min_val"),
            F.max("band_1_max").alias("max_val"),
            F.sum("band_1_sum").alias("sum_val"),
        )
        .select(
            "time_cf",
            # timestamp_micros() yields TIMESTAMP (instant); surface as
            # NTZ wall clock (UTC session) to match the oracle's TIMESTAMP
            F.col("time_ts").cast("timestamp_ntz").alias("time_ts"),
            "n_pixels",
            "min_val",
            "max_val",
            F.round(F.col("sum_val") / F.col("n_pixels"), 6).alias("mean_val"),
        )
    )


def timeseries_stats_oracle() -> str:
    r = _R
    parts = []
    for i, (hours, day) in enumerate(((0.0, "2020-01-01"), (24.0, "2020-01-02"))):
        parts.append(f"""
SELECT CAST({hours} AS DOUBLE) AS time_cf,
       TIMESTAMP '{day} 00:00:00' AS time_ts,
       COUNT(val) AS n_pixels,
       CAST(MIN(val) AS DOUBLE) AS min_val, CAST(MAX(val) AS DOUBLE) AS max_val,
       round(CAST(SUM(val) AS DOUBLE) / COUNT(val), 6) AS mean_val
FROM (
  SELECT CASE WHEN (gx + gy) % {r['nodata_every']} = 0 THEN NULL
              ELSE CAST((gx * 31 + gy * 17 + {r['seed'] + i}) % {r['modulo']} AS DOUBLE)
         END AS val
  FROM (SELECT tx * {r['bs']} + x AS gx, ty * {r['bs']} + y AS gy
        FROM (SELECT {r['tx']} + j % {r['nx']} AS tx, {r['ty']} + j // {r['nx']} AS ty
              FROM (SELECT unnest(range(0, {r['nx'] * r['ny']})) AS j)) g,
             (SELECT unnest(range(0, {r['bs']})) AS x),
             (SELECT unnest(range(0, {r['bs']})) AS y)) px
) v{i}""")
    return " UNION ALL ".join(parts)


def raster_histogram_oracle() -> str:
    return _duck_pixels() + """
SELECT CAST(least(floor((val - 0.0) / 251.0 * 256), 255) AS INT) AS bucket,
       COUNT(*) AS n
FROM vals WHERE val IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


def _point_query_points() -> list[tuple[int, float, float]]:
    """(id, lon, lat) at every tile center of the synthetic raster."""
    r = _R
    pts = []
    for i in range(r["nx"]):
        for j in range(r["ny"]):
            w, s, e, n = qb.py_cell_to_bounds(
                qb.py_tile_to_cell(r["tx"] + i, r["ty"] + j, r["zoom"])
            )
            pts.append((i * r["ny"] + j, (w + e) / 2, (s + n) / 2))
    return pts


def raster_point_value_oracle() -> str:
    """Expected pixel per point computed with the same Mercator math the
    operator uses; the lookup itself is relational on the pixel CTE."""
    import math as _math

    r = _R
    n_px = (1 << r["zoom"]) * r["bs"]
    rows = []
    for pid, lon, lat in _point_query_points():
        xf = lon / 360.0 + 0.5
        s = _math.sin(_math.radians(lat))
        yf = 0.5 - 0.25 * _math.log((1.0 + s) / (1.0 - s)) / _math.pi
        gx = int(_math.floor(xf * n_px))
        gy = int(_math.floor(yf * n_px))
        rows.append(f"({pid}, {lon!r}, {lat!r}, {gx}, {gy})")
    values = ", ".join(rows)
    return f"""
WITH pts(id, lon, lat, want_gx, want_gy) AS (VALUES {values}),
px AS (
  SELECT tx * {r['bs']} + x AS gx, ty * {r['bs']} + y AS gy
  FROM (SELECT {r['tx']} + i % {r['nx']} AS tx, {r['ty']} + i // {r['nx']} AS ty
        FROM (SELECT unnest(range(0, {r['nx'] * r['ny']})) AS i)) grid,
       (SELECT unnest(range(0, {r['bs']})) AS x),
       (SELECT unnest(range(0, {r['bs']})) AS y)
), pxv AS (
  SELECT gx, gy,
         CASE WHEN (gx + gy) % {r['nodata_every']} = 0 THEN NULL
              ELSE CAST((gx * 31 + gy * 17 + {r['seed']}) % {r['modulo']} AS DOUBLE)
         END AS val
  FROM px
)
SELECT p.id, CAST(p.lon AS DOUBLE) AS lon, CAST(p.lat AS DOUBLE) AS lat,
       v.val AS value
FROM pts p LEFT JOIN pxv v ON v.gx = p.want_gx AND v.gy = p.want_gy
"""


def raster_point_value_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point query at tile centers (reference ST_RasterValue)."""
    from raquet_spark.operators.point_query import raster_value

    tiles, meta = _make_raster(spark)
    ids, lons, lats = zip(*_point_query_points())
    points = spark.createDataFrame(
        pa.table({"id": ids, "lon": lons, "lat": lats}),
        "id long, lon double, lat double",
    )
    return raster_value(tiles, points, meta)


def raquet_read_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write→read round trip through the RaQuet parquet layout WITH the
    bbox spatial filter (Morton block-range pruning on the parquet
    scan), decoded to per-tile stats — hash-checked against the pixel
    oracle restricted to the same 2×2-tile region, so the reader, the
    spatial pushdown, and the stored bytes all gate the hash."""
    import tempfile

    from pyspark.sql import functions as F

    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.sources.raquet import read_raquet, write_raquet

    r = _R
    tiles, meta = _make_raster(spark)
    key = (spark.sparkContext.applicationId, "raquet_rt_path")
    path = _RASTER_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="raquet_rt_") + "/raster.parquet"
        write_raquet(tiles, path, meta)
        _RASTER_CACHE[key] = path
    cells = _region_cells()
    bounds = [qb.py_cell_to_bounds(c) for c in cells]
    bbox = (
        min(b[0] for b in bounds) + 1e-9,
        min(b[1] for b in bounds) + 1e-9,
        max(b[2] for b in bounds) - 1e-9,
        max(b[3] for b in bounds) - 1e-9,
    )
    back = read_raquet(spark, path, bbox=bbox)
    stats = with_tile_stats(back.select("block", "band_1"), meta)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def raquet_read_tiles_oracle() -> str:
    cells = ", ".join(str(c) for c in _region_cells())
    return _duck_pixels() + _raster_stats_select(f"WHERE block IN ({cells})")


# ---------------------------------------------------------------------------
# E. LLM-pipeline queries over documents / embeddings
# ---------------------------------------------------------------------------

def _tokens(d: str, text: str = "text") -> str:
    if d == "spark":
        return f"regexp_extract_all(lower({text}), '[a-z0-9]+', 0)"
    return f"regexp_extract_all(lower({text}), '[a-z0-9]+')"


def dedup_exact(d: str) -> str:
    return """
SELECT md5(text) AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
FROM documents
GROUP BY md5(text)
HAVING COUNT(*) >= 1
"""


_MINHASH_PARAMS = [
    (1664525, 1013904223), (22695477, 1), (1103515245, 12345), (214013, 2531011),
    (134775813, 1), (69069, 0), (1103515245, 54321), (22695477, 7777),
]


def _minhash_mins(d: str) -> str:
    cols = []
    for i, (a, b) in enumerate(_MINHASH_PARAMS):
        cols.append(f"MIN(({a} * h + {b}) % 2147483647) AS m{i}")
    return ", ".join(cols)


def _minhash_band_arr(d: str) -> str:
    """All 4 band keys as prefixed strings in one array literal —
    shared by the banded pair template and the r16 collapse oracle."""
    cast_s = "STRING" if d == "spark" else "VARCHAR"
    return dl.arr_lit(
        [
            f"concat('{i}:', CAST(m{2 * i} AS {cast_s}), ':', "
            f"CAST(m{2 * i + 1} AS {cast_s}))"
            for i in range(4)
        ],
        d,
    )


def _minhash_mins_sql(d: str, source: str = "documents") -> str:
    """(doc_id, m0..m7) MinHash signature rows — the shingle/hash/min
    pipeline from an arbitrary source relation. :func:`_minhash_bands_sql`
    reads ``documents``; the r16 collapse and chain-cap oracles plant
    extra rows via an inline UNION ALL source."""
    el = lambda i: dl.arr_el("toks", i, d)  # noqa: E731
    shingle = f"concat({el('i')}, ' ', {el('i + 1')}, ' ', {el('i + 2')})"
    shingles = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('toks', d)} - 2", d), "i", shingle, d
    )
    h = dl.md5_int("shingle", d)
    return f"""
WITH tok AS (
  SELECT doc_id, {_tokens(d)} AS toks FROM {source}
), sh AS (
  SELECT doc_id, {dl.explode(shingles, 'shingle', d)}
  FROM tok WHERE {dl.arr_size('toks', d)} >= 3
), hashes AS (
  SELECT doc_id, {h} AS h FROM sh
)
SELECT doc_id, {_minhash_mins(d)} FROM hashes GROUP BY doc_id
"""


def _minhash_bands_sql(d: str) -> str:
    """(doc_id, bk) band keys over :func:`_minhash_mins_sql`'s
    signatures — the input of :func:`dedup_minhash`'s band self-join.
    All 4 band keys go into ONE array that explodes to rows, so a
    single self-equi-join on the band key finds the candidates: one
    pass over the shingle/hash/min pipeline per join side (vs one per
    band), one shuffle keyed by band value — the banded-LSH scale
    shape. Spark inlines the CTE into both join sides but reuses the
    mins shuffle (``ReusedExchange``), so only the final min merge and
    the band explode repeat per side; DuckDB materializes the CTE.
    Corpora too large for this rendering go through
    :func:`raquet_spark.operators.dedup.minhash_dedup_pairs`
    (``auto_width=True``)."""
    return f"""
WITH mins AS (
{_minhash_mins_sql(d)}
)
SELECT doc_id, {dl.explode(_minhash_band_arr(d), 'bk', d)} FROM mins
"""


def dedup_minhash(d: str) -> str:
    """MinHash over word 3-gram shingles + 4-band × 2-row LSH pairs.

    Banded shape is the scale path: candidates come from equi-joins on
    the band key (shuffle-partitionable), never an all-pairs compare."""
    return f"""
WITH bands AS (
{_minhash_bands_sql(d)}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
"""


def _simhash_chunks_sql(d: str) -> str:
    """(doc_id, simhash, ck) chunk keys — the token-hash/bit-sum
    pipeline that feeds :func:`dedup_simhash`'s chunk self-join."""
    h = dl.md5_int("tok", d, hex_chars=12)
    cast_s = "STRING" if d == "spark" else "VARCHAR"
    # all 4 12-bit chunks as prefixed strings in ONE array → explode →
    # single self-equi-join on chunk key (vs one join per chunk), then
    # the exact hamming filter; DISTINCT collapses multi-chunk collisions
    chunk_arr = dl.arr_lit(
        [
            f"concat('{i}:', CAST(({dl.shr('simhash', 12 * i, d)} & 4095)"
            f" AS {cast_s}))"
            for i in range(4)
        ],
        d,
    )
    # md5 computed once per token (explode), then all 48 bit-sums in a
    # single groupBy pass — one shuffle, no per-bit cross join
    bit_aggs = ", ".join(
        f"SUM(CASE WHEN ({dl.shr('h', j, d)} & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(48)
    )
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {dl.shl('CAST(1 AS BIGINT)', j, d)} ELSE 0 END)"
        for j in range(48)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {dl.explode(_tokens(d), 'tok', d)} FROM documents
), hashes AS (
  SELECT doc_id, {h} AS h FROM tok
), bits AS (
  SELECT doc_id, {bit_aggs} FROM hashes GROUP BY doc_id
), sims AS (
  SELECT doc_id, {sim} AS simhash FROM bits
)
SELECT doc_id, simhash, {dl.explode(chunk_arr, 'ck', d)} FROM sims
"""


def dedup_simhash(d: str) -> str:
    """48-bit SimHash over token hashes; near-dup pairs at hamming <= 3.

    Scale path: hamming <= 3 with 4 chunks of 12 bits ⇒ by pigeonhole at
    least one chunk is identical, so candidates come from 4 equi-joins
    on chunk value (shuffle-partitionable), then the exact hamming
    filter — never an all-pairs compare."""
    xor = dl.bxor("a.simhash", "b.simhash", d)
    return f"""
WITH chunks AS (
{_simhash_chunks_sql(d)}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       {dl.bit_count(xor, d)} AS hamming
FROM chunks a JOIN chunks b ON a.ck = b.ck AND a.doc_id < b.doc_id
WHERE {dl.bit_count(xor, d)} <= 3
"""


def ngram_jaccard(d: str) -> str:
    """Character-3-gram Jaccard **verification of MinHash-LSH
    candidates** — the scale shape of set-similarity dedup: exact
    Jaccard is only ever computed on the LSH candidate pairs (linear-ish
    in collisions), never on all pairs within a blocking bucket, which
    is O(N²/buckets) in both pair count and per-pair array intersects.

    (The earlier all-pairs-per-source formulation took 83 s at sf0.1;
    this one verifies the same near-dup notion in well under a second.)
    """
    minhash = dedup_minhash(d)
    return f"""
WITH cand AS (
  SELECT * FROM ({minhash}) mh
), g AS (
{_grams_sql(d)}
)
SELECT c.doc_a, c.doc_b,
       {_jaccard_expr(d)} AS jaccard
FROM cand c
JOIN g ga ON ga.doc_id = c.doc_a
JOIN g gb ON gb.doc_id = c.doc_b
"""


def _grams_sql(d: str) -> str:
    n = "length(lower(text)) - 2"
    grams = dl.arr_distinct(
        dl.arr_transform(dl.seq(1, n, d), "i", "substr(lower(text), i, 3)", d), d
    )
    return f"SELECT doc_id, {grams} AS grams FROM documents WHERE length(text) >= 3"


def _jaccard_expr(d: str) -> str:
    inter = dl.arr_size(dl.arr_intersect("ga.grams", "gb.grams", d), d)
    return (
        f"round(CAST({inter} AS DOUBLE) /\n"
        f"             ({dl.arr_size('ga.grams', d)} + "
        f"{dl.arr_size('gb.grams', d)} - {inter}), 6)"
    )


def dedup_embedding(d: str) -> str:
    """Embedding-cosine near-dup pairs within the same label.

    Norms are computed once per vector (not per pair) and the score once
    per pair; ``/ a.nrm / b.nrm`` keeps the exact IEEE op order of
    ``/ sqrt(na) / sqrt(nb)`` so both engines agree bit-for-bit.

    The driver corpus has no within-label pair above the 0.8 cosine
    threshold, so every 100th vector is re-emitted as an exact twin
    (vec_id + 1000000, same label/embedding): each twin pairs with its
    original at cos_sim = 1.0 exactly in both engines, guaranteeing the
    gate compares real pairs (it was vacuously green on 0 rows r01-r09)."""
    dot = dl.dot64("a.embedding", "b.embedding", d)
    nrm = dl.dot64("embedding", "embedding", d)
    return f"""
WITH base AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, label, embedding
  FROM embeddings WHERE vec_id % 100 = 0
), v AS (
  SELECT vec_id, label, embedding, sqrt({nrm}) AS nrm FROM base
), scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({dot} / a.nrm / b.nrm, 5) AS cos_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.8
"""


def ann_topk(d: str) -> str:
    """Brute-force cosine top-5 for every 25th vector (deterministic
    tiebreak on rounded score then id). Norms precomputed per vector;
    op order matches ``/ sqrt(nq) / sqrt(nc)`` for cross-engine parity."""
    dot = dl.dot64("q.embedding", "c.embedding", d)
    nrm = dl.dot64("embedding", "embedding", d)
    return f"""
WITH v AS (
  SELECT vec_id, embedding, sqrt({nrm}) AS nrm FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round({dot} / q.nrm / c.nrm, 5) AS score
  FROM v q JOIN v c ON q.vec_id <> c.vec_id
  WHERE q.vec_id % 25 = 0
)
SELECT query_id, cand_id, score, rn FROM (
  SELECT query_id, cand_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, cand_id) AS rn
  FROM scored
) t WHERE rn <= 5
"""


# stopword lists live with the text operators (the layer that owns the
# cleaning semantics); the SQL templates here share them
from raquet_spark.operators.textops import _STOPWORDS  # noqa: E402


def lang_id(d: str) -> str:
    scores = []
    for lang, words in _STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        scores.append(
            f"{dl.arr_size(dl.arr_filter('toks', 't', f't IN ({lst})', d), d)} AS score_{lang}"
        )
    pred = """CASE
      WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr AND score_en > 0 THEN 'en'
      WHEN score_es >= score_de AND score_es >= score_fr AND score_es > 0 THEN 'es'
      WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
      WHEN score_fr > 0 THEN 'fr'
      ELSE 'unknown' END"""
    return f"""
WITH t AS (SELECT doc_id, lang, {_tokens(d)} AS toks FROM documents),
s AS (SELECT doc_id, lang, {', '.join(scores)} FROM t)
SELECT doc_id, lang AS actual_lang, {pred} AS pred_lang,
       score_en, score_es, score_de, score_fr
FROM s
"""


def doc_quality(d: str) -> str:
    toks = _tokens(d)
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS["en"])
    n_stop = dl.arr_size(dl.arr_filter("toks", "t", f"t IN ({stop_list})", d), d)
    return f"""
WITH t AS (
  SELECT doc_id, text, n_chars, {toks} AS toks FROM documents
)
SELECT doc_id,
       {dl.arr_size('toks', d)} AS n_words,
       round(CAST(n_chars AS DOUBLE) / greatest({dl.arr_size('toks', d)}, 1), 6) AS avg_word_len,
       round(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(CAST({n_stop} AS DOUBLE) / greatest({dl.arr_size('toks', d)}, 1), 6) AS stopword_ratio
FROM t
"""


def token_counts(d: str) -> str:
    if d == "spark":
        bpe = "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"
        ws = "regexp_extract_all(text, '[^ ]+', 0)"
    else:
        bpe = "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')"
        ws = "regexp_extract_all(text, '[^ ]+')"
    return f"""
SELECT doc_id,
       {dl.arr_size(ws, d)} AS ws_tokens,
       {dl.arr_size(bpe, d)} AS bpe_tokens,
       n_chars
FROM documents
"""


def substring_dedup_stats(d: str) -> str:
    """Exact-substring dedup spans (the public Lee et al. recipe the
    library implements in textops.substring_dedup_spans) as ONE
    dual-dialect SQL plan: 12-token shingles, md5 identity (the query
    uses the exact string hash so both dialects group identically; the
    library operator uses xxhash64 for an 8-byte shuffle), corpus-wide
    first occurrence exempt (ordered by doc, start), gaps-and-islands
    interval merge, per-doc span count + duplicated-token total.
    Planted copies (every 17th doc re-appended with a 3-token prefix
    under doc_id+10M) guarantee full-doc spans alongside the corpus's
    natural small-vocab repeats."""
    W = 12
    if d == "spark":
        toks = "regexp_extract_all(text, '[^ ]+', 0)"
    else:
        toks = "regexp_extract_all(text, '[^ ]+')"
    hs_body = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('t', d)} - {W - 1}", d),
        "i",
        f"md5({dl.arr_join(dl.arr_slice('t', 'i', W, d), ' ', d)})",
        d,
    )
    # sequence(1, n) DESCENDS when n < 1 in Spark (and generate_series
    # is empty only for n = 0 in DuckDB): guard short docs explicitly
    empty = "array()" if d == "spark" else "[]"
    hs = (
        f"CASE WHEN {dl.arr_size('t', d)} >= {W} THEN {hs_body} "
        f"ELSE {empty} END"
    )
    if d == "spark":
        occ = f"""
occ AS (
  SELECT doc_id, pos AS start, col AS h
  FROM hsrc LATERAL VIEW posexplode(hs) AS pos, col
)"""
    else:
        occ = f"""
occ AS (
  SELECT doc_id, j - 1 AS start, hs[j] AS h
  FROM (
    SELECT doc_id, hs,
           unnest(generate_series(1, CAST(len(hs) AS BIGINT))) AS j
    FROM hsrc
  )
)"""
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, 'zq0 zq1 zq2 ' || text AS text
  FROM documents WHERE doc_id % 17 = 3
),
tok AS (SELECT doc_id, {toks} AS t FROM corpus),
hsrc AS (SELECT doc_id, {hs} AS hs FROM tok),
{occ},
dup AS (
  SELECT doc_id, start FROM (
    SELECT doc_id, start,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
    FROM occ
  ) x WHERE rn > 1
),
isl AS (
  SELECT doc_id, start,
         SUM(is_new) OVER (
           PARTITION BY doc_id ORDER BY start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (
    SELECT doc_id, start,
           CASE WHEN MAX(start + {W}) OVER (
                  PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR start > MAX(start + {W}) OVER (
                  PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           THEN 1 ELSE 0 END AS is_new
    FROM dup
  ) y
),
spans AS (
  SELECT doc_id, MIN(start) AS s, MAX(start) + {W} AS e
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(e - s) AS BIGINT) AS dup_tokens
FROM spans
GROUP BY doc_id
"""


def sequence_pack_stats(d: str) -> str:
    """Linear sequence packing (textops.sequence_pack) as a dual-dialect
    plan: shard by doc_id % 8 (running sums parallelize — no global
    ORDER BY bottleneck), bin by (cumsum - n_tok) / max_len over doc-id
    order, then per-bin doc and token totals. max_len=256 at test scale;
    bins overfill by at most one document (the linear-packing bound)."""
    if d == "spark":
        ntok = r"size(regexp_extract_all(text, '[^ \\t\\n]+', 0))"
    else:
        ntok = r"len(regexp_extract_all(text, '[^ \t\n]+'))"
    return f"""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard, {ntok} AS n_tok FROM documents
),
c AS (
  SELECT doc_id, shard, n_tok,
         SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT shard,
       CAST(FLOOR((cum - n_tok) / 256.0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
FROM c
GROUP BY 1, 2
"""


def doc_fingerprint(d: str) -> str:
    """Winnowing: 8-gram rolling hashes, min per 4-window, distinct count."""
    n = "length(text) - 7"
    hashes = dl.arr_transform(dl.seq(1, n, d), "i", dl.md5_int("substr(text, i, 8)", d), d)
    wins = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('h', d)} - 3", d), "j",
        dl.arr_min(dl.arr_slice("h", "j", 4, d), d), d
    )
    return f"""
WITH hg AS (
  SELECT doc_id, {hashes} AS h FROM documents WHERE length(text) >= 11
)
SELECT doc_id,
       {dl.arr_size(dl.arr_distinct('w', d), d)} AS n_fingerprints,
       {dl.arr_min('w', d)} AS min_fingerprint
FROM (SELECT doc_id, {wins} AS w FROM hg) t
"""


def events_json_rollup(d: str) -> str:
    """Semi-structured extraction: parse the JSON `props` payload and
    aggregate by a derived attribute bucket — JSON stays engine-native
    on both sides (get_json_object / json_extract_string), no Python."""
    if d == "spark":
        k = "CAST(get_json_object(props, '$.k') AS BIGINT)"
    else:
        k = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
    return f"""
WITH parsed AS (
  SELECT event_type, {k} AS k, value FROM events
)
SELECT event_type, k % 10 AS k_bucket, COUNT(*) AS n,
       MIN(k) AS min_k, MAX(k) AS max_k, {dl.dsum('value', d)} AS total_value
FROM parsed GROUP BY event_type, k % 10
"""


def length_percentiles(d: str) -> str:
    """Per-source document-length distribution (exact interpolated
    percentiles — the curation dashboard query of a training pipeline).
    Spark `percentile` and DuckDB `quantile_cont` share linear
    interpolation semantics."""
    n = dl.arr_size(_tokens(d), d)
    pct = "percentile" if d == "spark" else "quantile_cont"
    return f"""
WITH lens AS (
  SELECT source, CAST({n} AS DOUBLE) AS n_toks FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       round(CAST({pct}(n_toks, 0.5) AS DOUBLE), 6) AS p50,
       round(CAST({pct}(n_toks, 0.9) AS DOUBLE), 6) AS p90,
       round(CAST({pct}(n_toks, 0.99) AS DOUBLE), 6) AS p99,
       CAST(MAX(n_toks) AS DOUBLE) AS max_toks
FROM lens GROUP BY source
"""


def dataset_split(d: str) -> str:
    """Deterministic 80/10/10 train/val/test split by content-stable
    hash of doc_id — reproducible across engines, runs, and cluster
    sizes (no rand(), no row ordering dependence), the standard shape
    for training-data splits at 100 TB."""
    cast_s = "STRING" if d == "spark" else "VARCHAR"
    b = f"({dl.md5_int(f'CAST(doc_id AS {cast_s})', d, hex_chars=8)} % 100)"
    return f"""
SELECT doc_id,
       CASE WHEN {b} < 80 THEN 'train'
            WHEN {b} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def stratified_sample(d: str) -> str:
    """~10% deterministic hash sample per source stratum with per-stratum
    accounting. Hash-threshold sampling is exact-reproducible and
    partition-local (no shuffle beyond the final small agg)."""
    cast_s = "STRING" if d == "spark" else "VARCHAR"
    h = f"({dl.md5_int(f'CAST(doc_id AS {cast_s})', d, hex_chars=8)} % 1000)"
    return f"""
WITH sampled AS (
  SELECT source, doc_id FROM documents WHERE {h} < 100
)
SELECT source, COUNT(*) AS n_sampled, MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM sampled GROUP BY source
"""


def repetition_stats(d: str) -> str:
    """Within-document repetition signals (boilerplate / template spam
    detector, the Gopher-style repetition rules): distinct-word ratio
    and repeated word-3-gram ratio. Pure array ops in one projection —
    no explode, no shuffle; sentence-splitting deliberately avoided
    because Spark ``split`` is regex and DuckDB's is literal
    (dialect.split_re exists for when sentences matter)."""
    el = lambda i: dl.arr_el("toks", i, d)  # noqa: E731
    gram = f"concat({el('i')}, ' ', {el('i + 1')}, ' ', {el('i + 2')})"
    grams = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('toks', d)} - 2", d), "i", gram, d
    )
    nw = dl.arr_size("toks", d)
    ndw = dl.arr_size(dl.arr_distinct("toks", d), d)
    ng = dl.arr_size("grams", d)
    ndg = dl.arr_size(dl.arr_distinct("grams", d), d)
    return f"""
WITH t AS (
  SELECT doc_id, {_tokens(d)} AS toks FROM documents
), g AS (
  SELECT doc_id, toks, {grams} AS grams FROM t
)
SELECT doc_id, {nw} AS n_words, {ndw} AS n_distinct_words,
       round(CASE WHEN {nw} = 0 THEN 0.0
             ELSE CAST({ndw} AS DOUBLE) / {nw} END, 6) AS distinct_word_ratio,
       round(CASE WHEN {ng} <= 0 THEN 0.0
             ELSE CAST({ng} - {ndg} AS DOUBLE) / {ng} END, 6) AS repeated_3gram_ratio
FROM g
"""


def ngram_lm_score(d: str) -> str:
    """CCNet-style statistical LM quality scoring (the public Wenzek et
    al. recipe, simplified to a corpus-self-trained bigram model): per
    document, the mean log P(w2 | w1) under add-k smoothing. The scale
    shape is three equi-joins over exploded bigrams — train counts are
    groupBys with map-side combine, scoring streams the same exploded
    rows back through hash joins on the n-gram keys; nothing is
    all-pairs and the model "training" IS the aggregation."""
    el = lambda i: dl.arr_el("toks", i, d)  # noqa: E731
    pair = f"concat({el('i')}, ' ', {el('i + 1')})"
    pairs = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('toks', d)} - 1", d), "i", pair, d
    )
    w1 = (
        "split(pair, ' ')[0]" if d == "spark" else "split_part(pair, ' ', 1)"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {_tokens(d)} AS toks FROM documents
), bg AS (
  SELECT doc_id, {dl.explode(pairs, 'pair', d)} FROM tok
), bgw AS (
  SELECT doc_id, pair, {w1} AS w1 FROM bg
), uni AS (
  SELECT w1, COUNT(*) AS c1 FROM bgw GROUP BY w1
), bic AS (
  SELECT pair, COUNT(*) AS c2 FROM bgw GROUP BY pair
), v AS (
  SELECT COUNT(*) AS vocab FROM uni
), scored AS (
  SELECT doc_id,
         round(ln((c2 + 0.5) / (c1 + 0.5 * vocab)), 6) AS logp
  FROM bgw
  JOIN bic USING (pair)
  JOIN uni USING (w1)
  CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       round(CAST(SUM(CAST(logp AS DECIMAL(28, 6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_logp
FROM scored
GROUP BY doc_id
"""


def doc_feature_hash(d: str) -> str:
    """Feature-hashed document vectors in long form (the hashing trick,
    public Weinberger et al. recipe): token → md5 bucket in [0, 64),
    weight = L2-normalized term frequency. The dense-array variant
    (operators/textops.hashed_embeddings) feeds ANN/embedding dedup;
    this long-form rendering is hash-exact in both dialects."""
    bucket = f"({dl.md5_int('tok', d)}) % 64"
    return f"""
WITH tok AS (
  SELECT doc_id, {dl.explode(_tokens(d), 'tok', d)} FROM documents
), w AS (
  SELECT doc_id, {bucket} AS bucket, COUNT(*) AS c
  FROM tok GROUP BY doc_id, {bucket}
), n AS (
  SELECT doc_id, sqrt(CAST(SUM(c * c) AS DOUBLE)) AS nrm FROM w GROUP BY doc_id
)
SELECT w.doc_id, bucket, round(CAST(c AS DOUBLE) / nrm, 6) AS weight
FROM w JOIN n ON w.doc_id = n.doc_id
"""


def pipeline_clean_counts(d: str) -> str:
    """The canonical C4-style cleaning chain as ONE declarative plan:
    language-ID (en) → Gopher quality gate → exact-dedup keep-first,
    reported as a per-source survival funnel (total → en → quality →
    kept). Composition is the point: every stage is a projection over
    the same scan (Catalyst pipelines them), the only shuffles are the
    md5 keeper groupBy and the final per-source rollup, and the keeper
    table joins back broadcastable. This is the shape a 100 TB cleaning
    run has — no per-stage materialization, no UDFs."""
    toks = _tokens(d)
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS["en"])
    n_stop = dl.arr_size(dl.arr_filter("toks", "t", f"t IN ({stop_list})", d), d)
    n_alpha = dl.arr_size(
        dl.arr_filter("toks", "t", "regexp_matches(t, '[a-z]')" if d != "spark"
                      else "t rlike '[a-z]'", d), d
    )
    nw = dl.arr_size("toks", d)
    ndw = dl.arr_size(dl.arr_distinct("toks", d), d)
    lang_scores = []
    for lang, words in _STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        lang_scores.append(
            f"{dl.arr_size(dl.arr_filter('toks', 't', f't IN ({lst})', d), d)} AS score_{lang}"
        )
    return f"""
WITH t AS (
  SELECT doc_id, source, n_chars, md5(text) AS h, {toks} AS toks
  FROM documents
), sig AS (
  SELECT doc_id, source, h,
         {', '.join(lang_scores)},
         {nw} AS n_words,
         round(CAST(n_chars AS DOUBLE) / greatest({nw}, 1), 6) AS mean_word_len,
         round(CAST({n_alpha} AS DOUBLE) / greatest({nw}, 1), 6) AS alpha_word_ratio,
         {n_stop} AS n_stopwords,
         round(CAST({ndw} AS DOUBLE) / greatest({nw}, 1), 6) AS distinct_ratio
  FROM t
), flagged AS (
  SELECT doc_id, source, h,
         CASE WHEN score_en >= score_es AND score_en >= score_de
               AND score_en >= score_fr AND score_en > 0
              THEN 1 ELSE 0 END AS is_en,
         CASE WHEN n_words >= 10 AND n_words <= 100000
               AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
               AND alpha_word_ratio >= 0.8
               AND n_stopwords >= 1
               AND distinct_ratio >= 0.1
              THEN 1 ELSE 0 END AS passes
  FROM sig
), keepers AS (
  SELECT h, MIN(doc_id) AS keeper
  FROM flagged WHERE is_en = 1 AND passes = 1
  GROUP BY h
)
SELECT source,
       {dl.isum('1', d)} AS n_docs,
       {dl.isum('is_en', d)} AS n_en,
       {dl.isum('is_en * passes', d)} AS n_quality,
       {dl.isum('CASE WHEN is_en = 1 AND passes = 1 AND doc_id = keeper THEN 1 ELSE 0 END', d)} AS n_kept
FROM flagged
LEFT JOIN keepers ON flagged.h = keepers.h
GROUP BY source
"""


def sketch_user_reach(d: str) -> str:
    """HyperLogLog distinct-user sketch per event type, implemented
    FROM SCRATCH in dual-dialect SQL (the public Flajolet et al. 2007
    estimator): 60-bit md5 hash → 1024 registers (low 10 bits) × rank
    of the leftmost 1 in the remaining 50 bits, register maxes, the
    bias-corrected harmonic mean, and the small-range linear-counting
    correction. Constant memory per group (1024 registers) — the
    100 TB cardinality path — and, unlike engine-native
    approx_count_distinct, BOTH engines compute identical registers,
    so the estimate is hash-exact at the driver (upgraded from the
    rows-only check). Determinism: the harmonic sum is an exact
    BIGINT sum of 2^(51-max_rho) (one power-of-two per register; the
    2^-rho values share denominator 2^51), and float literals are
    e-notation/CAST so Spark never parses them as DECIMAL. Accuracy
    vs exact COUNT(DISTINCT) is pytest-gated."""
    m = 1024
    alpha_num = repr(0.7213 / (1 + 1.079 / m) * m * m * 2.0**51)
    uid = "CAST(user_id AS STRING)" if d == "spark" else "user_id::VARCHAR"
    h = dl.md5_int(uid, d, 15)  # 60 bits of md5
    w = dl.shr("hv", 10, d)  # 50-bit tail after the register index
    raw = f"{alpha_num} / s_total"
    return f"""
WITH hashed AS (
  SELECT event_type, {h} AS hv FROM events
), reg AS (
  SELECT event_type, hv % {m} AS register,
         MAX(CASE WHEN {w} = 0 THEN 51
                  ELSE 51 - length(bin({w})) END) AS max_rho
  FROM hashed
  GROUP BY event_type, hv % {m}
), agg AS (
  SELECT event_type,
         {dl.isum(dl.shl('CAST(1 AS BIGINT)', '51 - max_rho', d), d)} AS s_hit,
         CAST(COUNT(*) AS BIGINT) AS n_regs
  FROM reg
  GROUP BY event_type
), est AS (
  SELECT event_type,
         {m} - n_regs AS zeros,
         s_hit + ({m} - n_regs) * {2 ** 51} AS s_total
  FROM agg
), ev AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
)
SELECT est.event_type AS event_type,
       n_events,
       round(CASE WHEN {raw} <= 2.5e0 * {m} AND zeros > 0
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / zeros)
                  ELSE {raw} END, 4) AS hll_users
FROM est JOIN ev ON est.event_type = ev.event_type
"""


def dsir_weights(d: str) -> str:
    """DSIR-style importance weights (the public Data Selection with
    Importance Resampling recipe, Xie et al. 2023): hashed unigram
    features, per-doc log importance weight under add-1-smoothed
    target/raw bucket distributions — here target = the English subset,
    raw = the whole corpus. The classic use: rank/resample a raw crawl
    toward a target domain.

    Scale shape: the feature space is CAPPED at 1024 hash buckets, so
    both "distributions" are 1024-row aggregations (map-side combined)
    that broadcast into the per-token scoring join — two small global
    aggs plus one broadcast-hash join over the exploded tokens; nothing
    is all-pairs and nothing big shuffles twice. Determinism: one ln()
    per bucket over exact integer ratios, round(6), exact DECIMAL sum
    per doc (the ngram_lm_score recipe)."""
    return f"""
WITH tok AS (
  SELECT doc_id, {dl.explode(_tokens(d), 'w', d)} FROM documents
), b AS (
  SELECT doc_id, {dl.md5_int('w', d)} % 1024 AS bucket FROM tok
), raw AS (
  SELECT bucket, COUNT(*) AS cr FROM b GROUP BY bucket
), tgt AS (
  SELECT bucket, COUNT(*) AS ct
  FROM b JOIN documents USING (doc_id)
  WHERE lang = 'en'
  GROUP BY bucket
), tots AS (
  SELECT (SELECT COUNT(*) FROM b) AS r_total,
         (SELECT COUNT(*) FROM b JOIN documents USING (doc_id)
          WHERE lang = 'en') AS t_total
), lr AS (
  -- CAST not a x.0 literal: Spark parses 1024.0 as DECIMAL(5,1) and
  -- would run the whole ratio in decimal; DuckDB uses DOUBLE
  SELECT r.bucket,
         round(ln((COALESCE(ct, 0) + 1) * (r_total + CAST(1024 AS DOUBLE))
                  / ((cr + 1) * (t_total + CAST(1024 AS DOUBLE)))), 6) AS logratio
  FROM raw r
  LEFT JOIN tgt ON r.bucket = tgt.bucket
  CROSS JOIN tots
)
SELECT doc_id,
       {dl.isum('1', d)} AS n_toks,
       round(CAST(SUM(CAST(logratio AS DECIMAL(28, 6))) AS DOUBLE), 6)
         AS dsir_logw
FROM b JOIN lr ON b.bucket = lr.bucket
GROUP BY doc_id
"""


def _widen_starved_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a DataFrame whose scan yields fewer
    partitions than the session's cores (guide §2.5 "input skew: one
    huge unsplittable file → repartition immediately after the read").
    The token-pipeline forks below EXPLODE their input 30-80x — a
    single-split parquet file (the sf0.1 bench tables) would otherwise
    run every downstream map stage on one core. Scale-adaptive by
    construction: a corpus big enough to produce >= cores scan splits
    (any real workload) passes through untouched, so the full-row
    exchange this inserts is only ever paid on inputs small enough for
    it to be trivial."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def dsir_weights_df(docs: DataFrame) -> DataFrame:
    """Spark-side plan for :func:`dsir_weights` (r17, guide §2.4): the
    shared template's ``b`` CTE (tokenize → md5 bucket) is referenced
    FIVE times (raw, tgt, both ``tots`` scalar subqueries, the scoring
    join) and Spark inlines CTEs — the captured plan ran the explode +
    md5 pipeline 5x over 14 parquet scans while DuckDB materialized it
    once (the 3.2x line). This fork makes exactly TWO stream passes —
    the 100 TB floor without materializing the token stream: pass 1
    map-side-combines BOTH 1024-bucket distributions in one groupBy
    (cr = all tokens, ct = en tokens via a conditional sum — the
    template's LEFT JOIN + COALESCE collapses into the same values),
    the totals derive from that 1024-row table instead of two more
    stream scans, and pass 2 scores per OCCURRENCE through the same
    broadcast join + per-doc decimal sum the template ends with, so
    the aggregation arithmetic is textually identical. Results are
    oracle-exact (driver-verified); the template stays the
    dual-dialect reference the oracle renders from."""
    from pyspark.sql import functions as F

    d = "spark"
    docs = _widen_starved_scan(docs)
    b = docs.selectExpr(
        "doc_id", "lang", f"{dl.explode(_tokens(d), 'w', d)}"
    ).selectExpr("doc_id", "lang", f"{dl.md5_int('w', d)} % 1024 AS bucket")
    # pass 1: both distributions in ONE map-side-combined agg; the
    # 1024-row result is checkpointed so lr + tots don't re-run it
    dist = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    ).localCheckpoint(eager=False)
    tots = dist.agg(
        F.sum("cr").alias("r_total"), F.sum("ct").alias("t_total")
    )
    lr = dist.crossJoin(tots).selectExpr(
        "bucket",
        "round(ln((ct + 1) * (r_total + CAST(1024 AS DOUBLE))"
        " / ((cr + 1) * (t_total + CAST(1024 AS DOUBLE)))), 6) AS logratio",
    )
    # pass 2: the template's own scoring tail — per-occurrence decimal
    # sum behind a broadcast bucket join
    return (
        b.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(SUM(1) AS BIGINT)").alias("n_toks"),
            F.expr(
                "round(CAST(SUM(CAST(logratio AS DECIMAL(28, 6)))"
                " AS DOUBLE), 6)"
            ).alias("dsir_logw"),
        )
        .select("doc_id", "n_toks", "dsir_logw")
    )


def dsir_weights_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_weights_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )


def dsir_weights_oracle() -> str:
    return dsir_weights("duckdb")


def ngram_lm_score_df(docs: DataFrame) -> DataFrame:
    """Spark-side plan for :func:`ngram_lm_score` (r17, guide §2.4):
    the template's exploded-bigram CTE ``bgw`` feeds three consumers
    (unigram counts, bigram counts, the scoring join) and Spark's CTE
    inlining re-ran the tokenize + array-transform + explode pipeline
    for each (8 parquet scans in the captured plan), then shuffled the
    full stream THREE times (join by pair, join by w1, final per-doc
    agg). This fork makes two stream passes and ONE stream shuffle:
    the bigram counts aggregate map-side-combined in pass 1, unigram
    counts DERIVE from the bigram table (c1(w1) = Σ c2 over pairs
    starting with w1 — exact, every occurrence has one w1), logp is
    computed per DISTINCT pair on that compact table, and pass 2
    replays the template's per-occurrence decimal scoring behind a
    single join on pair. The ``pairs`` expression is the template's
    own rendering, so short-document edge behavior is preserved
    verbatim."""
    from pyspark.sql import functions as F

    d = "spark"
    el = lambda i: dl.arr_el("toks", i, d)  # noqa: E731
    pair = f"concat({el('i')}, ' ', {el('i + 1')})"
    pairs = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('toks', d)} - 1", d), "i", pair, d
    )
    tok = _widen_starved_scan(docs).selectExpr(
        "doc_id", f"{_tokens(d)} AS toks"
    )
    bg = tok.selectExpr("doc_id", f"{dl.explode(pairs, 'pair', d)}")
    # pass 1: bigram model counts — ONE map-side-combined groupBy over
    # the stream; unigram counts DERIVE from it (every occurrence of
    # pair contributes exactly one w1), so the stream is never
    # re-exploded for `uni`. The checkpoint pins single computation
    # across bic's two consumers (uni derivation + the logp join).
    bic = bg.groupBy("pair").agg(
        F.count(F.lit(1)).alias("c2")
    ).localCheckpoint(eager=False)
    bicw = bic.selectExpr("pair", "c2", "split(pair, ' ')[0] AS w1")
    uni = bicw.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = uni.agg(F.count(F.lit(1)).alias("vocab"))
    # logp per DISTINCT pair (identical value for every occurrence of
    # the pair — the template computes it per occurrence)
    pair_logp = (
        bicw.join(uni, "w1")
        .crossJoin(v)
        .selectExpr(
            "pair",
            "round(ln((c2 + 0.5) / (c1 + 0.5 * vocab)), 6) AS logp",
        )
    )
    # pass 2: the template's own per-occurrence scoring tail — one
    # stream shuffle (by pair) instead of the template's three. The
    # shuffle_hash hint keeps the STREAM off the build side: Catalyst's
    # post-explode size estimate undercounts bg (explode output is
    # estimated near its input) and at bench scale it elected to
    # BROADCAST the stream — harmless here, an OOM at 100 TB. The
    # compact distinct-pair table is the per-partition build side.
    return (
        bg.join(pair_logp.hint("shuffle_hash"), "pair")
        .groupBy("doc_id")
        .agg(
            F.expr("COUNT(*)").alias("n_bigrams"),
            F.expr(
                "round(CAST(SUM(CAST(logp AS DECIMAL(28, 6))) AS DOUBLE)"
                " / COUNT(*), 6)"
            ).alias("avg_logp"),
        )
    )


def ngram_lm_score_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_lm_score_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def ngram_lm_score_oracle() -> str:
    return ngram_lm_score("duckdb")


def bpe_pair_counts(d: str) -> str:
    """The first iteration of BPE vocabulary training (Sennrich et al.,
    public) as one relational pass: corpus → distinct-word frequency
    table → adjacent character pairs weighted by word frequency. The
    iterative trainer (operators/textops.bpe_train) repeats exactly this
    aggregation over merged symbols; this query hash-gates its counting
    core. Two groupBys, both map-side combinable."""
    return f"""
WITH tok AS (
  SELECT {dl.explode(_tokens(d), 'w', d)} FROM documents
), wc AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
), pos AS (
  SELECT w, c, {dl.explode(dl.seq(1, 'length(w) - 1', d), 'i', d)}
  FROM wc WHERE length(w) >= 2
)
SELECT concat(substr(w, i, 1), ' ', substr(w, i + 1, 1)) AS pair,
       {dl.isum('c', d)} AS n
FROM pos
GROUP BY 1
"""


def decontaminate(d: str) -> str:
    """Benchmark decontamination: flag training documents sharing word
    3-gram shingles with a held-out eval set (every 50th doc here; in a
    real pipeline, the benchmark suite). The scale shape: shingles are
    exploded on both sides and matched by equi-join — the eval side is
    tiny and broadcastable, the train side streams, so contamination
    checking at 100 TB is one broadcast hash join, never a cross
    product. (The n-gram-overlap method follows the public GPT-3 /
    FineWeb decontamination recipes.)"""
    el = lambda i: dl.arr_el("toks", i, d)  # noqa: E731
    shingle = f"concat({el('i')}, ' ', {el('i + 1')}, ' ', {el('i + 2')})"
    shingles = dl.arr_transform(
        dl.seq(1, f"{dl.arr_size('toks', d)} - 2", d), "i", shingle, d
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {_tokens(d)} AS toks FROM documents
), sh AS (
  SELECT doc_id, {dl.explode(dl.arr_distinct(shingles, d), 'shingle', d)}
  FROM tok WHERE {dl.arr_size('toks', d)} >= 3
), eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
), train AS (
  SELECT doc_id, COUNT(*) AS n_shingles
  FROM sh WHERE doc_id % 50 <> 0 GROUP BY doc_id
), hits AS (
  SELECT s.doc_id, COUNT(*) AS n_contaminated
  FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
  WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id
)
SELECT t.doc_id, t.n_shingles,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       round(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles, 6)
         AS contaminated_ratio,
       CASE WHEN COALESCE(h.n_contaminated, 0) * 2 >= t.n_shingles
            THEN 1 ELSE 0 END AS flagged
FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
"""


def gopher_quality(d: str) -> str:
    """Gopher-rule quality filter (public Rae et al. 2021 heuristics
    adapted to this corpus): word-count bounds, mean word length bounds,
    alphabetic-word fraction, stopword presence, repetition cap. One
    projection + filterable flag — no shuffle, no UDF; at 100 TB this is
    a map-only pass that Catalyst pipelines into the scan."""
    toks = _tokens(d)
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS["en"])
    n_stop = dl.arr_size(dl.arr_filter("toks", "t", f"t IN ({stop_list})", d), d)
    n_alpha = dl.arr_size(
        dl.arr_filter("toks", "t", "regexp_matches(t, '[a-z]')" if d != "spark"
                      else "t rlike '[a-z]'", d), d
    )
    nw = dl.arr_size("toks", d)
    ndw = dl.arr_size(dl.arr_distinct("toks", d), d)
    return f"""
WITH t AS (
  SELECT doc_id, n_chars, {toks} AS toks FROM documents
), sig AS (
  SELECT doc_id,
         {nw} AS n_words,
         round(CAST(n_chars AS DOUBLE) / greatest({nw}, 1), 6) AS mean_word_len,
         round(CAST({n_alpha} AS DOUBLE) / greatest({nw}, 1), 6) AS alpha_word_ratio,
         {n_stop} AS n_stopwords,
         round(CAST({ndw} AS DOUBLE) / greatest({nw}, 1), 6) AS distinct_ratio
  FROM t
)
SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, n_stopwords,
       distinct_ratio,
       CASE WHEN n_words >= 10 AND n_words <= 100000
             AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
             AND alpha_word_ratio >= 0.8
             AND n_stopwords >= 1
             AND distinct_ratio >= 0.1
            THEN 1 ELSE 0 END AS passes
FROM sig
"""


def tfidf_top_terms(d: str) -> str:
    """Per-source top-5 terms by TF-IDF — the corpus-characterization
    query of a curation dashboard. Two aggs (term freq per source,
    doc freq per term) + a broadcastable doc-count scalar + a window
    top-k; all shuffles are keyed by token or source (uniform keys).
    Deterministic: score rounded before ranking, token tiebreak."""
    return f"""
WITH tok AS (
  SELECT doc_id, source, {dl.explode(_tokens(d), 'tok', d)} FROM documents
), tf AS (
  SELECT source, tok, COUNT(*) AS tf FROM tok GROUP BY source, tok
), df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.source, tf.tok,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
)
SELECT source, tok, tfidf, rn FROM (
  SELECT source, tok, tfidf,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY tfidf DESC, tok) AS rn
  FROM scored
) t WHERE rn <= 5
"""


def pii_scan(d: str) -> str:
    """PII pattern counts per document (emails, phone-ish numbers,
    16-digit card-ish numbers) — the redaction-triage pass of a training
    pipeline. regexp counting stays JVM/native-side in both engines."""
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone = r"[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}"
    card = r"[0-9]{16}"

    def cnt(pat: str) -> str:
        if d == "spark":
            # Spark SQL string literals consume backslashes; DuckDB's don't
            return f"size(regexp_extract_all(text, '{pat.replace(chr(92), chr(92) * 2)}', 0))"
        return f"len(regexp_extract_all(text, '{pat}'))"

    entity = r"\b(customer|supplier|part)\b"
    # the driver corpus has no real PII, so plant rows (same VALUES
    # pattern as pii_redact) — the email/phone/card counters execute on
    # actual matches instead of being vacuously zero on every row
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT CAST(v.doc_id AS BIGINT) AS doc_id, v.text FROM (VALUES
    (9000001, 'contact alice.smith@example.com or bob@mail.co for details'),
    (9000002, 'call 415-555-0199 or 212.555.0142 before 9'),
    (9000003, 'card 4111111111111111 on file; a@b_cc is not an email'),
    (9000004, 'eve@corp.example.org phone 650 555 0123 card 5500005555555559')
  ) AS v(doc_id, text)
)
SELECT doc_id,
       {cnt(email)} AS n_emails,
       {cnt(phone)} AS n_phones,
       {cnt(card)} AS n_cardlike,
       {cnt(entity)} AS n_entities
FROM corpus
WHERE {cnt(email)} + {cnt(phone)} + {cnt(card)} + {cnt(entity)} > 0
"""


_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_PHONE = r"[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}"
_PII_CARD = r"[0-9]{16}"


def _pii_redact_expr(col: str, d: str) -> str:
    """The redaction expression itself (email → phone → card), exposed
    so tests can assert the redacted TEXT on planted strings, not just
    its hash. Backslashes in the patterns are doubled for the spark
    dialect because Spark SQL string literals consume one level."""
    def esc(pat: str) -> str:
        return pat.replace(chr(92), chr(92) * 2) if d == "spark" else pat

    return dl.re_replace(
        dl.re_replace(
            dl.re_replace(col, esc(_PII_EMAIL), "<EMAIL>", d),
            esc(_PII_PHONE), "<PHONE>", d,
        ),
        esc(_PII_CARD), "<CARD>", d,
    )


def pii_redact(d: str) -> str:
    """PII REDACTION (the transform :func:`pii_scan` triages for):
    emails / phone-like / card-like spans replaced with typed
    placeholders in one map-only pass — three chained global
    regexp_replace calls, JVM/native-side in both engines, no shuffle
    beyond the scan. Returns the canonical hash of the redacted text
    plus the per-kind counts so the driver gate proves the TRANSFORM
    byte-identical across engines, not just the counts.

    The driver corpus contains no real PII, so a handful of
    PII-bearing rows are planted via an inline VALUES table (same
    literal SQL in both dialects) — the gate compares actual redacted
    bytes, never two empty sets. Row 9000003 carries ``a@b_cc``, a
    dot-LESS email-shaped span: it must NOT be redacted, which pins
    the ``\\.`` escaping in the pattern handed to each engine (Spark
    string literals consume one backslash level; DuckDB's don't)."""
    email, phone, card = _PII_EMAIL, _PII_PHONE, _PII_CARD

    def esc(pat: str) -> str:
        # Spark SQL string literals consume backslashes; DuckDB's don't
        return pat.replace(chr(92), chr(92) * 2) if d == "spark" else pat

    def cnt(pat: str) -> str:
        if d == "spark":
            return f"size(regexp_extract_all(text, '{esc(pat)}', 0))"
        return f"len(regexp_extract_all(text, '{pat}'))"

    red = _pii_redact_expr("text", d)
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT CAST(v.doc_id AS BIGINT) AS doc_id, v.text FROM (VALUES
    (9000001, 'contact alice.smith@example.com or bob@mail.co for details'),
    (9000002, 'call 415-555-0199 or 212.555.0142 before 9'),
    (9000003, 'card 4111111111111111 on file; a@b_cc is not an email'),
    (9000004, 'eve@corp.example.org phone 650 555 0123 card 5500005555555559')
  ) AS v(doc_id, text)
)
SELECT doc_id,
       md5({red}) AS redacted_hash,
       {cnt(email)} AS n_emails,
       {cnt(phone)} AS n_phones,
       {cnt(card)} AS n_cardlike
FROM corpus
WHERE {cnt(email)} + {cnt(phone)} + {cnt(card)} > 0
"""


def chunk_dedup(d: str) -> str:
    """Sub-document (CCNet-style 'paragraph') exact dedup: split each
    doc into fixed 20-token windows, hash each window, and report
    windows appearing in more than one document. One explode + one
    groupBy(hash) — the hash key is uniform so the shuffle has no skew,
    and map-side combine collapses within-partition repeats before the
    exchange. At 100 TB this is the standard pre-pass that removes
    boilerplate paragraphs exact-dup docs share without whole-doc
    matching."""
    toks = _tokens(d)
    n_chunks = f"CAST(ceil({dl.arr_size('toks', d)} / 20.0) AS INT)"
    chunk = dl.arr_join(dl.arr_slice("toks", "(i - 1) * 20 + 1", 20, d), " ", d)
    return f"""
WITH t AS (SELECT doc_id, {_tokens(d)} AS toks FROM documents),
chunks AS (
  SELECT doc_id, {dl.explode(dl.seq(1, n_chunks, d), 'i', d)} FROM t
),
hashed AS (
  SELECT c.doc_id, md5({chunk}) AS chunk_hash
  FROM chunks c JOIN t ON c.doc_id = t.doc_id
)
SELECT chunk_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences,
       MIN(doc_id) AS keeper_doc
FROM hashed
GROUP BY chunk_hash
HAVING COUNT(DISTINCT doc_id) > 1
ORDER BY n_docs DESC, chunk_hash
"""


def doc_chunking(d: str) -> str:
    """Context-window chunking: split token streams into non-overlapping
    50-token chunks (last chunk ragged) — the fan-out step that turns
    documents into training samples. Map-only explode, no shuffle; chunk
    count and boundaries derived from the token array, not a second
    tokenization."""
    n_chunks = f"CAST(ceil({dl.arr_size('toks', d)} / 50.0) AS INT)"
    piece = dl.arr_slice("toks", "(i - 1) * 50 + 1", 50, d)
    return f"""
WITH t AS (SELECT doc_id, {_tokens(d)} AS toks FROM documents),
c AS (SELECT doc_id, toks, {dl.explode(dl.seq(1, n_chunks, d), 'i', d)} FROM t)
SELECT doc_id, i AS chunk_idx,
       {dl.arr_size(piece, d)} AS n_tokens,
       md5({dl.arr_join(piece, ' ', d)}) AS chunk_hash
FROM c
"""


def source_quota(d: str) -> str:
    """Per-source document quota: keep at most 15 docs per source,
    preferring longer docs (deterministic tiebreak on doc_id) — the
    domain-balancing cap every web-scale corpus applies. Windowed
    row_number partitioned by source: one shuffle on the source key;
    skewed mega-sources would use a pre-aggregated count + salted
    two-stage top-k at 100 TB."""
    return """
SELECT source, doc_id, n_chars, rn
FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
) t
WHERE rn <= 15
"""


def source_temperature_mix(d: str) -> str:
    """Temperature-based source mixing (the multilingual / data-mixing
    resampling rule, e.g. the τ-sampling of public multilingual
    pipelines): target share of source i ∝ n_i^τ (τ=0.5 upweights the
    tail), realized as a per-source keep-RATE applied by deterministic
    hash thresholding — no rand(), no ordering dependence, reproducible
    at any cluster size. Shape: one tiny per-source aggregate
    (broadcast back), then a map-only filter over the corpus; the only
    full shuffle is the final per-source count rollup. Deterministic ⇒
    hash-exact in both dialects (floor + shared md5 threshold)."""
    cast_s = "STRING" if d == "spark" else "VARCHAR"
    h = f"({dl.md5_int(f'CAST(doc_id AS {cast_s})', d, hex_chars=8)} % 1048576)"
    return f"""
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         pow(CAST(COUNT(*) AS DOUBLE), 0.5) AS wgt
  FROM documents GROUP BY source
), rate AS (
  SELECT source, n,
         least(1.0, (wgt / (SELECT SUM(wgt) FROM c))
                    * (SELECT CAST(SUM(n) AS DOUBLE) FROM c) * 0.5 / n)
           AS keep_rate
  FROM c
)
SELECT doc.source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(rate.n) AS n_total,
       round(MIN(rate.keep_rate), 6) AS keep_rate
FROM documents doc JOIN rate ON doc.source = rate.source
WHERE {h} < CAST(floor(rate.keep_rate * 1048576) AS BIGINT)
GROUP BY doc.source
"""


def text_normalize(d: str) -> str:
    """Normalization pre-pass: lowercase, strip non-alphanumeric
    punctuation, collapse whitespace runs, trim — then fingerprint the
    canonical form. Map-only (no shuffle); the canonical md5 is the join
    key later dedup stages use, so it must be bit-identical across
    engines (dialect-checked global regex replace)."""
    canon = dl.re_replace(
        dl.re_replace("lower(text)", "[^a-z0-9 ]", " ", d), " +", " ", d
    )
    return f"""
SELECT doc_id,
       md5(trim({canon})) AS canon_hash,
       length(trim({canon})) AS canon_len,
       length(text) AS raw_len
FROM documents
"""


def dataset_shuffle(d: str) -> str:
    """Deterministic global shuffle for training-order assignment:
    bucket = leading md5 bits of doc_id (1024 buckets), position within
    bucket = row_number ordered by the full hash. Fully parallel — the
    window partitions by bucket so no single-partition global sort
    exists anywhere in the plan; global order is (bucket, pos). Re-runs
    reproduce the identical permutation on any cluster size."""
    h = dl.md5_int("CAST(doc_id AS STRING)" if d == "spark" else "doc_id::VARCHAR", d, 12)
    return f"""
WITH keyed AS (
  SELECT doc_id, {h} AS shuffle_key FROM documents
)
SELECT doc_id,
       shuffle_key % 1024 AS bucket,
       ROW_NUMBER() OVER (PARTITION BY shuffle_key % 1024
                          ORDER BY shuffle_key, doc_id) AS pos_in_bucket
FROM keyed
"""


def html_extract_stats(d: str) -> str:
    """HTML boilerplate strip (E48) — the jusText/C4-class main-text
    extraction stage of a web-crawl pipeline, as one map-only
    regexp/replace projection (single logic source:
    :func:`raquet_spark.operators.textops.html_strip_expr`, also the
    Column operator ``html_extract``). The corpus has no markup, so a
    deterministic page skeleton (nav/script/style/aside/footer
    boilerplate, comments, entities) wraps each document — the strip
    runs on real tag structure while staying closed-form for the
    oracle. Output: per-doc raw/clean lengths, boilerplate ratio, and
    the md5 of the extracted text (hash-pins every replace step)."""
    from raquet_spark.operators.textops import html_strip_expr

    strip = html_strip_expr("html", d)
    synth = (
        "'<!-- page ' || CAST(doc_id AS STRING) || ' --><html><head>"
        "<title>Doc ' || CAST(doc_id AS STRING) || '</title>"
        "<style>body { color: #333; } .x { margin: 0 }</style>"
        "<script>if (1 < 2 && 2 > 1) { track(); }</script></head>"
        "<body><header>site chrome</header>"
        "<nav><a href=\"/home\">home</a> | <a href=\"/about\">about</a></nav>"
        "<div id=\"main\"><h1>Title &amp; subtitle</h1>"
        "<p class=\"lead\">' || text || '</p>"
        "<p>&quot;quoted&quot; &#39;s &lt;tag&gt;&nbsp;end</p></div>"
        "<aside>related links</aside>"
        "<footer>&copy; example ' || CAST(doc_id AS STRING) || '</footer>"
        "</body></html>'"
    )
    return f"""
WITH pages AS (
  SELECT doc_id, {synth} AS html FROM documents
), ex AS (
  SELECT doc_id, length(html) AS raw_len, {strip} AS clean FROM pages
)
SELECT doc_id, raw_len, length(clean) AS clean_len,
       round(1.0 - CAST(length(clean) AS DOUBLE) / raw_len, 6)
         AS boilerplate_ratio,
       md5(clean) AS clean_md5
FROM ex
"""


def url_canonical_quota(d: str) -> str:
    """URL canonicalization + per-domain quota (E49) — the CommonCrawl
    recipe complementing E28's per-source quota: lowercase scheme/host,
    strip ``www.`` and default ports, empty path → ``/``, drop
    fragment and tracking params, sort survivors; then keep at most 3
    docs per registered domain by the deterministic min-doc_id policy
    (no rand()). Single logic source:
    :func:`raquet_spark.operators.textops.url_canonical_steps` (the
    ``url_canonicalize``/``domain_quota`` operators apply the same
    steps; ``domain_quota`` is the salted skew-safe variant at scale).
    URLs are synthesized deterministically to exercise every rule:
    upper-case scheme+www host, ``:443`` on every 3rd doc, empty path
    on every 4th, unsorted params with utm/gclid noise, fragment on
    every 2nd."""
    from raquet_spark.operators.textops import url_canonical_steps

    synth = (
        "'HTTPS://WWW.' || upper(source) || '-' "
        "|| CAST(doc_id % 7 AS STRING) || '.COM' ||"
        " CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||"
        " CASE WHEN doc_id % 4 = 0 THEN ''"
        "      ELSE '/Pages/' || CAST(doc_id % 50 AS STRING) END ||"
        " '?utm_source=feed&b=' || CAST(doc_id % 7 AS STRING)"
        " || '&a=1&gclid=xyz' ||"
        " CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END"
    )
    sql = f"WITH s0 AS (\n  SELECT doc_id, {synth} AS url FROM documents\n)"
    prev = 0
    for i, (name, expr) in enumerate(url_canonical_steps("url", d), 1):
        sql += f", s{i} AS (\n  SELECT *, {expr} AS {name} FROM s{prev}\n)"
        prev = i
    return sql + f""",
ranked AS (
  SELECT doc_id, canonical_url, domain,
         ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
  FROM s{prev}
)
SELECT doc_id, canonical_url, domain,
       CASE WHEN rn <= 3 THEN 1 ELSE 0 END AS kept
FROM ranked
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

_SQL_QUERIES: dict[str, Callable[[str], str]] = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_supplier_volume": q5_supplier_volume,
    "q6_forecast": q6_forecast,
    "q4_order_priority": q4_order_priority,
    "q7_nation_volume": q7_nation_volume,
    "q9_profit_by_nation": q9_profit_by_nation,
    "q10_returned_items": q10_returned_items,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q14_promo_share": q14_promo_share,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive": q19_disjunctive,
    "q22_idle_customers": q22_idle_customers,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q8_market_share": q8_market_share,
    "q11_important_parts": q11_important_parts,
    "q12_ship_delay": q12_ship_delay,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "q20_part_suppliers": q20_part_suppliers,
    "q21_exclusive_returns": q21_exclusive_returns,
    "orders_priority_rollup": orders_priority_rollup,
    "events_moving_avg": events_moving_avg,
    "events_funnel": events_funnel,
    "retention_cohorts": retention_cohorts,
    "customer_balance_deciles": customer_balance_deciles,
    "nation_revenue_share": nation_revenue_share,
    "topk_parts_per_brand": topk_parts_per_brand,
    "events_daily": events_daily,
    "events_sessionize": events_sessionize,
    "qb_point_cells": qb_point_cells,
    "qb_parent_rollup": qb_parent_rollup,
    "qb_tile_roundtrip": qb_tile_roundtrip,
    "qb_cell_bounds": qb_cell_bounds,
    "qb_children": qb_children,
    "qb_kring": qb_kring,
    "qb_kring_distances": qb_kring_distances,
    "qb_distance": qb_distance,
    "qb_validity": qb_validity,
    "qb_bbox_polyfill": qb_bbox_polyfill,
    "dedup_exact": dedup_exact,
    "dedup_minhash": dedup_minhash,
    "dedup_simhash": dedup_simhash,
    "ngram_jaccard": ngram_jaccard,
    "dedup_embedding": dedup_embedding,
    "lang_id": lang_id,
    "doc_quality": doc_quality,
    "token_counts": token_counts,
    "doc_fingerprint": doc_fingerprint,
    "dataset_split": dataset_split,
    "stratified_sample": stratified_sample,
    "repetition_stats": repetition_stats,
    "decontaminate": decontaminate,
    "gopher_quality": gopher_quality,
    # ngram_lm_score / dsir_weights: templates stay the dual-dialect
    # reference (and the oracle rendering), but the Spark side runs the
    # single-pass forks in _PIPELINE_QUERIES (r17 — Spark re-inlined
    # the shared CTE 3-5x; see dsir_weights_df/ngram_lm_score_df)
    "sketch_user_reach": sketch_user_reach,
    "pipeline_clean_counts": pipeline_clean_counts,
    "bpe_pair_counts": bpe_pair_counts,
    "doc_feature_hash": doc_feature_hash,
    "tfidf_top_terms": tfidf_top_terms,
    "pii_scan": pii_scan,
    "pii_redact": pii_redact,
    "chunk_dedup": chunk_dedup,
    "substring_dedup_stats": substring_dedup_stats,
    "sequence_pack_stats": sequence_pack_stats,
    "doc_chunking": doc_chunking,
    "source_quota": source_quota,
    "source_temperature_mix": source_temperature_mix,
    "text_normalize": text_normalize,
    "dataset_shuffle": dataset_shuffle,
    "length_percentiles": length_percentiles,
    "events_json_rollup": events_json_rollup,
    "html_extract_stats": html_extract_stats,
    "url_canonical_quota": url_canonical_quota,
}

_IVF_CACHE: dict[tuple, list] = {}


def ann_ivf_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors — rows-only check (approximate
    by construction; recall vs brute force is pytest-gated). The
    quantizer is trained once per (app, corpus) and reused — index
    build is an offline step, not a per-query cost."""
    from raquet_spark.operators.similarity import _kmeans_centroids, ann_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    key = (spark.sparkContext.applicationId, sf_dir, 16)
    cent = _IVF_CACHE.get(key)
    if cent is None:
        cent = _kmeans_centroids(emb, "embedding", 16, 5, 7, 100_000)
        _IVF_CACHE[key] = cent
    queries_df = emb.where("vec_id % 25 = 0")
    return ann_ivf(emb, queries_df, k=5, n_clusters=16, n_probe=4, centroids=cent)


_COLLAPSE_OFF = 5_000_000


def dedup_minhash_collapse_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r16 duplicate-collapse pair shape driven end-to-end: plant an
    exact copy of every 7th document, run the OPERATOR with
    ``collapse_identical=True`` (identical-signature groups → one
    representative + star edges, band self-join over reps only), and
    hash the complete sparsified listing against a DuckDB oracle that
    computes the same collapse in pure SQL (signature groupBy → rep →
    star ∪ rep-band pairs). Proves the production keep-min funnel's
    pair generator, not just its components, is oracle-exact."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(_COLLAPSE_OFF)).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(planted)
    # materialize signatures once: the collapse fans them into the
    # rep groupBy, the star join-back, and the rep band join — a lazy
    # plan recomputes the shingle+md5 pipeline per consumer.
    # eager=False (r17): the checkpoint still guarantees
    # compute-once-then-cache, but materialization folds into the
    # first consuming job instead of a dedicated driver round-trip
    # (measured: 8 → 7 jobs, same results)
    from raquet_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(corpus).localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(sigs, collapse_identical=True)
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def dedup_minhash_collapse_oracle() -> str:
    d = "duckdb"
    src = (
        f"(SELECT doc_id, text FROM documents UNION ALL "
        f"SELECT doc_id + {_COLLAPSE_OFF} AS doc_id, text "
        f"FROM documents WHERE doc_id % 7 = 0)"
    )
    sig_cols = ", ".join(f"m{i}" for i in range(8))
    sig_eq = " AND ".join(f"m.m{i} = r.m{i}" for i in range(8))
    return f"""
WITH mins AS (
{_minhash_mins_sql(d, source=src)}
), reps AS (
  SELECT {sig_cols}, MIN(doc_id) AS rep
  FROM mins GROUP BY {sig_cols}
), star AS (
  SELECT r.rep AS doc_a, m.doc_id AS doc_b
  FROM mins m JOIN reps r ON {sig_eq}
  WHERE m.doc_id <> r.rep
), rep_bands AS (
  SELECT rep AS doc_id, {dl.explode(_minhash_band_arr(d), 'bk', d)}
  FROM reps
), rep_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rep_bands a JOIN rep_bands b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b FROM rep_pairs
UNION ALL
SELECT doc_a, doc_b FROM star
"""


_CHAINCAP_OFF = 9_000_000
_CHAINCAP_N = 50
_CHAINCAP_CAP = 12
#: deterministic boilerplate base for the chain-cap plant — a literal
#: (not a sampled document) so both dialects state the corpus exactly
#: and the query plan carries no agg/join just to pick a seed text
_CHAINCAP_BASE = " ".join(f"boiler{i}" for i in range(40))


def dedup_minhash_chaincap_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r16 mega-bucket chain cap driven end-to-end: plant 50
    NEAR-identical variants of one boilerplate text (a distinct suffix
    token each — distinct signatures, shared band keys: the
    near-clique shape the collapse cannot touch), run the operator
    with ``max_bucket_rows=12``, and hash the capped listing against a
    DuckDB oracle computing the identical semantics in pure SQL
    (under-cap buckets self-join exactly; over-cap buckets emit
    id-rank-adjacent chain pairs via a window)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = spark.range(_CHAINCAP_N).select(
        (F.lit(_CHAINCAP_OFF) + F.col("id")).alias("doc_id"),
        F.concat(
            F.lit(_CHAINCAP_BASE + " zvar"), F.col("id").cast("string")
        ).alias("text"),
    )
    corpus = docs.unionByName(variants)
    # materialize the signatures once: the capped path fans the sig
    # table into FOUR consumers (under/over × self-join sides) plus the
    # bucket-count window — a lazy plan recomputes the shingle+md5
    # pipeline (and the base-doc agg) per branch (measured 46 s → 6 s
    # at sf0.01)
    from raquet_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(corpus).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(sigs, max_bucket_rows=_CHAINCAP_CAP)
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def dedup_minhash_chaincap_oracle() -> str:
    d = "duckdb"
    src = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT {_CHAINCAP_OFF} + t.s AS doc_id,
         '{_CHAINCAP_BASE} zvar' || CAST(t.s AS VARCHAR) AS text
  FROM (SELECT UNNEST(RANGE({_CHAINCAP_N})) AS s) t
)"""
    return f"""
WITH mins AS (
{_minhash_mins_sql(d, source=src)}
), bands AS (
  SELECT doc_id, {dl.explode(_minhash_band_arr(d), 'bk', d)} FROM mins
), sized AS (
  SELECT doc_id, bk, COUNT(*) OVER (PARTITION BY bk) AS bn FROM bands
), under_cap AS (
  SELECT doc_id, bk FROM sized WHERE bn <= {_CHAINCAP_CAP}
), over_cap AS (
  SELECT doc_id, bk,
         ROW_NUMBER() OVER (PARTITION BY bk ORDER BY doc_id) AS rn
  FROM sized WHERE bn > {_CHAINCAP_CAP}
), all_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM under_cap a JOIN under_cap b
    ON a.bk = b.bk AND a.doc_id < b.doc_id
  UNION ALL
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM over_cap a JOIN over_cap b
    ON a.bk = b.bk AND b.rn = a.rn + 1
)
SELECT DISTINCT doc_a, doc_b FROM all_pairs
"""


def dedup_components_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash-LSH pair
    graph (iterative min-label propagation; non-SQL-expressible on the
    Spark side, recursive-CTE oracle on DuckDB)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.dedup import connected_components

    register_views(spark, sf_dir)
    pairs = spark.sql(dedup_minhash("spark"))
    comp = connected_components(
        # auto_width=False: `pairs` here is the LAZY dual-dialect SQL
        # rendering, so the sizing count() would re-execute the full
        # minhash plan once per query at toy scale; the production
        # funnel (CLI/probe) feeds MATERIALIZED pairs and auto-sizes.
        # collapse_identical stays OFF here BY DESIGN (r17 call-site
        # audit): the pair set IS the dual-dialect SQL template — the
        # same text the DuckDB oracle executes — and the collapse
        # happens at signature level, which the shared SQL rendering
        # cannot express without forking the dialects. Component-
        # consuming PRODUCTION callers (CLI dedup funnel, pipeline
        # demo, scale-probe collapse arms) all collapse.
        pairs, src="doc_a", dst="doc_b", auto_width=False,
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("component")
    )


def asof_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark-missing operator): each event gets the most
    recent order at-or-before its timestamp for the same user. Oracle is
    DuckDB's native ASOF LEFT JOIN; the Spark side is the union+window
    shape in operators/joins.asof_join (one shuffle, no cross product).
    Orders are pre-aggregated to one row per (user, date) so the match
    is deterministic under ties."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.joins import asof_join

    register_views(spark, sf_dir)
    orders = (
        spark.table("orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_totalprice").alias("o_total"))
    )
    events = spark.table("events")
    out = asof_join(
        events, orders, on="user_id", left_time="ts", right_time="o_orderdate"
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof.o_orderdate").alias("order_date"),
        F.col("asof.o_total").alias("o_total"),
    )


def asof_join_oracle() -> str:
    return """
WITH oa AS (
  SELECT o_custkey AS user_id, o_orderdate, MAX(o_totalprice) AS o_total
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, oa.o_orderdate AS order_date, oa.o_total
FROM events e ASOF LEFT JOIN oa
  ON e.user_id = oa.user_id AND e.ts >= oa.o_orderdate
"""


def range_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (Spark-missing operator): classify every event into
    each event-type's observed [min, max] value band. Spark's native
    plan for the inequality join is BroadcastNestedLoop (quadratic);
    operators/joins.range_join rewrites it as bucket-explode +
    equi-join + refine. Oracle is the plain theta join on DuckDB."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.joins import range_join

    register_views(spark, sf_dir)
    events = spark.table("events")
    bands = events.groupBy(F.col("event_type").alias("band_type")).agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    joined = range_join(events, bands, "value", "lo", "hi", bucket_width=25.0)
    return joined.groupBy("band_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_source_types"),
    )


def range_join_oracle() -> str:
    return """
WITH bands AS (
  SELECT event_type AS band_type, MIN(value) AS lo, MAX(value) AS hi
  FROM events GROUP BY event_type
)
SELECT b.band_type, COUNT(*) AS n_events,
       COUNT(DISTINCT e.event_type) AS n_source_types
FROM events e JOIN bands b ON e.value >= b.lo AND e.value <= b.hi
GROUP BY b.band_type
"""


def dedup_prune_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OUTPUT: documents surviving near-dup pruning (keep the
    min-id doc per MinHash-LSH connected component, drop the rest).
    Scale shape: the drop-list is |duplicates| rows — tiny relative to
    the corpus — so the final filter is a broadcast anti-join against
    the full table; the corpus itself is never shuffled."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.dedup import connected_components

    register_views(spark, sf_dir)
    pairs = spark.sql(dedup_minhash("spark"))
    comp = connected_components(
        # auto_width=False: `pairs` here is the LAZY dual-dialect SQL
        # rendering, so the sizing count() would re-execute the full
        # minhash plan once per query at toy scale; the production
        # funnel (CLI/probe) feeds MATERIALIZED pairs and auto-sizes.
        # collapse_identical stays OFF here BY DESIGN (r17 call-site
        # audit): the pair set IS the dual-dialect SQL template — the
        # same text the DuckDB oracle executes — and the collapse
        # happens at signature level, which the shared SQL rendering
        # cannot express without forking the dialects. Component-
        # consuming PRODUCTION callers (CLI dedup funnel, pipeline
        # demo, scale-probe collapse arms) all collapse.
        pairs, src="doc_a", dst="doc_b", auto_width=False,
    )
    drop = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = spark.table("documents")
    kept = docs.join(F.broadcast(drop), "doc_id", "left_anti")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.min("doc_id").alias("min_doc")
    )


def dedup_prune_oracle() -> str:
    minhash = dedup_minhash("duckdb")
    return f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({minhash}) q
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(node, label) AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
), dropped AS (
  SELECT node AS doc_id FROM comp WHERE node <> component
)
SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS min_doc
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
GROUP BY source
"""


def dedup_cluster_sizes_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster quality report: distribution of component sizes
    (how many clusters of 2, of 3, ...) — the curation dashboard number
    a dedup pipeline is tuned by. Singletons (docs with no near-dup)
    are excluded: the pair graph only contains matched docs."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.dedup import connected_components

    register_views(spark, sf_dir)
    pairs = spark.sql(dedup_minhash("spark"))
    comp = connected_components(
        # auto_width=False: `pairs` here is the LAZY dual-dialect SQL
        # rendering, so the sizing count() would re-execute the full
        # minhash plan once per query at toy scale; the production
        # funnel (CLI/probe) feeds MATERIALIZED pairs and auto-sizes.
        # collapse_identical stays OFF here BY DESIGN (r17 call-site
        # audit): the pair set IS the dual-dialect SQL template — the
        # same text the DuckDB oracle executes — and the collapse
        # happens at signature level, which the shared SQL rendering
        # cannot express without forking the dialects. Component-
        # consuming PRODUCTION callers (CLI dedup funnel, pipeline
        # demo, scale-probe collapse arms) all collapse.
        pairs, src="doc_a", dst="doc_b", auto_width=False,
    )
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def dedup_cluster_sizes_oracle() -> str:
    minhash = dedup_minhash("duckdb")
    return f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({minhash}) q
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(node, label) AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, MIN(label) AS component FROM reach GROUP BY node
), sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
)
SELECT cluster_size, COUNT(*) AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


def dedup_components_oracle() -> str:
    minhash = dedup_minhash("duckdb")
    return f"""
WITH RECURSIVE pairs AS (
  SELECT * FROM ({minhash}) q
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(node, label) AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
  UNION
  SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, MIN(label) AS component
FROM reach GROUP BY node
"""


_LSH_PLANT_OFFSET = 1_000_000


def dedup_embedding_lsh_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: LSH-bucketed candidates +
    exact cosine verify over the WHOLE corpus (no label blocking).

    Driver check: the corpus is the embeddings table plus an exact copy
    of every 10th vector under ``vec_id + 1_000_000``. Identical vectors
    collide in EVERY LSH table, so the planted pairs (id, id+1e6,
    cos=1.0) are found deterministically — the oracle enumerates them in
    closed form, making this a hash-exact recall gate (an escaped
    planted pair would drop a row). Non-planted near-dup recall stays
    pytest-gated (approximate by construction)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.dedup import embedding_dedup_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(_LSH_PLANT_OFFSET)
    )
    pairs = embedding_dedup_pairs_lsh(
        emb.unionByName(planted), threshold=0.95, n_bits=6, n_tables=16, dim=64
    )
    return pairs.where(
        F.col("id_b") == F.col("id_a") + F.lit(_LSH_PLANT_OFFSET)
    ).select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        F.round("cos_sim", 5).alias("cos_sim"),
    )


def semantic_dedup_keep_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning end-to-end: embedding LSH
    candidate pairs → connected components → keep the minimum id per
    near-duplicate cluster. The driver corpus plants an exact copy of
    every 10th vector (ids + 1e6); restricting to the planted edges
    makes the kept set closed-form (exactly the original ids — every
    planted copy must be clustered with, and pruned in favor of, its
    original), so the whole LSH → graph → prune chain gets a hard hash.
    Free-threshold semantic dedup over arbitrary corpora is the same
    code path minus the planted filter (pytest recall-gated)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.dedup import (
        connected_components,
        embedding_dedup_pairs_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(_LSH_PLANT_OFFSET)
    )
    corpus = emb.unionByName(planted)
    pairs = embedding_dedup_pairs_lsh(
        corpus, threshold=0.95, n_bits=6, n_tables=16, dim=64
    ).where(F.col("id_b") == F.col("id_a") + F.lit(_LSH_PLANT_OFFSET))
    comp = connected_components(
        # auto_width=False: lazy SQL pairs plan (see the minhash sites).
        # collapse_identical stays OFF by design (r17 audit): the
        # planted +offset filter already bounds pair volume to the
        # linear planted set, and the collapse's pre-band groupBy would
        # break the fused planted-filter join the plan gate pins
        # (test_semantic_dedup_keeps_planted_filter_pushed)
        pairs, "id_a", "id_b", auto_width=False,
    )
    pruned = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("vec_id")
    )
    kept = corpus.select("vec_id").join(pruned, "vec_id", "left_anti")
    return kept.select(F.col("vec_id").alias("kept_id"))


def phash_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup end-to-end (pHash DCT signature →
    banded hamming equi-join): the corpus is the deterministic media
    table plus byte-identical copies of every 5th image under
    ``media_id + 10000`` — identical payloads hash identically, so the
    planted pairs surface at distance 0 deterministically and the
    oracle enumerates them in closed form. Near-dup (distance > 0)
    behavior is pytest-gated (perturbation tests)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.multimodal import (
        make_media_table,
        phash_dedup_pairs,
        phash_table,
    )

    media = make_media_table(spark, n=40).select("media_id", "payload")
    copies = media.where(F.col("media_id") % 5 == 0).withColumn(
        "media_id", F.col("media_id") + F.lit(10_000)
    )
    hashes = phash_table(media.unionByName(copies))
    pairs = phash_dedup_pairs(hashes, max_distance=0)
    return pairs.where(
        F.col("id_b") == F.col("id_a") + F.lit(10_000)
    ).select("id_a", "id_b", "distance")


def phash_dedup_oracle() -> str:
    return """
SELECT CAST(i AS BIGINT) AS id_a,
       CAST(i + 10000 AS BIGINT) AS id_b,
       CAST(0 AS INT) AS distance
FROM (SELECT unnest(range(0, 40, 5)) AS i)
"""


def semantic_dedup_keep_oracle() -> str:
    return """
SELECT CAST(vec_id AS BIGINT) AS kept_id FROM embeddings
"""


def dedup_embedding_lsh_oracle() -> str:
    return f"""
SELECT CAST(vec_id AS BIGINT) AS vec_a,
       CAST(vec_id + {_LSH_PLANT_OFFSET} AS BIGINT) AS vec_b,
       CAST(1.0 AS DOUBLE) AS cos_sim
FROM embeddings
WHERE vec_id % 10 = 0
"""


def ann_lsh_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbors — rows-only check
    (approximate by construction; recall vs brute force is pytest-gated,
    see tests/test_similarity_multimodal_streaming.py)."""
    from raquet_spark.operators.similarity import ann_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where("vec_id % 25 = 0")
    return ann_lsh(emb, queries_df, k=5, n_bits=4, n_tables=12, dim=64)


def ann_lsh_planted_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN-LSH planted-twin check (the dedup_embedding_lsh trick):
    every query is a byte-identical copy of a corpus vector, so it
    collides with its twin in EVERY hash table and the twin scores
    cosine 1.0 — far above any other candidate on this near-random
    corpus — making the rank-1 result closed-form. The full chain
    (Arrow-matmul signatures, bucket explode, equi-join, score dedup,
    window rank) runs for real; only the top-1 restriction is the
    determinism device."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.similarity import ann_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(_LSH_PLANT_OFFSET)
    )
    out = ann_lsh(
        emb.unionByName(planted), planted, k=1, n_bits=4, n_tables=12, dim=64
    )
    return out.where(
        F.col("cand_id") == F.col("query_id") - F.lit(_LSH_PLANT_OFFSET)
    ).select(
        "query_id", "cand_id", F.expr("round(score, 6)").alias("score"), "rn"
    )


def ann_lsh_planted_oracle() -> str:
    return f"""
SELECT vec_id + {_LSH_PLANT_OFFSET} AS query_id,
       vec_id AS cand_id,
       CAST(1.0 AS DOUBLE) AS score,
       CAST(1 AS INT) AS rn
FROM embeddings
WHERE vec_id % 25 = 0
"""


def ann_ivf_planted_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ planted-twin check: an identical query lands in the same
    coarse cluster as its twin (argmax over identical similarity rows)
    and the twin's PQ code quantizes the SAME residual, so the twin
    tops the asymmetric-distance shortlist and the exact re-rank pins
    it at cosine exactly 1.0 — closed-form rank-1 through the real
    quantizer-train → PQ-encode → probe → ADC-score → re-rank chain
    (similarity.ann_ivf_pq, the N·m_sub-bytes memory shape)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.similarity import ann_ivf_pq

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(_LSH_PLANT_OFFSET)
    )
    out = ann_ivf_pq(
        emb.unionByName(planted), planted, k=1,
        n_clusters=16, n_probe=2, seed=7, sample_size=100_000,
        m_sub=8, ks=64,
    )
    return out.where(
        F.col("cand_id") == F.col("query_id") - F.lit(_LSH_PLANT_OFFSET)
    ).select(
        "query_id", "cand_id", F.expr("round(score, 6)").alias("score"), "rn"
    )


def pyramid_pixel_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pyramid level (nodata-aware 2×2 average)
    then per-parent-tile stats — oracle-checks the actual downsampled
    PIXELS, not just the stats rollup."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.pyramid import build_level
    from raquet_spark.operators.tile_stats import with_tile_stats

    tiles, meta = _make_raster(spark)
    parent = build_level(tiles, meta, _R["zoom"], "average")
    stats = with_tile_stats(parent, meta)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        F.round("band_1_sum", 4).alias("band_1_sum"),
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def pyramid_pixel_stats_oracle() -> str:
    """Parent pixel (X, Y) = float32-cast mean of the valid source
    pixels in window (2X..2X+1, 2Y..2Y+1); all-nodata windows are
    nodata (excluded). Stats group windows by parent tile."""
    r = _R
    bs = r["bs"]
    parent = qb.tile_to_cell_sql(
        f"((gx // 2) // {bs})", f"((gy // 2) // {bs})", r["zoom"] - 1, "duckdb"
    )
    return _duck_pixels() + f""", win AS (
  SELECT {parent} AS block, gx // 2 AS wx, gy // 2 AS wy,
         CAST(AVG(val) AS FLOAT) AS pval
  FROM vals
  GROUP BY 1, 2, 3
)
SELECT block,
       COUNT(pval) AS band_1_count,
       CAST(MIN(pval) AS DOUBLE) AS band_1_min,
       CAST(MAX(pval) AS DOUBLE) AS band_1_max,
       round(CAST(SUM(CAST(pval AS DOUBLE)) AS DOUBLE), 4) AS band_1_sum,
       round(AVG(CAST(pval AS DOUBLE)), 6) AS band_1_mean,
       round(stddev_pop(CAST(pval AS DOUBLE)), 6) AS band_1_stddev
FROM win
GROUP BY block
"""


def raster_upsample_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-zoom alignment: upsample the native raster one zoom level
    (map-only pixel replication, no shuffle) and compute per-child-tile
    stats — cross-checks the whole re-gridding path numerically."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.align import align_to_zoom
    from raquet_spark.operators.tile_stats import with_tile_stats

    tiles, meta = _make_raster(spark)
    up, up_meta = align_to_zoom(tiles, meta, _R["zoom"] + 1)
    stats = with_tile_stats(up, up_meta)
    return stats.select(
        "block",
        "band_1_count",
        "band_1_min",
        "band_1_max",
        "band_1_sum",
        F.round("band_1_mean", 6).alias("band_1_mean"),
        F.round("band_1_stddev", 6).alias("band_1_stddev"),
    )


def raster_upsample_stats_oracle() -> str:
    """Each source pixel lands in exactly one child tile, replicated
    2×2 — so child-tile stats are the source-window stats with count
    and sum scaled by 4 (mean/extrema/population stddev unchanged)."""
    r = _R
    half = r["bs"] // 2
    child = qb.tile_to_cell_sql(
        f"(gx // {half})", f"(gy // {half})", r["zoom"] + 1, "duckdb"
    )
    return _duck_pixels(child) + """
SELECT block,
       COUNT(val) * 4 AS band_1_count,
       CAST(MIN(val) AS DOUBLE) AS band_1_min,
       CAST(MAX(val) AS DOUBLE) AS band_1_max,
       CAST(SUM(val) * 4 AS DOUBLE) AS band_1_sum,
       round(AVG(val), 6) AS band_1_mean,
       round(stddev_pop(val), 6) AS band_1_stddev
FROM vals
GROUP BY block
"""


def ann_topk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force ANN baseline, Spark side: the Arrow-batched
    ``cosine_topk`` operator (per-batch matmul + partial top-k — see
    operators/similarity.py) with ranking on the 5-dp-rounded score to
    match the SQL oracle's tie semantics. The oracle stays the dual-
    dialect SQL (``ann_topk``, dot in index-fold order); numpy's matmul
    sums in a different order, so raw doubles can differ in the last
    ulps — the shared round(.,5) absorbs that (boundary collisions are
    measure-zero for cosine values)."""
    from pyspark.sql import functions as F

    from raquet_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where("vec_id % 25 = 0")
    out = cosine_topk(emb, q, k=5, order_round=5)
    return out.select(
        "query_id", "cand_id", F.round("score", 5).alias("score"), "rn"
    )


def ann_topk_oracle() -> str:
    return ann_topk("duckdb")


# Spark-pipeline queries with hand-written DuckDB oracles
_PIPELINE_QUERIES: dict[str, tuple[Callable, Callable[[], str] | None]] = {
    "ann_topk": (ann_topk_spark, ann_topk_oracle),
    "pyramid_pixel_stats": (pyramid_pixel_stats_spark, pyramid_pixel_stats_oracle),
    "raster_upsample_stats": (
        raster_upsample_stats_spark,
        raster_upsample_stats_oracle,
    ),
    "tile_stats_agg": (tile_stats_agg_spark, tile_stats_agg_oracle),
    "region_stats": (region_stats_spark, region_stats_oracle),
    "zonal_stats": (zonal_stats_spark, zonal_stats_oracle),
    "suitable_cells": (suitable_cells_spark, suitable_cells_oracle),
    "suitable_cells_detail": (
        suitable_cells_detail_spark,
        suitable_cells_detail_oracle,
    ),
    "dedup_components": (dedup_components_spark, dedup_components_oracle),
    "dedup_minhash_collapse": (
        dedup_minhash_collapse_spark,
        dedup_minhash_collapse_oracle,
    ),
    "dedup_minhash_chaincap": (
        dedup_minhash_chaincap_spark,
        dedup_minhash_chaincap_oracle,
    ),
    "dedup_cluster_sizes": (dedup_cluster_sizes_spark, dedup_cluster_sizes_oracle),
    "dedup_prune": (dedup_prune_spark, dedup_prune_oracle),
    "dsir_weights": (dsir_weights_spark, dsir_weights_oracle),
    "ngram_lm_score": (ngram_lm_score_spark, ngram_lm_score_oracle),
    "asof_join_events_orders": (asof_join_spark, asof_join_oracle),
    "range_join_value_bands": (range_join_spark, range_join_oracle),
    "region_stats_polygon": (
        region_stats_polygon_spark,
        region_stats_polygon_oracle,
    ),
    "pyramid_stats_rollup": (
        pyramid_stats_rollup_spark,
        pyramid_stats_rollup_oracle,
    ),
    "timeseries_stats": (timeseries_stats_spark, timeseries_stats_oracle),
    "band_algebra_nd": (band_algebra_spark, band_algebra_oracle),
    "tile_stats_interleaved": (tile_stats_interleaved_spark, tile_stats_agg_oracle),
    "tile_stats_uint8": (tile_stats_uint8_spark, tile_stats_uint8_oracle),
    "raster_join_diff": (raster_join_spark, raster_join_oracle),
    "raster_histogram": (raster_histogram_spark, raster_histogram_oracle),
    "raster_point_value": (raster_point_value_spark, raster_point_value_oracle),
    "remote_fetch_stats": (remote_fetch_stats_spark, tile_stats_agg_oracle),
    "geotiff_roundtrip_stats": (geotiff_roundtrip_stats_spark, tile_stats_agg_oracle),
    "geotiff_import_lzw_stats": (geotiff_import_lzw_stats_spark, tile_stats_agg_oracle),
    "warp_bilinear_stats": (warp_bilinear_stats_spark, warp_bilinear_stats_oracle),
    "imageserver_auto_stats": (imageserver_auto_stats_spark, tile_stats_agg_oracle),
    "netcdf_ingest_stats": (netcdf_ingest_stats_spark, netcdf_ingest_stats_oracle),
    "netcdf4_ingest_stats": (netcdf4_ingest_stats_spark, netcdf4_ingest_stats_oracle),
    "netcdf4_v4index_stats": (netcdf4_v4index_stats_spark, netcdf4_v4index_stats_oracle),
    "netcdf4_eaindex_stats": (netcdf4_eaindex_stats_spark, netcdf4_eaindex_stats_oracle),
    "netcdf4_bt2index_stats": (netcdf4_bt2index_stats_spark, netcdf4_bt2index_stats_oracle),
    "grib2_ingest_stats": (grib2_ingest_stats_spark, grib2_ingest_stats_oracle),
    "grib2_lambert_stats": (grib2_lambert_stats_spark, grib2_lambert_stats_oracle),
    "grib2_mvm_stats": (grib2_mvm_stats_spark, grib2_mvm_stats_oracle),
    "grib2_rotated_stats": (grib2_rotated_stats_spark, grib2_grid_stats_oracle),
    "grib2_rotangle_stats": (grib2_rotangle_stats_spark, grib2_grid_stats_oracle),
    "grib2_gaussian_stats": (grib2_gaussian_stats_spark, grib2_grid_stats_oracle),
    "grib2_reduced_stats": (grib2_reduced_stats_spark, grib2_reduced_stats_oracle),
    "grib1_ingest_stats": (grib1_ingest_stats_spark, grib1_ingest_stats_oracle),
    "grib1_qll_stats": (grib1_qll_stats_spark, grib1_qll_stats_oracle),
    "grib2_prob_stats": (grib2_prob_stats_spark, grib2_prob_stats_oracle),
    "grib2_stagger8_stats": (grib2_stagger8_stats_spark, grib2_stagger8_stats_oracle),
    "quality_classifier_filter": (quality_classifier_filter_spark, quality_classifier_filter_oracle),
    "geotiff_sharded_roundtrip": (geotiff_sharded_roundtrip_spark, tile_stats_agg_oracle),
    "geotiff_overview_roundtrip": (geotiff_overview_roundtrip_spark, pyramid_pixel_stats_oracle),
    "lossy_jpeg_blocky_stats": (lossy_jpeg_blocky_stats_spark, lossy_jpeg_blocky_stats_oracle),
    "lossy_webp_roundtrip_stats": (lossy_webp_roundtrip_stats_spark, lossy_webp_roundtrip_stats_oracle),
    "png_media_stats": (png_media_stats_spark, png_media_stats_oracle),
    "video_frame_stats": (video_frame_stats_spark, video_frame_stats_oracle),
    "bpe_segment_words": (bpe_segment_words_spark, bpe_segment_words_oracle),
    "dem_slope_stats": (dem_slope_stats_spark, dem_slope_stats_oracle),
    "dem_multiband_stats": (dem_multiband_stats_spark, dem_multiband_stats_oracle),
    "dem_hillshade_stats": (dem_hillshade_stats_spark, dem_hillshade_stats_oracle),
    "rasterize_polygon_stats": (rasterize_polygon_stats_spark, rasterize_polygon_stats_oracle),
    "rasterize_features_stats": (rasterize_features_stats_spark, rasterize_features_stats_oracle),
    "rasterize_wkt_stats": (rasterize_wkt_stats_spark, rasterize_features_stats_oracle),
    "vector_zonal_stats": (vector_zonal_stats_spark, vector_zonal_stats_oracle),
    "semantic_dedup_keep": (semantic_dedup_keep_spark, semantic_dedup_keep_oracle),
    "phash_dedup": (phash_dedup_spark, phash_dedup_oracle),
    "geotiff_cog_roundtrip": (geotiff_cog_roundtrip_spark, tile_stats_agg_oracle),
    "raquet_read_tiles": (raquet_read_tiles_spark, raquet_read_tiles_oracle),
    "dedup_embedding_lsh": (dedup_embedding_lsh_spark, dedup_embedding_lsh_oracle),
    "ann_lsh": (ann_lsh_spark, None),
    "ann_ivf": (ann_ivf_spark, None),
    "ann_lsh_planted": (ann_lsh_planted_spark, ann_lsh_planted_oracle),
    "ann_ivf_planted": (ann_ivf_planted_spark, ann_lsh_planted_oracle),
}


# Registration order exposed to the driver. The driver oracle-checks the
# FIRST 50 registered queries each round; with >50 registered, we rotate.
#
# Standing policy (VERDICT r04 item 1): round-robin by last-checked
# round. `_registration_order` scans the CORRECTNESS_r*.json files the
# driver drops at the repo root and sorts queries by the round they were
# last driver-checked, ascending — never-checked queries (including any
# added this round) automatically lead the window, and nothing is ever
# more than ceil(N/50) rounds stale. The static list below is only the
# fallback when no CORRECTNESS files are readable (fresh clone), frozen
# at the round-5 rotation: the 8 queries with no r-anything hash row
# first, then the r03-stale set.
_DRIVER_PRIORITY: list[str] = [
    # frozen snapshot of the live round-5 rotation (never-checked
    # first); regenerate with _registration_order() when refreshing
    "ngram_lm_score",
    "bpe_pair_counts",
    "doc_feature_hash",
    "lossy_jpeg_blocky_stats",
    "semantic_dedup_keep",
    "phash_dedup",
    "geotiff_cog_roundtrip",
    "raquet_read_tiles",
    "events_funnel",
    "retention_cohorts",
    "dsir_weights",
    "pipeline_clean_counts",
    "lossy_webp_roundtrip_stats",
    "png_media_stats",
    "video_frame_stats",
    "bpe_segment_words",
    "dem_slope_stats",
    "dem_multiband_stats",
    "ann_lsh_planted",
    "ann_ivf_planted",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "q6_forecast",
    "q4_order_priority",
    "q7_nation_volume",
    "events_sessionize",
    "stratified_sample",
    "repetition_stats",
    "decontaminate",
    "gopher_quality",
    "sketch_user_reach",
    "tfidf_top_terms",
    "pii_scan",
    "chunk_dedup",
    "substring_dedup_stats",
    "sequence_pack_stats",
    "doc_chunking",
    "source_quota",
    "text_normalize",
    "dataset_shuffle",
    "length_percentiles",
    "events_json_rollup",
    "pyramid_pixel_stats",
    "raster_upsample_stats",
    "tile_stats_agg",
    "region_stats",
    "zonal_stats",
    "suitable_cells",
    "suitable_cells_detail",
    "dedup_components",
    "dedup_cluster_sizes",
    "dedup_prune",
    "asof_join_events_orders",
    "range_join_value_bands",
    "region_stats_polygon",
    "pyramid_stats_rollup",
    "timeseries_stats",
    "band_algebra_nd",
]




def _last_checked_rounds() -> dict[str, int] | None:
    """Round each query last appeared in a driver CORRECTNESS file.

    The driver writes ``CORRECTNESS_r{N}.json`` at the repo root after
    each round. Scanning them gives a self-maintaining round-robin: the
    queries checked longest ago (or never) sort to the front of the
    50-query driver window next round. Returns None when no files are
    readable (fresh clone) so the caller can fall back to the static
    rotation list.
    """
    import glob as _glob
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    found = False
    for path in sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"r(\d+)", os.path.basename(path))
        if m is None:
            continue
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        found = True
        rnd = int(m.group(1))
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return last if found else None


# r18 (VERDICT r17 #5): the optimization rounds rewrote these queries'
# Spark-side plans AFTER their last driver correctness check — the r17
# window sampled a disjoint set, so the rewrites carry only
# builder-side full-registry drives. Until a driver CORRECTNESS row
# newer than the rewrite round exists, they lead the rotation right
# after the never-checked pins; each entry self-clears once
# re-checked (last > rewrite round), restoring the plain staleness
# round-robin. Value = the round that rewrote the query.
_VERIFY_PRIORITY: dict[str, int] = {
    "dsir_weights": 17,           # single-model-pass fork (r17 #4)
    "ngram_lm_score": 17,         # single-model-pass fork (r17 #4)
    "netcdf_ingest_stats": 17,    # aligned exchange-free tiling (r17 #3)
    "grib2_ingest_stats": 17,     # aligned exchange-free tiling (r17 #3)
    "dedup_minhash_collapse": 17,  # eager->lazy checkpoint (r17 #4)
    "raster_histogram": 17,       # band_decode single-eval (r17 #7)
    "quality_classifier_filter": 18,  # HashAggregate carry keys (r18)
    # r18 session 3: the fused separable gather rewrote the near-import
    # plan these queries execute (join+aligned assembly -> Range ->
    # MapInPandas tile build; byte-identity pinned by
    # tests/test_fused_gather.py and the committed full-registry drive)
    "geotiff_import_lzw_stats": 18,
    "geotiff_cog_roundtrip": 18,
    "geotiff_sharded_roundtrip": 18,
    "geotiff_overview_roundtrip": 18,
    # r18 session 4: the fused separable KERNEL gather rewrote the
    # bilinear/cubic import plan (gather join + blend groupBy ->
    # Range -> MapInPandas numpy blend; byte-identity pinned by the
    # kernel cases of tests/test_fused_gather.py)
    "warp_bilinear_stats": 18,
}


def _registration_order() -> list[str]:
    all_names = list(_SQL_QUERIES) + list(_PIPELINE_QUERIES)
    last = _last_checked_rounds()
    if last is not None:
        # Round-robin: least-recently-driver-checked first (never-checked
        # queries lead). Within a round, oracle-backed (hash-exact) checks
        # outrank rows-only ones; registration order breaks the remaining
        # ties. A hash-exact upgrade of a previously rows-only query is
        # indistinguishable here, so the static list still front-loads
        # those by hand when it matters.
        oracle_backed = {
            n for n, (_, ofn) in _PIPELINE_QUERIES.items() if ofn is not None
        } | set(_SQL_QUERIES)
        index = {n: i for i, n in enumerate(all_names)}
        # raquet_read_tiles stays pinned only until a post-r04 driver row
        # confirms its rows-only → hash-exact upgrade; never-checked
        # queries always pin
        hand_first = [
            n
            for n in _DRIVER_PRIORITY[:12]
            if last.get(n) is None
            or (n == "raquet_read_tiles" and last[n] <= 4)
        ]
        rank = {n: i for i, n in enumerate(hand_first)}

        def needs_recheck(n: str) -> int:
            # 0 = rewritten after its last driver check (lead the
            # window, VERDICT r17 #5); 1 = normal rotation
            rewrite = _VERIFY_PRIORITY.get(n)
            if rewrite is not None and last.get(n, 0) <= rewrite:
                return 0
            return 1

        return sorted(
            all_names,
            key=lambda n: (
                rank.get(n, len(rank)),
                needs_recheck(n),
                last.get(n, 0),
                0 if n in oracle_backed else 1,
                index[n],
            ),
        )
    prioritized = [n for n in _DRIVER_PRIORITY if n in set(all_names)]
    rest = [n for n in all_names if n not in set(prioritized)]
    return prioritized + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _registration_order():
        if name in _SQL_QUERIES:
            out[name] = _sql_query(_SQL_QUERIES[name])
        else:
            out[name] = _PIPELINE_QUERIES[name][0]
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: fn("duckdb") for name, fn in _SQL_QUERIES.items()}
    for name, (_, oracle_fn) in _PIPELINE_QUERIES.items():
        if oracle_fn is not None:
            out[name] = oracle_fn()
    return out
