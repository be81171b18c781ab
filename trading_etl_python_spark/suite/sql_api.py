"""SQL-surface queries: the engine's ``spark.sql`` entry point exercised
with ANSI TPC-H-shaped query TEXT over the registered table views.

The reference has no query language at all (SURVEY.md §2.2 — every
query is hand-written Python); Spark SQL is the capability extension
that closes that gap.  Each query here is ONE SQL string written in the
ANSI subset both engines parse, submitted verbatim to BOTH
``spark.sql`` and DuckDB — so the oracle checks the full parse ->
analyze -> optimize -> execute path, not a DataFrame transliteration.

Scale notes (what Catalyst does with these shapes):
- Q1: map-side partial aggregation on (returnflag, linestatus) — 6
  groups, the shuffle is bytes.  Predicate pushed to the parquet scan.
- Q6: pure scan-filter-agg, no join; pushdown leaves a single stage.
- Q3: orders⋈lineitem shuffle join with both filters pushed below,
  top-10 via TakeOrderedAndProject (per-partition heaps, no sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import register_views
from ._registry import registrar

QUERIES = {}
ORACLES = {}
TIERS = {}
q = registrar(QUERIES, ORACLES, TIERS)


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(text)


TPCH_Q1 = """SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""

TPCH_Q6 = """SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24"""

TPCH_Q3 = """SELECT o.o_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       o.o_orderdate
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10"""


@q("q_sql_tpch_q1", TPCH_Q1)
def q_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) as raw SQL through spark.sql."""
    return _sql(spark, sf_dir, TPCH_Q1)


@q("q_sql_tpch_q6", TPCH_Q6)
def q_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change) as raw SQL through spark.sql."""
    return _sql(spark, sf_dir, TPCH_Q6)


@q("q_sql_tpch_q3", TPCH_Q3)
def q_sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority, top-10) as raw SQL through spark.sql."""
    return _sql(spark, sf_dir, TPCH_Q3)


TPCH_Q5 = """SELECT n.n_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name"""

TPCH_Q10 = """SELECT c.c_custkey, c.c_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       ROUND(c.c_acctbal, 4) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20"""

TPCH_Q14 = """SELECT ROUND(
         100.00 * SUM(CASE WHEN p.p_type = 'PROMO'
                           THEN l.l_extendedprice * (1 - l.l_discount)
                           ELSE 0 END)
         / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'"""

TPCH_Q4 = """SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority"""


@q("q_sql_tpch_q5", TPCH_Q5)
def q_sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier revenue, 6-table join): dims
    broadcast, the one big shuffle is orders x lineitem."""
    return _sql(spark, sf_dir, TPCH_Q5)


@q("q_sql_tpch_q10", TPCH_Q10)
def q_sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item revenue, top-20 customers)."""
    return _sql(spark, sf_dir, TPCH_Q10)


@q("q_sql_tpch_q14", TPCH_Q14)
def q_sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share; part is the broadcast dim)."""
    return _sql(spark, sf_dir, TPCH_Q14)


@q("q_sql_tpch_q4", TPCH_Q4)
def q_sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS -> left-semi join in both engines)."""
    return _sql(spark, sf_dir, TPCH_Q4)


# ---------------------------------------------------------------------------
# Remaining TPC-H shapes expressible on the reduced testdata schema.
#
# The driver's tables carry no partsupp table and drop several TPC-H
# columns (o_comment, c_phone, p_container, l_shipmode, l_commitdate,
# l_receiptdate), so Q2/Q9/Q11/Q16/Q20 are out of reach and Q13/Q17/
# Q19/Q22 swap the missing predicate columns for present ones while
# keeping the canonical plan shape (noted per query).  Every text below
# is still ONE ANSI string run verbatim on both engines.
#
# Scale notes:
# - Q7/Q8: nation/region/customer/supplier are broadcast dims; the only
#   big exchange is orders x lineitem on orderkey.
# - Q13: left outer join fans out then double-aggregates; the second
#   GROUP BY is on a tiny domain (distinct order counts).
# - Q15: the revenue CTE is computed once; RANK()=1 replaces the
#   classic MAX() equality so float sums are never compared across two
#   independent materializations of the same aggregate.
# - Q17: correlated scalar AVG decorrelates to an aggregate + re-join
#   on partkey in both engines; part is broadcast.
# - Q18: HAVING on SUM(l_quantity) pushes a partial agg map-side before
#   the semi-join back onto orders/customer.
# - Q22: NOT EXISTS -> left-anti join; the scalar AVG subquery is a
#   one-row broadcast.
# ---------------------------------------------------------------------------

TPCH_Q7 = """SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 4) AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00') shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year"""

TPCH_Q8 = """SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS mkt_share
FROM (SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1997-12-31 00:00:00'
        AND p.p_type = 'ECONOMY') all_nations
GROUP BY o_year
ORDER BY o_year"""

TPCH_Q13 = """SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC"""

TPCH_Q15 = """WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN (SELECT supplier_no, total_revenue,
             RANK() OVER (ORDER BY total_revenue DESC) AS rnk
      FROM revenue) r
  ON r.supplier_no = s.s_suppkey
WHERE r.rnk = 1
ORDER BY s.s_suppkey"""

TPCH_Q17 = """SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey)"""

TPCH_Q18 = """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       ROUND(o.o_totalprice, 4) AS o_totalprice,
       ROUND(SUM(l.l_quantity), 4) AS sum_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey
                       HAVING SUM(l_quantity) > 300)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o.o_orderkey
LIMIT 100"""

TPCH_Q19 = """SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)"""

TPCH_Q22 = """SELECT c.c_nationkey AS cntrycode, COUNT(*) AS numcust,
       ROUND(SUM(c.c_acctbal), 4) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT ROUND(AVG(c2.c_acctbal), 4) FROM customer c2
                     WHERE c2.c_acctbal > 0.00)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey"""


@q("q_sql_tpch_q7", TPCH_Q7)
def q_sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between two nations, by year)."""
    return _sql(spark, sf_dir, TPCH_Q7)


@q("q_sql_tpch_q8", TPCH_Q8)
def q_sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share inside one region, 8-table join)."""
    return _sql(spark, sf_dir, TPCH_Q8)


@q("q_sql_tpch_q13", TPCH_Q13)
def q_sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution; the o_comment
    NOT LIKE filter becomes an o_orderpriority filter — same left-outer
    + double-aggregation shape)."""
    return _sql(spark, sf_dir, TPCH_Q13)


@q("q_sql_tpch_q15", TPCH_Q15)
def q_sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier; RANK()=1 instead of MAX() equality so
    the float revenue sum is materialized exactly once per engine)."""
    return _sql(spark, sf_dir, TPCH_Q15)


@q("q_sql_tpch_q17", TPCH_Q17)
def q_sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity orders vs 20% of per-part average;
    p_container predicate dropped — column absent from testdata)."""
    return _sql(spark, sf_dir, TPCH_Q17)


@q("q_sql_tpch_q18", TPCH_Q18)
def q_sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers: IN over a HAVING subquery)."""
    return _sql(spark, sf_dir, TPCH_Q18)


@q("q_sql_tpch_q19", TPCH_Q19)
def q_sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (disjunctive brand/size/quantity predicate; the
    p_container / l_shipmode terms become p_size bands — same OR-of-ANDs
    join-filter shape Catalyst splits into a common join + residual)."""
    return _sql(spark, sf_dir, TPCH_Q19)


# The conditional counts are CAST(... AS BIGINT): DuckDB widens an
# integer SUM to HUGEINT (int128) while Spark stays BIGINT, and the
# driver's value-hash distinguishes physical int widths (r3 verdict
# "What's wrong" #1).  The same SQL text runs on both engines, so one
# cast pins both sides to 64-bit.
TPCH_Q12 = """SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_returnflag IN ('A', 'R')
  AND l.l_shipdate > o.o_orderdate
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus"""

TPCH_Q21 = """SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100"""


@q("q_sql_tpch_q12", TPCH_Q12)
def q_sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split).  l_shipmode /
    l_commitdate / l_receiptdate are absent from the testdata, so the
    group key becomes l_linestatus and the late-delivery chain becomes
    shipped-after-order + returnflag band — preserving the canonical
    shape: one orders x lineitem equi-join with a two-way conditional
    aggregation (CASE on o_orderpriority) on top.  Catalyst pushes both
    date bounds to the lineitem scan; the 2-group aggregate is map-side
    partial so the final shuffle is bytes."""
    return _sql(spark, sf_dir, TPCH_Q12)


@q("q_sql_tpch_q21", TPCH_Q21)
def q_sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting).  The
    l_receiptdate > l_commitdate lateness predicate becomes
    l_returnflag = 'R' (columns absent), keeping the canonical
    EXISTS + NOT EXISTS double-correlated-subquery shape: Catalyst
    plans the EXISTS as a left-semi join and the NOT EXISTS as a
    left-anti join, both on l_orderkey — the same fixed-width-key
    shuffles at any scale, no correlated re-execution."""
    return _sql(spark, sf_dir, TPCH_Q21)


@q("q_sql_tpch_q22", TPCH_Q22)
def q_sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (idle above-average-balance customers; cntrycode is
    c_nationkey since c_phone is absent; the no-recent-orders NOT EXISTS
    keeps the anti-join + scalar-average shape)."""
    return _sql(spark, sf_dir, TPCH_Q22)


# -------------------------------------------------------- r5: the last
# five TPC-H shapes.  The driver schema has no PARTSUPP table (and no
# comment columns), so q2/q9/q11/q16/q20 — all partsupp-dependent —
# derive the supplier-part facts from lineitem instead, keeping each
# query's SIGNATURE plan shape intact: q2's correlated min-cost scalar
# subquery, q9's profit rollup by (nation, year), q11's
# HAVING-above-scalar-subquery, q16's NOT IN + COUNT(DISTINCT), q20's
# semi-join over a correlated-HAVING aggregate.  With these, all 22
# TPC-H query shapes run through spark.sql and are oracle-pinned.

TPCH_Q2 = """WITH supply AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS cost
  FROM lineitem GROUP BY 1, 2)
SELECT ROUND(s.s_acctbal, 4) AS s_acctbal, s.s_name, n.n_name,
       p.p_partkey, p.p_name, ROUND(ps.cost, 6) AS supply_cost
FROM part p
JOIN supply ps ON ps.partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = ps.suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size <= 10 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
  AND ps.cost = (SELECT MIN(ps2.cost)
                 FROM supply ps2
                 JOIN supplier s2 ON s2.s_suppkey = ps2.suppkey
                 JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
                 JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
                 WHERE ps2.partkey = p.p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100"""

TPCH_Q9 = """SELECT n.n_name AS nation,
       EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                 - 0.6 * p.p_retailprice * l.l_quantity), 4) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
ORDER BY nation, o_year DESC"""

TPCH_Q11 = """SELECT l.l_partkey AS partkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS value
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE'
GROUP BY l.l_partkey
HAVING ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) >
  (SELECT ROUND(1.5 * SUM(l2.l_extendedprice * (1 - l2.l_discount))
          / COUNT(DISTINCT l2.l_partkey), 4)
   FROM lineitem l2
   JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
   JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
   JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
   WHERE r2.r_name = 'EUROPE')
ORDER BY value DESC, partkey"""

TPCH_Q16 = """SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size"""

TPCH_Q20 = """SELECT s.s_name, ROUND(s.s_acctbal, 4) AS s_acctbal
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE'
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'small%'
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(l.l_quantity) > 0.5 *
      (SELECT SUM(l2.l_quantity) FROM lineitem l2
       WHERE l2.l_partkey = l.l_partkey
         AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l2.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
ORDER BY s.s_name"""


# Spark-side rewrite of TPCH_Q2 (r12 VERDICT #2: the one second-decade
# outlier, 11.35x for 10x data).  The sf10 stage audit
# (a3e8e3f:sweeps/r13_q2_audit_sf10.json) located the cost: the (partkey,
# suppkey) supply aggregation is NEAR-DISTINCT — 59.1M groups from 60M
# lineitem rows, so the "aggregation" compresses nothing and its hash
# table is the whole table (5.7 GB spill in the partial stage) — and
# the correlated subquery's decorrelation ran the FINAL aggregation
# phase TWICE over the shared 970 MB exchange (stages 44/45, ~6 GB
# memory + 1.1 GB disk spill each).  Two pushes fix the class:
#   1. the part filter (64k of 2M parts, 3.2%) moves BELOW the supply
#      aggregation as a join onto lineitem — the near-distinct agg
#      then runs over 1.88M rows instead of 60M (31x less state, no
#      spill), and at any scale only the filtered parts' supply is
#      ever aggregated;
#   2. the correlated min-over-EUROPE subquery becomes
#      MIN(cost) OVER (PARTITION BY partkey) on the EUROPE-joined
#      supply rows — the min is over exactly the same per-part row set
#      (the main block's region join guarantees the set is non-empty
#      wherever the original predicate could hold), computed ONCE in
#      the same pass instead of via a second aggregation + join-back.
# Value-identical: both forms pick the same IEEE double out of the
# same per-part set (elementwise division then MIN — no accumulation-
# order hazard), and the cost=min equality then keeps identical rows.
# The DuckDB oracle (TPCH_Q2) keeps the pristine correlated form.
TPCH_Q2_SPARK = """WITH p AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_size <= 10 AND p_type = 'STANDARD'),
supply AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS cost
  FROM lineitem JOIN p ON p.p_partkey = l_partkey
  GROUP BY 1, 2),
eur AS (
  SELECT ps.partkey, ps.suppkey, ps.cost,
         s.s_acctbal, s.s_name, n.n_name,
         MIN(ps.cost) OVER (PARTITION BY ps.partkey) AS min_cost
  FROM supply ps
  JOIN supplier s ON s.s_suppkey = ps.suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE')
SELECT ROUND(e.s_acctbal, 4) AS s_acctbal, e.s_name, e.n_name,
       p.p_partkey, p.p_name, ROUND(e.cost, 6) AS supply_cost
FROM p JOIN eur e ON e.partkey = p.p_partkey
WHERE e.cost = e.min_cost
ORDER BY s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT 100"""


@q("q_sql_tpch_q2", TPCH_Q2)
def q_sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier).  Supply cost is
    MIN(l_extendedprice/l_quantity) per (part, supplier) from lineitem
    (no PARTSUPP in this schema).  The ORACLE keeps Q2's signature
    correlated min-over-region scalar subquery verbatim; the Spark
    side runs TPCH_Q2_SPARK — the filter-below-aggregation +
    window-min rewrite of the same query (see the comment block above
    for the equivalence argument and the sf10 audit that mandated it).
    Equality of the two forms is exactly what the driver's value-hash
    gate checks every window."""
    return _sql(spark, sf_dir, TPCH_Q2_SPARK)


@q("q_sql_tpch_q9", TPCH_Q9)
def q_sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit by nation and order year).  Cost
    basis is 0.6 * p_retailprice per unit (no ps_supplycost); the
    5-table join + LIKE part filter + (nation, year) rollup shape is
    canonical.  The part filter and projection push to the part scan;
    the profit expression folds into the pre-shuffle partial agg, so
    the exchange carries 25 nations x 7 years of partial sums."""
    return _sql(spark, sf_dir, TPCH_Q9)


@q("q_sql_tpch_q11", TPCH_Q11)
def q_sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock).  Per-part value is revenue from
    EUROPE-region suppliers (no ps_availqty*ps_supplycost); the HAVING
    above-an-uncorrelated-scalar-subquery — Q11's signature — is
    intact, with the threshold expressed as a multiple of the AVERAGE
    per-part value so the predicate stays selective at every scale
    factor (a fixed fraction of the total, as in pristine Q11, goes
    vacuous as the part count grows).  Spark evaluates the scalar
    subquery once and broadcasts it into the HAVING filter."""
    return _sql(spark, sf_dir, TPCH_Q11)


@q("q_sql_tpch_q16", TPCH_Q16)
def q_sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (supplier-part relationship count).  The supplier-part
    pairs come from lineitem (no PARTSUPP) and the excluded-supplier
    predicate is s_acctbal < 0 (no s_comment to grep for complaints);
    the NOT IN anti-join + COUNT(DISTINCT) over brand/type/size groups
    — Q16's signature — is intact.  The NOT IN subquery is a broadcast
    null-aware anti-join (supplier is tiny); the distinct count
    shuffles once on the 3-column group key."""
    return _sql(spark, sf_dir, TPCH_Q16)


@q("q_sql_tpch_q20", TPCH_Q20)
def q_sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion).  A supplier qualifies by
    DOMINATING the year's shipped volume of some 'small%' part (>50% of
    that part's total — the availqty>half-of-shipped correlated
    predicate re-expressed over lineitem), then the outer semi-join
    keeps EUROPE suppliers.  Quantity sums are integer-valued doubles,
    so the 0.5x threshold comparison is exact on both engines; the
    correlated subquery plans as a per-part aggregate joined back on
    partkey, not per-group re-execution."""
    return _sql(spark, sf_dir, TPCH_Q20)


# Spark 4 recursive CTE (WITH RECURSIVE, SPARK-24497): the same
# RiskMetrics EWMA recursion the DuckDB oracles have always used, now
# runnable AS-IS by Catalyst.  The one SQL text below goes verbatim to
# both engines — certifying Spark's recursive-CTE surface end-to-end
# and cross-checking the grouped Arrow kernel (q_ewma_vol computes the
# identical table through applyInPandas).  Recursion depth is the day
# grid (~30 levels), independent of tick volume — the per-key history
# axis stays with the Arrow kernel; this surface is for genuinely
# iterative SQL (hierarchies, reachability, recurrences on small grids).
EWMA_RECURSIVE = """WITH RECURSIVE bars AS (
  SELECT user_id AS symbol, ts AS time, event_id,
         value AS close
  FROM events
),
d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
      FROM bars GROUP BY symbol, CAST(time AS DATE)),
r0 AS (SELECT symbol, day, close_d,
        LAG(close_d) OVER (PARTITION BY symbol ORDER BY day) AS prev
       FROM d),
r AS (SELECT symbol, day, ROUND(LN(close_d / prev), 6) AS r
      FROM r0 WHERE prev > 0 AND close_d > 0),
rr AS (SELECT symbol, day, r,
        ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY day) AS rn
       FROM r),
rec AS (
  SELECT symbol, day, rn, r * r AS v FROM rr WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.day, b.rn, 0.94 * rec.v + (1.0 - 0.94) * (b.r * b.r)
  FROM rr b JOIN rec ON b.symbol = rec.symbol AND b.rn = rec.rn + 1
)
SELECT symbol, CAST(day AS TIMESTAMP) AS day, ROUND(SQRT(v), 6) AS ewma_vol
FROM rec"""


# r13 (optimization round, guide §1.2 "fix the distributed algorithm
# first"): Spark 4 executes WITH RECURSIVE as UnionLoop — one driver-
# orchestrated count()+step round trip PER LEVEL.  The ~29-level
# day-grid recursion cost 786 stages / 13.5 s quiet at sf0.1 (the
# slowest production-tier query in the registry) with only ~4 s of
# TOTAL task time — pure per-iteration orchestration, and the loop
# step re-executed the full static prefix (events scan -> day agg ->
# LAG window) at every level on top of it.  The recurrence
#     v_1 = r_1 * r_1;  v_n = 0.94 * v_{n-1} + (1.0 - 0.94) * r_n^2
# is a left fold over the day-ordered r sequence, so the Spark side
# now computes it with the AGGREGATE higher-order function over
# running-window prefix arrays: collect_list(r) OVER (symbol, day
# ROWS UNBOUNDED PRECEDING) gives row n exactly [r_1..r_n], and the
# fold applies THE SAME double ops IN THE SAME ORDER as the recursion.
# The multiplier is 0.06D (r14, ADVICE r13): the recursion's
# (1.0 - 0.94) is DECIMAL arithmetic — Spark parses 0.94 as
# decimal(2,2), the subtraction constant-folds to exact decimal 0.06,
# and the cast to double yields 0.059999999999999998 == the literal
# 0.06D.  A double-typed (1.0D - 0.94D) subtraction instead gives
# 0.06000000000000005, which diverges from the recursion by ~1e-16 per
# step (r13 shipped that form; masked by ROUND(..,6), latent flake).
# With 0.06D every v_n is bit-identical to the UnionLoop's.
# One window pass, zero loop jobs: 786 stages -> a handful; the day
# grid is ~30 deep independent of SF, so the O(D^2) per-symbol fold
# work is ~450 multiply-adds — nothing at any scale.  The DuckDB
# oracle keeps the original one-text recursive form (EWMA_RECURSIVE),
# and tests/test_r6_analytics.py additionally runs EWMA_RECURSIVE
# verbatim through spark.sql and asserts row-for-row equality, so the
# recursive-CTE surface stays exercised and the equivalence is pinned
# in CI, not just argued here.
EWMA_FOLD = """WITH bars AS (
  SELECT user_id AS symbol, ts AS time, event_id,
         value AS close
  FROM events
),
d AS (SELECT symbol, CAST(time AS DATE) AS day, AVG(close) AS close_d
      FROM bars GROUP BY symbol, CAST(time AS DATE)),
r0 AS (SELECT symbol, day, close_d,
        LAG(close_d) OVER (PARTITION BY symbol ORDER BY day) AS prev
       FROM d),
r AS (SELECT symbol, day, ROUND(LN(close_d / prev), 6) AS r
      FROM r0 WHERE prev > 0 AND close_d > 0),
p AS (SELECT symbol, day,
        COLLECT_LIST(r) OVER (PARTITION BY symbol ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
      FROM r)
SELECT symbol, CAST(day AS TIMESTAMP) AS day,
       ROUND(SQRT(AGGREGATE(slice(rs, 2, size(rs) - 1),
                            element_at(rs, 1) * element_at(rs, 1),
                            (acc, x) -> 0.94D * acc + 0.06D * (x * x))),
             6) AS ewma_vol
FROM p"""


@q("q_ewma_sql", EWMA_RECURSIVE)
def q_ewma_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility recursion.  The ORACLE runs the
    one-text recursive form (EWMA_RECURSIVE) verbatim; the Spark side
    runs EWMA_FOLD — the same left fold expressed with the AGGREGATE
    higher-order function over running-window prefix arrays (see the
    r13 comment block above for the bit-identity argument and the
    UnionLoop orchestration cost that mandated it).  Values equal
    q_ewma_vol's Arrow-kernel output row-for-row, and the recursive
    text itself is still executed against this output in
    tests/test_r6_analytics.py."""
    return _sql(spark, sf_dir, EWMA_FOLD)
