"""Remaining TPC-H query shapes (Q2-Q22 analogs) over the driver's star
schema, each paired with a DuckDB oracle.

The synthetic schema has no ``partsupp`` table and no
commit/receipt-date or ship-mode columns, so the canonical queries are
adapted: the part↔supplier relationship is the distinct
``(l_partkey, l_suppkey)`` set observed in ``lineitem``, and "late"
means ``l_shipdate > o_orderdate + N days``. Each query keeps the
*shape* that matters for the engine — correlated-subquery → window
rewrite (Q2), EXISTS → semi join (Q4), multi-way nation joins (Q7/Q8),
two-level aggregation (Q13/Q15), scalar-subquery comparisons done in
exact DECIMAL arithmetic so both engines agree bit-for-bit (Q17/Q22),
disjunctive pushdown brackets (Q19), and exists/not-exists pairs (Q21).

Determinism rules (see queries/common.py): money sums go through
DECIMAL(18,4) then cast to double; avg/ratio outputs are round(x, 6);
every LIMIT ranks on a total order with a unique tie-break key.

Scale notes: region/nation/supplier are broadcast explicitly (bounded
dimension tables at any SF); part/customer/orders are left to AQE —
at 100 TB they exceed any broadcast threshold and must shuffle-join,
and AQE auto-broadcasts them at small SF.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..session import load
from .common import register

DEC2 = "decimal(18,2)"
DEC4 = "decimal(18,4)"


def _rev(li):
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC4)


# ---------------------------------------------------------------------------
# Q2 shape: min-cost-supplier correlated subquery -> window-rank rewrite.
# "partsupp" = distinct (l_partkey, l_suppkey) pairs from lineitem.

@register(
    "tpch_q2_best_supplier",
    """WITH partsupp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
ranked AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY s.s_acctbal DESC, s.s_suppkey) AS rk
  FROM part p
  JOIN partsupp ps ON ps.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = ps.l_suppkey
  WHERE p.p_type = 'LARGE' AND p.p_size BETWEEN 10 AND 20
)
SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
FROM ranked WHERE rk = 1
ORDER BY s_acctbal DESC, p_partkey LIMIT 50""",
)
def q_tpch_q2(spark, sf_dir):
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    )
    ps = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return (
        ps.join(p, ps.l_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
        .orderBy(F.col("s_acctbal").desc(), F.col("p_partkey"))
        .limit(50)
    )


# Q4 shape: EXISTS -> left-semi join with a cross-column condition
# ("late" = shipped more than 60 days after the order date).

@register(
    "tpch_q4_priority",
    """SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
)
def q_tpch_q4(spark, sf_dir):
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# Q7 shape: bidirectional nation-pair volume through two join paths
# (lineitem -> supplier -> nation, lineitem -> orders -> customer -> nation).

@register(
    "tpch_q7_volume",
    """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       year(l.l_shipdate)::BIGINT AS l_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
   OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year""",
)
def q_tpch_q7(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    ns = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    nc = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    rpair = (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(pair | rpair)
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(_rev(li)).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# Q8 shape: market share — conditional share of an exact-decimal volume sum.

@register(
    "tpch_q8_mktshare",
    """SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT year(o.o_orderdate)::BIGINT AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS volume,
         ns.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE p.p_type = 'ECONOMY'
) nations
GROUP BY o_year ORDER BY o_year""",
)
def q_tpch_q8(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load(spark, sf_dir, "supplier")
    ns = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    vol = li.join(p, li.l_partkey == p.p_partkey).join(
        F.broadcast(s), li.l_suppkey == s.s_suppkey
    ).join(F.broadcast(ns), F.col("s_nationkey") == F.col("n_nationkey")).join(
        o, li.l_orderkey == o.o_orderkey
    ).select(
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        _rev(li).alias("volume"),
        F.col("n_name").alias("supp_nation"),
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(
                        F.lit(0).cast(DEC4)
                    )
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# Q9 shape: product-type profit by supplier nation and year.
# Profit adapted (no ps_supplycost): revenue minus retail cost of goods.

@register(
    "tpch_q9_profit",
    """SELECT n.n_name AS nation, year(o.o_orderdate)::BIGINT AS o_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC""",
)
def q_tpch_q9(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC4)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("nation", F.col("n_name"))
        .withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .groupBy("nation", "o_year")
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# Q10 shape: returned-item revenue ranking (top 20 customers, one quarter).

@register(
    "tpch_q10_returns",
    """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def q_tpch_q10(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev(li)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "c_acctbal", "n_name", "revenue")
    )


# Q12 shape: conditional aggregation after a fact-fact join
# (ship-mode column absent; grouped by l_linestatus instead).

@register(
    "tpch_q12_priority_lines",
    """SELECT l.l_linestatus,
       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus""",
)
def q_tpch_q12(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# Q13 shape: two-level aggregation — orders per customer, then the
# distribution of those counts (includes zero-order customers via LEFT).

@register(
    "tpch_q13_custdist",
    """SELECT c_count, count(*)::BIGINT AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
) per_cust
GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
)
def q_tpch_q13(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# Q14 shape: promo-revenue ratio (conditional share of one month's revenue).

@register(
    "tpch_q14_promo",
    """SELECT round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
         THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01' AND l.l_shipdate < TIMESTAMP '1997-04-01'""",
)
def q_tpch_q14(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", _rev(li)).otherwise(
                        F.lit(0).cast(DEC4)
                    )
                ).cast("double")
                / F.sum(_rev(li)).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


# Q15 shape: top supplier — per-supplier revenue, scalar max, equality join.
# Exact DECIMAL revenue makes the max-equality safe across engines.

@register(
    "tpch_q15_top_supplier",
    """WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue r ON r.supplier_no = s.s_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
ORDER BY s_suppkey""",
)
def q_tpch_q15(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev(li)).alias("total_rev")
    )
    max_rev = revenue.agg(F.max("total_rev").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_rev == max_rev.m)
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


# Q16 shape: supplier-count per part attribute, with an anti-ish exclusion
# (suppliers in bad standing stand in for the "complaints" predicate).

@register(
    "tpch_q16_supplier_cnt",
    """WITH partsupp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.l_suppkey)::BIGINT AS supplier_cnt
FROM partsupp ps
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'MEDIUM'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 25)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100""",
)
def q_tpch_q16(spark, sf_dir):
    ps = (
        load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 25)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size"),
        )
        .limit(100)
    )


# Q17 shape: small-quantity outlier revenue. The correlated avg-quantity
# subquery becomes a broadcast per-part aggregate; the 0.2·avg comparison
# is done in exact integer/decimal arithmetic (5·qty·cnt < sum) so the
# boundary never depends on float summation order.

@register(
    "tpch_q17_small_qty",
    """WITH per_part AS (
  SELECT l_partkey AS agg_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         count(*)::BIGINT AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) / 7 AS DOUBLE) AS avg_yearly,
       count(*)::BIGINT AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN per_part a ON a.agg_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * a.cnt < a.sum_qty""",
)
def q_tpch_q17(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(F.col("l_quantity").cast(DEC2)).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == per_part.agg_partkey)
        .filter(
            F.col("l_quantity").cast(DEC2) * 5 * F.col("cnt") < F.col("sum_qty")
        )
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC2)) / 7)
            .cast("double")
            .alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# Q19 shape: disjunctive bracket predicates across the join — Catalyst
# pushes the common part filter and keeps the OR brackets on the join.

@register(
    "tpch_q19_brackets",
    """SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*)::BIGINT AS n
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""",
)
def q_tpch_q19(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(
            F.sum(_rev(li)).cast("double").alias("revenue"),
            F.count("*").alias("n"),
        )
    )


# Q20 shape: nested semi joins — suppliers in one nation who shipped a
# meaningful volume of 'blue' parts.

@register(
    "tpch_q20_blue_suppliers",
    """SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_3'
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%blue%'
    GROUP BY l.l_suppkey
    HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 1500
  )
ORDER BY s_suppkey""",
)
def q_tpch_q20(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    shippers = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC2)).alias("q"))
        .filter(F.col("q") > 1500)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(shippers, s.s_suppkey == shippers.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# Q21 shape: exists + not-exists pair. "Late" = shipped > 90 days after
# the order date; keep suppliers who were the sole late shipper in a
# multi-supplier order. Both EXISTS collapse into one order-level
# aggregate joined back to the late lineitems.

@register(
    "tpch_q21_sole_late",
    """WITH order_stats AS (
  SELECT l.l_orderkey,
         count(DISTINCT l.l_suppkey)::BIGINT AS n_supp,
         count(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                             THEN l.l_suppkey END)::BIGINT AS n_late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY l.l_orderkey
)
SELECT s.s_name, count(DISTINCT late.l_orderkey)::BIGINT AS numwait
FROM (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
) late
JOIN order_stats os ON os.l_orderkey = late.l_orderkey
JOIN supplier s ON s.s_suppkey = late.l_suppkey
WHERE os.n_supp >= 2 AND os.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s_name LIMIT 25""",
)
def q_tpch_q21(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    lo = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late", li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    # ONE grouped pass over lineitem⋈orders feeds both EXISTS arms (r16):
    # the old plan referenced `lo` from two subtrees — the join ran twice —
    # and the double countDistinct paid Spark's expand fan-out. Per
    # (order, supplier) rows make n_supp a plain count and n_late a sum of
    # booleans (exact integer semantics of the countDistincts), and `late`
    # is the same frame filtered. Persisted: both consumers materialize
    # inside the caller's single action, so the join+shuffle runs once.
    grp = (
        lo.groupBy(
            li.l_orderkey.alias("l_orderkey"), li.l_suppkey.alias("l_suppkey")
        )
        .agg(F.max("is_late").alias("_any_late"))
        .persist()
    )
    order_stats = grp.groupBy(F.col("l_orderkey").alias("os_orderkey")).agg(
        F.count("*").alias("n_supp"),
        F.sum(F.col("_any_late").cast("long")).alias("n_late"),
    )
    late = grp.filter(F.col("_any_late")).select("l_orderkey", "l_suppkey")
    return (
        late.join(
            order_stats,
            (late.l_orderkey == order_stats.os_orderkey)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1),
        )
        .join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(25)
    )


# Q22 shape: customers above the (positive-balance) average with no
# orders in a window, bucketed by name digits. The scalar-avg comparison
# is exact: acctbal·cnt > sum, all in DECIMAL.

@register(
    "tpch_q22_idle_rich",
    """WITH pos AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s, count(*)::BIGINT AS cnt
  FROM customer WHERE c_acctbal > 0
)
SELECT substring(c.c_name, 17, 2) AS cntrycode,
       count(*)::BIGINT AS numcust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c, pos
WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * pos.cnt > pos.s
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY cntrycode ORDER BY cntrycode""",
)
def q_tpch_q22(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(DEC2)).alias("s"),
        F.count("*").alias("cnt"),
    )
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("c_acctbal").cast(DEC2) * F.col("cnt") > F.col("s"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC2)).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# Q11 shape: important-stock screen — per-key aggregate kept only when it
# exceeds a fraction of the grand total (scalar-subquery threshold). The
# comparison is exact decimal (v * 1000 > total) so the cut never depends
# on float rounding.

@register(
    "tpch_q11_important_stock",
    """WITH val AS (
  SELECT l.l_partkey, sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS v
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
), tot AS (SELECT sum(v) AS t FROM val)
SELECT l_partkey, CAST(v AS DOUBLE) AS value
FROM val, tot
WHERE v * 1000 > t
ORDER BY value DESC, l_partkey LIMIT 100""",
)
def q_tpch_q11(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(DEC2)).alias("v"))
    )
    tot = val.agg(F.sum("v").alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v") * 1000 > F.col("t"))
        .select("l_partkey", F.col("v").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), F.col("l_partkey"))
        .limit(100)
    )


# Q5 shape: local-supplier volume — the canonical join-order/broadcast
# showcase. region->nation->supplier prune broadcast-side; the
# customer-nation == supplier-nation constraint can only apply after both
# sides meet, but customers are pre-pruned to ASIA nations (a broadcast
# semi the optimizer can't infer across the equality), so the two big
# shuffles (lineitem><orders, ><customer) carry only candidate rows.

@register(
    "tpch_q5_local_volume",
    """SELECT n.n_name AS n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name""",
)
def q_tpch_q5(spark, sf_dir):
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = (
        load(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("n_nationkey", "n_name")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev(li)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# Q6 shape: the pure scan-filter-aggregate forecast — every predicate in
# PushedFilters, no join, no shuffle beyond the single-row partial-agg
# merge. The query that shows whether pushdown works at all.

@register(
    "tpch_q6_forecast",
    """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""",
)
def q_tpch_q6(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC4))
            .cast("double")
            .alias("revenue")
        )
    )


# Q18 shape: large-volume customers — the big-group HAVING. The heavy
# aggregation (groupBy l_orderkey over all of lineitem) runs FIRST and
# the >300 filter collapses it to a sliver, so the orders/customer joins
# see only qualifying keys; AQE turns them into broadcasts at runtime
# when the sliver is small (not hardcoded — at 100 TB it may not be).
# sum(l_quantity) is exact (integer-valued doubles), so the HAVING
# threshold and the output column agree bit-for-bit across engines.

@register(
    "tpch_q18_large_volume",
    """WITH big AS (
  SELECT l_orderkey, CAST(sum(l_quantity) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       b.total_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey LIMIT 100""",
)
def q_tpch_q18(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate"), F.col("o_orderkey")
        )
        .limit(100)
    )


# Fuzzy-match join (training-data dedup shape): near-identical part names
# within edit distance 2, blocked by (p_brand, p_type) so the pair space
# stays bounded — the same block-then-verify pattern as MinHash LSH, with
# Levenshtein as the verifier.

@register(
    "part_fuzzy_pairs",
    """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
       levenshtein(a.p_name, b.p_name)::BIGINT AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY id1, id2""",
)
def q_part_fuzzy_pairs(spark, sf_dir):
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type", "p_name")
    a = p.select(
        F.col("p_partkey").alias("id1"),
        "p_brand",
        "p_type",
        F.col("p_name").alias("name1"),
    )
    b = p.select(
        F.col("p_partkey").alias("id2"),
        "p_brand",
        "p_type",
        F.col("p_name").alias("name2"),
    )
    return (
        a.join(b, ["p_brand", "p_type"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("dist", F.levenshtein("name1", "name2").cast("bigint"))
        .filter(F.col("dist") <= 2)
        .select("id1", "id2", "dist")
        .orderBy("id1", "id2")
    )


# NTILE decile summary over customer balances: rank-bucket aggregation.

@register(
    "customer_balance_deciles",
    """SELECT decile, count(*)::BIGINT AS n,
       CAST(min(c_acctbal) AS DOUBLE) AS lo,
       CAST(max(c_acctbal) AS DOUBLE) AS hi
FROM (
  SELECT c_acctbal,
         ntile(10) OVER (ORDER BY c_acctbal, c_custkey)::BIGINT AS decile
  FROM customer
) t
GROUP BY decile ORDER BY decile""",
)
def q_customer_deciles(spark, sf_dir):
    """NTILE(10) summary WITHOUT the single-partition window.

    ``ntile(10) OVER (ORDER BY ...)`` forces WindowExec to gather the
    whole table into ONE partition — the textbook scale-killer. The
    scale-safe twin: range-partition on the ordering key (ranges ascend
    with partition id, so global order = (pid, local order)), per-
    partition row numbers from ``monotonically_increasing_id`` — its low
    33 bits are exactly the partition-local row counter in row order, and
    the projection sits in the same stage as sortWithinPartitions, so the
    counter numbers the SORTED order with no shuffle and, unlike the old
    mapInPandas counter, no JVM->Python round trip of the whole table
    (r15: MapInPandas node removed from the plan) — then tiny
    per-partition counts collected to cumulative offsets, and the decile
    from NTILE's rank arithmetic: the first N mod 10 tiles get
    ceil(N/10) rows, the rest floor(N/10). Identical output to the
    DuckDB ntile oracle; the heavy table never converges on one task.
    """
    # partition count: scale with the session's parallelism rather than a
    # constant — results are partition-count-invariant (the rank
    # arithmetic depends only on global order + total count), so this is
    # purely a fan-out knob
    n_parts = max(spark.sparkContext.defaultParallelism, 4)
    c = load(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    ranked_parts = (
        c.repartitionByRange(n_parts, "c_acctbal", "c_custkey")
        .sortWithinPartitions("c_acctbal", "c_custkey")
        .withColumn("pid", F.spark_partition_id())
        .withColumn(
            "rn",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
            + F.lit(1),
        )
    )

    # ONE materialization: the offsets below and the final aggregate must
    # observe the SAME range partitioning. Two independent jobs over
    # repartitionByRange can sample different boundaries (the scan's
    # split packing is not pinned across jobs), and offsets computed from
    # a differently-bounded run disagree with the ranks — at sf0.1 this
    # produced uneven tiles and a phantom 11th decile. Persisting the
    # ranked rows makes both consumers read one partitioning.
    ranked = ranked_parts.persist()

    # per-partition counts: a handful of rows — cumulative offsets are a
    # driver-side fold broadcast back as a tiny join table. Derived from
    # ``ranked`` itself (the cached frame), never a recomputation.
    counts = {r["pid"]: r["n"] for r in
              ranked.groupBy("pid").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "pid int, off long")
    )

    q, rem = divmod(total, 10)
    rank = F.col("off") + F.col("rn")
    head = rem * (q + 1)  # rows covered by the ceil-sized tiles
    decile = F.when(
        rank <= head, F.ceil(rank / F.lit(max(q + 1, 1)))
    ).otherwise(rem + F.ceil((rank - head) / F.lit(max(q, 1))))
    return (
        ranked.join(off, "pid")
        .select("c_acctbal", decile.cast("bigint").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.min("c_acctbal").cast("double").alias("lo"),
            F.max("c_acctbal").cast("double").alias("hi"),
        )
        .orderBy("decile")
    )
