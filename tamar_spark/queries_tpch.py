"""Extended query inventory: TPC-H-shaped analytics + scalar-function library.

The reference has no joins, aggregations, subqueries, or scalar function
library at all (SURVEY §2.7 / reference src/lib.rs — the closest thing is an
arbitrary Rust closure in ``map``).  These queries demonstrate that the whole
missing category comes from Spark built-ins, expressed so Catalyst keeps every
plan shuffle-minimal at 100 TB:

- every dimension table (region/nation/customer/supplier/part at TPC-H
  proportions) is explicitly ``broadcast()`` — the only shuffles left are on
  the fact table's own keys;
- scalar subqueries (q15/q17/q22) become tiny aggregated DataFrames that are
  broadcast back, i.e. two scans but zero wide shuffles of the fact side;
- all predicates are Column expressions → parquet PushedFilters, and each
  query selects only the columns it needs → pruned ReadSchema.

Registered into the same QUERIES/ORACLES registry as tamar_spark.queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tamar_spark.queries import query, dsum_r, round_ieee, _DEC, epoch_us, floor_div
from tamar_spark.queries import _SHINGLE_CTE, _events_path, _events_stream, _run_to_memory
from tamar_spark.sources import load_table
from tamar_spark.operators import dedup as D
from tamar_spark.operators.dedup_embedding import blocked_cosine_pairs, lsh_cosine_pairs


def _ts(s: str):
    return F.lit(s).cast("timestamp")


def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# TPC-H-adapted join/aggregation suite (schema lacks partsupp + ship columns;
# predicates adapted to the driver fixture's actual value domains)
# ---------------------------------------------------------------------------


@query(
    "q4_order_priority",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark, sf_dir):
    """TPC-H-Q4-shaped: correlated EXISTS → left-semi join (late shipments,
    adapted: shipped >30 days after order).  Semi join avoids materializing
    lineitem rows; only orders survive the probe."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H-Q6: pure scan-filter-aggregate.  The whole query is one codegen
    stage over the parquet scan — every predicate reaches PushedFilters and
    only 4 of 11 lineitem columns are read."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(dsum_r(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


@query(
    "q7_trade_volume",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
)
def q7_trade_volume(spark, sf_dir):
    """TPC-H-Q7-shaped: bilateral trade volume between two nations by year.
    Both nation dims and supplier/customer are broadcast; the disjunctive
    nation-pair predicate is applied post-join as a Column expression."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(dsum_r(_revenue()).alias("revenue"))
    )


@query(
    "q8_market_share",
    """
SELECT o_year,
       round(CAST(sum(CAST(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(sum(CAST(volume AS DECIMAL(28,6))) AS DOUBLE), 4) AS mkt_share
FROM (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'ASIA'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
) GROUP BY o_year
""",
)
def q8_market_share(spark, sf_dir):
    """TPC-H-Q8-shaped: one nation's share of PROMO-part volume sold into one
    region, by year.  Conditional aggregation over a 7-table join with every
    dimension broadcast — lineitem is shuffled exactly once (join to orders)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
    vol = _revenue()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_5", vol).otherwise(F.lit(0.0)).cast(_DEC)).cast("double")
                / F.sum(vol.cast(_DEC)).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    """
SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS o_year,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) - 0.1 * l.l_quantity * p.p_retailprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY 1, 2
""",
)
def q9_product_profit(spark, sf_dir):
    """TPC-H-Q9-shaped: profit by supplier nation and year for one product
    line (supply cost proxied as 10% of retail price — fixture has no
    partsupp).  LIKE predicate is pushed into the broadcast part dim."""
    l = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    profit = _revenue() - 0.1 * F.col("l_quantity") * F.col("p_retailprice")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("nation", F.year("l_shipdate").cast("int").alias("o_year"))
        .agg(dsum_r(profit).alias("profit"))
    )


@query(
    "q10_returned_top",
    """
SELECT c.c_custkey, c.c_name,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_top(spark, sf_dir):
    """TPC-H-Q10: top-20 customers by returned-item revenue in a quarter.
    The returnflag filter lands in PushedFilters on the lineitem scan; the
    final top-k is a TakeOrderedAndProject (no global sort)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum_r(_revenue()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "q14_promo_share",
    """
SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE), 4) AS promo_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'
""",
)
def q14_promo_share(spark, sf_dir):
    """TPC-H-Q14: promo revenue share for one month — conditional aggregate
    over a broadcast part join."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _revenue()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)).cast(_DEC)).cast("double")
                / F.sum(vol.cast(_DEC)).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


@query(
    "q15_top_supplier",
    """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
""",
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H-Q15: supplier(s) with max quarterly revenue.  The scalar
    subquery becomes a 1-row aggregate broadcast back onto the revenue view
    (the view is computed once and reused — Spark reuses the exchange)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum_r(_revenue()).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx._mx)
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity",
    """
SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
)
def q17_small_quantity(spark, sf_dir):
    """TPC-H-Q17: small-quantity order revenue.  The correlated scalar
    subquery is decorrelated by hand into a per-part average aggregate that is
    broadcast back — one shuffle (the per-part agg) instead of a
    re-scan-per-row, which is the plan Catalyst itself produces for the SQL
    form."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    avg_q = l.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("_half_avg")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(avg_q), F.col("l_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_half_avg"))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q18_large_orders",
    """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(round(b.sum_qty, 2) AS DOUBLE) AS sum_qty
FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(28,6))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(28,6))) > 160) b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
)
def q18_large_orders(spark, sf_dir):
    """TPC-H-Q18: large-volume orders (HAVING over a fact-side aggregate,
    then dim joins and a top-k).  The aggregate runs first so only qualifying
    orderkeys flow into the joins."""
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("_sq"))
        .filter(F.col("_sq") > 160)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("_sq", 2).cast("double").alias("sum_qty"),
        )
    )


@query(
    "q19_bracket_revenue",
    """
SELECT CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def q19_bracket_revenue(spark, sf_dir):
    """TPC-H-Q19: disjunctive multi-bracket predicate across both join sides.
    The part side of each bracket is pushed into the broadcast dim scan
    (Catalyst extracts `p_brand IN (...)` as a common conjunct)."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(dsum_r(_revenue()).alias("revenue"))
    )


@query(
    "q22_idle_customers",
    """
SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(28,6))), 2) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                     WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
""",
)
def q22_idle_customers(spark, sf_dir):
    """TPC-H-Q22-shaped: well-funded customers who never ordered.  Scalar
    avg subquery → 1-row broadcast; NOT EXISTS → left-anti join against the
    orders key projection."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("_avg"))
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum_r("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar-function library showcase (SURVEY §2.7 "scalar fn library" row —
# the reference offers only arbitrary Rust closures; here each family is a
# JVM-side Column expression, whole-stage-codegen'd, oracle-checked)
# ---------------------------------------------------------------------------


@query(
    "stat_agg",
    """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(stddev_samp(l_discount), 4) AS sd_discount,
       round(covar_samp(l_quantity, l_discount), 4) AS covar_qd,
       round(avg(l_tax), 4) AS avg_tax
FROM lineitem GROUP BY l_returnflag
""",
)
def stat_agg(spark, sf_dir):
    """Statistical aggregates (corr / stddev / covar) — single hash aggregate
    with partial map-side combine."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.stddev_samp("l_discount"), 4).alias("sd_discount"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qd"),
        F.round(F.avg("l_tax"), 4).alias("avg_tax"),
    )


@query(
    "date_funcs",
    """
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(date_trunc('month', o_orderdate)) AS first_month,
       CAST(max(day(o_orderdate)) AS INT) AS max_day
FROM orders GROUP BY 1, 2
""",
)
def date_funcs(spark, sf_dir):
    """Date/time function family: extract, truncate, day-of-month over the
    orders timeline."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min(F.date_trunc("month", "o_orderdate")).alias("first_month"),
        F.max(F.dayofmonth("o_orderdate")).cast("int").alias("max_day"),
    )


@query(
    "string_funcs",
    """
SELECT p_type,
       upper(p_type) AS type_uc,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(length(p_name)) AS INT) AS min_name_len,
       max(concat(p_brand, ':', p_type)) AS max_brand_type,
       min(substring(p_name, 1, 3)) AS min_prefix,
       max(replace(p_name, ' ', '_')) AS max_snake
FROM part GROUP BY p_type
""",
)
def string_funcs(spark, sf_dir):
    """String function family: case, length, concat, substring, replace."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_type").agg(
        F.upper(F.col("p_type")).alias("type_uc"),
        F.count(F.lit(1)).alias("n"),
        F.min(F.length("p_name")).cast("int").alias("min_name_len"),
        F.max(F.concat_ws(":", "p_brand", "p_type")).alias("max_brand_type"),
        F.min(F.substring("p_name", 1, 3)).alias("min_prefix"),
        F.max(F.replace(F.col("p_name"), F.lit(" "), F.lit("_"))).alias("max_snake"),
    )


@query(
    "array_funcs",
    """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       round(embedding[1]::DOUBLE, 6) AS first_val,
       round(list_aggregate(embedding::DOUBLE[], 'sum'), 6) AS vec_sum,
       round(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 6) AS max_abs
FROM embeddings WHERE vec_id < 100
""",
)
def array_funcs(spark, sf_dir):
    """Array function family: size, element access, fold-sum, transform+max.
    All lambdas are Catalyst higher-order functions (JVM-side), not UDFs."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.element_at(v, 1), 6).alias("first_val"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 6).alias("vec_sum"),
        F.round(F.array_max(F.transform(v, lambda x: F.abs(x))), 6).alias("max_abs"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (completes the dedup family:
# exact / minhash-LSH / simhash / ngram-jaccard / embedding-cosine)
# ---------------------------------------------------------------------------


@query(
    "dedup_embedding",
    """
SELECT a.vec_id AS src_id, b.vec_id AS dup_id,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
         AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
         * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
""",
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (threshold 0.4 — this corpus is
    near-orthogonal, max pair cosine ≈ 0.51).  Exact all-pairs here so the
    oracle matches bit-for-bit; `dedup_embedding_lsh` below is the composed
    100 TB path (LSH candidates + the same GEMM verify kernel)."""
    e = load_table(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs(e, threshold=0.4)


def _augmented_embeddings(spark, sf_dir):
    """Fixture corpus + deterministic planted near-dups: every 25th vector
    gets a perturbed copy (x_i + 0.02·sin(64·id + i), cosine ≈ 0.9935 to its
    source) under id+1_000_000.  The same augmentation is expressed in the
    DuckDB oracle, so the exact pair set is oracle-checkable while the raw
    fixture (near-orthogonal, max pair cosine 0.6) stays untouched."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", v.alias("embedding"))
    # two-step select: Spark's lateral column alias resolution would
    # otherwise bind the vec_id inside the lambda to the re-aliased
    # (vec_id + 1000000) output column
    planted = (
        e.filter(F.col("vec_id") % 25 == 0)
        .select(F.col("vec_id").alias("_oid"), v.alias("_v"))
        .select(
            (F.col("_oid") + 1000000).alias("vec_id"),
            F.transform(
                F.col("_v"), lambda x, i: x + F.lit(0.02) * F.sin(F.col("_oid") * 64 + i)
            ).alias("embedding"),
        )
    )
    return base.unionAll(planted)


_COS = (
    "list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


@query(
    "dedup_embedding_lsh",
    f"""
WITH aug AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding::DOUBLE[],
                        (x, i) -> x + 0.02 * sin(vec_id * 64 + (i - 1)))
  FROM embeddings WHERE vec_id % 25 = 0
)
SELECT a.vec_id AS src_id, b.vec_id AS dup_id, round({_COS}, 6) AS score
FROM aug a JOIN aug b ON a.vec_id < b.vec_id
WHERE {_COS} >= 0.9
""",
)
def dedup_embedding_lsh(spark, sf_dir):
    """Composed scale path for embedding dedup (VERDICT r1 item 3): sign-LSH
    candidate buckets → exact in-bucket GEMM verify
    (`dedup_embedding.lsh_cosine_pairs`).  Scored pairs drop from O(n²) to
    Σ bucket² while the planted-near-dup oracle (exact all-pairs in DuckDB
    over the identical augmented corpus) pins recall 1.0 — deterministic
    projections make that exactness stable, not probabilistic."""
    corpus = _augmented_embeddings(spark, sf_dir)
    return lsh_cosine_pairs(corpus, threshold=0.9, dim=64)


# ---------------------------------------------------------------------------
# Analytic windows, pivot, percentiles, streaming sliding windows
# ---------------------------------------------------------------------------


@query(
    "window_analytics",
    """
SELECT c_custkey, c_nationkey,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
       floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cume,
       first_value(c_custkey) OVER w AS richest_custkey
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""",
)
def window_analytics(spark, sf_dir):
    """Analytic window-function family beyond rank/lag: ntile, percent_rank,
    cume_dist, first_value — one window spec, single hash-shuffle on the
    partition key then a per-partition sort."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        # round_ieee, not round: rank ratios like 41/640 = 0.0640625 sit on
        # the 6dp .5 boundary where the engines' round() disagree (sf0.1)
        round_ieee(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_ieee(F.cume_dist().over(w), 6).alias("cume"),
        F.first("c_custkey").over(w).alias("richest_custkey"),
    )


@query(
    "pivot_sales",
    """
SELECT l_linestatus,
       CAST(round(sum(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity END AS DECIMAL(28,6))), 2) AS DOUBLE) AS A,
       CAST(round(sum(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity END AS DECIMAL(28,6))), 2) AS DOUBLE) AS N,
       CAST(round(sum(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity END AS DECIMAL(28,6))), 2) AS DOUBLE) AS R
FROM lineitem GROUP BY l_linestatus
""",
)
def pivot_sales(spark, sf_dir):
    """Pivot (wide conditional aggregation).  Pivot values are enumerated
    explicitly — at scale, never let Spark run the extra distinct-values job."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum_r("l_quantity"))
    )


@query(
    "percentile_agg",
    """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       round(quantile_cont(l_discount, 0.25), 4) AS p25_discount
FROM lineitem GROUP BY l_returnflag
""",
)
def percentile_agg(spark, sf_dir):
    """Exact interpolated percentiles (median / p90 / p25).  Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the same
    linear-interpolation definition.  Exact percentile sorts per group — at
    100 TB prefer ``approx_percentile`` (t-digest, mergeable map-side) unless
    exactness is contractual."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(l_discount, 0.25)"), 4).alias("p25_discount"),
    )


@query(
    "streaming_sliding_agg",
    """
WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS bk, value FROM events
), expanded AS (
  SELECT bk AS ws, value FROM b
  UNION ALL
  SELECT bk - INTERVAL 30 MINUTE AS ws, value FROM b
)
SELECT window_start, window_end, n_events, sum_value FROM (
  SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
  FROM expanded GROUP BY 1, 2
) WHERE window_end <= (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
""",
)
def streaming_sliding_agg(spark, sf_dir):
    """Streaming sliding (hopping) windows, 1 h / 30 min, append mode: only
    windows closed by the final watermark emit (run-to-completion semantics
    as streaming_session_agg; the oracle filters to exactly those)."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window(F.col("ts"), "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum_r("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, sized_by=_events_path(sf_dir))


# The IVF pipeline over any (c: neighbor_id, cv) corpus and (q: query_id,
# qv) probe CTEs — shared verbatim by the raw-embedding oracle below and
# the ABTT-composed oracle in queries_ml (r8 VERDICT task 4), so the two
# replays cannot drift.  Geometry is SIZE-DERIVED exactly like the engine
# (similarity.ivf_geometry, r9 task 3): nlist = ceil(sqrt(|c|)) via a
# scalar subquery in LIMIT, nprobe = ceil(nlist/4) in the rk filter —
# both engines compute the identical integers from the identical count.
_IVF_PIPE_SQL = """seed AS (
  SELECT neighbor_id, cv, md5(CAST(neighbor_id AS VARCHAR)) AS h
  FROM c ORDER BY h, neighbor_id
  LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c)
), cents AS (
  SELECT row_number() OVER (ORDER BY h, neighbor_id) - 1 AS list_id, cv AS cent
  FROM seed
), assigned AS (
  SELECT neighbor_id, cv, list_id FROM (
    SELECT c.neighbor_id, c.cv, cents.list_id,
           row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
             list_dot_product(c.cv, cents.cent) /
               (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cents.cent, cents.cent))) DESC,
             cents.list_id) AS rk
    FROM c, cents)
  WHERE rk = 1
), q_lists AS (
  SELECT query_id, qv, list_id FROM (
    SELECT q.query_id, q.qv, cents.list_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(q.qv, cents.cent) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cents.cent, cents.cent))) DESC,
             cents.list_id) AS rk
    FROM q, cents)
  WHERE rk <= (SELECT CAST(ceil(ceil(sqrt(count(*))) / 4.0) AS BIGINT) FROM c)
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS s
  FROM assigned JOIN q_lists USING (list_id)
  WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

_IVF_TOPK_SQL = (
    """
WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
"""
    + _IVF_PIPE_SQL
)


@query("embed_ivf_topk", _IVF_TOPK_SQL)
def embed_ivf_topk(spark, sf_dir):
    """Approximate top-5 via IVF coarse quantization with exact rerank —
    the second ANN scale path next to LSH.  Geometry is SIZE-DERIVED
    in-plan (r9 VERDICT task 3): nlist = ⌈√n⌉ lists from one corpus-count
    pre-flight, probe ⌈nlist/4⌉ — at the same 1/4 scan fraction the finer
    geometry lifts recall@5 0.465 → 0.57 at sf0.1 (the full recall-vs-
    nprobe curve is recorded in BASELINE.md).  The default centroid seed
    orders by md5(id) hex, which DuckDB computes identically, and the
    oracle derives the identical geometry via scalar subqueries, so it
    replays the IDENTICAL seed → assignment → probe → rerank pipeline
    and the output is fully hash-checked (r2 VERDICT: retire the
    rows-only ANN entries)."""
    from tamar_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return S.ivf_topk(emb, queries_df, k=5)


_HARDNEG_SQL = """
WITH c AS (SELECT vec_id AS neighbor_id, label AS n_label, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS q_label, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT query_id, neighbor_id, n_label,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS s
  FROM c, q
  WHERE neighbor_id <> query_id AND n_label <> q_label
), ranked AS (
  SELECT query_id, neighbor_id, n_label, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(n_label AS INT) AS neg_label,
       round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@query("embed_hard_negatives", _HARDNEG_SQL)
def embed_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each anchor
    vector, the top-5 most-similar corpus vectors whose LABEL differs —
    the near-miss negatives that make embedding models learn, which
    random negative sampling almost never finds.  Same exact-cosine scan
    shape as ``cosine_topk`` (broadcast anchors, embarrassingly parallel
    corpus pass, per-anchor top-k) with the label-mismatch predicate
    fused into the join — the filter drops same-label rows BEFORE any
    scoring or ranking work.

    Scale: identical to the brute-force search tier — one corpus scan,
    no shuffle until the per-anchor top-k; compose with the LSH/IVF/PQ
    candidate generators for sub-scan cost once the corpus outgrows a
    single pass."""
    from tamar_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 50 == 0)
    n_label, q_label = F.col("label").alias("n_label"), F.col("label").alias("q_label")
    c = S._side(emb, "vec_id", "embedding", "neighbor_id", "c", n_label)
    q = S._side(anchors, "vec_id", "embedding", "query_id", "q", q_label)
    pairs = S._all_pairs(c, q, "query_id", cond=F.col("n_label") != F.col("q_label"))
    neg_label = F.col("n_label").cast("int").alias("neg_label")
    return S._exact_topk(pairs, 5, "query_id", neg_label)


_PQ_TOPK_SQL = """
WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
seed AS (
  SELECT neighbor_id, cv, md5(CAST(neighbor_id AS VARCHAR)) AS h
  FROM c ORDER BY h, neighbor_id LIMIT 16
), cents AS (
  SELECT row_number() OVER (ORDER BY h, neighbor_id) - 1 AS code, cv AS cent
  FROM seed
), mm AS (
  SELECT CAST(unnest(range(4)) AS INT) AS m
), cb AS (
  SELECT m, code, list_slice(cent, m*16+1, m*16+16) AS ce FROM cents, mm
), cchunk AS (
  SELECT neighbor_id, m, list_slice(cv, m*16+1, m*16+16) AS ch FROM c, mm
), codes AS (
  SELECT neighbor_id, m, code FROM (
    SELECT cchunk.neighbor_id, cchunk.m, cb.code,
           row_number() OVER (PARTITION BY cchunk.neighbor_id, cchunk.m ORDER BY
             (list_dot_product(ch, ch) - 2*list_dot_product(ch, ce)) + list_dot_product(ce, ce),
             cb.code) AS rk
    FROM cchunk JOIN cb USING (m))
  WHERE rk = 1
), qchunk AS (
  SELECT query_id, m, list_slice(qv, m*16+1, m*16+16) AS qh FROM q, mm
), lut AS (
  SELECT query_id, m, code, list_dot_product(qh, ce) AS p FROM qchunk JOIN cb USING (m)
), scored AS (
  SELECT query_id, neighbor_id,
         ((sum(CASE WHEN m = 0 THEN p END) + sum(CASE WHEN m = 1 THEN p END))
           + sum(CASE WHEN m = 2 THEN p END)) + sum(CASE WHEN m = 3 THEN p END) AS s
  FROM codes JOIN lut USING (m, code)
  WHERE neighbor_id <> query_id GROUP BY 1, 2
), adc AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rk
  FROM scored
), rr AS (
  SELECT a.query_id, a.neighbor_id,
         list_dot_product(q.qv, c.cv) /
           (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS s
  FROM adc a
  JOIN c ON a.neighbor_id = c.neighbor_id
  JOIN q ON a.query_id = q.query_id
  WHERE a.rk <= 50
), ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
  FROM rr
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@query("embed_pq_topk", _PQ_TOPK_SQL)
def embed_pq_topk(spark, sf_dir):
    """Approximate top-5 via product quantization with asymmetric-distance
    (ADC) pruning + exact rerank — the memory-bound ANN tier: vectors
    compress to 4 codebook indices, the ADC scan (4 lookup-table adds per
    vector, no floats touched) keeps the top 50 per query
    (``similarity._RERANK``), and only those 50 float vectors are scored
    exactly.  Codebook seeding uses the md5-order pick both engines
    compute identically; every double op is exactly-rounded IEEE in a
    pinned order (see ``similarity.pq_topk``), so the DuckDB twin replays
    the encode → LUT → ADC → rerank pipeline bitwise and the output is
    fully hash-checked.  Quality gate: ``test_pq_recall_and_compression``;
    recall@5 vs exact is recorded in BASELINE.md: rerank depth is the
    quality knob — depth 20 scored 0.455 on a 40-cluster corpus vs 0.855
    at depth 50."""
    from tamar_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return S.pq_topk(emb, queries_df, k=5, dim=64)


_IVFPQ_TOPK_SQL = """
WITH c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 50 = 0),
seed AS (
  SELECT neighbor_id, cv, md5(CAST(neighbor_id AS VARCHAR)) AS h
  FROM c ORDER BY h, neighbor_id
  LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM c)
), cents AS (
  SELECT row_number() OVER (ORDER BY h, neighbor_id) - 1 AS list_id, cv AS cent
  FROM seed
), assigned AS (
  SELECT neighbor_id, cv, list_id, cent FROM (
    SELECT c.neighbor_id, c.cv, cents.list_id, cents.cent,
           row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
             list_dot_product(c.cv, cents.cent) /
               (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(cents.cent, cents.cent))) DESC,
             cents.list_id) AS rk
    FROM c, cents)
  WHERE rk = 1
), res AS (
  SELECT neighbor_id, list_id, sqrt(list_dot_product(cv, cv)) AS cn,
         list_transform(range(1, len(cv) + 1), i -> cv[i] - cent[i]) AS rv
  FROM assigned
), cbseed AS (
  SELECT neighbor_id, rv, md5('r' || CAST(neighbor_id AS VARCHAR)) AS h
  FROM res ORDER BY h, neighbor_id LIMIT 16
), cbooks0 AS (
  SELECT row_number() OVER (ORDER BY h, neighbor_id) - 1 AS code, rv FROM cbseed
), mm AS (
  SELECT CAST(unnest(range(8)) AS INT) AS m
), cb AS (
  SELECT code, m, list_slice(rv, m*8+1, m*8+8) AS ce FROM cbooks0, mm
), rchunk AS (
  SELECT neighbor_id, list_id, cn, m, list_slice(rv, m*8+1, m*8+8) AS rh FROM res, mm
), codes AS (
  SELECT neighbor_id, list_id, cn, m, code FROM (
    SELECT rchunk.neighbor_id, rchunk.list_id, rchunk.cn, rchunk.m, cb.code,
           row_number() OVER (PARTITION BY rchunk.neighbor_id, rchunk.m ORDER BY
             (list_dot_product(rh, rh) - 2*list_dot_product(rh, ce)) + list_dot_product(ce, ce),
             cb.code) AS rk
    FROM rchunk JOIN cb USING (m))
  WHERE rk = 1
), q_lists AS (
  SELECT query_id, list_id, qc FROM (
    SELECT q.query_id, cents.list_id,
           list_dot_product(q.qv, cents.cent) AS qc,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(q.qv, cents.cent) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cents.cent, cents.cent))) DESC,
             cents.list_id) AS rk
    FROM q, cents)
  WHERE rk <= (SELECT CAST(ceil(ceil(sqrt(count(*))) / 4.0) AS BIGINT) FROM c)
), qchunk AS (
  SELECT query_id, m, list_slice(qv, m*8+1, m*8+8) AS qh FROM q, mm
), lut AS (
  SELECT query_id, m, code, list_dot_product(qh, ce) AS p FROM qchunk JOIN cb USING (m)
), parts AS (
  SELECT ql.query_id, codes.neighbor_id, ql.qc, codes.cn, codes.m, lut.p
  FROM codes JOIN q_lists ql USING (list_id)
  JOIN lut ON lut.query_id = ql.query_id AND lut.m = codes.m AND lut.code = codes.code
  WHERE codes.neighbor_id <> ql.query_id
), adcscore AS (
  SELECT query_id, neighbor_id,
         (((((((((max(qc) + sum(CASE WHEN m = 0 THEN p END))
                 + sum(CASE WHEN m = 1 THEN p END))
                + sum(CASE WHEN m = 2 THEN p END))
               + sum(CASE WHEN m = 3 THEN p END))
              + sum(CASE WHEN m = 4 THEN p END))
             + sum(CASE WHEN m = 5 THEN p END))
            + sum(CASE WHEN m = 6 THEN p END))
           + sum(CASE WHEN m = 7 THEN p END)) / max(cn)) AS s
  FROM parts GROUP BY 1, 2
), adc AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rk
  FROM adcscore
), rr AS (
  SELECT a.query_id, a.neighbor_id,
         list_dot_product(q.qv, c.cv) /
           (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS s
  FROM adc a
  JOIN c ON a.neighbor_id = c.neighbor_id
  JOIN q ON a.query_id = q.query_id
  WHERE a.rk <= 50
), ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
  FROM rr
)
SELECT query_id, neighbor_id, round(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@query("embed_ivfpq_topk", _IVFPQ_TOPK_SQL)
def embed_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composed — the FAISS-``IVFPQ`` production ANN shape
    (Jégou et al. 2011), completing the family's scale story: IVF coarse
    pruning (size-derived geometry since r10: ⌈√n⌉ lists, probe a 1/4
    fraction — same derivation and oracle scalar subqueries as
    embed_ivf_topk) bounds the candidate set, residual PQ
    (8×4-bit shared codebooks over ``v − centroid``; raised from 4×16
    codes in r11 per the r10 VERDICT task-6 operating-point decision —
    8 subquantizers halve the per-subspace quantization cell at
    +2 bytes/vector, which lifts the CLUSTERED-corpus recall@5 to 1.0
    vs 0.855 at 4×16 (BASELINE.md PQ table) and sharpens deep-rerank
    ADC ordering; measured honestly, on the near-random sf0.1 corpus
    recall@5 at the registered rerank=50 stays 0.285 either way — there
    the rerank WINDOW binds first (0.285/0.415/0.495/0.57 at rerank
    50/100/200/500, the last being exactly the probe-fraction ceiling),
    so 8×16 is the production capacity choice, not an sf0.1 win —
    full curve in BASELINE.md) compresses the
    in-list scan to lookup-table adds against one stored norm per
    vector, and the ADC top-50 reranks exactly.  Standalone IVF still
    scans full floats inside probed lists; standalone PQ still
    ADC-scans the whole corpus; composed, per-vector state after encode
    is 8 codes + 1 norm + 1 list id and a query touches
    ~n_probe/n_centroids of the codes.  Residual codebooks seed from a
    separate md5 stream ('r'||id) — the coarse-seed rows are their own
    centroids, so their residuals are zero and would degenerate the
    codebook (see ``similarity.ivfpq_topk``).  Every float chain is
    pinned-order IEEE; the DuckDB twin replays assignment → residual →
    encode → probe → LUT → ADC → rerank bitwise.  Quality gate:
    ``test_ivfpq_recall_and_layout_independence``."""
    from tamar_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return S.ivfpq_topk(emb, queries_df, k=5, dim=64, n_sub=8)


@query(
    "regex_funcs",
    """
SELECT p_partkey,
       CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INT) AS brand_num,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       CAST(regexp_matches(p_name, 'widget|gizmo') AS BOOLEAN) AS is_gadget
FROM part
""",
)
def regex_funcs(spark, sf_dir):
    """Regex function family: extract (group capture), global replace,
    match test — all JVM-side codegen expressions."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("int").alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("widget|gizmo").alias("is_gadget"),
    )


@query(
    "conditional_funcs",
    """
SELECT c_custkey,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
       greatest(c_acctbal, 0.0) AS bal_floor,
       least(c_acctbal, 1000.0) AS bal_cap,
       CASE WHEN c_acctbal < 0 THEN 'neg'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'high' END AS band
FROM customer
""",
)
def conditional_funcs(spark, sf_dir):
    """Conditional/null-handling family: coalesce, nullif, greatest, least,
    CASE."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias("seg"),
        F.greatest("c_acctbal", F.lit(0.0)).alias("bal_floor"),
        F.least("c_acctbal", F.lit(1000.0)).alias("bal_cap"),
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("band"),
    )


@query(
    "date_arith",
    """
SELECT o_orderkey,
       CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_in,
       o_orderdate + INTERVAL 90 DAY AS due_date,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
FROM orders WHERE o_orderkey < 1000
""",
)
def date_arith(spark, sf_dir):
    """Date arithmetic family: day difference, interval addition, month end."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("int")
        .alias("days_in"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("timestamp").alias("month_end"),
    )


@query(
    "streaming_complete_counts",
    """
SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type
""",
)
def streaming_complete_counts(spark, sf_dir):
    """Complete-output-mode streaming aggregation: the sink holds the full
    current aggregate after every micro-batch (vs append's finalized-only
    rows) — after run-to-completion it equals the batch group-by."""
    sdf = _events_stream(spark, sf_dir)
    agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_to_memory(agg, mode="complete", sized_by=_events_path(sf_dir))


@query(
    "approx_distinct_users",
    """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(*) AS BIGINT) AS n_events,
       TRUE AS hll_ok
FROM events GROUP BY event_type
""",
)
def approx_distinct_users(spark, sf_dir):
    """HyperLogLog sketch aggregation: approximate distinct users per event
    type.  Sketches are the 100 TB answer to COUNT(DISTINCT): fixed-size,
    mergeable map-side state instead of a full shuffle of the distinct keys
    (exact variant: distinct_agg).

    Spark's HLL++ estimate is engine-specific, so raw values cannot be
    hash-checked against DuckDB's different HLL.  Instead the query
    SELF-VERIFIES (same pattern as approx_percentile_value): it computes
    the exact distinct count alongside the sketch in one aggregate and
    emits ``hll_ok`` = |approx − exact|/exact ≤ 5% (2.5× the rsd=0.02
    guarantee) — deterministic TRUE for a healthy sketch, hash-checked
    with the exact counts by the driver."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "exact_users",
            "n_events",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("hll_ok"),
        )
    )


@query(
    "approx_percentile_value",
    """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM events GROUP BY event_type
""",
)
def approx_percentile_value(spark, sf_dir):
    """KLL/GK-style quantile sketch aggregation: approximate p50/p90/p99 of
    the event value per event type (``percentile_approx``, accuracy 10000 →
    normalized rank error ≤ 1e-4).  Like HLL for COUNT(DISTINCT), the
    quantile sketch is the 100 TB answer to exact percentiles: fixed-size
    mergeable map-side state instead of shuffling every value to one reducer
    per group (exact variant: percentile_agg).

    The sketch output itself is approximate, so instead of hashing raw
    approximate values the query SELF-VERIFIES in rank space: each approx
    value's tie-interval rank range [count(<v)+1, count(<=v)] must overlap
    the allowed window q·n ± eps·n (eps = 10× the sketch's documented 1e-4
    bound — deterministic TRUE for a correct sketch, FALSE on regression).
    Scalar boolean columns make the row hash-checkable by the driver
    (r2 VERDICT fix: the raw array<double> output broke the canonicalizer).
    ``test_approx_percentile_rank_error`` independently bounds the error."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    pcts = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
    agg = e.groupBy("event_type").agg(
        F.percentile_approx("value", [q for _, q in pcts], 10000).alias("ap"),
        F.count(F.lit(1)).alias("n_events"),
    )
    agg = agg.select(
        "event_type",
        "n_events",
        *[F.element_at("ap", i + 1).alias(f"a_{name}") for i, (name, _) in enumerate(pcts)],
    )
    # One extra scan joins the tiny per-group sketch back (broadcast: ~5 rows)
    # to rank each approximate value against the exact distribution.
    j = e.join(F.broadcast(agg), "event_type")
    rank_aggs = []
    for name, _q in pcts:
        rank_aggs.append(
            F.count(F.when(F.col("value") < F.col(f"a_{name}"), 1)).alias(f"lt_{name}")
        )
        rank_aggs.append(
            F.count(F.when(F.col("value") <= F.col(f"a_{name}"), 1)).alias(f"le_{name}")
        )
    ranked = j.groupBy("event_type", "n_events").agg(*rank_aggs)
    eps = 0.001  # 10x the accuracy-10000 guarantee; still catches real breakage
    ok_cols = [
        (
            (F.col(f"lt_{name}") + 1 <= F.ceil((q + eps) * F.col("n_events")))
            & (F.col(f"le_{name}") >= F.floor((q - eps) * F.col("n_events")))
        ).alias(f"{name}_ok")
        for name, q in pcts
    ]
    return ranked.select("event_type", "n_events", *ok_cols)


@query(
    "grouping_sets_sales",
    """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       CAST(grouping(l_returnflag) AS INT) AS g_rf,
       CAST(grouping(l_linestatus) AS INT) AS g_ls
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def grouping_sets_sales(spark, sf_dir):
    """Explicit GROUPING SETS with grouping() markers, run through the
    spark.sql entry path (same SQL text as the oracle) — the engine accepts
    raw ANSI SQL wherever the fluent API is not wanted."""
    from tamar_spark.sources import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "time_rollup",
    """
SELECT date_trunc('day', ts) AS day_bucket,
       CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
            THEN date_trunc('hour', ts) END AS hour_bucket,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS (
  (date_trunc('day', ts), event_type),
  (date_trunc('day', ts), date_trunc('hour', ts), event_type)
)
""",
)
def time_rollup(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: hour- and day-granularity
    continuous aggregates in ONE scan + one shuffle via grouping sets —
    the TimescaleDB continuous-aggregate pattern on Spark.  At 100 TB this
    replaces N separate rollup jobs with one; coarser levels are partial
    re-aggregations Catalyst shares work for."""
    from tamar_spark.sources import register_views

    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT date_trunc('day', ts) AS day_bucket,
               CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                    THEN date_trunc('hour', ts) END AS hour_bucket,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY GROUPING SETS (
          (date_trunc('day', ts), event_type),
          (date_trunc('day', ts), date_trunc('hour', ts), event_type)
        )
        """
    )


@query(
    "range_frame_total",
    """
SELECT event_id, user_id, ts,
       CAST(round(sum(CAST(value AS DECIMAL(28,6)))
                  OVER (PARTITION BY user_id ORDER BY ts
                        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
                  2) AS DOUBLE) AS rolling_1h
FROM events
""",
)
def range_frame_total(spark, sf_dir):
    """RANGE-frame window: per-user rolling 1-hour sum by event time — the
    time-based frame (vs running_total's ROWS frame).  Frame evaluation is
    deterministic in accumulation order, decimal-accumulated anyway."""
    from tamar_spark.queries import _DEC

    e = load_table(spark, sf_dir, "events")
    # ts may be TIMESTAMP_NTZ (driver parquet is naive timestamp[us]); NTZ
    # has no direct numeric cast, but NTZ→LTZ is identity under the UTC
    # session timezone.  Order by unix_micros, NOT cast-to-long: the long
    # cast truncates to whole SECONDS, which silently widens the frame —
    # an event 3600.5 s back truncates to a 3600 s gap and joins the
    # window (caught by the r6 sf0.1 sweep; the oracle's INTERVAL frame
    # compares full-precision timestamps).
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp_ltz")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(F.col("value").cast(_DEC)).over(w), 2)
        .cast("double")
        .alias("rolling_1h"),
    )


@query(
    "streaming_session_process",
    """
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, window_start, window_end, n_events, span_sec, min_value, max_value
FROM (
  SELECT user_id,
         min(ts) AS window_start,
         max(ts) + INTERVAL 30 MINUTE AS window_end,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT) AS span_sec,
         min(value) AS min_value,
         max(value) AS max_value
  FROM sessions GROUP BY user_id, session_id
) WHERE window_end < (SELECT max(ts) FROM events) - INTERVAL 10 MINUTE
""",
)
def streaming_session_process(spark, sf_dir):
    """The reference's windowed ``process_state`` as a live stream
    (``WindowedDataStream::process_state``, src/lib.rs:771-834): each fired
    session's events go to Python with per-key state
    (``streaming.sessions.session_process_streaming``).  A session closes
    once the watermark is strictly past last + gap, so the oracle's
    final-watermark filter is strict too; sessions still open at end of
    stream never emit (no-flush, src/lib.rs:1316-1345)."""
    import pandas as pd

    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.sessions import session_process_streaming

    schema = (
        "user_id long, window_start timestamp, window_end timestamp, "
        "n_events long, span_sec long, min_value double, max_value double"
    )

    def per_session(key, pdf: pd.DataFrame, state) -> pd.DataFrame:
        first, last = pdf["ts"].min(), pdf["ts"].max()
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "window_start": [first],
                "window_end": [last + pd.Timedelta(minutes=30)],
                "n_events": [len(pdf)],
                "span_sec": [int((last - first) // pd.Timedelta(seconds=1))],
                "min_value": [pdf["value"].min()],
                "max_value": [pdf["value"].max()],
            }
        )

    # not sized: the per-session pandas fire is CPU-bound, so it keeps the
    # configured state width (see the sources partitioning policy)
    sdf = _events_stream(spark, sf_dir).select(
        "user_id", "ts", "value", "event_id"
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    out = session_process_streaming(keyed, 30 * 60, per_session, schema)
    return _run_to_memory(out.to_df())


@query(
    "token_counts",
    """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(list_aggregate(
              list_transform(string_split_regex(trim(text), '\\s+'),
                             w -> CAST(ceil(len(w) / 4.0) AS BIGINT)),
              'sum') AS BIGINT) AS bpe_tokens
FROM documents
""",
)
def token_counts(spark, sf_dir):
    """Token counting both ways (brief §text-analysis): whitespace tokens
    and the BPE-flavored subword estimate (ceil(len/4) pieces per word) —
    all higher-order array expressions, no UDF."""
    from tamar_spark.functions import text as T

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


@query(
    "q2_min_cost_supplier",
    """
WITH costs AS (
  SELECT l.l_partkey, l.l_suppkey,
         min(l.l_extendedprice / l.l_quantity) AS unit_cost
  FROM lineitem l GROUP BY l.l_partkey, l.l_suppkey
), best AS (
  SELECT l_partkey, min(unit_cost) AS best_cost FROM costs GROUP BY l_partkey
)
SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
       floor(c.unit_cost * 10000.0 + 0.5) / 10000.0 AS unit_cost
FROM costs c
JOIN best b ON b.l_partkey = c.l_partkey AND c.unit_cost = b.best_cost
JOIN part p ON p.p_partkey = c.l_partkey AND p.p_size <= 10
JOIN supplier s ON s.s_suppkey = c.l_suppkey
""",
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H-Q2-shaped (no partsupp in the fixture — unit costs derived from
    lineitem): cheapest supplier(s) per small part.  The correlated-min
    pattern: per-group aggregate joined back on (group, min) — one shuffle
    for the cost table, broadcast for the 1-row-per-part minimum."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    costs = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = costs.groupBy("l_partkey").agg(F.min("unit_cost").alias("best_cost"))
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_name")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        costs.join(
            best,
            (costs.l_partkey == best.l_partkey)
            & (costs.unit_cost == best.best_cost),
        )
        .drop(best.l_partkey)
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            # round_ieee, not round: double division hits exact .5-boundary
            # cells at sf0.1 (89.11625) where the engines' round() disagree
            round_ieee("unit_cost", 4).alias("unit_cost"),
        )
    )


@query(
    "q16_supplier_counts",
    """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
)
def q16_supplier_counts(spark, sf_dir):
    """TPC-H-Q16-shaped: distinct supplier counts per part group, excluding
    flagged suppliers via NOT IN (→ left-anti join; the subquery column is
    non-null here so null-aware semantics degenerate safely)."""
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO"))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    flagged = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(flagged), l.l_suppkey == flagged.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q21_waiting_orders",
    """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name
""",
)
def q21_waiting_orders(spark, sf_dir):
    """TPC-H-Q21-shaped: suppliers who were the ONLY late shipper on a
    finished multi-supplier order ("late" adapted to >60 days after order
    date).  The EXISTS/NOT EXISTS pair becomes a semi + anti join against
    the same per-order lineitem projection — Catalyst reuses the exchange."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late_cutoff = F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")

    l1 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > late_cutoff)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    others = l.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    has_other = l1.join(
        others,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_semi",
    )
    late_others = l1.select(
        F.col("l_orderkey").alias("y_orderkey"),
        F.col("l_suppkey").alias("y_suppkey"),
    )
    only_late = has_other.join(
        late_others,
        (F.col("l_orderkey") == F.col("y_orderkey"))
        & (F.col("l_suppkey") != F.col("y_suppkey")),
        "left_anti",
    )
    return (
        only_late.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "streaming_static_join",
    """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(e.user_id) AS BIGINT) AS max_user
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment
""",
)
def streaming_static_join(spark, sf_dir):
    """Stream-static join: an unbounded event stream enriched with a static
    dimension (broadcast — no stream-side state at all, unlike
    stream-stream joins) then aggregated in complete mode.  The canonical
    'enrich events with a dim table' pattern at any scale."""
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    sdf = _events_stream(spark, sf_dir).select("user_id")
    joined = sdf.join(F.broadcast(dim), sdf.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("user_id").alias("max_user"),
    )
    return _run_to_memory(agg, mode="complete")


@query(
    "streaming_asof_dim",
    """
WITH v AS (
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to
  FROM orders
)
SELECT e.event_id, e.user_id,
       CAST(v.o_orderkey AS BIGINT) AS version_order,
       floor(v.o_totalprice * 100 + 0.5) / 100 AS version_price
FROM events e JOIN v ON v.o_custkey = e.user_id
 AND e.ts >= v.o_orderdate AND (v.valid_to IS NULL OR e.ts < v.valid_to)
""",
)
def streaming_asof_dim(spark, sf_dir):
    """Streaming point-in-time (as-of) dimension enrichment — the
    feature-store join: each live event picks up the dimension VERSION
    that was valid at its event time, never a later one (no training-
    serving leakage).  The slowly-changing dimension is built batch-side
    by interval-versioning the orders table (``lead`` over
    (customer, order date) → ``[valid_from, valid_to)`` windows, an SCD
    type-2 snapshot); the stream then needs only a STATELESS broadcast
    join — key equality plus the interval predicate — because all
    temporal logic lives in the precomputed validity columns.  Contrast
    with a stream-stream as-of, which would need watermarked state; this
    is the shape to prefer whenever the dimension changes slowly enough
    to snapshot.

    Scale: the versioned dim is one batch shuffle on the dim (not the
    stream); the stream side is map-only (broadcast, zero state, append
    mode — no watermark required for stream-static inner joins).  A pair
    of same-day orders yields an empty ``[d, d)`` interval that can never
    match — identical semantics in both engines.  Price rounds via
    round_ieee (floor(x·100+0.5)/100) so the hash is engine-stable on
    .5-boundary cells."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
        .withColumn("valid_to", F.lead("o_orderdate").over(w))
    )
    sdf = _events_stream(spark, sf_dir).select("event_id", "user_id", "ts")
    joined = sdf.join(
        F.broadcast(dim),
        (sdf["user_id"] == dim["o_custkey"])
        & (sdf["ts"] >= dim["o_orderdate"])
        & (dim["valid_to"].isNull() | (sdf["ts"] < dim["valid_to"])),
    )
    out = joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").cast("bigint").alias("version_order"),
        round_ieee(F.col("o_totalprice"), 2).alias("version_price"),
    )
    return _run_to_memory(out)


@query(
    "doc_chunks",
    """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), idx AS (
  SELECT doc_id, w,
         unnest(range(1, greatest(len(w), 1) + 1, 96)) AS start_tok
  FROM t
)
SELECT doc_id,
       CAST(start_tok AS BIGINT) AS start_tok,
       array_to_string(w[start_tok : least(start_tok + 127, len(w))], ' ') AS chunk,
       CAST(least(start_tok + 127, len(w)) - start_tok + 1 AS BIGINT) AS n_tokens
FROM idx
""",
)
def doc_chunks(spark, sf_dir):
    """Document chunking for training pipelines: 128-token windows with
    32-token overlap (stride 96), as pure array expressions — tokenize once,
    `sequence` the chunk starts, `slice` per chunk, explode.  One narrow
    stage: no shuffle, no UDF; at 100 TB chunking is scan-speed."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    d = d.select("doc_id", w.alias("w"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(96))
    d = d.select("doc_id", "w", F.explode(starts).alias("start_tok"))
    chunk_len = F.least(F.col("start_tok") + 127, F.size("w")) - F.col("start_tok") + 1
    return d.select(
        "doc_id",
        F.col("start_tok").cast("long").alias("start_tok"),
        F.array_join(F.slice("w", F.col("start_tok"), chunk_len), " ").alias("chunk"),
        chunk_len.cast("long").alias("n_tokens"),
    )


@query(
    "scrub_text",
    """
SELECT doc_id,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\d{3,}', '<NUM>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '\\d{3,}')) AS BIGINT) AS n_redacted_nums
FROM documents
""",
)
def scrub_text(spark, sf_dir):
    """PII-style scrubbing pass: redact email-shaped strings and long digit
    runs, count redactions — regex expressions only (the shape of a
    compliance pass over a 100 TB corpus: scan-bound, embarrassingly
    parallel)."""
    d = load_table(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    nums = r"\d{3,}"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), nums, "<NUM>"
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(nums), F.lit(0)))
        .cast("long")
        .alias("n_redacted_nums"),
    )


@query(
    "stateful_event_numbering",
    """
SELECT event_id, user_id, ts,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS BIGINT) AS seq,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS purchases_so_far
FROM events
""",
)
def stateful_event_numbering(spark, sf_dir):
    """The reference's keyed ``process_state`` (src/lib.rs:323-361) as a
    driver-checked query: an arbitrary per-key stateful walk (sequence
    number + running purchase count per user, in event-time order) via
    ``applyInPandas`` — the oracle is the equivalent declarative window
    form, independently validating the stateful path's ordering and
    init-on-first-use state semantics."""
    import pandas as pd

    from tamar_spark.sources import load_table
    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.stateful import process_state

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    keyed = DataStream(ev, event_time="ts").key_by("user_id")

    schema = "event_id long, user_id long, ts timestamp, seq long, purchases_so_far long"

    def walk(key, pdf: pd.DataFrame, state) -> pd.DataFrame:
        # vectorized reference walk (r2 VERDICT perf fix: the row-at-a-time
        # iterrows loop dominated group cost at scale) — two cumsums on the
        # sorted frame compute the same thing; the carried state offsets
        # keep the walk resumable across invocations
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        n = len(pdf)
        seq = state["seq"] + pd.Series(range(1, n + 1), dtype="int64")
        purchases = (
            state["purchases"]
            + (pdf["event_type"] == "purchase").cumsum().astype("int64")
        )
        state["seq"] += n
        if n:
            state["purchases"] = int(purchases.iloc[-1])
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "ts": pdf["ts"],
                "seq": seq,
                "purchases_so_far": purchases,
            }
        )

    out = process_state(
        keyed, walk, schema, init_state=lambda k: {"seq": 0, "purchases": 0}
    )
    return out.to_df()


@query(
    "udtf_sentences",
    """
WITH t AS (
  SELECT doc_id, string_split(text, '.') AS l FROM documents
), i AS (
  SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM t
)
SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx, trim(l[i]) AS sentence
FROM i
""",
)
def udtf_sentences(spark, sf_dir):
    """Python UDTF (user-defined TABLE function — the reference's 0..n
    ``process`` operator, src/lib.rs:164-174, in its most general Spark
    form): sentence-split each document via a lateral join.  For this
    splittable case the expression path (split+explode, see doc_chunks) is
    the fast lane; the UDTF is the arbitrary-Python generator escape
    hatch."""
    from pyspark.sql.functions import udtf

    from tamar_spark.sources import register_views

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string")
    class SentenceSplit:
        def eval(self, doc_id, text):
            for i, frag in enumerate(text.split(".")):
                yield doc_id, i, frag.strip()

    register_views(spark, sf_dir, ["documents"])
    spark.udtf.register("sentence_split", SentenceSplit)
    return spark.sql(
        "SELECT s.* FROM documents d, LATERAL sentence_split(d.doc_id, d.text) s"
    )


@query(
    "funnel_conversion",
    """
WITH views AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
), purchases AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
), converted AS (
  SELECT DISTINCT p.user_id, date_trunc('day', p.ts) AS day
  FROM purchases p
  WHERE EXISTS (SELECT 1 FROM views v
                WHERE v.user_id = p.user_id
                  AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 1 HOUR)
)
SELECT day, CAST(count(*) AS BIGINT) AS converted_users
FROM converted GROUP BY day
""",
)
def funnel_conversion(spark, sf_dir):
    """Funnel analysis: users whose purchase was preceded by a view within
    1 h, counted per day — the event-sequence pattern (view→purchase) as a
    time-bounded semi join.  One shuffle on user_id; both funnel stages
    prune to their event type at the scan."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    converted = (
        purchases.join(
            views,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") <= F.col("ts"))
            & (F.col("v_ts") > F.col("ts") - F.expr("INTERVAL 1 HOUR")),
            "left_semi",
        )
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    return converted.groupBy("day").agg(F.count(F.lit(1)).alias("converted_users"))


@query(
    "weekly_retention",
    """
WITH weekly AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
)
SELECT a.week,
       CAST(count(*) AS BIGINT) AS active_users,
       CAST(count(*) FILTER (WHERE b.user_id IS NOT NULL) AS BIGINT) AS retained_next_week
FROM weekly a
LEFT JOIN weekly b ON b.user_id = a.user_id AND b.week = a.week + INTERVAL 7 DAY
GROUP BY a.week
""",
)
def weekly_retention(spark, sf_dir):
    """Cohort retention: per week, active users and how many return the
    following week — the distinct-activity self-join pattern.  The weekly
    activity set is computed once and reused on both join sides (Catalyst
    exchange reuse); at 100 TB pre-aggregate to (user, week) grain first —
    done here — so the join carries distinct rows, not raw events."""
    e = load_table(spark, sf_dir, "events")
    weekly = e.select("user_id", F.date_trunc("week", "ts").alias("week")).distinct()
    nxt = weekly.select(
        F.col("user_id").alias("n_user"),
        (F.col("week") - F.expr("INTERVAL 7 DAYS")).alias("n_week"),
    )
    return (
        weekly.join(
            nxt,
            (F.col("user_id") == F.col("n_user")) & (F.col("week") == F.col("n_week")),
            "left",
        )
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count("n_user").alias("retained_next_week"),
        )
    )


@query(
    "user_ltv_cohort",
    """
WITH wk AS (
  SELECT user_id, date_trunc('week', ts) AS week, event_type, value
  FROM events
), first_wk AS (
  SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1
), cells AS (
  SELECT f.cohort_week,
         CAST((epoch_us(w.week) - epoch_us(f.cohort_week))
              // 604800000000 AS BIGINT) AS week_offset,
         count(DISTINCT w.user_id) AS active_users,
         sum(CAST(CASE WHEN w.event_type = 'purchase' THEN w.value
                       ELSE 0 END AS DECIMAL(28,6))) AS rev_dec
  FROM wk w JOIN first_wk f ON f.user_id = w.user_id
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset,
       CAST(active_users AS BIGINT) AS active_users,
       CAST(round(rev_dec, 2) AS DOUBLE) AS revenue,
       CAST(round(sum(rev_dec) OVER (PARTITION BY cohort_week
                                     ORDER BY week_offset
                                     ROWS UNBOUNDED PRECEDING), 2)
            AS DOUBLE) AS cum_revenue
FROM cells ORDER BY cohort_week, week_offset
""",
)
def user_ltv_cohort(spark, sf_dir):
    """Cohort lifetime-value triangle: users grouped by their FIRST active
    week, then for each week offset since joining, how many of the
    cohort were active and how much purchase revenue they produced —
    plus the running (cumulative) LTV per cohort.  The standard
    growth-analytics report next to weekly_retention's counts.

    The cumulative sum runs over the DECIMAL revenue, not the rounded
    double — decimal window sums are exact and order-independent in both
    engines (a double running sum would expose DuckDB's segment-tree
    association order), and both columns round once at the edge.  Plan:
    one (user) agg for cohort assignment (tiny — one row per user —
    broadcast back), one (cohort, offset) rollup, then a per-cohort
    window over ≤|weeks| rows.  At 100 TB the cohort map is the only
    join and it's user-grain, so it broadcasts or buckets cleanly."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.date_trunc("week", "ts").alias("week"),
        "event_type",
        "value",
    )
    first_wk = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cells = (
        wk.join(F.broadcast(first_wk), "user_id")
        .groupBy(
            "cohort_week",
            floor_div(
                epoch_us("week") - epoch_us("cohort_week"), 604_800_000_000
            ).alias("week_offset"),
        )
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(F.lit(0))
                .cast(_DEC)
            ).alias("rev_dec"),
        )
    )
    cum = Window.partitionBy("cohort_week").orderBy("week_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return cells.select(
        "cohort_week",
        "week_offset",
        "active_users",
        F.round("rev_dec", 2).cast("double").alias("revenue"),
        F.round(F.sum("rev_dec").over(cum), 2).cast("double").alias("cum_revenue"),
    ).orderBy("cohort_week", "week_offset")


def _bloom_word_expr(w: int) -> "F.Column":
    """One 63-bit word of a 252-bit / 3-hash Bloom filter over
    CAST(user_id AS STRING), built only from md5 hex slices so DuckDB can
    compute bit-identical words (neither engine's native hash exists in the
    other; 63 bits per word keeps shifts off the sign bit in both)."""
    terms = []
    for k in range(3):
        start = 1 + 8 * k
        pos = f"(CAST(conv(substring(md5(u), {start}, 8), 16, 10) AS BIGINT) % 252)"
        terms.append(
            f"(CASE WHEN {pos} div 63 = {w} "
            f"THEN shiftleft(CAST(1 AS BIGINT), CAST({pos} % 63 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr(f"bit_or({' | '.join(terms)})").alias(f"w{w}")


def _bloom_word_sql(w: int) -> str:
    parts = []
    for k in range(3):
        s = 1 + 8 * k
        parts.append(
            f"(CASE WHEN (CAST(('0x' || substr(md5(u), {s}, 8)) AS UBIGINT) % 252) // 63 = {w} "
            f"THEN (1::BIGINT << CAST((CAST(('0x' || substr(md5(u), {s}, 8)) AS UBIGINT) % 252) % 63 AS INT)) "
            f"ELSE 0 END)"
        )
    return f"CAST(bit_or({' | '.join(parts)}) AS BIGINT) AS w{w}"


@query(
    "bloom_sketch",
    f"""
WITH t AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u FROM events)
SELECT event_type,
       {', '.join(_bloom_word_sql(w) for w in range(4))}
FROM t GROUP BY event_type
""",
)
def bloom_sketch(spark, sf_dir):
    """Custom sketch built from scratch: a 252-bit / 3-hash Bloom filter of
    each event type's user set, as a pure ``bit_or`` aggregate (mergeable,
    fixed-size — the sketch property that matters at 100 TB: membership
    state is 32 bytes/group regardless of cardinality).  Hash family is
    md5-hex-slice based so the DuckDB oracle reproduces the words exactly."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("u")
    )
    return e.groupBy("event_type").agg(*[_bloom_word_expr(w) for w in range(4)])


@query(
    "asof_join_next_order",
    """
SELECT event_id, user_id, ts, o_orderkey, o_totalprice FROM (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate ASC, o.o_orderkey DESC) AS rn
  FROM events e
  LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
) WHERE rn = 1
""",
)
def asof_join_next_order(spark, sf_dir):
    """Forward as-of join: each event matched to the customer's NEXT order
    at-or-after event time; the greatest orderkey wins a date tie."""
    from tamar_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    out = asof_join(
        e,
        o,
        left_on="ts",
        right_on="o_orderdate",
        left_by="user_id",
        right_by="o_custkey",
        right_cols=["o_orderdate", "o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
        direction="forward",
    )
    return out.select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@query(
    "attribution_last_touch",
    """
WITH conv AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, ts, event_type, event_id FROM events
  WHERE event_type <> 'purchase'
), m AS (
  SELECT c.event_id AS conv_id, c.value, t.event_type,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS rn
  FROM conv c
  LEFT JOIN touch t ON t.user_id = c.user_id AND t.ts <= c.ts
)
SELECT COALESCE(event_type, '(none)') AS channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(round(sum(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE)
         AS attributed_revenue
FROM m WHERE rn = 1 GROUP BY 1 ORDER BY 1
""",
)
def attribution_last_touch(spark, sf_dir):
    """Last-touch conversion attribution: each ``purchase`` event is
    credited to the type of the same user's latest non-purchase event
    at-or-before it (one backward as-of join, the greatest event_id wins
    a ts tie), rolled up per channel.  Conversions with no prior touch
    land in an explicit '(none)' bucket; revenue is summed in decimal."""
    from tamar_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_type", "event_id"
    )
    touched = asof_join(
        conv,
        touch,
        left_on="conv_ts",
        right_on="ts",
        left_by="user_id",
        right_by="user_id",
        right_cols=["event_type", "event_id"],
        tiebreak="event_id",
        direction="backward",
    )
    return (
        touched.groupBy(
            F.coalesce("event_type", F.lit("(none)")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            dsum_r("value").alias("attributed_revenue"),
        )
        .orderBy("channel")
    )


@query(
    "attribution_time_decay",
    """
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts AS conv_ts, value
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, ts, event_type FROM events WHERE event_type <> 'purchase'
), pairs AS (
  SELECT c.conv_id, c.value, t.event_type,
         (epoch_us(c.conv_ts) - epoch_us(t.ts)) // 21600000000 AS k
  FROM conv c
  JOIN touch t ON t.user_id = c.user_id
   AND epoch_us(t.ts) <= epoch_us(c.conv_ts)
   AND epoch_us(t.ts) > epoch_us(c.conv_ts) - 259200000000
)
SELECT event_type AS channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(round(sum(CAST(value / CAST(1 << k AS DOUBLE) AS DECIMAL(28,6))),
                  2) AS DOUBLE) AS decayed_revenue
FROM pairs GROUP BY 1 ORDER BY 1
""",
)
def attribution_time_decay(spark, sf_dir):
    """Time-decay multi-touch attribution with a bounded lookback window:
    every non-purchase touch in the 3 days before a purchase earns credit
    ``value · 2^-k`` where ``k = floor(Δt / 6h)`` — the standard
    exponential-half-life model, halving every 6 hours.

    Cross-engine exactness: Δt is an integer µs difference, k an integer
    floor-division of non-negatives, and the weight ``1 / 2^k`` a
    power-of-two division — so ``value · weight`` is an EXACT mantissa
    shift, bit-identical in Spark and DuckDB, and the channel sum stages
    through decimal per the house rule (same risk profile as every
    ``dsum_r("value")`` query).  No transcendental ``pow`` anywhere.

    Scale: the conversion×touch range join is banded — the conversion
    side explodes its ≤4 covering day-buckets and the join is EQUI on
    (user, day_bucket), so candidate fan-out is bounded by touches per
    user-day × 4 regardless of history length; the residual µs predicate
    runs post-join.  At 100 TB this is one shuffle on a composite
    bounded key, never the unbounded per-user cross product of the naive
    ``ON user AND range`` plan.  Companion single-touch model:
    attribution_last_touch."""
    ev = load_table(spark, sf_dir, "events")
    DAY_US = 86_400_000_000
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_user"),
        epoch_us("ts").alias("conv_us"),
        "value",
    )
    # lookback 3 days spans at most 4 day-buckets -> bounded explode
    conv_b = conv.withColumn(
        "bucket",
        F.explode(
            F.array(
                *[
                    floor_div(F.col("conv_us"), DAY_US) - F.lit(i)
                    for i in range(4)
                ]
            )
        ),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id"),
        epoch_us("ts").alias("t_us"),
        "event_type",
        floor_div(epoch_us("ts"), DAY_US).alias("bucket"),
    )
    pairs = conv_b.join(
        touch,
        (F.col("c_user") == F.col("user_id"))
        & (conv_b["bucket"] == touch["bucket"])
        & (F.col("t_us") <= F.col("conv_us"))
        & (F.col("t_us") > F.col("conv_us") - F.lit(3 * DAY_US)),
    )
    pairs = pairs.withColumn(
        "k", floor_div(F.col("conv_us") - F.col("t_us"), 21_600_000_000)
    )
    # 1 << k via the SQL builtin (the Python wrapper only takes literal
    # bit counts); power-of-two division keeps value's mantissa exact
    credit = F.col("value") / F.expr(
        "cast(shiftleft(1L, cast(k as int)) as double)"
    )
    return (
        pairs.select(F.col("event_type").alias("channel"), "conv_id", credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("conv_id").alias("n_conversions"),
            dsum_r("credit").alias("decayed_revenue"),
        )
        .orderBy("channel")
    )


@query(
    "session_paths",
    """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(brk) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM seq
), paths AS (
  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, session_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 10
""",
)
def session_paths(spark, sf_dir):
    """Top session paths: sessionize each user's stream (30-minute gap,
    the flagship session_agg convention), render each session as its
    ordered event-type path ('view>click>purchase'), and report the 10
    most common paths — the classic path-analysis / sankey summary that
    complements event_transition_matrix's one-step view with whole
    journeys.

    One user-key shuffle carries BOTH the gap-break lag and the
    session-id cumsum (same window partitioning), then the path is
    assembled per session with sort_array over (ts, event_id, type)
    structs — deterministic ordering without trusting collect_list
    order, array-bounded by session length.  The path rollup is
    map-side-combinable and the top-10 compiles to
    TakeOrderedAndProject (never a global sort); ties break on the path
    string so the cut is total-ordered in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    brk = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (epoch_us("ts") - epoch_us(F.lag("ts").over(w)) > gap_us),
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    sess = ev.withColumn("brk", brk).withColumn(
        "session_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">", F.transform("evs", lambda s: s["event_type"])
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


@query(
    "conversion_lag_stats",
    """
WITH conv AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, ts, event_type, event_id FROM events
  WHERE event_type <> 'purchase'
), m AS (
  SELECT c.event_id AS conv_id, c.ts AS conv_ts, t.ts AS touch_ts,
         t.event_type,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS rn
  FROM conv c
  JOIN touch t ON t.user_id = c.user_id AND t.ts <= c.ts
)
SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_conversions,
       round(quantile_cont((epoch_us(conv_ts) - epoch_us(touch_ts))
                           / 1000000.0, 0.5), 4) AS p50_lag_sec,
       round(quantile_cont((epoch_us(conv_ts) - epoch_us(touch_ts))
                           / 1000000.0, 0.9), 4) AS p90_lag_sec
FROM m WHERE rn = 1 GROUP BY 1 ORDER BY 1
""",
)
def conversion_lag_stats(spark, sf_dir):
    """Conversion latency per attributed channel: for every purchase
    with a prior touch (the attribution_last_touch match), exact
    interpolated p50/p90 of the seconds from that touch to the purchase.
    Unattributed conversions are dropped.  The lag is an exact µs
    integer through one double division, so both engines interpolate
    identical inputs."""
    from tamar_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_type", "event_id"
    )
    matched = asof_join(
        conv,
        touch,
        left_on="conv_ts",
        right_on="ts",
        left_by="user_id",
        right_by="user_id",
        right_cols=["event_type", "event_id", "ts"],
        tiebreak="event_id",
        direction="backward",
    ).filter(F.col("event_type").isNotNull())
    lag = (epoch_us("conv_ts") - epoch_us("ts")) / F.lit(1e6)
    return (
        matched.select(F.col("event_type").alias("channel"), lag.alias("lag_sec"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.expr("percentile(lag_sec, 0.5)"), 4).alias("p50_lag_sec"),
            F.round(F.expr("percentile(lag_sec, 0.9)"), 4).alias("p90_lag_sec"),
        )
        .orderBy("channel")
    )


@query(
    "event_transition_matrix",
    """
WITH t AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
), p AS (
  SELECT from_type, to_type, count(*) AS n
  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
       CAST(floor(CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
                  * 10000 + 0.5) / 10000 AS DOUBLE) AS p_transition
FROM p ORDER BY from_type, to_type
""",
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix of the event stream: for each
    ordered pair of event types, how often does a user's next event move
    from→to, and with what conditional probability — the standard
    path-analysis / sankey input.

    One user-key shuffle for the ``lead`` window (ordered by ts with
    event_id as the deterministic tiebreak), then a 25-row pair rollup
    with map-side combine; the per-from normalization window runs over
    ≤|event types| rows, so everything after the first shuffle is
    driver-trivial at any scale.  The probability is an exact integer
    ratio pushed through round_ieee (floor(x·10⁴+0.5)/10⁴) so Spark and
    DuckDB round the same double the same way."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    pairs = t.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        round_ieee(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(tot).cast("double"),
            4,
        ).alias("p_transition"),
    ).orderBy("from_type", "to_type")


@query(
    "train_test_split",
    """
WITH tagged AS (
  SELECT event_type,
         CASE WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 90
              THEN 'train' ELSE 'test' END AS split
  FROM events
)
SELECT event_type, split, CAST(count(*) AS BIGINT) AS n
FROM tagged GROUP BY event_type, split
""",
)
def train_test_split(spark, sf_dir):
    """Reproducible train/test splitting (90/10) by content hash — the
    training-pipeline requirement `sample()` can't meet: membership is a
    pure function of the row id, so the split is identical across runs,
    partitionings, and engines (md5-slice hash, DuckDB-reproducible).  At
    100 TB this is a stateless map — no shuffle to split, one to count."""
    e = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )
    return (
        e.select(
            "event_type",
            F.when(bucket < 90, "train").otherwise("test").alias("split"),
        )
        .groupBy("event_type", "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "stratified_cap",
    """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 50
""",
)
def stratified_cap(spark, sf_dir):
    """Stratified downsampling: cap each language at 50 documents, selected
    by hash order (deterministic, unbiased by ingestion order).  One
    shuffle on the stratum key; per-stratum top-k never sorts globally."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


_DEDUP_CLUSTERS_SQL = _SHINGLE_CTE + """, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT doc_id_1, doc_id_2
  FROM inter JOIN sizes sa ON sa.doc_id = inter.doc_id_1
             JOIN sizes sb ON sb.doc_id = inter.doc_id_2
  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
), sym AS (
  SELECT doc_id_1 AS a, doc_id_2 AS b FROM edges
  UNION SELECT doc_id_2, doc_id_1 FROM edges
), closure AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
  ) SELECT * FROM r
)
SELECT a AS node, least(a, min(b)) AS component
FROM closure GROUP BY a
"""


def _dedup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: exact-Jaccard near-dup pairs (>= 0.5)
    closed into connected components (`operators.graph`, large-star/
    small-star) — every clustered document mapped to its component's
    minimum id (the canonical copy to keep).  The oracle is a
    recursive-CTE transitive closure, an independent formulation of the
    same clusters."""
    from tamar_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.5, max_doc_freq=32)
    return connected_components(pairs)


# `dedup_clusters_star` is the same builder and oracle, registered under its
# own name because the driver contract and the correctness ledger carry it.
dedup_clusters = query("dedup_clusters", _DEDUP_CLUSTERS_SQL)(_dedup_clusters)
dedup_clusters_star = query("dedup_clusters_star", _DEDUP_CLUSTERS_SQL)(_dedup_clusters)


@query(
    "streaming_stream_outer_join",
    """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts FROM events
  WHERE event_type = 'view'
), wm AS (
  SELECT least(
           (SELECT date_trunc('milliseconds', max(ts)) FROM clicks),
           (SELECT date_trunc('milliseconds', max(view_ts)) FROM views)
         ) - INTERVAL 10 MINUTE AS w
)
SELECT c.event_id AS click_id, v.view_id, c.user_id, c.ts AS click_ts
FROM clicks c JOIN views v
  ON c.user_id = v.user_id
 AND v.view_ts BETWEEN c.ts - INTERVAL 2 HOUR AND c.ts
UNION ALL
SELECT c.event_id AS click_id, NULL AS view_id, c.user_id, c.ts AS click_ts
FROM clicks c
WHERE NOT EXISTS (
        SELECT 1 FROM views v
        WHERE v.user_id = c.user_id
          AND v.view_ts BETWEEN c.ts - INTERVAL 2 HOUR AND c.ts)
  AND c.ts + INTERVAL 1 MILLISECOND < (SELECT w FROM wm)
""",
)
def streaming_stream_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: matches emit immediately; an
    unmatched click emits its NULL row once join-state eviction proves no
    view can still arrive.

    WHICH unmatched clicks have been flushed at end-of-stream depends on
    the engine's internal state-watermark batching, so the raw sink output
    is not hash-stable.  Deterministic variant (r2 VERDICT fix): keep every
    matched row, but keep a NULL row only when the click is provably
    evicted by the final watermark.  The watermark subtlety (measured via
    StreamingQueryProgress): Catalyst pushes the ``event_type`` filter
    BELOW the EventTimeWatermark operator, so each side's watermark tracks
    its own filtered substream — the final global watermark is
    ``least(max(click ts), max(view ts))`` truncated to Spark's
    millisecond watermark resolution, minus the 10-minute delay, NOT
    ``max(all events) − delay``.  Left state evicts (and NULL-emits) rows
    with ``click_ts < watermark``; the 1 ms guard below keeps the kept set
    strictly inside the eviction bound, so it is flushed under either
    boundary convention and under any Spark version that does NOT push the
    filter down (a larger watermark flushes strictly more).  The oracle
    expresses the same set as inner join ∪ closed anti-join; the broader
    invariants (matched set == batch inner join; every emitted NULL row
    genuinely unmatched) stay pinned by
    ``test_stream_outer_join_invariants``."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("view_ts") <= F.col("ts")),
        "left_outer",
    ).select(
        F.col("event_id").alias("click_id"),
        "view_id",
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    out = _run_to_memory(joined, sized_by=_events_path(sf_dir))
    # reconstruct the final watermark from the batch table: min over the two
    # filtered sides of (ms-truncated max event time) − delay; 1-row
    # aggregate, broadcast by the cross join
    # epoch_us handles TIMESTAMP_NTZ inputs; cast the reconstructed
    # watermark back to click_ts's own type so the comparison below never
    # mixes NTZ with LTZ.
    ts_type = dict(out.dtypes)["click_ts"]
    ms_floor = lambda c: F.timestamp_millis((epoch_us(c) / 1000).cast("long")).cast(
        ts_type
    )
    final_wm = load_table(spark, sf_dir, "events").agg(
        (
            F.least(
                ms_floor(F.max(F.when(F.col("event_type") == "click", F.col("ts")))),
                ms_floor(F.max(F.when(F.col("event_type") == "view", F.col("ts")))),
            )
            - F.expr("INTERVAL 10 MINUTES")
        ).alias("_wm")
    )
    return (
        out.join(F.broadcast(final_wm))
        .filter(
            F.col("view_id").isNotNull()
            | (F.col("click_ts") + F.expr("INTERVAL 1 MILLISECOND") < F.col("_wm"))
        )
        .select("click_id", "view_id", "user_id", "click_ts")
    )


@query(
    "q11_important_parts",
    """
WITH pr AS (
  SELECT l_partkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS pv_dec
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, CAST(round(pv_dec, 2) AS DOUBLE) AS part_value
FROM pr WHERE pv_dec * (SELECT count(*) FROM pr) > (SELECT sum(pv_dec) FROM pr)
""",
)
def q11_important_parts(spark, sf_dir):
    """TPC-H-Q11 adapted (testdata has no partsupp — reference data model
    keeps the same shape with lineitem revenue as the value measure): parts
    with an above-average revenue share.  Same plan skeleton as Q11: one
    grouped aggregate, a 1-row scalar-subquery aggregate over the SAME
    aggregate (Spark reuses the exchange), broadcast back as a HAVING
    filter.  The share comparison is exact decimal×integer on both sides
    (pv*n_parts > total), so no float-boundary flakes at any scale."""
    l = load_table(spark, sf_dir, "lineitem")
    pr = l.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
        ).alias("pv_dec")
    )
    total = pr.agg(F.sum("pv_dec").alias("_tot"), F.count(F.lit(1)).alias("_n"))
    return (
        pr.join(F.broadcast(total), F.col("pv_dec") * F.col("_n") > F.col("_tot"))
        .select(
            "l_partkey", F.round("pv_dec", 2).cast("double").alias("part_value")
        )
    )


@query(
    "q12_priority_shipping",
    """
SELECT l_returnflag,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
""",
)
def q12_priority_shipping(spark, sf_dir):
    """TPC-H-Q12 adapted (testdata has no l_shipmode/commitdate — returnflag
    stands in as the mode dimension): per flag, how many 1996-shipped lines
    belong to critical- vs non-critical-priority orders.  Q12's plan shape:
    fact-to-fact equi join (orders joined only on the filtered lineitem
    year), conditional CASE counting in one hash aggregate."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    ).select("l_orderkey", "l_returnflag")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(crit, 1)).alias("high_line_count"),
            F.count(F.when(~crit, 1)).alias("low_line_count"),
        )
    )


@query(
    "q13_order_distribution",
    """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON o_custkey = c_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
""",
)
def q13_order_distribution(spark, sf_dir):
    """TPC-H-Q13 adapted (no o_comment in testdata — the anti-pattern filter
    is on order priority instead): distribution of orders-per-customer
    INCLUDING zero-order customers.  Q13's signature plan: LEFT OUTER join
    with the filter on the JOIN CONDITION (not a WHERE, which would turn it
    inner), then a double aggregation — per-customer count, then a count
    distribution over those counts."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q20_excess_shipments",
    """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 100
)
""",
)
def q20_excess_shipments(spark, sf_dir):
    """TPC-H-Q20 adapted (no partsupp — shipped quantity stands in for
    stock): suppliers who shipped > 100 units of 'small%' parts in 1996.
    Q20's nested-IN shape: inner IN becomes a broadcast LEFT SEMI join of
    lineitem against the filtered part keys; the HAVING aggregate feeds an
    outer LEFT SEMI join against supplier.  Both semi joins keep only keys —
    no payload duplication at scale."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    heavy = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 100)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")

@query(
    "streaming_global_state",
    """
SELECT event_id,
       CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) AS global_seq,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS purchases_so_far,
       max(value) OVER (ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
         AS max_value_so_far
FROM events
""",
)
def streaming_global_state(spark, sf_dir):
    """The reference's GLOBAL state (un-keyed ``process_state`` ``GST``,
    src/lib.rs:176-199) through the streaming keyed-singleton API
    (`streaming.stateful.global_process_state_streaming`): one pickled state
    blob shared by the entire stream, persisted across micro-batches, walked
    in (ts, event_id) order — global sequence number, running purchase
    count, running max.  The fixture is a single file, so AvailableNow
    yields one deterministic micro-batch; the oracle is the equivalent
    un-partitioned window form.  The scale hazard (all rows through one
    task) is the documented semantic, not an accident."""
    import pandas as pd

    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.stateful import global_process_state_streaming

    schema = (
        "event_id long, global_seq long, purchases_so_far long,"
        " max_value_so_far double"
    )

    def walk(pdf: pd.DataFrame, state) -> pd.DataFrame:
        # vectorized walk (same r2-style fix as stateful_event_numbering
        # above): arange/cumsum/cummax on the sorted frame, offset by the
        # carried state, replace the per-row loop while keeping the walk
        # resumable across micro-batches
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        n = len(pdf)
        seq = state["seq"] + pd.Series(range(1, n + 1), dtype="int64")
        purchases = (
            state["purchases"]
            + (pdf["event_type"] == "purchase").cumsum().astype("int64")
        )
        # running max: NaN rows inherit the previous max (ffill), leading
        # rows inherit the carried state; clip folds the prior max in
        maxes = pdf["value"].cummax().ffill()
        if state["max"] is not None:
            maxes = maxes.clip(lower=state["max"]).fillna(state["max"])
        state["seq"] += n
        if n:
            state["purchases"] = int(purchases.iloc[-1])
            last_max = maxes.iloc[-1]
            if pd.notna(last_max):
                state["max"] = float(last_max)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "global_seq": seq,
                "purchases_so_far": purchases,
                "max_value_so_far": maxes,
            }
        )

    sdf = _events_stream(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    out = global_process_state_streaming(
        DataStream(sdf, event_time="ts"),
        walk,
        schema,
        init_state=lambda: {"seq": 0, "purchases": 0, "max": None},
    )
    return _run_to_memory(out.df, sized_by=_events_path(sf_dir))


@query(
    "streaming_stream_full_outer_join",
    """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), views AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts FROM events
  WHERE event_type = 'view'
), wm AS (
  SELECT least(
           (SELECT date_trunc('milliseconds', max(ts)) FROM clicks),
           (SELECT date_trunc('milliseconds', max(view_ts)) FROM views)
         ) - INTERVAL 10 MINUTE AS w
)
SELECT c.event_id AS click_id, v.view_id, c.user_id,
       c.ts AS click_ts, v.view_ts
FROM clicks c JOIN views v
  ON c.user_id = v.user_id
 AND v.view_ts BETWEEN c.ts - INTERVAL 2 HOUR AND c.ts
UNION ALL
SELECT c.event_id, NULL, c.user_id, c.ts, NULL
FROM clicks c
WHERE NOT EXISTS (
        SELECT 1 FROM views v
        WHERE v.user_id = c.user_id
          AND v.view_ts BETWEEN c.ts - INTERVAL 2 HOUR AND c.ts)
  AND c.ts + INTERVAL 1 MILLISECOND < (SELECT w FROM wm)
UNION ALL
SELECT NULL, v.view_id, v.user_id, NULL, v.view_ts
FROM views v
WHERE NOT EXISTS (
        SELECT 1 FROM clicks c
        WHERE c.user_id = v.user_id
          AND v.view_ts BETWEEN c.ts - INTERVAL 2 HOUR AND c.ts)
  AND v.view_ts + INTERVAL 2 HOUR + INTERVAL 1 MILLISECOND < (SELECT w FROM wm)
""",
)
def streaming_stream_full_outer_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join — both join-state stores
    NULL-emit on eviction.  Same deterministic closure as
    ``streaming_stream_outer_join`` (whose docstring derives the final
    watermark reconstruction), applied on BOTH sides: a NULL-view row is
    kept when the click is provably evicted (``click_ts < wm``, since any
    later view with ``view_ts ≤ click_ts`` would be below the watermark),
    and a NULL-click row when the view is provably evicted — a stored
    view matches future clicks iff ``ts ≤ view_ts + 2h``, so eviction is
    proven once ``view_ts + 2h < wm``.  Each guard carries the 1 ms
    margin that keeps the kept set strictly inside the eviction bound
    under either boundary convention.  The oracle is inner join ∪
    closed left anti ∪ closed right anti."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("view_ts") <= F.col("ts")),
        "full_outer",
    ).select(
        F.col("event_id").alias("click_id"),
        "view_id",
        F.coalesce(F.col("user_id"), F.col("v_user_id")).alias("user_id"),
        F.col("ts").alias("click_ts"),
        "view_ts",
    )
    out = _run_to_memory(joined, sized_by=_events_path(sf_dir))
    ts_type = dict(out.dtypes)["click_ts"]
    ms_floor = lambda c: F.timestamp_millis(
        (epoch_us(c) / 1000).cast("long")
    ).cast(ts_type)
    final_wm = load_table(spark, sf_dir, "events").agg(
        (
            F.least(
                ms_floor(
                    F.max(F.when(F.col("event_type") == "click", F.col("ts")))
                ),
                ms_floor(
                    F.max(F.when(F.col("event_type") == "view", F.col("ts")))
                ),
            )
            - F.expr("INTERVAL 10 MINUTES")
        ).alias("_wm")
    )
    matched = F.col("click_id").isNotNull() & F.col("view_id").isNotNull()
    click_closed = F.col("view_id").isNull() & (
        F.col("click_ts") + F.expr("INTERVAL 1 MILLISECOND") < F.col("_wm")
    )
    view_closed = F.col("click_id").isNull() & (
        F.col("view_ts") + F.expr("INTERVAL 2 HOURS 1 MILLISECOND")
        < F.col("_wm")
    )
    return (
        out.join(F.broadcast(final_wm))
        .filter(matched | click_closed | view_closed)
        .select("click_id", "view_id", "user_id", "click_ts", "view_ts")
    )


@query(
    "streaming_ewma_anomaly",
    """
WITH RECURSIVE seq AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), walk AS (
  SELECT event_id, user_id, rn, CAST(NULL AS DOUBLE) AS prior_ewma,
         CAST(NULL AS DOUBLE) AS deviation, FALSE AS is_anomaly,
         value AS ewma
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.event_id, s.user_id, s.rn, w.ewma,
         abs(s.value - w.ewma), abs(s.value - w.ewma) > 100.0,
         0.5 * s.value + 0.5 * w.ewma
  FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn + 1
)
SELECT event_id, user_id,
       floor(prior_ewma * 1e6 + 0.5) / 1e6 AS prior_ewma,
       floor(deviation * 1e6 + 0.5) / 1e6 AS deviation,
       is_anomaly
FROM walk
""",
)
def streaming_ewma_anomaly(spark, sf_dir):
    """Live per-key anomaly detection: a stateful streaming EWMA baseline
    (α=1/2) per user, each event scored against the PRIOR state —
    ``|value − ewma| > 100`` flags the spike before the spike pollutes
    the baseline (the standard online monitor: score THEN update).

    The recursion is a genuine loop-carried dependency, so the kernel
    walks each key's batch sequentially (a numpy scalar loop — this is
    the documented exception to the vectorize-the-walk rule; state is one
    float per key and keys parallelize across state partitions).  α=1/2
    makes every update ``0.5·x + 0.5·e`` — two exact IEEE scalings and
    one add, so the full unbounded recursion is bit-deterministic and the
    oracle can replay it EXACTLY with a recursive CTE (depth = events per
    key, ≤88 on every fixture; contrast ewma_user_value's depth-8
    windowed approximation, which exists because a BATCH window can't
    carry state).  Emitted doubles round via the floor-form on both
    sides."""
    import math

    import pandas as pd

    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.stateful import process_state_streaming

    sdf = _events_stream(spark, sf_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    schema = (
        "event_id long, user_id long, prior_ewma double,"
        " deviation double, is_anomaly boolean"
    )

    def r6(x):
        return None if x is None else math.floor(x * 1e6 + 0.5) / 1e6

    def walk(key, pdf: pd.DataFrame, state) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        e = state["ewma"]
        priors, devs, flags = [], [], []
        for x in pdf["value"].to_numpy():
            x = float(x)
            if e is None:
                priors.append(None)
                devs.append(None)
                flags.append(False)
                e = x
            else:
                d = abs(x - e)
                priors.append(r6(e))
                devs.append(r6(d))
                flags.append(d > 100.0)
                e = 0.5 * x + 0.5 * e
        state["ewma"] = e
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "prior_ewma": pd.Series(priors, dtype="float64"),
                "deviation": pd.Series(devs, dtype="float64"),
                "is_anomaly": flags,
            }
        )

    out = process_state_streaming(
        keyed, walk, schema, init_state=lambda k: {"ewma": None}
    )
    return _run_to_memory(out.df, sized_by=_events_path(sf_dir))


@query(
    "streaming_attribution",
    """
WITH conv AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, ts, event_type, event_id FROM events
  WHERE event_type <> 'purchase'
), m AS (
  SELECT c.event_id AS conv_id, c.user_id, c.value, t.event_type,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS rn
  FROM conv c
  LEFT JOIN touch t ON t.user_id = c.user_id
   AND (t.ts < c.ts OR (t.ts = c.ts AND t.event_id < c.event_id))
)
SELECT conv_id, user_id, COALESCE(event_type, '(none)') AS channel, value
FROM m WHERE rn = 1
""",
)
def streaming_attribution(spark, sf_dir):
    """LIVE last-touch attribution: as the event stream flows, each
    ``purchase`` is attributed to the same user's most recent prior
    non-purchase event — emitted per conversion the moment it happens,
    not in a nightly batch.  State is ONE tuple per user (the latest
    touch's type), updated as touches pass and read (never written) by
    purchases, so memory is O(users) regardless of history length — the
    streaming twin of attribution_last_touch's as-of join.

    "Prior" is stream order: (ts, event_id) strictly less than the
    conversion's, which the oracle mirrors with a lexicographic
    predicate — at-or-before-with-tiebreak would be unobservable live
    (the later-id same-ts touch hasn't been seen when the purchase is
    processed).  Consecutive purchases both credit the same touch
    (purchases are conversions, not touches).  Keys parallelize across
    state partitions; within a key the walk is the per-batch sorted scan
    shared with streaming_ewma_anomaly."""
    import pandas as pd

    from tamar_spark.stream import DataStream
    from tamar_spark.streaming.stateful import process_state_streaming

    sdf = _events_stream(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    keyed = DataStream(sdf, event_time="ts").key_by("user_id")
    schema = "conv_id long, user_id long, channel string, value double"

    def walk(key, pdf: pd.DataFrame, state) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        ch = state["channel"]
        conv_ids, channels, values = [], [], []
        for et, eid, val in zip(
            pdf["event_type"], pdf["event_id"], pdf["value"]
        ):
            if et == "purchase":
                conv_ids.append(int(eid))
                channels.append(ch if ch is not None else "(none)")
                values.append(float(val))
            else:
                ch = et
        state["channel"] = ch
        return pd.DataFrame(
            {
                "conv_id": pd.Series(conv_ids, dtype="int64"),
                "user_id": pd.Series(
                    [int(key[0])] * len(conv_ids), dtype="int64"
                ),
                "channel": pd.Series(channels, dtype="object"),
                "value": pd.Series(values, dtype="float64"),
            }
        )

    out = process_state_streaming(
        keyed, walk, schema, init_state=lambda k: {"channel": None}
    )
    return _run_to_memory(out.df, sized_by=_events_path(sf_dir))


_BLOOM_HASHES = 3


def sized_bloom_bits(n_keys: int) -> int:
    """Filter width for a runtime Bloom: ≥16 bits/key rounded up to a
    power of two (floor 4096).  At 16 bits/key with 3 hashes the false-
    positive rate is (1 - e^(-3/16))^3 ≈ 0.5% — survivors of the probe
    are essentially the true matches, so the post-filter shuffle carries
    ~selectivity·fact rows.  An UNDER-sized filter saturates silently
    (every bit set → FP→1 → prunes nothing while still paying the probe);
    the r7 scaling probe measured exactly that failure with the fixed
    252-bit fixture sketch, which is why width is derived from the key
    count here."""
    return 1 << max(12, (max(1, n_keys) * 16 - 1).bit_length())


def sized_bloom(keys, key_col: str, n_bits: int):
    """ONE-row DataFrame {bw: array<bigint>} — a dense n_bits-wide Bloom
    filter of ``keys[key_col]`` with 3 xxhash64 hash functions (seed
    column varies the hash; all JVM-native, no strings).  Built as a
    pure aggregate: explode each key's 3 bit positions, bit_or per
    64-bit word (map-side combinable — at most n_bits/64 rows reach the
    shuffle per map task), densify by left-joining the word range onto
    the set words (linear; a map_from_entries + transform(sequence)
    densify was measured 3× slower end-to-end at 8k words because
    element_at on a MAP is a per-element linear scan), and fold to one
    array<bigint> row of n_bits/8 bytes (element_at on the ARRAY is
    O(1) at probe time), broadcastable at any dim cardinality that fits
    a sketch."""
    spark = keys.sparkSession
    n_words = n_bits // 64
    positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(s)), F.lit(n_bits))
            for s in range(_BLOOM_HASHES)
        ]
    )
    words = (
        keys.select(F.explode(positions).alias("p"))
        .groupBy((F.col("p") / 64).cast("int").alias("widx"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
            ).alias("word")
        )
    )
    return (
        spark.range(n_words)
        .join(F.broadcast(words), F.col("id") == F.col("widx"), "left")
        .select(
            F.col("id").cast("int").alias("id"),
            F.coalesce("word", F.lit(0).cast("long")).alias("word"),
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("id", "word"))),
                lambda s: s.word,
            ).alias("bw")
        )
    )


def sized_bloom_probe_sql(pos_cols: list) -> str:
    """Membership test against the broadcast dense words (column ``bw``
    in scope) for precomputed position columns — pure element_at + bit
    arithmetic, whole-stage codegen."""
    return " AND ".join(
        f"((shiftright(element_at(bw, CAST({p} div 64 AS INT) + 1),"
        f" CAST({p} % 64 AS INT)) & 1) = 1)"
        for p in pos_cols
    )


def bloom_prune(fact, key_col: str, bloom, n_bits: int):
    """Attach the one-row bloom to ``fact`` and keep only rows whose key
    probes as a member.  Output columns = fact's (the bw/position
    scratch columns are dropped)."""
    out = fact.join(F.broadcast(bloom))
    pos_cols = []
    for s in range(_BLOOM_HASHES):
        c = f"_bp{s}"
        out = out.withColumn(
            c, F.pmod(F.xxhash64(F.col(key_col), F.lit(s)), F.lit(n_bits))
        )
        pos_cols.append(c)
    return out.filter(F.expr(sized_bloom_probe_sql(pos_cols))).drop("bw", *pos_cols)


@query(
    "bloom_join_prune",
    """
WITH sel AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
)
SELECT date_trunc('month', l_shipdate) AS month,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6)
                           AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN sel ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
""",
)
def bloom_join_prune(spark, sf_dir):
    """Runtime-filtered fact-fact join — the join-site Bloom pruning an
    engine applies when the selective side is too big to broadcast as a
    hash table but its KEY SET fits in a sketch: monthly shipped revenue
    of urgent finished orders.  The selective orders subset is folded
    into a dense xxhash64 Bloom sized to its cardinality (one tiny
    count() of the already-filtered dim side, the same stats an
    optimizer's runtime filter uses; 16 bits/key → FP ≈ 0.5%), broadcast
    to the lineitem scan as ONE array<bigint> row, and probed with pure
    bit arithmetic, so non-matching lineitems die at the scan BEFORE the
    join shuffle; the exact join then removes Bloom false positives,
    making the output provably equal to the plain join (the oracle runs
    the plain join — the filter is performance-only, so it needs no
    cross-engine hash identity and uses the native JVM hash).

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling ~selectivity·fact: the Bloom costs one aggregate
    over the dim keys + a broadcast of n_bits/8 bytes (8 KB at the
    fixture's ~2k keys; 20 MB at 10M keys), where a broadcast hash join
    of the same side would ship the full key set to every executor.
    (Spark's own InjectRuntimeFilter does this only under size
    thresholds and is not exposed to SQL; this query IS the pattern,
    explicit.)  The r7 scaling probe (BASELINE.md bloom_join rows)
    measures the on/off contrast under forced shuffle joins.

    Plan contract (test_bloom_join_prune_probe_is_prejoin): the bitwise
    probe filter sits between the lineitem scan and the join."""
    o = load_table(spark, sf_dir, "orders")
    sel = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey")
    n_bits = sized_bloom_bits(sel.count())
    bloom = sized_bloom(sel, "o_orderkey", n_bits)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    pruned = bloom_prune(li, "l_orderkey", bloom, n_bits)
    return (
        pruned.join(sel, pruned.l_orderkey == sel.o_orderkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_r(F.round(_revenue(), 6)).alias("revenue"),
        )
        .orderBy("month")
    )


@query(
    "weighted_sample",
    """
WITH w AS (
  SELECT doc_id, CAST(1 + least(7, n_chars // 500) AS INT) AS weight
  FROM documents
),
pri AS (
  SELECT doc_id, weight,
         max(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15))
                  AS BIGINT)) AS priority
  FROM w, LATERAL (SELECT unnest(generate_series(1, weight)) AS j) t
  GROUP BY doc_id, weight
),
ranked AS (
  SELECT doc_id, weight, priority,
         row_number() OVER (ORDER BY priority DESC, doc_id) AS rk
  FROM pri
)
SELECT doc_id, weight, priority, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 200 ORDER BY rk
""",
)
def weighted_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (top-200 docs, weight = doc
    length bucket 1..8) — the quality-weighted corpus subsampling step,
    as one distributed top-k.  Classic A-ES (Efraimidis–Spirakis) keys
    items by u^(1/w), which is not engine-portable (pow differs in the
    last ulp); for INTEGER weights this query uses the exact equivalent:
    the max of w iid uniforms has CDF u^w, so ranking by
    max_{j≤w} hash(id, j) draws the same distribution with pure md5
    arithmetic — bit-identical in both engines, seedable, and
    replayable (add a seed to the hash input to re-draw).

    Plan: weights are a projection; the priority is a ≤8-way generated
    explode folded by max() with map-side combine (the shuffle carries
    one row per doc, not per replica — and at 100 TB the explode can be
    replaced by a closed-form 8-hash greatest() projection, zero
    blow-up); the global top-200 compiles to TakeOrderedAndProject, so
    no full sort ever happens.  Expected sample composition follows
    weights (longer docs ~8× the inclusion rate of shortest)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (1 + F.least(F.lit(7), (F.col("n_chars") / 500).cast("long")))
        .cast("int")
        .alias("weight"),
    )
    pri = (
        docs.select(
            "doc_id",
            "weight",
            F.explode(F.sequence(F.lit(1), F.col("weight"))).alias("j"),
        )
        .select(
            "doc_id",
            "weight",
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
                "CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .groupBy("doc_id", "weight")
        .agg(F.max("h").alias("priority"))
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("doc_id"))
    return (
        pri.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 200)
        .orderBy("rk")
    )
