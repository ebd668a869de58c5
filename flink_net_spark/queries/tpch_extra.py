"""Extended TPC-H-shaped relational coverage — SURVEY.md §2.6/§2.12/§2.13.

The reference's SQL surface is SELECT-only with a single FROM table
(BasicSqlParser, FlinkDotNet/FlinkDotNet.Table.Api/TableEnvironment.cs:211-259)
and its join operator is an interface without a runtime
(IJoinFunction.cs:18-28; Table.cs:35 concatenates schemas only).  This module
is the engine-native superset: the classic TPC-H decision-support shapes —
correlated/scalar subqueries, EXISTS/NOT EXISTS, disjunctive pushdown,
multi-way dim joins, two-level aggregation — adapted to the testdata's
reduced schemas (no partsupp / commitdate / receiptdate / shipmode columns).

Scale discipline (100 TB):
  - broadcast hints ONLY on the fixed-cardinality dims (region: 5, nation:
    25); customer/supplier/part are SF-scaled and go through AQE-planned
    shuffle joins (round-1 verdict item 7).
  - correlated "per-group threshold" subqueries (q17) become window
    aggregates over the fact's own join key — one shuffle, no re-scan.
  - EXISTS/NOT EXISTS become left-semi / left-anti joins (no row explosion).
  - every aggregate output is a rounded SUM/COUNT (tie-free across engines);
    quotients are emitted as (numerator, denominator) pairs instead of
    shares so cross-engine fp summation order can't flip the value hash.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_net_spark.queries import query
from flink_net_spark.tables import load_table


def _ts(lit: str):
    return F.lit(lit).cast("timestamp")


def _revenue_e4():
    """Revenue as an exact scaled integer: price and discount are 2-decimal
    quantities, so round(price*100) and round((1-disc)*100) are exact
    BIGINTs and their product sums without fp error — a rounded SUM of
    double products can land exactly on a .005 boundary and hash-mismatch
    across engines on summation order (the q9 lesson; same discipline as
    emitting timestamps as epoch-ms BIGINTs).  Unit: 1e-4 currency."""
    return F.round(F.col("l_extendedprice") * 100, 0).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100, 0
    ).cast("long")


# DuckDB equivalent of _revenue_e4 (SUM over these is HUGEINT → callers CAST)
_DUCK_REVENUE_E4 = (
    "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
    " * CAST(ROUND((1 - l_discount) * 100, 0) AS BIGINT)"
)


# --------------------------------------------------------------------------
# Q4: order-priority checking — EXISTS correlated subquery → left-semi join.
# Adapted: "a lineitem shipped after the order date + 30 days" stands in for
# the missing commitdate/receiptdate lateness predicate.
# --------------------------------------------------------------------------
@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join with a non-equi residual (late shipment).

    ≙ the join contract IJoinFunction.cs:18 + SQL surface the reference's
    parser cannot express (TableEnvironment.cs:235 NotSupportedException).
    Scale: semi join never duplicates orders rows; both sides shuffle on
    l_orderkey; the date filter prunes orders at the scan."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q7: volume shipping between two nations — 6-way join, pair filter.
# --------------------------------------------------------------------------
@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS BIGINT) AS revenue_e4
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(year FROM l_shipdate) AS l_year,
               {_DUCK_REVENUE_E4} AS volume
        FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-nation trade volume by year: fact joins shuffle on their keys,
    the 25-row nation dim is broadcast twice under different aliases.
    EXTRACT(year) keeps the group key small (3 cols, ≤2×2×years groups)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(_ts("1995-01-01"), _ts("1996-12-31"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.sum(_revenue_e4()).alias("revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8: national market share — CASE-sum numerator/denominator pair.
# --------------------------------------------------------------------------
@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) AS BIGINT)
               AS nation_volume_e4,
           CAST(SUM(volume) AS BIGINT) AS total_volume_e4
    FROM (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               {_DUCK_REVENUE_E4} AS volume,
               n1.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        JOIN region r ON n2.n_regionkey = r.r_regionkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
          AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share emitted as (nation_volume, total_volume) sums — the
    share quotient is the caller's one division; sums are cross-engine
    hash-stable where a double ratio is not.  7-way join: dims broadcast,
    SF-scaled tables AQE-planned."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(_ts("1995-01-01"), _ts("1996-12-31"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = _revenue_e4()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == n2.n_nationkey)
        .join(F.broadcast(r), n2.n_regionkey == r.r_regionkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0))
            ).alias("nation_volume_e4"),
            F.sum(vol).alias("total_volume_e4"),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9: product-type profit by nation/year (no supplycost column → revenue).
# --------------------------------------------------------------------------
@query(
    "q9_profit_by_nation",
    oracle=f"""
    SELECT n_name AS nation, o_year, CAST(SUM(amount) AS BIGINT) AS sum_profit_e4
    FROM (
        SELECT n.n_name, EXTRACT(year FROM o.o_orderdate) AS o_year,
               {_DUCK_REVENUE_E4} AS amount
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%widget%'
    )
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-filtered part join + supplier-nation rollup by year.
    p_name LIKE '%widget%' cannot push to parquet (leading wildcard) but
    prunes before the join; the join order keeps the filtered part side
    first so AQE sizes it for a runtime broadcast if small enough.

    Plan stability (round-4 verdict #2 — 2.3× wall-time spread): diagnosed
    via 6 back-to-back executions capturing the AQE *final* plan each
    time: the physical strategy never flips — every run's
    final plan is 4× BroadcastHashJoin (part/supplier/orders/nation all
    under the 10 MB threshold at bench SF) — while wall time decays
    monotonically 5.9→1.5→1.2→1.1→0.9→0.7 s.  The spread is JVM JIT/codegen
    warm-up, not AQE re-planning: the bench's old ``.count()`` warm-up
    compiled a *different* codegen path than the timed ``.collect()``.
    bench.py now warms with the exact collect plan, and
    tests/test_plans.py::test_q9_final_plan_all_broadcast_and_stable pins
    the executed-plan join strategy across consecutive runs."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(_revenue_e4()).alias("sum_profit_e4"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# Q10: returned-item reporting — top 20 customers by lost revenue.
# --------------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, CAST(SUM({_DUCK_REVENUE_E4}) AS BIGINT) AS revenue_e4,
           ROUND(c_acctbal, 2) AS acctbal, n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue_e4 DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side filters (returnflag, date window) prune before the joins;
    TakeOrderedAndProject caps the sort at 20 rows (no global sort).
    c_custkey tie-break makes the LIMIT deterministic across engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_revenue_e4()).alias("revenue_e4"))
        .select(
            "c_custkey",
            "c_name",
            "revenue_e4",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue_e4").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q13: customer order-count distribution — outer join + two-level agg.
# --------------------------------------------------------------------------
@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join with an ON-clause (not WHERE) residual predicate —
    customers with zero qualifying orders survive with c_count = 0 —
    then a second aggregation over the first's output.  Two shuffles
    total; the second input is one row per customer, already small."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q14: promotion effect — conditional sum pair, one month.
# --------------------------------------------------------------------------
@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                          THEN {_DUCK_REVENUE_E4} ELSE 0 END) AS BIGINT)
               AS promo_revenue_e4,
           CAST(SUM({_DUCK_REVENUE_E4}) AS BIGINT) AS total_revenue_e4
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo share as a (promo, total) sum pair — see q8 note on quotients.
    The one-month shipdate window prunes row groups at the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = _revenue_e4()
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).alias(
            "promo_revenue_e4"
        ),
        F.sum(rev).alias("total_revenue_e4"),
    )


# --------------------------------------------------------------------------
# Q16-shaped: supplier diversity per part attribute (partsupp → lineitem).
# --------------------------------------------------------------------------
@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 9, 13, 17, 21)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) over a join: Spark expands to a two-phase distinct
    aggregate (partial dedup before the shuffle).  IN-list and <> push to
    the part scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 5, 9, 13, 17, 21))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q17: small-quantity-order revenue — correlated per-part AVG threshold.
# --------------------------------------------------------------------------
@query(
    "q17_small_qty_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice), 2) AS total_small_qty_price
    FROM (
        SELECT l_extendedprice,
               l_quantity,
               AVG(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#3'
    )
    WHERE l_quantity < 0.5 * avg_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic correlated subquery (per-part avg quantity) expressed as
    a window aggregate over the join key — one shuffle on l_partkey serves
    both the threshold computation and the filter, where a naive
    self-join-on-aggregate would scan lineitem twice."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    w = Window.partitionBy("l_partkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("total_small_qty_price"))
    )


# --------------------------------------------------------------------------
# Q18: large-volume customers — group-having subquery join.
# --------------------------------------------------------------------------
@query(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(epoch_ms(o_orderdate) AS BIGINT) AS orderdate_ms,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 120
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (grouped HAVING subquery) → aggregate once, left-semi join the
    keeper keys back.  The heavy groupBy(l_orderkey) happens on the fact
    table once; the semi join moves only orderkeys."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 120)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19: disjunctive predicate pushdown — three OR'd brand/size/qty bands.
# --------------------------------------------------------------------------
@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({_DUCK_REVENUE_E4}) AS BIGINT) AS revenue_e4
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 5 AND 20
           AND l.l_quantity BETWEEN 10 AND 25)
       OR (p.p_brand = 'Brand#6' AND p.p_size BETWEEN 10 AND 40
           AND l.l_quantity BETWEEN 20 AND 35)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs across both join sides: Catalyst derives the single-table
    implications (brand IN (...), quantity BETWEEN 1 AND 35) and pushes
    them below the join — the classic Q19 optimizer test."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 15)
    ) | (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(5, 20)
        & F.col("l_quantity").between(10, 25)
    ) | (
        (F.col("p_brand") == "Brand#6")
        & F.col("p_size").between(10, 40)
        & F.col("l_quantity").between(20, 35)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.sum(_revenue_e4()).alias("revenue_e4"))
    )


# --------------------------------------------------------------------------
# Q20-shaped: suppliers with excess shipped volume — nested agg semi-join.
# --------------------------------------------------------------------------
@query(
    "q20_excess_suppliers",
    oracle="""
    SELECT s_name, s_suppkey
    FROM supplier s
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'large%'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 400
    )
    ORDER BY s_suppkey
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested aggregate feeding a semi join: compute per-supplier shipped
    volume of the LIKE-filtered parts, keep heavy shippers, semi-join
    supplier.  Only supplier keys cross the final shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("large%"))
    heavy = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 400)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_suppkey")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q21-shaped: sole late shipper per multi-supplier order.
# --------------------------------------------------------------------------
@query(
    "q21_sole_late_shippers",
    oracle="""
    WITH per AS (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_max
        FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    ord AS (
        SELECT l_orderkey, MAX(supp_max) AS ord_max, COUNT(*) AS n_supp
        FROM per GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM per
    JOIN ord ON per.l_orderkey = ord.l_orderkey
    JOIN supplier s ON per.l_suppkey = s.s_suppkey
    WHERE ord.n_supp > 1 AND per.supp_max = ord.ord_max
      AND 1 = (SELECT COUNT(*) FROM per p2
               WHERE p2.l_orderkey = per.l_orderkey AND p2.supp_max = ord.ord_max)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def q21_sole_late_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's 'supplier who alone kept the order waiting', adapted to the
    available columns: in each multi-supplier order, the unique supplier
    whose latest shipment IS the order's latest shipment.  Both the
    EXISTS and NOT-EXISTS of the classic formulation collapse into window
    aggregates over one groupBy(l_orderkey, l_suppkey) — two shuffles on
    the fact, zero self-joins."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey", "l_suppkey").agg(F.max("l_shipdate").alias("supp_max"))
    w = Window.partitionBy("l_orderkey")
    ranked = (
        per.withColumn("ord_max", F.max("supp_max").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_at_max",
            F.sum(F.when(F.col("supp_max") == F.col("ord_max"), 1).otherwise(0)).over(w),
        )
        .filter(
            (F.col("n_supp") > 1)
            & (F.col("supp_max") == F.col("ord_max"))
            & (F.col("n_at_max") == 1)
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        ranked.join(s, ranked.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


# --------------------------------------------------------------------------
# Q22: dormant high-balance customers — scalar subquery + NOT EXISTS.
# --------------------------------------------------------------------------
@query(
    "q22_dormant_customers",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (global avg threshold) + NOT EXISTS (left-anti join).
    The scalar aggregate stays IN the plan as a broadcast one-row frame
    (no driver collect); the anti join shuffles only custkeys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_thr"))
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("_thr"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Q2: min-cost supplier per part — correlated min subquery → window min.
# Adapted: no partsupp table in the testdata, so the supply relation is
# derived from lineitem: unit price = l_extendedprice / l_quantity, and a
# part's "supply cost" from a supplier is that supplier's cheapest unit
# price for the part.
# --------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_price
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT ROUND(s.s_acctbal, 2) AS acctbal, s.s_name, n.n_name,
           sp.l_partkey AS p_partkey, p.p_type,
           ROUND(sp.unit_price, 4) AS min_unit_price
    FROM (
        SELECT *, MIN(unit_price) OVER (PARTITION BY l_partkey) AS best
        FROM supply
    ) sp
    JOIN part p ON p.p_partkey = sp.l_partkey
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE sp.unit_price = sp.best
      AND p.p_size = 25 AND p.p_type = 'LARGE'
      AND r.r_name = 'REGION_1'
    ORDER BY acctbal DESC, n.n_name, s.s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic Q2 shape: the correlated ``MIN(supplycost)`` subquery becomes
    a window MIN over the part key — ONE shuffle on l_partkey computes both
    the per-(part,supp) cheapest unit price and the per-part best, where
    the textbook correlated form would re-scan the supply relation per part.

    Scale: the groupBy(l_partkey, l_suppkey) pre-aggregate shrinks lineitem
    before the window; region/nation are fixed-cardinality broadcasts; the
    SF-scaled supplier join is AQE-planned (no hint).  IEEE division is
    exactly rounded in both engines, so the min/equality filter picks
    identical rows; output prices rounded at 4dp only for display.

    ≙ reference SQL surface TableEnvironment.cs:80-95 (SELECT-only parser
    has no subqueries at all — engine-native superset)."""
    li = load_table(spark, sf_dir, "lineitem")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    w = Window.partitionBy("l_partkey")
    best = supply.withColumn("best", F.min("unit_price").over(w)).filter(
        F.col("unit_price") == F.col("best")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 25) & (F.col("p_type") == "LARGE")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "REGION_1")
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(s, best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.round("s_acctbal", 2).alias("acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_type",
            F.round("unit_price", 4).alias("min_unit_price"),
        )
        .orderBy(F.col("acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q11: important stock — grouped value vs a scalar-subquery threshold.
# Adapted: "stock value" of a part = exact-integer Σ price×qty over the
# lineitems supplied by suppliers of two nations (no partsupp availqty).
# --------------------------------------------------------------------------
@query(
    "q11_important_stock",
    oracle="""
    WITH natsupp AS (
        SELECT s_suppkey FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_7', 'NATION_19')
    ),
    val AS (
        SELECT l_partkey,
               SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * CAST(ROUND(l_quantity, 0) AS BIGINT)) AS value_e2
        FROM lineitem l
        WHERE l.l_suppkey IN (SELECT s_suppkey FROM natsupp)
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, CAST(value_e2 AS BIGINT) AS value_e2
    FROM val
    WHERE value_e2 > (SELECT SUM(value_e2) * 0.001 FROM val)
    ORDER BY value_e2 DESC, partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's HAVING-vs-global-fraction: aggregate once, then compare each
    group to a scalar aggregate OF THE SAME aggregate — the per-part value
    DataFrame is reused for both sides (Spark plans the reused subtree
    once under AQE), and the 1-row total joins back as a broadcast, not a
    driver collect.  value is an exact integer (price_e2 × integral qty)
    so the 0.001-fraction threshold compares identically across engines.

    Scale: semi join on suppkey moves only keys; groupBy(l_partkey) is the
    single fact shuffle; threshold side is one row."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_7", "NATION_19")
    )
    natsupp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    value = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * F.round(
        F.col("l_quantity"), 0
    ).cast("long")
    val = (
        li.join(natsupp, li.l_suppkey == natsupp.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("value_e2"))
    )
    thr = val.agg((F.sum("value_e2") * 0.001).alias("_thr"))
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("value_e2") > F.col("_thr"))
        .select(F.col("l_partkey").alias("partkey"), "value_e2")
        .orderBy(F.col("value_e2").desc(), "partkey")
    )


# --------------------------------------------------------------------------
# Q12: shipping delay vs order priority — CASE-sum pivot by delay bucket.
# Adapted: no l_shipmode / commitdate / receiptdate; the classic "late
# shipmode" classes become ship-delay buckets (30-60 days, 60+ days).
# --------------------------------------------------------------------------
@query(
    "q12_priority_shipping",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) >= 60
                THEN '60+' ELSE '30-59' END AS delay_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE date_diff('day', o.o_orderdate, l.l_shipdate) >= 30
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY delay_bucket
    ORDER BY delay_bucket
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12's conditional-count pivot: the priority split is a CASE-sum
    inside one aggregate (no second pass, no pivot shuffle).  The shipdate
    range predicate is a pure lineitem filter — Catalyst pushes it to the
    parquet scan before the join; the delay predicate is the join residual.

    ≙ IJoinFunction.cs:18 + the aggregate Merge contract
    IAggregateOperator.cs:18-51 (partial CASE-sums merge associatively)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(delay >= 30)
        .withColumn("delay_bucket", F.when(delay >= 60, "60+").otherwise("30-59"))
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


# --------------------------------------------------------------------------
# Q15: top supplier — aggregate view + scalar MAX subquery.
# --------------------------------------------------------------------------
@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * CAST(ROUND((1 - l_discount) * 100, 0) AS BIGINT)) AS total_revenue_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue_e4 AS BIGINT) AS total_revenue_e4
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_e4 = (SELECT MAX(total_revenue_e4) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15's CREATE VIEW + scalar MAX: the revenue aggregate is computed
    once; its 1-row MAX is broadcast back as a join — never a global
    single-partition window and never a driver-side collect.  Revenue is
    the exact-integer e4 unit so the MAX equality can't tie-break
    differently across engines.

    Scale: one shuffle on l_suppkey (pre-filtered by the pushed shipdate
    range); the supplier join is AQE-planned."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue_e4()).alias("total_revenue_e4")
    )
    mx = revenue.agg(F.max("total_revenue_e4").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_e4") == F.col("_mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_e4")
        .orderBy("s_suppkey")
    )
