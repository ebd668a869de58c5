"""Batch relational core — SURVEY.md §2.5/§2.6/§2.12/§2.13 surface.

The reference declares (but mostly never executes) a relational surface:
table GroupBy/aggregates (FlinkDotNet/FlinkDotNet.Table.Api/Table.cs:51-82),
joins (Table.cs:35, IJoinFunction.cs:18), and a SELECT-only SQL parser
(TableEnvironment.cs:211-259).  Here each capability is a real Spark
DataFrame query with a DuckDB oracle.

Scale notes: filters/projections are expressed declaratively so Catalyst
pushes them into the parquet scan; dimension joins use explicit
``broadcast()`` hints; every aggregation is a built-in (map-side partial agg
for free); sorts are only on already-aggregated (small) results, except
top-k which uses window-ranking (no global sort of the fact table).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_net_spark.queries import query
from flink_net_spark.tables import QueryScope, load_table, scoped


# --------------------------------------------------------------------------
# Aggregations (≙ Table.Count/Sum/Avg/Min/Max, Table.cs:51-82; Reduce /
# IAggregateOperator §2.5 — map-side partial agg is Spark's Merge())
# --------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                              AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                         AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                              AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                         AS avg_price,
           ROUND(AVG(l_discount), 6)                              AS avg_disc,
           COUNT(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary (filter → groupBy → 8 aggs →
    sort).  Exercises predicate pushdown + partial aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q6_revenue_delta",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate scan → single global agg.
    All four predicates push to the parquet reader; no shuffle beyond the
    final 1-row reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "agg_basic_stats",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*)                         AS n_orders,
           ROUND(SUM(o_totalprice), 2)      AS sum_price,
           ROUND(AVG(o_totalprice), 4)      AS avg_price,
           ROUND(MIN(o_totalprice), 2)      AS min_price,
           ROUND(MAX(o_totalprice), 2)      AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/SUM/AVG/MIN/MAX ≙ reference Aggregates factory
    (FlinkDotNet/FlinkDotNet.Table.Api/Table.cs:138-209)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id)       AS distinct_users,
           COUNT(*)                      AS n_events,
           ROUND(SUM(value), 2)          AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (absent in reference, SURVEY §2.5 — superset)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("distinct_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the 100 TB path for cardinality.

    The sketch value itself is engine-specific, so the ACCURACY CONTRACT is
    emitted as data instead (round-5 verdict #4): the Spark side computes
    both the sketch and the exact count and returns
    ``|approx − exact| ≤ 5% · exact`` as a boolean; the DuckDB oracle emits
    literal TRUE — the contract is now driver-hashable, not just a local
    pytest bound.  The exact twin here exists only to make the bound
    checkable in-query; the production sketch path carries no exact
    distinct (that is ``agg_distinct``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.col("exact_users") * 0.05
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT COALESCE(r_name, 'ALL')  AS region_name,
           COALESCE(n_name, 'ALL')  AS nation_name,
           COUNT(*)                 AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY region_name, nation_name
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (superset per SURVEY §2.5)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            F.col("n_customers"),
            F.col("sum_acctbal"),
        )
        .orderBy("region_name", "nation_name")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*)                         AS n_orders,
           ROUND(SUM(o_totalprice), 2)      AS sum_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (superset per SURVEY §2.5)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            F.col("n_orders"),
            F.col("sum_price"),
        )
        .orderBy("status", "priority")
    )


@query(
    "agg_string_collect",
    oracle="""
    SELECT c_mktsegment,
           STRING_AGG(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
           COUNT(*) AS n
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_string_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted string join (order-insensitive set aggregation)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias("priorities"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Joins (≙ IJoinFunction.cs:18 contract + Table.Join, both unexecuted in the
# reference — SURVEY §2.6; semi/anti/theta are superset)
# --------------------------------------------------------------------------

@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(epoch_ms(o_orderdate) AS BIGINT) AS orderdate_ms
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → agg → top-10.  Customer is SF-scaled, so
    no broadcast hint — AQE picks the join strategy (broadcast at small SF,
    shuffle-hash/SMJ at 100 TB where a customer broadcast would OOM).
    lineitem (the big side) never sorts globally — only the aggregated
    result does."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with two-key supplier condition.
    Only the fixed-cardinality dims (region: 5 rows, nation: 25 rows) carry
    broadcast hints; customer/supplier are SF-scaled (would OOM a broadcast
    at 100 TB) so AQE picks their join strategy."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey)                          AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY c_custkey
    LIMIT 100
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join keeping order-less customers (reference has no outer
    joins; IJoinFunction.cs:18 is inner-equi only — superset)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
        .orderBy("c_custkey")
        .limit(100)
    )


@query(
    "join_full_outer",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 100000),
         rich   AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
    SELECT COALESCE(b.k, r.k) AS custkey,
           (b.k IS NOT NULL)  AS is_big_buyer,
           (r.k IS NOT NULL)  AS is_rich
    FROM buyers b FULL OUTER JOIN rich r ON b.k = r.k
    ORDER BY custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two derived key sets."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    buyers = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("bk")).distinct()
    rich = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("rk"))
    return (
        buyers.join(rich, buyers.bk == rich.rk, "full_outer")
        .select(
            F.coalesce(F.col("bk"), F.col("rk")).alias("custkey"),
            F.col("bk").isNotNull().alias("is_big_buyer"),
            F.col("rk").isNotNull().alias("is_rich"),
        )
        .orderBy("custkey")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    ORDER BY c_custkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with a 200k+ order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("c_custkey")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_richer_nations
    FROM supplier s
    JOIN nation n ON n.n_nationkey <> s.s_nationkey AND n.n_regionkey = s.s_nationkey % 5
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY s.s_suppkey
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join — broadcast nested loop on a small side."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cond = (n.n_nationkey != s.s_nationkey) & (n.n_regionkey == s.s_nationkey % 5)
    return (
        s.join(F.broadcast(n), cond)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_richer_nations"))
        .orderBy("s_suppkey")
    )


@query(
    "join_self_window",
    oracle="""
    SELECT a.o_custkey AS custkey, COUNT(*) AS n_pairs
    FROM orders a
    JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND b.o_orderdate BETWEEN a.o_orderdate AND a.o_orderdate + INTERVAL 30 DAY
    GROUP BY a.o_custkey
    ORDER BY custkey
    """,
)
def join_self_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self range-join: pairs of orders by the same customer within 30 days —
    equi-key (custkey) carries the shuffle, the range is a residual filter, so
    this stays a hash join at scale (no nested loop over the fact table)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("b.o_orderdate") >= F.col("a.o_orderdate"))
            & (F.col("b.o_orderdate") <= F.date_add(F.col("a.o_orderdate"), 30)),
        )
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# Set operations (absent in reference — SURVEY §2.13 superset)
# --------------------------------------------------------------------------

@query(
    "set_union_all",
    oracle="""
    SELECT k, COUNT(*) AS n FROM (
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
    ) GROUP BY k ORDER BY k
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    u = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k")).unionAll(
        c.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("k"))
    )
    return u.groupBy("k").agg(F.count(F.lit(1)).alias("n")).orderBy("k")


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    ORDER BY k
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("k"))
        .intersect(c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(F.col("c_custkey").alias("k")))
        .orderBy("k")
    )


@query(
    "set_except",
    oracle="""
    SELECT c_custkey AS k FROM customer
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    ORDER BY k
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(F.col("c_custkey").alias("k"))
        .exceptAll(o.filter(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("k")))
        .distinct()
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Sort / limit / top-k / analytic window functions (SURVEY §2.13 superset)
# --------------------------------------------------------------------------

@query(
    "sort_limit",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → Spark TakeOrderedAndProject (top-k without a full
    sort — O(n) per partition + k-merge; survives any scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, ROUND(c_acctbal, 2) AS acctbal, rnk
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rnk
        FROM customer
    )
    WHERE rnk <= 3
    ORDER BY c_mktsegment, rnk
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window (the scalable top-k idiom)."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .withColumn("rnk", F.col("rnk").cast("long"))
        .select("c_mktsegment", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rnk")
        .orderBy("c_mktsegment", "rnk")
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_spend,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)     AS prev_orderkey
    FROM orders
    WHERE o_custkey <= 50
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions: running sum + lag per customer."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
                "running_spend"
            ),
            F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "window_ntile_lead_cume",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LEAD(o_orderkey) OVER w                  AS next_orderkey,
           NTILE(4)         OVER w                  AS spend_quartile,
           ROUND(CUME_DIST()    OVER w, 4)          AS cume,
           ROUND(PERCENT_RANK() OVER w, 4)          AS pct_rank
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_ntile_lead_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function surface: LEAD / NTILE / CUME_DIST / PERCENT_RANK
    per customer, ordered by spend with an orderkey tie-break so every rank
    is deterministic across engines and parallelism.  One shuffle on the
    partition key; the sort is within-partition."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
            F.ntile(4).over(w).cast("long").alias("spend_quartile"),
            F.round(F.cume_dist().over(w), 4).alias("cume"),
            F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Projections / per-record transforms (≙ Map/FlatMap/Filter, SURVEY §2.3) and
# the scalar function surface (§2.11: Spark builtins are our scalar library)
# --------------------------------------------------------------------------

@query(
    "map_scalar_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand)                      AS brand_upper,
           LENGTH(p_name)                      AS name_len,
           SUBSTRING(p_type, 1, 5)             AS type_prefix,
           CONCAT(p_brand, ':', CAST(p_size AS VARCHAR)) AS brand_size,
           ABS(p_retailprice - 1000.0)         AS price_dev,
           CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS price_bucket,
           CAST(p_size % 7 AS BIGINT)           AS size_mod
    FROM part
    WHERE p_size BETWEEN 1 AND 40
    ORDER BY p_partkey
    """,
)
def map_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map ≙ IMapOperator (IMapOperator.cs:9) as Column expressions — the
    whole scalar surface stays JVM-side in whole-stage codegen."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size").between(1, 40))
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_upper"),
            F.length("p_name").cast("long").alias("name_len"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_size").cast("string")).alias("brand_size"),
            F.abs(F.col("p_retailprice") - 1000.0).alias("price_dev"),
            F.floor(F.col("p_retailprice") / 100).alias("price_bucket"),
            (F.col("p_size") % 7).cast("long").alias("size_mod"),
        )
        .orderBy("p_partkey")
    )


@query(
    "map_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS BIGINT)      AS order_year,
           CAST(MONTH(o_orderdate) AS BIGINT)     AS order_month,
           CAST(DAYOFWEEK(o_orderdate) AS BIGINT) AS order_dow,
           CAST(epoch_ms(o_orderdate) AS BIGINT)   AS order_ms,
           CAST(epoch_ms(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_ms
    FROM orders
    WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
)
def map_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar surface; epochs emitted as BIGINT for oracle parity.

    Note: Spark dayofweek is 1=Sunday..7=Saturday; DuckDB dayofweek is
    0=Sunday..6=Saturday — normalized to DuckDB's convention here.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
            (F.dayofweek("o_orderdate") - 1).cast("long").alias("order_dow"),
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("order_ms"),
            F.unix_millis(
                F.date_trunc("month", F.col("o_orderdate").cast("timestamp"))
            ).alias("month_start_ms"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "map_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k,
           event_type
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INT) > 90
    ORDER BY event_id
    """,
)
def map_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (≙ JsonPocoSerializer payloads decoded into
    columns, reference Serializers/JsonPocoSerializer.cs:14)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_id", k.cast("long").alias("prop_k"), "event_type")
        .filter(F.col("prop_k") > 90)
        .orderBy("event_id")
    )


@query(
    "flatmap_explode_words",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def flatmap_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FlatMap ≙ IFlatMapOperator (IFlatMapOperator.cs:12) as split+explode —
    1→N fan-out without leaving the JVM."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


@query(
    "filter_conditional_agg",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           COUNT(*) FILTER (WHERE event_type = 'purchase')             AS n_purchases,
           COUNT(*) FILTER (WHERE event_type = 'error')                AS n_errors,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase_value
    FROM events
    GROUP BY user_id % 10
    ORDER BY user_bucket
    """,
)
def filter_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN conditional aggregation (pivot-style rollup of event types)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
            F.round(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2
            ).alias("purchase_value"),
        )
        .orderBy("user_bucket")
    )


@query(
    "pivot_event_types",
    oracle="""
    SELECT user_id % 5 AS user_bucket,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_id % 5
    ORDER BY user_bucket
    """,
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with explicit value list (no discovery scan)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy((F.col("user_id") % 5).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
        .orderBy("user_bucket")
    )
    return out


@query(
    "distinct_rows",
    oracle="""
    SELECT DISTINCT event_type, user_id % 100 AS user_bucket
    FROM events
    ORDER BY event_type, user_bucket
    """,
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", (F.col("user_id") % 100).alias("user_bucket"))
        .distinct()
        .orderBy("event_type", "user_bucket")
    )


@query(
    "sql_surface_subquery",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_top_customers
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def sql_surface_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql entry point with a scalar subquery — strict superset of the
    reference's BasicSqlParser (TableEnvironment.cs:211-259, SELECT-only)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_top_customers
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


@query(
    "agg_approx_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_within, TRUE AS p90_within, TRUE AS p99_within
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest): the PRODUCTION percentile path at
    100 TB — bounded memory per group, partial-mergeable sketches, no full
    in-group sort (cf. agg_percentiles, the exact oracle-gated twin).

    Sketch internals are engine-specific, so the ACCURACY CONTRACT is the
    value under test (round-5 verdict #4): each group emits
    ``|approx − exact| / exact < 2%`` booleans per percentile (the same
    bound tests/test_pipeline_ops.py asserted locally), computed in-query
    against Spark's exact interpolated ``percentile``; the DuckDB oracle
    emits literal TRUE — driver-hashable.  The exact percentile here exists
    only to score the sketch; agg_percentiles is the exact production twin.
    ≙ the reference's aggregate surface (Table.cs:51-82) extended with the
    sketch family a scale-out engine actually ships."""
    li = load_table(spark, sf_dir, "lineitem")

    def within(approx: str, exact: str):
        return (
            F.abs(F.col(approx) - F.col(exact))
            / F.greatest(F.abs(F.col(exact)), F.lit(1e-9))
        ) < 0.02

    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("a50"),
            F.expr("approx_percentile(l_quantity, 0.9, 10000)").alias("a90"),
            F.expr("approx_percentile(l_extendedprice, 0.99, 10000)").alias("a99"),
            F.expr("percentile(l_quantity, 0.5)").alias("e50"),
            F.expr("percentile(l_quantity, 0.9)").alias("e90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("e99"),
        )
        .select(
            "l_returnflag",
            "n",
            within("a50", "e50").alias("p50_within"),
            within("a90", "e90").alias("p90_within"),
            within("a99", "e99").alias("p99_within"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group — Spark's ``percentile``
    and DuckDB's ``quantile_cont`` both interpolate at rank (n-1)·p, so
    the values hash-match on identical input doubles.

    Scale: exact percentile sorts within each group (memory ∝ group size) —
    correct but heavy at 100 TB, where ``approx_percentile`` (t-digest,
    bounded memory, partial-mergeable) is the production path; both
    surfaces are exposed and this oracle-gated one proves semantics.

    ≙ the reference's aggregate surface (Table.cs:51-82) has min/max/avg
    only; percentile is engine-native superset."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5D)"), 4).alias("p50_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9D)"), 4).alias("p90_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.99D)"), 4).alias("p99_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube) with
    GROUPING() markers so NULL group values are distinguishable from NULL
    data.  Spark expands the sets into one Expand + single aggregate —
    one shuffle for all three granularities, not one scan per set.

    ≙ SURVEY §2.5 'absent in reference, free in Spark' row — engine-native
    superset of the reference's GroupBy (Table.cs:30)."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
        li=li,
    )


@query(
    "window_rank_distribution",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(RANK() OVER w AS BIGINT)        AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT)  AS drnk,
           CAST(NTILE(4) OVER w2 AS BIGINT)     AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6)      AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6)         AS cume,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
           LEAD(o_orderkey) OVER w              AS next_orderkey
    FROM orders
    WHERE o_custkey <= 30
    WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def window_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking/distribution analytic family over one window spec:
    rank, dense_rank, ntile, percent_rank, cume_dist, first_value, lead —
    all computed in a single window pass (one shuffle on the partition key,
    one within-partition sort serves every function).

    percent_rank/cume_dist are exact rational values (rank arithmetic), so
    6-dp rounding is tie-free across engines."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 30)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(F.first_value("o_totalprice").over(w), 2).alias("first_price"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


@query(
    "map_array_functions",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                          AS n_tokens,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], chr(1))
                                                                 AS first_terms,
           CAST(len([t for t in string_split(text, ' ') if length(t) > 4]) AS BIGINT)
                                                                 AS n_long_tokens,
           list_sort(string_split(text, ' '))[-1]                AS max_term,
           CAST(list_sum([length(t) for t in string_split(text, ' ')]) AS BIGINT)
                                                                 AS total_token_chars
    FROM documents
    WHERE doc_id % 25 = 0
    ORDER BY doc_id
    """,
)
def map_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface (≙ §2.11: the scalar library IS
    the UDF surface in the reference; Spark's array builtins are the
    engine-native superset): split, size, distinct+sort+slice, filter
    with a lambda, array_max, aggregate — all JVM-evaluated inside codegen,
    zero Python.

    The final projection emits ``first_terms`` as a joined string
    (``array_join`` / DuckDB ``array_to_string``): every registered query's
    output schema is scalar-only so any row-hash canonicalizer can consume
    it — the array ops themselves stay inside the plan.  The delimiter is
    ``\\x01`` (absent from the whitespace tokenizer's output), so the terms
    stay recoverable by re-splitting — a '|' could collide with tokens."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    toks = F.split("text", " ")
    return (
        docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.array_join(
                F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), ""
            ).alias("first_terms"),
            F.size(F.filter(toks, lambda t: F.length(t) > 4)).cast("long").alias(
                "n_long_tokens"
            ),
            F.array_max(toks).alias("max_term"),
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("total_token_chars"),
        )
        .orderBy("doc_id")
    )


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, metric, ROUND(value, 2) AS value
    FROM (
        SELECT p_partkey,
               CAST(p_size AS DOUBLE)        AS p_size,
               CAST(p_retailprice AS DOUBLE) AS p_retailprice
        FROM part
    ) UNPIVOT (value FOR metric IN (p_size, p_retailprice))
    ORDER BY p_partkey, metric
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide metric columns → long (metric, value) rows — the
    inverse of ``pivot_event_types`` and the Table-API column-ops analog
    (TableEnvironment.cs:69-108 surface breadth).

    Scale: narrow per-row transform (each input row → 2 output rows), no
    shuffle except the display sort — a single codegen stage over the scan.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return (
        p.unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")
        .select("p_partkey", "metric", F.round("value", 2).alias("value"))
        .orderBy("p_partkey", "metric")
    )


# One ANSI-SQL text, two engines: Spark 4 executes this via spark.sql after
# view registration; DuckDB executes it verbatim as the oracle.
_RECURSIVE_CLOSURE_SQL = """
    WITH RECURSIVE chain AS (
        SELECT p_partkey AS root, p_partkey AS node, 0 AS depth
        FROM part
        UNION ALL
        SELECT root, CAST(FLOOR(node / 10) AS BIGINT) AS node, depth + 1 AS depth
        FROM chain WHERE node > 0
    )
    SELECT root AS p_partkey,
           CAST(MAX(depth) AS BIGINT) AS chain_depth,
           CAST(COUNT(*)   AS BIGINT) AS n_nodes,
           CAST(SUM(node)  AS BIGINT) AS sum_chain
    FROM chain
    GROUP BY root
    ORDER BY p_partkey
"""


@query("sql_recursive_closure", oracle=_RECURSIVE_CLOSURE_SQL)
def sql_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4) — iterative transitive
    closure expressed declaratively: each part key walks its decimal-prefix
    ancestor chain to the root.  The exact same SQL string runs on both
    engines, which is the strongest possible parity statement for the SQL
    surface (the reference's SQL gateway parses a SELECT-only dialect,
    TableEnvironment.cs:211-259; this is a strict superset).

    Scale: Spark executes recursive CTEs as iterative union steps; each
    step here is a narrow map (no shuffle) and the depth is logarithmic in
    the key domain — at 100 TB the closure is bounded by max-key digits
    (~7 iterations), not data volume.
    """
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_RECURSIVE_CLOSURE_SQL)


@query(
    "agg_corr_covar_exact",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT)                                  AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)           AS sx,
               CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy,
               CAST(SUM(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT)         AS sxx,
               CAST(SUM(CAST(ROUND(l_extendedprice) AS BIGINT)
                        * CAST(ROUND(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((nd * sxyd - sxd * syd) / (nd * nd), 2)                 AS covar_pop,
           ROUND((nd * sxyd - sxd * syd)
                 / (sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)), 6) AS corr
    FROM (SELECT l_returnflag, n,
                 CAST(n AS DOUBLE) nd, CAST(sx AS DOUBLE) sxd,
                 CAST(sy AS DOUBLE) syd, CAST(sxy AS DOUBLE) sxyd,
                 CAST(sxx AS DOUBLE) sxxd, CAST(syy AS DOUBLE) syyd
          FROM s)
    ORDER BY l_returnflag
    """,
)
def agg_corr_covar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance of (quantity, price) per return flag — the
    feature-profiling statistics a curation pipeline runs before mixing.

    Built-in ``corr``/``covar_pop`` accumulate FLOAT sums whose value
    depends on partition merge order — they cannot hash-match across
    engines or even across reruns at different parallelism.  Instead the
    five raw moments are summed as EXACT integers (quantity ≤ 50, price
    < 2^17 dollars, so every moment over even 10^9 rows stays < 2^63), and the float
    formula runs once per group on those integers — bit-identical at any
    parallelism, the same discipline as emb_dim_stats.  Prices round to
    whole dollars so Σy² stays far inside 2^63 even at 100× this corpus
    (cents² overflowed at bench SF).  Partial aggregation
    (map-side combine) still applies: integer sums are associative."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice"), 0).cast("long").alias("y"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # the formula multiplies moments together (n·syy ~ 10^21 at sf0.1), so
    # it runs on DOUBLES of the exact integer sums — both engines cast the
    # SAME integers, so the float results are still bit-identical
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    return (
        s.select(
            "l_returnflag",
            "n",
            F.round((n * sxy - sx * sy) / (n * n), 2).alias("covar_pop"),
            F.round(
                (n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
                6,
            ).alias("corr"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_key,
           LAST_VALUE(o_orderkey)
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_key,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE / NTH_VALUE analytic surface per customer
    (first order ever, most recent order, second order), with the explicit
    unbounded frame LAST_VALUE needs to mean "latest", and orderkey
    tie-breaks for cross-engine determinism."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_key"),
            F.last("o_orderkey").over(w_all).alias("last_key"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "agg_skew_kurt_exact",
    oracle="""
    WITH x AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x1
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT)            AS n,
               CAST(SUM(x1) AS BIGINT)             AS s1,
               CAST(SUM(x1 * x1) AS BIGINT)        AS s2,
               CAST(SUM(x1 * x1 * x1) AS BIGINT)   AS s3,
               CAST(SUM(x1 * x1 * x1 * x1) AS BIGINT) AS s4
        FROM x GROUP BY l_returnflag
    ),
    m AS (
        SELECT l_returnflag, n,
               CAST(n AS DOUBLE)  AS nd, CAST(s1 AS DOUBLE) AS d1,
               CAST(s2 AS DOUBLE) AS d2, CAST(s3 AS DOUBLE) AS d3,
               CAST(s4 AS DOUBLE) AS d4
        FROM s
    ),
    c AS (
        SELECT l_returnflag, n, nd, d1 / nd AS mu,
               d2 / nd - (d1 / nd)**2 AS var,
               d3 / nd - 3 * (d1 / nd) * d2 / nd + 2 * (d1 / nd)**3 AS m3,
               d4 / nd - 4 * (d1 / nd) * d3 / nd
                 + 6 * (d1 / nd)**2 * d2 / nd - 3 * (d1 / nd)**4 AS m4
        FROM m
    )
    SELECT l_returnflag, n,
           ROUND(mu, 4)                    AS mean_qty,
           ROUND(var, 4)                   AS var_pop,
           ROUND(m3 / var**1.5, 6)         AS skewness,
           ROUND(m4 / var**2 - 3, 6)       AS kurtosis_excess
    FROM c ORDER BY l_returnflag
    """,
)
def agg_skew_kurt_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness / excess kurtosis of quantity per return flag — the
    higher-moment distribution profile (heavy tails, asymmetry) curation
    uses to spot anomalous strata.

    Same exact-moment discipline as agg_corr_covar_exact: Σx..Σx⁴ are
    EXACT associative integer sums — the powers are built by integer
    multiplication on BOTH engines (DuckDB's ``**`` returns DOUBLE, which
    would silently cap exactness at 2⁵³; ADVICE r5), so exactness holds
    until Σx⁴ overflows int64: at quantity ≤ 50, Σx⁴ ≈ 6.25·10¹⁵ per 10⁹
    rows, i.e. exact past 10¹² rows per group.  Central moments and the
    final ratios run on doubles of those sums once per group —
    bit-identical at any parallelism, unlike the built-in
    ``skewness``/``kurtosis`` float accumulators."""
    x = F.col("l_quantity").cast("long")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        x.alias("x1"),
        (x * x).alias("x2"),
        (x * x * x).alias("x3"),
        (x * x * x * x).alias("x4"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum("x4").alias("s4"),
    )
    nd, d1, d2, d3, d4 = (
        F.col(c).cast("double") for c in ("n", "s1", "s2", "s3", "s4")
    )
    mu = d1 / nd
    var = d2 / nd - mu * mu
    m3 = d3 / nd - 3 * mu * d2 / nd + 2 * mu * mu * mu
    m4 = d4 / nd - 4 * mu * d3 / nd + 6 * mu * mu * d2 / nd - 3 * mu * mu * mu * mu
    return (
        s.select(
            "l_returnflag",
            "n",
            F.round(mu, 4).alias("mean_qty"),
            F.round(var, 4).alias("var_pop"),
            F.round(m3 / F.pow(var, 1.5), 6).alias("skewness"),
            F.round(m4 / (var * var) - 3, 6).alias("kurtosis_excess"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "window_range_frame_trailing",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2)
               AS trailing_30d_spend,
           COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
               AS trailing_30d_orders
    FROM orders
    WHERE o_custkey <= 50
    ORDER BY o_custkey, o_orderkey
    """,
)
def window_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame windowed aggregation: 30-day trailing spend per customer
    — the frame is bounded by the ORDER-BY *value* (event time), not row
    position, so same-timestamp rows share one frame and gaps in time
    shrink it (ROWS frames can express neither).  The trailing-window
    metric every feature-engineering pipeline computes.

    Engine note: Spark's rangeBetween needs a numeric sort key, so the
    order key is epoch seconds on both engines.  Equal order-key rows make
    per-row output ambiguous under RANGE (all peers share the frame) —
    which is exactly why the result carries o_orderkey but the frame sorts
    only on time: peer rows get identical (and thus deterministic) values.
    One shuffle on the partition key, within-partition sort."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2_592_000, 0)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d_spend"),
            F.count(F.lit(1)).over(w).alias("trailing_30d_orders"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "agg_hll_sketch_union",
    oracle="""
    WITH per AS (
        SELECT props ->> '$.source' AS src,
               COUNT(DISTINCT user_id) AS exact_users
        FROM events GROUP BY 1
    ),
    tot AS (SELECT COUNT(DISTINCT user_id) AS exact_total FROM events)
    SELECT p.src                               AS src,
           CAST(p.exact_users AS BIGINT)       AS exact_users,
           TRUE                                AS src_within_bound,
           CAST(t.exact_total AS BIGINT)       AS exact_total,
           TRUE                                AS union_within_bound
    FROM per p CROSS JOIN tot t
    ORDER BY src
    """,
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE cardinality sketches — the Apache DataSketches HLL
    surface (``hll_sketch_agg`` / ``hll_union_agg`` /
    ``hll_sketch_estimate``, Spark 3.5+): build one binary sketch per
    source partition, then union the SKETCHES (never re-reading the data)
    into the corpus-wide estimate — the rollup-cube workflow approximate
    distinct counting actually ships at 100 TB, where per-segment sketches
    are stored once and any aggregate view merges them in O(sketch bytes).

    The sketch binaries are engine-specific, so both levels emit the
    accuracy contract as data (the ``agg_approx_distinct`` round-5
    discipline): per-source estimate within 5% of the exact distinct, and
    — the property this query exists to pin — the UNION-OF-SKETCHES
    estimate within 5% of the true global distinct, which hash-verifies
    that merging partials loses nothing beyond HLL error (lgk=14 keeps
    the theoretical RSE ~0.8%, well inside the 5% gate).

    Scale: pass 1 shuffles (src, user) partials for the exact twins (the
    in-query bound check only — the production path drops them); the
    sketch path itself shuffles only sketch BLOBs — one ~16 KB buffer per
    source, constant in corpus size."""
    ev = load_table(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.source").alias("src"), "user_id"
    )
    per = ev.groupBy("src").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
    )
    tot = ev.agg(F.countDistinct("user_id").alias("exact_total"))
    merged = per.agg(F.hll_union_agg("sk").alias("sku")).select(
        F.hll_sketch_estimate("sku").alias("union_est")
    )
    return (
        per.select(
            "src",
            "exact_users",
            F.hll_sketch_estimate("sk").alias("src_est"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(merged))
        .select(
            "src",
            "exact_users",
            (
                F.abs(F.col("src_est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("src_within_bound"),
            "exact_total",
            (
                F.abs(F.col("union_est") - F.col("exact_total"))
                <= 0.05 * F.col("exact_total")
            ).alias("union_within_bound"),
        )
        .orderBy("src")
    )


@query(
    "agg_weighted_quantiles",
    oracle="""
    WITH b AS (
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
               SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS w
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus,
                 CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
    ),
    c AS (
        SELECT l_returnflag, l_linestatus, v, w,
               SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
                            ORDER BY v) AS cum,
               SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS tot
        FROM b
    )
    SELECT l_returnflag, l_linestatus,
           CAST(MAX(tot) AS BIGINT)                          AS w_total,
           CAST(MIN(CASE WHEN 4 * cum >= tot THEN v END) AS BIGINT)
                                                             AS wp25_cents,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN v END) AS BIGINT)
                                                             AS wp50_cents,
           CAST(MIN(CASE WHEN 4 * cum >= 3 * tot THEN v END) AS BIGINT)
                                                             AS wp75_cents
    FROM c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED quantiles per group — the lower weighted median /
    quartiles of price weighted by quantity: the smallest value v whose
    cumulative weight reaches p of the group total.  Data-curation
    pipelines need the weighted form constantly (token-weighted doc-length
    medians, sample-weighted quality thresholds); Spark has no built-in,
    so this is the composition: aggregate weights per DISTINCT value,
    one cumulative-sum window over the value order, conditional-min pick.

    Determinism: values are exact price cents (ROUND then CAST on both
    engines) and weights exact integer quantities — the running sum is
    integer arithmetic over a total order, no float summation hazard.

    Scale: the groupBy collapses the corpus to the distinct (group, cents)
    domain map-side — bounded by the PRICE RANGE (~10^7 cells), CONSTANT
    in corpus size — so the window's per-group sort runs over the bounded
    domain no matter how many source rows fed it.  That pre-collapse is
    the difference between this plan and a naive percentile over raw rows
    (which sorts the corpus); it is why exact weighted quantiles stay
    feasible at 100 TB while exact unweighted percentiles (agg_percentiles)
    degrade to the approx path."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias("v"),
    ).agg(F.sum(F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)")).alias("w"))
    grp = Window.partitionBy("l_returnflag", "l_linestatus")
    c = b.select(
        "l_returnflag",
        "l_linestatus",
        "v",
        "w",
        F.sum("w").over(grp.orderBy("v")).alias("cum"),
        F.sum("w").over(grp).alias("tot"),
    )
    return (
        c.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.max("tot").alias("w_total"),
            F.min(F.when(4 * F.col("cum") >= F.col("tot"), F.col("v"))).alias(
                "wp25_cents"
            ),
            F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("v"))).alias(
                "wp50_cents"
            ),
            F.min(
                F.when(4 * F.col("cum") >= 3 * F.col("tot"), F.col("v"))
            ).alias("wp75_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_ks_drift",
    oracle="""
    WITH ev AS (
        SELECT event_type AS t,
               CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
        FROM events
    ),
    cnt AS (
        SELECT t, v, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY t, v
    ),
    base AS (SELECT v, c AS nb FROM cnt WHERE t = 'view'),
    oth  AS (SELECT t, v, c AS na FROM cnt WHERE t <> 'view'),
    dom AS (
        SELECT t, v FROM oth
        UNION
        SELECT ty.t, b.v
        FROM (SELECT DISTINCT t FROM oth) ty CROSS JOIN base b
    ),
    j AS (
        SELECT dom.t, dom.v,
               COALESCE(o.na, 0) AS na, COALESCE(b.nb, 0) AS nb
        FROM dom
        LEFT JOIN oth o ON o.t = dom.t AND o.v = dom.v
        LEFT JOIN base b ON b.v = dom.v
    ),
    w AS (
        SELECT t, v, na, nb,
               SUM(na) OVER (PARTITION BY t ORDER BY v) AS cum_a,
               SUM(nb) OVER (PARTITION BY t ORDER BY v) AS cum_b,
               SUM(na) OVER (PARTITION BY t) AS n_a,
               SUM(nb) OVER (PARTITION BY t) AS n_b
        FROM j
    )
    SELECT t AS event_type,
           CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num,
           CAST((1000000 * MAX(ABS(cum_a * n_b - cum_b * n_a)))
                // (MAX(n_a) * MAX(n_b)) AS BIGINT) AS d_e6
    FROM w
    GROUP BY t
    ORDER BY t
    """,
)
@scoped
def agg_ks_drift(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance — the distribution-
    drift monitor data pipelines run between corpus snapshots (did the
    `value` distribution of each event class move against the 'view'
    baseline?): D = sup_v |F_A(v) - F_B(v)| over the joint support.

    Integer-exact cross-engine: the supremum is computed on the CROSS-
    MULTIPLIED form |cumA·N_B - cumB·N_A| (exact BIGINTs — no per-row
    division), and only the final reported d_e6 divides, as integer
    division of two exact products.  No float ever enters the ECDF walk.
    int64 bounds: needs N_A·N_B < 2^63 (~3e9 rows per side); beyond that
    report (d_num, n_a, n_b) per stratum and divide in 128-bit outside,
    or pre-stratify — the statistic itself is per-snapshot-pair, never
    corpus-global.

    Scale: one corpus pass collapses to the (type, milli-value) domain
    map-side — bounded by the value range, constant in corpus size (the
    agg_weighted_quantiles discipline) — so the ECDF windows and the
    baseline-support replication run over bounded frames regardless of
    input rows.  The 5-row type dim is the only broadcast."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    cnt = scope.persist(ev.groupBy("t", "v").agg(F.count(F.lit(1)).alias("c")))
    base = cnt.filter(F.col("t") == "view").select("v", F.col("c").alias("nb"))
    oth = cnt.filter(F.col("t") != "view").select(
        "t", "v", F.col("c").alias("na")
    )
    types = oth.select("t").distinct()
    dom = (
        oth.select("t", "v")
        .union(base.select("v").crossJoin(F.broadcast(types)).select("t", "v"))
        .distinct()
    )
    j = (
        dom.join(oth, ["t", "v"], "left")
        .join(base, "v", "left")
        .select(
            "t",
            "v",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
    )
    grp = Window.partitionBy("t")
    w = j.select(
        "t",
        "na",
        "nb",
        F.sum("na").over(grp.orderBy("v")).alias("cum_a"),
        F.sum("nb").over(grp.orderBy("v")).alias("cum_b"),
        F.sum("na").over(grp).alias("n_a"),
        F.sum("nb").over(grp).alias("n_b"),
    )
    out = (
        w.groupBy(F.col("t").alias("event_type"))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            ).alias("d_num"),
            F.expr(
                "CAST((1000000 * MAX(ABS(cum_a * n_b - cum_b * n_a)))"
                " div (MAX(n_a) * MAX(n_b)) AS BIGINT)"
            ).alias("d_e6"),
        )
        .orderBy("event_type")
    )
    return out


# --------------------------------------------------------------------------
# Exact integer OLS trend per group.
# --------------------------------------------------------------------------
def _trend_longdiv(intdiv: str) -> list[str]:
    """Select items turning (num, den) into ``slope_e6`` by exact decimal
    long division — q then six ×10 digit steps, all on NONNEGATIVE ints
    where Spark ``div`` (truncate) and DuckDB ``//`` (floor) agree, so the
    only engine-specific token is the integer-division operator itself.
    Emitted as lateral column aliases (both engines resolve them
    left-to-right in one SELECT list)."""
    items = [
        "abs(num) AS a0",
        f"CASE WHEN den = 0 THEN NULL ELSE a0 {intdiv} den END AS q",
        "CASE WHEN den = 0 THEN NULL ELSE a0 % den END AS r0",
    ]
    for i in range(1, 7):
        items.append(f"(r{i - 1} * 10) {intdiv} den AS d{i}")
        items.append(f"(r{i - 1} * 10) % den AS r{i}")
    digits = " + ".join(f"d{i} * {10 ** (6 - i)}" for i in range(1, 7))
    items.append(
        "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)"
        f" * (q * 1000000 + {digits}) AS BIGINT) AS slope_e6"
    )
    return items


@query(
    "agg_regression_trend",
    oracle=f"""
    WITH ev AS (
        SELECT event_type,
               CAST(epoch_ms(ts) // 1000 AS BIGINT) AS tsec,
               CAST(ROUND(value * 1000, 0) AS BIGINT) AS y
        FROM events
    ),
    cx AS (
        SELECT event_type,
               (tsec - MIN(tsec) OVER (PARTITION BY event_type)) // 3600 AS x,
               y
        FROM ev
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT)      AS n,
               CAST(SUM(x) AS BIGINT)        AS sx,
               CAST(SUM(y) AS BIGINT)        AS sy,
               CAST(SUM(x * y) AS BIGINT)    AS sxy,
               CAST(SUM(x * x) AS BIGINT)    AS sxx
        FROM cx GROUP BY event_type
    ),
    nd AS (
        SELECT event_type, n,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS den
        FROM s
    ),
    ld AS (SELECT event_type, n, num, den, {", ".join(_trend_longdiv("//"))} FROM nd)
    SELECT event_type, n, CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den,
           slope_e6
    FROM ld ORDER BY event_type
    """,
)
def agg_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend slope with ZERO floating point — is each event
    class's `value` drifting over time? — the metric-regression monitor
    run between corpus snapshots.  slope = (n·Σxy − Σx·Σy)/(n·Σxx − Σx²)
    on exact BIGINT sums (x = hours since the group's first event, y =
    milli-value), converted to a micro-units fixed-point by exact decimal
    LONG DIVISION: quotient plus six ×10 digit steps, every operand
    nonnegative so Spark `div` and DuckDB `//` agree bit-for-bit — the
    rational num/den is also emitted raw, so the driver hash pins the
    entire computation, not just the rounded slope.

    int64 bounds at hour/milli quantization: n·Σxy needs n·x_max·y_max·n
    < 2⁶³ — safe to ~2·10⁴ rows per group per year-span at this value
    range (this corpus), and the documented rescale (hours→days,
    milli→centi) buys 10³ more per step; beyond that, pre-aggregate to
    the (group, hour) domain first — the sums are additive.

    Scale: one event_type-keyed window computes the per-group epoch
    (min-over-partition), the five sums partial-combine map-side, and
    the long-division runs on one row per group."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(unix_millis(ts) div 1000 AS BIGINT)").alias("tsec"),
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("y"),
    )
    cx = ev.select(
        "event_type",
        F.expr(
            "(tsec - min(tsec) OVER (PARTITION BY event_type)) div 3600"
        ).alias("x"),
        "y",
    )
    s = cx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = s.select(
        "event_type",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    ld = nd.selectExpr("event_type", "n", "num", "den", *_trend_longdiv("div"))
    return ld.select(
        "event_type",
        "n",
        F.col("num").cast("long").alias("num"),
        F.col("den").cast("long").alias("den"),
        "slope_e6",
    ).orderBy("event_type")


@query(
    "agg_gini_binned",
    oracle=f"""
    WITH ev AS (
        SELECT event_type AS t,
               CAST(ROUND(value * 1000, 0) AS BIGINT) AS v
        FROM events
    ),
    b AS (
        SELECT t, v, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY t, v
    ),
    w AS (
        SELECT t, v, c,
               COALESCE(SUM(c) OVER (PARTITION BY t ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
        FROM b
    ),
    s AS (
        SELECT t,
               CAST(SUM(c) AS BIGINT)                               AS n,
               CAST(SUM(v * c) AS BIGINT)                           AS tot,
               CAST(SUM(v * (c * p + (c * (c + 1)) // 2)) AS BIGINT) AS srank
        FROM w GROUP BY t
    ),
    nd AS (
        SELECT t AS event_type, n, tot,
               2 * srank - (n + 1) * tot AS num,
               n * tot                   AS den
        FROM s
    ),
    ld AS (SELECT event_type, n, tot, num, den,
                  {", ".join(_trend_longdiv("//"))} FROM nd)
    SELECT event_type, n, tot, CAST(num AS BIGINT) AS num,
           CAST(den AS BIGINT) AS den, slope_e6 AS gini_e6
    FROM ld ORDER BY event_type
    """,
)
def agg_gini_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration per group with ZERO floating point — how
    unequally is `value` mass distributed within each event class? (the
    source-concentration audit corpus curation runs on token counts: one
    domain dominating a mix shows up as Gini → 1).  G = (2·Σrank·y −
    (n+1)·Σy)/(n·Σy) computed from the BINNED value domain: individuals
    in a bin share the value, so their rank-sum is c·p + c(c+1)/2 on
    exact integers (p = individuals before the bin) — no per-row global
    sort, the same value-domain collapse as agg_ks_drift, and the final
    micro-unit division reuses the agg_regression_trend exact decimal
    long-division cascade (num/den also emitted raw).

    Scale: one map-side collapse to the bounded (group, milli-value)
    domain, one domain-bounded cumulative window, one row per group into
    the long division — corpus size never reaches a sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)").alias("v"),
    )
    b = ev.groupBy("t", "v").agg(F.count(F.lit(1)).alias("c"))
    w = b.select(
        "t",
        "v",
        "c",
        F.coalesce(
            F.sum("c").over(
                Window.partitionBy("t").orderBy("v").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("p"),
    )
    s = w.groupBy("t").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("tot"),
        F.sum(
            F.col("v")
            * (F.col("c") * F.col("p") + F.expr("(c * (c + 1)) div 2"))
        ).alias("srank"),
    )
    nd = s.select(
        F.col("t").alias("event_type"),
        "n",
        "tot",
        (2 * F.col("srank") - (F.col("n") + 1) * F.col("tot")).alias("num"),
        (F.col("n") * F.col("tot")).alias("den"),
    )
    ld = nd.selectExpr(
        "event_type", "n", "tot", "num", "den", *_trend_longdiv("div")
    )
    return ld.select(
        "event_type",
        "n",
        "tot",
        F.col("num").cast("long").alias("num"),
        F.col("den").cast("long").alias("den"),
        F.col("slope_e6").alias("gini_e6"),
    ).orderBy("event_type")


@query(
    "join_null_safe",
    oracle="""
    WITH ev AS (
        SELECT event_type,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
                    THEN NULL
                    ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) % 7
               END AS k7
        FROM events
    ),
    a AS (SELECT k7, CAST(COUNT(*) AS BIGINT) AS n_a FROM ev
          WHERE event_type = 'view' GROUP BY k7),
    b AS (SELECT k7, CAST(COUNT(*) AS BIGINT) AS n_b FROM ev
          WHERE event_type = 'click' GROUP BY k7)
    SELECT COALESCE(CAST(a.k7 AS BIGINT), -1) AS key_bucket,
           a.k7 IS NULL                       AS is_null_key,
           a.n_a, b.n_b,
           CAST(a.n_a * b.n_b AS BIGINT)      AS n_pairs
    FROM a JOIN b ON a.k7 IS NOT DISTINCT FROM b.k7
    ORDER BY key_bucket
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the join
    variant ETL needs when NULL is a legitimate key value (unparseable
    attribute, absent dimension): a plain equi-join silently drops every
    NULL-keyed row, `<=>` matches NULL with NULL exactly once.  The
    NULL bucket is derived deterministically (k % 7 == 0 → NULL), and the
    output counts both sides plus the pair product per bucket, so a
    dropped-NULL bug changes the row set, not just a count.

    Plan note: Spark executes `<=>` as a HASH equi-join (EqualNullSafe is
    a valid hash key — Coalesce(key, marker) internally), NOT a nested
    loop — same shuffle shape as the plain join, which is why this is
    safe at any scale.

    ≙ SURVEY §2.6's join surface (the reference's IJoinFunction has no
    null-key contract at all); engine-native superset row."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CASE WHEN CAST(get_json_object(props, '$.k') AS BIGINT) % 7 = 0"
            " THEN NULL"
            " ELSE CAST(get_json_object(props, '$.k') AS BIGINT) % 7 END"
        ).alias("k7"),
    )
    a = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("k7")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    b = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("k7")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return (
        a.alias("a")
        .join(b.alias("b"), F.col("a.k7").eqNullSafe(F.col("b.k7")))
        .select(
            F.coalesce(F.col("a.k7").cast("long"), F.lit(-1)).alias(
                "key_bucket"
            ),
            F.col("a.k7").isNull().alias("is_null_key"),
            "n_a",
            "n_b",
            (F.col("n_a") * F.col("n_b")).alias("n_pairs"),
        )
        .orderBy("key_bucket")
    )


# --------------------------------------------------------------------------
# Mergeable quantile sketch with an accuracy contract (round-13).
# --------------------------------------------------------------------------
QSK_BW = 50_000  # bucket width in price cents ($500); error bound = 1 bucket
QSK_PCTS = (25, 50, 75, 90, 99)


@query(
    "agg_quantile_sketch_merge",
    oracle=f"""
    WITH v AS (
        SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS c,
               l_returnflag AS src
        FROM lineitem
    ),
    sk AS (
        SELECT src, c // {QSK_BW} AS b, COUNT(*) AS n
        FROM v GROUP BY src, c // {QSK_BW}
    ),
    mg AS (SELECT b, SUM(n) AS n FROM sk GROUP BY b),
    mc AS (
        SELECT b, n,
               SUM(n) OVER (ORDER BY b) AS cum,
               SUM(n) OVER ()           AS tot
        FROM mg
    ),
    ex AS (SELECT c, COUNT(*) AS n FROM v GROUP BY c),
    ec AS (
        SELECT c,
               SUM(n) OVER (ORDER BY c) AS cum,
               SUM(n) OVER ()           AS tot
        FROM ex
    ),
    est AS (
        SELECT {", ".join(
            f"MIN(CASE WHEN 100 * cum >= {p} * tot"
            f" THEN (b + 1) * {QSK_BW} END) AS e{p}" for p in QSK_PCTS)}
        FROM mc
    ),
    exa AS (
        SELECT {", ".join(
            f"MIN(CASE WHEN 100 * cum >= {p} * tot THEN c END) AS x{p}"
            for p in QSK_PCTS)}
        FROM ec
    ),
    cells AS (
        SELECT CAST(COUNT(*) AS BIGINT)             AS n_cells,
               CAST(COUNT(DISTINCT src) AS BIGINT)  AS n_sources
        FROM sk
    )
    {" UNION ALL ".join(
        f'''SELECT CAST({p} AS BIGINT)  AS q_pct,
           CAST(e{p} AS BIGINT) AS est_cents,
           CAST(x{p} AS BIGINT) AS exact_cents,
           e{p} - x{p} BETWEEN 1 AND {QSK_BW} AS within_bound,
           n_cells, n_sources
    FROM est, exa, cells''' for p in QSK_PCTS)}
    ORDER BY q_pct
    """,
)
@scoped
def agg_quantile_sketch_merge(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """MERGEABLE quantile sketch with a hash-checked accuracy contract —
    the quantile twin of ``agg_hll_sketch_union``: each source
    (l_returnflag) builds an independent fixed-width histogram sketch
    (bucket = price-cents div {QSK_BW}), the sketches MERGE by summing
    per-bucket counts (the property that lets a 1000-executor job build
    per-partition sketches and combine them with no raw-value exchange —
    the t-digest/KLL deployment pattern, here in its deterministic
    fixed-grid form, cf. Agarwal 2013 "Mergeable Summaries"), and each
    quantile estimate is the merged bucket's upper bound at the target
    cumulative rank.

    Accuracy CONTRACT, not assertion: for every quantile the exact value
    (computed from the distinct-cents pre-collapse, the
    agg_weighted_quantiles discipline) rides alongside the estimate and
    the ``within_bound`` column pins 1 ≤ est − exact ≤ {QSK_BW} — both
    engines must agree on estimate AND exact AND the bound check, so a
    wrong sketch, a wrong merge, or a wrong rank rule all flip the hash.

    Scale: the corpus collapses map-side to ≤ (sources × price-range/
    {QSK_BW}) sketch cells (~hundreds, CONSTANT in corpus size); the
    merge, ranks, and quantile picks run on that bounded frame.  The
    exact leg collapses to the distinct-cents domain (~10^7 bound) the
    same way.  n_cells/n_sources are emitted so the sketch's size story
    is part of the checked result."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias("c"),
        F.col("l_returnflag").alias("src"),
    )
    sk = v.groupBy("src", F.expr(f"c div {QSK_BW}").alias("b")).agg(
        F.count(F.lit(1)).alias("n")
    )
    scope.persist(sk)
    mg = sk.groupBy("b").agg(F.sum("n").alias("n"))
    mc = mg.select(
        "b",
        F.sum("n").over(Window.orderBy("b")).alias("cum"),
        F.sum("n").over(
            Window.orderBy("b").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot"),
    )
    ex = v.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    ec = ex.select(
        "c",
        F.sum("n").over(Window.orderBy("c")).alias("cum"),
        F.sum("n").over(
            Window.orderBy("c").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot"),
    )
    # all five rank picks in ONE aggregation pass per leg (no q×frame
    # cross product — the 5-target fan-out is 5 conditional-min columns,
    # unpivoted afterwards by stack over the 1-row result)
    est = mc.agg(
        *[
            F.min(
                F.when(
                    100 * F.col("cum") >= p * F.col("tot"),
                    (F.col("b") + 1) * QSK_BW,
                )
            ).alias(f"e{p}")
            for p in QSK_PCTS
        ]
    )
    exa = ec.agg(
        *[
            F.min(
                F.when(100 * F.col("cum") >= p * F.col("tot"), F.col("c"))
            ).alias(f"x{p}")
            for p in QSK_PCTS
        ]
    )
    cells = sk.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("src").alias("n_sources"),
    )
    stack = ", ".join(f"{p}L, e{p}, x{p}" for p in QSK_PCTS)
    out = (
        est.crossJoin(F.broadcast(exa))
        .crossJoin(F.broadcast(cells))
        .select(
            F.expr(
                f"stack({len(QSK_PCTS)}, {stack})"
            ).alias("q_pct", "est_cents", "exact_cents"),
            "n_cells",
            "n_sources",
        )
        .select(
            "q_pct",
            "est_cents",
            "exact_cents",
            (F.col("est_cents") - F.col("exact_cents")).between(1, QSK_BW).alias(
                "within_bound"
            ),
            "n_cells",
            "n_sources",
        )
        .orderBy("q_pct")
    )
    return out


# --------------------------------------------------------------------------
# Exact per-group mode (round-14).
# --------------------------------------------------------------------------


@query(
    "agg_mode_exact",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, cents
    ),
    r AS (
        SELECT event_type, cents, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, cents NULLS LAST) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_distinct
        FROM c
    )
    SELECT event_type,
           cents AS mode_cents,
           n     AS mode_count,
           n_distinct
    FROM r WHERE rn = 1
    ORDER BY event_type
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group MODE — the most frequent value per key with a total
    deterministic tie-break (highest count, then lowest value), the
    categorical summary statistic the MIN/MAX/AVG battery lacks (neither
    engine ships a deterministic MODE: DuckDB's is tie-arbitrary, Spark
    has none).

    Shape: the classic two-level aggregation — groupBy(key, value) count
    (map-side partial combine collapses duplicates BEFORE the shuffle, so
    the exchange carries one row per distinct (key, value), bounded by
    the value domain — here ~10^4 distinct cents × 5 event types), then a
    per-key rank over the distinct-value frame.  The rank partition is
    the per-key DISTINCT-value set (domain-bounded), never raw rows, so
    no salting is needed — the same reasoning as agg_weighted_quantiles'
    distinct-value pre-collapse.

    Integer cents (the module's money discipline) keep the tie-break
    exact on both engines."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents")
    )
    c = ev.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # cents NULLS LAST pinned on BOTH engines (r14 ADVICE): Spark's plain
    # asc is NULLS FIRST while DuckDB defaults NULLS LAST, so a NULL value
    # (none in current datagen — latent) would flip the rn=1 pick.
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.col("cents").asc_nulls_last()
    )
    wc = Window.partitionBy("event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .withColumn("n_distinct", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("cents").alias("mode_cents"),
            F.col("n").alias("mode_count"),
            "n_distinct",
        )
        .orderBy("event_type")
    )


@query(
    "agg_winsorized_stats",
    oracle="""
    WITH c AS (
        SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    d AS (
        SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY event_type, cents
    ),
    cum AS (
        SELECT event_type, cents, cnt,
               SUM(cnt) OVER (PARTITION BY event_type
                              ORDER BY cents NULLS LAST) AS cum,
               SUM(cnt) OVER (PARTITION BY event_type) AS n
        FROM d
    ),
    b AS (
        SELECT event_type, MAX(n) AS n,
               MIN(CASE WHEN cum >= (5 * n + 99) // 100 THEN cents END)  AS p05,
               MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN cents END) AS p95
        FROM cum GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(b.n AS BIGINT) AS n_rows,
           b.p05 AS p05_cents,
           b.p95 AS p95_cents,
           CAST(SUM(LEAST(GREATEST(d.cents, b.p05), b.p95) * d.cnt) AS BIGINT)
               AS wins_sum_cents,
           CAST(SUM(CASE WHEN d.cents < b.p05 THEN d.cnt ELSE 0 END) AS BIGINT)
               AS n_clamped_low,
           CAST(SUM(CASE WHEN d.cents > b.p95 THEN d.cnt ELSE 0 END) AS BIGINT)
               AS n_clamped_high
    FROM d JOIN b USING (event_type)
    GROUP BY d.event_type, b.n, b.p05, b.p95
    ORDER BY event_type
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED per-group statistics — values clamped to the exact
    nearest-rank [p05, p95] before summing, plus the clamp counts: the
    robust-mean companion to agg_percentiles that quality/curation
    pipelines use to keep a few extreme documents from dragging a
    per-source average (Dixon 1960; the standard robust-statistics
    treatment of heavy tails).

    Exactness: integer cents throughout; the percentile is the
    NEAREST-RANK value (rank = ceil(p*n) spelled as the positive integer
    ceiling ``(p*n + 99) div 100`` — identical truncating division on
    both engines), never an interpolation, so no float can disagree.

    Scale (the agg_mode_exact discipline): raw rows collapse FIRST to one
    row per distinct (event_type, cents) via a map-side-combined groupBy
    — the only corpus-sized exchange carries the distinct-value frame,
    bounded by the ~10^4-cents x 5-types domain; the cumulative-count
    window, the rank lookup, the 5-row broadcast join back, and the
    clamped weighted sum all run over that bounded frame.  No raw-row
    window, no single-reducer sort."""
    from pyspark.sql.window import Window

    d = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # cents NULLS LAST pinned on BOTH engines (the agg_mode_exact
    # discipline): a NULL value (none in current datagen — latent) must
    # not flip the cumulative ranks cross-engine.
    wcum = Window.partitionBy("event_type").orderBy(
        F.col("cents").asc_nulls_last()
    )
    wall = Window.partitionBy("event_type")
    cum = d.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    b = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.expr("cum >= (5 * n + 99) div 100"), F.col("cents"))
        ).alias("p05"),
        F.min(
            F.when(F.expr("cum >= (95 * n + 99) div 100"), F.col("cents"))
        ).alias("p95"),
    )
    return (
        d.join(F.broadcast(b), "event_type")
        .groupBy("event_type", "n", "p05", "p95")
        .agg(
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95"))
                * F.col("cnt")
            )
            .cast("long")
            .alias("wins_sum_cents"),
            F.sum(F.when(F.col("cents") < F.col("p05"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum(F.when(F.col("cents") > F.col("p95"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_clamped_high"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_rows"),
            F.col("p05").alias("p05_cents"),
            F.col("p95").alias("p95_cents"),
            "wins_sum_cents",
            "n_clamped_low",
            "n_clamped_high",
        )
        .orderBy("event_type")
    )


# Benford first-digit expectations, e6-scaled Python literals (log10(1+1/d)
# computed ONCE here, emitted identically into both engines' SQL — they sum
# to exactly 1e6, so N*1e6 is the exact expected-mass total).
_BENFORD_E6 = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE = (
    "CASE d " + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_E6.items())
    + " END"
)


@query(
    "agg_benford_deviation",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               CAST(SUBSTR(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d
        FROM events
        WHERE CAST(ROUND(value * 100, 0) AS BIGINT) > 0
    ),
    h AS (
        SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS n
        FROM c GROUP BY event_type, d
    ),
    t AS (
        SELECT event_type, SUM(n) AS nt FROM h GROUP BY event_type
    )
    SELECT h.event_type,
           CAST(t.nt AS BIGINT)                          AS n_rows,
           CAST(SUM(ABS(h.n * 1000000 - t.nt * ({_BENFORD_CASE})))
                AS BIGINT)                               AS l1_dev_e6,
           CAST(MAX(h.n) AS BIGINT)                      AS max_digit_n,
           CAST(SUM(h.d * h.n) AS BIGINT)                AS digit_checksum
    FROM h JOIN t USING (event_type)
    GROUP BY h.event_type, t.nt
    ORDER BY event_type
    """,
)
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD first-significant-digit deviation per group (Benford 1938;
    Nigrini 2012's forensic-accounting test) — the data-quality /
    synthetic-data screen curation pipelines run on numeric corpora:
    organically-generated positive values follow P(d) = log10(1+1/d),
    while fabricated or template-generated numbers don't, so the L1
    distance between a group's first-digit histogram and the Benford mass
    function flags machine-synthesized segments.

    Exactness: the nine expected masses are e6-scaled INTEGER literals
    computed once in Python and emitted into both engines (they sum to
    exactly 1e6), so the deviation statistic
    ``sum_d |n_d * 1e6 - N * benford_e6(d)|`` is pure BIGINT arithmetic —
    no log, no float, no rounding disagreement.  First digit =
    leading character of the decimal rendering of positive integer cents,
    identical on both engines.

    Scale: one map-side digit projection + a groupBy over the ≤ 9 × types
    histogram domain — the exchange carries at most 45 partial rows per
    task; everything downstream is arithmetic on the bounded frame."""
    c = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
        )
        .filter(F.col("cents") > 0)
        .select(
            "event_type",
            F.expr("CAST(SUBSTR(CAST(cents AS STRING), 1, 1) AS BIGINT)").alias(
                "d"
            ),
        )
    )
    h = c.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = h.groupBy("event_type").agg(F.sum("n").alias("nt"))
    return (
        h.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "nt")
        .agg(
            F.sum(
                F.abs(
                    F.col("n") * F.lit(1_000_000)
                    - F.col("nt") * F.expr(_BENFORD_CASE)
                )
            )
            .cast("long")
            .alias("l1_dev_e6"),
            F.max("n").cast("long").alias("max_digit_n"),
            F.sum(F.col("d") * F.col("n")).cast("long").alias("digit_checksum"),
        )
        .select(
            "event_type",
            F.col("nt").cast("long").alias("n_rows"),
            "l1_dev_e6",
            "max_digit_n",
            "digit_checksum",
        )
        .orderBy("event_type")
    )
