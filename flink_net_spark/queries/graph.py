"""Iterative graph analytics over relational edge lists (SURVEY.md §7 ph. 6).

The reference has no graph surface at all, but a training-data engine needs
link analysis: near-dup group resolution (``dedup_resolve_groups``) is
min-label propagation, and corpus-curation ranking (which sources/documents
sit central in a citation/co-occurrence graph — the "PageRank quality
signal" CommonCrawl pipelines use for seed weighting) is power iteration on
the link matrix.  This module adds the power-iteration half as a
first-class, oracle-gated operator.

Cross-engine determinism: ranks are exact fixed-point integers (1e-6
units), every transfer is ``rank div degree`` (integer division, truncating
— identical in Spark ``div`` and DuckDB ``//`` for the nonnegative values
here), and each step sums integers — order-independent at any parallelism,
so Spark and DuckDB agree bit-for-bit with no float summation hazard (the
``emb_kmeans_iterate`` / ``emb_pca_power`` fixed-point discipline applied
to link analysis).

Scale design (the Pregel/GraphX shape): the graph lives as an edge
DataFrame; one iteration = one equi-join of edges(src) with the rank frame
(node-keyed shuffle) plus one groupBy(dst) aggregation (second shuffle) —
contributions combine map-side, so the reduce volume is one row per node.
Nothing is ever collected; iteration count is a fixed constant, so the
lineage stays bounded without checkpointing.

The graph every builder here except the triangle and common-neighbor
ones runs on is the bipartite part<->supplier graph of lineitem, defined
once per engine: ``_edges`` (Spark) and ``_duck_edges`` (the DuckDB
oracles' CTE).  Node ids are 2*partkey / 2*suppkey+1, disjoint id spaces
in one BIGINT column; ``_kind`` / ``_key`` decode them.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from flink_net_spark.queries import query
from flink_net_spark.tables import (
    QueryScope,
    derived_shuffle_partitions,
    load_table,
    scoped,
    shuffle_partitions,
)


def _edges(
    spark: SparkSession, sf_dir: str, where: str | None = None, weighted: bool = False
) -> DataFrame:
    """The part<->supplier edge list ``(src, dst)`` of the lineitem rows
    matching ``where``: distinct pairs — grouped pairs carrying
    ``w = MIN(l_quantity)`` when ``weighted`` — in both directions,
    hash-partitioned on ``src``.  Every per-round join here is src-keyed,
    so it reuses that layout and only the one-row-per-node frames move
    (GraphX's edge-cut: edges static, traffic ∝ nodes)."""
    li = load_table(spark, sf_dir, "lineitem")
    if where is not None:
        li = li.filter(where)
    ends = (
        (F.col("l_partkey") * 2).cast("long").alias("src"),
        (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
    )
    if weighted:
        pairs = li.groupBy(*ends).agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    else:
        pairs = li.select(*ends).distinct()
    back = pairs.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *(["w"] if weighted else [])
    )
    return pairs.union(back).repartition(F.col("src"))


def _duck_edges(where: str = "TRUE", weighted: bool = False) -> str:
    """``_edges`` as the DuckDB CTE ``e`` (same columns and rows).
    MATERIALIZED: the oracles reference it from every unrolled round, and
    DuckDB inlines a CTE per reference otherwise."""
    w = ", w" if weighted else ""
    agg = ", MIN(CAST(l_quantity AS BIGINT)) AS w" if weighted else ""
    return f"""e AS MATERIALIZED (
        WITH p AS MATERIALIZED (
            SELECT CAST(l_partkey * 2 AS BIGINT)     AS src,
                   CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst{agg}
            FROM lineitem WHERE {where} GROUP BY 1, 2)
        SELECT src, dst{w} FROM p UNION ALL SELECT dst, src{w} FROM p
    )"""


def _kind(col: str) -> Column:
    """The kind of node ``col``: 'part' or 'supplier'."""
    return F.when(F.col(col) % 2 == 0, F.lit("part")).otherwise(F.lit("supplier"))


def _key(col: str) -> Column:
    """The part or supplier key of node ``col``."""
    return F.expr(f"{col} div 2")


def _supersteps(
    scope: QueryScope,
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
) -> tuple[DataFrame, DataFrame]:
    """Run ``rounds`` supersteps ``frame = step(frame)`` from ``init`` and
    return ``(last, prev)``: the final frame and the one before it, which
    the convergence-audit columns compare.

    ``init`` and every round are LOCAL-CHECKPOINTED, not just persisted.
    The frame is referenced twice per round (CC's label self-join, SSSP's
    carry + relax, k-core's two endpoints, LPA's vote + carry), so the
    un-truncated logical plan doubles per round — 2^rounds leaf copies
    that stall Catalyst ANALYSIS long before any task runs (persist
    dedups execution, never analysis).  Checkpoint-per-superstep is
    GraphX/Pregel's own lineage discipline.  The checkpoints are lazy: no
    per-round action forces them, so every round's cache backs the final
    plan and stays in ``scope`` until the result is released."""
    last = prev = scope.checkpoint(init)
    for _ in range(rounds):
        prev, last = last, scope.checkpoint(step(last))
    return last, prev

# Fixed-point PageRank parameters.  Damping 0.85 as the exact integer pair
# (85, 100); rank unit 1e-6.  With N nodes total rank mass stays <= N * 1e6,
# so the hot sum `85 * SUM(contrib)` is int64-safe while N < ~1e11 nodes —
# far beyond a 100 TB corpus' key cardinality.
PAGERANK_ITERS = 4
PAGERANK_TELEPORT_E6 = 150_000  # (1 - 0.85) * 1e6, exact
PAGERANK_TOPK = 100


def _duck_pagerank_oracle() -> str:
    """Unrolled chained-CTE oracle: r0..r{ITERS} computed with the exact
    integer recurrence the Spark loop runs."""
    ctes = [
        _duck_edges(),
        "deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src)",
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg)",
    ]
    for i in range(PAGERANK_ITERS):
        ctes.append(
            f"""r{i + 1} AS (
            SELECT d.node,
                   CAST({PAGERANK_TELEPORT_E6} + (85 * COALESCE(s.s, 0)) // 100
                        AS BIGINT) AS r
            FROM deg d
            LEFT JOIN (
                SELECT e.dst AS node, SUM(rd.r // rd.deg) AS s
                FROM e
                JOIN (SELECT r.node, r.r, g.deg
                      FROM r{i} r JOIN deg g ON g.node = r.node) rd
                  ON rd.node = e.src
                GROUP BY e.dst
            ) s ON s.node = d.node
        )"""
        )
    return f"""
    WITH {','.join(ctes)}
    SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           node // 2            AS key,
           d.deg                AS deg,
           r.r                  AS rank_e6
    FROM r{PAGERANK_ITERS} r JOIN deg d USING (node)
    ORDER BY rank_e6 DESC, node
    LIMIT {PAGERANK_TOPK}
    """


@query("graph_pagerank", oracle=_duck_pagerank_oracle())
@scoped
def graph_pagerank(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """Fixed-point PageRank over the part<->supplier co-purchase graph —
    {PAGERANK_ITERS} power-iteration steps of r' = 0.15 + 0.85 * M r on the
    bipartite edge list derived from lineitem, entirely in exact 1e-6
    integer units (Page et al. 1999; the GraphX/Pregel message-passing
    shape re-expressed as DataFrame join + groupBy).

    Graph: ``_edges`` over all of lineitem.  Bidirectional edges mean
    every node in the degree frame both sends and receives, so there are
    no dangling-mass corrections to disagree on; the LEFT JOIN + COALESCE
    guards the recurrence anyway.

    Determinism: each step is `teleport + (85 * sum(r div deg)) div 100` —
    integer division truncates identically in Spark (`div`) and DuckDB
    (`//`), and the per-destination SUM is an integer sum, order-independent
    at any parallelism (the module-header discipline).

    Output: top-{PAGERANK_TOPK} nodes by final rank with a total tie-break
    (rank DESC, node) so the LIMIT frontier is deterministic.  Spark
    executes orderBy+limit as TakeOrderedAndProject — per-partition
    partial top-k then a driver merge of k-row heads, never a global sort.

    Scale (reshaped in round 13 after the r12 drift gate flagged a
    persisting slowdown: 12 joins → 8): the rank frame CARRIES deg, so an
    iteration is exactly two joins — edges⋈shares (src-keyed) feeding the
    groupBy(dst) partial-combined sum, then deg⋈sums (node-keyed, left) to
    apply the recurrence and re-emit deg for the next iteration's share
    division.  The old shape paid a third join (rank⋈deg) per iteration
    plus a tail rank⋈deg; both are gone, and the rank frame still enters
    each new iteration exactly once, so lineage stays LINEAR in the
    iteration count.  The edge frame is persisted pre-partitioned on src,
    so no iteration re-shuffles edges.  Rank state is one BIGINT per
    node.  AQE skew-split covers hot nodes."""
    edges = scope.persist(_edges(spark, sf_dir))
    # deg doubles as the node universe (every node has outgoing edges on
    # this bidirectional graph); persisted because each iteration's left
    # join re-reads it and exchange reuse does not survive AQE replans
    deg = scope.persist(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("src", "node")
    )
    r = deg.select("node", "deg", F.lit(1_000_000).cast("long").alias("r"))
    for _ in range(PAGERANK_ITERS):
        rd = r.select(
            F.col("node").alias("src"), F.expr("r div deg").alias("share")
        )
        s = (
            edges.join(rd, "src")
            .groupBy("dst")
            .agg(F.sum("share").alias("s"))
            .withColumnRenamed("dst", "node")
        )
        r = deg.join(s, "node", "left").select(
            "node",
            "deg",
            (
                F.lit(PAGERANK_TELEPORT_E6)
                + F.expr("(85 * coalesce(s, 0L)) div 100")
            )
            .cast("long")
            .alias("r"),
        )
    out = (
        r.orderBy(F.desc("r"), "node")
        .select(
            _kind("node").alias("kind"),
            _key("node").alias("key"),
            F.col("deg").cast("long").alias("deg"),
            F.col("r").alias("rank_e6"),
        )
        .limit(PAGERANK_TOPK)
    )
    return out


# --------------------------------------------------------------------------
# Triangle counting via degree-ordered wedge closure.
# --------------------------------------------------------------------------
TRI_BUCKETS = 16


BASKET_CAP = 256  # max distinct parts per order entering pair expansion


def _duck_triangle_oracle() -> str:
    # rank comparison (deg, node) lexicographic, spelled as explicit
    # booleans so both engines run literally the same predicate
    lt_uv = "(du.deg < dv.deg OR (du.deg = dv.deg AND u < v))"
    return f"""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
        FROM lineitem
    ),
    grp AS MATERIALIZED (
        SELECT o, list_sort(list(p))[1:{BASKET_CAP}] AS ps FROM li GROUP BY o
    ),
    tok AS MATERIALIZED (
        SELECT o, unnest(ps) AS p FROM grp
    ),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM tok a JOIN tok b ON a.o = b.o AND a.p < b.p
    ),
    deg AS MATERIALIZED (
        SELECT x AS node, COUNT(*) AS deg
        FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY x
    ),
    fwd AS MATERIALIZED (
        SELECT CASE WHEN {lt_uv} THEN u ELSE v END       AS a,
               CASE WHEN {lt_uv} THEN v ELSE u END       AS b,
               CASE WHEN {lt_uv} THEN dv.deg ELSE du.deg END AS deg_b
        FROM e0
        JOIN deg du ON du.node = e0.u
        JOIN deg dv ON dv.node = e0.v
    ),
    w AS (
        SELECT w1.a AS pivot, w1.b AS b1, w2.b AS b2
        FROM fwd w1 JOIN fwd w2
          ON w1.a = w2.a
         AND (w1.deg_b < w2.deg_b OR (w1.deg_b = w2.deg_b AND w1.b < w2.b))
    ),
    tri AS (
        SELECT LEAST(w.pivot, w.b1, w.b2) AS least_p
        FROM w JOIN fwd f ON f.a = w.b1 AND f.b = w.b2
    )
    SELECT least_p % {TRI_BUCKETS}        AS bucket,
           CAST(COUNT(*) AS BIGINT)       AS n_tri,
           CAST(SUM(least_p) AS BIGINT)   AS sum_min_part
    FROM tri
    GROUP BY bucket
    ORDER BY bucket
    """


@query("graph_triangle_count", oracle=_duck_triangle_oracle())
@scoped
def graph_triangle_count(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Triangle counting over the parts-co-ordered-together graph by
    degree-ordered wedge closure (Schank & Wagner 2005; Suri &
    Vassilvitskii 2011 "Counting Triangles and the Curse of the Last
    Reducer") — the clustering-coefficient primitive graph-curation
    pipelines use to find tightly-bundled communities (co-cited documents,
    co-purchased products, boilerplate cliques).

    Algorithm: orient every undirected edge from its lower-(degree, id)
    endpoint to the higher one.  Every triangle then has exactly ONE
    vertex with two outgoing oriented edges (its lowest-rank corner), so
    wedges generated by self-joining the oriented edge list on that pivot
    enumerate each triangle once, and a final join against the edge set
    closes them.  The degree ordering is the scale guarantee: a hot
    vertex of degree d contributes wedges only through neighbors of rank
    ABOVE it, bounding per-pivot fan-out by O(sqrt(m)) instead of d^2 —
    the "last reducer" fix.  Measured on this corpus the wedge stream
    grows LINEARLY with the data (3.9M wedges at sf0.01 -> 41M at sf0.1,
    10.6x for 10x the rows; 22.2 s -> 5.8 s warm after the shape tuning
    below).

    Plan shape (each choice measured at sf0.1):
      - pair expansion via groupBy(order).collect_set + map-side
        combination explode — one exchange where the naive self-join on
        l_orderkey costs two (per-order line counts are constant-bounded,
        so the expansion is ~21 pairs/order, never quadratic in the
        corpus);
      - both graph self-joins carry SHUFFLE_HASH hints: sort-merge would
        sort the 41M-row wedge stream for no reuse (measured 2x slower);
        the wedge self-join's two sides are the same persisted frame, so
        Spark reuses one exchange;
      - the closure key is the PACKED (b1 << 32 | b2) BIGINT — 8 bytes on
        the wire instead of 16 and a single-column join key the runtime
        bloom-filter injection can push into the wedge stream (4.6% of
        wedges survive closure).  Node ids outside [0, 2^31) would
        corrupt the packing, so an assert_true guard fails the scan fast
        (the dedup_span_novelty round-11 discipline); wider-id corpora
        use the unpacked two-column join.

    Output: triangle counts and exact id-sums bucketed by the triangle's
    smallest part id — {TRI_BUCKETS} rows whose values move if ANY stage
    (pair expansion, dedup, degree, orientation, closure) is wrong on
    either engine."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
    )
    grp = li.groupBy("o").agg(
        F.expr(f"slice(sort_array(collect_set(p)), 1, {BASKET_CAP})").alias("ps")
    )
    pairs = grp.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
            )
        ).alias("e")
    ).select("e.u", "e.v")
    e0 = scope.persist(pairs.distinct())
    deg = (
        e0.select(F.col("u").alias("x"))
        .unionAll(e0.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("dv"))
    lt_uv = F.expr("du < dv OR (du = dv AND u < v)")
    # packing guard: ids must fit 31 bits for (b1 << 32 | b2); assert_true
    # raises on the first offending row, COALESCE keeps it unprunable
    guard = (
        "COALESCE(CAST(assert_true(u >= 0 AND u < 2147483648L"
        " AND v >= 0 AND v < 2147483648L,"
        " 'graph_triangle_count: part id outside [0, 2^31) overflows the"
        " packed (b1 << 32 | b2) closure key - use the unpacked two-column"
        " join') AS BIGINT), 0L)"
    )
    fwd = scope.persist(
        e0.join(du, "u")
        .join(dv, "v")
        .select(
            (F.when(lt_uv, F.col("u")).otherwise(F.col("v")) + F.expr(guard)).alias(
                "a"
            ),
            F.when(lt_uv, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(lt_uv, F.col("dv")).otherwise(F.col("du")).alias("deg_b"),
        )
    )
    w1 = fwd.select(
        F.col("a").alias("pivot"), F.col("b").alias("b1"), F.col("deg_b").alias("d1")
    )
    w2 = fwd.select(
        F.col("a").alias("pivot"), F.col("b").alias("b2"), F.col("deg_b").alias("d2")
    )
    wedges = (
        w1.join(w2.hint("SHUFFLE_HASH"), "pivot")
        .filter(F.expr("d1 < d2 OR (d1 = d2 AND b1 < b2)"))
        .select("pivot", F.expr("shiftleft(b1, 32) | b2").alias("bb"))
    )
    fbb = fwd.select(F.expr("shiftleft(a, 32) | b").alias("bb"))
    closed = wedges.join(fbb.hint("SHUFFLE_HASH"), "bb").select(
        F.least(
            "pivot", F.expr("shiftright(bb, 32)"), F.expr("bb & 4294967295L")
        ).alias("least_p")
    )
    out = (
        closed.groupBy((F.col("least_p") % TRI_BUCKETS).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum("least_p").alias("sum_min_part"),
        )
        .orderBy("bucket")
    )
    return out


# --------------------------------------------------------------------------
# Multi-source BFS hop levels via frontier expansion.
# --------------------------------------------------------------------------
BFS_HOPS = 3
BFS_SEED_MOD = 100  # part nodes with partkey % 100 == 1 seed the search


def _duck_bfs_oracle() -> str:
    """Unrolled frontier CTEs: l{i+1} = neighbors(l{i}) \\ visited(0..i),
    the exact set recurrence the Spark loop runs (anti-join spelled as
    EXCEPT — both are set difference on the node id)."""
    ctes = [
        _duck_edges(),
        f"""l0 AS MATERIALIZED (
            SELECT DISTINCT src AS node FROM e
            WHERE src % 2 = 0 AND (src // 2) % {BFS_SEED_MOD} = 1
        )""",
        "v0 AS (SELECT node FROM l0)",
    ]
    for i in range(BFS_HOPS):
        ctes.append(
            f"""l{i + 1} AS MATERIALIZED (
            SELECT DISTINCT e.dst AS node FROM e
            JOIN l{i} ON e.src = l{i}.node
            EXCEPT SELECT node FROM v{i}
        )"""
        )
        ctes.append(
            f"v{i + 1} AS (SELECT node FROM v{i} UNION ALL SELECT node FROM l{i + 1})"
        )
    lvls = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS lvl, node FROM l{i}"
        for i in range(BFS_HOPS + 1)
    )
    return f"""
    WITH {','.join(ctes)},
    lv AS ({lvls})
    SELECT lvl,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           CAST(COUNT(*) AS BIGINT)      AS n_nodes,
           CAST(SUM(node // 2) AS BIGINT) AS sum_key,
           CAST(MIN(node // 2) AS BIGINT) AS min_key,
           CAST(MAX(node // 2) AS BIGINT) AS max_key
    FROM lv
    GROUP BY lvl, kind
    ORDER BY lvl, kind
    """


@query("graph_bfs_levels", oracle=_duck_bfs_oracle())
@scoped
def graph_bfs_levels(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """Multi-source breadth-first hop levels over the part<->supplier
    graph — the Pregel frontier-expansion shape (Malewicz 2010) as
    DataFrame joins: level i+1 is the distinct neighbor set of level i
    minus everything already visited.  Training-data pipelines use
    exactly this for seed-set expansion (grow a trusted-domain crawl
    frontier K hops out) and contamination blast-radius audits (which
    documents sit within K links of a benchmark page).

    Seeds: part nodes with partkey % {BFS_SEED_MOD} == 1 — deterministic,
    present at every scale factor.  {BFS_HOPS} hops; on the bipartite
    graph odd levels are suppliers, even levels parts, which the output's
    ``kind`` column makes visible (and the oracle must agree on).

    Determinism: pure set algebra on BIGINT node ids — no floats, no
    ordering hazard at any parallelism.  The Spark anti-join and the
    oracle's EXCEPT are the same set difference.

    Scale (the design question for BFS at 100 TB): each hop is one
    src-keyed equi-join of the persisted, src-partitioned edge frame
    against the CURRENT frontier (the frontier is usually a
    broadcast-sized fraction of the graph) plus one anti-join against the
    visited set — node-keyed, so AQE plans both as broadcast while the
    frontier is small and falls back to shuffle-hash when it saturates.
    Hop count is a bounded constant, so lineage stays flat without
    checkpointing; the visited set is re-persisted per hop and every
    per-hop frontier is a distinct-deduped node list, never the edge
    multiset."""
    edges = scope.persist(_edges(spark, sf_dir))
    frontier = scope.persist(
        edges.filter((_kind("src") == "part") & (_key("src") % BFS_SEED_MOD == 1))
        .select(F.col("src").alias("node"))
        .distinct()
    )
    visited = scope.persist(frontier.withColumn("lvl", F.lit(0).cast("long")))
    for i in range(BFS_HOPS):
        nxt = scope.persist(
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        visited = scope.persist(
            visited.union(nxt.withColumn("lvl", F.lit(i + 1).cast("long")))
        )
        frontier = nxt
    out = (
        visited.groupBy("lvl", _kind("node").alias("kind"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(_key("node")).alias("sum_key"),
            F.min(_key("node")).alias("min_key"),
            F.max(_key("node")).alias("max_key"),
        )
        .orderBy("lvl", "kind")
    )
    return out


# --------------------------------------------------------------------------
# Connected components via min-label propagation with pointer jumping.
# --------------------------------------------------------------------------
CC_ROUNDS = 6  # hop+jump reach doubles per round; measured convergence <= 5
CC_EDGE_FILTER = "l_quantity <= 3 AND l_discount = 0.00"


def _duck_cc_oracle() -> str:
    """Unrolled label-propagation CTEs: per round, m_i = min(own label,
    neighbor labels) then l_{i+1} = min(m_i, m_i[m_i]) — the exact integer
    recurrence the Spark loop runs (every step a MIN over BIGINT node ids,
    order-independent at any parallelism)."""
    ctes = [
        _duck_edges(CC_EDGE_FILTER),
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM e)",
    ]
    for i in range(CC_ROUNDS):
        ctes.append(
            f"""nb{i} AS (
            SELECT e.dst AS node, MIN(l.lbl) AS nmin
            FROM e JOIN l{i} l ON l.node = e.src GROUP BY e.dst
        )"""
        )
        ctes.append(
            f"""m{i} AS MATERIALIZED (
            SELECT l.node, LEAST(l.lbl, COALESCE(nb.nmin, l.lbl)) AS ml
            FROM l{i} l LEFT JOIN nb{i} nb USING (node)
        )"""
        )
        ctes.append(
            f"""l{i + 1} AS MATERIALIZED (
            SELECT a.node, LEAST(a.ml, COALESCE(b.ml, a.ml)) AS lbl
            FROM m{i} a LEFT JOIN m{i} b ON b.node = a.ml
        )"""
        )
    return f"""
    WITH {','.join(ctes)},
    chg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_unconverged
        FROM l{CC_ROUNDS} f JOIN l{CC_ROUNDS - 1} p USING (node)
        WHERE f.lbl <> p.lbl
    ),
    comp AS (
        SELECT lbl AS component,
               COUNT(*)                                    AS n_nodes,
               SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS n_part,
               SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS n_supplier
        FROM l{CC_ROUNDS} GROUP BY lbl
    )
    SELECT CAST(n_nodes AS BIGINT)        AS size,
           CAST(COUNT(*) AS BIGINT)       AS n_components,
           CAST(SUM(component) AS BIGINT) AS sum_label,
           CAST(SUM(n_part) AS BIGINT)    AS n_part,
           CAST(SUM(n_supplier) AS BIGINT) AS n_supplier,
           chg.n_unconverged              AS n_unconverged
    FROM comp CROSS JOIN chg
    GROUP BY n_nodes, chg.n_unconverged
    ORDER BY size
    """


@query("graph_connected_components", oracle=_duck_cc_oracle())
@scoped
def graph_connected_components(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Connected components of the sparse co-purchase subgraph (edges where
    {CC_EDGE_FILTER}: a multi-component forest at every SF) by min-label
    propagation with POINTER JUMPING — per round every node takes the min
    label over itself and its neighbors (one hop), then shortcuts through
    its own label's label (m[m[v]], the Shiloach-Vishkin / large-star
    doubling step, cf. Kiveris 2014 "Connected Components in MapReduce"),
    so reachable-label distance doubles per round and {CC_ROUNDS} rounds
    cover components ~2^{CC_ROUNDS} hops wide.  The third classic graph
    primitive next to pagerank/BFS — dedup pipelines resolve near-dup
    GROUPS exactly this way (dedup_resolve_groups is this recurrence over
    the LSH pair graph).

    Convergence is MEASURED, not assumed: ``n_unconverged`` (labels still
    moving in the final round — 0 at every tested SF) rides every output
    row, so an under-iterated run is visible in the result instead of
    silently mislabeling (the no-silent-caps discipline).

    Output: the component-size histogram with exact label/kind sums —
    bounded rows at any corpus size, and any wrong label anywhere moves
    sum_label.

    Determinism: every step is MIN over BIGINT node ids — engine- and
    order-independent.

    Scale: per round, one edge⋈labels equi-join + groupBy(dst) partial MIN
    (the Pregel shape, linear in edges) plus one label self-join (linear
    in nodes); the label frames are one row per node and each round's is
    checkpointed (``_supersteps``; m, referenced twice per round, is
    persisted too).  Pointer jumping is what bounds the round count at
    web scale — plain hop propagation needs diameter rounds, doubling
    needs log(diameter)."""
    # r17 (guide §2.2): the whole build loop runs under an input-derived
    # shuffle-partition count — every round's frontier frame is tiny
    # relative to the source, and the per-round AQE stage materializations
    # were scheduling 32+ tasks each for kilobytes of labels.  Measured at
    # sf0.1 (tools/exp_iter_parts.py, result fingerprints identical):
    # 6.60 → 3.36 s warm median.  MIN-over-BIGINT label algebra is
    # partition-count-independent by construction.
    with shuffle_partitions(spark, derived_shuffle_partitions(sf_dir, ["lineitem"])):
        edges = scope.persist(_edges(spark, sf_dir, CC_EDGE_FILTER))

        def hop_and_jump(l: DataFrame) -> DataFrame:
            nb = (
                edges.join(
                    l.select(F.col("node").alias("src"), F.col("lbl").alias("slbl")),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("slbl").alias("nmin"))
                .withColumnRenamed("dst", "node")
            )
            m = scope.persist(
                l.join(nb, "node", "left")
                .select(
                    "node",
                    F.least(F.col("lbl"), F.coalesce("nmin", "lbl")).alias("ml"),
                )
            )
            j = m.select(F.col("node").alias("jn"), F.col("ml").alias("jl"))
            return m.join(j, m.ml == j.jn, "left").select(
                "node",
                F.least(F.col("ml"), F.coalesce("jl", "ml")).alias("lbl"),
            )

        nodes = edges.select(F.col("src").alias("node")).distinct()
        l, prev = _supersteps(
            scope, nodes.select("node", F.col("node").alias("lbl")), hop_and_jump, CC_ROUNDS
        )
    chg = (
        l.select("node", "lbl")
        .join(prev.select("node", F.col("lbl").alias("plbl")), "node")
        .filter(F.col("lbl") != F.col("plbl"))
        .agg(F.count(F.lit(1)).alias("n_unconverged"))
    )
    comp = l.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum((_kind("node") == "part").cast("long")).alias("n_part"),
        F.sum((_kind("node") == "supplier").cast("long")).alias("n_supplier"),
    )
    out = (
        comp.crossJoin(F.broadcast(chg))
        .groupBy(
            F.col("n_nodes").cast("long").alias("size"),
            F.col("n_unconverged").cast("long").alias("n_unconverged"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum("component").alias("sum_label"),
            F.sum("n_part").cast("long").alias("n_part"),
            F.sum("n_supplier").cast("long").alias("n_supplier"),
        )
        .select(
            "size", "n_components", "sum_label", "n_part", "n_supplier",
            "n_unconverged",
        )
        .orderBy("size")
    )
    return out


# --------------------------------------------------------------------------
# Personalized PageRank: teleport restricted to a seed set.
# --------------------------------------------------------------------------
PPR_ITERS = 4
PPR_SEED_MOD = 100  # part nodes with partkey % 100 == 1 (the BFS seed set)
PPR_TOPK = 100


def _duck_ppr_oracle() -> str:
    """Unrolled chained-CTE oracle for the seeded recurrence
    r' = (seed ? teleport : 0) + 85·Σ(r div deg) div 100 — identical
    integer arithmetic to graph_pagerank with the teleport mass
    restricted to the seed set (Page 1999 §6 personalized vector)."""
    ctes = [
        _duck_edges(),
        "deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src)",
        f"""sd AS MATERIALIZED (
            SELECT node,
                   CASE WHEN node % 2 = 0 AND (node // 2) % {PPR_SEED_MOD} = 1
                        THEN 1 ELSE 0 END AS is_seed
            FROM deg
        )""",
        """r0 AS (SELECT node,
                  CAST(is_seed * 1000000 AS BIGINT) AS r FROM sd)""",
    ]
    for i in range(PPR_ITERS):
        ctes.append(
            f"""r{i + 1} AS (
            SELECT d.node,
                   CAST(sd.is_seed * {PAGERANK_TELEPORT_E6}
                        + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
            FROM deg d
            JOIN sd ON sd.node = d.node
            LEFT JOIN (
                SELECT e.dst AS node, SUM(rd.r // rd.deg) AS s
                FROM e
                JOIN (SELECT r.node, r.r, g.deg
                      FROM r{i} r JOIN deg g ON g.node = r.node) rd
                  ON rd.node = e.src
                GROUP BY e.dst
            ) s ON s.node = d.node
        )"""
        )
    return f"""
    WITH {','.join(ctes)}
    SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           node // 2                       AS key,
           sd.is_seed = 1                  AS is_seed,
           r.r                             AS rank_e6
    FROM r{PPR_ITERS} r JOIN sd USING (node)
    WHERE r.r > 0
    ORDER BY rank_e6 DESC, node
    LIMIT {PPR_TOPK}
    """


@query("graph_personalized_pagerank", oracle=_duck_ppr_oracle())
@scoped
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """PERSONALIZED PageRank: the teleport vector is restricted to the seed
    set (part nodes with partkey % {PPR_SEED_MOD} == 1 — the same seeds
    graph_bfs_levels expands), so the stationary mass measures proximity
    TO THE SEEDS rather than global centrality (Page et al. 1999 §6;
    Haveliwala 2002 topic-sensitive PageRank).  This is the WEIGHTED form
    of the contamination-blast-radius question BFS answers in hops: how
    much of a benchmark/trusted seed set's influence reaches each document,
    with distance discounted by 0.85 per hop — the seed-expansion scoring
    CommonCrawl-style curation uses to weight crawl frontiers.

    Same exact-integer recurrence and plan shape as graph_pagerank (deg
    carried in the rank frame, two joins per iteration, src-prepartitioned
    persisted edges, linear lineage) with two deltas: rank initializes to
    1e6 on seeds / 0 elsewhere, and the teleport term multiplies an
    is_seed flag carried in the rank frame.  Unreached nodes hold rank
    exactly 0 (integer arithmetic, no epsilon) and are filtered — at
    {PPR_ITERS} iterations the support is exactly the BFS
    ≤{PPR_ITERS}-hop ball, which the oracle must agree on row-for-row.

    Output: top-{PPR_TOPK} by rank with total (rank DESC, node) order —
    TakeOrderedAndProject, never a global sort."""
    edges = scope.persist(_edges(spark, sf_dir))
    deg = scope.persist(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("src", "node")
        .withColumn(
            "is_seed",
            ((_kind("node") == "part") & (_key("node") % PPR_SEED_MOD == 1)).cast("long"),
        )
    )
    r = deg.select(
        "node", "deg", "is_seed",
        (F.col("is_seed") * 1_000_000).cast("long").alias("r"),
    )
    for _ in range(PPR_ITERS):
        rd = r.select(
            F.col("node").alias("src"), F.expr("r div deg").alias("share")
        )
        s = (
            edges.join(rd, "src")
            .groupBy("dst")
            .agg(F.sum("share").alias("s"))
            .withColumnRenamed("dst", "node")
        )
        r = deg.join(s, "node", "left").select(
            "node",
            "deg",
            "is_seed",
            (
                F.col("is_seed") * PAGERANK_TELEPORT_E6
                + F.expr("(85 * coalesce(s, 0L)) div 100")
            )
            .cast("long")
            .alias("r"),
        )
    out = (
        r.filter(F.col("r") > 0)
        .orderBy(F.desc("r"), "node")
        .select(
            _kind("node").alias("kind"),
            _key("node").alias("key"),
            (F.col("is_seed") == 1).alias("is_seed"),
            F.col("r").alias("rank_e6"),
        )
        .limit(PPR_TOPK)
    )
    return out


# --------------------------------------------------------------------------
# Weighted seeded shortest paths: bounded-hop Bellman-Ford.
# --------------------------------------------------------------------------
# 8 rounds: weighted relaxation needs cheapest-path HOP length, not
# diameter — measured convergence depth 5/5/6 at sf0.001/0.01/0.1 and 7 on
# the skew-staged ×100 graph (a cheaper long path kept improving distances
# the 6-round draft missed there; the n_improved_last audit caught it).
SSSP_HOPS = 8
SSSP_SEED_MOD = 100  # the PPR/BFS seed set: part nodes, partkey % 100 == 1


def _duck_sssp_oracle() -> str:
    """Unrolled chained-CTE Bellman-Ford: d_{i+1}(v) = MIN(d_i(v),
    MIN over edges (u,v) of d_i(u) + w(u,v)) — the textbook relaxation
    (Bellman 1958) with every distance an exact BIGINT.  Each round's
    frame is referenced twice (carry + relax), so every CTE is
    MATERIALIZED (DuckDB inlines per reference otherwise)."""
    ctes = [
        _duck_edges(weighted=True),
        f"""d0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM e
            WHERE src % 2 = 0 AND (src // 2) % {SSSP_SEED_MOD} = 1
        )""",
    ]
    for i in range(SSSP_HOPS):
        ctes.append(
            f"""d{i + 1} AS MATERIALIZED (
            SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d{i}
                UNION ALL
                SELECT e.dst AS node, d{i}.dist + e.w AS dist
                FROM e JOIN d{i} ON e.src = d{i}.node
            ) GROUP BY node
        )"""
        )
    h, p = SSSP_HOPS, SSSP_HOPS - 1
    return f"""
    WITH {','.join(ctes)},
    chg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_improved_last
        FROM d{h} a LEFT JOIN d{p} b USING (node)
        WHERE b.node IS NULL OR a.dist < b.dist
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           dist // 10                       AS dist_bucket,
           CAST(COUNT(*) AS BIGINT)         AS n_nodes,
           CAST(SUM(dist) AS BIGINT)        AS sum_dist,
           CAST(SUM(node // 2) AS BIGINT)   AS sum_key,
           (SELECT n_improved_last FROM chg) AS n_improved_last
    FROM d{h}
    GROUP BY 1, 2
    ORDER BY kind, dist_bucket
    """


@query("graph_sssp_weighted", oracle=_duck_sssp_oracle())
@scoped
def graph_sssp_weighted(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """Weighted seeded SHORTEST PATHS over the part<->supplier graph —
    bounded-hop Bellman-Ford (Bellman 1958; the Pregel SSSP example in
    Malewicz 2010): BFS gives hops and PPR gives discounted mass; this is
    the remaining classic — cheapest-lane distance with integer edge
    weights w(p, s) = MIN(l_quantity) over the pair's lineitems (1..50,
    exact BIGINT).  Seeds are the BFS/PPR seed set (part nodes with
    partkey % {SSSP_SEED_MOD} == 1, dist 0), so the three primitives
    answer the same blast-radius question in hops, mass, and distance.

    Convergence is MEASURED, not assumed: ``n_improved_last`` (nodes whose
    distance appeared or improved in the FINAL relaxation round) rides
    every row — 0 means every distance in the ≤{SSSP_HOPS}-hop ball is
    final; anything else is visible in the result instead of silently
    wrong (the no-silent-caps discipline, same as connected components).

    Determinism: relaxation is MIN over BIGINT sums — engine- and
    order-independent, no floats, no tie hazard.

    Scale: per round, ONE edges⋈dist equi-join (src-keyed, edges
    pre-partitioned and persisted) + one groupBy(node) partial MIN whose
    map side collapses to one row per node per task — the Pregel message
    volume, linear in edges.  Each round's dist frame is referenced twice
    (carry + relax) and checkpointed (``_supersteps``).  Output is the
    bounded per-(kind, dist-decile) histogram: dist <= {SSSP_HOPS}*50, so
    dist div 10 spans buckets 0..{SSSP_HOPS}*5 — <= 2*({SSSP_HOPS}*5+1)
    rows at any corpus size."""
    # r17 (guide §2.2): input-derived shuffle partitions for the relax loop
    # — measured at sf0.1 (tools/exp_iter_parts.py, fingerprints identical):
    # 5.79 → 3.20 s warm median.  MIN-over-BIGINT relaxation is
    # partition-count-independent by construction.
    with shuffle_partitions(spark, derived_shuffle_partitions(sf_dir, ["lineitem"])):
        edges = scope.persist(_edges(spark, sf_dir, weighted=True))

        def relax(dist: DataFrame) -> DataFrame:
            hop = edges.join(dist.withColumnRenamed("node", "src"), "src").select(
                F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
            )
            return dist.unionByName(hop).groupBy("node").agg(F.min("dist").alias("dist"))

        seeds = (
            edges.filter((_kind("src") == "part") & (_key("src") % SSSP_SEED_MOD == 1))
            .select(F.col("src").alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
        )
        dist, prev = _supersteps(scope, seeds, relax, SSSP_HOPS)
    chg = (
        dist.join(
            prev.select("node", F.col("dist").alias("pdist")), "node", "left"
        )
        .filter(F.col("pdist").isNull() | (F.col("dist") < F.col("pdist")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_improved_last"))
    )
    out = (
        dist.groupBy(_kind("node").alias("kind"), F.expr("dist div 10").alias("dist_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.sum(_key("node")).cast("long").alias("sum_key"),
        )
        .crossJoin(F.broadcast(chg))
        .select(
            "kind", "dist_bucket", "n_nodes", "sum_dist", "sum_key",
            "n_improved_last",
        )
        .orderBy("kind", "dist_bucket")
    )
    return out


# --------------------------------------------------------------------------
# k-core decomposition: iterative peeling to the 2-core.
# --------------------------------------------------------------------------
KCORE_K = 2
KCORE_ROUNDS = 10  # > measured peel depth at every tested SF (2/3/7)
KCORE_EDGE_FILTER = "l_quantity <= 15 AND l_discount = 0.00"


def _duck_kcore_oracle() -> str:
    """Unrolled peeling CTEs: alive_{i+1} = nodes of alive_i whose degree
    WITHIN alive_i is >= k (Seidman 1983; the standard iterative-peeling
    formulation).  Each alive frame is referenced twice per round (both
    endpoints), so every CTE is MATERIALIZED."""
    ctes = [
        _duck_edges(KCORE_EDGE_FILTER),
        "a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)",
    ]
    for i in range(KCORE_ROUNDS):
        ctes.append(
            f"""a{i + 1} AS MATERIALIZED (
            SELECT e.src AS node FROM e
            JOIN a{i} x ON x.node = e.src
            JOIN a{i} y ON y.node = e.dst
            GROUP BY e.src HAVING COUNT(*) >= {KCORE_K}
        )"""
        )
    h, p = KCORE_ROUNDS, KCORE_ROUNDS - 1
    return f"""
    WITH {','.join(ctes)},
    chg AS (
        SELECT CAST((SELECT COUNT(*) FROM a{p}) - (SELECT COUNT(*) FROM a{h})
                    AS BIGINT) AS n_removed_last
    ),
    cd AS (
        SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM e
        JOIN a{h} x ON x.node = e.src
        JOIN a{h} y ON y.node = e.dst
        GROUP BY e.src
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           CAST(COUNT(*) AS BIGINT)       AS n_nodes,
           CAST(SUM(node // 2) AS BIGINT) AS sum_key,
           CAST(SUM(core_deg) AS BIGINT)  AS sum_core_deg,
           CAST(MAX(core_deg) AS BIGINT)  AS max_core_deg,
           (SELECT n_removed_last FROM chg) AS n_removed_last
    FROM cd
    GROUP BY 1
    ORDER BY kind
    """


@query("graph_kcore", oracle=_duck_kcore_oracle())
@scoped
def graph_kcore(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """{KCORE_K}-CORE decomposition by iterative peeling (Seidman 1983;
    Batagelj-Zaversnik 2003): repeatedly delete nodes with fewer than
    {KCORE_K} surviving neighbors until a fixpoint — the maximal subgraph
    where every node keeps >= {KCORE_K} in-subgraph edges.  Corpus
    curation uses exactly this to separate structurally-embedded entities
    from peripheral leaves (link-graph quality cores, dense community
    seeds) — degree alone can't: a degree-5 node hanging off a chain of
    leaves peels away, a degree-2 node on a cycle survives.

    Graph: the {KCORE_EDGE_FILTER!r} part<->supplier subgraph — sparse
    enough that peeling cascades (measured 2/3/7 peel rounds at
    sf0.001/0.01/0.1) and leaves a non-trivial core at every SF.

    Convergence is MEASURED: ``n_removed_last`` (nodes peeled in the final
    round — 0 at every tested SF) rides every row, the CC/SSSP audit
    discipline.  Determinism: pure set algebra + integer degree counts.

    Scale: per round, the survivor set meets the edge frame through TWO
    hash equi-joins (src- and dst-membership) and one groupBy(src) count
    — linear in surviving edges, and the frame only shrinks.  The alive
    frame is referenced twice per round and checkpointed
    (``_supersteps``).  Peeling needs O(peel-depth) rounds, not
    O(diameter); the audit column makes an under-iterated run visible."""
    edges = scope.persist(_edges(spark, sf_dir, KCORE_EDGE_FILTER))

    def core_degree(alive: DataFrame) -> DataFrame:
        """``core_deg`` of every alive src: its edges to alive nodes."""
        return (
            edges.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        )

    def peel(alive: DataFrame) -> DataFrame:
        return (
            core_degree(alive)
            .filter(F.col("core_deg") >= KCORE_K)
            .select(F.col("src").alias("node"))
        )

    alive, prev = _supersteps(
        scope, edges.select(F.col("src").alias("node")).distinct(), peel, KCORE_ROUNDS
    )
    chg = (
        prev.agg(F.count(F.lit(1)).alias("np"))
        .crossJoin(F.broadcast(alive.agg(F.count(F.lit(1)).alias("nh"))))
        .select((F.col("np") - F.col("nh")).cast("long").alias("n_removed_last"))
    )
    out = (
        core_degree(alive)
        .groupBy(_kind("src").alias("kind"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(_key("src")).cast("long").alias("sum_key"),
            F.sum("core_deg").cast("long").alias("sum_core_deg"),
            F.max("core_deg").cast("long").alias("max_core_deg"),
        )
        .crossJoin(F.broadcast(chg))
        .select(
            "kind", "n_nodes", "sum_key", "sum_core_deg", "max_core_deg",
            "n_removed_last",
        )
        .orderBy("kind")
    )
    return out


# --------------------------------------------------------------------------
# Label-propagation community detection (synchronous, color-alternating).
# --------------------------------------------------------------------------
LPA_ROUNDS = 4
LPA_EDGE_FILTER = "l_quantity <= 10 AND l_tax = 0.00"


def _duck_lpa_oracle() -> str:
    """Unrolled LPA rounds.  Each round is TWO color half-steps (parts then
    suppliers — the bipartite 2-coloring), each half-step the exact
    min-mode vote the Spark loop runs: per updating node, the neighbor
    label with the highest count, ties to the LOWER label (the
    agg_mode_exact tie-break).  Every label frame is referenced by the
    vote join AND the carry union, so all CTEs are MATERIALIZED."""
    ctes = [
        _duck_edges(LPA_EDGE_FILTER),
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM e)",
    ]
    cur = "l0"
    for i in range(LPA_ROUNDS):
        for phase, color in (("a", 0), ("b", 1)):
            nxt = f"l{i}{phase}" if phase == "a" else f"l{i + 1}"
            ctes.append(
                f"""u{i}{phase} AS MATERIALIZED (
                SELECT node, nl AS lbl FROM (
                    SELECT e.dst AS node, l.lbl AS nl,
                           ROW_NUMBER() OVER (
                               PARTITION BY e.dst
                               ORDER BY COUNT(*) DESC, l.lbl) AS rn
                    FROM e JOIN {cur} l ON l.node = e.src
                    WHERE e.dst % 2 = {color}
                    GROUP BY e.dst, l.lbl)
                WHERE rn = 1
            )"""
            )
            ctes.append(
                f"""{nxt} AS MATERIALIZED (
                SELECT node, lbl FROM u{i}{phase}
                UNION ALL
                SELECT node, lbl FROM {cur} WHERE node % 2 = {1 - color}
            )"""
            )
            cur = nxt
    h, p = f"l{LPA_ROUNDS}", f"l{LPA_ROUNDS - 1}"
    return f"""
    WITH {','.join(ctes)},
    chg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_changed_last
        FROM {h} a JOIN {p} b ON a.node = b.node
        WHERE a.lbl <> b.lbl
    ),
    sizes AS MATERIALIZED (
        SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz FROM {h} GROUP BY lbl
    )
    SELECT CASE WHEN f.node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           CAST(COUNT(*) AS BIGINT)              AS n_nodes,
           CAST(COUNT(DISTINCT f.lbl) AS BIGINT) AS n_communities,
           CAST(SUM(f.lbl // 2) AS BIGINT)       AS sum_label_key,
           CAST(MAX(s.sz) AS BIGINT)             AS max_comm_size,
           (SELECT n_changed_last FROM chg)      AS n_changed_last
    FROM {h} f JOIN sizes s ON s.lbl = f.lbl
    GROUP BY 1
    ORDER BY kind
    """


@query("graph_lpa_communities", oracle=_duck_lpa_oracle())
@scoped
def graph_lpa_communities(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """LABEL-PROPAGATION community detection (Raghavan et al. 2007) —
    the fifth classic graph primitive (r14 verdict #6): every node starts
    as its own community, then repeatedly adopts its neighbors' MODE
    label.  Curation pipelines use exactly this for domain clustering —
    grouping sources/documents into link communities so a sampling mixture
    can be balanced per community rather than per raw domain.

    Determinism (the LPA literature's known gap — random tie-break and
    update order): (a) ties go to the LOWEST label among max-count — the
    agg_mode_exact tie-break, a total order since labels are unique within
    a node's vote frame; (b) updates are SEMI-synchronous by the bipartite
    2-coloring (parts then suppliers per round) — synchronous LPA
    oscillates 2-cycles on bipartite graphs (Raghavan §3), while
    color-alternating updates converge and are order-independent WITHIN a
    color (no intra-color edges exist to race).

    Graph: the sparse {LPA_EDGE_FILTER!r} part<->supplier subgraph
    (measured sf0.01: 737 edges over 615 parts + 99 suppliers).
    Convergence is MEASURED: ``n_changed_last`` rides every row (the
    CC/SSSP/k-core audit discipline).

    Scale: each half-step is one src-keyed equi-join of the edge frame
    with the label frame, a groupBy(node, label) count (map-side combine
    collapses parallel edges' votes pre-shuffle), and a rank over the
    per-node DISTINCT-label frame — partitioned by node (high
    cardinality), bounded by the node's distinct neighbor labels, never
    raw rows.  Label frames are referenced twice per half-step (vote +
    carry), so each half-step is checkpointed (``_supersteps`` checkpoints
    the round, the round checkpoints its first half).  Output is the
    bounded 2-row per-kind summary whose sum_label_key checksums the full
    label assignment."""
    from pyspark.sql.window import Window

    rank = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("nl"))
    # r17 (guide §2.2): input-derived shuffle partitions for the half-step
    # loop — measured at sf0.1 (tools/exp_iter_parts.py, fingerprints
    # identical): 3.77 → 2.70 s warm median.  The mode vote is a COUNT
    # plus a total-order tie-break — partition-count-independent.
    with shuffle_partitions(spark, derived_shuffle_partitions(sf_dir, ["lineitem"])):
        edges = scope.persist(_edges(spark, sf_dir, LPA_EDGE_FILTER))

        def vote(labels: DataFrame, kind: str) -> DataFrame:
            """Half-step: every ``kind`` node takes its neighbors' mode label."""
            votes = (
                edges.filter(_kind("dst") == kind)
                .join(labels.select(F.col("node").alias("src"), F.col("lbl").alias("nl")), "src")
                .groupBy(F.col("dst").alias("node"), "nl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            upd = (
                votes.withColumn("rn", F.row_number().over(rank))
                .filter(F.col("rn") == 1)
                .select("node", F.col("nl").alias("lbl"))
            )
            return upd.union(labels.filter(_kind("node") != kind))

        labels, prev = _supersteps(
            scope,
            edges.select(F.col("src").alias("node"), F.col("src").alias("lbl")).distinct(),
            lambda labels: vote(scope.checkpoint(vote(labels, "part")), "supplier"),
            LPA_ROUNDS,
        )
    chg = (
        labels.select("node", "lbl")
        .join(prev.select("node", F.col("lbl").alias("pl")), "node")
        .filter(F.col("lbl") != F.col("pl"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_changed_last"))
    )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    out = (
        labels.join(sizes, "lbl")
        .groupBy(_kind("node").alias("kind"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.countDistinct("lbl").cast("long").alias("n_communities"),
            F.sum(_key("lbl")).cast("long").alias("sum_label_key"),
            F.max("sz").cast("long").alias("max_comm_size"),
        )
        .crossJoin(F.broadcast(chg))
        .select(
            "kind", "n_nodes", "n_communities", "sum_label_key",
            "max_comm_size", "n_changed_last",
        )
        .orderBy("kind")
    )
    return out


# --------------------------------------------------------------------------
# Common-neighbor / Jaccard link prediction (round-15).
# --------------------------------------------------------------------------
CN_TOPK = 100
CN_FANOUT_CAP = 64  # max suppliers per part entering pair expansion


def _duck_common_neighbors_oracle() -> str:
    return f"""
    WITH ps AS MATERIALIZED (
        SELECT DISTINCT CAST(l_partkey AS BIGINT) AS p,
                        CAST(l_suppkey AS BIGINT) AS s
        FROM lineitem
    ),
    grp AS MATERIALIZED (
        SELECT p, list_sort(list(s))[1:{CN_FANOUT_CAP}] AS ss FROM ps GROUP BY p
    ),
    tok AS MATERIALIZED (
        SELECT p, unnest(ss) AS s FROM grp
    ),
    cn AS MATERIALIZED (
        SELECT a.s AS sa, b.s AS sb, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM tok a JOIN tok b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s
    ),
    deg AS MATERIALIZED (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM ps GROUP BY s
    )
    SELECT cn.sa AS supp_a, cn.sb AS supp_b, cn.n_common,
           da.deg + db.deg - cn.n_common AS n_union,
           cn.n_common * 1000000 // (da.deg + db.deg - cn.n_common)
               AS jaccard_e6
    FROM cn JOIN deg da ON da.s = cn.sa JOIN deg db ON db.s = cn.sb
    ORDER BY jaccard_e6 DESC, n_common DESC, supp_a, supp_b
    LIMIT {CN_TOPK}
    """


@query("graph_common_neighbors", oracle=_duck_common_neighbors_oracle())
@scoped
def graph_common_neighbors(
    spark: SparkSession, sf_dir: str, scope: QueryScope
) -> DataFrame:
    """COMMON-NEIGHBOR / Jaccard link prediction (Liben-Nowell & Kleinberg
    2003) over the supplier↔part bipartite graph: for every supplier pair
    sharing at least one part, the shared-part count and the exact
    integer Jaccard of their part sets — the classic "who should be
    linked" score curation pipelines use to propose source/domain merges
    and dedup pipelines use as a cheap pre-LSH blocking signal.

    Determinism: n_common and degrees are exact integer counts;
    jaccard_e6 is ``n_common * 1e6 div union`` (positive integer
    division, truncating identically in Spark ``div`` and DuckDB ``//``);
    the top-{CN_TOPK} frontier has a TOTAL tie-break (jaccard DESC,
    n_common DESC, supp_a, supp_b).

    Scale (the triangle-count discipline): pair expansion is
    groupBy(part).collect_set + map-side explode — ONE exchange, with the
    per-part fan-out CAPPED at {CN_FANOUT_CAP} (TPC-H parts carry ~4
    suppliers at every SF, so the cap never binds here; on a skewed real
    graph it bounds the quadratic expansion exactly like BASKET_CAP) —
    then a groupBy(a, b) count whose map-side combine collapses repeated
    pairs pre-shuffle, two broadcast-size degree joins, and a
    TakeOrderedAndProject top-k (per-partition partial top-{CN_TOPK},
    driver merges task heads — never a global sort)."""
    # Edge-list build: DISTINCT first, then gather.  (The fused
    # groupBy(p).collect_set(s) over raw lineitem was measured at 6.09x
    # input on the @mf layout vs 3.34x for distinct-then-gather: scattered
    # near-singleton partial sets inflate the exchange ~3x over distinct's
    # flat rows, so the "one less exchange" shape ships MORE bytes.)
    ps = scope.persist(
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").cast("long").alias("p"),
            F.col("l_suppkey").cast("long").alias("s"),
        )
        .distinct()
    )
    grp = ps.groupBy("p").agg(
        F.expr(f"slice(sort_array(collect_set(s)), 1, {CN_FANOUT_CAP})").alias("ss")
    )
    pairs = grp.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) ->"
                " transform(slice(ss, i + 2, size(ss)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("e")
    ).select("e.a", "e.b")
    cn = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    deg = ps.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    da = deg.select(F.col("s").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("s").alias("b"), F.col("deg").alias("db"))
    # no broadcast hint on the degree joins: deg scales with the supplier
    # population, so the broadcast decision belongs to AQE's size stats
    out = (
        cn.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("supp_a"),
            F.col("b").alias("supp_b"),
            "n_common",
            (F.col("da") + F.col("db") - F.col("n_common")).alias("n_union"),
            F.expr("n_common * 1000000L div (da + db - n_common)").alias(
                "jaccard_e6"
            ),
        )
        .orderBy(
            F.desc("jaccard_e6"), F.desc("n_common"), "supp_a", "supp_b"
        )
        .limit(CN_TOPK)
    )
    return out


# --------------------------------------------------------------------------
# Boruvka minimum spanning forest (round-15).
# --------------------------------------------------------------------------
MSF_ROUNDS = 5   # components at least halve per round: 2^5 covers the
                 # measured component-tree depth at every tested SF
MSF_JUMPS = 3    # pointer-jump steps per round (merge-path depth <= 2^3)
MSF_EDGE_FILTER = KCORE_EDGE_FILTER  # multi-component at every SF (40 @ sf0.1)


def _duck_msf_oracle() -> str:
    """Unrolled Boruvka rounds.  Per round: cross-component candidate
    edges (both directions), the per-component MIN pick under the TOTAL
    (w, mu, mx) order, the 2-cycle-fixed merge map, {MSF_JUMPS} pointer
    jumps, and the label update.  Under a total edge order the MSF is
    unique, so Boruvka's edge set equals Kruskal's (the cross-check
    test's reference)."""
    ctes = [
        _duck_edges(MSF_EDGE_FILTER, weighted=True),
        """ed AS MATERIALIZED (
            SELECT src, dst, w, LEAST(src, dst) AS mu, GREATEST(src, dst) AS mx
            FROM e
        )""",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM ed)",
    ]
    for r in range(MSF_ROUNDS):
        ctes.append(
            f"""cand{r} AS MATERIALIZED (
            SELECT a.lbl AS c, b.lbl AS oc, ed.w, ed.mu, ed.mx
            FROM ed JOIN l{r} a ON a.node = ed.src JOIN l{r} b ON b.node = ed.dst
            WHERE a.lbl <> b.lbl
        )"""
        )
        ctes.append(
            f"""pick{r} AS MATERIALIZED (
            SELECT c, oc, w, mu, mx FROM (
                SELECT c, oc, w, mu, mx,
                       ROW_NUMBER() OVER (PARTITION BY c
                                          ORDER BY w, mu, mx) AS rn
                FROM cand{r})
            WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""p{r}_0 AS MATERIALIZED (
            SELECT lc.lbl AS c,
                   COALESCE(CASE WHEN q.oc = pk.c THEN LEAST(pk.c, pk.oc)
                                 ELSE pk.oc END, lc.lbl) AS p
            FROM (SELECT DISTINCT lbl FROM l{r}) lc
            LEFT JOIN pick{r} pk ON pk.c = lc.lbl
            LEFT JOIN pick{r} q  ON q.c = pk.oc
        )"""
        )
        for j in range(MSF_JUMPS):
            ctes.append(
                f"""p{r}_{j + 1} AS MATERIALIZED (
                SELECT a.c, b.p FROM p{r}_{j} a JOIN p{r}_{j} b ON b.c = a.p
            )"""
            )
        ctes.append(
            f"""l{r + 1} AS MATERIALIZED (
            SELECT l.node, p.p AS lbl
            FROM l{r} l JOIN p{r}_{MSF_JUMPS} p ON p.c = l.lbl
        )"""
        )
    picks = " UNION ALL ".join(
        f"SELECT mu, mx, w FROM pick{r}" for r in range(MSF_ROUNDS)
    )
    h = f"l{MSF_ROUNDS}"
    return f"""
    WITH {','.join(ctes)},
    mst AS MATERIALIZED (SELECT DISTINCT mu, mx, w FROM ({picks})),
    aud AS (
        SELECT CAST((SELECT COUNT(*) FROM ed
                     JOIN {h} a ON a.node = ed.src
                     JOIN {h} b ON b.node = ed.dst
                     WHERE a.lbl <> b.lbl) / 2 AS BIGINT) AS n_cross_last,
               CAST((SELECT COUNT(DISTINCT lbl) FROM {h}) AS BIGINT)
                   AS n_components,
               CAST((SELECT COUNT(*) FROM {h}) AS BIGINT) AS n_nodes
    )
    SELECT CAST(w // 5 AS BIGINT)        AS w_bucket,
           CAST(COUNT(*) AS BIGINT)      AS n_edges,
           CAST(SUM(w) AS BIGINT)        AS sum_w,
           CAST(SUM(mu // 2) AS BIGINT)  AS sum_lo_key,
           CAST(SUM(mx // 2) AS BIGINT)  AS sum_hi_key,
           aud.n_components, aud.n_nodes, aud.n_cross_last
    FROM mst CROSS JOIN aud
    GROUP BY 1, aud.n_components, aud.n_nodes, aud.n_cross_last
    ORDER BY w_bucket
    """


@query("graph_msf_boruvka", oracle=_duck_msf_oracle())
@scoped
def graph_msf_boruvka(spark: SparkSession, sf_dir: str, scope: QueryScope) -> DataFrame:
    """MINIMUM SPANNING FOREST by Boruvka's algorithm (Boruvka 1926; the
    MapReduce-MST formulation of Lattanzi et al. 2011 "Filtering: a
    method for solving graph problems in MapReduce") — the sixth classic
    graph primitive: per round, every component selects its minimum
    outgoing edge under the TOTAL (w, lo, hi) order, selected edges merge
    their components (2-cycles resolve to the smaller label, then
    {MSF_JUMPS} pointer jumps collapse merge chains), and components at
    least HALVE per round, so {MSF_ROUNDS} rounds cover 2^{MSF_ROUNDS}
    initial components per tree.  A total edge order makes the MSF
    UNIQUE, so the result equals Kruskal's independent of engine or
    parallelism — pinned by the union-find cross-check in tests.
    Curation uses MSTs as the single-linkage clustering backbone
    (HDBSCAN-style dedup-cluster consolidation at corpus scale).

    Graph: the {MSF_EDGE_FILTER!r} part<->supplier subgraph (a true
    multi-component forest: 2/8/40 trees at sf0.001/0.01/0.1), weight =
    exact BIGINT min l_quantity per edge.

    Convergence is MEASURED: ``n_cross_last`` (cross-component edges
    remaining after the final round — 0 at every tested SF) rides every
    row with the final component count; an under-iterated run is visible
    data, never a silently-wrong forest.

    Scale — and why the checkpoint discipline here is PARQUET
    round-trips, not localCheckpoint: per round TWO edge⋈label hash
    equi-joins (candidates), one per-component rank over the candidate
    frame (partition cardinality = live components), and component-sized
    merge-map self-joins — per-round volume is linear in surviving
    cross-component edges, which at least halve as components merge.
    Boruvka needs TWO truncation points per round (merge map + labels),
    and measured on this engine the localCheckpoint path degrades
    superlinearly once a session chains ~20 checkpoint layers (0.8s →
    34-366s per call by round 4, lazy AND eager variants alike — the
    CC/SSSP budget of ≤2 layers/round stays under the knee, 2×rounds
    here does not).  Writing each round's tiny label/merge frames to
    parquet and re-reading them truncates BOTH the logical plan and the
    RDD lineage completely (the plan leaf becomes a fresh file relation),
    keeps every round's build flat, and is exactly the
    checkpoint-to-durable-storage-per-superstep discipline GraphX
    prescribes for production iterative jobs (setCheckpointDir), so the
    shape carries to a 1000-executor cluster unchanged."""
    import functools
    import os
    import shutil
    import tempfile

    from pyspark.sql.window import Window

    ckdir = tempfile.mkdtemp(prefix="fns_msf_")
    # r15 VERDICT #1a: the dir must not strand /tmp, also when the caller
    # drops the result without release_persisted (the scope's GC backstop)
    scope.on_release(functools.partial(shutil.rmtree, ckdir, True))

    def ckpt(df: DataFrame, tag: str) -> DataFrame:
        path = os.path.join(ckdir, tag)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    ed = scope.persist(
        _edges(spark, sf_dir, MSF_EDGE_FILTER, weighted=True).select(
            "src", "dst", "w",
            F.least("src", "dst").alias("mu"), F.greatest("src", "dst").alias("mx"),
        )
    )

    def cross(l: DataFrame) -> DataFrame:
        """Edges whose endpoints carry different labels ``c`` != ``oc``."""
        return (
            ed.join(l.select(F.col("node").alias("src"), F.col("lbl").alias("c")), "src")
            .join(l.select(F.col("node").alias("dst"), F.col("lbl").alias("oc")), "dst")
            .filter(F.col("c") != F.col("oc"))
        )

    l = ckpt(
        ed.select(F.col("src").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        ),
        "l0",
    )
    rank = Window.partitionBy("c").orderBy("w", "mu", "mx")
    msts = []
    for r in range(MSF_ROUNDS):
        cand = cross(l).select("c", "oc", "w", "mu", "mx")
        pick = ckpt(
            cand.withColumn("rn", F.row_number().over(rank))
            .filter(F.col("rn") == 1)
            .select("c", "oc", "w", "mu", "mx"),
            f"pick{r}",
        )
        msts.append(pick.select("mu", "mx", "w"))
        # merge map over ALL live labels: chosen target, 2-cycles to the
        # smaller label, pick-less components map to themselves
        q = pick.select(F.col("c").alias("qc"), F.col("oc").alias("qoc"))
        pm = ckpt(
            l.select("lbl")
            .distinct()
            .join(pick, F.col("lbl") == F.col("c"), "left")
            .join(q, F.col("oc") == F.col("qc"), "left")
            .select(
                F.col("lbl").alias("c"),
                F.coalesce(
                    F.when(
                        F.col("qoc") == F.col("c"),
                        F.least(F.col("c"), F.col("oc")),
                    ).otherwise(F.col("oc")),
                    F.col("lbl"),
                ).alias("p"),
            ),
            f"pm{r}",
        )
        # jumps stay plan-only: each doubles the pm-leaf count (2^JUMPS = 8
        # references to one file relation — cheap and lineage-free)
        for _j in range(MSF_JUMPS):
            pm = pm.join(
                pm.select(F.col("c").alias("c2"), F.col("p").alias("p2")),
                F.col("p") == F.col("c2"),
            ).select("c", F.col("p2").alias("p"))
        l = ckpt(
            l.join(pm, l.lbl == pm.c).select("node", F.col("p").alias("lbl")),
            f"l{r + 1}",
        )
    mst = msts[0]
    for m in msts[1:]:
        mst = mst.union(m)
    mst = mst.distinct()
    # r15 ADVICE (medium): a merge chain deeper than 2^MSF_JUMPS would
    # leave the merge map partially collapsed, let a same-component edge
    # into the forest, and STILL read n_cross_last = 0 — and the DuckDB
    # oracle unrolls the identical scheme, so cross-engine equality
    # cannot catch it.  The forest invariant |MSF| == n_nodes −
    # n_components is independent of the jump scheme, so check it HERE
    # at build time over the already-materialized parquet rounds (tiny
    # frames; two sub-second jobs) and raise instead of ever returning a
    # silently-wrong forest.
    n_nodes_v, n_comp_v = l.agg(
        F.count(F.lit(1)), F.countDistinct("lbl")
    ).first()
    n_mst_v = mst.count()
    if n_mst_v != n_nodes_v - n_comp_v:
        raise AssertionError(
            f"graph_msf_boruvka forest invariant violated: |MSF|={n_mst_v} "
            f"!= n_nodes={n_nodes_v} - n_components={n_comp_v} — merge-path "
            f"depth exceeded the 2^{MSF_JUMPS} pointer-jump budget"
        )
    aud = cross(l).agg((F.count(F.lit(1)) / 2).cast("long").alias("n_cross_last"))
    nstats = l.agg(
        F.countDistinct("lbl").cast("long").alias("n_components"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    aud = aud.crossJoin(F.broadcast(nstats))
    out = (
        mst.groupBy(F.expr("w div 5").alias("w_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("w").cast("long").alias("sum_w"),
            F.sum(_key("mu")).cast("long").alias("sum_lo_key"),
            F.sum(_key("mx")).cast("long").alias("sum_hi_key"),
        )
        .crossJoin(F.broadcast(aud))
        .select(
            "w_bucket", "n_edges", "sum_w", "sum_lo_key", "sum_hi_key",
            "n_components", "n_nodes", "n_cross_last",
        )
        .orderBy("w_bucket")
    )
    return out
