"""Skew-aware keyed processing — SURVEY.md §2.4 load-aware partitioning.

Reference: ``KeyGenStage<T>`` tracks per-partition load and reroutes hot keys
(``EnableLoadAwareness``, ``LoadImbalanceThreshold`` —
FlinkDotNet/FlinkDotNet.Core.Api/Pipeline/GatewayAndKeyGenStages.cs:217-446).

Spark-first equivalents, in preference order:
  1. AQE skew handling — ``spark.sql.adaptive.skewJoin.enabled`` splits
     oversized join partitions at runtime (on in ``session.get_spark``).
     Zero code; covers shuffle joins.
  2. Two-stage SALTED AGGREGATION for hot groupBy keys, below: stage 1
     aggregates ``(key, salt)`` partials so one hot key spreads over
     ``n_salts`` reducers; stage 2 merges partials per key.  Correct for
     any algebraic aggregate (sum/count/min/max, avg as sum+count) — the
     same partial/merge decomposition the reference's ``IAggregateOperator``
     declares via ``Merge`` (Operators/IAggregateOperator.cs:18-51).
  3. SALTED JOIN for a skewed fact key against a replicable build side:
     fact rows deterministically spread over ``n_salts`` sub-keys, build
     side replicated ×``n_salts``.  Result identical to the plain join.
  4. SALTED TOP-K for a per-group rank over few groups (SURVEY.md §2.13's
     windowed ``row_number``): a per-salt pre-prune, then a rank of the
     survivors only, so no single task sorts a whole group.

Salts are derived with ``pmod(xxhash64(...), n)`` from row content, never
``rand()`` — deterministic replay is what makes these testable and
checkpoint-safe.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

# ops with trivial merges: merge(sum)=sum, merge(count)=sum, merge(min)=min...
_PARTIAL = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
}
_MERGE = {
    "sum": F.sum,
    "count": F.sum,
    "min": F.min,
    "max": F.max,
}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_on: str | Column | None = None,
) -> DataFrame:
    """Two-stage aggregation: ``aggs`` maps output name → (op, column) with
    op in {sum, count, min, max, avg}.  ``salt_on`` picks the column whose
    hash spreads a hot key (defaults to the first non-key column).
    """
    if salt_on is None:
        salt_on = next(c for c in df.columns if c not in keys)
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(salt_on), F.lit(n_salts)))

    partials: list[Column] = []
    finals: list[Column] = []
    for name, (op, col) in aggs.items():
        if op == "avg":  # avg is not directly mergeable: decompose
            partials.append(F.sum(col).alias(f"__s_{name}"))
            partials.append(F.count(col).alias(f"__c_{name}"))
            finals.append((F.sum(f"__s_{name}") / F.sum(f"__c_{name}")).alias(name))
        elif op in _PARTIAL:
            partials.append(_PARTIAL[op](col).alias(f"__p_{name}"))
            finals.append(_MERGE[op](f"__p_{name}").alias(name))
        else:
            raise ValueError(f"unsupported op for salted_aggregate: {op}")

    stage1 = salted.groupBy(*keys, "__salt").agg(*partials)
    return stage1.groupBy(*keys).agg(*finals)


def salted_join(
    fact: DataFrame,
    build: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``fact[on]`` is skewed: fact gets a deterministic
    content-hash salt, ``build`` is replicated ×``n_salts`` (explode of a
    sequence — build must be the small side), and the join key becomes
    ``(on, salt)`` so one hot key lands on ``n_salts`` reducers.
    """
    fact_cols = [c for c in fact.columns if c != on]
    salt_src = fact_cols[0] if fact_cols else on
    f_salted = fact.withColumn("__salt", F.pmod(F.xxhash64(salt_src), F.lit(n_salts)))
    b_repl = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return f_salted.join(b_repl, [on, "__salt"], how).drop("__salt")


def salted_top_k(
    df: DataFrame,
    k: int,
    order: Sequence[str | Column],
    group: Sequence[str | Column] = (),
    *,
    salt: Column,
    rank: str = "rank",
) -> DataFrame:
    """The rows ranked 1..``k`` within each ``group`` by ``order``, with a
    ``long`` ``rank`` column; ``group=()`` ranks the whole frame.

    Two phases: rows are first ranked within each ``(group, salt)`` cell
    and only each cell's top ``k`` survive; the survivors are then ranked
    within ``group``.  Every row of a group's top ``k`` is in its cell's
    top ``k`` (fewer than ``k`` rows of the group precede it, so fewer than
    ``k`` of its cell do), so the result is the plain one-phase rank's,
    while phase 1 spreads a group over its salt cells and phase 2 sorts at
    most ``k`` rows per cell.  Precondition: ``order`` is a TOTAL order
    within a group (end it with a unique id); with ties the two phases
    may keep different rows.  ``salt`` is a deterministic column term such
    as ``F.col("doc_id") % 16``.
    """
    phase1 = Window.partitionBy(*group, salt).orderBy(*order)
    phase2 = Window.partitionBy(*group).orderBy(*order)
    return (
        df.withColumn("__r1", F.row_number().over(phase1))
        .filter(F.col("__r1") <= k)
        .drop("__r1")
        .withColumn(rank, F.row_number().over(phase2).cast("long"))
        .filter(F.col(rank) <= k)
    )
