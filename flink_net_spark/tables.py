"""Loaders for the driver-generated testdata tables (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import weakref
from collections.abc import Callable, Hashable, Iterator

from pyspark.sql import DataFrame, SparkSession


TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_disk_bytes(sf_dir: str, name: str) -> int:
    """On-disk parquet bytes of a table (file or directory-of-parts) — a
    pure filesystem stat, no Spark job.  Used to SIZE plan knobs (e.g. the
    packed-transport bucket count) from data volume: unlike
    ``df.rdd.getNumPartitions()``, which on an AQE plan finalizes the
    adaptive plan and EXECUTES its pending exchanges as a side-effect job
    (measured: one full extra spread exchange per call on the single-file
    layout), a stat costs nothing and scales with the corpus, not the
    layout."""
    p = table_path(sf_dir, name)
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _d, files in os.walk(p)
            for f in files
        )
    return os.path.getsize(p) if os.path.exists(p) else 0


# Runtime-settable SQLConfs required to read the testdata parquet correctly.
# Set per-read (not only in get_spark) because the driver harness calls
# queries with its OWN SparkSession whose builder we never see:
#   - nanosAsLong: events.parquet carries TIMESTAMP(NANOS), which Spark
#     otherwise rejects with PARQUET_TYPE_ILLEGAL.
#   - inferTimestampNTZ=false: orders/lineitem timestamps are
#     isAdjustedToUTC=false; read them as plain TIMESTAMP so unix_millis &
#     streaming event-time work (session tz UTC keeps instants identical).
#   - UTC session tz: window/date math must match the DuckDB oracle.
_READ_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate turns every explode(<array expr>) into a
    # pushed-down `size(<expr>) > 0 AND isnotnull(<expr>)` filter with the
    # FULL array expression inlined (twice).  For this engine's corpus
    # queries the exploded arrays are always computed by large HOF chains
    # (token hashes → shingles → winnow/minhash): the inlined filter lands
    # below the spread repartition in the single-split parquet scan stage,
    # exceeds the codegen method limit, and is then interpreted WITHOUT
    # common-subexpression elimination — measured 0.6s → 107s on
    # curation_decontaminate at sf0.1 (round-7 diagnosis).  The rule's only
    # upside (not shuffling rows with empty arrays) is irrelevant here: our
    # explodes sit directly on the projection that computes the array.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def ensure_read_confs(spark: SparkSession) -> None:
    for k, v in _READ_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static on some builds
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_read_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long ns (spark.sql.legacy.parquet.nanosAsLong);
        # truncate to µs exactly like DuckDB does internally.  Integer `div`,
        # NOT `/1000`: epoch-nanos ≈ 1.7e18 exceeds double's 2^53 mantissa, so
        # a float division drifts timestamps by ±1 µs.
        import pyspark.sql.functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread_small_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin rebalance a scan that yielded fewer partitions than the
    session's parallelism — the small-file fix for CPU-heavy per-row stages.

    A parquet file with a single row group cannot be split by the reader,
    so array higher-order functions / Arrow stages downstream serialize on
    one core no matter how many are free.  When the scan has fewer splits
    than ``defaultParallelism`` the rows are rebalanced round-robin (one
    narrow exchange over already-pruned columns, no keying); when the input
    already has ≥ cores splits — every real 100 TB layout — the check is
    false and the plan stays exchange-free.  This is deliberately NOT a
    hash shuffle: per-row work needs spread, not co-location.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view (≙ TableEnvironment.RegisterTable,
    reference: FlinkDotNet/FlinkDotNet.Table.Api/TableEnvironment.cs:69-108)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


# Query-scoped lifetimes.  Builders return lazy DataFrames, so what they
# cache must back the RESULT until its caller is done: a QueryScope holds
# it, ``scoped`` binds the scope to the result, ``release_persisted`` frees
# it and a weakref finalizer is the GC backstop.  Persists are refcounted by
# SEMANTIC plan hash — the CacheManager keys caches by plan, so two builds
# of one query share one entry, unpersisted when the LAST holder releases.
# Refcounts and persist/unpersist share one lock, so a persist racing the
# last release re-persists; re-entrant, as a finalizer may run under it.
_PLAN_REFS: dict[tuple, list] = {}  # key -> [refcount, DataFrame handle]
_PLAN_LOCK = threading.RLock()


def _plan_key(df: DataFrame) -> tuple[int, int]:
    """The plan's semantic hash within its SparkContext, so caches a stopped
    context still counts never pin an equal plan of the next one.  A held
    handle keeps its context object alive, so the id is not reused."""
    ctx = id(df.sparkSession.sparkContext)
    try:
        return ctx, int(df._jdf.queryExecution().logical().semanticHash())
    except Exception:  # pragma: no cover - py4j surface drift
        return ctx, id(df)


def _unref(key: tuple) -> None:
    with _PLAN_LOCK:
        ent = _PLAN_REFS.get(key)
        if ent is None:
            return
        ent[0] -= 1
        if ent[0] <= 0:
            del _PLAN_REFS[key]
            ent[1].unpersist()


def _quietly(fn: Callable[[], object]) -> None:
    try:
        fn()
    except Exception:  # a stopped session has nothing left to free
        pass


class QueryScope:
    """The caches, local checkpoints and cleanups one query build holds."""

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame | None, Callable[[], object]]] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """``df.persist()``, refcounted against equal plans of other scopes."""
        key = _plan_key(df)  # py4j round trip, outside the lock
        with _PLAN_LOCK:
            df.persist()  # re-registers a cache someone else evicted
            _PLAN_REFS.setdefault(key, [0, df])[0] += 1
        self._held.append((df, functools.partial(_unref, key)))
        return df

    def checkpoint(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """``df.localCheckpoint(eager)``.  Its block cache lives at the RDD
        layer, invisible to DataFrame.unpersist, so the scope keeps the
        checkpointed RDD (the leaf of the returned plan) to free it."""
        lc = df.localCheckpoint(eager=eager)
        rdd = lc._jdf.queryExecution().logical().rdd()
        self._held.append((lc, functools.partial(rdd.unpersist, False)))
        return lc

    def on_release(self, fn: Callable[[], object]) -> None:
        """Run ``fn`` when the scope is released."""
        self._held.append((None, fn))

    def drop(self, df: DataFrame) -> None:
        """Release ``df`` (persisted or checkpointed here) before the rest
        of the scope, once nothing the result needs still reads it."""
        for i, (held, fn) in enumerate(self._held):
            if held is df:
                del self._held[i]
                _quietly(fn)
                return
        raise ValueError("drop(): frame is not held by this scope")

    def release(self) -> None:
        """Free everything still held, newest first (idempotent)."""
        held, self._held = self._held, []
        for _df, fn in reversed(held):
            _quietly(fn)

    def bind(self, result: DataFrame) -> DataFrame:
        """Tie the scope to ``result``: ``release_persisted(result)`` frees
        it, and so does the collector once ``result`` is unreachable."""
        if self._held:
            result._fns_release = weakref.finalize(result, self.release)
        return result


def scoped(builder: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Decorate a builder that holds resources: it gets a fresh QueryScope
    as its ``scope`` argument, the scope is bound to the returned result,
    and a builder that raises leaves nothing held."""

    @functools.wraps(builder)
    def build(*args, **kwargs) -> DataFrame:
        scope = QueryScope()
        try:
            return scope.bind(builder(*args, scope=scope, **kwargs))
        except BaseException:
            scope.release()
            raise

    return build


def release_persisted(result: DataFrame) -> None:
    """Deterministically release what the build of ``result`` holds
    (idempotent; no-op for DataFrames that hold nothing)."""
    fin = getattr(result, "_fns_release", None)
    if fin is not None:
        fin()


# Session lifetimes.  Some builds are shared by many queries of a session
# (the text family's LM tables): ``session_shared`` keeps one per (session,
# key) on the SparkSession object itself, so a new session, or one created
# again after stop(), starts with none.  Each entry persists through its own
# QueryScope, so its caches are refcounted like any query's, and one
# session's release never evicts another's equal plan.
def session_shared(
    spark: SparkSession, key: Hashable, build: Callable[[QueryScope], dict]
) -> dict:
    """``build(scope)`` once per (session, key), kept until
    ``release_session``.  A hit re-registers what the build persisted (a
    lazy no-op unless ``clearCache()`` evicted it).  Two threads that miss
    at once both build; the first to publish wins, the other releases."""
    with _PLAN_LOCK:
        entry = vars(spark).get("_fns_shared", {}).get(key)
        if entry is not None:
            for df, fn in entry[1]._held:
                if getattr(fn, "func", None) is _unref:  # a scope.persist
                    df.persist()
            return entry[0]
    scope = QueryScope()
    try:
        value = build(scope)
    except BaseException:
        scope.release()
        raise
    with _PLAN_LOCK:
        entries = vars(spark).setdefault("_fns_shared", {})
        entry = entries.setdefault(key, (value, scope))
    if entry[1] is not scope:
        scope.release()
    return entry[0]


def release_session(spark: SparkSession) -> None:
    """Free every ``session_shared`` entry of ``spark`` (idempotent)."""
    with _PLAN_LOCK:
        entries = vars(spark).pop("_fns_shared", {})
    for _value, scope in entries.values():
        scope.release()


# r17 (guide §2.2): iterative builders (CC/SSSP/LPA/resolve-groups) run
# their per-round shuffles at ceil(source_bytes / 128 MB) partitions,
# floored at 4, instead of the session default — at sf0.1 each round's
# frame is a few thousand rows (tools/exp_iter_parts.py, fingerprints
# identical: CC 6.60→3.36 s, SSSP 5.79→3.20 s, LPA 3.77→2.70 s,
# resolve_groups 2.80→1.99 s).
_ITER_PART_TARGET_BYTES = 128 * 1024 * 1024
_ITER_PART_FLOOR = 4


def derived_shuffle_partitions(sf_dir: str, tables: list[str]) -> int:
    total = sum(table_disk_bytes(sf_dir, t) for t in tables)
    return max(_ITER_PART_FLOOR, -(-total // _ITER_PART_TARGET_BYTES))


_PARTITIONS_LOCK = threading.RLock()


@contextlib.contextmanager
def shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n`` and
    restore the previous value after — the only code that changes this
    conf outside ``session.get_spark``.  Plans executed inside the block
    (a stream's first batch pins its state partitioning this way; a lazy
    localCheckpoint materializes its AQE stages) use ``n``.  The conf is
    session-global, so the lock holds every other thread's block until
    this one exits: each sees its own count."""
    with _PARTITIONS_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
