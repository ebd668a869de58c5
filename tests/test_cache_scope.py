"""Cache-lifetime contract: what a build caches rides the result handle.

Query builders persist shared intermediates and local-checkpoint iterative
rounds; a ``tables.QueryScope`` holds them and is bound to the returned
DataFrame, so ``release_persisted(result)`` (or, as a backstop, collecting
the dropped handle) frees them.  The registry-wide check that every query
releases what it cached lives in ``conftest.assert_matches_oracle``; this
module covers the exception (the session-scoped shared LM tables, also
when two threads build LM queries at once), the GC backstop, the scope's
error path, its concurrency contract, and a static check that nothing else
under ``flink_net_spark/`` caches or checkpoints outside a QueryScope.

Runs in its own module: a module-scoped fixture elsewhere that holds live
handles over the same query plans would alias cache entries (Spark's
CacheManager dedupes by canonicalized plan) and confound the delta check.
"""

from __future__ import annotations

import ast
import gc
import os
import pathlib
import sys
import threading
import time

import pytest

from tests.conftest import SF_DIR, persistent_rdd_ids


def test_shared_lm_tables_do_not_grow(spark):
    """The session-scoped shared LM tables (round-10: text.shared_lm_tables)
    are the ONE deliberate survivor of release_persisted: they appear once,
    never GROW across LM queries, and vanish on release_shared_lm()."""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.queries.text import release_shared_lm
    from flink_net_spark.tables import release_persisted

    release_shared_lm(spark)
    gc.collect()  # flush finalizers pending from earlier modules
    baseline = persistent_rdd_ids(spark)
    shared = None
    for name in ("text_backoff_nll", "text_bigram_nll", "text_backoff_nll"):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        release_persisted(df)
        live = persistent_rdd_ids(spark) - baseline
        if shared is None:
            # first LM-family query materializes the shared build (bounded:
            # toks + count tables + score tables); remember, don't flag
            assert live, "expected the shared LM build to stay cached"
            shared = live
        assert live <= shared, (name, live - shared)
    release_shared_lm(spark)
    assert persistent_rdd_ids(spark) - baseline == set()


def test_gc_backstop_releases_dropped_result(spark):
    """A caller that drops the result without release_persisted still frees
    its persists and local checkpoints once the handle is collected."""
    from flink_net_spark.queries import QUERIES

    gc.collect()
    baseline = persistent_rdd_ids(spark)
    for name in ("graph_connected_components", "dedup_resolve_groups"):
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        assert persistent_rdd_ids(spark) - baseline, f"{name}: nothing held"
        del df
        gc.collect()
        assert persistent_rdd_ids(spark) - baseline == set(), name


def test_purge_dead_lm_entries_unpersists_through_handles(spark):
    """Round-11 ADVICE: when a shared-LM entry's creating session is gone
    but the SparkContext still lives (the newSession case), purging must
    release the JVM caches THROUGH the stored DataFrame handles before
    dropping the dict entry — not leak them.  And the token fallback must
    never be id()-based (aliasing after GC reuse)."""
    import weakref

    from flink_net_spark.queries import text as T

    df = spark.range(10).persist()
    df.count()
    assert df.storageLevel.useMemory

    class Ephemeral:
        pass

    ghost = Ephemeral()
    key = ("test-app", -1, "test-dir")
    T._LM_SHARED[key] = {"toks": df, "_session_ref": weakref.ref(ghost)}
    del ghost  # CPython refcount: the weakref is dead immediately
    T._purge_dead_lm_entries()
    assert key not in T._LM_SHARED
    assert not df.storageLevel.useMemory  # unpersisted, not leaked


def test_keep_best_forwards_deterministic_release(spark):
    """r13 ADVICE: dedup_keep_best's plan reads its upstream resolve-groups
    result's checkpointed label RDDs.  release_persisted(out) must free
    them too, WITHOUT waiting for the collector."""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.tables import release_persisted

    gc.collect()
    baseline = persistent_rdd_ids(spark)
    out = QUERIES["dedup_keep_best"](spark, SF_DIR)
    out.collect()
    assert persistent_rdd_ids(spark) - baseline, "expected live upstream caches"
    release_persisted(out)  # deterministic: NO gc.collect() here
    assert persistent_rdd_ids(spark) - baseline == set()
    del out
    gc.collect()  # the GC backstop must stay idempotent after the fact


def test_msf_ckpt_dir_cleaned_on_handle_drop(spark):
    """r15 VERDICT #1a: graph_msf_boruvka's parquet-checkpoint temp dir
    must not strand /tmp when the caller DROPS the handle without calling
    release_persisted — the rmtree is a scope cleanup, so GC is a
    sufficient backstop (and the explicit path stays idempotent)."""
    import glob
    import tempfile

    from flink_net_spark.queries import QUERIES

    patt = os.path.join(tempfile.gettempdir(), "fns_msf_*")
    before = set(glob.glob(patt))
    df = QUERIES["graph_msf_boruvka"](spark, SF_DIR)
    df.collect()
    created = set(glob.glob(patt)) - before
    assert created, "expected a fresh fns_msf_ checkpoint dir"
    del df
    gc.collect()
    after = set(glob.glob(patt)) - before
    assert not after, f"ckpt dir(s) leaked after handle drop: {after}"


def test_drains_leave_no_temp_dirs_or_sink_views(spark, tmp_path, monkeypatch):
    """A bounded stream drain removes its checkpoint dir and memory-sink
    view, the CDC drain its checkpoint and (on release) its snapshot dir,
    and MSF its parquet rounds: after collect + release only the reusable
    published fns_stage_* replay staging is left in the temp dir, with no
    private ``.tmp`` staging copy beside it."""
    import tempfile

    from flink_net_spark.queries import QUERIES
    from flink_net_spark.tables import release_persisted

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in (
        "stream_window_tumbling_hourly",
        "stream_cdc_upsert_snapshot",
        "graph_msf_boruvka",
    ):
        df = QUERIES[name](spark, SF_DIR)
        assert df.collect(), name
        release_persisted(df)
    left = sorted(
        p.name for p in tmp_path.iterdir()
        if p.name.startswith("fns_")
        and not (p.name.startswith("fns_stage_") and not p.name.endswith(".tmp"))
    )
    assert left == [], f"temp entries leaked: {left}"
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("fns_mem_")]
    assert views == [], f"memory-sink views leaked: {views}"


def test_builder_that_raises_leaves_nothing_held(spark):
    """A scoped builder that fails after persisting and checkpointing
    releases both before the error propagates — no hand-written cleanup."""
    from flink_net_spark.tables import _PLAN_REFS, scoped

    cleaned = []

    @scoped
    def failing(spark, sf_dir, scope):
        scope.persist(spark.range(40).selectExpr("id * 3 AS v")).count()
        scope.checkpoint(spark.range(20), eager=True)
        scope.on_release(lambda: cleaned.append(sf_dir))
        raise RuntimeError("build failed")

    gc.collect()
    baseline = persistent_rdd_ids(spark)
    refs = set(_PLAN_REFS)
    with pytest.raises(RuntimeError, match="build failed"):
        failing(spark, "dir")
    assert persistent_rdd_ids(spark) - baseline == set()
    assert set(_PLAN_REFS) == refs
    assert cleaned == ["dir"]


def test_drop_releases_one_frame_early(spark):
    """scope.drop frees one superseded frame and leaves the rest held."""
    from flink_net_spark.tables import QueryScope

    scope = QueryScope()
    a = scope.persist(spark.range(30).selectExpr("id + 1 AS a"))
    b = scope.checkpoint(spark.range(30).selectExpr("id + 2 AS b"), eager=True)
    a.count()
    scope.drop(a)
    assert not a.storageLevel.useMemory
    assert b.count() == 30  # checkpoint blocks still there
    with pytest.raises(ValueError):
        scope.drop(a)
    scope.release()
    scope.release()  # idempotent


def test_fresh_persist_survives_concurrent_last_release(spark, monkeypatch):
    """Thread 1 drops the LAST ref to a plan while its unpersist is slow;
    thread 2 meanwhile persists a semantically equal plan.  The decrement
    and the unpersist happen under the same lock as the persist, so thread
    2's persist waits and re-registers the cache: it must still be cached
    afterwards (a pop-then-unpersist-outside-the-lock release evicts it)."""
    from flink_net_spark.tables import QueryScope

    def plan():
        return spark.range(300).selectExpr("id", "id % 7 AS k")

    s1 = QueryScope()
    s1.persist(plan()).count()
    cls = type(plan())
    real = cls.unpersist
    entered = threading.Event()

    def slow_unpersist(self, *args, **kwargs):
        entered.set()
        time.sleep(1.0)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "unpersist", slow_unpersist)
    t1 = threading.Thread(target=s1.release)
    t1.start()
    assert entered.wait(30)
    s2 = QueryScope()
    df2 = s2.persist(plan())
    t1.join(timeout=60)
    assert not t1.is_alive()
    assert df2.storageLevel.useMemory, "a fresh persist lost its cache"
    s2.release()
    assert not df2.storageLevel.useMemory


def test_shuffle_partitions_scopes_do_not_interleave(spark):
    """Two threads run shuffle_partitions scopes with different counts at
    once: each sees only its own value inside its scope, and the session
    value is restored after both."""
    from flink_net_spark.tables import shuffle_partitions

    key = "spark.sql.shuffle.partitions"
    base = spark.conf.get(key)
    seen: dict[int, set[str]] = {}
    start = threading.Barrier(2)

    def run(n: int) -> None:
        start.wait()
        with shuffle_partitions(spark, n):
            vals = set()
            for _ in range(20):
                vals.add(spark.conf.get(key))
                time.sleep(0.005)
            seen[n] = vals

    threads = [threading.Thread(target=run, args=(n,)) for n in (3, 5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert seen == {3: {"3"}, 5: {"5"}}
    assert spark.conf.get(key) == base


def test_lm_queries_share_the_session_from_two_threads(spark):
    """Two LM consumers built at once from two threads, the way
    sim_ann_planted_recall shares a session, both go through the shared
    LM memo: each result equals its serial result, and releasing both
    results and the memo leaves no cache and no plan reference behind."""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.queries.text import release_shared_lm
    from flink_net_spark.tables import _PLAN_REFS, release_persisted

    names = ("text_kn_bigram_nll", "curation_perplexity_gate")
    release_shared_lm(spark)
    gc.collect()
    baseline = persistent_rdd_ids(spark)
    refs = set(_PLAN_REFS)
    serial = {}
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        serial[name] = sorted(tuple(r) for r in df.collect())
        release_persisted(df)
    release_shared_lm(spark)
    assert persistent_rdd_ids(spark) - baseline == set()
    start = threading.Barrier(2)
    built, errors = {}, []

    def run(name: str) -> None:
        try:
            start.wait()
            df = QUERIES[name](spark, SF_DIR)
            built[name] = (df, sorted(tuple(r) for r in df.collect()))
        except BaseException as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(n,)) for n in names]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the two builds' Python steps finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for name in names:
        assert built[name][1] == serial[name], name
    for df, _rows in built.values():
        release_persisted(df)
    release_shared_lm(spark)
    assert persistent_rdd_ids(spark) - baseline == set()
    assert set(_PLAN_REFS) == refs


# The session-scoped LM memo (ROADMAP item 3): its two re-persists are the
# one cache path outside a QueryScope.  Delete the entry with the memo.
_LM_MEMO_PERSISTS = {
    ("queries/text.py", "shared_lm_tables"),
    ("queries/text.py", "_shared_slot"),
}


def test_only_query_scopes_cache():
    """No ``.persist(``, ``.cache()``, ``.checkpoint(`` or
    ``.localCheckpoint(`` call under flink_net_spark/ outside tables.py,
    except on a parameter annotated ``QueryScope`` of an enclosing function
    (and the LM memo above): every other cache and checkpoint goes through
    a QueryScope, which ties it to the result that reads it."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "flink_net_spark"
    found = []

    def visit(node, rel: str, func: str, scopes: frozenset) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
            a = node.args
            scopes = scopes | {
                p.arg
                for p in a.posonlyargs + a.args + a.kwonlyargs
                if p.annotation is not None
                and ast.unparse(p.annotation).split(".")[-1] == "QueryScope"
            }
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache", "checkpoint", "localCheckpoint")
        ):
            recv = node.func.value
            on_scope = isinstance(recv, ast.Name) and recv.id in scopes
            if not on_scope and (rel, func) not in _LM_MEMO_PERSISTS:
                found.append(f"{rel}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, func, scopes)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel != "tables.py":
            visit(ast.parse(path.read_text(), str(path)), rel, "", frozenset())
    assert found == [], f"cache/checkpoint calls outside a QueryScope: {found}"
