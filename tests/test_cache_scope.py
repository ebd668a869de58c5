"""Cache-lifetime contract: what a build caches rides the result handle.

Query builders persist shared intermediates and local-checkpoint iterative
rounds; a ``tables.QueryScope`` holds them and is bound to the returned
DataFrame, so ``release_persisted(result)`` (or, as a backstop, collecting
the dropped handle) frees them.  The registry-wide check that every query
releases what it cached lives in ``conftest.assert_matches_oracle``; this
module covers the session lifetime (``tables.session_shared``: the shared
LM tables, also across sessions, across a stopped context and when two
threads build LM queries at once), the GC backstop, the scope's error
path, its concurrency contract, and a static check that nothing else
under ``flink_net_spark/`` caches or checkpoints outside a QueryScope.

Runs in its own module: a module-scoped fixture elsewhere that holds live
handles over the same query plans would alias cache entries (Spark's
CacheManager dedupes by canonicalized plan) and confound the delta check.
"""

from __future__ import annotations

import ast
import gc
import json
import os
import pathlib
import subprocess
import sys
import textwrap
import threading
import time

import pytest

from tests.conftest import SF_DIR, persistent_rdd_ids


def test_shared_lm_tables_do_not_grow(spark):
    """The session-shared LM tables (round-10: text.shared_lm_tables) are
    the ONE deliberate survivor of release_persisted: they appear once,
    never GROW across LM queries, are registered again after a
    clearCache(), and vanish on release_session()."""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.tables import release_persisted, release_session

    release_session(spark)
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
    # clearCache() evicts them; the next LM query registers them again,
    # and no more of them than the first build cached
    spark.catalog.clearCache()
    baseline = persistent_rdd_ids(spark)
    df = QUERIES["text_backoff_nll"](spark, SF_DIR)
    df.collect()
    release_persisted(df)
    live = persistent_rdd_ids(spark) - baseline
    assert live, "expected the shared LM tables to be cached again"
    assert len(live) <= len(shared), (live, shared)
    release_session(spark)
    assert persistent_rdd_ids(spark) - baseline == set()


def test_lm_release_in_one_session_keeps_anothers_tables(spark):
    """Two sessions of one SparkContext share one CacheManager.  Releasing
    the second session's LM tables must not evict the first's equal plans
    from under it; releasing both leaves the baseline."""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.tables import release_persisted, release_session

    other = spark.newSession()
    release_session(spark)
    gc.collect()
    baseline = persistent_rdd_ids(spark)
    df = QUERIES["text_kn_bigram_nll"](spark, SF_DIR)
    rows = df.collect()
    release_persisted(df)
    shared = persistent_rdd_ids(spark) - baseline
    assert shared, "expected the shared LM build to stay cached"
    df = QUERIES["text_kn_bigram_nll"](other, SF_DIR)
    assert df.collect() == rows
    release_persisted(df)
    release_session(other)
    assert shared <= persistent_rdd_ids(spark), shared - persistent_rdd_ids(spark)
    release_session(spark)
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


def test_session_entries_are_per_session_and_release_their_caches(spark):
    """A session_shared entry is built once per session: a hit builds
    nothing, a second session of the same SparkContext never reuses the
    first's entry, and releasing an entry unpersists its caches while the
    SparkContext lives (the other session's equal plan stays cached)."""
    from flink_net_spark.tables import release_session, session_shared

    other = spark.newSession()
    built = []

    def build_in(session):
        def build(scope):
            built.append(session)
            df = scope.persist(session.range(10))
            df.count()
            return {"df": df}

        return build

    mine = session_shared(spark, "probe", build_in(spark))
    assert session_shared(spark, "probe", build_in(spark)) is mine
    theirs = session_shared(other, "probe", build_in(other))
    assert built == [spark, other] and theirs is not mine
    release_session(other)
    assert mine["df"].storageLevel.useMemory  # still backs this session
    release_session(spark)
    assert not mine["df"].storageLevel.useMemory  # unpersisted, not leaked
    assert session_shared(spark, "probe", build_in(spark)) is not mine
    release_session(spark)
    assert not mine["df"].storageLevel.useMemory


def test_concurrent_session_misses_publish_one_entry(spark):
    """Threads that miss one session_shared key at once all get the one
    published entry; the losing builds release what they persisted, so
    releasing the session leaves no cache and no plan reference behind."""
    from flink_net_spark.tables import _PLAN_REFS, release_session, session_shared

    release_session(spark)
    gc.collect()
    baseline, refs = persistent_rdd_ids(spark), set(_PLAN_REFS)
    start = threading.Barrier(8)
    got, errors = [], []

    def build(scope):
        df = scope.persist(spark.range(13))
        df.count()
        return {"df": df}

    def run() -> None:
        try:
            start.wait()
            got.append(session_shared(spark, "race", build))
        except BaseException as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(got) == 8
    assert all(g is got[0] for g in got)
    assert got[0]["df"].storageLevel.useMemory
    release_session(spark)
    assert persistent_rdd_ids(spark) - baseline == set()
    assert set(_PLAN_REFS) == refs


# Holds a session_shared entry in one SparkContext, stops it without a
# release, then builds and releases the same entry in a new context; prints
# how many RDDs the new context still caches after its release.
STOP_THEN_REBUILD = textwrap.dedent(
    """
    import json
    from flink_net_spark.session import get_spark
    from flink_net_spark.tables import release_session, session_shared

    def build_in(session):
        def build(scope):
            scope.persist(session.range(10)).count()
            return {}
        return build

    def cached(session):
        return session.sparkContext._jsc.sc().getPersistentRDDs().size()

    first = get_spark("stopped-context", master="local[1]", shuffle_partitions=1)
    session_shared(first, "probe", build_in(first))
    first.stop()
    second = get_spark("next-context", master="local[1]", shuffle_partitions=1)
    before = cached(second)
    session_shared(second, "probe", build_in(second))
    release_session(second)
    print(json.dumps({"left": cached(second) - before}))
    second.stop()
    """
)


def test_stopped_context_does_not_pin_the_next_ones_caches(tmp_path):
    """A session stopped while it still holds entries leaves their plan
    references behind.  An equal plan in the next SparkContext is counted
    apart from them, so its release unpersists it."""
    root = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, PYTHONPATH=str(root), TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", STOP_THEN_REBUILD],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {"left": 0}


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
    LM tables: each result equals its serial result, and releasing both
    results and the session leaves no cache and no plan reference behind."""
    from flink_net_spark.queries import QUERIES
    from flink_net_spark.tables import _PLAN_REFS, release_persisted, release_session

    names = ("text_kn_bigram_nll", "curation_perplexity_gate")
    release_session(spark)
    gc.collect()
    baseline = persistent_rdd_ids(spark)
    refs = set(_PLAN_REFS)
    serial = {}
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        serial[name] = sorted(tuple(r) for r in df.collect())
        release_persisted(df)
    release_session(spark)
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
    release_session(spark)
    assert persistent_rdd_ids(spark) - baseline == set()
    assert set(_PLAN_REFS) == refs


def test_only_query_scopes_cache():
    """No ``.persist(``, ``.cache()``, ``.checkpoint(`` or
    ``.localCheckpoint(`` call under flink_net_spark/ outside tables.py,
    except on a parameter annotated ``QueryScope`` of an enclosing function:
    every cache and checkpoint goes through a QueryScope, which ties it to
    the result (or the session entry) that reads it."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "flink_net_spark"
    found = []

    def visit(node, rel: str, scopes: frozenset) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
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
            if not on_scope:
                found.append(f"{rel}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, scopes)

    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel != "tables.py":
            visit(ast.parse(path.read_text(), str(path)), rel, frozenset())
    assert found == [], f"cache/checkpoint calls outside a QueryScope: {found}"
