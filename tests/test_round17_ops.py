"""Round-17 optimization-round contracts.

1. ``_PLAN_REFS`` refcounting is thread-safe (VERDICT r16 #5): the
   sim_ann_planted_recall legs build on a 4-thread pool, so concurrent
   QueryScope persist/release of the SAME semantic plan must never
   lose an increment (a lost increment unpersists a cache another live
   result still uses — silent recompute).
2. ``_stage_dir`` stale-sibling pruning respects an mtime grace window
   (VERDICT r16 #8 / r16 ADVICE): a *recent* sibling staging may belong to
   a concurrent process still draining its stream — only aged siblings are
   reclaimed.  Legacy pre-r16 ``fns_stage_<key>`` dirs (no fingerprint
   suffix) are swept by the same aging rule, and so is the private temp
   of a staging killed mid-build, which never publishes its stage.
3. ``stream_incremental_minhash``'s state-shard count is derived from the
   staged band-row count (VERDICT r16 #6) and env-overridable — a constant
   128 was calibrated to sf0.1 and its per-shard blobs would grow with the
   corpus.
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import pytest


def test_plan_refs_concurrent_acquire_release(spark):
    """Balanced persist/release from 8 threads on one shared plan key must
    end with the refcount table empty for that key (no stale entry from a
    lost decrement, no premature eviction from a lost increment)."""
    from flink_net_spark.tables import _PLAN_REFS, QueryScope, _plan_key

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    key = _plan_key(df)
    errs: list[Exception] = []

    def worker():
        try:
            for _ in range(300):
                scope = QueryScope()
                scope.persist(df)
                scope.release()
        except Exception as ex:  # pragma: no cover - failure path
            errs.append(ex)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # force interleaving at bytecode boundaries
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errs, f"worker raised: {errs[:1]}"
    # balanced acquire/release: the entry must be gone (a lost decrement
    # leaves a stale positive refcount; a lost increment pops it early and
    # a later release would KeyError or double-unpersist)
    assert key not in _PLAN_REFS
    assert not df.storageLevel.useMemory


def test_plan_refs_concurrent_holders_keep_cache(spark):
    """While any thread still holds an acquire, a concurrent release from
    another thread must NOT evict the entry."""
    from flink_net_spark.tables import _PLAN_REFS, QueryScope, _plan_key

    df = spark.range(500).selectExpr("id")
    key = _plan_key(df)
    hold = QueryScope()  # long-lived user
    hold.persist(df).count()

    def churn():
        for _ in range(200):
            scope = QueryScope()
            scope.persist(df)
            scope.release()

    threads = [threading.Thread(target=churn) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert key in _PLAN_REFS, "churning pairs evicted a held cache"
    assert _PLAN_REFS[key][0] == 1
    assert df.storageLevel.useMemory
    hold.release()
    assert key not in _PLAN_REFS


def test_stage_dir_prune_respects_mtime_grace(tmp_path):
    """A sibling staging dir younger than the grace window survives a
    _stage_dir call for the same (sf_dir, name); an aged one is pruned."""
    import hashlib
    import tempfile

    from flink_net_spark.queries.streaming_queries import (
        _STAGE_PRUNE_GRACE_SEC,
        _stage_dir,
    )

    sf_dir = str(tmp_path)
    # a real source so the fingerprint path is exercised
    with open(os.path.join(sf_dir, "events.parquet"), "wb") as f:
        f.write(b"x" * 64)
    base = hashlib.md5(
        f"{os.path.abspath(sf_dir)}:events".encode()
    ).hexdigest()[:12]
    young = os.path.join(tempfile.gettempdir(), f"fns_stage_{base}_youngfp00000")
    aged = os.path.join(tempfile.gettempdir(), f"fns_stage_{base}_agedfp000000")
    os.makedirs(young, exist_ok=True)
    os.makedirs(aged, exist_ok=True)
    old = time.time() - _STAGE_PRUNE_GRACE_SEC - 60
    os.utime(aged, (old, old))

    path = _stage_dir(sf_dir, "events")
    assert os.path.isdir(young), "recent sibling pruned inside grace window"
    assert not os.path.exists(aged), "aged sibling not reclaimed"
    assert path not in (young, aged)
    os.rmdir(young)

    # a staging SIGKILLed inside its build publishes nothing; the next call
    # publishes a complete stage, and the killed one's private temp is
    # reclaimed as an aged sibling
    from flink_net_spark.session import publish_once

    flag = os.path.join(sf_dir, "building")
    killed = subprocess.Popen(
        [sys.executable, "-c", _BUILD_THEN_HANG, path, flag],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    deadline = time.time() + 120
    while not os.path.exists(flag):
        assert killed.poll() is None and time.time() < deadline, "build never started"
        time.sleep(0.01)
    killed.send_signal(signal.SIGKILL)
    killed.wait(timeout=60)
    assert not os.path.exists(path), "a killed staging published its stage"
    leftover = glob.glob(f"{path}.*.tmp")
    assert len(leftover) == 1, leftover

    def build(tmp):
        os.makedirs(tmp)
        for i in range(2):
            open(os.path.join(tmp, f"chunk_{i:02d}.parquet"), "w").close()

    assert publish_once(path, build) == path
    assert sorted(os.listdir(path)) == ["chunk_00.parquet", "chunk_01.parquet"]
    os.utime(leftover[0], (old, old))
    assert _stage_dir(sf_dir, "events") == path
    assert not os.path.exists(leftover[0]), "killed staging's temp not reclaimed"
    assert os.path.isdir(path)
    shutil.rmtree(path)


# publish_once(argv[1]) whose build writes one chunk, signals through the
# file argv[2], then hangs until killed
_BUILD_THEN_HANG = """
import os, sys, time
from flink_net_spark.session import publish_once

def build(tmp):
    os.makedirs(tmp)
    open(os.path.join(tmp, "chunk_00.parquet"), "w").close()
    open(sys.argv[2], "w").close()
    time.sleep(600)

publish_once(sys.argv[1], build)
"""


def test_stage_dir_sweeps_aged_legacy_dirs(tmp_path):
    """Pre-r16 single-key staging dirs (no fingerprint suffix) are swept
    once aged — they never match the sibling glob and used to strand /tmp."""
    import hashlib
    import tempfile

    from flink_net_spark.queries.streaming_queries import (
        _STAGE_PRUNE_GRACE_SEC,
        _stage_dir,
    )

    sf_dir = str(tmp_path)
    with open(os.path.join(sf_dir, "events.parquet"), "wb") as f:
        f.write(b"x" * 64)
    legacy_key = hashlib.md5(b"legacy-demo").hexdigest()[:12]
    legacy = os.path.join(tempfile.gettempdir(), f"fns_stage_{legacy_key}")
    os.makedirs(legacy, exist_ok=True)
    old = time.time() - _STAGE_PRUNE_GRACE_SEC - 60
    os.utime(legacy, (old, old))

    _stage_dir(sf_dir, "events")
    assert not os.path.exists(legacy), "aged legacy staging dir not swept"


def test_derived_shuffle_partitions(tmp_path):
    """Input-byte derivation: floor at 4 for tiny corpora, grows with bytes
    (128 MB/partition), sums directory-backed tables."""
    from flink_net_spark.tables import derived_shuffle_partitions

    # single-file table
    with open(tmp_path / "lineitem.parquet", "wb") as f:
        f.write(b"x" * 1024)
    assert derived_shuffle_partitions(str(tmp_path), ["lineitem"]) == 4
    # directory-backed table: bytes are the SUM of the files, not the dirent
    # (sparse files: st_size without the disk)
    d = tmp_path / "orders.parquet"
    d.mkdir()
    for i in range(7):
        with open(d / f"part-{i}.parquet", "wb") as f:
            f.truncate(100 * 1024 * 1024)
    # 700 MB / 128 MB -> ceil = 6 (> the floor of 4, so the sum is visible)
    assert derived_shuffle_partitions(str(tmp_path), ["orders"]) == 6


def test_inc_state_shards_derivation_and_override():
    """Derived shard count scales with the band-row estimate (bounded both
    ends).  No environment variable overrides it."""
    from flink_net_spark.queries.streaming_queries import _inc_state_shards

    # derivation: rows / target-per-shard, clamped
    assert _inc_state_shards(0) == 32  # floor
    assert _inc_state_shards(40_000) == 128  # ~sf0.1 shape, matches r16
    assert _inc_state_shards(10_000_000) == 4096  # ceiling
    lo = _inc_state_shards(40_000)
    hi = _inc_state_shards(400_000)
    assert hi > lo, "shard count must grow with the corpus"


_ENV_KNOBS = ["SPARK_GRAFT_SHUFFLE_PARTITIONS"]


@pytest.mark.parametrize("raw", ["0", "-3", "abc"])
@pytest.mark.parametrize("var", _ENV_KNOBS)
def test_env_knobs_reject_non_positive_ints(var, raw):
    """Every positive-int env knob is read through one validated parser: a
    bad value fails at import with a ValueError naming the variable.  Each
    case runs in a fresh interpreter so import-time reads are exercised."""
    code = "from flink_net_spark.queries import streaming_queries\n"
    env = {k: v for k, v in os.environ.items() if k not in _ENV_KNOBS}
    env[var] = raw
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert f"ValueError: {var}={raw!r}" in proc.stderr, proc.stderr[-2000:]
