"""Stream staging is built privately and published with one rename.

1. Two fresh interpreters that stage the same stream at the same moment
   both drain exactly the batch truth, and one published stage dir is
   left with no private ``.tmp`` copy beside it (``session.publish_once``:
   the loser of the rename discards its own copy).
2. The three ordered stagings pin their chunk files' mtimes strictly
   increasing in chunk order: FileStreamSource delivers files in mtime
   order, so a tie could deliver a later chunk first.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F
import pytest

from flink_net_spark.queries.streaming_queries import (
    _stage_late_stream,
    _stage_ordered_stream,
    _stage_punctuated_stream,
)
from flink_net_spark.tables import load_table
from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Stages ``site`` once both interpreters hold a live session, then drains it;
# prints whether the stage existed before staging and the drain's row count
# and order-free row hash.  The drain reads the stage with a plain parquet
# file stream so the staging alone is under test.
STAGE_AND_DRAIN = textwrap.dedent(
    """
    import json, os, sys, time
    import pyspark.sql.functions as F
    from flink_net_spark.queries.streaming_queries import _run_stream, _stage_dir, _stage_late_stream
    from flink_net_spark.session import get_spark
    from flink_net_spark.sources import replay_table_as_stream

    site, sf_dir, barrier, me = sys.argv[1:5]
    spark = get_spark("staging-race", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    stage = _stage_dir(sf_dir, "events" if site == "replay" else "events_latedata")
    open(os.path.join(barrier, me), "w").close()
    deadline = time.time() + 300
    while len(os.listdir(barrier)) < 2:
        if time.time() > deadline:
            raise TimeoutError("the other interpreter never reached the barrier")
        time.sleep(0.01)
    existed = os.path.exists(stage)
    if site == "replay":
        replay_table_as_stream(spark, sf_dir, "events", stage, n_chunks=8, max_files_per_trigger=4)
    else:
        _stage_late_stream(spark, sf_dir, stage)
    stream = (spark.readStream.schema(spark.read.parquet(stage).schema)
              .option("maxFilesPerTrigger", 1).parquet(stage))
    row = _run_stream(stream.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*stream.columns), F.lit(1_000_003))).alias("h"),
    )).collect()[0]
    print(json.dumps({"existed": existed, "n": row.n, "h": row.h}))
    spark.stop()
    """
)


def _truth(spark, site: str) -> dict:
    ev = load_table(spark, SF_DIR, "events")
    if site == "late":
        ev = ev.select((F.col("user_id") % 8).alias("k"), "ts", "value")
    row = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*ev.columns), F.lit(1_000_003))).alias("h"),
    ).collect()[0]
    return {"n": row.n, "h": row.h}


@pytest.mark.parametrize("site", ["replay", "late"])
def test_two_processes_stage_the_same_stream(spark, tmp_path, site):
    """Both interpreters find no stage, both build one, one publishes; each
    drain equals the batch truth (no doubled rows from the other writer's
    files, no writer killed by the other's overwrite)."""
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", STAGE_AND_DRAIN, site, SF_DIR, str(barrier), me],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for me in ("a", "b")
    ]
    results = []
    try:
        for proc in procs:
            out, err = proc.communicate(timeout=600)
            assert proc.returncode == 0, err[-3000:]
            results.append(json.loads(out.strip().splitlines()[-1]))
    finally:
        for proc in procs:
            proc.kill()
            proc.wait(timeout=60)

    assert [r["existed"] for r in results] == [False, False], "the staging race did not happen"
    truth = _truth(spark, site)
    for r in results:
        assert {"n": r["n"], "h": r["h"]} == truth
    stages = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("fns_stage_"))
    assert [s for s in stages if s.endswith(".tmp")] == [], stages
    assert len(stages) == 1, stages


@pytest.mark.parametrize(
    ("stage_fn", "n_chunks"),
    [(_stage_punctuated_stream, 6), (_stage_late_stream, 3), (_stage_ordered_stream, 4)],
    ids=["punctuated", "late", "ordered"],
)
def test_ordered_stagings_pin_chunk_mtimes(spark, tmp_path, stage_fn, n_chunks):
    stage = tmp_path / "stage"
    stage_fn(spark, SF_DIR, str(stage))
    files = sorted(f for f in os.listdir(stage) if not f.startswith((".", "_")))
    assert files == [f"chunk_{i:02d}.parquet" for i in range(n_chunks)]
    mtimes = [os.stat(stage / f).st_mtime_ns for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    assert os.listdir(tmp_path) == ["stage"], "a private staging copy was left behind"
