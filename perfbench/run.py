#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process.

    python3 perfbench/run.py --workload stream_keyed_count --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload batch_builders --seed 1 --seconds 10 --trace 1

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` times an untraced window and then a traced one and
prints the per-layer metrics with the tracing overhead.  The last line of
standard output is one JSON object; the line before it and
``perfbench/.work/<workload>/result.json`` hold the run's detail (warm-up,
sample counts, run stamp, per-layer self times).  See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 5
CPUS = 4  # one fresh local[4] process per run
MASTER = f"local[{CPUS}]"
# The op_p50_ms bound in BENCHMARK.json: a first timed operation
# slower than the last warm one by more than this flags the warm-up.
WARM_FLAG_SHARE = 0.25

END_TO_END = {
    "setup_s": "s",
    "rec_per_s": "rec/s",
    "op_p50_ms": "ms",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "heap.retained_mb": "MB",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "trigger.query_planning_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "trigger.wal_commit_ms": "ms",
    "trigger.commit_offsets_ms": "ms",
    "trigger.gap_ms": "ms",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.mem_mb": "MB",
    "state.instances": "count",
    "state.rocksdb_flush_ms": "ms",
    "state.rocksdb_checkpoint_ms": "ms",
    "state.rocksdb_file_sync_ms": "ms",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "spill_mb": "MB",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "queries.build_s": "s",
    "queries.collect_s": "s",
    "queries.analysis_ms": "ms",
    "queries.optimization_ms": "ms",
    "queries.planning_ms": "ms",
    "tables.release_s": "s",
    "tables.persisted_rdds_after_release": "count",
    "tables.cached_mb_after_release": "MB",
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "flink_net_spark", "session.py")
    )


def confine_to(work: str) -> dict:
    """Point every scratch location of Python, the JVM and Spark into ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # the JVMs would otherwise keep a perf-data file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return dirs


def session(workload, dirs):
    from flink_net_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        **workload.session_conf(),
    }
    kwargs = {"master": MASTER, "app_name": f"perfbench-{workload.name}", "extra_conf": conf}
    if workload.shuffle_partitions:
        kwargs["shuffle_partitions"] = workload.shuffle_partitions
    spark = get_spark(**kwargs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: flink_net_spark / __spark_entry__.py not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    from stamp import box_stamp, cpu_probe, jvm_gc, retained_heap_mb, spark_stamp
    from stats import median, supported_percentile
    from spans import Tracer, self_time_by_name
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    # benchmark-only work before the session; subtracted from the first set-up
    t = time.perf_counter()
    stamp = {"start": box_stamp(), "cpu_probe_start_s": cpu_probe()}
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    dirs = confine_to(work)
    tracer = Tracer(enabled=bool(args.trace))
    workload = WORKLOADS[args.workload](work, args.seed, args.seconds, windows=2 if args.trace else 1)
    workload.stage()
    # write back the staged input (and the previous run's files) now, not
    # under the timed window thirty seconds later
    os.sync()
    bench_only = time.perf_counter() - t

    spark = None
    try:
        setup_s, get_spark_s = [], []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            with tracer.span("setup", op=rep):
                with tracer.span("session.get_spark", op=rep):
                    t_gs = time.perf_counter()
                    spark = session(workload, dirs)
                    get_spark_s.append(time.perf_counter() - t_gs)
                with tracer.span("register", op=rep):
                    workload.register(spark)
            # the first set-up counts from process start
            setup_s.append(time.perf_counter() - (T0 + bench_only if rep == 0 else t))
        stamp.update(spark_stamp(spark, ROOT, dirs["spark-local"], workload.checkpoint_dir))
        stamp["gc_start"] = jvm_gc(spark)

        warm_s, windows, detail = workload.run(spark, tracer)
        t = time.perf_counter()
        attempted, failed, messages = workload.check()
        check_s = time.perf_counter() - t
        heap_mb = retained_heap_mb(spark)
        stamp["gc_end"] = jvm_gc(spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown(spark)
    stamp["cpu_probe_end_s"] = cpu_probe()
    stamp["end"] = box_stamp()

    timed = windows[0]
    e2e = timed.end_to_end()
    if not timed.op_s:
        print("perfbench: no operation completed in the timed window", file=sys.stderr)
        return 1
    metrics = {
        "setup_s": median(setup_s),
        "rec_per_s": e2e["rec_per_s"],
        "op_p50_ms": e2e["op_p50_ms"],
    }
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": metrics,
        "ops_timed": len(timed.op_s),
        "op_s": timed.op_s,
        "tail_percentile_supported": supported_percentile(len(timed.op_s)),
        "setup_s": setup_s,
        "stage_and_probe_s": bench_only,
        "check_s": check_s,
        "retained_heap_mb": heap_mb,
        "warm_op_s": warm_s,
        "warm_flag": bool(warm_s) and timed.op_s[0] > warm_s[-1] * (1 + WARM_FLAG_SHARE),
        "check_messages": messages,
        "stamp": stamp,
        **detail,
    }
    if args.trace:
        traced = windows[-1]
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update(traced.layers)
        layers["session.get_spark_s"] = median(get_spark_s)
        layers["heap.retained_mb"] = heap_mb
        p_untraced, p_traced = e2e["op_p50_ms"], traced.end_to_end()["op_p50_ms"]
        layers["trace.overhead_pct"] = (p_traced / p_untraced - 1) * 100 if p_traced else 0.0
        result["traced_window"] = traced.end_to_end()
        result["self_time_s"] = self_time_by_name(tracer.spans)
        tracer.write(os.path.join(work, "spans.json"))
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    for k, v in out.items():
        print(f"{k:40s} {v['value']:.6g} {v['unit']}")
    print("detail " + json.dumps(result, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
