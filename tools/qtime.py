#!/usr/bin/env python
"""Targeted per-query timing for optimization work (round 16).

Usage: python tools/qtime.py q1 q2 ... [--reps N] [--explain DIR]

For each named query: build (fn() body), first collect (fresh), then
``reps`` timed fn()+collect units exactly like bench.time_queries, with a
build/collect split per rep, and the ``fingerprint`` of the last collect's
rows (``exp_iter_parts.fingerprint``, taken after the timer stops), so an
A/B's JSON shows by itself that both arms returned the same rows.
Optionally dumps .explain("formatted") to ``DIR/<name>.txt``.  Same
session shape as bench.py (get_spark, local[$SPARK_GRAFT_CPUS]).  Stderr
only; one JSON line on stdout.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    explain_dir = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        # bounds-checked value fetch (r16 ADVICE: a trailing bare --reps/
        # --explain used to raise IndexError)
        val = argv[i + 1] if i + 1 < len(argv) else None
        if a == "--reps" and val is not None:
            reps = int(val)
            args.remove(val)
        if a == "--explain" and val is not None:
            explain_dir = val
            args.remove(val)

    from flink_net_spark.session import get_spark
    from flink_net_spark.tables import release_persisted
    from tools.exp_iter_parts import fingerprint

    import __spark_entry__ as entry_mod

    spark = get_spark("fns-qtime")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    out = {}
    for name in args:
        fn = queries.get(name)
        if fn is None:
            print(f"[qtime] no such query: {name}", file=sys.stderr)
            continue
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"qtime:{name}:warm")
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        build0 = time.perf_counter() - t0
        t0 = time.perf_counter()
        rows = df.collect()
        coll0 = time.perf_counter() - t0
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        runs = []
        handles = [df]
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"qtime:{name}:rep{r}")
            t0 = time.perf_counter()
            d2 = fn(spark, SF_DIR)
            b = time.perf_counter() - t0
            t0 = time.perf_counter()
            rows = d2.collect()
            c = time.perf_counter() - t0
            runs.append({"build": round(b, 4), "collect": round(c, 4),
                         "total": round(b + c, 4)})
            handles.append(d2)
        for h in handles:
            release_persisted(h)
        del handles, df
        spark.catalog.clearCache()
        med = sorted(r["total"] for r in runs)[len(runs) // 2]
        out[name] = {
            "cold_build": round(build0, 4),
            "cold_collect": round(coll0, 4),
            "median": round(med, 4),
            "rows": len(rows),
            "fingerprint": fingerprint(rows),
            "runs": runs,
        }
        print(f"[qtime] {name}: cold {build0:.3f}+{coll0:.3f}s, "
              f"warm median {med:.3f}s  {runs}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
