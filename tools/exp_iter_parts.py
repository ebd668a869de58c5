#!/usr/bin/env python
"""r17 experiment: iterative-family per-round fixed cost vs a loop-scoped
static shuffle-partition count (VERDICT r16 #3).

Each round of CC/SSSP/LPA/resolve_groups materializes 1-2 tiny shuffles via
the (lazy or eager) localCheckpoint; the per-stage task count is the session
``spark.sql.shuffle.partitions`` (32) plus the 32-partition persisted edge
scan, so the panel cost is driver/stage scheduling, not data.  This measures
the SAME query under different shuffle-partition counts set around fn()
(identical to a loop-scoped conf inside the builder: every round's plan
compiles inside fn), AQE ON throughout, interleaved A/B ordering, result
fingerprints asserted identical.

Usage: python tools/exp_iter_parts.py q1 [q2 ...] [--parts 32,8,4,2] [--reps N]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fingerprint(rows) -> str:
    return hashlib.md5(
        "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
    ).hexdigest()[:16]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 2
    parts = [32, 8, 4, 2]
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--reps" and i + 1 < len(argv):
            reps = int(argv[i + 1])
            args.remove(argv[i + 1])
        if a == "--parts" and i + 1 < len(argv):
            parts = [int(x) for x in argv[i + 1].split(",")]
            args.remove(argv[i + 1])

    from flink_net_spark.session import get_spark
    from flink_net_spark.tables import release_persisted, shuffle_partitions

    import __spark_entry__ as entry_mod

    spark = get_spark("fns-exp-iter-parts")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    out: dict[str, dict] = {}
    for name in args:
        fn = queries[name]
        rec: dict[int, list] = {p: [] for p in parts}
        fps = set()
        # interleave: full sweep twice so session drift hits every arm
        for p in parts * reps:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"exp-parts:{name}:{p}")
            with shuffle_partitions(spark, p):
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                b = time.perf_counter() - t0
                t0 = time.perf_counter()
                rows = df.collect()
                c = time.perf_counter() - t0
            fps.add(fingerprint(rows))
            release_persisted(df)
            del df
            rec[p].append(round(b + c, 3))
            print(f"[exp] {name} parts={p}: build {b:.3f} collect {c:.3f}",
                  file=sys.stderr)
        med = {p: sorted(v)[len(v) // 2] for p, v in rec.items()}
        out[name] = {"medians": med, "runs": rec,
                     "fingerprints_agree": len(fps) == 1}
        print(f"[exp] {name}: medians {med} fp_agree={len(fps) == 1}",
              file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
