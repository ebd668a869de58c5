#!/usr/bin/env python
"""Same-code two-session A/B: the NULL distribution for bench_compare.

Round-6 verdict #6: 40+ of 55 shared queries drifted one direction r5→r6
under a 1.099 session factor — "probably box variance" needs proof.  This
tool runs the IDENTICAL headline timing pass (bench.time_queries, same
warm-up + median-of-REPS protocol) twice, each in a FRESH subprocess-owned
SparkSession, and records the per-query A→B ratio distribution.  Any
cross-round drift pattern that fits inside this same-code envelope is
session noise, not code.

Usage:
    python tools/bench_null.py              # full A/B -> bench_out/NULL_SPREAD.json
    python tools/bench_null.py --once OUT   # internal: one session's pass
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_NULL_QUERIES
     (comma-separated subset; default: the full headline set).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bench_out",
    "NULL_SPREAD.json",
)


def _names() -> list[str]:
    import bench
    from flink_net_spark.queries import META

    sub = os.environ.get("SPARK_GRAFT_NULL_QUERIES")
    if sub:
        return [n.strip() for n in sub.split(",") if n.strip()]
    return [n for n in bench.HEADLINE if META.get(n, {}).get("scale_safe", True)]


def run_once(out_path: str) -> None:
    import bench
    from flink_net_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("bench-null")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    calib = bench.calibration_probe(spark)
    timings, spread, _rows, _split = bench.time_queries(
        spark, queries, _names(), bench.SF_DIR, tag="[null]"
    )
    with open(out_path, "w") as f:
        json.dump(
            {"queries": timings, "queries_spread": spread, "calibration_probe": calib},
            f,
        )
    spark.stop()


def main() -> int:
    import tempfile

    from tools.bench_compare import nearest_rank, normalized_null

    runs = []
    for tag in ("A", "B"):
        out = os.path.join(tempfile.gettempdir(), f"bench_null_{tag}.json")
        print(f"[null] session {tag} ...", file=sys.stderr)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--once", out],
            check=True,
        )
        with open(out) as f:
            runs.append(json.load(f))
    a, b = runs
    shared = [n for n in a["queries"] if n in b["queries"] and a["queries"][n]]
    ratios = {n: b["queries"][n] / a["queries"][n] for n in shared}
    factor = statistics.median(ratios.values())
    # the same normalization and percentile definition the gate applies
    # to this artifact (tools/bench_compare.null_thresholds)
    norm = normalized_null(list(ratios.values()))

    def pct(p: float) -> float:
        return round(nearest_rank(norm, p), 3)

    result = {
        "n": len(shared),
        "session_factor_AB": round(factor, 3),
        "probe_median_A": a["calibration_probe"]["median"],
        "probe_median_B": b["calibration_probe"]["median"],
        "probe_factor_AB": round(
            b["calibration_probe"]["median"] / a["calibration_probe"]["median"], 3
        ),
        "norm_ratio_p50": pct(0.5),
        "norm_ratio_p90": pct(0.9),
        "norm_ratio_max": round(norm[-1], 3),
        "norm_ratio_min": round(norm[0], 3),
        "one_direction_frac": round(
            max(
                sum(r > 1 for r in ratios.values()),
                sum(r < 1 for r in ratios.values()),
            )
            / max(1, len(ratios)),
            3,
        ),
        "ratios": {n: round(r, 3) for n, r in sorted(ratios.items())},
    }
    os.makedirs(os.path.dirname(OUT_PATH), exist_ok=True)
    with open(OUT_PATH, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "ratios"}, indent=1))
    print(f"[null] written {OUT_PATH}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--once":
        run_once(sys.argv[2])
    else:
        sys.exit(main())
