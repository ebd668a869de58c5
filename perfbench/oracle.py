"""DuckDB oracle fingerprints for the batch_builders queries.

The fingerprints are computed once, from each query's ``oracle_sql()``
text run by DuckDB over the tables in ``perfbench/data``, and stored in
``perfbench/data/fingerprints.json``; timed runs compare Spark's results
against the stored values and never run DuckDB.

    python3 perfbench/oracle.py            # recompute and verify the stored file
    python3 perfbench/oracle.py --write    # recompute and (re)write it
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
FINGERPRINTS = os.path.join(DATA_DIR, "fingerprints.json")

# The iterative builders timed by batch_builders, in their canonical order.
BATCH_QUERIES = (
    "graph_connected_components",
    "graph_sssp_weighted",
)


def oracle_fingerprints() -> dict[str, str]:
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    import __spark_entry__

    from stats import fingerprint

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(DATA_DIR)):
            if f.endswith(".parquet"):
                path = os.path.join(DATA_DIR, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in BATCH_QUERIES:
            res = con.execute(oracles[name])
            out[name] = fingerprint([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def load_fingerprints() -> dict[str, str]:
    with open(FINGERPRINTS) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write", action="store_true", help="rewrite the stored fingerprints")
    args = ap.parse_args()
    fresh = oracle_fingerprints()
    if args.write:
        with open(FINGERPRINTS, "w") as fh:
            json.dump(fresh, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(fresh)} fingerprints to {FINGERPRINTS}")
        return 0
    stored = load_fingerprints()
    bad = sorted(n for n in set(fresh) | set(stored) if fresh.get(n) != stored.get(n))
    for n in bad:
        print(f"MISMATCH {n}: stored={stored.get(n)} oracle={fresh.get(n)}")
    print(f"{len(fresh) - len(bad)}/{len(fresh)} stored fingerprints match the oracle")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
