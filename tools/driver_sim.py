#!/usr/bin/env python
"""Driver-gate simulator: run every registered query in a VANILLA SparkSession
(no repo confs — exactly what the driver's harness does) against the DuckDB
oracle at sf0.01, and report rows/schema/hash matches per query.

Usage: python tools/driver_sim.py [sf_dir] [name_substring ...]

Each query's record is written to a fresh ``driver_sim_*.json`` temp file,
whose path is printed after the green tally.
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


DUCK_OK = {"BIGINT", "DOUBLE", "BOOLEAN", "VARCHAR"}
SPARK_OK = {"bigint", "double", "boolean", "string"}


def oracle_type_violations(con, sql):
    """Columns of the oracle's DECLARED result type outside the driver-safe
    set — the class fetchall() value-comparison cannot see (HUGEINT arrives
    as Python int), which produced the round-9 48/50 driver window while
    local replays showed 156/156 green."""
    return [
        (c, ty)
        for c, ty, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
        if ty not in DUCK_OK
    ]


def spark_type_violations(sdf):
    return [(c, ty) for c, ty in sdf.dtypes if ty not in SPARK_OK]


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def canon_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def main():
    # Session shape is overridable so the gate can be replayed at DIFFERENT
    # parallelism (SPARK_SIM_MASTER / SPARK_SIM_PARTS): any query whose
    # result depends on partition count (an unquantized float sum folding
    # in shuffle order) hash-diverges from DuckDB at some shape — the
    # partition-sensitivity sweep is evidence the float discipline holds
    # on ANY cluster size, not just this harness's default.
    import os

    master = os.environ.get("SPARK_SIM_MASTER", "local[16]")
    parts = os.environ.get("SPARK_SIM_PARTS", "16")
    spark = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.driver.memory", "24g")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    results, n_green = {}, 0
    names = [n for n in qs if not ONLY or any(s in n for s in ONLY)]
    for name in names:
        t0 = time.time()
        rec = {}
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name in oracles:
                # Type gate (round-10): the driver's value-hasher is
                # type-representation-sensitive — a HUGEINT oracle column
                # hash-mismatches a Spark LONG even when every value is
                # bit-identical (the only round-9 driver reds).  fetchall()
                # coerces HUGEINT to Python int, so a value compare alone
                # CANNOT catch the class; assert declared result types
                # before comparing values.
                bad_duck = oracle_type_violations(con, oracles[name])
                bad_spark = spark_type_violations(sdf)
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                rec["rows_match"] = len(srows) == len(drows)
                rec["schema_match"] = sorted(scols) == sorted(dcols)
                if bad_duck or bad_spark:
                    rec["schema_match"] = False
                    rec["type_violation"] = f"duck={bad_duck} spark={bad_spark}"
                if rec["rows_match"] and rec["schema_match"]:
                    s, d = canon_rows(srows, scols), canon_rows(drows, dcols)
                    bad = [(a, b) for a, b in zip(s, d) if a != b]
                    rec["hash_match"] = not bad
                    if bad:
                        rec["first_mismatch"] = repr(bad[0])[:300]
                else:
                    rec["hash_match"] = False
                    if not rec["schema_match"]:
                        rec["cols"] = f"spark={sorted(scols)} duck={sorted(dcols)}"
                rec["spark_rows"], rec["oracle_rows"] = len(srows), len(drows)
            else:
                rec["rows_only"] = len(srows)
                rec["hash_match"] = None
            ok = rec.get("hash_match") in (True, None)
        except Exception as ex:
            rec["err"] = f"{type(ex).__name__}: {str(ex)[:250]}"
            ok = False
        rec["sec"] = round(time.time() - t0, 2)
        results[name] = rec
        n_green += bool(ok)
        print(("PASS" if ok else "FAIL"), name, rec.get("sec"), rec.get("err", "")[:160], flush=True)

    print(f"\n{n_green}/{len(names)} green")
    fd, out = tempfile.mkstemp(prefix="driver_sim_", suffix=".json")
    with os.fdopen(fd, "w") as f:
        json.dump(results, f, indent=1, default=str)
    print(f"results: {out}")
    bad = {k: v for k, v in results.items() if v.get("hash_match") is False or v.get("err")}
    if bad:
        print(json.dumps(bad, indent=1, default=str))


if __name__ == "__main__":
    main()
