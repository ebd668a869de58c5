"""Shared test fixtures: one SparkSession per run + the DuckDB oracle.

``assert_matches_oracle`` mirrors the driver's comparison: run the Spark
query and the DuckDB SQL on the same parquet tables, sort columns by name,
sort rows, canonicalize values, and compare.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from flink_net_spark.session import get_spark
from flink_net_spark.tables import (
    TABLE_NAMES,
    release_persisted,
    release_session,
    table_path,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("flink_net_spark-tests", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_DIR, name)}')"
        )
    yield con
    con.close()


def _canon(v):
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # already rounded inside queries; normalize -0.0 and fp fuzz
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _canon_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return out


def assert_flat_schema(df, name: str = "?"):
    """Driver-canonicalizer guard: the driver value-hashes collected cells,
    and a final schema containing arrays/maps/structs is the exact r02
    ``unhashable type: 'list'`` crash class.  Every registered query must
    emit only flat columns (join arrays to strings, flatten structs)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: non-flat final columns {bad} would crash the driver's "
        "canonicalizer — array_join/flatten them before returning"
    )


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD the SparkContext holds cached (persisted DataFrames
    and local checkpoints alike)."""
    s = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(x) for x in s.split(",") if x}


def assert_matches_oracle(spark, duck, spark_fn, oracle: str, name: str = "?"):
    """Also the registry-wide lifetime check: after collect,
    ``release_persisted`` must free everything the build cached, apart from
    the session's ``session_shared`` entries (text.py's shared LM tables,
    released here before the check)."""
    before = persistent_rdd_ids(spark)
    sdf = spark_fn(spark, SF_DIR)
    assert_flat_schema(sdf, name)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    release_persisted(sdf)
    if persistent_rdd_ids(spark) - before:
        release_session(spark)
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"{name}: RDDs {sorted(leaked)} still cached after release"

    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = _canon_rows(spark_rows, spark_cols)
    d = _canon_rows(duck_rows, duck_cols)
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows, first 3: {mismatches[:3]}"
