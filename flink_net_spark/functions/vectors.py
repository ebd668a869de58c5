"""Embedding frames, one definition per engine.

The similarity, dedup and embedding queries read the ``embeddings`` table
in one of two frames, and the Spark plan and the DuckDB oracle must build
each one identically:
  - the unit-vector frame ``(vec_id, v double[], nrm)``: the vector as
    doubles and its Euclidean norm, zero-norm vectors excluded (they have
    no cosine) on both engines;
  - the fixed-point frame ``(vec_id, vq bigint[])``: each component as
    ``FLOOR(x * 1000)``, so dot products and distances are exact BIGINTs,
    engine-independent.

The DuckDB helpers return a CTE body; the caller names the CTE.  This
module imports no query module: query modules register in import order,
and that order decides the driver window.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_net_spark.tables import load_table


def _embeddings(spark: SparkSession, sf_dir: str, emb: DataFrame | None) -> DataFrame:
    return emb if emb is not None else load_table(spark, sf_dir, "embeddings")


def spark_unit_frame(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame | None = None,
    keep: Sequence[str] = (),
) -> DataFrame:
    """``(vec_id, *keep, v, nrm)`` with zero-norm vectors excluded.  ``emb``
    overrides the parquet scan with an alternate (vec_id, embedding) frame:
    the planted-fixture audit runs the production ANN plans over a derived
    corpus this way."""
    return _embeddings(spark, sf_dir, emb).select(
        "vec_id",
        *keep,
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        F.expr(
            "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "0.0D, (acc, x) -> acc + x))"
        ).alias("nrm"),
    ).filter(F.col("nrm") > 0)


def duckdb_unit_frame(keep: Sequence[str] = ()) -> str:
    """DuckDB CTE body of ``spark_unit_frame`` over the ``embeddings`` view."""
    cols = "".join(f"{c}, " for c in keep)
    return f"""
        SELECT vec_id, {cols}[CAST(x AS DOUBLE) for x in embedding] AS v,
               sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm
        FROM embeddings
        WHERE list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding]) > 0
    """


def spark_vq_frame(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    """``(vec_id, vq)``: every component quantized to ``FLOOR(x * 1000)``."""
    return _embeddings(spark, sf_dir, emb).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("vq"),
    )


# DuckDB CTE body of ``spark_vq_frame`` over the ``embeddings`` view.
DUCKDB_VQ_FRAME = """
        SELECT vec_id,
               [CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT) for x in embedding] AS vq
        FROM embeddings
    """
